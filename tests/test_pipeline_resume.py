"""Pipeline checkpoint/resume (SURVEY §5.7): interrupting after an early
stage and re-running must (a) skip the completed stages, (b) produce final
tables identical to an uninterrupted run; a config change must invalidate
all checkpoints (content-addressed job key). Also the stage bookkeeping:
per-partition metrics rows, their cost in Spark jobs, and failed runs."""

from __future__ import annotations

import json
import uuid
from dataclasses import replace
from pathlib import Path

import pytest

from dedup.config import PARITY_CONFIG
from dedup.pipeline import STAGES, DedupPipeline, dedupe_corpus
from dedup.storage import Storage
from dedup.synth import corpus_pdf
from tests.stage_parts import assert_metrics_match_parts


@pytest.fixture(scope="module")
def corpus_df(spark):
    pdf = corpus_pdf(150, seed=21)
    return spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]]).cache()


def _clusters(tables):
    return sorted((r["url"], r["cluster_id"])
                  for r in tables["clusters"].collect())


class TestResume:
    def test_interrupt_and_resume(self, spark, corpus_df, tmp_path):
        wd = str(tmp_path / "job")

        # fresh full run for the expected result
        full = dedupe_corpus(spark, corpus_df, str(tmp_path / "ref"),
                             PARITY_CONFIG)
        expect = _clusters(full)

        # simulate a crash after 'signatures': run fully, then erase the
        # lineage manifests of the later stages (their outputs may be
        # partial/absent after a real crash; missing manifest = not done)
        dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        for stage in ("pairs", "verified", "clusters"):
            (tmp_path / "job" / "_lineage" / f"{stage}.json").unlink()

        p2 = DedupPipeline(spark, wd, PARITY_CONFIG)
        tables = p2.run(corpus_df)
        skipped = {s.name for s in p2.stage_infos if s.skipped}
        assert skipped == {"signatures"}
        assert _clusters(tables) == expect

    def test_config_change_invalidates(self, spark, corpus_df, tmp_path):
        wd = str(tmp_path / "job2")
        dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        cfg2 = replace(PARITY_CONFIG, threshold=0.95)
        p = DedupPipeline(spark, wd, cfg2)
        p.run(corpus_df)
        assert all(not s.skipped for s in p.stage_infos)

    def test_metrics_lineage_rows(self, spark, corpus_df, tmp_path):
        wd = str(tmp_path / "job3")
        tables = dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        m = tables["metrics"]
        stages = {r["stage"] for r in m.select("stage").distinct().collect()}
        assert stages == {"signatures", "pairs", "verified", "clusters"}
        # per-partition rows sum to stage totals
        for stage in stages:
            man = json.loads(
                (Path(wd) / "_lineage" / f"{stage}.json").read_text())
            total = (m.where(f"stage = '{stage}'")
                     .groupBy().sum("rows").first()[0])
            assert total == man["rows"]
        # partition_id is the written part, not the read split it lands in
        assert_metrics_match_parts(
            m, {s: list(Path(wd, s).glob("part-*")) for s in stages}, wd)
        # the whole run appends one metrics file
        assert len(list(Path(wd, "metrics").glob("part-*"))) == 1

    def test_metrics_task_telemetry_on_by_default(self, spark, corpus_df,
                                                  tmp_path):
        """build_session enables the UI (ephemeral port) by default, so a
        DEFAULT pipeline run lands real task telemetry on every computed
        stage's metrics rows — the M12 columns must be non-null."""
        wd = str(tmp_path / "job4")
        tables = dedupe_corpus(spark, corpus_df, wd, PARITY_CONFIG)
        m = tables["metrics"]
        assert {"executor_run_time_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "num_tasks"} <= set(m.columns)
        assert m.where("executor_run_time_ms IS NULL").count() == 0
        assert m.where("num_tasks IS NULL OR num_tasks <= 0").count() == 0

    def test_run_stage_runs_only_the_write_jobs(self, spark, tmp_path):
        """Stage bookkeeping (read-back, row counts, metrics) runs no Spark
        job: a computed stage costs exactly the jobs of its write."""
        sc = spark.sparkContext

        def jobs(fn) -> int:
            group = f"budget-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))

        df = spark.range(0, 200, numPartitions=3).selectExpr(
            "id", "cast(id AS string) AS s")
        p = DedupPipeline(spark, str(tmp_path / "wd"), PARITY_CONFIG,
                          resume=False)
        write_only = jobs(lambda: p.storage.write_table(
            df, str(tmp_path / "plain")))
        assert write_only >= 1
        assert jobs(lambda: p._run_stage("signatures", lambda: df)) \
            == write_only
        assert p.stage_infos[-1].rows == 200

    def test_failed_run_keeps_completed_stage_metrics(
            self, spark, corpus_df, tmp_path, monkeypatch):
        """A stage that raises: the error propagates, the stages before it
        are already in the metrics table, and a resumed run completes with
        every stage's rows summing to its manifest."""
        wd = str(tmp_path / "job5")

        def broken_verify(*args, **kwargs):
            raise RuntimeError("verify broke")

        monkeypatch.setattr("dedup.pipeline.verify_pairs", broken_verify)
        with pytest.raises(RuntimeError, match="verify broke"):
            DedupPipeline(spark, wd, PARITY_CONFIG).run(corpus_df)
        m = spark.read.parquet(f"{wd}/metrics")
        assert {r["stage"] for r in m.select("stage").distinct().collect()} \
            == {"signatures", "pairs"}

        monkeypatch.undo()
        p = DedupPipeline(spark, wd, PARITY_CONFIG)
        tables = p.run(corpus_df)
        assert {s.name for s in p.stage_infos if s.skipped} \
            == {"signatures", "pairs"}
        assert_metrics_match_parts(
            tables["metrics"],
            {s: list(Path(wd, s).glob("part-*")) for s in STAGES}, wd)

    def test_unflushed_metrics_rows_are_appended_by_next_run(
            self, spark, corpus_df, tmp_path, monkeypatch):
        """A failed run whose metrics flush fails too (as when the session
        dies with the stage): the stage's error propagates with the flush
        error as a note, and the completed stages' rows, which never
        reached the metrics table, are appended by the next run from their
        manifests — once."""
        wd = str(tmp_path / "job6")

        def broken_verify(*args, **kwargs):
            raise RuntimeError("verify broke")

        def dead_session(*args, **kwargs):
            raise RuntimeError("session gone")

        monkeypatch.setattr("dedup.pipeline.verify_pairs", broken_verify)
        monkeypatch.setattr("dedup.pipeline.local_frame", dead_session)
        with pytest.raises(RuntimeError, match="verify broke") as exc:
            DedupPipeline(spark, wd, PARITY_CONFIG).run(corpus_df)
        assert any("session gone" in n for n in exc.value.__notes__)
        assert not Path(wd, "metrics").exists()
        for stage in ("signatures", "pairs"):
            man = json.loads(
                (Path(wd) / "_lineage" / f"{stage}.json").read_text())
            assert man["metrics_appended"] is False

        monkeypatch.undo()
        p = DedupPipeline(spark, wd, PARITY_CONFIG)
        tables = p.run(corpus_df)
        assert {s.name for s in p.stage_infos if s.skipped} \
            == {"signatures", "pairs"}
        assert_metrics_match_parts(
            tables["metrics"],
            {s: list(Path(wd, s).glob("part-*")) for s in STAGES}, wd)
        assert len(list(Path(wd, "metrics").glob("part-*"))) == 1

    def test_stage_read_listing_no_files_counts_by_scan(
            self, spark, tmp_path, monkeypatch):
        """A stage table whose read lists no part files (a non-file DSv2
        table, such as an Iceberg catalog table) is counted with a
        partition scan: its real rows are recorded, not 0."""
        p = DedupPipeline(spark, str(tmp_path / "wd"), PARITY_CONFIG,
                          resume=False)
        monkeypatch.setattr(
            Storage, "read_table",
            lambda self, ref, **kw: spark.range(0, 30, numPartitions=3))
        p._run_stage("pairs", lambda: spark.range(30))
        assert p.stage_infos[-1].rows == 30
        man = json.loads(
            (tmp_path / "wd" / "_lineage" / "pairs.json").read_text())
        assert man["rows"] == 30
        assert sum(man["partitions"].values()) == 30

    def test_metrics_degrade_to_null_without_rest(self):
        """With no REST snapshot (UI off / unreachable) the telemetry
        aggregation degrades to None instead of crashing."""
        from dedup.metrics import stage_ids, task_totals
        assert task_totals(None) is None
        assert stage_ids(None) == set()


_UI_METRICS_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from dedup.config import PARITY_CONFIG
from dedup.pipeline import dedupe_corpus
from dedup.session import build_session
from dedup.synth import corpus_pdf

spark = build_session(
    "metrics-ui", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.enabled": "true", "spark.ui.port": "0"}})
corpus = spark.createDataFrame(corpus_pdf(80, seed=21))
tables = dedupe_corpus(spark, corpus, {workdir!r}, PARITY_CONFIG)
by_stage = {{}}
for r in tables["metrics"].collect():
    by_stage.setdefault(r["stage"], r)
for stage, row in by_stage.items():
    assert row["executor_run_time_ms"] is not None, stage
    assert row["num_tasks"] and row["num_tasks"] > 0, stage
assert by_stage["pairs"]["shuffle_write_bytes"] > 0
spark.stop()
print("UI_METRICS_OK")
"""


def test_metrics_rest_telemetry_with_ui_enabled(tmp_path):
    """M12 for real: a UI-enabled session exposes the monitoring REST API
    and every non-skipped stage lands task-level telemetry (executor run
    time, shuffle bytes) in the metrics table. Runs in a subprocess: the
    suite's shared session (getOrCreate) pins spark.ui.enabled=false."""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    script = _UI_METRICS_SCRIPT.format(repo=repo,
                                       workdir=str(tmp_path / "job"))
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "UI_METRICS_OK" in proc.stdout


def test_pipeline_metrics_record_capped_buckets(spark, tmp_path):
    """'No silent caps': the pairs-stage metrics rows must carry how many
    blocking buckets exceeded band_bucket_cap (star-edge degradation),
    null on stages without a cap (VERDICT r4 #5)."""
    from dataclasses import replace

    from dedup.config import PARITY_CONFIG
    from dedup.pipeline import dedupe_corpus
    from dedup.synth import corpus_pdf

    corpus = spark.createDataFrame(
        corpus_pdf(80, seed=11, hot_frac=0.5)[
            ["url", "warc_ts", "html", "text", "lang"]])
    cfg = replace(PARITY_CONFIG, band_bucket_cap=1)  # any 2-member bucket
    tables = dedupe_corpus(spark, corpus, str(tmp_path / "wd"), cfg)
    m = tables["metrics"]
    assert "n_capped_buckets" in m.columns
    pairs_vals = {r["n_capped_buckets"]
                  for r in m.where("stage = 'pairs'").collect()}
    assert len(pairs_vals) == 1
    capped = pairs_vals.pop()
    assert capped is not None and capped >= 1  # hot boilerplate bucket
    other_vals = {r["n_capped_buckets"]
                  for r in m.where("stage != 'pairs'").collect()}
    assert other_vals == {None}


def test_engine_mode_pipeline_tracks_capped_buckets(spark, tmp_path):
    """Regression: scoring='jaccard' routes candidate_pairs through the
    SimHash-prefilter branch, whose gate REASSIGNS the tagged DataFrame —
    the hot-keys frame must be captured before that, or the pairs stage
    dies with AttributeError and the whole engine-mode batch pipeline is
    broken (round-5 review finding)."""
    from dataclasses import replace

    from dedup.config import ENGINE_CONFIG
    from dedup.pipeline import dedupe_corpus
    from dedup.synth import corpus_pdf

    corpus = spark.createDataFrame(
        corpus_pdf(60, seed=13, hot_frac=0.4)[
            ["url", "warc_ts", "html", "text", "lang"]])
    cfg = replace(ENGINE_CONFIG, band_bucket_cap=1)
    tables = dedupe_corpus(spark, corpus, str(tmp_path / "wd"), cfg)
    pairs_vals = {r["n_capped_buckets"]
                  for r in tables["metrics"].where("stage = 'pairs'").collect()}
    assert len(pairs_vals) == 1
    capped = pairs_vals.pop()
    assert capped is not None and capped >= 1
    assert tables["clusters"].count() > 0


def test_metrics_read_merges_grown_schema(spark, tmp_path):
    """A workdir whose metrics table mixes pre-n_capped_buckets files with
    new ones must read back with the full merged schema (plain parquet
    reads resolve from one arbitrary footer)."""
    from dedup.storage import Storage, StorageConfig

    st = Storage(spark, StorageConfig(catalog=None))
    old = spark.createDataFrame(
        [(0, 5, "pairs", "k", 1.0)],
        "partition_id int, rows long, stage string, job_key string, "
        "wall_ms double")
    new = spark.createDataFrame(
        [(0, 5, "pairs", "k", 1.0, 3)],
        "partition_id int, rows long, stage string, job_key string, "
        "wall_ms double, n_capped_buckets long")
    ref = str(tmp_path / "metrics")
    st.write_table(old.coalesce(1), ref, mode="append")
    st.write_table(new.coalesce(1), ref, mode="append")
    m = st.read_table(ref, merge_schema=True)
    assert "n_capped_buckets" in m.columns
    vals = {r["n_capped_buckets"] for r in m.collect()}
    assert vals == {None, 3}


def test_task_totals_keeps_latest_stage_attempt():
    """A retried stage appears as two attempt entries in /stages; only the
    latest attempt's telemetry may count (round-5 review finding)."""
    from dedup.metrics import task_totals

    stages = [
        {"stageId": 1, "attemptId": 0, "executorRunTime": 100,
         "numTasks": 8, "shuffleReadBytes": 10, "shuffleWriteBytes": 5,
         "inputBytes": 1},
        {"stageId": 1, "attemptId": 1, "executorRunTime": 120,
         "numTasks": 8, "shuffleReadBytes": 12, "shuffleWriteBytes": 6,
         "inputBytes": 2},
        {"stageId": 2, "attemptId": 0, "executorRunTime": 50,
         "numTasks": 4, "shuffleReadBytes": 0, "shuffleWriteBytes": 0,
         "inputBytes": 0},
    ]
    t = task_totals(stages)
    assert t["n_spark_stages"] == 2
    assert t["executor_run_time_ms"] == 170  # 120 (latest) + 50, not 270
    assert t["num_tasks"] == 12
    assert task_totals(stages, exclude_ids={1})["executor_run_time_ms"] == 50
