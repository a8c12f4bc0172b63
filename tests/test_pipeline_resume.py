"""Pipeline checkpoint/resume (SURVEY §5.7): interrupting after an early
stage and re-running must (a) skip the completed stages, (b) produce final
tables identical to an uninterrupted run; a config change must invalidate
all checkpoints (content-addressed job key). Also the stage bookkeeping:
per-partition metrics rows, their cost in Spark jobs, the telemetry's
source (the status store: no UI, no HTTP, only the stage's own jobs), and
failed runs."""

from __future__ import annotations

import json
import subprocess
import sys
import threading
import urllib.request
import uuid
from dataclasses import replace
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql.types import StructType

import dedup.pipeline
from dedup.config import PARITY_CONFIG
from dedup.metrics import tagged_stages
from dedup.pipeline import METRICS_SCHEMA, STAGES, DedupPipeline, dedupe_corpus
from dedup.storage import Storage, StorageConfig
from dedup.synth import corpus_pdf
from tests.stage_parts import assert_metrics_match_parts, footer_counts

REPO = str(Path(__file__).resolve().parent.parent)


@pytest.fixture(scope="module")
def corpus_df(spark):
    pdf = corpus_pdf(150, seed=21)
    return spark.createDataFrame(
        pdf[["url", "warc_ts", "html", "text", "lang"]]).cache()


def _count_jobs(spark, fn) -> int:
    """Spark jobs `fn` runs, counted through a job group of its own."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest(workdir, stage) -> dict:
    return json.loads(
        (Path(workdir) / "_lineage" / f"{stage}.json").read_text())


def _run_script(script: str, ok: str) -> None:
    """Run a driver script in its own Python process (a session with its
    own Spark conf: the suite's shared session is getOrCreate'd once)."""
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert ok in proc.stdout


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
        df = spark.range(0, 200, numPartitions=3).selectExpr(
            "id", "cast(id AS string) AS s")
        p = DedupPipeline(spark, str(tmp_path / "wd"), PARITY_CONFIG,
                          resume=False)
        write_only = _count_jobs(spark, lambda: p.storage.write_table(
            df, str(tmp_path / "plain")))
        assert write_only >= 1
        assert _count_jobs(
            spark, lambda: p._run_stage("signatures", lambda: df)) \
            == write_only
        assert p.stage_infos[-1].rows == 200

    def test_run_reads_metrics_with_known_schema(self, spark, tmp_path,
                                                 monkeypatch):
        """run() reads the metrics table back with METRICS_SCHEMA: no
        Spark job (mergeSchema ran one), and a file written before a
        column existed reads that column as NULL."""
        wd = tmp_path / "wd"
        p = DedupPipeline(spark, str(wd), PARITY_CONFIG)
        spark.createDataFrame(
            [(0, 5, "pairs", p.job_key, 1.0)],
            "partition_id int, rows long, stage string, job_key string, "
            "wall_ms double").coalesce(1).write.parquet(str(wd / "metrics"))
        monkeypatch.setattr(p, "_run_stages", lambda corpus, keys: {})
        out = {}
        assert _count_jobs(spark, lambda: out.update(p.run(None))) == 0
        m = out["metrics"]
        assert m.schema == StructType.fromDDL(METRICS_SCHEMA)
        assert [(r["rows"], r["n_capped_buckets"], r["num_tasks"])
                for r in m.collect()] == [(5, None, None)]

    def test_stage_telemetry_leaves_out_other_threads_jobs(self, spark,
                                                           tmp_path):
        """A job another thread runs while a stage builds is not the
        stage's: only the stage's own jobs (here its 3-task write) count
        toward its telemetry."""
        p = DedupPipeline(spark, str(tmp_path / "wd"), PARITY_CONFIG,
                          resume=False)
        df = spark.range(0, 200, numPartitions=3)
        groups = []

        def build():
            other = threading.Thread(
                target=lambda: groups.extend(
                    spark.range(0, 100, numPartitions=5)
                    .selectExpr("id % 7 AS k").groupBy("k").count()
                    .collect()))
            other.start()
            other.join(timeout=120)
            assert not other.is_alive()
            return df

        p._run_stage("signatures", build)
        assert len(groups) == 7
        assert _manifest(tmp_path / "wd", "signatures")["telemetry"][
            "num_tasks"] == 3

    def test_pipeline_run_makes_no_http_call(self, spark, corpus_df,
                                             tmp_path, monkeypatch):
        """Stage telemetry comes from the in-process status store: a run
        with every HTTP call failing still records it, and makes none."""
        calls = []

        def no_http(*args, **kwargs):
            calls.append(args)
            raise OSError("no HTTP here")

        monkeypatch.setattr(urllib.request, "urlopen", no_http)
        tables = dedupe_corpus(spark, corpus_df, str(tmp_path / "job"),
                               PARITY_CONFIG)
        assert calls == []
        m = tables["metrics"]
        assert m.where("executor_run_time_ms IS NULL").count() == 0
        assert m.where("num_tasks IS NULL OR num_tasks <= 0").count() == 0

    @pytest.mark.parametrize("where, want", [
        ("id >= 10", {0: 0, 1: 10, 2: 10}),  # partition 0 empty
        ("id < 0", {0: 0}),                   # every partition empty
    ])
    def test_stage_part_counts_match_footers_with_empty_parts(
            self, spark, tmp_path, where, want):
        """Spark writes part-00000 even when its partition is empty, and
        no file for the other empty partitions: the recorded per-part
        rows are the pyarrow footer counts of exactly the files written."""
        wd = tmp_path / "wd"
        p = DedupPipeline(spark, str(wd), PARITY_CONFIG, resume=False)
        p._run_stage("signatures", lambda: spark.range(
            0, 30, numPartitions=3).where(where))
        assert footer_counts((wd / "signatures").glob("part-*")) == want
        man = _manifest(wd, "signatures")
        assert man["partitions"] == {str(k): v for k, v in want.items()}
        assert man["rows"] == sum(want.values())

    def test_dsv2_write_records_are_not_row_counts(self, spark,
                                                   monkeypatch):
        """A DSv2 write reports 0 records per task (the built-in `noop`
        writer shows it), so a catalog whose writes go through DSv2 (an
        Iceberg one) counts its rows with a scan, never as zeros."""
        df = spark.range(0, 30, numPartitions=3)
        sc = spark.sparkContext
        tag = f"noop-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.removeJobTag(tag)
        written = tagged_stages(spark, tag)[1]
        assert written == {0: 0, 1: 0, 2: 0}
        st = Storage(spark, StorageConfig(catalog="spark_catalog"))
        monkeypatch.setattr(Storage, "_is_v1_session_catalog",
                            lambda self: False)
        assert st.part_row_counts(df, written) == {0: 10, 1: 10, 2: 10}

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
        partition scan when its write's task counts are not usable (here:
        the store lists no tasks): its real rows are recorded, not 0."""
        p = DedupPipeline(spark, str(tmp_path / "wd"), PARITY_CONFIG,
                          resume=False)
        monkeypatch.setattr(
            dedup.pipeline, "tagged_stages",
            lambda spark, tag: (tagged_stages(spark, tag)[0], None))
        monkeypatch.setattr(
            Storage, "read_table",
            lambda self, ref, **kw: spark.range(0, 30, numPartitions=3))
        p._run_stage("pairs", lambda: spark.range(30))
        assert p.stage_infos[-1].rows == 30
        man = json.loads(
            (tmp_path / "wd" / "_lineage" / "pairs.json").read_text())
        assert man["rows"] == 30
        assert sum(man["partitions"].values()) == 30


_UI_METRICS_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from dedup.config import PARITY_CONFIG
from dedup.pipeline import dedupe_corpus
from dedup.session import build_session
from dedup.synth import corpus_pdf

spark = build_session(
    "metrics-ui", master="local[4]", shuffle_partitions=8,
    extra_conf={{"spark.ui.enabled": "{ui}", "spark.ui.port": "0"}})
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
    suite's shared session (getOrCreate) keeps its own UI setting."""
    script = _UI_METRICS_SCRIPT.format(repo=REPO, ui="true",
                                       workdir=str(tmp_path / "job"))
    _run_script(script, "UI_METRICS_OK")


def test_metrics_telemetry_with_ui_disabled(tmp_path):
    """The telemetry does not need the UI: with spark.ui.enabled=false
    every computed stage still lands executor run time and tasks, and the
    pairs stage its shuffle bytes (read from the in-process status
    store, which Spark feeds with or without the UI)."""
    script = _UI_METRICS_SCRIPT.format(repo=REPO, ui="false",
                                       workdir=str(tmp_path / "job"))
    _run_script(script, "UI_METRICS_OK")


_EVICTED_TASKS_SCRIPT = """
import json
import sys
sys.path.insert(0, {repo!r})
from pathlib import Path

import dedup.pipeline as pipeline
from dedup.config import PARITY_CONFIG
from dedup.session import build_session
from tests.stage_parts import footer_counts

# the store keeps 2 tasks per stage, and trims them synchronously, so the
# 8-task write below has lost 6 of its tasks when the stage reads them
spark = build_session(
    "evicted-tasks", master="local[2]", shuffle_partitions=4,
    extra_conf={{"spark.ui.enabled": "false",
                "spark.ui.retainedTasks": "2",
                "spark.appStateStore.asyncTracking.enable": "false"}})
written = []
store_read = pipeline.tagged_stages


def spy(*args, **kwargs):
    out = store_read(*args, **kwargs)
    written.append(out[1])
    return out


pipeline.tagged_stages = spy
wd = Path({workdir!r})
p = pipeline.DedupPipeline(spark, str(wd), PARITY_CONFIG, resume=False)
# partition k holds k rows: part-00000 is written empty
p._run_stage("signatures", lambda: spark.range(0, 80, numPartitions=8)
             .where("id % 10 < id div 10"))
assert written == [None], written
want = footer_counts((wd / "signatures").glob("part-*"))
assert want == {{k: k for k in range(8)}}, want
man = json.loads((wd / "_lineage" / "signatures.json").read_text())
assert man["partitions"] == {{str(k): n for k, n in want.items()}}, man
spark.stop()
print("EVICTED_OK")
"""


def test_part_counts_fall_back_to_scan_when_tasks_evicted(tmp_path):
    """A write whose task list the status store has trimmed
    (spark.ui.retainedTasks below its task count) is counted with the
    scan, per part file: the recorded rows still equal the footers."""
    script = _EVICTED_TASKS_SCRIPT.format(repo=REPO,
                                          workdir=str(tmp_path / "wd"))
    _run_script(script, "EVICTED_OK")


_EVICTED_STAGES_SCRIPT = """
import json
import sys
sys.path.insert(0, {repo!r})
from pathlib import Path

from dedup.config import PARITY_CONFIG
from dedup.pipeline import DedupPipeline
from dedup.session import build_session
from tests.stage_parts import footer_counts

# the store keeps 2 stages, and trims them synchronously, so it has
# evicted some of the stage's own stages when the stage reads them
spark = build_session(
    "evicted-stages", master="local[2]", shuffle_partitions=4,
    extra_conf={{"spark.ui.enabled": "false",
                "spark.ui.retainedStages": "2",
                "spark.appStateStore.asyncTracking.enable": "false"}})


def build():
    # the count runs the shuffle; the write's job reuses it as a skipped
    # stage, which the store evicts first
    rdd = spark.sparkContext.parallelize(range(100), 4) \\
        .map(lambda x: (x % 4, x)).partitionBy(4)
    rdd.count()
    return spark.createDataFrame(rdd, "k long, v long")


wd = Path({workdir!r})
p = DedupPipeline(spark, str(wd), PARITY_CONFIG, resume=False)
p._run_stage("signatures", build)
assert p.stage_infos[-1].rows == 100, p.stage_infos
want = footer_counts((wd / "signatures").glob("part-*"))
man = json.loads((wd / "_lineage" / "signatures.json").read_text())
assert man["partitions"] == {{str(k): n for k, n in want.items()}}, man
assert man["telemetry"]["num_tasks"] > 0, man
spark.stop()
print("EVICTED_STAGES_OK")
"""


def test_stage_metrics_survive_evicted_stages(tmp_path):
    """A long session's status store has evicted stages of the stage's
    own jobs (past spark.ui.retainedStages it drops skipped stages first):
    the stage still completes and records the footer counts."""
    script = _EVICTED_STAGES_SCRIPT.format(repo=REPO,
                                           workdir=str(tmp_path / "wd"))
    _run_script(script, "EVICTED_STAGES_OK")


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


def _jvm(**values):
    """A stand-in for a py4j object: each value behind a getter."""
    return SimpleNamespace(**{k: (lambda v=v: v) for k, v in values.items()})


def _seq(items):
    return SimpleNamespace(size=lambda: len(items),
                           apply=lambda i: items[i])


def _status_store_session(attempt, records, num_tasks, output_records):
    """A session whose status store holds one tagged job: a map stage 0
    and its write, stage 1, whose latest attempt is `attempt` with the
    successful tasks {partition: records}."""
    def stage(sid, attempt, num_tasks, output_records):
        return _jvm(stageId=sid, attemptId=attempt, numTasks=num_tasks,
                    outputRecords=output_records,
                    status=_jvm(toString="COMPLETE"), executorRunTime=10,
                    shuffleReadBytes=0, shuffleWriteBytes=0, inputBytes=0)

    tasks = [_jvm(partitionId=p, status="SUCCESS",
                  taskMetrics=_jvm(get=_jvm(outputMetrics=_jvm(
                      recordsWritten=n))))
             for p, n in records.items()]
    stages = {0: stage(0, 0, 4, 0),
              1: stage(1, attempt, num_tasks, output_records)}
    store = SimpleNamespace(
        job=lambda j: _jvm(jobId=j, status=_jvm(toString="SUCCEEDED"),
                           stageIds=_seq([0, 1])),
        lastStageAttempt=lambda sid: stages[sid],
        taskList=lambda sid, att, n: _seq(
            tasks if (sid, att) == (1, attempt) else []))
    jsc = SimpleNamespace(
        listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda ms: None),
        statusStore=lambda: store,
        statusTracker=lambda: SimpleNamespace(
            getJobIdsForTag=lambda tag: [7]))
    return SimpleNamespace(sparkContext=SimpleNamespace(
        _jsc=SimpleNamespace(sc=lambda: jsc)))


@pytest.mark.parametrize("attempt, records, num_tasks, output_records, want", [
    # the first attempt ran every partition: its tasks are the counts
    (0, {0: 0, 1: 3, 2: 5, 3: 2}, 4, 10, {0: 0, 1: 3, 2: 5, 3: 2}),
    # a fetch failure resubmitted the write: the second attempt reran only
    # partition 2, and its one task matches that attempt's own totals,
    # but partitions 0, 1 and 3 were committed by the first attempt
    (1, {2: 5}, 1, 5, None),
])
def test_retried_write_stage_gives_no_task_counts(
        attempt, records, num_tasks, output_records, want):
    """Only a write stage's first attempt runs every partition; after a
    retry the task counts are partial, so the write reports None and the
    row counts come from the scan (local mode cannot trigger a fetch
    failure, hence the stubbed status store)."""
    stages, written = tagged_stages(
        _status_store_session(attempt, records, num_tasks, output_records),
        "tag")
    assert written == want
    assert [s["attemptId"] for s in stages] == [0, attempt]
