"""Corpus-wide dedup pipeline with per-stage checkpoints, lineage + metrics.

The batch DAG (SURVEY §3.4), replacing the reference's per-request
orchestration (app/main.py:413-496):

    corpus -> extract -> signatures -> candidate pairs (LSH ∪ url_exact)
           -> verify -> edges -> connected components -> clusters

Every stage materializes to parquet under `workdir/<stage>/` keyed by the
config's content-addressed job key (md5 of canonical-JSON config — the same
construction as the reference's detection-cache key, app/main.py:207-225).
A stage whose manifest matches the current job key is SKIPPED on resume and
its table is read back — resume-from-failure therefore costs only the stages
after the last completed checkpoint. Lineage lives in
`workdir/_lineage/<stage>.json`; per-partition row counts and wall times go
to the `metrics` table (`workdir/metrics/`).

Bookkeeping runs no Spark job of its own: a computed stage costs its build
and its write. The stage's jobs carry a Spark job tag; once the write
returns, the driver's in-process status store (`dedup.metrics`) yields
their telemetry and the records each write task wrote, which are the
per-partition row counts (`partition_id` is the written part-NNNNN index).
The read-back takes the schema of the frame just written (no inference
job). Each stage's manifest holds its metrics rows (per-partition counts,
wall time, telemetry); when `run()` ends, failed or not, the rows of every
manifest not yet in the metrics table are appended once, as one
Arrow-built frame, and the table is read back with its known schema. A
process killed outright therefore loses no lineage: the next run appends
its rows.

Scale notes: stage boundaries are exactly the expensive shuffles (banding
groupBy, pair join, label-prop iterations), so checkpoints double as shuffle
barriers; AQE re-plans each stage with real sizes. At cluster scale the same
code runs via spark-submit --py-files (jobs/dedupe_corpus.py) with workdir on
shared storage; this sandbox uses local paths.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from dedup.cluster import assign_clusters
from dedup.config import DedupConfig
from dedup.lsh import candidate_pairs
from dedup.metrics import tagged_stages, task_totals
from dedup.session import local_frame
from dedup.signature import signatures_table
from dedup.storage import Storage
from dedup.verify import verify_pairs

STAGES = ("signatures", "pairs", "verified", "clusters")
# optional stages that only exist when requested (still invalidated)
OPTIONAL_STAGES = ("keys",)
METRICS_SCHEMA = (
    "partition_id int, rows long, stage string, job_key string, "
    "wall_ms double, executor_run_time_ms long, shuffle_read_bytes long, "
    "shuffle_write_bytes long, num_tasks long, n_capped_buckets long")
_TELEMETRY = ("executor_run_time_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "num_tasks")


@dataclass
class StageInfo:
    name: str
    skipped: bool
    rows: int
    wall_ms: float


class DedupPipeline:
    def __init__(self, spark: SparkSession, workdir: str, cfg: DedupConfig,
                 resume: bool = True, storage: Storage | None = None):
        self.spark = spark
        self.workdir = workdir.rstrip("/")
        self.cfg = cfg
        self.resume = resume
        # storage seam (SURVEY §1.3): Iceberg catalog when the caller
        # configured one, path-based parquet otherwise (this sandbox)
        self.storage = storage or Storage(spark)
        self.job_key = cfg.job_key()
        self.stage_infos: list[StageInfo] = []
        Path(self.workdir, "_lineage").mkdir(parents=True, exist_ok=True)

    def _stage_ref(self, stage: str) -> str:
        if self.storage.config.catalog:
            return f"dedup_{self.job_key[:12]}.{stage}"
        return f"{self.workdir}/{stage}"

    # --- lineage ----------------------------------------------------------
    def _manifest_path(self, stage: str) -> Path:
        return Path(self.workdir, "_lineage", f"{stage}.json")

    def _read_manifest(self, stage: str) -> dict | None:
        mp = self._manifest_path(stage)
        if not mp.exists():
            return None
        try:
            return json.loads(mp.read_text())
        except json.JSONDecodeError:
            return None

    def _write_manifest(self, stage: str, man: dict) -> None:
        self._manifest_path(stage).write_text(json.dumps(man, indent=2))

    def _stage_done(self, stage: str) -> bool:
        man = self._read_manifest(stage)
        if man is None:
            return False
        from dedup.config import SIGNATURE_VERSION
        # a manifest without the version token predates the rolling-hash /
        # int32-shingle signature layout (sig_version 1): its persisted
        # stage tables carry band hashes this code cannot probe — recompute
        return (man.get("job_key") == self.job_key
                and man.get("status") == "complete"
                and (man.get("config") or {}).get("sig_version", 1)
                == SIGNATURE_VERSION
                and self.storage.table_complete(self._stage_ref(stage)))

    def _record_metrics(self, stage: str, counts: dict[int, int],
                        wall_ms: float, totals: dict,
                        n_capped_buckets: int | None = None) -> int:
        """Write the stage's lineage manifest, which holds everything its
        metrics rows need; returns the stage's row count.

        `counts` are the stage's rows per written part
        (`Storage.part_row_counts`). The task-level telemetry of the
        stage's jobs (executor run time, shuffle read/write bytes, tasks —
        M12) rides along on every row. `n_capped_buckets` (pairs stage
        only) records how many blocking buckets exceeded band_bucket_cap
        and emitted star edges — the 'no silent caps' counter; null on
        stages without a cap. The manifest is marked `metrics_appended:
        false` until `_flush_metrics` has appended its rows, so the
        lineage survives a process killed before that."""
        from dataclasses import asdict

        from dedup.config import SIGNATURE_VERSION
        rows = sum(counts.values())
        self._write_manifest(stage, {
            "job_key": self.job_key,
            "config": {**asdict(self.cfg),
                       "sig_version": SIGNATURE_VERSION},
            "stage": stage,
            "status": "complete",
            "rows": rows,
            "wall_ms": wall_ms,
            "n_partitions": len(counts),
            "partitions": {str(pid): n for pid, n in sorted(counts.items())},
            "telemetry": {k: totals[k] for k in _TELEMETRY},
            "n_capped_buckets": n_capped_buckets,
            "metrics_appended": False,
            "finished_at": time.time(),
        })
        return rows

    def _flush_metrics(self) -> None:
        """Append, as one part file, the metrics rows of every stage whose
        manifest (this job key) is not in the metrics table yet — this
        run's stages, and those of an earlier run killed before its flush
        — then mark those manifests. A kill between the append and the
        marking appends those rows again on the next run."""
        pending = {}
        for stage in STAGES + OPTIONAL_STAGES:
            man = self._read_manifest(stage)
            # manifests written before this field existed had their rows
            # appended per stage
            if (man and man.get("job_key") == self.job_key
                    and man.get("metrics_appended") is False):
                pending[stage] = man
        if not pending:
            return
        rows = [(int(pid), n, stage, self.job_key, float(man["wall_ms"]),
                 *(man["telemetry"][k] for k in _TELEMETRY),
                 man["n_capped_buckets"])
                for stage, man in pending.items()
                for pid, n in man["partitions"].items()]
        self.storage.write_table(
            local_frame(self.spark, rows, METRICS_SCHEMA).coalesce(1),
            self._stage_ref("metrics"), mode="append")
        for stage, man in pending.items():
            self._write_manifest(stage, {**man, "metrics_appended": True})

    def _run_stage(self, stage: str, build) -> DataFrame:
        """Build, write and read back one stage (or read it back when a
        complete checkpoint exists). `build` returns the stage DataFrame,
        or (DataFrame, n_capped_buckets) for the pairs stage."""
        ref = self._stage_ref(stage)
        if self.resume and self._stage_done(stage):
            df = self.storage.read_table(ref)
            self.stage_infos.append(StageInfo(stage, True, -1, 0.0))
            return df
        sc = self.spark.sparkContext
        # a job tag, not a job group: callers own the job group (perfbench
        # sets one around each layer), and a tag names exactly this
        # thread's jobs, not those other threads run meanwhile
        tag = f"dedup-{stage}-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            t0 = time.monotonic()
            built = build()
            built, capped = built if isinstance(built, tuple) else (built, None)
            self.storage.write_table(built, ref)
            wall_ms = (time.monotonic() - t0) * 1000
        finally:
            sc.removeJobTag(tag)
        stages, written = tagged_stages(self.spark, tag)
        df = self.storage.read_table(ref, schema=built.schema)
        rows = self._record_metrics(
            stage, self.storage.part_row_counts(df, written), wall_ms,
            task_totals(stages), n_capped_buckets=capped)
        self.stage_infos.append(StageInfo(stage, False, rows, wall_ms))
        return df

    def invalidate(self) -> None:
        """Explicit checkpoint invalidation — the engine analog of the
        reference's /admin/cache/clear (app/main.py:620-668): drops every
        stage table + manifest so the next run() recomputes from scratch
        even with resume=True."""
        for stage in STAGES + OPTIONAL_STAGES + ("metrics",):
            self.storage.invalidate(self._stage_ref(stage))
            mp = self._manifest_path(stage)
            if mp.exists():
                mp.unlink()
        self.stage_infos.clear()

    # --- stages -------------------------------------------------------------
    def run(self, corpus: DataFrame,
            build_key_index: bool = False) -> dict[str, DataFrame]:
        """corpus(url, warc_ts, html[, text, lang]) -> table dict.

        Extraction and signing are ONE Arrow pass and one materialization;
        the `extracted` table is a columnar projection of the signatures
        parquet (text column read without touching the arrays).

        With `build_key_index`, an extra `keys` stage persists the exploded
        inverted key table (url, gk_band, gk_url, gk_txt) range-partitioned
        and sorted by key: per-document queries (`dedupe_one` /
        `dedupe_metadata` / jobs/detect.py --key-index) then resolve their
        ~b+2-key IN-list against parquet min/max stats instead of
        re-exploding the signatures table per query."""
        try:
            out = self._run_stages(corpus, build_key_index)
        except BaseException as err:
            # the stage's error is the one to report; a flush failing too
            # (say, the session died with the stage) rides along as a note
            try:
                self._flush_metrics()
            except Exception as flush_err:
                err.add_note(f"metrics flush failed too: {flush_err!r}")
            raise
        self._flush_metrics()
        # the known schema: no inference job, and files written before a
        # column existed (n_capped_buckets) read it as NULL
        out["metrics"] = self.storage.read_table(self._stage_ref("metrics"),
                                                 schema=METRICS_SCHEMA)
        return out

    def _run_stages(self, corpus: DataFrame,
                    build_key_index: bool) -> dict[str, DataFrame]:
        has_html = "html" in corpus.columns
        signatures = self._run_stage(
            "signatures",
            lambda: signatures_table(
                corpus, self.cfg,
                extract_html_col="html" if has_html else None,
                emit_text=True))
        extracted = signatures.select("url", "text")
        out = {"extracted": extracted, "signatures": signatures}
        if build_key_index:
            from dedup.lsh import unified_group_keys
            out["keys"] = self._run_stage(
                "keys",
                lambda: unified_group_keys(signatures, self.cfg)
                .repartitionByRange(self.cfg.shuffle_partitions,
                                    "gk_band", "gk_url", "gk_txt")
                .sortWithinPartitions("gk_band", "gk_url", "gk_txt"))
        # the eager hot-key count that gates the pair expansion doubles as
        # the capped-bucket observability counter
        pairs = out["pairs"] = self._run_stage(
            "pairs",
            lambda: candidate_pairs(
                signatures, self.cfg,
                use_simhash_prefilter=(self.cfg.scoring == "jaccard"),
                track_hot_keys=True))
        verified = out["verified"] = self._run_stage(
            "verified", lambda: verify_pairs(pairs, signatures, self.cfg))
        out["clusters"] = self._run_stage(
            "clusters",
            lambda: assign_clusters(
                extracted.select("url"),
                verified.where("keep").select("a", "b")),
        )
        return out


def dedupe_corpus(spark: SparkSession, corpus: DataFrame | str, workdir: str,
                  cfg: DedupConfig | None = None,
                  resume: bool = True) -> dict[str, DataFrame]:
    """One-call entry: path or DataFrame in, table dict out."""
    if isinstance(corpus, str):
        corpus = spark.read.parquet(corpus)
    cfg = cfg or DedupConfig()
    return DedupPipeline(spark, workdir, cfg, resume=resume).run(corpus)
