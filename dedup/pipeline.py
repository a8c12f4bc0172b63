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

Scale notes: stage boundaries are exactly the expensive shuffles (banding
groupBy, pair join, label-prop iterations), so checkpoints double as shuffle
barriers; AQE re-plans each stage with real sizes. At cluster scale the same
code runs via spark-submit --py-files (jobs/dedupe_corpus.py) with workdir on
shared storage; this sandbox uses local paths.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from dedup.cluster import assign_clusters
from dedup.config import DedupConfig
from dedup.lsh import candidate_pairs
from dedup.signature import signatures_table
from dedup.storage import Storage
from dedup.verify import verify_pairs

STAGES = ("signatures", "pairs", "verified", "clusters")
# optional stages that only exist when requested (still invalidated)
OPTIONAL_STAGES = ("keys",)


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

    def _stage_done(self, stage: str) -> bool:
        mp = self._manifest_path(stage)
        if not mp.exists():
            return False
        try:
            man = json.loads(mp.read_text())
        except json.JSONDecodeError:
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

    def _write_manifest(self, stage: str, rows: int, wall_ms: float,
                        n_partitions: int) -> None:
        from dataclasses import asdict

        from dedup.config import SIGNATURE_VERSION
        self._manifest_path(stage).write_text(json.dumps({
            "job_key": self.job_key,
            "config": {**asdict(self.cfg),
                       "sig_version": SIGNATURE_VERSION},
            "stage": stage,
            "status": "complete",
            "rows": rows,
            "wall_ms": wall_ms,
            "n_partitions": n_partitions,
            "finished_at": time.time(),
        }, indent=2))

    def _record_metrics(self, stage: str, df: DataFrame, wall_ms: float,
                        task_totals: dict | None,
                        n_capped_buckets: int | None = None
                        ) -> tuple[int, int]:
        """Per-partition lineage rows -> metrics table; returns (rows, parts).

        One scan: the per-partition counts are collected (tiny — one row per
        partition) and the metrics parquet + totals come from that list, not
        from re-scanning the stage output. Task-level telemetry (executor
        run time, shuffle read/write bytes from the monitoring REST API —
        M12) rides along on every row when available, null otherwise.
        `n_capped_buckets` (pairs stage only) records how many blocking
        buckets exceeded band_bucket_cap and emitted star edges — the 'no
        silent caps' counter; null on stages without a cap."""
        counts = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"))
        ).collect()
        rows = sum(r["rows"] for r in counts)
        tt = task_totals or {}
        telemetry = (tt.get("executor_run_time_ms"),
                     tt.get("shuffle_read_bytes"),
                     tt.get("shuffle_write_bytes"),
                     tt.get("num_tasks"))
        metrics = self.spark.createDataFrame(
            [(int(r["partition_id"]), int(r["rows"]), stage, self.job_key,
              float(wall_ms), *telemetry, n_capped_buckets)
             for r in counts] or
            [(0, 0, stage, self.job_key, float(wall_ms), *telemetry,
              n_capped_buckets)],
            "partition_id int, rows long, stage string, job_key string, "
            "wall_ms double, executor_run_time_ms long, "
            "shuffle_read_bytes long, shuffle_write_bytes long, "
            "num_tasks long, n_capped_buckets long")
        self.storage.write_table(metrics.coalesce(1),
                                 self._stage_ref("metrics"), mode="append")
        return rows, max(1, len(counts))

    def _run_stage(self, stage: str, build) -> DataFrame:
        """Build, write and read back one stage (or read it back when a
        complete checkpoint exists). `build` returns the stage DataFrame,
        or (DataFrame, n_capped_buckets) for the pairs stage."""
        from dedup.metrics import rest_stage_metrics, stage_ids, task_totals

        ref = self._stage_ref(stage)
        if self.resume and self._stage_done(stage):
            df = self.storage.read_table(ref)
            self.stage_infos.append(StageInfo(stage, True, -1, 0.0))
            return df
        before = stage_ids(rest_stage_metrics(self.spark))
        t0 = time.monotonic()
        built = build()
        built, capped = built if isinstance(built, tuple) else (built, None)
        self.storage.write_table(built, ref)
        wall_ms = (time.monotonic() - t0) * 1000
        totals = task_totals(rest_stage_metrics(self.spark), before)
        df = self.storage.read_table(ref)
        rows, parts = self._record_metrics(stage, df, wall_ms, totals,
                                           n_capped_buckets=capped)
        self._write_manifest(stage, rows, wall_ms, parts)
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
        has_html = "html" in corpus.columns
        signatures = self._run_stage(
            "signatures",
            lambda: signatures_table(
                corpus, self.cfg,
                extract_html_col="html" if has_html else None,
                emit_text=True))
        extracted = signatures.select("url", "text")
        keys = None
        if build_key_index:
            from dedup.lsh import unified_group_keys
            keys = self._run_stage(
                "keys",
                lambda: unified_group_keys(signatures, self.cfg)
                .repartitionByRange(self.cfg.shuffle_partitions,
                                    "gk_band", "gk_url", "gk_txt")
                .sortWithinPartitions("gk_band", "gk_url", "gk_txt"))
        # the eager hot-key count that gates the pair expansion doubles as
        # the capped-bucket observability counter
        pairs = self._run_stage(
            "pairs",
            lambda: candidate_pairs(
                signatures, self.cfg,
                use_simhash_prefilter=(self.cfg.scoring == "jaccard"),
                track_hot_keys=True))
        verified = self._run_stage(
            "verified", lambda: verify_pairs(pairs, signatures, self.cfg))
        clusters = self._run_stage(
            "clusters",
            lambda: assign_clusters(
                extracted.select("url"),
                verified.where("keep").select("a", "b")),
        )
        out = {
            "extracted": extracted,
            "signatures": signatures,
            "pairs": pairs,
            "verified": verified,
            "clusters": clusters,
            "metrics": self.storage.read_table(self._stage_ref("metrics"),
                                               merge_schema=True),
        }
        if keys is not None:
            out["keys"] = keys
        return out


def dedupe_corpus(spark: SparkSession, corpus: DataFrame | str, workdir: str,
                  cfg: DedupConfig | None = None,
                  resume: bool = True) -> dict[str, DataFrame]:
    """One-call entry: path or DataFrame in, table dict out."""
    if isinstance(corpus, str):
        corpus = spark.read.parquet(corpus)
    cfg = cfg or DedupConfig()
    return DedupPipeline(spark, workdir, cfg, resume=resume).run(corpus)
