"""SparkSession factory with scale-minded defaults.

AQE is on (runtime partition coalescing + skew-join splitting — the engine
leans on it for hot-band skew, SURVEY §4), Arrow transport is on (every heavy
per-row op is a pandas UDF / mapInPandas stage).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# repo root containing the `dedup` package — appended to executor PYTHONPATH
# so pandas-UDF workers can unpickle our functions no matter where the driver
# process was launched from (spark-submit ships a zip via --py-files instead).
_PKG_ROOT = str(Path(__file__).resolve().parent.parent)


def build_session(app_name: str = "dedup-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    # Pin BLAS/OMP pools to one thread per python worker: Spark already
    # runs one worker per core, so library-level threading oversubscribes
    # (k x cores threads) and measurably SLOWS the batched matmul in verify
    # (~2x on this box) while wrecking scaling at higher core counts. Set in
    # this process's env (local-mode workers fork from the same JVM) and in
    # executorEnv (cluster mode).
    blas_env = {"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                "MKL_NUM_THREADS": "1", "NUMEXPR_NUM_THREADS": "1"}
    for k, v in blas_env.items():
        os.environ.setdefault(k, v)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("DEDUP_SHUFFLE_PARTITIONS", "32"))
    worker_pythonpath = os.pathsep.join(
        p for p in (_PKG_ROOT, os.environ.get("PYTHONPATH")) if p)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.yarn.appMasterEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CPU-heavy Arrow stages need many input splits: on a LOCAL few-GB
        # corpus the 128 MB default packs everything into a handful of
        # tasks, starving cores — so local mode uses 8 MB splits (with an
        # equal open-cost so small files are not re-packed). Cluster mode
        # keeps Spark's default: at 100 TB an 8 MB split size would mean
        # ~12M scan tasks of pure scheduler overhead. Override either way
        # via DEDUP_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get(
                    "DEDUP_MAX_PARTITION_BYTES",
                    str(8 * 1024 * 1024) if master.startswith("local")
                    else str(128 * 1024 * 1024)))
        .config("spark.sql.files.openCostInBytes",
                str(8 * 1024 * 1024) if master.startswith("local")
                else str(4 * 1024 * 1024))
        # verification joins a slim pair table against the wide signatures
        # table; letting the pair side broadcast (up to 64 MB) keeps the
        # signature arrays out of the shuffle entirely. AQE still falls back
        # to sort-merge when runtime sizes exceed this.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Python worker pooling: Spark 4.1 leaves the fork-daemon off by
        # default; without it every pandas-UDF task pays a full worker spawn
        # (measured 2.5x wall on UDF-heavy stages at local[32])
        .config("spark.python.use.daemon", "true")
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "600")
        .config("spark.driver.memory", os.environ.get("DEDUP_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # UI on (ephemeral port) by default: perfbench's tracer reads its
        # layer metrics from the monitoring REST API. The pipeline's own
        # stage telemetry (M12 — dedup/metrics.py) comes from the status
        # store, which Spark feeds with the UI off too, so DEDUP_UI=0 only
        # hides the UI and its REST API.
        .config("spark.ui.enabled",
                "false" if os.environ.get("DEDUP_UI") == "0" else "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple],
                schema: str) -> DataFrame:
    """Driver-held rows -> DataFrame through one Arrow table.

    `createDataFrame(list)` pickles the rows through a Python RDD and plans
    as a `Scan ExistingRDD` with unknown size; an Arrow table (below
    spark.sql.execution.arrow.localRelationThreshold) plans as a
    `LocalTableScan` whose size the planner knows, the empty case too."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)
