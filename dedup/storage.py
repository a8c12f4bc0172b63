"""Storage seam: one read/write interface, Iceberg catalog when available,
plain parquet paths otherwise (SURVEY §1.3).

The engine's tables (corpus, signatures, pairs, verified, clusters, metrics)
go through this module so the physical format is a deployment choice, not a
code change: on a cluster with `iceberg-spark-runtime` on the classpath and a
catalog configured (spark.sql.catalog.<name>=org.apache.iceberg...), pass
``catalog="<name>"`` and refs become catalog tables (`<name>.db.table`) with
Iceberg's snapshot/partition metadata; in this sandbox (no Iceberg jar) the
default path-mode writes parquet directories with identical schemas.

Refs:
- path mode:     ref is a filesystem/objectstore path ("/work/signatures")
- catalog mode:  ref is "db.table" under the configured catalog

The reference service has no storage at all (all corpus data lives behind a
remote REST API, app/wlo_client.py:56,160); this seam is the engine-side
replacement (S1: HTTP session -> table scan)."""

from __future__ import annotations

import re
import shutil
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

# Spark names every parquet file it writes
# part-<task partition id>-<uuid>...parquet
_PART_ID = re.compile(r"part-(\d+)-.*\.parquet$")


@dataclass(frozen=True)
class StorageConfig:
    """catalog=None -> path-based parquet; otherwise the name of a Spark
    catalog (e.g. an Iceberg SparkCatalog) that owns every table ref."""
    catalog: str | None = None


class Storage:
    def __init__(self, spark: SparkSession,
                 config: StorageConfig | None = None):
        self.spark = spark
        self.config = config or StorageConfig()
        if self.config.catalog and not self._catalog_configured():
            raise ValueError(
                f"catalog '{self.config.catalog}' is not configured on this "
                "session (spark.sql.catalog.<name> missing) — use path mode "
                "or configure the Iceberg catalog")

    def _catalog_configured(self) -> bool:
        if self.config.catalog == "spark_catalog":
            return True  # the built-in session catalog always exists
        key = f"spark.sql.catalog.{self.config.catalog}"
        try:
            return self.spark.conf.get(key) is not None
        except Exception:
            return False

    def _qualified(self, ref: str) -> str:
        return f"{self.config.catalog}.{ref}"

    # --- interface --------------------------------------------------------
    def read_table(self, ref: str, merge_schema: bool = False,
                   schema: StructType | None = None) -> DataFrame:
        """merge_schema: for append-mode tables whose row schema can GROW
        across code versions (e.g. metrics gaining columns): plain parquet
        reads resolve the schema from one arbitrary footer, so a workdir
        mixing old and new files would nondeterministically drop the new
        columns; mergeSchema unions footers (old files read as NULLs).
        Catalog (Iceberg) tables evolve schema in the catalog instead.

        schema: the schema the caller just wrote the table with. A path
        read then skips parquet schema inference, which is a Spark job of
        its own; catalog reads take the schema from the catalog anyway."""
        if self.config.catalog:
            return self.spark.read.table(self._qualified(ref))
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(ref)

    def part_row_counts(self, df: DataFrame) -> dict[int, int]:
        """{partition id: rows} of a table read back by `read_table`.

        A table that lists its parquet part files (every path-mode table,
        and file-based catalog tables) is counted from their footers, and no Spark
        job runs. The id is the file's part-NNNNN index (the write task's
        partition), not the read split the file lands in. Footers are read
        one by one on the driver through the session's Hadoop filesystem
        (file:, s3a:, hdfs:): one open per part file, so on an object store
        the cost grows with the stage's file count.

        A table that lists no parquet part files — a non-file DSv2 table
        such as an Iceberg catalog table lists none, and Iceberg names its
        data files otherwise — is counted with one `spark_partition_id` scan;
        its ids are then the read splits. An empty scan reports {0: 0}."""
        files = df.inputFiles()
        ids = [_PART_ID.match(f.rsplit("/", 1)[-1]) for f in files]
        if not files or not all(ids):
            counts = (df.groupBy(F.spark_partition_id().alias("pid"))
                      .agg(F.count(F.lit(1)).alias("rows"))).collect()
            return {r["pid"]: r["rows"] for r in counts} or {0: 0}
        jvm = self.spark._jvm
        conf = self.spark._jsparkSession.sessionState().newHadoopConf()
        counts: dict[int, int] = {}
        for f, m in zip(files, ids):
            # Path(URI): inputFiles() are percent-encoded URIs
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(f)),
                    conf))
            try:
                n = reader.getRecordCount()
            finally:
                reader.close()
            pid = int(m.group(1))
            counts[pid] = counts.get(pid, 0) + n
        return counts

    def _ensure_namespace(self, ref: str) -> None:
        if "." in ref:
            ns = ref.rsplit(".", 1)[0]
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.config.catalog}.{ns}")

    def _is_v1_session_catalog(self) -> bool:
        """The built-in session catalog without a configured V2
        implementation supports neither REPLACE TABLE nor v2 appends to
        non-existent tables — route it to the V1 writer UP FRONT instead of
        catching AnalysisException around the V2 write (a broad catch would
        mask real errors — schema mismatch on append, unresolved columns —
        and silently re-attempt them down a different write path)."""
        if self.config.catalog != "spark_catalog":
            return False
        try:
            impl = self.spark.conf.get("spark.sql.catalog.spark_catalog")
        except Exception:
            return True
        # Spark 4 reports the default V1 session catalog as 'builtin';
        # anything else (e.g. an Iceberg SparkSessionCatalog) is a real V2
        # implementation layered over it
        return impl is None or impl == "builtin"

    def _evolve_schema_for_append(self, df: DataFrame, q: str) -> None:
        """Catalog append-tables whose row schema GROWS across code
        versions (metrics gaining n_capped_buckets): add the missing
        columns via ALTER TABLE before appending — both the V1 saveAsTable
        and the V2 writeTo append raise AnalysisException on a wider
        frame, which would kill resume of a pre-change workdir at its
        first metrics write. The path-storage analog is read_table's
        merge_schema."""
        if not self.spark.catalog.tableExists(q):
            return
        existing = {f.name.lower()
                    for f in self.spark.table(q).schema.fields}
        missing = [f for f in df.schema.fields
                   if f.name.lower() not in existing]
        if missing:
            cols = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                             for f in missing)
            self.spark.sql(f"ALTER TABLE {q} ADD COLUMNS ({cols})")

    def write_table(self, df: DataFrame, ref: str,
                    mode: str = "overwrite") -> None:
        if self.config.catalog:
            self._ensure_namespace(ref)
            q = self._qualified(ref)
            if mode == "append":
                self._evolve_schema_for_append(df, q)
            if self._is_v1_session_catalog():
                df.write.mode(mode).saveAsTable(q)
            elif mode == "overwrite":
                # V2 path (Iceberg and other DSv2 catalogs): atomic
                # create-or-replace / append; real errors propagate
                df.writeTo(q).createOrReplace()
            else:
                df.writeTo(q).append()
            return
        df.write.mode(mode).parquet(ref)

    def table_complete(self, ref: str) -> bool:
        """True when the table exists and its last write finished (path
        mode: parquet _SUCCESS marker; catalog mode: table existence —
        Iceberg commits are atomic, so existence implies completeness)."""
        if self.config.catalog:
            return self.spark.catalog.tableExists(self._qualified(ref))
        return Path(ref, "_SUCCESS").exists()

    def invalidate(self, ref: str) -> None:
        """Drop the table/path so the next write recomputes from scratch —
        the engine analog of the reference's /admin/cache/clear
        (app/main.py:620-668)."""
        if self.config.catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(ref)}")
            return
        shutil.rmtree(ref, ignore_errors=True)
