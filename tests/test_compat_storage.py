"""Compat operators (M3 stats assembly, M5 candidate clamp, M10 cache
invalidation — reference app/main.py:178-248, :620-668) and the storage seam
(SURVEY §1.3: one read/write interface, parquet fallback in this sandbox)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from dedup.config import (REF_MAX_CANDIDATES, DedupConfig,
                          get_effective_max_candidates)


def test_m5_clamp_semantics():
    # reference app/main.py:228-248: None -> limit; otherwise min(req, limit)
    assert get_effective_max_candidates(None) == REF_MAX_CANDIDATES
    assert get_effective_max_candidates(10) == 10
    assert get_effective_max_candidates(10_000) == REF_MAX_CANDIDATES
    assert get_effective_max_candidates(1, limit=5) == 1
    assert get_effective_max_candidates(9, limit=5) == 5


def test_m3_candidate_stats_truncation(spark):
    # reference app/main.py:178-204: search_value -> 80 chars,
    # normalized_value -> 50 chars, per-field max similarity joined in
    from dedup.kernel import build_candidate_stats
    long = "x" * 200
    info = spark.createDataFrame(
        [("title", long, long, 7), ("url", "short", None, 0),
         ("description", "y" * 80, "y" * 50, 3)],
        "search_field string, search_value string, "
        "normalized_value string, candidates_found int")
    fmax = spark.createDataFrame(
        [("title", 0.9876)], "search_field string, max_similarity double")
    rows = {r["search_field"]: r
            for r in build_candidate_stats(info, fmax).collect()}
    # reference display form: first-N chars + '...' when longer than N
    assert rows["title"]["search_value"] == "x" * 80 + "..."
    assert rows["title"]["normalized_value"] == "x" * 50 + "..."
    assert rows["title"]["max_similarity"] == 0.9876
    assert rows["url"]["max_similarity"] is None
    assert rows["url"]["search_value"] == "short"
    # boundary: exactly at the limit -> unchanged (reference tests len > N)
    assert rows["description"]["search_value"] == "y" * 80
    assert rows["description"]["normalized_value"] == "y" * 50


def test_storage_parquet_roundtrip_and_invalidate(spark, tmp_path):
    from dedup.storage import Storage
    st = Storage(spark)
    ref = str(tmp_path / "t1")
    df = spark.range(10).withColumnRenamed("id", "v")
    st.write_table(df, ref)
    assert st.table_complete(ref)
    assert st.read_table(ref).count() == 10
    st.write_table(spark.range(5).withColumnRenamed("id", "v"), ref,
                   mode="append")
    assert st.read_table(ref).count() == 15
    st.invalidate(ref)
    assert not st.table_complete(ref)


def test_storage_catalog_mode_roundtrip(spark):
    """Catalog mode exercised for real against the built-in session catalog
    (V1 fallback path; an Iceberg catalog takes the V2 writeTo path)."""
    from dedup.storage import Storage, StorageConfig
    st = Storage(spark, StorageConfig(catalog="spark_catalog"))
    ref = "dedup_storage_test.t1"
    st.invalidate(ref)
    st.write_table(spark.range(10).withColumnRenamed("id", "v"), ref)
    assert st.table_complete(ref)
    assert st.read_table(ref).count() == 10
    st.write_table(spark.range(5).withColumnRenamed("id", "v"), ref,
                   mode="append")
    assert st.read_table(ref).count() == 15
    st.invalidate(ref)
    assert not st.table_complete(ref)


def test_storage_catalog_append_evolves_grown_schema(spark):
    """Appending a WIDER frame (metrics gained n_capped_buckets) to a
    catalog table created by older code must ALTER the table instead of
    raising — resume of a pre-change catalog workdir dies at its first
    metrics write otherwise (round-5 review finding)."""
    from dedup.storage import Storage, StorageConfig
    st = Storage(spark, StorageConfig(catalog="spark_catalog"))
    ref = "dedup_storage_test.t_evolve"
    st.invalidate(ref)
    old = spark.createDataFrame([(0, "pairs", 1.0)],
                                "partition_id int, stage string, "
                                "wall_ms double")
    st.write_table(old, ref)
    new = spark.createDataFrame([(1, "pairs", 2.0, 3)],
                                "partition_id int, stage string, "
                                "wall_ms double, n_capped_buckets long")
    st.write_table(new, ref, mode="append")
    m = st.read_table(ref)
    assert "n_capped_buckets" in m.columns
    assert {r["n_capped_buckets"] for r in m.collect()} == {None, 3}
    st.invalidate(ref)


def test_pipeline_through_catalog_storage(spark, tmp_path):
    """The full pipeline runs with every stage table living in a catalog
    instead of parquet paths (SURVEY §1.3 seam, both sides exercised)."""
    from dedup.pipeline import DedupPipeline
    from dedup.storage import Storage, StorageConfig
    from dedup.synth import write_corpus
    corpus_path = str(tmp_path / "corpus")
    write_corpus(spark, corpus_path, n_docs=50, seed=9)
    corpus = spark.read.parquet(corpus_path)
    st = Storage(spark, StorageConfig(catalog="spark_catalog"))
    p = DedupPipeline(spark, str(tmp_path / "run"), DedupConfig(),
                      resume=True, storage=st)
    t = p.run(corpus)
    assert t["clusters"].count() == 50
    # metrics partition_id / rows are the catalog tables' written parts
    from urllib.parse import urlparse

    from dedup.pipeline import STAGES
    from tests.stage_parts import assert_metrics_match_parts

    def part_files(stage):
        desc = spark.sql("DESCRIBE TABLE EXTENDED "
                         f"{st._qualified(p._stage_ref(stage))}").collect()
        loc = next(r["data_type"] for r in desc if r["col_name"] == "Location")
        return list(Path(urlparse(loc).path).glob("part-*"))

    assert_metrics_match_parts(
        t["metrics"], {s: part_files(s) for s in STAGES}, p.workdir)
    assert len(part_files("metrics")) == 1
    # resume skips via catalog table existence
    p2 = DedupPipeline(spark, str(tmp_path / "run"), DedupConfig(),
                       resume=True, storage=st)
    p2.run(corpus)
    assert all(s.skipped for s in p2.stage_infos)
    p2.invalidate()
    assert not st.table_complete(p2._stage_ref("signatures"))


def test_storage_rejects_unconfigured_catalog(spark):
    from dedup.storage import Storage, StorageConfig
    with pytest.raises(ValueError, match="not configured"):
        Storage(spark, StorageConfig(catalog="nope"))


def test_dedupe_one_semantics(spark):
    # M8 per-key mode (reference app/main.py:499-531): identical text ->
    # cosine 1.0; same normalized url -> url_exact; self excluded; missing
    # key -> empty result
    from dedup.kernel import dedupe_one
    from dedup.signature import signatures_table
    cfg = DedupConfig()
    corpus = spark.createDataFrame(
        [("https://a.org/x", "alpha beta gamma delta words here"),
         ("https://b.org/y", "alpha beta gamma delta words here"),
         ("https://A.ORG/x/", "completely different text tokens now"),
         ("https://c.org/z", "unrelated corpus filler document text")],
        "url string, text string")
    sigs = signatures_table(corpus, cfg)
    got = {r["node_url"]: (r["similarity"], r["match_source"])
           for r in dedupe_one(sigs, "https://a.org/x", cfg).collect()}
    assert got["https://b.org/y"] == (1.0, "lsh")          # identical text
    assert got["https://A.ORG/x/"] == (1.0, "url_exact")   # norm-url match
    assert "https://a.org/x" not in got                    # self excluded
    assert "https://c.org/z" not in got                    # below threshold
    assert dedupe_one(sigs, "https://nope.example/", cfg).count() == 0


def test_dedupe_metadata_semantics(spark):
    # M9 ad-hoc by-metadata mode (reference app/main.py:534-613): source
    # not in the corpus; identical text -> cosine 1.0; matching source url
    # -> url_exact; invalid source fields -> empty result
    from dedup.kernel import SourceMetadata, dedupe_metadata
    from dedup.signature import signatures_table
    cfg = DedupConfig()
    corpus = spark.createDataFrame(
        [("https://a.org/x", "alpha beta gamma delta words here"),
         ("https://c.org/z", "unrelated corpus filler document text")],
        "url string, text string")
    sigs = signatures_table(corpus, cfg)

    got = {r["node_url"]: (r["similarity"], r["match_source"])
           for r in dedupe_metadata(
               sigs, SourceMetadata(
                   title="alpha beta gamma delta words here")).collect()}
    assert got == {"https://a.org/x": (1.0, "lsh")}

    got = {r["node_url"]: (r["similarity"], r["match_source"])
           for r in dedupe_metadata(
               sigs, SourceMetadata(title="totally different query text",
                                    url="https://A.ORG/x/")).collect()}
    assert got["https://a.org/x"] == (1.0, "url_exact")

    # placeholder-only source: no signature, no url keys -> empty
    assert dedupe_metadata(
        sigs, SourceMetadata(title="string", description="  ")).count() == 0


def test_m10_pipeline_invalidate_recomputes(spark, tmp_path):
    # M10: after invalidate(), resume=True must NOT skip stages
    # (reference /admin/cache/clear, app/main.py:620-668)
    from dedup.pipeline import DedupPipeline
    from dedup.synth import write_corpus
    corpus_path = str(tmp_path / "corpus")
    write_corpus(spark, corpus_path, n_docs=60, seed=7)
    corpus = spark.read.parquet(corpus_path)
    cfg = DedupConfig()
    workdir = str(tmp_path / "run")

    p1 = DedupPipeline(spark, workdir, cfg, resume=True)
    t1 = p1.run(corpus)
    n_clusters = t1["clusters"].count()
    assert all(not s.skipped for s in p1.stage_infos)

    p2 = DedupPipeline(spark, workdir, cfg, resume=True)
    p2.run(corpus)
    assert all(s.skipped for s in p2.stage_infos)

    p2.invalidate()
    assert not Path(workdir, "signatures", "_SUCCESS").exists()
    assert not Path(workdir, "_lineage", "signatures.json").exists()
    p3 = DedupPipeline(spark, workdir, cfg, resume=True)
    t3 = p3.run(corpus)
    assert all(not s.skipped for s in p3.stage_infos)
    assert t3["clusters"].count() == n_clusters


def _iceberg_jar_available() -> str | None:
    """Path to an iceberg-spark-runtime jar if one is on this machine."""
    import glob
    import os
    candidates = []
    for root in (os.environ.get("ICEBERG_JAR_DIR"), "/opt/spark/jars",
                 "/usr/local/lib", "/root/jars"):
        if root:
            candidates += glob.glob(f"{root}/iceberg-spark-runtime*.jar")
    try:
        import pyspark
        candidates += glob.glob(
            str(Path(pyspark.__file__).parent / "jars"
                / "iceberg-spark-runtime*.jar"))
    except Exception:
        pass
    return candidates[0] if candidates else None


@pytest.mark.skipif(_iceberg_jar_available() is None,
                    reason="no iceberg-spark-runtime jar in this sandbox — "
                           "the V2 writeTo/REPLACE branch is covered the "
                           "day a jar lands")
def test_storage_iceberg_catalog_roundtrip(tmp_path):
    """Real Iceberg round-trip through the V2 writeTo path (subprocess:
    needs its own session with the Iceberg catalog configured)."""
    import subprocess
    import sys

    repo = str(Path(__file__).resolve().parent.parent)
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from dedup.session import build_session
from dedup.storage import Storage, StorageConfig

spark = build_session("iceberg-it", master="local[2]", shuffle_partitions=2,
    extra_conf={{
        "spark.jars": {_iceberg_jar_available()!r},
        "spark.sql.catalog.ice": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.ice.type": "hadoop",
        "spark.sql.catalog.ice.warehouse": {str(tmp_path / "wh")!r},
    }})
st = Storage(spark, StorageConfig(catalog="ice"))
df = spark.range(10).withColumnRenamed("id", "v")
st.write_table(df, "db.t1")                      # V2 createOrReplace
assert st.read_table("db.t1").count() == 10
st.write_table(spark.range(5).withColumnRenamed("id", "v"), "db.t1",
               mode="append")                    # V2 append
assert st.read_table("db.t1").count() == 15
st.write_table(spark.range(3).withColumnRenamed("id", "v"), "db.t1")
assert st.read_table("db.t1").count() == 3       # atomic REPLACE
st.invalidate("db.t1")
assert not st.table_complete("db.t1")
spark.stop()
print("ICEBERG_OK")
"""
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ICEBERG_OK" in proc.stdout
