"""Pair scoring (dedup/verify.py) and the per-document queries that share
its scorers (dedup/kernel.dedupe_one / dedupe_metadata): the Arrow
kernels on sliced and NULL-bearing batches, fixture oracles, Arrow
batch-size invariance, and the equivalence with the former mapInPandas
verify."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"

# the schema the former mapInPandas verify barrier declared
_VERIFIED_SCHEMA = ("a string, b string, match_source string, "
                    "similarity double, jaccard double, keep boolean")


# --- Arrow kernels ------------------------------------------------------------

def test_kernels_on_sliced_batch_with_null_and_ragged_rows():
    from dedup.verify import (_cosine_kernel, _jaccard_kernel,
                              _list_array_matrix, cosine_similarity)

    rng = np.random.default_rng(3)
    A = rng.integers(1, 2**61, size=(6, 16))
    B = rng.integers(1, 2**61, size=(6, 16))
    rows_a = [A[i].tolist() for i in range(6)]
    rows_a[2] = None
    # a leading row sliced away: the batch starts at a non-zero offset
    sig_a = pa.array([[7] * 16] + rows_a, pa.list_(pa.int64())).slice(1)
    sig_b = pa.array([[9] * 16] + [r.tolist() for r in B],
                     pa.list_(pa.int64())).slice(1)
    got = _cosine_kernel(sig_a, sig_b).to_pylist()
    assert got[2] is None
    for i in (0, 1, 3, 4, 5):
        assert got[i] == cosine_similarity(A[i], B[i]), i

    sh_a = pa.array([[1, 2], [1, 2, 3], None, [5, -1]],
                    pa.list_(pa.int32())).slice(1)
    sh_b = pa.array([[8], [2, 3, 4], [1], [5, 6]],
                    pa.list_(pa.int32())).slice(1)
    # -1 is the int32 bit pattern of 2^32 - 1: no match against 6
    assert _jaccard_kernel(sh_a, sh_b).to_pylist() == [0.5, None, 1 / 3]

    ragged = pa.array([[0] * 3, [1, 2, 3], [4]], pa.list_(pa.int64())).slice(1)
    with pytest.raises(ValueError, match="length"):
        _list_array_matrix(ragged)
    with pytest.raises(ValueError, match="length"):
        _cosine_kernel(ragged, ragged)


# --- fixture oracles ----------------------------------------------------------

@pytest.mark.parametrize("name", ["dedupe_one_url", "dedupe_by_metadata",
                                  "dup_clusters_engine"])
def test_scoring_queries_match_fixture_oracles(spark, name):
    """The queries that score through dedup/verify's UDF columns against
    their frozen sf0.01 VALUES fixtures (the fixtures are frozen at
    sf0.01; other scale factors do not match them)."""
    from tests.harness_oracle import compare_query, duck_connection

    from dedup.queries import ORACLE_SQL, QUERIES

    con = duck_connection(SF)
    problems = compare_query(spark, con, name, QUERIES[name],
                             ORACLE_SQL[name], SF)
    assert not problems, problems


# --- Arrow batch-size invariance ----------------------------------------------

@pytest.fixture(scope="module")
def small_tables(spark):
    from dedup.config import ENGINE_CONFIG, PARITY_CONFIG
    from dedup.lsh import candidate_pairs
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table

    corpus = docs_as_corpus(spark, SF_SMALL).persist()
    out = {}
    for mode, cfg in (("cosine", PARITY_CONFIG), ("jaccard", ENGINE_CONFIG)):
        sigs = signatures_table(corpus, cfg).persist()
        pairs = candidate_pairs(sigs, cfg,
                                use_simhash_prefilter=mode == "jaccard")
        out[mode] = (cfg, sigs, pairs.persist())
    out["title"] = corpus.where("url like '%/docs/3'").first()["text"]
    yield out
    for mode in ("cosine", "jaccard"):
        out[mode][1].unpersist()
        out[mode][2].unpersist()
    corpus.unpersist()


def _batch_size_runs(spark, build):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    runs = {}
    try:
        for size in (1, 3, old):
            spark.conf.set(key, str(size))
            runs[size] = sorted(tuple(r) for r in build().collect())
    finally:
        spark.conf.set(key, old)
    return runs


@pytest.mark.parametrize("mode", ["cosine", "jaccard"])
def test_verify_pairs_batch_size_invariant(spark, small_tables, mode):
    from dedup.verify import verify_pairs

    cfg, sigs, pairs = small_tables[mode]
    runs = _batch_size_runs(spark, lambda: verify_pairs(pairs, sigs, cfg))
    base = runs.pop(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert any(r[5] for r in base)
    for size, rows in runs.items():
        assert rows == base, size


@pytest.mark.parametrize("mode", ["cosine", "jaccard"])
def test_per_document_queries_batch_size_invariant(spark, small_tables,
                                                    mode):
    from dedup.kernel import SourceMetadata, dedupe_metadata, dedupe_one

    cfg, sigs, _ = small_tables[mode]
    src = SourceMetadata(title=small_tables["title"])
    for build in (
            lambda: dedupe_one(sigs, "https://mirror.net/copy/7", cfg,
                               scoring=mode),
            lambda: dedupe_metadata(sigs, src, cfg, threshold=0.0,
                                    scoring=mode)):
        runs = list(_batch_size_runs(spark, build).values())
        assert runs[0], mode
        assert all(r == runs[0] for r in runs[1:]), mode


# --- equivalence with the former mapInPandas verify ---------------------------

def test_verify_cosine_matches_r5_barrier_and_evaluates_udf_once(spark):
    # the r6 parity path scores through a nondeterministic pandas-UDF
    # column; results must equal the r5 mapInPandas barrier exactly and
    # the plan must hold exactly ONE ArrowEvalPython (no CollapseProject
    # duplication under the keep comparison / where(keep))
    import pandas as pd
    from dedup.config import PARITY_CONFIG
    from dedup.lsh import candidate_pairs
    from dedup.queries import docs_as_corpus
    from dedup.signature import signatures_table
    from dedup.verify import batch_cosines, verify_pairs

    def old_verify(pairs, signatures, cfg):
        sig = (signatures.select("url", "minhash")
               .where(F.col("minhash").isNotNull()))
        sa = sig.select(F.col("url").alias("a"),
                        F.col("minhash").alias("_sig_a"))
        sb = sig.select(F.col("url").alias("b"),
                        F.col("minhash").alias("_sig_b"))
        url_exact = (pairs.where(F.col("match_source") == "url_exact")
                     .select("a", "b", "match_source",
                             F.lit(1.0).alias("similarity"),
                             F.lit(1.0).alias("jaccard"),
                             F.lit(True).alias("keep")))
        joined = (pairs.where(F.col("match_source") != "url_exact")
                  .join(sa, "a").join(sb, "b"))
        threshold = cfg.threshold

        def score_cosine(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                sims = batch_cosines(pdf["_sig_a"], pdf["_sig_b"])
                yield pd.DataFrame({
                    "a": pdf["a"], "b": pdf["b"],
                    "match_source": pdf["match_source"],
                    "similarity": sims,
                    "jaccard": np.full(len(pdf), np.nan),
                    "keep": sims >= threshold,
                })

        scored = joined.mapInPandas(score_cosine, schema=_VERIFIED_SCHEMA)
        return url_exact.unionByName(scored)

    sigs = signatures_table(docs_as_corpus(spark, SF), PARITY_CONFIG)
    pairs = candidate_pairs(sigs, PARITY_CONFIG).persist()
    pairs.count()
    o, n = (old_verify(pairs, sigs, PARITY_CONFIG),
            verify_pairs(pairs, sigs, PARITY_CONFIG))
    assert str(o.schema) == str(n.schema)

    def norm(rows):
        # raw values on purpose: the old barrier's np.nan became NULL
        # through pandas→Arrow, and a NaN literal would NOT equal it
        return sorted((r["a"], r["b"], r["match_source"],
                       r["similarity"], r["jaccard"], r["keep"])
                      for r in rows)

    assert norm(o.collect()) == norm(n.collect())
    plan = (n.where("keep")._jdf.queryExecution().executedPlan()
            .toString())
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    pairs.unpersist()
