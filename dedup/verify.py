"""Pair scoring: one cosine scorer and one exact-Jaccard scorer.

The reference scores a pair as the cosine of the two MinHash signature
vectors — NOT a Jaccard estimate (reference app/hash_detector.py:138-154,
formula at :153). Parity runs must therefore use cosine; engine mode adds
exact Jaccard over the shingle sets (the north-star's "exact verification").

Every scoring caller goes through the two Arrow-UDF columns defined here,
`cosine_udf` and `jaccard_udf`:
- `verify_pairs`, the pipeline's verify stage, in both scoring modes;
- the per-document queries `dedupe_one` and `dedupe_metadata`
  (dedup/kernel.py), which score their candidates against the source's
  driver-side vector passed as an array literal.

Both run one Arrow batch per call on the ListArray buffers, with no
per-row Python loop:
- cosine reshapes each side's values buffer into an (n, k) matrix and
  scores every row with one batched matmul, bit-identical to the
  reference's per-pair ``np.dot / (norm * norm)`` float64 formula;
- Jaccard packs (row << 32 | shingle) composite keys over the flattened
  lists and counts every intersection with one searchsorted.
Row boundaries come from the ListArray offsets, so sliced batches (non-zero
offsets) and NULL rows are handled; NULL rows score NULL, and a signature
list of the wrong length raises instead of misaligning rows.

Candidate pairs arrive as a slim (a, b) table; signatures are joined back
by key in `verify_pairs`, so the wide arrays never ride through the
banding shuffle.
"""

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DoubleType

from dedup.config import DedupConfig, minhash_prefilter_min_equal


def cosine_similarity(sig1: np.ndarray, sig2: np.ndarray) -> float:
    """Reference-identical cosine on float64 vectors
    (parity: app/hash_detector.py:149-154)."""
    if sig1 is None or sig2 is None:
        return 0.0
    s1 = sig1.astype(np.float64, copy=False)
    s2 = sig2.astype(np.float64, copy=False)
    return float(np.dot(s1, s2) / (np.linalg.norm(s1) * np.linalg.norm(s2)))


def _cosines_from_matrices(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Batched reference cosine over two (n, k) float64 matrices: batched
    BLAS matmul scores every pair at once, BIT-IDENTICAL to the
    reference's per-pair np.dot / np.linalg.norm (same BLAS kernels;
    verified by tests/test_signature.py cosine parity) — unlike
    einsum/sum(axis=1), whose pairwise summation differs from ddot in the
    last ulp."""
    dots = np.matmul(A[:, None, :], B[:, :, None]).ravel()
    na = np.sqrt(np.matmul(A[:, None, :], A[:, :, None]).ravel())
    nb = np.sqrt(np.matmul(B[:, None, :], B[:, :, None]).ravel())
    return dots / (na * nb)


def _list_parts(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """pyarrow ListArray -> (values, lens, valid): the values of the
    non-NULL rows concatenated in row order (native dtype), each row's
    length (0 for NULL rows) and the validity mask. Row boundaries come
    from the offsets, which already account for a slice's offset."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = np.asarray(arr.offsets, dtype=np.int64)
    lens = np.diff(offsets)
    valid = np.asarray(arr.is_valid(), dtype=bool)
    values = np.asarray(arr.values)[offsets[0]:offsets[-1]]
    if not valid.all():
        values = values[np.repeat(valid, lens)]
        lens = np.where(valid, lens, 0)
    return values, lens, valid


def _list_array_matrix(arr) -> tuple[np.ndarray, np.ndarray]:
    """pyarrow ListArray of equal-length numeric lists -> ((n, k) float64
    matrix, validity mask). NULL rows become zero rows; a non-NULL list
    whose length differs from the others raises — reshaping it would
    silently shift every later row."""
    values, lens, valid = _list_parts(arr)
    n = len(valid)
    if not valid.any():
        return np.zeros((n, 0)), valid
    k = int(lens[valid][0])
    if (lens[valid] != k).any():
        raise ValueError(
            "signature lists differ in length within one batch "
            f"(lengths {sorted(set(lens[valid].tolist()))})")
    if valid.all():
        return values.reshape(n, k).astype(np.float64), valid
    mat = np.zeros((n, k))
    mat[valid] = values.reshape(-1, k)
    return mat, valid


def _cosine_kernel(sig_a: pa.Array, sig_b: pa.Array) -> pa.Array:
    """Reference cosine per row of two signature ListArrays; NULL when
    either side is NULL (or the cosine is NaN)."""
    A, valid_a = _list_array_matrix(sig_a)
    B, valid_b = _list_array_matrix(sig_b)
    valid = valid_a & valid_b
    if not valid.any():
        return pa.nulls(len(valid), pa.float64())
    if A.shape != B.shape:
        raise ValueError(f"signature lengths differ: {A.shape[1]} vs "
                         f"{B.shape[1]}")
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = _cosines_from_matrices(A, B)
    return pa.array(sims, type=pa.float64(), mask=~valid | np.isnan(sims))


def _jaccard_kernel(sh_a: pa.Array, sh_b: pa.Array) -> pa.Array:
    """Exact Jaccard per row of two shingle ListArrays with ONE
    np.searchsorted; NULL when either side is NULL.

    Stored shingles are int32 BIT PATTERNS of uint32 CRC hashes (see
    dedup/signature.SIGNATURE_SCHEMA); masking after the int64 widen
    reconstructs the unsigned values (a nonnegative int64 list passes
    through unchanged). Packing (row << 32 | value) yields composite keys
    that are globally sorted when each B-side list is sorted, so one
    binary search of all A-side keys into the B buffer counts every
    row's intersection at once; per-row counts come back via bincount.
    Only the B side needs to be sorted; union = |A| + |B| - matches."""
    flat_a, lens_a, valid_a = _list_parts(sh_a)
    flat_b, lens_b, valid_b = _list_parts(sh_b)
    n = len(valid_a)
    rows = np.arange(n, dtype=np.int64)
    comp_a = (np.repeat(rows, lens_a) << 32) | (
        flat_a.astype(np.int64) & 0xFFFFFFFF)
    comp_b = (np.repeat(rows, lens_b) << 32) | (
        flat_b.astype(np.int64) & 0xFFFFFFFF)
    if comp_b.size and comp_a.size:
        idx = np.searchsorted(comp_b, comp_a)
        np.minimum(idx, comp_b.size - 1, out=idx)
        matched = comp_b[idx] == comp_a
        inter = np.bincount(comp_a[matched] >> 32, minlength=n)
    else:
        inter = np.zeros(n, dtype=np.int64)
    union = lens_a + lens_b - inter
    with np.errstate(invalid="ignore", divide="ignore"):
        jac = np.where(union > 0, inter / union, 0.0)
    return pa.array(jac, type=pa.float64(), mask=~(valid_a & valid_b))


# Nondeterministic on purpose: it stops CollapseProject from inlining the
# UDF once per referencing expression (a score column read by both the
# output and the keep comparison) and stops filter pushdown from
# re-evaluating it below `where(keep)` — so each scorer is ONE
# ArrowEvalPython in the plan. Only the two array columns cross the
# Python boundary.
cosine_udf = F.arrow_udf(_cosine_kernel, DoubleType()).asNondeterministic()
jaccard_udf = F.arrow_udf(_jaccard_kernel, DoubleType()).asNondeterministic()


def _series_list_array(s) -> pa.Array:
    return pa.array(list(s), type=pa.list_(pa.int64()))


def batch_cosines(sig_a_series, sig_b_series) -> np.ndarray:
    """The cosine kernel over two pandas Series of equal-length signature
    arrays (NaN where a side is None)."""
    return _cosine_kernel(
        _series_list_array(sig_a_series),
        _series_list_array(sig_b_series)).to_numpy(zero_copy_only=False)


def batch_jaccards(sh_a_series, sh_b_series) -> np.ndarray:
    """The Jaccard kernel over two pandas Series of sorted, distinct
    shingle arrays; a None array counts as the empty set."""
    return (_jaccard_kernel(_series_list_array(sh_a_series),
                            _series_list_array(sh_b_series))
            .fill_null(0.0).to_numpy(zero_copy_only=False))


def minhash_equal_count(sig_a: Column, sig_b: Column) -> Column:
    """Number of equal MinHash components between two signature columns —
    k times the standard MinHash Jaccard estimate, as an exact INT.
    Pure native expression (whole-stage codegen)."""
    return F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                           lambda v: v))


def signed_shingles(shingles: str, minhash: str, url: str) -> Column:
    """The `shingles` column, raising for a signed row (non-NULL minhash)
    whose shingles are NULL: such a row means the signatures table mixes
    keep_shingles=False rows (a parity-slim append into an engine
    workdir, or a pre-keep_shingles resume), and scoring it as the empty
    set would silently drop its duplicates."""
    return (F.when(F.col(shingles).isNull() & F.col(minhash).isNotNull(),
                   F.raise_error(F.concat(
                       F.lit("scoring='jaccard' hit a signed row with NULL "
                             "shingles (url="), F.col(url),
                       F.lit("): the signatures table mixes "
                             "keep_shingles=False rows — rebuild it under "
                             "one engine config"))))
            .otherwise(F.col(shingles)))


def verify_pairs(pairs: DataFrame, signatures: DataFrame,
                 cfg: DedupConfig) -> DataFrame:
    """(a, b [, match_source]) + signatures -> verified pairs with scores.

    Output: a, b, match_source, similarity (reference cosine), jaccard
    (exact, on the shingle sets; NULL in cosine mode), keep (boolean
    decision).

    url_exact pairs keep similarity 1.0 and bypass the threshold, matching
    the reference short-circuit (app/hash_detector.py:263-266, :295-297);
    they never reach the scorers. Every other pair joins both signatures
    by key (unsigned documents drop out) and is scored by the batch
    Arrow-UDF columns: `cosine_udf` in both modes, `jaccard_udf` in
    jaccard mode.

    Cosine (parity) mode keeps pairs with similarity >= cfg.threshold.

    Jaccard (engine) mode keeps pairs with jaccard >= cfg.jaccard_threshold
    and runs a native prefilter BEFORE the shingle join: the MinHash
    Jaccard estimate (equal-component count over the two signatures, free
    once the narrow minhash columns are joined) rejects pairs estimating
    below jaccard_threshold - jaccard_prefilter_margin. Rejected pairs are
    emitted with NULL scores and keep=false — they never carry shingle
    arrays and never enter Python. Survivors join the shingle arrays by
    key; a survivor with NULL shingles raises (`signed_shingles`). The
    prefilter is a deterministic pure function of the signatures and is
    replicated exactly by the single-node oracle
    (dedup/local_oracle.local_verify), so Spark and oracle keep decisions
    agree bit-for-bit.
    """
    if "match_source" not in pairs.columns:
        pairs = pairs.withColumn("match_source", F.lit("lsh"))
    sig = (signatures.select("url", "minhash")
           .where(F.col("minhash").isNotNull()))
    sa = sig.select(F.col("url").alias("a"), F.col("minhash").alias("_sig_a"))
    sb = sig.select(F.col("url").alias("b"), F.col("minhash").alias("_sig_b"))

    url_exact = pairs.where(F.col("match_source") == "url_exact").select(
        "a", "b", "match_source",
        F.lit(1.0).alias("similarity"),
        F.lit(1.0).alias("jaccard"),
        F.lit(True).alias("keep"),
    )

    joined = (pairs.where(F.col("match_source") != "url_exact")
              .join(sa, "a").join(sb, "b"))
    cosine = cosine_udf("_sig_a", "_sig_b")

    if cfg.scoring != "jaccard":
        scored = (joined
                  .withColumn("similarity", cosine)
                  .withColumn("jaccard", F.lit(None).cast("double"))
                  .withColumn("keep",
                              F.col("similarity") >= F.lit(cfg.threshold)))
    else:
        # NOTE: rejected + survivors both derive from `joined`, so the
        # pairs-signatures join is planned twice (once per union branch);
        # AQE reuses the exchange and the join is cheap next to scoring.
        est = minhash_equal_count(F.col("_sig_a"), F.col("_sig_b"))
        min_equal = minhash_prefilter_min_equal(cfg)
        rejected = (joined.where(est < min_equal)
                    .select("a", "b", "match_source",
                            F.lit(None).cast("double").alias("similarity"),
                            F.lit(None).cast("double").alias("jaccard"),
                            F.lit(False).alias("keep")))
        sh = signatures.select("url", "shingles")
        sha = sh.select(F.col("url").alias("a"),
                        F.col("shingles").alias("_sh_a"))
        shb = sh.select(F.col("url").alias("b"),
                        F.col("shingles").alias("_sh_b"))
        # both scorers in ONE projection: one ArrowEvalPython, so one
        # Python worker per task instead of two chained ones
        survivors = (joined.where(est >= min_equal)
                     .join(sha, "a").join(shb, "b")
                     .select("a", "b", "match_source",
                             cosine.alias("similarity"),
                             jaccard_udf(
                                 signed_shingles("_sh_a", "_sig_a", "a"),
                                 signed_shingles("_sh_b", "_sig_b", "b"))
                             .alias("jaccard"))
                     .withColumn("keep", F.col("jaccard")
                                 >= F.lit(cfg.jaccard_threshold)))
        scored = survivors.unionByName(rejected)

    return url_exact.unionByName(scored.select(
        # nullif(null) never fires; the wrappers pin the all-nullable
        # schema the verified table has always had
        F.nullif("a", F.lit(None).cast("string")).alias("a"),
        F.nullif("b", F.lit(None).cast("string")).alias("b"),
        F.nullif("match_source", F.lit(None).cast("string"))
        .alias("match_source"),
        "similarity", "jaccard", "keep"))
