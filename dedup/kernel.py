"""Per-query detection kernel — DataFrame reimplementation of the
reference's `find_duplicates` (app/hash_detector.py:167-318, operator T9).

Given one source document's metadata and a DataFrame of candidate nodes
(the reference's remote-search results, modeled as rows with the raw
edu-sharing property map), produce the same duplicates list and per-field
max-similarity stats. This is the `dedupe_one` query mode (SURVEY §3.4):
the source row is a broadcast scalar; candidates are the distributed side.

Decomposition (SURVEY §2.1 T9a-T9h):
  T9a  source text assembly from valid fields         (:189-207)
  T9b  candidate field extraction w/ key precedence   (:223-247)
  T9c  URL-exact short-circuit, threshold bypass      (:249-266, :295-297)
  T9d  candidate signature + cosine scoring           (:268-284)
  T9e  per-field max similarity (pre-dedup, 4 dp)     (:286-288, :307-309)
  T9f  first-occurrence dedup across fields           (:211-214, :290-293)
  T9g  threshold filter                               (:295-305)
  T9h  stable desc sort                               (:311-312)

The corpus-scale per-document queries live here too: `dedupe_one`
(`/detect/hash/by-node`) and `dedupe_metadata` (`/detect/hash/by-metadata`).
This module owns only their candidate lookup (`_key_candidates`, one
IN-list filter over the key index); both score through the pipeline's
own Arrow-UDF scorers in dedup/verify.py (`_score_against_source`).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType

from dedup.coeffs import load_coeffs
from dedup.config import DedupConfig, minhash_prefilter_min_equal
from dedup.normalize import is_valid_field, normalize_url
from dedup.signature import compute_text_signature
from dedup.verify import (cosine_similarity, cosine_udf, jaccard_udf,
                          minhash_equal_count, signed_shingles)

# candidate DataFrame contract: one row per (search_field, candidate) in
# request order. field_priority = index of the field in the request's
# search_fields list; candidate_seq = position within that field's result
# list. Together they encode the Python dict/list insertion order the
# reference's seen-id dedup depends on (T9f).
CANDIDATE_COLUMNS = ("search_field", "field_priority", "candidate_seq",
                     "node_id", "properties")

# key precedence for candidate field extraction (hash_detector.py:229-247)
_TITLE_KEYS = ("cclom:title", "cm:name")
_DESC_KEYS = ("cclom:general_description",)
_URL_KEYS = ("ccm:wwwurl", "cclom:location")


@dataclass
class SourceMetadata:
    title: str | None = None
    description: str | None = None
    url: str | None = None
    redirect_url: str | None = None


def _require_shingles(signatures: DataFrame) -> None:
    """scoring='jaccard' needs real shingle arrays. A parity-slim table
    still carries the column (all null, keep_shingles=False), so probe one
    signed row — silently-empty results would otherwise masquerade as
    'no duplicates'."""
    if "shingles" not in signatures.columns:
        raise ValueError(
            "scoring='jaccard' needs a signatures table with shingle "
            "arrays (build it under an engine config / keep_shingles=True)")
    probe = (signatures.where(F.col("minhash").isNotNull())
             .select("shingles").first())
    if probe is None:
        return  # no signed rows at all — nothing to score, not a slim table
    if probe["shingles"] is None:
        raise ValueError(
            "scoring='jaccard' needs a signatures table with shingle "
            "arrays (build it under an engine config / keep_shingles=True)")


def _precedence_extract(props_col, keys: tuple[str, ...]):
    """First-present-KEY extraction: a present key with a null/empty value
    STOPS the chain (the reference `break`s on key presence, not on value
    validity — hash_detector.py:229-232). F.get returns NULL out-of-bounds
    (ANSI-safe, unlike element_at)."""
    expr = F.lit(None).cast("string")
    for key in reversed(keys):
        expr = F.when(F.map_contains_key(props_col, F.lit(key)),
                      F.get(props_col.getItem(key), 0)).otherwise(expr)
    return expr


def find_duplicates(source: SourceMetadata, candidates: DataFrame,
                    cfg: DedupConfig | None = None,
                    threshold: float | None = None,
                    ) -> tuple[DataFrame, DataFrame]:
    """-> (duplicates, field_max) DataFrames.

    duplicates: node_id, title, description, url, similarity_score,
                match_source — sorted by similarity desc (ties broken by
                arrival order: the reference's sort is stable, T9h).
    field_max:  search_field, max_similarity (rounded 4 dp; one row per
                field that had candidates, T9e).
    """
    cfg = cfg or DedupConfig()
    # reference quirk, replicated deliberately: `threshold or default`
    # (app/hash_detector.py:187) treats 0.0 as "unset" and silently uses the
    # default 0.9 — so does this kernel.
    threshold = threshold or cfg.threshold
    spark = candidates.sparkSession

    # --- T9a: source text from valid fields only (driver-side scalars)
    has_title = is_valid_field(source.title)
    has_description = is_valid_field(source.description)
    parts = []
    if has_title:
        parts.append(source.title)
    if has_description:
        parts.append(source.description)
    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    source_sig = compute_text_signature(" ".join(parts), A, B, cfg)
    if source_sig is None:
        empty_dups = spark.createDataFrame(
            [], "node_id string, title string, description string, "
                "url string, similarity_score double, match_source string")
        empty_max = spark.createDataFrame(
            [], "search_field string, max_similarity double")
        return empty_dups, empty_max

    src_norm_url = normalize_url(source.url)
    src_norm_redirect = (normalize_url(source.redirect_url)
                         if source.redirect_url else None)
    src_sig_f64 = source_sig.astype(np.float64)

    # --- T9b: candidate field extraction with key precedence
    c = (candidates
         .where(F.col("node_id").isNotNull() & (F.col("node_id") != ""))
         .withColumn("title", _precedence_extract(F.col("properties"), _TITLE_KEYS))
         .withColumn("description", _precedence_extract(F.col("properties"), _DESC_KEYS))
         .withColumn("url", _precedence_extract(F.col("properties"), _URL_KEYS)))

    # --- T9c: URL-exact match (vs source url AND redirect_url)
    @F.pandas_udf("boolean")
    def url_match_udf(urls: pd.Series) -> pd.Series:
        def match(u):
            n = normalize_url(u)
            if not n:
                return False
            return bool((src_norm_url and n == src_norm_url)
                        or (src_norm_redirect and n == src_norm_redirect))
        return urls.map(match)

    # --- T9d: candidate text from the SAME field subset as the source,
    # then cosine vs the broadcast source signature. A candidate field
    # contributes only if source has it AND the candidate value is truthy
    # (reference `if has_title and title:` — hash_detector.py:271-274).
    @F.pandas_udf(DoubleType())
    def score_udf(titles: pd.Series, descriptions: pd.Series) -> pd.Series:
        out = []
        for t, d in zip(titles, descriptions):
            parts = []
            if has_title and t:
                parts.append(t)
            if has_description and d:
                parts.append(d)
            sig = compute_text_signature(" ".join(parts), A, B, cfg)
            if sig is None:
                out.append(None)  # reference skips this candidate (:280-281)
            else:
                out.append(cosine_similarity(src_sig_f64,
                                             sig.astype(np.float64)))
        return pd.Series(out, dtype="float64")

    scored = (
        c.withColumn("url_match", url_match_udf(F.col("url")))
        .withColumn(
            "similarity",
            F.when(F.col("url_match"), F.lit(1.0))
            .otherwise(score_udf(F.col("title"), F.col("description"))))
        .withColumn(
            "match_source",
            F.when(F.col("url_match"), F.lit("url_exact"))
            .otherwise(F.col("search_field")))
    )

    # --- T9e: per-field max BEFORE dedup; sig-None rows excluded; fields
    # that returned candidates but produced no score report 0.0
    field_max = (
        candidates.groupBy("search_field", "field_priority")
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(
            scored.groupBy("search_field")
            .agg(F.max("similarity").alias("_max")),
            "search_field", "left")
        .select(
            "search_field",
            F.round(F.coalesce(F.col("_max"), F.lit(0.0)), 4)
            .alias("max_similarity"),
            "field_priority")
        .orderBy("field_priority")
        .drop("field_priority")
    )

    # --- T9f/T9g/T9h: first-occurrence dedup, threshold, stable sort
    w = Window.partitionBy("node_id").orderBy("field_priority", "candidate_seq")
    duplicates = (
        scored.where(F.col("similarity").isNotNull())
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") == 1)
        .where(F.col("url_match") | (F.col("similarity") >= F.lit(threshold)))
        .select(
            "node_id", "title", "description", "url",
            F.round(F.col("similarity"), 4).alias("similarity_score"),
            "match_source", "field_priority", "candidate_seq")
        .orderBy(F.desc("similarity_score"), F.asc("field_priority"),
                 F.asc("candidate_seq"))
        .drop("field_priority", "candidate_seq")
    )
    return duplicates, field_max


def _key_candidates(signatures: DataFrame, cfg: DedupConfig,
                    key_index: DataFrame | None, minhash,
                    url_keys, title_keys, desc_key,
                    exclude_url: str | None = None) -> DataFrame:
    """The source's blocking keys -> (url, _rank) candidates.

    The source's ~b+2 keys are derived driver-side: band keys with the
    same xxHash64 the executors use, the normalized url/redirect keys, and
    the title / description-prefix keys when the corpus rows carry them.
    They are pushed into ONE key-list filter over the key table — no join
    against the full signatures table carries arrays. `key_index` is the
    persisted inverted key table (DedupPipeline.run(build_key_index=True):
    range-partitioned and sorted by key, so the IN-list prunes parquet row
    groups via min/max stats); without it the keys are derived on the fly.
    `_rank` is the best provenance over the matched keys (key_rank_col)."""
    from dedup.local_oracle import xxh64_band_key
    from dedup.lsh import key_rank_col, unified_group_keys

    band_keys: list[int] = []
    if minhash is not None:
        b, r = cfg.lsh_bands, cfg.lsh_rows
        band_keys = [xxh64_band_key(i, minhash[i * r:(i + 1) * r])
                     for i in range(b)]
    url_keys = sorted(set(url_keys))
    txt_keys: list[str] = []
    if "title_keys" in signatures.columns:
        txt_keys = [f"t:{k}" for k in (title_keys or [])]
        if desc_key is not None:
            txt_keys.append(f"d:{desc_key}")
    keys = (key_index if key_index is not None
            else unified_group_keys(signatures, cfg))
    cands = keys.where(F.col("gk_band").isin(band_keys)
                       | F.col("gk_url").isin(url_keys)
                       | F.col("gk_txt").isin(txt_keys))
    if exclude_url is not None:
        cands = cands.where(F.col("url") != exclude_url)
    return cands.groupBy("url").agg(F.min(key_rank_col()).alias("_rank"))


def _array_lit(values):
    """A driver-side vector as an array<bigint> literal (one JVM call);
    NULL for a missing or empty vector, so its scores come back NULL."""
    if values is None or len(values) == 0:
        return F.lit(None).cast("array<bigint>")
    return F.lit(np.asarray(values, dtype=np.int64))


def _score_against_source(cands: DataFrame, signatures: DataFrame,
                          cfg: DedupConfig, src_minhash, src_shingles,
                          threshold: float, use_jaccard: bool) -> DataFrame:
    """(url, _rank) candidates -> (node_url, similarity, match_source),
    scored against the source's driver-side vectors by the pipeline's own
    scorers (dedup/verify.cosine_udf / jaccard_udf).

    url_exact candidates (rank 0) score 1.0 and bypass the threshold; the
    rest keep when score >= threshold, and unsigned candidates (NULL
    score) drop. Similarity is rounded to 4 dp like the reference boundary
    (app/hash_detector.py:303).

    Jaccard scoring first applies the verify stage's MinHash-estimate
    prefilter against the source signature, with the cut derived from the
    CALLER'S threshold (0.0 = 'keep everything' relaxes it to a no-op).
    Rank-0 candidates bypass the cut, and so do NULL-shingle candidates:
    they must reach the signed_shingles guard and raise, not drop
    silently below the cut."""
    from dedup.lsh import match_source_from_rank

    src_mh = _array_lit(src_minhash)
    if use_jaccard:
        joined = cands.join(
            signatures.select("url", "minhash", "shingles"), "url")
        if src_minhash is not None:
            min_eq = minhash_prefilter_min_equal(cfg, threshold=threshold)
            joined = joined.where(
                (F.col("_rank") == 0) | F.col("shingles").isNull()
                | (minhash_equal_count(F.col("minhash"), src_mh) >= min_eq))
        score = jaccard_udf(signed_shingles("shingles", "minhash", "url"),
                            _array_lit(src_shingles))
    else:
        joined = cands.join(signatures.select("url", "minhash"), "url")
        score = cosine_udf("minhash", src_mh)
    scored = joined.select(
        F.col("url").alias("node_url"),
        F.when(F.col("_rank") == 0, F.lit(1.0))
        .otherwise(score).alias("similarity"),
        match_source_from_rank(F.col("_rank")).alias("match_source"))
    return (scored
            .where(F.col("similarity").isNotNull())
            .where((F.col("match_source") == "url_exact")
                   | (F.col("similarity") >= F.lit(threshold)))
            .select("node_url", F.round("similarity", 4).alias("similarity"),
                    "match_source")
            .orderBy(F.desc("similarity"), F.asc("node_url")))


def dedupe_metadata(signatures: DataFrame, source: SourceMetadata,
                    cfg: DedupConfig | None = None,
                    threshold: float | None = None,
                    key_index: DataFrame | None = None,
                    scoring: str | None = None) -> DataFrame:
    """Ad-hoc by-metadata query at corpus scale — the reference's
    `/detect/hash/by-metadata` (app/main.py:534-613): the source document is
    NOT in the corpus; its signature and blocking keys are computed
    driver-side from the given title/description/url (T9a semantics:
    valid fields only), candidates come from the same key lookup as
    `dedupe_one` (_key_candidates), and scoring is the reference cosine
    against the source signature (_score_against_source).

    Returns (node_url, similarity, match_source) like `dedupe_one`.

    `scoring` mirrors dedupe_one: None/"cosine" (default) keeps the
    reference cosine decision; "jaccard" scores candidates by exact
    Jaccard of their shingle arrays against the source's shingle set
    (computed driver-side) and thresholds on cfg.jaccard_threshold —
    the similarity column then carries the Jaccard. An explicit
    threshold of 0.0 means "keep everything" (engine API); only the
    parity kernel find_duplicates replicates the reference's
    `threshold or default` quirk (app/hash_detector.py:187)."""
    from dedup.normalize import description_block_key, title_block_keys
    from dedup.signature import _shingle_array, tokenize

    cfg = cfg or DedupConfig()
    use_jaccard = scoring == "jaccard"
    if use_jaccard:
        _require_shingles(signatures)
    if threshold is None:
        threshold = cfg.jaccard_threshold if use_jaccard else cfg.threshold

    parts = ([source.title] if is_valid_field(source.title) else []) + \
        ([source.description] if is_valid_field(source.description) else [])
    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    src_sig = compute_text_signature(" ".join(parts), A, B, cfg)
    url_keys = [n for n in (normalize_url(source.url),
                            normalize_url(source.redirect_url)
                            if source.redirect_url else None) if n]
    # metadata blocking keys: the reference's title / description-prefix
    # candidate searches (app/wlo_client.py:265-311)
    cands = _key_candidates(signatures, cfg, key_index, src_sig, url_keys,
                            title_block_keys(source.title),
                            description_block_key(source.description))
    src_sh = None
    if use_jaccard:
        # same shingling as signatures_table (signature._shingle_array) so
        # the driver-side source set can't drift from the stored arrays
        words = tokenize(" ".join(parts))
        if words:
            src_sh = np.sort(_shingle_array(words, cfg).astype(np.int64))
    return _score_against_source(cands, signatures, cfg, src_sig, src_sh,
                                 threshold, use_jaccard)


def build_candidate_stats(search_info: DataFrame,
                          field_max: DataFrame) -> DataFrame:
    """M3 stats assembly (reference app/main.py:178-204): per-field search
    stats with search_value truncated to 80 chars and normalized_value to
    50, left-joined with the kernel's per-field max similarity (T9e).

    search_info columns: search_field, search_value, normalized_value,
    candidates_found. Output adds max_similarity (null when the field
    produced no scored candidates — the reference omits the key).

    Truncation is the reference's display form exactly: values LONGER than
    the limit become the first `limit` chars + '...' (main.py:185,192);
    values at or under the limit pass through unchanged."""
    def _trunc(col: str, limit: int):
        c = F.col(col)
        return (F.when(F.length(c) > limit,
                       F.concat(F.substring(c, 1, limit), F.lit("...")))
                .otherwise(c).alias(col))

    truncated = search_info.select(
        "search_field",
        _trunc("search_value", 80),
        _trunc("normalized_value", 50),
        F.col("candidates_found").cast("int").alias("candidates_found"))
    return truncated.join(
        field_max.select("search_field", "max_similarity"),
        "search_field", "left")


def dedupe_one(signatures: DataFrame, url: str,
               cfg: DedupConfig | None = None,
               key_index: DataFrame | None = None,
               scoring: str | None = None) -> DataFrame:
    """Per-key corpus query — the reference's `/detect/hash/by-node`
    (app/main.py:499-531) against the corpus signatures table: point-lookup
    the source row, restrict candidates to documents sharing any LSH band,
    normalized-URL or metadata key with it (_key_candidates; the key
    lookup replaces the reference's remote candidate search, SURVEY §3.4),
    score them against the source's vectors with the pipeline's scorers
    (_score_against_source), and exclude the source itself
    (app/wlo_client.py:377-381 semantics).

    Returns (node_url, similarity, match_source) for candidates that are
    url_exact or score >= threshold, similarity rounded to 4 dp like the
    reference boundary (app/hash_detector.py:303). Pass `key_index` (see
    _key_candidates) to skip re-exploding the signatures per query.

    `scoring` picks the keep semantics: None/"cosine" (default) is the
    reference cosine decision regardless of cfg.scoring, so the two
    per-document CLI modes stay consistent under --engine-mode;
    "jaccard" opts into engine exact-Jaccard keep semantics (requires a
    signatures table that kept the shingle arrays) and then the returned
    `similarity` column carries the exact Jaccard, rounded to 4 dp.
    """
    cfg = cfg or DedupConfig()
    use_jaccard = scoring == "jaccard"
    if use_jaccard:
        _require_shingles(signatures)
    # project the source row down to what the query needs before the
    # collect — the shingle array (the widest column by far) only rides
    # along when jaccard scoring reads it
    src_cols = ["minhash", "norm_url", "norm_redirect"]
    has_txt = "title_keys" in signatures.columns
    if has_txt:
        src_cols += ["title_keys", "desc_key"]
    if use_jaccard:
        src_cols.append("shingles")
    src_rows = (signatures.where(F.col("url") == url)
                .select(*src_cols).collect())
    if not src_rows:
        return signatures.sparkSession.createDataFrame(
            [], "node_url string, similarity double, match_source string")
    src = src_rows[0]
    if use_jaccard and src["minhash"] is not None and src["shingles"] is None:
        raise ValueError(
            f"scoring='jaccard' hit a signed row with NULL shingles "
            f"(url={url!r}): the signatures table mixes keep_shingles=False "
            "rows — rebuild it under one engine config")

    cands = _key_candidates(
        signatures, cfg, key_index, src["minhash"],
        [n for n in (src["norm_url"], src["norm_redirect"]) if n is not None],
        src["title_keys"] if has_txt else None,
        src["desc_key"] if has_txt else None, exclude_url=url)
    return _score_against_source(
        cands, signatures, cfg, src["minhash"],
        src["shingles"] if use_jaccard else None,
        cfg.jaccard_threshold if use_jaccard else cfg.threshold, use_jaccard)


def candidates_df_from_pools(spark, pools: dict[str, list[dict]]) -> DataFrame:
    """Build the candidate DataFrame from the reference's candidate-pool
    shape (Dict[search_field, List[node-dict]], app/wlo_client.py:243) —
    used by parity tests and the compat API."""
    rows = []
    for prio, (field, nodes) in enumerate(pools.items()):
        for seq, node in enumerate(nodes):
            ref = node.get("ref") or {}
            props_in = node.get("properties") or {}
            props = {
                k: [str(x) for x in v] if isinstance(v, list) else [str(v)]
                for k, v in props_in.items()
            }
            rows.append((field, prio, seq, ref.get("id"), props))
    return spark.createDataFrame(
        rows,
        "search_field string, field_priority int, candidate_seq long, "
        "node_id string, properties map<string, array<string>>")
