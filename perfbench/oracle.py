"""Correctness gates, computed once per input outside every timed window.

- Pipeline: ``dedup.local_oracle`` on the same (url, text) rows
  (signatures -> candidate pairs -> verify -> union-find); the Spark
  pass must reproduce its candidate-pair count, dup-edge count and the
  exact cluster assignment.
- Detect: ``local_dedupe_one`` per queried url.
- Operator queries: the DuckDB SQL of ``dedup.queries.ORACLE_SQL`` over
  the same parquet tables.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd


def simhash_gated(pairs, sigs, cfg):
    """The engine pipeline's SimHash gate (``dedup.lsh.candidate_pairs``
    with ``use_simhash_prefilter``, which ``DedupPipeline`` turns on in
    jaccard mode): a pair seen under a url key survives; any other pair
    survives when both SimHashes exist and differ in at most
    ``simhash_hamming_max`` bits."""
    sh = {s.url: s.simhash for s in sigs}

    def close(a: str, b: str) -> bool:
        x, y = sh[a], sh[b]
        return (x is not None and y is not None
                and bin((x ^ y) & (2**64 - 1)).count("1")
                <= cfg.simhash_hamming_max)
    return [p for p in pairs if p[2] == "url_exact" or close(p[0], p[1])]


def pipeline_oracle(rows, cfg, simhash_gate: bool = False) -> dict:
    from dedup.local_oracle import (local_candidate_pairs, local_signatures,
                                    local_verify, union_find_clusters)

    sigs = local_signatures(rows, cfg)
    pairs = local_candidate_pairs(sigs, cfg)
    if simhash_gate:
        pairs = simhash_gated(pairs, sigs, cfg)
    edges = [(a, b) for a, b, _, _, _, keep in local_verify(pairs, sigs, cfg)
             if keep]
    clusters = dict(union_find_clusters([r[0] for r in rows], edges))
    return {"n_candidate_pairs": len(pairs), "n_dup_edges": len(edges),
            "n_assignments": len(clusters), "clusters": clusters,
            "sigs": sigs, "pairs": pairs}


def pair_recall(truth_pairs, cluster_of: dict) -> float:
    """Share of planted (a, b) pairs that landed in one cluster."""
    hit = sum(cluster_of.get(a) is not None
              and cluster_of.get(a) == cluster_of.get(b)
              for a, b in truth_pairs)
    return hit / len(truth_pairs)


class DetectOracle:
    """``local_dedupe_one`` answers over ``local_signatures`` output. Each
    call gets the source document and
    only the documents sharing a blocking key with it: the rest cannot
    become candidates, so the answer is the one the full list gives,
    without re-enumerating every document's keys per query."""

    def __init__(self, sigs, cfg):
        from dedup.local_oracle import unified_keys

        self.cfg = cfg
        self.sigs = {s.url: s for s in sigs}
        self._members: dict[tuple, set[str]] = defaultdict(set)
        self._keys: dict[str, set[tuple]] = defaultdict(set)
        for url, gk in unified_keys(sigs, cfg):
            self._members[gk].add(url)
            self._keys[url].add(gk)

    def candidates(self, url: str) -> set[str]:
        out = set()
        for gk in self._keys[url]:
            out |= self._members[gk]
        out.discard(url)
        return out

    def shared_key_kinds(self, url: str) -> set[str]:
        """Kinds ('b' band, 'u' url, ...) of the keys ``url`` shares with
        another document."""
        return {gk[0] for gk in self._keys[url] if len(self._members[gk]) > 1}

    def answer(self, url: str) -> list[tuple[str, float, str]]:
        from dedup.local_oracle import local_dedupe_one

        subset = [self.sigs[url]] + [self.sigs[u]
                                     for u in sorted(self.candidates(url))]
        return local_dedupe_one(subset, url, self.cfg)


def same_answer(got_rows, want) -> bool:
    got = [(r["node_url"], r["similarity"], r["match_source"])
           for r in got_rows]
    return (len(got) == len(want)
            and all(g[0] == w[0] and g[2] == w[2] and abs(g[1] - w[1]) < 1e-9
                    for g, w in zip(got, want)))


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "float" in str(pdf[c].dtype):
            pdf[c] = pdf[c].round(9)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


class QueryOracle:
    """DuckDB answers of the operator queries over the sf tables."""

    def __init__(self, sf_dir: str, names):
        import duckdb

        from dedup.queries import ORACLE_SQL

        con = duckdb.connect()
        try:
            for t in ("documents", "events", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
            self.want = {n: _normalize(con.execute(ORACLE_SQL[n]).df())
                         for n in names}
        finally:
            con.close()

    def check(self, name: str, got: pd.DataFrame) -> bool:
        g, w = _normalize(got), self.want[name]
        if list(g.columns) != list(w.columns) or len(g) != len(w):
            return False
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=False,
                                          check_exact=False, rtol=0,
                                          atol=1e-9)
        except AssertionError:
            return False
        return True
