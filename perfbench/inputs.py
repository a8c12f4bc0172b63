"""Deterministic benchmark inputs, generated from the workload seed.

Two kinds of input:

- ``write_sf_tables``: the ``documents`` / ``events`` / ``embeddings``
  parquet tables the operator queries and ``docs_as_corpus`` read, in the
  schema of the repository's sf test tables (30-word vocabulary, 10-99
  token texts, 20 sources, 5 event types, 64-d unit embeddings).
  ``docs_as_corpus`` adds the 50 planted mirrors (doc_id < 50).
- ``write_synth_corpus``: a ``dedup.synth`` web corpus with planted
  duplicate families; the parquet holds the crawl columns (url, warc_ts,
  html, lang) and the ground truth (text, truth_cluster) stays with the
  benchmark.

``input_pin`` summarises an input (doc count, planted families, sha256
over url + text) so a change to a generator cannot silently change a
workload: ``pins.json`` records the pins of seeds 1-3 of every workload.
On sf-parity each planted near-duplicate copy or mirror and its source
count as one family.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

SF_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the").split()
SF_LANGS = ("en", "zh", "es", "de", "fr")
SF_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")


def sf_frames(seed: int, n_docs: int, n_events: int, n_vecs: int):
    """-> ({table name: frame}, [(near-duplicate doc_id, its source)])."""
    rng = np.random.default_rng([seed, 0x5F])
    lens = rng.integers(10, 100, n_docs)
    words = rng.integers(0, len(SF_VOCAB), int(lens.sum()))
    vocab = np.array(SF_VOCAB, dtype=object)
    cuts = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(vocab[words[cuts[i]:cuts[i + 1]]])
             for i in range(n_docs)]
    # ~5% near-duplicates: another document's text plus a " dup" token
    near = []
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        src = int((i + rng.integers(1, n_docs)) % n_docs)
        texts[i] = texts[src] + " dup"
        near.append((int(i), src))
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(SF_LANGS, n_docs, p=SF_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)

    n_users = max(150, n_events // 67)
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_events))
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(ts, unit="us"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    m = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(m),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
    return {"documents": docs, "events": events, "embeddings": emb}, near


def _write_parquet(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """pandas -> a parquet directory of ``n_files`` files, without Spark
    (``createDataFrame`` of a large pandas frame costs seconds)."""
    import shutil
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    Path(path).mkdir(parents=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       f"{path}/part-{i:05d}.parquet",
                       coerce_timestamps="us", allow_truncated_timestamps=True)


def _sf_url(doc_id: int) -> str:
    return f"https://www.src{doc_id % 20}.example.com/docs/{doc_id}"


def write_sf_tables(path: str, seed: int, n_docs: int, n_events: int,
                    n_vecs: int) -> tuple[list, list]:
    """Write the three tables under ``path``. Returns the (url, text) rows
    of ``dedup.queries.docs_as_corpus`` over them and the planted
    duplicate pairs (the 50 mirrors and the near-duplicates), both built
    driver-side for the oracle and the input pin."""
    frames, near = sf_frames(seed, n_docs, n_events, n_vecs)
    for name, pdf in frames.items():
        _write_parquet(pdf, f"{path}/{name}.parquet", 1)
    docs = frames["documents"]
    rows = [(_sf_url(d), t) for d, t in zip(docs["doc_id"], docs["text"])]
    mirrors = [(f"https://mirror.net/copy/{d}", rows[d][1])
               for d in range(min(50, n_docs))]
    truth = ([(rows[d][0], m[0]) for d, m in enumerate(mirrors)]
             + [(_sf_url(i), _sf_url(src)) for i, src in near])
    return rows + mirrors, truth


def write_synth_corpus(path: str, seed: int, n_docs: int,
                       token_scale: float, hot_frac: float = 0.05,
                       partitions: int = 4) -> pd.DataFrame:
    """``dedup.synth`` corpus as parquet. The program gets the crawl
    columns (url, warc_ts, html, lang); the ground truth (text,
    truth_cluster) stays in the returned frame."""
    from dedup.synth import corpus_pdf

    pdf = corpus_pdf(n_docs, seed, hot_frac, token_scale=token_scale)
    _write_parquet(pdf[["url", "warc_ts", "html", "lang"]], path, partitions)
    return pdf


def workload_pin(workload: str, seed: int, size: dict, path: str) -> dict:
    """Generate a workload's input under ``path`` and return its pin."""
    if workload == "sf-parity":
        rows, truth = write_sf_tables(path, seed, size["n_docs"],
                                      size["n_events"], size["n_vecs"])
        return sf_pin(rows, truth)
    return synth_pin(write_synth_corpus(path, seed, size["n_docs"],
                                        size["token_scale"]))


def sf_pin(rows, truth) -> dict:
    return input_pin(rows, len(truth))


def synth_pin(pdf: pd.DataFrame) -> dict:
    families = pdf.loc[pdf["truth_cluster"] >= 0, "truth_cluster"].nunique()
    return input_pin(list(zip(pdf["url"], pdf["text"])), int(families))


def input_pin(rows, families: int) -> dict:
    """Doc count, planted families and sha256 over sorted (url, text)."""
    h = hashlib.sha256()
    for url, text in sorted(rows, key=lambda r: r[0]):
        h.update(url.encode())
        h.update(b"\0")
        h.update((text or "").encode())
        h.update(b"\n")
    return {"docs": len(rows), "families": families,
            "sha256": h.hexdigest()}
