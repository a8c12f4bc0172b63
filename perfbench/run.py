"""Benchmark of the dedup engine: one command, two workloads.

    python3 perfbench/run.py --workload sf-parity --seed 1 --seconds 12 \
        --trace 0

Run from the root of a checkout. Starts a local[4] Spark session, writes
the workload's input from the seed, computes the correctness oracle, then
measures for ``--seconds`` and prints one JSON object as the last stdout
line: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
taken from spans around each ``dedup`` layer (see spans.py), and the spans
and formatted plans are written under ``.perfbench_out/``. README.md
describes the workloads, the metrics and the baseline.

Exit code 0 only when every operation's output matched its oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))

import inputs  # noqa: E402
import procstat  # noqa: E402
from oracle import (DetectOracle, QueryOracle, pair_recall,  # noqa: E402
                    pipeline_oracle, same_answer)
from spans import (SparkStatus, Tracer, dir_stats, dur,  # noqa: E402
                   explain_formatted)

OPERATORS = ("token_count", "text_quality", "exact_dup_groups",
             "ngram_jaccard_pairs", "embedding_knn", "events_agg",
             "events_user_rank", "line_dedup")

SIZES = {
    "full": {
        "sf-parity": {"n_docs": 1000, "n_events": 20_000, "n_vecs": 1000},
        "detect-by-node": {"n_docs": 500, "token_scale": 1.0,
                           "n_queries": 100},
    },
    # the report-schema self-test (tests/test_report_schema.py)
    "tiny": {
        "sf-parity": {"n_docs": 60, "n_events": 600, "n_vecs": 60},
        "detect-by-node": {"n_docs": 80, "token_scale": 1.0,
                           "n_queries": 10},
    },
}

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "dup_pair_recall": "ratio",
    "stored_bytes_per_doc": "B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "extract.us_per_doc": "us",
    "signature.wall_s": "s",
    "signature.jobs": "count",
    "signature.tasks": "count",
    "signature.executor_run_s": "s",
    "signature.python_s": "s",
    "signature.kernel_us_per_doc": "us",
    "signature.stored_bytes": "B",
    "lsh.plan_s": "s",
    "lsh.wall_s": "s",
    "lsh.jobs": "count",
    "lsh.stages": "count",
    "lsh.tasks": "count",
    "lsh.shuffle_write_bytes": "B",
    "lsh.spill_bytes": "B",
    "lsh.task_p50_ms": "ms",
    "lsh.task_max_ms": "ms",
    "lsh.candidate_pairs": "count",
    "lsh.capped_keys": "count",
    "lsh.stored_bytes": "B",
    "verify.wall_s": "s",
    "verify.jobs": "count",
    "verify.stages": "count",
    "verify.shuffle_write_bytes": "B",
    "verify.python_s": "s",
    "verify.kernel_us_per_pair": "us",
    "verify.scored_pairs": "count",
    "verify.keep_ratio": "ratio",
    "verify.prefilter_reject_frac": "ratio",
    "cluster.plan_s": "s",
    "cluster.wall_s": "s",
    "cluster.jobs": "count",
    "cluster.stages": "count",
    "cluster.shuffle_write_bytes": "B",
    "cluster.edges": "count",
    "cluster.clusters": "count",
    "pipeline.wall_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.jobs": "count",
    "storage.bytes_written": "B",
    "storage.files_written": "count",
    "kernel.lookup_ms": "ms",
    "kernel.exec_ms": "ms",
    "kernel.jobs_per_query": "count",
    "kernel.tasks_per_query": "count",
    "kernel.rows_scanned_per_query": "count",
    "kernel.candidates_per_query": "count",
    **{f"queries.{q}_s": "s" for q in OPERATORS},
    "run.query_p50_ms": "ms",
    "run.query_samples": "count",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
    "host.steal_s": "s",
    "host.load1": "load",
}


def per_item_us(fn, n_items: int, min_s: float = 0.3) -> float:
    """Microseconds per item of ``fn()``, repeated for at least min_s."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return elapsed / (reps * n_items) * 1e6


class Run:
    """State of one benchmark run: work dir, session, counters, trace."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = SIZES[args.scale][args.workload]
        self.scale = args.scale
        self.work = (ROOT / ".perfbench_work"
                     / f"{args.workload}-{args.seed}-{os.getpid()}")
        self.out_dir = (ROOT / ".perfbench_out"
                        / f"{args.workload}-seed{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.tracer = None
        self.layer: dict[str, float] = {}
        self.meta: dict = {}

    # --- bookkeeping ---------------------------------------------------------
    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a failed check fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def start_session(self):
        from dedup.session import build_session

        for d in ("spark-local", "tmp"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        # keep Spark's scratch space and temp files inside the checkout
        # (the JVMs' perf-data files would go to /tmp: switched off)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["TMPDIR"] = tempfile.tempdir = str(self.work / "tmp")
        # fixed settings: a small driver heap on a shared host, and the UI
        # on, which the traced run's REST metrics need
        os.environ["DEDUP_DRIVER_MEM"] = "2g"
        os.environ.pop("DEDUP_UI", None)
        t0 = time.monotonic()
        spark = build_session(
            "perfbench", master="local[4]", shuffle_partitions=8,
            extra_conf={
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            })
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        self.layer["session.start_s"] = time.monotonic() - t0
        self.spark = spark
        if self.trace:
            self.tracer = Tracer(spark, f"{self.workload}-s{self.seed}-"
                                        f"{os.getpid()}")
        return spark

    def profiler(self, on: bool) -> None:
        key = "spark.sql.pyspark.udf.profiler"
        if on:
            self.spark.conf.set(key, "perf")
        else:
            self.spark.conf.unset(key)

    def check_pin(self, pin: dict) -> None:
        pins = json.loads((BENCH_DIR / "pins.json").read_text())
        want = pins.get(self.workload, {}).get(str(self.seed))
        if self.scale == "full" and want is not None and want != pin:
            self.op(False, f"input pin mismatch: {pin} != {want}")

    def stop(self) -> None:
        """Stop Spark and its JVM, and wait for every child process."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        proc = getattr(gateway, "proc", None) if gateway else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while procstat.descendants(os.getpid()):
            if time.monotonic() > deadline:
                raise RuntimeError("child processes still running")
            time.sleep(0.2)


# --- pipeline passes (both workloads) -----------------------------------------

def _pipeline_pass(run: Run, workdir: Path, build, oracle: dict, truth,
                   traced: bool = False) -> dict:
    """One timed pipeline pass (``build()`` into an empty ``workdir``),
    then its correctness check against the oracle. A traced pass runs
    with the layer entry points wrapped under a ``pipeline`` span."""
    shutil.rmtree(workdir, ignore_errors=True)
    span = None
    with contextlib.ExitStack() as stack:
        if traced:
            run.profiler(True)
            stack.callback(run.profiler, False)
            stack.enter_context(run.tracer.installed())
            run.tracer.storage.update(bytes_written=0, files_written=0)
            span = stack.enter_context(run.tracer.span("pipeline",
                                                       "pipeline"))
        t0 = time.monotonic()
        out = build()
        wall = time.monotonic() - t0
    clusters = {r["url"]: r["cluster_id"] for r in out["clusters"].collect()}
    got = {"n_candidate_pairs": out["pairs"].count(),
           "n_dup_edges": out["verified"].where("keep").count(),
           "n_assignments": len(clusters)}
    ok = (clusters == oracle["clusters"]
          and all(got[k] == oracle[k] for k in got))
    run.op(ok, f"pipeline pass: {got} vs oracle "
               f"{ {k: oracle[k] for k in got} }")
    res = {"out": out, "wall": wall, "recall": pair_recall(truth, clusters),
           "stored": dir_stats(str(workdir))[0], "span": span}
    if traced:
        res["storage"] = dict(run.tracer.storage)
    return res


def _overhead_pct(run: Run, workdir: Path, build, oracle, truth) -> float:
    """Tracing overhead: a warm traced pass against a warm untraced one."""
    plain = _pipeline_pass(run, workdir, build, oracle, truth)["wall"]
    traced = _pipeline_pass(run, workdir, build, oracle, truth,
                            traced=True)["wall"]
    return (traced / plain - 1) * 100


# --- workload: sf-parity ------------------------------------------------------

def _query_round(run: Run, sf_dir: str, qoracle, walls: dict,
                 traced: bool = False) -> None:
    """The 8 operator queries, each timed through its pandas result."""
    from dedup.queries import QUERIES

    for name in OPERATORS:
        with (run.tracer.span(f"queries.{name}", "queries") if traced
              else contextlib.nullcontext()):
            t0 = time.monotonic()
            df = QUERIES[name](run.spark, sf_dir)
            got = df.toPandas()
            walls.setdefault(name, []).append(time.monotonic() - t0)
        if traced:
            run.tracer.plans[f"queries.{name}"] = explain_formatted(df)
        run.op(qoracle.check(name, got), f"query {name} != DuckDB oracle")


def run_sf_parity(run: Run) -> dict:
    """Set-up is the session and the input. The measured round is the
    JVM's first pipeline pass and first query round: the user path is the
    batch job, which pays that cold start on every invocation."""
    from dedup.config import PARITY_CONFIG
    from dedup.pipeline import dedupe_corpus
    from dedup.queries import docs_as_corpus

    t0 = time.monotonic()
    spark = run.start_session()
    sf_dir = str(run.work / "sf")
    rows, truth = inputs.write_sf_tables(sf_dir, run.seed, **run.size)
    run.check_pin(inputs.sf_pin(rows, truth))
    n_docs = len(rows)
    setup_s = time.monotonic() - t0

    # oracle: outside set-up and outside every timed window
    t_or = time.monotonic()
    oracle = pipeline_oracle(rows, PARITY_CONFIG)
    qoracle = QueryOracle(sf_dir, OPERATORS)
    oracle_s = time.monotonic() - t_or

    workdir = run.work / "pipeline"

    def build():
        return dedupe_corpus(spark, docs_as_corpus(spark, sf_dir),
                             str(workdir), PARITY_CONFIG, resume=False)

    # rounds of one pass and one query round; the traced run traces the
    # first round
    traced = run.tracer is not None
    pass_walls, q_walls, recalls, stored = [], {}, [], []
    t_win = time.monotonic()
    while True:
        first = not pass_walls
        res = _pipeline_pass(run, workdir, build, oracle, truth,
                             traced=traced and first)
        if first:
            first_pass = res
        pass_walls.append(res["wall"])
        recalls.append(res["recall"])
        stored.append(res["stored"])
        _query_round(run, sf_dir, qoracle, q_walls, traced=traced and first)
        # stop before a round that would end past the window
        if (time.monotonic() - t_win) * (1 + 1 / len(pass_walls)) \
                >= run.seconds:
            break

    all_q = [w for ws in q_walls.values() for w in ws]
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": n_docs / statistics.median(pass_walls),
        "dup_pair_recall": statistics.median(recalls),
        "stored_bytes_per_doc": statistics.median(stored) / n_docs,
    }
    run.layer["run.query_p50_ms"] = statistics.median(all_q) * 1e3
    run.layer["run.query_samples"] = len(all_q)
    run.meta = {"n_docs": n_docs, "passes": len(pass_walls),
                "oracle_s": oracle_s, "pass_walls_s": pass_walls}
    if traced:
        layer_metrics_pipeline(run, first_pass, PARITY_CONFIG,
                               oracle["sigs"], oracle["pairs"],
                               texts=[t for _, t in rows])
        for q, ws in q_walls.items():
            run.layer[f"queries.{q}_s"] = ws[0]
        run.layer["trace.overhead_pct"] = _overhead_pct(
            run, workdir, build, oracle, truth)
    return e2e


# --- workload: detect-by-node -------------------------------------------------

def _request_kinds(oracle, urls) -> dict[str, list[str]]:
    """Split urls by the work a request for them does: "scored" shares an
    LSH band key with another document (planted duplicates, hot-band
    pages) and runs the Python cosine scorer; "unscored" shares no key, or
    only a normalized-url key, whose url_exact candidates bypass scoring."""
    pools: dict[str, list[str]] = {"scored": [], "unscored": []}
    for u in urls:
        kind = "scored" if "b" in oracle.shared_key_kinds(u) else "unscored"
        pools[kind].append(u)
    return {k: p for k, p in pools.items() if p}


# one client's request mix: four scored requests to one unscored
REQUEST_PATTERN = ("scored", "scored", "unscored", "scored", "scored")


def _query_list(pools: dict[str, list[str]], n: int, seed: int) -> list[str]:
    """Seed-drawn urls in repeating blocks of REQUEST_PATTERN, so every
    prefix of the list has the same mix of kinds."""
    rng = random.Random(seed)
    pools = {k: rng.sample(p, len(p)) for k, p in pools.items()}
    pattern = [k for k in REQUEST_PATTERN if k in pools]
    taken = dict.fromkeys(pools, 0)
    out = []
    while len(out) < n:
        kind = pattern[len(out) % len(pattern)]
        out.append(pools[kind][taken[kind] % len(pools[kind])])
        taken[kind] += 1
    return out


def run_detect(run: Run) -> dict:
    """Set-up is the session, the input and, after the key-index build, one
    warm-up request. Measured: the key-index build (the JVM's first
    pipeline pass, as the batch job runs it) and, for the window, one
    client sending requests back to back."""
    from dedup.config import ENGINE_CONFIG
    from dedup.extract import extract_text
    from dedup.kernel import dedupe_one
    from dedup.pipeline import DedupPipeline

    cfg = ENGINE_CONFIG
    t0 = time.monotonic()
    spark = run.start_session()
    corpus_dir = str(run.work / "corpus")
    pdf = inputs.write_synth_corpus(corpus_dir, run.seed,
                                    run.size["n_docs"],
                                    run.size["token_scale"])
    run.check_pin(inputs.synth_pin(pdf))
    setup_input_s = time.monotonic() - t0

    # oracle over the text the program extracts (hot-band pages carry a
    # cookie paragraph the ground-truth text column does not)
    t_or = time.monotonic()
    extracted = {u: extract_text(h) for u, h in zip(pdf["url"], pdf["html"])}
    # DedupPipeline gates engine-mode candidates on SimHash distance
    oracle = pipeline_oracle(list(extracted.items()), cfg,
                             simhash_gate=cfg.scoring == "jaccard")
    detect = DetectOracle(oracle["sigs"], cfg)
    pools = _request_kinds(detect, list(pdf["url"]))
    urls = _query_list(pools, run.size["n_queries"], run.seed)
    family: dict[int, set[str]] = {}
    for u, c in zip(pdf["url"], pdf["truth_cluster"]):
        if c >= 0:
            family.setdefault(c, set()).add(u)
    truth = [(a, b) for members in family.values()
             for a in members for b in members if a < b]
    oracle_s = time.monotonic() - t_or

    workdir = run.work / "index"
    corpus = spark.read.parquet(corpus_dir)
    index = _pipeline_pass(
        run, workdir,
        lambda: DedupPipeline(spark, str(workdir), cfg, resume=False)
        .run(corpus, build_key_index=True),
        oracle, truth, traced=run.tracer is not None)
    sigs = spark.read.parquet(str(workdir / "signatures"))
    keys = spark.read.parquet(str(workdir / "keys"))
    t1 = time.monotonic()
    # the list's last url: a scored request the window rarely reaches
    dedupe_one(sigs, urls[-1], cfg, key_index=keys).collect()
    setup_s = setup_input_s + (time.monotonic() - t1)

    # closed loop, one client; the traced run traces every other request
    lat, lat_traced, results, per_query = [], [], [], []
    t_win = time.monotonic()
    while True:
        url = urls[len(results) % len(urls)]
        if run.tracer is not None and len(results) % 2 == 1:
            run.profiler(True)
            with run.tracer.span("detect", "kernel", url=url):
                with run.tracer.span("kernel.lookup", "kernel") as l_span:
                    t_a = time.monotonic()
                    res = dedupe_one(sigs, url, cfg, key_index=keys)
                with run.tracer.span("kernel.exec", "kernel") as e_span:
                    got = res.collect()
            lat_traced.append(time.monotonic() - t_a)
            if "kernel" not in run.tracer.plans:
                run.tracer.plans["kernel"] = explain_formatted(res)
            run.profiler(False)
            per_query.append({"lookup": l_span, "exec": e_span, "url": url})
        else:
            t_a = time.monotonic()
            got = dedupe_one(sigs, url, cfg, key_index=keys).collect()
            lat.append(time.monotonic() - t_a)
        results.append((url, got))
        # stop before a request that would end past the window
        elapsed = time.monotonic() - t_win
        if (elapsed * (1 + 1 / len(results)) >= run.seconds and lat
                and (run.tracer is None or len(per_query) >= 2)):
            break
    for url, got in results:
        run.op(same_answer(got, detect.answer(url)),
               f"detect {url} != local_dedupe_one")

    n_docs = len(pdf)
    e2e = {
        "setup_s": setup_s,
        "docs_per_s": n_docs / index["wall"],
        "dup_pair_recall": index["recall"],
        "stored_bytes_per_doc": index["stored"] / n_docs,
    }
    run.layer["run.query_p50_ms"] = statistics.median(lat) * 1e3
    run.layer["run.query_samples"] = len(lat)
    run.meta = {"n_docs": n_docs, "requests": len(results),
                "oracle_s": oracle_s,
                "latencies_ms": [x * 1e3 for x in lat]}
    if run.tracer is not None:
        layer_metrics_pipeline(
            run, index, cfg, oracle["sigs"], oracle["pairs"],
            texts=list(extracted.values()), html=list(pdf["html"]))
        layer_metrics_kernel(run, per_query, detect)
        run.layer["trace.overhead_pct"] = (
            (statistics.median(lat_traced) / statistics.median(lat) - 1)
            * 100)
    return e2e


# --- per-layer metrics (traced run) -----------------------------------------

def _kernel_micro(run: Run, cfg, sigs, pairs, texts, html) -> None:
    """Driver-side kernel cost on a fixed sample of the workload's input:
    numpy time without Arrow, serialization or JVM time around it."""
    import numpy as np
    import pandas as pd

    from dedup.coeffs import load_coeffs
    from dedup.extract import extract_text
    from dedup.signature import (_shingle_array, minhash_signatures_batched,
                                 simhash64_batched, tokenize)
    from dedup.verify import batch_cosines, batch_jaccards

    if html:
        sample = html[:200]
        run.layer["extract.us_per_doc"] = per_item_us(
            lambda: [extract_text(h) for h in sample], len(sample))
    A, B = load_coeffs(cfg.num_hashes, cfg.seed)
    words = [w for w in (tokenize(t) for t in texts[:200]) if w]

    def sign():
        arrs = [_shingle_array(w, cfg) for w in words]
        minhash_signatures_batched(arrs, A, B)
        simhash64_batched(arrs)
    run.layer["signature.kernel_us_per_doc"] = per_item_us(sign, len(words))

    by_url = {s.url: s for s in sigs}
    pairs = [(a, b) for a, b, *_ in pairs
             if by_url[a].minhash is not None
             and by_url[b].minhash is not None][:2000]
    if not pairs:
        return
    if cfg.scoring == "jaccard":
        sa = pd.Series([by_url[a].shingles for a, _ in pairs])
        sb = pd.Series([by_url[b].shingles for _, b in pairs])
        fn = batch_jaccards
    else:
        sa = pd.Series([by_url[a].minhash for a, _ in pairs])
        sb = pd.Series([by_url[b].minhash for _, b in pairs])
        fn = batch_cosines
    run.layer["verify.kernel_us_per_pair"] = per_item_us(
        lambda: np.asarray(fn(sa, sb)), len(pairs))


def layer_metrics_pipeline(run: Run, res: dict, cfg, sigs, pairs, texts,
                           html=None) -> None:
    """Per-layer metrics of one traced pipeline pass (``_pipeline_pass``
    result) plus the driver-side kernel timings."""
    from pyspark.sql import functions as F

    tracer = run.tracer
    status = SparkStatus(run.spark).refresh()
    p_span = res["span"]
    kids = tracer.children(p_span)
    layers = {}
    for s in kids:
        if s["layer"] in ("signature", "lsh", "verify", "cluster"):
            layers.setdefault(s["layer"], s)
    m = run.layer
    for name, s in layers.items():
        t = status.totals([s["job_group"]])
        m[f"{name}.wall_s"] = dur(s)
        m[f"{name}.plan_s"] = s["attrs"]["plan_s"]
        m[f"{name}.python_s"] = s["attrs"]["python_s"]
        m[f"{name}.stored_bytes"] = s["attrs"].get("stored_bytes", 0)
        for k in ("jobs", "stages", "tasks", "executor_run_s",
                  "shuffle_write_bytes", "spill_bytes"):
            m[f"{name}.{k}"] = t[k]
        if name == "lsh":
            d = status.task_durations_ms(t["ran_stages"])
            m["lsh.task_p50_ms"] = statistics.median(d) if d else 0.0
            m["lsh.task_max_ms"] = max(d) if d else 0.0
    m["pipeline.wall_s"] = dur(p_span)
    m["pipeline.overhead_s"] = dur(p_span) - sum(dur(s)
                                                 for s in layers.values())
    m["pipeline.jobs"] = status.totals(
        [p_span["job_group"]] + [s["job_group"] for s in kids
                                 if s["layer"] == "storage"])["jobs"]
    m["storage.bytes_written"] = res["storage"]["bytes_written"]
    m["storage.files_written"] = res["storage"]["files_written"]

    out = res["out"]
    n_pairs = out["pairs"].count()
    v = out["verified"]
    rest = v.where(F.col("match_source") != "url_exact")
    n_rest = rest.count()
    n_rejected = rest.where(F.col("similarity").isNull()).count()
    n_keep = v.where("keep").count()
    capped = (out["metrics"].where(F.col("stage") == "pairs")
              .agg(F.max("n_capped_buckets")).first()[0])
    m["lsh.candidate_pairs"] = n_pairs
    m["lsh.capped_keys"] = capped or 0
    m["verify.scored_pairs"] = n_rest - n_rejected
    m["verify.keep_ratio"] = n_keep / n_pairs if n_pairs else 0.0
    m["verify.prefilter_reject_frac"] = n_rejected / n_rest if n_rest else 0.0
    m["cluster.edges"] = n_keep
    m["cluster.clusters"] = (out["clusters"].select("cluster_id")
                             .distinct().count())
    _kernel_micro(run, cfg, sigs, pairs, texts, html)


def layer_metrics_kernel(run: Run, per_query: list[dict], oracle) -> None:
    """Per-request means over the traced detect requests."""
    status = SparkStatus(run.spark).refresh()
    rows = []
    for q in per_query:
        t = status.totals([q["lookup"]["job_group"], q["exec"]["job_group"]])
        rows.append({"lookup_ms": dur(q["lookup"]) * 1e3,
                     "exec_ms": dur(q["exec"]) * 1e3,
                     "jobs_per_query": t["jobs"],
                     "tasks_per_query": t["tasks"],
                     "rows_scanned_per_query": t["input_records"],
                     "candidates_per_query":
                         len(oracle.candidates(q["url"]))})
    for name in rows[0]:
        run.layer[f"kernel.{name}"] = statistics.mean(r[name] for r in rows)


# --- entry point ----------------------------------------------------------------

WORKLOADS = {"sf-parity": run_sf_parity, "detect-by-node": run_detect}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import dedup  # noqa: F401  (the program under test must be here)

    run = Run(args)
    host0 = procstat.host_snapshot()
    sampler = procstat.RssSampler().start()
    try:
        e2e = WORKLOADS[args.workload](run)
    finally:
        try:
            run.stop()
        finally:
            peak = sampler.stop()
            shutil.rmtree(run.work, ignore_errors=True)
    host1 = procstat.host_snapshot()
    e2e["peak_rss_mb"] = peak / 2**20
    run.layer["host.steal_s"] = host1["steal_s"] - host0["steal_s"]
    run.layer["host.load1"] = host1["load1"]

    if run.tracer is not None:
        run.layer["trace.spans"] = len(run.tracer.spans)
        run.tracer.dump(run.out_dir, {"per_layer": run.layer,
                                      "end_to_end": e2e, "meta": run.meta})
    if args.trace:
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    correct = run.failed == 0
    for e in run.errors[:20]:
        print(f"# FAILED: {e}", file=sys.stderr)
    print("# meta " + json.dumps({"workload": args.workload,
                                  "seed": args.seed, **run.meta,
                                  "host": run.layer}, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
