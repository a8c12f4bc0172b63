"""Spans and per-layer Spark telemetry for the traced run.

A layer is a ``dedup`` module. The benchmark wraps, from here, the public
entry points the user path calls (``signatures_table``, ``candidate_pairs``,
``verify_pairs`` and ``assign_clusters`` as ``dedup.pipeline`` calls them,
plus ``Storage.write_table`` / ``read_table``); nothing inside ``dedup``
changes. Every span runs its Spark jobs under a job group of its own, so
``statusTracker`` and the monitoring REST API attribute jobs, stages,
tasks, shuffle and spill to exactly one span.

A pipeline layer's span starts when its entry point is called and ends
when ``Storage.write_table`` has written the DataFrame it returned: the
write executes the layer's plan. ``plan_s`` is the time inside the call
alone, which catches jobs run eagerly while the plan is built.
"""

from __future__ import annotations

import contextlib
import functools
import io
import itertools
import json
import time
import urllib.request
from pathlib import Path

PIPELINE_LAYERS = (("signatures_table", "signature"),
                   ("candidate_pairs", "lsh"),
                   ("verify_pairs", "verify"),
                   ("assign_clusters", "cluster"))


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under a path; (0, 0) when it does not exist."""
    p = Path(path)
    if not p.exists():
        return 0, 0
    files = [f for f in p.rglob("*") if f.is_file()] if p.is_dir() else [p]
    return sum(f.stat().st_size for f in files), len(files)


def explain_formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class Tracer:
    """In-memory spans (name, layer, start, end, parent, shared run id)."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.plans: dict[str, str] = {}
        self.storage = {"bytes_written": 0, "files_written": 0}
        self._stack: list[dict] = []
        self._pending: dict[int, tuple[dict, object]] = {}
        self._ids = itertools.count(1)
        self._t0 = time.monotonic()

    def open(self, name: str, layer: str, **attrs) -> dict:
        span = {
            "run_id": self.run_id,
            "span_id": next(self._ids),
            "parent_id": self._stack[-1]["span_id"] if self._stack else None,
            "name": name,
            "layer": layer,
            "start_s": time.monotonic() - self._t0,
            "end_s": None,
            "attrs": attrs,
        }
        span["job_group"] = f"{self.run_id}/{span['span_id']}/{layer}"
        self._stack.append(span)
        self.sc.setJobGroup(span["job_group"], name)
        return span

    def close(self, span: dict) -> None:
        span["end_s"] = time.monotonic() - self._t0
        span["attrs"]["python_s"] = self._take_python_s()
        self._stack.remove(span)
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(top["job_group"], top["name"])
        else:  # what SparkContext.clearJobGroup does
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
        self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = self.open(name, layer, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def _take_python_s(self) -> float:
        """Python UDF time profiled since the last call: the summed
        ``total_tt`` of the session's per-UDF perf profiles, which
        ``spark.profile`` can show or dump but not return as numbers."""
        collector = getattr(self.spark, "_profiler_collector", None)
        if collector is None:
            return 0.0
        total = sum(st.total_tt
                    for st in collector._perf_profile_results.values())
        if total:
            self.spark.profile.clear(type="perf")
        return total

    # --- wrapping the layer entry points ----------------------------------
    def _layer_entry(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self.open(layer, layer)
            t0 = time.monotonic()
            out = fn(*args, **kwargs)
            span["attrs"]["plan_s"] = time.monotonic() - t0
            df = out[0] if isinstance(out, tuple) else out
            # the DataFrame is kept so its id cannot be reused before the
            # write that closes the span
            self._pending[id(df)] = (span, df)
            return out
        return wrapper

    def _write_table(self, orig):
        @functools.wraps(orig)
        def wrapper(storage, df, ref, mode="overwrite"):
            before = dir_stats(ref) if mode == "append" else (0, 0)
            pending = self._pending.pop(id(df), None)
            if pending is None:
                with self.span("storage.write_table", "storage"):
                    orig(storage, df, ref, mode)
            else:
                orig(storage, df, ref, mode)
            after = dir_stats(ref)
            written = after[0] - before[0]
            self.storage["bytes_written"] += written
            self.storage["files_written"] += after[1] - before[1]
            if pending is not None:
                span, df = pending
                span["attrs"]["stored_bytes"] = written
                self.close(span)
                self.plans[span["layer"]] = explain_formatted(df)
        return wrapper

    def _read_table(self, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span("storage.read_table", "storage"):
                return orig(*args, **kwargs)
        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Wrap the pipeline's layer entry points for the duration."""
        import dedup.pipeline as pipeline
        from dedup.storage import Storage

        saved = [(pipeline, name, getattr(pipeline, name))
                 for name, _ in PIPELINE_LAYERS]
        saved += [(Storage, "write_table", Storage.write_table),
                  (Storage, "read_table", Storage.read_table)]
        for name, layer in PIPELINE_LAYERS:
            setattr(pipeline, name,
                    self._layer_entry(getattr(pipeline, name), layer))
        Storage.write_table = self._write_table(Storage.write_table)
        Storage.read_table = self._read_table(Storage.read_table)
        try:
            yield self
        finally:
            for owner, name, fn in saved:
                setattr(owner, name, fn)

    # --- derived ------------------------------------------------------------
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent_id"] == span["span_id"]]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        covered, reached = 0.0, span["start_s"]
        for start, end in sorted((c["start_s"], c["end_s"])
                                 for c in self.children(span)):
            if end > max(start, reached):
                covered += end - max(start, reached)
                reached = end
        return dur(span) - covered

    def dump(self, out_dir: Path, extra: dict) -> None:
        out_dir.mkdir(parents=True, exist_ok=True)
        spans = [{**s, "self_s": self.self_time(s)} for s in self.spans]
        (out_dir / "trace.json").write_text(json.dumps(
            {"run_id": self.run_id, "spans": spans, **extra}, indent=1,
            default=str))
        for name, plan in self.plans.items():
            (out_dir / f"plan_{name}.txt").write_text(plan)


def dur(span: dict) -> float:
    return span["end_s"] - span["start_s"]


class SparkStatus:
    """Jobs of a job group (``statusTracker``) and their stages' task
    metrics (monitoring REST API of this application's UI)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def refresh(self) -> SparkStatus:
        # the status store is fed by the listener bus; drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.jobs = {j["jobId"]: j for j in self._get("jobs")}
        self.stages = {}
        for s in self._get("stages"):
            cur = self.stages.get(s["stageId"])
            if cur is None or s["attemptId"] > cur["attemptId"]:
                self.stages[s["stageId"]] = s
        return self

    def group_jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def ran_stages(self, job_ids) -> list[dict]:
        """Stages of these jobs that ran (skipped stages reuse a shuffle)."""
        ids = {sid for j in job_ids for sid in self.jobs[j]["stageIds"]}
        return [self.stages[i] for i in sorted(ids)
                if i in self.stages and self.stages[i]["status"] == "COMPLETE"]

    def task_durations_ms(self, stages) -> list[float]:
        out: list[float] = []
        for s in stages:
            tasks = self._get(f"stages/{s['stageId']}/{s['attemptId']}"
                              "/taskList?length=1000000")
            out += [t["duration"] for t in tasks if "duration" in t]
        return out

    def totals(self, groups) -> dict:
        jobs = [j for g in groups for j in self.group_jobs(g)]
        stages = self.ran_stages(jobs)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in stages),
            "input_records": sum(s["inputRecords"] for s in stages),
            "ran_stages": stages,
        }
