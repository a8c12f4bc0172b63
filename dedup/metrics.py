"""Task-level stage metrics from the driver's status store (M12).

The reference's request-log middleware (app/main.py:120-160) records
wall-clock + outcome per request; the engine analog for a batch DAG is
shuffle/task telemetry per pipeline stage. PySpark cannot attach a JVM
SparkListener without a py4j callback server, so this module reads, in
process over py4j, the AppStatusStore that Spark's own listener feeds:
`DedupPipeline` tags a stage's jobs with a Spark job tag, and
`tagged_stages` returns those jobs' stages and the records each task of
the write wrote. The store is fed whether or not the UI runs, and no HTTP
call is made. The monitoring REST API's `/stages`
(https://spark.apache.org/docs/latest/monitoring.html#rest-api) is a view
of the same store; the stage dicts here keep its field names.

`SparkContext.statusStore` is `private[spark]` in Scala but public in the
bytecode py4j calls. tests/test_pipeline_resume.py runs a pipeline with
the UI off and requires telemetry on every stage, which pins it across
Spark upgrades.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

_ALL_TASKS = 2**31 - 1
# how long `tagged_stages` waits for the listener bus to feed the store
_DRAIN_TIMEOUT_S = 60.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _last_attempt(store, sid: int):
    """The store's latest attempt of stage `sid`, or None once the store
    has evicted it: past spark.ui.retainedStages it drops skipped stages
    first (they never complete), then the oldest."""
    try:
        return store.lastStageAttempt(sid)
    except Py4JJavaError as err:
        if "NoSuchElementException" not in str(err.java_exception):
            raise
        return None


def tagged_stages(spark, tag: str
                  ) -> tuple[list[dict], dict[int, int] | None]:
    """(stages, written) of the jobs tagged `tag`, which must all have
    SUCCEEDED.

    stages: the latest attempt of every COMPLETE stage of those jobs, as
    REST `/stages` entries (the fields `task_totals` reads). Skipped
    stages are left out: their work is counted where it ran. So are
    stages the store has evicted.

    written: {task partition: records written} over the successful tasks
    of the write stage (the result stage of the last tagged job), empty
    tasks included. None when that stage was retried (a later attempt
    runs only the partitions still missing, so its tasks cover only
    those), when the store no longer lists it or every task of it
    (spark.ui.retainedTasks), or when their records do not sum to its
    outputRecords.

    The listener bus feeds the store asynchronously, so this first waits
    up to _DRAIN_TIMEOUT_S for the bus to drain; the wait timing out
    raises TimeoutError, and a tagged job that has not SUCCEEDED after it
    raises RuntimeError."""
    jsc = spark.sparkContext._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty(int(_DRAIN_TIMEOUT_S * 1000))
    except Py4JJavaError as err:
        raise TimeoutError(
            f"listener bus not drained within {_DRAIN_TIMEOUT_S} s") from err
    store = jsc.statusStore()
    jobs = [store.job(j)
            for j in sorted(jsc.statusTracker().getJobIdsForTag(tag))]
    failed = [j.jobId() for j in jobs
              if j.status().toString() != "SUCCEEDED"]
    if failed:
        raise RuntimeError(f"jobs {failed} tagged {tag} did not succeed")
    stages = {}
    for sid in sorted({sid for j in jobs for sid in _seq(j.stageIds())}):
        s = _last_attempt(store, sid)
        if s is not None and s.status().toString() == "COMPLETE":
            stages[sid] = s
    write = stages.get(max(_seq(jobs[-1].stageIds())))
    written = None
    if write is not None and write.attemptId() == 0:
        tasks = [t for t in _seq(store.taskList(write.stageId(), 0,
                                                _ALL_TASKS))
                 if t.status() == "SUCCESS"]
        written = {t.partitionId():
                   t.taskMetrics().get().outputMetrics().recordsWritten()
                   for t in tasks}
        if (len(written) != write.numTasks()
                or sum(written.values()) != write.outputRecords()):
            written = None
    return [{"stageId": s.stageId(), "attemptId": s.attemptId(),
             "executorRunTime": s.executorRunTime(),
             "shuffleReadBytes": s.shuffleReadBytes(),
             "shuffleWriteBytes": s.shuffleWriteBytes(),
             "inputBytes": s.inputBytes(), "numTasks": s.numTasks()}
            for s in stages.values()], written


def task_totals(stages: list[dict],
                exclude_ids: set[int] = frozenset()) -> dict:
    """Aggregate task telemetry over the given stages (minus exclude_ids)."""
    # /stages lists each stage ATTEMPT as its own entry; a stage retried
    # after a fetch failure would double-count its telemetry. Keep only
    # the latest attempt per stageId.
    latest: dict[int, dict] = {}
    for s in stages:
        sid = s["stageId"]
        if (sid not in latest
                or s.get("attemptId", 0) > latest[sid].get("attemptId", 0)):
            latest[sid] = s
    new = [s for sid, s in latest.items() if sid not in exclude_ids]
    return {
        "executor_run_time_ms": sum(s.get("executorRunTime", 0) for s in new),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in new),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0)
                                   for s in new),
        "input_bytes": sum(s.get("inputBytes", 0) for s in new),
        "num_tasks": sum(s.get("numTasks", 0) for s in new),
        "n_spark_stages": len(new),
    }
