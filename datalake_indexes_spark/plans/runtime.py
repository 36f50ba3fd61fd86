"""Runtime execution profiling — measured stage metrics, not plan guesses.

`plans/audit.py` answers "what will this plan do" (exchanges, pushdown,
join strategies) from the optimized plan; this module answers "what did
it actually DO": per-stage shuffle bytes, spill, task-time quantiles and
the max/median task-skew ratio, read from the driver's AppStatusStore
after executing the plan against the `noop` sink (full execution, zero
result materialization).

This is the feedback loop the 100 TB tuning workflow needs — a plan can
look clean and still hide a 50× task skew behind one hot key; the skew
ratio here is the number AQE's skew-split is supposed to keep near 1.

Scoping: the run executes under a unique job group, and only stages of
THAT group's jobs are reported, so a shared session's other work never
pollutes the numbers.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame


def _stage_data(spark, stage_ids: set[int]) -> list[dict]:
    """Pull v1.StageData for the given stages (with task summaries) from
    the AppStatusStore — the same store the UI REST API serves, reached
    directly so it works with spark.ui.enabled=false."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    quantiles = gw.new_array(jvm.double, 3)
    quantiles[0], quantiles[1], quantiles[2] = 0.5, 0.95, 1.0
    stages = store.stageList(
        jvm.java.util.ArrayList(),  # all statuses
        False,                      # details
        True,                       # withSummaries
        quantiles,
        jvm.java.util.ArrayList(),  # all task statuses
    )
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
            continue
        row = {
            "stage_id": s.stageId(),
            "n_tasks": s.numCompleteTasks(),
            "run_ms": s.executorRunTime(),
            "shuffle_read_mb": round(s.shuffleReadBytes() / 1e6, 3),
            "shuffle_write_mb": round(s.shuffleWriteBytes() / 1e6, 3),
            "spill_mb": round(s.memoryBytesSpilled() / 1e6, 3),
            "input_mb": round(s.inputBytes() / 1e6, 3),
        }
        tmd = s.taskMetricsDistributions()
        if tmd.isDefined():
            q = tmd.get().executorRunTime()
            p50, p95, pmax = q.apply(0), q.apply(1), q.apply(2)
            row["task_ms_p50"] = round(p50, 1)
            row["task_ms_p95"] = round(p95, 1)
            row["task_ms_max"] = round(pmax, 1)
            row["task_skew"] = round(pmax / p50, 2) if p50 > 0 else None
        out.append(row)
    return sorted(out, key=lambda r: r["stage_id"])


def runtime_report(df: DataFrame, min_stage_ms: int = 0) -> dict:
    """Execute ``df`` end to end (noop sink — full computation, nothing
    materialized) and return the measured profile::

        {wall_s, n_jobs, n_stages, shuffle_read_mb, shuffle_write_mb,
         spill_mb, max_task_skew, stages: [...per-stage rows...]}

    ``max_task_skew`` = max over stages of (max task time / median task
    time), the single number to watch for hot keys: a clean uniform
    shuffle sits near 1, a hot key shows up as the straggler ratio AQE's
    skew split is supposed to flatten.  ``min_stage_ms`` filters trivial
    stages out of the skew statistic (a 3 ms stage's 3× "skew" is
    scheduling noise, not data skew).
    """
    return runtime_report_of(
        lambda: df, df.sparkSession, min_stage_ms=min_stage_ms
    )


def runtime_report_of(build, spark, min_stage_ms: int = 0) -> dict:
    """:func:`runtime_report` for a plan whose CONSTRUCTION runs jobs —
    iterative operators (connected components, k-means) execute actions
    while building their result DataFrame, which a profile scoped to the
    final noop write would miss entirely.  ``build`` is a zero-arg
    callable returning the DataFrame; both the call and the final write
    run inside the profiled job group."""
    sc = spark.sparkContext
    tag = f"runtime-report-{uuid.uuid4().hex[:8]}"
    t0 = time.time()
    sc.setJobGroup(tag, "runtime_report", interruptOnCancel=False)
    try:
        build().write.format("noop").mode("overwrite").save()
    finally:
        sc.setJobGroup(None, None)
    wall = time.time() - t0
    # the AppStatusStore is fed by the ASYNC listener bus; the action
    # returning does not mean the final TaskEnd/StageCompleted events
    # have been applied — drain the bus before reading, or stages can
    # show zero complete tasks / stale summaries under load
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.5)  # best-effort on API drift
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    job_ids = tracker.getJobIdsForGroup(tag)
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = _stage_data(spark, stage_ids)
    skews = [
        s["task_skew"]
        for s in stages
        if s.get("task_skew") is not None and s["run_ms"] >= min_stage_ms
    ]
    return {
        "wall_s": round(wall, 2),
        "n_jobs": len(job_ids),
        "n_stages": len(stages),
        "shuffle_read_mb": round(sum(s["shuffle_read_mb"] for s in stages), 3),
        "shuffle_write_mb": round(sum(s["shuffle_write_mb"] for s in stages), 3),
        "spill_mb": round(sum(s["spill_mb"] for s in stages), 3),
        "max_task_skew": max(skews) if skews else None,
        "stages": stages,
    }


def sql_executions(spark, after_id: int = -1) -> list[dict]:
    """The SQL executions with id > ``after_id``, read from the SQL status
    store: ``{id, description, jobs, nodes}`` with ``nodes`` one
    ``(name, desc, rows)`` per node of the execution's plan graph, where
    ``rows`` is its "number of output rows" metric (None when the node
    has none).  A cached relation's graph still lists the plan it caches;
    nodes the cache served report 0 rows, so ``rows`` tells what ran."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:
        time.sleep(0.5)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            continue
        values = store.executionMetrics(e.executionId())
        nodes = []
        graph = store.planGraph(e.executionId()).allNodes()
        for j in range(graph.size()):
            node, rows = graph.apply(j), None
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "number of output rows":
                    v = values.get(m.accumulatorId())
                    rows = int(v.get().replace(",", "")) if v.isDefined() else 0
            nodes.append((node.name(), node.desc(), rows))
        out.append({"id": e.executionId(), "description": e.description(),
                    "jobs": e.jobs().size(), "nodes": nodes})
    return sorted(out, key=lambda r: r["id"])
