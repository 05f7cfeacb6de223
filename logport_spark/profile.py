"""In-process executed-plan profiler: one record of what a query actually ran.

`profile(spark, label, build)` builds a DataFrame with `build()`, runs it to
a noop sink and reads Spark's own status stores — the SQL one for the final
(post-AQE) plan and its operator metrics, the app one for the stages the
call ran — so it needs no Spark UI (`spark.ui.enabled=false` is fine).
Static EXPLAIN text is not evidence of what ran: AQE re-plans at runtime
(join sides flip, shuffle reads coalesce), and only the executed plan shows
it. Building happens inside the call because some builders run jobs of
their own (schema reads, eager localCheckpoint rounds) that belong to the
query's cost.

The record:
  label, cores, load_start / load_end (1-min load average), wall_s (build
  plus noop write), executions (SQL execution ids of the noop write),
  plan (their final plan tree, `isFinalPlan=true`, without the AQE initial
  plan), nodes ([{execution, id, name, metrics: {name: value}}], values in
  B, s or count), and input_bytes, shuffle_write_bytes, shuffle_read_bytes,
  n_stages summed over the completed stages of every job the call ran,
  building included.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

_NUMBER = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

_SETTLE_S = 60.0  # the status listeners are asynchronous

# the local properties the call's job group replaces and then restores
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")


def metric_value(text: str) -> float:
    """Spark's formatted SQL metric ("18,736", "813 ms", "32.0 MiB", or a
    "total (min, med, max ...)" header over such a line) as a number in B,
    s or count; 0.0 when it holds no number."""
    m = _NUMBER.match(text.split("\n")[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def final_tree(plan: str) -> str:
    """`plan` (simple EXPLAIN text) without its `== Initial Plan ==`
    subtrees: what is left is the tree that ran."""
    out, cut = [], None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :"))
        if cut is not None and depth > cut:
            continue
        cut = None
        if line.lstrip(" :").startswith("+- == Initial Plan =="):
            cut = depth
            continue
        out.append(line)
    return "\n".join(out)


def _newest_execution(sql_store, as_java) -> int:
    listed = as_java(sql_store.executionsList())
    return listed[len(listed) - 1].executionId() if len(listed) else -1


def _tagged_since(sql_store, as_java, tag: str, start_id: int) -> list:
    """The executions newer than `start_id` that carry `tag`, in id order.
    The store lists executions in id order and evicts the oldest, so the
    newest are read from the end."""
    listed = as_java(sql_store.executionsList())
    found = []
    for i in range(len(listed) - 1, -1, -1):
        e = listed[i]
        if e.executionId() <= start_id:
            break
        if e.description() == tag:
            found.append(e)
    return found[::-1]


def profile(spark: SparkSession, label: str,
            build: Callable[[], DataFrame]) -> dict:
    """Build a DataFrame with `build()`, run it to a noop sink and return
    the record described above."""
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()
    app_store = sc._jsc.sc().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    # every job of this call runs in its own job group; its SQL executions
    # carry the group's description (nested ones inherit it from the
    # thread's local properties)
    tag = f"{label} [profile {uuid.uuid4().hex[:12]}]"
    prior = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    explain_mode = spark.conf.get("spark.sql.ui.explainMode")
    load_start = os.getloadavg()[0]
    sc.setJobGroup(tag, tag)
    # simple mode: one tree with every operator's arguments (join side,
    # ReadSchema, isFinalPlan), no separate details section
    spark.conf.set("spark.sql.ui.explainMode", "simple")
    try:
        t0 = time.perf_counter()
        df = build()
        write_start = _newest_execution(sql_store, as_java)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        spark.conf.set("spark.sql.ui.explainMode", explain_mode)
        for k, v in prior.items():
            sc.setLocalProperty(k, v)
    load_end = os.getloadavg()[0]

    deadline = time.monotonic() + _SETTLE_S
    while True:
        execs = _tagged_since(sql_store, as_java, tag, write_start)
        jobs = [app_store.job(j)
                for j in sc.statusTracker().getJobIdsForGroup(tag)]
        if (execs and all(e.completionTime().isDefined() for e in execs)
                and all(j.status().toString() != "RUNNING" for j in jobs)):
            break
        if time.monotonic() > deadline:
            raise TimeoutError(f"profile {label!r}: SQL executions did not "
                               f"complete within {_SETTLE_S:.0f} s")
        time.sleep(0.05)

    nodes = []
    for e in execs:
        eid = e.executionId()
        values = sql_store.executionMetrics(eid)
        for n in as_java(sql_store.planGraph(eid).allNodes()):
            metrics = {}
            for m in as_java(n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = metric_value(v.get())
            nodes.append({"execution": eid, "id": n.id(), "name": n.name(),
                          "metrics": metrics})

    stages = {s for j in jobs for s in as_java(j.stageIds())}
    totals = {"input_bytes": 0, "shuffle_write_bytes": 0,
              "shuffle_read_bytes": 0, "n_stages": 0}
    for sid in sorted(stages):
        try:
            st = app_store.lastStageAttempt(sid)
        except Py4JJavaError:
            # no longer in the store (spark.ui.retainedStages evicts the
            # oldest and the skipped first): not a stage this call ran
            continue
        if st.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        totals["input_bytes"] += st.inputBytes()
        totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
        totals["shuffle_read_bytes"] += st.shuffleReadBytes()
        totals["n_stages"] += 1

    return {
        "label": label,
        "cores": os.cpu_count(),
        "load_start": round(load_start, 2),
        "load_end": round(load_end, 2),
        "wall_s": round(wall, 3),
        "executions": [e.executionId() for e in execs],
        "plan": "\n".join(final_tree(e.physicalPlanDescription())
                          for e in execs),
        "nodes": nodes,
        **totals,
    }
