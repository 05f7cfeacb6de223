"""The traced run: spans around every call into a layer, the executed-plan
operator metrics Spark keeps for each SQL execution, and the per-layer
metrics derived from them.

Nothing here reaches inside the program: spans wrap the benchmark's own
calls into the public functions, and the counters come from Spark's SQL
status store and its streaming progress events. Every layer is measured on
the workload's own input, so each workload reports every layer metric and
a layer the workload's timed call bypasses reads as its standalone cost on
that input.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import time
import uuid

from workloads import CURATE_MIN_DOCS, N_BUCKETS, Progress

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}

_NUMBER = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")

LADDER_PASSES = 2
STREAM_PROBE_FILES = 2   # micro-batches in the stream probe of a batch input


def metric_value(text: str) -> float:
    """Spark's formatted SQL metric ("18,736", "813 ms", "32.0 MiB", or a
    "total (min, med, max ...)" header over such a line) as a number in B,
    s or count; 0.0 when it holds no number."""
    m = _NUMBER.match(text.split("\n")[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class PlanStore:
    """Reads executions and their operator metrics from the session's SQL
    status store (works with the UI disabled)."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.j = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self.j.asJava(seq))

    def count(self) -> int:
        return self.store.executionsCount()

    def since(self, count: int, settle_s: float = 5.0) -> list[dict]:
        """The executions after the first `count` (the store keeps them in
        id order), each with its jobs and operators, once all of them have
        completed (the status listener is asynchronous)."""
        deadline = time.monotonic() + settle_s
        while True:
            execs = self._list(self.store.executionsList(count, 1_000_000))
            if (all(e.completionTime().isDefined() for e in execs)
                    or time.monotonic() > deadline):
                break
            time.sleep(0.05)
        return [self._describe(e) for e in execs]

    def _describe(self, e) -> dict:
        eid = e.executionId()
        vals = self.store.executionMetrics(eid)
        nodes = []
        for n in self._list(self.store.planGraph(eid).allNodes()):
            ms = {}
            for m in self._list(n.metrics()):
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = metric_value(v.get())
            nodes.append({"name": n.name(), "metrics": ms})
        return {"id": eid, "description": e.description()[:120],
                "jobs": e.jobs().size(), "nodes": nodes}


def node_sum(execs: list[dict], node_prefix: str, metric: str) -> float:
    return sum(n["metrics"].get(metric, 0.0) for e in execs
               for n in e["nodes"] if n["name"].startswith(node_prefix))


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; each span
    also keeps the SQL executions that ran inside it."""

    def __init__(self, spark):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.plans = PlanStore(spark)

    def rebind(self, spark):
        self.plans = PlanStore(spark)

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.rec = {"name": name, "run_id": tracer.run_id,
                            "parent": tracer._stack[-1] if tracer._stack else None,
                            "start": time.time(), "end": None}
                self.first = tracer.plans.count()
                self.t0 = time.perf_counter()
                tracer.spans.append(self.rec)
                tracer._stack.append(len(tracer.spans) - 1)
                return self

            def __exit__(self, *exc):
                self.seconds = time.perf_counter() - self.t0
                self.rec["end"] = self.rec["start"] + self.seconds
                tracer._stack.pop()
                self.execs = tracer.plans.since(self.first)
                self.rec["executions"] = self.execs

        return _Span()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _ladder(spark, tr: Tracer, pages_dir: str, n_pages: int) -> dict:
    """Cumulative noop-forced prefixes of the flagship DAG; each layer's
    time is the delta to the previous prefix."""
    from pyspark.sql import functions as F

    from logport_spark.operators import enrich as E
    from logport_spark.operators import parse as P
    from logport_spark.operators import route as R
    from logport_spark.plans.pipeline import sink_metrics

    lookups = E.load_lookups(spark)
    pages = spark.read.parquet(pages_dir)
    steps = {}
    steps["scan"] = pages.select("url", "warc_ts", "lang", "text")
    steps["explode"] = P.explode_lines(pages)
    steps["enrich"] = E.enrich(E.with_domain(steps["explode"]), lookups)
    steps["route"] = R.resolve_route(steps["enrich"], lookups["routes"])
    steps["envelope"] = P.with_envelope(
        steps["route"], host_col=F.col("route_hostname"),
        source_col=F.col("url"), prd_col=F.col("route_prd"),
        log_type_col=F.col("route_log_type"))
    steps["aggregate"] = sink_metrics(steps["envelope"])
    # two passes, keeping each prefix's faster one: the first pass also
    # pays one-off costs (the first UDF call starts the Python workers)
    t, ex = {}, {}
    for _ in range(LADDER_PASSES):
        for name, df in steps.items():
            with tr.span(f"ladder.{name}") as s:
                _noop(df)
            if name not in t or s.seconds < t[name]:
                t[name], ex[name] = s.seconds, s.execs
    lines = node_sum(ex["explode"], "Filter", "number of output rows")
    with tr.span("ladder.candidates") as s:
        cand = steps["explode"].filter(
            F.substring("line", 1, 1).isin("{", "[")).count()
    udf_rows = node_sum(ex["envelope"], "ArrowEvalPython", "number of output rows")
    enrich_rows = node_sum(ex["enrich"], "BroadcastHashJoin", "number of output rows")
    route_rows = node_sum(ex["route"], "BroadcastHashJoin",
                          "number of output rows") - enrich_rows
    return {
        "sources.scan_s": (t["scan"], "s"),
        "sources.input_bytes": (node_sum(ex["scan"], "Scan", "size of files read"), "B"),
        "parse.explode_s": (t["explode"] - t["scan"], "s"),
        "parse.lines_per_page": (lines / max(1, n_pages), "count"),
        "parse.envelope_s": (t["envelope"] - t["route"], "s"),
        "parse.udf_rows": (udf_rows, "count"),
        "parse.udf_useful_frac": (cand / udf_rows if udf_rows else 0.0, "ratio"),
        "parse.udf_ms": (1000 * node_sum(ex["envelope"], "ArrowEvalPython",
                                         "time to run Python workers"), "ms"),
        "enrich.s": (t["enrich"] - t["explode"], "s"),
        "enrich.join_rows": (enrich_rows, "count"),
        "route.resolve_s": (t["route"] - t["enrich"], "s"),
        "route.join_rows": (route_rows, "count"),
        "pipeline.aggregate_s": (t["aggregate"] - t["envelope"], "s"),
        "pipeline.shuffle_bytes": (node_sum(ex["aggregate"], "Exchange",
                                            "shuffle bytes written"), "B"),
    }, t["envelope"]


def _ledger(spark, tr, pages_dir, scratch, routed_noop_s) -> dict:
    from logport_spark.plans.ledger import input_fingerprints, run_with_ledger

    pages = spark.read.parquet(pages_dir)
    with tr.span("ledger.fingerprint") as fp:
        input_fingerprints(pages, N_BUCKETS).collect()
    out_dir = os.path.join(scratch, "ledger")
    with tr.span("ledger.run_with_ledger") as run:
        rows = run_with_ledger(spark, pages, out_dir, tr.run_id,
                               n_buckets=N_BUCKETS).collect()
    files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir + "/sinks")
             for f in fs if f.endswith(".parquet")]
    return {
        "ledger.fingerprint_s": (fp.seconds, "s"),
        "ledger.commit_s": (run.seconds - fp.seconds - routed_noop_s, "s"),
        "ledger.files_written": (len(files), "count"),
        "ledger.bytes_written": (sum(os.path.getsize(f) for f in files), "B"),
        "ledger.buckets_committed": (len({r["bucket"] for r in rows
                                          if r["status"] == "committed"}), "count"),
    }


def _stream(spark, tr, files: list[str], scratch, progress) -> dict:
    """Drain `files` through run_stream_deliver, one file per trigger."""
    from logport_spark.streaming.stream import run_stream_deliver

    src = os.path.join(scratch, "stream_src")
    os.makedirs(src)
    for f in files:
        shutil.copy(f, src)
    with tr.span("stream.run_stream_deliver"):
        run_stream_deliver(spark, src, os.path.join(scratch, "broker"),
                           os.path.join(scratch, "stream_out"),
                           os.path.join(scratch, "checkpoint"), max_files=1)
    return _stream_metrics([b["ms"] for b in progress.take(len(files))])


def _stream_metrics(batches: list[dict]) -> dict:
    med = lambda k: statistics.median([b.get(k, 0) for b in batches]) if batches else 0.0
    over = [b.get("triggerExecution", 0) - b.get("addBatch", 0) for b in batches]
    return {
        "stream.batches": (len(batches), "count"),
        "stream.add_batch_ms": (med("addBatch"), "ms"),
        "stream.overhead_ms": (statistics.median(over) if over else 0.0, "ms"),
        "stream.latest_offset_ms": (med("latestOffset"), "ms"),
        "stream.planning_ms": (med("queryPlanning"), "ms"),
        "stream.wal_commit_ms": (med("walCommit"), "ms"),
    }


def _wire(spark, tr, file: str, scratch) -> dict:
    """Wire batching and delivery of one staged micro-batch (one file)."""
    from pyspark.sql import functions as F

    from logport_spark.operators.transport import deliver
    from logport_spark.operators.wire import batch_messages
    from logport_spark.plans.ledger import with_bucket
    from logport_spark.plans.pipeline import parsed_routed

    routed = parsed_routed(spark, spark.read.parquet(file)).select(
        "sink", "url", "line_no", "record").localCheckpoint()
    wire = batch_messages(with_bucket(routed), stream_col="bucket")
    with tr.span("wire.batch_messages") as ws:
        wire = wire.localCheckpoint()
    n = wire.count()
    msgs = wire.agg(F.sum("n_msgs")).collect()[0][0] or 0
    broker = os.path.join(scratch, "wire_broker")
    with tr.span("transport.deliver") as ds:
        reps = deliver(wire, broker).collect()
    files = sum(len(fs) for _, _, fs in os.walk(broker))
    nacks = sum(r["status"] != "ack" for r in reps)
    return {
        "wire.batch_s": (ws.seconds, "s"),
        "wire.batches": (n, "count"),
        "wire.msgs_per_batch": (msgs / max(1, n), "count"),
        "transport.deliver_s": (ds.seconds, "s"),
        "transport.files_written": (files, "count"),
        "transport.nack_frac": (nacks / max(1, len(reps)), "ratio"),
    }


def _dedup(spark, tr, pages_dir) -> dict:
    from logport_spark.operators.dedup import curate_lines_corpus, url_dedup

    pages = spark.read.parquet(pages_dir)
    with tr.span("dedup.url_dedup") as u:
        _noop(url_dedup(pages.select("url", "warc_ts")))
    with tr.span("dedup.curate_lines_corpus") as c:
        _noop(curate_lines_corpus(pages.select("url", "text"),
                                  min_docs=CURATE_MIN_DOCS, id_col="url"))
    ex = u.execs + c.execs
    return {
        "dedup.url_dedup_s": (u.seconds, "s"),
        "dedup.curate_s": (c.seconds, "s"),
        "dedup.broadcast_bytes": (node_sum(ex, "BroadcastExchange", "data size"), "B"),
        "dedup.sort_fallback_tasks": (node_sum(ex, "ObjectHashAggregate",
                                               "number of sort fallback tasks")
                                      + node_sum(ex, "HashAggregate",
                                                 "number of sort fallback tasks"),
                                      "count"),
        "dedup.shuffle_bytes": (node_sum(ex, "Exchange", "shuffle bytes written"), "B"),
    }


def per_layer(bench, seconds: float, rss) -> tuple[dict, dict]:
    """Run the traced calls and the layer probes. Returns the per-layer
    metrics as {name: {"value", "unit"}} (none when a call failed) and the
    untraced calls' results in the shape of Bench.timed_calls, with the
    traced calls' attempted and failed counts added. Spans go to
    perfbench/traces/. Traced and untraced calls alternate, so neither
    side gets the later, warmer calls; the tracing overhead compares their
    median times. `rss` samples memory during the untraced calls."""
    wl, spark = bench.wl, bench.spark
    tr = Tracer(spark)
    plain = {"durs": [], "batches": [], "attempted": 0, "failed": 0,
             "problems": []}
    traced, batches, spans = [], [], []

    def span():
        spans.append(tr.span(f"workload.{wl.name}"))
        return spans[-1]

    while sum(traced) < seconds and not plain["failed"]:
        a = bench.timed_calls(0.0, rss)
        b = bench.timed_calls(0.0, wrap=span)
        plain["durs"] += a["durs"]
        plain["batches"] += a["batches"]
        for k in ("attempted", "failed", "problems"):
            plain[k] += a[k] + b[k]
        traced += b["durs"]
        batches += b["batches"]
    if plain["failed"]:
        return {}, plain
    call_execs = [e for s in spans for e in s.execs]
    t_plain, t_traced = statistics.median(plain["durs"]), statistics.median(traced)
    n_calls = len(traced)
    out = {
        "trace.overhead_pct": (100.0 * (t_traced - t_plain) / t_plain, "%"),
        "process.peak_rss_mb": (rss.peak / 2**20, "MB"),
        "spark.jobs": (sum(e["jobs"] for e in call_execs) / n_calls, "count"),
        "spark.shuffle_write_bytes": (node_sum(call_execs, "Exchange",
                                               "shuffle bytes written") / n_calls, "B"),
        "spark.spill_bytes": (node_sum(call_execs, "", "spill size") / n_calls, "B"),
    }
    pages_dir, probe_files = wl.probe_input(bench.inp)
    scratch = bench.scratch()
    try:
        ladder, routed_noop_s = _ladder(spark, tr, pages_dir, wl.pages)
        out.update(ladder)
        out.update(_ledger(spark, tr, pages_dir, scratch, routed_noop_s))
        if batches:
            out.update(_stream_metrics(batches))
        else:
            out.update(_stream(spark, tr, probe_files[:STREAM_PROBE_FILES],
                               scratch, Progress.attach(spark)))
        out.update(_wire(spark, tr, probe_files[0], scratch))
        out.update(_dedup(spark, tr, pages_dir))
        out["spark.scaling_eff_1to4"] = (
            _scaling(bench, tr, t_traced), "ratio")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        tr.write(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "traces", f"{wl.name}-{tr.run_id}.json"))
    return ({k: {"value": float(v), "unit": u} for k, (v, u) in sorted(out.items())},
            plain)


def _scaling(bench, tr, t_n: float) -> float:
    """Speed-up of one call at local[N] over local[1], divided by N. The
    context restarts at one core, which leaves the program's module-level
    UDFs bound to the old context, so this runs last."""
    n = bench.cpus
    bench.restart(1)
    tr.rebind(bench.spark)
    d = bench.scratch()
    try:
        with tr.span("scaling.local1") as s:
            bench.wl.call(bench.spark, bench.inp, d)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return s.seconds / (n * t_n)
