"""The workloads: inputs, the timed call, and its correctness check.

Each workload calls only the public functions of the program. Inputs and
expected outputs are made once per (seed, size) and cached; neither is
timed. Every timed call gets fresh output, checkpoint and broker
directories, so no call can resume from an earlier one.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import gen
import oracles

# ledger buckets per run_with_ledger call (its default is 64). Each bucket
# adds a fixed cost to the sink write and its rescan; at 64 that cost
# hides the per-record parse and enrich work on these inputs.
N_BUCKETS = 8
INPUT_FILES = 8        # part files of a batch input (two per core on 4)
CURATE_MIN_DOCS = 20   # the web-curation chain's boilerplate threshold
CURATE_MIN_KEPT = 2


class Workload:
    name = ""
    pages = 0              # input pages per timed call
    check_every_call = True
    warmup_calls = 1
    probe_dir = "pages"    # the input directory the layer probes read

    def input_key(self, seed: int) -> str:
        return f"{self.name}-s{seed}-n{self.pages}"

    def make(self, seed: int, path: str, procs: int) -> dict:
        """Write the inputs under path; return the expected results."""
        raise NotImplementedError

    def prepare(self, seed: int, cache: str, procs: int) -> dict:
        """Inputs and expectations for seed, from the cache when present."""
        path = os.path.join(cache, self.input_key(seed))
        meta = os.path.join(path, "expected.json")
        if not os.path.exists(meta):
            shutil.rmtree(path, ignore_errors=True)
            tmp = path + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            expected = self.make(seed, tmp, procs)
            with open(os.path.join(tmp, "expected.json"), "w") as f:
                json.dump(expected, f)
            os.replace(tmp, path)
        with open(meta) as f:
            return {"dir": path, "expected": json.load(f)}

    def probe_input(self, inp: dict) -> tuple[str, list[str]]:
        """The timed call's input directory and its files, in order."""
        d = os.path.join(inp["dir"], self.probe_dir)
        return d, sorted(os.path.join(d, f) for f in os.listdir(d)
                         if f.endswith(".parquet"))

    def setup(self, spark) -> None:
        """Per-session state a workload needs before its first call."""

    def warmup(self, spark, inp: dict, scratch: str) -> None:
        """Untimed calls: `warmup_calls` of the timed call by default."""
        for _ in range(self.warmup_calls):
            self.call(spark, inp, scratch)

    def call(self, spark, inp: dict, scratch: str) -> dict:
        """The timed call; returns what the check needs."""
        raise NotImplementedError

    def check(self, spark, inp: dict, scratch: str, out: dict) -> list[str]:
        """Mismatches against the oracle; empty when correct."""
        raise NotImplementedError


def _sink_mismatches(got: dict, want: dict, fields) -> list[str]:
    bad = []
    for sink in sorted(set(got) | set(want)):
        for f in fields:
            g, w = got.get(sink, {}).get(f, 0), want.get(sink, {}).get(f, 0)
            if g != w:
                bad.append(f"{sink}.{f}: got {g}, want {w}")
    return bad


class Ledger(Workload):
    """run_with_ledger into a fresh out_dir over a batch pages input."""

    table = None  # gen.mixed_pages or gen.plain_pages

    def make(self, seed, path, procs):
        t = type(self).table(seed, self.pages)
        gen.write_parts(t, os.path.join(path, "pages"), INPUT_FILES)
        return {"sinks": oracles.sink_metrics(gen.to_rows(t), procs)}

    def call(self, spark, inp, scratch):
        from logport_spark.plans.ledger import run_with_ledger

        pages = spark.read.parquet(os.path.join(inp["dir"], "pages"))
        out_dir = os.path.join(scratch, "out")
        rows = run_with_ledger(spark, pages, out_dir, "bench",
                               n_buckets=N_BUCKETS).collect()
        return {"out_dir": out_dir, "ledger": [r.asDict() for r in rows]}

    def check(self, spark, inp, scratch, out):
        from logport_spark.plans.ledger import read_routed
        from logport_spark.plans.pipeline import sink_metrics

        bad = []
        committed = {r["bucket"] for r in out["ledger"]
                     if r["status"] == "committed"}
        if len(committed) != N_BUCKETS:
            bad.append(f"buckets_committed {len(committed)} != {N_BUCKETS}")
        want = inp["expected"]["sinks"]
        for f in oracles.SINK_FIELDS:
            g = sum(r[f] for r in out["ledger"])
            w = sum(m[f] for m in want.values())
            if g != w:
                bad.append(f"ledger total {f}: got {g}, want {w}")
        got = {r["sink"]: r.asDict() for r in
               sink_metrics(read_routed(spark, out["out_dir"])).collect()}
        return bad + _sink_mismatches(got, want, oracles.SINK_FIELDS)


class LedgerMixed(Ledger):
    name = "ledger_mixed"
    pages = 12_000
    table = staticmethod(gen.mixed_pages)


class LedgerPlain(Ledger):
    name = "ledger_plain"
    pages = 40_000
    table = staticmethod(gen.plain_pages)


class Progress:
    """StreamingQueryListener that keeps each micro-batch's progress."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events, lock = [], threading.Lock()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    events.append({"batch": p.batchId,
                                   "rows": p.numInputRows,
                                   "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener, self._events, self._lock = Listener(), events, lock

    @classmethod
    def attach(cls, spark) -> "Progress":
        p = cls()
        spark.streams.addListener(p.listener)
        return p

    def take(self, n: int, timeout_s: float = 30.0) -> list[dict]:
        """Wait for n progress events (the listener bus is asynchronous),
        then return and clear them."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self._events) >= n:
                    break
            time.sleep(0.01)
        with self._lock:
            got, self._events[:] = list(self._events), []
        return got


class StreamDeliver(Workload):
    """run_stream_deliver draining a staged backlog, one file per trigger."""

    name = "stream_deliver"
    files = 8
    pages_per_file = 200
    pages = files * pages_per_file
    probe_dir = "backlog"

    def make(self, seed, path, procs):
        t = gen.mixed_pages(seed, self.pages)
        gen.write_parts(t, os.path.join(path, "backlog"), self.files)
        gen.write_parts(gen.mixed_pages(seed + 1_000_003, self.pages_per_file),
                        os.path.join(path, "warmup"), 1)
        return {"sinks": oracles.sink_metrics(gen.to_rows(t), procs)}

    def setup(self, spark):
        self.progress = Progress.attach(spark)

    def _run(self, spark, pages_dir, scratch):
        from logport_spark.streaming.stream import run_stream_deliver

        out_dir = os.path.join(scratch, "out")
        run_stream_deliver(spark, pages_dir, os.path.join(scratch, "broker"),
                           out_dir, os.path.join(scratch, "checkpoint"),
                           max_files=1)
        return {"out_dir": out_dir}

    def warmup(self, spark, inp, scratch):
        self._run(spark, os.path.join(inp["dir"], "warmup"), scratch)
        self.progress.take(1)

    def call(self, spark, inp, scratch):
        return self._run(spark, os.path.join(inp["dir"], "backlog"), scratch)

    def batches(self) -> list[dict]:
        return self.progress.take(self.files)

    def check(self, spark, inp, scratch, out):
        from pyspark.sql import functions as F

        bad = []
        if len(out["batches"]) != self.files:
            bad.append(f"batches {len(out['batches'])} != files {self.files}")
        reps = spark.read.parquet(out["out_dir"] + "/delivery_reports")
        acked = {r["sink"]: {"rows_routed": r["n"]} for r in
                 reps.filter(F.col("status") == "ack").groupBy("sink")
                 .agg(F.sum("n_msgs").alias("n")).collect()}
        out["wire_batches"] = reps.count()
        out["nacked"] = reps.filter(F.col("status") != "ack").count()
        if out["nacked"]:
            bad.append(f"{out['nacked']} nacked wire batches")
        return bad + _sink_mismatches(acked, inp["expected"]["sinks"],
                                      ("rows_routed",))


class CurateLines(Workload):
    """url_dedup -> curate_lines_corpus -> n_kept >= 2, to a noop sink."""

    name = "curate_lines"
    pages = LedgerMixed.pages
    check_every_call = False  # noop sink: the plan is checked once
    warmup_calls = 5          # its first calls still speed up call by call

    def make(self, seed, path, procs):
        t = gen.mixed_pages(seed, self.pages)
        pages_dir = os.path.join(path, "pages")
        gen.write_parts(t, pages_dir, INPUT_FILES)
        return {"curated": oracles.curated(pages_dir, CURATE_MIN_DOCS,
                                           CURATE_MIN_KEPT, procs)}

    @staticmethod
    def curated(spark, pages_dir):
        from pyspark.sql import functions as F

        from logport_spark.operators.dedup import curate_lines_corpus, url_dedup

        pages = spark.read.parquet(pages_dir).select("url", "warc_ts", "text")
        surv = url_dedup(pages).select("url")
        base = pages.join(surv, "url", "left_semi").select("url", "text")
        dd = curate_lines_corpus(base, min_docs=CURATE_MIN_DOCS, id_col="url")
        return (dd.withColumnRenamed("doc_id", "url")
                .filter(F.col("n_kept") >= CURATE_MIN_KEPT))

    def call(self, spark, inp, scratch):
        pages_dir = os.path.join(inp["dir"], "pages")
        self.curated(spark, pages_dir).write.format("noop").mode(
            "overwrite").save()
        return {"pages_dir": pages_dir}

    def check(self, spark, inp, scratch, out):
        df = self.curated(spark, out["pages_dir"]).select("url", "n_kept", "text")
        rows = [tuple(r) for r in df.collect()]
        got = {"rows": len(rows), "digest": oracles.digest_rows(rows)}
        want = inp["expected"]["curated"]
        return [f"curated {k}: got {got[k]}, want {want[k]}"
                for k in ("rows", "digest") if got[k] != want[k]]


WORKLOADS = {w.name: w for w in (LedgerMixed(), LedgerPlain(),
                                 StreamDeliver(), CurateLines())}
