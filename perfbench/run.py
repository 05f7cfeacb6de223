"""Seeded end-to-end benchmark of the logport_spark pipeline.

    python3 perfbench/run.py --workload ledger_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The benchmark imports that checkout's
`logport_spark` and nothing else, keeps every file it writes under
perfbench/, checks each timed call against an oracle, and prints one JSON
object as its last line of output. `--trace 0` reports the end-to-end
metrics; `--trace 1` reports the per-layer metrics of perfbench/layers.py.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import procstat

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, "cache")
SETUPS = 2              # setups per untraced run; setup_s is their median
DRIVER_MEM = "2g"       # inputs are a few MB; the session default is 48g
PR_SET_CHILD_SUBREAPER = 36


def _inside(path: str) -> bool:
    return os.path.realpath(path).startswith(os.path.realpath(ROOT) + os.sep)


def pin_environment(work: str) -> dict:
    """Point every path the program and Spark use into this checkout, then
    import the program and refuse to go on if it comes from elsewhere."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "LOGPORT_SPARK_DATA_DIR": os.path.join(BENCH, "data"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        # Python workers import the program from this checkout too
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    sys.path.insert(0, ROOT)
    try:
        import logport_spark
        from logport_spark import datagen
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import logport_spark from {ROOT}: {e}")
    for what, path in (("logport_spark", logport_spark.__file__),
                       ("datagen.DATA_DIR", datagen.DATA_DIR)):
        if not _inside(path):
            raise SystemExit(f"perfbench: {what} resolves to {path}, outside "
                             f"the checkout under test {ROOT}")
    return {"cpus": cpus, "tmp": tmp}


def spark_session(work: str, cpus: int):
    from logport_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            # a fixed heap size, so heap resizing does not vary between runs
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Become the parent of every process this run starts whose own parent
    ends first (the JVM's Python workers, multiprocessing helpers), so
    that reap_children can wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait until every child of this process has ended. Past timeout_s,
    kill whatever is left of the process tree, and keep waiting."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child left
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in procstat.tree(os.getpid(), procstat.processes())[1:]:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def shutdown() -> None:
    """Stop Spark, then wait for every process the run started to end."""
    # a second SIGTERM must not cut the clean-up short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        stop_spark()
    finally:
        reap_children()


def load_lookups(spark) -> None:
    from logport_spark.operators.enrich import load_lookups as load

    for df in load(spark).values():
        df.collect()


def environment_record(spark, cpus: int, seed: int) -> dict:
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True, timeout=10,
                                check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # a checkout without git metadata
    conf = dict(spark.sparkContext.getConf().getAll())
    return {"cores": cpus, "seed": seed, "git_commit": commit,
            "spark": spark.version, "python": platform.python_version(),
            "spark_conf": {k: conf[k] for k in sorted(conf)
                           if k.startswith("spark.sql.") or k in (
                               "spark.master", "spark.driver.memory",
                               "spark.local.dir")},
            "env": {k: os.environ[k] for k in ("SPARK_DRIVER_MEM",
                                               "SPARK_LOCAL_DIRS")}}


def tail_percentile(xs: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, and its
    value (nearest rank); (None, None) below eleven samples."""
    n = len(xs)
    if n <= 10:
        return None, None
    k = n - 10                      # rank of the sample, ten lie above it
    return 100.0 * k / n, sorted(xs)[k - 1]


class Bench:
    """One run: set up, time calls for `seconds`, check every call."""

    def __init__(self, wl, inp: dict, work: str, cpus: int):
        self.wl, self.inp, self.work, self.cpus = wl, inp, work, cpus
        self.spark = None
        self._n = 0

    def scratch(self) -> str:
        self._n += 1
        d = os.path.join(self.work, f"call{self._n}")
        os.makedirs(d)
        return d

    def setup(self) -> tuple[float, float]:
        """Start a session, load the lookup tables and warm up; return the
        wall and CPU seconds it took. The first setup starts the JVM and
        the SparkContext; a later one starts a new session on that context
        (restarting the context in the same process would leave the
        program's module-level UDFs bound to the old one)."""
        c0, t0 = procstat.cpu_seconds(os.getpid()), time.perf_counter()
        if self.spark is None:
            self.spark = spark_session(self.work, self.cpus)
        else:
            self.spark = self.spark.newSession()
        load_lookups(self.spark)
        self.wl.setup(self.spark)
        d = self.scratch()
        self.wl.warmup(self.spark, self.inp, d)
        dt = time.perf_counter() - t0
        cpu_s = procstat.cpu_seconds(os.getpid()) - c0
        shutil.rmtree(d)
        return dt, cpu_s

    def restart(self, cpus: int) -> None:
        """Stop the SparkContext and start one with `cpus` cores."""
        self.spark.stop()
        self.cpus = cpus
        self.spark = spark_session(self.work, cpus)
        self.wl.setup(self.spark)

    def setups(self, n: int) -> list[tuple[float, float]]:
        return [self.setup() for _ in range(n)]

    def timed_calls(self, seconds: float, rss=None,
                    wrap=contextlib.nullcontext) -> dict:
        """Call the workload until `seconds` of call time is spent (at least
        once); check each call outside the timed region (a workload whose
        calls leave nothing to inspect checks its first call's plan once).
        `wrap` makes a context manager entered around each call alone."""
        durs, cpus, batches, problems = [], [], [], []
        attempted = failed = 0
        check_s = 0.0
        while not durs or sum(durs) < seconds:
            d = self.scratch()
            attempted += 1
            try:
                # start every call from a collected heap, so the peak it
                # reaches does not depend on the garbage left before it
                self.spark._jvm.System.gc()
                if rss is not None:
                    rss.active.set()
                with wrap():
                    c0, t0 = procstat.cpu_seconds(os.getpid()), time.perf_counter()
                    out = self.wl.call(self.spark, self.inp, d)
                    dt = time.perf_counter() - t0
                    cpu_s = procstat.cpu_seconds(os.getpid()) - c0
                if rss is not None:
                    rss.active.clear()
                if hasattr(self.wl, "batches"):
                    out["batches"] = self.wl.batches()
                    batches += [b["ms"] for b in out["batches"]]
                t1 = time.perf_counter()
                bad = (self.wl.check(self.spark, self.inp, d, out)
                       if self.wl.check_every_call or not durs else [])
                check_s += time.perf_counter() - t1
                attempted += out.get("wire_batches", 0)
                failed += out.get("nacked", 0)
            except Exception:
                traceback.print_exc()
                dt, bad = None, ["call raised"]
            finally:
                if rss is not None:
                    rss.active.clear()
                shutil.rmtree(d, ignore_errors=True)
            if bad:
                failed += 1
                problems += bad
                print(f"perfbench: check failed: {bad[:5]}", file=sys.stderr)
                if dt is None or failed > 3:
                    break
            if dt is not None:
                durs.append(dt)
                cpus.append(cpu_s)
        return {"durs": durs, "cpu_s": cpus, "batches": batches,
                "attempted": attempted,
                "failed": failed, "problems": problems, "check_s": check_s}


def end_to_end(wl, setup_cpu_s: list[float], timed: dict) -> dict:
    cpu = timed["cpu_s"] or [float("nan")]
    return {
        "setup_s": {"value": statistics.median(setup_cpu_s), "unit": "s"},
        "cpu_s_per_kpage": {"value": 1000.0 * statistics.median(cpu) / wl.pages,
                            "unit": "s/kpage"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a timeout usually arrives as SIGTERM: unwind so the JVM and the
    # work directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    work = os.path.join(BENCH, "work", str(os.getpid()))
    os.makedirs(work)
    try:
        env = pin_environment(work)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                             f"choose from {sorted(workloads.WORKLOADS)}")
        wl = workloads.WORKLOADS[args.workload]
        load_start = os.getloadavg()
        t0 = time.perf_counter()
        inp = wl.prepare(args.seed, CACHE, env["cpus"])
        prepare_s = time.perf_counter() - t0
        bench = Bench(wl, inp, work, env["cpus"])
        # a traced run does not report setup_s, so it sets up once
        setups = bench.setups(1 if args.trace else SETUPS)
        setup_cpu_s = [c for _, c in setups]
        record = {"workload": wl.name, "pages_per_call": wl.pages,
                  **environment_record(bench.spark, env["cpus"], args.seed),
                  "load_start": load_start}
        with procstat.PeakRss(os.getpid()) as rss:
            if args.trace:
                import layers

                metrics, timed = layers.per_layer(bench, args.seconds, rss)
            else:
                timed = bench.timed_calls(args.seconds, rss)
                metrics = end_to_end(wl, setup_cpu_s, timed)
        peak_mb = rss.peak / 2**20
        record.update({
            "prepare_s": prepare_s, "setups_s": [w for w, _ in setups],
            "setups_cpu_s": setup_cpu_s,
            "pages_per_s": (wl.pages / statistics.median(timed["durs"])
                            if timed["durs"] else None),
            "call_s": timed["durs"], "call_cpu_s": timed.get("cpu_s"),
            "check_s": timed.get("check_s"),
            "attempted": timed["attempted"], "failed": timed["failed"],
            "failed_frac": timed["failed"] / max(1, timed["attempted"]),
            "failed_base": "timed calls plus delivered wire batches",
            "problems": timed["problems"][:20],
            "load_end": os.getloadavg(), "peak_rss_mb": peak_mb,
            "peak_rss_parts_mb": sorted(((c, round(b / 2**20)) for c, b in rss.peak_parts),
                                        key=lambda x: -x[1])[:8]})
        if timed["batches"]:
            trig = [b["triggerExecution"] for b in timed["batches"]]
            pct, val = tail_percentile(trig)
            record.update({"batch_n": len(trig),
                           "batch_p50_ms": statistics.median(trig),
                           "batch_tail_pct": pct, "batch_tail_ms": val})
        print("perfbench record: " + json.dumps(record, default=str))
        correct = timed["failed"] == 0 and bool(timed["durs"])
        print(json.dumps({"correct": correct, "attempted": timed["attempted"],
                          "failed": timed["failed"], "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
