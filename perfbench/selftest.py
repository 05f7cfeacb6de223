"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload, including ledger_plain, once on a few hundred pages
(and two small stream files) in one Spark session, and requires each call
to pass its oracle check. It then perturbs one expected count per workload
and requires that the same call is reported as a failure. Exits 0 only
when both hold for every workload.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys

import run

SIZES = {"ledger_mixed": 200, "ledger_plain": 400, "curate_lines": 200}
SEED = 7


def tiny(wl):
    """A copy of workload `wl` at self-test size."""
    w = copy.copy(wl)
    if w.name == "stream_deliver":
        w.files, w.pages_per_file = 2, 100
        w.pages = w.files * w.pages_per_file
    else:
        w.pages = SIZES[w.name]
    return w


def perturb(expected: dict) -> dict:
    bad = copy.deepcopy(expected)
    if "sinks" in bad:
        bad["sinks"]["sink_news"]["rows_routed"] += 1
    else:
        bad["curated"]["rows"] += 1
    return bad


def main() -> int:
    work = os.path.join(run.BENCH, "work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    ok = True
    run.adopt_orphans()
    try:
        env = run.pin_environment(work)
        import workloads

        for wl in map(tiny, workloads.WORKLOADS.values()):
            inp = wl.prepare(SEED, run.CACHE, env["cpus"])
            bench = run.Bench(wl, inp, work, env["cpus"])
            bench.setup()
            good = bench.timed_calls(0.0)
            bench.inp = {**inp, "expected": perturb(inp["expected"])}
            caught = bench.timed_calls(0.0)
            passed = good["failed"] == 0 and caught["failed"] > 0
            ok &= passed
            print(f"{wl.name}: pages={wl.pages} attempted={good['attempted']} "
                  f"failed={good['failed']}; perturbed expectation -> "
                  f"failed={caught['failed']} {caught['problems'][:1]} "
                  f"{'PASS' if passed else 'FAIL'}", flush=True)
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
