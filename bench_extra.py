#!/usr/bin/env python
"""Side benchmarks (bench.py is FROZEN for driver measurement; extras live
here — guide §1.4 noop-sink isolation plus the r6 bytes-moved ledger).

For each selected query this harness times the noop-forced evaluation
best-of-N AND records the bytes the query moved and the plan that ran, from
Spark's own status stores (logport_spark/profile.py; no Spark UI): scan
input bytes, shuffle write bytes, shuffle read bytes, the completed stage
count and the final AQE plan. That turns plan-shape claims ("the decision
shuffles carry metadata, not text") into recorded evidence — VERDICT r5
"Next round" item #3. Running the same query list on two commits compares
their executed plans as well as their bytes.

Usage:
    python bench_extra.py                       # default query set, sf0.1
    python bench_extra.py q1 q2 ...             # named queries only
    SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... # same env contract as bench.py
    BENCH_EXTRA_REPS=3                          # best-of-N (default 2)

Writes BENCH/bytes_ledger.json and prints one JSON line per query (the
ledger's keys plus the final `plan`). `sec` times building the query plus
its noop write; bytes and stages come from the last timed repetition and
count the jobs building ran too (schema reads, eager checkpoint rounds).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "2"))

DEFAULT_QUERIES = [
    # the line-grain family (r6 headline optimization target)
    "line_dedup_corpus", "domain_boilerplate", "web_curation",
    "strip_boilerplate",
    # heavy tail of BENCH/last_run.json (regression watch)
    "dedup_clusters", "cluster_retention", "filter_funnel",
    "hybrid_rrf_topk", "corpus_clean", "dedup_minhash_pairs",
    "lp_sink_metrics", "lp_envelope", "bm25_topk", "training_export",
]

BYTE_KEYS = ("input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
             "n_stages")


def main(argv: list[str]) -> None:
    from logport_spark.profile import profile
    from logport_spark.session import get_spark

    import __spark_entry__ as em

    qs = {**em.queries(), **getattr(em, "baseline_queries", dict)()}
    names = argv or DEFAULT_QUERIES
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    spark = get_spark("bench_extra", cpus=CPUS)

    # untimed warm-up: Python worker pool + codegen JIT (bench.py rationale)
    qs[names[0]](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    ledger: dict[str, dict] = {}
    for name in names:
        runs = []
        for _ in range(REPS):
            runs.append(profile(spark, f"bench_extra: {name}",
                                lambda: qs[name](spark, SF_DIR)))
            spark.catalog.clearCache()
        rec = {"sec": min(r["wall_s"] for r in runs),
               **{k: runs[-1][k] for k in BYTE_KEYS}}
        ledger[name] = rec
        print(json.dumps({"query": name, **rec, "plan": runs[-1]["plan"]}),
              flush=True)

    out = {"sf_dir": SF_DIR, "cpus": CPUS, "reps": REPS,
           "load_avg": round(os.getloadavg()[0], 2), "queries": ledger}
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/bytes_ledger.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
