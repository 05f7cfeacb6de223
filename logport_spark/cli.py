"""Control-plane CLI — the Spark analog of logport's command surface.

logport's dispatcher (src/LogPort.cc:591-941) exposes service management
(install/start/stop), watch management (watch/unwatch/watches), settings
(set/unset/settings), and inspection. Process babysitting is subsumed by the
Spark job lifecycle, so what remains is:

    python -m logport_spark.cli run     --pages <dir> --out <dir> [--run-id r1]
    python -m logport_spark.cli resume  --pages <dir> --out <dir> [--run-id r2]
    python -m logport_spark.cli status  --out <dir>       # ledger summary
    python -m logport_spark.cli routes [--out <dir>]      # `logport watches`
    python -m logport_spark.cli watch   --out <dir> --key <cat> --sink <tbl>
    python -m logport_spark.cli unwatch --out <dir> --key <cat>
    python -m logport_spark.cli set     --out <dir> <key> <value>
    python -m logport_spark.cli unset   --out <dir> <key>
    python -m logport_spark.cli settings [--out <dir>] [--set k=v ...]
    python -m logport_spark.cli deliver --out <dir> --broker <dir>  # wire → mock broker
    python -m logport_spark.cli adopt   --command 'cmd' --out <dir> # `logport adopt`
    python -m logport_spark.cli bench [--scaling]

`run` processes only un-committed buckets (so `run` after a crash IS
`resume`; the two verbs exist for operator familiarity). Packaged for spark-submit (tools/package_pyfiles.py builds the zip):
`spark-submit --py-files out/logport_spark.zip tools/submit_run.py run ...`
works because everything here is pure PySpark (tests/test_packaging.py
proves the zip alone suffices via zipimport)."""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(cpus: int | None = None):
    from .session import get_spark

    return get_spark("logport_spark_cli", cpus=cpus)


def cmd_run(args) -> int:
    from .config import Settings
    from .plans import ledger as L
    from .store import ConfigStore

    spark = _spark(args.cpus)
    pages = spark.read.parquet(args.pages)
    run_id = args.run_id or f"run_{int(time.time())}"
    # --buckets, else env > the out_dir's stored setting > default
    n_buckets = args.buckets or int(Settings(
        values=ConfigStore(args.out).settings_values()).get("ledger.buckets"))
    t0 = time.time()
    rows = L.run_with_ledger(spark, pages, args.out, run_id=run_id,
                             n_buckets=n_buckets).collect()
    n = sum(r["rows_routed"] for r in rows)
    b = sum(r["bytes_shipped"] for r in rows)
    f = sum(r["parse_failures"] for r in rows)
    print(json.dumps({
        "run_id": run_id, "buckets_committed": len(rows), "rows_routed": n,
        "bytes_shipped": b, "parse_failures": f,
        "sec": round(time.time() - t0, 2),
    }))
    return 0


def cmd_adopt(args) -> int:
    """`logport adopt <cmd>` (src/LogPort.cc:1378-1806): fork the command,
    ship every stdout AND stderr line through the pipeline as distinct
    substreams (`adopt://<name>/stdout` / `.../stderr`), ship the exit
    event — all from ONE invocation, like the reference's select loop over
    both pipe fds (src/LogPort.cc:1585-1786).

    The CLI plays logport's parent-process role: it owns the pipes (a
    loopback socket bridging both → the Spark socket source, each line
    tagged with a 1-byte substream prefix the stream strips), waits the
    child (waitpid analog), and ships the exit message after the stream
    drains. The drain check only starts once BOTH pipe pumps have hit EOF
    (child.wait() returning does not mean the pipes are drained — a
    grandchild can hold them open), so the sent-line count it compares
    against is final, never partial."""
    import socket
    import subprocess
    import threading

    from .streaming.adopt import adopt_exit_event, run_adopt

    spark = _spark(args.cpus)
    name = args.name or "adopt"
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    child = subprocess.Popen(
        args.command, shell=True, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True)
    sent = [0]
    send_lock = threading.Lock()
    eof = {"O": threading.Event(), "E": threading.Event()}
    drained = threading.Event()

    def bridge() -> None:
        conn, _ = srv.accept()

        def pump(pipe, tag: str) -> None:
            for line in pipe:
                body = line.rstrip("\n")
                with send_lock:  # whole tagged lines, never interleaved
                    conn.sendall((tag + body + "\n").encode())
                    if body.strip():
                        sent[0] += 1
            eof[tag].set()

        pumps = [threading.Thread(target=pump, args=(child.stdout, "O")),
                 threading.Thread(target=pump, args=(child.stderr, "E"))]
        for p in pumps:
            p.start()
        for p in pumps:
            p.join()
        with conn:
            drained.wait(timeout=120)  # hold the socket until the query stops

    t = threading.Thread(target=bridge, daemon=True)
    t.start()

    ckpt = args.out.rstrip("/") + "/_adopt_ckpt"
    q = run_adopt(spark, "127.0.0.1", port, args.out, ckpt, name=name,
                  tagged=True)
    rc = child.wait()
    # both pumps at pipe EOF → sent[0] is final; only then start the drain
    eof["O"].wait(timeout=120)
    eof["E"].wait(timeout=120)
    deadline = time.time() + 120
    while time.time() < deadline:
        try:
            if spark.read.parquet(args.out + "/sinks").count() >= sent[0]:
                break
        except Exception:
            pass
        time.sleep(1)
    q.stop()
    drained.set()
    srv.close()

    exit_df = adopt_exit_event(spark, child.pid, exit_code=rc, name=name)
    from .streaming.stream import SINK_COLS
    from pyspark.sql import functions as F

    (exit_df.select(*SINK_COLS)
     .withColumn("batch_id", F.lit(-1).cast("long"))
     .write.mode("append").partitionBy("batch_id", "sink")
     .parquet(args.out + "/sinks"))
    shipped = spark.read.parquet(args.out + "/sinks").count()
    print(json.dumps({"adopted": args.command, "pid": child.pid,
                      "exit_code": rc, "records_shipped": shipped}))
    return 0


def cmd_status(args) -> int:
    from pyspark.sql import functions as F

    from .plans import ledger as L

    spark = _spark(args.cpus)
    lg = L.read_ledger(spark, args.out)
    total = lg.agg(
        F.countDistinct("bucket").alias("buckets"),
        F.sum("rows_routed").alias("rows"),
        F.sum("bytes_shipped").alias("bytes"),
        F.sum("parse_failures").alias("failures"),
    ).collect()[0]
    per_run = [r.asDict() for r in
               lg.groupBy("run_id").agg(
                   F.count(F.lit(1)).alias("buckets"),
                   F.sum("rows_routed").alias("rows")).orderBy("run_id").collect()]
    print(json.dumps({
        "committed_buckets": total["buckets"] or 0,
        "rows_routed": total["rows"] or 0,
        "bytes_shipped": total["bytes"] or 0,
        "parse_failures": total["failures"] or 0,
        "runs": per_run,
    }))
    return 0


def cmd_routes(args) -> int:
    """`logport watches` analog: print the routing table — persisted
    mutations under --out when given, the built-in seed otherwise."""
    from .store import route_rows

    rows = route_rows(getattr(args, "out", None))
    for r in rows:
        print(f"{r['id']}\t{r['route_key']}\t{r['sink']}\t"
              f"{r['producer_type']}\t{r['brokers']}\t"
              f"{r['product_code'] or '-'}\t{r['log_type'] or '-'}\t"
              f"{r['hostname']}")
    return 0


def cmd_watch(args) -> int:
    """`logport watch <file> <topic>` analog: persist a route upsert
    (src/LogPort.cc:848-883 writes the watches table; store.py writes
    <out>/config/routes.parquet)."""
    from .store import ConfigStore

    spec = ConfigStore(args.out).watch(
        args.key, args.sink, brokers=args.brokers,
        product_code=args.prd or "", log_type=args.log_type or "",
        hostname=args.hostname or "")
    print(json.dumps({"watched": spec.route_key, "sink": spec.sink,
                      "producer_type": spec.producer_type, "id": spec.id}))
    return 0


def cmd_unwatch(args) -> int:
    """`logport unwatch <file>` analog: persist a route delete."""
    from .store import ConfigStore

    removed = ConfigStore(args.out).unwatch(args.key)
    print(json.dumps({"unwatched": args.key, "existed": removed}))
    return 0 if removed else 1


def cmd_set(args) -> int:
    """`logport set <key> <value>`: persist a setting
    (src/LogPort.cc:1221-1273)."""
    from .store import ConfigStore

    ConfigStore(args.out).set(args.key, args.value)
    print(json.dumps({"set": args.key, "value": args.value}))
    return 0


def cmd_unset(args) -> int:
    """`logport unset <key>`: remove a persisted setting — lookups fall
    back to the hardcoded default, logport's unset semantics."""
    from .store import ConfigStore

    existed = ConfigStore(args.out).unset(args.key)
    print(json.dumps({"unset": args.key, "existed": existed}))
    return 0 if existed else 1


def cmd_settings(args) -> int:
    """Settings with env > stored/--set > default precedence
    (src/LogPort.cc:961-1048). With --out, the persisted store feeds the
    stored tier; --set k=v overlays for THIS invocation only (use the
    `set` verb to persist)."""
    from .config import Settings

    s = Settings()
    if getattr(args, "out", None):
        from .store import ConfigStore

        s.values.update(ConfigStore(args.out).settings_values())
    for kv in args.set or []:
        k, _, v = kv.partition("=")
        s.values[k] = v
    keys = sorted(set(s.defaults) | set(s.values))
    for k in keys:
        print(f"{k}={s.get(k)}")
    return 0


def cmd_deliver(args) -> int:
    """Produce committed sink rows as wire batches to the mock broker and
    print the delivery-report summary (K1/K3 loop; see operators/transport)."""
    from pyspark.sql import functions as F

    from .operators import transport as T
    from .operators.wire import batch_messages
    from .plans import ledger as L

    spark = _spark(args.cpus)
    routed = L.read_routed(spark, args.out).select("sink", "url", "line_no", "record")
    # parquet-metadata count; sub-streams scale with the committed row count
    wire = batch_messages(L.with_bucket(routed, L.scaled_buckets(routed.count())),
                          stream_col="bucket")
    reports = T.deliver(wire, args.broker).cache()
    summary = reports.groupBy("status").agg(
        F.count(F.lit(1)).alias("batches"), F.sum("n_msgs").alias("msgs"),
        F.sum("bytes").alias("bytes")).collect()
    print(json.dumps({r["status"]: {"batches": r["batches"], "msgs": r["msgs"],
                                    "bytes": r["bytes"]} for r in summary}))
    return 0


def cmd_compact(args) -> int:
    """OPTIMIZE-style maintenance: rewrite over-split sink partitions at a
    byte-targeted file count (route.compact_sinks) — row content and
    exactly-once semantics untouched (dynamic partition overwrite)."""
    from .operators.route import compact_sinks

    spark = _spark(args.cpus)
    done = compact_sinks(spark, args.out + "/sinks",
                         target_file_bytes=args.target_mb << 20)
    print(json.dumps({
        "compacted": {s: {"files_before": b, "files_after": a}
                      for s, (b, a) in done.items()},
        "partitions_rewritten": len(done),
    }))
    return 0


def cmd_compact_state(args) -> int:
    """Streaming-state retention (the maintenance twin of `compact` for
    the cross-batch dedup stream): fold committed batch partitions into
    the -1 generation through stream.fold_batches — state listing cost
    stays O(generations) over a month-deep stream. --out and --checkpoint
    may be any Hadoop path (a local dir, file://, hdfs://). Pass
    --checkpoint so a crashed batch's partitions survive for its replay
    (omit ONLY after a clean shutdown)."""
    from .streaming.dedup_stream import compact_clean, compact_dedup_state
    from .streaming.stream import last_committed_batch

    spark = _spark(args.cpus)
    kwargs = {"checkpoint_dir": args.checkpoint} if args.checkpoint else {}
    compact_dedup_state(spark, args.out, sig_files=args.sig_files, **kwargs)
    if args.clean:
        compact_clean(spark, args.out, **kwargs)
    print(json.dumps({
        "out": args.out,
        "folded_through_batch": (last_committed_batch(spark, args.checkpoint)
                                 if args.checkpoint else None),
        "clean_folded": bool(args.clean),
    }))
    return 0


def cmd_manifest(args) -> int:
    """Build or refresh the per-file min/max statistics table for a parquet
    directory (plans/manifest.write_manifest) and report per-column file
    counts — the maintenance verb that keeps planning-time pruning
    (pruned_read) current after new generations land. Pair with `compact`:
    compaction changes the file set, so it invalidates per-file stats."""
    from pyspark.sql import functions as F

    from .plans.manifest import MANIFEST_DIR, update_manifest, write_manifest

    spark = _spark(args.cpus)
    cols = [c.strip() for c in (args.columns or "").split(",") if c.strip()]
    delta = None
    if args.update:
        try:
            delta = update_manifest(spark, args.path, cols or None)
        except ValueError as e:
            print(json.dumps({"error": str(e)}))
            return 2
    else:
        if not cols:
            print(json.dumps({"error": "no columns given"}))
            return 2
        write_manifest(spark, args.path, cols)
    man = spark.read.parquet(f"{args.path}/{MANIFEST_DIR}")
    stats = {r["col"]: r["n"] for r in
             man.groupBy("col").agg(F.count(F.lit(1)).alias("n")).collect()}
    out = {"path": args.path, "columns": cols or sorted(stats),
           "files_per_column": stats}
    if delta is not None:
        out["delta"] = delta
    print(json.dumps(out))
    return 0


def cmd_bench(args) -> int:
    import os
    import subprocess

    # repo root when running from a checkout; cwd fallback when the package
    # ships as a --py-files zip (bench.py lives outside the zip)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(root, "bench.py")
    if not os.path.exists(script):
        script = "bench.py"
    cmd = [sys.executable, script] + (["--scaling"] if args.scaling else [])
    return subprocess.call(cmd)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="logport_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--cpus", type=int, default=None)

    for verb in ("run", "resume"):
        sp = sub.add_parser(verb)
        sp.add_argument("--pages", required=True)
        sp.add_argument("--out", required=True)
        sp.add_argument("--run-id", default=None)
        sp.add_argument("--buckets", type=int, default=None,
                        help="default: the ledger.buckets setting")
        common(sp)
        sp.set_defaults(fn=cmd_run)
    sp = sub.add_parser("status")
    sp.add_argument("--out", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_status)
    sp = sub.add_parser("routes")
    sp.add_argument("--out", default=None,
                    help="out_dir whose persisted route mutations to show")
    sp.set_defaults(fn=cmd_routes)
    sp = sub.add_parser("settings")
    sp.add_argument("--set", action="append")
    sp.add_argument("--out", default=None,
                    help="out_dir whose persisted settings feed the stored tier")
    sp.set_defaults(fn=cmd_settings)
    sp = sub.add_parser("watch")
    sp.add_argument("--out", required=True)
    sp.add_argument("--key", required=True, help="route_key (category)")
    sp.add_argument("--sink", required=True)
    sp.add_argument("--brokers", default="kafka://localhost:9092")
    sp.add_argument("--prd", default="")
    sp.add_argument("--log-type", dest="log_type", default="")
    sp.add_argument("--hostname", default="")
    sp.set_defaults(fn=cmd_watch)
    sp = sub.add_parser("unwatch")
    sp.add_argument("--out", required=True)
    sp.add_argument("--key", required=True)
    sp.set_defaults(fn=cmd_unwatch)
    sp = sub.add_parser("set")
    sp.add_argument("--out", required=True)
    sp.add_argument("key")
    sp.add_argument("value")
    sp.set_defaults(fn=cmd_set)
    sp = sub.add_parser("unset")
    sp.add_argument("--out", required=True)
    sp.add_argument("key")
    sp.set_defaults(fn=cmd_unset)
    sp = sub.add_parser("adopt")
    sp.add_argument("--command", required=True)
    sp.add_argument("--out", required=True)
    sp.add_argument("--name", default=None)
    common(sp)
    sp.set_defaults(fn=cmd_adopt)
    sp = sub.add_parser("deliver")
    sp.add_argument("--out", required=True)
    sp.add_argument("--broker", required=True)
    common(sp)
    sp.set_defaults(fn=cmd_deliver)
    sp = sub.add_parser("compact")
    sp.add_argument("--out", required=True)
    sp.add_argument("--target-mb", type=int, default=128)
    common(sp)
    sp.set_defaults(fn=cmd_compact)
    sp = sub.add_parser("compact-state",
                        help="fold committed stream batches (state/ and, "
                             "with --clean, clean/) into one generation; "
                             "any Hadoop path")
    sp.add_argument("--out", required=True)
    sp.add_argument("--checkpoint", default=None,
                    help="stream checkpoint dir (any Hadoop path); folds "
                         "only committed batches (omit only after a clean "
                         "shutdown)")
    sp.add_argument("--sig-files", dest="sig_files", type=int, default=8)
    sp.add_argument("--clean", action="store_true",
                    help="also fold the clean/ output view")
    common(sp)
    sp.set_defaults(fn=cmd_compact_state)
    sp = sub.add_parser("manifest")
    sp.add_argument("--path", required=True)
    sp.add_argument("--columns", default=None,
                    help="comma-separated stat columns, e.g. warc_ts,domain "
                         "(required for a full build; optional with --update)")
    sp.add_argument("--update", action="store_true",
                    help="incremental: stat only new files, drop vanished")
    common(sp)
    sp.set_defaults(fn=cmd_manifest)
    sp = sub.add_parser("bench")
    sp.add_argument("--scaling", action="store_true")
    sp.set_defaults(fn=cmd_bench)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
