"""Checkpoint ledger + resume: logport's offset ledger, re-designed for Spark.

Reference semantics re-expressed (NOT ported):
- L1/L2 offset save/load (src/Watch.cc:180-200, src/InotifyWatcher.cc:467-507):
  logport persists one byte offset per watched file and resumes from it. Here
  the unit of progress is a *bucket* — `pmod(xxhash64(url), n_buckets)` — and
  the ledger is a parquet/Iceberg table with one row per (run_id, bucket)
  holding the per-bucket aggregate counts and a `committed` status.
- L4 at-least-once → exactly-once: logport can duplicate on crash (produce
  then die before offset save). We upgrade to exactly-once routed-row
  equality via the *ledger-last* protocol: (1) write sink partitions
  idempotently (dynamic partition overwrite keyed on bucket — a re-run of an
  uncommitted bucket replaces, never appends), (2) append the ledger rows
  only after the sink write succeeds. Crash between (1) and (2) ⇒ the bucket
  is rewritten on resume with identical content (deterministic pipeline), so
  the final table equals a fresh run's — the pytest gate.
- S3 dead-letter replay (src/InotifyWatcher.cc:208-247): parse failures land
  in a quarantine table; `replay_quarantine` unions them with live lines
  for callers to pass to `pipeline.routed_from_lines` (the reference's
  rename-to-temp trick is subsumed by the sink-overwrite semantics).

Scale notes: the ledger is O(n_buckets) rows per run — thousands, not
billions; it is read once per run, and the pending buckets become a literal
IN-list filter on the input. Buckets double as the salt for the fan-out
write (hash of url ⇒ hot domains spread uniformly across buckets), so
resume granularity and skew-defusal share one shuffle.
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import route as R
from .pipeline import parsed_routed, shipped_aggs

DEFAULT_BUCKETS = 64

# Upper bound on rows a single (sink, bucket) sub-stream may hold: each
# sub-stream is one window-sort task in wire batching (operators/wire.py), so
# this is the direct lever on per-task memory. 4M rows of ~200-byte envelope
# records ≈ 800 MB task input — comfortable for a 4-8 GiB executor.
MAX_ROWS_PER_STREAM = 4_000_000

# Rough envelope records per web page (datagen yields ~18.5 non-empty lines
# per page; order-of-magnitude is all the pow2-clamped rule needs).
EST_RECORDS_PER_PAGE = 20


EST_BYTES_PER_PAGE = 512  # compressed parquet footprint of one page row


def plan_bytes(df: DataFrame) -> int:
    """The optimized plan's sizeInBytes statistic: for a file scan, the sum
    of its file sizes, already known from the listing — no job, no RPC."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def estimated_pages(df) -> int:
    """Zero-job page-count estimate for bucket sizing: the optimized plan's
    sizeInBytes (the sum of scan file sizes, already known from the listing
    the read performed) divided by a conservative per-page footprint.
    Bucket sizing needs only order-of-magnitude accuracy — scaled_buckets
    clamps to powers of two, so a 2-3× misestimate moves nothing at small
    scale and at most one pow2 step at large scale — and unlike
    ``df.count()`` it never spends an extra job touching every file footer,
    which at 10^12 rows is a real scan."""
    return max(1, plan_bytes(df) // EST_BYTES_PER_PAGE)


def scaled_buckets(n_rows: int, max_rows_per_stream: int = MAX_ROWS_PER_STREAM,
                   lo: int = DEFAULT_BUCKETS, hi: int = 131_072) -> int:
    """Bucket count scaled to the input, SURVEY §9's 10-100k-bucket rule.

    The fixed DEFAULT_BUCKETS=64 is right at test scale but a cliff at
    10^12 records (~2B rows per window-sort task). This picks the smallest
    power of two giving ≤ max_rows_per_stream rows per (sink, bucket)
    sub-stream, clamped to [lo, hi]: sf0.01 (185k records) stays at 64 (the
    oracle fixture's modulus), 10^12 records lands at hi=131072 (~7.6M
    rows/stream — one bounded sort task each), mirroring the reference's
    one-producer-per-watch independence (src/HttpProducer.cc:47). Power of
    two so small inputs reuse the fixture modulus and growth is stable
    under noisy row estimates."""
    need = max(1, -(-int(n_rows) // max(1, int(max_rows_per_stream))))
    return max(lo, min(hi, 1 << (need - 1).bit_length()))

LEDGER_SCHEMA = (
    "run_id string, bucket int, rows_routed long, bytes_shipped long, "
    "parse_failures long, status string, commit_seq long, input_fp long"
)


def bucket_col(url_col: str = "url", n_buckets: int = DEFAULT_BUCKETS):
    """Deterministic progress/salt bucket from the url.

    CRC32 (JVM built-in, matches Python zlib.crc32 bit-for-bit) rather than
    xxhash64 so the pure-Python oracle and fixtures can reproduce bucket
    assignment without a JVM — uniformity is ample for progress tracking and
    hot-domain salting at any n_buckets."""
    return F.pmod(F.crc32(F.col(url_col).cast("binary")), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", bucket_col(n_buckets=n_buckets))


def ledger_path(out_dir: str) -> str:
    return out_dir.rstrip("/") + "/_ledger"


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for `path`: the one way the
    pipeline touches the filesystem its own tables live on, so every
    probe, listing and swap works for any scheme (HDFS, S3A, file://, a
    plain local path), never only for local disk."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe: tells the legitimate "nothing ever written"
    first-run case from real read failures (corrupt/locked files, schema
    drift), which must propagate instead of being swallowed into empty
    results."""
    fs, hpath = hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the children of directory `path`, or [] when it is absent."""
    fs, hpath = hadoop_fs(spark, path)
    return ([st.getPath().getName() for st in fs.listStatus(hpath)]
            if fs.exists(hpath) else [])


def swap_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Generation swap: replace directory `dst` with `src` by delete, then
    rename (logport's rename-to-temp discipline, src/InotifyWatcher.cc:
    218-231). A failed rename raises: `src` still holds the new
    generation."""
    fs, hdst = hadoop_fs(spark, dst)
    fs.delete(hdst, True)
    if not fs.rename(hadoop_fs(spark, src)[1], hdst):
        raise IOError(f"rename {src} -> {dst} failed")


def read_declared(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """One of the pipeline's own parquet tables, read with its declared
    schema: no inference job, and a directory that does not exist yet (the
    legitimate "nothing ever written" case) reads as an empty scan of zero
    paths, which runs no Python worker. Any other read failure (corrupt
    files, schema drift) still raises when the frame is evaluated."""
    return spark.read.schema(ddl).parquet(
        *([path] if path_exists(spark, path) else []))


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_declared(spark, ledger_path(out_dir), LEDGER_SCHEMA)


def input_fingerprints(pages: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Per-bucket input fingerprint — commutative (any partitioning/order of
    the same url multiset yields the same value), so it's computable with
    one column-pruned partial-aggregating pass. The per-row 64-bit
    xxhash64(url) values are summed in decimal(38,0) (no overflow, no ANSI
    trap, duplicates never cancel the way XOR would) and the sum+count pair
    is collapsed through xxhash64 again, so colliding two different url
    multisets needs a full 64-bit birthday, not the 32-bit additive-crc32
    one the first version had. The lineage half of the ledger (the north
    rule's per-partition lineage + metrics)."""
    return (
        with_bucket(pages.select("url"), n_buckets)
        .groupBy("bucket")
        .agg(
            F.coalesce(F.sum(F.xxhash64(F.col("url")).cast("decimal(38,0)")),
                       F.lit(0).cast("decimal(38,0)")).alias("_s"),
            F.count(F.lit(1)).alias("_c"),
        )
        .select("bucket",
                F.xxhash64(F.col("_s").cast("string"),
                           F.col("_c")).alias("input_fp"))
    )


SINK_TABLE_COLS = [c for c in R.ROUTED_COLS if c != "sink"] + ["bucket", "sink"]

# column types of the sink row layout; every column not named is a STRING
_SINK_COL_TYPES = {"line_no": "INT", "warc_ts": "TIMESTAMP",
                   "record_bytes": "BIGINT", "is_obj": "BOOLEAN",
                   "parse_fail": "BOOLEAN", "bucket": "INT"}

SINK_SCHEMA = ", ".join(f"{c} {_SINK_COL_TYPES.get(c, 'STRING')}"
                        for c in SINK_TABLE_COLS)


def sink_rows(routed: DataFrame) -> DataFrame:
    """The sink table's row layout (partition columns last), shuffled once
    by bucket: the resume unit and the hot-domain salt in one exchange.
    Shared by the parquet write below and plans/iceberg.py."""
    return (routed.select(*[c for c in SINK_TABLE_COLS if c in routed.columns])
            .repartition(F.col("bucket")))


def _write_sinks(routed: DataFrame, out_dir: str) -> None:
    """Idempotent fan-out write: dynamic overwrite of (bucket, sink) dirs.

    Requires spark.sql.sources.partitionOverwriteMode=dynamic (session.py):
    only partitions present in `routed` are replaced — committed buckets from
    earlier runs are untouched, uncommitted buckets are replaced not appended.
    """
    (
        sink_rows(routed)
        .write.mode("overwrite")
        .partitionBy("bucket", "sink")
        .parquet(out_dir + "/sinks")
    )


def run_with_ledger(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = DEFAULT_BUCKETS,
    only_buckets: list[int] | None = None,
) -> DataFrame:
    """One (possibly partial) run: process un-committed buckets, write sinks,
    then append ledger rows (ledger-last). `only_buckets` simulates a crash
    after committing a subset. Returns the per-bucket ledger rows written.

    Contract: an ``out_dir`` binds to ONE fixed input snapshot. Every bucket
    a run is responsible for gets a committed ledger row — including buckets
    that held zero pages — so crash-resume over the same input converges.
    The contract is ENFORCED, not just documented (ADVICE r2): each commit
    stores the bucket's input fingerprint, and a later run whose input
    differs inside any committed bucket raises instead of silently skipping
    the new pages — use a fresh ``out_dir`` per input snapshot. Legacy
    ledgers without fingerprints (NULL) skip the check. Mirrors the
    reference's one-undelivered_log-per-watched-file binding
    (/root/reference/src/LogPort.cc watch table semantics)."""
    led = read_ledger(spark, out_dir).filter(F.col("status") == "committed")
    stored_fp: dict[int, int | None] = {}
    for r in led.select("bucket", "input_fp").collect():
        stored_fp[r["bucket"]] = r["input_fp"]
    done = set(stored_fp)
    cur_fp = {r["bucket"]: r["input_fp"]
              for r in input_fingerprints(pages, n_buckets).collect()}
    drifted = sorted(
        b for b, fp in stored_fp.items()
        if fp is not None and cur_fp.get(b, 0) != fp
    )
    if drifted:
        raise ValueError(
            f"input drift in committed buckets {drifted[:10]}"
            f"{'...' if len(drifted) > 10 else ''}: this out_dir is bound to "
            "a fixed input snapshot (ledger-resume contract); pages changed "
            "inside already-committed buckets and would be silently skipped "
            "— use a fresh out_dir for the new snapshot")
    # The buckets this run is responsible for: not yet committed (and, for a
    # simulated crash, inside only_buckets). The same list filters the input
    # here and the stats re-scan below.
    universe = [b for b in range(n_buckets)
                if b not in done and (only_buckets is None or b in only_buckets)]
    if not universe:
        # nothing left to commit: no route, no sink write, no ledger append
        return led.limit(0)
    todo = with_bucket(pages, n_buckets).filter(F.col("bucket").isin(universe))
    # persisted watch/unwatch mutations under THIS out_dir (store.py) bind
    # to its runs — the logport watches-table contract
    routed = parsed_routed(spark, todo, config_dir=out_dir)
    routed = with_bucket(routed, n_buckets)
    _write_sinks(routed, out_dir)
    # Ledger rows: per-bucket aggregates computed from the JUST-WRITTEN sink
    # partitions (a compact parquet re-scan) instead of re-evaluating the
    # whole parse DAG a second time. Every bucket in the universe gets a
    # committed row — including buckets that routed ZERO rows — so resume
    # converges instead of rescanning empty buckets forever.
    # A missing sinks/ dir (fully empty input, nothing ever written) reads
    # as empty; any other failure (corrupt files, schema drift, transient FS
    # errors) propagates so the run fails BEFORE committing ledger rows —
    # otherwise every not-yet-done bucket would be committed with zeroed
    # metrics and never re-counted on resume.
    stats = (read_declared(spark, out_dir + "/sinks", SINK_SCHEMA)
             .filter(F.col("bucket").isin(universe))
             .groupBy("bucket").agg(*shipped_aggs()))
    stats_rows = {r["bucket"]: r for r in stats.collect()}
    seq = int(time.time() * 1000)
    # Built from pandas (Arrow), the rows are a LocalRelation: neither the
    # append below nor the caller's collect of the returned frame runs a
    # Python-worker job, as a list-built (parallelized RDD) frame would.
    ledger_rows = spark.createDataFrame(pd.DataFrame(
        [(run_id, b,
          stats_rows[b]["rows_routed"] if b in stats_rows else 0,
          stats_rows[b]["bytes_shipped"] if b in stats_rows else 0,
          stats_rows[b]["parse_failures"] if b in stats_rows else 0,
          "committed", seq, cur_fp.get(b, 0)) for b in universe],
        columns=[c.split()[0] for c in LEDGER_SCHEMA.split(", ")]),
        LEDGER_SCHEMA,
    )
    ledger_rows.coalesce(1).write.mode("append").parquet(ledger_path(out_dir))
    return ledger_rows


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """All routed records committed so far (the union of sink partitions)."""
    return spark.read.parquet(out_dir + "/sinks")


def replay_quarantine(
    spark: SparkSession, quarantined: DataFrame, live_lines: DataFrame
) -> DataFrame:
    """S3 dead-letter replay: undelivered lines re-enter the parse path ahead
    of live data — a unionByName; downstream stages are shared verbatim."""
    q = quarantined.select("url", "warc_ts", "lang", "line_no", F.col("raw").alias("line"))
    return q.unionByName(live_lines.select("url", "warc_ts", "lang", "line_no", "line"))
