"""Structured Streaming variant of the pipeline (SURVEY.md §7 P6).

The batch DAG is reused VERBATIM inside foreachBatch — the streaming layer
only adds incremental file discovery (logport's inotify analog,
src/InotifyWatcher.cc:252-510), checkpointed progress (the offset ledger
analog, src/Watch.cc:180-200), and watermarked event-time windows for the
telemetry cadences (src/Inspector.cc:36-55).

Every streaming runner in the package speaks one micro-batch protocol,
defined here once:
- `pages_stream` is the file source: new `*.parquet` files become
  micro-batches, `maxFilesPerTrigger` bounding each one (the reference's
  bounded in-flight queue / backpressure, src/KafkaProducer.cc:385-423).
- `drain` runs a configured writer to completion (checkpoint, availableNow
  trigger, start, await) and returns its per-batch progress records, the
  METTL analog of src/Observer.cc.
- `write_batch_partition` is the batch write: dynamic overwrite of the
  micro-batch's own batch_id partition. A micro-batch replayed after a
  crash overwrites its own partitions, and the checkpoint commits after —
  idempotent replay, exactly-once into the output tables (same write
  discipline as plans/ledger.py). Inside foreachBatch it is the
  multi-target fan-out (src/HttpProducer.cc:196-224).
- `fold_batches` is its undo, the one retention fold every compaction
  verb runs: committed batches (`last_committed_batch`) merge into one
  batch_id=-1 generation, swapped in through plans/ledger.py's Hadoop-FS
  helpers, so it works on any Hadoop path.

Watermark on warc_ts bounds state for late pages; window aggregates emit
per (window, sink) — the streaming twin of sink_metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.listener import StreamingQueryProgress

from ..plans.ledger import (hadoop_fs, list_names, path_exists, swap_dir,
                            with_bucket)
from ..plans.pipeline import parsed_routed, route

SINK_COLS = ["url", "line_no", "record", "record_bytes", "parse_fail", "sink"]


def write_batch_partition(df: DataFrame, batch_id: int, path: str,
                          *parts: str) -> None:
    """The protocol's one write: idempotent dynamic overwrite of the
    micro-batch's own batch_id partition (a replayed batch rewrites itself),
    sub-partitioned by `parts`.

    The write keeps `df`'s partitioning. Bucket-partitioned state callers
    pass `df.repartition(<bucket col>)`, so each batch writes exactly ONE
    file per bucket dir instead of (tasks × buckets) shards — measured
    1,056 → ~65 files per 10k-doc batch, and every later batch's pruned
    state scan lists 32× fewer files (the listing cost that dominates a
    month-deep stream on an object store). Trade: one writer per bucket —
    state write parallelism equals n_state_buckets, so size buckets to the
    cluster, not the data (state rows are 8-24 B each; a hot bucket is
    bounded by hash uniformity, not key skew)."""
    (df.withColumn("batch_id", F.lit(batch_id).cast("long"))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("batch_id", *parts).parquet(path))


def last_committed_batch(spark: SparkSession, checkpoint_dir: str) -> int:
    """Highest micro-batch id the Structured Streaming checkpoint has
    COMMITTED (the `commits/<id>` write-ahead markers), or -1 if none. A
    batch whose outputs exist but whose commit marker doesn't will be
    REPLAYED on restart — retention/compaction must leave its partitions
    alone (fold them and the replay would self-match against its own
    state, silently emptying the batch — the r4 crash-replay bug,
    reintroducible through careless compaction)."""
    return max((int(n) for n in list_names(spark, checkpoint_dir + "/commits")
                if n.isdigit()), default=-1)


def fold_batches(spark: SparkSession, path: str, ddl: str,
                 fold_max: int | None, repartition, parts=(),
                 merge=lambda df: df) -> None:
    """Retention, the undo of write_batch_partition's per-batch growth:
    rewrite the batch_id-partitioned table at `path` (columns `ddl`) so
    batches <= `fold_max` (all of them when None, and the prior -1
    generation) pass through `merge` and land in batch_id=-1, while newer
    (possibly uncommitted) batches keep their own batch_id. `repartition`
    sets the file layout of the new generation and `parts` its
    sub-partitions below batch_id. The new generation is written to a
    sibling `.compact` dir and swapped in with delete+rename (swap_dir);
    run with the stream stopped. An absent table has nothing to fold; if
    its `.compact` sibling exists, a swap died after its delete, and the
    sibling (the only copy) is renamed into place before the fold."""
    tmp = path + ".compact"
    if not path_exists(spark, path):
        if not path_exists(spark, tmp):
            return
        swap_dir(spark, tmp, path)
    # a fold that died mid-write left partitions the overwrite would keep
    fs, htmp = hadoop_fs(spark, tmp)
    fs.delete(htmp, True)
    df = spark.read.schema(ddl + ", batch_id long").parquet(path)
    old = df if fold_max is None else df.filter(F.col("batch_id") <= fold_max)
    folded = merge(old.drop("batch_id")).withColumn(
        "batch_id", F.lit(-1).cast("long"))
    if fold_max is not None:
        folded = folded.unionByName(df.filter(F.col("batch_id") > fold_max))
    (repartition(folded)
     .write.mode("overwrite").partitionBy("batch_id", *parts).parquet(tmp))
    swap_dir(spark, tmp, path)


def write_batch_sinks(routed: DataFrame, batch_id: int, out_dir: str) -> None:
    """One micro-batch's sink write: SINK_COLS under (batch_id, sink), the
    same idempotent write as plans/ledger._write_sinks."""
    write_batch_partition(routed.select(*SINK_COLS), batch_id,
                          out_dir + "/sinks", "sink")


def pages_stream(spark: SparkSession, pages_dir: str, max_files: int = 2) -> DataFrame:
    """Incremental scan: new parquet files under pages_dir become micro-batches
    (the inotify IN_MODIFY analog).

    Rotation (the IN_MOVE_SELF drain + reset, src/InotifyWatcher.cc:454-478):
    a rotated file is a RENAME out of the live set. pathGlobFilter pins the
    live set to '*.parquet', so a file renamed to 'part-0.parquet.1' leaves
    the glob instead of reappearing as a new path (which would double-read
    its rows — FileStreamSource tracks seen files by path, not content); the
    replacement file at a fresh path is discovered normally."""
    schema = spark.read.option("pathGlobFilter", "*.parquet").parquet(pages_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .option("pathGlobFilter", "*.parquet")
        .parquet(pages_dir)
    )


def drain(writer: DataStreamWriter,
          checkpoint_dir: str) -> list[StreamingQueryProgress]:
    """Run `writer` until no input is left (availableNow), checkpointed in
    `checkpoint_dir`, and return its per-batch progress records (`batchId`,
    `numInputRows`, the `durationMs` phases, `stateOperators`, observed
    metrics). A failed batch re-raises as StreamingQueryException.

    The records are the query's `recentProgress`, which keeps only the last
    `spark.sql.streaming.numRecentProgressUpdates` (default 100): a drain of
    more batches returns the latest ones, so a longer run needs a listener.
    A restart with nothing new to read returns one idle record with 0 rows."""
    q = (writer.option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q.recentProgress


def run_stream_pipeline(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files: int = 2,
) -> list[StreamingQueryProgress]:
    """Run the full parse→enrich→route DAG incrementally until no new files
    remain (availableNow), writing per-(batch, sink) partitions
    exactly once (write_batch_sinks). Returns the drain's per-batch
    progress records."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_sinks(parsed_routed(batch_df.sparkSession, batch_df),
                          batch_id, out_dir)

    return drain(pages_stream(spark, pages_dir, max_files)
                 .writeStream.foreachBatch(process), checkpoint_dir)


def run_stream_deliver(
    spark: SparkSession,
    pages_dir: str,
    broker_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files: int = 2,
) -> list[StreamingQueryProgress]:
    """The reference's continuous operating mode end-to-end: tail → parse →
    route → wire-batch → PRODUCE, per micro-batch (logport's inotify loop
    feeding its producers, src/LogPort.cc watch loop + src/KafkaProducer.cc
    produce/flush).

    Each micro-batch forms wire batches (per-(sink, crc32-bucket)
    sub-streams) and delivers them through operators/transport.deliver —
    the flush barrier runs INSIDE the batch, and the delivery-report table
    is written under the batch_id partition with dynamic overwrite before
    the checkpoint commits, so a replayed batch re-produces idempotently
    (content-addressed payload files) and overwrites its own report rows:
    exactly-once reports over an at-least-once produce loop. Returns the
    drain's per-batch progress records."""
    from ..operators.transport import deliver
    from ..operators.wire import batch_messages

    def process(batch_df: DataFrame, batch_id: int) -> None:
        routed = parsed_routed(batch_df.sparkSession, batch_df)
        # DEFAULT_BUCKETS is safe here: micro-batch size is bounded by the
        # trigger (maxFilesPerTrigger), not by the corpus — the scaled_buckets
        # rule applies to the unbounded batch paths, not a bounded trigger.
        wire = batch_messages(
            with_bucket(routed.select("sink", "url", "line_no", "record")),
            stream_col="bucket",
        )
        write_batch_partition(deliver(wire, broker_dir), batch_id,
                              out_dir + "/delivery_reports")

    return drain(pages_stream(spark, pages_dir, max_files)
                 .writeStream.foreachBatch(process), checkpoint_dir)


def windowed_sink_counts(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    query_name: str = "windowed_sink_counts",
    watermark: str = "1 hour",
    window: str = "1 day",
    max_files: int = 2,
):
    """Watermarked tumbling-window rows-routed per sink, into a memory sink.

    The event-time twin of sink_metrics: late pages beyond the watermark are
    dropped from state; windows emit as (window_start, window_end, sink, n)."""
    from ..operators.parse import explode_lines

    routed = route(spark, pages_stream(spark, pages_dir, max_files))
    lines = explode_lines(routed, keep_cols=("warc_ts", "sink"))
    agg = (
        lines.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "sink")
        .agg(F.count(F.lit(1)).alias("rows_routed"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "sink",
            "rows_routed",
        )
    )
    drain(agg.writeStream.outputMode("complete").format("memory")
          .queryName(query_name), checkpoint_dir)
    return spark.table(query_name)


def dedup_stream(events: DataFrame, key: str = "event_id",
                 ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop redelivered rows by key within the
    watermark horizon.

    logport is at-least-once — a nacked batch is re-produced whole
    (src/KafkaProducer.cc:83-126 undelivered-log replay), so consumers see
    duplicates. This is the engine-side dedup for that stream:
    dropDuplicatesWithinWatermark keeps state only for `watermark` of event
    time (state is O(keys-per-horizon), not O(stream)), which is the only
    formulation that survives an unbounded 100 TB/day stream."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def windowed_hll_distinct(
    spark: SparkSession,
    pages_dir: str,
    checkpoint_dir: str,
    query_name: str = "windowed_hll",
    watermark: str = "1 hour",
    window: str = "1 day",
    max_files: int = 2,
):
    """Streaming distinct-URL estimation with HLL registers AS the state.

    Exact streaming COUNT(DISTINCT) must hold every key in the state store
    — O(distinct keys per horizon), unbounded on a web-scale stream. Here
    the streaming aggregate is groupBy(window, domain, register) -> max(rho)
    (operators/sketches.py), so state is bounded at windows x domains x 256
    rows NO MATTER the stream: the keys themselves never enter state. The
    emitted register table is the same mergeable artifact the batch sketch
    persists (hll_merge/hll_estimate consume it unchanged), so a streaming
    day and a batch backfill combine exactly.

    Returns (register table, max state rows observed) — the bound is part
    of the contract and pytest-pinned.
    """
    from ..operators import enrich as E
    from ..operators.sketches import hll_register, hll_rho

    src = pages_stream(spark, pages_dir, max_files)
    regs = (
        E.with_domain(src)
        .select(
            "warc_ts",
            "domain",
            hll_register(F.col("url")).alias("register"),
            hll_rho(F.col("url")).alias("rho"),
        )
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "domain", "register")
        .agg(F.max("rho").alias("m_j"))
        .select(
            F.col("w.start").alias("window_start"),
            "domain",
            "register",
            "m_j",
        )
    )
    progress = drain(regs.writeStream.outputMode("complete").format("memory")
                     .queryName(query_name), checkpoint_dir)
    state_rows = max(
        (so.get("numRowsTotal", 0)
         for p in progress
         for so in p.get("stateOperators", [])),
        default=0,
    )
    return spark.table(query_name), state_rows


# ------------------------------------------------ Kafka sink (gated) -------


def kafka_sink_available(spark: SparkSession) -> bool:
    """Capability probe: the Kafka DSv2 provider (spark-sql-kafka-0-10) is a
    separate artifact, absent in this container. On a real cluster
    (--packages org.apache.spark:spark-sql-kafka-0-10_2.13) this returns
    True and the real sink runs with no code edits — the same gate pattern
    as multimodal.decode_media / textstats.lang_id_model."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider")
        return True
    except Exception:
        return False


def to_kafka_rows(routed: DataFrame) -> DataFrame:
    """Shape routed records for the Kafka sink: topic = sink (logport routes
    one watched file to one topic, src/LogPort.cc watch table), key = url
    (per-page ordering within a partition, the per-watch FIFO analog),
    value = the envelope JSON. Pure projection — unit-testable without a
    broker, shared by the real sink below and any foreachBatch producer."""
    return routed.select(
        F.col("sink").alias("topic"),
        F.col("url").cast("binary").alias("key"),
        F.col("record").cast("binary").alias("value"),
    )


def run_stream_kafka(
    spark: SparkSession,
    pages_dir: str,
    bootstrap_servers: str,
    checkpoint_dir: str,
    max_files: int = 2,
):
    """Continuous tail → parse → route → Kafka produce: the reference's
    primary mode (src/KafkaProducer.cc:276-435) as a Structured Streaming
    sink. Delivery semantics mirror the reference's producer config:
    acks=all + idempotent producer (src/KafkaProducer.cc:83-126 sets
    delivery.report + retries), over the sink's at-least-once checkpointing
    — duplicates on replay carry identical (key, value), the same contract
    the mock transport enforces content-addressably. Gated: raises here
    (no broker/package in the container); `tests/test_streaming.py` pins the
    row shaping and the gate."""
    if not kafka_sink_available(spark):
        raise NotImplementedError(
            "Kafka sink requires the spark-sql-kafka-0-10 package and a "
            "broker — not available in this container; the mock transport "
            "(operators/transport.py) covers produce/flush/delivery-report "
            "semantics, and run_stream_deliver runs the same loop end-to-end"
        )
    out = to_kafka_rows(parsed_routed(spark, pages_stream(spark, pages_dir, max_files)))
    return (  # pragma: no cover — requires a broker
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("kafka.acks", "all")
        .option("kafka.enable.idempotence", "true")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
