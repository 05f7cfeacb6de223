"""S5 `adopt` — the process-output source, as a Spark streaming entry point.

The reference's `logport adopt <cmd>` (src/LogPort.cc:1378-1806) forks a
command, multiplexes its stdout/stderr through a pipe pair, and ships each
line like a watched file — the one source SURVEY §2.1 had documented out of
scope for lack of a table analog. The Spark-native analog is a LINE STREAM:
any process can pipe its output to a socket (`cmd | nc host port` — the
same pipe logport owns, externalized), and Spark's socket source turns it
into micro-batches of lines. Everything downstream is the SHARED DAG tail
(plans/pipeline.routed_from_lines): enrich, route, envelope — adopt lines
ship byte-identical to file lines, exactly as the reference reuses
Watch::filterLogLine for adopted processes.

Shape mapping (reference → here):
  - the adopted command's identity → `adopt://<name>/stdout` url; routes
    can match the adopt host like any domain, unmatched → default route
    (logport: adopt ships to the watch's topic or the default).
  - pipe byte offsets → per-micro-batch arrival sequence (the socket source
    is single-partition, so monotonically_increasing_id IS arrival order;
    logport's undelivered-offset resume has no analog here because a
    process pipe, like a socket, cannot be re-read — the reference drops
    unflushed lines on crash too: src/LogPort.cc adopt loop has no ledger).
  - stderr substream → the SAME socket, line-tagged: the CLI bridge
    prefixes each line with one byte ('O' stdout / 'E' stderr) and
    `adopt_lines(tagged=True)` parses the tag into the url substream
    (`adopt://<name>/stdout` vs `.../stderr`) and strips it — one stream,
    one checkpoint, both pipes multiplexed through one filter loop exactly
    as the reference's adopt loop does (src/LogPort.cc:1585-1786 selects
    over both pipe fds and tags the source per line).

The socket source is a dev/test-grade transport (no replay); a production
deployment swaps it for Kafka with the same downstream
(streaming/stream.run_stream_kafka shows the gated sink shape). That trade
is the reference's own: a crashed adopt loses in-flight pipe bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import routed_from_lines
from .stream import write_batch_sinks


def adopt_stream(spark: SparkSession, host: str, port: int,
                 name: str = "adopt") -> DataFrame:
    """Raw line stream from a process piping to (host, port)."""
    return (
        spark.readStream.format("socket")
        .option("host", host).option("port", port)
        .load()
        .select(F.col("value").alias("line"))
    )


def adopt_lines(raw: DataFrame, name: str = "adopt",
                fixed_ts: str | None = None,
                tagged: bool = False) -> DataFrame:
    """Frame raw adopt lines into the shared lines shape
    (url, warc_ts, lang, line_no, line).

    `fixed_ts` pins warc_ts for deterministic tests; production uses the
    ingestion clock (the reference stamps adopt lines at read time too,
    src/Watch.cc:377 filter loop). line_no is the arrival sequence within
    the micro-batch — assign AFTER the batch materializes (foreachBatch)
    since streaming DataFrames cannot row_number without a window state.

    `tagged=True` enables the stdout/stderr multiplex: the first byte of
    each socket line is the substream tag ('E' → stderr, anything else →
    stdout) and the remainder is the verbatim pipe line — so tab- or
    anything-containing content survives untouched (byte-identity holds on
    the stripped line)."""
    ts = (F.lit(fixed_ts).cast("timestamp") if fixed_ts
          else F.current_timestamp())
    if tagged:
        sub = F.when(F.substring("line", 1, 1) == "E", "stderr") \
               .otherwise("stdout")
        url = F.concat(F.lit(f"adopt://{name}/"), sub)
        content = F.substring(F.col("line"), 2, 2147483647)
        raw = raw.select(url.alias("url"), content.alias("line"))
    else:
        raw = raw.select(F.lit(f"adopt://{name}/stdout").alias("url"),
                         "line")
    return (
        raw.filter(F.length("line") > 0)  # P2 empty-line filter, same rule
        .select(
            "url",
            ts.alias("warc_ts"),
            F.lit("und").alias("lang"),
            F.col("line"),
        )
    )


def adopt_exit_event(
    spark: SparkSession,
    pid: int,
    exit_code: int | None = None,
    signal: int | None = None,
    name: str = "adopt",
    fixed_ts: str | None = None,
) -> DataFrame:
    """The child-exit message (reference src/LogPort.cc:1501-1539): when the
    adopted process ends, logport ships one more line — byte-format
    `logport: PID (<pid>) exited with status <n>` (or `killed by signal
    <n>`) — with the watch source switched to `process_exit`, through the
    SAME filter loop. One framed row through routed_from_lines; the caller
    appends it to the sink after the stream stops (the Spark driver plays
    the waitpid role — it knows the child's fate, the cluster does not)."""
    if signal is not None:
        text = f"logport: PID ({pid}) killed by signal {signal}"
    else:
        text = f"logport: PID ({pid}) exited with status {exit_code or 0}"
    ts = (F.lit(fixed_ts).cast("timestamp") if fixed_ts
          else F.current_timestamp())
    one = spark.createDataFrame([(text,)], "line string").select(
        F.lit(f"adopt://{name}/process_exit").alias("url"),
        ts.alias("warc_ts"),
        F.lit("und").alias("lang"),
        F.lit(1).cast("int").alias("line_no"),
        "line",
    )
    return routed_from_lines(spark, one)


def run_adopt(
    spark: SparkSession,
    host: str,
    port: int,
    out_dir: str,
    checkpoint_dir: str,
    name: str = "adopt",
    fixed_ts: str | None = None,
    tagged: bool = False,
):
    """Adopt loop: socket lines → shared enrich/route/envelope →
    per-(batch, sink) idempotent writes. Returns the started query (caller
    stops it — a process stream has no natural end, exactly like the
    reference's adopt loop which runs until the child exits)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        # arrival order within the single-partition socket batch, numbered
        # per substream url (stdout and stderr each count from 1, like the
        # reference's two independent pipe offsets)
        lines = batch_df.withColumn(
            "_seq", F.monotonically_increasing_id())
        from pyspark.sql import Window

        lines = lines.withColumn(
            "line_no",
            F.row_number().over(
                Window.partitionBy("url").orderBy("_seq")).cast("int")
        ).drop("_seq")
        write_batch_sinks(routed_from_lines(sp, lines), batch_id, out_dir)

    framed = adopt_lines(adopt_stream(spark, host, port, name), name,
                         fixed_ts, tagged=tagged)
    return (
        framed.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
