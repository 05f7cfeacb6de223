"""Pipeline assembly: scan → parse → enrich → route → aggregate.

This is the Spark re-expression of logport's tail→envelope→produce loop
(SURVEY.md §3.1): the `vector<Watch>` routing table becomes broadcast-joined
config DataFrames, the fork-per-watch process model becomes task
parallelism, and the per-sink Kafka topics become per-sink table partitions.

The DAG is shuffle-minimal by construction:
  scan(pages, html pruned) → explode+filter (narrow) → broadcast joins
  (narrow) → envelope UDF (narrow) → ONE shuffle (the bucket repartition
  before the fan-out write, plans/ledger.py) → per-sink metrics (partial
  agg map-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import parse as P
from ..operators import enrich as E
from ..operators import route as R


def routed_from_lines(spark: SparkSession, lines: DataFrame,
                      scrub_enabled: bool = False,
                      config_dir: str | None = None) -> DataFrame:
    """Enrich→route→envelope over an already line-framed DataFrame
    (url, warc_ts, lang, line_no, line) — the shared tail of the DAG, used
    by the page path (below), the dead-letter replay union
    (plans/ledger.replay_quarantine) and the adopt process-output source
    (streaming/adopt.py), so every entry point ships IDENTICAL records.
    ``config_dir``: an out_dir whose persisted route mutations (store.py)
    override the built-in routing table."""
    lookups = E.load_lookups(spark, config_dir=config_dir)
    lines = P.scrub(lines, enabled=scrub_enabled)
    lines = E.with_domain(lines)
    lines = E.enrich(lines, lookups)
    lines = R.resolve_route(lines, lookups["routes"])
    return P.with_envelope(
        lines,
        host_col=F.col("route_hostname"),
        source_col=F.col("url"),
        prd_col=F.col("route_prd"),
        log_type_col=F.col("route_log_type"),
    )


def parsed_routed(spark: SparkSession, pages: DataFrame,
                  scrub_enabled: bool = False,
                  config_dir: str | None = None) -> DataFrame:
    """Full parse→enrich→route DataFrame (no write). Columns: ROUTED_COLS + line."""
    return routed_from_lines(spark, P.explode_lines(pages), scrub_enabled,
                             config_dir=config_dir)


def shipped_aggs() -> list[Column]:
    """A1/A2, the shipped-bytes rule: rows routed, bytes shipped (+1/record
    newline, src/KafkaProducer.cc:101-108), parse failures. One definition
    for every grain it is grouped by (per sink here, per bucket in the
    ledger)."""
    return [
        F.count(F.lit(1)).alias("rows_routed"),
        F.sum(F.col("record_bytes") + F.lit(1)).alias("bytes_shipped"),
        F.sum(F.col("parse_fail").cast("long")).alias("parse_failures"),
    ]


def sink_metrics(routed: DataFrame) -> DataFrame:
    """Per-sink shipped metrics."""
    return routed.groupBy("sink").agg(*shipped_aggs())
