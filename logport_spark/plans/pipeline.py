"""Pipeline assembly: scan → enrich/route → parse → aggregate.

This is the Spark re-expression of logport's tail→envelope→produce loop
(SURVEY.md §3.1): the `vector<Watch>` routing table becomes map literals of
driver-held config rows, the fork-per-watch process model becomes task
parallelism, and the per-sink Kafka topics become per-sink table partitions.

A route belongs to a watch (one file), not to a line (SURVEY §1.1), so the
DAG routes each page once, then splits it into lines; it is shuffle-minimal:
  scan(pages, html pruned) → map-literal lookups per page (narrow) →
  explode+filter (narrow) → envelope UDF (narrow) → ONE shuffle (the
  bucket repartition before the fan-out write, plans/ledger.py) → per-sink
  metrics (partial agg map-side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import parse as P
from ..operators import enrich as E
from ..operators import route as R


def route(spark: SparkSession, df: DataFrame,
          config_dir: str | None = None) -> DataFrame:
    """The one enrich→route chain, at the grain of ``df`` (pages or lines;
    needs url and lang). ``config_dir``: an out_dir whose persisted route
    mutations (store.py) override the built-in routing table."""
    lookups = E.load_lookups(spark, config_dir=config_dir)
    return R.resolve_route(E.enrich(E.with_domain(df), lookups),
                           lookups["routes"])


def _envelope(lines: DataFrame) -> DataFrame:
    return P.with_envelope(lines, F.col("route_hostname"), F.col("url"),
                           F.col("route_prd"), F.col("route_log_type"))


def routed_from_lines(spark: SparkSession, lines: DataFrame,
                      scrub_enabled: bool = False,
                      config_dir: str | None = None) -> DataFrame:
    """Route→envelope over an already line-framed DataFrame
    (url, warc_ts, lang, line_no, line): the dead-letter replay union
    (plans/ledger.replay_quarantine) and the adopt process-output source
    (streaming/adopt.py). Ships records identical to `parsed_routed`'s."""
    lines = P.scrub(lines, enabled=scrub_enabled)
    return _envelope(route(spark, lines, config_dir))


def parsed_routed(spark: SparkSession, pages: DataFrame,
                  scrub_enabled: bool = False,
                  config_dir: str | None = None) -> DataFrame:
    """Full parse→enrich→route DataFrame (no write). Columns: ROUTED_COLS + line.
    Each page is routed once; its lines carry the route columns."""
    routed = route(spark, pages.select("url", "warc_ts", "lang", "text"),
                   config_dir)
    lines = P.explode_lines(
        routed, keep_cols=tuple(c for c in routed.columns if c != "text"))
    return _envelope(P.scrub(lines, enabled=scrub_enabled))


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
