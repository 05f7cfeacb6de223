"""Incremental crawl graph: streaming link extraction with merge-on-read.

A continuous crawl delivers pages in micro-batches; the host graph, the
crawled-host set, and the frontier must stay current without re-scanning
the corpus. The design is append-partials / merge-on-read — the standard
incremental-graph shape (and the one that holds at 100 TB, where
rewriting a global aggregate per micro-batch is a non-starter):

  state (parquet, batch_id-partitioned, never holds html):
    state/links — per-batch EXTERNAL-link partial at grain
                  (src_domain, dst_domain, src_url, anchor) with count n
                  (collapses identical repeated anchors on a page —
                  nav/footer links, the common case)
    state/hosts — per-batch distinct crawled host domains

  per micro-batch: extract_links on the batch only (the zero-shuffle
  codegen kernel), one batch-local partial aggregation, two writes. No
  cross-batch reads in the hot loop — per-batch cost is O(batch), never
  O(corpus-lifetime state).

  merge-on-read views (exact, not approximate):
    read_host_graph     == operators.linkgraph.host_graph over all pages
    read_crawled_hosts  == distinct host set of every page streamed
    read_crawl_frontier == operators.linkgraph.crawl_frontier
  Exactness holds because the partial grain keeps src_url and anchor:
  sum(n) merges link counts, and countDistinct(src_url / src_domain /
  anchor) over the union of partials equals the global distinct count
  (each (page, target, anchor) triple lands in whichever batches carried
  it; DISTINCT absorbs re-crawls of the same url in later batches).

EXACTLY-ONCE: every write lands under the micro-batch's own batch_id
partition with dynamic overwrite, so a crash-replayed batch overwrites
itself byte-for-byte — and because process() never reads prior state,
replay idempotence needs no batch-exclusion dance (contrast
dedup_stream's crash-replay contract, which exists only because that
operator must join its own past).

STATE GROWTH: state/links grows with distinct (page, target, anchor)
triples — the same order as the corpus's external-link mass, i.e. the
edge list any host-graph build materializes anyway. A long-lived stream
folds the per-batch partitions with `compact_linkgraph_state`, two
calls of the protocol's one fold (stream.fold_batches): partials
re-aggregate at the same grain into one batch_id=-1 generation, so file
count is bounded and the merge-on-read views get fewer, larger inputs.

Reference tie-in: logport tails files and ships lines continuously
(/root/reference/src/LogPort.cc watch loop); this is the same
continuous-ingest contract applied to crawl pages, with the graph views
replacing the per-sink metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress

from ..operators.linkgraph import URL_DOMAIN_RE, extract_links
from ..plans.ledger import read_declared
from .stream import (drain, fold_batches, last_committed_batch, pages_stream,
                     write_batch_partition)


def _links_partial(pages: DataFrame) -> DataFrame:
    """Batch-local external-link partial aggregate (module docstring)."""
    return (
        extract_links(pages)
        .where(~F.col("is_internal") & (F.col("dst_domain") != ""))
        .groupBy("src_domain", "dst_domain", "src_url", "anchor")
        .agg(F.count("*").alias("n"))
    )


def _hosts_partial(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Batch-local distinct crawled hosts."""
    return (
        pages.select(F.regexp_extract(F.col(url_col), URL_DOMAIN_RE, 1)
                     .alias("domain"))
        .where(F.col("domain") != "")
        .distinct()
    )


def run_stream_linkgraph(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files: int = 1,
) -> list[StreamingQueryProgress]:
    """Drain available page files (availableNow, `max_files` per
    micro-batch), appending link/host partials under each batch's own
    batch_id partition. Returns the drain's per-batch progress records."""
    links_dir = out_dir.rstrip("/") + "/state/links"
    hosts_dir = out_dir.rstrip("/") + "/state/hosts"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pages = batch_df.persist()
        write_batch_partition(_links_partial(pages), batch_id, links_dir)
        write_batch_partition(_hosts_partial(pages), batch_id, hosts_dir)
        pages.unpersist()

    return drain(pages_stream(spark, pages_dir, max_files)
                 .writeStream.foreachBatch(process), checkpoint_dir)


_LINKS_DDL = ("src_domain string, dst_domain string, src_url string, "
              "anchor string, n long")


def _read_links(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_declared(spark, out_dir.rstrip("/") + "/state/links",
                         _LINKS_DDL + ", batch_id long").drop("batch_id")


def read_host_graph(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-on-read host graph — same schema and values as
    operators.linkgraph.host_graph over every page streamed so far: one
    shuffle on the (src_domain, dst_domain) pair, input already collapsed
    to the partial grain."""
    return (
        _read_links(spark, out_dir)
        .groupBy("src_domain", "dst_domain")
        .agg(F.sum("n").alias("n_links"),
             F.countDistinct("src_url").alias("n_src_pages"))
    )


def read_crawled_hosts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Distinct host set of every page streamed so far (1 column: domain)."""
    return (read_declared(spark, out_dir.rstrip("/") + "/state/hosts",
                          "domain string, batch_id long")
            .drop("batch_id").distinct())


def read_crawl_frontier(spark: SparkSession, out_dir: str,
                        k: int = 100) -> DataFrame:
    """Merge-on-read frontier — same contract as
    operators.linkgraph.crawl_frontier(links, crawled, k): top-k UNCRAWLED
    domains by (n_ref_domains DESC, n_links DESC, domain ASC). The crawled
    set is |hosts|-bounded (anti-join side broadcasts under AQE); the
    aggregate merges partials with sum(n) + countDistinct, then plans as
    TakeOrderedAndProject."""
    frontier = _read_links(spark, out_dir).join(
        read_crawled_hosts(spark, out_dir)
        .select(F.col("domain").alias("dst_domain")),
        "dst_domain", "left_anti")
    return (
        frontier.groupBy(F.col("dst_domain").alias("domain"))
        .agg(F.countDistinct("src_domain").alias("n_ref_domains"),
             F.sum("n").alias("n_links"),
             F.countDistinct("anchor").alias("n_anchor_terms"))
        .orderBy(F.desc("n_ref_domains"), F.desc("n_links"),
                 F.asc("domain"))
        .limit(k)
    )


def compact_linkgraph_state(spark: SparkSession, out_dir: str,
                            link_files: int = 8,
                            checkpoint_dir: str | None = None) -> None:
    """Offline state maintenance: fold batch_id partitions into one
    batch_id=-1 generation, re-aggregating links at the partial grain (the
    merge is associative, so compaction never changes any view's answer),
    and collapsing hosts to the distinct set. Both go through
    stream.fold_batches; run with the stream stopped.

    Retention safety (r4 verdict #7, same argument as compact_dedup_state):
    with ``checkpoint_dir`` given, only COMMITTED batches fold — a crashed
    batch's partitions stay under their own batch_id, so the restart's
    idempotent re-write of that partition cannot double-count its links
    against a folded copy in the -1 generation."""
    fold_max = (None if checkpoint_dir is None
                else last_committed_batch(spark, checkpoint_dir))
    state = out_dir.rstrip("/") + "/state"
    fold_batches(spark, state + "/links", _LINKS_DDL, fold_max,
                 lambda df: df.repartition(link_files),
                 merge=lambda df: df.groupBy(
                     "src_domain", "dst_domain", "src_url", "anchor")
                 .agg(F.sum("n").alias("n")))
    fold_batches(spark, state + "/hosts", "domain string", fold_max,
                 lambda df: df.coalesce(1),
                 merge=lambda df: df.distinct())
