"""Streaming link-graph: merge-on-read exactness, crash replay, compaction.

The invariants a month-deep incremental crawl graph depends on: every view
equals its batch operator over the full corpus (exact, not approximate),
a crash-replayed micro-batch changes nothing, and compaction is
answer-preserving while bounding state file count.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logport_spark import datagen
from logport_spark.operators.linkgraph import (
    URL_DOMAIN_RE,
    crawl_frontier,
    extract_links,
    host_graph,
)
from logport_spark.streaming.linkgraph_stream import (
    compact_linkgraph_state,
    read_crawl_frontier,
    read_crawled_hosts,
    read_host_graph,
    run_stream_linkgraph,
)


@pytest.fixture(scope="module")
def lg_pages_dir(spark, tmp_path_factory):
    """Multi-file pages dir so availableNow produces several micro-batches."""
    import pandas as pd

    d = str(tmp_path_factory.mktemp("lg_pages_stream"))
    pdf = pd.DataFrame(datagen.gen_docs(range(300)))
    df = spark.createDataFrame(pdf, schema=datagen.PAGES_DDL)
    df.repartition(6).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def lg_streamed(spark, lg_pages_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lg_out"))
    ckpt = str(tmp_path_factory.mktemp("lg_ckpt"))
    run_stream_linkgraph(spark, lg_pages_dir, out, ckpt, max_files=2)
    return out, ckpt


def _canon_graph(df):
    return sorted(
        (r["src_domain"], r["dst_domain"], r["n_links"], r["n_src_pages"])
        for r in df.collect())


def test_streamed_host_graph_equals_batch(spark, lg_pages_dir, lg_streamed):
    """The merge-on-read host graph is EXACTLY the batch host_graph over
    the full pages table — counts and distinct-page counts included."""
    out, _ = lg_streamed
    batch = host_graph(extract_links(spark.read.parquet(lg_pages_dir)))
    assert _canon_graph(read_host_graph(spark, out)) == _canon_graph(batch)


def test_streamed_hosts_and_frontier_equal_batch(spark, lg_pages_dir,
                                                 lg_streamed):
    out, _ = lg_streamed
    pages = spark.read.parquet(lg_pages_dir)
    batch_hosts = {
        r["domain"] for r in pages.select(
            F.regexp_extract("url", URL_DOMAIN_RE, 1).alias("domain"))
        .where(F.col("domain") != "").distinct().collect()}
    assert {r["domain"] for r in
            read_crawled_hosts(spark, out).collect()} == batch_hosts

    # frontier vs a crawled subset is the INTERESTING case, but the
    # streamed view fixes crawled = all streamed hosts; compare against the
    # batch operator under the identical set (may be empty on a
    # self-contained corpus — equality must still hold row for row)
    batch_fr = crawl_frontier(
        extract_links(pages),
        pages.select(F.regexp_extract("url", URL_DOMAIN_RE, 1)
                     .alias("domain")).distinct(),
        k=25,
    ).collect()
    stream_fr = read_crawl_frontier(spark, out, k=25).collect()
    assert [tuple(r) for r in stream_fr] == [tuple(r) for r in batch_fr]


def test_linkgraph_crash_replay_is_lossless(spark, lg_pages_dir,
                                            tmp_path_factory):
    """Re-executing an already-written micro-batch (commit marker lost in
    a crash) leaves every view unchanged — the batch_id dynamic overwrite
    replaces the batch's own partitions byte-for-byte."""
    out = str(tmp_path_factory.mktemp("lg_replay_out"))
    ckpt = str(tmp_path_factory.mktemp("lg_replay_ckpt"))
    run_stream_linkgraph(spark, lg_pages_dir, out, ckpt, max_files=3)
    before = _canon_graph(read_host_graph(spark, out))

    os.remove(ckpt + "/commits/0")
    crc = ckpt + "/commits/.0.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_stream_linkgraph(spark, lg_pages_dir, out, ckpt, max_files=3)
    assert _canon_graph(read_host_graph(spark, out)) == before


def test_linkgraph_compaction_preserves_answers(spark, lg_pages_dir,
                                                tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lg_compact_out"))
    ckpt = str(tmp_path_factory.mktemp("lg_compact_ckpt"))
    run_stream_linkgraph(spark, lg_pages_dir, out, ckpt, max_files=1)
    g_before = _canon_graph(read_host_graph(spark, out))
    h_before = {r["domain"] for r in read_crawled_hosts(spark, out).collect()}
    links_dir = out + "/state/links"
    n_parts_before = len([p for p in os.listdir(links_dir)
                          if p.startswith("batch_id=")])
    assert n_parts_before > 1  # several micro-batches landed

    compact_linkgraph_state(spark, out, link_files=2)

    assert _canon_graph(read_host_graph(spark, out)) == g_before
    assert {r["domain"] for r in
            read_crawled_hosts(spark, out).collect()} == h_before
    parts = [p for p in os.listdir(links_dir) if p.startswith("batch_id=")]
    assert parts == ["batch_id=-1"]
    n_files = len([f for f in os.listdir(links_dir + "/batch_id=-1")
                   if f.endswith(".parquet")])
    assert n_files <= 2


def test_linkgraph_compaction_finishes_an_interrupted_swap(
        spark, lg_pages_dir, tmp_path_factory):
    """A swap that died between its delete and its rename leaves the new
    generation only in the `.compact` sibling. The next compaction finishes
    the rename instead of folding the absent table into an empty one."""
    import shutil

    out = str(tmp_path_factory.mktemp("lg_swap_out"))
    ckpt = str(tmp_path_factory.mktemp("lg_swap_ckpt"))
    run_stream_linkgraph(spark, lg_pages_dir, out, ckpt, max_files=2)
    g_before = _canon_graph(read_host_graph(spark, out))
    h_before = {r["domain"] for r in read_crawled_hosts(spark, out).collect()}
    for t in ("links", "hosts"):
        shutil.move(f"{out}/state/{t}", f"{out}/state/{t}.compact")

    # under dynamic overwrite an empty write would leave the sibling alone
    # by accident; the fold must not depend on the session's mode
    mode = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(mode)
    spark.conf.set(mode, "static")
    try:
        compact_linkgraph_state(spark, out, link_files=2,
                                checkpoint_dir=ckpt)
    finally:
        spark.conf.set(mode, prior)

    assert _canon_graph(read_host_graph(spark, out)) == g_before
    assert {r["domain"] for r in
            read_crawled_hosts(spark, out).collect()} == h_before
    assert not os.path.exists(out + "/state/links.compact")


def test_linkgraph_compaction_ignores_a_stale_compact_dir(
        spark, lg_pages_dir, tmp_path_factory):
    """A compaction that died mid-write leaves partitions in the `.compact`
    sibling while the table itself is intact. The next compaction replaces
    the whole sibling, so none of them is swapped in beside the new
    generation."""
    import shutil

    out = str(tmp_path_factory.mktemp("lg_stale_out"))
    ckpt = str(tmp_path_factory.mktemp("lg_stale_ckpt"))
    run_stream_linkgraph(spark, lg_pages_dir, out, ckpt, max_files=2)
    g_before = _canon_graph(read_host_graph(spark, out))
    links = out + "/state/links"
    shutil.copytree(links + "/batch_id=0", links + ".compact/batch_id=99")

    compact_linkgraph_state(spark, out, link_files=2, checkpoint_dir=ckpt)

    assert {p for p in os.listdir(links)
            if p.startswith("batch_id=")} == {"batch_id=-1"}
    assert _canon_graph(read_host_graph(spark, out)) == g_before


def test_linkgraph_compaction_spares_uncommitted_batch(spark, lg_pages_dir,
                                                       tmp_path_factory):
    """r4 verdict #7: with checkpoint_dir passed, a crashed (uncommitted)
    batch's link/host partitions survive compaction under their own
    batch_id, so the restart's idempotent partition overwrite cannot
    double-count them against a folded copy — views unchanged after
    compact → replay → full compact."""
    _spares_uncommitted_case(spark, lg_pages_dir, tmp_path_factory, "")


def test_linkgraph_compaction_spares_uncommitted_batch_on_file_uri(
        spark, lg_pages_dir, tmp_path_factory):
    """The same crash, compaction and replay, every path handed over as a
    file:// URI."""
    _spares_uncommitted_case(spark, lg_pages_dir, tmp_path_factory,
                             "file://")


def _spares_uncommitted_case(spark, lg_pages_dir, tmp_path_factory, prefix):
    out = str(tmp_path_factory.mktemp("lg_retain_out"))
    ckpt = str(tmp_path_factory.mktemp("lg_retain_ckpt"))
    run_stream_linkgraph(spark, prefix + lg_pages_dir, prefix + out,
                         prefix + ckpt, max_files=1)
    g_before = _canon_graph(read_host_graph(spark, out))
    last = max(int(f) for f in os.listdir(ckpt + "/commits")
               if f.isdigit())
    assert last >= 1

    os.remove(f"{ckpt}/commits/{last}")
    crc = f"{ckpt}/commits/.{last}.crc"
    if os.path.exists(crc):
        os.remove(crc)

    compact_linkgraph_state(spark, prefix + out, link_files=2,
                            checkpoint_dir=prefix + ckpt)
    parts = {p for p in os.listdir(out + "/state/links")
             if p.startswith("batch_id=")}
    assert parts == {"batch_id=-1", f"batch_id={last}"}, parts
    # views already equal (fold is associative, kept batch still counted)
    assert _canon_graph(read_host_graph(spark, out)) == g_before

    # restart replays the crashed batch; views unchanged
    run_stream_linkgraph(spark, prefix + lg_pages_dir, prefix + out,
                         prefix + ckpt, max_files=1)
    assert _canon_graph(read_host_graph(spark, out)) == g_before

    # clean shutdown → full fold
    compact_linkgraph_state(spark, prefix + out, link_files=2,
                            checkpoint_dir=prefix + ckpt)
    assert {p for p in os.listdir(out + "/state/links")
            if p.startswith("batch_id=")} == {"batch_id=-1"}
    assert _canon_graph(read_host_graph(spark, out)) == g_before
