"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship parse→enrich→route→aggregate pipeline on
the sf0.001 synthetic pages table. `queries()` exposes each implemented
operator from SURVEY.md §2 as a (spark, sf_dir) → DataFrame callable, and
`oracle_sql()` gives the DuckDB-equivalent ANSI SQL. The `pages` input table
(BASELINE.json input_hint shape) is synthesized deterministically (seed=42)
by logport_spark.datagen; its parquet lives under the checkout's `data/`
directory (or $LOGPORT_SPARK_DATA_DIR) so the DuckDB oracle can read the
identical bytes. This file puts its own directory first on sys.path, so
loading it from any copy of the tree runs that copy's `logport_spark`.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logport_spark import datagen

DATA = datagen.DATA_DIR
PAGES_001 = f"{DATA}/pages_sf0.01"  # oracle runs at sf=0.01


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    sf = datagen.sf_of_dir(sf_dir)
    path = datagen.ensure_pages(sf, spark=spark)
    datagen.ensure_lookups()
    return spark.read.parquet(path)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full pipeline on sf0.001 pages → per-sink metrics."""
    from logport_spark.plans.pipeline import parsed_routed, sink_metrics

    pages = _pages(spark, "/root/testdata/sf0.001")
    return sink_metrics(parsed_routed(spark, pages)).orderBy("sink")


# ---------------------------------------------------------------- queries --

def _lp_parse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.parse import explode_lines

    return explode_lines(_pages(spark, sf_dir)).select("url", "line_no", "line")


def _lp_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.plans.pipeline import route

    df = route(spark, _pages(spark, sf_dir).select("url", "lang"))
    return df.select("url", "domain", "tld", "category", "lang", "locale", "sink")


def _lp_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.plans.pipeline import parsed_routed

    routed = parsed_routed(spark, _pages(spark, sf_dir))
    return routed.select("url", "line_no", "record", "parse_fail", "sink")


def _lp_sink_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.plans.pipeline import parsed_routed, sink_metrics

    return sink_metrics(parsed_routed(spark, _pages(spark, sf_dir)))


def _lp_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter channel: parse-failure rows (K2/S3 analog)."""
    from logport_spark.operators.route import quarantine
    from logport_spark.plans.pipeline import parsed_routed

    q = quarantine(parsed_routed(spark, _pages(spark, sf_dir)))
    return q.select("url", "line_no", "raw", "reason")


def _lp_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume scan: pages whose crc32 bucket is not yet committed (L1/L2)."""
    from logport_spark.plans import ledger as L

    sf = datagen.sf_of_dir(sf_dir)
    pages = _pages(spark, sf_dir).select("url")  # materializes pages first …
    datagen.ensure_fixtures(sf)  # … so url_buckets is a cheap parquet re-read
    led = spark.read.parquet(f"{DATA}/ledger_fixture")
    done = led.filter(F.col("status") == "committed").select("bucket").distinct()
    return L.with_bucket(pages, datagen.N_LEDGER_BUCKETS).join(
        F.broadcast(done), "bucket", "left_anti"
    ).select("url", "bucket")


def _lp_replay_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 replay: dead-letter lines union live lines through the same
    parse→enrich→route→envelope path."""
    from logport_spark.operators.parse import explode_lines
    from logport_spark.plans.ledger import replay_quarantine
    from logport_spark.plans.pipeline import routed_from_lines

    sf = datagen.sf_of_dir(sf_dir)
    datagen.ensure_fixtures(sf)
    dl = spark.read.parquet(f"{DATA}/deadletter")
    live = explode_lines(_pages(spark, sf_dir))
    df = routed_from_lines(spark, replay_quarantine(spark, dl, live))
    return df.select("url", "line_no", "record", "parse_fail", "sink")


def _lp_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 URL decomposition via the JVM parse_url built-in."""
    pages = _pages(spark, sf_dir).select("url")
    return pages.select(
        "url",
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("scheme"),
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
    )


def _q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-heavy: customer ⋈ orders ⋈ lineitem, agg, top-10 (sort+limit)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") < "1995-03-15") & (F.col("l_shipdate") > "1995-03-15"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def _q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join (lineitem⋈orders⋈supplier⋈nation⋈region): Catalyst join
    ordering + broadcast of the small dims."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter((F.col("r_name") == "ASIA")
                & (F.col("o_orderdate") >= "1995-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
             .alias("revenue"))
    )


def _q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS-style semi join: count orders per priority that have at least
    one line shipped after the order date (late-shipping proxy for q4's
    commit/receipt predicate, which this dataset lacks). The semi join keeps
    the probe side shuffle-free of lineitem payload columns."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan+filter+agg: every predicate pushes to the parquet scan and
    only 4 of 11 lineitem columns are read (see test_scale_properties)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4)
             .alias("revenue"))
    )


def _q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation over a fact⋈dim join (q14 shape): share of
    revenue from PROMO parts in one month. The part dim joins broadcast at
    this scale; at 100 TB it shuffle-joins on the uniform p_partkey."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    )
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return li.join(p, F.col("l_partkey") == F.col("p_partkey")).agg(
        F.round(F.sum(promo) * 100.0 / F.sum(rev), 4).alias("promo_revenue_pct"),
        F.round(F.sum(rev), 4).alias("total_revenue"),
    )


def _q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (q17 shape): lines with quantity below 20%
    of their part's average. Expressed as an aggregate-then-join so Catalyst
    plans one shuffle on p_partkey instead of a per-row subquery."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    avg_qty = li.groupBy("l_partkey").agg((0.2 * F.avg("l_quantity")).alias("qty_cut"))
    return (
        li.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


def _top3_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: rank orders per customer, keep top 3."""
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def _cust_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no large (>300k) order."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_totalprice") > 300000
    )
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


def _nations_with_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: nations having at least one customer."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return n.join(c, F.col("n_nationkey") == F.col("c_nationkey"), "left_semi").select(
        "n_nationkey", "n_name"
    )


def _cust_minus_supp_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: customer nations minus rich-supplier (>8k acctbal) nations."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_acctbal") > 8000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    return c.distinct().exceptAll(s.distinct())


def _rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: ROLLUP over (returnflag, linestatus)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful-style sessionization via windows: 30-min-gap sessions/user."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def _asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator, operators/asof.py): each purchase event
    gets the user's latest at-or-before click. DuckDB's native ASOF JOIN is
    the oracle."""
    from logport_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    j = asof_join(purchases, clicks, key="user_id", right_payload=("event_id",))
    return j.select(
        "user_id",
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id_asof").alias("click_event"),
        F.col("ts_asof").alias("click_ts"),
    )


def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _lp_grok_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized grok/regex parse over unstructured lines (north_rule)."""
    from logport_spark.operators.grok import grok
    from logport_spark.operators.parse import explode_lines

    lines = explode_lines(_pages(spark, sf_dir))
    return grok(lines).select(
        "url", "line_no", "grok_matched", "method", "path", "status", "resp_bytes"
    )


def _lp_grok_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.grok import grok_summary
    from logport_spark.operators.parse import explode_lines

    return grok_summary(explode_lines(_pages(spark, sf_dir)))


def _lp_conn_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink connection templates incl. Basic-auth from userinfo (H3/P10)."""
    from logport_spark.operators.enrich import load_lookups
    from logport_spark.operators.wire import connection_templates

    return connection_templates(load_lookups(spark)["routes"])


def _lp_http_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP JSON wire batches (H2): deterministic 1000-message bodies, one
    independent sub-stream per (sink, crc32-url-bucket) — the parallel analog
    of logport's one-producer-per-watch batching."""
    from logport_spark.operators.wire import batch_messages
    from logport_spark.plans.ledger import (
        EST_RECORDS_PER_PAGE, estimated_pages, scaled_buckets, with_bucket,
    )
    from logport_spark.plans.pipeline import parsed_routed

    pages = _pages(spark, sf_dir)
    routed = parsed_routed(spark, pages)
    datagen.ensure_fixtures(datagen.sf_of_dir(sf_dir))  # oracle joins url_buckets
    # Sub-stream count scales with the input (SURVEY §9) instead of a fixed
    # 64: estimated_pages is a zero-job metadata estimate (scan size /
    # bytes-per-page — no count() job in the wire path), and the pow2 clamp
    # keeps sf0.01 at the oracle fixture's 64 while 10^12 records get ~131k
    # bounded window-sort tasks.
    n_buckets = scaled_buckets(estimated_pages(pages) * EST_RECORDS_PER_PAGE)
    rec = with_bucket(routed.select("sink", "url", "line_no", "record"), n_buckets)
    return batch_messages(rec, stream_col="bucket")


# ------------------------------------------- training-data pipeline ops --

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.session import ensure_min_parallelism

    # single-file table → 1 scan partition; spread for the CPU-heavy ops
    return ensure_min_parallelism(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.textstats import quality

    return quality(_docs(spark, sf_dir).select("doc_id", "text")).drop("text")


def _lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.textstats import lang_id

    return lang_id(_docs(spark, sf_dir).select("doc_id", "lang", "text")).drop("text")


def _token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.textstats import token_counts

    return token_counts(_docs(spark, sf_dir).select("doc_id", "text")).drop("text")


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (textstats.py:repetition): per-row JVM
    folds over sorted shingle arrays — no shuffle, no Python."""
    from logport_spark.operators.textstats import repetition

    return repetition(_docs(spark, sf_dir).select("doc_id", "text")).drop("text")


def _pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII count + redaction (textstats.py:pii_scrub): RE2-safe patterns run
    verbatim in the DuckDB oracle."""
    from logport_spark.operators.textstats import pii_scrub

    return pii_scrub(_docs(spark, sf_dir).select("doc_id", "text")).drop("text")


def _doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.textstats import fingerprint

    return fingerprint(_docs(spark, sf_dir).select("doc_id", "text")).drop("text")


def _doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (rolling-hash window minima, the MOSS scheme —
    textstats.py:winnow): shift-resistant near-dup fingerprints, one array
    pass per row, no shuffle."""
    from logport_spark.operators.textstats import winnow

    return winnow(_docs(spark, sf_dir).select("doc_id", "text")).drop("text")


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def _dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.8)


def _dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), n=3, threshold=0.8)


def _contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination check (dedup.py:ngram_contamination): fixture
    split = even doc_ids as train, odd as test; n=3 for these short docs
    (production uses the GPT-3 13-gram convention)."""
    from logport_spark.operators.dedup import ngram_contamination

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    return ngram_contamination(train, test, n=3)


def _contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy eval decontamination (dedup.py:minhash_contamination): same
    even/odd carve as contamination_scan, but flags test docs that are
    NEAR-duplicates (shingle Jaccard >= 0.8) of any train doc — the
    lightly-edited-leak case exact n-gram hits miss."""
    from logport_spark.operators.dedup import minhash_contamination

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    return minhash_contamination(train, test, n=3, threshold=0.8)


def _url_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-trap template mining (linkgraph.py:url_traps): URLs grouped
    by (domain, path template) after digit/hex/query-value normalization;
    a template minting >= min_urls distinct urls is a trap (calendar /
    faceted-nav / session-id explosion). The fixture's hot domain mints
    ~2.9k distinct /p/N urls at sf0.01 — the one flagged row."""
    from logport_spark.operators.linkgraph import url_traps

    return url_traps(_pages(spark, sf_dir).select("url"), min_urls=1000)


EPOCH_WEIGHTS = {"en": 1.5, "de": 2.25}  # default 0.5 for the rest


def _epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch mixture materialization (sampling.py:
    epoch_upsample): 1.5 epochs of en, 2.25 of de, 0.5 of everything
    else — floor(w) copies per doc plus a deterministic md5-chosen
    frac(w) slice getting one more; integer-literal thresholds so the
    oracle's digit arithmetic reproduces membership exactly."""
    from logport_spark.operators.sampling import epoch_upsample

    return epoch_upsample(_docs(spark, sf_dir).select("doc_id", "lang"),
                          EPOCH_WEIGHTS, default_weight=0.5)


def _crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduler (linkgraph.py:crawl_schedule): per-host fetch
    sequence + wave via the bucket-interleave (16 md5 sub-queues per host
    windowed independently — a 10^9-page host never sorts in one task)."""
    from logport_spark.operators.linkgraph import crawl_schedule

    return crawl_schedule(_pages(spark, sf_dir).select("url"),
                          n_buckets=16, per_wave=1)


_BLOOM_M_WORDS = 4096  # 131,072 bits; ~10.4k eval shingles at sf0.01 → ~2% FP


def _bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter decontamination (dedup.py:bloom_build/
    bloom_contamination) — the DECONTAMINATION direction of
    contamination_scan: which TRAIN docs carry eval-set shingles. The
    eval side (odd doc_ids) folds into a 16 KB bitmap collected to the
    driver; the train side (even doc_ids) is then scanned with ZERO
    shuffle — the bitmap is a constant-folded plan literal and the hit
    count a JVM aggregate() fold per row. False positives at the
    filter's ~2% rate are part of the contract (the oracle rebuilds the
    identical bitmap); production either drops flagged docs or routes
    them to the exact semi-join for confirmation."""
    from logport_spark.operators.dedup import bloom_build, bloom_contamination

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    words = bloom_build(docs.filter(F.col("doc_id") % 2 == 1),
                        n=3, m_words=_BLOOM_M_WORDS, k=2)
    return bloom_contamination(docs.filter(F.col("doc_id") % 2 == 0),
                               words, n=3, k=2)


def _vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-100 (dedup.py:vocab_topk) — distributed top-k
    (TakeOrderedAndProject), never a global vocabulary sort."""
    from logport_spark.operators.dedup import vocab_topk

    return vocab_topk(_docs(spark, sf_dir).select("text"), k=100)


SAMPLE_RATES = {"en": 0.5, "de": 0.25}


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-lang hash sampling (operators/sampling.py): keep
    50% en, 25% de, 10% other — the reproducible training-mix primitive;
    the oracle recomputes the md5 bucket digit-by-digit."""
    from logport_spark.operators.sampling import sample_bucket, stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(docs, SAMPLE_RATES, default_rate=0.10).select(
        "doc_id", "lang", sample_bucket().cast("int").alias("sample_bucket"))


def _domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced domain mix (operators/sampling.py:domain_mix):
    keep rate sqrt(min_domain_count / domain_count) per domain — flattens
    the hot-domain skew (hot.example.com carries 26x the median domain at
    sf0.01) without upsampling. alpha is pinned at 0.5 so the threshold
    uses only IEEE correctly-rounded ops and the DuckDB oracle recomputes
    the identical integer; membership is the module's pure-row md5 bucket
    (digit-arithmetic oracle, like stratified_sample)."""
    from logport_spark.operators.enrich import with_domain
    from logport_spark.operators.sampling import domain_mix

    pages = with_domain(_pages(spark, sf_dir)).select("url", "domain")
    return domain_mix(pages, domain_col="domain", key_col="url",
                      salt="mix42")


def _lm_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KenLM-style trigram count table with singleton pruning
    (textstats.py:ngram_counts): the artifact CCNet trains its filter LM
    from — one JVM gram expression, one partial+final count on the gram
    key, Zipf tail pruned before it is written."""
    from logport_spark.operators.textstats import ngram_counts

    return ngram_counts(_docs(spark, sf_dir), n=3, min_count=2)


def _lm_bits2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram stupid-backoff LM score (textstats.py:bigram_logprob),
    self-trained: lm_bits' column contract at bigram order — per-doc
    distinct transitions are the only join input."""
    from logport_spark.operators.textstats import bigram_logprob

    return bigram_logprob(_docs(spark, sf_dir))


def _bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge statistic (textstats.py:bpe_pair_counts): top-200
    adjacent-char-pair counts over the distinct-word table — tokenizer
    training's inner loop; plans as TakeOrderedAndProject with a
    deterministic (cnt desc, pair) tie-break."""
    from logport_spark.operators.textstats import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), k=200)


def _quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained quality classifier (textstats.py:quality_lr_train): 3
    full-batch logistic-regression steps over quality()'s signals with
    label lang='en' — distributed GD as map-side-combined aggregates,
    weights as plan literals, 8dp state quantization making the whole
    training trace hash-exact against the unrolled-CTE DuckDB oracle."""
    from logport_spark.operators.textstats import quality_lr_train

    return quality_lr_train(_docs(spark, sf_dir), steps=3)


def _quality_lr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained classifier back to the corpus
    (textstats.py:quality_lr_eval): confusion matrix +
    accuracy/precision/recall at the z>=0 cut — integer counts scored
    from identically-quantized weights/features, so the verdicts (not
    just the aggregates) match the oracle exactly."""
    from logport_spark.operators.textstats import quality_lr_eval

    return quality_lr_eval(_docs(spark, sf_dir), steps=3)


def _bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE merge-table training (textstats.py:bpe_train): 4 learned
    merges over the distinct-word table — one corpus-linear word count,
    then |V|-bounded argmax + greedy-fold rounds with localCheckpoint
    lineage cuts. The oracle replays every round in DuckDB: the greedy
    within-word merge is a recursive-CTE fold, so the learned table is
    hash-exact, not approximately similar."""
    from logport_spark.operators.textstats import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=4)


def _bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the merge table bpe_train just learned
    (textstats.py:bpe_encode): train 4 merges (bounded collect — the
    merges.txt IS driver-sized), then one zero-shuffle codegen scan
    applies them as literal padded-string replaces. Per doc: word count,
    piece count, and the first 12 pieces of the actual token stream —
    the encode step between tokenizer training and sequence packing."""
    from logport_spark.operators.textstats import bpe_encode, bpe_train

    table = bpe_train(_docs(spark, sf_dir), n_merges=4).collect()
    pairs = [tuple(r["pair"].split(" "))
             for r in sorted(table, key=lambda r: r["step"])]
    return bpe_encode(_docs(spark, sf_dir), pairs)


def _lm_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM filter stand-in (textstats.py:unigram_logprob): mean
    -log2 p(token) under the corpus's own unigram distribution."""
    from logport_spark.operators.textstats import unigram_logprob

    return unigram_logprob(_docs(spark, sf_dir).select("doc_id", "text"))


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters (dedup.py:connected_components): MinHash
    near-dup pairs closed under A~B,B~C — min-label propagation with pointer
    jumping, O(log diameter) rounds of two shuffles each. The oracle walks
    the same pair graph with a DuckDB recursive CTE."""
    from logport_spark.operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), n=3, threshold=0.8)


def _cluster_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster retention verdicts (dedup.py:cluster_retention): every doc
    tagged keep/drop with its cluster and cluster size — longest member wins,
    doc_id breaks ties. One shuffle on cluster_id past the pair mining."""
    from logport_spark.operators.dedup import cluster_retention

    return cluster_retention(_docs(spark, sf_dir), n=3, threshold=0.8)


BM25_QUERIES = [(1, "spark join query"), (2, "hash table scan"),
                (3, "window agg batch")]


def _bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per probe query (retrieval.py:bm25_topk): the corpus
    audit/seed-expansion lookup. The one corpus shuffle is the (doc_id,
    tok) count over query-term-pruned postings; idf and stats broadcast;
    ranks computed on the rounded score for cross-engine determinism."""
    from logport_spark.operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_QUERIES, k=10)


def _domain_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL(P_source || P_corpus) in bits (textstats.py:domain_kl)
    — the token-distribution drift signal a corpus release monitors."""
    from logport_spark.operators.textstats import domain_kl

    return domain_kl(_docs(spark, sf_dir), group_col="source")


def _domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style mixture weights (sampling.py:domain_reweight) over the
    per-source excess-loss table domain_kl produces: w ∝ exp(η·kl),
    ε-blended with uniform, integer epoch token budgets. η=1, ε=0.2
    pinned; the oracle replays the identical softmax over the identical
    4dp KL inputs (the exp/softmax float risk class is caption_filter's,
    with |sources| summands)."""
    from logport_spark.operators.sampling import domain_reweight
    from logport_spark.operators.textstats import domain_kl

    return domain_reweight(domain_kl(_docs(spark, sf_dir),
                                     group_col="source"),
                           eta=1.0, eps=0.2)


def _normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (curation.py:normalize_text) over a
    deliberately messy projection of documents (uppercased, double-spaced,
    with a decomposed-accent suffix) so the NFC Arrow-UDF path, the
    lowercase path, and the whitespace collapse all do real work; the
    oracle recomputes via DuckDB nfc_normalize."""
    from logport_spark.operators.curation import normalize_text

    raw = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws("  ", F.upper(F.col("text")),
                    # \u0301 = combining acute: the suffix is DECOMPOSED
                    F.lit("CAFE\u0301  DU  MONDE")).alias("text"))
    return normalize_text(raw).select("doc_id", "norm_text", "changed")


def _domain_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive terms (textstats.py:domain_terms): top-5
    tokens by Monroe-et-al log-odds z-score with the corpus Dirichlet
    prior — which terms drive each domain's drift."""
    from logport_spark.operators.textstats import domain_terms

    return domain_terms(_docs(spark, sf_dir), k=5, group_col="source")


def _budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus assembly (sampling.py:select_token_budget):
    keep the most fluent docs (by negated unigram bits/token) until a
    20k-token budget fills — prefix-of-global-sort semantics via a
    distinct-score histogram + broadcast verdicts, never a global sort."""
    from logport_spark.operators.sampling import select_token_budget
    from logport_spark.operators.textstats import unigram_logprob

    sc = unigram_logprob(_docs(spark, sf_dir)).select(
        "doc_id", (-F.col("bits_per_token")).alias("score"),
        F.col("n_scored").alias("n_tokens"))
    return select_token_budget(sc, budget=20000)


def _chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-stride chunking (sampling.py:chunk_documents, window=32
    stride=24): fixed-size overlapping token windows per doc — one map
    stage, no shuffle, token array materialized once per row."""
    from logport_spark.operators.sampling import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), window=32, stride=24)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir))


def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.dedup import simhash_pairs, simhash_signatures

    return simhash_pairs(simhash_signatures(_docs(spark, sf_dir)), max_hamming=3)


def _dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.similarity import embedding_near_pairs

    return embedding_near_pairs(_emb(spark, sf_dir), threshold=0.44)


def _error_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (custom operator, operators/rangejoin.py): clicks within
    ±1h of an error by the same user — time-bucketed equi-join, never a
    per-key cross product."""
    from logport_spark.operators.rangejoin import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = ev.filter(F.col("event_type") == "error").withColumnRenamed(
        "event_id", "error_event")
    clicks = ev.filter(F.col("event_type") == "click").withColumnRenamed(
        "event_id", "click_event")
    return interval_join(
        errors, clicks, key="user_id", window_sec=3600,
        left_cols=("error_event",), right_cols=("click_event",),
    ).withColumnRenamed("click_event_r", "click_event")


_FUNNEL_SQL = """
    WITH s AS (SELECT user_id, min(ts) AS st FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
         p AS (SELECT user_id, min(ts) AS pt FROM events
               WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN pt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchased,
           CAST(sum(CASE WHEN pt > st THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted
    FROM s LEFT JOIN p USING (user_id)
"""


def _sql_signup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: the same ANSI text runs on spark.sql AND as
    the DuckDB oracle, verbatim — the DataFrame API is not the only door."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(_FUNNEL_SQL)


def _daily_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window (unbounded-preceding running total) over daily
    revenue — the hypertable-rollup shape. The global-order window runs on
    the POST-aggregation result (O(days), a few thousand rows at any fact
    scale), so the single-partition window stage is intentional and cheap."""
    from pyspark.sql import Window

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 4).alias("day_rev"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "day_rev", F.round(F.sum("day_rev").over(w), 4).alias("cum_rev"))


def _event_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per event_type (JVM `percentile`; at
    100 TB swap for percentile_approx with a pinned accuracy — documented
    trade, the exact form is the oracle-checkable one)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.count(F.lit(1)).alias("n"),
    )


def _corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composite a 100 TB training-data run
    actually executes: exact dedup (keep min id per md5) → quality ≥ 0.5 →
    language identified → MinHash+LSH near-dup removal (drop the larger id
    of each pair ≥ 0.8 Jaccard). Every stage is an already-oracled operator;
    the composite is verified against the same logic in one SQL query."""
    from logport_spark.operators.dedup import minhash_lsh_pairs
    from logport_spark.operators.textstats import lang_id, quality

    from pyspark import StorageLevel

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # Scores and the dedup key are per-TEXT functions, so compute them in the
    # narrow pre-shuffle pass and drop the text BEFORE the dedup window: the
    # exact-dedup shuffle then carries ~50 B/doc of metadata instead of the
    # full corpus, and the persisted intermediate is the metadata, never the
    # text (round-2 finding: a ~100 TB MEMORY_AND_DISK materialization).
    feats = lang_id(quality(docs)).select(
        "doc_id", F.md5("text").alias("text_md5"),
        "pred_lang", "quality_score", "q_tokens",
    )
    # Keep-min-per-md5 as a hash aggregate, not a window: min(struct) gets
    # map-side partial aggregation and needs no per-group sort, where
    # row_number() forces a full sort over the content key — the difference
    # between HashAggregate and Sort+Window on the 100 TB dedup shuffle.
    # doc_id leads the struct, so min() picks the lowest doc_id's row.
    d1meta = (feats.groupBy("text_md5")
              .agg(F.min(F.struct("doc_id", "pred_lang", "quality_score",
                                  "q_tokens")).alias("_keep"))
              .select("_keep.*")
              .persist(StorageLevel.MEMORY_AND_DISK))
    # Near-dup miner re-reads the text for KEPT docs only (left-semi by id —
    # the one full-text shuffle in the whole plan); its drop set is
    # pair-survivor-sized, so AQE may broadcast the final anti-join.
    d1_docs = docs.join(d1meta.select("doc_id"), "doc_id", "left_semi")
    drops = minhash_lsh_pairs(d1_docs, n=3, threshold=0.8).select(
        F.col("d2").alias("doc_id")).distinct()
    return (
        d1meta.filter((F.col("quality_score") >= 0.5) & (F.col("pred_lang") != "und"))
        .join(drops, "doc_id", "left_anti")
        .select("doc_id", "pred_lang", "quality_score", "q_tokens")
    )


def _corpus_clean_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher-rule curation pass — corpus_clean (the contract row)
    extended with the round-3 signals: exact dedup → quality ≥ 0.5 → lang
    known → NOT has_pii → dup_2gram_frac ≤ 0.5 → top_token_frac ≤ 0.3 →
    MinHash near-dup drop. Every per-text feature (md5, quality, lang,
    repetition folds, PII counts) is ONE narrow pre-shuffle pass; the
    dedup shuffle then carries ~60 B/doc of metadata, never the text."""
    from pyspark import StorageLevel

    from logport_spark.operators.dedup import minhash_lsh_pairs
    from logport_spark.operators.textstats import (
        lang_id, pii_scrub, quality, repetition)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    feats = pii_scrub(repetition(lang_id(quality(docs)))).select(
        "doc_id", F.md5("text").alias("text_md5"),
        "pred_lang", "quality_score",
        "top_token_frac", "dup_2gram_frac", "has_pii",
    )
    # Hash-aggregate keep-min-per-md5 (see _corpus_clean): min(struct) over
    # the content key instead of a sorted window — partial agg, no sort.
    d1meta = (feats.groupBy("text_md5")
              .agg(F.min(F.struct(
                  "doc_id", "pred_lang", "quality_score",
                  "top_token_frac", "dup_2gram_frac", "has_pii")).alias("_keep"))
              .select("_keep.*")
              .persist(StorageLevel.MEMORY_AND_DISK))
    d1_docs = docs.join(d1meta.select("doc_id"), "doc_id", "left_semi")
    drops = minhash_lsh_pairs(d1_docs, n=3, threshold=0.8).select(
        F.col("d2").alias("doc_id")).distinct()
    return (
        d1meta.filter(
            (F.col("quality_score") >= 0.5) & (F.col("pred_lang") != "und")
            & ~F.col("has_pii")
            & (F.col("dup_2gram_frac") <= 0.5)
            & (F.col("top_token_frac") <= 0.3))
        .join(drops, "doc_id", "left_anti")
        .select("doc_id", "pred_lang", "quality_score",
                "top_token_frac", "dup_2gram_frac")
    )


def _gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining Gopher Table-A1 rules (textstats.py:gopher_signals):
    word-count bounds, mean word length, symbol ratio, bullet/ellipsis
    line fractions, alpha-word fraction + combined verdict. min_words=10
    pins a fixture-appropriate bound (the paper's 50 assumes web-article
    lengths; the synthetic docs run ~44 tokens)."""
    from logport_spark.operators.textstats import gopher_signals

    return gopher_signals(_docs(spark, sf_dir).select("doc_id", "text"),
                          min_words=10)


def _warc_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/1.0 record manifest (parse.py:warc_export): deterministic
    record ids, ISO dates, octet lengths, and a record digest over the
    exact bytes — the archival write side of the crawl round-trip."""
    from logport_spark.operators.parse import warc_export

    return warc_export(_pages(spark, sf_dir))


def _cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index (linkgraph.py:cdx_index): SURT key + payload
    digest + md5 shard per page — zero-shuffle codegen projection; the
    optional range-sorted layout stays off here (sampled boundaries are
    engine-dependent; the deterministic shard column is the contract)."""
    from logport_spark.operators.linkgraph import cdx_index

    return cdx_index(_pages(spark, sf_dir), n_shards=64)


def _inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index summary (retrieval.py:inverted_index): per-term
    df/cf plus an order-independent DECIMAL(38,0) checksum committing to
    the (doc_id, tf, first_pos) posting list; max_df=400 exercises the
    stopword-pruning dial on the 500-doc fixture."""
    from logport_spark.operators.retrieval import inverted_index

    return inverted_index(_docs(spark, sf_dir).select("doc_id", "text"),
                          max_df=400)


def _filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel attrition report — the observability artifact every
    production pipeline publishes next to its cleaned corpus (Gopher's
    Table A1, RefinedWeb's Fig. 2 removal-rate tables): each doc charged
    to its FIRST failing corpus_clean_v2 gate in pipeline order, then one
    row per gate with (n_failed, n_surviving). Same one-narrow-pass
    signal computation as corpus_clean_v2 (the oracle literally shares
    the v2 CTE block); the report aggregation adds one tiny groupBy over
    8 gate labels and a 7-row window — nothing doc-sized crosses it."""
    from pyspark.sql import Window

    from logport_spark.operators.dedup import minhash_lsh_pairs
    from logport_spark.operators.textstats import (
        lang_id, pii_scrub, quality, repetition)

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    feats = pii_scrub(repetition(lang_id(quality(docs)))).select(
        "doc_id", F.md5("text").alias("text_md5"),
        "pred_lang", "quality_score",
        "top_token_frac", "dup_2gram_frac", "has_pii",
    )
    w = Window.partitionBy("text_md5").orderBy("doc_id")
    meta = feats.withColumn("_rn", F.row_number().over(w))
    d1_docs = docs.join(meta.filter(F.col("_rn") == 1).select("doc_id"),
                        "doc_id", "left_semi")
    drops = (minhash_lsh_pairs(d1_docs, n=3, threshold=0.8)
             .select(F.col("d2").alias("doc_id")).distinct()
             .withColumn("_nd", F.lit(True)))
    gated = meta.join(drops, "doc_id", "left").withColumn(
        "gate",
        F.when(F.col("_rn") > 1, "exact_dup")
         .when(F.col("quality_score") < 0.5, "quality")
         .when(F.col("pred_lang") == "und", "lang")
         .when(F.col("has_pii"), "pii")
         .when(F.col("dup_2gram_frac") > 0.5, "dup_2gram")
         .when(F.col("top_token_frac") > 0.3, "top_token")
         .when(F.col("_nd"), "near_dup"))
    counts = (gated.filter(F.col("gate").isNotNull())
              .groupBy("gate").agg(F.count("*").alias("n")))
    stages = spark.createDataFrame(
        [(1, "exact_dup"), (2, "quality"), (3, "lang"), (4, "pii"),
         (5, "dup_2gram"), (6, "top_token"), (7, "near_dup")],
        "stage int, gate string")
    total = docs.agg(F.count("*").alias("t"))
    w2 = (Window.orderBy("stage")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        stages.join(counts, "gate", "left")
        .crossJoin(F.broadcast(total))
        .select("stage", "gate",
                F.coalesce("n", F.lit(0)).cast("long").alias("n_failed"),
                "t")
        .withColumn("n_surviving",
                    (F.col("t") - F.sum("n_failed").over(w2)).cast("long"))
        .select("stage", "gate", "n_failed", "n_surviving")
    )


ANN_QUERY_IDS = [0, 1, 2, 3, 4]


def _ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.similarity import cosine_topk

    return cosine_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10)


def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.similarity import ann_lsh_topk

    datagen.ensure_hyperplanes()  # oracle recomputes signatures from this
    return ann_lsh_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10)


def _embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: banded LSH candidates + exact
    cosine verify (similarity.py:embedding_lsh_pairs). The brute
    `dedup_embedding_pairs` stays as the exhaustive small-input baseline."""
    from logport_spark.operators.similarity import embedding_lsh_pairs

    datagen.ensure_hyperplanes()
    return embedding_lsh_pairs(_emb(spark, sf_dir), threshold=0.44)


def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (similarity.py:ivf_topk): nlist=16 cells, nprobe=4.
    Centroids are plan literals, so cell assignment is a zero-shuffle narrow
    map; only probed cells reach the exact rerank."""
    from logport_spark.operators.similarity import ivf_topk

    return ivf_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10, nlist=16, nprobe=4)


def _mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.multimodal import binary_meta

    return binary_meta(_pages(spark, sf_dir))


def _mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the binary column (mapInPandas, Arrow batches).

    The operator returns `feat array<float>` (values k/997 for integer k);
    the driver's canonicalizer cannot sort list cells, so this wrapper
    projects the vector to its exact integer keys f0..f7 (round(feat*997)
    recovers k exactly — float32 error << 0.5). The DuckDB oracle recomputes
    width/height/frames/f0..f7 from raw blob bytes via hex arithmetic, so
    the distributed decode path is checked against an independent
    implementation, not a fixture."""
    from logport_spark.operators.multimodal import extract_features

    feats = extract_features(_pages(spark, sf_dir), fake_decode=True)
    return feats.select(
        "url", "width", "height", "frames",
        *[F.round(F.element_at("feat", i + 1).cast("double") * 997)
           .cast("bigint").alias(f"f{i}") for i in range(8)],
    )


def _lp_observer_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 telemetry channel at data scale: every parsed line rendered in the
    Observer dialect (observability.py:observer_line_col — 7-case escaper,
    `{`-raw embed, unquoted generated_at; reference src/Observer.cc:128-149
    and src/Common.cc:227-250), fully JVM-side."""
    from logport_spark.observability import observer_line_col
    from logport_spark.operators.parse import explode_lines, ts_string

    lines = explode_lines(_pages(spark, sf_dir))
    return lines.select(
        "url", "line_no",
        observer_line_col(F.col("line"), ts_string(F.col("warc_ts"))).alias("entry"),
    )


def _mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plumbing (mapInPandas, Arrow binary in/out).
    The resized payload is hex-encoded for the driver canon; the oracle
    re-derives the clamp arithmetic and the byte window in SQL."""
    from logport_spark.operators.multimodal import resize_images

    rs = resize_images(_pages(spark, sf_dir), max_side=32, fake_decode=True)
    return rs.select("url", "width", "height", "out_w", "out_h",
                     F.hex("resized").alias("resized_hex"))


def _mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plumbing: row explosion inside the UDF (one output row
    per kept frame). Frame bytes hex-encoded for the driver canon."""
    from logport_spark.operators.multimodal import sample_frames

    fr = sample_frames(_pages(spark, sf_dir), every=2, fake_decode=True)
    return fr.select("url", "frames", "frame_idx", F.hex("frame").alias("frame_hex"))


def _mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit perceptual-hash signatures over the binary media column
    (multimodal.py:phash60) — the signature table that makes image dedup a
    simhash-band problem (multimodal.phash_pairs reuses the Manku C(6,3)
    core; pytest pins the banded pair set on a planted near-dup fixture).
    The container's byte-probe fake is re-derived by the oracle from raw
    blob bytes via hex arithmetic — hash-exact, not approximately
    similar."""
    from logport_spark.operators.multimodal import phash60

    return phash60(_pages(spark, sf_dir), fake_decode=True)


def _hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid more-like-this retrieval (retrieval.py:hybrid_rrf_topk):
    reciprocal-rank fusion of the BM25 lexical leg (probe doc's own text
    as the query, self dropped) and the dense cosine leg (probe's
    embedding) over the same 5 probes — 1/(60+r_lex) + 1/(60+r_dense),
    leg ranks carried with 0 as the absent-leg sentinel."""
    from logport_spark.operators.retrieval import hybrid_rrf_topk

    return hybrid_rrf_topk(_docs(spark, sf_dir), _emb(spark, sf_dir),
                           ANN_QUERY_IDS, k=10, k_leg=20)


def _text_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tower -> similarity-join composite (similarity.py:embed_docs ->
    hybrid_near_pairs): EXACT near-dup text pairs from the hashing-trick
    vectors, threshold on the rounded cosine (0.95 — the 64-dim hashing
    space's baseline similarity on same-generator docs sits near 0.8,
    measured). The 64-dim space is all hot dimensions, so the WWW'07
    AllPairs dim join materializes ~Σ df² rows (measured 169 s at 5k
    docs); hybrid_near_pairs runs the same exact semantics with the
    quadratic part as a blocked GEMM over the dense head plus the sparse
    dim join over the tail (2 s at 5k docs, output bit-equal — pytest
    pins hybrid == sparse on this space). Oracle unchanged: exact is
    exact."""
    from logport_spark.operators.similarity import (embed_docs,
                                                    hybrid_near_pairs)

    return hybrid_near_pairs(embed_docs(_docs(spark, sf_dir), dim=64),
                             threshold=0.95)


def _page_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(domain, tok) occurrences off the pages scan — shared input of the
    sketch family below. No distinct, no shuffle: sketches absorb
    duplicates themselves (that is their point)."""
    return (_pages(spark, sf_dir)
            .select(F.split_part(F.split_part("url", F.lit("://"), F.lit(2)),
                                 F.lit("/"), F.lit(1)).alias("domain"),
                    F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.length("tok") > 0))


def _hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain HyperLogLog vocabulary size (sketches.py:hll_distinct):
    COUNT(DISTINCT) without the distinct — 2 KB of registers per domain
    leave every partition map-side, so the shuffle is O(domains x 256)
    however large the token stream. The sketch is a pure function of
    md5(tok) (register = first byte, rho = capped leading-zero rank), so
    the oracle replays every register bit-for-bit; the exact distinct
    count rides along purely as the accuracy audit column (a 100 TB run
    drops it — it IS the cost being avoided)."""
    from logport_spark.operators.sketches import hll_distinct

    toks = _page_tokens(spark, sf_dir)
    hll = hll_distinct(toks, ["domain"], "tok")
    exact = toks.groupBy("domain").agg(
        F.countDistinct("tok").alias("exact_distinct"))
    return (hll.join(exact, "domain")
            .select("domain", "exact_distinct", "hll_s", "hll_zeros",
                    "branch", "hll_est",
                    F.round((F.col("hll_est") - F.col("exact_distinct"))
                            / F.col("exact_distinct") * 100, 2)
                        .alias("err_pct")))


def _cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (sketches.py:cms_counters/cms_point_
    estimates): the 4x1024-counter sketch built in one bounded shuffle
    (partial agg caps every partition's contribution at d*w cells), then
    point-queried for the exact top-20 tokens. Estimates only ever
    overcount; `overcount` makes the CMS error visible data the oracle
    checks exactly — every column integer-exact."""
    from pyspark.sql import Window

    from logport_spark.operators.sketches import (cms_counters,
                                                  cms_point_estimates)

    toks = _page_tokens(spark, sf_dir).select("tok")
    counters = cms_counters(toks, "tok")
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    w = Window.orderBy(F.col("exact_cnt").desc(), F.col("tok").asc())
    top = (exact.withColumn("rk", F.row_number().over(w))
           .filter(F.col("rk") <= 20).drop("rk"))
    est = cms_point_estimates(counters, top.select("tok"), "tok")
    return (top.join(est, "tok")
            .select("tok", "exact_cnt", "cms_est",
                    (F.col("cms_est") - F.col("exact_cnt")).alias("overcount")))


def _kmv_domain_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs domain vocabulary overlap from KMV bottom-k sketches
    (sketches.py:kmv_sketch/kmv_pair_similarity): each domain collapses
    to its 128 smallest token hashes, so the 1326-pair comparison runs
    over 52x128 rows — corpus-size-independent, which is what makes
    all-pairs overlap feasible over millions of hosts where the exact
    token self-join cannot run. Exact common/union/Jaccard ride along as
    the accuracy audit (computed small here; the avoided cost at scale)."""
    from logport_spark.operators.sketches import (kmv_pair_similarity,
                                                  kmv_sketch)

    toks = _page_tokens(spark, sf_dir)
    sim = kmv_pair_similarity(kmv_sketch(toks, ["domain"], "tok"), "domain")
    d = toks.distinct()
    sizes = d.groupBy("domain").agg(F.count("*").alias("sz"))
    common = (d.alias("a").join(d.alias("b"), "tok")
              .filter(F.col("a.domain") < F.col("b.domain"))
              .groupBy(F.col("a.domain").alias("group_a"),
                       F.col("b.domain").alias("group_b"))
              .agg(F.count("*").alias("exact_common")))
    return (sim.join(common, ["group_a", "group_b"], "left")
            .join(sizes.withColumnRenamed("domain", "group_a")
                       .withColumnRenamed("sz", "sz_a"), "group_a")
            .join(sizes.withColumnRenamed("domain", "group_b")
                       .withColumnRenamed("sz", "sz_b"), "group_b")
            .withColumn("exact_common",
                        F.coalesce("exact_common", F.lit(0)).cast("long"))
            .withColumn("exact_union",
                        (F.col("sz_a") + F.col("sz_b")
                         - F.col("exact_common")).cast("long"))
            .select("group_a", "group_b", "kmv_matches", "kmv_jacc",
                    "kmv_union_est", "exact_common", "exact_union",
                    F.round(F.col("exact_common")
                            / F.col("exact_union").cast("double"), 4)
                        .alias("exact_jacc")))


def _sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a deterministic md5 hash sample
    (sketches.py:sampled_quantiles) — the bounded-buffer scale twin of
    event_value_quantiles: exact `percentile` materializes each group's
    full value list at the final agg, the 1-in-4 sample caps it at
    rate x n with O(1/sqrt(rate x n)) rank error. Membership is
    md5('q42'||event_id) — sampling.py's determinism contract — so the
    oracle replays the identical sample; the exact quantiles ride along
    as the accuracy audit (the cost being avoided at 100 TB)."""
    from logport_spark.operators.sketches import sampled_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    est = sampled_quantiles(ev, ["event_type"], "value", [0.5, 0.95],
                            rate=0.25, key_col="event_id")
    exact = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50_exact"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95_exact"))
    return est.join(exact, "event_type").select(
        "event_type", "n_sample", "p50_s", "p95_s", "p50_exact", "p95_exact",
        F.round(F.abs(F.col("p50_s") - F.col("p50_exact")), 4).alias("p50_abs_err"),
        F.round(F.abs(F.col("p95_s") - F.col("p95_exact")), 4).alias("p95_abs_err"))


def _bucketed_domain_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed tables (operators/bucketed.py): the
    page facts and the per-domain dim are both written `bucketBy(8,
    domain)`, so the join AND the following domain-keyed aggregate plan
    with zero shuffle Exchange (pytest-pinned in tests/test_bucketed.py;
    here the dim side is small enough that Catalyst broadcasts it, which
    still moves no fact rows). This is the pay-the-shuffle-once storage
    layout for the keys a pipeline joins repeatedly — at 10^12 pages the
    per-query Exchange it deletes is the dominant cost. Values are layout-
    independent, so the oracle is the plain relational replay."""
    from logport_spark.operators.bucketed import (bucketed_equijoin,
                                                  write_bucketed)
    from logport_spark.operators.enrich import with_domain

    sfname = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")
    facts = with_domain(_pages(spark, sf_dir)).select(
        "url", "domain", F.length("text").alias("text_chars"), "lang")
    dims = facts.groupBy("domain").agg(
        F.countDistinct("lang").alias("n_langs"))
    write_bucketed(facts, f"bq_pages_{sfname}",
                   f"{DATA}/bucketed/{sfname}/pages", "domain", 8)
    write_bucketed(dims, f"bq_domains_{sfname}",
                   f"{DATA}/bucketed/{sfname}/domains", "domain", 8)
    j = bucketed_equijoin(spark, f"bq_pages_{sfname}",
                          f"bq_domains_{sfname}", "domain")
    return j.groupBy("domain", "n_langs").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("text_chars").alias("text_chars"))


def _manifest_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout + min/max file manifest (plans/manifest.py): the
    pages are written Morton-ordered on (warc_ts rank, domain prefix rank)
    with per-file statistics, and a 3-day crawl-window slice is answered
    by PLANNING-time file pruning (pruned_read) with the real row filter
    re-applied — Iceberg's read side on the parquet stand-in, paired with
    plans/iceberg.py's gated write side. tests/test_manifest.py pins the
    selectivity (range slice ≤3/32 files on the clustered layout, both
    single-column predicates prune on the z-ordered one) and that a
    missing manifest degrades to a full scan, never a wrong answer.
    Values are layout-independent, so the oracle is the plain filter."""
    from logport_spark.operators.enrich import with_domain
    from logport_spark.plans.manifest import (fitted_rank32, prefix_rank32,
                                              pruned_read, write_manifest,
                                              zorder_write)

    sfname = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    pages = with_domain(_pages(spark, sf_dir)).select(
        "url", "warc_ts", "domain", F.length("text").alias("text_chars"))
    path = f"{DATA}/zorder/{sfname}/pages"
    zorder_write(pages, path,
                 fitted_rank32(pages, F.unix_timestamp("warc_ts")),
                 fitted_rank32(pages, prefix_rank32(F.col("domain"))),
                 n_files=16)
    write_manifest(spark, path, ["warc_ts", "domain"])
    lo, hi = "2024-08-10 00:00:00", "2024-08-13 00:00:00"
    pruned = pruned_read(spark, path, "warc_ts", lo, hi, numeric=False)
    return (pruned
            .filter((F.col("warc_ts") >= F.lit(lo).cast("timestamp"))
                    & (F.col("warc_ts") < F.lit(hi).cast("timestamp")))
            .groupBy("domain").agg(
                F.count(F.lit(1)).alias("n_pages"),
                F.sum("text_chars").alias("text_chars")))


def _quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep for the trained quality classifier
    (textstats.py:quality_pr_curve): confusion counts + precision/recall
    at nine literal z-cuts over the same bit-identical score
    quality_lr_eval pins — how a pipeline owner picks the deployed
    filter threshold (CCNet's per-language cuts are chosen this way)."""
    from logport_spark.operators.textstats import quality_pr_curve

    return quality_pr_curve(_docs(spark, sf_dir), steps=3)


def _embed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text -> embedding tower (similarity.py:embed_docs): the hashing-
    trick stand-in that PRODUCES the embedding column the ANN/SemDeDup
    stack consumes — exploded (doc_id, dim_id, val) so every normalized
    float is a value-checkable cell; sentence-transformer swap point in
    embed_docs_model (pytest pins the fake tower equal to this path)."""
    from logport_spark.operators.similarity import embed_docs

    return embed_docs(_docs(spark, sf_dir), dim=64)


def _caption_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text alignment gate (multimodal.py:caption_alignment) — the
    CLIP-score filter of image-text corpus curation (LAION's cosine
    cut), over deterministic stand-in towers: mapInPandas image features
    (the CLIP-image swap point) x md5 hashing-trick caption vectors.
    Exact-integer dot/norms make the rounded cosine hash-exact against
    the hex-arithmetic oracle."""
    from logport_spark.operators.multimodal import caption_alignment

    return caption_alignment(_pages(spark, sf_dir), tau=0.35)


def _events_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (§2.6): two DISTINCT aggregates with
    different keys in one groupBy — Catalyst plans this with an Expand
    (one duplicate of the input per distinct group) + two-phase aggregate,
    the shape a 100 TB audience/telemetry rollup hits constantly."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.to_date("ts")).alias("n_active_days"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def _line_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus line dedup over the pages table (18% of sf0.01 lines
    are cross-page repeats — boilerplate in the wild)."""
    from logport_spark.operators.dedup import dedup_lines_corpus

    pages = _pages(spark, sf_dir).select("url", "text")
    return (dedup_lines_corpus(pages, text_col="text", id_col="url")
            .withColumnRenamed("doc_id", "url"))


def _url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL snapshot dedup (keep newest crawl per canonical url)."""
    from logport_spark.operators.dedup import url_dedup

    return url_dedup(_pages(spark, sf_dir))


# RefinedWeb filter stage 1 fixture: two registered domains (every subdomain
# under each inherits the ban), one full-host entry, one absent domain.
_URL_BLOCKLIST = ["site4.org", "example.xyz", "d47.site2.fr", "nohit.example"]


def _url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL blocklist verdicts: blocked iff ANY dot-suffix
    of the host is listed (subdomains inherit). Zero shuffle — the
    blocklist is a plan literal and the verdict pure codegen."""
    from logport_spark.operators.enrich import url_blocklist

    return url_blocklist(_pages(spark, sf_dir), _URL_BLOCKLIST)


def _c4_page_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning pass (Raffel et al. 2020) over the pages table: ≥4-word
    lines, no 'javascript' lines, doc-level badword ('zulu' ≈ 42% of
    pages) + 'lorem ipsum' gates, ≥3 surviving lines. The log-like fixture
    has no terminal punctuation and JSON lines carry '{', so those two C4
    gates are exercised in pytest prose instead of here."""
    from logport_spark.operators.curation import c4_filters

    return c4_filters(
        _pages(spark, sf_dir).select("url", "text"),
        min_words_per_line=4, min_lines=3, badwords=("zulu",),
        require_terminal_punct=False, drop_curly=False)


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): raw = all documents,
    target = the 'de' slice; B=64 hashed unigram+bigram buckets."""
    from logport_spark.operators.curation import dsir_weights

    docs = _docs(spark, sf_dir)
    return dsir_weights(docs, docs.filter(F.col("lang") == "de"),
                        n_buckets=64)


def _strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal over the pages table (10 lines at sf0.01
    occur on ≥20 pages; the worst on 2,238 — the generator's nav/footer)."""
    from logport_spark.operators.dedup import strip_boilerplate_lines

    pages = _pages(spark, sf_dir).select("url", "text")
    return (strip_boilerplate_lines(pages, min_docs=20,
                                    text_col="text", id_col="url")
            .withColumnRenamed("doc_id", "url"))


def _domain_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain site-chrome strip over the pages table
    (dedup.py:domain_boilerplate_lines): at sf0.01 the host grain with
    min_docs=5 flags 521 (domain, line) chrome pairs where the global
    operator's safe threshold (min_docs=20) flags 10 lines — the site-local
    boilerplate CCNet/RefinedWeb compute per shard/site for this reason.
    Domain via the lp_enrich split_part equivalence (JVM split_part ≡
    DuckDB split_part, both 1-based)."""
    from logport_spark.operators.dedup import domain_boilerplate_lines

    pages = _pages(spark, sf_dir).select(
        "url",
        F.split_part(F.split_part("url", F.lit("://"), F.lit(2)),
                     F.lit("/"), F.lit(1)).alias("domain"),
        "text")
    return (domain_boilerplate_lines(pages, min_docs=5, group_col="domain",
                                     text_col="text", id_col="url")
            .withColumnRenamed("doc_id", "url"))


def _domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.textstats import domain_stats

    return domain_stats(_docs(spark, sf_dir))


def _corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition data card (textstats.py:corpus_datacard): CUBE
    over (lang, source) — per-cell totals plus both margins and the grand
    total from ONE Expand + one shuffle."""
    from logport_spark.operators.textstats import corpus_datacard

    return corpus_datacard(_docs(spark, sf_dir))


def _domain_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-gated corpus: drop every doc of sources failing the
    short-doc-fraction / mean-length gates (6 of 20 sf0.01 sources fail)."""
    from logport_spark.operators.textstats import domain_filter

    return domain_filter(_docs(spark, sf_dir), min_mean_chars=260.0,
                         max_short_frac=0.1).select("doc_id", "source")


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.sampling import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), window_tokens=512, n_shards=8)


def _span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. span-duplication fractions (w=4 on the short fixture
    docs; production runs w=50-token windows)."""
    from logport_spark.operators.dedup import duplicate_span_stats

    return duplicate_span_stats(_docs(spark, sf_dir), w=4)


def _web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r4 web-curation composite, end-to-end over the pages table:
    canonical-URL snapshot dedup (keep newest crawl) → boilerplate-line
    removal (≥20-page lines) → C4 corpus line dedup (first occurrence
    survives) → min-surviving-lines gate. One DAG, one SQL oracle
    re-deriving every stage — the pages-table sibling of corpus_clean_v2.

    Stage costs: the url stage is one keep-max agg; the line stages run
    FUSED (r5: curate_lines_corpus — one explode + one (doc,line) pre-agg
    feeds both the boilerplate df and the keep-first winner; 3 shuffles
    where the sequential composition paid 5, output pytest-pinned
    identical); the only join is the left-semi on url."""
    from logport_spark.operators.dedup import curate_lines_corpus, url_dedup

    pages = _pages(spark, sf_dir).select("url", "warc_ts", "text")
    surv = url_dedup(pages).select("url")
    base = pages.join(surv, "url", "left_semi").select("url", "text")
    dd = (curate_lines_corpus(base, min_docs=20, id_col="url")
          .withColumnRenamed("doc_id", "url"))
    return dd.filter(F.col("n_kept") >= 2)


def _semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: within-cell exact-cosine near-dup pairs (embedding-space
    complement to the lexical MinHash path)."""
    from logport_spark.operators.similarity import semantic_dedup_pairs

    # 0.44 is the driver fixture's near-dup regime (its max corpus cosine is
    # ~0.51 — same setting as the embedding_lsh_pairs contract row); real
    # corpora run 0.9+ thresholds, pinned by the planted-dup pytest
    return semantic_dedup_pairs(_emb(spark, sf_dir), threshold=0.44, nlist=16)


def _html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → main-text extraction over the raw binary html column (the
    trafilatura-stage stand-in; 11/1000 sf0.001 and ~1% of sf0.01 pages
    carry invalid UTF-8 and yield NULLs)."""
    from logport_spark.operators.parse import html_to_text

    return html_to_text(_pages(spark, sf_dir))


def _span_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. substring-dedup REMOVAL (w=4, matching span_dup_stats):
    drop tokens covered by corpus-duplicated windows, rebuild the text."""
    from logport_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf_dir), w=4)


def _corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logport_spark.operators.sampling import corpus_shuffle

    return corpus_shuffle(_docs(spark, sf_dir), n_shards=8)


def _html_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance scan over the binary html column: robots noindex,
    rel=canonical, rel=license CC detection (zero-shuffle codegen map)."""
    from logport_spark.operators.parse import html_policy

    return html_policy(_pages(spark, sf_dir))


def _stratum_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-count eval carving: exactly 50 docs per language, hash-ranked
    (two-phase per-stratum top-k — no stratum-sized single-task sort)."""
    from logport_spark.operators.sampling import sample_fixed_per_stratum

    return sample_fixed_per_stratum(_docs(spark, sf_dir), k=50)


def _export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard export manifest (docs/tokens/chars + order-independent
    content checksum) over corpus_shuffle's shard assignment."""
    from logport_spark.operators.sampling import export_manifest

    return export_manifest(_docs(spark, sf_dir), n_shards=8)


def _vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-QA: per-doc OOV rate against the corpus's own top-500
    vocabulary (vocab_topk feeding vocab_coverage — broadcast join, two
    hash-keyed shuffles)."""
    from logport_spark.operators.dedup import vocab_topk
    from logport_spark.operators.textstats import vocab_coverage

    docs = _docs(spark, sf_dir)
    return vocab_coverage(docs, vocab_topk(docs, k=500).select("tok"))


def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment pairs over winnow fingerprints: doc-in-doc
    near-containment that symmetric Jaccard misses. Runs with the
    production max_df guardrail (a fingerprint in >100 docs is shared
    boilerplate and would mint df² join pairs — measured: the uncapped
    exact join took 231s at 5k docs on the tiny-vocab bench corpus); the
    oracle applies the IDENTICAL df cap, so the gate stays hash-exact."""
    from logport_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), threshold=0.5,
                             max_df=100)


def _link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction from the binary html column: one row per
    <a href> edge with anchor text + internal/external verdict
    (zero-shuffle codegen map — regexp_extract_all + arrays_zip)."""
    from logport_spark.operators.linkgraph import extract_links

    return extract_links(_pages(spark, sf_dir))


def _link_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph degree stats: per-domain in/out degree + link counts
    over the external-edge domain graph (Common Crawl host-graph shape)."""
    from logport_spark.operators.linkgraph import (
        extract_links, host_graph, link_degrees,
    )

    return link_degrees(host_graph(extract_links(_pages(spark, sf_dir))))


def _domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration link-weighted PageRank over the host graph
    (synchronous update, uniform teleport + dangling redistribution;
    oracle unrolls the identical iterations in chained CTEs)."""
    from logport_spark.operators.linkgraph import (
        domain_pagerank, extract_links, host_graph,
    )

    return domain_pagerank(
        host_graph(extract_links(_pages(spark, sf_dir))), iters=3)


def _anchor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target-domain top-5 anchor terms (the Brin & Page anchor-text
    signal: anchors describe the TARGET page/domain)."""
    from logport_spark.operators.linkgraph import anchor_terms, extract_links

    return anchor_terms(extract_links(_pages(spark, sf_dir)), k=5)


def _hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration link-weighted HITS hubs/authorities over the
    host graph (Kleinberg 1999; synchronous updates + L2 rescale per
    step; oracle unrolls the identical iterations in chained CTEs)."""
    from logport_spark.operators.linkgraph import (
        extract_links, hits_scores, host_graph,
    )

    return hits_scores(
        host_graph(extract_links(_pages(spark, sf_dir))), iters=3)


def _host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected connected components over the host graph — site/mirror
    clusters labeled by their lexicographically smallest member, with
    component sizes (min-label propagation + pointer jumping)."""
    from logport_spark.operators.linkgraph import (
        extract_links, host_components, host_graph,
    )

    return host_components(
        host_graph(extract_links(_pages(spark, sf_dir))))


def _crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier prioritization: top-25 UNCRAWLED domains by distinct
    referring hosts (anti-join against the corpus host set + one agg +
    TakeOrderedAndProject top-k). The synthetic corpus covers every
    domain its links point at, so 'crawled' here is the deterministic
    md5-half of the host set (first hex digit < '8') — the other half
    becomes a genuine frontier, exercising the anti-join + top-k for
    real instead of vacuously returning 0 rows."""
    from logport_spark.operators.linkgraph import (
        URL_DOMAIN_RE, crawl_frontier, extract_links,
    )

    pages = _pages(spark, sf_dir)
    crawled = (
        pages.select(
            F.regexp_extract("url", URL_DOMAIN_RE, 1).alias("domain"))
        .distinct()
        .where(F.substring(F.md5(F.col("domain")), 1, 1) < "8"))
    return crawl_frontier(extract_links(pages), crawled, k=25)


def _host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spam-host induction: per-domain compliance/quality fractions
    (policy keep, canonical-mirror, CC-license, thin-text) + the ban
    verdict — one codegen pass, one shuffle on domain."""
    from logport_spark.operators.curation import host_quality

    return host_quality(_pages(spark, sf_dir))


def _trust_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyongyi et al. 2004): seeded PageRank where teleport and
    dangling mass flow only to trusted hosts — spam demotion. Seeds are
    machine-picked from host_quality: non-banned hosts with
    keep_frac >= 0.91 (the stricter-than-ban compliance bar; 23 of 52
    hosts at sf0.01, so trust genuinely differentiates)."""
    from logport_spark.operators.curation import host_quality
    from logport_spark.operators.linkgraph import (
        extract_links, host_graph, trustrank,
    )

    pages = _pages(spark, sf_dir)
    seeds = (host_quality(pages)
             .where(~F.col("banned") & (F.col("keep_frac") >= 0.91))
             .select("domain"))
    return trustrank(host_graph(extract_links(pages)), seeds, iters=3)


def _cocitation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-domain discovery by co-citation over the host graph
    (common in-linkers + Jaccard), with the fan-out guardrail that keeps
    directory hubs from minting O(out_degree²) pairs."""
    from logport_spark.operators.linkgraph import (
        cocitation_pairs, extract_links, host_graph,
    )

    return cocitation_pairs(host_graph(extract_links(_pages(spark, sf_dir))),
                            min_common=2)


def _recrawl_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cho & Garcia-Molina change-rate recrawl scheduling over the same
    two deterministic snapshot carvings as snapshot_delta (old = buckets
    <9000, new = buckets >=2000 with 2000-3999 perturbed)."""
    from logport_spark.operators.linkgraph import recrawl_policy
    from logport_spark.operators.sampling import sample_bucket

    pages = _pages(spark, sf_dir).select("url", "text")
    b = sample_bucket("url", salt="snap")
    old = pages.filter(b < 9000)
    new = (pages.filter(b >= 2000)
           .withColumn("text",
                       F.when(b < 4000,
                              F.concat(F.col("text"), F.lit(" updated")))
                       .otherwise(F.col("text"))))
    return recrawl_policy(old, new, html_col="text", binary=False)


def _crawl_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-stack composite (the web_curation/training_export
    pattern applied to fetching): the SHARED robots fixture
    (_robots_fixture — same bodies as the robots_filter query), verdict
    every url, PASS ONLY ALLOWED urls into politeness scheduling, and
    stamp each fetch with its earliest start time eta = wave ·
    crawl_delay (default 1s when the host sets none) — what a fetcher
    fleet actually consumes: (url, domain, fetch_seq, wave, eta_sec)."""
    from logport_spark.operators.linkgraph import (
        crawl_schedule, parse_robots, robots_filter,
    )

    pages = _pages(spark, sf_dir).select("url")
    verdicts = robots_filter(pages, parse_robots(_robots_fixture(pages)))
    allowed = verdicts.where(F.col("allowed")) \
        .select("url", F.coalesce("crawl_delay", F.lit(1.0)).alias("_delay"))
    sched = crawl_schedule(allowed.select("url"))
    return (sched.join(allowed, "url")
            .select("url", "domain", "fetch_seq", "wave",
                    F.round(F.col("wave") * F.col("_delay"), 6)
                    .alias("eta_sec")))


def _ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (Jégou et al. 2011): 32-bit codes
    (64× smaller than the raw vectors), asymmetric-distance candidate
    scan, exact-cosine rerank of the top-50."""
    from logport_spark.operators.similarity import pq_topk

    return pq_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10, rerank=50)


def _ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF∘PQ composition (the FAISS 10^9-vector architecture): residual
    product quantization inside IVF cells, per-(query, probed-cell) ADC
    lookup tables, exact-cosine rerank of the top-50."""
    from logport_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(_emb(spark, sf_dir), ANN_QUERY_IDS, k=10, rerank=50)


def _weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-proportional corpus subsample: Efraimidis-Spirakis A-ES
    without replacement, k=100 (selective at every graded sf), weight =
    whitespace token count —
    deterministic (md5-derived uniforms), partition-independent, and a
    TakeOrderedAndProject top-k (no global sort)."""
    from logport_spark.operators.sampling import weighted_sample

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("w"))
    return (weighted_sample(docs, k=100, weight_col="w")
            .select("doc_id", "w", "es_key"))


def _lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-line language segmentation rolled up to the
    document mixed/monolingual verdict."""
    from logport_spark.operators.textstats import lang_segments

    return lang_segments(_docs(spark, sf_dir).select("doc_id", "text"))


def _redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical/redirect chain resolution over the crawl's
    rel=canonical hints: pointer-doubling to each url's final identity
    (resolve_redirects). The synthetic corpus's canonical edges form
    stars (many fetches → one canonical), so hops=1 everywhere here;
    multi-hop chains, rho-tails, and loops are pinned by
    tests/test_linkgraph.py::test_resolve_redirects_* — the oracle's
    step-at-a-time recursive walk checks the general contract either
    way."""
    from logport_spark.operators.linkgraph import resolve_redirects
    from logport_spark.operators.parse import html_policy

    pol = html_policy(_pages(spark, sf_dir))
    edges = (pol.where(F.col("utf8_valid")
                       & (F.col("canonical_href") != "")
                       & ~F.col("is_canonical_self"))
             .select(F.col("url").alias("src"),
                     F.col("canonical_href").alias("dst")))
    return resolve_redirects(edges, max_hops=16)


def _robots_fixture(pages: DataFrame) -> DataFrame:
    """Shared synthetic robots.txt fixture: one body per distinct host,
    every rule a pure function of two md5(host) hex digits (d in 0..11)
    — d%3==0 gates the /p/ disallow + /p/1 allow pair, d%2==0 the
    crawl-delay — so SQL oracles re-derive GROUND-TRUTH verdicts from
    the same arithmetic without parsing (see _ROBOTS_UH_SQL, the SQL
    half of this contract). Bodies include a comment, a blank line, an
    always-present rule that matches no page url, and a two-agent
    second record the '*' filter must ignore. ONE definition feeds both
    the robots_filter and crawl_plan queries AND (via the arithmetic)
    both their oracles — editing a rule in one place and not the other
    is a hash mismatch, not a silent drift."""
    from logport_spark.operators.linkgraph import URL_DOMAIN_RE

    host = F.regexp_extract("url", URL_DOMAIN_RE, 1)
    d = F.pmod(F.conv(F.substring(F.md5(F.col("host")), 1, 2), 16, 10)
               .cast("long"), F.lit(12))
    body = F.concat_ws(
        "\n",
        F.lit("# synthetic per-host policy"),
        # top-of-file Sitemap (d%5==0): record-INDEPENDENT — precedes any
        # User-agent record, which parse_robots' record binding must skip
        # and robots_sitemaps must still extract
        F.when(d % 5 == 0, F.concat(F.lit("Sitemap: https://"),
                                    F.col("host"), F.lit("/root.xml"))),
        F.lit("User-agent: *"),
        F.when(d % 3 == 0, F.lit("Disallow: /p/")),
        F.when(d % 3 == 0, F.lit("Allow: /p/1")),
        F.lit("Disallow: /private/"),
        # in-record Sitemap (d%4==0): must be extracted ONCE, not once per
        # bound agent, and must not perturb rule verdicts
        F.when(d % 4 == 0, F.concat(F.lit("Sitemap: https://"),
                                    F.col("host"), F.lit("/pages.xml"))),
        F.when(d % 2 == 0, F.concat(F.lit("Crawl-delay: "),
                                    (d % 5 + 1).cast("string"))),
        F.lit(""),
        F.lit("User-agent: evilbot"),
        F.lit("User-agent: badbot"),
        F.lit("Disallow: /"),
    )
    return (pages.select(host.alias("host")).distinct()
            .select("host", body.alias("body")))


def _robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 compliance end-to-end: synthesize the deterministic
    robots fixture (_robots_fixture), parse it (parse_robots), and
    verdict every page url with longest-match/allow-wins precedence
    (robots_filter)."""
    from logport_spark.operators.linkgraph import parse_robots, robots_filter

    pages = _pages(spark, sf_dir).select("url")
    return robots_filter(pages, parse_robots(_robots_fixture(pages)))


def _robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery (linkgraph.robots_sitemaps) over the shared
    robots fixture: record-independent extraction — the top-of-file
    Sitemap (d%5==0, BEFORE any User-agent record) and the in-record one
    (d%4==0) both land exactly once per host with URL case preserved.
    The oracle re-derives both URLs from the same md5 arithmetic that
    synthesized the bodies, so a record-binding bug (dropping the
    top-of-file line, or duplicating the in-record one per bound agent)
    is a hash mismatch."""
    from logport_spark.operators.linkgraph import robots_sitemaps

    pages = _pages(spark, sf_dir).select("url")
    return robots_sitemaps(_robots_fixture(pages))


def _training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-export final mile as ONE DAG: unigram-LM score every
    doc -> select the most fluent prefix under a 20k-token global budget
    (select_token_budget — no global sort) -> left-semi the kept corpus ->
    per-shard verifiable manifest (export_manifest). What a run hands to
    the training loader: shard counts + checksums for exactly the docs
    the budget admitted."""
    from logport_spark.operators.sampling import (
        export_manifest, select_token_budget,
    )
    from logport_spark.operators.textstats import unigram_logprob

    docs = _docs(spark, sf_dir)
    # persist the scored table: select_token_budget references it three
    # times (histogram, plain verdicts, boundary window) and the semi-join
    # consumes the result — without this the unigram DAG re-runs per
    # reference (the corpus_clean single-persist pattern; ~40 B/doc)
    sc = unigram_logprob(docs).select(
        "doc_id", (-F.col("bits_per_token")).alias("score"),
        F.col("n_scored").alias("n_tokens")).persist()
    kept_ids = (select_token_budget(sc, budget=20000)
                .filter(F.col("selected")).select("doc_id"))
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    return export_manifest(kept, n_shards=8)


def _snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl delta: old/new snapshots carved deterministically
    out of the pages table by md5 bucket (old = buckets <9000; new =
    buckets >=2000, with 2000-3999 texts perturbed). Statuses exercised:
    changed (2000-3999), unchanged (4000-8999), new (9000+)."""
    from logport_spark.operators.dedup import snapshot_delta
    from logport_spark.operators.sampling import sample_bucket

    pages = _pages(spark, sf_dir).select("url", "text")
    b = sample_bucket("url", salt="snap")
    old = pages.filter(b < 9000)
    new = (pages.filter(b >= 2000)
           .withColumn("text",
                       F.when(b < 4000,
                              F.concat(F.col("text"), F.lit(" updated")))
                       .otherwise(F.col("text"))))
    return snapshot_delta(old, new)


def _lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles per language."""
    from logport_spark.operators.textstats import lm_buckets

    return lm_buckets(_docs(spark, sf_dir))


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The original 50-slot contract set (pre-rotation; see queries())."""
    return {
        "lp_parse_lines": _lp_parse_lines,
        "lp_enrich": _lp_enrich,
        "lp_envelope": _lp_envelope,
        "lp_sink_metrics": _lp_sink_metrics,
        "lp_quarantine": _lp_quarantine,
        "lp_resume_anti_join": _lp_resume_anti_join,
        "lp_replay_union": _lp_replay_union,
        "lp_url_parse": _lp_url_parse,
        "lp_grok_access": _lp_grok_access,
        "lp_grok_summary": _lp_grok_summary,
        "lp_conn_templates": _lp_conn_templates,
        "lp_http_batches": _lp_http_batches,
        "lp_observer_lines": _lp_observer_lines,
        "q1_pricing_summary": _q1_pricing_summary,
        "q3_top_unshipped": _q3_top_unshipped,
        "q4_order_priority": _q4_order_priority,
        "q5_regional_revenue": _q5_regional_revenue,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q14_promo_revenue": _q14_promo_revenue,
        "q17_small_qty_revenue": _q17_small_qty_revenue,
        "top3_orders_per_cust": _top3_orders_per_cust,
        "cust_without_orders": _cust_without_orders,
        "nations_with_customers": _nations_with_customers,
        "cust_minus_supp_nations": _cust_minus_supp_nations,
        "rollup_pricing": _rollup_pricing,
        "sessionize_events": _sessionize_events,
        "asof_purchase_click": _asof_purchase_click,
        "corpus_clean": _corpus_clean,
        "event_value_quantiles": _event_value_quantiles,
        "sql_signup_funnel": _sql_signup_funnel,
        "daily_running_revenue": _daily_running_revenue,
        "error_click_pairs": _error_click_pairs,
        "events_hourly": _events_hourly,
        "events_distinct_stats": _events_distinct_stats,
        "text_quality": _text_quality,
        "lang_id": _lang_id,
        "token_stats": _token_stats,
        "doc_fingerprint": _doc_fingerprint,
        "doc_winnow": _doc_winnow,
        "dedup_exact": _dedup_exact,
        "dedup_minhash_pairs": _dedup_minhash_pairs,
        "dedup_clusters": _dedup_clusters,
        "dedup_simhash_pairs": _dedup_simhash_pairs,
        "embedding_lsh_pairs": _embedding_lsh_pairs,  # scale path (banded join)
        "ann_lsh_topk": _ann_lsh_topk,
        "ann_ivf_topk": _ann_ivf_topk,
        "mm_binary_meta": _mm_binary_meta,
        "mm_features": _mm_features,
        "mm_resize": _mm_resize,
        "mm_frames": _mm_frames,
    }


def _baseline_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry of value-oracled operators added after the 50-slot contract
    filled (pre-rotation; see baseline_queries())."""
    return {
        "dedup_ngram_pairs": _dedup_ngram_pairs,  # all-pairs shingle join; scale path is dedup_minhash_pairs
        "dedup_simhash": _dedup_simhash,  # signature table; the contract row is dedup_simhash_pairs (recomputes it)
        "dedup_embedding_pairs": _dedup_embedding_pairs,  # brute O(n^2); scale path is embedding_lsh_pairs
        "ann_topk": _ann_topk,  # brute top-k; scale paths are ann_lsh_topk / ann_ivf_topk
        "text_repetition": _text_repetition,  # Gopher repetition signals
        "pii_scrub": _pii_scrub,  # PII count + redaction
        "contamination_scan": _contamination_scan,  # train/test n-gram overlap
        "contamination_fuzzy": _contamination_fuzzy,  # near-dup eval leaks (minhash)
        "bloom_contamination": _bloom_contamination,  # zero-shuffle train-side prefilter
        "url_traps": _url_traps,  # crawl-trap URL-template mining
        "crawl_schedule": _crawl_schedule,  # per-host politeness waves
        "epoch_upsample": _epoch_upsample,  # fractional-epoch mixture
        "filter_funnel": _filter_funnel,  # per-gate curation attrition
        "inverted_index": _inverted_index,  # per-term postings summary
        "cdx_index": _cdx_index,  # SURT/CDX capture index
        "warc_export": _warc_export,  # WARC/1.0 record manifest
        "gopher_signals": _gopher_signals,  # remaining Table-A1 rules
        "vocab_topk": _vocab_topk,  # corpus vocabulary top-k
        "corpus_clean_v2": _corpus_clean_v2,  # + repetition/PII gates
        "stratified_sample": _stratified_sample,  # reproducible training mix
        "lm_bits": _lm_bits,  # unigram bits/token (CCNet LM-filter stand-in)
        "line_dedup_corpus": _line_dedup_corpus,  # C4 corpus-level line dedup
        "url_dedup": _url_dedup,  # canonical-URL snapshot dedup
        "url_blocklist": _url_blocklist,  # suffix-match domain blocklist
        "c4_page_filters": _c4_page_filters,  # C4 line+doc cleaning pass
        "dsir_weights": _dsir_weights,  # DSIR importance weights
        "strip_boilerplate": _strip_boilerplate,  # high-df line removal
        "domain_boilerplate": _domain_boilerplate,  # per-domain site chrome
        "domain_stats": _domain_stats,  # per-domain corpus statistics
        "corpus_datacard": _corpus_datacard,  # CUBE composition data card
        "domain_filter_docs": _domain_filter_docs,  # domain-level gate
        "pack_sequences": _pack_sequences,  # deterministic sequence packing
        "semantic_dedup_pairs": _semantic_dedup_pairs,  # SemDeDup within-cell
        "web_curation": _web_curation,  # url-dedup + boilerplate + line-dedup
        "span_dup_stats": _span_dup_stats,  # Lee et al. span duplication
        "html_extract": _html_extract,  # html->text extraction (binary col)
        "span_dedup_docs": _span_dedup_docs,  # Lee et al. span removal
        "corpus_shuffle": _corpus_shuffle,  # deterministic shuffle/sharding
        "snapshot_delta": _snapshot_delta,  # incremental-crawl delta
        "lm_buckets": _lm_buckets,  # CCNet perplexity terciles
        "domain_mix": _domain_mix,  # temperature-rebalanced domain mix
        "lm_ngrams": _lm_ngrams,  # KenLM-style pruned trigram counts
        "lm_bits2": _lm_bits2,  # bigram stupid-backoff LM score
        "bpe_pairs": _bpe_pairs,  # BPE merge-candidate top-k
        "cluster_retention": _cluster_retention,  # keep-longest per near-dup cluster
        "bm25_topk": _bm25_topk,  # BM25 probe retrieval over the corpus
        "domain_kl": _domain_kl,  # per-source token-distribution drift
        "normalize_docs": _normalize_docs,  # NFC + lower + whitespace canon
        "chunk_docs": _chunk_docs,  # window-stride token chunking
        "budget_select": _budget_select,  # token-budget corpus assembly
        "domain_terms": _domain_terms,  # log-odds distinctive vocabulary
        "html_policy": _html_policy,  # robots/canonical/license page policy
        "stratum_sample_k": _stratum_sample_k,  # fixed-count eval carving
        "export_manifest": _export_manifest,  # per-shard export checksums
        "training_export": _training_export,  # score->budget->manifest DAG
        "vocab_coverage": _vocab_coverage,  # per-doc OOV vs top-500 vocab
        "containment_pairs": _containment_pairs,  # doc-in-doc near-dup
        "link_extract": _link_extract,  # <a href> edges from binary html
        "link_degrees": _link_degrees,  # host-graph in/out degrees
        "domain_pagerank": _domain_pagerank,  # 3-iter PageRank, host graph
        "anchor_topk": _anchor_topk,  # per-target top anchor terms
        "hits_scores": _hits_scores,  # 3-iter HITS hubs/authorities
        "host_components": _host_components,  # site/mirror clusters
        "crawl_frontier": _crawl_frontier,  # uncrawled-domain priority
        "host_quality": _host_quality,  # per-host ban induction
        "trust_scores": _trust_scores,  # seeded TrustRank spam demotion
        "redirect_resolve": _redirect_resolve,  # canonical-chain pointer doubling
        "robots_filter": _robots_filter,  # RFC 9309 parse + longest-match verdicts
        "weighted_sample": _weighted_sample,  # A-ES weighted sampling w/o replacement
        "lang_segments": _lang_segments,  # CCNet per-line language rollup
        "ann_pq_topk": _ann_pq_topk,  # PQ-ADC codes + rerank (64x index shrink)
        "ann_ivfpq_topk": _ann_ivfpq_topk,  # IVF cells + residual PQ (FAISS shape)
        "cocitation_pairs": _cocitation_pairs,  # related domains by co-citation
        "recrawl_policy": _recrawl_policy,  # change-rate recrawl intervals
        "crawl_plan": _crawl_plan,  # robots -> politeness -> eta composite
        "bpe_train": _bpe_train,  # full BPE merge-table training loop
        "quality_lr": _quality_lr,  # trained LR quality classifier (GD trace)
        "quality_lr_eval": _quality_lr_eval,  # apply: confusion + P/R
        "bpe_encode": _bpe_encode,  # apply learned merges: corpus tokenize
        "mm_phash": _mm_phash,  # perceptual-hash signatures (image dedup)
        "caption_filter": _caption_filter,  # CLIP-style image-text alignment gate
        "hybrid_rrf_topk": _hybrid_rrf_topk,  # BM25 + dense RRF fusion
        "embed_docs": _embed_docs,  # text->embedding tower (hashing trick)
        "quality_pr_curve": _quality_pr_curve,  # threshold sweep (pick the cut)
        "text_near_pairs": _text_near_pairs,  # AllPairs sparse cosine join
        "hll_distinct": _hll_distinct,  # HyperLogLog per-domain vocab size
        "cms_heavy_hitters": _cms_heavy_hitters,  # Count-Min top-k estimates
        "kmv_domain_sim": _kmv_domain_sim,  # bottom-k all-pairs set overlap
        "sampled_quantiles": _sampled_quantiles,  # hash-sample quantile est.
        "bucketed_domain_join": _bucketed_domain_join,  # zero-Exchange join
        "manifest_prune": _manifest_prune,  # z-order + min/max file pruning
        "robots_sitemaps": _robots_sitemaps,  # record-independent discovery
        "domain_reweight": _domain_reweight,  # DoReMi-style mixture weights
    }


# The driver grades at most 50 ``queries()`` entries. Round 4 rotates the
# LLM-curation operators (the brief's headline work) INTO the graded
# contract and moves OUT rows whose operator family keeps a stronger graded
# representative. Nothing loses oracle rigor: rotated-out queries join
# ``baseline_queries()``, which tools/driver_sim.py merges into its run and
# tests/test_baseline_oracles.py value-checks in pytest.
_ROTATE_IN = [
    "contamination_scan",   # train/test n-gram overlap — no family twin
    "corpus_clean_v2",      # full Gopher-rule pass (supersedes text_quality)
    "lm_bits",              # unigram LM filter — no family twin
    "vocab_topk",           # corpus vocabulary — no family twin
    "text_repetition",      # Gopher repetition signals — no family twin
    "pii_scrub",            # PII redaction — no family twin
    "stratified_sample",    # deterministic sampling/splits — no family twin
    "line_dedup_corpus",    # C4 corpus line dedup — no family twin
    "web_curation",         # end-to-end pages composite — no family twin
    "semantic_dedup_pairs", # SemDeDup — embedding-space near-dup family
    "hybrid_rrf_topk",      # lexical+dense RRF retrieval — supersedes
                            # bm25_topk as the graded retrieval rep (the
                            # BM25 leg incl. MLT term pruning is replayed
                            # verbatim inside it and in its oracle) (s12)
    "domain_kl",            # distribution-drift monitor — no family twin
    "html_policy",          # page-policy scan — no family twin (session 5)
    "training_export",      # score->budget->manifest composite (session 5)
    "domain_pagerank",      # iterative graph op — new capability class
                            # (s6; also exercises extract_links/host_graph,
                            # so link_extract keeps coverage from here)
    "crawl_frontier",       # anti-join frontier + multi-distinct top-k (s7)
    "embed_docs",           # the text->embedding tower feeding the whole
                            # ANN/SemDeDup stack — no family twin (s12)
    "mm_phash",             # perceptual-hash image signatures — the image
                            # near-dup capability (caption_filter grades
                            # alignment, mm_features grades decode) (s12)
    "hll_distinct",         # mergeable-sketch family: bounded-state
                            # COUNT(DISTINCT) at corpus scale (s12)
    "cms_heavy_hitters",    # Count-Min frequency sketch — bounded-shuffle
                            # heavy hitters, the scale twin of exact
                            # vocab_topk (s12)
    "bloom_contamination",  # zero-shuffle decontamination prefilter (s8)
    "ann_ivfpq_topk",       # IVF∘PQ residual quantization — the ANN family's
                            # 10^9-vector scale path (supersedes ann_ivf_topk
                            # as the graded representative, s9)
    "robots_filter",        # RFC 9309 host-level crawl compliance — no
                            # family twin (html_policy is page-level) (s9)
    "bpe_train",            # tokenizer-training loop — new capability
                            # class (iterative argmax+rewrite rounds,
                            # recursive-CTE oracle) (s10)
    "quality_lr",           # trained quality classifier — new capability
                            # class (iterative float training graded
                            # hash-exact via state quantization) (s10)
    "bpe_encode",           # tokenizer APPLY — completes the train->
                            # encode->pack story (zero-shuffle padded-
                            # replace scan; training-replay oracle) (s11)
    "caption_filter",       # CLIP-style image-text alignment gate — the
                            # multimodal curation capability (mm family's
                            # mm_features stays graded too) (s11)
    # s12 rotation-back (each family keeps a stronger graded rep, rows stay
    # value-checked in baseline_queries()): bm25_topk -> hybrid_rrf_topk
    # replays the full BM25 leg; hits_scores -> iterative-rank family keeps
    # domain_pagerank; host_components -> the pointer-jumping components
    # kernel stays graded via dedup_clusters; host_quality -> page-policy
    # induction keeps html_policy + web_curation graded; link_extract ->
    # recomputed inside the graded domain_pagerank DAG.
]
_ROTATE_OUT = [
    "dedup_exact",          # family graded via dedup_clusters (same DAG+)
    "lp_grok_access",       # family graded via lp_grok_summary
    "doc_fingerprint",      # family graded via doc_winnow
    "mm_resize",            # same decode-oracle family as mm_features
    "mm_frames",            # same decode-oracle family as mm_features
    "q14_promo_revenue",    # join shape graded via q3/q5/q17
    "text_quality",         # every gate graded inside corpus_clean_v2
    "mm_binary_meta",       # metadata columns re-derived inside mm_features
    "events_hourly",        # date_trunc+agg shape graded via q1/rollup
    "daily_running_revenue",  # cumulative window; ranking/gap windows keep
                              # graded rows (top3, sessionize)
    "q6_forecast_revenue",  # scan+filter+agg shape graded via q1
    "token_stats",          # token aggregation graded via vocab_topk/lm_bits
    "lp_url_parse",         # parse_url kernel graded via lp_enrich (domain)
                            # and lp_conn_templates (scheme/auth fields)
    "lang_id",              # heuristic lang gate graded inside corpus_clean
                            # and corpus_clean_v2 (same column contract)
    "nations_with_customers",  # semi join graded via contamination_scan
    "cust_without_orders",     # anti join graded via lp_resume_anti_join
    "q4_order_priority",       # EXISTS semi join graded via
                               # contamination_scan (left_semi) +
                               # crawl_frontier (left_anti)
    "q5_regional_revenue",     # broadcast multi-join graded via
                               # hybrid_rrf_topk (broadcast BM25 joins)
                               # + q3 (SMJ multi-join)
    "cust_minus_supp_nations", # EXCEPT graded via lp_resume_anti_join
                               # (anti-join semantics) + lp_replay_union
    "events_distinct_stats",   # multi-distinct agg graded via
                               # crawl_frontier (2× countDistinct + count)
    "ann_lsh_topk",            # ANN family keeps ann_ivf_topk graded (the
                               # trained-centroid scale path); the
                               # hyperplane-LSH variant stays value-checked
                               # in baselines (s8, for bloom_contamination)
    "ann_ivf_topk",            # superseded as the graded ANN representative
                               # by ann_ivfpq_topk (IVF∘PQ composes it) (s9)
    "error_click_pairs",       # interval-join family keeps
                               # asof_purchase_click graded (s9)
    "corpus_clean",            # superseded by corpus_clean_v2 (strict
                               # superset of gates, same text_quality
                               # precedent) (s10)
    "top3_orders_per_cust",    # ranking-window family keeps
                               # sessionize_events graded (lag + running
                               # sum windows) (s10)
    "dedup_simhash_pairs",     # near-dup-pairs capability keeps FIVE graded
                               # reps (minhash_pairs, clusters, semantic,
                               # line_dedup, embedding_lsh); the simhash
                               # sketch stays pytest-pinned (blocked==narrow)
                               # and value-checked in baselines (s11)
    "doc_winnow",              # fingerprint family (winnow + doc_fingerprint)
                               # stays value-checked in baselines; text
                               # family keeps text_repetition/pii_scrub/
                               # lm_bits/corpus_clean_v2 graded (s11)
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver-graded 50-query contract (registry minus rotated-out rows
    plus the rotated-in curation operators)."""
    base = _query_registry()
    extra = _baseline_registry()
    out = {k: v for k, v in base.items() if k not in _ROTATE_OUT}
    out.update({k: extra[k] for k in _ROTATE_IN})
    assert len(out) == 50, len(out)
    return out


def baseline_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Value-oracled operators outside the driver's 50-query contract:
    exhaustive small-input baselines whose scale-path twins are graded
    (``dedup_ngram_pairs`` / ``dedup_embedding_pairs`` / ``ann_topk`` /
    ``dedup_simhash``) plus the rows rotated out in favor of the curation
    operators. All stay fully value-checked — ``tools/driver_sim.py``
    merges this dict into its run and ``tests/test_baseline_oracles.py``
    gates them in pytest; only the driver row moved."""
    base = _query_registry()
    extra = _baseline_registry()
    out = {k: v for k, v in extra.items() if k not in _ROTATE_IN}
    out.update({k: base[k] for k in _ROTATE_OUT})
    return out


# ------------------------------------------------------------- oracle SQL --

_PAGES = f"read_parquet('{PAGES_001}/*.parquet')"
_DOMAIN_TLD = f"read_parquet('{DATA}/domain_tld/*.parquet')"
_LANG_LOCALE = f"read_parquet('{DATA}/lang_locale/*.parquet')"
_ROUTES = f"read_parquet('{DATA}/routes/*.parquet')"

# shared CTE: non-empty lines with 1-based line numbers (zip-unnest)
_LINES_CTE = f"""
WITH split AS (
  SELECT url, warc_ts, lang, string_split(text, chr(10)) AS parts
  FROM {_PAGES}
), numbered AS (
  SELECT url, warc_ts, lang,
         unnest(generate_series(1, len(parts))) AS line_no,
         unnest(parts) AS line
  FROM split
), lines AS (
  SELECT url, warc_ts, lang, CAST(line_no AS INT) AS line_no, line
  FROM numbered WHERE length(line) > 0
)
"""

# enrichment+routing of distinct urls
_ENRICHED_CTE = f"""
, enriched AS (
  SELECT l.*, dt.tld, dt.category,
         ll.locale,
         r.sink, r.hostname, r.product_code, r.log_type
  FROM (SELECT *, split_part(split_part(url, '://', 2), '/', 1) AS domain FROM lines) l
  LEFT JOIN {_DOMAIN_TLD} dt USING (domain)
  LEFT JOIN {_LANG_LOCALE} ll USING (lang)
  LEFT JOIN {_ROUTES} r ON r.route_key = coalesce(dt.category, '__default__')
)
"""

# byte-exact envelope: keys in sorted order (@timestamp, host, log|log_obj,
# log_type, prd, source); JSON lines are canonical by construction so the
# oracle embeds the raw line where the engine re-serializes
_ENVELOPE_EXPR = """
  '{"@timestamp":"' || (epoch_us(warc_ts) // 1000000)::VARCHAR || '.' ||
      lpad(((epoch_us(warc_ts) % 1000000) * 1000)::VARCHAR, 9, '0') || '"' ||
  CASE WHEN hostname IS NOT NULL AND hostname != ''
       THEN ',"host":' || to_json(hostname) ELSE '' END ||
  CASE WHEN substr(line, 1, 1) IN ('{', '[') AND json_valid(line)
       THEN ',"log_obj":' || line
       ELSE ',"log":' || to_json(line) END ||
  CASE WHEN log_type IS NOT NULL AND log_type != ''
       THEN ',"log_type":' || to_json(log_type) ELSE '' END ||
  CASE WHEN product_code IS NOT NULL AND product_code != ''
       THEN ',"prd":' || to_json(product_code) ELSE '' END ||
  ',"source":' || to_json(url) || '}'
"""

_PARSE_FAIL_EXPR = "substr(line, 1, 1) IN ('{', '[') AND NOT json_valid(line)"


def _observer_entry_expr() -> str:
    """Observer-dialect line (src/Observer.cc:128-149): the 7-case escaper
    as chained replaces (backslash first), `{`-raw embed without validation,
    UNQUOTED generated_at. chr() literals sidestep SQL quoting."""
    esc = "line"
    for raw, rep in ((92, "chr(92)||chr(92)"), (8, "chr(92)||'b'"),
                     (12, "chr(92)||'f'"), (10, "chr(92)||'n'"),
                     (13, "chr(92)||'r'"), (9, "chr(92)||'t'"),
                     (34, "chr(92)||'\"'")):
        esc = f"replace({esc}, chr({raw}), {rep})"
    return f"""
      '{{"generated_at":' ||
      (epoch_us(warc_ts) // 1000000)::VARCHAR || '.' ||
      lpad(((epoch_us(warc_ts) % 1000000) * 1000)::VARCHAR, 9, '0') ||
      ',"log":' ||
      CASE WHEN substr(line, 1, 1) = '{{' THEN line
           ELSE '"' || {esc} || '"' END || '}}'
    """


# grok/wire oracle SQL — plain strings (regex braces clash with f-strings)
_GROK_RE = r"'^(GET|POST|PUT|DELETE|HEAD) (/\S+) ([1-5][0-9]{2}) ([0-9]+)'"

_GROK_ACCESS_SQL = (
    "SELECT url, line_no, regexp_matches(line, " + _GROK_RE + ") AS grok_matched,\n"
    "  CASE WHEN regexp_matches(line, " + _GROK_RE + ")\n"
    "       THEN regexp_extract(line, " + _GROK_RE + ", 1) END AS method,\n"
    "  CASE WHEN regexp_matches(line, " + _GROK_RE + ")\n"
    "       THEN regexp_extract(line, " + _GROK_RE + ", 2) END AS path,\n"
    "  CASE WHEN regexp_matches(line, " + _GROK_RE + ")\n"
    "       THEN CAST(regexp_extract(line, " + _GROK_RE + ", 3) AS INT) END AS status,\n"
    "  CASE WHEN regexp_matches(line, " + _GROK_RE + ")\n"
    "       THEN CAST(regexp_extract(line, " + _GROK_RE + ", 4) AS BIGINT) END AS resp_bytes\n"
    "FROM lines"
)

_GROK_SUMMARY_SQL = (
    "SELECT regexp_extract(line, " + _GROK_RE + ", 1) AS method,\n"
    "  CAST(floor(CAST(regexp_extract(line, " + _GROK_RE + ", 3) AS INT) / 100) AS INT)\n"
    "      AS status_class,\n"
    "  count(*) AS n,\n"
    "  CAST(sum(CAST(regexp_extract(line, " + _GROK_RE + ", 4) AS BIGINT))\n"
    "       AS BIGINT) AS total_bytes\n"
    "FROM lines WHERE regexp_matches(line, " + _GROK_RE + ")\n"
    "GROUP BY 1, 2"
)

_CONN_URL_SCHEME = "lower(split_part(brokers, '://', 1))"
_CONN_USERINFO = "regexp_extract(brokers, '^[a-zA-Z]+://(?:([^@/]+)@)?', 1)"

_CONN_TEMPLATES_SQL = f"""
    SELECT sink,
           {_CONN_URL_SCHEME} AS scheme,
           CASE WHEN {_CONN_URL_SCHEME} IN ('http', 'https') THEN 'HTTP'
                ELSE 'KAFKA' END AS producer_type,
           regexp_extract(brokers, '^[a-zA-Z]+://(?:[^@/]+@)?([^/:?#]+)', 1) AS host,
           -- explicit :port, else the reference's scheme-default table
           -- (/root/reference/src/Url.cc:52-74), else 0
           CASE WHEN regexp_extract(brokers,
                     '^[a-zA-Z+]+://(?:[^@/?#]+@)?[^/:?#]*:([0-9]+)([/?#].*)?$', 1) != ''
                THEN CAST(regexp_extract(brokers,
                     '^[a-zA-Z+]+://(?:[^@/?#]+@)?[^/:?#]*:([0-9]+)([/?#].*)?$', 1) AS INT)
                ELSE CASE {_CONN_URL_SCHEME}
                     WHEN 'https' THEN 443 WHEN 'http' THEN 80
                     WHEN 'ssh' THEN 22 WHEN 'ftp' THEN 21
                     WHEN 'mysql' THEN 3306 WHEN 'mongo' THEN 27017
                     WHEN 'mongo+srv' THEN 27017 WHEN 'kafka' THEN 9092
                     WHEN 'postgres' THEN 5432 WHEN 'postgresql' THEN 5432
                     WHEN 'redis' THEN 6379 WHEN 'zookeeper' THEN 2181
                     WHEN 'ldap' THEN 389 WHEN 'ldaps' THEN 636
                     ELSE 0 END END AS port,
           regexp_extract(brokers, '^[a-zA-Z]+://[^/]*(/[^?#]*)', 1) AS path,
           CASE WHEN {_CONN_URL_SCHEME} IN ('http', 'https')
                     AND {_CONN_USERINFO} != ''
                THEN 'Basic ' || to_base64(encode({_CONN_USERINFO})) END AS auth_header,
           {_CONN_URL_SCHEME} IN ('http', 'https') AS is_http
    FROM read_parquet('{DATA}/routes/*.parquet')
"""

_HTTP_BATCHES_SQL = (
    ", rec AS (\n"
    "  SELECT sink, url, line_no, " + _ENVELOPE_EXPR + " AS record FROM enriched\n"
    "), rb AS (\n"
    # bucket = crc32(url) % 64 — DuckDB lacks crc32, so join the precomputed
    # url_buckets fixture (bit-identical to the JVM bucket, see datagen)
    "  SELECT r.sink, r.url, r.line_no, r.record, ub.bucket\n"
    f"  FROM rec r JOIN read_parquet('{DATA}/url_buckets_sf0.01/*.parquet') ub USING (url)\n"
    "), b AS (\n"
    "  SELECT sink, bucket, url, line_no, record,\n"
    "    CAST(floor((row_number() OVER (PARTITION BY sink, bucket ORDER BY url, line_no) - 1)\n"
    "         / 1000) AS BIGINT) AS batch_id\n"
    "  FROM rb)\n"
    "SELECT sink, bucket, batch_id,\n"
    "  '{\"messages\":[' || string_agg(record, ',' ORDER BY url, line_no)\n"
    "    || '],\"count\":' || count(*) || '}' AS body,\n"
    "  count(*) AS n_msgs\n"
    "FROM b GROUP BY sink, bucket, batch_id"
)


# --------------------------- training-data oracle SQL builders (DuckDB) ----

def _sql_in(words) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _corpus_clean_sql() -> str:
    """Composite oracle: exact dedup → quality ≥ 0.5 → lang known → drop the
    larger id of every Jaccard≥0.8 3-shingle pair. Mirrors _corpus_clean."""
    from logport_spark.operators.textstats import LANG_MARKERS, STOPWORDS

    langs = sorted(LANG_MARKERS)
    scores = ",\n            ".join(
        f"len(list_filter(string_split(text,' '), t -> t IN ({_sql_in(LANG_MARKERS[l])}))) AS s_{l}"
        for l in langs
    )
    g = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN g = 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = g THEN '{l}'" for l in langs
    ) + " END"
    return f"""
        WITH d1 AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM documents) WHERE rn = 1
        ), qb AS (
          SELECT doc_id, length(text) AS q_chars,
                 len(string_split(text,' ')) AS q_tokens,
                 len(list_filter(string_split(text,' '),
                     t -> t IN ({_sql_in(STOPWORDS)}))) AS n_stop,
                 length(text) - length(regexp_replace(text,'[a-zA-Z]','','g')) AS n_alpha
          FROM d1
        ), q AS (
          SELECT doc_id, q_tokens,
                 round(0.4 * least(n_stop * 5.0 / greatest(q_tokens, 1), 1.0)
                       + 0.3 * n_alpha * 1.0 / greatest(q_chars, 1)
                       + 0.3 * least(q_tokens / 100.0, 1.0), 4) AS quality_score
          FROM qb
        ), ls AS (
          SELECT doc_id,
            {scores}
          FROM d1
        ), lg AS (
          SELECT doc_id, {case} AS pred_lang
          FROM (SELECT doc_id, {g} AS g, * EXCLUDE (doc_id) FROM ls)
        ), t AS (SELECT doc_id, string_split(text,' ') AS toks FROM d1),
        sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS sh
               FROM t, unnest(range(1, greatest(len(toks)-2,0)+1)) AS r(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        drops AS (
          SELECT DISTINCT b.doc_id
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          JOIN sizes s1 ON s1.doc_id = a.doc_id
          JOIN sizes s2 ON s2.doc_id = b.doc_id
          GROUP BY a.doc_id, b.doc_id, s1.n, s2.n
          HAVING count(*) * 1.0 / (s1.n + s2.n - count(*)) >= 0.8
        )
        SELECT q.doc_id, lg.pred_lang, q.quality_score, q.q_tokens
        FROM q JOIN lg USING (doc_id)
        WHERE q.quality_score >= 0.5 AND lg.pred_lang <> 'und'
          AND q.doc_id NOT IN (SELECT doc_id FROM drops)
    """


def _gopher_signal_ctes() -> str:
    """The corpus_clean_v2 signal chain as a reusable CTE block (dedup
    window, quality, lang, repetition, PII, near-dup drops) — shared by
    the v2 oracle and the filter_funnel oracle so the two can never
    drift."""
    from logport_spark.operators.textstats import LANG_MARKERS, STOPWORDS

    langs = sorted(LANG_MARKERS)
    scores = ",\n            ".join(
        f"len(list_filter(string_split(text,' '), t -> t IN ({_sql_in(LANG_MARKERS[l])}))) AS s_{l}"
        for l in langs
    )
    g = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN g = 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = g THEN '{l}'" for l in langs
    ) + " END"
    n_pii = (f"len(regexp_extract_all(text, '{PII_EMAIL_SQL}'))"
             f" + len(regexp_extract_all(text, '{PII_IPV4_SQL}'))"
             f" + len(regexp_extract_all(text, '{PII_CARD_SQL}'))")
    return f"""
        WITH dd AS (
          SELECT doc_id, text,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM documents
        ), d1 AS (
          SELECT doc_id, text FROM dd WHERE rn = 1
        ), qb AS (
          SELECT doc_id, length(text) AS q_chars,
                 len(string_split(text,' ')) AS q_tokens,
                 len(list_filter(string_split(text,' '),
                     t -> t IN ({_sql_in(STOPWORDS)}))) AS n_stop,
                 length(text) - length(regexp_replace(text,'[a-zA-Z]','','g')) AS n_alpha
          FROM d1
        ), q AS (
          SELECT doc_id,
                 round(0.4 * least(n_stop * 5.0 / greatest(q_tokens, 1), 1.0)
                       + 0.3 * n_alpha * 1.0 / greatest(q_chars, 1)
                       + 0.3 * least(q_tokens / 100.0, 1.0), 4) AS quality_score
          FROM qb
        ), ls AS (
          SELECT doc_id,
            {scores}
          FROM d1
        ), lg AS (
          SELECT doc_id, {case} AS pred_lang
          FROM (SELECT doc_id, {g} AS g, * EXCLUDE (doc_id) FROM ls)
        ), tk AS (SELECT doc_id, string_split(text,' ') AS toks FROM d1),
        tok AS (SELECT doc_id, unnest(toks) AS t FROM tk),
        c1 AS (SELECT doc_id, max(c) AS top1 FROM
                 (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
               GROUP BY 1),
        gg2 AS (SELECT doc_id, array_to_string(toks[i:i+1],' ') AS gr
                FROM tk, unnest(range(1, greatest(len(toks)-1,0)+1)) AS r(i)),
        c2 AS (SELECT doc_id,
                      sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2,
                      sum(c) AS n2
               FROM (SELECT doc_id, gr, count(*) AS c FROM gg2 GROUP BY 1, 2)
               GROUP BY 1),
        rep AS (
          SELECT tk.doc_id,
                 round(c1.top1 * 1.0 / greatest(len(tk.toks), 1), 4)
                     AS top_token_frac,
                 round(coalesce(c2.dup2, 0) * 1.0
                       / greatest(coalesce(c2.n2, 0), 1), 4) AS dup_2gram_frac
          FROM tk JOIN c1 USING (doc_id) LEFT JOIN c2 USING (doc_id)
        ), pii AS (
          SELECT doc_id, ({n_pii}) > 0 AS has_pii FROM d1
        ), t AS (SELECT doc_id, string_split(text,' ') AS toks FROM d1),
        sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS sh
               FROM t, unnest(range(1, greatest(len(toks)-2,0)+1)) AS r(i)),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        drops AS (
          SELECT DISTINCT b.doc_id
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          JOIN sizes s1 ON s1.doc_id = a.doc_id
          JOIN sizes s2 ON s2.doc_id = b.doc_id
          GROUP BY a.doc_id, b.doc_id, s1.n, s2.n
          HAVING count(*) * 1.0 / (s1.n + s2.n - count(*)) >= 0.8
        )"""


def _corpus_clean_v2_sql() -> str:
    """corpus_clean's oracle extended with the repetition folds and PII
    gates — one SQL statement re-deriving every signal over the deduped set."""
    return _gopher_signal_ctes() + """
        SELECT q.doc_id, lg.pred_lang, q.quality_score,
               rep.top_token_frac, rep.dup_2gram_frac
        FROM q JOIN lg USING (doc_id) JOIN rep USING (doc_id)
        JOIN pii USING (doc_id)
        WHERE q.quality_score >= 0.5 AND lg.pred_lang <> 'und'
          AND NOT pii.has_pii
          AND rep.dup_2gram_frac <= 0.5 AND rep.top_token_frac <= 0.3
          AND q.doc_id NOT IN (SELECT doc_id FROM drops)
    """


def _filter_funnel_sql() -> str:
    """Per-gate attrition through the corpus_clean_v2 cascade: each doc
    charged to its FIRST failing gate in pipeline order; n_surviving is
    the running remainder. Shares the signal CTEs with the v2 oracle."""
    return _gopher_signal_ctes() + """
        , ff AS (
          SELECT doc_id, 'exact_dup' AS gate FROM dd WHERE rn > 1
          UNION ALL
          SELECT q.doc_id,
                 CASE WHEN q.quality_score < 0.5 THEN 'quality'
                      WHEN lg.pred_lang = 'und' THEN 'lang'
                      WHEN pii.has_pii THEN 'pii'
                      WHEN rep.dup_2gram_frac > 0.5 THEN 'dup_2gram'
                      WHEN rep.top_token_frac > 0.3 THEN 'top_token'
                      WHEN q.doc_id IN (SELECT doc_id FROM drops)
                           THEN 'near_dup'
                 END AS gate
          FROM q JOIN lg USING (doc_id) JOIN rep USING (doc_id)
          JOIN pii USING (doc_id)
        ),
        cnt AS (SELECT gate, count(*) AS n FROM ff
                WHERE gate IS NOT NULL GROUP BY 1),
        st AS (SELECT * FROM (VALUES
                 (1, 'exact_dup'), (2, 'quality'), (3, 'lang'),
                 (4, 'pii'), (5, 'dup_2gram'), (6, 'top_token'),
                 (7, 'near_dup')) v(stage, gate)),
        tot AS (SELECT count(*) AS t FROM documents)
        SELECT CAST(st.stage AS INT) AS stage, st.gate,
               CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_failed,
               CAST(tot.t - sum(coalesce(cnt.n, 0))
                    OVER (ORDER BY st.stage) AS BIGINT) AS n_surviving
        FROM st LEFT JOIN cnt USING (gate) CROSS JOIN tot
    """


def _lang_id_sql() -> str:
    from logport_spark.operators.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = ",\n          ".join(
        f"len(list_filter(string_split(text,' '), t -> t IN ({_sql_in(LANG_MARKERS[l])}))) AS s_{l}"
        for l in langs
    )
    g = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN g = 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = g THEN '{l}'" for l in langs
    ) + " END"
    return f"""
        WITH s AS (
          SELECT doc_id, lang,
          {scores}
          FROM documents
        ), m AS (SELECT doc_id, lang, {g} AS g, * EXCLUDE (doc_id, lang) FROM s)
        SELECT doc_id, lang, {case} AS pred_lang, g AS marker_hits FROM m
    """


def _pq_oracle(k: int = 10, m: int = 8, ksub: int = 16, dsub: int = 8,
               rerank: int = 50) -> str:
    """PQ-ADC oracle: codebooks re-derived IN SQL (subvectors of the ksub
    lowest-id vectors, the ann_ivf centroid pattern), per-(vector,
    subspace, code) L2² as an EXPLICIT left-to-right 8-term sum (the
    engine's numpy kernel accumulates dimension-sequentially to match),
    codes as min(j) at the min distance (= numpy first-min argmin), ADC
    as the explicit q0.d + … + q7.d subspace sum (= the engine's
    element_at chain), candidates top-rerank by (adc, neighbor_id),
    exact-cosine rerank top-k."""
    qids = ", ".join(str(i) for i in ANN_QUERY_IDS)

    def l2sq(s: int) -> str:
        return " + ".join(
            f"(CAST(e.embedding[{s * dsub + i + 1}] AS DOUBLE)"
            f" - CAST(cb.cv[{s * dsub + i + 1}] AS DOUBLE))"
            f" * (CAST(e.embedding[{s * dsub + i + 1}] AS DOUBLE)"
            f" - CAST(cb.cv[{s * dsub + i + 1}] AS DOUBLE))"
            for i in range(dsub))

    sd = "\n            UNION ALL\n".join(
        f"            SELECT e.vec_id, {s} AS s, cb.j, {l2sq(s)} AS d"
        f" FROM e CROSS JOIN cb"
        for s in range(m))
    cw_cols = ", ".join(
        f"max(CASE WHEN s = {s} THEN code END) AS c{s}" for s in range(m))
    adc_joins = "\n".join(
        f"            JOIN qd q{s} ON q{s}.query_id = q.query_id"
        f" AND q{s}.s = {s} AND q{s}.j = v.c{s}" for s in range(m))
    adc_sum = " + ".join(f"q{s}.d" for s in range(m))
    return _EMB_NORM_CTE + f"""
        , cb AS (SELECT row_number() OVER (ORDER BY vec_id) AS j,
                        embedding AS cv
                 FROM (SELECT vec_id, embedding FROM e
                       ORDER BY vec_id LIMIT {ksub}) t),
        sd AS (
{sd}
        ),
        cm AS (SELECT vec_id, s, min(d) AS md FROM sd GROUP BY 1, 2),
        cd AS (SELECT sd.vec_id, sd.s, min(sd.j) AS code
               FROM sd JOIN cm ON cm.vec_id = sd.vec_id AND cm.s = sd.s
               WHERE sd.d = cm.md GROUP BY 1, 2),
        cw AS (SELECT vec_id, {cw_cols} FROM cd GROUP BY vec_id),
        qd AS (SELECT vec_id AS query_id, s, j, d FROM sd
               WHERE vec_id IN ({qids})),
        adc AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   {adc_sum} AS adc
            FROM cw v
            CROSS JOIN (SELECT DISTINCT query_id FROM qd) q
{adc_joins}
            WHERE v.vec_id <> q.query_id),
        cand AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY adc ASC, neighbor_id ASC) AS r
              FROM adc) WHERE r <= {rerank}),
        rr AS (
            SELECT cd2.query_id, cd2.neighbor_id,
                   {_DOT64.format(a='eq.embedding', b='en.embedding')}
                     / (nq.nm * nn.nm) AS cos
            FROM cand cd2
            JOIN e eq ON eq.vec_id = cd2.query_id
            JOIN e en ON en.vec_id = cd2.neighbor_id
            JOIN n nq ON nq.vec_id = cd2.query_id
            JOIN n nn ON nn.vec_id = cd2.neighbor_id)
        SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM rr)
        WHERE rank <= {k}
    """


def _ivfpq_oracle(k: int = 10, nlist: int = 16, nprobe: int = 4,
                  m: int = 8, ksub: int = 16, dsub: int = 8,
                  rerank: int = 50) -> str:
    """IVF∘PQ oracle — every stage of the engine replayed step by step in
    SQL: centroids (lowest nlist ids), cell per vector (min cid at max
    normalized dot), residual codebook (residuals of the ksub lowest ids
    OUTSIDE the centroid set), codes (explicit 8-term residual L2² sums,
    min(j) at min d), probed cells per query (top-nprobe by score), LUT
    entries from the query's residual in each probed cell, ADC as the
    explicit subspace sum, (adc, neighbor) top-rerank, exact-cosine
    top-k. Parenthesization mirrors the engine's fold grouping:
    ((e−centroid) − (bv−bc)) per dimension, left-to-right sums."""
    qids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    cent_ids = ", ".join(str(i) for i in range(nlist))

    def res_term(tbl: str, cent: str, s: int, i: int) -> str:
        idx = s * dsub + i + 1
        return (f"((CAST({tbl}.embedding[{idx}] AS DOUBLE)"
                f" - CAST({cent}.cv[{idx}] AS DOUBLE))"
                f" - (CAST(cbr.bv[{idx}] AS DOUBLE)"
                f" - CAST(cbr.bc[{idx}] AS DOUBLE)))")

    def res_l2(tbl: str, cent: str, s: int) -> str:
        return " + ".join(
            f"{res_term(tbl, cent, s, i)} * {res_term(tbl, cent, s, i)}"
            for i in range(dsub))

    rsd = "\n            UNION ALL\n".join(
        f"            SELECT e.vec_id, {s} AS s, cbr.j, {res_l2('e', 'vc', s)} AS d"
        f" FROM e JOIN cells ON cells.vec_id = e.vec_id"
        f" JOIN c vc ON vc.cid = cells.cell CROSS JOIN cbr"
        for s in range(m))
    qlut = "\n            UNION ALL\n".join(
        f"            SELECT qe.vec_id AS query_id, qp.cell, {s} AS s,"
        f" cbr.j, {res_l2('qe', 'qc', s)} AS d"
        f" FROM e qe JOIN qp ON qp.query_id = qe.vec_id"
        f" JOIN c qc ON qc.cid = qp.cell CROSS JOIN cbr"
        for s in range(m))
    cw_cols = ", ".join(
        f"max(CASE WHEN s = {s} THEN code END) AS c{s}" for s in range(m))
    adc_joins = "\n".join(
        f"            JOIN qlut q{s} ON q{s}.query_id = qp.query_id"
        f" AND q{s}.cell = ce.cell AND q{s}.s = {s} AND q{s}.j = v.c{s}"
        for s in range(m))
    adc_sum = " + ".join(f"q{s}.d" for s in range(m))
    return _EMB_NORM_CTE + f"""
        , c AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid,
                       embedding AS cv
                FROM (SELECT vec_id, embedding FROM e
                      ORDER BY vec_id LIMIT {nlist}) t),
        cnm AS (SELECT cid, sqrt(list_sum(list_transform(cv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
                FROM c),
        sc AS (SELECT e.vec_id, c.cid,
                      {_DOT64.format(a='e.embedding', b='c.cv')} / cnm.nm
                        AS s
               FROM e CROSS JOIN c JOIN cnm ON cnm.cid = c.cid),
        mx AS (SELECT vec_id, cid, s,
                      max(s) OVER (PARTITION BY vec_id) AS msc FROM sc),
        cells AS (SELECT vec_id, min(cid) AS cell
                  FROM mx WHERE s = msc GROUP BY vec_id),
        cbsrc AS (SELECT row_number() OVER (ORDER BY vec_id) AS j,
                         vec_id, embedding AS bv
                  FROM (SELECT vec_id, embedding FROM e
                        WHERE vec_id NOT IN ({cent_ids})
                        ORDER BY vec_id LIMIT {ksub}) t),
        cbr AS (SELECT cb.j, cb.bv, c.cv AS bc
                FROM cbsrc cb
                JOIN cells ON cells.vec_id = cb.vec_id
                JOIN c ON c.cid = cells.cell),
        rsd AS (
{rsd}
        ),
        cm AS (SELECT vec_id, s, min(d) AS md FROM rsd GROUP BY 1, 2),
        cd AS (SELECT rsd.vec_id, rsd.s, min(rsd.j) AS code
               FROM rsd JOIN cm ON cm.vec_id = rsd.vec_id AND cm.s = rsd.s
               WHERE rsd.d = cm.md GROUP BY 1, 2),
        cw AS (SELECT vec_id, {cw_cols} FROM cd GROUP BY vec_id),
        qp AS (SELECT query_id, cell FROM (
                 SELECT sc.vec_id AS query_id, sc.cid AS cell,
                        row_number() OVER (PARTITION BY sc.vec_id
                            ORDER BY sc.s DESC, sc.cid) AS r
                 FROM sc WHERE sc.vec_id IN ({qids})) WHERE r <= {nprobe}),
        qlut AS (
{qlut}
        ),
        adc AS (
            SELECT qp.query_id, v.vec_id AS neighbor_id,
                   {adc_sum} AS adc
            FROM cw v
            JOIN cells ce ON ce.vec_id = v.vec_id
            JOIN qp ON qp.cell = ce.cell
{adc_joins}
            WHERE v.vec_id <> qp.query_id),
        cand AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY adc ASC, neighbor_id ASC) AS r
              FROM adc) WHERE r <= {rerank}),
        rr AS (
            SELECT cd2.query_id, cd2.neighbor_id,
                   {_DOT64.format(a='eq.embedding', b='en.embedding')}
                     / (nq.nm * nn.nm) AS cos
            FROM cand cd2
            JOIN e eq ON eq.vec_id = cd2.query_id
            JOIN e en ON en.vec_id = cd2.neighbor_id
            JOIN n nq ON nq.vec_id = cd2.query_id
            JOIN n nn ON nn.vec_id = cd2.neighbor_id)
        SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
          FROM rr)
        WHERE rank <= {k}
    """


def _lang_segments_sql() -> str:
    """CCNet per-line segmentation oracle: same per-line marker argmax as
    _lang_id_sql, same (cnt DESC, lang ASC) dominant tiebreak."""
    from logport_spark.operators.textstats import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    scores = ",\n              ".join(
        f"len(list_filter(string_split(line, ' '), "
        f"t -> t IN ({_sql_in(LANG_MARKERS[l])}))) AS s_{l}"
        for l in langs)
    g = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = "CASE WHEN g = 0 THEN 'und' " + " ".join(
        f"WHEN s_{l} = g THEN '{l}'" for l in langs) + " END"
    return f"""
        WITH sp AS (
          SELECT doc_id, unnest(string_split(text, chr(10))) AS line
          FROM documents),
        nz AS (SELECT * FROM sp WHERE length(line) > 0),
        s AS (
          SELECT doc_id,
              {scores}
          FROM nz),
        m AS (SELECT doc_id, {g} AS g, * EXCLUDE (doc_id) FROM s),
        p AS (SELECT doc_id, {case} AS line_lang FROM m),
        c AS (SELECT doc_id, line_lang, count(*) AS cnt
              FROM p GROUP BY 1, 2),
        tot AS (SELECT doc_id, sum(cnt) AS n_lines,
                       count(*) AS n_langs FROM c GROUP BY 1),
        win AS (SELECT doc_id, line_lang, cnt, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY cnt DESC, line_lang ASC) AS rn
                FROM c)
        SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
               CAST(t.n_langs AS BIGINT) AS n_langs,
               w.line_lang AS dominant_lang,
               round(w.cnt * 1.0 / t.n_lines, 6) AS dominant_frac,
               (w.cnt * 1.0 / t.n_lines) < 0.8 AS mixed
        FROM tot t JOIN win w ON w.doc_id = t.doc_id AND w.rn = 1
    """


def _quality_sql() -> str:
    from logport_spark.operators.textstats import STOPWORDS

    return f"""
        WITH base AS (
          SELECT doc_id, length(text) AS q_chars,
                 len(string_split(text,' ')) AS q_tokens,
                 len(list_filter(string_split(text,' '),
                     t -> t IN ({_sql_in(STOPWORDS)}))) AS n_stop,
                 length(text) - length(regexp_replace(text,'[a-zA-Z]','','g')) AS n_alpha
          FROM documents
        ), r AS (
          SELECT doc_id, q_chars, q_tokens,
                 n_stop * 1.0 / greatest(q_tokens, 1) AS sr,
                 n_alpha * 1.0 / greatest(q_chars, 1) AS ar,
                 least(q_tokens / 100.0, 1.0) AS ls
          FROM base)
        SELECT doc_id, q_chars, q_tokens, round(sr, 4) AS stop_ratio,
               round(ar, 4) AS alpha_ratio,
               round(0.4 * least(sr * 5, 1.0) + 0.3 * ar + 0.3 * ls, 4) AS quality_score
        FROM r
    """


_SHINGLE3_CTE = """
WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2],' ') AS sh
       FROM t, unnest(range(1, greatest(len(toks)-2,0)+1)) AS r(i)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
"""

# PII regexes shared verbatim with the oracle (RE2-safe; no quotes inside)
from logport_spark.operators.textstats import (  # noqa: E402
    PII_CARD as PII_CARD_SQL,
    PII_EMAIL as PII_EMAIL_SQL,
    PII_IPV4 as PII_IPV4_SQL,
)

_JACCARD_PAIRS_SQL = _SHINGLE3_CTE + """
SELECT d1, d2, round(common * 1.0 / (s1.n + s2.n - common), 4) AS jaccard
FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
WHERE common * 1.0 / (s1.n + s2.n - common) >= 0.8
"""

_SIMHASH_CTE = """
WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
h AS (SELECT doc_id, md5(t) AS h FROM tok),
bits AS (SELECT doc_id, h, unnest(range(0, 60)) AS j FROM h),
v AS (SELECT doc_id, j,
        sum(CASE WHEN (strpos('0123456789abcdef', substr(h, CAST(j//4 AS INT)+1, 1)) - 1)
                      & (1 << CAST(j % 4 AS INT)) > 0
                 THEN 1 ELSE -1 END) AS s
      FROM bits GROUP BY 1, 2),
sig AS (SELECT doc_id,
          CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(j AS INT)
                        ELSE 0 END) AS BIGINT) AS simhash
        FROM v GROUP BY 1)
"""

_EMB_NORM_CTE = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
n AS (SELECT vec_id,
        sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
      FROM e)
"""

_DOT64 = (
    "list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
    "FOR i IN range(1, 65)])"
)

# Random-hyperplane LSH signatures re-derived in SQL from the persisted
# seed-42 plane matrix (datagen.ensure_hyperplanes) — independent check of
# the numpy-matmul pandas UDF in operators/similarity.py:lsh_signatures.
# plane p contributes bit (p % 4) of band key t = p // 4 (16 tables x 4 bits).
_LSH_SIG_CTE = _EMB_NORM_CTE + f"""
, pl AS (SELECT plane_id, w FROM read_parquet('{DATA}/hyperplanes/*.parquet')),
bits AS (
  SELECT e.vec_id, pl.plane_id,
         CASE WHEN list_sum([CAST(embedding[i] AS DOUBLE) * w[i]
                             FOR i IN range(1, 65)]) > 0
              THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN pl
),
sig AS (
  SELECT vec_id, CAST(plane_id // 4 AS INT) AS t,
         CAST(sum(bit << CAST(plane_id % 4 AS INT)) AS BIGINT) AS key
  FROM bits GROUP BY 1, 2
)
"""


def _mm_meta_sql() -> str:
    from logport_spark.operators.multimodal import MAGIC

    cases = " ".join(
        f"WHEN substr(hex(html), 1, {len(m) * 2}) = '{m.hex().upper()}' THEN '{name}'"
        for m, name in MAGIC.items()
    )
    return f"""
        SELECT url, octet_length(html) AS byte_len,
               substr(hex(html), 1, 16) AS magic_hex,
               CASE {cases} ELSE 'bin' END AS sniffed_type,
               NOT contains(hex(html), 'FFFE') AS is_utf8
        FROM {_PAGES}
    """


def _mm_features_sql() -> str:
    """Independent re-derivation of the fake decoder (multimodal.py:58,86)
    in pure SQL: byte values parsed out of hex(html). width/height come from
    the sum of the first 16 bytes; f0..f7 are sum(payload[i::8]) % 997."""
    hexd = "'0123456789ABCDEF'"
    # 0-based byte j of the blob -> integer value, via its two hex digits
    byte = ("((strpos({hd}, substr(hx, 2*{j}+1, 1)) - 1) * 16"
            " + (strpos({hd}, substr(hx, 2*{j}+2, 1)) - 1))")
    head16 = ("list_sum([CASE WHEN j < n THEN "
              + byte.format(hd=hexd, j="j")
              + " ELSE 0 END FOR j IN range(0, 16)])")
    feats = ",\n               ".join(
        "CAST(coalesce(list_sum(["
        + byte.format(hd=hexd, j="j")
        + f" FOR j IN range({i}, n, 8)]), 0) % 997 AS BIGINT) AS f{i}"
        for i in range(8)
    )
    return f"""
        WITH p AS (
          SELECT url, hex(html) AS hx, coalesce(octet_length(html), 0) AS n
          FROM {_PAGES}
        ), b AS (
          SELECT url, n, coalesce({head16}, 0) AS h,
               {feats}
          FROM p
        )
        SELECT url,
               CAST(16 + h % 64 AS INT) AS width,
               CAST(16 + (h // 64) % 64 AS INT) AS height,
               CAST(1 + n % 4 AS INT) AS frames,
               f0, f1, f2, f3, f4, f5, f6, f7
        FROM b
    """


def _mm_phash_sql() -> str:
    """Independent re-derivation of phash60's byte-probe fake
    (multimodal.py:phash60): bit i is (byte at floor(i*n/60)) >= 128,
    bytes parsed out of hex(html) with the strpos hex-digit idiom; the
    60 disjoint powers sum into a positive BIGINT."""
    hexd = "'0123456789ABCDEF'"
    byte = ("((strpos({hd}, substr(hx, 2*((i*n)//60)+1, 1)) - 1) * 16"
            " + (strpos({hd}, substr(hx, 2*((i*n)//60)+2, 1)) - 1))").format(
        hd=hexd)
    return f"""
        WITH p AS (
          SELECT url, hex(html) AS hx, coalesce(octet_length(html), 0) AS n
          FROM {_PAGES}
        )
        SELECT url,
               CAST(coalesce(list_sum([
                 CASE WHEN n > 0 AND {byte} >= 128
                      THEN 1::BIGINT << i ELSE 0::BIGINT END
                 FOR i IN range(0, 60)]), 0) AS BIGINT) AS phash
        FROM p
    """


def _hybrid_rrf_sql(k: int = 10, k_leg: int = 20, kc: int = 60,
                    max_terms: int = 25) -> str:
    """Replay both legs: the MoreLikeThis term selection (probe tf x
    corpus df -> top max_terms by rounded tf*idf, term tie-break), the
    bm25 oracle's CTE chain over the PRUNED query terms (rnk <= k_leg+1
    with self, then self-drop + re-rank, exactly the operator's order of
    operations), the ann_topk oracle's cosine ranking at k_leg, then the
    identical two-term RRF (exact-int reciprocals, fixed add order,
    round 6dp) and the fused total order."""
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            n AS (SELECT vec_id,
                    sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nm
                  FROM e),
            qd AS (SELECT doc_id AS query_id, text FROM documents
                   WHERE doc_id IN ({ids})),
            t AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> length(x) > 0) AS toks
                  FROM documents),
            qtf AS (SELECT query_id, tok, count(*) AS tf FROM (
                      SELECT query_id,
                             unnest(list_filter(string_split(text, ' '),
                                                x -> length(x) > 0)) AS tok
                      FROM qd) GROUP BY 1, 2),
            dfq AS (SELECT tok, count(DISTINCT doc_id) AS df
                    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
                    WHERE tok IN (SELECT tok FROM qtf)
                    GROUP BY 1),
            nd AS (SELECT count(*) AS n_docs FROM t),
            sel AS (SELECT query_id, tok, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY round(tf * ln((nd.n_docs - coalesce(df, 0)
                                                + 0.5)
                                               / (coalesce(df, 0) + 0.5)
                                               + 1.0), 4) DESC,
                                 tok ASC) AS r
                    FROM qtf LEFT JOIN dfq USING (tok), nd),
            qt AS (SELECT query_id, tok FROM sel WHERE r <= {max_terms}),
            l AS (SELECT doc_id, len(toks) AS dl FROM t),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM l),
            tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            post AS (SELECT p.doc_id, p.tok, count(*) AS tf
                     FROM tok p
                     JOIN (SELECT DISTINCT tok FROM qt) v USING (tok)
                     GROUP BY 1, 2),
            dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY 1),
            idf AS (SELECT tok,
                           ln((st.n_docs - df + 0.5) / (df + 0.5) + 1.0)
                               AS idf
                    FROM dfreq, st),
            contrib AS (
              SELECT qt.query_id, post.doc_id,
                     idf.idf * post.tf * (1.2 + 1.0)
                     / (post.tf
                        + 1.2 * (1 - 0.75 + 0.75 * l.dl / st.avgdl)) AS w
              FROM post JOIN qt USING (tok) JOIN idf USING (tok)
              JOIN l ON l.doc_id = post.doc_id, st),
            sc AS (SELECT query_id, doc_id, round(sum(w), 4) AS score
                   FROM contrib GROUP BY 1, 2),
            r0 AS (SELECT query_id, doc_id, score,
                          row_number() OVER (
                              PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rnk
                   FROM sc),
            lex AS (SELECT query_id, doc_id, r_lex FROM (
                      SELECT query_id, doc_id,
                             row_number() OVER (
                                 PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS r_lex
                      FROM r0 WHERE rnk <= {k_leg + 1}
                        AND doc_id != query_id)
                    WHERE r_lex <= {k_leg}),
            dsc AS (
              SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
                     {_DOT64.format(a='q.embedding', b='e.embedding')}
                       / (nq.nm * ne.nm) AS cos
              FROM (SELECT * FROM e WHERE vec_id IN ({ids})) q
              JOIN e ON e.vec_id != q.vec_id
              JOIN n nq ON nq.vec_id = q.vec_id
              JOIN n ne ON ne.vec_id = e.vec_id),
            dn AS (SELECT query_id, doc_id, r_dense FROM (
                     SELECT query_id, doc_id,
                            row_number() OVER (
                                PARTITION BY query_id
                                ORDER BY cos DESC, doc_id ASC) AS r_dense
                     FROM dsc)
                   WHERE r_dense <= {k_leg}),
            f AS (SELECT query_id, doc_id, lex.r_lex, dn.r_dense
                  FROM lex FULL JOIN dn USING (query_id, doc_id)),
            s AS (SELECT query_id, doc_id,
                         round(coalesce(1.0 / ({kc} + r_lex), 0.0)
                               + coalesce(1.0 / ({kc} + r_dense), 0.0), 6)
                             AS rrf,
                         CAST(coalesce(r_lex, 0) AS INT) AS r_lex,
                         CAST(coalesce(r_dense, 0) AS INT) AS r_dense
                  FROM f)
            SELECT query_id, rnk, doc_id, rrf, r_lex, r_dense FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY rrf DESC, doc_id ASC) AS rnk
              FROM s)
            WHERE rnk <= {k}
        """


def _embed_docs_sql(dim: int = 64) -> str:
    """Re-derive embed_docs in SQL: md5-digit bucket, per-(doc, dim)
    counts, L2 norm from exact-int squares, round(c/nm, 6)."""
    md5v = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1)"
        f" * {16 ** (3 - j)}" for j in range(4))
    return f"""
        WITH tk AS (SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              x -> length(x) > 0)) AS tok
                    FROM documents),
        tb AS (SELECT doc_id, ({md5v}) % {dim} AS dim_id FROM tk),
        c AS (SELECT doc_id, dim_id, count(*) AS c FROM tb GROUP BY 1, 2),
        n AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nm
              FROM c GROUP BY 1)
        SELECT c.doc_id, CAST(dim_id AS BIGINT) AS dim_id,
               round(c / nm, 6) AS val
        FROM c JOIN n USING (doc_id)
    """


def _text_near_pairs_sql(dim: int = 64, threshold: float = 0.8) -> str:
    """embed_docs' oracle CTEs feeding the sparse self-join: per-pair
    cosine = sum of shared-dimension products of the 6dp-rounded unit
    components, thresholded on the rounded 4dp score."""
    md5v = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1)"
        f" * {16 ** (3 - j)}" for j in range(4))
    return f"""
        WITH tk AS (SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              x -> length(x) > 0)) AS tok
                    FROM documents),
        tb AS (SELECT doc_id, ({md5v}) % {dim} AS dim_id FROM tk),
        c AS (SELECT doc_id, dim_id, count(*) AS c FROM tb GROUP BY 1, 2),
        n AS (SELECT doc_id, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nm
              FROM c GROUP BY 1),
        v AS (SELECT c.doc_id, dim_id, round(c / nm, 6) AS val
              FROM c JOIN n USING (doc_id)),
        p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                     round(sum(a.val * b.val), 4) AS cos
              FROM v a JOIN v b
                ON a.dim_id = b.dim_id AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT d1, d2, cos FROM p WHERE cos >= {threshold}
    """


def _caption_filter_sql(tau: float = 0.35, n_feat: int = 8) -> str:
    """Re-derive caption_alignment in SQL: image ints k0..k7 via the
    mm_features hex idiom, caption counts via md5-digit bucket sums, then
    the identical pure-double cosine (exact-integer dot/norms, one sqrt,
    one divide, round 4dp) and the kept cut on the ROUNDED score."""
    hexd = "'0123456789ABCDEF'"
    byte = ("((strpos({hd}, substr(hx, 2*{j}+1, 1)) - 1) * 16"
            " + (strpos({hd}, substr(hx, 2*{j}+2, 1)) - 1))")
    ks = ",\n                 ".join(
        "CAST(coalesce(list_sum(["
        + byte.format(hd=hexd, j="j")
        + f" FOR j IN range({i}, n, {n_feat})]), 0) % 997 AS BIGINT) AS k{i}"
        for i in range(n_feat))
    md5v = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(tok), {j + 1}, 1)) - 1)"
        f" * {16 ** (3 - j)}" for j in range(4))
    cs = ", ".join(
        f"CAST(coalesce(sum(CASE WHEN b = {i} THEN 1 ELSE 0 END), 0)"
        f" AS BIGINT) AS c{i}" for i in range(n_feat))
    dot = " + ".join(
        f"CAST(k{i} * coalesce(c{i}, 0) AS DOUBLE)" for i in range(n_feat))
    na2 = " + ".join(f"CAST(k{i} * k{i} AS DOUBLE)" for i in range(n_feat))
    nb2 = " + ".join(
        f"CAST(coalesce(c{i}, 0) * coalesce(c{i}, 0) AS DOUBLE)"
        for i in range(n_feat))
    return f"""
        WITH p AS (
          SELECT url, hex(html) AS hx, coalesce(octet_length(html), 0) AS n
          FROM {_PAGES}
        ), img AS (
          SELECT url, {ks}
          FROM p
        ), tk AS (
          SELECT url, unnest(list_filter(string_split(text, ' '),
                                         t -> length(t) > 0)) AS tok
          FROM {_PAGES}
        ), tb AS (
          SELECT url, ({md5v}) % {n_feat} AS b FROM tk
        ), cap AS (
          SELECT url, {cs} FROM tb GROUP BY url
        ), sc AS (
          SELECT i.url,
                 CASE WHEN sqrt({na2}) > 0 AND sqrt({nb2}) > 0
                      THEN round(({dot}) / (sqrt({na2}) * sqrt({nb2})), 4)
                      ELSE 0.0::DOUBLE END AS align_score
          FROM img i LEFT JOIN cap c USING (url)
        )
        SELECT url, align_score, align_score >= {tau} AS kept FROM sc
    """


def _mm_resize_sql() -> str:
    """Resize oracle: fake-decode dims from the first-16-byte sum, the same
    clamp arithmetic (trunc ≙ Python int()), byte window via substring."""
    hexd = "'0123456789ABCDEF'"
    byte = ("((strpos({hd}, substr(hx, 2*{j}+1, 1)) - 1) * 16"
            " + (strpos({hd}, substr(hx, 2*{j}+2, 1)) - 1))")
    head16 = ("list_sum([CASE WHEN j < n THEN "
              + byte.format(hd=hexd, j="j")
              + " ELSE 0 END FOR j IN range(0, 16)])")
    return f"""
        WITH p AS (
          SELECT url, html, hex(html) AS hx,
                 coalesce(octet_length(html), 0) AS n
          FROM {_PAGES}
        ), d AS (
          SELECT url, html, coalesce({head16}, 0) AS h FROM p
        ), wh AS (
          SELECT url, html,
                 16 + h % 64 AS w, 16 + (h // 64) % 64 AS hg
          FROM d
        ), s AS (
          SELECT url, html, w, hg,
                 least(1.0, 32.0 / greatest(w, hg, 1)) AS scale
          FROM wh
        )
        SELECT url, CAST(w AS INT) AS width, CAST(hg AS INT) AS height,
               CAST(greatest(1, trunc(w * scale)) AS INT) AS out_w,
               CAST(greatest(1, trunc(hg * scale)) AS INT) AS out_h,
               substr(hex(html), 1,
                   2 * CAST(greatest(1, trunc(w * scale)) AS INT)
                     * CAST(greatest(1, trunc(hg * scale)) AS INT)) AS resized_hex
        FROM s
    """


def _mm_frames_sql() -> str:
    """Frame-sampling oracle: n frames from octet_length, every-2 selection
    via generate_series, frame windows via substring."""
    return f"""
        WITH p AS (
          SELECT url, hex(html) AS hx,
                 coalesce(octet_length(html), 0) AS nb,
                 1 + coalesce(octet_length(html), 0) % 4 AS nf
          FROM {_PAGES}
        )
        SELECT url, CAST(nf AS INT) AS frames, CAST(i AS INT) AS frame_idx,
               substr(hx, 2 * CAST(i AS INT) * greatest(1, nb // nf) + 1,
                      2 * greatest(1, nb // nf)) AS frame_hex
        FROM p, unnest(range(0, nf, 2)) AS r(i)
    """


def _oracle_registry() -> dict[str, str]:
    return {
        "lp_parse_lines": _LINES_CTE + "SELECT url, line_no, line FROM lines",
        "lp_enrich": f"""
            WITH pages AS (
              SELECT url, lang,
                     split_part(split_part(url, '://', 2), '/', 1) AS domain
              FROM {_PAGES}
            )
            SELECT p.url, p.domain, dt.tld, dt.category, p.lang, ll.locale, r.sink
            FROM pages p
            LEFT JOIN {_DOMAIN_TLD} dt USING (domain)
            LEFT JOIN {_LANG_LOCALE} ll USING (lang)
            LEFT JOIN {_ROUTES} r ON r.route_key = coalesce(dt.category, '__default__')
        """,
        "lp_envelope": _LINES_CTE + _ENRICHED_CTE + f"""
            SELECT url, line_no, {_ENVELOPE_EXPR} AS record,
                   ({_PARSE_FAIL_EXPR}) AS parse_fail, sink
            FROM enriched
        """,
        "lp_sink_metrics": _LINES_CTE + _ENRICHED_CTE + f"""
            SELECT sink,
                   count(*) AS rows_routed,
                   CAST(sum(strlen({_ENVELOPE_EXPR}) + 1) AS BIGINT)
                       AS bytes_shipped,
                   CAST(sum(CASE WHEN {_PARSE_FAIL_EXPR} THEN 1 ELSE 0 END)
                        AS BIGINT) AS parse_failures
            FROM enriched GROUP BY sink
        """,
        "lp_quarantine": _LINES_CTE + f"""
            SELECT url, line_no, line AS raw,
                   'json_parse_failure' AS reason
            FROM lines WHERE {_PARSE_FAIL_EXPR}
        """,
        "lp_resume_anti_join": f"""
            SELECT b.url, b.bucket
            FROM read_parquet('{DATA}/url_buckets_sf0.01/*.parquet') b
            WHERE NOT EXISTS (
              SELECT 1 FROM read_parquet('{DATA}/ledger_fixture/*.parquet') lg
              WHERE lg.status = 'committed' AND lg.bucket = b.bucket
            )
        """,
        "lp_replay_union": f"""
            WITH split AS (
              SELECT url, warc_ts, lang, string_split(text, chr(10)) AS parts
              FROM {_PAGES}
            ), numbered AS (
              SELECT url, warc_ts, lang,
                     unnest(generate_series(1, len(parts))) AS line_no,
                     unnest(parts) AS line
              FROM split
            ), live AS (
              SELECT url, warc_ts, lang, CAST(line_no AS INT) AS line_no, line
              FROM numbered WHERE length(line) > 0
            ), lines AS (
              SELECT url, warc_ts, lang, CAST(line_no AS INT) AS line_no,
                     raw AS line
              FROM read_parquet('{DATA}/deadletter/*.parquet')
              UNION ALL
              SELECT url, warc_ts, lang, line_no, line FROM live
            )
            {_ENRICHED_CTE}
            SELECT url, line_no, {_ENVELOPE_EXPR} AS record,
                   ({_PARSE_FAIL_EXPR}) AS parse_fail, sink
            FROM enriched
        """,
        "lp_url_parse": f"""
            SELECT url,
                   split_part(url, '://', 1) AS scheme,
                   split_part(split_part(url, '://', 2), '/', 1) AS host,
                   regexp_extract(url, '^[a-z]+://[^/]+(/.*)$', 1) AS path
            FROM {_PAGES}
        """,
        "lp_grok_access": _LINES_CTE + _GROK_ACCESS_SQL,
        "lp_grok_summary": _LINES_CTE + _GROK_SUMMARY_SQL,
        "lp_conn_templates": _CONN_TEMPLATES_SQL,
        "lp_http_batches": _LINES_CTE + _ENRICHED_CTE + _HTTP_BATCHES_SQL,
        "lp_observer_lines": _LINES_CTE + f"""
            SELECT url, line_no, {_observer_entry_expr()} AS entry
            FROM lines
        """,
        "q3_top_unshipped": """
            SELECT o_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1995-03-15'
              AND l_shipdate > DATE '1995-03-15'
            GROUP BY 1, 2
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q5_regional_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1997-01-01'
            GROUP BY n_name
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= DATE '1995-01-01'
              AND o_orderdate < DATE '1995-07-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate
              )
            GROUP BY o_orderpriority
        """,
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= DATE '1995-01-01'
              AND l_shipdate < DATE '1996-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q14_promo_revenue": """
            SELECT
              round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                       THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                    / sum(l_extendedprice * (1 - l_discount)), 4)
                AS promo_revenue_pct,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= DATE '1995-09-01'
              AND l_shipdate < DATE '1995-10-01'
        """,
        "q17_small_qty_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
            FROM lineitem l
            WHERE l.l_quantity < (
              SELECT 0.2 * avg(l2.l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
            )
        """,
        "top3_orders_per_cust": """
            SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
              FROM orders
            ) WHERE rn <= 3
        """,
        "cust_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice > 300000)
        """,
        "nations_with_customers": """
            SELECT n_nationkey, n_name FROM nation n
            WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)
        """,
        "cust_minus_supp_nations": """
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey AS nationkey FROM supplier
            WHERE s_acctbal > 8000
        """,
        "rollup_pricing": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty, count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "sessionize_events": """
            WITH x AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN prev IS NULL
                                 OR date_diff('second', prev, ts) > 1800
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM x GROUP BY user_id
        """,
        "corpus_clean": _corpus_clean_sql(),
        "sql_signup_funnel": _FUNNEL_SQL,
        "error_click_pairs": """
            SELECT e.user_id, e.event_id AS error_event,
                   c.event_id AS click_event,
                   round(epoch(c.ts) - epoch(e.ts), 6) AS delta_sec
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id
             AND abs(epoch(c.ts) - epoch(e.ts)) <= 3600
        """,
        "daily_running_revenue": """
            WITH daily AS (
              SELECT CAST(o_orderdate AS DATE) AS day,
                     round(sum(o_totalprice), 4) AS day_rev
              FROM orders GROUP BY 1
            )
            SELECT day, day_rev,
                   round(sum(day_rev) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                     AS cum_rev
            FROM daily
        """,
        "event_value_quantiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   round(avg(value), 4) AS mean_value,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "asof_purchase_click": """
            SELECT l.user_id,
                   l.event_id AS purchase_event,
                   l.ts AS purchase_ts,
                   r.event_id AS click_event,
                   r.ts AS click_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "events_distinct_stats": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                       AS n_active_days,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY event_type
        """,
        "text_quality": _quality_sql(),
        "lang_id": _lang_id_sql(),
        "token_stats": r"""
            SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                       AS bpe_tokens
            FROM documents
        """,
        "doc_fingerprint": """
            WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks
                       FROM documents),
            s AS (SELECT doc_id, text,
                    [array_to_string(toks[i:i+4],' ')
                     FOR i IN range(1, greatest(len(toks)-4,0)+1)] AS sh
                  FROM t)
            SELECT doc_id,
                   coalesce(list_min(list_transform(sh, x -> md5(x))), md5(text))
                       AS fingerprint,
                   len(sh) AS n_shingles
            FROM s
        """,
        "doc_winnow": """
            WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks
                       FROM documents),
            g AS (SELECT doc_id,
                    CASE WHEN len(toks) >= 4 THEN
                      [md5(array_to_string(toks[i:i+3],' '))
                       FOR i IN range(1, len(toks)-4+2)]
                    ELSE [md5(text)] END AS grams
                  FROM t),
            s AS (SELECT doc_id,
                    list_distinct(
                      [list_min(grams[j:j+least(5,len(grams))-1])
                       FOR j IN range(1, greatest(len(grams)-5+1,1)+1)]) AS sel
                  FROM g)
            SELECT doc_id, CAST(len(sel) AS INT) AS n_fp,
                   md5(array_to_string(list_sort(sel), '')) AS fp_digest
            FROM s
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        # MinHash+LSH must reproduce the exact high-threshold pair set —
        # same oracle as the exact-Jaccard op (LSH adds no false negatives
        # at J≥0.9 with 16 bands × 4 rows; verified in pytest)
        "dedup_minhash_pairs": _JACCARD_PAIRS_SQL,
        # transitive closure of the SAME pair graph: a recursive CTE walks
        # min-reachable-id, which is exactly what the Spark min-label
        # propagation converges to
        "dedup_clusters": _SHINGLE3_CTE.replace(
            "WITH t AS", "WITH RECURSIVE t AS", 1) + """
            , jp AS (
              SELECT d1, d2 FROM pairs
              JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
              WHERE common * 1.0 / (s1.n + s2.n - common) >= 0.8),
            e AS (SELECT d1 AS src, d2 AS dst FROM jp
                  UNION ALL SELECT d2, d1 FROM jp),
            walk(node, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT w.node, e.dst FROM walk w JOIN e ON e.src = w.lbl)
            SELECT node AS doc_id, min(lbl) AS cluster_id
            FROM walk GROUP BY node
        """,
        "dedup_simhash_pairs": _SIMHASH_CTE + """
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "embedding_lsh_pairs": _LSH_SIG_CTE + f"""
            , cand AS (
              SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
              FROM sig a JOIN sig b
                ON a.t = b.t AND a.key = b.key AND a.vec_id < b.vec_id)
            SELECT d1, d2,
                   round({_DOT64.format(a='e1.embedding', b='e2.embedding')}
                         / (n1.nm * n2.nm), 4) AS cos
            FROM cand
            JOIN e e1 ON e1.vec_id = d1 JOIN e e2 ON e2.vec_id = d2
            JOIN n n1 ON n1.vec_id = d1 JOIN n n2 ON n2.vec_id = d2
            WHERE {_DOT64.format(a='e1.embedding', b='e2.embedding')}
                  / (n1.nm * n2.nm) >= 0.44
        """,
        "ann_lsh_topk": _LSH_SIG_CTE + f"""
            , q AS (SELECT vec_id AS query_id, t, key FROM sig
                    WHERE vec_id IN ({', '.join(str(i) for i in ANN_QUERY_IDS)})),
            cand AS (
              SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
              FROM sig s JOIN q ON s.t = q.t AND s.key = q.key
              WHERE s.vec_id <> q.query_id),
            sc AS (
              SELECT c.query_id, c.neighbor_id,
                     {_DOT64.format(a='eq.embedding', b='en.embedding')}
                       / (nq.nm * nn.nm) AS cos
              FROM cand c
              JOIN e eq ON eq.vec_id = c.query_id
              JOIN e en ON en.vec_id = c.neighbor_id
              JOIN n nq ON nq.vec_id = c.query_id
              JOIN n nn ON nn.vec_id = c.neighbor_id)
            SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              FROM sc)
            WHERE rank <= 10
        """,
        "ann_ivf_topk": _EMB_NORM_CTE + f"""
            , c AS (SELECT vec_id AS cid, embedding AS cv FROM e
                    ORDER BY vec_id LIMIT 16),
            sc AS (
              SELECT e.vec_id, c.cid,
                     {_DOT64.format(a='e.embedding', b='c.cv')}
                       / sqrt(list_sum(list_transform(c.cv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS s
              FROM e CROSS JOIN c),
            mx AS (SELECT vec_id, cid, s,
                          max(s) OVER (PARTITION BY vec_id) AS m FROM sc),
            cells AS (SELECT vec_id, min(cid) AS cell
                      FROM mx WHERE s = m GROUP BY vec_id),
            qp AS (
              SELECT query_id, cell FROM (
                SELECT sc.vec_id AS query_id, sc.cid AS cell, sc.s,
                       row_number() OVER (PARTITION BY sc.vec_id
                                          ORDER BY sc.s DESC, sc.cid) AS r
                FROM sc
                WHERE sc.vec_id IN ({', '.join(str(i) for i in ANN_QUERY_IDS)}))
              WHERE r <= 4),
            cand AS (
              SELECT DISTINCT qp.query_id, cells.vec_id AS neighbor_id
              FROM cells JOIN qp ON cells.cell = qp.cell
              WHERE cells.vec_id <> qp.query_id),
            rr AS (
              SELECT cd.query_id, cd.neighbor_id,
                     {_DOT64.format(a='eq.embedding', b='en.embedding')}
                       / (nq.nm * nn.nm) AS cos
              FROM cand cd
              JOIN e eq ON eq.vec_id = cd.query_id
              JOIN e en ON en.vec_id = cd.neighbor_id
              JOIN n nq ON nq.vec_id = cd.query_id
              JOIN n nn ON nn.vec_id = cd.neighbor_id)
            SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              FROM rr)
            WHERE rank <= 10
        """,
        "mm_binary_meta": _mm_meta_sql(),
        "mm_features": _mm_features_sql(),
        "mm_resize": _mm_resize_sql(),
        "mm_frames": _mm_frames_sql(),
    }


def _canon_url_steps_sql(src_cte: str) -> str:
    """The canonical_url regex chain as stepwise CTEs — the SAME RE2-safe
    patterns the Spark column runs, DuckDB dialect ('g' flag = Spark's
    replace-all default, \\1 backrefs = $1)."""
    return f"""
        , s1 AS (SELECT *, regexp_replace(url, '#.*', '', 'g') AS c FROM {src_cte})
        , s2 AS (SELECT * REPLACE (regexp_replace(c,
            '([?&])(?:utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*',
            '\\1', 'g') AS c) FROM s1)
        , s3 AS (SELECT * REPLACE (regexp_replace(c, '[?&]+$', '', 'g') AS c) FROM s2)
        , s4 AS (SELECT * REPLACE (regexp_replace(c, '([?&])&+', '\\1', 'g') AS c) FROM s3)
        , s5 AS (SELECT * REPLACE (
            lower(regexp_extract(c, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*'))
            || regexp_replace(c, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS c) FROM s4)
        , canon AS (SELECT * REPLACE (regexp_replace(c,
            '^(https?://[^/?#:]+):(?:80|443)([/?#]|$)', '\\1\\2', 'g') AS c) FROM s5)
    """


_HEX8 = " + ".join(
    f"(strpos('0123456789abcdef', substr({{h}}, {j + 1}, 1)) - 1)"
    f" * {16 ** (7 - j)}" for j in range(8))

# Bloom probe positions (dedup.py:bloom_build parity): probe i reads hex
# digits [8i+1, 8i+8] of ONE md5(sh) digest — the same digit arithmetic
# as _HEX8 over the digest slice
_BLOOM_POS0 = ("((" + _HEX8.format(h="substr(md5(sh), 1, 8)")
               + f") % {_BLOOM_M_WORDS * 32})")
_BLOOM_POS1 = ("((" + _HEX8.format(h="substr(md5(sh), 9, 8)")
               + f") % {_BLOOM_M_WORDS * 32})")

# 15-hex-digit (60-bit) md5-prefix digest — export_manifest's per-doc
# summand; coefficients are exact BIGINT literals (max term < 2^60)
_HEX15 = " + ".join(
    f"(strpos('0123456789abcdef', substr({{h}}, {j + 1}, 1)) - 1)"
    f" * {16 ** (14 - j)}" for j in range(15))


# Link-graph oracles share one extraction pyramid: utf8-gate (html_policy's
# blob-escape trick) -> lockstep-unnest the two capture groups of the
# IDENTICAL RE2-safe anchor pattern -> domain parse -> external edges ->
# (src_domain, dst_domain) aggregate. Mirrors operators/linkgraph.py 1:1.
_ANCHOR_RE_SQL = '<a[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'
_URLDOM_RE_SQL = "^[a-z][a-z0-9+.-]*://([^/:?#]+)"
_LINKS_CTE = f"""
WITH v AS (
  SELECT url,
    CASE WHEN NOT regexp_matches(try_cast(html AS VARCHAR),
                                 '\\\\x[89A-F][0-9A-F]')
         THEN decode(html) END AS s
  FROM {{pages}}),
l0 AS (
  SELECT url AS src_url,
         regexp_extract(url, '{_URLDOM_RE_SQL}', 1) AS src_domain,
         unnest(regexp_extract_all(s, '{_ANCHOR_RE_SQL}', 1)) AS dst_url,
         unnest(regexp_extract_all(s, '{_ANCHOR_RE_SQL}', 2)) AS anchor
  FROM v WHERE s IS NOT NULL),
links AS (
  SELECT src_url, src_domain, dst_url,
         regexp_extract(dst_url, '{_URLDOM_RE_SQL}', 1) AS dst_domain,
         anchor
  FROM l0),
ext AS (SELECT * FROM links
        WHERE dst_domain <> '' AND dst_domain <> src_domain),
g AS (SELECT src_domain, dst_domain,
             count(*) AS n_links,
             count(DISTINCT src_url) AS n_src_pages
      FROM ext GROUP BY 1, 2)
"""


def _bpe_training_blocks(merges: int) -> str:
    """The shared CTE chain that replays bpe_train's merge loop (used by
    both the train and encode oracles): per round i, pair count p{i},
    argmax b{i}, needle columns bb{i}, and the recursive greedy fold
    producing the next symbol table s{i}."""
    blocks, prev = [], "s0"
    for i in range(1, merges + 1):
        # bb{i} rides the chosen pair as COLUMNS into the recursion (a
        # per-row scalar subquery re-evaluates b{i}'s aggregate — measured
        # 30x slower), and only words CONTAINING the pair enter the fold
        # (the ' A  B ' needle over a double-space join is exact adjacency
        # since symbols are space-free; fold without a match = identity) —
        # 48.5s -> 1.6s at sf0.01, bit-identical output.
        blocks.append(f"""
p{i} AS (SELECT syms[j] || ' ' || syms[j + 1] AS pair, sum(c) AS cnt
         FROM {prev}, UNNEST(range(1, len(syms))) t(j) GROUP BY 1),
b{i} AS (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair ASC LIMIT 1),
bb{i} AS (SELECT split_part(pair, ' ', 1) AS pa,
                 split_part(pair, ' ', 2) AS pb,
                 replace(pair, ' ', '') AS pt,
                 ' ' || replace(pair, ' ', '  ') || ' ' AS needle
          FROM b{i}),
hit{i} AS (SELECT s.syms, s.c, b.pa, b.pb, b.pt
           FROM {prev} s, bb{i} b
           WHERE contains(' ' || array_to_string(s.syms, '  ') || ' ',
                          b.needle)),
f{i} AS (
  SELECT syms, c, pa, pb, pt, 1 AS idx, []::VARCHAR[] AS acc FROM hit{i}
  UNION ALL
  SELECT syms, c, pa, pb, pt, idx + 1,
    CASE WHEN len(acc) > 0 AND acc[len(acc)] = pa AND syms[idx] = pb
         THEN acc[1:len(acc) - 1] || [pt]
         ELSE acc || [syms[idx]] END
  FROM f{i} WHERE idx <= len(syms)),
s{i} AS (SELECT acc AS syms, c FROM f{i} WHERE idx = len(syms) + 1
         UNION ALL
         SELECT s.syms, s.c FROM {prev} s, bb{i} b
         WHERE NOT contains(' ' || array_to_string(s.syms, '  ') || ' ',
                            b.needle))""")
        prev = f"s{i}"
    return ",".join(blocks)


def _bpe_train_oracle(docs: str = "documents", merges: int = 4) -> str:
    """Unroll bpe_train's merge loop into chained CTEs: per round, a pair
    count + (cnt desc, pair asc) argmax, then a recursive-CTE fold that
    replays textstats._merge_pair's greedy left-to-right within-word scan
    symbol by symbol — so all `merges` learned rows (pair, cnt, token)
    are hash-exact against the distributed loop, not approximately
    similar. Identical word/char splitting as the Spark side (space
    tokens, character symbols)."""
    steps = "\n            UNION ALL ".join(
        f"SELECT {i} AS step, pair, CAST(cnt AS BIGINT) AS cnt, "
        f"replace(pair, ' ', '') AS token FROM b{i}"
        for i in range(1, merges + 1))
    return f"""
            WITH RECURSIVE
            tok AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM {docs}),
            wc AS (SELECT w, count(*) AS c FROM tok
                   WHERE length(w) > 0 GROUP BY 1),
            s0 AS (SELECT string_split(w, '') AS syms, c FROM wc),{_bpe_training_blocks(merges)}
            SELECT * FROM ({steps}) ORDER BY step
        """


def _bpe_encode_oracle(docs: str = "documents", merges: int = 4,
                       head: int = 12) -> str:
    """Replay bpe_train's rounds (the shared block chain, yielding the
    needle/replacement columns bb1..bb{n}), then apply them to every doc
    with the IDENTICAL padded-string replace chain the engine uses
    (textstats.bpe_apply): both engines run literal left-to-right
    non-overlapping replace over the same padded text, so the encoded
    piece stream is hash-exact by construction."""
    pad = f"' ' || array_to_string(string_split(text, ''), '  ') || ' '"
    for i in range(1, merges + 1):
        pad = f"replace({pad}, b{i}.needle, ' ' || b{i}.pt || ' ')"
    joins = ", ".join(f"bb{i} b{i}" for i in range(1, merges + 1))
    return f"""
            WITH RECURSIVE
            tok AS (SELECT unnest(string_split(text, ' ')) AS w
                    FROM {docs}),
            wc AS (SELECT w, count(*) AS c FROM tok
                   WHERE length(w) > 0 GROUP BY 1),
            s0 AS (SELECT string_split(w, '') AS syms, c FROM wc),{_bpe_training_blocks(merges)},
            enc AS (
              SELECT doc_id,
                     len(list_filter(string_split(text, ' '),
                                     w -> length(w) > 0)) AS n_words,
                     {pad} AS padded
              FROM {docs}, {joins}),
            ep AS (SELECT doc_id, n_words,
                          string_split_regex(trim(padded), ' {{2,}}') AS pieces
                   FROM enc WHERE n_words >= 1)
            SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
                   CAST(len(pieces) AS BIGINT) AS n_pieces,
                   array_to_string(pieces[1:{head}], ' ') AS head_pieces
            FROM ep
        """


def _quality_lr_oracle(docs: str = "documents", steps: int = 3,
                       lr: float = 1.0, final: str = "trace") -> str:
    """Unroll quality_lr_train's gradient-descent loop into chained CTEs
    with the IDENTICAL per-step arithmetic: features rounded to 4dp (both
    engines train on the same rationals), sigmoid/log-loss gradient sums,
    weight state re-quantized to 8dp after every update (per-step engine
    divergence ~1e-13 << the 0.5e-8 quantum, so the state stays
    bit-identical into each step). Literals cast to DOUBLE so DuckDB's
    decimal arithmetic doesn't diverge from IEEE (the pagerank lesson)."""
    from logport_spark.operators.textstats import STOPWORDS

    blocks = []
    for i in range(1, steps + 1):
        s = f"st{i - 1}"
        blocks.append(f"""
gr{i} AS (SELECT count(*) AS n,
               sum(p - y) AS g0, sum((p - y) * x1) AS g1,
               sum((p - y) * x2) AS g2, sum((p - y) * x3) AS g3,
               sum(-(y * ln(p) + (1.0::DOUBLE - y)
                     * ln(1.0::DOUBLE - p))) AS l
        FROM (SELECT f.*,
                     1.0::DOUBLE / (1.0::DOUBLE + exp(-(s.wb + s.ws * f.x1
                        + s.wa * f.x2 + s.wl * f.x3))) AS p
              FROM f, {s} s)),
st{i} AS (SELECT round(s.wb - {lr}::DOUBLE * g.g0 / g.n, 8) AS wb,
               round(s.ws - {lr}::DOUBLE * g.g1 / g.n, 8) AS ws,
               round(s.wa - {lr}::DOUBLE * g.g2 / g.n, 8) AS wa,
               round(s.wl - {lr}::DOUBLE * g.g3 / g.n, 8) AS wl
        FROM {s} s, gr{i} g)""")
    if final == "curve":
        # PR sweep: same bit-identical z, one literal-double cut per grid
        # point (textstats.QUALITY_PR_THRESHOLDS)
        from logport_spark.operators.textstats import QUALITY_PR_THRESHOLDS

        grid = ", ".join(f"({t}::DOUBLE)" for t in QUALITY_PR_THRESHOLDS)
        tail = f"""
            , sc AS (SELECT s.wb + s.ws * f.x1 + s.wa * f.x2
                            + s.wl * f.x3 AS z,
                            CASE WHEN f.y = 1.0 THEN 1 ELSE 0 END AS y1
                     FROM f, st{steps} s),
            g AS (SELECT t.threshold,
                         CASE WHEN z >= t.threshold THEN 1 ELSE 0 END AS pred,
                         y1
                  FROM sc, (VALUES {grid}) t(threshold)),
            cm AS (SELECT threshold,
                          CAST(sum(pred * y1) AS BIGINT) AS tp,
                          CAST(sum(pred * (1 - y1)) AS BIGINT) AS fp,
                          CAST(sum((1 - pred) * y1) AS BIGINT) AS fn,
                          CAST(sum((1 - pred) * (1 - y1)) AS BIGINT) AS tn
                   FROM g GROUP BY 1)
            SELECT threshold, tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0
                        THEN round(tp / (tp + fp), 4) END AS "precision",
                   CASE WHEN tp + fn > 0
                        THEN round(tp / (tp + fn), 4) END AS recall
            FROM cm ORDER BY threshold"""
    elif final == "trace":
        tail = "SELECT * FROM (" + "\n            UNION ALL ".join(
            f"SELECT {i} AS step, s.wb AS w_bias, s.ws AS w_stop, "
            f"s.wa AS w_alpha, s.wl AS w_len, round(g.l / g.n, 4) AS loss_pre "
            f"FROM st{i} s, gr{i} g"
            for i in range(1, steps + 1)) + ") ORDER BY step"
    else:
        # eval: score f with the FINAL weights — z is the identical
        # left-associated multiply-add chain over identically-quantized
        # inputs, so the >= 0 cut matches Spark's bit-for-bit
        tail = f"""
            , sc AS (SELECT CASE WHEN s.wb + s.ws * f.x1 + s.wa * f.x2
                                      + s.wl * f.x3 >= 0.0::DOUBLE
                                 THEN 1 ELSE 0 END AS pred,
                            CASE WHEN f.y = 1.0 THEN 1 ELSE 0 END AS y1
                     FROM f, st{steps} s),
            cm AS (SELECT count(*) AS n,
                          CAST(sum(pred * y1) AS BIGINT) AS tp,
                          CAST(sum(pred * (1 - y1)) AS BIGINT) AS fp,
                          CAST(sum((1 - pred) * y1) AS BIGINT) AS fn,
                          CAST(sum((1 - pred) * (1 - y1)) AS BIGINT) AS tn
                   FROM sc)
            SELECT n, tp, fp, fn, tn,
                   round((tp + tn) / n, 4) AS accuracy,
                   CASE WHEN tp + fp > 0
                        THEN round(tp / (tp + fp), 4) END AS "precision",
                   CASE WHEN tp + fn > 0
                        THEN round(tp / (tp + fn), 4) END AS recall
            FROM cm"""
    return f"""
            WITH base AS (
              SELECT len(string_split(text, ' ')) AS q_tokens,
                     length(text) AS q_chars,
                     len(list_filter(string_split(text, ' '),
                         t -> t IN ({_sql_in(STOPWORDS)}))) AS n_stop,
                     length(text) - length(regexp_replace(text,
                         '[a-zA-Z]', '', 'g')) AS n_alpha,
                     lang
              FROM {docs}),
            f AS (
              SELECT round(least(n_stop * 1.0 / greatest(q_tokens, 1) * 5,
                                 1.0), 4) AS x1,
                     round(n_alpha * 1.0 / greatest(q_chars, 1), 4) AS x2,
                     round(least(q_tokens / 100.0, 1.0), 4) AS x3,
                     CASE WHEN lang = 'en' THEN 1.0::DOUBLE
                          ELSE 0.0::DOUBLE END AS y
              FROM base),
            st0 AS (SELECT 0.0::DOUBLE AS wb, 0.0::DOUBLE AS ws,
                           0.0::DOUBLE AS wa, 0.0::DOUBLE AS wl),{','.join(blocks)}
            {tail}
        """


def _pagerank_oracle(pages: str, iters: int = 3) -> str:
    """Unroll the synchronous PageRank update into chained CTEs — the
    IDENTICAL per-round arithmetic as operators/linkgraph.domain_pagerank
    (teleport/damping literals cast to DOUBLE so DuckDB's decimal literals
    don't diverge from IEEE)."""
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(f"""
d{i} AS (SELECT coalesce(sum(rank), 0.0::DOUBLE) AS d_mass FROM {prev}
         WHERE domain NOT IN (SELECT src_domain FROM e)),
c{i} AS (SELECT e.dst_domain AS domain, sum(rank * w) AS c
         FROM {prev} r JOIN e ON r.domain = e.src_domain GROUP BY 1),
r{i} AS (SELECT nodes.domain,
                (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM nn)
                + 0.85::DOUBLE * (coalesce(c{i}.c, 0.0::DOUBLE)
                    + (SELECT d_mass FROM d{i}) / (SELECT n FROM nn))
                    AS rank
         FROM nodes LEFT JOIN c{i} USING (domain))""")
        prev = f"r{i}"
    return (
        _LINKS_CTE.format(pages=pages)
        + f""",
nodes AS (SELECT DISTINCT domain FROM (
            SELECT src_domain AS domain FROM g
            UNION ALL SELECT dst_domain FROM g)),
tot AS (SELECT src_domain, sum(n_links) AS t FROM g GROUP BY 1),
e AS (SELECT g.src_domain, g.dst_domain,
             g.n_links::DOUBLE / tot.t AS w
      FROM g JOIN tot USING (src_domain)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT domain, 1.0::DOUBLE / (SELECT n FROM nn) AS rank
       FROM nodes),{",".join(rounds)}
SELECT domain, round(rank, 8) AS rank FROM {prev}
"""
    )


def _hits_oracle(pages: str, iters: int = 3) -> str:
    """Unroll the synchronous HITS update (auth pull, L2 rescale, hub
    pull, L2 rescale) into chained CTEs — the IDENTICAL per-round
    arithmetic as operators/linkgraph.hits_scores (DOUBLE casts keep
    DuckDB's decimal literals on IEEE semantics).

    Every per-round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    HITS's rescale references each round's partial 3× (join + the norm
    scalar subquery twice) — inlined, the expansion is ~9× per round, so
    3 rounds re-run the regex link extraction O(9^3) times (measured: the
    un-materialized form did not finish 10k pages in 240s; materialized
    it runs in ~2s)."""
    rounds = []
    prev_h = "h0"
    prev_a = None
    for i in range(1, iters + 1):
        rounds.append(f"""
ra{i} AS MATERIALIZED (SELECT e.dst_domain AS domain, sum(h.s * e.w) AS r
          FROM {prev_h} h JOIN e ON h.domain = e.src_domain GROUP BY 1),
na{i} AS MATERIALIZED (SELECT sqrt(sum(r * r)) AS nrm FROM ra{i}),
a{i} AS MATERIALIZED (SELECT nodes.domain,
                CASE WHEN (SELECT nrm FROM na{i}) > 0
                     THEN coalesce(ra{i}.r, 0.0::DOUBLE)
                          / (SELECT nrm FROM na{i})
                     ELSE 0.0::DOUBLE END AS s
         FROM nodes LEFT JOIN ra{i} USING (domain)),
rh{i} AS MATERIALIZED (SELECT e.src_domain AS domain, sum(a.s * e.w) AS r
          FROM a{i} a JOIN e ON a.domain = e.dst_domain GROUP BY 1),
nh{i} AS MATERIALIZED (SELECT sqrt(sum(r * r)) AS nrm FROM rh{i}),
h{i} AS MATERIALIZED (SELECT nodes.domain,
                CASE WHEN (SELECT nrm FROM nh{i}) > 0
                     THEN coalesce(rh{i}.r, 0.0::DOUBLE)
                          / (SELECT nrm FROM nh{i})
                     ELSE 0.0::DOUBLE END AS s
         FROM nodes LEFT JOIN rh{i} USING (domain))""")
        prev_h, prev_a = f"h{i}", f"a{i}"
    return (
        _LINKS_CTE.format(pages=pages)
        + f""",
nodes AS MATERIALIZED (SELECT DISTINCT domain FROM (
            SELECT src_domain AS domain FROM g
            UNION ALL SELECT dst_domain FROM g)),
e AS MATERIALIZED (SELECT src_domain, dst_domain, n_links::DOUBLE AS w FROM g),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
h0 AS (SELECT domain, 1.0::DOUBLE / sqrt((SELECT n FROM nn)) AS s
       FROM nodes),{",".join(rounds)}
SELECT h.domain, round(h.s, 8) AS hub, round(a.s, 8) AS auth
FROM {prev_h} h JOIN {prev_a} a USING (domain)
"""
    )


# host_quality oracle body, CTE names prefixable so it nests inside
# other WITH chains (DuckDB resolves an inner CTE reference against an
# OUTER MATERIALIZED CTE of the same name — measured: the trustrank
# oracle's outer `e` captured host_quality's inner `FROM e`)
_HOST_QUALITY_BODY = f"""
            WITH {{pfx}}v AS (
              SELECT url, text,
                NOT regexp_matches(try_cast(html AS VARCHAR),
                                   '\\\\x[89A-F][0-9A-F]') AS utf8_valid,
                CASE WHEN NOT regexp_matches(try_cast(html AS VARCHAR),
                                             '\\\\x[89A-F][0-9A-F]')
                     THEN decode(html) END AS s
              FROM {_PAGES}),
            {{pfx}}e AS (
              SELECT url, text, utf8_valid,
                regexp_extract(s,
                  '<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1)
                  AS robots,
                regexp_extract(s,
                  '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1)
                  AS canonical_href,
                regexp_extract(s,
                  '<link[^>]*rel="license"[^>]*href="([^"]*)"', 1)
                  AS license_href
              FROM {{pfx}}v),
            {{pfx}}p AS (
              SELECT regexp_extract(url, '{_URLDOM_RE_SQL}', 1) AS domain,
                CASE WHEN coalesce(utf8_valid
                          AND NOT instr(robots, 'noindex') > 0, FALSE)
                     THEN 1 ELSE 0 END AS k,
                CASE WHEN coalesce(NOT (canonical_href = ''
                                        OR canonical_href = url), FALSE)
                     THEN 1 ELSE 0 END AS m,
                CASE WHEN coalesce(regexp_matches(license_href,
                       'creativecommons[.]org/(licenses|publicdomain)/'),
                       FALSE) THEN 1 ELSE 0 END AS cc,
                CASE WHEN length(text) < 200 THEN 1 ELSE 0 END AS sh,
                length(text) AS chars
              FROM {{pfx}}e),
            {{pfx}}a AS (
              SELECT domain, count(*) AS n_pages,
                     sum(k) AS nk, sum(m) AS nm, sum(cc) AS ncc,
                     sum(sh) AS nsh, sum(chars) AS nch
              FROM {{pfx}}p GROUP BY 1)
            SELECT domain, CAST(n_pages AS BIGINT) AS n_pages,
                   round(nk / n_pages::DOUBLE, 4) AS keep_frac,
                   round(nm / n_pages::DOUBLE, 4) AS mirror_frac,
                   round(ncc / n_pages::DOUBLE, 4) AS cc_frac,
                   round(nsh / n_pages::DOUBLE, 4) AS short_frac,
                   round(nch / n_pages::DOUBLE, 2) AS mean_chars,
                   (nk / n_pages::DOUBLE < 0.5
                    OR nm / n_pages::DOUBLE > 0.5
                    OR nsh / n_pages::DOUBLE > 0.9) AS banned
            FROM {{pfx}}a
        """


def _host_quality_sql(pfx: str = "") -> str:
    return _HOST_QUALITY_BODY.replace("{pfx}", pfx)



# (url, host, path, dv) base for the robots-fixture oracles: the SQL half
# of _robots_fixture's contract — dv re-derives the same two md5(host) hex
# digits the Spark fixture builds its rules from, and ALLOWED/DELAY are
# shared so robots_filter and crawl_plan grade one policy, not two copies
_ROBOTS_UH_SQL = f"""
            WITH u AS (
              SELECT url,
                     regexp_extract(url, '{_URLDOM_RE_SQL}', 1) AS host,
                     CASE WHEN regexp_replace(url,
                              '^[a-z][a-z0-9+.-]*://[^/?#]*', '') = ''
                          THEN '/'
                          ELSE regexp_replace(url,
                              '^[a-z][a-z0-9+.-]*://[^/?#]*', '') END
                       AS path
              FROM {_PAGES}),
            h AS (
              SELECT *, CAST((
                  (strpos('0123456789abcdef', substr(md5(host), 1, 1)) - 1)
                    * 16
                + (strpos('0123456789abcdef', substr(md5(host), 2, 1)) - 1)
                ) % 12 AS BIGINT) AS dv
              FROM u)"""
_ROBOTS_ALLOWED_SQL = """CASE WHEN starts_with(path, '/private/') THEN FALSE
                        WHEN dv % 3 = 0 AND starts_with(path, '/p/1')
                             THEN TRUE
                        WHEN dv % 3 = 0 AND starts_with(path, '/p/')
                             THEN FALSE
                        ELSE TRUE END"""
_ROBOTS_DELAY_SQL = "CASE WHEN dv % 2 = 0 THEN CAST(dv % 5 + 1 AS DOUBLE) END"

_HOST_QUALITY_SQL = _host_quality_sql()


def _trustrank_oracle(pages: str, iters: int = 3) -> str:
    """Unroll the synchronous TrustRank update into chained MATERIALIZED
    CTEs (the HITS lesson: DuckDB inlines plain CTEs and per-round
    fan-out goes exponential). Arithmetic mirrors
    operators/linkgraph.trustrank EXACTLY, including operator
    association ((1-d) * is_seed / ns, d_mass * is_seed / ns) so both
    engines walk the identical IEEE expression tree. Seeds re-derive the
    host_quality table inline (nested WITH subquery) with the same
    non-banned + keep_frac >= 0.91 rule."""
    rounds = []
    prev = "t0"
    for i in range(1, iters + 1):
        rounds.append(f"""
d{i} AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0::DOUBLE) AS d_mass
         FROM {prev} WHERE domain NOT IN (SELECT src_domain FROM e)),
c{i} AS MATERIALIZED (SELECT e.dst_domain AS domain, sum(rank * w) AS c
         FROM {prev} r JOIN e ON r.domain = e.src_domain GROUP BY 1),
t{i} AS MATERIALIZED (SELECT sn.domain,
                (1.0::DOUBLE - 0.85::DOUBLE) * sn.is_seed
                    / (SELECT n FROM ns)
                + 0.85::DOUBLE * (coalesce(c{i}.c, 0.0::DOUBLE)
                    + (SELECT d_mass FROM d{i}) * sn.is_seed
                        / (SELECT n FROM ns)) AS rank
         FROM sn LEFT JOIN c{i} USING (domain))""")
        prev = f"t{i}"
    return (
        _LINKS_CTE.format(pages=pages)
        + f""",
nodes AS MATERIALIZED (SELECT DISTINCT domain FROM (
            SELECT src_domain AS domain FROM g
            UNION ALL SELECT dst_domain FROM g)),
tot AS (SELECT src_domain, sum(n_links) AS t FROM g GROUP BY 1),
e AS MATERIALIZED (SELECT g.src_domain, g.dst_domain,
             g.n_links::DOUBLE / tot.t AS w
      FROM g JOIN tot USING (src_domain)),
seeds0 AS MATERIALIZED (
    SELECT domain FROM ({_host_quality_sql("hq_")}) hq
    WHERE NOT banned AND keep_frac >= 0.91),
sn AS MATERIALIZED (SELECT nodes.domain,
        CASE WHEN seeds0.domain IS NOT NULL
             THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS is_seed
      FROM nodes LEFT JOIN seeds0 USING (domain)),
ns AS (SELECT CAST(sum(is_seed) AS DOUBLE) AS n FROM sn),
t0 AS (SELECT domain, is_seed / (SELECT n FROM ns) AS rank
       FROM sn),{",".join(rounds)}
SELECT domain, round(rank, 8) AS trust FROM {prev}
"""
    )


def _sketch_tok_cte() -> str:
    """Shared (domain, tok) occurrence CTE for the sketch oracles."""
    return f"""
        WITH p AS (SELECT split_part(split_part(url, '://', 2), '/', 1)
                              AS domain,
                          unnest(string_split(text, ' ')) AS tok
                   FROM {_PAGES}),
        t AS (SELECT domain, tok FROM p WHERE length(tok) > 0)
    """


def _hll_distinct_sql() -> str:
    """Bit-for-bit HLL replay: register from the first 2 md5 hex digits
    (strpos digit arithmetic — DuckDB has no conv()), rho from regexp
    leading-zero nibbles + a CASE on the first non-zero digit, the scaled
    harmonic sum as exact BIGINT shifts, ONE IEEE division for the raw
    estimate (the alpha*m^2*2^40 literal is python-computed, shared with
    the Spark side), ln only on the flagged linear-counting branch."""
    from logport_spark.operators.sketches import (HLL_CONST, HLL_M,
                                                  HLL_RHO_CAP)
    reg = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) * {c}"
        for j, c in enumerate([16, 1]))
    return f"""
        {_sketch_tok_cte()},
        hx AS (SELECT domain, md5(tok) AS h FROM t),
        rr AS (SELECT domain, CAST(({reg}) AS BIGINT) AS register,
                      substr(h, 3, 15) AS s
               FROM hx),
        rho AS (SELECT domain, register,
                       least(4 * length(regexp_extract(s, '^0*')) +
                             CASE substr(s, length(regexp_extract(s, '^0*'))
                                            + 1, 1)
                               WHEN '1' THEN 3
                               WHEN '2' THEN 2 WHEN '3' THEN 2
                               WHEN '4' THEN 1 WHEN '5' THEN 1
                               WHEN '6' THEN 1 WHEN '7' THEN 1
                               ELSE 0 END + 1,
                             {HLL_RHO_CAP}) AS rho
                FROM rr),
        mj AS (SELECT domain, register, max(rho) AS m_j
               FROM rho GROUP BY 1, 2),
        ag AS (SELECT domain,
                      CAST(sum(CAST(1 AS BIGINT) << ({HLL_RHO_CAP} - m_j))
                           AS BIGINT) AS s_present,
                      count(*) AS regs_used
               FROM mj GROUP BY 1),
        hll AS (SELECT domain,
                       CAST(s_present + ({HLL_M} - regs_used)
                            * (CAST(1 AS BIGINT) << {HLL_RHO_CAP})
                            AS BIGINT) AS hll_s,
                       CAST({HLL_M} - regs_used AS INT) AS hll_zeros
                FROM ag),
        est AS (SELECT domain, hll_s, hll_zeros,
                       {HLL_CONST!r} / hll_s AS raw,
                       (({HLL_CONST!r} / hll_s) <= {2.5 * HLL_M}
                        AND hll_zeros > 0) AS lin
                FROM hll),
        ex AS (SELECT domain, count(DISTINCT tok) AS exact_distinct
               FROM t GROUP BY 1)
        SELECT domain, exact_distinct, hll_s, hll_zeros,
               CASE WHEN lin THEN 'linear' ELSE 'raw' END AS branch,
               round(CASE WHEN lin
                          THEN {float(HLL_M)!r} * ln({float(HLL_M)!r}
                                                     / hll_zeros)
                          ELSE raw END, 4) AS hll_est,
               round((round(CASE WHEN lin
                            THEN {float(HLL_M)!r} * ln({float(HLL_M)!r}
                                                       / hll_zeros)
                            ELSE raw END, 4) - exact_distinct)
                     / exact_distinct * 100, 2) AS err_pct
        FROM est JOIN ex USING (domain)
    """


def _cms_heavy_hitters_sql() -> str:
    """Count-Min replay: per-row-salt md5 buckets via digit arithmetic,
    counters as exact counts, point estimates as min over the d rows for
    the exact top-20 tokens (same desc-count, asc-token tie-break)."""
    from logport_spark.operators.sketches import CMS_D, CMS_W
    coefs = [16 ** (4 - j) for j in range(5)]

    def bucket(r: int) -> str:
        digits = " + ".join(
            f"(strpos('0123456789abcdef', "
            f"substr(md5('cms{r}:' || tok), {j + 1}, 1)) - 1) * {c}"
            for j, c in enumerate(coefs))
        return f"CAST(({digits}) % {CMS_W} AS BIGINT)"

    cells = " UNION ALL ".join(
        f"SELECT {r} AS r, {bucket(r)} AS c FROM t" for r in range(CMS_D))
    probes = " UNION ALL ".join(
        f"SELECT tok, exact_cnt, {r} AS r, {bucket(r)} AS c FROM top"
        for r in range(CMS_D))
    return f"""
        {_sketch_tok_cte()},
        cells AS ({cells}),
        counters AS (SELECT r, c, count(*) AS cnt FROM cells GROUP BY 1, 2),
        ex AS (SELECT tok, count(*) AS exact_cnt FROM t GROUP BY 1),
        top AS (SELECT tok, exact_cnt FROM ex
                ORDER BY exact_cnt DESC, tok ASC LIMIT 20),
        probe AS ({probes})
        SELECT probe.tok, probe.exact_cnt,
               min(counters.cnt) AS cms_est,
               min(counters.cnt) - probe.exact_cnt AS overcount
        FROM probe JOIN counters USING (r, c)
        GROUP BY 1, 2
    """


def _kmv_domain_sim_sql() -> str:
    """KMV replay: bottom-128 md5 minima per domain (hex strings order
    lexicographically = numerically; token tie-break pinned), union-k by
    merge + row_number, matches = both-side flags among the union-k,
    theta from the k-th hash's first 15 hex digits as exact BIGINT with
    the python-shared (k-1)*16^15 literal — one IEEE division. Exact
    common/union/Jaccard from the distinct (domain, tok) self-join."""
    from logport_spark.operators.sketches import KMV_CONST, KMV_K
    theta = " + ".join(
        f"(strpos('0123456789abcdef', substr(h, {j + 1}, 1)) - 1) * {c}"
        for j, c in enumerate([16 ** (14 - j) for j in range(15)]))
    return f"""
        {_sketch_tok_cte()},
        td AS (SELECT DISTINCT domain, tok FROM t),
        hx AS (SELECT domain, tok, md5(tok) AS h FROM td),
        rk AS (SELECT domain, h,
                      row_number() OVER (PARTITION BY domain
                                         ORDER BY h ASC, tok ASC) AS rk
               FROM hx),
        sk AS (SELECT domain, h FROM rk WHERE rk <= {KMV_K}),
        doms AS (SELECT DISTINCT domain FROM sk),
        pairs AS (SELECT a.domain AS ga, b.domain AS gb
                  FROM doms a, doms b WHERE a.domain < b.domain),
        merged AS (SELECT ga, gb, h,
                          max(in_a) AS in_a, max(in_b) AS in_b
                   FROM (SELECT ga, gb, h, 1 AS in_a, 0 AS in_b
                         FROM pairs JOIN sk ON sk.domain = pairs.ga
                         UNION ALL
                         SELECT ga, gb, h, 0 AS in_a, 1 AS in_b
                         FROM pairs JOIN sk ON sk.domain = pairs.gb)
                   GROUP BY 1, 2, 3),
        topk AS (SELECT *, row_number() OVER (PARTITION BY ga, gb
                                              ORDER BY h ASC) AS rk
                 FROM merged),
        kmv AS (SELECT ga AS group_a, gb AS group_b,
                       CAST(sum(in_a * in_b) AS INT) AS kmv_matches,
                       round(sum(in_a * in_b)
                             / CAST({KMV_K} AS DOUBLE), 4) AS kmv_jacc,
                       round({KMV_CONST!r}
                             / max(CASE WHEN rk = {KMV_K}
                                        THEN CAST(({theta}) AS BIGINT) END),
                             2) AS kmv_union_est
                FROM topk WHERE rk <= {KMV_K} GROUP BY 1, 2),
        sizes AS (SELECT domain, count(*) AS sz FROM td GROUP BY 1),
        cmn AS (SELECT a.domain AS group_a, b.domain AS group_b,
                       count(*) AS exact_common
                FROM td a JOIN td b USING (tok)
                WHERE a.domain < b.domain GROUP BY 1, 2)
        SELECT k.group_a, k.group_b, k.kmv_matches, k.kmv_jacc,
               k.kmv_union_est,
               CAST(coalesce(cmn.exact_common, 0) AS BIGINT) AS exact_common,
               CAST(sa.sz + sb.sz - coalesce(cmn.exact_common, 0) AS BIGINT)
                   AS exact_union,
               round(coalesce(cmn.exact_common, 0)
                     / CAST(sa.sz + sb.sz - coalesce(cmn.exact_common, 0)
                            AS DOUBLE), 4) AS exact_jacc
        FROM kmv k
        LEFT JOIN cmn ON cmn.group_a = k.group_a AND cmn.group_b = k.group_b
        JOIN sizes sa ON sa.domain = k.group_a
        JOIN sizes sb ON sb.domain = k.group_b
    """


def _sampled_quantiles_sql() -> str:
    """Replays the md5 sample membership (the _HEX8 digit arithmetic over
    md5('q42' || event_id), mod 10000 < 2500 — sampling.py's exact rule)
    and the interpolated quantile on the identical sample; the exact
    columns reuse the event_value_quantiles quantile_cont pinning."""
    bucket = "((" + _HEX8.format(
        h="md5('q42' || CAST(event_id AS VARCHAR))") + ") % 10000)"
    return f"""
        WITH s AS (
          SELECT event_type, value FROM events
          WHERE {bucket} < 2500),
        samp AS (
          SELECT event_type, count(*) AS n_sample,
                 round(quantile_cont(value, 0.5), 4) AS p50_s,
                 round(quantile_cont(value, 0.95), 4) AS p95_s
          FROM s GROUP BY event_type),
        ex AS (
          SELECT event_type,
                 round(quantile_cont(value, 0.5), 4) AS p50_exact,
                 round(quantile_cont(value, 0.95), 4) AS p95_exact
          FROM events GROUP BY event_type)
        SELECT samp.event_type, n_sample, p50_s, p95_s,
               p50_exact, p95_exact,
               round(abs(p50_s - p50_exact), 4) AS p50_abs_err,
               round(abs(p95_s - p95_exact), 4) AS p95_abs_err
        FROM samp JOIN ex USING (event_type)
    """


def _bucketed_domain_join_sql() -> str:
    """The bucketed layout is an execution detail — values are the plain
    relational replay (domain via the lp_enrich split_part equivalence of
    parse_url HOST)."""
    return f"""
        WITH f AS (
          SELECT url,
                 split_part(split_part(url, '://', 2), '/', 1) AS domain,
                 length(text) AS text_chars, lang
          FROM {_PAGES}),
        d AS (
          SELECT domain, count(DISTINCT lang) AS n_langs
          FROM f GROUP BY domain)
        SELECT f.domain, d.n_langs,
               count(*) AS n_pages,
               CAST(sum(text_chars) AS BIGINT) AS text_chars
        FROM f JOIN d USING (domain)
        GROUP BY f.domain, d.n_langs
    """


def _manifest_prune_sql() -> str:
    """The z-order layout and manifest pruning are execution details —
    conservative pruning plus the re-applied row filter make values the
    plain time-slice aggregate."""
    return f"""
        SELECT split_part(split_part(url, '://', 2), '/', 1) AS domain,
               count(*) AS n_pages,
               CAST(sum(length(text)) AS BIGINT) AS text_chars
        FROM {_PAGES}
        WHERE warc_ts >= TIMESTAMP '2024-08-10 00:00:00'
          AND warc_ts <  TIMESTAMP '2024-08-13 00:00:00'
        GROUP BY 1
    """


def _baseline_oracle_registry() -> dict[str, str]:
    return {
        "span_dup_stats": """
            WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents),
            s AS (SELECT doc_id, array_to_string(toks[i:i+3],' ') AS sp
                  FROM t, unnest(range(1, greatest(len(toks)-4,-1)+2)) AS r(i)),
            f AS (SELECT sp FROM s GROUP BY sp HAVING count(*) >= 2),
            tot AS (SELECT doc_id, count(*) AS n_spans FROM s GROUP BY 1),
            hits AS (SELECT doc_id, count(*) AS nd FROM s
                     WHERE sp IN (SELECT sp FROM f) GROUP BY doc_id)
            SELECT tot.doc_id, CAST(tot.n_spans AS BIGINT) AS n_spans,
                   round(coalesce(hits.nd, 0) * 1.0 / tot.n_spans, 4)
                       AS dup_span_frac
            FROM tot LEFT JOIN hits USING (doc_id)
        """,
        "web_curation": f"""
            WITH p AS (SELECT url, warc_ts, text FROM {_PAGES})
            {{CANON}}
            , surv AS (
              SELECT url FROM (
                SELECT url, row_number() OVER (
                    PARTITION BY c ORDER BY warc_ts DESC, url DESC) AS rn
                FROM canon) WHERE rn = 1
            ), sp AS (
              SELECT url, string_split(text, chr(10)) AS parts FROM p
              WHERE url IN (SELECT url FROM surv)
            ), numbered AS (
              SELECT url, unnest(generate_series(1, len(parts))) AS line_no,
                     unnest(parts) AS line
              FROM sp
            ), lines AS (
              SELECT url, CAST(line_no AS INT) AS line_no, line
              FROM numbered WHERE length(line) > 0
            ), dfq AS (
              SELECT line, count(DISTINCT url) AS df FROM lines GROUP BY line
            ), nb AS (
              SELECT url, line_no, line FROM lines
              WHERE line NOT IN (SELECT line FROM dfq WHERE df >= 20)
            ), kept AS (
              SELECT url, line_no, line FROM nb
              QUALIFY row_number() OVER (
                  PARTITION BY line ORDER BY url, line_no) = 1
            )
            SELECT url, count(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY line_no) AS text
            FROM kept GROUP BY url HAVING count(*) >= 2
        """.replace("{CANON}", _canon_url_steps_sql('p')),
        "semantic_dedup_pairs": _EMB_NORM_CTE + f"""
            , c AS (SELECT vec_id AS cid, embedding AS cv FROM e
                    ORDER BY vec_id LIMIT 16),
            sc AS (
              SELECT e.vec_id, c.cid,
                     {_DOT64.format(a='e.embedding', b='c.cv')}
                       / sqrt(list_sum(list_transform(c.cv,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS s
              FROM e CROSS JOIN c),
            mx AS (SELECT vec_id, cid, s,
                          max(s) OVER (PARTITION BY vec_id) AS m FROM sc),
            cells AS (SELECT vec_id, min(cid) AS cell
                      FROM mx WHERE s = m GROUP BY vec_id),
            cand AS (
              SELECT a.vec_id AS d1, b.vec_id AS d2
              FROM cells a JOIN cells b
                ON a.cell = b.cell AND a.vec_id < b.vec_id)
            SELECT d1, d2,
                   round({_DOT64.format(a='e1.embedding', b='e2.embedding')}
                         / (n1.nm * n2.nm), 4) AS cos
            FROM cand
            JOIN e e1 ON e1.vec_id = d1 JOIN e e2 ON e2.vec_id = d2
            JOIN n n1 ON n1.vec_id = d1 JOIN n n2 ON n2.vec_id = d2
            WHERE {_DOT64.format(a='e1.embedding', b='e2.embedding')}
                  / (n1.nm * n2.nm) >= 0.44
        """,
        "strip_boilerplate": _LINES_CTE + """
            , df AS (
              SELECT line, count(DISTINCT url) AS df FROM lines GROUP BY line
            ), kept AS (
              SELECT url, line_no, line FROM lines
              WHERE line NOT IN (SELECT line FROM df WHERE df >= 20)
            )
            SELECT url, count(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY line_no) AS text
            FROM kept GROUP BY url
        """,
        "domain_boilerplate": _LINES_CTE + """
            , l AS (
              SELECT url, split_part(split_part(url, '://', 2), '/', 1)
                         AS domain,
                     line_no, line
              FROM lines
            ), df AS (
              SELECT domain, line, count(DISTINCT url) AS df
              FROM l GROUP BY domain, line
            ), kept AS (
              SELECT url, domain, line_no, line FROM l
              WHERE NOT EXISTS (
                SELECT 1 FROM df
                WHERE df.domain = l.domain AND df.line = l.line
                  AND df.df >= 5)
            )
            SELECT url, domain, count(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY line_no) AS text
            FROM kept GROUP BY url, domain
        """,
        # data card: DuckDB's CUBE must produce the identical 4 grouping
        # sets + GROUPING()-labeled margins (count/sum cast to BIGINT —
        # DuckDB sum(BIGINT) is HUGEINT)
        "corpus_datacard": """
            SELECT CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END
                       AS lang,
                   CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END
                       AS source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS tokens,
                   CAST(sum(n_ch) AS BIGINT) AS chars,
                   round(avg(n_toks), 4) AS tokens_per_doc
            FROM (SELECT lang, source,
                         len(list_filter(string_split(text, ' '),
                                         x -> length(x) > 0)) AS n_toks,
                         length(text) AS n_ch
                  FROM documents)
            GROUP BY CUBE (lang, source)
        """,
        "domain_stats": """
            SELECT source AS domain, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS mean_chars,
                   count(DISTINCT lang) AS n_langs,
                   round(avg(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END), 4)
                       AS short_frac
            FROM documents GROUP BY source
        """,
        "domain_filter_docs": """
            WITH s AS (
              SELECT source, avg(n_chars) AS mean_chars,
                     avg(CASE WHEN n_chars < 100 THEN 1.0 ELSE 0.0 END)
                         AS short_frac
              FROM documents GROUP BY source
            )
            SELECT d.doc_id, d.source FROM documents d
            WHERE d.source NOT IN (
              SELECT source FROM s
              WHERE mean_chars < 260.0 OR short_frac > 0.1)
        """,
        "pack_sequences": f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(({_HEX8.format(
                         h="md5('pack' || CAST(doc_id AS VARCHAR))")}) % 8
                         AS INT) AS shard,
                     CAST(len(list_filter(string_split(text, ' '),
                                          x -> len(x) > 0)) AS BIGINT)
                         AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, shard, n_tokens,
                     sum(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS cum_tokens
              FROM t
            )
            SELECT doc_id, shard,
                   CAST(floor((cum_tokens - n_tokens) / 512) AS BIGINT)
                       AS pack_id,
                   n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM c
        """,
        "line_dedup_corpus": _LINES_CTE + """
            , kept AS (
              SELECT url, line_no, line FROM lines
              QUALIFY row_number() OVER (
                  PARTITION BY line ORDER BY url, line_no) = 1
            )
            SELECT url, count(*) AS n_kept,
                   string_agg(line, chr(10) ORDER BY line_no) AS text
            FROM kept GROUP BY url
        """,
        # suffix semantics spelled out entry-by-entry: exact host match OR
        # dot-boundary suffix — exactly "any chain suffix is listed"
        "url_blocklist": f"""
            WITH h AS (
              SELECT url, split_part(split_part(url, '://', 2), '/', 1) AS domain
              FROM {_PAGES})
            SELECT url, domain,
                   ({' OR '.join(
                       f"domain = '{e}' OR domain LIKE '%.{e}'"
                       for e in _URL_BLOCKLIST)}) AS blocked
            FROM h
        """,
        # C4 gates re-derived with DuckDB list lambdas; counts cast to INT
        # to match Spark's size()
        "c4_page_filters": f"""
            WITH p AS (SELECT url, text,
                              string_split(text, chr(10)) AS lines
                       FROM {_PAGES}),
            k AS (SELECT url, text, len(lines) AS n_lines,
                         list_filter(lines, l ->
                           len(list_filter(string_split(l, ' '),
                                           w -> w != '')) >= 4
                           AND position('javascript' IN lower(l)) = 0)
                             AS kept
                  FROM p)
            SELECT url, CAST(n_lines AS INT) AS n_lines,
                   CAST(len(kept) AS INT) AS n_kept,
                   array_to_string(kept, chr(10)) AS text
            FROM k
            WHERE len(kept) >= 3
              AND position('lorem ipsum' IN lower(text)) = 0
              AND NOT list_has_any(
                    string_split_regex(lower(text), '\\s+'), ['zulu'])
        """,
        # DSIR: hashed unigram+bigram buckets (md5 digit arithmetic = the
        # engine's conv(substr(md5,1,8),16,10) % B), Laplace-smoothed
        # bucket distributions, per-doc sum of log ratios
        "dsir_weights": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                       FROM documents),
            g AS (
              SELECT doc_id, gram FROM t, unnest(toks) AS u(gram)
              UNION ALL
              SELECT doc_id, toks[i] || ' ' || toks[i+1]
              FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1))
                       AS r(i)
            ),
            b AS (SELECT doc_id,
                         CAST(({_HEX8.format(h="md5(gram)")}) % 64 AS INT)
                             AS bucket
                  FROM g),
            tg AS (SELECT b.* FROM b JOIN documents d USING (doc_id)
                   WHERE d.lang = 'de'),
            rawb AS (SELECT bucket, count(*) AS cr FROM b GROUP BY 1),
            tgtb AS (SELECT bucket, count(*) AS ct FROM tg GROUP BY 1),
            tot AS (SELECT (SELECT count(*) FROM b) AS tr,
                           (SELECT count(*) FROM tg) AS tt),
            lr AS (SELECT bucket,
                          ln((coalesce(ct, 0) + 1.0) / (tt + 64.0))
                            - ln((cr + 1.0) / (tr + 64.0)) AS logratio
                   FROM rawb LEFT JOIN tgtb USING (bucket) CROSS JOIN tot)
            SELECT b.doc_id, count(*) AS n_grams,
                   round(sum(logratio), 4) AS logw
            FROM b JOIN lr USING (bucket) GROUP BY 1
        """,
        "url_dedup": f"""
            WITH p AS (SELECT url, warc_ts FROM {_PAGES})
            {_canon_url_steps_sql('p')}
            SELECT canon_url, url, warc_ts, n_crawls FROM (
              SELECT c AS canon_url, url, warc_ts,
                     count(*) OVER (PARTITION BY c) AS n_crawls,
                     row_number() OVER (
                         PARTITION BY c
                         ORDER BY warc_ts DESC, url DESC) AS rn
              FROM canon) WHERE rn = 1
        """,
        "dedup_ngram_pairs": _JACCARD_PAIRS_SQL,
        "dedup_simhash": _SIMHASH_CTE + "SELECT doc_id, simhash FROM sig",
        "dedup_embedding_pairs": _EMB_NORM_CTE + f"""
            , p AS (
              SELECT a.vec_id AS d1, b.vec_id AS d2,
                     {_DOT64.format(a='a.embedding', b='b.embedding')} AS dot
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
            SELECT d1, d2, round(dot / (n1.nm * n2.nm), 4) AS cos
            FROM p JOIN n n1 ON n1.vec_id = d1 JOIN n n2 ON n2.vec_id = d2
            WHERE dot / (n1.nm * n2.nm) >= 0.44
        """,
        "ann_topk": _EMB_NORM_CTE + f"""
            , q AS (SELECT vec_id AS query_id, embedding AS qe FROM e
                    WHERE vec_id IN ({', '.join(str(i) for i in ANN_QUERY_IDS)})),
            sc AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     {_DOT64.format(a='qe', b='e.embedding')}
                       / (nq.nm * ne.nm) AS cos
              FROM q JOIN e ON e.vec_id != q.query_id
              JOIN n nq ON nq.vec_id = q.query_id
              JOIN n ne ON ne.vec_id = e.vec_id)
            SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
              FROM sc)
            WHERE rank <= 10
        """,
        # repetition: every count re-derived by unnest + GROUP BY; fractions
        # guarded against empty shingle sets exactly like the Spark folds
        "text_repetition": """
            WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
            c1 AS (SELECT doc_id, max(c) AS top1 FROM
                     (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2)
                   GROUP BY 1),
            g2 AS (SELECT doc_id, array_to_string(toks[i:i+1],' ') AS g
                   FROM t, unnest(range(1, greatest(len(toks)-1,0)+1)) AS r(i)),
            c2 AS (SELECT doc_id, max(c) AS top2,
                          sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup2,
                          sum(c) AS n2
                   FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
                   GROUP BY 1),
            g3 AS (SELECT doc_id, array_to_string(toks[i:i+2],' ') AS g
                   FROM t, unnest(range(1, greatest(len(toks)-2,0)+1)) AS r(i)),
            c3 AS (SELECT doc_id, max(c) AS top3, sum(c) AS n3
                   FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
                   GROUP BY 1)
            SELECT t.doc_id,
                   CAST(len(toks) AS INT) AS n_tokens,
                   round(c1.top1 * 1.0 / greatest(len(toks), 1), 4)
                       AS top_token_frac,
                   round(coalesce(c2.top2, 0) * 1.0
                         / greatest(coalesce(c2.n2, 0), 1), 4)
                       AS top_2gram_frac,
                   round(coalesce(c3.top3, 0) * 1.0
                         / greatest(coalesce(c3.n3, 0), 1), 4)
                       AS top_3gram_frac,
                   round(coalesce(c2.dup2, 0) * 1.0
                         / greatest(coalesce(c2.n2, 0), 1), 4)
                       AS dup_2gram_frac
            FROM t JOIN c1 USING (doc_id)
            LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
        """,
        # pii_scrub: the SAME RE2-safe patterns, verbatim
        "pii_scrub": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{PII_EMAIL_SQL}')) AS INT)
                       AS n_emails,
                   CAST(len(regexp_extract_all(text, '{PII_IPV4_SQL}')) AS INT)
                       AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '{PII_CARD_SQL}')) AS INT)
                       AS n_cards,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '{PII_EMAIL_SQL}', '[EMAIL]', 'g'),
                       '{PII_IPV4_SQL}', '[IPV4]', 'g'),
                       '{PII_CARD_SQL}', '[CARD]', 'g') AS redacted,
                   (len(regexp_extract_all(text, '{PII_EMAIL_SQL}'))
                    + len(regexp_extract_all(text, '{PII_IPV4_SQL}'))
                    + len(regexp_extract_all(text, '{PII_CARD_SQL}'))) > 0
                       AS has_pii
            FROM documents
        """,
        # string-shingle re-derivation (the engine joins on xxhash64 of the
        # same shingles — equal up to 64-bit collisions, the minhash-oracle
        # argument)
        # fuzzy decontamination: exact all-pairs cross-corpus Jaccard — the
        # engine's banded candidates + exact verify must equal it (the
        # dedup_minhash_pairs capture argument, threshold 0.8, 16x4 bands)
        "contamination_fuzzy": """
            WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(toks[i:i+2],' ') AS sh
                   FROM t, unnest(range(1, greatest(len(toks)-2,0)+1)) AS r(i)),
            tr AS (SELECT doc_id AS train_id, sh FROM sh WHERE doc_id % 2 = 0),
            te AS (SELECT doc_id, sh FROM sh WHERE doc_id % 2 = 1),
            sz_tr AS (SELECT train_id, count(*) AS n_tr FROM tr GROUP BY 1),
            sz_te AS (SELECT doc_id, count(*) AS n_te FROM te GROUP BY 1),
            c AS (SELECT te.doc_id, tr.train_id, count(*) AS common
                  FROM te JOIN tr USING (sh) GROUP BY 1, 2),
            j AS (SELECT c.doc_id, c.train_id,
                         c.common * 1.0 / (sz_te.n_te + sz_tr.n_tr - c.common)
                             AS jac
                  FROM c JOIN sz_te USING (doc_id) JOIN sz_tr USING (train_id)
                  WHERE c.common * 1.0 / (sz_te.n_te + sz_tr.n_tr - c.common)
                        >= 0.8),
            w AS (SELECT doc_id, train_id, jac,
                         count(*) OVER (PARTITION BY doc_id) AS n_matches,
                         max(jac) OVER (PARTITION BY doc_id) AS mj
                  FROM j)
            SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches,
                   round(mj, 4) AS max_jaccard,
                   min(train_id) AS top_train_id
            FROM w WHERE jac = mj GROUP BY doc_id, n_matches, mj
        """,
        # epoch counts re-derived from the same md5 bucket ('epoch42'
        # salt) and the same integer thresholds (floor + frac*10000)
        "epoch_upsample": (lambda coefs: f"""
            WITH b AS (
              SELECT doc_id, lang,
                     CASE lang WHEN 'de' THEN 2 WHEN 'en' THEN 1
                          ELSE 0 END
                     + CASE WHEN
                         CAST(({' + '.join(
                             "(strpos('0123456789abcdef', substr("
                             f"md5('epoch42' || CAST(doc_id AS VARCHAR)),"
                             f" {j + 1}, 1)) - 1) * {c}"
                             for j, c in enumerate(coefs))}) % 10000
                             AS BIGINT)
                         < CASE lang WHEN 'de' THEN 2500
                                WHEN 'en' THEN 5000 ELSE 5000 END
                       THEN 1 ELSE 0 END AS n
              FROM documents)
            SELECT doc_id, lang, CAST(e AS INT) AS epoch
            FROM b, unnest(range(1, n + 1)) AS r(e)
            WHERE n >= 1
        """)([16 ** (7 - j) for j in range(8)]),
        # bucket = md5 digit arithmetic (the sampling.py convention);
        # fetch_seq re-derived with the same interleave
        "crawl_schedule": f"""
            WITH t AS (
              SELECT url,
                     regexp_extract(url,
                         '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS domain,
                     CAST(({_HEX8.format(h="md5(url)")}) % 16 AS INT)
                         AS bucket
              FROM {_PAGES})
            SELECT url, domain, bucket,
                   CAST((row_number() OVER (
                           PARTITION BY domain, bucket ORDER BY url) - 1)
                        * 16 + bucket AS BIGINT) AS fetch_seq,
                   CAST((row_number() OVER (
                           PARTITION BY domain, bucket ORDER BY url) - 1)
                        * 16 + bucket AS BIGINT) AS wave
            FROM t
        """,
        # identical RE2-safe template rules (linkgraph.URL_TRAP_RULES),
        # applied in the same order with DuckDB's 'g' flag (Spark's
        # regexp_replace is global by default)
        "url_traps": f"""
            WITH t AS (
              SELECT regexp_extract(url,
                         '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS domain,
                     regexp_replace(regexp_replace(regexp_replace(
                         regexp_replace(url,
                             '^[a-z][a-z0-9+.-]*://[^/?#]*', ''),
                         '=[^&#]*', '=V', 'g'),
                         '[0-9a-fA-F]{{8,}}', 'H', 'g'),
                         '[0-9]+', 'N', 'g') AS template,
                     url
              FROM {_PAGES})
            SELECT domain, template,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
                   CAST(count(*) AS BIGINT) AS n_requests,
                   min(url) AS sample_url,
                   count(DISTINCT url) >= 1000 AS trap
            FROM t GROUP BY domain, template
        """,
        # Bloom rebuilt bit-for-bit: positions from the same md5 digit
        # arithmetic, words OR-folded with bit_or, probes via >>/&
        "bloom_contamination": f"""
            WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(toks[i:i+2],' ') AS sh
                   FROM t, unnest(range(1, greatest(len(toks)-2,0)+1)) AS r(i)),
            tep AS (SELECT {_BLOOM_POS0} AS pos FROM sh WHERE doc_id % 2 = 1
                    UNION ALL
                    SELECT {_BLOOM_POS1} FROM sh WHERE doc_id % 2 = 1),
            bloom AS (SELECT pos // 32 AS w,
                             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
                      FROM tep GROUP BY 1),
            trh AS (SELECT doc_id, sh,
                      coalesce(((b0.word >> CAST({_BLOOM_POS0} % 32 AS INT))
                                & 1) = 1, false)
                      AND coalesce(((b1.word >> CAST({_BLOOM_POS1} % 32 AS INT))
                                    & 1) = 1, false) AS hit
                    FROM (SELECT * FROM sh WHERE doc_id % 2 = 0) s
                    LEFT JOIN bloom b0 ON b0.w = {_BLOOM_POS0} // 32
                    LEFT JOIN bloom b1 ON b1.w = {_BLOOM_POS1} // 32),
            agg AS (SELECT doc_id, count(*) AS n_shingles,
                           sum(CASE WHEN hit THEN 1 ELSE 0 END) AS n_bloom_hits
                    FROM trh GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(a.n_shingles, 0) AS INT) AS n_shingles,
                   CAST(coalesce(a.n_bloom_hits, 0) AS INT) AS n_bloom_hits,
                   round(coalesce(a.n_bloom_hits, 0) * 1.0
                         / greatest(coalesce(a.n_shingles, 0), 1), 4)
                       AS bloom_frac,
                   coalesce(a.n_bloom_hits, 0) > 0 AS flagged
            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
            LEFT JOIN agg a USING (doc_id)
        """,
        "contamination_scan": """
            WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          array_to_string(toks[i:i+2],' ') AS sh
                   FROM t, unnest(range(1, greatest(len(toks)-2,0)+1)) AS r(i)),
            tr AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0),
            te AS (SELECT doc_id, sh FROM sh WHERE doc_id % 2 = 1),
            tot AS (SELECT doc_id, count(*) AS n_sh FROM te GROUP BY 1),
            hits AS (SELECT doc_id, count(*) AS nh FROM te
                     WHERE sh IN (SELECT sh FROM tr) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(tot.n_sh, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(hits.nh, 0) AS BIGINT) AS n_hits,
                   round(coalesce(hits.nh, 0) * 1.0
                         / greatest(coalesce(tot.n_sh, 0), 1), 4)
                       AS contamination_frac
            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
            LEFT JOIN tot USING (doc_id) LEFT JOIN hits USING (doc_id)
        """,
        "vocab_topk": """
            SELECT CAST(rank AS INT) AS rank, tok, cnt FROM (
              SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
                     row_number() OVER (ORDER BY count(*) DESC, tok) AS rank
              FROM (SELECT unnest(string_split(text,' ')) AS tok
                    FROM documents)
              WHERE length(tok) > 0 GROUP BY tok)
            WHERE rank <= 100
        """,
        # html_extract: DuckDB 1.0 has no null-on-invalid utf8 decode, so
        # validity is read off the blob cast's \xHH escaping — exact here
        # because every byte >= 0x80 escapes, literal backslashes escape to
        # \x5C, and every valid fixture page is pure ASCII (the engine's
        # is_valid_utf8 agrees on such corpora); decode() is CASE-guarded
        # (lazy per-row, measured). Strip/entity/whitespace chain mirrors
        # parse.HTML_* verbatim.
        "html_extract": f"""
            WITH v AS (
              SELECT url,
                NOT regexp_matches(try_cast(html AS VARCHAR),
                                   '\\\\x[89A-F][0-9A-F]') AS utf8_valid,
                CASE WHEN NOT regexp_matches(try_cast(html AS VARCHAR),
                                             '\\\\x[89A-F][0-9A-F]')
                     THEN decode(html) END AS s
              FROM {_PAGES})
            SELECT url, utf8_valid,
              regexp_extract(s, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
              body,
              CAST(length(body) AS INT) AS body_chars
            FROM (
              SELECT url, utf8_valid, s,
                trim(regexp_replace(
                  replace(replace(replace(replace(replace(replace(
                    regexp_replace(
                      regexp_replace(regexp_replace(regexp_replace(
                        regexp_replace(s,
                        '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
                        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                        '(?s)<!--.*?-->', ' ', 'g'),
                      '<[^>]*>', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                  '[ \\t\\n\\f\\r]+', ' ', 'g')) AS body
              FROM v)
        """,
        # span_dedup_docs: string-span re-derivation of the xxhash64-keyed
        # engine (w=4, the span_dup_stats window contract)
        "span_dedup_docs": """
            WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents),
            s AS (SELECT doc_id, i, array_to_string(toks[i:i+3],' ') AS sp
                  FROM t, unnest(range(1, greatest(len(toks)-4,-1)+2)) AS r(i)),
            f AS (SELECT sp FROM s GROUP BY sp HAVING count(*) >= 2),
            ds AS (SELECT doc_id, i AS st FROM s
                   WHERE sp IN (SELECT sp FROM f)),
            tok AS (SELECT doc_id, unnest(toks) AS tk,
                           unnest(generate_series(1, len(toks))) AS p
                    FROM t),
            kept AS (
              SELECT k.doc_id, k.p, k.tk FROM tok k
              WHERE NOT EXISTS (
                SELECT 1 FROM ds WHERE ds.doc_id = k.doc_id
                AND ds.st <= k.p AND k.p < ds.st + 4))
            SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
                   CAST(len(t.toks) - count(k.p) AS INT) AS n_removed,
                   coalesce(string_agg(k.tk, ' ' ORDER BY k.p), '')
                       AS clean_text
            FROM t LEFT JOIN kept k USING (doc_id)
            GROUP BY t.doc_id, len(t.toks)
        """,
        "corpus_shuffle": f"""
            WITH t AS (SELECT doc_id,
                              md5('shuf42' || CAST(doc_id AS VARCHAR)) AS h
                       FROM documents),
            s AS (SELECT doc_id,
                         CAST(({_HEX8.format(h='h')}) % 8 AS INT) AS shard, h
                  FROM t)
            SELECT doc_id, shard,
                   CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
            FROM s
        """,
        # snapshot_delta: old/new carved by the same md5-bucket arithmetic,
        # canonical chain applied once on the tagged union (CTE names are
        # single-use), old side collapsed by the same max(struct) order
        "snapshot_delta": f"""
            WITH p0 AS (
              SELECT url, text,
                     CAST(({_HEX8.format(h="md5('snap' || url)")}) % 10000
                          AS BIGINT) AS b
              FROM {_PAGES}),
            u AS (
              SELECT 'old' AS side, url, md5(text) AS digest
              FROM p0 WHERE b < 9000
              UNION ALL
              SELECT 'new', url,
                     md5(CASE WHEN b < 4000 THEN text || ' updated'
                              ELSE text END)
              FROM p0 WHERE b >= 2000)
            {{CANON}}
            , ok AS (
              SELECT c AS canon_url, digest AS old_digest FROM (
                SELECT c, digest, row_number() OVER (
                    PARTITION BY c ORDER BY url DESC, digest DESC) AS rn
                FROM canon WHERE side = 'old') WHERE rn = 1)
            SELECT n.url, n.c AS canon_url,
                   CASE WHEN ok.old_digest IS NULL THEN 'new'
                        WHEN ok.old_digest = n.digest THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM (SELECT * FROM canon WHERE side = 'new') n
            LEFT JOIN ok ON ok.canon_url = n.c
        """.replace("{CANON}", _canon_url_steps_sql('u')),
        "lm_buckets": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text,' ')) AS tok
              FROM documents),
            tk AS (SELECT doc_id, tok FROM tok WHERE length(tok) > 0),
            vocab AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
            tot AS (SELECT sum(c) AS n FROM vocab),
            lp AS (SELECT tok, log2(c * 1.0 / n) AS lp FROM vocab, tot),
            sc AS (SELECT doc_id, round(avg(-lp), 4) AS bits_per_token
                   FROM tk JOIN lp USING (tok) GROUP BY doc_id),
            sl AS (SELECT sc.doc_id, d.lang, sc.bits_per_token
                   FROM sc JOIN documents d USING (doc_id)),
            cuts AS (SELECT lang,
                            quantile_cont(bits_per_token, {1.0 / 3!r})
                                AS cut_head,
                            quantile_cont(bits_per_token, {2.0 / 3!r})
                                AS cut_mid
                     FROM sl GROUP BY lang)
            SELECT sl.doc_id, sl.lang, sl.bits_per_token,
                   CASE WHEN sl.bits_per_token <= cut_head THEN 'head'
                        WHEN sl.bits_per_token <= cut_mid THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sl JOIN cuts USING (lang)
        """,
        "corpus_clean_v2": _corpus_clean_v2_sql(),
        "filter_funnel": _filter_funnel_sql(),
        # list lambdas re-derive every signal; chr(8230) is DuckDB's real
        # unicode ellipsis (Spark side embeds the character literal)
        "gopher_signals": """
            WITH t AS (
              SELECT doc_id, text,
                     list_filter(string_split(text, ' '),
                                 t -> t != '') AS toks,
                     list_filter(string_split(text, chr(10)),
                                 l -> l != '') AS lines
              FROM documents),
            s AS (
              SELECT doc_id, text,
                     len(toks) AS nw, greatest(len(toks), 1) AS g1,
                     greatest(len(lines), 1) AS gl,
                     coalesce(list_sum(list_transform(
                         toks, x -> length(x))), 0) AS wlen,
                     len(list_filter(toks,
                         x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
                     len(list_filter(lines,
                         l -> l LIKE '- %' OR l LIKE '* %'
                           OR l LIKE chr(8230) || ' %'
                           OR l LIKE '• %')) AS bullet,
                     len(list_filter(lines,
                         l -> l LIKE '%...'
                           OR l LIKE '%' || chr(8230))) AS elll,
                     (length(text) - length(replace(text, '#', '')))
                     + CAST((length(text)
                             - length(replace(text, '...', ''))) / 3
                            AS INT)
                     + (length(text)
                        - length(replace(text, chr(8230), ''))) AS nsym
              FROM t)
            SELECT doc_id, text,
                   CAST(nw AS BIGINT) AS n_words,
                   round(wlen * 1.0 / g1, 4) AS mean_word_len,
                   round(nsym * 1.0 / g1, 4) AS symbol_ratio,
                   round(bullet * 1.0 / gl, 4) AS bullet_line_frac,
                   round(elll * 1.0 / gl, 4) AS ellipsis_line_frac,
                   round(alpha * 1.0 / g1, 4) AS alpha_word_frac,
                   (nw >= 10 AND nw <= 100000
                    AND round(wlen * 1.0 / g1, 4) >= 3.0
                    AND round(wlen * 1.0 / g1, 4) <= 10.0
                    AND round(nsym * 1.0 / g1, 4) <= 0.1
                    AND round(bullet * 1.0 / gl, 4) <= 0.9
                    AND round(elll * 1.0 / gl, 4) <= 0.3
                    AND round(alpha * 1.0 / g1, 4) >= 0.8)
                       AS gopher_pass
            FROM s
        """,
        # header rebuilt with chr(13)||chr(10) separators; digest over the
        # record's hex expansion (hex(a||b) = hex(a)||hex(b))
        "warc_export": f"""
            WITH d AS (
              SELECT url, html,
                     strftime(warc_ts, '%Y-%m-%dT%H:%M:%SZ') AS ds,
                     chr(13) || chr(10) AS nl
              FROM {_PAGES}),
            m AS (SELECT *, md5(url || '|' || ds) AS h FROM d),
            r AS (
              SELECT url, ds, html, nl,
                     'urn:uuid:' || substr(h, 1, 8) || '-'
                     || substr(h, 9, 4) || '-' || substr(h, 13, 4) || '-'
                     || substr(h, 17, 4) || '-' || substr(h, 21, 12)
                         AS record_id,
                     'WARC/1.0' || nl || 'WARC-Type: response' || nl
                     || 'WARC-Record-ID: <' || 'urn:uuid:'
                     || substr(h, 1, 8) || '-' || substr(h, 9, 4) || '-'
                     || substr(h, 13, 4) || '-' || substr(h, 17, 4) || '-'
                     || substr(h, 21, 12) || '>' || nl
                     || 'WARC-Date: ' || ds || nl
                     || 'WARC-Target-URI: ' || url || nl
                     || 'Content-Type: text/html' || nl
                     || 'Content-Length: '
                     || CAST(octet_length(html) AS VARCHAR)
                     || nl || nl AS hdr
              FROM m)
            SELECT url, record_id, ds AS warc_date,
                   CAST(octet_length(html) AS BIGINT) AS content_length,
                   CAST(octet_length(encode(hdr)) + octet_length(html) + 4
                        AS BIGINT) AS record_len,
                   md5(hex(encode(hdr)) || hex(html)
                       || hex(encode(nl || nl))) AS record_digest
            FROM r
        """,
        # SURT re-derived with list_reverse; digest/shard via md5 over the
        # blob's hex expansion (uppercase in both engines, verified)
        "cdx_index": f"""
            WITH s AS (
              SELECT url, warc_ts, html,
                     array_to_string(list_reverse(string_split(
                         lower(regexp_extract(url,
                             '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)), '.')),
                         ',')
                     || ')' ||
                     lower(regexp_replace(url,
                         '^[a-z][a-z0-9+.-]*://[^/?#]*', '')) AS surt
              FROM {_PAGES})
            SELECT surt, url, warc_ts,
                   md5(hex(html)) AS content_digest,
                   CAST(({_HEX8.format(h="md5(surt)")}) % 64 AS INT)
                       AS shard
            FROM s
        """,
        # postings re-derived with 1-based range indexing shifted to the
        # engine's 0-based posexplode positions; checksum summed in
        # DECIMAL(38,0) from the same 60-bit md5-prefix summands
        "inverted_index": f"""
            WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
                       FROM documents),
            tok AS (SELECT doc_id, toks[i] AS tok, i - 1 AS pos
                    FROM t, unnest(range(1, len(toks) + 1)) AS r(i)
                    WHERE length(toks[i]) > 0),
            p AS (SELECT doc_id, tok, count(*) AS tf,
                         min(pos) AS first_pos
                  FROM tok GROUP BY 1, 2),
            d AS (SELECT tok,
                         CAST(({_HEX15.format(
                             h="md5(tok || '|' || CAST(doc_id AS VARCHAR)"
                               " || '|' || CAST(tf AS VARCHAR) || '|' ||"
                               " CAST(first_pos AS VARCHAR))")})
                             AS BIGINT) AS dg,
                         tf
                  FROM p)
            SELECT tok, CAST(count(*) AS BIGINT) AS df,
                   CAST(sum(tf) AS BIGINT) AS cf,
                   CAST(CAST(sum(dg) AS DECIMAL(38,0)) AS VARCHAR)
                       AS checksum
            FROM d GROUP BY tok
            HAVING count(*) BETWEEN 1 AND 400
        """,
        "lm_bits": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text,' ')) AS tok
              FROM documents),
            tk AS (SELECT doc_id, tok FROM tok WHERE length(tok) > 0),
            vocab AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
            tot AS (SELECT sum(c) AS n FROM vocab),
            lp AS (SELECT tok, log2(c * 1.0 / n) AS lp FROM vocab, tot)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_scored,
                   round(avg(-lp), 4) AS bits_per_token
            FROM tk JOIN lp USING (tok)
            GROUP BY doc_id
        """,
        "lm_ngrams": """
            WITH t AS (
              SELECT list_filter(string_split(text, ' '),
                                 x -> length(x) > 0) AS toks
              FROM documents),
            g AS (
              SELECT unnest(CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1),
                                      i -> array_to_string(toks[i:i+2], ' '))
                     ELSE [] END) AS ngram
              FROM t)
            SELECT ngram, count(*) AS cnt
            FROM g GROUP BY 1 HAVING count(*) >= 2
        """,
        # self-trained stupid backoff: every doc bigram is in the count
        # table by construction, so the backoff branch is provably dead
        # and the oracle scores via the inner join alone
        "lm_bits2": """
            WITH t AS (
              SELECT doc_id, list_filter(string_split(text, ' '),
                                         x -> length(x) > 0) AS toks
              FROM documents),
            tr AS (
              SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
                     unnest(toks[2:len(toks)]) AS w2
              FROM t WHERE len(toks) >= 2),
            dp AS (SELECT doc_id, w1, w2, count(*) AS tc
                   FROM tr GROUP BY 1, 2, 3),
            bg AS (SELECT w1, w2, sum(tc) AS c12 FROM dp GROUP BY 1, 2),
            tok AS (SELECT unnest(string_split(text, ' ')) AS tok
                    FROM documents),
            uni AS (SELECT tok, count(*) AS c FROM tok
                    WHERE length(tok) > 0 GROUP BY 1),
            sc AS (SELECT dp.doc_id, dp.tc,
                          log2(bg.c12 * 1.0 / u1.c) AS lp
                   FROM dp JOIN bg USING (w1, w2)
                   JOIN uni u1 ON u1.tok = dp.w1)
            SELECT doc_id, CAST(sum(tc) AS BIGINT) AS n_scored,
                   round(sum(tc * -lp) / sum(tc), 4) AS bits_per_token
            FROM sc GROUP BY doc_id
        """,
        "bpe_pairs": """
            WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w
                         FROM documents),
            wc AS (SELECT w, count(*) AS c FROM tok
                   WHERE length(w) > 0 GROUP BY 1),
            p AS (
              SELECT unnest(CASE WHEN length(w) >= 2 THEN
                       list_transform(range(1, length(w)),
                         i -> substr(w, i, 1) || ' ' || substr(w, i + 1, 1))
                     ELSE [] END) AS pair, c
              FROM wc)
            SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
            FROM p GROUP BY 1
            ORDER BY cnt DESC, pair ASC LIMIT 200
        """,
        # retention over the SAME transitive-closure cluster graph as
        # dedup_clusters: longest member keeps, doc_id breaks ties
        "cluster_retention": _SHINGLE3_CTE.replace(
            "WITH t AS", "WITH RECURSIVE t AS", 1) + """
            , jp AS (
              SELECT d1, d2 FROM pairs
              JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
              WHERE common * 1.0 / (s1.n + s2.n - common) >= 0.8),
            e AS (SELECT d1 AS src, d2 AS dst FROM jp
                  UNION ALL SELECT d2, d1 FROM jp),
            walk(node, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT w.node, e.dst FROM walk w JOIN e ON e.src = w.lbl),
            cl AS (SELECT node AS doc_id, min(lbl) AS cluster_id
                   FROM walk GROUP BY node),
            m AS (SELECT d.doc_id, cl.cluster_id, length(d.text) AS len
                  FROM documents d JOIN cl USING (doc_id))
            SELECT doc_id, cluster_id,
                   CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                       AS cluster_size,
                   (row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY len DESC, doc_id ASC) = 1)
                       AS keep
            FROM m
        """,
        # temperature mix: thresholds from IEEE-exact sqrt/divide only (no
        # pow — libm ulp differences could flip a floor at a boundary);
        # bucket is the same digit-arithmetic md5 as stratified_sample
        "domain_mix": (lambda coefs: f"""
            WITH p AS (
              SELECT url, split_part(split_part(url, '://', 2), '/', 1)
                         AS domain
              FROM {_PAGES}),
            c AS (SELECT domain, count(*) AS c FROM p GROUP BY 1),
            m AS (SELECT min(c) AS mn FROM c),
            t AS (SELECT domain,
                         CAST(floor(sqrt(CAST(mn AS DOUBLE) / c) * 10000)
                              AS INT) AS mix_thr
                  FROM c, m),
            b AS (
              SELECT url, domain,
                     CAST(CAST(({' + '.join(
                         f"(strpos('0123456789abcdef', substr(md5('mix42' || url), {j + 1}, 1)) - 1) * {c}"
                         for j, c in enumerate(coefs))}) % 10000 AS BIGINT)
                         AS INT) AS mix_bucket
              FROM p)
            SELECT b.url, b.domain, t.mix_thr, b.mix_bucket
            FROM b JOIN t USING (domain)
            WHERE b.mix_bucket < t.mix_thr
        """)([16 ** (7 - j) for j in range(8)]),
        # md5-prefix bucket recomputed digit-by-digit (no conv() in DuckDB);
        # coefficients are exact integer literals
        "stratified_sample": (lambda coefs: f"""
            WITH b AS (
              SELECT doc_id, lang,
                     CAST(({' + '.join(
                         f"(strpos('0123456789abcdef', substr(md5('s42' || CAST(doc_id AS VARCHAR)), {j + 1}, 1)) - 1) * {c}"
                         for j, c in enumerate(coefs))}) % 10000 AS BIGINT)
                         AS sample_bucket
              FROM documents)
            SELECT doc_id, lang, CAST(sample_bucket AS INT) AS sample_bucket
            FROM b
            WHERE sample_bucket < CASE lang
                WHEN 'de' THEN 2500 WHEN 'en' THEN 5000 ELSE 1000 END
        """)([16 ** (7 - j) for j in range(8)]),
        # BM25 with the Lucene idf; ranks computed on the ROUNDED score so
        # float summation order can never flip a rank across engines
        "bm25_topk": f"""
            WITH q(query_id, qtext) AS (VALUES {", ".join(
                f"({qid}, '{qt}')" for qid, qt in BM25_QUERIES)}),
            qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' '))
                       AS tok FROM q),
            t AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                             x -> length(x) > 0) AS toks
                  FROM documents),
            l AS (SELECT doc_id, len(toks) AS dl FROM t),
            st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM l),
            tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            post AS (SELECT p.doc_id, p.tok, count(*) AS tf
                     FROM tok p
                     JOIN (SELECT DISTINCT tok FROM qt) v USING (tok)
                     GROUP BY 1, 2),
            dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY 1),
            idf AS (SELECT tok,
                           ln((st.n_docs - df + 0.5) / (df + 0.5) + 1.0)
                               AS idf
                    FROM dfreq, st),
            contrib AS (
              SELECT qt.query_id, post.doc_id,
                     idf.idf * post.tf * (1.2 + 1.0)
                     / (post.tf
                        + 1.2 * (1 - 0.75 + 0.75 * l.dl / st.avgdl)) AS w
              FROM post JOIN qt USING (tok) JOIN idf USING (tok)
              JOIN l ON l.doc_id = post.doc_id, st),
            sc AS (SELECT query_id, doc_id, round(sum(w), 4) AS score
                   FROM contrib GROUP BY 1, 2),
            r AS (SELECT query_id, doc_id, score,
                         row_number() OVER (
                             PARTITION BY query_id
                             ORDER BY score DESC, doc_id ASC) AS rnk
                  FROM sc)
            SELECT query_id, rnk, doc_id, score FROM r WHERE rnk <= 10
        """,
        # per-source unigram KL vs the corpus distribution, bits
        "domain_kl": """
            WITH tok AS (SELECT source AS domain,
                                unnest(string_split(text, ' ')) AS tok
                         FROM documents),
            tk AS (SELECT domain, tok FROM tok WHERE length(tok) > 0),
            g AS (SELECT domain, tok, count(*) AS gc FROM tk GROUP BY 1, 2),
            gt AS (SELECT domain, CAST(sum(gc) AS BIGINT) AS gn,
                          count(*) AS n_types
                   FROM g GROUP BY 1),
            cc AS (SELECT tok, CAST(sum(gc) AS BIGINT) AS cc
                   FROM g GROUP BY 1),
            ct AS (SELECT CAST(sum(cc) AS BIGINT) AS cn FROM cc),
            term AS (SELECT g.domain, gt.gn, gt.n_types,
                            (g.gc * 1.0 / gt.gn)
                            * log2((g.gc * 1.0 / gt.gn)
                                   / (cc.cc * 1.0 / ct.cn)) AS t
                     FROM g JOIN gt USING (domain) JOIN cc USING (tok), ct)
            SELECT domain, max(gn) AS n_tokens, max(n_types) AS n_types,
                   round(sum(t), 4) AS kl_bits
            FROM term GROUP BY 1
        """,
        # NFC + lower + whitespace canon over the wrapper's messy
        # projection; ́ below is the combining acute (decomposed)
        "normalize_docs": """
            WITH raw AS (
              SELECT doc_id,
                     upper(text) || '  ' || 'CAFE' || chr(769) || '  DU  MONDE' AS t
              FROM documents),
            n AS (SELECT doc_id, t,
                         trim(regexp_replace(lower(nfc_normalize(t)),
                                             '\\s+', ' ', 'g')) AS norm_text
                  FROM raw)
            SELECT doc_id, norm_text, norm_text != t AS changed FROM n
        """,
        # Monroe et al. log-odds z with a corpus-rate Dirichlet prior;
        # rank on the rounded z (tok tie-break), same float contract
        "domain_terms": """
            WITH tok AS (SELECT source AS domain,
                                unnest(string_split(text, ' ')) AS tok
                         FROM documents),
            tk AS (SELECT domain, tok FROM tok WHERE length(tok) > 0),
            g AS (SELECT domain, tok, CAST(count(*) AS DOUBLE) AS cdw
                  FROM tk GROUP BY 1, 2),
            gt AS (SELECT domain, sum(cdw) AS nd FROM g GROUP BY 1),
            cc AS (SELECT tok, sum(cdw) AS cw FROM g GROUP BY 1),
            ct AS (SELECT sum(cw) AS n FROM cc),
            sc AS (
              SELECT g.domain, g.tok,
                     round((
                       ln((g.cdw + 100.0 * cc.cw / ct.n)
                          / (gt.nd + 100.0 - g.cdw
                             - 100.0 * cc.cw / ct.n))
                       - ln(((cc.cw - g.cdw) + 100.0 * cc.cw / ct.n)
                            / ((ct.n - gt.nd) + 100.0 - (cc.cw - g.cdw)
                               - 100.0 * cc.cw / ct.n))
                     ) / sqrt(1.0 / (g.cdw + 100.0 * cc.cw / ct.n)
                              + 1.0 / ((cc.cw - g.cdw)
                                       + 100.0 * cc.cw / ct.n)), 4) AS z
              FROM g JOIN gt USING (domain) JOIN cc USING (tok), ct),
            r AS (SELECT domain, tok, z,
                         row_number() OVER (PARTITION BY domain
                             ORDER BY z DESC, tok ASC) AS rank
                  FROM sc)
            SELECT domain, rank, tok, z FROM r WHERE rank <= 5
        """,
        # prefix-of-global-sort selection under a token budget: doc kept
        # iff its exclusive running total (score desc, doc_id asc) plus its
        # own tokens fits; score = negated lm_bits fluency
        "budget_select": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tk AS (SELECT doc_id, tok FROM tok WHERE length(tok) > 0),
            vocab AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
            tot AS (SELECT sum(c) AS n FROM vocab),
            lp AS (SELECT tok, log2(c * 1.0 / n) AS lp FROM vocab, tot),
            sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                          -round(avg(-lp), 4) AS score
                   FROM tk JOIN lp USING (tok) GROUP BY doc_id),
            r AS (SELECT doc_id, score, n_tokens,
                         coalesce(sum(n_tokens) OVER (
                             ORDER BY score DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cumb
                  FROM sc)
            SELECT doc_id, score, n_tokens,
                   cumb + n_tokens <= 20000 AS selected
            FROM r
        """,
        # window-stride chunking: starts 0, 24, 48... while start < n_toks
        "chunk_docs": """
            WITH t AS (SELECT doc_id,
                              list_filter(string_split(text, ' '),
                                          x -> length(x) > 0) AS toks
                       FROM documents),
            s AS (SELECT doc_id, toks,
                         unnest(range(0, len(toks), 24)) AS chunk_start
                  FROM t WHERE len(toks) > 0)
            SELECT doc_id,
                   chunk_start // 24 AS chunk_id,
                   chunk_start,
                   CAST(len(toks[chunk_start + 1:chunk_start + 32])
                        AS BIGINT) AS n_toks,
                   array_to_string(toks[chunk_start + 1:chunk_start + 32],
                                   ' ') AS chunk_text
            FROM s
        """,
        # html_policy: IDENTICAL RE2-safe patterns as the Spark column
        # (operators/parse.py HTML_ROBOTS_RE etc.); validity via the
        # html_extract blob-escape trick, invalid pages → NULL signals +
        # keep=false (false AND NULL = false in both engines)
        "html_policy": f"""
            WITH v AS (
              SELECT url,
                NOT regexp_matches(try_cast(html AS VARCHAR),
                                   '\\\\x[89A-F][0-9A-F]') AS utf8_valid,
                CASE WHEN NOT regexp_matches(try_cast(html AS VARCHAR),
                                             '\\\\x[89A-F][0-9A-F]')
                     THEN decode(html) END AS s
              FROM {_PAGES}),
            e AS (
              SELECT url, utf8_valid,
                regexp_extract(s,
                  '<meta[^>]*name="robots"[^>]*content="([^"]*)"', 1)
                  AS robots,
                regexp_extract(s,
                  '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1)
                  AS canonical_href,
                regexp_extract(s,
                  '<link[^>]*rel="license"[^>]*href="([^"]*)"', 1)
                  AS license_href
              FROM v)
            SELECT url, utf8_valid, robots,
                   instr(robots, 'noindex') > 0 AS noindex,
                   canonical_href,
                   (canonical_href = '' OR canonical_href = url)
                       AS is_canonical_self,
                   license_href,
                   regexp_matches(license_href,
                       'creativecommons[.]org/(licenses|publicdomain)/')
                       AS cc_licensed,
                   coalesce(utf8_valid
                            AND NOT instr(robots, 'noindex') > 0, FALSE)
                       AS keep
            FROM e
        """,
        # stratum_sample_k: single-window form — the semantics the
        # two-phase engine plan must reproduce exactly
        "stratum_sample_k": """
            SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
              SELECT doc_id, lang, row_number() OVER (
                  PARTITION BY lang
                  ORDER BY md5('evalk42' || CAST(doc_id AS VARCHAR)),
                           doc_id) AS rk
              FROM documents)
            WHERE rk <= 50
        """,
        # export_manifest: md5-prefix digit arithmetic for both the shard
        # (8 hex digits mod n_shards) and the 60-bit content digest;
        # checksum summed in DECIMAL(38,0) like the engine
        "export_manifest": f"""
            WITH d AS (
              SELECT
                CAST(({_HEX8.format(
                    h="md5('shuf42' || CAST(doc_id AS VARCHAR))")}) % 8
                    AS INT) AS shard,
                CAST(({_HEX15.format(
                    h="md5(CAST(doc_id AS VARCHAR) || '|' || text)")})
                    AS BIGINT) AS dg,
                CAST(len(list_filter(string_split(text, ' '),
                                     x -> length(x) > 0)) AS BIGINT) AS t,
                CAST(length(text) AS BIGINT) AS c
              FROM documents)
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(t) AS BIGINT) AS n_tokens,
                   CAST(sum(c) AS BIGINT) AS n_chars,
                   CAST(CAST(sum(dg) AS DECIMAL(38,0)) AS VARCHAR)
                       AS checksum
            FROM d GROUP BY shard
        """,
        # training_export: budget_select's CTE chain picks the kept ids,
        # export_manifest's digit arithmetic summarizes exactly those docs
        "training_export": f"""
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tk AS (SELECT doc_id, tok FROM tok WHERE length(tok) > 0),
            vocab AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1),
            tot AS (SELECT sum(c) AS n FROM vocab),
            lp AS (SELECT tok, log2(c * 1.0 / n) AS lp FROM vocab, tot),
            sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                          -round(avg(-lp), 4) AS score
                   FROM tk JOIN lp USING (tok) GROUP BY doc_id),
            r AS (SELECT doc_id, n_tokens,
                         coalesce(sum(n_tokens) OVER (
                             ORDER BY score DESC, doc_id ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cumb
                  FROM sc),
            kept AS (SELECT d.doc_id, d.text FROM documents d
                     JOIN r USING (doc_id)
                     WHERE r.cumb + r.n_tokens <= 20000),
            m AS (
              SELECT
                CAST(({_HEX8.format(
                    h="md5('shuf42' || CAST(doc_id AS VARCHAR))")}) % 8
                    AS INT) AS shard,
                CAST(({_HEX15.format(
                    h="md5(CAST(doc_id AS VARCHAR) || '|' || text)")})
                    AS BIGINT) AS dg,
                CAST(len(list_filter(string_split(text, ' '),
                                     x -> length(x) > 0)) AS BIGINT) AS t,
                CAST(length(text) AS BIGINT) AS c
              FROM kept)
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(t) AS BIGINT) AS n_tokens,
                   CAST(sum(c) AS BIGINT) AS n_chars,
                   CAST(CAST(sum(dg) AS DECIMAL(38,0)) AS VARCHAR)
                       AS checksum
            FROM m GROUP BY shard
        """,
        # vocab_coverage: same tokenization + per-doc distinct counts as
        # the engine; the top-500 vocab re-derived with the vocab_topk
        # tie-break (cnt desc, tok asc)
        "vocab_coverage": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            tk AS (SELECT doc_id, tok, count(*) AS cnt FROM tok
                   WHERE length(tok) > 0 GROUP BY 1, 2),
            cn AS (SELECT tok, sum(cnt) AS c FROM tk GROUP BY tok),
            v AS (SELECT tok FROM cn
                  QUALIFY row_number() OVER (ORDER BY c DESC, tok) <= 500)
            SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN tok NOT IN (SELECT tok FROM v)
                            THEN cnt ELSE 0 END) AS BIGINT) AS n_oov,
                   round(sum(CASE WHEN tok NOT IN (SELECT tok FROM v)
                             THEN cnt ELSE 0 END) * 1.0 / sum(cnt), 4)
                       AS oov_frac
            FROM tk GROUP BY doc_id
        """,
        # containment_pairs: doc_winnow's selection CTEs feed the exploded
        # fingerprint self-join; containment on least(n1, n2)
        "containment_pairs": """
            WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks
                       FROM documents),
            g AS (SELECT doc_id,
                    CASE WHEN len(toks) >= 4 THEN
                      [md5(array_to_string(toks[i:i+3],' '))
                       FOR i IN range(1, len(toks)-4+2)]
                    ELSE [md5(text)] END AS grams
                  FROM t),
            s AS (SELECT doc_id,
                    list_distinct(
                      [list_min(grams[j:j+least(5,len(grams))-1])
                       FOR j IN range(1, greatest(len(grams)-5+1,1)+1)]) AS sel
                  FROM g),
            fp0 AS (SELECT doc_id, CAST(len(sel) AS INT) AS n_fp,
                           unnest(sel) AS fp
                    FROM s),
            -- max_df=100 guardrail, mirrored from cap_buckets: drop
            -- fingerprints held by >100 docs before the self-join
            fp AS (SELECT * FROM fp0
                   WHERE fp IN (SELECT fp FROM fp0
                                GROUP BY fp HAVING count(*) <= 100))
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(count(*) AS BIGINT) AS shared,
                   a.n_fp AS n1, b.n_fp AS n2,
                   round(count(*) * 1.0 / least(a.n_fp, b.n_fp), 4)
                       AS containment
            FROM fp a JOIN fp b USING (fp)
            WHERE a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id, a.n_fp, b.n_fp
            HAVING round(count(*) * 1.0 / least(a.n_fp, b.n_fp), 4) >= 0.5
        """,
        # link graph: all four share _LINKS_CTE (utf8 gate + lockstep
        # unnest of the identical anchor pattern's two capture groups)
        "link_extract": _LINKS_CTE.format(pages=_PAGES) + """
            SELECT src_url, src_domain, dst_url, dst_domain, anchor,
                   (dst_domain = '' OR dst_domain = src_domain)
                       AS is_internal
            FROM links
        """,
        "link_degrees": _LINKS_CTE.format(pages=_PAGES) + """,
            o AS (SELECT src_domain AS domain,
                         count(*) AS out_degree,
                         sum(n_links) AS n_outlinks
                  FROM g GROUP BY 1),
            i AS (SELECT dst_domain AS domain,
                         count(*) AS in_degree,
                         sum(n_links) AS n_inlinks
                  FROM g GROUP BY 1)
            SELECT coalesce(o.domain, i.domain) AS domain,
                   CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
                   CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree,
                   CAST(coalesce(n_outlinks, 0) AS BIGINT) AS n_outlinks,
                   CAST(coalesce(n_inlinks, 0) AS BIGINT) AS n_inlinks
            FROM o FULL OUTER JOIN i ON o.domain = i.domain
        """,
        "domain_pagerank": _pagerank_oracle(_PAGES, iters=3),
        "anchor_topk": _LINKS_CTE.format(pages=_PAGES) + """,
            t AS (SELECT dst_domain,
                         unnest(string_split(anchor, ' ')) AS term
                  FROM ext),
            cn AS (SELECT dst_domain, term, count(*) AS n
                   FROM t WHERE term <> '' GROUP BY 1, 2)
            SELECT dst_domain, term, n, CAST(rnk AS INT) AS rnk FROM (
              SELECT *, row_number() OVER (
                  PARTITION BY dst_domain ORDER BY n DESC, term) AS rnk
              FROM cn)
            WHERE rnk <= 5
        """,
        "hits_scores": _hits_oracle(_PAGES, iters=3),
        "host_components": _LINKS_CTE.replace(
            "WITH v AS", "WITH RECURSIVE v AS", 1).format(pages=_PAGES) + """,
            ed AS (SELECT least(src_domain, dst_domain) AS d1,
                          greatest(src_domain, dst_domain) AS d2
                   FROM g WHERE src_domain <> dst_domain GROUP BY 1, 2),
            eu AS (SELECT d1 AS src, d2 AS dst FROM ed
                   UNION ALL SELECT d2, d1 FROM ed),
            nodes AS (SELECT DISTINCT domain FROM (
                        SELECT src_domain AS domain FROM g
                        UNION ALL SELECT dst_domain FROM g)),
            walk(node, lbl) AS (
              SELECT domain, domain FROM nodes
              UNION
              SELECT w.node, eu.dst FROM walk w JOIN eu ON eu.src = w.lbl),
            lab AS (SELECT node AS domain, min(lbl) AS component_id
                    FROM walk GROUP BY node),
            sz AS (SELECT component_id, count(*) AS component_size
                   FROM lab GROUP BY 1)
            SELECT lab.domain, lab.component_id,
                   CAST(sz.component_size AS BIGINT) AS component_size
            FROM lab JOIN sz USING (component_id)
        """,
        "crawl_frontier": _LINKS_CTE.format(pages=_PAGES) + f""",
            crawled AS (SELECT domain FROM (
                          SELECT DISTINCT
                            regexp_extract(url, '{_URLDOM_RE_SQL}', 1)
                              AS domain
                          FROM {_PAGES})
                        WHERE substr(md5(domain), 1, 1) < '8')
            SELECT dst_domain AS domain,
                   CAST(count(DISTINCT src_domain) AS BIGINT)
                       AS n_ref_domains,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT anchor) AS BIGINT) AS n_anchor_terms
            FROM ext
            WHERE dst_domain NOT IN (SELECT domain FROM crawled)
            GROUP BY 1
            ORDER BY n_ref_domains DESC, n_links DESC, domain ASC
            LIMIT 25
        """,
        "host_quality": _HOST_QUALITY_SQL,
        "trust_scores": _trustrank_oracle(_PAGES, iters=3),
        # redirect_resolve: step-at-a-time recursive walk over the same
        # min(dst)-collapsed canonical edge map, capped at 16 hops (= the
        # engine's 2^4 doubling rounds); the max-hops row per src is the
        # engine's pointer position, cyclic iff it still has an outgoing
        # edge — identical even on loops/rho tails (both engines advance
        # exactly min(16, distance-to-terminal) steps)
        "redirect_resolve": f"""
            WITH RECURSIVE v AS (
              SELECT url,
                CASE WHEN NOT regexp_matches(try_cast(html AS VARCHAR),
                                             '\\\\x[89A-F][0-9A-F]')
                     THEN decode(html) END AS s
              FROM {_PAGES}),
            e0 AS (
              SELECT url AS src,
                     regexp_extract(s,
                       '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1)
                       AS dst
              FROM v WHERE s IS NOT NULL),
            fn AS (SELECT src, min(dst) AS dst FROM e0
                   WHERE dst <> '' AND dst <> src GROUP BY src),
            walk(src, ptr, hops) AS (
              SELECT src, dst, 1 FROM fn
              UNION ALL
              SELECT w.src, f.dst, w.hops + 1
              FROM walk w JOIN fn f ON f.src = w.ptr
              WHERE w.hops < 16),
            last AS (
              SELECT src, ptr, hops FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY src ORDER BY hops DESC) AS rn
                FROM walk) WHERE rn = 1)
            SELECT src, ptr AS final_url, CAST(hops AS BIGINT) AS hops,
                   ptr IN (SELECT src FROM fn) AS cyclic
            FROM last
        """,
        # robots_filter: the oracle does NOT parse — it re-derives the
        # ground-truth verdicts from the same md5(host) arithmetic the
        # query used to SYNTHESIZE the robots bodies, so any parse /
        # record-grouping / precedence bug in the engine mismatches.
        # Rules per host: d%3==0 -> Disallow /p/ + Allow /p/1 (longest
        # match wins, allow breaks nothing here — /p/1* is allowed, other
        # /p/* denied); /private/ always denied (matches no page url);
        # d%2==0 -> Crawl-delay d%5+1; the evilbot/badbot record is
        # invisible to agent '*'
        "robots_filter": _ROBOTS_UH_SQL + f"""
            SELECT url, host,
                   {_ROBOTS_ALLOWED_SQL} AS allowed,
                   {_ROBOTS_DELAY_SQL} AS crawl_delay
            FROM h
        """,
        # weighted_sample: identical A-ES arithmetic — u from the same
        # md5 hex digits, selection key ln(u)/w in log space, same
        # (es_key DESC, doc_id) tiebreak and k
        "weighted_sample": f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
                     (({_HEX8.format(
                         h="md5('ws42' || CAST(doc_id AS VARCHAR))")})
                      + 0.5) / 4294967296.0 AS u
              FROM documents)
            SELECT doc_id, w, round(ln(u) / w, 8) AS es_key
            FROM t WHERE w > 0
            ORDER BY es_key DESC, doc_id
            LIMIT 100
        """,
        "lang_segments": _lang_segments_sql(),
        "ann_pq_topk": _pq_oracle(),
        "ann_ivfpq_topk": _ivfpq_oracle(),
        # cocitation: same distinct-edge base, fan-out cap, pair agg, and
        # Jaccard denominator as the engine
        "cocitation_pairs": _LINKS_CTE.format(pages=_PAGES) + """,
            ed AS (SELECT DISTINCT src_domain, dst_domain FROM g),
            hot AS (SELECT src_domain FROM ed
                    GROUP BY 1 HAVING count(*) > 1000),
            e2 AS (SELECT * FROM ed WHERE src_domain NOT IN
                     (SELECT src_domain FROM hot)),
            ind AS (SELECT dst_domain AS d, count(*) AS deg
                    FROM e2 GROUP BY 1),
            cm AS (SELECT a.dst_domain AS d1, b.dst_domain AS d2,
                          count(*) AS n_common
                   FROM e2 a JOIN e2 b
                     ON a.src_domain = b.src_domain
                    AND a.dst_domain < b.dst_domain
                   GROUP BY 1, 2 HAVING count(*) >= 2)
            SELECT d1, d2, CAST(n_common AS BIGINT) AS n_common,
                   round(n_common * 1.0
                         / (g1.deg + g2.deg - n_common), 6) AS jaccard
            FROM cm JOIN ind g1 ON g1.d = cm.d1
                    JOIN ind g2 ON g2.d = cm.d2
        """,
        # crawl_plan: robots ground truth (md5 arithmetic) -> allowed urls
        # -> the crawl_schedule window shape -> eta = wave * delay
        "crawl_plan": _ROBOTS_UH_SQL + f"""
            , al AS (
              SELECT url, host AS domain,
                     coalesce({_ROBOTS_DELAY_SQL}, 1.0) AS delay
              FROM h
              WHERE {_ROBOTS_ALLOWED_SQL}),
            t AS (SELECT url, domain, delay,
                         CAST(({_HEX8.format(h="md5(url)")}) % 16 AS INT)
                           AS bucket
                  FROM al),
            s AS (SELECT url, domain, delay, bucket,
                         CAST((row_number() OVER (
                                 PARTITION BY domain, bucket
                                 ORDER BY url) - 1) * 16 + bucket
                              AS BIGINT) AS fetch_seq
                  FROM t)
            SELECT url, domain, fetch_seq, fetch_seq AS wave,
                   round(fetch_seq * delay, 6) AS eta_sec
            FROM s
        """,
        # recrawl_policy: the snapshot_delta bucket carving, per-host
        # change fraction, quadratic interval with the same clamps
        "recrawl_policy": f"""
            WITH p0 AS (
              SELECT url, text,
                     CAST(({_HEX8.format(h="md5('snap' || url)")}) % 10000
                          AS BIGINT) AS b
              FROM {_PAGES}),
            od AS (SELECT url, md5(text) AS old_d FROM p0 WHERE b < 9000),
            nd AS (SELECT url,
                          regexp_extract(url, '{_URLDOM_RE_SQL}', 1)
                            AS domain,
                          md5(CASE WHEN b < 4000 THEN text || ' updated'
                                   ELSE text END) AS new_d
                   FROM p0 WHERE b >= 2000),
            j AS (SELECT nd.domain, nd.new_d, od.old_d
                  FROM nd LEFT JOIN od ON od.url = nd.url),
            a AS (SELECT domain,
                         count(*) AS n_urls,
                         sum(CASE WHEN old_d IS NOT NULL
                                  AND old_d <> new_d THEN 1 ELSE 0 END)
                           AS n_changed,
                         greatest(sum(CASE WHEN old_d IS NOT NULL
                                           THEN 1 ELSE 0 END), 1) AS n_old
                  FROM j GROUP BY domain)
            SELECT domain, CAST(n_urls AS BIGINT) AS n_urls,
                   CAST(n_changed AS BIGINT) AS n_changed,
                   round(n_changed * 1.0 / n_old, 6) AS change_frac,
                   CAST(greatest(floor(16 * (1.0 - n_changed * 1.0 / n_old)
                                          * (1.0 - n_changed * 1.0 / n_old)),
                                 1) AS BIGINT) AS interval
            FROM a
        """,
        "bpe_train": _bpe_train_oracle("documents", merges=4),
        "quality_lr": _quality_lr_oracle("documents", steps=3),
        "quality_lr_eval": _quality_lr_oracle("documents", steps=3,
                                              final="eval"),
        "bpe_encode": _bpe_encode_oracle("documents", merges=4, head=12),
        "mm_phash": _mm_phash_sql(),
        "caption_filter": _caption_filter_sql(tau=0.35),
        "hybrid_rrf_topk": _hybrid_rrf_sql(k=10, k_leg=20, kc=60),
        "embed_docs": _embed_docs_sql(dim=64),
        "quality_pr_curve": _quality_lr_oracle("documents", steps=3,
                                               final="curve"),
        "text_near_pairs": _text_near_pairs_sql(dim=64, threshold=0.95),
        "hll_distinct": _hll_distinct_sql(),
        "cms_heavy_hitters": _cms_heavy_hitters_sql(),
        "kmv_domain_sim": _kmv_domain_sim_sql(),
        "sampled_quantiles": _sampled_quantiles_sql(),
        "bucketed_domain_join": _bucketed_domain_join_sql(),
        "manifest_prune": _manifest_prune_sql(),
        # DoReMi-style softmax over the domain_kl CTE chain: same 4dp KL
        # inputs, same eta/eps literals, 6dp weights, floor token budgets
        "domain_reweight": """
            WITH tok AS (SELECT source AS domain,
                                unnest(string_split(text, ' ')) AS tok
                         FROM documents),
            tk AS (SELECT domain, tok FROM tok WHERE length(tok) > 0),
            g AS (SELECT domain, tok, count(*) AS gc FROM tk GROUP BY 1, 2),
            gt AS (SELECT domain, CAST(sum(gc) AS BIGINT) AS gn,
                          count(*) AS n_types
                   FROM g GROUP BY 1),
            cc AS (SELECT tok, CAST(sum(gc) AS BIGINT) AS cc
                   FROM g GROUP BY 1),
            ct AS (SELECT CAST(sum(cc) AS BIGINT) AS cn FROM cc),
            term AS (SELECT g.domain, gt.gn,
                            (g.gc * 1.0 / gt.gn)
                            * log2((g.gc * 1.0 / gt.gn)
                                   / (cc.cc * 1.0 / ct.cn)) AS t
                     FROM g JOIN gt USING (domain) JOIN cc USING (tok), ct),
            kl AS (SELECT domain, max(gn) AS n_tokens,
                          round(sum(t), 4) AS excess_bits
                   FROM term GROUP BY 1),
            e AS (SELECT *, exp(1.0 * excess_bits) AS w FROM kl),
            tot AS (SELECT sum(w) AS s, CAST(sum(n_tokens) AS BIGINT) AS n,
                           count(*) AS k FROM e)
            SELECT domain, n_tokens, excess_bits,
                   round(0.8 * w / s + 0.2 / k, 6) AS weight,
                   CAST(floor(round(0.8 * w / s + 0.2 / k, 6) * n)
                        AS BIGINT) AS epoch_tokens
            FROM e, tot
        """,
        "robots_sitemaps": _ROBOTS_UH_SQL + """
            , hosts AS (SELECT DISTINCT host, dv FROM h)
            SELECT host, 'https://' || host || '/root.xml' AS sitemap_url
            FROM hosts WHERE dv % 5 = 0
            UNION
            SELECT host, 'https://' || host || '/pages.xml' AS sitemap_url
            FROM hosts WHERE dv % 4 = 0
        """,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB oracles for the driver-graded contract — same rotation as
    :func:`queries`, so every contract row has its matching oracle."""
    base = _oracle_registry()
    extra = _baseline_oracle_registry()
    out = {k: v for k, v in base.items() if k not in _ROTATE_OUT}
    out.update({k: extra[k] for k in _ROTATE_IN})
    return out


def baseline_oracle_sql() -> dict[str, str]:
    """Value oracles for :func:`baseline_queries` (same DuckDB dialect/views
    as :func:`oracle_sql`; consumed by driver_sim and pytest, not the driver)."""
    base = _oracle_registry()
    extra = _baseline_oracle_registry()
    out = {k: v for k, v in extra.items() if k not in _ROTATE_IN}
    out.update({k: base[k] for k in _ROTATE_OUT})
    return out
