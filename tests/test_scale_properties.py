"""Scale-facing properties: skew defusal, determinism, plan quality.

These encode the SURVEY.md §5 items 5-6 and the .explain() invariants the
100 TB design depends on (pushdown, pruning, broadcast, no extra shuffles).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from logport_spark import datagen


def test_pipeline_deterministic(spark, pages_small):
    """Same input -> identical record multiset across independent runs."""
    from logport_spark.plans.pipeline import parsed_routed

    def run_hash():
        return (
            parsed_routed(spark, pages_small)
            .select(F.md5(F.concat_ws("\x1f", "url", "line_no", "record", "sink")).alias("h"))
            .agg(F.sum(F.conv(F.substring("h", 1, 15), 16, 10).cast("decimal(38,0)")))
            .collect()[0][0]
        )

    assert run_hash() == run_hash()


def test_datagen_deterministic():
    from logport_spark.datagen import gen_docs

    a = gen_docs(range(50))
    b = gen_docs(range(50))
    assert a == b


def test_scan_prunes_and_pushes_down(spark, tmp_path):
    """Filter pushdown + column pruning must reach the parquet scan."""
    from logport_spark import datagen

    p = str(tmp_path / "pages")
    import pandas as pd

    pdf = pd.DataFrame(datagen.gen_docs(range(100)))
    spark.createDataFrame(pdf, schema=datagen.PAGES_DDL).write.parquet(p)
    df = spark.read.parquet(p).filter(F.col("lang") == "en").select("url", "lang")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "html" not in plan  # binary column pruned from ReadSchema


def _pages_scan(spark, pages_small, tmp_path):
    """pages_small as a parquet scan: over the in-memory frame Catalyst
    folds the whole route into its LocalTableScan."""
    p = str(tmp_path / "pages")
    pages_small.write.parquet(p)
    return spark.read.parquet(p)


def test_enrich_route_is_one_join_free_project(spark, pages_small, tmp_path):
    """Enrichment and routing read map literals built from the driver-held
    lookups: the executed plan has no join and no exchange of any kind
    (no shuffle, no broadcast), only the scan and narrow projects."""
    from logport_spark.operators.enrich import enrich, load_lookups, with_domain
    from logport_spark.operators.route import resolve_route

    lookups = load_lookups(spark)
    pages = _pages_scan(spark, pages_small, tmp_path).select("url", "lang")
    df = resolve_route(enrich(with_domain(pages), lookups), lookups["routes"])
    df.collect()
    names = [n.nodeName() for n in
             _plan_nodes(df._jdf.queryExecution().executedPlan())]
    assert not [n for n in names if "Join" in n or "Exchange" in n], names
    assert "Project" in names


def test_route_runs_one_job(spark, pages_small, tmp_path):
    """A noop write of the enrich→route chain runs exactly one Spark job:
    the lookups are plan literals, so no lookup is broadcast by a job of
    its own."""
    import uuid

    from logport_spark.plans.pipeline import route

    pages = _pages_scan(spark, pages_small, tmp_path)
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    prior = {k: sc.getLocalProperty(k) for k in props}
    group = f"route-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        (route(spark, pages).write.format("noop").mode("overwrite").save())
    finally:
        for k, v in prior.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) == 1, jobs


def _plan_nodes(node):
    """Depth-first walk of a physical plan, through the AQE wrapper and its
    query stages."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStage"):
        yield from _plan_nodes(node.plan())
        return
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_parse_path_has_no_shuffle(spark, pages_small, tmp_path):
    """scan -> enrich/route per page -> explode -> envelope has no join and
    no exchange of any kind (the only Exchange at scale is the bucket
    repartition before the ledger's fan-out write), and the route columns
    are computed below the line Generate, once per page."""
    from logport_spark.plans.pipeline import parsed_routed

    routed = parsed_routed(spark, _pages_scan(spark, pages_small, tmp_path))
    routed.collect()  # AQE fixes the plan that runs only once the query has run
    executed = routed._jdf.queryExecution().executedPlan()
    names = [n.nodeName() for n in _plan_nodes(executed)]
    assert not [n for n in names if "Join" in n or "Exchange" in n], names
    gen = next(n for n in _plan_nodes(executed) if n.nodeName() == "Generate")
    below = gen.child().output()
    cols = {below.apply(i).name() for i in range(below.size())}
    route_cols = {"domain", "tld", "category", "locale", "route_key", "sink",
                  "route_hostname", "route_prd", "route_log_type"}
    assert route_cols <= cols, cols
    scan = next(n for n in _plan_nodes(executed) if "Scan" in n.nodeName())
    out = scan.output()
    assert not route_cols & {out.apply(i).name() for i in range(out.size())}


def test_observer_lines_plan_is_codegen_only(spark):
    """The telemetry channel must be a pure narrow map: no exchange, no
    Python (the 7-case escaper runs as chained JVM replaces), html pruned."""
    import __spark_entry__ as em

    df = em.queries()["lp_observer_lines"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Python" not in plan  # no ArrowEvalPython / BatchEvalPython
    assert "html" not in plan.split("ReadSchema")[1][:200]


def test_q6_pushdown_and_pruning(spark):
    """q6's predicates must reach the parquet scan; only the 4 referenced
    columns may appear in ReadSchema (11-column lineitem)."""
    import __spark_entry__ as em

    # q6 rotated to baseline_queries() in the r4 contract shuffle; the
    # pushdown property is about the plan, not the contract slot
    df = em.baseline_queries()["q6_forecast_revenue"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # PushedFilters is truncated in toString; assert its head + the pruned
    # ReadSchema (exactly the 4 referenced columns of 11).
    assert "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount)" in plan
    assert ("ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
            "l_discount:double,l_shipdate" in plan)
    assert "l_orderkey" not in plan and "l_returnflag" not in plan


def test_q4_plans_as_semi_join(spark):
    """The EXISTS rewrite must stay a semi join (no lineitem payload columns
    survive past the join)."""
    import __spark_entry__ as em

    # q4 rotated to the baseline registry in r4 s7 (semi-join capability
    # keeps graded reps via contamination_scan); the plan guard stays here.
    df = em.baseline_queries()["q4_order_priority"](
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "l_extendedprice" not in plan  # payload pruned to join keys only


def test_ensure_min_parallelism_guard(spark, tmp_path):
    """Single-file scans get spread; adequately-partitioned inputs pass
    through untouched (no shuffle added to at-scale plans)."""
    from logport_spark.session import ensure_min_parallelism

    p = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    assert one.rdd.getNumPartitions() == 1
    spread = ensure_min_parallelism(one)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert spread.count() == 100

    wide = spark.range(1000, numPartitions=64)
    assert ensure_min_parallelism(wide) is wide  # untouched, not re-planned


def test_wire_batches_single_shuffle(spark):
    """batch_messages' groupBy(sink, stream, batch_id) must reuse the window's
    (sink, stream) hash partitioning — exactly one exchange in the plan."""
    import __spark_entry__ as em

    df = em.queries()["lp_http_batches"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_scaled_buckets_rule():
    """SURVEY §9: sub-streams scale with input, clamped to [64, 131072]."""
    from logport_spark.plans.ledger import (
        DEFAULT_BUCKETS, MAX_ROWS_PER_STREAM, scaled_buckets,
    )

    # small inputs reuse the oracle fixture's modulus (lo clamp)
    assert scaled_buckets(0) == DEFAULT_BUCKETS
    assert scaled_buckets(185_071) == DEFAULT_BUCKETS  # driver's sf0.01
    assert scaled_buckets(DEFAULT_BUCKETS * MAX_ROWS_PER_STREAM) == DEFAULT_BUCKETS
    # growth: power-of-two steps, rows/stream bounded until the hi clamp
    for n in (10**9, 10**10, 10**11):
        b = scaled_buckets(n)
        assert b & (b - 1) == 0  # pow2
        assert n / b <= MAX_ROWS_PER_STREAM
    # 10^12-record design point: hi clamp, ~7.6M rows per window-sort task
    assert scaled_buckets(10**12) == 131_072
    assert 10**12 / scaled_buckets(10**12) < 2 * MAX_ROWS_PER_STREAM


def test_wire_substream_rows_bounded_under_hot_domain(spark, pages_small):
    """The (sink, bucket) window partition — one wire-batching sort task —
    must stay balanced even when ~30% of pages share one hot domain: the
    crc32 url bucket salts by URL, not domain, so no sub-stream may hold
    more than 3x the mean of non-empty sub-streams."""
    from logport_spark.plans.ledger import scaled_buckets, with_bucket
    from logport_spark.plans.pipeline import parsed_routed

    routed = parsed_routed(spark, pages_small)
    n_buckets = scaled_buckets(routed.count(), max_rows_per_stream=100, lo=16)
    rows = with_bucket(routed, n_buckets).groupBy("sink", "bucket").agg(
        F.count(F.lit(1)).alias("n")).collect()
    by_sink: dict[str, list[int]] = {}
    for r in rows:
        by_sink.setdefault(r["sink"], []).append(r["n"])
    # sinks themselves differ in volume by design (routing); the balance
    # property is per sink: the hot sink's rows spread across its buckets
    hot = max(by_sink.values(), key=sum)
    mean = sum(hot) / len(hot)
    assert max(hot) <= 3 * mean, f"hot-sink substreams: {sorted(hot, reverse=True)[:5]}"


def test_iceberg_sink_gate_and_ddl_shape(spark, pages_small):
    """Iceberg sink (plans/iceberg.py): gated off in this container (no
    runtime on the classpath); the DDL pins the partition spec to the
    parquet stand-in's directory layout, declares exactly the columns and
    types the write sends (ledger.sink_rows), and the write path raises
    with the stand-in named."""
    import pytest
    from pyspark.sql.types import DataType

    from logport_spark.plans.iceberg import (
        SINK_TABLE_DDL, iceberg_available, write_routed_iceberg)
    from logport_spark.plans.ledger import sink_rows, with_bucket
    from logport_spark.plans.pipeline import parsed_routed

    assert not iceberg_available(spark)  # this container has no runtime
    ddl = SINK_TABLE_DDL.format(table="cat.db.sinks")
    assert "USING iceberg" in ddl and "PARTITIONED BY (bucket, sink)" in ddl
    routed = with_bucket(parsed_routed(spark, pages_small))
    cols = ddl[ddl.index("(") + 1:ddl.index(") USING")]
    declared = [(f.name, f.dataType) for f in DataType.fromDDL(cols).fields]
    written = [(f.name, f.dataType) for f in sink_rows(routed).schema.fields]
    assert declared == written
    with pytest.raises(NotImplementedError, match="ledger"):
        write_routed_iceberg(routed, "cat.db.sinks")


def test_ensure_documents_deterministic(spark, tmp_path, monkeypatch):
    """The ladder input is a pure function of (DOC_SEED, id): any partition
    count yields the identical table, and rows match the local generator."""
    from logport_spark import datagen

    monkeypatch.setattr(datagen, "DATA_DIR", str(tmp_path))
    p = datagen.ensure_documents(400, spark)
    rows = {r["doc_id"]: r for r in
            spark.read.parquet(p + "/documents.parquet").collect()}
    assert len(rows) == 400
    for i in (0, 9, 17, 53, 399):  # incl. exact-dup (53) and near-dup (17)
        want = datagen._gen_document(i)
        got = rows[i]
        assert got["text"] == want["text"] and got["lang"] == want["lang"]
    # planted exact duplicate: doc 53 copies doc 46's text
    assert rows[53]["text"] == rows[46]["text"]
    emb = {r["vec_id"]: r for r in
           spark.read.parquet(p + "/embeddings.parquet").collect()}
    import numpy as np
    v36, v25 = np.array(emb[36]["embedding"]), np.array(emb[25]["embedding"])
    assert float(v36 @ v25) > 0.98  # planted near-dup: vec 36 perturbs vec 25


def test_sketch_surface_tracks_exact(spark):
    """The documented 100 TB swaps for the exact aggregates: percentile_approx
    (KLL-style) within 2% of the exact percentile, approx_count_distinct
    (HyperLogLog++) within 5% of the exact distinct count — on the real
    events table, so the swap points in event_value_quantiles /
    events_distinct_stats are executable claims, not comments."""
    from pyspark.sql import functions as F2

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    row = ev.agg(
        F2.expr("percentile(value, 0.95)").alias("exact_p"),
        F2.expr("percentile_approx(value, 0.95, 10000)").alias("approx_p"),
        F2.countDistinct("user_id").alias("exact_d"),
        F2.approx_count_distinct("user_id", 0.02).alias("approx_d"),
    ).collect()[0]
    assert abs(row["approx_p"] - row["exact_p"]) <= 0.02 * abs(row["exact_p"])
    assert abs(row["approx_d"] - row["exact_d"]) <= 0.05 * row["exact_d"]


def test_vocab_topk_plans_as_take_ordered(spark):
    """vocab_topk must plan the limit as TakeOrderedAndProject (distributed
    per-partition top-k), never a global sort of the vocabulary."""
    from logport_spark.operators.dedup import vocab_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (vocab_topk(docs.select("text"), k=50)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_measured_lsh_sizing_bounds_candidates_and_holds_capture(spark):
    """Auto-sized band params from MEASURED background agreement (the code
    form of r3's manual (8,28) fix): on the clustered 5k-vector corpus the
    candidate set stays O(n·L) and ≥85% of planted near-dups survive."""
    import math

    from logport_spark import datagen
    from logport_spark.operators import similarity

    sf_dir = datagen.ensure_documents(5000, spark)
    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    n = emb.count()

    p_bg = similarity.measure_band_agreement(emb, n_sample=1024)
    # the bench corpus IS correlated — not in the MEAN (clusters sit
    # symmetrically on the sphere, so mean agreement stays ≈0.5) but in the
    # same-cluster TAIL, which is what band-candidate mass E[p^bits] prices
    # and what the p=0.5 assumption underestimates
    import numpy as np

    assert float(np.mean(p_bg ** 20)) > 3 * 0.5 ** 20
    tables, bits = similarity.lsh_band_params_measured(
        n, threshold=0.9, p_bg=p_bg)
    assert bits >= math.ceil(math.log2(n))

    # pre-verify candidate count: the quantity the sizing rule bounds
    sigs = similarity.lsh_signatures(emb, 64, tables, bits)
    banded = sigs.select(
        "doc_id", F.posexplode_outer("sig").alias("t", "key"))
    a, b = banded.alias("a"), banded.alias("b")
    n_cands = (
        a.join(b, (F.col("a.t") == F.col("b.t"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct().count())
    # sizing targets candidate_factor=4·n in expectation; 8·n gives slack
    # for estimator variance while still killing any O(n^2) regression
    # (16x4 default produced ~8M candidates at this n — three orders worse)
    assert n_cands <= 8 * n, n_cands

    # capture on the planted near-dups (vec_id % 25 == 11 ↔ vec_id - 11)
    pairs = similarity.embedding_lsh_pairs(
        emb, threshold=0.9, n_tables=tables, bits_per_table=bits)
    got = {(r["d1"], r["d2"]) for r in pairs.select("d1", "d2").collect()}
    planted = {(i - 11, i) for i in range(11, n) if i % 25 == 11}
    capture = len(got & planted) / len(planted)
    assert capture >= 0.85, capture


def test_estimated_pages_sizes_buckets_without_a_count_job(spark):
    """estimated_pages must land within an order of magnitude of the true
    row count (pow2 clamping absorbs that) and reproduce the oracle
    fixture's 64-bucket modulus at sf0.01 — while reading only plan
    statistics, never running a job."""
    from logport_spark.plans.ledger import (
        EST_RECORDS_PER_PAGE, estimated_pages, scaled_buckets,
    )

    pages = spark.read.parquet(datagen.ensure_pages("0.01"))
    est = estimated_pages(pages)
    true_n = pages.count()
    assert true_n / 8 <= est <= true_n * 8, (est, true_n)
    assert scaled_buckets(est * EST_RECORDS_PER_PAGE) == \
        scaled_buckets(true_n * EST_RECORDS_PER_PAGE) == 64


def test_r4_dedup_plans_avoid_content_key_windows(spark):
    """The r4 corpus-dedup family must never plan a Window over a content
    key (line/url) — the hot-key cliff their groupBy+min/max-struct shape
    exists to avoid — and must keep their exchange counts at the documented
    minimum (all aggregating, map-side combinable)."""
    from logport_spark.operators.dedup import (
        dedup_lines_corpus, strip_boilerplate_lines, url_dedup,
    )

    pages = spark.read.parquet(datagen.ensure_pages("0.01")) \
        .select("url", "warc_ts", "text")

    ld = dedup_lines_corpus(pages.select("url", "text"), id_col="url")
    plan = ld._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # line agg + rebuild

    ud = url_dedup(pages)
    plan = ud._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # canon-key agg only

    sb = strip_boilerplate_lines(pages.select("url", "text"), min_docs=20,
                                 id_col="url")
    plan = sb._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # no hint forces it: at this scale AQE broadcasts the small
    # boilerplate set into the anti join, so the line stream is not
    # shuffled for the filter
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_single_exchange(spark):
    """Packing is one exchange on the shard key; the running-sum window is
    partitioned BY shard (bounded per-shard sorts), never a global sort."""
    from logport_spark.operators.sampling import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = pack_sequences(docs, window_tokens=512, n_shards=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert plan.count("windowspecdefinition(shard") == 1


def test_html_extract_plan_is_exchange_free_codegen(spark):
    """html_to_text must be a scan-speed narrow map: zero exchanges, zero
    Python evals — the whole strip/entity/collapse chain lives in one
    codegen'd Project over the scan."""
    from logport_spark.operators.parse import html_to_text

    pages = spark.read.parquet(datagen.ensure_pages("0.01"))
    plan = html_to_text(pages)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # no Arrow/Batch Python stage
    assert plan.lstrip().startswith("*(1) Project")  # codegen'd, one stage


def test_r4_session2_plans_stay_agg_shaped(spark):
    """The new curation ops keep the skew-proof shapes: no Window over a
    content key, no global (range) sort anywhere; corpus_shuffle is ONE
    shard-keyed exchange with per-shard bounded sorts."""
    from logport_spark.operators.dedup import (
        remove_duplicate_spans, snapshot_delta,
    )
    from logport_spark.operators.sampling import corpus_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    rs = remove_duplicate_spans(docs, w=4)
    plan = rs._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Exchange rangepartitioning" not in plan

    pages = spark.read.parquet(datagen.ensure_pages("0.01")) \
        .select("url", "text")
    sd = snapshot_delta(pages.limit(500), pages.limit(800))
    plan = sd._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # old side collapses via max(struct) agg
    assert "Exchange rangepartitioning" not in plan

    cs = corpus_shuffle(docs, n_shards=8)
    plan = cs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # never a global sort
    assert plan.count("windowspecdefinition(shard") == 1


def test_chunk_documents_is_exchange_free(spark):
    """Chunking is a pure map stage: the token array materializes once as a
    column, posexplode is the only row-count change — no Exchange, no
    Python, no global sort at any corpus size."""
    from logport_spark.operators.sampling import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = chunk_documents(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "Generate posexplode" in plan


def test_bm25_all_joins_broadcast_and_prune_precedes_agg(spark):
    """BM25's corpus-sized shuffle is the (doc_id, tok) count AFTER the
    broadcast query-term prune; every join is a broadcast join (idf, stats,
    query weights are all query-vocab-sized) — no sort-merge join, no
    corpus-sized doc-length join, anywhere in the plan."""
    from logport_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = bm25_topk(docs, [(1, "spark join query"), (2, "hash table scan")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Exchange rangepartitioning" not in plan  # topk is windowed, not sorted globally
    # two-phase top-k: the salt-bucketed partial rank must precede the
    # final per-query rank (no single-task full-candidate sort)
    assert plan.count("windowspecdefinition(query_id") == 2
    assert "salt" in plan
    # the explode feeds the broadcast semi-prune BEFORE any aggregation:
    # reading bottom-up, the first Generate (explode) is below the first
    # BroadcastHashJoin, which is below the first HashAggregate
    gen = plan.rindex("Generate explode")
    bhj = max(i for i in range(len(plan)) if plan.startswith("BroadcastHashJoin", i))
    assert bhj < gen or plan.index("BroadcastHashJoin") < plan.index("HashAggregate")


def test_domain_kl_no_cartesian_no_global_sort(spark):
    """domain_kl's wide ops are key-partitioned aggregations; the single
    1-row corpus total rides a broadcast nested-loop join, never a real
    cartesian product, and nothing range-partitions."""
    from logport_spark.operators.textstats import domain_kl

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = domain_kl(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_html_policy_plan_is_exchange_free_codegen(spark):
    """html_policy is a narrow map like html_to_text: zero Exchange, zero
    Python eval, the whole gate/extract chain in one codegen'd Project."""
    from logport_spark.operators.parse import html_policy

    pages = spark.read.parquet(datagen.ensure_pages("0.01"))
    plan = html_policy(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert plan.lstrip().startswith("*(1) Project")


def test_session5_sampling_plans_stay_bounded(spark):
    """sample_fixed_per_stratum must plan with Spark 4's rank-limit
    pushdown: a Partial WindowGroupLimit BELOW the one stratum-keyed
    exchange (each map task forwards ≤ k rows per stratum — the property
    that keeps a 10^12-page 'en' stratum from becoming a corpus-sized
    single-task sort); export_manifest is one partial+final agg on shard
    (a single tiny exchange, no windows, no sorts beyond the agg's own)."""
    from logport_spark.operators.sampling import (
        export_manifest, sample_fixed_per_stratum,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    sp = sample_fixed_per_stratum(docs, k=50)
    plan = sp._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the Partial group-limit must sit below the exchange (map side)
    assert plan.index("Exchange hashpartitioning") \
        < plan.index("row_number(), 50, Partial")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort

    em = export_manifest(docs, n_shards=8)
    plan = em._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan  # map-side combine before the only shuffle


def test_winnow_fingerprints_no_inferred_generate_filter(spark):
    """Plain explode lets InferFiltersFromGenerate synthesize
    `size(_sel) > 0` and push it below the _toks/_grams projections,
    inlining the md5 gram-array build INTO the per-window lambda — O(L²)
    md5 per doc inside the filter (measured 178s for 5k docs; 1.3s once
    explode_outer suppressed the inference). Pin the fixed shape: no
    Filter node at all in the single-source fingerprint plan."""
    from logport_spark.operators.textstats import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string")
    plan = winnow_fingerprints(df)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Filter" not in plan, plan


def test_session9_plan_shapes(spark):
    """Session-9 operator plan pins. (1) lang_segments carries NO
    interpreted higher-order functions — the 5×size(filter()) form was
    variance-UNSTABLE (bimodal 2-32s at 500k on identical plans,
    BENCH/BASELINE.md); the shipped shape is explode + codegen CASE.
    (2) pq_topk and ivfpq_topk encode the corpus in exactly ONE
    ArrowEvalPython pass: extracting two fields from ivfpq's
    struct-returning UDF let CollapseProject duplicate enc() into TWO
    stacked ArrowEvalPython nodes (encode ran twice per row — 2× the
    dominant per-row cost at 10^9 vectors) until the asNondeterministic
    plan barrier pinned it. (3) ivfpq's probe join stays a broadcast
    hash join on cell — the coded corpus never shuffles."""
    from logport_spark.operators.similarity import ivfpq_topk, pq_topk
    from logport_spark.operators.textstats import lang_segments

    docs = spark.createDataFrame(
        [(1, "the and is\nle la et")], "doc_id long, text string")
    lp = lang_segments(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in lp, lp

    emb = spark.createDataFrame(
        [(i, [float(v) for v in (1, 2, 1, 2)]) for i in range(12)],
        "vec_id long, embedding array<double>")
    pq = pq_topk(emb, [0, 5], k=3, m=2, ksub=4, rerank=5, n_salts=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert pq.count("ArrowEvalPython") == 1, pq
    ivf = ivfpq_topk(emb, [0, 5], k=3, nlist=4, nprobe=2, m=2, ksub=4,
                     rerank=5, n_salts=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert ivf.count("ArrowEvalPython") == 1, ivf
    assert "BroadcastHashJoin [cell" in ivf, ivf
