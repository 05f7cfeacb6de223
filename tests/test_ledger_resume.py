"""Exactly-once routed-row equality across crash + resume (north_rule gate).

The reference is at-least-once (SURVEY.md §2.4 L4: crash between produce and
offset save duplicates). Our ledger-last protocol upgrades that: a partial
run (simulated crash — only a subset of buckets committed) followed by a
resume must produce a sink table exactly equal to a single fresh run.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logport_spark.plans import ledger as L


KEY_COLS = ["url", "line_no", "record", "sink"]


@pytest.fixture(scope="module")
def fresh_routed(spark, pages_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fresh"))
    L.run_with_ledger(spark, pages_small, out, run_id="full", n_buckets=16)
    return L.read_routed(spark, out).select(*KEY_COLS).cache()


def test_resume_equals_fresh(spark, pages_small, fresh_routed, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resumed"))
    # crash after committing buckets 0..5 only
    L.run_with_ledger(spark, pages_small, out, run_id="r1", n_buckets=16,
                      only_buckets=list(range(6)))
    n_partial = L.read_routed(spark, out).count()
    assert 0 < n_partial < fresh_routed.count()
    # resume: processes exactly the un-committed buckets
    L.run_with_ledger(spark, pages_small, out, run_id="r2", n_buckets=16)
    resumed = L.read_routed(spark, out).select(*KEY_COLS)
    assert resumed.exceptAll(fresh_routed).count() == 0
    assert fresh_routed.exceptAll(resumed).count() == 0


def test_resume_under_route_mutation_keeps_exactly_once(
        spark, pages_small, fresh_routed, tmp_path_factory):
    """Semantic pin (r5, persisted config): a `watch` mutation between a
    crash and its resume affects ONLY the not-yet-committed buckets —
    committed buckets keep the routing they shipped with, no row is
    duplicated or lost. This matches the reference: editing a watch row
    changes where the TAIL goes from that moment on
    (/root/reference/src/LogPort.cc:848-883); already-produced messages
    stay on their original topic. Resume-equals-fresh holds only under a
    fixed config — under mutation, exactly-once on the ROW SET is the
    contract (same urls/lines, sink may differ for post-mutation buckets)."""
    from pyspark.sql import functions as F

    from logport_spark.store import ConfigStore

    out = str(tmp_path_factory.mktemp("mutres"))
    L.run_with_ledger(spark, pages_small, out, run_id="m1", n_buckets=16,
                      only_buckets=list(range(6)))
    pre = L.read_routed(spark, out)
    pre_sinks = {r.sink for r in pre.select("sink").distinct().collect()}
    n_pre = pre.count()

    # mutate: 'news' now routes to a brand-new sink
    ConfigStore(out).watch("news", "sink_news_r5",
                           brokers="kafka://k9:9092", product_code="prd5")
    L.run_with_ledger(spark, pages_small, out, run_id="m2", n_buckets=16)

    allr = L.read_routed(spark, out)
    # exactly-once on the row identity (url, line_no), config-independent
    ids = allr.select("url", "line_no")
    want = fresh_routed.select("url", "line_no")
    assert ids.exceptAll(want).count() == 0
    assert want.exceptAll(ids).count() == 0
    # committed buckets untouched: their rows still carry the OLD sink
    assert allr.filter(F.col("sink") == "sink_news").count() == \
        pre.filter(F.col("sink") == "sink_news").count() > 0
    assert "sink_news_r5" not in pre_sinks
    # post-mutation buckets route to the new sink
    assert allr.filter(F.col("sink") == "sink_news_r5").count() > 0
    assert n_pre < allr.count()


def test_rerun_is_idempotent(spark, pages_small, fresh_routed, tmp_path_factory):
    """A second full run over a fully-committed ledger adds nothing."""
    out = str(tmp_path_factory.mktemp("idem"))
    L.run_with_ledger(spark, pages_small, out, run_id="a", n_buckets=16)
    n1 = L.read_routed(spark, out).count()
    L.run_with_ledger(spark, pages_small, out, run_id="b", n_buckets=16)
    assert L.read_routed(spark, out).count() == n1
    # ledger records zero new work for run b
    lg = L.read_ledger(spark, out)
    assert lg.filter(F.col("run_id") == "b").count() == 0


def test_repeated_run_id_returns_only_its_own_commits(
        spark, pages_small, tmp_path_factory):
    """run_with_ledger returns the rows THIS call committed: a second call
    with the same run_id (two CLI runs in one second share the default
    run_{epoch} id) commits nothing and must return nothing, not the
    first call's ledger rows."""
    out = str(tmp_path_factory.mktemp("same_run_id"))
    first = L.run_with_ledger(spark, pages_small, out, run_id="s", n_buckets=8)
    assert first.count() == 8
    again = L.run_with_ledger(spark, pages_small, out, run_id="s", n_buckets=8)
    assert again.count() == 0
    assert L.read_ledger(spark, out).count() == 8


def test_rerun_over_committed_ledger_writes_nothing(spark, tmp_path):
    """A rerun over a fully committed ledger has nothing to commit: it
    rewrites no sink file, appends no (empty) ledger file, runs only the
    committed-ledger read and the input-fingerprint pass (the drift check
    still holds), and returns an empty frame that plans no Scan
    ExistingRDD."""
    import os
    import uuid

    import pandas as pd

    from logport_spark import datagen

    pages = spark.createDataFrame(pd.DataFrame(datagen.gen_docs(range(300))),
                                  schema=datagen.PAGES_DDL)
    out = str(tmp_path / "out")
    L.run_with_ledger(spark, pages, out, run_id="first", n_buckets=8)

    def files(sub):
        return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
                for d, _, fs in os.walk(os.path.join(out, sub)) for f in fs}

    ledger_before, sinks_before = files("_ledger"), files("sinks")
    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    prior = {k: sc.getLocalProperty(k) for k in props}
    group = f"rerun-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        again = L.run_with_ledger(spark, pages, out, run_id="again",
                                  n_buckets=8)
    finally:
        for k, v in prior.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))

    assert len(files("_ledger")) == len(ledger_before)
    assert files("_ledger") == ledger_before
    assert files("sinks") == sinks_before
    assert len(jobs) <= 3, jobs
    assert again.count() == 0
    assert "ExistingRDD" not in \
        again._jdf.queryExecution().executedPlan().toString()


def test_empty_buckets_converge(spark, pages_small, tmp_path_factory):
    """Buckets that route zero rows (or hold no pages) still get committed
    ledger rows, so resume converges: exactly one ledger row per bucket ever,
    and a later run rescans nothing (ADVICE r1: empty buckets were rescanned
    and rewritten forever)."""
    out = str(tmp_path_factory.mktemp("converge"))
    # 64 buckets over a tiny page set => many bucket ids hold zero pages
    L.run_with_ledger(spark, pages_small.limit(5), out, run_id="c1", n_buckets=64)
    lg = L.read_ledger(spark, out)
    assert lg.count() == 64                      # every bucket committed once
    assert lg.select("bucket").distinct().count() == 64
    L.run_with_ledger(spark, pages_small.limit(5), out, run_id="c2", n_buckets=64)
    assert L.read_ledger(spark, out).count() == 64   # second run added nothing


def test_absent_ledger_is_an_empty_declared_scan(spark, tmp_path):
    """A fresh out_dir's ledger reads as an empty scan of zero paths with
    the declared schema — no list-built frame (Scan ExistingRDD), which
    starts a Python-worker job to return no rows."""
    from pyspark.sql.types import DataType

    led = L.read_ledger(spark, str(tmp_path / "absent"))
    assert led.schema == DataType.fromDDL(L.LEDGER_SCHEMA)
    assert led.count() == 0
    assert "ExistingRDD" not in led._jdf.queryExecution().executedPlan().toString()


def test_unreadable_sinks_fail_before_the_ledger_commit(spark, pages_small,
                                                        tmp_path):
    """Only a missing sinks/ dir reads as empty: an unreadable sink file in
    a bucket the run is responsible for fails the stats re-scan, and no
    ledger row is written (the bucket is never committed with zeroed
    metrics)."""
    out = str(tmp_path / "out")
    bogus = tmp_path / "out" / "sinks" / "bucket=0" / "sink=sink_bogus"
    bogus.mkdir(parents=True)
    (bogus / "part-0.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="sink_bogus"):
        L.run_with_ledger(spark, pages_small, out, run_id="bad", n_buckets=4)
    assert L.read_ledger(spark, out).count() == 0


def test_ledger_metrics_match_sink_metrics(spark, pages_small, tmp_path_factory):
    """Per-bucket ledger aggregates roll up to the per-sink oracle counts."""
    from logport_spark.plans.pipeline import parsed_routed, sink_metrics

    out = str(tmp_path_factory.mktemp("metrics"))
    L.run_with_ledger(spark, pages_small, out, run_id="m", n_buckets=16)
    lg = L.read_ledger(spark, out)
    totals = lg.agg(
        F.sum("rows_routed").alias("r"), F.sum("bytes_shipped").alias("b"),
        F.sum("parse_failures").alias("f"),
    ).collect()[0]
    direct = (
        sink_metrics(parsed_routed(spark, pages_small))
        .agg(F.sum("rows_routed"), F.sum("bytes_shipped"), F.sum("parse_failures"))
        .collect()[0]
    )
    assert (totals["r"], totals["b"], totals["f"]) == tuple(direct)


def test_quarantine_replay(spark, pages_small):
    """Dead-letter lines re-enter the parse path and fail identically —
    the reference's replay loop reaches a stable undelivered set."""
    from logport_spark.operators import enrich as E
    from logport_spark.operators import parse as P
    from logport_spark.operators import route as R
    from logport_spark.plans.pipeline import parsed_routed

    routed = parsed_routed(spark, pages_small)
    q = R.quarantine(routed)
    n_q = q.count()
    assert n_q > 0
    live = P.explode_lines(pages_small).limit(0)  # replay-only run
    replayed = L.replay_quarantine(spark, q, live)
    lookups = E.load_lookups(spark)
    df = E.enrich(E.with_domain(replayed), lookups)
    df = R.resolve_route(df, lookups["routes"])
    df = P.with_envelope(df, F.col("route_hostname"), F.col("url"),
                         F.col("route_prd"), F.col("route_log_type"))
    assert df.count() == n_q
    assert df.filter(~F.col("parse_fail")).count() == 0  # all fail again
    # byte-identical envelopes vs the first pass
    first = routed.filter(F.col("parse_fail")).select("url", "line_no", "record")
    again = df.select("url", "line_no", "record")
    assert again.exceptAll(first).count() == 0


def test_resume_raises_on_input_drift(spark, tmp_path):
    """The fixed-input-snapshot contract is enforced: pages landing in an
    already-committed bucket on a later run raise instead of being silently
    skipped (ADVICE r2); unchanged input keeps resuming normally."""
    import pandas as pd
    import pytest

    from logport_spark import datagen
    from logport_spark.plans.ledger import run_with_ledger

    out = str(tmp_path / "drift_out")
    base = spark.createDataFrame(
        pd.DataFrame(datagen.gen_docs(range(80))), schema=datagen.PAGES_DDL)
    run_with_ledger(spark, base, out, run_id="r1")
    # same snapshot: resume is a no-op, no raise
    run_with_ledger(spark, base, out, run_id="r2")
    # grown snapshot: new pages land in committed buckets -> loud failure
    grown = spark.createDataFrame(
        pd.DataFrame(datagen.gen_docs(range(90))), schema=datagen.PAGES_DDL)
    with pytest.raises(ValueError, match="input drift"):
        run_with_ledger(spark, grown, out, run_id="r3")
