"""Streaming variant: micro-batched run must equal the batch run exactly,
and watermarked windows must equal the batch window aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logport_spark import datagen


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """Multi-file pages dir so availableNow produces several micro-batches."""
    import pandas as pd

    d = str(tmp_path_factory.mktemp("pages_stream"))
    pdf = pd.DataFrame(datagen.gen_docs(range(300)))
    df = spark.createDataFrame(pdf, schema=datagen.PAGES_DDL)
    df.repartition(6).write.mode("overwrite").parquet(d)
    return d


def test_stream_equals_batch(spark, pages_dir, tmp_path_factory):
    from logport_spark.plans.pipeline import parsed_routed
    from logport_spark.streaming.stream import SINK_COLS, run_stream_pipeline

    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    run_stream_pipeline(spark, pages_dir, out, ckpt, max_files=2)
    got = spark.read.parquet(out + "/sinks").select(*SINK_COLS)
    want = parsed_routed(spark, spark.read.parquet(pages_dir)).select(*SINK_COLS)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_restart_is_exactly_once(spark, pages_dir, tmp_path_factory):
    """Re-starting the stream over the same checkpoint adds nothing."""
    from logport_spark.streaming.stream import run_stream_pipeline

    out = str(tmp_path_factory.mktemp("stream_out2"))
    ckpt = str(tmp_path_factory.mktemp("ckpt2"))
    run_stream_pipeline(spark, pages_dir, out, ckpt, max_files=3)
    n1 = spark.read.parquet(out + "/sinks").count()
    run_stream_pipeline(spark, pages_dir, out, ckpt, max_files=3)
    assert spark.read.parquet(out + "/sinks").count() == n1


@pytest.fixture(scope="module")
def three_files_dir(spark, tmp_path_factory):
    """Three page files of 30 pages each: one micro-batch per file."""
    import pandas as pd

    d = str(tmp_path_factory.mktemp("pages_three"))
    for i in range(3):
        spark.createDataFrame(
            pd.DataFrame(datagen.gen_docs(range(30 * i, 30 * (i + 1)))),
            schema=datagen.PAGES_DDL).coalesce(1).write.mode("append").parquet(d)
    return d


def test_drain_returns_per_batch_progress(spark, three_files_dir,
                                          tmp_path_factory):
    """A runner returns one progress record per micro-batch; a restart on
    the same checkpoint finds nothing new and reports only idle batches."""
    from logport_spark.streaming.stream import run_stream_pipeline

    out = str(tmp_path_factory.mktemp("drain_out"))
    ckpt = str(tmp_path_factory.mktemp("drain_ckpt"))
    recs = run_stream_pipeline(spark, three_files_dir, out, ckpt, max_files=1)
    assert [r["batchId"] for r in recs] == [0, 1, 2]
    assert sum(r["numInputRows"] for r in recs) == 90
    assert all("addBatch" in r["durationMs"] for r in recs)
    again = run_stream_pipeline(spark, three_files_dir, out, ckpt, max_files=1)
    assert again and all(r["numInputRows"] == 0 for r in again)


def test_drain_surfaces_batch_failure(spark, three_files_dir, tmp_path_factory):
    """A micro-batch that raises fails the drain with the query's exception."""
    from pyspark.errors import StreamingQueryException

    from logport_spark.streaming.stream import drain, pages_stream

    def process(batch_df, batch_id):
        raise ValueError("batch failed")

    ckpt = str(tmp_path_factory.mktemp("drain_fail_ckpt"))
    with pytest.raises(StreamingQueryException, match="batch failed"):
        drain(pages_stream(spark, three_files_dir, 1)
              .writeStream.foreachBatch(process), ckpt)


def test_stream_replayed_batch_is_idempotent(spark, pages_dir, tmp_path_factory):
    """Crash-replay simulation: delete the LAST checkpoint commit (as if the
    process died between the sink write and the commit) and re-run — the
    replayed micro-batch must overwrite its own batch_id partitions, not
    append duplicates (ADVICE r1: plain append was at-least-once)."""
    import os
    import shutil

    from logport_spark.streaming.stream import run_stream_pipeline

    out = str(tmp_path_factory.mktemp("stream_out4"))
    ckpt = str(tmp_path_factory.mktemp("ckpt4"))
    run_stream_pipeline(spark, pages_dir, out, ckpt, max_files=2)
    n1 = spark.read.parquet(out + "/sinks").count()
    # Crash image: the on-disk checkpoint as a process would find it after
    # dying between the sink write and the commit — last commit file absent,
    # sink rows for that batch already written. A fresh path stands in for
    # the fresh JVM (Spark caches the commits log in-process and flags an
    # in-place deletion as concurrent modification).
    crashed = str(tmp_path_factory.mktemp("ckpt4_crash"))
    shutil.rmtree(crashed)
    shutil.copytree(ckpt, crashed)
    commits = sorted(
        f for f in os.listdir(os.path.join(crashed, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(crashed, "commits", commits[-1]))
    crc = os.path.join(crashed, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):  # checksum sidecar would block the re-commit rename
        os.remove(crc)
    run_stream_pipeline(spark, pages_dir, out, crashed, max_files=2)
    assert spark.read.parquet(out + "/sinks").count() == n1


def test_stream_file_rotation_exactly_once(spark, tmp_path_factory):
    """Rotation mid-stream (the IN_MOVE_SELF analog): after batch 1 is
    processed, the live file is renamed to a rotated suffix and a new file
    replaces it. The renamed file must NOT be re-read (its rows were already
    routed), the new file must be picked up, and the final sink equals the
    batch run over the union — exactly-once through the rotation."""
    import os

    import pandas as pd

    from logport_spark.plans.pipeline import parsed_routed
    from logport_spark.streaming.stream import SINK_COLS, run_stream_pipeline

    d = str(tmp_path_factory.mktemp("pages_rot"))
    out = str(tmp_path_factory.mktemp("rot_out"))
    ckpt = str(tmp_path_factory.mktemp("rot_ckpt"))

    batch1 = spark.createDataFrame(
        pd.DataFrame(datagen.gen_docs(range(0, 120))), schema=datagen.PAGES_DDL)
    batch1.coalesce(1).write.mode("overwrite").parquet(d)
    run_stream_pipeline(spark, d, out, ckpt, max_files=2)
    n1 = spark.read.parquet(out + "/sinks").count()

    # rotate: rename every live file out of the glob, then write the new file
    for fn in os.listdir(d):
        if fn.endswith(".parquet"):
            os.rename(os.path.join(d, fn), os.path.join(d, fn + ".1"))
    batch2 = spark.createDataFrame(
        pd.DataFrame(datagen.gen_docs(range(120, 200))), schema=datagen.PAGES_DDL)
    batch2.coalesce(1).write.mode("append").parquet(d)

    run_stream_pipeline(spark, d, out, ckpt, max_files=2)
    got = spark.read.parquet(out + "/sinks").select(*SINK_COLS)
    assert got.count() > n1  # the new file was processed
    want = parsed_routed(spark, batch1.unionByName(batch2)).select(*SINK_COLS)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_windowed_counts_match_batch(spark, pages_dir, tmp_path_factory):
    from logport_spark.operators import enrich as E
    from logport_spark.operators import parse as P
    from logport_spark.operators import route as R
    from logport_spark.streaming.stream import windowed_sink_counts

    ckpt = str(tmp_path_factory.mktemp("ckpt3"))
    got = windowed_sink_counts(spark, pages_dir, ckpt, query_name="wtest")
    lines = P.explode_lines(spark.read.parquet(pages_dir))
    lookups = E.load_lookups(spark)
    routed = R.resolve_route(E.enrich(E.with_domain(lines), lookups), lookups["routes"])
    want = (
        routed.groupBy(F.window("warc_ts", "1 day").alias("w"), "sink")
        .agg(F.count(F.lit(1)).alias("rows_routed"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "sink", "rows_routed")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_dedup_drops_redeliveries(spark, tmp_path_factory):
    """At-least-once redelivery (the same micro-batch file landing twice)
    must collapse to the batch-distinct result via
    dropDuplicatesWithinWatermark."""
    import datetime as dt

    import pandas as pd

    from logport_spark.streaming.stream import dedup_stream

    src = str(tmp_path_factory.mktemp("dup_events"))
    out = str(tmp_path_factory.mktemp("dedup_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(seconds=i)) for i in range(200)]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts"])
    df = spark.createDataFrame(pdf, "event_id long, ts timestamp")
    # the duplicate delivery: identical rows written as a second file
    df.coalesce(1).write.mode("append").parquet(src)
    df.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("event_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (dedup_stream(stream).writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 200          # each event exactly once
    assert got.select("event_id").distinct().count() == 200


def test_sink_layout_prunes_partitions(spark, tmp_path_factory):
    """The fan-out write lays one directory per (bucket, sink); a per-sink
    read must plan partition pruning (PartitionFilters), not a full scan."""
    import pandas as pd

    from logport_spark.plans.ledger import read_routed, run_with_ledger

    out = str(tmp_path_factory.mktemp("sinks"))
    pdf = pd.DataFrame(datagen.gen_docs(range(100)))
    pages = spark.createDataFrame(pdf, schema=datagen.PAGES_DDL)
    run_with_ledger(spark, pages, out, run_id="layout", n_buckets=8)
    back = read_routed(spark, out)
    one = back.filter(F.col("sink") == back.select("sink").first()["sink"])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(sink" in plan


def test_compact_sinks_preserves_rows_and_bounds_files(spark, tmp_path_factory):
    """OPTIMIZE-style compaction: a sink= tree written by 16 tasks holds
    many small files per sink; compact_sinks rewrites each over-split
    sink partition to its byte-targeted file count via dynamic overwrite
    — row count AND content identical (value hash over every envelope),
    file count collapsed, untouched partitions left alone."""
    _compact_sinks_case(spark, tmp_path_factory, "")


def test_compact_sinks_preserves_rows_and_bounds_files_on_file_uri(
        spark, tmp_path_factory):
    """The same compaction, handed the table as a file:// URI."""
    _compact_sinks_case(spark, tmp_path_factory, "file://")


def _compact_sinks_case(spark, tmp_path_factory, prefix):
    import hashlib
    import os

    import pandas as pd

    from logport_spark.operators.route import compact_sinks
    from logport_spark.plans.pipeline import parsed_routed

    out = str(tmp_path_factory.mktemp("sinks"))
    pdf = pd.DataFrame(datagen.gen_docs(range(120)))
    pages = spark.createDataFrame(pdf, schema=datagen.PAGES_DDL)
    (parsed_routed(spark, pages).select("url", "line_no", "record", "sink")
     .repartition(16).write.mode("overwrite").partitionBy("sink").parquet(out))

    def state():
        rows = sorted(map(str, spark.read.parquet(out)
                          .select("url", "line_no", "record", "sink")
                          .collect()))
        files = {e: len([f for f in os.listdir(os.path.join(out, e))
                         if f.endswith(".parquet")])
                 for e in os.listdir(out) if e.startswith("sink=")}
        return hashlib.md5("\n".join(rows).encode()).hexdigest(), files

    h0, f0 = state()
    assert any(n > 1 for n in f0.values())  # fragmented before
    done = compact_sinks(spark, prefix + out, target_file_bytes=1 << 30)
    h1, f1 = state()
    assert h1 == h0                          # content byte-identical
    assert all(n == 1 for n in f1.values())  # collapsed to the target
    assert set(done) == {s for s, n in f0.items() if n > 1} != set()
    # idempotent: a second pass finds nothing to do
    assert compact_sinks(spark, prefix + out, target_file_bytes=1 << 30) == {}


def test_kafka_sink_gate_and_row_shape(spark, pages_small):
    """The Kafka sink is capability-gated (no broker/package here); the row
    shaping it shares with any foreachBatch producer is pinned statically:
    topic = sink, key = url bytes, value = the exact envelope bytes."""
    from logport_spark.plans.pipeline import parsed_routed
    from logport_spark.streaming.stream import (
        kafka_sink_available, run_stream_kafka, to_kafka_rows,
    )

    if not kafka_sink_available(spark):
        with pytest.raises(NotImplementedError):
            run_stream_kafka(spark, "/nonexistent", "localhost:9092", "/tmp/ckpt")

    routed = parsed_routed(spark, pages_small.limit(20))
    kafka_rows = to_kafka_rows(routed)
    assert kafka_rows.columns == ["topic", "key", "value"]
    sample = kafka_rows.limit(5).collect()
    assert all(isinstance(r.key, (bytes, bytearray)) for r in sample)
    joined = {(bytes(r.key).decode(), bytes(r.value).decode()) for r in kafka_rows.collect()}
    expect = {(r.url, r.record) for r in routed.select("url", "record").collect()}
    assert {k for k, _ in joined} == {u for u, _ in expect}
    assert joined == {(u, rec) for u, rec in expect}


def test_stream_minhash_dedup_drops_cross_batch_neardups(spark, tmp_path_factory):
    """Incremental LSH dedup (streaming/dedup_stream.py): batch 2 must drop a
    near-dup of a batch-1 doc via persisted signature state, keep uniques,
    and also drop in-batch near-dups; re-draining with the same checkpoint
    is a no-op (exactly-once clean output)."""
    import pandas as pd

    from logport_spark.streaming.dedup_stream import run_stream_minhash_dedup

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango")
    uniq = ("zulu yankee xray whiskey victor uniform tango sierra romeo "
            "quebec papa oscar november mike lima kilo juliet india hotel golf")
    # change the LAST token: affects exactly one 3-gram shingle, J = 17/19
    near = base.replace("tango", "printf")
    uniq2 = " ".join(reversed(uniq.split()))        # same tokens, reversed order

    d = str(tmp_path_factory.mktemp("docs_stream"))
    out = str(tmp_path_factory.mktemp("dedup_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))

    def write(name, rows):
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            f"{d}/{name}.parquet", index=False)

    # batch 1: doc 1 near-dups doc 0 IN-batch; doc 2 unique
    write("b1", [(0, base), (1, near), (2, uniq)])
    run_stream_minhash_dedup(spark, d, out, ckpt)
    # batch 2 (new file): doc 10 near-dups doc 0 CROSS-batch, 11 is new
    write("b2", [(10, base + " extra"), (11, uniq2 + " fresh words here")])
    run_stream_minhash_dedup(spark, d, out, ckpt)

    clean = {r["doc_id"] for r in
             spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean == {0, 2, 11}, clean
    # state holds exactly the kept docs' signatures
    sig_ids = {r["doc_id"] for r in
               spark.read.parquet(out + "/state/sigs").select("doc_id").collect()}
    assert sig_ids == {0, 2, 11}
    # re-drain: no new batches, clean output unchanged
    run_stream_minhash_dedup(spark, d, out, ckpt)
    clean2 = {r["doc_id"] for r in
              spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean2 == clean


_DEDUP_BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india "
               "juliet kilo lima mike november oscar papa quebec romeo "
               "sierra tango")
_DEDUP_UNIQ = ("zulu yankee xray whiskey victor uniform tango sierra romeo "
               "quebec papa oscar november mike lima kilo juliet india "
               "hotel golf")


def _write_docs(d, name, rows):
    import pandas as pd

    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{d}/{name}.parquet", index=False)


def test_stream_minhash_dedup_crash_replay_is_lossless(spark, tmp_path_factory):
    """A crash between state write and checkpoint commit replays the batch
    against state that already contains the batch's OWN rows. Pre-fix, every
    kept doc self-matched at estimated J=1.0 and the dynamic overwrite
    replaced clean/ with an empty partition — silent loss of the whole
    batch. The state read must exclude the current batch_id."""
    import os

    from logport_spark.streaming.dedup_stream import run_stream_minhash_dedup

    d = str(tmp_path_factory.mktemp("docs_replay"))
    out = str(tmp_path_factory.mktemp("dedup_replay_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_replay_ckpt"))
    _write_docs(d, "b1", [(0, _DEDUP_BASE), (2, _DEDUP_UNIQ)])
    run_stream_minhash_dedup(spark, d, out, ckpt)
    clean1 = {r["doc_id"] for r in
              spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean1 == {0, 2}

    # simulate the crash: batch 0's state/clean partitions are on disk but
    # its commit marker is not → availableNow re-executes batch 0
    os.remove(ckpt + "/commits/0")
    crc = ckpt + "/commits/.0.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run_stream_minhash_dedup(spark, d, out, ckpt)
    clean2 = {r["doc_id"] for r in
              spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean2 == {0, 2}, f"replay lost docs: {clean2}"
    sig_ids = {r["doc_id"] for r in
               spark.read.parquet(out + "/state/sigs").select("doc_id").collect()}
    assert sig_ids == {0, 2}


def test_stream_dedup_state_scan_prunes_key_buckets(spark, tmp_path_factory):
    """The band-state scan must touch only (a) batches other than the one
    being (re)processed and (b) the kb key buckets the batch's own band keys
    hash into — both are literal partition predicates, checked via
    inputFiles on the exact DataFrame process() joins against."""
    from logport_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures_h64,
        shingle_hashes,
    )
    from logport_spark.streaming.dedup_stream import (
        _pruned_state_bands,
        run_stream_minhash_dedup,
    )

    d = str(tmp_path_factory.mktemp("docs_prune"))
    out = str(tmp_path_factory.mktemp("dedup_prune_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_prune_ckpt"))
    n_kb = 64
    _write_docs(d, "b1", [(0, _DEDUP_BASE), (2, _DEDUP_UNIQ)])
    _write_docs(d, "b2", [(5, " ".join(reversed(_DEDUP_UNIQ.split())) + " tail")])
    run_stream_minhash_dedup(spark, d, out, ckpt, n_state_buckets=n_kb)

    # one-doc hypothetical next batch → ≤16 band keys → ≤16 of 64 buckets
    probe = spark.createDataFrame(
        [(99, _DEDUP_BASE + " probe")], "doc_id long, text string")
    bands = lsh_bands(minhash_signatures_h64(shingle_hashes(probe))).withColumn(
        "kb", F.pmod(F.col("key"), F.lit(n_kb)).cast("int"))
    kbs = sorted({r["kb"] for r in bands.select("kb").distinct().collect()})
    assert len(kbs) <= 16 < n_kb

    def files_read(df):
        """numFiles of the executed plan's parquet scan — the files the
        query ACTUALLY opened (inputFiles() ignores partition pruning)."""
        df.collect()

        def leaves(p):
            ch = p.children()
            if ch.size() == 0:
                return [p]
            got = []
            for i in range(ch.size()):
                got += leaves(ch.apply(i))
            return got

        return sum(
            leaf.metrics().apply("numFiles").value()
            for leaf in leaves(df._jdf.queryExecution().executedPlan())
            if "Scan" in leaf.nodeName())

    pruned = _pruned_state_bands(spark, out + "/state/bands",
                                 exclude_batch=1, kbs=kbs)
    n_pruned = files_read(pruned)
    n_full = files_read(spark.read.parquet(out + "/state/bands"))
    assert 0 < n_pruned < n_full, (n_pruned, n_full)
    # excluding the replaying batch alone (no kb prune) must also shrink it:
    # both predicates are partition-level, directories never opened
    n_no_batch1 = files_read(_pruned_state_bands(
        spark, out + "/state/bands", exclude_batch=1, kbs=list(range(n_kb))))
    assert n_no_batch1 < n_full


def test_compact_dedup_state_preserves_drops_and_bounds_files(
        spark, tmp_path_factory):
    """compact_dedup_state merges batch partitions into one batch_id=-1
    generation: file count bounded, and a post-compaction batch still drops
    a near-dup of a pre-compaction doc (state semantics unchanged)."""
    _compact_dedup_state_case(spark, tmp_path_factory, "")


def test_compact_dedup_state_preserves_drops_and_bounds_files_on_file_uri(
        spark, tmp_path_factory):
    """The same retention, every path handed over as a file:// URI."""
    _compact_dedup_state_case(spark, tmp_path_factory, "file://")


def _compact_dedup_state_case(spark, tmp_path_factory, prefix):
    import glob

    from logport_spark.streaming.dedup_stream import (
        compact_dedup_state,
        run_stream_minhash_dedup,
    )

    d = str(tmp_path_factory.mktemp("docs_compact"))
    out = str(tmp_path_factory.mktemp("dedup_compact_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_compact_ckpt"))
    _write_docs(d, "b1", [(0, _DEDUP_BASE), (2, _DEDUP_UNIQ)])
    _write_docs(d, "b2", [(5, " ".join(reversed(_DEDUP_UNIQ.split())) + " tail")])
    run_stream_minhash_dedup(spark, prefix + d, prefix + out, prefix + ckpt)

    compact_dedup_state(spark, prefix + out, sig_files=2)
    band_files = glob.glob(out + "/state/bands/**/*.parquet", recursive=True)
    sig_files = glob.glob(out + "/state/sigs/**/*.parquet", recursive=True)
    assert all("batch_id=-1" in f for f in band_files + sig_files)
    assert len(sig_files) <= 2
    # one file per key bucket present
    kb_dirs = {f.split("kb=")[1].split("/")[0] for f in band_files}
    assert len(band_files) == len(kb_dirs)

    # batch 3 after compaction: near-dup of batch-1 doc 0 must still drop
    _write_docs(d, "b3", [(10, _DEDUP_BASE + " extra"),
                          (11, "totally different words " * 5)])
    run_stream_minhash_dedup(spark, prefix + d, prefix + out, prefix + ckpt)
    clean = {r["doc_id"] for r in
             spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean == {0, 2, 5, 11}, clean


def test_compaction_spares_uncommitted_batches_and_replay_stays_lossless(
        spark, tmp_path_factory):
    """r4 verdict #7 (retention follow-through): compaction run while the
    checkpoint holds an UNCOMMITTED batch must not fold that batch's state
    into the -1 generation — folding it would make the restart replay
    self-match against its own signatures and silently empty the batch
    (the r4 crash-replay bug, reintroduced through maintenance). With
    checkpoint_dir passed, the crashed batch's partitions survive under
    their own batch_id and the replay remains lossless; compact_clean
    bounds the output listing the same way."""
    _compaction_spares_uncommitted_case(spark, tmp_path_factory, "")


def test_compaction_spares_uncommitted_batches_and_replay_stays_lossless_on_file_uri(
        spark, tmp_path_factory):
    """The same crash, compaction and replay, every path handed over as a
    file:// URI."""
    _compaction_spares_uncommitted_case(spark, tmp_path_factory, "file://")


def _compaction_spares_uncommitted_case(spark, tmp_path_factory, prefix):
    import glob
    import os

    from logport_spark.streaming.dedup_stream import (
        compact_clean,
        compact_dedup_state,
        run_stream_minhash_dedup,
    )

    d = str(tmp_path_factory.mktemp("docs_retain"))
    out = str(tmp_path_factory.mktemp("dedup_retain_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_retain_ckpt"))
    _write_docs(d, "b1", [(0, _DEDUP_BASE), (2, _DEDUP_UNIQ)])
    _write_docs(d, "b2", [(5, " ".join(reversed(_DEDUP_UNIQ.split()))
                           + " tail")])
    run_stream_minhash_dedup(spark, prefix + d, prefix + out, prefix + ckpt)

    # crash: batch 1's outputs are on disk, its commit marker is not
    os.remove(ckpt + "/commits/1")
    crc = ckpt + "/commits/.1.crc"
    if os.path.exists(crc):
        os.remove(crc)

    compact_dedup_state(spark, prefix + out, sig_files=2,
                        checkpoint_dir=prefix + ckpt)
    compact_clean(spark, prefix + out, checkpoint_dir=prefix + ckpt, files=2)
    for sub in ("state/sigs", "state/bands", "clean"):
        parts = {p for p in os.listdir(f"{out}/{sub}")
                 if p.startswith("batch_id=")}
        assert parts == {"batch_id=-1", "batch_id=1"}, (sub, parts)

    # restart: batch 1 replays against state that still EXCLUDES its own
    # partition — no self-match, no lost docs
    run_stream_minhash_dedup(spark, prefix + d, prefix + out, prefix + ckpt)
    clean = {r["doc_id"] for r in
             spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean == {0, 2, 5}, f"replay lost docs: {clean}"

    # stream moves on: a near-dup of a folded (batch-0) doc still drops
    _write_docs(d, "b3", [(10, _DEDUP_BASE + " extra"),
                          (11, "totally different words " * 5)])
    run_stream_minhash_dedup(spark, prefix + d, prefix + out, prefix + ckpt)
    clean = {r["doc_id"] for r in
             spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean == {0, 2, 5, 11}, clean

    # clean shutdown → full fold: file count bounded by constant × 1 gen
    compact_dedup_state(spark, prefix + out, sig_files=2,
                        checkpoint_dir=prefix + ckpt)
    compact_clean(spark, prefix + out, checkpoint_dir=prefix + ckpt, files=2)
    for sub, cap in (("state/sigs", 2), ("clean", 2)):
        parts = {p for p in os.listdir(f"{out}/{sub}")
                 if p.startswith("batch_id=")}
        assert parts == {"batch_id=-1"}, (sub, parts)
        n = len(glob.glob(f"{out}/{sub}/batch_id=-1/*.parquet"))
        assert n <= cap, (sub, n)
    # post-retention content identical
    assert {r["doc_id"] for r in spark.read.parquet(out + "/clean")
            .select("doc_id").collect()} == {0, 2, 5, 11}


def test_stream_curation_with_line_stage(spark, tmp_path_factory):
    """run_stream_curation(line_dedup=True): the streaming analog of the
    batch chain web_curation → corpus_clean_v2 — lines seen in an earlier
    batch are stripped BEFORE the gates, so an all-boilerplate page
    vanishes without minting MinHash state, while fresh content flows
    through gates + cross-batch near-dup as before."""
    from logport_spark.streaming.curation_stream import run_stream_curation

    good = ("the quick brown fox jumps over the lazy dog and then the dog "
            "sleeps near the quiet river bank every single day in summer")
    other = ("a small boat drifts along the old canal while two birds "
             "circle above the water and the town slowly wakes up again")

    d = str(tmp_path_factory.mktemp("curline_docs"))
    out = str(tmp_path_factory.mktemp("curline_out"))
    ckpt = str(tmp_path_factory.mktemp("curline_ckpt"))
    _write_docs(d, "b1", [(0, good + "\nshared footer line")])
    # doc 10 repeats ONLY batch-1 lines → vanishes pre-gate;
    # doc 11 carries the footer plus fresh text → footer stripped,
    # fresh text survives the gates
    _write_docs(d, "b2", [(10, good + "\nshared footer line"),
                          (11, other + "\nshared footer line")])
    run_stream_curation(spark, d, out, ckpt, line_dedup=True)

    clean = {r.doc_id: r for r in
             spark.read.parquet(out + "/clean").collect()}
    assert set(clean) == {0, 11}, set(clean)
    assert "shared footer line" not in clean[11].text   # stripped
    assert clean[0].text.endswith("shared footer line")  # first keeper
    # doc 10 never minted signature state
    assert {r.doc_id for r in spark.read.parquet(out + "/state/sigs")
            .select("doc_id").collect()} == {0, 11}
    # line-hash state exists and carries no text
    assert set(spark.read.parquet(out + "/state/lines").columns) == \
        {"h", "hb", "batch_id"}


def test_stream_line_dedup_equals_batch_and_replays_lossless(
        spark, tmp_path_factory):
    """Cross-batch C4 line dedup (r5, process_batch_line_dedup): with
    batches arriving in doc_id order, the merged clean/ view equals
    operators.dedup.dedup_lines_corpus over the full corpus row-for-row;
    a crash-replayed batch reproduces itself (state excludes its own
    partitions); compaction folds the hash state; state carries only
    8-byte hashes, never text."""
    import os

    from logport_spark.operators.dedup import dedup_lines_corpus
    from logport_spark.streaming.dedup_stream import (compact_dedup_state,
                                                      run_stream_line_dedup)

    d = str(tmp_path_factory.mktemp("docs_lines"))
    out = str(tmp_path_factory.mktemp("linededup_out"))
    ckpt = str(tmp_path_factory.mktemp("linededup_ckpt"))
    b1 = [(0, "alpha\nboiler\nbeta"), (1, "boiler\ngamma"),
          (2, "boiler")]                      # doc 2 loses its only line
    b2 = [(5, "gamma\nalpha\nzeta"),          # repeats dropped, zeta kept
          (6, "delta\n\ndelta\nepsilon")]     # empty + in-doc dup
    _write_docs(d, "b1", b1)
    _write_docs(d, "b2", b2)
    run_stream_line_dedup(spark, d, out, ckpt)

    batch = {(r.doc_id, r.n_kept, r.text) for r in dedup_lines_corpus(
        spark.createDataFrame(b1 + b2, "doc_id long, text string"))
        .collect()}
    streamed = {(r.doc_id, r.n_kept, r.text) for r in
                spark.read.parquet(out + "/clean")
                .select("doc_id", "n_kept", "text").collect()}
    assert streamed == batch
    assert 2 not in {r[0] for r in streamed}     # all-dup doc dropped out
    # state schema: hashes only
    st = spark.read.parquet(out + "/state/lines")
    assert set(st.columns) == {"h", "hb", "batch_id"}

    # crash-replay: drop batch 1's commit marker, re-run, identical view
    os.remove(ckpt + "/commits/1")
    if os.path.exists(ckpt + "/commits/.1.crc"):
        os.remove(ckpt + "/commits/.1.crc")
    run_stream_line_dedup(spark, d, out, ckpt)
    assert {(r.doc_id, r.n_kept, r.text) for r in
            spark.read.parquet(out + "/clean")
            .select("doc_id", "n_kept", "text").collect()} == batch

    # retention folds the hash state; a post-compaction batch still drops
    # previously-seen lines
    compact_dedup_state(spark, out, checkpoint_dir=ckpt)
    assert {p for p in os.listdir(out + "/state/lines")
            if p.startswith("batch_id=")} == {"batch_id=-1"}
    _write_docs(d, "b3", [(9, "zeta\nbrand new line")])
    run_stream_line_dedup(spark, d, out, ckpt)
    got9 = [r for r in spark.read.parquet(out + "/clean").collect()
            if r.doc_id == 9]
    assert got9 and got9[0].text == "brand new line"


def test_line_dedup_batch_explodes_once(spark, tmp_path):
    """One process_batch_line_dedup batch explodes its lines once: the
    Generate output rows summed over the batch's SQL executions equal the
    batch's line count (the winners are materialized before the bucket
    collect, and the rebuild indexes the split arrays instead of
    exploding them again)."""
    import uuid

    import pandas as pd

    from logport_spark.profile import metric_value
    from logport_spark.streaming.dedup_stream import process_batch_line_dedup

    pdf = pd.DataFrame(datagen.gen_docs(range(60)))
    pdf["doc_id"] = range(len(pdf))
    docs = spark.createDataFrame(pdf[["doc_id", "text"]],
                                 "doc_id long, text string")
    n_lines = sum(len(t.split("\n")) for t in pdf["text"])

    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    prior = {k: sc.getLocalProperty(k) for k in props}
    group = f"line-batch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        process_batch_line_dedup(docs, 0, str(tmp_path / "out"))
    finally:
        for k, v in prior.items():
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    store = spark._jsparkSession.sharedState().statusStore()
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    listed = as_java(store.executionsList())
    generated = 0.0
    for i in range(len(listed)):
        e = listed[i]
        if e.description() != group:
            continue
        values = store.executionMetrics(e.executionId())
        for n in as_java(store.planGraph(e.executionId()).allNodes()):
            if n.name() != "Generate":
                continue
            for m in as_java(n.metrics()):
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    generated += metric_value(v.get())
    assert generated == n_lines


def test_cli_compact_state_verb(spark, tmp_path_factory, capsys, monkeypatch):
    """The compact-state CLI verb drives checkpoint-aware retention end to
    end: committed batches fold to -1, clean/ folds with --clean, and the
    printed JSON names the fold boundary."""
    import json as _json
    import os

    from logport_spark import cli
    from logport_spark.streaming.dedup_stream import run_stream_minhash_dedup

    d = str(tmp_path_factory.mktemp("docs_cliretain"))
    out = str(tmp_path_factory.mktemp("cliretain_out"))
    ckpt = str(tmp_path_factory.mktemp("cliretain_ckpt"))
    _write_docs(d, "b1", [(0, _DEDUP_BASE), (2, _DEDUP_UNIQ)])
    _write_docs(d, "b2", [(5, " ".join(reversed(_DEDUP_UNIQ.split()))
                           + " tail")])
    run_stream_minhash_dedup(spark, d, out, ckpt)

    monkeypatch.setattr(cli, "_spark", lambda cpus=None: spark)
    assert cli.main(["compact-state", "--out", out, "--checkpoint", ckpt,
                     "--sig-files", "2", "--clean"]) == 0
    res = _json.loads(capsys.readouterr().out)
    assert res["folded_through_batch"] == 1 and res["clean_folded"]
    for sub in ("state/sigs", "state/bands", "clean"):
        assert {p for p in os.listdir(f"{out}/{sub}")
                if p.startswith("batch_id=")} == {"batch_id=-1"}, sub
    assert {r["doc_id"] for r in spark.read.parquet(out + "/clean")
            .select("doc_id").collect()} == {0, 2, 5}


def test_adopt_socket_source_ships_identical_records(spark, tmp_path_factory):
    """S5 adopt (streaming/adopt.py): lines piped over a socket must ship
    byte-identical to the same lines fed through the batch envelope path —
    the reference reuses Watch::filterLogLine for adopted processes, we
    reuse routed_from_lines."""
    import socket
    import threading
    import time as _t

    from logport_spark.plans.pipeline import routed_from_lines
    from logport_spark.streaming.adopt import run_adopt

    lines = [
        '{"level":"info","msg":"adopted","code":7}',
        "plain adopted line",
        "",                         # dropped (P2)
        "[1,2",                     # parse-fail branch
        "GET /cache/1 200 77",
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(lines) + "\n").encode())
            _t.sleep(30)  # keep the pipe open while the stream drains

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    out = str(tmp_path_factory.mktemp("adopt_out"))
    ckpt = str(tmp_path_factory.mktemp("adopt_ckpt"))
    q = run_adopt(spark, "127.0.0.1", port, out, ckpt,
                  name="tail_test", fixed_ts="2024-08-01 00:00:00")
    try:
        deadline = _t.time() + 60
        got = 0
        while _t.time() < deadline and got < 4:
            _t.sleep(1)
            try:
                got = spark.read.parquet(out + "/sinks").count()
            except Exception:
                got = 0
        assert got == 4, f"drained {got} records"
    finally:
        q.stop()
        srv.close()

    shipped = spark.read.parquet(out + "/sinks")
    # batch-path reference over the identical framed lines
    import pandas as pd

    ref_lines = spark.createDataFrame(
        pd.DataFrame({
            "url": ["adopt://tail_test/stdout"] * 4,
            "warc_ts": pd.to_datetime(["2024-08-01 00:00:00"] * 4),
            "lang": ["und"] * 4,
            "line_no": [1, 2, 3, 4],
            "line": [l for l in lines if l],
        }))
    ref = routed_from_lines(spark, ref_lines)
    assert (
        sorted(r["record"] for r in shipped.select("record").collect())
        == sorted(r["record"] for r in ref.select("record").collect())
    )
    # parse-fail branch fired exactly once
    assert shipped.filter("parse_fail").count() == 1


def test_adopt_exit_event_matches_reference_format(spark):
    """Child-exit message (src/LogPort.cc:1501-1539): exact reference text,
    process_exit source tag, shipped through the same envelope."""
    import json

    from logport_spark.streaming.adopt import adopt_exit_event

    row = adopt_exit_event(spark, pid=4242, exit_code=3, name="job",
                           fixed_ts="2024-08-01 00:00:00").collect()[0]
    rec = json.loads(row["record"])
    assert rec["log"] == "logport: PID (4242) exited with status 3"
    assert rec["source"] == "adopt://job/process_exit"
    assert not row["parse_fail"]

    sig = adopt_exit_event(spark, pid=7, signal=9).collect()[0]
    assert json.loads(sig["record"])["log"] == "logport: PID (7) killed by signal 9"


def test_stream_curation_gates_then_cross_batch_dedup(spark, tmp_path_factory):
    """Streaming curation composite (streaming/curation_stream.py): per
    micro-batch the corpus_clean_v2 gates run first (low-quality and PII
    docs never reach the dedup state), survivors flow through the
    cross-batch MinHash protocol (a batch-2 near-dup of a batch-1 doc is
    dropped via persisted state), clean/ carries the gate metadata, and
    re-draining with the same checkpoint is a no-op."""
    from logport_spark.streaming.curation_stream import run_stream_curation

    good = ("the quick brown fox jumps over the lazy dog and then the dog "
            "sleeps near the quiet river bank every single day in summer")
    near = good.replace("summer", "winter")   # one 3-gram shingle differs
    fresh = ("a small boat drifts along the old canal while two birds "
             "circle above the water and the town slowly wakes up again")
    lowq = " ".join(str(i * 37 % 97) for i in range(40))     # numeric junk
    pii = good + " contact me at bob@example.com for details"

    d = str(tmp_path_factory.mktemp("cur_docs"))
    out = str(tmp_path_factory.mktemp("cur_out"))
    ckpt = str(tmp_path_factory.mktemp("cur_ckpt"))

    _write_docs(d, "b1", [(0, good), (1, lowq), (2, pii)])
    run_stream_curation(spark, d, out, ckpt)
    clean1 = spark.read.parquet(out + "/clean")
    assert {r.doc_id for r in clean1.select("doc_id").collect()} == {0}
    # gate metadata rides along as the audit trail
    assert {"pred_lang", "quality_score", "top_token_frac",
            "dup_2gram_frac"} <= set(clean1.columns)
    # gated-out docs never minted state: signatures exist only for doc 0
    sigs1 = {r.doc_id for r in
             spark.read.parquet(out + "/state/sigs").select("doc_id").collect()}
    assert sigs1 == {0}

    _write_docs(d, "b2", [(10, near), (11, fresh)])
    run_stream_curation(spark, d, out, ckpt)
    clean2 = {r.doc_id for r in
              spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean2 == {0, 11}, clean2    # 10 dropped cross-batch, 11 kept

    # idempotent re-drain (no new files)
    run_stream_curation(spark, d, out, ckpt)
    clean3 = {r.doc_id for r in
              spark.read.parquet(out + "/clean").select("doc_id").collect()}
    assert clean3 == clean2


def test_stream_state_writes_one_file_per_bucket(spark, tmp_path_factory):
    """Regression guard for the r5 state-write shape: bucket-partitioned
    state (bands kb=, lines hb=) must land as ONE parquet file per bucket
    dir per batch — without the pre-write repartition, every task wrote a
    shard into every bucket dir (~tasks x buckets files per micro-batch,
    measured 1,056 at 10k docs; the listing cost compounds over a
    month-deep stream)."""
    import glob
    import os

    from logport_spark.streaming.dedup_stream import run_stream_minhash_dedup

    d = str(tmp_path_factory.mktemp("docs_fanout"))
    out = str(tmp_path_factory.mktemp("dedup_fanout_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_fanout_ckpt"))
    # enough docs that >1 task holds rows for the same bucket pre-shuffle
    rows = [(i, f"{_DEDUP_BASE} {_DEDUP_UNIQ} doc{i} tok{i*7} tok{i*13}")
            for i in range(200)]
    _write_docs(d, "b1", rows)
    run_stream_minhash_dedup(spark, d, out, ckpt)
    kb_dirs = glob.glob(out + "/state/bands/batch_id=0/kb=*")
    assert kb_dirs, "no band state written"
    for kb in kb_dirs:
        files = [f for f in os.listdir(kb) if f.endswith(".parquet")]
        assert len(files) == 1, f"{kb}: {len(files)} files (want 1)"


def test_ensure_parallelism_cap_is_input_proportional(spark, tmp_path):
    """r6: the micro-batch widen is capped by input bytes (ADVICE #4) —
    a tiny batch no longer fans out to defaultParallelism (total executor
    cores on a real cluster), while a batch big enough to feed every core
    still widens all the way. Expectations derive from the session's own
    defaultParallelism so the test is core-count independent."""
    from logport_spark.streaming.dedup_stream import ensure_parallelism

    par = spark.sparkContext.defaultParallelism

    # ~1 KB single-file batch: cap = ceil(size / 64 KiB) = 1 -> untouched
    tiny_dir = str(tmp_path / "tiny")
    spark.range(10).selectExpr("id as doc_id", "repeat('x', 10) as text") \
        .coalesce(1).write.mode("overwrite").parquet(tiny_dir)
    tiny = spark.read.parquet(tiny_dir)
    assert ensure_parallelism(tiny).rdd.getNumPartitions() == 1

    # a single file comfortably over par * 64 KiB: cap exceeds cores ->
    # widens to the full defaultParallelism, exactly the r5 behavior
    big_dir = str(tmp_path / "big")
    spark.range(3000).selectExpr(
        "id as doc_id",
        "concat_ws(' ', transform(sequence(1, 60), "
        "i -> concat('tok', cast(id * i as string)))) as text"
    ).coalesce(1).write.mode("overwrite").parquet(big_dir)
    big = spark.read.parquet(big_dir)
    import os
    size = sum(os.path.getsize(os.path.join(big_dir, f))
               for f in os.listdir(big_dir) if f.endswith(".parquet"))
    want = min(par, max(1, -(-size // (64 * 1024))))
    assert ensure_parallelism(big).rdd.getNumPartitions() == want


def test_ensure_parallelism_caps_a_stream_batch(spark, tmp_path):
    """The widen cap holds for the micro-batch foreachBatch hands over,
    whose inputFiles() is empty: a ~1 KB stream batch stays one partition
    instead of widening to defaultParallelism."""
    from logport_spark.streaming.dedup_stream import ensure_parallelism
    from logport_spark.streaming.stream import drain, pages_stream

    pages_dir = str(tmp_path / "tiny")
    spark.range(10).selectExpr("id as doc_id", "repeat('x', 10) as text") \
        .coalesce(1).write.mode("overwrite").parquet(pages_dir)
    seen = []

    def process(batch_df, batch_id):
        seen.append(ensure_parallelism(batch_df).rdd.getNumPartitions())

    drain(pages_stream(spark, pages_dir, 1).writeStream.foreachBatch(process),
          str(tmp_path / "ckpt"))
    assert seen == [1]


def test_absent_state_is_an_empty_declared_scan(spark, tmp_path):
    """A state table that does not exist yet reads as an empty scan of zero
    paths with the declared schema — no list-built frame (Scan
    ExistingRDD)."""
    from pyspark.sql.types import DataType

    from logport_spark.streaming.dedup_stream import _read_state

    ddl = "key long, doc_id long"
    st = _read_state(spark, str(tmp_path / "absent"), ddl, exclude_batch=0)
    assert st.schema == DataType.fromDDL(ddl)
    assert st.count() == 0
    assert "ExistingRDD" not in st._jdf.queryExecution().executedPlan().toString()
