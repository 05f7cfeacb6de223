"""Cross-batch streaming near-dup removal: incremental MinHash+LSH.

`dedup_stream` (stream.py) removes exact key redeliveries inside a
watermark window — the transport-level cure. A continuous corpus ingestion
loop needs the CONTENT-level cure across unbounded time: a document
arriving today must be dropped if it near-duplicates one ingested last
month. Spark's built-in stateful operators can't hold that state (it is
per-corpus, not per-window), so this runs the standard incremental-LSH
design inside foreachBatch:

  state (parquet, grows O(docs), never holds text):
    state/sigs  — (doc_id, sig ARRAY<LONG>[64])            ~520 B/doc
    state/bands — (band, key, doc_id), 16 rows/doc          ~400 B/doc

  Signatures and band keys come from the MinHash core in
  operators/dedup.py (shingle_hashes, minhash_signatures_h64, lsh_bands);
  this module signs and bands nothing itself, so the state it writes is
  the batch operators' shape exactly.

  per micro-batch:
    1. in-batch near-dup pairs with the batch-local EXACT-verify miner
       (operators/dedup.lsh_verified_pairs over the batch's shingle
       hashes + signatures, minted ONCE and reused as the state rows —
       text is at hand); drop the larger id of each pair.
    2. survivors' band keys join state/bands on (band, key) → cross-batch
       candidates; candidates join state/sigs and the batch sigs, and the
       SIGNATURE-ESTIMATED Jaccard (matching minhash fraction — the
       unbiased MinHash estimator) decides the drop. Estimated, because
       state deliberately never stores text or shingle sets: 64 longs/doc
       is what makes month-deep state affordable at 10^9 docs.
    3. kept docs append to clean/, kept (sig, band) rows append to state/
       — every write lands under the micro-batch's own batch_id partition
       with dynamic overwrite, so a crash-replayed batch overwrites itself
       (the same exactly-once discipline as run_stream_pipeline); the band
       join is duplicate-tolerant anyway (candidates are DISTINCT pairs).

The estimator's std at J=0.8 with k=64 is sqrt(J(1-J)/k) ≈ 0.05, so
`est_threshold` defaults slightly below the miner's exact threshold to
hold capture (the classic two-sided trade; pytest pins planted near-dups
dropped and uniques kept).

Reference tie-in: logport's undelivered_log replays WHOLE lines after a
crash (src/Watch.cc:180-200) — at-least-once delivery that *creates*
duplicates; this operator is the corpus-scale consumer-side repair.

SCALE NOTE — the per-batch state join: state/bands is partitioned by
(batch_id, kb) where kb = pmod(key, n_state_buckets); each micro-batch
collects its (bounded, ≤ n_state_buckets) distinct kb values and filters
the state scan with a literal IN, so the band join reads only the key
buckets the batch can actually hit — a small batch against month-deep
state touches batch_kb/n_state_buckets of the band files instead of all
of them (pytest asserts this via inputFiles). Remaining upgrades at
Iceberg scale: sort state within kb on (band, key) for row-group
skipping, or a bucketed table for a shuffle-free state side. The
signature table is only touched for candidate ids (semi-joined), so it
never bounds the batch. `compact_dedup_state` merges the per-batch
partitions into one batch_id=-1 generation so state file count stays
bounded over a long-lived stream; like every compaction verb it runs the
protocol's one fold, stream.fold_batches.

CRASH-REPLAY CONTRACT — a replayed micro-batch must NOT see the state it
wrote before the crash: its own (sig, band) rows would self-match every
kept doc at estimated J = 1.0 and the dynamic overwrite would replace
clean/ with an empty partition (silent loss of the whole batch). State
reads therefore keep batch_id and filter batch_id != current — a
partition-level prune, so the replayed batch's own directories are never
even scanned — making process() idempotent: same input + same prior
state ⇒ same output, which is exactly what dynamic partition overwrite
needs. Pinned by test_stream_minhash_dedup_crash_replay_is_lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress

from ..operators.dedup import (
    NUM_HASHES,
    _doc_line_arrays,
    _first_winners,
    _line_meta,
    _rebuild_docs,
    lsh_bands,
    lsh_verified_pairs,
    minhash_signatures_h64,
    shingle_hashes,
)
from ..plans.ledger import plan_bytes, read_declared
from .stream import (drain, fold_batches, last_committed_batch, pages_stream,
                     write_batch_partition)


def estimated_jaccard(s1: str, s2: str):
    """Matching-minhash fraction — the unbiased MinHash Jaccard estimator."""
    return F.expr(
        f"aggregate(zip_with({s1}, {s2}, (x, y) -> IF(x = y, 1, 0)), 0,"
        f" (a, v) -> a + v) / cast({NUM_HASHES} as double)"
    )


def ensure_parallelism(df: DataFrame,
                       target_bytes_per_task: int = 64 * 1024) -> DataFrame:
    """Widen an under-partitioned micro-batch toward the session's cores,
    capped by input size.

    A micro-batch's partition count is whatever the file source's split
    math yields — a 100k-doc batch arriving as one ~26 MB parquet file is
    ONE task, so every narrow stage before the first shuffle (gates,
    shingling, signature mint — the drain's dominant compute) runs
    single-threaded no matter how many cores the executor has. Measured:
    the same 100k batch at local[32] drops 52→33s (first eval) / 90→24s
    (steady) with this widen. Widen-ONLY: a batch that already has ≥
    cores partitions (any real crawl drop of many shard files) is
    untouched, so at scale this is a no-op and never adds a shuffle.

    The widen is CAPPED at ceil(input_bytes / target_bytes_per_task): on a
    real cluster defaultParallelism is total executor cores, and widening
    a small gated batch to it would mint hundreds of near-empty tasks.
    64 KiB of zstd parquet ≈ ~0.25 MB of text ≈ a meaningful
    shingling/minhash task (the drain is CPU-bound), so every local ladder
    batch (2.6-26 MB) still widens to all 32 local cores exactly as
    before the cap — the interleaved stream A/B showed the 1-batch
    (uncapped either way) and 10-batch legs drifting identically with
    ambient load, i.e. no local effect — while the same batches on a
    2000-core cluster get ~41/~416 real tasks, not 2000 near-empty
    ones. Input bytes are the plan's size statistic (ledger.plan_bytes,
    which ledger.estimated_pages reads too): no RPC and no job, and unlike
    ``df.inputFiles()`` it is still filled in for the micro-batch handed
    to foreachBatch.

    The batch-side session.ensure_min_parallelism intentionally has NO
    such cap: it wraps one-shot CPU-heavy scans (tiny parquet, seconds of
    shingling) where bytes are the wrong proxy for work; this helper runs
    per micro-batch forever, where over-widening mints near-empty tasks
    on every trigger."""
    par = df.sparkSession.sparkContext.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= par:
        return df
    want = min(par, max(cur, -(-plan_bytes(df) // target_bytes_per_task)))
    if cur < want:
        return df.repartition(want)
    return df


def _read_state(spark: SparkSession, path: str, ddl: str,
                exclude_batch: int) -> DataFrame:
    """Read a state table, pruning the excluded batch's partitions at scan
    level (the crash-replay contract — module docstring)."""
    return (read_declared(spark, path, ddl + ", batch_id long")
            .filter(F.col("batch_id") != F.lit(exclude_batch))
            .drop("batch_id"))


def _pruned_state_bands(spark: SparkSession, bands_dir: str,
                        exclude_batch: int, kbs: list) -> DataFrame:
    """Band state scan pruned to the key buckets a batch can hit, with the
    replaying batch's own partitions excluded. Both filters are literal
    predicates on partition columns, so they prune directories, not rows."""
    # band is posexplode's pos column — IntegerType on disk; declare it
    # so the read never depends on parquet type widening
    return _read_state(
        spark, bands_dir, "band int, key long, doc_id long, kb int",
        exclude_batch,
    ).filter(F.col("kb").isin(kbs)).drop("kb")


def process_batch_dedup(batch_df: DataFrame, batch_id: int, out_dir: str,
                        threshold: float = 0.8, est_threshold: float = 0.7,
                        n_state_buckets: int = 32) -> None:
    """One micro-batch of the cross-batch near-dup protocol (module
    docstring): in-batch exact-verified drops, cross-batch estimated-J
    drops against the key-bucket-pruned band state, then the three
    idempotent batch_id-partition overwrites (clean, sigs, bands).
    Factored out so composites (streaming/curation_stream.py) can gate
    docs first and reuse the identical state/idempotence contract."""
    sigs_dir = out_dir.rstrip("/") + "/state/sigs"
    bands_dir = out_dir.rstrip("/") + "/state/bands"
    clean_dir = out_dir.rstrip("/") + "/clean"
    sp = batch_df.sparkSession
    docs = ensure_parallelism(batch_df).persist()
    # 1. in-batch near-dups, exact verify (text available). Shingle
    # hashes + signatures are minted ONCE for the batch: the miner's
    # verify core reuses them, and the kept rows of the same signature
    # table become the cross-batch state.
    sh = shingle_hashes(docs, 3).persist()
    sig_all = minhash_signatures_h64(sh).persist()
    drops = lsh_verified_pairs(sh, sig_all, threshold=threshold).select(
        F.col("d2").alias("doc_id")).distinct()
    kept = docs.join(drops, "doc_id", "left_anti")
    sig = sig_all.join(drops, "doc_id", "left_anti").persist()
    # 2. cross-batch candidates vs persisted bands, estimated-J verify
    batch_bands = lsh_bands(sig).withColumn(
        "kb", F.pmod(F.col("key"), F.lit(n_state_buckets)).cast("int"))
    # bounded collect: ≤ n_state_buckets values, drives partition pruning
    kbs = [r["kb"] for r in batch_bands.select("kb").distinct().collect()]
    state_bands = _pruned_state_bands(sp, bands_dir, batch_id, kbs)
    state_sigs = _read_state(
        sp, sigs_dir, "doc_id long, sig array<long>", batch_id)
    cands = (
        batch_bands.drop("kb").alias("n")
        .join(state_bands.alias("o"), ["band", "key"])
        .select(F.col("n.doc_id").alias("new_id"),
                F.col("o.doc_id").alias("old_id"))
        .distinct()
    )
    cross_drops = (
        cands
        .join(sig.select(F.col("doc_id").alias("new_id"),
                         F.col("sig").alias("s_new")), "new_id")
        .join(state_sigs.select(F.col("doc_id").alias("old_id"),
                                F.col("sig").alias("s_old")), "old_id")
        .withColumn("est_j", estimated_jaccard("s_new", "s_old"))
        .filter(F.col("est_j") >= est_threshold)
        .select(F.col("new_id").alias("doc_id")).distinct()
    )
    final = kept.join(cross_drops, "doc_id", "left_anti")
    final_sig = sig.join(cross_drops, "doc_id", "left_anti")

    write_batch_partition(final, batch_id, clean_dir)
    write_batch_partition(final_sig, batch_id, sigs_dir)
    final_bands = (batch_bands.join(cross_drops, "doc_id", "left_anti")
                   .select("band", "key", "doc_id", "kb"))
    write_batch_partition(final_bands.repartition("kb"), batch_id,
                          bands_dir, "kb")
    sig.unpersist()
    sig_all.unpersist()
    sh.unpersist()
    docs.unpersist()


def line_dedup_core(batch_df: DataFrame, batch_id: int, out_dir: str,
                    n_state_buckets: int = 32
                    ) -> tuple[DataFrame, DataFrame]:
    """The stateful heart of cross-batch line dedup, factored so
    composites (streaming/curation_stream.py) can chain it BEFORE their
    gates: returns (rebuilt_docs, fresh) — rebuilt docs carry only this
    batch's first occurrences of unseen lines; fresh (h, hb, doc_id,
    line_no) are those occurrences, whose (h, hb) the caller persists
    under the batch's state partition.

    It runs on the batch line-grain core of operators/dedup.py: the one
    line explode (_line_meta, whose h1 is the xxhash64(line) the state
    keeps as h), the keep-first winners on h, and the shared rebuild
    (_rebuild_docs). The winners carry (doc_id, line_no), never text, and
    are materialized once per batch with an eager localCheckpoint before
    the bucket collect, so the batch explodes once; their blocks live as
    long as the returned frames."""
    lines_dir = out_dir.rstrip("/") + "/state/lines"
    sp = batch_df.sparkSession
    d = _doc_line_arrays(ensure_parallelism(batch_df), "text", "doc_id")
    winners = (_first_winners(_line_meta(d), keys=("h1",))
               .withColumnRenamed("h1", "h")
               .withColumn("hb", F.pmod(F.col("h"),
                                        F.lit(n_state_buckets)).cast("int"))
               .localCheckpoint(eager=True))
    kbs = [r["hb"] for r in winners.select("hb").distinct().collect()]
    state = (_read_state(sp, lines_dir, "h long, hb int", batch_id)
             .filter(F.col("hb").isin(kbs)))
    fresh = winners.join(state, "h", "left_anti")
    return _rebuild_docs(fresh, d), fresh


def process_batch_line_dedup(batch_df: DataFrame, batch_id: int,
                             out_dir: str,
                             n_state_buckets: int = 32) -> None:
    """One micro-batch of cross-batch C4 LINE dedup — the streaming twin
    of operators.dedup.dedup_lines_corpus, on the exact protocol
    process_batch_dedup uses (state under batch_id partitions, current
    batch excluded at partition level, idempotent dynamic overwrites, so
    crash-replay is lossless and the same compaction machinery applies).

    Per batch (line_dedup_core): explode lines → xxhash64 → keep a line
    occurrence iff it is the first occurrence within this batch (min
    (doc_id, line_no) per hash — a partial-agg groupBy, never a window)
    and its hash is absent from PRIOR state (anti-join, state scan pruned
    to the batch's hash buckets hb = pmod(h, N)). Docs rebuild
    batch-locally (a doc lives in one batch; only LINE HASHES cross
    batches — 8 B/line, never text).

    First-occurrence semantics: ARRIVAL-first (the first batch that ships
    a line keeps it) — what a rolling crawl wants; the batch operator's
    global min-(doc_id, line_no) coincides when batches arrive in id
    order (pytest pins that equality). State is O(distinct lines) exact —
    honest 100 TB note: at 10^13 lines that is ~80 TB of 8-byte hashes
    spread over the bucket partitions; past that, swap the anti-join for
    the Bloom prefilter (dedup.bloom_build's bitmap, accepting its FP
    drop rate) — the state LAYOUT and replay contract stay identical."""
    rebuilt, fresh = line_dedup_core(batch_df, batch_id, out_dir,
                                     n_state_buckets=n_state_buckets)
    write_batch_partition(rebuilt, batch_id,
                          out_dir.rstrip("/") + "/clean")
    write_batch_partition(fresh.select("h", "hb").repartition("hb"), batch_id,
                          out_dir.rstrip("/") + "/state/lines", "hb")


def run_stream_line_dedup(spark: SparkSession, docs_dir: str, out_dir: str,
                          checkpoint_dir: str, max_files: int = 1,
                          n_state_buckets: int = 32
                          ) -> list[StreamingQueryProgress]:
    """availableNow stream driving process_batch_line_dedup; returns the
    drain's per-batch progress records."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_batch_line_dedup(batch_df, batch_id, out_dir,
                                 n_state_buckets=n_state_buckets)

    return drain(pages_stream(spark, docs_dir, max_files)
                 .writeStream.foreachBatch(process), checkpoint_dir)


def run_stream_minhash_dedup(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    est_threshold: float = 0.7,
    max_files: int = 1,
    n_state_buckets: int = 32,
) -> list[StreamingQueryProgress]:
    """Continuous corpus ingestion with in-batch exact and cross-batch
    estimated near-dup removal (module docstring). Drains available files
    (availableNow) with `max_files` per micro-batch and returns the drain's
    per-batch progress records."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_batch_dedup(batch_df, batch_id, out_dir,
                            threshold=threshold,
                            est_threshold=est_threshold,
                            n_state_buckets=n_state_buckets)

    return drain(pages_stream(spark, docs_dir, max_files)
                 .writeStream.foreachBatch(process), checkpoint_dir)


def compact_dedup_state(spark: SparkSession, out_dir: str,
                        sig_files: int = 8,
                        checkpoint_dir: str | None = None) -> None:
    """Offline state maintenance: merge batch_id partitions into one
    compacted batch_id=-1 generation, so state file count stays bounded
    over a long-lived stream (a month-deep stream is ~10^4-10^5
    micro-batches → that many tiny partitions and a linearly growing
    listing cost otherwise). Bands keep their kb sub-partitioning (one
    file per key bucket — the pruning contract is unchanged); sigs
    coalesce to `sig_files`. Run with the stream stopped.

    Retention safety (r4 verdict #7): with ``checkpoint_dir`` given, only
    batches the checkpoint has COMMITTED are folded — a crashed batch's
    partitions survive under their own batch_id, so the restart replay
    still excludes them via the batch_id != current filter instead of
    self-matching against a folded copy. Without a checkpoint_dir the
    caller asserts a CLEAN shutdown (everything folds, the original
    behavior).

    Crash safety: a rerun recovers a fold that died (fold_batches), and
    state is rebuildable anyway — a pure function of clean/ (signatures +
    band rows of the kept docs). An absent table is skipped."""
    fold_max = (None if checkpoint_dir is None
                else last_committed_batch(spark, checkpoint_dir))
    state = out_dir.rstrip("/") + "/state"
    for path, ddl, repartition, parts in (
            (state + "/bands", "band int, key long, doc_id long, kb int",
             lambda df: df.repartition("batch_id", "kb"), ["kb"]),
            # round-robin repartition: ≤ sig_files files PER surviving
            # batch_id dir — file count stays ≤ sig_files × generations
            (state + "/sigs", "doc_id long, sig array<long>",
             lambda df: df.repartition(sig_files), []),
            # the line-dedup stream's hash state — hb partitions
            (state + "/lines", "h long, hb int",
             lambda df: df.repartition("batch_id", "hb"), ["hb"])):
        fold_batches(spark, path, ddl, fold_max, repartition, parts)


def compact_clean(spark: SparkSession, out_dir: str,
                  checkpoint_dir: str | None = None,
                  files: int = 16) -> None:
    """Retention for the OUTPUT view: fold committed clean/ batch
    partitions into batch_id=-1 so downstream reads list O(generations)
    files instead of O(micro-batches). Only committed batches fold (same
    replay argument as compact_dedup_state: a replayed batch overwrites
    its OWN batch_id partition idempotently — folding it first would leave
    its rows duplicated in -1). Row content is untouched; every reader of
    clean/ sees the identical document set."""
    fold_max = (None if checkpoint_dir is None
                else last_committed_batch(spark, checkpoint_dir))
    clean_dir = out_dir.rstrip("/") + "/clean"
    schema = spark.read.parquet(clean_dir).drop("batch_id").schema
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                    for f in schema.fields)
    fold_batches(spark, clean_dir, ddl, fold_max,
                 lambda df: df.repartition(files))
