"""Streaming corpus curation: gates → cross-batch near-dup → clean corpus.

The batch composite (`corpus_clean_v2` — exact dedup, Gopher quality/
repetition rules, language gate, PII gate, MinHash near-dup drop) assumes
the whole corpus is on disk; a crawl does not arrive that way. This module
is the same curation contract over CONTINUOUS ingestion: each micro-batch
of raw documents runs the per-doc gates (deterministic row functions — one
narrow pass, no state), and survivors flow into the cross-batch MinHash
protocol (dedup_stream.process_batch_dedup), inheriting its key-bucketed
state pruning, batch_id dynamic-overwrite exactly-once, and compaction.

Order matters for cost: gates run FIRST, so rejected docs (the majority of
raw web text under Gopher rules) never mint signatures or band rows —
state grows with the CLEAN corpus, not the crawl. The gates themselves are
stateless, so a crash-replayed batch gates identically and the downstream
idempotence contract (module docstring of dedup_stream) is preserved
end-to-end; clean/ accumulates (doc_id, text + gate metadata) per batch_id
— training-ready, resumable, and re-derivable.

Reference tie-in: this is the logport shape (tail → parse → route) with
curation as the routing decision — what the north_star's parse→enrich→
route DAG looks like when the payload is training text instead of log
lines (/root/reference/src/LogPort.cc select loop; re-expressed, not
ported).

Sizing runbook (every number measured — BENCH/BASELINE.md "Streaming
ladder" / "State-depth scaling"):
  * micro-batch size: the dominant cost term is PER-BATCH engine fixed
    cost, so size batches as large as latency allows — the same 1M docs
    cost 2.6× more as 10×100k batches than as one; ≥100k docs/batch is
    where the protocol stops mattering on this box.
  * state row depth: ~4% per-batch cost at 10× depth — not the knob to
    worry about.
  * generation count: +48% per batch at 100 raw generations (file
    listing/opens, not rows). Run compact_dedup_state (and compact_clean
    for clean/) every ~50-100 micro-batches (stream stopped,
    checkpoint-aware; both fold through stream.fold_batches); it returns
    the batch below the 1-generation floor.
  * n_state_buckets: state-write parallelism equals the bucket count
    (one file per bucket per batch) and the per-batch state scan reads
    only the batch's own buckets — size to the cluster's write slots,
    not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryProgress

from .dedup_stream import line_dedup_core, process_batch_dedup
from .stream import drain, pages_stream, write_batch_partition


def gate_docs(docs: DataFrame,
              min_quality: float = 0.5,
              max_dup_2gram: float = 0.5,
              max_top_token: float = 0.3) -> DataFrame:
    """The corpus_clean_v2 per-document gate set as one reusable pass:
    quality ≥ min_quality, language known, no PII, Gopher repetition caps.
    Pure row functions over (doc_id, text) — composes with any upstream
    partitioning, safe to replay. Returns survivors with the gate
    metadata columns kept (the curation audit trail)."""
    from ..operators.textstats import lang_id, pii_scrub, quality, repetition

    feats = pii_scrub(repetition(lang_id(quality(docs))))
    return (feats.filter(
        (F.col("quality_score") >= min_quality)
        & (F.col("pred_lang") != "und")
        & ~F.col("has_pii")
        & (F.col("dup_2gram_frac") <= max_dup_2gram)
        & (F.col("top_token_frac") <= max_top_token))
        .select("doc_id", "text", "pred_lang", "quality_score",
                "top_token_frac", "dup_2gram_frac"))


def run_stream_curation(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    min_quality: float = 0.5,
    threshold: float = 0.8,
    est_threshold: float = 0.7,
    max_files: int = 1,
    n_state_buckets: int = 32,
    line_dedup: bool = False,
) -> list[StreamingQueryProgress]:
    """Continuous curation: drain available raw-doc files, gate each
    micro-batch, and feed survivors through the cross-batch near-dup
    protocol. clean/ accrues the gated, deduplicated corpus exactly-once
    across restarts (batch_id dynamic overwrite; gates are deterministic,
    so a replayed batch reproduces itself bit-for-bit).

    ``line_dedup=True`` prepends the cross-batch C4 line stage
    (dedup_stream.line_dedup_core) — the streaming analog of the batch
    chain web_curation → corpus_clean_v2: boilerplate/duplicate lines are
    removed against month-deep line-hash state BEFORE the gates see the
    text (a page that is all seen-before lines vanishes instead of paying
    gate evaluation or minting MinHash state), and the rebuilt docs flow
    on. The line-hash state lives under the same out_dir
    (state/lines, (batch_id, hb) partitions) and inherits the replay and
    compaction contracts unchanged. Returns the drain's per-batch progress
    records."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # NO widen here: repartitioning the raw batch text before the
        # gates was measured 1.5× SLOWER end-to-end (1M/10 leg 506→754s)
        # — the gates are cheap row functions that drop ~90% of rows, so
        # the full-text shuffle buys nothing. The widen lives where the
        # heavy narrow work is: line_dedup_core (line explode) and
        # process_batch_dedup (shingle/signature mint) widen their OWN
        # inputs (post-gate, 10× smaller here).
        docs = batch_df.select("doc_id", "text")
        fresh = None
        if line_dedup:
            docs, fresh = line_dedup_core(docs, batch_id, out_dir,
                                          n_state_buckets=n_state_buckets)
            docs = docs.select("doc_id", "text")
        gated = gate_docs(docs, min_quality=min_quality)
        process_batch_dedup(gated, batch_id, out_dir,
                            threshold=threshold,
                            est_threshold=est_threshold,
                            n_state_buckets=n_state_buckets)
        if fresh is not None:
            # line state commits AFTER the dedup writes, inside the same
            # batch (all writes are batch_id dynamic overwrites — replay
            # rewrites every one, so intra-batch order is free)
            write_batch_partition(
                fresh.select("h", "hb").repartition("hb"), batch_id,
                out_dir.rstrip("/") + "/state/lines", "hb")

    return drain(pages_stream(spark, docs_dir, max_files)
                 .writeStream.foreachBatch(process), checkpoint_dir)
