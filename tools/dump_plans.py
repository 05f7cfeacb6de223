#!/usr/bin/env python
"""Regenerate PLANS.md: annotated executed-plan records for the queries
whose physical shape the 100 TB design depends on. Each query runs to a
noop sink under logport_spark.profile, so every section shows the final
AQE plan that ran (`isFinalPlan=true`) and its operators' row and byte
counters, not the pre-execution plan. Run after any operator change:
`python tools/dump_plans.py`."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

ANNOTATED = {
    "lp_envelope": (
        "The parse hot path, with no shuffle exchange. Each page is enriched "
        "and routed BEFORE the line split: the domain, lang and route map "
        "literals are probed by a Project on the page rows (10,000 here), no "
        "join, then Generate + Filter emit the lines (185,071), all "
        "in ONE WholeStageCodegen span from the scan. ArrowEvalPython "
        "appears once, fed a NULL-masked line column (JSON candidates only; "
        "it still receives every line), and it ends that span: the envelope "
        "concat is a second codegen span. ReadSchema excludes `html` (the "
        "widest column)."
    ),
    "lp_sink_metrics": (
        "Full DAG + per-sink aggregation: pages are routed before the line "
        "Generate (as in lp_envelope), partial_ aggregate map-side, one "
        "Exchange on `sink` (7 groups), final aggregate. The only wide step "
        "in the whole pipeline."
    ),
    "q5_regional_revenue": (
        "5-way join: lineitem streams with a 4-column ReadSchema; orders/"
        "supplier/nation/region all BuildRight broadcasts; date + region "
        "predicates pushed into the scans; one Exchange for the final group."
    ),
    "lp_http_batches": (
        "Wire batching: window over (sink, crc32-bucket) sub-streams, then "
        "groupBy(sink, bucket, batch_id) REUSES the window's partitioning — "
        "exactly one Exchange hashpartitioning in the plan."
    ),
    "dedup_minhash_pairs": (
        "MinHash+LSH: the shingle hashes (doc_id, h64) are materialized once "
        "by an eager localCheckpoint while the query is built (the shingle "
        "explode and the `_docs` RoundRobin widen run there), so every read "
        "of them here is a Scan ExistingRDD, not an InMemoryTableScan; the "
        "64-hash signature aggregate shuffles on doc_id once (the second "
        "side is a ReusedExchange); LSH banding joins on (band, key); only "
        "LSH candidates reach the exact-Jaccard verify join, and the two "
        "shingle-count aggregates are one (ReusedExchange). AQE broadcasts "
        "the 26,136-row shingle table into the verify joins here."
    ),
    "asof_purchase_click": (
        "As-of join as union+window: one Exchange on the key, no "
        "BroadcastNestedLoopJoin / range-join explosion."
    ),
    "error_click_pairs": (
        "Interval join as a time-bucketed equi-join: explode to 3 adjacent "
        "buckets, hash join on (key, bucket), exact |delta| filter after — "
        "never a nested-loop range join."
    ),
    "embedding_lsh_pairs": (
        "Embedding near-dup at scale: ONE ArrowEvalPython computes all 16 "
        "band keys per row (numpy matmul), posexplode, then the family's "
        "one self-join (dedup.shared_key_pairs) on (t, key) — never an "
        "O(n^2) cross product; no hint: AQE broadcasts one band table here "
        "(8,000 rows), so the only keyed shuffle is the (d1, d2) candidate "
        "dedup; only deduped candidates re-join the vectors for the "
        "exact-cosine filter (similarity._cosine_pairs)."
    ),
    "corpus_clean": (
        "Curation composite: exact dedup on md5(text) is a min(struct) "
        "aggregate keyed on text_md5 (partial SortAggregate map-side, not a "
        "window), persisted once and read by BOTH branches from an "
        "InMemoryTableScan; the near-dup drop set is pair-survivor-sized, "
        "but the executed left-anti join is a SortMergeJoin shuffled on "
        "doc_id, not a broadcast."
    ),
    "ann_ivf_topk": (
        "IVF-flat: centroids ride the Arrow kernel's closure, so corpus cell "
        "assignment is one narrow MapInPandas over the scan — Python, but no "
        "keyed shuffle (the RoundRobin Exchange below it is the `_emb` "
        "single-file ingest widen); probed cells broadcast into the "
        "candidate join and only candidates reach the exact rerank."
    ),
    "dedup_clusters": (
        "Connected components: the returned labels are a Scan ExistingRDD of "
        "the last round's localCheckpoint — the rounds run while the query "
        "is built, each materializing ONE label table (checkpoint + fixpoint "
        "count) so lineage never stacks rounds; each round is two shuffles "
        "(edge join on id, pointer-jump join on label), O(log diameter) "
        "rounds total. r6: the fixpoint count is a filter over the "
        "materialized round (old label rides along) — the per-round "
        "convergence self-join is gone — and round 1 skips the identity "
        "pointer jump."
    ),
    "text_repetition": (
        "Gopher repetition signals: the whole operator is a single Project "
        "over the scan — sorted-shingle folds are per-row JVM aggregate() "
        "lambdas, so there is NO keyed exchange and NO Python in the plan; "
        "it scales like a map. The one RoundRobin Exchange is the `_docs` "
        "single-file ingest widen, absent on a many-file table."
    ),
    "contamination_scan": (
        "Eval-contamination semi-join: train collapses to DISTINCT 64-bit "
        "shingle hashes (HashAggregate, 8 B per unique shingle — no text), "
        "test shingles LeftSemi-join on h64, then a per-doc count. One "
        "shuffle keyed on the hash; the train side never rejoins."
    ),
    "lm_bits": (
        "Unigram LM scoring: explode → (doc_id, tok) partial agg (r4: the "
        "join input is per-doc DISTINCT tokens, not occurrences — 'the' "
        "crosses the token shuffle once per doc) → partial-agg vocabulary → "
        "the corpus-total via a BroadcastNestedLoopJoin of ONE row → "
        "token-keyed join back → count-weighted per-doc mean. Vocabulary "
        "stays distributed, but at this scale AQE also broadcasts the "
        "per-doc token side of the token-keyed join (BuildLeft), so the "
        "single-row total is not the only broadcast."
    ),
    "line_dedup_corpus": (
        "C4 corpus line dedup: posexplode line METADATA (128-bit "
        "fingerprint + in-doc-first flag, no text) → min(struct) agg on (h1, "
        "h2) (map-side combine — no window, so a boilerplate line repeated "
        "corpus-wide combines before the exchange) → per-doc keep-list agg → "
        "doc-keyed join back to the un-exploded docs rebuilds text. At "
        "runtime AQE broadcasts the DOCS side of that join (BuildRight: "
        "10,000 split-text rows, 16.5 MiB), not the keep-list, so corpus "
        "text crosses one BroadcastExchange; neither shuffle exchange "
        "carries text."
    ),
    "strip_boilerplate": (
        "Boilerplate removal: the per-doc distinct set is the narrow "
        "in-doc-first flag (zero shuffle), line doc-freq is ONE partial agg "
        "over bare 16-byte fingerprints, and the ≥min_docs set anti-joins "
        "the line METADATA stream. No broadcast is forced: AQE broadcasts "
        "the set because it is small here (10 rows), and would shuffle both "
        "sides if it were not. The per-doc keep-list joins back to the "
        "un-exploded docs for the text rebuild, where AQE broadcasts the "
        "docs text side (BuildRight, 10,000 rows): text crosses that one "
        "BroadcastExchange and no shuffle exchange."
    ),
    "domain_boilerplate": (
        "Per-domain site chrome: per-doc distinct via the narrow "
        "in-doc-first flag → (domain, fingerprint) doc-freq partial agg → "
        "the ≥min_docs set anti-joins the line METADATA stream on (domain, "
        "h1, h2) — SHUFFLED, not broadcast, because at web scale the set "
        "grows with domain count (millions of hosts × chrome lines); AQE "
        "demotes it to broadcast when small. Skew-safe: a hot domain's rows "
        "split across its distinct lines. Per-doc keep-list + doc-keyed join "
        "rebuild — the whole line family's shape, with its runtime catch: "
        "AQE broadcasts the docs text side of the rebuild (BuildRight, "
        "10,000 rows), so text crosses one BroadcastExchange; no shuffle "
        "exchange carries text."
    ),
    "semantic_dedup_pairs": (
        "SemDeDup: centroid scoring in one narrow MapInPandas (centroids "
        "ride the Arrow kernel's closure; the RoundRobin Exchange below it "
        "is the `_emb` single-file ingest widen) -> cell self-join on bare "
        "(cell, id) (dedup.shared_key_pairs) -> vectors re-joined by id for "
        "the exact-cosine verify (similarity._cosine_pairs, the same verify "
        "embedding_lsh_pairs runs)."
    ),
    "web_curation": (
        "End-to-end pages curation (fused line shape): url keep-max agg "
        "-> left-semi on url -> fingerprint-keyed fused df+keep-first agg "
        "over in-doc-first line metadata -> per-doc keep-list -> doc-keyed "
        "rebuild join -> n_kept filter. Every shuffle is an aggregating "
        "exchange with map-side combine over metadata and no window has a "
        "content key, but AQE broadcasts the docs text side of the rebuild "
        "join (BuildRight, 10,000 rows), so text crosses one "
        "BroadcastExchange."
    ),
    "pack_sequences": (
        "Sequence packing: hash shard (pure row function) → ONE exchange on "
        "shard (after the `_docs` single-file ingest widen, a RoundRobin "
        "Exchange absent on a many-file table) → per-shard Window running "
        "sum (n_shards independent bounded sorts, no global order) → "
        "first-fit pack_id as a codegen'd projection."
    ),
    "html_extract": (
        "HTML→text extraction: ZERO exchanges — cast-reinterpret + "
        "is_valid_utf8 gate + the whole strip/entity/collapse regexp chain "
        "in one WholeStageCodegen Project over the scan (runtime "
        "subexpression elimination shares the repeated chain between body "
        "and body_chars). The plan you want for a scan-speed narrow map "
        "over 100 TB of html."
    ),
    "span_dedup_docs": (
        "Span-dedup removal: windows hash to xxhash64 pre-shuffle; corpus "
        "freq = hash-keyed partial+final agg; ≥2 set semi-joins back "
        "(broadcast at this SF, SMJ at scale); duplicated starts collapse "
        "per doc (collect_list bounded by doc length); rebuild is a "
        "codegen'd filter/exists over the token array. Text crosses only the "
        "`_docs` single-file ingest widen (RoundRobin, absent on a many-file "
        "table); no keyed exchange carries it."
    ),
    "corpus_shuffle": (
        "Deterministic corpus shuffle: md5/shard/sort_key are pure row "
        "functions; ONE hashpartitioning exchange on shard feeds per-shard "
        "Window row_number — n_shards independent bounded sorts, never a "
        "global order."
    ),
    "snapshot_delta": (
        "Incremental-crawl delta: old side collapses to (canon_url, digest) "
        "via max(struct) partial agg (no text), then one canon_url join "
        "(broadcast here; both-sides-keyed SMJ at corpus scale). New-side "
        "digest is a codegen'd md5 — page bodies never shuffle."
    ),
    "lm_buckets": (
        "CCNet terciles: unigram_logprob's own shuffles (per-doc-distinct "
        "token join) + an O(langs) percentile cut table BROADCAST back to "
        "the score stream; the bucket CASE is a codegen'd projection. "
        "Identical exchange subtrees dedupe via ReuseExchange at runtime."
    ),
    "domain_mix": (
        "Temperature mix: a tiny partial+final count on the domain key — "
        "executed twice, from two scans: once for the domain table and once "
        "for its 1-row min(), which broadcast-nested-loops onto it — and a "
        "BroadcastHashJoin feeding the md5-bucket Filter — the page stream "
        "itself never exchanges; at 100 TB the only shuffled bytes are "
        "(domain, count) pairs."
    ),
    "lm_ngrams": (
        "KenLM count table: gram list built in the scan's codegen span "
        "(transform/slice/array_join), explode, ONE partial+final count on "
        "the gram key with the HAVING filter applied post-final — the "
        "singleton tail is combined map-side and never written."
    ),
    "lm_bits2": (
        "Bigram stupid backoff: transitions zip two array slices in codegen; "
        "(doc_id, w1, w2) pre-aggregation makes every downstream join input "
        "per-doc distinct, so the three token-keyed hash joins (bigram "
        "counts, c1, c2) see Zipf hot keys once per doc. The bigram count "
        "table does NOT derive from the pre-agg: it re-runs the (doc_id, w1, "
        "w2) aggregate, and runtime ReuseExchange shares only the `_docs` "
        "single-file ingest widen below it."
    ),
    "bpe_pairs": (
        "BPE merge induction: the token stream collapses to the distinct-"
        "word vocabulary in ONE partial+final count, pairs explode from an "
        "attribute-only substring lambda over that Zipf-bounded table, and "
        "top-k is TakeOrderedAndProject — no global sort anywhere."
    ),
    "cluster_retention": (
        "Keep-longest retention over near-dup clusters: the pair-mining DAG "
        "(minhash bands + label propagation) feeds ONE exchange on "
        "cluster_id shared by the size count and the rank window; the sort "
        "key (len) is computed before the shuffle, so text crosses no keyed "
        "exchange (only the `_docs` single-file ingest widen)."
    ),
    "bm25_topk": (
        "BM25 probe retrieval: the exploded token stream hits the broadcast "
        "query-term semi-join BEFORE the (doc_id, tok) count — the only "
        "corpus-sized keyed shuffle carries query-term postings (the "
        "RoundRobin Exchanges over the scans are the `_docs` single-file "
        "ingest widen); idf/stats/query-weights are broadcast (no "
        "SortMergeJoin in the plan); top-k is TWO-PHASE — per-(query, "
        "doc-hash-salt) partial top-k, then a final rank over <= 64k "
        "survivors — so no single task ever sorts a query's full candidate "
        "set (the 5M ladder measured that cliff)."
    ),
    "domain_kl": (
        "Token-distribution drift: (domain, tok) partial+final count, the "
        "corpus distribution summed FROM those partials — yet the executed "
        "plan reads the corpus twice: the branch joined on domain carries an "
        "IsNotNull(source) filter, so the corpus-count branch does not reuse "
        "its (domain, tok) exchange, 1-row total via "
        "BroadcastNestedLoopJoin, final domain-keyed aggregate. All linear, "
        "no cartesian."
    ),
    "normalize_docs": (
        "Unicode canonicalization: ONE ArrowEvalPython fed a NULL-masked "
        "column (non-ASCII rows only cross into Python); "
        "lower/whitespace/trim stay in the codegen span; no keyed exchange "
        "(the one RoundRobin Exchange is the `_docs` single-file ingest "
        "widen, absent on a many-file table)."
    ),
    "chunk_docs": (
        "Window-stride chunking: token array materialized once per row, "
        "sequence() starts, Generate posexplode as the only row-count change "
        "— a pure map stage, zero Python, no keyed exchange (the one "
        "RoundRobin Exchange is the `_docs` single-file ingest widen, absent "
        "on a many-file table)."
    ),
    "domain_terms": (
        "Log-odds distinctive vocabulary: domain_kl's skeleton, executed "
        "quirk included — the corpus is read and shuffled on (domain, tok) "
        "twice (the corpus-count branch does not reuse the other's "
        "exchange), corpus counts from those partials, 1-row total broadcast "
        "— plus a rank window whose partitions are per-domain vocabularies "
        "(Zipf-bounded, not corpus-sized)."
    ),
    "budget_select": (
        "Token-budget selection: prefix-of-global-sort semantics with ONE "
        "corpus shuffle (the distinct-score token-mass histogram); the "
        "cumulative pass runs over that bounded table, verdicts come back "
        "as a broadcast-join predicate, and only boundary-score ties rank "
        "in a window — the corpus is never globally sorted."
    ),
    "html_policy": (
        "Page-policy scan over the binary html column: cast + is_valid_utf8 "
        "gate + three regexp_extracts, ALL in one codegen Project over the "
        "scan — zero Exchange, zero Python; runs at scan speed and composes "
        "with any upstream partitioning."
    ),
    "stratum_sample_k": (
        "Fixed-count per-stratum sample written as the NAIVE window + rank "
        "filter: Spark 4's rank-limit pushdown plans WindowGroupLimit "
        "Partial BELOW the one stratum-keyed Exchange, so each map task "
        "forwards at most k rows per stratum — a 10^12-page 'en' stratum "
        "never becomes a single-task sort. The optimizer's plan beat the "
        "hand-salted two-phase (2 exchanges) here; kept the declarative "
        "form."
    ),
    "export_manifest": (
        "Export manifest: shard/digest/token-count are codegen row "
        "functions; ONE partial+final aggregate on shard — map-side combine "
        "reduces every partition to <= n_shards rows before the only keyed "
        "(tiny) shuffle; the RoundRobin Exchange over the scan is the "
        "`_docs` single-file ingest widen. The checksum is a commutative "
        "decimal(38,0) sum, so no ordering constraint exists anywhere in the "
        "plan."
    ),
    "training_export": (
        "The export final mile as one DAG: unigram scoring's token-keyed "
        "aggregations feed select_token_budget's histogram shuffle, verdicts "
        "broadcast back, the kept corpus left-semi-joins on doc_id, and the "
        "manifest aggregate closes it — every wide step is either bounded "
        "(histogram, verdict broadcast) or a single hash-keyed pass."
    ),
    "link_extract": (
        "Outlink extraction: the whole edge stream (regexp_extract_all x2, "
        "arrays_zip, posexplode, domain parse) is ONE scan-side codegen "
        "span — no Exchange, no Python. html is read exactly once and only "
        "the ~100 B/edge projection leaves the map, so every downstream "
        "graph op shuffles edges, never pages."
    ),
    "domain_pagerank": (
        "Fixed-iteration PageRank on the HOST graph: nodes/edges cached "
        "once; each round is one ranks-to-edges shuffle join + one dst-keyed "
        "aggregate, with dangling mass as a 1-row broadcast crossJoin. Ranks "
        "localCheckpoint per round — a true lineage cut, so the k-th "
        "iteration plans the SAME constant-size DAG as the first (the "
        "connected-components planner-hang lesson applied)."
    ),
    "hits_scores": (
        "HITS iterates on the SAME host graph as PageRank but carries two "
        "score vectors; each half-round is one scores-to-edges shuffle join "
        "+ one endpoint-keyed aggregate, and the L2 norm enters as a 1-row "
        "broadcast crossJoin (never a second pass over the edges). Scores "
        "localCheckpoint per rescale, so round k plans the same "
        "constant-size DAG as round 1."
    ),
    "host_components": (
        "Site/mirror clustering: the edge canonicalization "
        "(least/greatest + distinct) is one shuffle bounded by |host "
        "edges|; label propagation runs on the |domains|-bounded node set "
        "with pointer jumping (O(log diameter) rounds), each round two "
        "shuffles with a localCheckpoint lineage cut. Nothing in the plan "
        "touches pages after extraction — at 100 TB the iterate runs on "
        "the ~10^7-row host graph, not the 10^12-row corpus."
    ),
    "crawl_frontier": (
        "The anti-join side (crawled hosts) is |domains|-bounded, so AQE "
        "broadcasts it — no shuffle of the frontier edge stream for "
        "membership. The aggregate is partial+final with two "
        "countDistincts (expands to the standard expand-node, still one "
        "exchange on dst_domain), and the top-k plans as "
        "TakeOrderedAndProject: k rows per partition then k at the "
        "driver, never a full sort of the uncrawled web."
    ),
    "host_quality": (
        "Spam-host induction reads html ONCE inside the policy scan's "
        "codegen span and immediately reduces each page to 5 ints + a "
        "length — the only exchange is the final groupBy(domain) with "
        "map-side partial aggregation, so ~30 bytes/page cross the wire "
        "and the output is |hosts|-bounded. The ban verdict is pure "
        "column arithmetic on the aggregate."
    ),
    "trust_scores": (
        "TrustRank composes host_quality's seed induction with the "
        "PageRank iterate: the seed set is |hosts|-bounded (broadcast "
        "left join into the node frame), and every round is the same "
        "one-join-one-agg shuffle pair as domain_pagerank with the "
        "dangling mass broadcast back as a 1-row aggregate — spam "
        "demotion costs exactly what centrality already costs."
    ),
    "bloom_contamination": (
        "The zero-shuffle decontamination scan: the whole train side is "
        "Scan → two Projects (token split, then distinct-shingle + md5 "
        "arrays) → final Project with the aggregate() fold — NO Exchange, "
        "no join. The bitmap is a constant-folded array literal (elided "
        "below; visible inline in the fold), so at 1000 executors the "
        "10^12-doc side streams through map tasks only; the tiny "
        "build-side job ran earlier and collected ~16 KB to the driver. "
        "The one RoundRobin Exchange below is the test fixture's "
        "ensure_min_parallelism spread of a single-file table — not part "
        "of the operator (the pytest plan-asserts zero Exchange on the "
        "kernel itself)."
    ),
    "url_traps": (
        "Template mining plans as the two-phase distinct: phase-1 "
        "Exchange keys on (domain, template, url) — the url in the key "
        "spreads a 10^9-url trap template across every reducer — and "
        "phase 2 keys on (domain, template) over already-counted rows. "
        "The 3-rule regexp_replace template chain is pure codegen in the "
        "scan's span."
    ),
    "crawl_schedule": (
        "Politeness scheduling: ONE Exchange on (domain, bucket) feeding "
        "the row_number window — the md5 bucket in the key splits each "
        "host into n_buckets bounded sorts (a domain-only window would "
        "serialize a giant host into one task); fetch_seq/wave are pure "
        "projection arithmetic after the window."
    ),
    "epoch_upsample": (
        "Fractional-epoch mixture is a narrow map end-to-end: scan → filter "
        "(n>=1) → sequence()/explode — zero Python, no keyed Exchange (the "
        "one RoundRobin Exchange is the `_docs` single-file ingest widen); "
        "the per-stratum (base, threshold) CASE literals fold into the "
        "codegen span. Output volume is the recipe's Σw·n_docs, produced "
        "from ONE scan regardless of the max epoch count."
    ),
    "inverted_index": (
        "Index build: posexplode in the scan span, then the two "
        "partial-aggregated exchanges — (doc_id, tok) for tf/first_pos, "
        "tok for df/cf/checksum. The Zipf head is safe in both: phase 1 "
        "keys include doc_id, phase 2 receives map-side pre-counted "
        "partials. The checksum is a decimal(38,0) sum of 60-bit "
        "md5-prefix summands — commutative, so no ordering appears "
        "anywhere in the plan."
    ),
    "cdx_index": (
        "The capture index is ONE Project over the scan: SURT key "
        "(reverse/array_join/lower), md5-over-hex payload digest, md5 "
        "shard — zero Exchange, html read once and reduced to 32 chars "
        "in the same codegen span. The optional sorted layout (range "
        "exchange + per-partition sort) is excluded from the contract "
        "because range boundaries are sampled."
    ),
    "warc_export": (
        "WARC emission is a narrow map: header concat, octet_length, "
        "record digest — all codegen, zero Exchange; the record bytes "
        "column only materializes under include_record=True for a real "
        "archive sink."
    ),
    "gopher_signals": (
        "All six remaining Table-A1 rules evaluate in ONE codegen Project "
        "over the scan: the token/line arrays materialize as shared columns "
        "(folds have no CSE across expressions), the rest is "
        "filter/aggregate arithmetic on them — zero Python and no keyed "
        "Exchange (the one RoundRobin Exchange is the `_docs` single-file "
        "ingest widen, absent on a many-file table)."
    ),
    "filter_funnel": (
        "The attrition report reuses corpus_clean_v2's narrow signal "
        "pass and dedup window; everything after it is report-sized — an "
        "8-label partial-aggregated groupBy, a broadcast 1-row total, "
        "and a 7-row stage window. The doc stream crosses exactly the "
        "same exchanges as v2 itself."
    ),
    "redirect_resolve": (
        "Pointer doubling over the canonical edge map: the html scan "
        "reduces to (src, dst) edges in one codegen pass, then exactly "
        "ceil(log2(16)) = 4 self-joins of the |redirect-map|-sized "
        "(src, ptr, hops) table, each ONE exchange, each round's result "
        "localCheckpoint-ed (the connected_components lineage-cut "
        "lesson) — so the visible plan is the final terminal-check join "
        "over a checkpointed RDD scan, not a 4-round tower. A step loop "
        "would be 16 shuffles; doubling is 4 regardless of corpus size."
    ),
    "robots_filter": (
        "The verdict join keys everything on host: rules synthesize and "
        "parse per DISTINCT host (partial-agg distinct, window over ~10-row "
        "host partitions), the match join fans out O(rules/host) per url "
        "with the startswith residual evaluated in the join, and precedence "
        "is a partial-aggregated max of length*2+allow — no window over "
        "urls, no per-url sort. AQE broadcasts one side when it is small — "
        "here the URL side (BuildLeft: url, host, path), not the rule side; "
        "at web scale both sides shuffle on host and a hot host skews no "
        "worse than the url table itself."
    ),
    "weighted_sample": (
        "A-ES weighted sampling: one narrow md5+ln codegen map, then "
        "TakeOrderedAndProject — every partition keeps its local top-k, the "
        "driver merges |partitions|*k rows. No keyed exchange, no global "
        "sort; the corpus moves only through the `_docs` single-file ingest "
        "widen (RoundRobin, absent on a many-file table)."
    ),
    "lang_segments": (
        "Token explode through ONE codegen CASE over the disjoint marker "
        "sets, then partial-aggregated counts; the dominant-language argmax "
        "is max(struct(cnt, -lang_idx)) — no window. Deliberately NOT "
        "per-line HOF filters: five interpreted size(filter(...)) columns "
        "measured bimodal 2-32s at 500k docs on the identical plan "
        "(BENCH/BASELINE.md session-9 note); this shape holds a stable "
        "steady state. Keyed exchanges carry line-count-bounded rows — text "
        "crosses only the `_docs` single-file ingest widen."
    ),
    "ann_pq_topk": (
        "PQ-ADC: ONE ArrowEvalPython (the encode kernel) feeding a pure "
        "codegen ADC Project — each query's 128-entry LUT is a "
        "constant-folded array literal probed with element_at (top-level "
        "Project, not a lambda body, so it folds — the bloom-bitmap "
        "lesson), 8 lookups + adds per vector instead of a 64-dim dot. "
        "Candidate selection is the bm25 salted two-phase top-k (no "
        "single task sorts a query's full score stream); only candidate "
        "ids re-join the vectors for the exact rerank. The raw vectors "
        "never ride the candidate path — at 10^9 vectors the scan "
        "carries 32-bit codes, a 64x smaller stream."
    ),
    "ann_ivfpq_topk": (
        "The FAISS composition: one ArrowEvalPython emits (cell, codes) "
        "per vector — centroid literals, residual encode, all in a "
        "single Arrow pass — then the candidate scan is a BROADCAST "
        "join of corpus codes against the nq*nprobe (query, cell, LUT) "
        "rows, so only probed cells are scored and the LUT rides the "
        "broadcast as an array column probed with element_at. Salted "
        "two-phase top-rerank, exact-cosine rerank on candidate ids "
        "only. The corpus-side stream is cell+32-bit code per vector."
    ),
    "cocitation_pairs": (
        "Co-citation self-join with the fan-out guardrail: hot sources "
        "drop through dedup.cap_buckets BEFORE the self-join (a "
        "directory hub would mint C(out_degree, 2) pairs; the cap's "
        "anti-join is AQE's to plan), the pair aggregate is one "
        "map-side-combined exchange on (d1, d2), and the in-degrees join "
        "back for the Jaccard denominator. No side is forced to "
        "broadcast: the in-degree table has a row per destination "
        "domain; AQE broadcasts it at this size. Everything downstream "
        "of link extraction is |host-graph|-sized."
    ),
    "crawl_plan": (
        "The fetch-plan composite: the robots verdict join (host-keyed; at "
        "this scale AQE broadcasts the URL side into the rule match) feeds "
        "the politeness window. The schedule's (domain, bucket) exchange is "
        "not the only wide step over the url stream: the stream is also "
        "hash-shuffled on url for the verdict join, which AQE turned into a "
        "broadcast only after that shuffle ran, and the crawl-delay column "
        "rides the verdict join instead of a second rules pass."
    ),
    "recrawl_policy": (
        "Two snapshot scans collapse to (url, digest) inside their scan "
        "spans — page text never shuffles; ONE join on url and ONE "
        "domain aggregate (partial+final) produce the per-host "
        "schedule. The interval arithmetic is a codegen projection on "
        "the aggregate output."
    ),
    "quality_lr_step": (
        "One logistic-regression GD step (the returned training trace is a "
        "LocalTableScan of K driver-collected rows — THIS is the repeated "
        "plan): the feature pass is pure codegen inside the scan span "
        "(ReadSchema: text, lang only), and the gradient+loss is ONE "
        "partial+final aggregate with the current weights as literals — one "
        "row crosses to the driver per step, and the only other exchange is "
        "the `_docs` single-file ingest widen. In deployment the feature "
        "table is localCheckpoint'ed once, so steps 2..K never rescan the "
        "corpus."
    ),
    "quality_pr_curve": (
        "The threshold sweep rides training's checkpointed feature "
        "table: K one-row GD aggregates, then ONE pass exploding the "
        "9-point literal grid straight into a partial-aggregated "
        "groupBy(threshold) — the explode combines map-side, so the "
        "sweep costs one corpus scan regardless of grid size."
    ),
    "embed_docs": (
        "The text->embedding tower feeding every ANN/SemDeDup consumer: "
        "explode -> ONE partial-aggregated (doc_id, dim_id) count -> a "
        "doc-keyed norm agg with its own doc_id exchange -> a join to it "
        "that AQE broadcasts (BuildRight) rather than one that reuses the "
        "aggregate's partitioning. The hashing-trick stand-in is pure "
        "codegen; the sentence-transformer swap point (embed_docs_model) is "
        "a mapInPandas with the same exploded contract, pytest-pinned equal "
        "on the fake path."
    ),
    "hybrid_rrf_topk": (
        "RRF fusion of the BM25 leg (pruned posting aggregation — the "
        "corpus shuffle carries only query-term postings) and the dense "
        "cosine leg (broadcast probe set, per-query top-k); the fusion "
        "itself is a full-outer join of two k_leg-bounded tables — "
        "broadcast-sized, driver-free. At 10^9 vectors swap the dense "
        "leg for ann_ivfpq_topk (same (query, neighbor, rank) contract)."
    ),
    "caption_filter": (
        "The CLIP-score alignment gate: image vectors ride ONE "
        "ArrowEvalPython/mapInPandas pass (the CLIP-image swap point), "
        "caption vectors are an explode + partial-aggregated "
        "conditional-sum (the lang_segments shape — never k interpreted "
        "HOF filter-counts per row), and the two meet in ONE url-keyed "
        "join; the cosine is a codegen projection of exact-integer "
        "dot/norms, so the only network cost at 10^9 pairs is the "
        "caption aggregate + the join."
    ),
    "mm_phash": (
        "Perceptual-hash signatures over the binary media column: 60 "
        "one-byte substring probes OR-folded into one long, all inside "
        "the scan's codegen span (ReadSchema: url, html only) — no "
        "Python, no shuffle; the signature table drops straight into the "
        "Manku C(6,3) band join (phash_pairs reuses dedup's simhash "
        "core), so image dedup at 10^9 media objects inherits the "
        "simhash scale contract instead of inventing a new one."
    ),
    "bpe_encode": (
        "Corpus tokenization with the learned merge table: the whole "
        "chain of literal merge replaces is nested StringReplace inside "
        "ONE WholeStageCodegen span over the scan (ReadSchema: doc_id, "
        "text only) — no keyed shuffle anywhere (the round-robin exchange "
        "is _docs' single-file ingest fan-out, absent on a real "
        "multi-file table), no vocab join (so no hot-token shuffle skew) "
        "and no interpreted HOF over the token stream; the "
        "~3x padded copy of the text exists only inside the span. The "
        "merge table itself is the driver-sized bpe_train collect (its "
        "rounds are the bpe_train_round plan below)."
    ),
    "bpe_train_round": (
        "One BPE merge round (the returned merges table is a "
        "LocalTableScan of K driver-collected argmax rows — THIS is the "
        "repeated plan): the word count is the only corpus-linear pass "
        "(partial+final agg on `w`), the slice-zip pair explode runs on "
        "the |V|-bounded word table, the pair count partial-aggregates, "
        "and the argmax is TakeOrderedAndProject — 1 row crosses to the "
        "driver per round, never a global sort."
    ),
    "hll_distinct": (
        "COUNT(DISTINCT) with bounded state: register+rho are pure "
        "codegen over md5(tok), then partial_max per (domain, register) "
        "collapses every partition to <=256 rows per group BEFORE the "
        "exchange — the shuffle is O(groups x 256) at any corpus size, "
        "where the exact countDistinct (the audit leg of this query) "
        "shuffles every distinct token. One IEEE division per estimate."
    ),
    "cms_heavy_hitters": (
        "Count-Min: each token explodes to d=4 salted cells, partial_sum "
        "caps a partition's contribution at d*w=4096 rows before the one "
        "bounded exchange; the probe side broadcasts into the counter table "
        "(BuildRight: the probe cells are the build side, the <=4096-row "
        "counter table streams), so point estimation moves no corpus data at "
        "all."
    ),
    "kmv_domain_sim": (
        "Bottom-k overlap: the only corpus-linear work is the distinct "
        "+ per-group row_number window keeping k=128 minima; the "
        "all-pairs compare then runs over k x |groups| rows — "
        "corpus-size-INDEPENDENT, visible in the plan as every join "
        "after the window reading tiny relations."
    ),
    "sampled_quantiles": (
        "The quantile member of the approximate tier: the md5-bucket "
        "membership filter is pure codegen pushed against the scan, so "
        "only rate*n rows reach the percentile aggregate — the exact "
        "audit leg buffers each group's FULL value list at its final "
        "agg, which is precisely the cost the sample caps at 10^12 rows."
    ),
    "bucketed_domain_join": (
        "Co-located layout: both scans show Bucketed: true / "
        "SelectedBucketsCount 8 of 8; the join needs no shuffle of the "
        "fact side (here Catalyst broadcasts the 52-row dim — on a "
        "10^9-host dim the same plan is a zero-Exchange SortMergeJoin, "
        "pinned in test_bucketed with the merge hint forced), and the "
        "following (domain, n_langs) aggregate rides the bucket "
        "partitioning: partial+final fuse with no Exchange between."
    ),
    "manifest_prune": (
        "Iceberg's read side on the parquet stand-in: the scan node lists "
        "ONLY the manifest-surviving files (16-file z-ordered layout; the "
        "3-day slice keeps a fraction of them), the row filter is re-"
        "applied on top (PushedFilters shows the warc_ts bounds reaching "
        "the reader), and the aggregate is ordinary partial+final. The "
        "pruning happened before this plan existed — file selection is "
        "planning-time, which is the point: at 10^12 rows it removes the "
        "no-op task launches row-group skipping cannot."
    ),
    "domain_reweight": (
        "DoReMi-style mixture weights: the domain_kl DAG (one shuffle on "
        "(domain, tok), vocab-sized second shuffle, broadcast totals) "
        "feeds a |domains|-row softmax — exp, one broadcast-joined "
        "denominator, 6dp round — and the floor token budgets. Everything "
        "after the KL aggregate is constant-size; no Python anywhere."
    ),
    "text_near_pairs": (
        "Exact all-pairs cosine, hybrid form (similarity.hybrid_near_pairs): "
        "one ArrowEvalPython/mapInPandas span is the blocked GEMM over the "
        "dense head (the quadratic part, in BLAS instead of a ~230M-row dim "
        "join — 169s -> ~2s at 5k docs), the sparse tail joins on rare dims "
        "only, through sparse_near_pairs' dim-join dot (similarity._dim_dots; "
        "here its aggregate came back empty, so AQE dropped the left-outer "
        "SortMergeJoin and the whole tail branch at runtime), and the final "
        "project rounds and filters. Output bit-equal to the "
        "unpruned AllPairs join (Cauchy-Schwarz emission floor with 4dp "
        "rounding slack)."
    ),
}


# counters that depend on the data, not on timing, so PLANS.md only
# changes when a plan or its input does. A BroadcastExchange's "data size"
# is not one: it reports the hashed relation's allocated pages, which
# follow the driver heap (the same 7-row lookup reads 16,777,216 with a
# 5g heap and 67,108,864 with 48g), so it is left out there.
METRICS = ("number of output rows", "shuffle records written",
           "shuffle bytes written", "data size", "size of files read",
           "spill size", "number of sort fallback tasks")


def _section(name: str, note: str, rec: dict) -> list[str]:
    plan = re.sub(r"file:[^\s,\]]+", "file:...", rec["plan"])
    # elide giant folded array literals (bloom bitmap, IVF centroids, PQ
    # lookup tables): keep the first few elements so the plan stays readable
    num = r"-?[\d.]+(?:E-?\d+)?"
    plan = re.sub(
        rf"\[((?:{num},){{8}})(?:{num},){{32,}}({num})\]",
        lambda m: f"[{m.group(1)}... <literal elided> ...,{m.group(2)}]",
        plan)
    counters = []
    for n in rec["nodes"]:
        vals = [f"{k}={n['metrics'][k]:,.0f}" for k in METRICS
                if n["metrics"].get(k) and not (
                    k == "data size" and n["name"] == "BroadcastExchange")]
        if vals:
            counters.append(f"{n['name']}: " + ", ".join(vals))
    return (["", f"## {name}", "", note, "", "```", plan.rstrip(), "```"]
            + (["", "Operator counters:", "", "```", *counters, "```"]
               if counters else []))


def main() -> None:
    from logport_spark.profile import profile
    from logport_spark.session import get_spark

    import __spark_entry__ as em

    # AQE wraps only plans with an exchange or subquery; forcing it on the
    # rest changes none of their operators and marks every plan final
    spark = get_spark("dump_plans", cpus=8, extra_conf={
        "spark.sql.adaptive.forceApply": "true"})
    qs = {**em.queries(), **getattr(em, "baseline_queries", dict)()}

    def _bpe_round(spark_, sf):
        from logport_spark.operators.textstats import (bpe_best_pair,
                                                       bpe_word_syms)
        return bpe_best_pair(bpe_word_syms(em._docs(spark_, sf)))

    qs["bpe_train_round"] = _bpe_round

    def _qlr_step(spark_, sf):
        from logport_spark.operators.textstats import (quality_lr_features,
                                                       quality_lr_grad)
        return quality_lr_grad(
            quality_lr_features(em._docs(spark_, sf)), [0.0, 0.0, 0.0, 0.0])

    qs["quality_lr_step"] = _qlr_step
    out = [
        "# PLANS — executed-plan evidence (sf0.01, regenerate via tools/dump_plans.py)",
        "",
        "Each section: why the plan shape matters at 100 TB, then the final",
        "AQE plan of the query's noop run (logport_spark/profile.py) and the",
        "row and byte counters of its operators.",
    ]
    for name, note in ANNOTATED.items():
        out += _section(name, note,
                        profile(spark, name, lambda: qs[name](spark, SF)))
        spark.catalog.clearCache()
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(ANNOTATED)} plans)")


if __name__ == "__main__":
    main()
