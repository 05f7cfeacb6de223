"""Value-oracle gate for the off-contract correctness baselines.

The driver grades at most 50 ``queries()`` entries, so the exhaustive
small-input baselines (all-pairs n-gram Jaccard, brute O(n^2) embedding
pairs, brute ANN top-k) live in ``baseline_queries()`` — this test keeps
them value-checked against DuckDB with the exact canonicalization the
driver uses (via tools/driver_sim helpers), at the driver's sf0.01 scale.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_baselines_match_oracles(spark, duck):
    import __spark_entry__ as entrymod
    from tools.driver_sim import canon_pandas, table_hash

    qs = entrymod.baseline_queries()
    oracles = entrymod.baseline_oracle_sql()
    # r4 rotation: the 7 curation operators moved INTO the 50-slot driver
    # contract; the redundant family rows they displaced land here (still
    # value-checked, just without a driver row).
    assert set(qs) == set(oracles) == {
        "dedup_ngram_pairs", "dedup_simhash", "dedup_embedding_pairs",
        "ann_topk",
        # rotated out (family keeps a stronger graded representative)
        "dedup_exact", "lp_grok_access", "doc_fingerprint",
        "mm_resize", "mm_frames", "q14_promo_revenue", "text_quality",
        "mm_binary_meta", "events_hourly", "daily_running_revenue",
        # r4 additions that did not claim a contract slot
        "url_dedup", "strip_boilerplate", "domain_stats",
        "domain_filter_docs", "pack_sequences", "span_dup_stats",
        "html_extract", "span_dedup_docs", "corpus_shuffle",
        "snapshot_delta", "lm_buckets", "domain_mix",
        "lm_ngrams", "lm_bits2", "bpe_pairs",
        # r4 session-3 additions
        "contamination_fuzzy", "corpus_datacard", "url_blocklist",
        "c4_page_filters", "dsir_weights",
        # r4 session-4 additions (bm25_topk/domain_kl claimed contract
        # slots; the displaced family rows land here)
        "cluster_retention", "normalize_docs", "chunk_docs",
        "q6_forecast_revenue", "token_stats", "budget_select",
        "domain_terms",
        # r4 session-5: html_policy/training_export claimed contract
        # slots; stratum_sample_k/export_manifest stay here, and the
        # displaced lp_url_parse/lang_id rows land here (still checked)
        "stratum_sample_k", "export_manifest",
        "lp_url_parse", "lang_id",
        "vocab_coverage", "containment_pairs",
        # r4 session-6: link_extract/domain_pagerank claimed contract
        # slots (the semi/anti join family kept q4 + lp_resume_anti_join);
        # the remaining link-graph rows and the displaced join rows land
        # here (still value-checked)
        "link_degrees", "anchor_topk",
        "nations_with_customers", "cust_without_orders",
        # r4 session-7: hits_scores/host_components/crawl_frontier/
        # host_quality claimed contract slots; the displaced relational
        # rows land here — each capability keeps a graded representative
        # (semi: contamination_scan; broadcast join: hybrid_rrf_topk; except:
        # lp_resume_anti_join; multi-distinct: crawl_frontier)
        "q4_order_priority", "q5_regional_revenue",
        "cust_minus_supp_nations", "events_distinct_stats",
        "trust_scores",
        # r4 session-8: bloom_contamination rotated INTO the contract
        # (ann_lsh_topk displaced here — ANN keeps ann_ivf_topk graded);
        # crawl-trap template mining and politeness scheduling
        "ann_lsh_topk", "url_traps", "crawl_schedule",
        "epoch_upsample", "filter_funnel", "inverted_index",
        "cdx_index", "warc_export", "gopher_signals",
        # r4 session-9: canonical-chain resolution (pointer doubling),
        # A-ES weighted sampling, CCNet per-line language segmentation
        # (robots_filter claimed a contract slot)
        "redirect_resolve",
        "weighted_sample", "lang_segments",
        # r4 session-9: PQ-ADC — the index-compression leg of the ANN
        # family (its IVF∘PQ composition claimed a contract slot;
        # ann_ivf_topk and error_click_pairs displaced here — the ANN
        # family keeps ann_ivfpq_topk graded, interval joins keep
        # asof_purchase_click)
        "ann_pq_topk", "ann_ivf_topk", "error_click_pairs",
        # r4 session-9: co-citation related domains + change-rate recrawl
        # + the robots -> politeness -> eta fetch-plan composite
        "cocitation_pairs", "recrawl_policy", "crawl_plan",
        # r4 session-10: bpe_train and quality_lr claimed contract slots
        # (corpus_clean superseded by corpus_clean_v2; ranking windows
        # keep sessionize_events graded); the apply-back eval stays here
        "quality_lr_eval",
        "corpus_clean", "top3_orders_per_cust",
        # r4 session-11: apply the learned merge table back to the corpus
        # (the encode step between bpe_train and pack_sequences), and
        # perceptual-hash signatures making image dedup a simhash problem
        # r4 session-11: bpe_encode and caption_filter claimed contract
        # slots (near-dup pairs keep 5 graded reps; the winnow/fingerprint
        # family stays value-checked here)
        "quality_pr_curve", "text_near_pairs",
        # r4 session-12: hybrid_rrf_topk / embed_docs / mm_phash /
        # hll_distinct / cms_heavy_hitters claimed contract slots; the
        # displaced rows land here, each family keeping a stronger graded
        # rep (bm25 leg replayed inside hybrid_rrf_topk; iterative rank
        # keeps domain_pagerank; components keep dedup_clusters; page
        # policy keeps html_policy + web_curation; link extraction is
        # recomputed inside the graded domain_pagerank DAG); KMV stays
        # here with the sketch family's two graded reps
        "bm25_topk", "hits_scores", "host_components", "host_quality",
        "link_extract", "kmv_domain_sim",
        "dedup_simhash_pairs", "doc_winnow",
        # r4 session-12: the quantile member of the approximate tier
        # (md5-sample + exact-on-sample percentile) and the co-located
        # bucketed-join exhibit (zero-Exchange plan pinned in
        # tests/test_bucketed.py; values layout-independent)
        "sampled_quantiles", "bucketed_domain_join",
        # r4 session-13: Iceberg's read side on the parquet stand-in —
        # z-order (Morton) layout + per-file min/max manifest + planning-
        # time file pruning (selectivity pinned in tests/test_manifest.py;
        # values layout-independent)
        "manifest_prune",
        # r4 session-13: Sitemap discovery promoted from pytest-gated to
        # value-oracled — the shared robots fixture now plants a
        # top-of-file and an in-record Sitemap by the same md5 arithmetic
        # its rule oracles use (robots_filter/crawl_plan hashes unchanged)
        "robots_sitemaps",
        # r4 session-13: DoReMi-style mixture weights over the domain_kl
        # excess table (softmax replayed in SQL on identical 4dp inputs)
        "domain_reweight",
        # r5 session-2: per-domain site-chrome strip — the host-grain
        # boilerplate companion (global threshold sees 10 lines at sf0.01;
        # the domain grain flags 521 (domain, line) chrome pairs)
        "domain_boilerplate",
    }
    assert len(entrymod.queries()) == 50
    for name in ("contamination_scan", "corpus_clean_v2", "lm_bits",
                 "vocab_topk", "text_repetition", "pii_scrub",
                 "stratified_sample", "line_dedup_corpus", "web_curation",
                 "semantic_dedup_pairs", "html_policy", "training_export",
                 "bloom_contamination", "bpe_train", "quality_lr",
                 "bpe_encode", "caption_filter", "hybrid_rrf_topk",
                 "embed_docs", "mm_phash", "hll_distinct",
                 "cms_heavy_hitters"):
        assert name in entrymod.queries() and name in entrymod.oracle_sql()
    for name, fn in qs.items():
        scols, srows, slists = canon_pandas(fn(spark, SF_DIR).toPandas())
        ocols, orows, olists = canon_pandas(duck.execute(oracles[name]).df())
        assert not slists and not olists, f"{name}: list columns {slists or olists}"
        assert scols == ocols, f"{name}: schema {scols} vs {ocols}"
        assert len(srows) == len(orows), f"{name}: rows {len(srows)} vs {len(orows)}"
        assert table_hash(srows) == table_hash(orows), f"{name}: value hash mismatch"


def test_contract_is_exactly_fifty():
    """The driver caps its sample at 50; keep the contract at exactly 50 so
    every registered query gets graded (round 2 lost the mm trio to the cap)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    assert len(qs) == 50, f"contract has {len(qs)} queries, driver grades 50"
    # mm family keeps one graded representative; resize/frames rotated out
    # in r4 (same decode-oracle family) to make room for curation operators
    assert "mm_features" in qs
    # every contract query keeps a value oracle (rows-only checks are weaker)
    missing = set(qs) - set(entrymod.oracle_sql())
    assert not missing, f"contract queries without oracles: {missing}"
