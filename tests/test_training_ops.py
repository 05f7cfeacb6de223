"""Training-data operator tests: dedup equivalences, ANN recall, multimodal
plumbing, short-doc guards. Runs on driver testdata sf0.001 (500 docs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_minhash_lsh_equals_exact_pairs(spark, docs):
    """At the high-threshold regime, LSH candidates verified by exact Jaccard
    must reproduce the exact all-pairs result (no false negatives)."""
    from logport_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    exact = {(r.d1, r.d2) for r in ngram_jaccard_pairs(docs, 3, 0.8).collect()}
    lsh = {(r.d1, r.d2) for r in minhash_lsh_pairs(docs, 3, 0.8).collect()}
    assert exact, "corpus should contain planted near-dups"
    assert lsh == exact


def test_minhash_calls_leave_no_cached_table(spark):
    """minhash_lsh_pairs and minhash_contamination leave nothing in the
    cache manager, however often they run on new inputs, and a result
    minted before another call equals its own single-call result."""
    from logport_spark.operators.dedup import (minhash_contamination,
                                               minhash_lsh_pairs)

    spark.catalog.clearCache()
    cached = spark._jsparkSession.sharedState().cacheManager()
    src = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    parts = [src.filter(F.col("doc_id") >= 50 * k) for k in range(3)]
    for part in parts:
        assert minhash_lsh_pairs(part, 3, 0.8).collect()
        assert minhash_contamination(
            part.filter(F.col("doc_id") % 2 == 0),
            part.filter(F.col("doc_id") % 2 == 1), n=3).collect()
        assert cached.isEmpty()
    single = [sorted(minhash_lsh_pairs(p, 3, 0.8).collect())
              for p in parts[:2]]
    minted = [minhash_lsh_pairs(p, 3, 0.8) for p in parts[:2]]
    assert [sorted(m.collect()) for m in minted] == single
    assert cached.isEmpty()


def test_simhash_near_dups_align_with_jaccard(spark, docs):
    """Docs that are Jaccard near-dups should also be SimHash-close."""
    from logport_spark.operators.dedup import (
        ngram_jaccard_pairs, simhash_pairs, simhash_signatures,
    )

    jac = {(r.d1, r.d2) for r in ngram_jaccard_pairs(docs, 3, 0.9).collect()}
    sim = {(r.d1, r.d2) for r in
           simhash_pairs(simhash_signatures(docs), max_hamming=3).collect()}
    assert jac
    # SimHash at hamming<=3 should recover most very-high-Jaccard pairs
    assert len(jac & sim) / len(jac) >= 0.6


def test_ann_lsh_recall(spark, emb):
    """LSH ANN recall@10 vs brute force — candidates from 8 tables x 8 bits."""
    from logport_spark.operators.similarity import ann_lsh_topk, cosine_topk

    qids = [0, 1, 2, 3, 4]
    bf = cosine_topk(emb, qids, k=10).collect()
    lsh = ann_lsh_topk(emb, qids, k=10).collect()
    bf_set = {(r.query_id, r.neighbor_id) for r in bf}
    lsh_set = {(r.query_id, r.neighbor_id) for r in lsh}
    recall = len(bf_set & lsh_set) / len(bf_set)
    assert recall >= 0.5, f"recall@10 = {recall}"
    # scores for overlapping pairs must agree (same exact rerank kernel)
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in bf}
    for r in lsh:
        k = (r.query_id, r.neighbor_id)
        if k in bf_cos:
            assert abs(bf_cos[k] - r.cos) < 1e-9


def test_embedding_lsh_pairs_recall_on_planted_dups(spark):
    """embedding_lsh_pairs (banded join) must recover planted high-cosine
    near-dups: at cos>=0.9 a 16x4 banding misses a pair with prob
    (1 - p^4)^16 < 1e-5, so on a seeded corpus of 60 planted pairs the LSH
    result must equal the brute result exactly."""
    import numpy as np

    from logport_spark.operators.similarity import (
        embedding_lsh_pairs, embedding_near_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 64))
    noise = rng.standard_normal((60, 64)) * 0.05
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        rows.append((1000 + i, [float(x) for x in (v + noise[i])]))  # near-dup
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    brute = {(r.d1, r.d2) for r in embedding_near_pairs(emb, 0.9).collect()}
    lsh = {(r.d1, r.d2) for r in embedding_lsh_pairs(emb, 0.9).collect()}
    assert len(brute) >= 55, "corpus should contain planted near-dups"
    assert lsh == brute


def test_centroid_scores_kernel_bitmatches_sql_form(spark):
    """The Arrow _centroid_scores kernel (dimension-sequential numpy
    accumulation) must equal the interpreted-HOF plan-literal form
    BIT-FOR-BIT — cell assignment downstream (ivf_topk, semantic_dedup,
    ivfpq) ties on these doubles, so 'close' is not enough. Mixed-scale
    float32 inputs stress the add-chain ordering."""
    import numpy as np

    from logport_spark.operators.similarity import (
        _centroid_scores, _centroid_scores_sql, lowest_id_centroids,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        v = rng.standard_normal(64) * (10.0 ** rng.integers(-3, 4))
        rows.append((i, [float(np.float32(x)) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = lowest_id_centroids(emb, 16)

    got = {r["_id"]: list(r["_sc"])
           for r in _centroid_scores(emb, cents).collect()}
    want = {r["_id"]: list(r["_sc"])
            for r in _centroid_scores_sql(emb, cents).collect()}
    assert set(got) == set(want)
    for i in got:
        assert got[i] == want[i], f"vec {i}: kernel != sql form bitwise"


def test_centroid_scores_kernel_degenerate_rows_match_sql(spark):
    """ADVICE r5: NULL/empty embeddings must not crash the Arrow kernel —
    they score [NULL x nlist], the SAME value the SQL form's per-centroid
    folds produce, so the two forms agree on corrupt rows too; a
    non-empty wrong-width vector fails loudly naming the width."""
    import pytest

    from pyspark.sql import functions as F

    from logport_spark.operators.similarity import (
        _centroid_scores, _centroid_scores_sql,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    emb = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, None), (3, [])],
        "vec_id long, embedding array<double>")
    got = {r["_id"]: r["_sc"] for r in _centroid_scores(emb, cents).collect()}
    want = {r["_id"]: r["_sc"]
            for r in _centroid_scores_sql(emb, cents).collect()}
    assert list(got[1]) == list(want[1])          # healthy row identical
    assert list(got[2]) == [None, None] == list(want[2])
    assert list(got[3]) == [None, None] == list(want[3])

    bad = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                                "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="width 3"):
        _centroid_scores(bad, cents).collect()


def test_ivf_topk_recall_on_clustered_data(spark):
    """IVF-flat: on clustered data (queries near their cluster-mates) the
    probed-cell candidates must recover the brute top-k with high recall,
    and overlapping scores must be cosine-exact (same rerank kernel)."""
    import numpy as np

    from logport_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((8, 64)) * 4
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in (c + rng.standard_normal(64) * 0.3)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    qids = [100, 101, 102]
    bf = cosine_topk(emb, qids, k=10).collect()
    ivf = ivf_topk(emb, qids, k=10, nlist=16, nprobe=4).collect()
    bf_set = {(r.query_id, r.neighbor_id) for r in bf}
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(bf_set & ivf_set) / len(bf_set)
    assert recall >= 0.9, f"recall@10 = {recall}"
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in bf}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bf_cos:
            assert abs(bf_cos[(r.query_id, r.neighbor_id)] - r.cos) < 1e-9


def test_lsh_bucket_cap_drops_pathological_buckets(spark):
    """max_bucket: a degenerate corpus (many identical vectors -> one giant
    band bucket) must not explode into O(b^2) candidate pairs when capped;
    uncapped keeps exact semantics."""
    import numpy as np

    from logport_spark.operators.similarity import embedding_lsh_pairs

    rng = np.random.default_rng(3)
    hot = [float(x) for x in rng.standard_normal(64)]
    rows = [(i, hot) for i in range(40)]                     # 40 identical
    for i in range(40, 50):                                  # 10 distinct
        rows.append((i, [float(x) for x in rng.standard_normal(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    full = embedding_lsh_pairs(emb, threshold=0.99).count()
    assert full >= 40 * 39 // 2                              # the blow-up
    capped = embedding_lsh_pairs(emb, threshold=0.99, max_bucket=20).count()
    assert capped == 0                                       # hot bucket dropped


def test_exact_dedup_groups(spark, docs):
    from logport_spark.operators.dedup import exact_dedup

    out = exact_dedup(docs)
    assert out.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_winnow_is_shift_resistant(spark):
    """The winnowing property: inserting a prefix shifts every byte offset,
    yet the window-min fingerprint sets still overlap heavily (matches of
    length >= w+k-1 tokens guarantee a shared selected hash) — exactly what
    a whole-document hash cannot do. Short docs fall back to one gram."""
    from pyspark.sql import functions as F

    from logport_spark.operators.textstats import winnow

    body = " ".join(f"tok{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, body), (2, "inserted prefix words here " + body), (3, "tiny")],
        "doc_id long, text string",
    )
    # recover the internal selected sets for the overlap assertion
    k, w = 4, 5
    toks = "split(text,' ')"
    grams = (f"CASE WHEN size({toks}) >= {k} THEN "
             f"transform(sequence(1, size({toks}) - {k - 1}),"
             f" i -> md5(array_join(slice({toks}, i, {k}), ' '))) "
             f"ELSE array(md5(text)) END")
    sel = (f"array_distinct(transform("
           f" sequence(1, greatest(size({grams}) - {w - 1}, 1)),"
           f" j -> array_min(slice({grams}, j, least({w}, size({grams}))))))")
    sets = {r.doc_id: set(r.sel) for r in df.select("doc_id", F.expr(sel).alias("sel")).collect()}
    overlap = len(sets[1] & sets[2]) / len(sets[1])
    assert overlap >= 0.8, f"winnow overlap {overlap}"

    out = {r.doc_id: r for r in winnow(df).collect()}
    assert out[3].n_fp == 1          # short-doc fallback: one gram
    # here the prefix grams never win a window, so the SELECTED SETS (and
    # digests) collide outright — the near-dup detection a whole-document
    # hash cannot deliver:
    from pyspark.sql import functions as F2

    md5s = {r.doc_id: r.m for r in df.select("doc_id", F2.md5("text").alias("m")).collect()}
    assert md5s[1] != md5s[2]
    if sets[1] == sets[2]:
        assert out[1].fp_digest == out[2].fp_digest


def test_shingles_short_doc_guard(spark):
    """Docs shorter than n tokens must yield zero shingles, not garbage."""
    from logport_spark.operators.textstats import fingerprint

    df = spark.createDataFrame(
        [(1, "only two"), (2, "a b c d e f")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in fingerprint(df, n=5).collect()}
    assert rows[1].n_shingles == 0
    assert rows[1].fingerprint is not None  # falls back to md5(text)
    assert rows[2].n_shingles == 2


def test_multimodal_stub_and_plumbing(spark, pages_small):
    from logport_spark.operators.multimodal import decode_media, extract_features

    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG....", "image", fake=False)
    out = extract_features(pages_small.limit(50), fake_decode=True)
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r.feat) == 8 for r in rows)
    assert all(16 <= r.width < 80 for r in rows)
    # deterministic: same input -> same features
    again = extract_features(pages_small.limit(50), fake_decode=True).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_lang_id_deterministic_tiebreak(spark):
    from logport_spark.operators.textstats import lang_id

    df = spark.createDataFrame(
        [(1, "xx", "the der"),   # en=1, de=1 -> tie -> 'de' (lexicographic)
         (2, "xx", "zzz qqq")],  # no markers -> 'und'
        "doc_id long, lang string, text string",
    )
    rows = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert rows[1] == "de"
    assert rows[2] == "und"


def test_multimodal_resize_and_frames(spark):
    """resize/frame-sample plumbing: schemas, aspect math, per-frame row
    explosion — all real; pixel work is the deterministic fake."""
    from logport_spark import datagen
    from logport_spark.operators.multimodal import resize_images, sample_frames

    import pandas as pd
    pages = spark.createDataFrame(
        pd.DataFrame(datagen.gen_docs(range(40))), schema=datagen.PAGES_DDL)

    rs = resize_images(pages, max_side=32).collect()
    assert len(rs) == 40
    for r in rs:
        assert max(r["out_w"], r["out_h"]) <= 32
        assert len(r["resized"]) <= r["out_w"] * r["out_h"]
        # aspect preserved within integer truncation
        assert abs(r["out_w"] / r["width"] - r["out_h"] / r["height"]) < 0.2

    fr = sample_frames(pages, every=2)
    pdf = fr.toPandas()
    assert (pdf["frame_idx"] % 2 == 0).all()
    per_url = pdf.groupby("url").size()
    # frames=1..4, every=2 -> 1 or 2 rows per url
    assert per_url.between(1, 2).all()


def test_phash_pairs_planted_neardups(spark):
    """phash60 + phash_pairs on a planted fixture: payload pairs that
    differ at <=3 of the 60 probe positions land in the hamming<=3 pair
    set; payloads with many flipped probe bytes do not. The banded join
    must equal the brute-force hamming<=3 set exactly (the Manku C(6,3)
    pigeonhole guarantee), and the real-decode path stays gated."""
    import itertools

    import pytest as _pytest

    from logport_spark.operators.multimodal import phash60, phash_pairs

    base = bytes((7 * i) % 256 for i in range(600))  # 10 bytes per probe

    def flip(payload: bytes, probes: list[int]) -> bytes:
        b = bytearray(payload)
        for p in probes:
            pos = (p * len(b)) // 60
            b[pos] ^= 0x80  # flips exactly that probe's >=128 bit
        return bytes(b)

    rows = [("u_base", base),
            ("u_near2", flip(base, [5, 17])),       # hamming 2 -> pair
            ("u_near3", flip(base, [5, 17, 40])),   # hamming 3 from base
            ("u_far", flip(base, list(range(0, 60, 4))))]  # hamming 15
    pages = spark.createDataFrame(rows, "url string, html binary")
    sig = phash60(pages, fake_decode=True)
    hashes = {r.url: r.phash for r in sig.collect()}
    assert all(0 <= h < (1 << 60) for h in hashes.values())

    got = {(r.u1, r.u2, r.hamming) for r in phash_pairs(sig, 3).collect()}
    brute = set()
    for (ua, ha), (ub, hb) in itertools.combinations(sorted(hashes.items()), 2):
        d = bin(ha ^ hb).count("1")
        if d <= 3:
            brute.add((ua, ub, d))
    assert got == brute
    assert ("u_base", "u_near2", 2) in got
    assert ("u_base", "u_near3", 3) in got
    assert not any("u_far" in (a, b) for a, b, _ in got)

    with _pytest.raises(NotImplementedError):
        phash60(pages, fake_decode=False).collect()


def test_bpe_encode_plan_no_keyed_shuffle(spark):
    """Plan guard for bpe_encode's zero-keyed-shuffle claim: the executed
    plan contains no hashpartitioning exchange and no Python evaluation —
    the merge chain must stay nested StringReplace inside the scan's
    codegen span (a future vocab-join or HOF rewrite would trip this)."""
    from logport_spark.operators.textstats import bpe_encode

    docs = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "new newer")],
        "doc_id long, text string")
    plan = (bpe_encode(docs, [("l", "o"), ("lo", "w")])
            ._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning" not in plan
    assert "Python" not in plan and "BatchEval" not in plan
    assert "replace(" in plan


def test_embed_docs_tower_and_model_gate(spark):
    """embed_docs: unit-norm exploded vectors; the fake-model pandas-UDF
    tower (embed_docs_model) must reproduce the JVM path row for row —
    proving the Arrow plumbing — and the real path stays gated."""
    from logport_spark.operators.similarity import embed_docs, embed_docs_model

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma gamma gamma"),
         (2, "zzz"),
         (3, "   "),  # zero tokens -> absent
         (4, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    jvm = {(r.doc_id, r.dim_id): r.val for r in embed_docs(docs).collect()}
    assert not any(d == 3 for d, _ in jvm)
    for did in (1, 2, 4):
        s = sum(v * v for (d, _), v in jvm.items() if d == did)
        assert abs(s - 1.0) < 1e-4, (did, s)
    assert jvm[(2, next(dm for d, dm in jvm if d == 2))] == 1.0

    udf = {(r.doc_id, r.dim_id): r.val
           for r in embed_docs_model(docs, fake=True).collect()}
    assert udf == jvm

    import importlib.util
    if importlib.util.find_spec("sentence_transformers") is None:
        with pytest.raises(NotImplementedError):
            embed_docs_model(docs, fake=False)


def test_embed_docs_feeds_semantic_dedup(spark):
    """End-to-end tower->consumer integration: embed_docs' exploded
    vectors reassemble into the embedding column semantic_dedup_pairs
    consumes, and paraphrase-free near-identical docs land as a
    SemDeDup pair while unrelated docs don't."""
    from pyspark.sql import functions as F

    from logport_spark.operators.similarity import (embed_docs,
                                                    semantic_dedup_pairs)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
         (3, "alpha beta gamma delta epsilon eta"),    # near dup of 1
         (4, "qq ww ee rr tt yy uu ii")],              # unrelated
        "doc_id long, text string")
    dim = 64
    emb = (embed_docs(docs, dim=dim)
           .groupBy("doc_id")
           .agg(F.aggregate(
               F.collect_list(F.struct("dim_id", "val")),
               F.array_repeat(F.lit(0.0), dim),
               lambda acc, s: F.transform(
                   acc, lambda x, i: F.when(i == s["dim_id"], s["val"])
                   .otherwise(x))).alias("embedding"))
           .select(F.col("doc_id").alias("vec_id"), "embedding"))
    pairs = {(r.d1, r.d2) for r in
             semantic_dedup_pairs(emb, threshold=0.9, nlist=1).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_sparse_near_pairs_planted_and_pruned(spark):
    """AllPairs sparse-cosine join over embed_docs vectors: identical
    texts pair at cos 1.0, near-identical texts clear 0.9, unrelated
    texts don't; the hot-dimension prune (max_dim_df) drops a dimension
    shared by every doc and only LOWERS cosines (never invents pairs)."""
    from logport_spark.operators.similarity import (embed_docs,
                                                    sparse_near_pairs)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "alpha beta gamma delta epsilon eta"),
         (4, "qq ww ee rr tt yy uu ii")],
        "doc_id long, text string")
    vecs = embed_docs(docs, dim=64)
    got = {(r.d1, r.d2): r.cos
           for r in sparse_near_pairs(vecs, threshold=0.5).collect()}
    assert got[(1, 2)] == 1.0
    assert got.get((1, 3), 0) > 0.9 and got.get((2, 3), 0) > 0.9
    assert not any(4 in p for p in got)

    pruned = {(r.d1, r.d2): r.cos
              for r in sparse_near_pairs(vecs, threshold=0.5,
                                         max_dim_df=3).collect()}
    assert set(pruned) <= set(got)
    assert all(pruned[p] <= got[p] for p in pruned)


def test_hybrid_near_pairs_equals_sparse_exact(spark):
    """hybrid_near_pairs (dense-head GEMM + sparse-tail join) is the SAME
    exact operator as the unpruned AllPairs join — bit-equal output
    including the 4dp-rounded cosine — on (a) a random sparse corpus with
    a planted hot dimension straddling the head/tail cut, and (b) the
    all-hot 64-dim hashing space (the regime that motivated it: every dim
    lands in the head, the tail join is empty). Also pins the
    max_head_dims guardrail and the empty-head degradation."""
    import random

    import pytest as _pytest

    from logport_spark.operators.similarity import (embed_docs,
                                                    hybrid_near_pairs,
                                                    sparse_near_pairs)

    rng = random.Random(7)
    words = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(120):
        toks = ["the"] * 3 + rng.sample(words, rng.randint(3, 10))
        docs.append((i, " ".join(toks)))
    docs.append((200, docs[5][1]))          # exact dup
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for dim in (64, 4096):
        vecs = embed_docs(df, dim=dim).cache()
        exact = {(r.d1, r.d2, r.cos)
                 for r in sparse_near_pairs(vecs, threshold=0.6).collect()}
        hybrid = {(r.d1, r.d2, r.cos)
                  for r in hybrid_near_pairs(vecs, threshold=0.6,
                                             head_df_frac=0.1).collect()}
        assert hybrid == exact, f"dim={dim}"
        assert (5, 200, 1.0) in hybrid
        vecs.unpersist()

    # non-unit-norm inputs (r4 advice): scale whole docs by ±5% so ‖v‖²
    # sits far from 1 — the candidate floor must come from the ACTUAL
    # tail norms, not √(1−‖head‖²) (which would clip negative to 0 and
    # under-bound). hybrid must stay bit-equal to the unpruned join.
    vecs = embed_docs(df, dim=64)
    skew = vecs.withColumn(
        "val", F.when(F.col("doc_id") % 3 == 0, F.col("val") * 1.05)
                .otherwise(F.col("val") * 0.95)).cache()
    h = {(r.d1, r.d2): r.cos
         for r in hybrid_near_pairs(skew, threshold=0.6,
                                    head_df_frac=0.1).collect()}
    s = {(r.d1, r.d2): r.cos
         for r in sparse_near_pairs(skew, threshold=0.6).collect()}
    # completeness both ways away from the 4dp rounding boundary (the two
    # operators sum in different float orders, so a pair sitting EXACTLY
    # on a .00005 boundary may round to either side — the old √(1−‖head‖²)
    # bug dropped pairs far above threshold, which this still catches)
    assert {p for p, c in s.items() if c >= 0.6001} <= set(h)
    assert {p for p, c in h.items() if c >= 0.6001} <= set(s)
    assert all(abs(h[p] - s[p]) <= 1e-4 + 1e-12 for p in set(h) & set(s))
    skew.unpersist()

    with _pytest.raises(ValueError, match="max_head_dims"):
        hybrid_near_pairs(vecs, threshold=0.6, head_df_frac=0.1,
                          max_head_dims=2)
    # the over-bound refusal names the driver-memory object and its byte
    # size (r4 verdict #4): 121 docs x 64 head dims x 8B = 61,952 bytes
    with _pytest.raises(ValueError, match=r"bytes of driver memory"):
        hybrid_near_pairs(vecs, threshold=0.6, max_dense_docs=10)
    # head cut above every df: degrades to the plain sparse join
    none_hot = hybrid_near_pairs(vecs, threshold=0.6, head_df_frac=2.0)
    assert {(r.d1, r.d2, r.cos) for r in none_hot.collect()} == \
        {(r.d1, r.d2, r.cos)
         for r in sparse_near_pairs(vecs, threshold=0.6).collect()}


def test_hybrid_rrf_fusion_semantics(spark):
    """Planted fusion fixture for hybrid_rrf_topk: doc1 is the exact
    lexical match (r_lex=1) but dense-orthogonal; doc2 is the exact dense
    match (r_dense=1) but shares no terms (absent from the lexical leg —
    sentinel 0); doc3 is decent in both. RRF must reproduce the
    hand-computed reciprocal-rank order and sentinels."""
    from logport_spark.operators.retrieval import hybrid_rrf_topk

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma q"),
         (1, "alpha beta gamma q"),
         (2, "zzz yyy xxx www"),
         (3, "alpha beta nnn mmm")],
        "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]),
         (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [1.0, 0.0, 0.0, 0.0]),
         (3, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    out = [(r.rnk, r.doc_id, r.rrf, r.r_lex, r.r_dense)
           for r in hybrid_rrf_topk(docs, emb, [0], k=3, k_leg=3, kc=60)
           .orderBy("rnk").collect()]
    ranks = {d: (rl, rd) for _, d, _, rl, rd in out}
    assert ranks[1] == (1, 3)   # exact text match; dense-orthogonal
    assert ranks[2] == (0, 1)   # exact dense match; no shared terms
    assert ranks[3][0] == 2 and ranks[3][1] == 2
    # hand RRF: doc1 = 1/61+1/63 > doc3 = 2/62 > doc2 = 1/61
    assert [d for _, d, *_ in out] == [1, 3, 2]
    want = {1: 1 / 61 + 1 / 63, 3: 2 / 62, 2: 1 / 61}
    for _, d, rrf, *_ in out:
        assert abs(rrf - want[d]) < 1e-6

    # MoreLikeThis pruning: with max_query_terms=1 the lexical query for
    # probe 0 is its top tf*idf term — 'gamma' (df=2 ties with 'q',
    # term asc breaks it; alpha/beta at df=3 score lower) — so doc3
    # (no 'gamma') drops to dense-only while doc1 keeps both legs
    pruned = {r.doc_id: (r.r_lex, r.r_dense)
              for r in hybrid_rrf_topk(docs, emb, [0], k=3, k_leg=3,
                                       max_query_terms=1).collect()}
    assert pruned[1][0] >= 1 and pruned[3][0] == 0


def test_dct_phash60_kernel_properties():
    """The real pHash kernel (Pillow-free): deterministic; a uniform
    brightness shift leaves the hash UNCHANGED (it only moves the DC
    coefficient, which is excluded); small localized noise moves few
    bits while an unrelated image moves many."""
    import numpy as np

    from logport_spark.operators.multimodal import dct_phash60

    rng = np.random.RandomState(7)
    img = rng.rand(32, 32) * 255
    h0 = dct_phash60(img)
    assert 0 <= h0 < (1 << 60)
    assert dct_phash60(img) == h0                       # deterministic
    assert dct_phash60(img + 40.0) == h0                # DC-invariant
    noisy = img.copy()
    noisy[:2, :2] += rng.rand(2, 2) * 4.0               # small local noise
    d_small = bin(h0 ^ dct_phash60(noisy)).count("1")
    other = rng.rand(32, 32) * 255
    d_other = bin(h0 ^ dct_phash60(other)).count("1")
    assert d_small <= 8 < d_other


def test_caption_alignment_matches_python_reference(spark):
    """caption_alignment vs an independent pure-Python recomputation over
    40 datagen pages: same image ints (stride sums mod 997), same md5
    hashing-trick caption buckets, same rounded cosine and kept cut —
    exact equality, plus the zero-token and bounds contracts."""
    import hashlib
    import math

    import pandas as pd

    from logport_spark import datagen
    from logport_spark.operators.multimodal import caption_alignment

    rows = datagen.gen_docs(range(40))
    pages = spark.createDataFrame(pd.DataFrame(rows), schema=datagen.PAGES_DDL)
    got = {r.url: (r.align_score, r.kept)
           for r in caption_alignment(pages, tau=0.35).collect()}
    assert len(got) == 40
    for rec in rows:
        payload = bytes(rec["html"]) if rec["html"] is not None else b""
        k = [sum(payload[i::8]) % 997 if payload else 0 for i in range(8)]
        c = [0] * 8
        for tok in rec["text"].split(" "):
            if tok:
                c[int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 8] += 1
        dot = float(sum(a * b for a, b in zip(k, c)))
        na = math.sqrt(float(sum(a * a for a in k)))
        nb = math.sqrt(float(sum(b * b for b in c)))
        if na > 0 and nb > 0:
            want = float(f"{dot / (na * nb):.4f}")  # HALF_EVEN vs HALF_UP
            # differs only at exact .00005 boundaries — assert to 1e-9 of
            # the unrounded value instead of string-formatting roulette
            score, kept = got[rec["url"]]
            assert abs(score - dot / (na * nb)) < 5.5e-5, rec["url"]
            assert abs(score - want) < 1.1e-4
            assert kept == (score >= 0.35)
            assert 0.0 <= score <= 1.0
        else:
            assert got[rec["url"]] == (0.0, False)


def test_lang_id_model_gate_and_plumbing(spark):
    """Capability-gated fastText swap point: the probe gates the real model
    (absent here), and the fake-model pandas UDF must agree with the JVM
    heuristic column on every driver doc — proving the Arrow plumbing end
    to end while the heuristic stays the oracle contract."""
    from logport_spark.operators.textstats import (
        _fasttext_available, lang_id, lang_id_model,
    )

    if not _fasttext_available():
        with pytest.raises(NotImplementedError):
            lang_id_model(spark.range(1).selectExpr("'x' AS text"))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    jvm = {r.doc_id: r.pred_lang for r in lang_id(docs).select("doc_id", "pred_lang").collect()}
    udf = {r.doc_id: r.pred_lang
           for r in lang_id_model(docs, fake=True).select("doc_id", "pred_lang").collect()}
    assert jvm == udf
    # NULL-safety through Arrow
    nulls = spark.createDataFrame([(1, None)], "doc_id long, text string")
    assert lang_id_model(nulls, fake=True).collect()[0].pred_lang == "und"


def test_token_counts_model_gate_and_plumbing(spark):
    """HF-tokenizers swap point: gated without the lib; the regex fake UDF
    must reproduce the JVM regexp_count column exactly."""
    from logport_spark.operators.textstats import (
        _hf_tokenizers_available, token_counts, token_counts_model,
    )

    if not _hf_tokenizers_available():
        with pytest.raises(NotImplementedError):
            token_counts_model(spark.range(1).selectExpr("'x' AS text"))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    jvm = {r.doc_id: r.bpe_tokens
           for r in token_counts(docs).select("doc_id", "bpe_tokens").collect()}
    udf = {r.doc_id: r.bpe_tokens
           for r in token_counts_model(docs, fake=True).select("doc_id", "bpe_tokens").collect()}
    assert jvm == udf


def test_lm_bits_model_gate_and_plumbing(spark):
    """KenLM swap point (unigram_logprob's promised production path): gated
    without the lib; the fake scorer UDF must be deterministic across
    partitionings (Arrow batch shape must not leak into scores), NULL-safe,
    and keep the bits_per_token column contract."""
    from logport_spark.operators.textstats import (
        _kenlm_available, fake_lm_bits_py, lm_bits_model,
    )

    if not _kenlm_available():
        with pytest.raises(NotImplementedError):
            lm_bits_model(spark.range(1).selectExpr("'x' AS text"))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    one = {r.doc_id: r.bits_per_token
           for r in lm_bits_model(docs.coalesce(1), fake=True)
           .select("doc_id", "bits_per_token").collect()}
    many = {r.doc_id: r.bits_per_token
            for r in lm_bits_model(docs.repartition(16), fake=True)
            .select("doc_id", "bits_per_token").collect()}
    assert one == many
    # UDF output equals the pure-Python scorer row-for-row
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    assert one == {i: fake_lm_bits_py(t) for i, t in texts.items()}
    nulls = spark.createDataFrame([(1, None), (2, "")],
                                  "doc_id long, text string")
    got = lm_bits_model(nulls, fake=True).collect()
    assert all(r.bits_per_token is None for r in got)


def test_ivf_kmeans_centroids_beat_standin(spark):
    """Trained centroids through the same plan-literal interface: on
    clustered data, KMeans cells must reach at least the stand-in's recall
    at a TIGHTER probe budget (nprobe=1) — trained cells align with the true
    clusters, so one probe suffices where the arbitrary lowest-id cells
    need several. The driver contract (ann_ivf_topk) stays on the
    deterministic stand-in."""
    import numpy as np

    from logport_spark.operators.similarity import (
        cosine_topk, ivf_topk, kmeans_centroids,
    )

    rng = np.random.default_rng(5)
    centers = rng.standard_normal((8, 64)) * 4
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [float(x) for x in (c + rng.standard_normal(64) * 0.3)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    qids = [100, 101, 102]
    bf_set = {(r.query_id, r.neighbor_id) for r in cosine_topk(emb, qids, k=10).collect()}

    def recall(res):
        got = {(r.query_id, r.neighbor_id) for r in res}
        return len(bf_set & got) / len(bf_set)

    trained = kmeans_centroids(emb, nlist=8, seed=42)
    r_km = recall(ivf_topk(emb, qids, k=10, nlist=8, nprobe=1,
                           centroids=trained).collect())
    r_standin = recall(ivf_topk(emb, qids, k=10, nlist=8, nprobe=1).collect())
    assert r_km >= 0.99, f"kmeans nprobe=1 recall {r_km}"
    assert r_km >= r_standin, f"kmeans {r_km} < stand-in {r_standin}"


def test_connected_components_transitive_closure(spark):
    """Chain a~b~c~d plus a disjoint pair and singletons: every node must get
    the component-min label, in <= O(log diameter) pointer-jump rounds."""
    from logport_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),   # 7-chain
         (10, 11),                                          # pair
         ], "d1 long, d2 long")
    nodes = spark.range(1, 15).select(F.col("id").alias("doc_id"))
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs, nodes).collect()}
    for v in range(1, 8):
        assert got[v] == 1
    assert got[10] == got[11] == 10
    for v in (8, 9, 12, 13, 14):
        assert got[v] == v  # singletons keep their own id


def test_cluster_retention_keeps_longest_per_cluster(spark):
    """Exactly one keeper per cluster; the keeper is the longest member
    (doc_id breaks length ties); singletons keep themselves."""
    from logport_spark.operators.dedup import cluster_retention

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),          # cluster {1,2}: 2 longer
         (2, "alpha beta gamma delta epsilon"),
         (3, "same words here okay"),            # cluster {3,4}: equal length
         (4, "same words here okay"),            #   -> doc_id 3 wins
         (5, "a lone document about nothing")],  # singleton
        "doc_id long, text string")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)],
        "doc_id long, cluster_id long")
    got = {r["doc_id"]: r for r in
           cluster_retention(docs, clusters=clusters).collect()}
    assert not got[1]["keep"] and got[2]["keep"]        # longest wins
    assert got[3]["keep"] and not got[4]["keep"]        # tie -> min doc_id
    assert got[5]["keep"] and got[5]["cluster_size"] == 1
    assert got[1]["cluster_size"] == got[2]["cluster_size"] == 2
    kept_per_cluster: dict[int, int] = {}
    for r in got.values():
        kept_per_cluster[r["cluster_id"]] = \
            kept_per_cluster.get(r["cluster_id"], 0) + int(r["keep"])
    assert all(v == 1 for v in kept_per_cluster.values())


def test_dedup_clusters_merges_pair_chains(spark, docs):
    """Cluster assignment agrees with a driver-side union-find over the
    operator's own pair list (independent closure implementation)."""
    from logport_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, n=3, threshold=0.8).collect()
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["d1"]), find(r["d2"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup_clusters(docs, n=3, threshold=0.8).collect()}
    n_docs = docs.count()
    assert len(got) == n_docs
    for doc_id, cid in got.items():
        assert cid == (find(doc_id) if doc_id in parent else doc_id)


def test_lsh_band_params_bound_candidates(spark):
    """The O(n^2) guard: with corpus-scaled band params the candidate count
    on UNRELATED vectors stays ~n*L, while the small-fixture default (16x4)
    is quadratic. Planted near-dups must still be captured."""
    import numpy as np

    from logport_spark.operators.similarity import (
        embedding_lsh_pairs, lsh_band_params, lsh_signatures)

    rng = np.random.default_rng(7)
    n = 3000
    base = rng.standard_normal((n, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # plant 30 near-dups of ids 0..29 at ids n..n+29 (cos ~ 0.997)
    dup = base[:30] + 0.05 * rng.standard_normal((30, 64))
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    rows = [(i, v.astype("float32").tolist())
            for i, v in enumerate(np.vstack([base, dup]))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    n_tables, bits = lsh_band_params(n + 30, threshold=0.9)
    assert bits >= 11  # log2-scaled with n, not the fixture's 4

    sigs = lsh_signatures(emb, 64, n_tables, bits)
    banded = sigs.select("doc_id", F.posexplode_outer("sig").alias("t", "key"))
    a, b = banded.alias("a"), banded.alias("b")
    n_cand = (a.join(b, (F.col("a.t") == F.col("b.t"))
                     & (F.col("a.key") == F.col("b.key"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .select("a.doc_id", "b.doc_id").distinct().count())
    # linear regime: a few candidates per vector, nowhere near n^2/2 (~4.6M)
    assert n_cand < 20 * (n + 30)

    got = {(r["d1"], r["d2"])
           for r in embedding_lsh_pairs(emb, threshold=0.9,
                                        n_tables=n_tables,
                                        bits_per_table=bits).collect()}
    captured = sum((i, n + i) in got for i in range(30))
    assert captured >= 27  # >=90% capture of planted dups at the 0.99 target


def test_repetition_and_pii_on_crafted_rows(spark):
    """Pin the Gopher-repetition fractions and PII redaction on hand-computed
    rows (the sf0.01 oracle gate covers the corpus, which contains no PII)."""
    from logport_spark.operators.textstats import pii_scrub, repetition

    docs = spark.createDataFrame(
        [(0, "contact me at bob@example.com or 10.0.0.1 thanks"),
         (1, "card 4111111111111111 leaked and the the the"),
         (2, "a"),
         (3, "x y x y x y")],
        "doc_id long, text string")

    rep = {r["doc_id"]: r for r in repetition(docs).collect()}
    # "x y x y x y": 2-grams [xy, yx, xy, yx, xy] -> top 3/5, all duplicated
    assert rep[3]["top_token_frac"] == 0.5
    assert rep[3]["top_2gram_frac"] == 0.6
    assert rep[3]["dup_2gram_frac"] == 1.0
    # "the the the" tail: top token 3/7
    assert rep[1]["top_token_frac"] == round(3 / 7, 4)
    # single token: degenerate but defined
    assert rep[2]["n_tokens"] == 1 and rep[2]["top_token_frac"] == 1.0
    assert rep[2]["top_2gram_frac"] == 0.0

    pii = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert pii[0]["n_emails"] == 1 and pii[0]["n_ipv4"] == 1
    assert pii[0]["redacted"] == "contact me at [EMAIL] or [IPV4] thanks"
    assert pii[1]["n_cards"] == 1 and "[CARD]" in pii[1]["redacted"]
    assert pii[1]["has_pii"] and not pii[2]["has_pii"]
    # 18-digit run: no \b-delimited 13-16 window exists -> NOT a card match
    long_run = spark.createDataFrame([(9, "id 123456789012345678 x")],
                                     "doc_id long, text string")
    assert pii_scrub(long_run).collect()[0]["n_cards"] == 0


def test_repetition_folds_equal_counter_math(spark):
    """The sorted-array JVM folds must equal plain Counter arithmetic on 200
    random documents (seeded) — one Spark round trip, per-row comparison."""
    from collections import Counter

    import numpy as np

    from logport_spark.operators.textstats import repetition

    rng = np.random.default_rng(11)
    vocab = ["a", "b", "c", "dd", "e"]
    rows = []
    for i in range(200):
        n = int(rng.integers(1, 30))
        rows.append((i, " ".join(vocab[int(rng.integers(0, len(vocab)))]
                                  for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition(docs).collect()}
    for i, text in rows:
        toks = text.split(" ")
        g2 = [" ".join(toks[j:j + 2]) for j in range(len(toks) - 1)]
        c1, c2 = Counter(toks), Counter(g2)
        r = got[i]
        assert r["n_tokens"] == len(toks)
        assert r["top_token_frac"] == round(max(c1.values()) / len(toks), 4)
        if g2:
            assert r["top_2gram_frac"] == round(max(c2.values()) / len(g2), 4)
            dup = sum(c for c in c2.values() if c > 1)
            assert r["dup_2gram_frac"] == round(dup / len(g2), 4)
        else:
            assert r["top_2gram_frac"] == 0.0 and r["dup_2gram_frac"] == 0.0


def test_simhash_blocked_equals_narrow_bands(spark, docs):
    """Manku block-combination banding must return the EXACT pair set of the
    4x15 scheme (both are exact for hamming<=3) while colliding random
    signatures 2^15x less often per table."""
    import numpy as np

    from logport_spark.operators.dedup import (
        simhash_pairs, simhash_pairs_blocked, simhash_signatures)

    sig = simhash_signatures(docs).cache()
    narrow = {(r["d1"], r["d2"], r["hamming"])
              for r in simhash_pairs(sig, max_hamming=3).collect()}
    blocked = {(r["d1"], r["d2"], r["hamming"])
               for r in simhash_pairs_blocked(sig, max_hamming=3).collect()}
    assert blocked == narrow
    sig.unpersist()

    # candidate-volume comparison on RANDOM 60-bit signatures (no true dups):
    # every narrow-band candidate is a false positive; blocked should emit
    # almost none
    rng = np.random.default_rng(3)
    rand = spark.createDataFrame(
        [(i, int(rng.integers(0, 1 << 60))) for i in range(4000)],
        "doc_id long, simhash long")

    def n_cands(band_fn):
        from logport_spark.operators.dedup import _simhash_banded
        # count candidates BEFORE the hamming filter by lifting the core
        from itertools import combinations
        if band_fn == "narrow":
            slices = [(15 * k, 15) for k in range(4)]
        else:
            blocks = [(10 * k, 10) for k in range(6)]
            slices = [list(c) for c in combinations(blocks, 3)]
        from pyspark.sql import functions as F2
        df = _simhash_banded(rand, slices, max_hamming=60)  # no-op filter
        return df.count()

    narrow_c, blocked_c = n_cands("narrow"), n_cands("blocked")
    # 4000 random sigs: narrow expects ~4000^2/2 * 4/2^15 ~ 975 collisions,
    # blocked expects ~0.07
    assert blocked_c < narrow_c / 50
    assert blocked_c <= 2


def test_contamination_and_vocab_planted(spark):
    """Planted overlap: a test doc quoting a train passage verbatim is
    flagged with the right shingle fractions; clean docs score 0."""
    from logport_spark.operators.dedup import ngram_contamination, vocab_topk

    train = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(1, "quote: quick brown fox jumps end"),   # 4-token quote
         (3, "entirely novel words appear here only"),
         (5, "xy")],                                 # shorter than n
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           ngram_contamination(train, test, n=3).collect()}
    # doc 1: shingles of 6 tokens = 4; "quick brown fox","brown fox jumps" hit
    assert got[1]["n_shingles"] == 4 and got[1]["n_hits"] == 2
    assert got[1]["contamination_frac"] == 0.5
    assert got[3]["n_hits"] == 0 and got[3]["contamination_frac"] == 0.0
    assert got[5]["n_shingles"] == 0 and got[5]["contamination_frac"] == 0.0

    top = vocab_topk(train.select("text"), k=3).collect()
    assert [r["tok"] for r in top][0] == "the"   # count 2, rest are ties at 1
    assert top[0]["cnt"] == 2 and top[0]["rank"] == 1


def test_bloom_contamination_no_false_negatives_zero_shuffle(spark):
    """Bloom prefilter contract: every train doc that truly shares a
    shingle with the eval set is flagged (Bloom filters have no false
    negatives — the whole point of using one as the first cascade tier),
    and the train-side plan is scan→project with ZERO Exchange (the
    bitmap is a constant-folded literal; no join touches the big side)."""
    from logport_spark.operators.dedup import (bloom_build,
                                               bloom_contamination,
                                               ngram_contamination)

    test = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (3, "benchmark answer string held out here")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(0, "quote: quick brown fox jumps end"),     # true overlap
         (2, "entirely novel words appear here only"),  # clean
         (4, "benchmark answer string embedded in a training page"),
         (6, "xy")],                                   # shorter than n
        "doc_id long, text string")
    words = bloom_build(test, n=3, m_words=64, k=2)
    out = bloom_contamination(train, words, n=3, k=2)
    got = {r["doc_id"]: r for r in out.collect()}

    # exact truth from the semi-join scan, directions swapped (train
    # scanned against test): flagged must be a SUPERSET of truth
    truth = {r["doc_id"]: r["n_hits"] for r in
             ngram_contamination(test, train, n=3).collect()}
    for did, n_hits in truth.items():
        if n_hits > 0:
            assert got[did]["flagged"], did
        assert got[did]["n_bloom_hits"] >= n_hits, did
    assert got[0]["flagged"] and got[4]["flagged"]
    assert got[6]["n_shingles"] == 0 and not got[6]["flagged"]

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero shuffle on the train side


def test_minhash_contamination_flags_near_dup_leaks(spark):
    """Fuzzy decontamination catches the lightly-edited leak that exact
    shingle overlap misses at the doc level: a test doc that is a one-token
    edit of a train doc is flagged with the right Jaccard and evidence
    pointer; unrelated docs never appear in the flag list."""
    from logport_spark.operators.dedup import minhash_contamination

    base = "w%d " * 30  # 30-token template, near-dup pairs share 29
    t0 = (base % tuple(range(30))).strip()
    edited = t0.replace("w7", "zz")  # one token differs
    train = spark.createDataFrame(
        [(0, t0),
         (2, "pack my box with five dozen liquor jugs today ok")],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(1, edited),
         (3, "entirely novel words appear here only now")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           minhash_contamination(train, test, n=3, threshold=0.5).collect()}
    assert set(got) == {1}  # doc 3 is clean — flag list only
    # shingle sets (n=3, 28 each) differ in the 3 windows covering token 7:
    # common = 25, union = 28 + 28 - 25 = 31
    assert got[1]["top_train_id"] == 0 and got[1]["n_matches"] == 1
    assert got[1]["max_jaccard"] == round(25 / 31, 4)


def test_corpus_datacard_margins_and_single_pass(spark):
    """CUBE data card: cell rows, both margins, and the grand total agree
    with hand-computed values, and the whole table is ONE Expand + one
    aggregate exchange — margins never rescan or join."""
    from logport_spark.operators.textstats import corpus_datacard

    docs = spark.createDataFrame(
        [(0, "a b", "en", "s1", 3), (1, "c", "en", "s2", 1),
         (2, "d e f", "de", "s1", 5)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = {(r["lang"], r["source"]): r for r in corpus_datacard(docs).collect()}
    # cells: (en,s1),(en,s2),(de,s1); lang margins: (en,ALL),(de,ALL);
    # source margins: (ALL,s1),(ALL,s2); grand total: (ALL,ALL) -> 8
    assert ("ALL", "ALL") in rows and len(rows) == 8
    g = rows[("ALL", "ALL")]
    assert g["n_docs"] == 3 and g["tokens"] == 6 and g["chars"] == 9
    assert g["tokens_per_doc"] == 2.0
    assert rows[("en", "ALL")]["tokens"] == 3
    assert rows[("ALL", "s1")]["n_docs"] == 2
    plan = corpus_datacard(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Expand" in plan


def test_connected_components_pointer_jump_accelerates(spark):
    """A 300-node path converges within max_iter=15: distance-to-min closes
    super-linearly per round (propagate + pointer jump ~ Fibonacci growth),
    so rounds are O(log diameter) — pure propagation would need 299."""
    from pyspark.sql import functions as F2

    from logport_spark.operators.dedup import connected_components

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "d1 long, d2 long")
    nodes = spark.range(1, n + 1).select(F2.col("id").alias("doc_id"))
    got = connected_components(pairs, nodes, max_iter=15).collect()
    assert all(r["cluster_id"] == 1 for r in got)
    assert len(got) == n


def test_hash_sampling_stable_and_disjoint(spark, docs):
    """Hash sampling must be partition-independent (same rows at any
    layout), strata rates must land near targets, and the 3-way split must
    be disjoint, exhaustive, and stable under corpus growth."""
    from logport_spark.operators.sampling import hash_sample, train_val_test

    ids_1 = {r["doc_id"] for r in
             hash_sample(docs.coalesce(1), 0.3).select("doc_id").collect()}
    ids_8 = {r["doc_id"] for r in
             hash_sample(docs.repartition(8), 0.3).select("doc_id").collect()}
    assert ids_1 == ids_8                       # layout-independent
    n = docs.count()
    assert abs(len(ids_1) / n - 0.3) < 0.08     # near the target rate

    split = train_val_test(docs, val_frac=0.1, test_frac=0.1)
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == n            # exhaustive
    # stability: membership of the first half is unchanged when the corpus grows
    half = docs.filter(F.col("doc_id") < n / 2)
    full_assign = {r["doc_id"]: r["split"] for r in
                   split.select("doc_id", "split").collect()}
    half_assign = {r["doc_id"]: r["split"] for r in
                   train_val_test(half, 0.1, 0.1).select("doc_id", "split").collect()}
    assert all(full_assign[k] == v for k, v in half_assign.items())


def test_unigram_logprob_hand_computed(spark):
    """bits/token on a 3-doc corpus, checked against hand arithmetic: doc 2
    (all common tokens) must score strictly fewer bits than doc 3 (rare)."""
    import math

    from logport_spark.operators.textstats import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a a a"), (3, "z")],
        "doc_id long, text string")
    # corpus tokens: a x5, b x1, z x1 -> n=7
    got = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    lp_a, lp_b, lp_z = (math.log2(5 / 7), math.log2(1 / 7), math.log2(1 / 7))
    assert got[1]["bits_per_token"] == round(-(2 * lp_a + lp_b) / 3, 4)
    assert got[2]["bits_per_token"] == round(-lp_a, 4)
    assert got[3]["bits_per_token"] == round(-lp_z, 4)
    assert got[2]["bits_per_token"] < got[3]["bits_per_token"]
    assert got[1]["n_scored"] == 3
    # the per-occurrence plan variant (distinct_preagg=False — the r5
    # quiet-ladder winner on low-repetition corpora) is bit-identical
    alt = {r["doc_id"]: r for r in
           unigram_logprob(docs, distinct_preagg=False).collect()}
    assert {(k, v["n_scored"], v["bits_per_token"])
            for k, v in alt.items()} == \
        {(k, v["n_scored"], v["bits_per_token"]) for k, v in got.items()}


def test_curate_lines_fused_equals_sequential_composition(spark):
    """The fused curate_lines_corpus ≡ dedup_lines_corpus ∘
    strip_boilerplate_lines row-for-row (doc_id, n_kept, text) on a
    randomized corpus covering every interaction: within-doc duplicate
    lines, cross-doc duplicates at and around the boilerplate threshold,
    empty lines, docs losing every line, and single-line docs."""
    import random

    from logport_spark.operators.dedup import (curate_lines_corpus,
                                               dedup_lines_corpus,
                                               strip_boilerplate_lines)

    rng = random.Random(515)
    pool = ([f"unique line {i}" for i in range(300)]
            + ["shared pair line"] * 2
            + ["nav bar boilerplate", "cookie banner"])   # df >= threshold
    docs = []
    for d in range(120):
        n = rng.randint(1, 12)
        lines = []
        for _ in range(n):
            r = rng.random()
            if r < 0.25:
                lines.append(rng.choice(
                    ["nav bar boilerplate", "cookie banner"]))
            elif r < 0.45:
                lines.append(f"common {rng.randint(0, 8)}")   # mid-df lines
            elif r < 0.55:
                lines.append("")                              # dropped
            else:
                lines.append(rng.choice(pool))
        if rng.random() < 0.3 and lines:
            lines.append(lines[0])                            # within-doc dup
        docs.append((d, "\n".join(lines)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for min_docs in (3, 10, 50):
        seq = dedup_lines_corpus(
            strip_boilerplate_lines(df, min_docs=min_docs))
        fused = curate_lines_corpus(df, min_docs=min_docs)
        a = {(r.doc_id, r.n_kept, r.text) for r in seq.collect()}
        b = {(r.doc_id, r.n_kept, r.text) for r in fused.collect()}
        assert a == b, f"min_docs={min_docs}: {len(a ^ b)} differing rows"

    # with a threshold no line can reach, the fused operator is plain
    # corpus line dedup
    plain = {(r.doc_id, r.n_kept, r.text)
             for r in dedup_lines_corpus(df).collect()}
    never = {(r.doc_id, r.n_kept, r.text) for r in
             curate_lines_corpus(df, min_docs=len(docs) + 1).collect()}
    assert plain == never


def test_dedup_lines_corpus_semantics(spark):
    """C4 corpus line dedup: a line survives once, in its first-occurrence
    document; docs rebuild in original line order; all-dup docs vanish."""
    from logport_spark.operators.dedup import dedup_lines_corpus

    docs = spark.createDataFrame(
        [(1, "alpha\nboiler\nbeta"),
         (2, "boiler\ngamma"),          # 'boiler' already in doc 1
         (3, "boiler"),                 # loses its only line -> drops out
         (4, "delta\n\nepsilon"),       # empty line dropped, not deduped
         (5, "gamma\nalpha\nzeta")],    # both repeats dropped, zeta kept
        "doc_id long, text string")
    got = {r.doc_id: (r.n_kept, r.text)
           for r in dedup_lines_corpus(docs).collect()}
    assert got == {
        1: (3, "alpha\nboiler\nbeta"),
        2: (1, "gamma"),
        4: (2, "delta\nepsilon"),
        5: (1, "zeta"),
    }


def test_canonical_url_and_url_dedup(spark):
    """Canonicalization merges fragment/tracking-param/case/port variants
    and NEVER merges genuinely different resources; url_dedup keeps the
    newest crawl and counts collapsed snapshots."""
    from logport_spark.operators.dedup import canonical_url, url_dedup

    rows = [
        # one resource, five spellings
        ("https://Ex.COM/a?x=1&utm_source=tw", "2024-01-01 00:00:00"),
        ("https://ex.com/a?x=1#frag",          "2024-01-03 00:00:00"),
        ("HTTPS://ex.com:443/a?x=1",           "2024-01-02 00:00:00"),
        ("https://ex.com/a?x=1&utm_b=2",       "2024-01-01 12:00:00"),
        ("https://ex.com/a?x=1&fbclid=abc",    "2024-01-02 12:00:00"),
        # different resources — must survive separately
        ("https://ex.com/a?x=2",               "2024-01-01 00:00:00"),
        ("https://ex.com/a?x=1&page=2",        "2024-01-01 00:00:00"),  # real param kept
        ("https://ex.com/A",                   "2024-01-01 00:00:00"),  # path case matters
        ("http://ex.com/a?x=1",                "2024-01-01 00:00:00"),  # scheme matters
        ("https://ex.com:8443/a?x=1",          "2024-01-01 00:00:00"),  # non-default port
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts string") \
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))

    canon = {r.url: r.c for r in
             pages.select("url", canonical_url().alias("c")).collect()}
    # the pure-Python twin (hypothesis-tested idempotent) matches the column
    from logport_spark.operators.dedup import canonical_url_py

    for u, c in canon.items():
        assert canonical_url_py(u) == c, u
    assert canon["https://Ex.COM/a?x=1&utm_source=tw"] == "https://ex.com/a?x=1"
    assert canon["HTTPS://ex.com:443/a?x=1"] == "https://ex.com/a?x=1"
    assert canon["https://ex.com/a?x=1&utm_b=2"] == "https://ex.com/a?x=1"
    assert canon["https://ex.com/a?x=1&page=2"] == "https://ex.com/a?x=1&page=2"
    assert canon["https://ex.com:8443/a?x=1"] == "https://ex.com:8443/a?x=1"

    out = {r.canon_url: r for r in url_dedup(pages).collect()}
    merged = out["https://ex.com/a?x=1"]
    assert merged.n_crawls == 5
    assert merged.url == "https://ex.com/a?x=1#frag"  # newest crawl wins
    assert out["https://ex.com/A"].n_crawls == 1
    assert out["http://ex.com/a?x=1"].n_crawls == 1


def test_strip_boilerplate_lines_semantics(spark):
    """Boilerplate removal drops EVERY occurrence (unlike line dedup's
    keep-one), leaves rare lines alone, and rebuilds in order."""
    from logport_spark.operators.dedup import strip_boilerplate_lines

    docs = spark.createDataFrame(
        [(1, "cookie banner\nreal content one"),
         (2, "cookie banner\nreal content two"),
         (3, "cookie banner\nshared rare line"),
         (4, "shared rare line\nmore content"),
         (5, "cookie banner")],          # only boilerplate -> drops out
        "doc_id long, text string")
    got = {r.doc_id: (r.n_kept, r.text)
           for r in strip_boilerplate_lines(docs, min_docs=3).collect()}
    assert got == {
        1: (1, "real content one"),
        2: (1, "real content two"),
        3: (1, "shared rare line"),      # df=2 < 3: kept in BOTH docs
        4: (2, "shared rare line\nmore content"),
    }


def test_domain_boilerplate_lines_is_site_local(spark):
    """The domain grain strips a small site's chrome that the global
    threshold misses, and NEVER strips the same line from a domain where
    it is rare — the property that distinguishes it from
    strip_boilerplate_lines (which is domain-blind both ways)."""
    from logport_spark.operators.dedup import (domain_boilerplate_lines,
                                               strip_boilerplate_lines)

    docs = spark.createDataFrame(
        [(1, "a.com", "nav bar\ncontent one"),
         (2, "a.com", "nav bar\ncontent two"),
         (3, "a.com", "nav bar\ncontent three"),
         (4, "b.com", "nav bar\nother site content"),  # rare ON b.com
         (5, "b.com", "b content only"),
         (6, "a.com", "nav bar")],       # chrome-only page -> drops out
        "doc_id long, domain string, text string")
    got = {r.doc_id: (r.domain, r.n_kept, r.text)
           for r in domain_boilerplate_lines(docs, min_docs=3).collect()}
    assert got == {
        1: ("a.com", 1, "content one"),
        2: ("a.com", 1, "content two"),
        3: ("a.com", 1, "content three"),
        # df("nav bar") on b.com = 1 < 3: kept there even though a.com
        # crossed the threshold with the SAME line
        4: ("b.com", 2, "nav bar\nother site content"),
        5: ("b.com", 1, "b content only"),
    }
    # the global operator at the same threshold is domain-blind: "nav bar"
    # has corpus df=5 >= 3, so doc 4 loses it too
    glob = {r.doc_id: r.text for r in
            strip_boilerplate_lines(docs, min_docs=3).collect()}
    assert glob[4] == "other site content"
    # and it IS the domain grain over one constant group
    one = {r.doc_id: (r.n_kept, r.text) for r in domain_boilerplate_lines(
        docs.withColumn("domain", F.lit("all")), min_docs=3).collect()}
    assert one == {r.doc_id: (r.n_kept, r.text) for r in
                   strip_boilerplate_lines(docs, min_docs=3).collect()}


def test_domain_filter_drops_whole_domains(spark):
    """A failing domain loses every doc; healthy domains keep all."""
    from logport_spark.operators.textstats import domain_filter, domain_stats

    rows = [(i, "x" * 500, "en", "good.com", 500) for i in range(10)]
    rows += [(100 + i, "x" * (20 if i < 8 else 500), "en", "stub.com",
              20 if i < 8 else 500) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")

    stats = {r.domain: r for r in domain_stats(docs).collect()}
    assert stats["stub.com"].short_frac == 0.8
    kept = domain_filter(docs, max_short_frac=0.5)
    assert {r.source for r in kept.select("source").distinct().collect()} \
        == {"good.com"}
    assert kept.count() == 10
    # plan: the verdict side must broadcast, never shuffle the doc stream
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_invariants(spark, docs):
    """Packing invariants on the real corpus: cum_tokens is the exact
    per-shard running total in doc_id order; pack boundaries follow the
    first-fit rule (a pack starts iff the previous docs filled the
    window); repartitioning never changes the assignment."""
    from logport_spark.operators.sampling import pack_sequences

    window = 128
    out = pack_sequences(docs, window_tokens=window, n_shards=4)
    rows = sorted(out.collect(), key=lambda r: (r.shard, r.doc_id))
    cum = {}
    for r in rows:
        prev = cum.get(r.shard, 0)
        assert r.cum_tokens == prev + r.n_tokens       # exact running total
        assert r.pack_id == prev // window             # first-fit rule
        cum[r.shard] = r.cum_tokens
    # partition-independence (the df.sample() failure mode this avoids)
    again = pack_sequences(docs.repartition(13), window_tokens=window,
                           n_shards=4)
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in rows}


def test_semantic_dedup_captures_planted_pairs(spark):
    """SemDeDup on the clustered 5k corpus (planted near-dups at cos≈0.99):
    within-cell exact-cosine pairs must capture nearly all planted pairs —
    near-identical vectors quantize to the same cell — and report no pair
    below the threshold."""
    from logport_spark import datagen
    from logport_spark.operators.similarity import semantic_dedup_pairs

    sf_dir = datagen.ensure_documents(5000, spark)
    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    n = emb.count()
    planted = {(i - 11, i) for i in range(11, n) if i % 25 == 11}

    got = semantic_dedup_pairs(emb, threshold=0.9, nlist=16).collect()
    assert all(r.cos >= 0.9 for r in got)
    pairs = {(r.d1, r.d2) for r in got}
    standin_capture = len(pairs & planted) / len(planted)
    # cross-cell misses are SemDeDup's documented trade; the lowest-id
    # stand-in centroids split some true clusters (measured ~0.885 here)
    assert standin_capture >= 0.85, standin_capture

    # trained centroids through the same plan-literal interface close it —
    # the same story as test_ivf_kmeans_centroids_beat_standin
    from logport_spark.operators.similarity import kmeans_centroids

    cents = kmeans_centroids(emb, nlist=16)
    got_t = semantic_dedup_pairs(emb, threshold=0.9, nlist=16,
                                 centroids=cents).collect()
    pairs_t = {(r.d1, r.d2) for r in got_t}
    trained_capture = len(pairs_t & planted) / len(planted)
    assert trained_capture >= 0.95, trained_capture
    assert trained_capture >= standin_capture


def test_duplicate_span_stats_semantics(spark):
    """A span is 'duplicated' iff its content occurs >=2 times corpus-wide
    (cross-doc OR within-doc, multiplicity preserved); docs shorter than w
    drop out; fractions are per-position."""
    from logport_spark.operators.dedup import duplicate_span_stats

    docs = spark.createDataFrame(
        [(1, "a b c d e"),        # spans: "a b c", "b c d", "c d e"
         (2, "x y z a b c"),      # shares "a b c" with doc 1
         (3, "p q r p q r p q"),  # within-doc repeat: "p q r" x2
         (4, "t u")],             # < w tokens -> no rows
        "doc_id long, text string")
    got = {r.doc_id: (r.n_spans, r.dup_span_frac)
           for r in duplicate_span_stats(docs, w=3).collect()}
    # doc 3 spans: pqr qrp rpq pqr qrp rpq = each repeated -> frac 1.0
    assert got == {1: (3, 0.3333), 2: (4, 0.25), 3: (6, 1.0)}
    assert 4 not in got


def test_remove_duplicate_spans_semantics(spark):
    """Tokens covered by any corpus-duplicated w-window are removed; short
    docs and unique docs pass through untouched; within-doc repeats count."""
    from logport_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e"),        # "a b c" duplicated (doc 2) -> drop a b c
         (2, "x y z a b c"),      # tail "a b c" dropped, "x y z" survives?
         (3, "p q r p q r p q"),  # every window repeated -> all removed
         (4, "t u"),              # < w tokens: no windows, kept whole
         (5, "q w e r t")],       # unique windows, kept whole
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in remove_duplicate_spans(docs, w=3).collect()}
    # doc 2: windows xyz yza zab abc; only "a b c" is duplicated -> tokens
    # 4..6 covered; "x y z" survives
    assert got[1] == (5, 3, "d e")
    assert got[2] == (6, 3, "x y z")
    assert got[3] == (8, 8, "")
    assert got[4] == (2, 0, "t u")
    assert got[5] == (5, 0, "q w e r t")


def test_html_to_text_extraction_and_invalid_utf8(spark):
    """Script/style/comment stripped, tags dropped, entities decoded once,
    whitespace collapsed; invalid-UTF-8 pages yield NULLs with
    utf8_valid=false."""
    from logport_spark.operators.parse import html_to_text

    rows = [
        (1, bytearray(b"<html><head><title>T1</title>"
                      b"<script>var x=1;</script><style>p{}</style></head>"
                      b"<body><!-- c --><p>Hello &amp;\n <b>world</b>"
                      b" &lt;tag&gt; &#39;q&#39;</p></body></html>")),
        (2, bytearray(b"plain text no tags")),
        (3, bytearray(b"<p>bad \xff\xfe bytes</p>")),
    ]
    df = spark.createDataFrame(rows, "url long, html binary")
    got = {r.url: r for r in html_to_text(df, keep_cols=("url",)).collect()}
    assert got[1].utf8_valid and got[1].title == "T1"
    assert got[1].body == "Hello & world <tag> 'q'"
    assert got[1].body_chars == len(got[1].body)
    assert got[2].utf8_valid and got[2].title == "" \
        and got[2].body == "plain text no tags"
    assert not got[3].utf8_valid
    assert got[3].title is None and got[3].body is None \
        and got[3].body_chars is None


def test_corpus_shuffle_deterministic_and_partition_invariant(spark, docs):
    """(shard, pos) is a pure function of the key: identical under any
    input partitioning; positions are contiguous 1..k per shard."""
    from logport_spark.operators.sampling import corpus_shuffle

    a = {r.doc_id: (r.shard, r.pos)
         for r in corpus_shuffle(docs, n_shards=8).collect()}
    b = {r.doc_id: (r.shard, r.pos)
         for r in corpus_shuffle(docs.repartition(7), n_shards=8).collect()}
    assert a == b and len(a) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for s, p in a.values():
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) <= set(range(8))
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), s


def test_snapshot_delta_statuses(spark):
    """new / unchanged / changed classification, with canonical-URL merge:
    a recrawl under a tracking-param variant still matches its old page."""
    from logport_spark.operators.dedup import snapshot_delta

    old = spark.createDataFrame(
        [("https://a.com/1", "alpha"),
         ("https://a.com/2", "beta"),
         ("https://a.com/3", "gamma")],
        "url string, text string")
    new = spark.createDataFrame(
        [("https://a.com/1", "alpha"),            # unchanged
         ("https://a.com/2?utm_source=x", "beta2"),  # canon match, changed
         ("https://a.com/4", "delta")],           # never seen
        "url string, text string")
    got = {r.url: r.status for r in snapshot_delta(old, new).collect()}
    assert got == {
        "https://a.com/1": "unchanged",
        "https://a.com/2?utm_source=x": "changed",
        "https://a.com/4": "new",
    }


def test_lm_buckets_order_and_coverage(spark, docs):
    """Within every language the bucket boundaries are order-consistent
    (max(head) <= min(middle) <= ... modulo boundary ties) and every doc
    lands in exactly one bucket."""
    from logport_spark.operators.textstats import lm_buckets

    rows = lm_buckets(docs).collect()
    assert len(rows) == docs.count()
    by_lang: dict[str, dict[str, list[float]]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []) \
            .append(r.bits_per_token)
    for lang, buckets in by_lang.items():
        assert set(buckets) <= {"head", "middle", "tail"}, lang
        if "head" in buckets and "middle" in buckets:
            assert max(buckets["head"]) <= min(buckets["middle"]), lang
        if "middle" in buckets and "tail" in buckets:
            assert max(buckets["middle"]) <= min(buckets["tail"]), lang


def test_domain_mix_rates_and_determinism(spark):
    """Temperature mix (alpha=0.5): the rarest domain keeps everything,
    a domain with k^2 x the min count keeps ~1/k of its docs, membership
    is partition-invariant, and the doc stream itself never shuffles
    (counts shuffle; docs only see a broadcast-fed filter)."""
    from pyspark.sql import functions as F

    from logport_spark.operators.sampling import domain_mix

    rows, i = [], 0
    for dom, n in [("big.com", 6400), ("mid.com", 400), ("rare.com", 100)]:
        rows += [(f"d{j}", dom) for j in range(i, i + n)]
        i += n
    df = spark.createDataFrame(rows, "doc_id string, domain string")

    kept = domain_mix(df, domain_col="domain", key_col="doc_id")
    by_dom = {r["domain"]: r["n"] for r in
              kept.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    # rare domain: rate floor(sqrt(1)*10000)=10000 -> keeps all 100
    assert by_dom["rare.com"] == 100
    # mid: sqrt(100/400)=0.5 -> ~200 of 400; big: sqrt(100/6400)=0.125 -> ~800
    assert abs(by_dom["mid.com"] - 200) < 60
    assert abs(by_dom["big.com"] - 800) < 120

    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in
         domain_mix(df.repartition(13), domain_col="domain",
                    key_col="doc_id").collect()}
    assert a == b

    plan = kept._jdf.queryExecution().executedPlan().toString()
    # exactly the domain-count aggregation exchanges; docs join via broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bigram_logprob_backoff_semantics(spark):
    """Hand-computed stupid-backoff scores against an external reference:
    seen bigrams score c12/c1; unseen bigrams back off to alpha*c(w2)/N;
    an OOV w2 backs off with pseudo-count 1 instead of a null that
    sum() would silently skip."""
    import math

    from logport_spark.operators.textstats import bigram_logprob

    ref = spark.createDataFrame([("r1", "x y x y z")],
                                "doc_id string, text string")
    docs = spark.createDataFrame(
        [("a", "x y"),      # seen bigram: S = c(x y)/c(x) = 2/2 = 1
         ("b", "z x"),      # unseen bigram: S = 0.4 * c(x)/N = 0.4*2/5
         ("c", "z qq")],    # OOV w2: S = 0.4 * 1/N
        "doc_id string, text string")
    got = {r.doc_id: (r.n_scored, r.bits_per_token)
           for r in bigram_logprob(docs, ref=ref).collect()}
    assert got["a"] == (1, 0.0)
    assert got["b"] == (1, round(-math.log2(0.4 * 2 / 5), 4))
    assert got["c"] == (1, round(-math.log2(0.4 * 1 / 5), 4))


def test_ngram_counts_short_doc_guard(spark):
    """Docs shorter than n contribute nothing (the sequence() descending
    pitfall is guarded); counts and pruning are exact."""
    from logport_spark.operators.textstats import ngram_counts

    df = spark.createDataFrame(
        [("a", "p q r p q r"), ("b", "p q"), ("c", "")],
        "doc_id string, text string")
    got = {r.ngram: r.cnt for r in ngram_counts(df, n=3).collect()}
    assert got == {"p q r": 2, "q r p": 1, "r p q": 1}
    pruned = {r.ngram: r.cnt
              for r in ngram_counts(df, n=3, min_count=2).collect()}
    assert pruned == {"p q r": 2}


def test_remove_duplicate_spans_adaptive_paths_agree(spark, docs):
    """The per-row adaptive rebuild (direct exists vs merged intervals) is
    an internal strategy choice: forcing every row down the interval path
    (merge_threshold=0) must produce the identical corpus, and a
    pathological fully-duplicated doc (starts > threshold) takes the
    interval path without changing semantics."""
    from logport_spark.operators.dedup import remove_duplicate_spans

    a = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
         for r in remove_duplicate_spans(docs, w=4).collect()}
    b = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
         for r in remove_duplicate_spans(docs, w=4,
                                         merge_threshold=0).collect()}
    assert a == b

    body = " ".join(["dup tok run go"] * 150)   # 600 tokens, all duplicated
    pat = spark.createDataFrame(
        [(1, body), (2, body), (3, "unique words only here")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_removed)
           for r in remove_duplicate_spans(pat, w=4).collect()}
    assert got == {1: (600, 600), 2: (600, 600), 3: (4, 0)}


def test_bpe_pair_counts_semantics_and_plan(spark):
    """Hand-computed first-merge statistics over a tiny corpus (weighted
    by word frequency, single-char words contribute nothing) and the
    top-k plans as TakeOrderedAndProject — never a global sort."""
    from logport_spark.operators.textstats import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low a")],
        "doc_id long, text string")
    out = bpe_pair_counts(df, k=3)
    got = [(r.pair, r.cnt) for r in out.collect()]
    # counts: low x3, lower x1, a x1 -> 'l o' 4, 'o w' 4, 'w e' 1, 'e r' 1
    assert got == [("l o", 4), ("o w", 4), ("e r", 1)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bpe_train_semantics(spark):
    """Hand-computed merge table over the Sennrich-style toy corpus
    (merges cascade: 'l o' then 'lo w' reuses step 1's token), greedy
    non-overlapping runs ('aaaa' yields [aa, aa], never [a, aa, a] —
    so step 2 merges 'aa aa', not 'a aa'), and early stop once every
    word is a single symbol."""
    from logport_spark.operators.textstats import bpe_train

    toy = spark.createDataFrame(
        [("low low low lower lowest",), ("newer newer wider",)],
        "text string")
    got = [(r.step, r.pair, r.cnt, r.token)
           for r in bpe_train(toy, n_merges=4).collect()]
    # l-o in low x3 + lower + lowest = 5; then lo-w everywhere lo is = 5;
    # e-r in lower + newer x2 + wider = 4; then e-w in newer x2 = 2
    assert got == [(1, "l o", 5, "lo"), (2, "lo w", 5, "low"),
                   (3, "e r", 4, "er"), (4, "e w", 2, "ew")]

    runs = spark.createDataFrame([("aaaa aaaa",)], "text string")
    got = [(r.step, r.pair, r.cnt, r.token)
           for r in bpe_train(runs, n_merges=3).collect()]
    # greedy scan: aaaa -> [aa, aa] (4 pairs weighted x2 = ... cnt 6:
    # 3 adjacent pairs per word x 2 words); then aa-aa -> [aaaa] cnt 2;
    # single symbol left -> early stop at step 3
    assert got == [(1, "a a", 6, "aa"), (2, "aa aa", 2, "aaaa")]


def test_bpe_apply_matches_merge_fold(spark):
    """The padded-string replace chain (bpe_apply) is pinned against the
    greedy `_merge_pair` aggregate fold word by word — including the
    overlap adversary ('aaaa' with (a,a) -> [aa, aa], never [a, aa, a]),
    cascaded merges whose later needles contain earlier merged tokens,
    and words the merge table never touches."""
    from pyspark.sql import functions as F

    from logport_spark.operators.textstats import _merge_pair, bpe_apply

    merges = [("a", "a"), ("aa", "aa"), ("l", "o"), ("lo", "w")]
    words = ["aaaa", "aaa", "aaaaa", "low", "lower", "lowest",
             "wallow", "oolong", "xyz", "a", "w"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    fold = F.split(F.col("w"), "")
    for a, b in merges:
        fold = _merge_pair(fold, a, b)
    got = {r.w: (r.via_replace, r.via_fold)
           for r in df.select(
               "w", bpe_apply(F.col("w"), merges).alias("via_replace"),
               fold.alias("via_fold")).collect()}
    for w, (via_replace, via_fold) in got.items():
        assert via_replace == via_fold, w
    assert got["aaaa"][0] == ["aaaa"]          # aa+aa cascades
    assert got["aaaaa"][0] == ["aaaa", "a"]    # greedy non-overlap
    assert got["lowest"][0] == ["low", "e", "s", "t"]

    # multibyte symbols: split('') is per CODE POINT in both engines
    # (verified against DuckDB string_split) and literal replace merges
    # multibyte pairs exactly like ASCII ones
    uni = spark.createDataFrame([("héllo",), ("日本語",)], "w string")
    got_u = {r.w: r.p for r in uni.select(
        "w", bpe_apply(F.col("w"), [("é", "l"), ("日", "本")])
        .alias("p")).collect()}
    assert got_u["héllo"] == ["h", "él", "l", "o"]
    assert got_u["日本語"] == ["日本", "語"]


def test_bpe_encode_word_boundaries_and_contract(spark):
    """Whole-document encode never merges across word boundaries (the
    >=5-space separator argument), space runs collapse silently, and the
    (doc_id, n_words, n_pieces, head_pieces) contract drops zero-token
    docs while head_pieces truncates at `head`."""
    from logport_spark.operators.textstats import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab ab  ba"),   # (b,a): 'ab ab' crosses b|a at the boundary — must NOT merge
         (2, "   "),         # zero tokens -> absent
         (3, "ba ba ba ba")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           bpe_encode(docs, [("b", "a")], head=3).collect()}
    assert set(out) == {1, 3}
    assert (out[1].n_words, out[1].n_pieces) == (3, 5)  # a,b | a,b | ba
    assert out[1].head_pieces == "a b a"
    assert (out[3].n_words, out[3].n_pieces) == (4, 4)
    assert out[3].head_pieces == "ba ba ba"  # truncated at head=3


def test_quality_lr_train_learns_and_pins_baseline(spark):
    """On a separable toy corpus (label-1 docs are all stopwords, label-0
    docs none), the trainer moves w_stop positive within 3 steps and the
    step-1 loss_pre pins the w=0 baseline at ln 2 = 0.6931 exactly; loss
    is non-increasing along the trace."""
    from logport_spark.operators.textstats import quality_lr_train

    docs = spark.createDataFrame(
        [("the and of to in is", "en")] * 4
        + [("xyz qqq zzz kkk www vvv", "de")] * 4,
        "text string, lang string")
    got = quality_lr_train(docs, steps=3).collect()
    assert [r.step for r in got] == [1, 2, 3]
    assert got[0].loss_pre == 0.6931
    assert got[0].loss_pre >= got[1].loss_pre >= got[2].loss_pre
    assert got[-1].w_stop > 0


def test_quality_pr_curve_monotone_and_consistent(spark):
    """The threshold sweep on the separable toy corpus: per-threshold
    counts always sum to n; predicted-positive count is non-increasing
    in the threshold (z >= t nests); the t=0 row reproduces
    quality_lr_eval's confusion exactly."""
    from logport_spark.operators.textstats import quality_pr_curve

    docs = spark.createDataFrame(
        [("the and of to in is", "en")] * 4
        + [("xyz qqq zzz kkk www vvv", "de")] * 4,
        "text string, lang string")
    rows = quality_pr_curve(docs, steps=3).orderBy("threshold").collect()
    assert [r.threshold for r in rows] == [-2.0, -1.5, -1.0, -0.5, 0.0,
                                           0.5, 1.0, 1.5, 2.0]
    assert all(r.tp + r.fp + r.fn + r.tn == 8 for r in rows)
    pos = [r.tp + r.fp for r in rows]
    assert pos == sorted(pos, reverse=True)
    at0 = next(r for r in rows if r.threshold == 0.0)
    assert (at0.tp, at0.fp, at0.fn, at0.tn) == (4, 0, 0, 4)


def test_quality_lr_eval_separates_toy_corpus(spark):
    """Applying the 3-step weights back to the separable toy corpus
    classifies it perfectly at the z>=0 cut — confusion counts are
    integers, derived metrics exact."""
    from logport_spark.operators.textstats import quality_lr_eval

    docs = spark.createDataFrame(
        [("the and of to in is", "en")] * 4
        + [("xyz qqq zzz kkk www vvv", "de")] * 4,
        "text string, lang string")
    r = quality_lr_eval(docs, steps=3).collect()[0]
    assert (r.n, r.tp, r.fp, r.fn, r.tn) == (8, 4, 0, 0, 4)
    assert (r.accuracy, r.precision, r.recall) == (1.0, 1.0, 1.0)


def test_url_blocklist_suffix_semantics_and_plan(spark):
    """Subdomains inherit the ban (registered-domain entry blocks every
    host under it); a host never matches a NON-dot-boundary suffix
    ('esite4.org' vs 'site4.org'); single-label hosts get an empty chain
    (not a crash, not a wildcard match); and the verdict is pure codegen —
    zero Exchange in the plan at any corpus size."""
    from logport_spark.operators.enrich import domain_suffix_chain, url_blocklist

    pages = spark.createDataFrame(
        [("https://a.b.site4.org/x",),     # depth-2 subdomain -> blocked
         ("https://site4.org/y",),         # exact registered domain -> blocked
         ("https://esite4.org/z",),        # suffix WITHOUT dot boundary -> kept
         ("https://d47.site2.fr/q",),      # full-host entry -> blocked
         ("https://x.d47.site2.fr/q",),    # subdomain of full-host entry -> blocked
         ("https://site2.fr/q",),          # parent of full-host entry -> kept
         ("http://localhost/p",)],         # single-label host -> kept
        "url string")
    out = url_blocklist(pages, ["site4.org", "d47.site2.fr"])
    got = {r.url: r.blocked for r in out.collect()}
    assert got == {
        "https://a.b.site4.org/x": True,
        "https://site4.org/y": True,
        "https://esite4.org/z": False,
        "https://d47.site2.fr/q": True,
        "https://x.d47.site2.fr/q": True,
        "https://site2.fr/q": False,
        "http://localhost/p": False,
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan

    chain = pages.select(domain_suffix_chain(
        F.parse_url("url", F.lit("HOST"))).alias("c")).collect()
    by_host = dict(zip([r.url for r in pages.collect()],
                       [r.c for r in chain]))
    assert by_host["https://a.b.site4.org/x"] == [
        "a.b.site4.org", "b.site4.org", "site4.org"]
    assert by_host["http://localhost/p"] == []


def test_c4_filters_full_semantics_and_plan(spark):
    """The two gates the log-like driver fixture can't exercise — terminal
    punctuation and the curly-brace page drop — plus badword, lorem-ipsum,
    keyword-line, and min-lines behavior on crafted prose. The whole pass
    is one narrow projection: zero Exchange."""
    from logport_spark.operators.curation import c4_filters

    good = ("This is a perfectly fine sentence here.\n"
            "Short line\n"                              # < 5 words -> dropped
            "Enable JavaScript to view comments now.\n"  # keyword -> dropped
            "Another good long sentence follows right here!\n"
            "is this a terminal quote line \"\n"
            "no terminal punctuation on this line at all")  # -> dropped
    docs = spark.createDataFrame(
        [("a", good),
         ("b", good + "\nbuy v1agra cheap now okay today."),  # badword
         ("c", good.replace("fine", "lorem ipsum")),          # marker
         ("d", good + "\nvar x = {1: 2} is code in here."),   # curly
         ("e", "One good long sentence stands alone here.\nTwo good long"
               " sentences stand together here.")],           # < 3 kept
        "url string, text string")
    out = c4_filters(docs, badwords=("v1agra",))
    rows = {r.url: r for r in out.collect()}
    assert set(rows) == {"a"}
    a = rows["a"]
    assert a.n_lines == 6 and a.n_kept == 3
    assert a.text == (
        "This is a perfectly fine sentence here.\n"
        "Another good long sentence follows right here!\n"
        "is this a terminal quote line \"")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_dsir_weights_direction_invariance_and_plan(spark):
    """Docs sharing the target's distinctive vocabulary must outscore docs
    that don't (the paper's selection property); weights are partition-count
    invariant; the gram->logratio join BROADCASTS (the B-bucket table never
    drives a shuffle of the corpus)."""
    from logport_spark.operators.curation import dsir_weights

    docs = spark.createDataFrame(
        [(0, "quantum physics is about quantum entanglement states"),
         (1, "football match report goal keeper save"),
         (2, "physics of quantum systems entanglement here"),
         (3, "stock market prices fell sharply today")],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "quantum physics papers discuss quantum entanglement"),
         (101, "entanglement of quantum states in physics experiments"),
         (102, "physics of quantum information and entanglement theory")],
        "doc_id long, text string")
    out = dsir_weights(docs, target, n_buckets=256)
    w = {r.doc_id: r.logw for r in out.collect()}
    # independently simulated (md5-bucket + Laplace math in pure Python):
    # {0: -2.5853, 1: -6.5987, 2: -1.3004, 3: -7.0041}
    assert w == {0: -2.5853, 1: -6.5987, 2: -1.3004, 3: -7.0041}
    assert min(w[0], w[2]) > max(w[1], w[3]) + 3.0

    w2 = {r.doc_id: r.logw
          for r in dsir_weights(docs.repartition(7), target,
                                n_buckets=256).collect()}
    assert w2 == w

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_bm25_ranks_full_match_first_and_prunes_nonmatches(spark):
    """The doc containing every query term (twice) outranks a one-term doc;
    docs sharing no term never appear; ranks are 1..n_candidates."""
    from logport_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "spark join query spark join query filler words here"),
         (2, "join is the only shared token in this document"),
         (3, "completely unrelated text about nothing at all"),
         (4, "spark appears once among many other unrelated words")],
        "doc_id long, text string")
    got = bm25_topk(docs, [(7, "spark join query")], k=10).collect()
    by_rank = {r["rnk"]: r["doc_id"] for r in got}
    assert by_rank[1] == 1                      # full match wins
    assert 3 not in {r["doc_id"] for r in got}  # no shared term -> absent
    assert {r["query_id"] for r in got} == {7}
    assert sorted(r["rnk"] for r in got) == list(range(1, len(got) + 1))
    assert all(r["score"] > 0 for r in got)     # Lucene idf is positive


def test_bm25_respects_k_and_multi_query(spark):
    from logport_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"alpha beta common{i % 3}") for i in range(20)],
        "doc_id long, text string")
    got = bm25_topk(docs, [(1, "alpha"), (2, "beta")], k=5).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {1, 2} and all(len(v) == 5 for v in per_q.values())


def test_domain_kl_zero_iff_matching_distribution(spark):
    """Two domains with identical unigram distributions and equal share of
    the corpus-defining mass score near 0; a divergent domain scores
    strictly higher; n_tokens/n_types are exact."""
    from logport_spark.operators.textstats import domain_kl

    docs = spark.createDataFrame(
        [(1, "a", "x y x y"), (2, "a", "x y"),
         (3, "b", "x y x y x y"),
         (4, "c", "z z z z z z")],
        "doc_id long, source string, text string")
    got = {r["domain"]: r for r in domain_kl(docs).collect()}
    # a and b are both 50/50 x/y; corpus is x:6 y:6 z:6 -> KL(a||c) equals
    # KL(b||c) and both are positive (corpus has z-mass they lack)
    assert got["a"]["kl_bits"] == got["b"]["kl_bits"] > 0
    assert got["c"]["kl_bits"] > got["a"]["kl_bits"]  # pure-z diverges more
    assert got["a"]["n_tokens"] == 6 and got["a"]["n_types"] == 2
    assert got["c"]["n_tokens"] == 6 and got["c"]["n_types"] == 1


def test_normalize_text_nfc_lower_whitespace(spark):
    """Composed and decomposed forms of the same word canonicalize to the
    same bytes; ASCII-clean rows are unchanged (and skip the UDF via the
    NULL mask); whitespace collapses; changed flags are accurate."""
    from logport_spark.operators.curation import normalize_text

    composed = "Café au lait"          # é precomposed
    decomposed = "Café au lait"       # e + combining acute
    docs = spark.createDataFrame(
        [(1, composed), (2, decomposed),
         (3, "already clean ascii"), (4, "  Spaced   OUT  "), (5, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    assert got[1]["norm_text"] == got[2]["norm_text"] == "café au lait"
    assert got[1]["changed"] and got[2]["changed"]
    assert got[3]["norm_text"] == "already clean ascii" and not got[3]["changed"]
    assert got[4]["norm_text"] == "spaced out" and got[4]["changed"]
    assert got[5]["norm_text"] is None


def test_chunk_documents_coverage_overlap_and_edges(spark):
    """Every token lands in >= 1 chunk; consecutive chunks overlap by
    window - stride; short docs yield one full-copy chunk; empty docs
    yield none."""
    from logport_spark.operators.sampling import chunk_documents

    ten = " ".join(f"t{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, ten), (2, "only three tokens"), (3, ""), (4, "   ")],
        "doc_id long, text string")
    got = chunk_documents(docs, window=4, stride=3).collect()
    one = sorted((r for r in got if r["doc_id"] == 1),
                 key=lambda r: r["chunk_id"])
    assert [r["chunk_start"] for r in one] == [0, 3, 6, 9]
    assert [r["n_toks"] for r in one] == [4, 4, 4, 1]
    assert one[0]["chunk_text"] == "t0 t1 t2 t3"
    assert one[-1]["chunk_text"] == "t9"
    # stride-slice reassembly reproduces the doc exactly
    rebuilt = " ".join(" ".join(r["chunk_text"].split(" ")[:3]) for r in one)
    assert rebuilt.strip() == ten
    two = [r for r in got if r["doc_id"] == 2]
    assert len(two) == 1 and two[0]["chunk_text"] == "only three tokens"
    assert not [r for r in got if r["doc_id"] in (3, 4)]  # empty -> no rows


def test_bm25_precomputed_stats_matches_inline(spark):
    """corpus_stats=(N, avgdl) skips the stats scan without changing any
    score or rank."""
    from logport_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(i, f"alpha beta common{i % 3} tail{i % 5}") for i in range(30)],
        "doc_id long, text string")
    q = [(1, "alpha common1")]
    inline = {(r["query_id"], r["doc_id"]): (r["rnk"], r["score"])
              for r in bm25_topk(docs, q, k=8).collect()}
    pre = {(r["query_id"], r["doc_id"]): (r["rnk"], r["score"])
           for r in bm25_topk(docs, q, k=8,
                              corpus_stats=(30, 4.0)).collect()}
    assert inline == pre and len(inline) == 8


def test_select_token_budget_prefix_semantics(spark):
    """Verdicts equal the naive sort-and-prefix rule across budgets,
    including exact fit, mid-score boundary with id tie-break, zero
    budget, and budget >= total."""
    from logport_spark.operators.sampling import select_token_budget

    rows = [(1, 9.0, 10), (2, 8.0, 10), (3, 8.0, 10), (4, 8.0, 10),
            (5, 7.0, 10), (6, 6.0, 100)]
    docs = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")

    def naive(budget):
        run, keep = 0, set()
        for did, _, nt in sorted(rows, key=lambda r: (-r[1], r[0])):
            if run + nt <= budget:
                keep.add(did)
            run += nt
        return keep

    for budget in (0, 5, 10, 25, 30, 40, 45, 50, 150, 1000):
        got = {r["doc_id"] for r in
               select_token_budget(docs, budget).collect() if r["selected"]}
        assert got == naive(budget), f"budget={budget}"
    assert select_token_budget(docs, 25).count() == len(rows)  # full audit


def test_select_token_budget_plan_has_one_corpus_shuffle(spark):
    """The only corpus-keyed exchange is the score histogram; the verdict
    join is broadcast; no global (range) sort of the docs."""
    from logport_spark.operators.sampling import select_token_budget

    docs = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .selectExpr("doc_id", "CAST(n_chars AS DOUBLE) AS score",
                        "n_chars AS n_tokens"))
    plan = select_token_budget(docs, 10_000)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_domain_terms_surfaces_overused_token(spark):
    """The token a domain over-uses tops its list with z > 0; shared
    background tokens never outrank it; ranks are 1..k."""
    from logport_spark.operators.textstats import domain_terms

    docs = spark.createDataFrame(
        [(1, "a", "zzz zzz zzz common words here"),
         (2, "a", "zzz zzz common words again here"),
         (3, "b", "common words here again and again"),
         (4, "b", "more common words here yet again")],
        "doc_id long, source string, text string")
    got = domain_terms(docs, k=3).collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r["domain"], []).append(r)
    a = sorted(by_dom["a"], key=lambda r: r["rank"])
    assert a[0]["tok"] == "zzz" and a[0]["z"] > 0
    assert [r["rank"] for r in a] == [1, 2, 3]
    # b's top term must not be zzz (it never uses it)
    assert sorted(by_dom["b"], key=lambda r: r["rank"])[0]["tok"] != "zzz"


def test_html_policy_signals(spark):
    """robots noindex, canonical self/other, CC-license detection; invalid
    UTF-8 pages yield NULL signals and keep=false (can't prove indexable)."""
    from logport_spark.operators.parse import html_policy

    def page(head: bytes) -> bytes:
        return (b"<!DOCTYPE html><html><head><title>t</title>" + head
                + b"</head><body><pre>hello world</pre></body></html>")

    rows = [
        ("u1", bytearray(page(b'<meta name="robots" content="noindex,nofollow">'))),
        ("u2", bytearray(page(b'<meta name="robots" content="index,follow">'))),
        ("u3", bytearray(page(b'<link rel="canonical" href="u3">'))),
        ("u4", bytearray(page(b'<link rel="canonical" href="https://other/x">'))),
        ("u5", bytearray(page(
            b'<link rel="license" href="https://creativecommons.org/licenses/by/4.0/">'))),
        ("u6", bytearray(page(b'<link rel="license" href="https://example.com/tos">'))),
        ("u7", bytearray(page(b"") + b"\xff\xfe")),  # invalid utf-8
        ("u8", bytearray(page(b""))),                # no markers at all
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.url: r for r in html_policy(df).collect()}

    assert got["u1"].noindex and not got["u1"].keep
    assert got["u2"].robots == "index,follow" and got["u2"].keep
    assert got["u3"].is_canonical_self and got["u3"].canonical_href == "u3"
    assert not got["u4"].is_canonical_self
    assert got["u5"].cc_licensed
    assert not got["u6"].cc_licensed and got["u6"].license_href == "https://example.com/tos"
    assert not got["u7"].utf8_valid and got["u7"].robots is None \
        and got["u7"].noindex is None and not got["u7"].keep
    assert got["u8"].keep and got["u8"].robots == "" \
        and got["u8"].is_canonical_self and not got["u8"].cc_licensed


def test_sample_fixed_per_stratum_counts_and_stability(spark, docs):
    """Exactly min(k, |stratum|) rows per stratum; identical under
    repartitioning; rk<=m is itself the m-sample (stable prefix); matches
    the single-window ranking it replaces."""
    from pyspark.sql import Window

    from logport_spark.operators.sampling import sample_fixed_per_stratum

    k = 30
    got = sample_fixed_per_stratum(docs, k=k).collect()
    sizes = {r.lang: c for r, c in
             [(r, r["count"]) for r in docs.groupBy("lang").count().collect()]}
    per = {}
    for r in got:
        per.setdefault(r.lang, []).append(r)
    for lang, n in sizes.items():
        assert len(per[lang]) == min(k, n), lang
        assert sorted(r.rk for r in per[lang]) == list(range(1, min(k, n) + 1))

    # partition invariance (the df.sample() failure mode)
    again = sample_fixed_per_stratum(docs.repartition(13), k=k).collect()
    assert {(r.doc_id, r.lang, r.rk) for r in again} == \
        {(r.doc_id, r.lang, r.rk) for r in got}

    # two-phase result == the naive single-window ranking
    h = F.md5(F.concat(F.lit("evalk42"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    naive = (docs.select("doc_id", "lang", h.alias("_h"))
             .withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= k).collect())
    assert {(r.doc_id, r.lang, r.rk) for r in naive} == \
        {(r.doc_id, r.lang, r.rk) for r in got}

    # stable prefix: the m-sample is exactly rk <= m of the k-sample
    m = 7
    small = sample_fixed_per_stratum(docs, k=m).collect()
    assert {(r.doc_id, r.lang, r.rk) for r in small} == \
        {(r.doc_id, r.lang, r.rk) for r in got if r.rk <= m}


def test_export_manifest_checksum_properties(spark, docs):
    """Manifest is partition-invariant; totals cover the corpus exactly;
    the checksum flips when any single doc's text changes (and nothing
    else in the row does)."""
    from logport_spark.operators.sampling import export_manifest

    base = {r.shard: r for r in export_manifest(docs, n_shards=8).collect()}
    again = {r.shard: r for r in
             export_manifest(docs.repartition(11), n_shards=8).collect()}
    assert base.keys() == again.keys()
    for s in base:
        assert base[s] == again[s]
    assert sum(r.n_docs for r in base.values()) == docs.count()
    assert sum(r.n_chars for r in base.values()) == \
        docs.select(F.sum(F.length("text"))).first()[0]

    one = docs.limit(1).select("doc_id").first().doc_id
    mutated = docs.withColumn(
        "text", F.when(F.col("doc_id") == one,
                       F.concat(F.col("text"), F.lit(" tampered")))
                 .otherwise(F.col("text")))
    mut = {r.shard: r for r in export_manifest(mutated, n_shards=8).collect()}
    diff = [s for s in base if base[s].checksum != mut[s].checksum]
    assert len(diff) == 1  # exactly the tampered doc's shard moved
    assert base[diff[0]].n_docs == mut[diff[0]].n_docs  # counts unchanged


def test_vocab_coverage_hand_computed(spark):
    """OOV accounting against an explicit vocab: counts are per-occurrence,
    the flag per-token; plan keeps the vocab join a broadcast."""
    from logport_spark.operators.textstats import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a b zzz"), (2, "a b"), (3, "zzz yyy")],
        "doc_id long, text string")
    vocab = spark.createDataFrame([("a",), ("b",)], "tok string")
    out = vocab_coverage(docs, vocab)
    got = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_frac) for r in out.collect()}
    assert got[1] == (4, 1, 0.25)
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (2, 2, 1.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_containment_pairs_catch_doc_in_doc(spark):
    """A short doc quoted verbatim inside a long one: containment ~1.0
    while symmetric Jaccard stays far below any near-dup threshold (the
    pair MinHash can never mine); unrelated docs yield no pair; n_fp
    matches winnow's count."""
    from logport_spark.operators.dedup import (
        containment_pairs, ngram_jaccard_pairs,
    )
    from logport_spark.operators.textstats import winnow, winnow_fingerprints

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i} z{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, quote),
         (2, filler + " " + quote + " " + filler.replace("w", "v")),
         (3, "totally different words entirely here and more of them")],
        "doc_id long, text string")

    got = {(r.d1, r.d2): r for r in containment_pairs(docs, threshold=0.5).collect()}
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.containment >= 0.8  # the quote's fingerprints all recur in 2
    assert r.n1 < r.n2
    # symmetric Jaccard misses the same pair even at a lax 0.5 threshold
    jac = {(p.d1, p.d2) for p in ngram_jaccard_pairs(docs, 3, 0.5).collect()}
    assert (1, 2) not in jac

    nfp_w = {r.doc_id: r.n_fp for r in winnow(docs, text_col="text").select("doc_id", "n_fp").collect()}
    nfp_e = {r.doc_id: r.n_fp for r in
             winnow_fingerprints(docs).groupBy("doc_id", "n_fp").count().collect()}
    assert nfp_w == nfp_e


def test_epoch_upsample_fractional_mixture(spark):
    """Fractional epochs: weight 2.25 gives every doc 2 copies and a
    deterministic ~25% of docs 3; weight 0 erases the stratum; the extra
    slice is the SAME doc set on any partitioning (the module's md5
    reproducibility contract), and the plan is a narrow map — zero
    Exchange."""
    from pyspark.sql import functions as F

    from logport_spark.operators.sampling import epoch_upsample, sample_bucket

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "keep").otherwise("drop").alias("lang"))
    out = epoch_upsample(docs, {"keep": 2.25, "drop": 0.0},
                         default_weight=0.0).cache()

    assert out.where(F.col("lang") == "drop").count() == 0
    per_doc = {r["doc_id"]: r["n"] for r in
               out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_doc.values()) <= {2, 3}
    n3 = sum(1 for v in per_doc.values() if v == 3)
    # exact membership: bucket < 2500 (integer threshold, not approximate)
    expected3 = docs.where((F.col("lang") == "keep")
                           & (sample_bucket(salt="epoch42") < 2500)).count()
    assert n3 == expected3 and 0 < n3 < 500
    # epoch ordinals are 1..n per doc
    mx = out.groupBy("doc_id").agg(F.max("epoch").alias("m"),
                                   F.count("*").alias("n"))
    assert mx.where(F.col("m") != F.col("n")).count() == 0

    again = epoch_upsample(docs.repartition(7), {"keep": 2.25, "drop": 0.0},
                           default_weight=0.0)
    assert {(r["doc_id"], r["epoch"]) for r in again.collect()} \
        == {(r["doc_id"], r["epoch"]) for r in out.collect()}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_filter_funnel_accounting(spark, docs):
    """Funnel identities on the shared fixture: stage order pinned,
    Σn_failed + final n_surviving = corpus size, n_surviving is the
    exact running remainder, and the kept count equals corpus_clean_v2's
    output row count (the funnel and the filter can never disagree about
    what survived)."""
    import __spark_entry__ as em

    sf_dir = "/root/testdata/sf0.001"
    rows = sorted(em._filter_funnel(spark, sf_dir).collect(),
                  key=lambda r: r["stage"])
    assert [r["gate"] for r in rows] == [
        "exact_dup", "quality", "lang", "pii",
        "dup_2gram", "top_token", "near_dup"]
    total = em._docs(spark, sf_dir).count()
    running = total
    for r in rows:
        running -= r["n_failed"]
        assert r["n_surviving"] == running, r
    kept = em._corpus_clean_v2(spark, sf_dir).count()
    assert rows[-1]["n_surviving"] == kept
    assert sum(r["n_failed"] for r in rows) == total - kept


def test_inverted_index_postings_and_pruning(spark):
    """Hand-computed df/cf on crafted docs, checksum invariance under
    repartitioning (the commutative-sum contract), checksum sensitivity
    to a posting change (tf edit flips it), and the min_df/max_df
    pruning dials."""
    from pyspark.sql import functions as F

    from logport_spark.operators.retrieval import inverted_index

    docs = spark.createDataFrame(
        [(0, "apple banana apple"),
         (1, "banana cherry"),
         (2, "apple date date date")],
        "doc_id long, text string")
    idx = {r["tok"]: r for r in inverted_index(docs).collect()}
    assert idx["apple"]["df"] == 2 and idx["apple"]["cf"] == 3
    assert idx["banana"]["df"] == 2 and idx["banana"]["cf"] == 2
    assert idx["cherry"]["df"] == 1 and idx["cherry"]["cf"] == 1
    assert idx["date"]["df"] == 1 and idx["date"]["cf"] == 3

    again = {r["tok"]: r["checksum"] for r in
             inverted_index(docs.repartition(5)).collect()}
    assert again == {t: r["checksum"] for t, r in idx.items()}

    # a tf change (one extra 'apple' in doc 0) must flip apple's checksum
    # and leave banana's identical
    docs2 = spark.createDataFrame(
        [(0, "apple banana apple apple"),
         (1, "banana cherry"),
         (2, "apple date date date")],
        "doc_id long, text string")
    idx2 = {r["tok"]: r for r in inverted_index(docs2).collect()}
    assert idx2["apple"]["checksum"] != idx["apple"]["checksum"]
    assert idx2["banana"]["checksum"] == idx["banana"]["checksum"]

    pruned = {r["tok"] for r in
              inverted_index(docs, min_df=2).collect()}
    assert pruned == {"apple", "banana"}
    capped = {r["tok"] for r in
              inverted_index(docs, max_df=1).collect()}
    assert capped == {"cherry", "date"}


def test_gopher_signals_rules_on_crafted_rows(spark):
    """Each remaining Table-A1 rule trips on a doc built to violate
    exactly it, and a clean doc passes all of them."""
    from logport_spark.operators.textstats import gopher_signals

    clean = ("the quick brown fox jumps over the lazy dog and then "
             "runs far away home tonight")  # 15 words, all alpha
    rows = [
        (0, clean),
        (1, "short doc"),                                   # word count
        (2, " ".join(["a"] * 20)),                          # mean len < 3
        (3, " ".join(["####waffle"] * 20)),                 # symbol ratio
        (4, "\n".join(["- bullet line item here"] * 5)),    # bullets
        (5, "\n".join(["trailing line thing..."] * 5)),     # ellipsis
        (6, " ".join(["123456"] * 20)),                     # alpha frac
    ]
    out = {r["doc_id"]: r for r in gopher_signals(
        spark.createDataFrame(rows, "doc_id long, text string"),
        min_words=10).collect()}

    assert out[0]["gopher_pass"]
    assert not out[1]["gopher_pass"] and out[1]["n_words"] == 2
    assert not out[2]["gopher_pass"] and out[2]["mean_word_len"] == 1.0
    assert not out[3]["gopher_pass"] and out[3]["symbol_ratio"] == 4.0
    assert not out[4]["gopher_pass"] and out[4]["bullet_line_frac"] == 1.0
    assert not out[5]["gopher_pass"] and out[5]["ellipsis_line_frac"] == 1.0
    assert not out[6]["gopher_pass"] and out[6]["alpha_word_frac"] == 0.0

    plan = gopher_signals(
        spark.createDataFrame(rows, "doc_id long, text string"))._jdf \
        .queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_bloom_m_words_sizing():
    """Fixed-k sizing formula: the returned bitmap hits the target FP
    rate (recompute p from m), is a power-of-two word count, and scales
    linearly in n."""
    import math

    from logport_spark.operators.dedup import bloom_m_words

    for n, p in ((10_000, 0.01), (1_000_000, 0.02), (123, 0.1),
                 (864, 0.01)):  # 864: needs 512.53 words — must round UP
        m_words = bloom_m_words(n, p, k=2)
        assert m_words & (m_words - 1) == 0  # power of two
        m_bits = m_words * 32
        achieved = (1 - math.exp(-2 * n / m_bits)) ** 2
        # rounding is UP, so the target is met exactly, never exceeded
        assert achieved <= p, (n, p, achieved)
    assert bloom_m_words(0) == 512
    # linear in n (the docstring claim): pow2 rounding keeps the ratio
    # within [64, 256] around the ideal 100x
    assert 64 <= bloom_m_words(1_000_000, 0.01) / bloom_m_words(10_000, 0.01) <= 256
    # ~19 bits/item at 1% / k=2 (docstring claim)
    m = bloom_m_words(100_000, 0.01)
    assert 16 <= m * 32 / 100_000 <= 40  # pow2 rounding can double it
    # guard rails: k outside the bloom_build contract, unrepresentable fp
    import pytest
    with pytest.raises(ValueError):
        bloom_m_words(100, 0.01, k=0)
    with pytest.raises(ValueError):
        bloom_m_words(100, 0.01, k=5)
    with pytest.raises(ValueError):
        bloom_m_words(100, 1e-300, k=2)


def test_weighted_sample_deterministic_and_biased(spark):
    """A-ES: exact k, partition-layout independence, bit-equality with a
    Python re-derivation, top-k plan (no global sort), and the
    statistical point of the operator — heavy weights sample more."""
    import hashlib
    import math

    from logport_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 + i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, k=50, weight_col="w").collect()
    assert len(out) == 50

    # partition-independence: same sample from a different layout
    out2 = weighted_sample(df.repartition(13), k=50, weight_col="w").collect()
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in out2}

    # bit-equality with the definition, including the tiebreak order
    def es_key(i, w):
        v = int(hashlib.md5(f"ws42{i}".encode()).hexdigest()[:8], 16)
        return round(math.log((v + 0.5) / 4294967296.0) / w, 8)

    expect = sorted(rows, key=lambda r: (-es_key(*r), r[0]))[:50]
    got = sorted(out, key=lambda r: (-r["es_key"], r["doc_id"]))
    assert [(r["doc_id"], r["w"]) for r in got] == expect
    assert all(abs(r["es_key"] - es_key(r["doc_id"], r["w"])) < 1e-12
               for r in out)

    # plan: TakeOrderedAndProject (per-partition top-k), never a sort
    plan = weighted_sample(df, k=50, weight_col="w") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    # bias: weight-7 rows (ids ≡ 6 mod 7) outnumber weight-1 rows in the
    # sample by far more than their population share
    heavy = sum(1 for r in out if r["w"] == 7.0)
    light = sum(1 for r in out if r["w"] == 1.0)
    assert heavy > 2 * max(light, 1)

    # weight <= 0 is never sampled
    df0 = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 1.0)], "doc_id long, w double")
    assert [r["doc_id"] for r in
            weighted_sample(df0, k=3, weight_col="w").collect()] == [3]


def test_lang_segments_rollup_and_ties(spark):
    """Per-line argmax matches lang_id's contract; dominant tiebreak is
    (count DESC, lang ASC); empty lines drop; marker-free lines are und;
    mixed flags below the 0.8 default."""
    from logport_spark.operators.textstats import lang_segments

    docs = spark.createDataFrame(
        [
            # 3 en lines + 1 de line -> en 0.75, mixed
            (1, "the cat and dog\nthe end of it\na tale of two\nder hund und katze nicht"),
            # monolingual + an empty line that must not count
            (2, "the quick and brown\n\nthe lazy dog of york"),
            # tie: one en line, one de line -> 'de' wins (lang ASC)
            (3, "the cat and dog sat\nder hund und das nicht"),
            # no markers anywhere -> und
            (4, "zzz qqq\nxxx yyy"),
        ],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in lang_segments(docs).collect()}
    assert (got[1]["dominant_lang"], got[1]["n_lines"], got[1]["n_langs"],
            got[1]["mixed"]) == ("en", 4, 2, True)
    assert got[1]["dominant_frac"] == 0.75
    assert (got[2]["dominant_lang"], got[2]["n_lines"],
            got[2]["mixed"]) == ("en", 2, False)
    assert got[2]["dominant_frac"] == 1.0
    assert got[3]["dominant_lang"] == "de" and got[3]["mixed"]
    assert (got[4]["dominant_lang"], got[4]["n_langs"]) == ("und", 1)


def test_pq_codes_and_adc_recall(spark, emb):
    """PQ: codebook vectors encode to their own code word (distance 0 per
    subspace); ADC top-k recall vs brute force clears the documented bar
    at rerank=50; the exact-cosine rerank agrees with the brute kernel;
    the candidate path is layout-independent."""
    from logport_spark.operators.similarity import (
        cosine_topk, pq_codebooks, pq_encode, pq_topk,
    )

    cbs = pq_codebooks(emb)
    assert len(cbs) == 8 and len(cbs[0]) == 16 and len(cbs[0][0]) == 8
    codes = {r["_id"]: list(r["codes"])
             for r in pq_encode(emb, cbs).filter(F.col("_id") < 16).collect()}
    for i, c in codes.items():
        assert c == [i + 1] * 8, f"vector {i} must encode to its own code"

    qids = [0, 1, 2, 3, 4]
    bf = cosine_topk(emb, qids, k=10).collect()
    pq = pq_topk(emb, qids, k=10, rerank=50).collect()
    bf_set = {(r.query_id, r.neighbor_id) for r in bf}
    pq_set = {(r.query_id, r.neighbor_id) for r in pq}
    recall = len(bf_set & pq_set) / len(bf_set)
    assert recall >= 0.5, f"PQ recall@10 = {recall}"
    bf_cos = {(r.query_id, r.neighbor_id): r.cos for r in bf}
    for r in pq:
        if (r.query_id, r.neighbor_id) in bf_cos:
            assert r.cos == bf_cos[(r.query_id, r.neighbor_id)]

    pq2 = pq_topk(emb.repartition(17), qids, k=10, rerank=50).collect()
    assert {(r.query_id, r.neighbor_id, r.cos, r.rank) for r in pq2} == \
        {(r.query_id, r.neighbor_id, r.cos, r.rank) for r in pq}


def test_pq_kmeans_codebooks_beat_standin(spark, emb):
    """Trained per-subspace codebooks (the production swap, same literal
    interface) must cut quantization DISTORTION vs the 16-lowest-id
    stand-in — the objective k-means actually minimizes (lower
    reconstruction error => ADC distances closer to true distances).
    Candidate recall stays above the documented bar; on this tiny
    fixture recall itself can go either way (ADC is L2-based while the
    rerank is cosine), so distortion is the pinned claim."""
    import numpy as np

    from logport_spark.operators.similarity import (
        cosine_topk, pq_codebooks, pq_codebooks_kmeans, pq_topk,
    )

    def distortion(vecs, cbs):
        m, dsub = len(cbs), len(cbs[0][0])
        total = 0.0
        for s in range(m):
            sub = vecs[:, s * dsub:(s + 1) * dsub]
            cb = np.asarray(cbs[s])  # (ksub, dsub)
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            total += d.min(axis=1).sum()
        return total

    vecs = np.stack([np.asarray(r[0], dtype=np.float64) for r in
                     emb.select("embedding").orderBy("vec_id").collect()])
    standin_cbs = pq_codebooks(emb)
    trained_cbs = pq_codebooks_kmeans(emb)
    assert distortion(vecs, trained_cbs) < distortion(vecs, standin_cbs)

    qids = [0, 1, 2, 3, 4]
    bf_set = {(r.query_id, r.neighbor_id)
              for r in cosine_topk(emb, qids, k=10).collect()}
    trained = {(r.query_id, r.neighbor_id)
               for r in pq_topk(emb, qids, k=10, rerank=50,
                                codebooks=trained_cbs).collect()}
    assert len(bf_set & trained) / len(bf_set) >= 0.5


def test_ivfpq_beats_raw_pq_recall(spark, emb):
    """The IVF∘PQ composition: residuals are small and centered, so the
    same 32-bit budget quantizes them better than raw vectors — recall
    must beat raw PQ at identical (m, ksub, rerank); candidates are
    layout-independent."""
    from logport_spark.operators.similarity import (
        cosine_topk, ivfpq_topk, pq_topk,
    )

    qids = [0, 1, 2, 3, 4]
    bf = {(r.query_id, r.neighbor_id)
          for r in cosine_topk(emb, qids, k=10).collect()}
    raw = {(r.query_id, r.neighbor_id)
           for r in pq_topk(emb, qids, k=10, rerank=50).collect()}
    ivf = ivfpq_topk(emb, qids, k=10, rerank=50).collect()
    ivf_set = {(r.query_id, r.neighbor_id) for r in ivf}
    r_raw = len(bf & raw) / len(bf)
    r_ivf = len(bf & ivf_set) / len(bf)
    assert r_ivf > r_raw, (r_ivf, r_raw)
    assert r_ivf >= 0.7
    again = {(r.query_id, r.neighbor_id, r.cos, r.rank)
             for r in ivfpq_topk(emb.repartition(19), qids,
                                 k=10, rerank=50).collect()}
    assert again == {(r.query_id, r.neighbor_id, r.cos, r.rank)
                     for r in ivf}


def test_connected_components_resume_and_done_marker(spark, tmp_path):
    """plans/iterstate.py on the fixpoint operator: a 1-round 'preempted'
    run leaves committed state; the resumed run continues to the fixpoint
    and equals the uninterrupted result exactly; the _DONE marker makes a
    third invocation return without running any propagation round (no new
    round dirs appear); input drift raises."""
    import os

    import pytest as _pytest

    from logport_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (10, 11)],
        "d1 long, d2 long")
    nodes = spark.range(1, 15).select(F.col("id").alias("doc_id"))
    fresh = sorted(map(tuple, connected_components(pairs, nodes).collect()))

    sd = str(tmp_path / "cc_state")
    with _pytest.raises(RuntimeError, match="continues, not restarts"):
        connected_components(pairs, nodes, max_iter=1, state_dir=sd)
    assert os.path.isdir(os.path.join(sd, "round=1"))

    resumed = sorted(map(tuple, connected_components(
        pairs, nodes, max_iter=15, state_dir=sd).collect()))
    assert resumed == fresh
    assert os.path.exists(os.path.join(sd, "_DONE"))

    rounds_before = {d for d in os.listdir(sd) if d.startswith("round=")}
    again = sorted(map(tuple, connected_components(
        pairs, nodes, max_iter=15, state_dir=sd).collect()))
    assert again == fresh
    rounds_after = {d for d in os.listdir(sd) if d.startswith("round=")}
    assert rounds_after == rounds_before  # _DONE short-circuited the loop

    drifted = pairs.filter(F.col("d1") != 3)
    with _pytest.raises(ValueError, match="different run"):
        connected_components(drifted, nodes, state_dir=sd)


def test_domain_reweight_softmax_semantics(spark):
    """DoReMi-style reweighting (sampling.domain_reweight): matches a pure
    Python softmax on the same 4dp inputs, weights sum to 1 (within the
    6dp rounding), are monotone in excess loss, and never fall below the
    ε-uniform floor; epoch budgets are the floor of weight·Σtokens."""
    import math

    from logport_spark.operators.sampling import domain_reweight

    rows = [("a", 1000, 0.1), ("b", 3000, 1.5), ("c", 500, 0.0),
            ("d", 2000, 0.7)]
    df = spark.createDataFrame(
        rows, "domain string, n_tokens long, kl_bits double")
    got = {r.domain: r for r in
           domain_reweight(df, eta=1.0, eps=0.2).collect()}
    s = sum(math.exp(x) for _, _, x in rows)
    n = sum(t for _, t, _ in rows)
    for d, t, x in rows:
        want = round(0.8 * math.exp(x) / s + 0.2 / 4, 6)
        assert got[d].weight == want, d
        assert got[d].epoch_tokens == math.floor(want * n)
        assert got[d].weight >= 0.2 / 4 - 1e-9
    assert abs(sum(r.weight for r in got.values()) - 1.0) < 5e-6
    order = sorted(rows, key=lambda r: r[2])
    ws = [got[d].weight for d, _, _ in order]
    assert ws == sorted(ws)
    assert domain_reweight(df.limit(0)).count() == 0


def test_unigram_train_learns_motif_and_encode_roundtrips(spark):
    """Unigram-LM tokenizer (textstats.unigram_train/unigram_encode): a
    repeated motif earns a multi-char piece, every corpus char stays in
    the vocab (coverage), and Viterbi encoding round-trips — concatenating
    a word's pieces reproduces the word, positions are dense per doc."""
    from logport_spark.operators.textstats import (unigram_encode,
                                                   unigram_train)

    docs = spark.createDataFrame(
        [(0, "abab abab abab cd"), (1, "abab cd cd xyz")],
        "doc_id long, text string")
    pieces = unigram_train(docs, vocab_size=10, seed_size=64,
                           max_piece_len=4, em_rounds=2)
    vocab = {r.piece: r.logp for r in pieces.collect()}
    assert any(len(p) > 1 and "ab" in p for p in vocab)   # motif learned
    assert set("abcdxyz") <= set(vocab)                   # coverage
    assert all(lp < 0 for lp in vocab.values())

    enc = unigram_encode(docs, pieces).collect()
    by_doc: dict[int, list] = {}
    for r in enc:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.piece))
    for did, text in [(0, "abab abab abab cd"), (1, "abab cd cd xyz")]:
        seq = [p for _, p in sorted(by_doc[did])]
        assert "".join(seq) == text.replace(" ", "")
        assert [pos for pos, _ in sorted(by_doc[did])] == \
            list(range(len(seq)))
    # the motif piece is actually USED by the encoder
    assert any(len(p) > 1 for _, p in sorted(by_doc[0]))
    # in-vocab encodings carry no OOV flag
    assert all(not r.oov for r in enc)

    # apply-corpus chars training never saw (r4 advice): the word splits
    # into CHARACTERS with unknown chars flagged oov — never a silent
    # whole-word pseudo-piece outside the piece table
    unseen = spark.createDataFrame([(9, "abab q?x cd")],
                                   "doc_id long, text string")
    enc2 = sorted(unigram_encode(unseen, pieces).collect(),
                  key=lambda r: r.pos)
    assert "".join(r.piece for r in enc2) == "ababq?xcd"
    mid = [r for r in enc2 if r.piece in ("q", "?", "x")]
    assert [r.piece for r in mid] == ["q", "?", "x"]
    assert [r.oov for r in mid] == [True, True, False]    # x IS in vocab
    assert all(len(r.piece) == 1 or not r.oov for r in enc2)
    assert all(r.piece in vocab for r in enc2 if not r.oov)
