"""Deduplication family for training-data pipelines.

Five strategies, each idiomatic Spark (DataFrame ops; zero Python in the hot
path except none at all — everything is JVM expressions):

- exact:        md5(text) hash-groupBy — one shuffle on the hash.
- n-gram Jaccard: exact all-pairs similarity via shingle-explode self-join.
  Correctness baseline; the self-join blows up on common shingles at scale,
  which is exactly what MinHash+LSH fixes.
- MinHash+LSH:  k=64 xxhash64 permutations → 16 bands × 4 rows → band-bucket
  self-join yields candidates → candidates verified with exact Jaccard.
  At 100 TB this is the scale path: the only shuffle is on (band, band_key),
  and verification touches candidate pairs only. One core (shingle_hashes,
  minhash_signatures_h64, lsh_bands, exact_jaccard) serves the batch pairs,
  the fuzzy contamination scan and the streaming dedup.
- SimHash:      60-bit signature from md5-per-token bit votes (md5 so the
  DuckDB oracle reproduces it bit-for-bit); near-dup pairs found by the
  4-band pigeonhole trick (hamming ≤ 3 ⇒ ≥1 of 4 15-bit bands equal) —
  banded join, never O(n²).
- embedding cosine: see similarity.py (shares the vector kernels).

The reference has no dedup at all (SURVEY.md §2.6); logport's at-least-once
delivery *creates* duplicates — these operators are the other half of that
story at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import shingles_expr, winnow_fingerprints

# ---------------------------------------------------------------- exact ----


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group identical texts (md5 key), keep min id."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------- shingles / Jaccard ----


def doc_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Distinct token n-gram shingles per doc. Tokens materialize as a
    column first so the shingle lambda reads an attribute — an inline
    split() would re-tokenize the doc once per window (quadratic in doc
    length; see shingles_expr)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split({text_col},' ')").alias("_toks"),
    ).select(
        "doc_id",
        F.explode(F.array_distinct(
            F.expr(shingles_expr(text_col, n, toks_col="_toks")))).alias("sh"),
    )


def jaccard_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold via shingle self-join.

    (d1, d2, jaccard) with d1 < d2. The groupBy on (d1, d2) is the shuffle;
    common shingles fan out the join — use minhash_lsh_pairs at scale."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    common = (shared_key_pairs(shingles, ["sh"]).groupBy("d1", "d2")
              .agg(F.count(F.lit(1)).alias("common")))
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    j = F.col("common") / (F.col("n1") + F.col("n2") - F.col("common"))
    return (
        common.join(s1, "d1").join(s2, "d2")
        .withColumn("jaccard", F.round(j, 4))
        .filter(j >= threshold)
        .select("d1", "d2", "jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8) -> DataFrame:
    return jaccard_pairs(doc_shingles(docs, n), threshold)


def containment_pairs(docs: DataFrame, threshold: float = 0.5,
                      k: int = 4, w: int = 5,
                      max_df: int | None = None,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs (Broder 1997's containment
    coefficient): |FP(a) ∩ FP(b)| / min(|FP(a)|, |FP(b)|) >= threshold over
    winnowing fingerprints. Catches what symmetric Jaccard structurally
    misses — a short doc quoted wholesale inside a long one (syndication,
    quote-wrapping, boilerplate-wrapped mirrors) has high containment but
    LOW Jaccard, so MinHash/SimHash never pair it.

    Plan shape: fingerprints are winnow's window minima (~1/w of the gram
    count per doc — the index is SUBLINEAR in corpus tokens), mined by one
    self-equi-join on `fp` + one pair-keyed count; sizes ride along from
    `size(_sel)` before the explode (no second corpus aggregate). `max_df`
    is the cap_buckets guardrail re-applied to fingerprints: a fingerprint
    in > max_df docs (site boilerplate) would mint df² candidate pairs in
    one join task, and its matches mean "shares boilerplate", not
    "contained" — drop them before the join (None = exact semantics, the
    oracle contract; production sets ~100).

    Output: (d1, d2, shared, n1, n2, containment) with d1 < d2 and
    containment rounded to 4."""
    fp = cap_buckets(winnow_fingerprints(docs, text_col=text_col,
                                         id_col=id_col, k=k, w=w),
                     ["fp"], max_df)
    return (
        shared_key_pairs(fp, ["fp"], id_col, carry=("n_fp",))
        .groupBy("d1", "d2", F.col("n_fp1").alias("n1"),
                 F.col("n_fp2").alias("n2"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .withColumn("containment",
                    F.round(F.col("shared") / F.least("n1", "n2"), 4))
        .filter(F.col("containment") >= threshold)
        .select("d1", "d2", "shared", "n1", "n2", "containment")
    )


# ---------------------------------------------------------- MinHash+LSH ----

# signature width and banding; the streaming dedup persists signatures and
# band keys of this shape (streaming/dedup_stream.py)
NUM_HASHES = 64
BANDS = 16


def shingle_hashes(docs: DataFrame, n: int = 3, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(doc_id, h64): each distinct shingle hashed to 8 bytes once, before
    anything shuffles — a third of the ~25-byte shingle string. Jaccard
    over distinct 64-bit shingle hashes equals Jaccard over shingle sets up
    to hash collisions (~n²/2^65 — immaterial beside MinHash's own
    probabilistic banding)."""
    return doc_shingles(docs, n, text_col, id_col).select(
        "doc_id", F.xxhash64(F.col("sh")).alias("h64"))


def minhash_signatures_h64(shingle_hashes: DataFrame,
                           num_hashes: int = NUM_HASHES) -> DataFrame:
    """k min-hashes per doc from pre-hashed shingles (doc_id, h64):
    sig_i = min over shingles of xxhash64(i, h64). Each shingle string is
    hashed once upstream, so the k permutations re-hash only an 8-byte
    long; one groupBy produces the whole signature."""
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h64"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = shingle_hashes.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def cap_buckets(banded: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """100 TB guardrail for any shared-key self-join (shared_key_pairs —
    LSH bands, cells, fingerprints, sparse dims, link sources): the one
    hot-key cap. Drop buckets holding more than `max_bucket` members
    before the self-join. A single pathological band key with b members
    yields b(b-1)/2 candidate pairs in one task —
    the classic web-dedup blow-up (boilerplate/empty shingles) — and
    production pipelines cap it (members of an over-full bucket are
    near-dups of half the corpus, not of each other). None = exact
    candidate semantics (the oracle contract). The bucket-size aggregate is
    partial map-side; the OVER-FULL set is usually tiny (outliers), but it
    is NOT bounded by a constant — a boilerplate-heavy corpus can push many
    band keys just over `max_bucket`. So the broadcast is not forced: AQE
    decides from the runtime size of `over` (broadcast when it fits under
    autoBroadcastJoinThreshold, shuffle anti-join otherwise), which keeps
    the guardrail itself from OOMing under exactly the skew it defends
    against. Never anti-join the keep-set (O(all buckets))."""
    if max_bucket is None:
        return banded
    over = (banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket).drop("_n"))
    return banded.join(over, keys, "left_anti")


def shared_key_pairs(rows: DataFrame, keys: list[str], id_col: str = "doc_id",
                     carry: tuple[str, ...] = ()) -> DataFrame:
    """The near-duplicate family's one self-join: one row per shared key
    and id pair, (*keys, d1, d2, <c>1, <c>2 for c in carry), with d1 < d2
    — the canonical pair order every pair miner reports. The id inequality
    rides the equi-join's condition, so each unordered pair is minted once
    per shared key. Callers cap hot keys first (cap_buckets) and own the
    tail: a distinct over the ids, a count, or a sum of carried products."""
    a, b = rows.alias("a"), rows.alias("b")
    on = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in keys:
        on &= F.col(f"a.{k}") == F.col(f"b.{k}")
    return a.join(b, on).select(
        *[F.col(f"a.{k}").alias(k) for k in keys],
        F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"),
        *[F.col(f"{side}.{c}").alias(f"{c}{i}")
          for c in carry for i, side in ((1, "a"), (2, "b"))])


def lsh_bands(sig: DataFrame, bands: int = BANDS,
              rows_per_band: int = NUM_HASHES // BANDS,
              max_bucket: int | None = None,
              id_col: str = "doc_id") -> DataFrame:
    """(id_col, band, key): one row per signature band, key =
    xxhash64(band, its rows_per_band min-hashes), over-full buckets capped
    (cap_buckets). The streaming dedup persists these rows as its band
    state, so the key expression is a state format: changing it orphans
    every existing state/bands directory."""
    keys = F.array(*[
        F.xxhash64(F.lit(b), *[F.col("sig")[b * rows_per_band + r]
                               for r in range(rows_per_band)])
        for b in range(bands)
    ])
    banded = sig.select(F.col("doc_id").alias(id_col),
                        F.posexplode(keys).alias("band", "key"))
    return cap_buckets(banded, ["band", "key"], max_bucket)


def lsh_candidates(sig: DataFrame, bands: int = BANDS,
                   rows_per_band: int = NUM_HASHES // BANDS,
                   max_bucket: int | None = None) -> DataFrame:
    """Band the signature, bucket-join docs sharing any band. (d1 < d2)."""
    banded = lsh_bands(sig, bands, rows_per_band, max_bucket)
    return shared_key_pairs(banded, ["band", "key"]).select("d1", "d2").distinct()


def exact_jaccard(pairs: DataFrame, left: DataFrame, right: DataFrame,
                  a: str = "d1", b: str = "d2") -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only: `pairs` holds
    (a, b) ids, `left`/`right` the two sides' shingle hashes (doc_id, h64)
    — the same table for a self-join. Returns (a, b, common, n1, n2,
    jaccard), jaccard unrounded; the caller filters and shapes."""
    x = left.select(F.col("doc_id").alias(a), F.col("h64").alias("_h"))
    y = right.select(F.col("doc_id").alias(b), F.col("h64").alias("_h"))
    common = (pairs.join(x, a).join(y, [b, "_h"])
              .groupBy(a, b).agg(F.count(F.lit(1)).alias("common")))
    n1 = x.groupBy(a).agg(F.count(F.lit(1)).alias("n1"))
    n2 = y.groupBy(b).agg(F.count(F.lit(1)).alias("n2"))
    return (common.join(n1, a).join(n2, b)
            .withColumn("jaccard", F.col("common")
                        / (F.col("n1") + F.col("n2") - F.col("common"))))


def minhash_lsh_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                      num_hashes: int = NUM_HASHES, bands: int = BANDS,
                      max_bucket: int | None = None) -> DataFrame:
    """MinHash+LSH candidates, then exact-Jaccard verification of candidates
    only. Returns (d1, d2, jaccard) — at high thresholds this equals the
    exact all-pairs result with near-certainty, at a fraction of the join.

    The shingle hashes feed the signatures and the verify, so this call
    materializes them once with an eager localCheckpoint: its blocks live
    as long as the returned DataFrame, and no cache-manager entry lets
    another query share or drop them. (A lazy one runs after its building
    plan may be garbage: its tasks then log "attempted to access
    non-existent accumulator".)"""
    sh = shingle_hashes(docs, n).localCheckpoint(eager=True)
    return lsh_verified_pairs(sh, minhash_signatures_h64(sh, num_hashes),
                              threshold=threshold, bands=bands,
                              num_hashes=num_hashes, max_bucket=max_bucket)


def lsh_verified_pairs(sh: DataFrame, sig: DataFrame, threshold: float = 0.8,
                       bands: int = BANDS, num_hashes: int = NUM_HASHES,
                       max_bucket: int | None = None) -> DataFrame:
    """minhash_lsh_pairs' mining+verify over PRECOMPUTED shingle hashes
    (doc_id, h64) and signatures (doc_id, sig) — factored so a caller that
    needs the signatures for something else too (the streaming protocol
    persists them as cross-batch state) mints them once instead of twice
    per batch. Same result, same plan shape."""
    cands = lsh_candidates(sig, bands, num_hashes // bands, max_bucket)
    return (exact_jaccard(cands, sh, sh)
            .filter(F.col("jaccard") >= threshold)
            .select("d1", "d2", F.round("jaccard", 4).alias("jaccard")))


# ---------------------------------------------------------- contamination ----


def _doc_line_arrays(docs: DataFrame, text_col: str,
                     id_col: str, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, extras], _arr): one row per doc with its split line array —
    the base of both passes of every line-grain operator, batch and
    stream: the metadata decision pass (_line_meta) and the text rebuild
    (_rebuild_docs). The split materializes as an attribute so the
    rebuild's element_at lambda indexes a computed array instead of
    re-splitting the doc per kept line."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.split(F.col(text_col), "\n").alias("_arr"))


def _line_meta(d: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """The one line explode: non-empty line METADATA (doc_id[, extras],
    line_no, first, h1, h2). A 128-bit line fingerprint (two
    independently-seeded xxhash64's — joint collision ~2^-128, the C4
    convention of deciding on hashes) stands in for the ~80-byte line
    text, so every decision shuffle ships id-plus-fingerprint rows and
    the corpus text never enters a decision exchange (guide-§8
    discipline: decide on a lightweight proxy, move heavy bytes once).
    h1 alone is plain xxhash64(line), the 64-bit key the streaming line
    dedup keeps as its `h` state.

    Input contract (every line operator): `id_col` values are UNIQUE —
    the id is a URL or doc key by construction everywhere in the repo;
    with duplicate ids the rebuild join would emit one row per duplicate.

    `first` marks the line's first occurrence WITHIN its document,
    computed narrowly inside the doc row (array_position over the doc's
    own line array — exact string equality, so no collision risk inside a
    doc): the per-doc distinct set is a zero-shuffle flag. The position
    scan is O(lines²) string-prefix compares per doc — immaterial at
    web-page line counts (fixture ~18, real pages tens); a corpus of
    pathological 10^4-line documents would want a (doc, fingerprint)
    groupBy instead."""
    first = (F.array_position(F.col("_arr"), F.col("line"))
             == (F.col("idx") + 1).cast("long"))
    return d.select(
        "doc_id", *[F.col(c) for c in extra_cols],
        F.posexplode(F.col("_arr")).alias("idx", "line"), F.col("_arr"),
    ).filter(F.length("line") > 0).select(
        "doc_id", *[F.col(c) for c in extra_cols],
        (F.col("idx") + 1).alias("line_no"), first.alias("first"),
        F.xxhash64(F.col("line")).alias("h1"),
        F.xxhash64(F.lit(1), F.col("line")).alias("h2"))


def _rebuild_docs(kept: DataFrame, d: DataFrame,
                  out_cols: tuple = ()) -> DataFrame:
    """Rebuild documents from their kept (doc_id[, out_cols], line_no)
    rows: the one per-doc keep-list aggregate (n_kept, sorted line
    numbers — doc-sized metadata) re-attaches to the un-exploded doc
    arrays (`d`, from _doc_line_arrays) and the surviving text is rebuilt
    in original line order. This join is the ONLY place text bytes can
    cross an exchange, and they cross at most once; which side it
    broadcasts, if any, is decided here for every line operator. Docs
    with no kept line drop out via the inner join."""
    keep = kept.groupBy("doc_id", *out_cols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_sort(F.collect_list("line_no")).alias("_lns"))
    rebuilt = F.array_join(
        F.transform(F.col("_lns"), lambda ln: F.element_at(F.col("_arr"), ln)),
        "\n").alias("text")
    return (keep.join(d.select("doc_id", "_arr"), "doc_id")
            .select("doc_id", *out_cols, "n_kept", rebuilt))


def _first_winners(lines: DataFrame, keys: tuple[str, ...] = ("h1", "h2"),
                   min_docs: int | None = None) -> DataFrame:
    """Keep-first winners over _line_meta rows: (keys..., doc_id, line_no)
    of each distinct line key's first occurrence, the lowest (doc_id,
    line_no). In-doc repeats can never beat their own first occurrence,
    so only `first` rows enter the argmin — same winner, fewer exchange
    rows. ONE groupBy over the key with map-side partial aggregation of
    min(struct(doc_id, line_no)): a boilerplate line repeated on 10^9
    pages combines to one row per map task before the exchange, where a
    row_number window over the same key would ship every copy to one
    reducer (the classic hot-key cliff).

    With `min_docs`, a line whose doc frequency (its count of in-doc-first
    rows, from the same aggregate) reaches `min_docs` is boilerplate and
    wins nowhere."""
    agg = lines.filter("first").groupBy(*keys).agg(
        F.count(F.lit(1)).alias("df"),
        F.min(F.struct("doc_id", "line_no")).alias("w"))
    if min_docs is not None:
        agg = agg.filter(F.col("df") < min_docs)
    return agg.select(*keys, F.col("w.doc_id").alias("doc_id"),
                      F.col("w.line_no").alias("line_no"))


def _strip_boilerplate(docs: DataFrame, min_docs: int, text_col: str,
                       id_col: str, group: tuple[str, ...] = ()) -> DataFrame:
    """Drop every occurrence of the lines that occur in ≥ `min_docs`
    distinct documents (of the same `group` value, when one is given),
    then rebuild the docs. The doc frequency is ONE partial agg over
    (group, 16-byte fingerprint) rows of the narrow in-doc-first flag, and
    the boilerplate set left_anti-joins the line METADATA stream on
    (group, h1, h2). No join strategy is forced: the set is small by
    construction at one grain and grows with the number of groups at the
    other, so AQE broadcasts it when it is small and shuffles both sides
    when it is not (skew-safe: a hot group's rows split across its
    distinct lines)."""
    d = _doc_line_arrays(docs, text_col, id_col, extra_cols=group)
    lines = _line_meta(d, extra_cols=group)
    keys = [*group, "h1", "h2"]
    boiler = (lines.filter("first").groupBy(*keys)
              .agg(F.count(F.lit(1)).alias("df"))
              .filter(F.col("df") >= min_docs).select(*keys))
    return _rebuild_docs(lines.join(boiler, keys, "left_anti"), d,
                         out_cols=group)


def dedup_lines_corpus(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """C4-style CORPUS-level line dedup (Raffel et al. 2020 §2.2: any
    three-sentence span occurring more than once in C4 is kept once; here
    the unit is the line, the web-text natural boundary): every distinct
    non-empty line survives exactly once — in the document where it first
    occurs (lowest (doc_id, line_no)) — and every later occurrence across
    the whole corpus is dropped. Documents are rebuilt from their surviving
    lines in original order; documents losing every line drop out.

    Plan shape (the part that matters at 10^12 docs): NO window over the
    line key, NO self-join, NO corpus text in any decision exchange —
    one line explode of metadata (_line_meta), the keep-first winners agg
    on the fingerprint (_first_winners), then the per-doc keep-list and
    one doc-keyed join back to the un-exploded docs (_rebuild_docs). The
    decision exchanges ship ~28 bytes/line of (id, line_no, fingerprint)
    rows, never the ~90-byte line text. It is curate_lines_corpus with no
    boilerplate threshold.

    The reference never dedups (SURVEY §2.6) — this is the C4 half of the
    curation story, complementing minhash (near-dup docs) and
    ngram_contamination (train/test overlap)."""
    d = _doc_line_arrays(docs, text_col, id_col)
    return _rebuild_docs(_first_winners(_line_meta(d)), d)


def strip_boilerplate_lines(docs: DataFrame, min_docs: int = 10,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Boilerplate removal, the CCNet/C4 companion to dedup_lines_corpus:
    a line occurring in ≥ `min_docs` DISTINCT documents (nav bars, cookie
    banners, footers) is boilerplate and is removed from EVERY document —
    including its first occurrence, which is what distinguishes this from
    line dedup (keep-one) — then documents are rebuilt in original line
    order (docs losing every line drop out). It is
    domain_boilerplate_lines over a single group; the plan shape is
    _strip_boilerplate's: no window over the line key, no O(corpus) set
    on the driver, and text crosses at most the one rebuild join."""
    return _strip_boilerplate(docs, min_docs, text_col, id_col)


def domain_boilerplate_lines(docs: DataFrame, min_docs: int = 5,
                             group_col: str = "domain",
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Per-DOMAIN boilerplate removal — the site-chrome half the global
    operator structurally misses (CCNet computes paragraph frequencies per
    shard, RefinedWeb's line-wise corrections per site, for this reason):
    a nav bar shared by every page of a 30-page site never reaches a
    corpus-level threshold safe enough not to strip genuinely common short
    lines, so `strip_boilerplate_lines(min_docs=20)` keeps it. Here a line
    is boilerplate iff it occurs in ≥ `min_docs` distinct documents OF THE
    SAME `group_col` value (host/domain), and is stripped from that
    domain's documents only; documents are rebuilt in original line order
    (docs losing every line drop out). Measured on pages sf0.01: the
    domain grain at min_docs=5 flags 521 (domain, line) chrome pairs where
    the global operator's safe threshold flags 10 lines.

    Plan shape: _strip_boilerplate keyed on (domain, h1, h2). The
    boilerplate set scales with the number of DOMAINS (millions of hosts
    × dozens of chrome lines), so at web scale its anti join is a
    shuffled join on (domain, h1, h2); AQE still broadcasts the set when
    it is small.

    The reference ships every line as-is (SURVEY §2.6); this extends the
    curation family's boilerplate story to the host grain."""
    # the group rides under a private name, clear of the line columns
    return (_strip_boilerplate(docs.withColumnRenamed(group_col, "_grp"),
                               min_docs, text_col, id_col, group=("_grp",))
            .withColumnRenamed("_grp", group_col))


def curate_lines_corpus(docs: DataFrame, min_docs: int = 10,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Fused boilerplate-strip + corpus line dedup — output IDENTICAL to
    ``dedup_lines_corpus(strip_boilerplate_lines(docs, min_docs))``
    (pytest-pinned row-for-row), at roughly half the cost.

    The sequential composition explodes the corpus text twice and pays
    two doc rebuilds. Both per-line decisions are functions of the SAME
    in-doc-first rows, so one keep-first winners agg (_first_winners)
    carries the doc frequency too: df ≥ min_docs drops the line
    everywhere, otherwise its first occurrence wins. The rebuild uses the
    ORIGINAL line_no, whose relative order equals the stripped-rebuilt
    order, so the keep-first winner and the output text match the
    sequential composition exactly. One explode, two metadata shuffles
    (the fingerprint agg and the per-doc keep-list) and one rebuild join,
    the only place text can cross an exchange."""
    d = _doc_line_arrays(docs, text_col, id_col)
    return _rebuild_docs(_first_winners(_line_meta(d), min_docs=min_docs), d)


CANON_TRACKING_PARAMS = "utm_[a-z]+|fbclid|gclid|msclkid|ref"


def canonical_url(url_col: str = "url") -> Column:
    """Canonical form of a web URL, as one JVM regex chain (RE2-safe, so
    the DuckDB oracle runs the identical patterns):

      1. strip the #fragment,
      2. strip tracking query params (utm_*, fbclid, gclid, msclkid, ref),
      3. tidy the query string ('&&'→'&', trailing '?'/'&' dropped),
      4. lowercase the scheme://host prefix,
      5. drop explicit default ports (:80 http, :443 https).

    Path + meaningful query are preserved byte-for-byte — canonicalization
    must never merge genuinely different resources."""
    c = F.regexp_replace(F.col(url_col), "#.*", "")
    c = F.regexp_replace(c, f"([?&])(?:{CANON_TRACKING_PARAMS})=[^&#]*", "$1")
    c = F.regexp_replace(c, "[?&]+$", "")
    c = F.regexp_replace(c, "([?&])&+", "$1")
    c = F.concat(F.lower(F.regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)),
                 F.regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""))
    # no lookarounds (RE2-safe): capture the delimiter and re-emit it
    c = F.regexp_replace(c, "^(https?://[^/?#:]+):(?:80|443)([/?#]|$)", "$1$2")
    return c


def duplicate_span_stats(docs: DataFrame, w: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Span-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): the
    fraction of a document's w-token windows (stride 1, multiplicity
    preserved) whose content occurs MORE THAN ONCE anywhere in the corpus
    — the substring-dedup decision signal, computed corpus-wide without a
    suffix array.

    Plan shape: windows hash to 8-byte xxhash64 immediately (no text
    crosses a shuffle), corpus frequencies by partial agg on the hash, the
    ≥2 set semi-joins the window stream back on the hash (the
    contamination_scan shape), then two per-doc counts. Two shuffles, both
    keyed on the 64-bit hash — linear at any corpus size. Docs shorter
    than w tokens have no windows and drop out (same contract as the
    oracle).

    Output: (doc_id, n_spans, dup_span_frac)."""
    spans = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(f"split({text_col},' ')").alias("_toks"),
    ).select(
        "doc_id",
        F.explode(F.expr(shingles_expr(text_col, w,
                                       toks_col="_toks"))).alias("sp"),
    ).select("doc_id", F.xxhash64("sp").alias("h"))
    dup = (spans.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= 2).select("h"))
    totals = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    hits = (spans.join(dup, "h", "left_semi")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup")))
    return (
        totals.join(hits, "doc_id", "left")
        .select("doc_id", "n_spans",
                F.round(F.coalesce(F.col("n_dup"), F.lit(0))
                        / F.col("n_spans"), 4).alias("dup_span_frac"))
    )


def remove_duplicate_spans(docs: DataFrame, w: int = 8,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           merge_threshold: int = 256) -> DataFrame:
    """Substring-level dedup REMOVAL (the action half of Lee et al. 2022,
    arXiv:2107.06499, whose decision signal is duplicate_span_stats): drop
    from every document each token covered by at least one w-token window
    whose content occurs >=2 times corpus-wide, and rebuild the text from
    the surviving tokens. Same window contract as duplicate_span_stats
    (stride 1, split-on-space tokens, docs shorter than w contribute no
    windows and keep all tokens).

    Plan shape — no suffix array, three bounded shuffles: (1) windows hash
    to 8-byte xxhash64 before anything shuffles, corpus frequency by
    partial agg on the hash; (2) the >=2 set semi-joins the window stream
    back (the contamination_scan shape) and collapses to a per-doc
    duplicated-start list (collect_list bounded by windows-per-doc, i.e.
    doc length); (3) the start list joins back to the doc stream on
    doc_id and the rebuild is a single JVM higher-order expression — no
    Python, no text ever crosses a shuffle.

    The rebuild is ADAPTIVE per row. The direct coverage test is
    O(tokens x dup-starts); on real web docs dup-start lists are short
    (500k ladder corpus: mean 38, max 77 starts/doc) and the direct scan
    WINS — a measured quiet-box A/B at 500k has it 2.3x faster (19.2s vs
    44.7s) than unconditionally merging starts into intervals first,
    because the merge's three extra array constructions cost more than
    they save at that density (BENCH/BASELINE.md "span-rebuild A/B").
    But a pathological doc (length L, ~L duplicated starts) makes the
    direct scan O(L^2) — a 100k-token fully-duplicated book is 10^10
    comparisons. So rows with more than `merge_threshold` starts take
    the interval path: sorted starts collapse to [lo, hi) coverage
    intervals via shift-and-zip (three O(k) array ops — NOT aggregate(),
    whose per-element accumulator copies are O(k^2) interpreted and
    measured slower), bounding the rebuild at O(L x intervals). Both
    branches live in one CASE, evaluated lazily per row: typical rows
    never pay the merge, pathological rows never pay the quadratic scan.

    Output: (doc_id, n_tokens, n_removed, clean_text)."""
    toks_expr = f"split({text_col}, ' ')"
    # tokens materialize before the window lambda (an inline split would
    # re-tokenize per window — quadratic; see shingles_expr)
    wins = docs.select(
        F.col(id_col).alias("doc_id"),
        F.expr(toks_expr).alias("_toks"),
    ).select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(_toks) >= {w} THEN "
            f"transform(sequence(1, size(_toks) - {w - 1}), "
            f"i -> struct(i AS s, "
            f"xxhash64(array_join(slice(_toks, i, {w}), ' ')) AS h)) "
            f"ELSE array() END")).alias("sw"),
    ).select("doc_id", F.col("sw.s").alias("s"), F.col("sw.h").alias("h"))
    dup = (wins.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= 2).select("h"))
    # Interval path (pathological rows only): sorted starts -> merged
    # [lo, hi) coverage intervals via shift-and-zip — a start opens an
    # interval iff the previous start is > w away; closes one iff the
    # next start is. Fixed width makes running-max ends unnecessary
    # (s + w is monotone over sorted starts).
    merge = (
        f"zip_with("
        f"  filter(zip_with(sds, "
        f"    concat(array(CAST(NULL AS INT)), slice(sds, 1, size(sds) - 1)), "
        f"    (s, prev) -> IF(prev IS NULL OR s > prev + {w}, s, "
        f"                    CAST(NULL AS INT))), x -> x IS NOT NULL), "
        f"  filter(zip_with(sds, "
        f"    concat(slice(sds, 2, size(sds) - 1), array(CAST(NULL AS INT))), "
        f"    (s, nxt) -> IF(nxt IS NULL OR nxt > s + {w}, s + {w}, "
        f"                   CAST(NULL AS INT))), x -> x IS NOT NULL), "
        f"  (lo, hi) -> struct(lo AS lo, hi AS hi))"
    )
    # iv is built BEFORE the doc join, on the one-row-per-doc starts side:
    # a column computed after the join and referenced once gets inlined by
    # CollapseProject into the rebuild lambda's body and RE-EVALUATED PER
    # TOKEN (measured: the inlined merge turned the interval path into
    # O(tokens x starts x log starts) — slower than the quadratic scan it
    # exists to replace). Crossing the join boundary materializes iv once
    # per doc. The CASE guard keeps the merge unevaluated for typical rows.
    starts = (
        wins.join(dup, "h", "left_semi")
        .groupBy("doc_id").agg(F.sort_array(F.collect_list("s")).alias("sds"))
        .withColumn(
            "iv",
            F.expr(f"CASE WHEN size(sds) > {merge_threshold} THEN {merge} "
                   f"ELSE CAST(array() AS array<struct<lo:int,hi:int>>) END"))
    )
    base = docs.select(F.col(id_col).alias("doc_id"),
                       F.expr(toks_expr).alias("toks"))
    kept = (
        f"CASE WHEN size(ds) <= {merge_threshold} THEN "
        f"filter(transform(toks, (t, i) -> struct(t AS t, i + 1 AS p)), "
        f"x -> NOT exists(ds, s -> s <= x.p AND x.p < s + {w})) "
        f"ELSE filter(transform(toks, (t, i) -> struct(t AS t, i + 1 AS p)), "
        f"x -> NOT exists(iv, v -> v.lo <= x.p AND x.p < v.hi)) END"
    )
    return (
        base.join(starts, "doc_id", "left")
        .withColumn("ds", F.coalesce(F.col("sds"),
                                     F.array().cast("array<int>")))
        .withColumn("kept", F.expr(kept))
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            (F.size("toks") - F.size("kept")).alias("n_removed"),
            F.array_join(F.expr("transform(kept, x -> x.t)"), " ")
             .alias("clean_text"),
        )
    )


def snapshot_delta(old: DataFrame, new: DataFrame, url_col: str = "url",
                   text_col: str = "text") -> DataFrame:
    """Incremental-crawl delta — classify every page of a NEW crawl
    snapshot against the previous corpus without reprocessing it:
    ``new`` (canonical URL never seen), ``unchanged`` (seen with identical
    content digest — skip the whole curation DAG for it), or ``changed``
    (seen, content moved — re-curate and supersede). The batch complement
    of the streaming dedup state: how a 10^12-doc corpus ingests a monthly
    Common-Crawl snapshot as a delta instead of a full rebuild.

    Plan shape: the old corpus collapses to (canon_url, digest) — 48
    bytes/row, no text — via a deterministic max(struct) partial agg (an
    already-url-deduped corpus collapses to itself; run url_dedup first to
    make "newest" the keeper); one equi-join on canon_url against the new
    snapshot
    (AQE-broadcastable when the delta is small relative to the corpus;
    sort-merge with both sides hash-keyed otherwise). Digest = md5(text),
    a pure row function, so the comparison never ships page bodies.

    Output: (url, canon_url, status) for every new-snapshot page."""
    def keyed(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(url_col).alias("url"),
            canonical_url(url_col).alias("canon_url"),
            F.md5(F.col(text_col)).alias("digest"),
        )

    old_k = (keyed(old).groupBy("canon_url")
             .agg(F.max(F.struct("url", "digest")).alias("w"))
             .select("canon_url", F.col("w.digest").alias("old_digest")))
    return (
        keyed(new).join(old_k, "canon_url", "left")
        .select(
            "url", "canon_url",
            F.when(F.col("old_digest").isNull(), F.lit("new"))
             .when(F.col("old_digest") == F.col("digest"), F.lit("unchanged"))
             .otherwise(F.lit("changed")).alias("status"),
        )
    )


def canonical_url_py(url: str) -> str:
    """Pure-Python twin of canonical_url — same patterns, same order
    (pytest pins equality against the Spark column on adversarial URLs;
    hypothesis pins idempotence, the property a canonicalizer must have:
    canon(canon(u)) == canon(u))."""
    import re

    c = re.sub(r"#.*", "", url)
    c = re.sub(rf"([?&])(?:{CANON_TRACKING_PARAMS})=[^&#]*", r"\1", c)
    c = re.sub(r"[?&]+$", "", c)
    c = re.sub(r"([?&])&+", r"\1", c)
    m = re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", c)
    if m:
        c = m.group(0).lower() + c[m.end():]
    c = re.sub(r"^(https?://[^/?#:]+):(?:80|443)([/?#]|$)", r"\1\2", c)
    return c


def url_dedup(pages: DataFrame, url_col: str = "url",
              ts_col: str = "warc_ts") -> DataFrame:
    """URL-level snapshot dedup — the Common-Crawl recrawl cure: group
    pages by canonical URL (see canonical_url) and keep the NEWEST crawl
    (max (warc_ts, url) — url as the deterministic tiebreak), counting how
    many snapshots collapsed.

    One shuffle via groupBy + min/max-struct partial aggregation (the same
    skew-proof shape as dedup_lines_corpus: a URL recrawled daily for a
    year combines map-side). Output (canon_url, url, warc_ts, n_crawls);
    join back on url to materialize the deduplicated corpus."""
    return (
        pages.select(canonical_url(url_col).alias("canon_url"),
                     F.col(url_col).alias("url"), F.col(ts_col).alias("warc_ts"))
        .groupBy("canon_url")
        .agg(F.max(F.struct("warc_ts", "url")).alias("w"),
             F.count(F.lit(1)).alias("n_crawls"))
        .select("canon_url", F.col("w.url").alias("url"),
                F.col("w.warc_ts").alias("warc_ts"), "n_crawls")
    )


def ngram_contamination(train: DataFrame, test: DataFrame, n: int = 13,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Eval-set contamination scan — the standard n-gram-overlap check run
    before training (GPT-3's 13-gram dedup between train and benchmarks;
    n=13 is that convention, smaller n for short-document corpora): for
    every TEST doc, the fraction of its n-gram shingles that appear
    anywhere in TRAIN.

    Returns (doc_id, n_shingles, n_hits, contamination_frac) for all test
    docs (0.0 when clean). Plan shape: train collapses to DISTINCT 64-bit
    shingle hashes (the big side, but hash-only — 8 B per unique shingle);
    one shuffle on h64 joins test shingles against it (left semi), then a
    per-doc count. No text crosses the shuffle; at 10^12 train docs the
    distinct-hash table is the dedup-standard bloom/semi-join shape."""
    tr = shingle_hashes(train, n, text_col, id_col).select("h64").distinct()
    te = shingle_hashes(test, n, text_col, id_col)
    totals = te.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (te.join(tr, "h64", "left_semi")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits")))
    return (
        test.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                4).alias("contamination_frac"),
        )
    )


def minhash_contamination(train: DataFrame, test: DataFrame, n: int = 3,
                          threshold: float = 0.8,
                          num_hashes: int = NUM_HASHES, bands: int = BANDS,
                          max_bucket: int | None = None,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """FUZZY eval decontamination — the near-duplicate companion to
    `ngram_contamination`'s exact-shingle scan (Brown et al. 2020 App. C
    flags eval docs by overlap; production decontamination additionally
    drops eval docs that are *near*-duplicates of any train doc, since a
    lightly-edited leak defeats exact n-gram hits): for every TEST doc,
    the TRAIN docs whose shingle-set Jaccard >= threshold.

    Returns the flag list (doc_id, n_matches, max_jaccard, top_train_id) —
    one row per contaminated test doc; top_train_id is the smallest train
    id among the highest-Jaccard matches (deterministic evidence pointer).

    Plan shape (the 10^12-train-doc story): both sides collapse to 8-byte
    shingle hashes before any shuffle, each materialized once by this call
    (an eager localCheckpoint, as in minhash_lsh_pairs); MinHash signatures by one groupBy
    per side; candidates from a test-banded × train-banded (band, key)
    equi-join — never a self-join, so the (huge) train side joins the
    (small) eval side directly and AQE can broadcast the eval bands;
    exact-Jaccard verification touches candidate pairs only, exactly the
    `minhash_lsh_pairs` argument. Capture at threshold 0.8 with 16×4
    banding is 1-(1-0.8^4)^16 ≈ 0.9998 per pair — the same guarantee the
    dedup contract query already relies on."""
    sh_tr = shingle_hashes(train, n, text_col, id_col).localCheckpoint(
        eager=True)
    sh_te = shingle_hashes(test, n, text_col, id_col).localCheckpoint(
        eager=True)
    rows = num_hashes // bands
    cands = (lsh_bands(minhash_signatures_h64(sh_te, num_hashes), bands,
                       rows, max_bucket)
             .join(lsh_bands(minhash_signatures_h64(sh_tr, num_hashes),
                             bands, rows, max_bucket, id_col="train_id"),
                   ["band", "key"])
             .select("doc_id", "train_id").distinct())
    flagged = (exact_jaccard(cands, sh_te, sh_tr, "doc_id", "train_id")
               .filter(F.col("jaccard") >= threshold))
    best = F.min(F.struct((-F.col("jaccard")).alias("nj"),
                          F.col("train_id").alias("tid")))
    return (
        flagged.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"),
             F.round(F.max("jaccard"), 4).alias("max_jaccard"),
             best.alias("_b"))
        .select("doc_id", "n_matches", "max_jaccard",
                F.col("_b.tid").alias("top_train_id"))
    )


def bloom_m_words(n_items: int, fp_rate: float = 0.01,
                  k: int = 2) -> int:
    """Size a `bloom_build` bitmap for an expected item count and target
    false-positive rate at FIXED k (the probe count is a plan-shape
    constant here, unlike the textbook's optimal-k formulation): solve
    p = (1 - e^(-k n / m))^k for m, round up to a power-of-two word
    count (min 512 words). At the k=2 default: m = 2n / -ln(1 - sqrt(p));
    1% fp ≈ 19 bits/item, 2% ≈ 13 bits/item."""
    import math

    if not 1 <= k <= 4:
        raise ValueError("k must be in 1..4 (the bloom_build contract)")
    if n_items <= 0:
        return 512
    if not (0.0 < fp_rate < 1.0):
        raise ValueError("fp_rate must be in (0, 1)")
    fill = 1.0 - fp_rate ** (1.0 / k)  # required per-bit CLEAR probability
    if fill >= 1.0:
        raise ValueError("fp_rate too small to represent at this k")
    m_bits = k * n_items / -math.log(fill)
    # ceil to whole words BEFORE the power-of-two step: int() truncation
    # here rounded DOWN whenever the requirement sat fractionally above a
    # power of two, under-sizing the bitmap past the fp target
    need = -(-int(math.ceil(m_bits)) // 32)
    return max(512, 1 << (need - 1).bit_length())


def bloom_build(docs: DataFrame, n: int = 3, m_words: int = 4096,
                k: int = 2, text_col: str = "text",
                id_col: str = "doc_id") -> list[int]:
    """Build a Bloom filter over a (small) corpus' n-gram shingles and
    return it as ``m_words`` 32-bit words (each stored in a Python int /
    BIGINT, so masks stay positive in every engine).

    The intended build side is the EVAL-BENCHMARK set — the side that is
    tiny by construction (10^4-10^7 shingles) while train is 10^12 docs.
    The k probe positions all come from ONE md5 digest per shingle —
    position i reads hex digits [8i+1, 8i+8] (md5 so the SQL oracle
    reproduces every bit; one digest because interpreted HOFs have no CSE,
    so k independent hashes would evaluate md5 2k times per shingle on the
    probe side — measured 2.4× slower at 500k docs). k <= 4 (32 hex
    digits). The bitmap is OR-folded with one tiny groupBy and collected
    to the driver — at k=2, m = 32*m_words bits the false-positive rate
    is (1 - e^(-2n/m))^2 (2% at the contract sizing).

    This is the other half of `ngram_contamination`'s story: that scan
    answers "how contaminated is each TEST doc" with one semi-join shuffle;
    the Bloom path answers the decontamination-direction question — "which
    TRAIN docs carry eval shingles" (GPT-3 App. C drops TRAIN overlaps) —
    with ZERO shuffle on the 10^12-doc side (see bloom_contamination)."""
    assert 1 <= k <= 4, "one md5 digest carries four 32-bit probe values"
    n_bits = m_words * 32
    sh = (doc_shingles(docs, n, text_col, id_col)
          .select("sh").distinct()
          .select(F.md5(F.col("sh")).alias("h")))
    probes = [
        F.pmod(
            F.conv(F.substring(F.col("h"), 8 * i + 1, 8), 16, 10)
            .cast("long"),
            F.lit(n_bits))
        for i in range(k)
    ]
    words = (
        sh.select(F.explode(F.array(*probes)).alias("pos"))
        .groupBy(F.expr("pos div 32").alias("w"))
        .agg(F.bit_or(F.expr(
            "shiftleft(cast(1 as bigint), cast(pos % 32 as int))"))
            .alias("word"))
        .collect()
    )
    arr = [0] * m_words
    for r in words:
        arr[int(r["w"])] = int(r["word"])
    return arr


def bloom_contamination(train: DataFrame, bloom_words: list[int],
                        n: int = 3, k: int = 2, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Scan TRAIN for eval-set shingles through a Bloom filter built by
    `bloom_build` — per doc: (doc_id, n_shingles, n_bloom_hits,
    bloom_frac, flagged). A hit means "possibly in the eval set" (false
    positives at the filter's rate, never false negatives), so `flagged`
    docs are the candidate set a production pipeline either drops outright
    (cheap, slightly lossy) or routes to the exact semi-join
    (`ngram_contamination`) for confirmation — the standard two-tier
    decontamination cascade.

    Plan shape — the reason this operator exists: scan → project, ZERO
    shuffle and zero join on the train side. The bitmap ships as ONE
    BINARY literal (4 bytes per word, big-endian) probed with O(1)
    byte-slicing — `substring(bin, 4w+1, 4)` → hex → conv. NOT as an
    array literal: expressions inside interpreted lambda bodies are
    never constant-folded, so an `array(...)` bitmap re-builds all
    m_words elements on every evaluation — measured 3.3× slower at
    m=64Ki words and pathologically worse as rows grow (SURVEY §9).
    The distinct-shingle array materializes as an attribute column (the
    HOF-lambda rule), and the per-doc hit count is one JVM `aggregate`
    fold. At 1000 executors the 10^12-doc side streams through map
    tasks only; contrast ngram_contamination, whose semi-join shuffles
    every train shingle hash. The md5 digests materialize as their own
    array column first (one `transform`) so the fold's 2 references per
    probe re-evaluate only substr/conv digit math, never the digest —
    interpreted HOFs have no CSE (SURVEY §9; the k-independent-hashes
    variant measured 2.4× slower at 500k docs)."""
    assert 1 <= k <= 4, "one md5 digest carries four 32-bit probe values"
    m_words = len(bloom_words)
    n_bits = m_words * 32
    blob = b"".join(int(w).to_bytes(4, "big") for w in bloom_words)

    def probe(i: int) -> str:
        p = (f"(cast(conv(substr(h, {8 * i + 1}, 8), 16, 10)"
             f" as bigint) % {n_bits})")
        w = (f"cast(conv(hex(substring(_bloom, cast({p} div 32 as int)"
             f" * 4 + 1, 4)), 16, 10) as bigint)")
        return f"((shiftright({w}, cast({p} % 32 as int)) & 1) = 1)"

    hit = " AND ".join(probe(i) for i in range(k))
    return (
        train.select(
            F.col(id_col).alias("doc_id"),
            F.expr(f"split({text_col}, ' ')").alias("_toks"))
        .withColumn("_grams", F.array_distinct(
            F.expr(shingles_expr(text_col, n, toks_col="_toks"))))
        .withColumn("_h", F.expr("transform(_grams, sh -> md5(sh))"))
        .withColumn("_bloom", F.lit(bytearray(blob)))
        .select(
            "doc_id",
            F.size("_grams").alias("n_shingles"),
            F.expr(
                f"aggregate(_h, 0, (acc, h) -> acc"
                f" + if({hit}, 1, 0))").alias("n_bloom_hits"))
        .withColumn(
            "bloom_frac",
            F.round(F.col("n_bloom_hits")
                    / F.greatest(F.col("n_shingles"), F.lit(1)), 4))
        .withColumn("flagged", F.col("n_bloom_hits") > 0)
    )


def vocab_topk(docs: DataFrame, k: int = 100, text_col: str = "text") -> DataFrame:
    """Corpus-wide vocabulary: top-k tokens by count (ties → lexicographic) —
    the tokenizer-training / frequency-cut primitive. Partial aggregation
    map-side; the final top-k sorts k rows, not the vocabulary."""
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    )
    # limit BEFORE ranking: orderBy+limit plans as TakeOrderedAndProject
    # (distributed per-partition top-k + k-row merge on the driver) — the
    # window then ranks k rows, never a global sort of the vocabulary
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(k)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "tok", "cnt"))


# ------------------------------------------------- duplicate clustering ----


def connected_components(pairs: DataFrame, nodes: DataFrame,
                         max_iter: int = 15,
                         state_dir: str | None = None) -> DataFrame:
    """Duplicate-cluster assignment: (doc_id, cluster_id) for every node,
    where cluster_id = min doc_id reachable through the near-dup pair graph.

    Pair lists (MinHash/SimHash/embedding-LSH) only say "these two are dups";
    a curation run needs the transitive closure — A~B, B~C ⇒ {A,B,C} is ONE
    cluster with ONE kept representative. Pure DataFrame min-label
    propagation with pointer-jumping:

      per round:  l(v) ← min(l(v), min_{u∈N(v)} l(u))   (edge join + groupBy)
                  l(v) ← l(l(v))                        (label self-join)

    The pointer-jump halves the remaining path length every round, so
    convergence is O(log(component diameter)) rounds — near-dup components
    are chains/cliques of tiny diameter, so this is 2-3 rounds in practice
    (the classic alternating-star bound from Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — same shuffle structure,
    expressed as DataFrame joins so AQE handles skewed components).

    Each round materializes the label table with localCheckpoint(eager) —
    a TRUE lineage cut, not just a persist: a persist leaves the logical
    plan growing by two nested joins per round, and Catalyst re-analyzes
    the whole accumulated tree every round (measured: a 300-node path
    that needs ~10 rounds hung the planner; with checkpointing it runs in
    seconds). The convergence count doubles as the fixpoint check,
    O(rounds) jobs; executor state stays one label table deep. On a
    cluster, set spark.checkpoint.dir and swap for .checkpoint() if
    executor loss during the (short) propagation loop matters; at 10^12
    nodes each round is two shuffles on (id) / (label).

    `nodes` supplies the full id universe (singletons keep cluster_id =
    their own id); `pairs` needs (d1, d2) with d1 < d2.

    With ``state_dir``, rounds commit durably through plans/iterstate.py
    (same lineage-cut I/O class as the localCheckpoint, now restartable):
    re-invocation resumes from the highest committed round, the fixpoint
    is recorded with a _DONE marker so a finished run returns without
    re-verifying, input drift RAISES, and — because the unconverged path
    raises — "resume with a higher max_iter" continues from the committed
    rounds instead of restarting the propagation.
    """
    # materialize the edge list ONCE: without this every round re-runs the
    # upstream pair miner (the whole MinHash DAG) — the dominant cost. The
    # pair list is near-dup-sized (≪ corpus), so MEMORY_AND_DISK is cheap.
    edges = (pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
             .union(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
             .localCheckpoint(eager=True))
    labels = nodes.select(F.col("doc_id").alias("id"),
                          F.col("doc_id").alias("lbl")).localCheckpoint(eager=True)
    st = None
    start = 0
    if state_dir is not None:
        from logport_spark.plans.iterstate import IterState, input_fp

        st = IterState(
            pairs.sparkSession, state_dir,
            input_fp(pairs, "d1", "d2"),
            {"algo": "cc_v1",
             "nodes_fp": str(input_fp(nodes, "doc_id"))})
        start = max(st.latest_round(), 0)
        if start > 0:
            # r6 rounds persist (id, _old, lbl) — the fixpoint check reads
            # _old off the committed round; resume needs only (id, lbl)
            labels = st.load(start).select("id", "lbl")
        if st.is_done():
            return labels.select(F.col("id").alias("doc_id"),
                                 F.col("lbl").alias("cluster_id"))
    changed = None
    for _round in range(start + 1, max_iter + 1):
        # min neighbor label, NULL for isolated nodes
        nbr = (edges.join(labels, edges.src == labels.id)
               .groupBy(F.col("dst").alias("id"))
               .agg(F.min("lbl").alias("nlbl")))
        prop = (labels.join(nbr, "id", "left")
                .select("id", F.col("lbl").alias("_old"),
                        F.least("lbl", "nlbl").alias("lbl")))
        if _round == 1:
            # round 1 of a fresh run: labels are the identity map, so the
            # pointer jump l(v) ← l(l(v)) cannot change anything — skip
            # its join outright (resumed runs enter at _round > 1)
            new3 = prop
        else:
            # pointer jump: follow the label one hop (l(v) ← l(l(v)))
            hop = labels.select(F.col("id").alias("lbl"),
                                F.col("lbl").alias("lbl2"))
            new3 = prop.join(hop, "lbl", "left").select(
                "id", "_old", F.least("lbl", "lbl2").alias("lbl"))
        # the previous round's label rides along, so the fixpoint check is
        # a filter over the (already-materialized) round output — r5 paid a
        # full (id)-keyed self-join + shuffle per round for the same count
        new3 = (st.save(_round, new3) if st is not None
                else new3.localCheckpoint(eager=True))
        changed = new3.filter(F.col("lbl") != F.col("_old")).count()
        labels = new3.select("id", "lbl")
        if changed == 0:
            if st is not None:
                st.mark_done()
            break
    else:
        # partially-propagated labels are WRONG clusters, not slightly-stale
        # ones — never return them silently (a pathological pair graph with
        # diameter > 2^max_iter is the only way here)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed if changed is not None else 'unknown'} labels "
            "still changing); raise max_iter"
            + (" (committed rounds are kept — re-invoking with the same "
               "state_dir continues, not restarts)" if st is not None
               else ""))
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def dedup_clusters(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                   max_bucket: int | None = None) -> DataFrame:
    """MinHash+LSH near-dup pairs → transitive duplicate clusters.

    (doc_id, cluster_id) over ALL docs; keep `cluster_id == doc_id` rows to
    materialize the deduplicated corpus."""
    pairs = minhash_lsh_pairs(docs, n=n, threshold=threshold,
                              max_bucket=max_bucket)
    return connected_components(pairs, docs.select("doc_id"))


def cluster_retention(docs: DataFrame, clusters: DataFrame | None = None,
                      n: int = 3, threshold: float = 0.8,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Near-dup clusters → the per-cluster retention decision: which doc a
    curation run actually KEEPS from each duplicate cluster.

    Policy (the common published choice — e.g. CCNet/RefinedWeb keep the
    longest member so near-dup truncations lose to the full page): rank
    cluster members by (length(text) DESC, doc_id ASC) and keep rank 1;
    ties can't diverge across engines because doc_id is unique. Returns
    every doc with its verdict:

      (doc_id, cluster_id, cluster_size, keep)

    so both the kept corpus (``keep``) and the drop audit (``NOT keep``,
    with the cluster that doomed each doc) fall out of one result.

    Plan shape at 100 TB: clusters come from :func:`dedup_clusters`
    (banded MinHash + O(log d) label propagation — never O(n²)); the
    retention pass itself is ONE shuffle on cluster_id feeding both the
    size count and the rank window. Near-dup clusters are tiny (pairs
    survive a 0.8-Jaccard verify), so the window partitions are bounded —
    no hot-key risk — and singleton clusters (the overwhelming majority)
    pass through the same window at one row each. The length sort key is
    computed before the shuffle, so text never moves — only
    (doc_id, cluster_id, len).

    The reference ships duplicates untouched (at-least-once delivery,
    SURVEY.md §2.6); this closes the pair→cluster→kept-corpus loop."""
    from pyspark.sql import Window

    if clusters is None:
        clusters = dedup_clusters(docs, n=n, threshold=threshold)
    member = (docs.select(id_col, F.length(F.col(text_col)).alias("_len"))
              .join(clusters, id_col))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_len").desc(), F.col(id_col).asc())
    return (member
            .select(id_col, "cluster_id",
                    F.count(F.lit(1)).over(
                        Window.partitionBy("cluster_id")).alias("cluster_size"),
                    (F.row_number().over(w) == 1).alias("keep"))
            .withColumn("cluster_size", F.col("cluster_size").cast("long")))


# -------------------------------------------------------------- SimHash ----

SIMHASH_BITS = 60  # 15 md5 hex chars → keeps the signature positive in int64


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash from per-token md5 nibble votes.

    bit j of token t = (nibble(md5(t)[j/4]) >> (j%4)) & 1; per-doc bit j is
    the sign of sum(2*bit-1) over tokens (with multiplicity). md5 + integer
    ops only, so the SQL oracle reproduces the signature exactly."""
    # One 64-bit conversion per token (the 15-hex-char md5 prefix), NOT 60
    # conv(substring(...)) probes: materialized as a column before the
    # groupBy so it is provably single-eval (Spark has no CSE guarantee
    # across aggregate expressions). Hex char c holds nibble value
    # val >> 4*(14-c), so bit j = (val >> (4*(14 - j//4) + j%4)) & 1 —
    # identical bit layout to the per-nibble definition above.
    #
    # All wide expressions are built as SQL STRINGS (one F.expr py4j call
    # each), not as Column-method chains: profiling at sf0.1 showed ~2s of
    # this query's wall time was pure DAG CONSTRUCTION — hundreds of py4j
    # round trips for 60 bits x (shift, mask, when) — dwarfing the 0.3s the
    # JVM spends executing the aggregation.
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) AS val",
    )

    # SWAR-packed vote counters: 3 bit-counters per 64-bit sum — 20 sum
    # aggregates + 1 count instead of 61, so the hash-agg update loop stays
    # small. Field f of packed agg i holds sum(bit_{3i+f}) in bits
    # [21f, 21f+21); the 21-bit headroom bounds docs at 2^21-1 (~2M) tokens
    # — a >10 MB single document, far past the quality gates; ANSI mode
    # would overflow loudly, not corrupt, before the sign bit.
    def bit_sql(j: int) -> str:
        shift = 4 * (14 - j // 4) + (j % 4)
        return f"(shiftright(val, {shift}) & 1L)"

    aggs = [F.expr("count(*)").alias("cnt")]
    for i in range((SIMHASH_BITS + 2) // 3):
        fields = [f"shiftleft({bit_sql(3 * i + f)}, {21 * f})" if f else bit_sql(3 * i + f)
                  for f in range(3) if 3 * i + f < SIMHASH_BITS]
        aggs.append(F.expr(f"sum({' | '.join(fields)})").alias(f"p{i}"))
    votes = toks.groupBy("doc_id").agg(*aggs)

    # vote sign test: sum(2*bit-1) > 0 ⟺ 2*sum(bit) > count
    mask = (1 << 21) - 1
    terms = " + ".join(
        f"(CASE WHEN (shiftright(p{j // 3}, {21 * (j % 3)}) & {mask}L) * 2 > cnt"
        f" THEN {1 << j}L ELSE 0L END)"
        for j in range(SIMHASH_BITS)
    )
    return votes.selectExpr("doc_id", f"({terms}) AS simhash")


def simhash_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by banded SimHash: hamming ≤ 3 over 60 bits ⇒ at least
    one of four 15-bit bands is equal (pigeonhole), so a 4-band bucket join
    finds all such pairs with NO O(n²) comparison.

    SCALE CONTRACT: a random pair collides in a 15-bit band at 2^-15, so
    candidates are ~4·n²/2^16 — fine to ~10^6 docs, quadratic cliff past
    it. `simhash_pairs_blocked` keys on 30 bits (same EXACT pair set, 2^15×
    fewer random collisions) and is the variant to run at corpus scale;
    this narrow-band form stays the cheap small-input default (fewer
    explode rows) and the shared oracle contract."""
    return _simhash_banded(sig, [(15 * k, 15) for k in range(4)], max_hamming)


def _simhash_banded(sig: DataFrame, band_slices, max_hamming: int,
                    max_bucket: int | None = None) -> DataFrame:
    """Shared banded-join core: band_slices is a list of per-table bit
    selections, each a list of (shift, width) segments concatenated into one
    join key. Exact: candidates are verified with the full hamming filter."""
    def key_expr(segs) -> Column:
        key, off = F.lit(0).cast("long"), 0
        for shift, width in segs:
            part = F.shiftright(F.col("simhash"), shift).bitwiseAND(
                F.lit((1 << width) - 1))
            key = key.bitwiseOR(F.shiftleft(part, off))
            off += width
        return key

    slices = [s if isinstance(s, list) else [s] for s in band_slices]
    bands = F.array(*[key_expr(s) for s in slices])
    banded = sig.select("doc_id", "simhash",
                        F.posexplode(bands).alias("band", "key"))
    banded = cap_buckets(banded, ["band", "key"], max_bucket)
    pairs = (shared_key_pairs(banded, ["band", "key"], carry=("simhash",))
             .select("d1", "d2", "simhash1", "simhash2").distinct())
    ham = F.bit_count(F.col("simhash1").bitwiseXOR(F.col("simhash2")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def simhash_pairs_blocked(sig: DataFrame, max_hamming: int = 3,
                          max_bucket: int | None = None) -> DataFrame:
    """SimHash near-dup pairs with Manku-style block-combination banding
    (Manku/Jain/Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW'07 §3): split the 60-bit signature into 6 blocks of 10 bits; ≤3
    differing bits touch ≤3 blocks, so for every qualifying pair SOME
    choice of 3 blocks is error-free — C(6,3)=20 tables, each keyed on a
    30-bit concatenation, find the EXACT same pair set as the 4×15 scheme.

    The trade that matters at 10^9+ docs: random-pair collisions drop from
    2^-15 to 2^-30 per table (20·n²/2^31 vs 4·n²/2^16 expected candidates —
    ~6,500× fewer) for 5× more explode rows through the band shuffle.
    Linear shuffle growth buys a quadratic candidate cut; pytest pins
    result equality with `simhash_pairs` and the candidate reduction."""
    from itertools import combinations

    blocks = [(10 * k, 10) for k in range(6)]
    band_slices = [list(c) for c in combinations(blocks, 3)]
    return _simhash_banded(sig, band_slices, max_hamming, max_bucket)


def update_clusters(state: DataFrame, new_pairs: DataFrame,
                    new_nodes: DataFrame | None = None,
                    max_iter: int = 15) -> DataFrame:
    """Incremental cluster maintenance: fold a NEW batch of near-dup pairs
    (and optionally new docs) into a committed (doc_id, cluster_id)
    assignment without re-running components over the corpus — the daily
    recluster a rolling crawl actually needs at 10^12 docs, where full
    recomputation means re-mining every historical pair.

    Contraction argument (why this is exact): every committed cluster is
    connected by definition, so contracting it to its label preserves the
    connectivity of the union graph (old pairs ∪ new pairs). The
    propagation therefore runs on the CONTRACTED graph only — new doc ids
    plus the labels new pairs touch — which is new-batch-sized, never
    corpus-sized. Three steps:

      1. map each endpoint of new_pairs through the committed state
         (doc → its cluster label; unseen docs stay themselves),
      2. connected_components over the contracted edges (reusing the
         pointer-jumping kernel — same O(log diameter) rounds),
      3. join the (touched-label → merged-label) mapping back onto state
         — the mapping is touched-clusters-sized, so Catalyst broadcasts
         it and the corpus-sized state moves through ZERO shuffles —
         and union the new docs' final labels.

    Labels stay canonical (min doc_id reachable), so the result is
    bit-identical to connected_components over the full pair history —
    pinned by the pytest property test against full recomputation on
    random two-batch splits. `new_nodes` admits pairless new docs as
    singletons; new docs appearing only in new_pairs are inferred.
    """
    st = state.select(F.col("doc_id").alias("sid"),
                      F.col("cluster_id").alias("slbl"))
    # 1. contract: endpoint -> committed label (or itself if unseen)
    p = (new_pairs
         .join(st.withColumnRenamed("sid", "d1"), "d1", "left")
         .withColumn("r1", F.coalesce("slbl", "d1")).drop("slbl")
         .join(st.withColumnRenamed("sid", "d2"), "d2", "left")
         .withColumn("r2", F.coalesce("slbl", "d2")).drop("slbl")
         .filter(F.col("r1") != F.col("r2"))
         .select(F.least("r1", "r2").alias("d1"),
                 F.greatest("r1", "r2").alias("d2"))
         .distinct()
         # referenced three times (touched set, propagation, new-id scan)
         # and batch-sized — materialize once
         .localCheckpoint(eager=True))
    touched = (p.select(F.col("d1").alias("doc_id"))
               .union(p.select(F.col("d2").alias("doc_id"))).distinct())
    # 2. components over the contracted (batch-sized) graph
    merged = connected_components(p, touched, max_iter=max_iter)
    mapping = (merged.filter(F.col("doc_id") != F.col("cluster_id"))
               .select(F.col("doc_id").alias("slbl"),
                       F.col("cluster_id").alias("mlbl")))
    # 3. relabel the corpus-sized state through the broadcast-sized mapping
    updated = (state.join(F.broadcast(mapping),
                          state.cluster_id == mapping.slbl, "left")
               .select("doc_id",
                       F.coalesce("mlbl", "cluster_id").alias("cluster_id")))
    # new docs: merged labels where they had pairs, singleton otherwise
    new_ids = p.select(F.col("d1").alias("doc_id")).union(
        p.select(F.col("d2").alias("doc_id")))
    if new_nodes is not None:
        new_ids = new_ids.union(new_nodes.select("doc_id"))
    fresh = (new_ids.distinct()
             .join(st, F.col("doc_id") == F.col("sid"), "left_anti")
             .join(merged.withColumnRenamed("doc_id", "mid")
                   .withColumnRenamed("cluster_id", "mlbl"),
                   F.col("doc_id") == F.col("mid"), "left")
             .select("doc_id",
                     F.coalesce("mlbl", "doc_id").alias("cluster_id")))
    return updated.unionByName(fresh)
