"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

All four are pure JVM-side column expressions (no Python in the hot path) —
built from `split`/lambda higher-order functions/`regexp_count`/`md5` so
they whole-stage-codegen and scale linearly with no shuffle. Each has an
ANSI-SQL oracle equivalent (DuckDB lambdas + md5 match bit-for-bit).

These extend the reference's scope: logport ships log lines but never
analyzes them (SURVEY.md §2.6 gap analysis); a 100 TB Common-Crawl pipeline
needs these stages between parse and route.

Model fidelity — deliberately oracle-able stand-ins, NOT production models:
- `lang_id` is a 5-language marker-token heuristic chosen because DuckDB can
  reproduce it bit-for-bit. A production run swaps the scoring expression
  for a fastText/CLD3 call inside a vectorized pandas UDF — the surrounding
  plumbing (argmax/tiebreak columns, `pred_lang` contract, downstream
  filters) is unchanged, the same swap-point pattern multimodal.decode_media
  documents.
- `BPE_REGEX` token counting approximates a BPE pre-tokenizer with one
  `regexp_count`; a real tokenizer (HF `tokenizers`) drops into a pandas UDF
  behind the same `n_tokens` column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deterministic marker dictionaries for the n-gram/stopword language heuristic;
# scoring = occurrence count of marker tokens, argmax with lexicographic
# tiebreak, 'und' when all scores are zero
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "a", "of", "to"),
    "de": ("der", "und", "die", "das", "nicht"),
    "es": ("los", "pero", "las", "que", "para"),
    "fr": ("les", "dans", "des", "une", "pour"),
    "pt": ("nao", "uma", "com", "mais", "por"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for", "on", "it")

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def _marker_hits(markers: tuple[str, ...], text_col: str = "text") -> Column:
    lst = ", ".join(f"'{m}'" for m in markers)
    return F.expr(f"size(filter(split({text_col}, ' '), t -> t IN ({lst})))")


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax marker-token hits, ties → lexicographic
    smallest lang, all-zero → 'und'."""
    scored = df
    for lang, markers in LANG_MARKERS.items():
        scored = scored.withColumn(f"_s_{lang}", _marker_hits(markers, text_col))
    best = F.greatest(*[F.col(f"_s_{l}") for l in LANG_MARKERS])
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(
            (best > 0) & (F.col(f"_s_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    out = scored.withColumn("pred_lang", pred).withColumn("marker_hits", best)
    return out.drop(*[f"_s_{l}" for l in LANG_MARKERS])


def quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length/stopword/alpha/symbol ratios → [0,1] score.

    score = 0.4*stopword_signal + 0.3*alpha_ratio + 0.3*length_signal, all
    computable identically in ANSI SQL (the oracle) — rounded to 4 decimals
    to pin float formatting across engines."""
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(f"size(filter(split({text_col}, ' '), t -> t IN ({sw})))")
    n_alpha = n_chars - F.length(F.regexp_replace(F.col(text_col), "[a-zA-Z]", ""))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    alpha_ratio = n_alpha / F.greatest(n_chars, F.lit(1))
    len_signal = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.4) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * len_signal
    )
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def quality_lr_train(docs: DataFrame, steps: int = 3, lr: float = 1.0,
                     text_col: str = "text",
                     label: Column | None = None) -> DataFrame:
    """Model-based quality filtering, trained IN the engine: full-batch
    logistic regression over `quality()`'s three signals (capped stopword
    ratio, alpha ratio, length signal) against a language label (default
    lang='en' — the CCNet/fastText-classifier filter shape). Where
    `quality()` HARDCODES weights 0.4/0.3/0.3, this learns them. Output
    is the training trace: (step, w_bias, w_stop, w_alpha, w_len,
    loss_pre) per gradient step, loss_pre being the mean log-loss at the
    PRE-update weights (so step 1 shows the w=0 baseline, ln 2).

    Plan shape — distributed GD as map-side-combined aggregates, the
    treeAggregate pattern MLlib itself uses, with zero MLlib dependency:
    (1) ONE corpus-linear pass builds the feature table (pure codegen
    signals, rounded to 4dp so both engines train on identical rationals)
    and `localCheckpoint` materializes it — the corpus is never rescanned;
    (2) each step is ONE partial+final aggregate producing the 4 gradient
    sums + loss (one row to the driver), with the current weights riding
    as plan literals — no shuffle wider than the 1-row agg, no Python in
    the pass. At 100 TB the feature pass dominates and is scan-bound; a
    step costs one combiner-friendly aggregate regardless of model size
    here (4 weights).

    Cross-engine float parity: the weight state is quantized to 8
    decimals after every update. Per-step engine divergence (exp/ln ULP
    differences, summation order) is ~1e-13, far below the 0.5e-8
    quantum, so Spark and the SQL oracle carry BIT-IDENTICAL state into
    every step instead of compounding drift — the reason the training
    trace is hash-exact rather than approximately equal.

    Extends the reference's scope (SURVEY §2.6 gap analysis): the quality
    gates upstream of routing become a trained model without leaving the
    engine or adding a training system."""
    feats = quality_lr_features(docs, text_col, label) \
        .localCheckpoint(eager=True)
    w = [0.0, 0.0, 0.0, 0.0]  # bias, stop, alpha, len
    rows: list[tuple] = []
    for step in range(1, steps + 1):
        r = quality_lr_grad(feats, w).collect()[0]
        n = r["n"]
        loss_pre = round(r["l"] / n, 4)
        w = [round(w[j] - lr * r[f"g{j}"] / n, 8) for j in range(4)]
        rows.append((step, w[0], w[1], w[2], w[3], loss_pre))
    return docs.sparkSession.createDataFrame(
        rows, "step int, w_bias double, w_stop double, w_alpha double, "
              "w_len double, loss_pre double").orderBy("step")


def quality_lr_weights(feats: DataFrame, steps: int = 3,
                       lr: float = 1.0) -> list[float]:
    """The shared training loop (K one-row aggregates over the
    checkpointed feature table, weights re-quantized to 8dp per step) —
    factored out so eval and the PR-curve sweep train IDENTICALLY."""
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(steps):
        r = quality_lr_grad(feats, w).collect()[0]
        w = [round(w[j] - lr * r[f"g{j}"] / r["n"], 8) for j in range(4)]
    return w


QUALITY_PR_THRESHOLDS = (-2.0, -1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0)


def quality_pr_curve(docs: DataFrame, steps: int = 3, lr: float = 1.0,
                     thresholds: tuple[float, ...] = QUALITY_PR_THRESHOLDS,
                     text_col: str = "text",
                     label: Column | None = None) -> DataFrame:
    """Threshold sweep for the trained quality classifier — the PR curve
    a pipeline owner reads to PICK the filter cut (the z >= 0 default is
    rarely the deployed one; CCNet ships per-language thresholds chosen
    exactly this way). One row per threshold: confusion counts +
    precision/recall at the cut z >= t.

    Exactness: z is the same IEEE-bit-identical score quality_lr_eval
    pins, and every threshold is a literal double, so each cut is exact
    in both engines — integer counts, hash-exact. Plan: training's K
    one-row aggregates, then ONE pass exploding the |grid|-sized literal
    array and a partial-aggregated groupBy(threshold) — the grid is 9,
    not corpus-sized, and the explode combines map-side."""
    feats = quality_lr_features(docs, text_col, label) \
        .localCheckpoint(eager=True)
    w = quality_lr_weights(feats, steps, lr)
    z = (F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
         + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"))
    y1 = (F.col("y") == 1.0).cast("int")
    grid = F.explode(F.array(*[F.lit(float(t)) for t in thresholds]))
    per = (feats.select(z.alias("z"), y1.alias("y1"))
           .select("z", "y1", grid.alias("threshold")))
    pred = (F.col("z") >= F.col("threshold")).cast("int")
    agg = per.groupBy("threshold").agg(
        F.sum(pred * F.col("y1")).alias("tp"),
        F.sum(pred * (1 - F.col("y1"))).alias("fp"),
        F.sum((1 - pred) * F.col("y1")).alias("fn"),
        F.sum((1 - pred) * (1 - F.col("y1"))).alias("tn"),
    )
    return agg.select(
        "threshold", "tp", "fp", "fn", "tn",
        F.when(F.col("tp") + F.col("fp") > 0,
               F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 4))
         .alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 4))
         .alias("recall"),
    ).orderBy("threshold")


def quality_lr_eval(docs: DataFrame, steps: int = 3, lr: float = 1.0,
                    text_col: str = "text",
                    label: Column | None = None) -> DataFrame:
    """Close the train→apply loop: score the corpus with the weights
    quality_lr_train learned and report the confusion matrix +
    accuracy/precision/recall at the 0.5 threshold (decision boundary
    z >= 0). The verdict comparison is EXACT across engines, not just
    quantized-close: both score 4dp-rounded features with 8dp-quantized
    weights through the identical left-associated multiply-add chain, so
    z is IEEE-bit-identical and the >= 0 cut never straddles — integer
    counts, hash-exact.

    Plan shape: training's K aggregates plus ONE more scoring aggregate
    over the same checkpointed feature table; still nothing wider than a
    1-row agg after the corpus-linear feature pass."""
    feats = quality_lr_features(docs, text_col, label) \
        .localCheckpoint(eager=True)
    w = quality_lr_weights(feats, steps, lr)
    z = (F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
         + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"))
    pred = (z >= F.lit(0.0)).cast("int")
    y1 = (F.col("y") == 1.0).cast("int")
    agg = feats.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(pred * y1).alias("tp"),
        F.sum(pred * (1 - y1)).alias("fp"),
        F.sum((1 - pred) * y1).alias("fn"),
        F.sum((1 - pred) * (1 - y1)).alias("tn"),
    )
    return agg.select(
        "n", "tp", "fp", "fn", "tn",
        F.round((F.col("tp") + F.col("tn")) / F.col("n"), 4).alias("accuracy"),
        F.when(F.col("tp") + F.col("fp") > 0,
               F.round(F.col("tp") / (F.col("tp") + F.col("fp")), 4))
         .alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0,
               F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 4))
         .alias("recall"),
    )


def quality_lr_features(docs: DataFrame, text_col: str = "text",
                        label: Column | None = None) -> DataFrame:
    """The trainer's feature pass — quality()'s three signals as pure
    codegen, rounded to 4dp so every engine trains on identical
    rationals, plus the label. The ONLY corpus-linear work in training."""
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(f"size(filter(split({text_col}, ' '), t -> t IN ({sw})))")
    n_alpha = n_chars - F.length(
        F.regexp_replace(F.col(text_col), "[a-zA-Z]", ""))
    y = label if label is not None else (
        (F.col("lang") == "en").cast("double"))
    return docs.select(
        F.round(F.least(n_stop / F.greatest(n_tokens, F.lit(1)) * 5,
                        F.lit(1.0)), 4).alias("x1"),
        F.round(n_alpha / F.greatest(n_chars, F.lit(1)), 4).alias("x2"),
        F.round(F.least(n_tokens / F.lit(100.0), F.lit(1.0)), 4).alias("x3"),
        y.alias("y"),
    )


def quality_lr_grad(feats: DataFrame, w: list[float]) -> DataFrame:
    """One GD step's statistic: gradient sums + log-loss at weights `w`
    (plan literals) — ONE partial+final aggregate, one row out. The
    treeAggregate shape without MLlib."""
    z = (F.lit(w[0]) + F.lit(w[1]) * F.col("x1")
         + F.lit(w[2]) * F.col("x2") + F.lit(w[3]) * F.col("x3"))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    err = p - F.col("y")
    return feats.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(err).alias("g0"),
        F.sum(err * F.col("x1")).alias("g1"),
        F.sum(err * F.col("x2")).alias("g2"),
        F.sum(err * F.col("x3")).alias("g3"),
        F.sum(-(F.col("y") * F.log(p)
                + (F.lit(1.0) - F.col("y"))
                * F.log(F.lit(1.0) - p))).alias("l"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (JVM regexp_count)."""
    return df.select(
        "*",
        F.size(_tokens(text_col)).alias("ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit(BPE_REGEX)).alias("bpe_tokens"),
    )


def shingles_expr(text_col: str, n: int, toks_col: str | None = None) -> str:
    """SQL expr: array of n-gram token shingles (space-joined).

    Guarded for docs shorter than n tokens — Spark's sequence(1, 0) counts
    DOWN ([1, 0]), so an unguarded expression would emit bogus shingles.

    ALWAYS pass `toks_col` (the name of a materialized token-array column)
    on a hot path: the token array is referenced inside the per-window
    lambda, and a non-attribute expression there is re-evaluated for EVERY
    window — the inline split() turns shingling quadratic in doc length
    (measured 15x slower on 2,000-token docs, BENCH/BASELINE.md
    "HOF-lambda re-evaluation"). The inline default survives only for
    oracle-parity snippets and tiny fixtures."""
    toks = toks_col or f"split({text_col},' ')"
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> array_join(slice({toks}, i, {n}), ' ')) "
        f"ELSE array() END"
    )


def _winnow_sel(df: DataFrame, text_col: str, k: int, w: int) -> DataFrame:
    """`df` plus the winnow selection columns: _toks (the tokens), _grams
    (md5 of each k-gram) and _sel (the distinct w-window minima)."""
    grams = (
        f"CASE WHEN size(_toks) >= {k} THEN "
        f"transform(sequence(1, size(_toks) - {k - 1}),"
        f" i -> md5(array_join(slice(_toks, i, {k}), ' '))) "
        f"ELSE array(md5({text_col})) END"
    )
    # Materialize each intermediate as a COLUMN: Spark does no
    # common-subexpression elimination inside lambdas, so inlining `grams`
    # into the per-window slice re-hashes the whole gram array once per
    # window (measured 20s -> sub-second at sf0.1). CollapseProject keeps
    # multi-referenced non-trivial columns materialized; _toks keeps the
    # per-gram slice from re-splitting the text (see shingles_expr).
    return (df.withColumn("_toks", F.expr(f"split({text_col},' ')"))
            .withColumn("_grams", F.expr(grams))
            # windows: j in 1..max(len-w+1, 1), each of size min(w, len)
            .withColumn("_sel", F.expr(
                f"array_distinct(transform("
                f" sequence(1, greatest(size(_grams) - {w - 1}, 1)),"
                f" j -> array_min(slice(_grams, j, least({w}, size(_grams))))))"
            )))


def winnow(df: DataFrame, text_col: str = "text", k: int = 4,
           w: int = 5) -> DataFrame:
    """Winnowing fingerprint (Schleimer/Wilkerson/Aiken, the MOSS scheme):
    hash every k-gram token shingle, slide a w-window over the hash
    sequence, keep each window's minimum — guarantees a shared fingerprint
    for any match of length >= w+k-1 tokens, shift-resistant where a single
    whole-document hash is not.

    Entirely JVM higher-order functions over one array per row — no
    shuffle, no Python, linear in document length; md5 hex strings compare
    lexicographically identically in Spark and the SQL oracle (leftmost-min
    tie-break via array_min). Docs with fewer than w k-grams collapse to
    one window over all grams; docs shorter than k tokens fingerprint the
    raw text. Output: n_fp (selected count) + fp_digest (md5 of the sorted
    selected set) — the set itself stays an internal array so the driver
    canon sees scalars."""
    return _winnow_sel(df, text_col, k, w).select(
        *df.columns,
        F.expr("size(_sel)").alias("n_fp"),
        F.expr("md5(array_join(array_sort(_sel), ''))").alias("fp_digest"),
    )


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 4,
                        w: int = 5) -> DataFrame:
    """The exploded form of :func:`winnow`: one row per (id, fp) selected
    fingerprint, n_fp carried — the join-able representation containment
    detection and cross-corpus fingerprint indexes need. The same
    selection as winnow (_winnow_sel), still zero-shuffle."""
    out = _winnow_sel(df, text_col, k, w)
    # explode_OUTER, deliberately: plain explode triggers Catalyst's
    # InferFiltersFromGenerate, which synthesizes `size(_sel) > 0` and
    # pushes it below the _toks/_grams projections — fully inlining the
    # gram-array CASE into the per-window lambda, i.e. rebuilding the
    # whole md5 gram array ONCE PER WINDOW inside the filter: O(L²) md5
    # per doc (measured 178s for 5k docs at sf0.1; 1.3s with outer).
    # _sel is never empty (greatest(..., 1) guarantees >= 1 window), so
    # outer generate is value-identical.
    return out.select(
        F.col(id_col),
        F.expr("size(_sel)").cast("int").alias("n_fp"),
        F.explode_outer("_sel").alias("fp"),
    )


def _max_run_expr(sorted_arr: str) -> str:
    """SQL expr: longest run of equal adjacent elements in a SORTED array =
    the count of the most frequent element — a per-row fold, no shuffle."""
    return (
        f"aggregate({sorted_arr},"
        f" named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
        f" (a, t) -> named_struct("
        f"   'prev', t,"
        f"   'run', IF(a.prev IS NULL OR t != a.prev, 1, a.run + 1),"
        f"   'best', greatest(a.best,"
        f"     IF(a.prev IS NULL OR t != a.prev, 1, a.run + 1))),"
        f" a -> a.best)"
    )


def _dup_count_expr(sorted_arr: str) -> str:
    """SQL expr: number of elements of a SORTED array whose value occurs more
    than once (counting every copy) — run==2 contributes both members,
    run>2 each further one."""
    return (
        f"aggregate({sorted_arr},"
        f" named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'dup', 0),"
        f" (a, t) -> named_struct("
        f"   'prev', t,"
        f"   'run', IF(a.prev IS NULL OR t != a.prev, 1, a.run + 1),"
        f"   'dup', a.dup + CASE WHEN a.prev IS NOT NULL AND t = a.prev"
        f"     THEN IF(a.run = 1, 2, 1) ELSE 0 END),"
        f" a -> a.dup)"
    )


def repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): the fraction
    of tokens claimed by the most frequent token / 2-gram / 3-gram, and the
    fraction of 2-grams that are duplicates. High values mark boilerplate
    and degenerate generations — the standard curation cut alongside
    `quality`.

    Entirely per-row JVM folds over sorted shingle arrays (array_sort +
    aggregate): no shuffle, no Python, linear in document length — the same
    execution shape as `winnow`. Fractions are token-count-based (the
    paper's character-weighted variants swap in by weighting each shingle
    with its length — same fold, one more struct field). Oracle: unnest +
    GROUP BY in DuckDB reproduces every count exactly."""
    # Materialize each SORTED shingle array as a shared column first: the
    # folds below are separate expressions, and Spark does no CSE across
    # them — inlining would re-build and re-sort g2 three times (top2, dup2,
    # n2) and g3 twice per row. Multi-referenced non-trivial columns survive
    # CollapseProject (the winnow lesson, 20.7s → 0.3s there).
    out = (
        df.withColumn("_toks", F.expr(f"split({text_col}, ' ')"))
        .withColumn("_g1", F.expr("array_sort(_toks)"))
        .withColumn("_g2", F.expr(
            f"array_sort({shingles_expr(text_col, 2, toks_col='_toks')})"))
        .withColumn("_g3", F.expr(
            f"array_sort({shingles_expr(text_col, 3, toks_col='_toks')})"))
    )
    out = (
        out.withColumn("_ntok", F.expr("size(_g1)"))
        .withColumn("_top1", F.expr(_max_run_expr("_g1")))
        .withColumn("_top2", F.expr(_max_run_expr("_g2")))
        .withColumn("_top3", F.expr(_max_run_expr("_g3")))
        .withColumn("_dup2", F.expr(_dup_count_expr("_g2")))
        .withColumn("_n2", F.expr("size(_g2)"))
        .withColumn("_n3", F.expr("size(_g3)"))
    )
    frac = lambda num, den: F.round(
        F.col(num) / F.greatest(F.col(den), F.lit(1)), 4)
    return out.select(
        *df.columns,
        F.col("_ntok").alias("n_tokens"),
        frac("_top1", "_ntok").alias("top_token_frac"),
        frac("_top2", "_n2").alias("top_2gram_frac"),
        frac("_top3", "_n3").alias("top_3gram_frac"),
        frac("_dup2", "_n2").alias("dup_2gram_frac"),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    distinct_preagg: bool = True) -> DataFrame:
    """LM-based quality scoring (the CCNet/Gopher perplexity filter), with a
    deterministic self-trained stand-in: per-doc mean -log2 p(token) under
    the corpus's own unigram distribution. Documents full of corpus-typical
    tokens score low bits/token; rare-token soup scores high — the same
    decision axis a KenLM 5-gram provides, oracle-able exactly.

    Production swap (same column contract, same gate pattern as
    lang_id_model): score with a pretrained KenLM inside a vectorized
    pandas UDF; `bits_per_token` keeps its meaning and the downstream
    threshold just retunes.

    Plan shape — two bit-identical variants, chosen by ``distinct_preagg``:

    * True (default): explode → (doc_id, tok) count — the join input is
      PER-DOC DISTINCT TOKENS, not per occurrence: "the" reaches the
      token-keyed shuffle once per document instead of once per use. On
      real Zipf text this cuts join input ~3-10× and, more importantly,
      BOUNDS any single token's join rows at n_docs — the hot-key skew
      guard a 10^12-doc corpus needs (the r3 plan audit item).
    * False: occurrences join directly (one less shuffle). On LOW-
      repetition corpora the pre-agg shrinks nothing and is pure cost —
      the r5 quiet-box 5M ladder measured 30.5s per-occurrence vs 44.8s
      pre-agg (~1.5×) on the uniform synthetic fixture
      (BENCH/BASELINE.md "lm_bits 5M re-measure"). Use when per-doc token
      repetition is known to be low AND the token distribution is not
      heavily skewed.

    Either way the vocab is the sum of partial counts and the per-doc
    score a (count-weighted) mean — outputs are bit-identical (pytest-
    pinned). All linear; the vocabulary count table is corpus-bounded,
    never collected."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    if distinct_preagg:
        units = toks.groupBy("doc_id", "tok").agg(
            F.count(F.lit(1)).alias("tc"))
    else:
        units = toks.withColumn("tc", F.lit(1).cast("long"))
    vocab = units.groupBy("tok").agg(F.sum("tc").alias("c"))
    total = vocab.agg(F.sum("c").alias("n"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "tok", F.log2(F.col("c") / F.col("n")).alias("lp"))
    return (
        units.join(logp, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("tc").alias("n_scored"),
            F.round(F.sum(F.col("tc") * -F.col("lp")) / F.sum("tc"), 4)
             .alias("bits_per_token"),
        )
    )


def ngram_counts(docs: DataFrame, n: int = 3, min_count: int = 1,
                 text_col: str = "text") -> DataFrame:
    """KenLM-style n-gram count table with count pruning — the artifact an
    LM-filter pipeline actually trains (CCNet builds its KenLM from these
    counts; contamination scans and repetition stats are the same table at
    different n). Output: (ngram, cnt) with cnt >= min_count.

    Plan shape: the gram list is built per row by one JVM higher-order
    expression (no Python, no shuffle), and the only wide operation is the
    partial+final count on the gram key — vocab_topk's shape generalized,
    combiner-friendly, with min_count pruning cutting the long Zipf tail
    BEFORE it is ever written (KenLM's own pruning rationale: singleton
    n-grams dominate the table but carry no filter signal).

    Guard: Spark's sequence(1, k) DESCENDS for k < 1, so short docs go
    through an explicit empty-array branch instead."""
    grams = (
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(1, size(toks) - {n} + 1), "
        f"i -> array_join(slice(toks, i, {n}), ' ')) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return (
        docs.select(F.filter(F.split(F.col(text_col), " "),
                             lambda t: F.length(t) > 0).alias("toks"))
        .select(F.explode(F.expr(grams)).alias("ngram"))
        .groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def bpe_pair_counts(docs: DataFrame, k: int = 200,
                    text_col: str = "text") -> DataFrame:
    """Corpus-scale BPE merge induction, step 1 (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units"): the
    top-k adjacent-character-pair counts that the first BPE merge would
    choose from — the inner-loop statistic of tokenizer training, computed
    the way real BPE trainers do it: over the DISTINCT-WORD count table,
    not the raw token stream.

    Plan shape: (1) one partial+final count collapses the corpus to its
    Zipf-bounded vocabulary (the only pass that touches every token);
    (2) adjacent pairs come from a transform over sequence(1, len-1) with
    substring(word, i, 1) in the lambda — `word` is an ATTRIBUTE there, so
    each probe is O(1) (the shingle-kernel lesson); (3) pair counts weight
    by word frequency in a second combiner-friendly agg; (4) top-k plans
    as TakeOrderedAndProject (never a global sort), with (cnt desc, pair)
    ordering so ties at rank k are deterministic across engines.

    Output: (pair, cnt) — pair as 'left right' with a space, the merge
    candidate format."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = (
        f"CASE WHEN length(w) >= 2 THEN "
        f"transform(sequence(1, length(w) - 1), "
        f"i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    return (
        words.select(F.explode(F.expr(pairs)).alias("pair"), "c")
        .groupBy("pair").agg(F.sum("c").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(k)
    )


def bpe_word_syms(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The trainer's state table: (syms: array<string>, c: long) — one
    row per DISTINCT word with its corpus frequency, symbols initialized
    to characters. The word count is the only corpus-linear pass in BPE
    training (partial+final agg, vocab_topk's shape)."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        .select(F.split("w", "").alias("syms"), "c")
    )


def bpe_best_pair(syms: DataFrame) -> DataFrame:
    """One merge round's statistic: the (cnt desc, pair asc) argmax over
    adjacent symbol pairs, frequency-weighted. Pairs come from a JVM
    slice-zip (no posexplode/sequence), the count partial-aggregates on
    the pair key, and the argmax plans as TakeOrderedAndProject — 1 row
    to the driver, never a global sort."""
    zip_pairs = F.expr(
        "transform(arrays_zip(slice(syms, 1, size(syms) - 1), "
        "slice(syms, 2, size(syms) - 1)), p -> concat(p['0'], ' ', p['1']))"
    )
    return (
        syms.filter(F.size("syms") >= 2)
        .select(F.explode(zip_pairs).alias("pair"), "c")
        .groupBy("pair").agg(F.sum("c").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(1)
    )


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent pair (a, b) in a symbol
    array — one JVM `aggregate` fold, exactly re.sub's non-overlapping
    scan semantics ([a,a,a] with (a,a) -> [aa,a], never [a,aa]). The fold
    never re-merges its own output: the merged token is strictly longer
    than `a`, so `element_at(acc, -1) = a` cannot match it. Catalyst's
    `And` short-circuits left-to-right, so the `size > 0` guard makes the
    `element_at(acc, -1)` probe safe on the empty accumulator under ANSI."""
    merged = a + b
    return F.aggregate(
        syms, F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(docs: DataFrame, n_merges: int = 4,
              text_col: str = "text") -> DataFrame:
    """Full BPE merge-table training (Sennrich et al. 2016) — the loop
    `bpe_pair_counts` is one statistic of: at each step pick the most
    frequent adjacent symbol pair over the word-frequency table
    (tie-break: cnt desc, pair asc — deterministic across engines), merge
    it greedily in every word, repeat. Output is the tokenizer's
    merges.txt: (step, pair, cnt, token), one row per learned merge.

    Plan shape — the 100 TB story is that only step 0 touches the corpus:
    (1) ONE partial+final count collapses the token stream to its
    Zipf-bounded distinct-word table (identical shape to vocab_topk —
    combiner-friendly, the only corpus-linear pass); (2) each merge round
    runs entirely on that |V|-bounded table: a slice-zip pair explode +
    one (pair)-keyed partial agg + a TakeOrderedAndProject argmax (1 row
    to the driver — bounded, the centroid-literal pattern), then a narrow
    `aggregate`-fold rewrite with the chosen pair as plan literals (no
    shuffle, no Python); (3) `localCheckpoint` per round cuts the growing
    fold lineage — the connected_components lesson. The interpreted-HOF
    variance pathology (BENCH session-9, lang_segments) does not apply:
    the fold runs over |V| short words, never the corpus token stream.

    At production merge counts (~30k) the same first pass is where the
    scale lives — real trainers (SentencePiece, HF tokenizers) also train
    on the collapsed word-count table, which after pass (1) fits one node
    (Zipf: ~10-100M rows at 100 TB), so deployment swaps rounds 2..30k for
    a driver/single-node heap trainer fed by the SAME word-count job; the
    distributed rounds here keep every step oracle-able in SQL.

    Extends the reference's scope (SURVEY §2.6 gap analysis): logport
    ships text but never tokenizes it; a Common-Crawl LLM pipeline trains
    its tokenizer from exactly this table."""
    spark = docs.sparkSession
    syms = bpe_word_syms(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[int, str, int, str]] = []
    for step in range(1, n_merges + 1):
        best = bpe_best_pair(syms).collect()
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        a, b = pair.split(" ")
        merges.append((step, pair, cnt, a + b))
        syms = (
            syms.select(_merge_pair(F.col("syms"), a, b).alias("syms"), "c")
            .localCheckpoint(eager=True)
        )
    return spark.createDataFrame(
        merges, "step int, pair string, cnt long, token string"
    ).orderBy("step")


def bpe_apply(text_col: Column, merges: list[tuple[str, str]]) -> Column:
    """Apply a learned BPE merge table to a document in ONE zero-shuffle
    codegen pass: pad the text so every character is a symbol bounded by
    spaces — two spaces between symbols inside a word, and the original
    space character becomes a symbol of its own (so a word boundary is a
    run of >= 5 spaces no two-symbol needle can cross) — then each merge
    (a, b) is one literal string `replace` of ``' a  b '`` with
    ``' ab '``.

    Literal left-to-right non-overlapping replacement is exactly the
    greedy BPE merge scan (`_merge_pair`'s fold semantics: [a,a,a] with
    (a,a) -> [aa, a], and the merged token never re-merges in its own
    round because matching resumes after the replacement) — pinned
    against the fold by test. The replacement keeps the invariant (every
    symbol still bounded by single spaces, >= 2 between symbols), so the
    next round's needle stays exact. No vocab join (and so no hot-token
    shuffle skew), no interpreted HOF over the token stream (the
    session-9 variance rule): the whole chain is StringReplace inside
    one WholeStageCodegen span.

    Returns the flat piece array: split the result on runs of >= 2
    spaces (word-boundary runs just disappear — the space symbol is
    never a token). At production merge counts (~30k) a chained-replace
    plan is no longer viable; the swap-point is a pandas-UDF word-trie
    encoder over the DISTINCT-WORD table joined back by word (AQE
    skew-join splits the hot-token partitions) — same output contract,
    this form keeps every step SQL-oracle-able."""
    padded = F.concat(F.lit(" "),
                      F.array_join(F.split(text_col, ""), "  "),
                      F.lit(" "))
    for a, b in merges:
        padded = F.replace(padded, F.lit(f" {a}  {b} "),
                           F.lit(f" {a}{b} "))
    return F.split(F.trim(padded), " {2,}")


def bpe_encode(docs: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text", id_col: str = "doc_id",
               head: int = 12) -> DataFrame:
    """Tokenize the corpus with a trained BPE merge table — the encode
    step between `bpe_train` (learn merges) and `pack_sequences` (pack
    token counts into training windows). Per doc: word count, encoded
    piece count, and the first `head` pieces (space-joined) as the
    value-checkable sample of the actual token stream.

    Plan shape: one corpus-linear scan, zero shuffles before the final
    per-doc projection (`bpe_apply` is a pure codegen replace chain over
    a padded copy of the text; the ~3x transient inflation never
    materializes). Docs with zero space-split tokens are absent (the
    lm_bits convention). Extends the reference's scope: logport ships
    text; an LLM pipeline must tokenize it with the tokenizer it just
    trained."""
    toks = F.filter(F.split(F.col(text_col), " "),
                    lambda w: F.length(w) > 0)
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.size(toks).cast("long").alias("n_words"),
                    bpe_apply(F.col(text_col), merges).alias("pieces"))
        .filter(F.col("n_words") >= 1)
        .select("doc_id", "n_words",
                F.size("pieces").cast("long").alias("n_pieces"),
                F.array_join(F.slice("pieces", 1, head), " ")
                .alias("head_pieces"))
    )


def bigram_logprob(docs: DataFrame, ref: DataFrame | None = None,
                   alpha: float = 0.4, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Bigram LM quality score with stupid backoff (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the strictly
    sharper version of unigram_logprob's CCNet-style filter: per-doc mean
    -log2 S(w2|w1) over the doc's token transitions, where
    S(w2|w1) = c(w1 w2)/c(w1) if the bigram is in the model else
    alpha * c(w2)/N. Counts train on `ref` (default: the corpus itself —
    fully oracle-able; with a held-out reference the backoff branch goes
    live, same plan).

    Plan shape: transitions come from a zip of two array slices (JVM, no
    sequence/posexplode), and every join input is PER-DOC DISTINCT
    transitions/tokens — the unigram_logprob lesson applied from the
    start, so "of the" crosses the (w1, w2)-keyed shuffle once per doc,
    not once per use. Three token-keyed hash joins (bigram, w1-count,
    w2-count), all partial-aggregated, all linear in corpus size.

    Docs with < 2 tokens have no transitions and are absent from the
    output (n_scored would be 0). A w2 unseen in `ref` backs off with
    pseudo-count 1 (the KenLM-unk analogue) — a null there would be
    silently skipped by sum() and dilute the mean. Output: (doc_id,
    n_scored, bits_per_token) — lm_bits' column contract at bigram
    order."""
    def _pairs(df: DataFrame) -> DataFrame:
        toks = F.filter(F.split(F.col(text_col), " "),
                        lambda t: F.length(t) > 0)
        z = ("arrays_zip(slice(toks, 1, size(toks) - 1), "
             "slice(toks, 2, size(toks) - 1))")
        return (
            df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
            .filter(F.size("toks") >= 2)
            .select("doc_id", F.explode(F.expr(z)).alias("p"))
            .select("doc_id", F.col("p.0").alias("w1"),
                    F.col("p.1").alias("w2"))
        )

    ref_pairs = _pairs(ref) if ref is not None else None
    doc_pairs = _pairs(docs).groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tc"))
    train = (ref_pairs.groupBy("w1", "w2").agg(
                 F.count(F.lit(1)).alias("c12"))
             if ref_pairs is not None else
             doc_pairs.groupBy("w1", "w2").agg(F.sum("tc").alias("c12")))
    ref_toks = ((ref if ref is not None else docs).select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.length("tok") > 0))
    uni = ref_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").alias("n"))
    scored = (
        doc_pairs
        .join(train, ["w1", "w2"], "left")
        .join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")),
              "w1", "left")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")),
              "w2", "left")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "lp",
            F.when(F.col("c12").isNotNull(),
                   F.log2(F.col("c12") / F.col("c1")))
            .otherwise(F.log2(F.lit(alpha)
                              * F.coalesce(F.col("c2"), F.lit(1))
                              / F.col("n"))))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tc").alias("n_scored"),
            F.round(F.sum(F.col("tc") * -F.col("lp")) / F.sum("tc"), 4)
             .alias("bits_per_token"),
        )
    )


def lm_buckets(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               strata_col: str | None = "lang") -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    split each language's documents into head / middle / tail terciles of
    LM bits-per-token. CCNet keeps `head` (and often `middle`) as the
    quality-filtered corpus; the bucket column is the mixture knob.

    Composes unigram_logprob (the oracle-able LM stand-in; lm_bits_model
    is the KenLM-gated swap with the identical column contract) with
    per-stratum EXACT percentile cuts: the cut table is O(strata) rows —
    computed with one tiny partial+final agg and broadcast back, so the
    doc stream pays one hash join against a 2-double row per language and
    no extra shuffle beyond unigram_logprob's own. At 10^12 docs CCNet
    computes these cuts from a sample; the exact percentile here is the
    same single-pass JVM `percentile` that event_value_quantiles pins
    against quantile_cont.

    Output: (doc_id, [strata], bits_per_token, bucket)."""
    scores = unigram_logprob(docs, text_col=text_col, id_col=id_col)
    if strata_col is not None:
        scores = scores.join(
            docs.select(F.col(id_col).alias("doc_id"), strata_col), "doc_id")
        grp = scores.groupBy(strata_col)
        join_on = [strata_col]
    else:
        grp = scores.groupBy()
        join_on = []
    cuts = grp.agg(
        F.percentile("bits_per_token", 1.0 / 3).alias("cut_head"),
        F.percentile("bits_per_token", 2.0 / 3).alias("cut_mid"),
    )
    joined = (scores.join(F.broadcast(cuts), join_on)
              if join_on else scores.crossJoin(F.broadcast(cuts)))
    return joined.select(
        "doc_id", *join_on, "bits_per_token",
        F.when(F.col("bits_per_token") <= F.col("cut_head"), F.lit("head"))
         .when(F.col("bits_per_token") <= F.col("cut_mid"), F.lit("middle"))
         .otherwise(F.lit("tail")).alias("bucket"),
    )


PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_IPV4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
PII_CARD = "\\b[0-9]{13,16}\\b"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction: emails, IPv4 addresses, long card-like
    digit runs — counted with `regexp_count` and replaced with typed
    placeholder tags, all JVM regex (patterns are RE2-safe: no
    backreferences/lookarounds, so the DuckDB oracle runs them verbatim).

    Generalizes the reference's commented-out scrub hook
    (src/Watch.cc:381-396, a card-number substring guard) into the
    curation-stage scrubber a web corpus needs; replacement order
    (email → ipv4 → card) is part of the contract since a card pattern can
    match digits inside neither of the others but tags must not cascade."""
    c = F.col(text_col)
    out = df.select(
        "*",
        F.regexp_count(c, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(c, F.lit(PII_IPV4)).alias("n_ipv4"),
        F.regexp_count(c, F.lit(PII_CARD)).alias("n_cards"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL, "[EMAIL]"),
            PII_IPV4, "[IPV4]"),
        PII_CARD, "[CARD]")
    return out.withColumn("redacted", red).withColumn(
        "has_pii",
        (F.col("n_emails") + F.col("n_ipv4") + F.col("n_cards")) > 0)


def fingerprint(df: DataFrame, text_col: str = "text", n: int = 5) -> DataFrame:
    """Document fingerprint: lexicographic-min md5 over token n-gram shingles
    (a deterministic winnowing-style rolling-hash selection; md5 is identical
    in the JVM and the SQL oracle). Short docs (<n tokens) → md5 of text."""
    # tokens then the shingle array materialize as columns: _sh is
    # referenced twice (fingerprint + n_shingles) and the lambda reads
    # only attributes (see shingles_expr)
    sh = shingles_expr(text_col, n, toks_col="_toks")
    fp = F.expr(
        f"coalesce(array_min(transform(_sh, s -> md5(s))), md5({text_col}))"
    )
    return (
        df.withColumn("_toks", F.expr(f"split({text_col},' ')"))
        .withColumn("_sh", F.expr(sh))
        .select(*df.columns, fp.alias("fingerprint"),
                F.expr("size(_sh)").alias("n_shingles"))
    )


# ------------------------------------------- capability-gated model paths --
#
# The heuristic columns above are the oracle CONTRACT; these are the
# production swap points the module docstring promises, with the same
# capability-gate pattern as multimodal.decode_media: a probe for the real
# library (absent in this container), a deterministic fake that exercises
# the full Arrow/pandas-UDF plumbing in tests, and zero code edits needed on
# a cluster where the library exists.


def _fasttext_available() -> bool:
    """Capability probe: real language ID needs fastText (absent here)."""
    import importlib.util

    return importlib.util.find_spec("fasttext") is not None


def _hf_tokenizers_available() -> bool:
    """Capability probe: real BPE counting needs HF tokenizers (absent here)."""
    import importlib.util

    return importlib.util.find_spec("tokenizers") is not None


def _kenlm_available() -> bool:
    """Capability probe: real LM perplexity needs kenlm (absent here)."""
    import importlib.util

    return importlib.util.find_spec("kenlm") is not None


def fake_lm_bits_py(text: str | None) -> float | None:
    """Deterministic stand-in LM scorer for plumbing tests: per-token
    'bits' from a tiny rolling byte hash (0..16), averaged — stable across
    partitionings/batch shapes, NULL-safe, no model file. NOT a quality
    signal; the oracle contract for quality is unigram_logprob."""
    toks = [t for t in (text or "").split(" ") if t]
    if not toks:
        return None
    bits = [1.0 + (sum((i + 1) * b for i, b in enumerate(t.encode())) % 16)
            for t in toks]
    return round(sum(bits) / len(bits), 4)


def heuristic_lang_py(text: str | None) -> str:
    """Pure-Python mirror of lang_id's JVM expression (argmax marker hits,
    lexicographic tiebreak, 'und' on zero) — the fake model for plumbing
    tests, asserted equal to the JVM column in pytest."""
    toks = (text or "").split(" ")
    scores = {lang: sum(1 for t in toks if t in set(markers))
              for lang, markers in LANG_MARKERS.items()}
    best = max(scores.values()) if scores else 0
    if best <= 0:
        return "und"
    return min(l for l, s in scores.items() if s == best)


def lang_id_model(df: DataFrame, text_col: str = "text",
                  model_path: str | None = None, fake: bool = False) -> DataFrame:
    """Language ID via a vectorized pandas UDF — the fastText swap point.

    Adds `pred_lang` (same contract as the heuristic `lang_id`). With
    fake=True the UDF runs heuristic_lang_py per batch — real Arrow
    batching, real NULL handling, deterministic answer. Without fake, the
    probe gates on fastText: present → model loaded once per executor
    process and reused across batches; absent → NotImplementedError."""
    import pandas as pd  # noqa: F401 (UDF-side)

    if not fake and not _fasttext_available():
        raise NotImplementedError(
            "lang_id_model requires fastText — not available in this "
            "container; pass fake=True for the deterministic fake model, or "
            "use the heuristic lang_id() (the oracle contract)"
        )

    @F.pandas_udf("string")
    def _pred(texts):  # pd.Series -> pd.Series
        if fake:
            return texts.map(heuristic_lang_py)
        # pragma: no cover — model libs absent in this container
        global _FT_MODEL
        try:
            _FT_MODEL
        except NameError:
            import fasttext

            _FT_MODEL = fasttext.load_model(model_path or "lid.176.bin")
        labels, _ = _FT_MODEL.predict(
            [(t or "").replace("\n", " ") for t in texts.tolist()])
        return __import__("pandas").Series(
            [ls[0].removeprefix("__label__") if ls else "und" for ls in labels])

    return df.withColumn("pred_lang", _pred(F.col(text_col)))


def token_counts_model(df: DataFrame, text_col: str = "text",
                       tokenizer_json: str | None = None,
                       fake: bool = False) -> DataFrame:
    """BPE token counting via a vectorized pandas UDF — the HF tokenizers
    swap point. Adds `bpe_tokens` (same contract as token_counts). fake=True
    counts BPE_REGEX matches in Python (asserted equal to the JVM
    regexp_count in pytest); otherwise gates on the tokenizers package."""
    if not fake and not _hf_tokenizers_available():
        raise NotImplementedError(
            "token_counts_model requires HF tokenizers — not available in "
            "this container; pass fake=True for the regex fake, or use "
            "token_counts() (the oracle contract)"
        )

    @F.pandas_udf("int")
    def _count(texts):  # pd.Series -> pd.Series
        if fake:
            import re

            rx = re.compile(BPE_REGEX)
            return texts.map(lambda t: len(rx.findall(t or "")))
        # pragma: no cover — model libs absent in this container
        global _HF_TOK
        try:
            _HF_TOK
        except NameError:
            from tokenizers import Tokenizer

            _HF_TOK = Tokenizer.from_file(tokenizer_json)
        return __import__("pandas").Series(
            [len(e.ids) for e in _HF_TOK.encode_batch(
                [(t or "") for t in texts.tolist()])])

    return df.withColumn("bpe_tokens", _count(F.col(text_col)))


def lm_bits_model(df: DataFrame, text_col: str = "text",
                  model_path: str | None = None, fake: bool = False) -> DataFrame:
    """LM perplexity scoring via a vectorized pandas UDF — the KenLM swap
    point `unigram_logprob`'s docstring promises. Adds `bits_per_token`
    (same column contract as the self-trained unigram stand-in, so the
    downstream quality threshold just retunes). fake=True scores with
    fake_lm_bits_py per Arrow batch (real batching, real NULL handling,
    deterministic); otherwise gates on the kenlm package — present → the
    .arpa/.bin model is loaded once per executor process and reused across
    batches (CCNet's wiki-LM filter shape), absent → NotImplementedError."""
    if not fake and not _kenlm_available():
        raise NotImplementedError(
            "lm_bits_model requires kenlm — not available in this "
            "container; pass fake=True for the deterministic fake scorer, "
            "or use unigram_logprob() (the oracle contract)"
        )

    @F.pandas_udf("double")
    def _score(texts):  # pd.Series -> pd.Series
        if fake:
            return texts.map(fake_lm_bits_py)
        # pragma: no cover — model libs absent in this container
        global _KENLM
        try:
            _KENLM
        except NameError:
            import kenlm

            _KENLM = kenlm.Model(model_path)
        import math

        import pandas as pd

        out = []
        for t in texts.tolist():
            toks = [w for w in (t or "").split(" ") if w]
            if not toks:
                out.append(None)
                continue
            # kenlm.score returns log10 prob of the whole sentence
            out.append(-_KENLM.score(" ".join(toks)) / len(toks)
                       / math.log10(2.0))
        return pd.Series(out)

    return df.withColumn("bits_per_token", _score(F.col(text_col)))


# ------------------------------------------------------ domain-level view --


def vocab_coverage(docs: DataFrame, vocab: DataFrame,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document OOV rate against a vocabulary table — the tokenizer-QA
    pass before training (how much of each doc a fixed vocab covers; docs
    with high OOV under the production tokenizer are wrong-language,
    encoding-mangled, or code — and token-budget math breaks on them).
    `vocab` is a 1-column `tok` DataFrame (tokenizer vocab, frequency cut,
    or :func:`logport_spark.operators.dedup.vocab_topk`'s output).

    Plan shape: the join input is PER-DOC DISTINCT tokens with counts (the
    unigram_logprob lesson — "the" crosses once per doc, not per use), the
    vocab joins as a BROADCAST left join (vocabularies are ~10^5-10^6 rows
    — executor-memory-sized at any corpus scale), and the per-doc sums are
    one partial+final aggregation on the id. Two corpus-sized shuffles
    total, both id/token-keyed, no skew beyond the blunted token key.

    Output: (id, n_tokens, n_oov, oov_frac) with oov_frac rounded to 4
    (the float contract every scored operator here uses)."""
    tk = (
        docs.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    )
    v = F.broadcast(vocab.select("tok").distinct()
                    .withColumn("_in", F.lit(1)))
    return (
        tk.join(v, "tok", "left")
        .groupBy(id_col)
        .agg(F.sum("cnt").alias("n_tokens"),
             F.sum(F.when(F.col("_in").isNull(), F.col("cnt"))
                    .otherwise(F.lit(0))).alias("n_oov"))
        .select(F.col(id_col), "n_tokens", "n_oov",
                F.round(F.col("n_oov") / F.col("n_tokens"), 4)
                 .alias("oov_frac"))
    )


def domain_stats(docs: DataFrame, domain_col: str = "source") -> DataFrame:
    """Per-domain corpus statistics — the aggregation level web curation
    actually acts at (refinedweb/Gopher both gate whole domains: one spam
    domain poisons every page it serves). One partial-aggregating shuffle
    on the domain key; the distinct-lang count is Spark's two-phase
    distinct aggregate, still combiner-friendly.

    Columns: n_docs, mean_chars, n_langs, short_frac (docs under 100
    chars — the boilerplate/stub-page tell)."""
    return docs.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("mean_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg((F.col("n_chars") < 100).cast("double")), 4)
         .alias("short_frac"),
    )


def corpus_datacard(docs: DataFrame, dims: tuple[str, str] = ("lang", "source"),
                    text_col: str = "text") -> DataFrame:
    """Corpus data card — the per-(lang × domain) composition table every
    training-corpus release publishes (docs/tokens/chars per cell PLUS
    per-lang, per-domain, and grand-total margins), produced in ONE pass
    with CUBE grouping sets: Spark's Expand emits the 4 grouping-set rows
    per input row map-side and the single shuffle partial-aggregates them,
    so the margins cost no extra scan or join. Margin rows label the
    rolled-up dimension 'ALL' via GROUPING() (distinguishable from a real
    NULL value in the data).

    tokens = non-empty whitespace tokens (the token_stats convention);
    tokens_per_doc rounded to 4 for the cross-engine value contract."""
    d0, d1 = dims
    n_toks = F.size(F.filter(F.split(F.col(text_col), " "),
                             lambda x: F.length(x) > 0))
    cube = docs.select(F.col(d0), F.col(d1),
                       n_toks.alias("_t"), F.length(text_col).alias("_c"))
    out = (cube.cube(d0, d1)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("_t").alias("tokens"),
                F.sum("_c").alias("chars"),
                F.round(F.avg("_t"), 4).alias("tokens_per_doc"),
                F.grouping(d0).alias("_g0"), F.grouping(d1).alias("_g1")))
    return out.select(
        F.when(F.col("_g0") == 1, F.lit("ALL")).otherwise(F.col(d0)).alias(d0),
        F.when(F.col("_g1") == 1, F.lit("ALL")).otherwise(F.col(d1)).alias(d1),
        "n_docs", "tokens", "chars", "tokens_per_doc",
    )


def domain_filter(docs: DataFrame, min_docs: int = 1,
                  min_mean_chars: float = 0.0,
                  max_short_frac: float = 1.0,
                  domain_col: str = "source") -> DataFrame:
    """Domain-level gate: drop EVERY document of a failing domain. The
    verdict table is domain-sized (tiny next to the corpus), so the drop
    set broadcasts and the doc stream is filtered without a shuffle —
    the same broadcast-anti-join shape as route resolution."""
    bad = domain_stats(docs, domain_col).filter(
        (F.col("n_docs") < min_docs)
        | (F.col("mean_chars") < min_mean_chars)
        | (F.col("short_frac") > max_short_frac)
    ).select("domain")
    return docs.join(
        F.broadcast(bad), docs[domain_col] == bad["domain"], "left_anti")


def domain_kl(docs: DataFrame, group_col: str = "source",
              text_col: str = "text") -> DataFrame:
    """Per-domain token-distribution drift: KL(P_domain || P_corpus) in
    bits over the unigram distributions. The composition-monitoring signal
    a corpus release tracks — a domain whose language stops resembling the
    corpus (spam injection, template rot, scraper drift between snapshots)
    shows up as a KL spike long before any single-doc gate fires; it is
    also the corpus-level dual of dsir_weights' per-doc log-ratio score.

    Output: (domain, n_tokens, n_types, kl_bits) — kl_bits >= 0, 0 iff the
    domain's unigram distribution equals the corpus's.

    Plan shape, all linear: one shuffle on (domain, tok) for the per-domain
    counts; the corpus distribution is the SUM of those partial counts
    (second shuffle on tok, vocab-sized input, never re-reads the corpus);
    the per-domain totals join is domain-cardinality-sized. Every KL term
    is pure IEEE arithmetic (divide, log2, multiply) and the per-domain sum
    is rounded to 4 decimals — the repo's cross-engine float contract.
    No Python, nothing collected."""
    tok = docs.select(
        F.col(group_col).alias("domain"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    gc = tok.groupBy("domain", "tok").agg(F.count(F.lit(1)).alias("gc"))
    gtot = gc.groupBy("domain").agg(F.sum("gc").alias("gn"),
                                    F.count(F.lit(1)).alias("n_types"))
    cc = gc.groupBy("tok").agg(F.sum("gc").alias("cc"))
    ctot = cc.agg(F.sum("cc").alias("cn"))
    term = (
        gc.join(gtot, "domain")
        .join(cc, "tok")
        .crossJoin(F.broadcast(ctot))
        .select(
            "domain", "gn", "n_types",
            ((F.col("gc") / F.col("gn"))
             * F.log2((F.col("gc") / F.col("gn"))
                      / (F.col("cc") / F.col("cn")))).alias("t"),
        )
    )
    return (
        term.groupBy("domain")
        .agg(F.first("gn").alias("n_tokens"),
             F.first("n_types").alias("n_types"),
             F.round(F.sum("t"), 4).alias("kl_bits"))
    )


def domain_terms(docs: DataFrame, k: int = 10, alpha0: float = 100.0,
                 group_col: str = "source",
                 text_col: str = "text") -> DataFrame:
    """Per-domain distinctive vocabulary: top-k tokens by the log-odds
    z-score of Monroe et al. 2008 ("Fightin' Words"), with the corpus as
    the informative Dirichlet prior (alpha0 pseudo-tokens spread by corpus
    rate). domain_kl says HOW MUCH a domain's language drifts; this says
    WHICH terms drive it — the data-card / spam-triage artifact.

    z = delta / sqrt(var), where delta is the prior-smoothed log-odds of
    the token in the domain vs the rest of the corpus and
    var ~ 1/(c_dw + a_w) + 1/(c_rest_w + a_w). Output:
    (domain, rank, tok, z) with rank 1..k by (rounded z desc, tok asc) —
    ranking on the ROUNDED score, the repo's cross-engine contract.

    Plan shape: same skeleton as domain_kl — one (domain, tok) corpus
    shuffle, corpus counts summed from the partials, rest = corpus minus
    domain computed per row; the rank window partitions by domain over
    per-domain vocabularies (bounded by the corpus vocabulary — the
    Zipf ceiling, not the corpus). All IEEE arithmetic (ln, sqrt,
    divide), no Python, nothing collected."""
    tok = docs.select(
        F.col(group_col).alias("domain"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    gc = tok.groupBy("domain", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("cdw"))
    gtot = gc.groupBy("domain").agg(F.sum("cdw").alias("nd"))
    cc = gc.groupBy("tok").agg(F.sum("cdw").alias("cw"))
    ctot = cc.agg(F.sum("cw").alias("n"))

    j = (gc.join(gtot, "domain")
         .join(cc, "tok")
         .crossJoin(F.broadcast(ctot)))
    aw = F.lit(alpha0) * F.col("cw") / F.col("n")
    crw = F.col("cw") - F.col("cdw")          # rest-of-corpus count
    nr = F.col("n") - F.col("nd")
    delta = (
        F.log((F.col("cdw") + aw)
              / (F.col("nd") + F.lit(alpha0) - F.col("cdw") - aw))
        - F.log((crw + aw) / (nr + F.lit(alpha0) - crw - aw))
    )
    var = 1.0 / (F.col("cdw") + aw) + 1.0 / (crw + aw)
    scored = j.select(
        "domain", "tok", F.round(delta / F.sqrt(var), 4).alias("z"))
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy(
        F.col("z").desc(), F.col("tok").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("domain", "rank", "tok", "z"))


def gopher_signals(df: DataFrame, text_col: str = "text",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   max_bullet_frac: float = 0.9,
                   max_ellipsis_frac: float = 0.3,
                   min_alpha_word_frac: float = 0.8) -> DataFrame:
    """The REMAINING Gopher Table-A1 document rules (Rae et al. 2021 —
    the ones `quality` and `repetition` don't already cover): word-count
    bounds, mean word length 3-10, symbol-to-word ratio (# and ellipsis)
    ≤ 0.1, ≤ 90% of lines starting with a bullet, ≤ 30% ending in
    ellipsis, ≥ 80% of words containing an alphabetic character. Adds
    the signal columns plus a combined `gopher_pass` verdict; thresholds
    are args because Table A1's constants assume web-article lengths
    (a short-doc fixture pins its own).

    Shape: per-row JVM expressions only — token/line arrays materialize
    once as shared columns (the repetition lesson: folds have no CSE
    across expressions), everything else is filter/aggregate over them;
    zero shuffle, zero Python, linear in document length."""
    ell = "'…'"  # the Unicode ellipsis char literal ('...' counted
    # separately; NOT chr(8230) engine-side: Spark's chr() is mod-256)
    out = (
        df.withColumn("_toks", F.expr(
            f"filter(split({text_col}, ' '), t -> t != '')"))
        .withColumn("_lines", F.expr(
            f"filter(split({text_col}, '\\n'), l -> l != '')"))
        .withColumn("_nw", F.expr("size(_toks)"))
        .withColumn("_nl", F.expr("size(_lines)"))
        .withColumn("_wlen", F.expr(
            "aggregate(_toks, 0, (a, t) -> a + length(t))"))
        .withColumn("_alpha", F.expr(
            "size(filter(_toks, t -> t rlike '[a-zA-Z]'))"))
        .withColumn("_bullet", F.expr(
            "size(filter(_lines, l -> l like '- %' or l like '* %'"
            f" or l like concat({ell}, ' %') or l like '• %'))"))
        .withColumn("_elll", F.expr(
            f"size(filter(_lines, l -> l like '%...' or"
            f" l like concat('%', {ell})))"))
        .withColumn("_nsym", F.expr(
            f"(length({text_col})"
            f" - length(replace({text_col}, '#', '')))"
            f" + cast((length({text_col})"
            f" - length(replace({text_col}, '...', ''))) / 3 as int)"
            f" + (length({text_col})"
            f" - length(replace({text_col}, {ell}, '')))"))
    )
    g1 = F.greatest(F.col("_nw"), F.lit(1))
    gl = F.greatest(F.col("_nl"), F.lit(1))
    sig = (
        out.withColumn("n_words", F.col("_nw").cast("long"))
        .withColumn("mean_word_len", F.round(F.col("_wlen") / g1, 4))
        .withColumn("symbol_ratio", F.round(F.col("_nsym") / g1, 4))
        .withColumn("bullet_line_frac", F.round(F.col("_bullet") / gl, 4))
        .withColumn("ellipsis_line_frac", F.round(F.col("_elll") / gl, 4))
        .withColumn("alpha_word_frac", F.round(F.col("_alpha") / g1, 4))
    )
    gate = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
    )
    return sig.select(
        *df.columns, "n_words", "mean_word_len", "symbol_ratio",
        "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
        gate.alias("gopher_pass"))


def lang_segments(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  mixed_below: float = 0.8) -> DataFrame:
    """Per-LINE language segmentation rolled up to a document verdict —
    the CCNet move (Wenzek et al. 2020 split documents into paragraphs
    and language-ID each one) that catches what whole-document lang-ID
    can't: boilerplate-wrapped translations, bilingual forums, and
    quote-heavy pages where the dominant language is not the only one.

    Each non-empty line gets the same marker-argmax heuristic as
    :func:`lang_id` (ties → lexicographically smallest language, no
    markers → 'und'), then per document: (doc_id, n_lines, n_langs,
    dominant_lang, dominant_frac, mixed) where mixed = dominant_frac <
    ``mixed_below``. Curation reads it as: keep monolingual docs whole,
    route mixed docs to segment-level splitting.

    Spark-first shape — deliberately NOT the lang_id form of five
    ``size(filter(toks, …))`` HOF columns per line: higher-order
    functions are interpreted (no codegen), and evaluating five of them
    per line at 500k docs × ~30 lines showed bimodal 2-32s timings on
    identical plans (the bloom first-eval JIT-churn pathology, here
    recurring — allocation pressure of 5 filtered arrays per line under
    32 threads). Instead tokens EXPLODE once and each token maps through
    one codegen CASE over the (disjoint) marker sets; everything after
    is partial-aggregated counting: (doc,line,lang) counts → per-line
    argmax as max(struct(cnt, -lang_idx)) (cnt first, then the NEGATED
    index into the sorted language list, so ties pick the smallest
    language — no window) → per-doc lang counts, with und lines
    recovered as total − marker-line count. Marker tokens are a small
    fraction of the stream and the first partial aggregate collapses
    them map-side, so the exchanges carry line-count-bounded rows; the
    text column never crosses any of them. Measured at 500k docs:
    stable ~1.4s across repeats where the HOF form swung 2-32s.
    """
    from pyspark.sql import functions as F

    # lexicographic over the FULL label set including 'und' — the
    # documented (count DESC, lang ASC) tiebreak the oracle runs; 'und'
    # appended un-sorted would break ties by list position instead the
    # day a language sorting after 'und' (vi, zh) joins the marker set
    langs = sorted(list(LANG_MARKERS) + ["und"])
    tok2lang = F.lit(None).cast("string")
    for lang in sorted(LANG_MARKERS, reverse=True):
        tok2lang = F.when(F.col("tok").isin(*LANG_MARKERS[lang]),
                          F.lit(lang)).otherwise(tok2lang)
    idx = F.lit(None).cast("int")
    for i, lang in enumerate(langs):
        idx = F.when(F.col("line_lang") == lang, F.lit(i)).otherwise(idx)

    lines = (docs.select(F.col(id_col), F.posexplode(
        F.split(F.col(text_col), "\n")).alias("line_no", "line"))
        .where(F.length("line") > 0))
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_total"))
    marks = (lines.select(F.col(id_col), "line_no", F.explode(
        F.split(F.col("line"), " ")).alias("tok"))
        .withColumn("line_lang", tok2lang)
        .where(F.col("line_lang").isNotNull()))
    per_line = (marks.withColumn("_ni", -idx)
                .groupBy(id_col, "line_no", "_ni")
                .agg(F.count("*").alias("cnt"))
                .groupBy(id_col, "line_no")
                .agg(F.max(F.struct(F.col("cnt"), F.col("_ni")))
                     .alias("_t")))
    dec_line = F.lit(None).cast("string")
    for i, lang in enumerate(langs):
        dec_line = F.when(F.col("_t._ni") == -i, F.lit(lang)) \
            .otherwise(dec_line)
    lang_counts = (per_line.select(F.col(id_col),
                                   dec_line.alias("line_lang"))
                   .groupBy(id_col, "line_lang")
                   .agg(F.count("*").alias("cnt")))
    marked = lang_counts.groupBy(id_col).agg(F.sum("cnt").alias("n_marked"))
    und = (totals.join(marked, id_col, "left")
           .select(F.col(id_col), F.lit("und").alias("line_lang"),
                   (F.col("n_total")
                    - F.coalesce("n_marked", F.lit(0))).alias("cnt"))
           .where(F.col("cnt") > 0))
    allc = (lang_counts.select(id_col, "line_lang",
                               F.col("cnt").cast("long").alias("cnt"))
            .unionByName(und))
    back = F.col("_top._ni")
    dec = F.lit(None).cast("string")
    for i, lang in enumerate(langs):
        dec = F.when(back == -i, F.lit(lang)).otherwise(dec)
    frac = F.col("_top.cnt").cast("double") / F.col("n_lines")
    return (allc.withColumn("_ni", -idx)
            .groupBy(id_col)
            .agg(F.sum("cnt").alias("n_lines"),
                 F.count("*").alias("n_langs"),
                 F.max(F.struct(F.col("cnt"), F.col("_ni"))).alias("_top"))
            .select(F.col(id_col),
                    F.col("n_lines").cast("long").alias("n_lines"),
                    F.col("n_langs").cast("long").alias("n_langs"),
                    dec.alias("dominant_lang"),
                    F.round(frac, 6).alias("dominant_frac"),
                    (frac < mixed_below).alias("mixed")))


def _unigram_viterbi(word: str, logp: dict, max_len: int):
    """Best segmentation of `word` under piece log-probs: DP maximizing
    Σ logp(piece), ties broken by (fewer pieces, then lexicographically
    smaller piece list). Returns the piece list, or None when some char
    has no piece (cannot happen after seeding single chars). Shared by
    the distributed E-step, the encoder, and the pytest reference."""
    n = len(word)
    # best[i] = (score, -n_pieces, path_tuple) up to char i; on (score,
    # -n_pieces) ties the lexicographically SMALLER path wins
    best = [None] * (n + 1)
    best[0] = (0.0, 0, ())

    def better(cand, cur):
        if cur is None:
            return True
        if (cand[0], cand[1]) != (cur[0], cur[1]):
            return (cand[0], cand[1]) > (cur[0], cur[1])
        return cand[2] < cur[2]

    for i in range(n):
        if best[i] is None:
            continue
        s0, np0, path0 = best[i]
        for j in range(i + 1, min(n, i + max_len) + 1):
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                continue
            cand = (s0 + lp, np0 - 1, path0 + (piece,))
            if better(cand, best[j]):
                best[j] = cand
    return None if best[n] is None else list(best[n][2])


def unigram_train(docs: DataFrame, vocab_size: int = 64,
                  seed_size: int = 256, max_piece_len: int = 4,
                  em_rounds: int = 2, keep_frac: float = 0.75,
                  text_col: str = "text") -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018) —
    the OTHER tokenizer family next to bpe_train: seed a large substring
    vocabulary, alternate Viterbi-EM (hard E-step: best segmentation of
    each word under current piece probs; M-step: renormalized piece
    counts) with pruning of the lowest-count pieces until `vocab_size`
    (single chars never pruned — coverage guarantee). Output:
    (piece, logp) — logp quantized to 6dp per round (the quality_lr state
    trick, so repeated runs are bit-stable).

    Distribution, stated honestly (the bpe_train deployment note made
    structural): the corpus-linear work is ONE word-count pass; the
    E-step is embarrassingly parallel over the DISTINCT-word table —
    mapInPandas with the (≤ seed_size) piece table shipped as plan state
    — and the M-step is a piece-keyed partial agg whose result (vocab-
    sized) the driver folds into the next round's probs. At web scale
    the distinct-word table is the thing that outgrows one node (billions
    of types), and that is exactly the axis this parallelizes; rounds
    and vocab stay bounded. Viterbi-EM rather than full forward-backward
    EM is the documented approximation (SentencePiece offers both; the
    hard-EM fixpoint is deterministic and reference-checkable).

    Not SQL-expressible (per-word DP over a float table) — pytest-gated
    against a pure-Python reference, like pack_sequences_nosplit."""
    import math

    import pandas as pd

    words = (docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
             .filter(F.length("w") > 0)
             .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .localCheckpoint(eager=True))

    # seed: all substrings (len 1..max_piece_len) weighted by word freq;
    # top seed_size by (freq desc, piece asc), single chars always in
    # NB sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — words
    # shorter than L must hit the empty-array branch explicitly
    sub = words.select(
        F.explode(F.expr(
            f"flatten(transform(sequence(1, {int(max_piece_len)}), L -> "
            "CASE WHEN length(w) >= L THEN "
            "transform(sequence(1, length(w) - L + 1), "
            "i -> substring(w, i, L)) "
            "ELSE CAST(array() AS array<string>) END))")).alias("piece"),
        F.col("c"))
    # one aggregate job: the substring explosion is |types|×L-positions
    # sized — materialize before the two consumers (top-K seed, char floor)
    counts = (sub.groupBy("piece").agg(F.sum("c").alias("pc"))
              .localCheckpoint(eager=True))
    seed = (counts.orderBy(F.desc("pc"), F.asc("piece"))
            .limit(int(seed_size)).collect())
    chars = {r.piece: r.pc for r in counts.filter(
        F.length("piece") == 1).collect()}
    cnt = {r.piece: r.pc for r in seed}
    for ch, c in chars.items():
        cnt.setdefault(ch, c)

    def norm(cnt_d):
        tot = float(sum(cnt_d.values()))
        return {p: round(math.log2(c / tot), 6) for p, c in cnt_d.items()}

    logp = norm(cnt)
    spark = docs.sparkSession
    mpl = int(max_piece_len)
    n_prune_rounds = 0
    v = len(logp)
    while v > vocab_size:
        v = max(vocab_size, int(v * keep_frac))
        n_prune_rounds += 1

    for _round in range(em_rounds + n_prune_rounds):
        cur = dict(logp)

        def estep(batches, _lp=cur):
            for pdf in batches:
                acc: dict = {}
                for w, c in zip(pdf["w"], pdf["c"]):
                    for piece in _unigram_viterbi(w, _lp, mpl) or []:
                        acc[piece] = acc.get(piece, 0) + int(c)
                yield pd.DataFrame(
                    {"piece": list(acc), "pc": list(acc.values())})

        agg = (words.mapInPandas(estep, "piece string, pc long")
               .groupBy("piece").agg(F.sum("pc").alias("pc")).collect())
        cnt = {r.piece: r.pc for r in agg}
        for ch, c in chars.items():     # coverage floor survives EM zeros
            cnt.setdefault(ch, 1)
        if len(cnt) > vocab_size:       # prune: keep top by (pc, piece asc)
            target = max(vocab_size, int(len(cnt) * keep_frac))
            ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            keep = dict(ranked[:target])
            for ch, c in chars.items():
                keep.setdefault(ch, cnt.get(ch, 1))
            cnt = keep
        logp = norm(cnt)

    out = sorted(logp.items())
    return spark.createDataFrame(out, "piece string, logp double")


def unigram_encode(docs: DataFrame, pieces: DataFrame,
                   max_piece_len: int = 4, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Viterbi-encode the corpus with a trained unigram vocabulary
    (unigram_train's output): per word, the max-likelihood segmentation
    under the piece log-probs — the apply step between unigram_train and
    pack_sequences, mirroring bpe_encode for the BPE family. Pieces ship
    as plan state (vocab-sized); one Arrow-batched pass over the corpus.
    Output: (doc_id, pos, piece, oov) — pos is the 0-based piece index.

    Words Viterbi cannot segment (a character absent from the trained
    vocab — unigram_train's coverage floor makes this rare, but an apply
    corpus can contain chars training never saw) are split into single
    CHARACTERS, each flagged ``oov=true`` when the char is not a vocab
    piece — never a silent whole-word pseudo-piece (r4 advice: consumers
    joining on the vocab would mismatch without signal). Concatenating a
    word's pieces still reproduces the word exactly."""
    import pandas as pd

    lp = {r.piece: r.logp for r in pieces.collect()}
    mpl = int(max_piece_len)

    def run(batches):
        for pdf in batches:
            ids, poss, outs, oovs = [], [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                pos = 0
                for w in (text or "").split(" "):
                    if not w:
                        continue
                    seg = _unigram_viterbi(w, lp, mpl)
                    if seg is None or not seg:
                        seg, flags = list(w), [ch not in lp for ch in w]
                    else:
                        flags = [False] * len(seg)
                    for piece, is_oov in zip(seg, flags):
                        ids.append(did)
                        poss.append(pos)
                        outs.append(piece)
                        oovs.append(is_oov)
                        pos += 1
            yield pd.DataFrame({"doc_id": ids, "pos": poss, "piece": outs,
                                "oov": oovs})

    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("text"))
            .mapInPandas(run, "doc_id long, pos int, piece string, "
                              "oov boolean"))
