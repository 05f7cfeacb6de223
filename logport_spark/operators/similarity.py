"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the correctness baseline. Dot products run
  JVM-side via higher-order functions (zip_with + aggregate) in DOUBLE
  precision (bit-comparable with the SQL oracle); ranking ties broken by
  neighbor id so results are deterministic.
- Random-hyperplane LSH ANN: the scale path. Signatures are computed in ONE
  vectorized pandas UDF (numpy matmul over Arrow batches — no per-row
  Python); docs sharing any of L band buckets become candidates, reranked
  exactly. At 10^12 rows the bucket join replaces the O(n·q) scan.
- Embedding near-dup pairs: brute self-join cosine ≥ threshold (the
  embedding leg of the dedup family, operators/dedup.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import cap_buckets, shared_key_pairs

LSH_SEED = 42


def _as_double(col: str):
    return F.expr(f"transform({col}, x -> cast(x as double))")


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2 norm in double precision (JVM aggregate)."""
    return df.withColumn(
        "_vecd", _as_double(vec_col)
    ).withColumn(
        "norm",
        F.sqrt(F.expr("aggregate(_vecd, cast(0.0 as double), (acc, x) -> acc + x * x)")),
    )


def _dot(a: str, b: str):
    """The one dot-product fold: Σ a_i·b_i in DOUBLE, left to right — the
    fold order the SQL oracles use. `a` and `b` are SQL array exprs."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _vec_side(emb: DataFrame, key: str, i: int, id_col: str,
              vec_col: str) -> DataFrame:
    """(key, v<i>, n<i>): each vector by id, in double, with its L2 norm —
    one side of a pair's exact-cosine join."""
    return with_norm(emb, vec_col).select(
        F.col(id_col).alias(key), F.col("_vecd").alias(f"v{i}"),
        F.col("norm").alias(f"n{i}"))


def _cosine_pairs(pairs: DataFrame, emb: DataFrame, threshold: float,
                  id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine verify of candidate id pairs (d1, d2): the vectors
    re-join by id only after the candidates are final, so no vector rides
    a band or cell shuffle. Output (d1, d2, cos) with cos >= threshold,
    rounded to 4."""
    return (pairs.join(_vec_side(emb, "d1", 1, id_col, vec_col), "d1")
            .join(_vec_side(emb, "d2", 2, id_col, vec_col), "d2")
            .withColumn("cos", _dot("v1", "v2") / (F.col("n1") * F.col("n2")))
            .filter(F.col("cos") >= threshold)
            .select("d1", "d2", F.round("cos", 4).alias("cos")))


def _cosine_rerank(cands: DataFrame, emb: DataFrame, query_ids: list[int],
                   k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine rerank of (query_id, neighbor_id) candidates: top-k per
    query on (cos DESC, neighbor_id ASC). The query vectors are a
    broadcast — query-sized by design; neighbor vectors join by id.
    Output (query_id, neighbor_id, cos, rank), cos rounded to 4."""
    from pyspark.sql import Window

    qv = _vec_side(emb.filter(F.col(id_col).isin(query_ids)), "query_id", 1,
                   id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (cands.join(F.broadcast(qv), "query_id")
            .join(_vec_side(emb, "neighbor_id", 2, id_col, vec_col), "neighbor_id")
            .withColumn("cos", _dot("v1", "v2") / (F.col("n1") * F.col("n2")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank"))


def cosine_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, cos, rank).

    One broadcast of the (tiny) query set against the corpus — no shuffle on
    the corpus side except the per-query top-k aggregation."""
    from pyspark.sql import Window

    base = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_vecd").alias("nv"), F.col("norm").alias("nn")
    )
    q = with_norm(emb.filter(F.col(id_col).isin(query_ids)), vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_vecd").alias("qv"), F.col("norm").alias("qn")
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", _dot("qv", "nv") / (F.col("qn") * F.col("nn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"), "rank")
    )


def embedding_near_pairs(emb: DataFrame, threshold: float = 0.44,
                         id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs (d1 < d2, cos ≥ threshold)."""
    n = with_norm(emb, vec_col).select(
        F.col(id_col).alias("id"), F.col("_vecd").alias("v"), F.col("norm").alias("nm")
    )
    a, b = n.alias("a"), n.alias("b")
    cos = _dot("a.v", "b.v") / (F.col("a.nm") * F.col("b.nm"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= threshold)
        .select(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"),
                F.round("cos", 4).alias("cos"))
    )


# ------------------------------------------------------------- LSH ANN ----


def hyperplanes(dim: int, n_planes: int, seed: int = LSH_SEED) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (seed-fixed)."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim)).astype(np.float64)


def lsh_band_params(n_vecs: int, threshold: float = 0.9,
                    target_capture: float = 0.99,
                    max_tables: int = 64) -> tuple[int, int]:
    """(n_tables, bits_per_table) sized for the corpus — the part that makes
    hyperplane LSH hold at scale.

    Sign-hyperplane bits agree with probability p = 1 - acos(cos)/pi, which
    is ~0.5 for UNRELATED vectors — so a fixed narrow band (the 16x4
    default, sized for the 500-vector oracle fixture) passes random pairs at
    0.5^4 ~ 6% per band: the candidate set is O(n^2) no matter how the join
    is bucketed. Caught empirically by `bench.py --dedup-scale` (5k vectors
    already produced ~8M candidates).

    The classic fix (Indyk-Motwani): grow band width with the corpus so a
    band bucket holds O(1) random mass — bits = ceil(log2(n)) ⇒ random-pair
    candidates ~ n * L, linear — then pick the table count L for the target
    capture at the interesting cosine: 1-(1-p^bits)^L >= target_capture.
    L is capped (matmul width / shuffle fan-out = L explode rows per vec);
    at the cap the achieved capture falls out of the same formula and rises
    steeply with cosine — e.g. n=500k, cos 0.90 → (64, 19) at capture ~0.97,
    cos 0.95 → capture ~0.999.

    CORRELATED CORPORA: this sizing assumes non-neighbors agree on sign
    bits at p≈0.5. A corpus with strong cluster structure agrees higher
    (measured p≈0.535 on the 16-cluster bench corpus), and the background
    candidate mass scales as (p_bg/0.5)^bits × the random estimate — at 5M
    vectors the default sizing shuffled >80 GB of candidate-joined vectors
    before aborting (BENCH/BASELINE.md). There, size bits so
    p_bg^bits × L × n_pairs_correlated stays O(n), and pick L from the
    capture formula at the cosine your near-dups ACTUALLY sit at: (8, 28)
    ran 5M vectors in 76 s with measured capture within a point of the
    formula's prediction.
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    bits = max(4, math.ceil(math.log2(max(n_vecs, 2))))
    pb = p ** bits
    if pb >= 1.0:
        return 1, bits
    need = math.log(max(1.0 - target_capture, 1e-12)) / math.log(1.0 - pb)
    return min(max_tables, max(1, math.ceil(need))), bits


def measure_band_agreement(emb: DataFrame, n_sample: int = 2048,
                           dim: int = 64, n_probe_planes: int = 256,
                           seed: int = LSH_SEED + 1,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> np.ndarray:
    """Measured background sign-bit agreement — the input
    `lsh_band_params_measured` needs on corpora with cluster structure.

    `lsh_band_params` assumes non-neighbor pairs agree on a random
    hyperplane bit at p≈0.5; real embedding corpora are clustered, and
    same-cluster non-neighbors agree higher (up to ~0.62 on the bench
    corpus — the MEAN stays ≈0.5 because clusters sit symmetrically on the
    sphere, but candidate mass is E[p_pair^bits], which the heavy tail
    dominates), inflating band candidates by E[(p_pair/0.5)^bits] — at 5M
    vectors the 0.5 assumption shuffled >80 GB before aborting
    (BENCH/BASELINE.md "correlated-corpus band sizing"). This estimator
    replaces the assumption with a one-job measurement:

    - sample `n_sample` vectors by hash order (TakeOrdered — a per-partition
      top-k then a driver merge; no shuffle of the corpus, the sample is
      tiny and seed-deterministic),
    - project onto `n_probe_planes` probe hyperplanes (disjoint seed from
      the production tables so the measurement never reuses their planes),
    - pair the sample via a seeded permutation and return each pair's
      bit-agreement fraction.

    Returns the PER-PAIR array, not its mean: candidate mass is
    E[p_pair^bits], and Jensen's inequality makes mean(p)^bits an
    underestimate exactly when the corpus is clustered (the distribution is
    the signal — on the bench corpus mean(p^20) is >3× the 0.5^20 the
    uniform assumption would price)."""
    rows = (emb.select(vec_col)
            .orderBy(F.xxhash64(F.col(id_col)))
            .limit(n_sample).collect())
    m = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_probe_planes, m.shape[1]))
    bits = (m @ planes.T) > 0  # (n_sample, n_probe_planes)
    perm = rng.permutation(len(m))
    half = len(m) // 2
    a, b = bits[perm[:half]], bits[perm[half:2 * half]]
    return (a == b).mean(axis=1)


def lsh_band_params_measured(n_vecs: int, threshold: float,
                             p_bg, target_capture: float = 0.99,
                             max_tables: int = 64,
                             candidate_factor: float = 4.0) -> tuple[int, int]:
    """(n_tables, bits_per_table) sized against MEASURED background
    agreement instead of the p=0.5 assumption — the code form of the manual
    (8, 28) procedure that fixed the 5M disk-exhaustion failure.

    Sizing rule: pick the smallest `bits` ≥ ceil(log2 n) whose expected
    background candidate mass
        C(n,2) · L(bits) · mean(p_pair^bits)
    stays ≤ candidate_factor · n (candidates linear in the corpus — the
    scale invariant), where L(bits) is the table count the capture formula
    1-(1-p_sig^bits)^L ≥ target_capture demands at `threshold` (capped at
    `max_tables`; past the cap capture degrades gracefully and rises
    steeply with cosine, exactly as in `lsh_band_params`). mean(p^bits) is
    computed over the measured per-pair agreement array, so clustered
    (bimodal) corpora are priced by their heavy tail, not their mean."""
    import math

    p_bg = np.atleast_1d(np.asarray(p_bg, dtype=np.float64))
    p_sig = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    n_pairs = n_vecs * (n_vecs - 1) / 2.0

    def tables_for(bits: int) -> int:
        pb = p_sig ** bits
        if pb >= 1.0:
            return 1
        need = (math.log(max(1.0 - target_capture, 1e-12))
                / math.log(1.0 - pb))
        return min(max_tables, max(1, math.ceil(need)))

    lo = max(4, math.ceil(math.log2(max(n_vecs, 2))))
    for bits in range(lo, 64):
        tables = tables_for(bits)
        mass = n_pairs * tables * float(np.mean(p_bg ** bits))
        if mass <= candidate_factor * n_vecs:
            return tables, bits
    return tables_for(63), 63


def lsh_signatures(emb: DataFrame, dim: int = 64, n_tables: int = 16,
                   bits_per_table: int = 4, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane signatures: L tables × b bits, one numpy matmul per
    Arrow batch (vectorized pandas UDF — the only Python, and it is batched)."""
    planes = hyperplanes(dim, n_tables * bits_per_table)
    weights = (1 << np.arange(bits_per_table)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def sig_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (m @ planes.T) > 0  # (batch, L*b)
        bits = bits.reshape(len(m), n_tables, bits_per_table)
        keys = (bits * weights).sum(axis=2)  # (batch, L)
        return pd.Series(list(keys))

    return emb.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"),
                      sig_udf(F.col(vec_col)).alias("sig"))


def embedding_lsh_pairs(emb: DataFrame, threshold: float = 0.44,
                        dim: int = 64, n_tables: int = 16,
                        bits_per_table: int = 4, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        max_bucket: int | None = None) -> DataFrame:
    """Scale path for embedding near-dup pairs: LSH-bucketed candidates +
    exact-cosine verify — the banded-join shape of dedup.minhash_lsh_pairs,
    never an all-pairs product.

    Semantics: pairs sharing >=1 of L band buckets AND exact cos >= threshold
    (d1 < d2). Per-pair capture probability at cosine c is
    1-(1-p^b)^L with p = 1-acos(c)/pi — >=99.99% at c>=0.9 for the default
    16x4; the brute `embedding_near_pairs` stays as the exhaustive baseline
    for small inputs.

    SCALE CONTRACT: the (16, 4) default is sized for the small oracle
    fixture ONLY — 4-bit bands pass ~6% of UNRELATED pairs per band, which
    is an O(n^2) candidate set on a large corpus. At scale pass
    ``n_tables, bits_per_table = lsh_band_params(n, threshold)`` so bands
    widen with log2(n) and random-pair candidates stay O(n*L)
    (bench.py --dedup-scale measures exactly this).

    Plan shape (PLANS.md): the band join carries ONLY (doc_id, t, key) —
    vectors never ride through the band shuffle or the candidate distinct;
    surviving id pairs re-join the corpus to fetch vectors for the
    exact-cosine verify (_cosine_pairs). posexplode_outer (not
    posexplode) keeps the signature UDF evaluated ONCE — the inner
    generator's implicit size(sig)>0 pushdown would re-run the
    ArrowEvalPython below the filter."""
    sigs = lsh_signatures(emb, dim, n_tables, bits_per_table, id_col, vec_col)
    banded = sigs.select("doc_id", F.posexplode_outer("sig").alias("t", "key"))
    banded = cap_buckets(banded, ["t", "key"], max_bucket)
    cands = shared_key_pairs(banded, ["t", "key"]).select("d1", "d2").distinct()
    return _cosine_pairs(cands, emb, threshold, id_col, vec_col)


def lowest_id_centroids(emb: DataFrame, nlist: int,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic, oracle-able centroid stand-in: the nlist lowest-id
    corpus vectors (random sampling is a legitimate IVF init). Bounded
    collect — nlist rows."""
    return [
        [float(x) for x in r[1]]
        for r in sorted(
            (r[0], r[1]) for r in
            emb.select(id_col, vec_col).orderBy(id_col).limit(nlist).collect()
        )
    ]


def kmeans_centroids(emb: DataFrame, nlist: int, seed: int = 42,
                     max_iter: int = 20,
                     vec_col: str = "embedding") -> list[list[float]]:
    """Trained IVF centroids via pyspark.ml KMeans — the production swap for
    lowest_id_centroids behind the same plan-literal interface: pass the
    returned list as ivf_topk(..., centroids=...) and NOTHING else in the
    plan changes (cell assignment stays a zero-shuffle narrow map). The
    model fit is one Spark job over the corpus (sampled upstream at 10^12
    rows — KMeans on a ~1% sample is standard IVF training); the centers
    themselves are nlist tiny vectors, bounded like the stand-in."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _centroid_norms(cents: list[list[float]]) -> list[float]:
    """Sequential Σx² per centroid — the exact fold order both score paths
    and the SQL oracle divide by."""
    out = []
    for c in cents:
        s = 0.0
        for x in c:
            s += x * x
        out.append(s ** 0.5)
    return out


def _centroid_scores_sql(emb: DataFrame, cents: list[list[float]],
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Interpreted-HOF reference form of _centroid_scores (centroids as plan
    literals, one aggregate(zip_with(...)) fold per cell). Kept as the
    bit-equality witness for the Arrow kernel — pytest pins kernel == this
    row-for-row — and as the no-Arrow fallback. Not the hot path: nlist
    interpreted lambda folds per row is the same pathology pq_encode's
    kernel replaced (2-32s swings on identical plans, BENCH/BASELINE.md
    session-9 note)."""
    vd = f"transform({vec_col}, x -> cast(x as double))"
    # the literals stay SQL literals (decimals, coerced to double) as the
    # oracle writes them, the norm included
    per = [_dot(vd, f"array({', '.join(map(repr, c))})") / F.expr(repr(nm))
           for c, nm in zip(cents, _centroid_norms(cents))]
    return emb.select(F.col(id_col).alias("_id"), F.array(*per).alias("_sc"))


def _centroid_scores(emb: DataFrame, cents: list[list[float]],
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(_id, _sc): per-vector array of normalized dot products against the
    centroid set — cell assignment stays a pure narrow map, zero shuffle,
    no broadcast exchange (centroids ride the UDF closure instead of plan
    literals; same distribution property).

    Hot path is an Arrow kernel in the pq_encode mold: the dot is
    accumulated DIMENSION-SEQUENTIALLY (acc += x_i·y_i, i ascending — a
    loop over dim vectorized across batch×nlist), so every element sees
    the identical IEEE-754 add chain as the oracle's left-fold list_sum
    and as _centroid_scores_sql — cell assignment is bit-stable across
    the three forms (pytest pins it). Replaces nlist interpreted lambda
    folds per row (~nlist×dim interpreted steps) with nlist×dim fused
    numpy ops per BATCH.

    Shape: mapInPandas, NOT a scalar-UDF column. A scalar pandas UDF gets
    substituted into whatever expression references it; join constraint
    inference then plants an IsNotNull(score(...)) in an interpreted
    Filter, which cannot evaluate a PythonUDF (Spark raises
    INTERNAL_ERROR Cannot evaluate expression — hit live when
    semantic_dedup_pairs consumed embed_docs' sparse→dense rebuild). A
    MapInPandas node exposes plain output attributes, so downstream
    predicates stay ordinary evaluable filters; it is still a zero-shuffle
    narrow map. The one optimization a column UDF gave up for free —
    pushing a query-id filter BELOW the scoring — callers do by hand
    (ivf_topk scores emb.filter(isin) for the probe side)."""
    cnorm = np.asarray(_centroid_norms(cents), dtype=np.float64)
    cb = np.asarray(cents, dtype=np.float64)  # (nlist, dim)
    dim = cb.shape[1]
    id_type = emb.select(F.col(id_col).alias("_id")).schema["_id"].dataType.simpleString()
    src = emb.select(
        F.col(id_col).alias("_id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("_v"))

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vs = pdf["_v"].to_numpy()
            # degenerate-row guard, consistent with _centroid_scores_sql:
            # a NULL/empty embedding scores [NULL, ..., NULL] — the SAME
            # value the SQL form's per-centroid aggregate folds produce
            # (a non-null array of null doubles), so array_max /
            # array_position / explode behave identically across the two
            # forms and the row drops out of downstream joins instead of
            # crashing np.stack. A non-empty vector of the WRONG width
            # fails loudly — the SQL form's silent-null there would hide
            # a corrupt embedding table.
            ok = np.array([v is not None and len(v) == dim for v in vs])
            bad = [v for v in vs
                   if v is not None and len(v) not in (0, dim)]
            if bad:
                raise ValueError(
                    f"_centroid_scores: embedding width {len(bad[0])} != "
                    f"centroid dim {dim}")
            null_row = [None] * cb.shape[0]
            out = np.empty(len(vs), dtype=object)
            for j in range(len(vs)):
                out[j] = null_row
            if ok.any():
                mat = np.stack(vs[ok]).astype(np.float64)  # (B_ok, dim)
                acc = np.zeros((len(mat), cb.shape[0]), dtype=np.float64)
                for i in range(dim):  # dimension-sequential: oracle fold order
                    acc += mat[:, i:i + 1] * cb[:, i][None, :]
                acc /= cnorm[None, :]
                for j, row in zip(np.flatnonzero(ok), acc):
                    out[j] = row
            yield pd.DataFrame({"_id": pdf["_id"], "_sc": out})

    return src.mapInPandas(score, f"_id {id_type}, _sc array<double>")


def ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
             nlist: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-flat ANN: coarse-quantize the corpus into nlist cells, probe the
    nprobe cells nearest each query, exact cosine rerank inside probed cells.

    `centroids` defaults to the deterministic lowest-id stand-in (the
    oracle contract for ann_ivf_topk); pass kmeans_centroids(...) for
    trained cells — recall strictly improves on clustered corpora (pytest
    pins this). Either way the centroid set is tiny, so it is embedded as
    plan LITERALS: cell assignment is a pure narrow map (zero shuffle, no
    broadcast exchange) — at 10^12 rows the corpus is scanned once, and
    only cells the queries probe reach the rerank join.
    Tie-break: first maximal score (array_position of the max)."""
    from pyspark.sql import Window

    cents = centroids if centroids is not None else \
        lowest_id_centroids(emb, nlist, id_col, vec_col)
    scored = _centroid_scores(emb, cents, id_col, vec_col)
    cell = F.array_position(F.col("_sc"), F.array_max("_sc")).cast("int")
    corpus = scored.select("_id", cell.alias("cell"))
    # query side: nprobe best cells each (tiny — broadcast). Score ONLY the
    # query rows: mapInPandas is a barrier, so the isin filter is pushed
    # below the scoring by hand (see _centroid_scores docstring).
    qscored = _centroid_scores(
        emb.filter(F.col(id_col).isin(query_ids)), cents, id_col, vec_col)
    qcells = (
        qscored
        .select(F.col("_id").alias("query_id"), F.posexplode("_sc").alias("c0", "s"))
        .withColumn("cell", (F.col("c0") + 1).cast("int")).drop("c0")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("s"), F.asc("cell"))
    probed = (qcells.withColumn("r", F.row_number().over(wq))
              .filter(F.col("r") <= nprobe).select("query_id", "cell"))
    cands = (
        corpus.join(F.broadcast(probed), "cell")
        .filter(F.col("_id") != F.col("query_id"))
        .select("query_id", F.col("_id").alias("neighbor_id"))
        .distinct()
    )
    return _cosine_rerank(cands, emb, query_ids, k, id_col, vec_col)


def semantic_dedup_pairs(emb: DataFrame, threshold: float = 0.95,
                         nlist: int = 16,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         centroids: list[list[float]] | None = None,
                         max_cell: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-quantize the
    corpus into nlist cells, then exact-cosine pairs ≥ threshold WITHIN
    each cell — semantic near-dups found without any all-pairs product,
    the embedding-space complement to MinHash (lexical) near-dup.

    Semantics: a pair is reported iff both ends quantize to the same cell
    AND exact cos ≥ threshold (d1 < d2). Cross-cell near-dups are missed
    by construction — SemDeDup's documented trade; raise nlist quality via
    kmeans_centroids (same interface as ivf_topk) or lower nlist to trade
    candidate volume for capture.

    Scale contract: candidate volume is Σ cell_size²/2, so nlist must grow
    with the corpus — n/nlist ≈ a few thousand keeps per-cell joins
    bounded (the paper runs 50k clusters on 5B embeddings for the same
    reason). Cell assignment is a zero-shuffle narrow map (centroids ride
    the Arrow kernel's closure — see _centroid_scores); the self-join
    (dedup.shared_key_pairs) shuffles bare (cell, id) pairs only; vectors
    rejoin by id for the exact verify (_cosine_pairs, shared with
    embedding_lsh_pairs). `max_cell` caps degenerate cells
    (dedup.cap_buckets)."""
    cents = centroids if centroids is not None else \
        lowest_id_centroids(emb, nlist, id_col, vec_col)
    scored = _centroid_scores(emb, cents, id_col, vec_col)
    cell = F.array_position(F.col("_sc"), F.array_max("_sc")).cast("int")
    corpus = scored.select(F.col("_id").alias("doc_id"), cell.alias("cell"))
    corpus = cap_buckets(corpus, ["cell"], max_cell)
    cands = shared_key_pairs(corpus, ["cell"]).select("d1", "d2")
    return _cosine_pairs(cands, emb, threshold, id_col, vec_col)


def ann_lsh_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                 dim: int = 64, n_tables: int = 16, bits_per_table: int = 4,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """LSH-bucketed ANN: candidates = corpus rows sharing ≥1 table bucket
    with the query, exact cosine rerank of candidates only.

    Plan shape (PLANS.md): the band probe carries ONLY (doc_id, t, key) and
    broadcasts the tiny query-side bucket set; candidate (query, neighbor)
    id pairs are deduped bare, then vectors are fetched by id for the exact
    rerank (query vectors via a second broadcast). posexplode_outer keeps
    the signature UDF evaluated once (see embedding_lsh_pairs)."""
    sigs = lsh_signatures(emb, dim, n_tables, bits_per_table, id_col, vec_col)
    banded = sigs.select("doc_id", F.posexplode_outer("sig").alias("t", "key"))
    qb = (
        banded.filter(F.col("doc_id").isin(query_ids))
        .select(F.col("doc_id").alias("query_id"), "t", "key")
    )
    cands = (
        banded.join(F.broadcast(qb), ["t", "key"])
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", F.col("doc_id").alias("neighbor_id"))
        .distinct()
    )
    return _cosine_rerank(cands, emb, query_ids, k, id_col, vec_col)


# --------------------------------------------------------------------- PQ --


def pq_codebooks(emb: DataFrame, m: int = 8, ksub: int = 16,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[list[list[float]]]:
    """Product-quantization codebooks [subspace][code][dim/m] — the
    deterministic, oracle-able stand-in: subvectors of the ksub lowest-id
    corpus vectors (the lowest_id_centroids argument applied per
    subspace; the production swap is per-subspace k-means behind the
    SAME literal interface, exactly like ivf_topk's kmeans_centroids).
    Bounded collect — ksub rows."""
    rows = lowest_id_centroids(emb, ksub, id_col, vec_col)
    dsub = len(rows[0]) // m
    return [[r[s * dsub:(s + 1) * dsub] for r in rows] for s in range(m)]


def _seq_l2sq(a, b) -> float:
    """Σ(a_i-b_i)² accumulated dimension-sequentially — the exact fold
    order the SQL oracle's explicit term sum uses (IEEE addition is not
    associative; parity demands ONE order everywhere)."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return acc


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Assign each vector its PQ code word: per subspace the 1-based index
    of the nearest codebook entry (L2², first-minimum tiebreak) —
    (vec_id, codes array<int>).

    This is THE memory move for 10^9-vector ANN (Jégou/Douze/Schmid
    2011): m=8 subspaces × ksub=16 codes is m·log2(ksub) = 32 bits per
    vector vs 2048 bits for the raw float32[64] — 64× — which is what
    lets a corpus-scale index live in executor RAM while the vectors
    stay in parquet for the final rerank only.

    Arrow-batched numpy, NOT an interpreted-HOF expression: encoding is
    m·ksub = 128 subvector distances per vector, and 128 lambda folds
    per row is the allocation profile that made lang_segments' 5-fold
    variant swing 2-32s on identical plans (BENCH/BASELINE.md session-9
    note) — at 4× the fold count the interpreted form is not an option.
    The numpy kernel accumulates distances DIMENSION-SEQUENTIALLY
    (acc += diff², i ascending — a loop over dsub=8 vectorized across
    the batch), bit-matching the oracle's explicit left-to-right term
    sum; argmin is first-minimum like the SQL min(j) WHERE d = min(d).
    Narrow map, zero shuffle, one Arrow pass."""
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    cb = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)

    @F.pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        out = np.empty((len(mat), m), dtype=np.int32)
        for s in range(m):
            sub = mat[:, s * dsub:(s + 1) * dsub]  # (B, dsub)
            dist = np.zeros((len(mat), ksub))
            for i in range(dsub):  # dimension-sequential: oracle fold order
                diff = sub[:, i:i + 1] - cb[s, :, i][None, :]
                dist += diff * diff
            out[:, s] = np.argmin(dist, axis=1) + 1  # first min, 1-based
        return pd.Series(list(out))

    return emb.select(F.col(id_col).alias("_id"),
                      enc(F.col(vec_col)).alias("codes"))


def _adc_topk_rerank(stacked: DataFrame, emb: DataFrame,
                     query_ids: list[int], k: int, rerank: int,
                     n_salts: int, id_col: str, vec_col: str) -> DataFrame:
    """Shared PQ/IVF∘PQ tail: salted two-phase top-``rerank`` on
    (adc ASC, neighbor_id ASC) over the (query_id, neighbor_id, adc)
    stream, then the exact-cosine rerank (_cosine_rerank, shared with
    ivf_topk and ann_lsh_topk) — ONE copy of the determinism-critical
    path (salting, tiebreaks, rounding) for both ANN legs."""
    from pyspark.sql import Window

    order = [F.asc("adc"), F.asc("neighbor_id")]
    w1 = Window.partitionBy("query_id", "_salt").orderBy(*order)
    w2 = Window.partitionBy("query_id").orderBy(*order)
    cands = (stacked
             .withColumn("_salt", F.pmod(F.xxhash64("neighbor_id"),
                                         F.lit(n_salts)))
             .withColumn("_r1", F.row_number().over(w1))
             .where(F.col("_r1") <= rerank)
             .withColumn("_r2", F.row_number().over(w2))
             .where(F.col("_r2") <= rerank)
             .select("query_id", "neighbor_id"))
    return _cosine_rerank(cands, emb, query_ids, k, id_col, vec_col)


def pq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
            m: int = 8, ksub: int = 16, rerank: int = 50,
            id_col: str = "vec_id", vec_col: str = "embedding",
            codebooks: list[list[list[float]]] | None = None,
            n_salts: int = 64) -> DataFrame:
    """PQ-ADC approximate nearest neighbors: rank the corpus by
    asymmetric-distance lookups against each query (8 table lookups + 7
    adds per vector instead of a 64-dim float dot), keep the ``rerank``
    best candidates per query, exact-cosine rerank those, return top-k —
    (query_id, neighbor_id, cos, rank). The third leg of the ANN family:
    brute (exhaustive) / LSH / IVF prune the SEARCH, PQ shrinks the
    INDEX — at 10^9+ vectors the 32-bit codes fit in RAM where the raw
    vectors (64×) cannot, and ADC scans the code table at memory
    bandwidth (Jégou et al. 2011; IVF∘PQ composes by encoding each IVF
    cell's residuals, same interfaces).

    Determinism contract: the candidate set is top-``rerank`` by
    (adc ASC, vec_id ASC) — every float on that path (codes, LUT
    entries, the Σ over subspaces) is computed in ONE fold order in both
    engines, so a step-at-a-time SQL oracle reproduces the exact
    candidate set, not just approximately the same one.

    Scale shape: the corpus scan is the encode UDF + per-query ADC as
    pure codegen — the 128-entry LUT per query embeds as ONE
    constant-folded array literal (top-level Project, NOT inside a
    lambda — the bloom bitmap lesson), each query costing m element_at
    + adds per row. Top-``rerank`` uses the bm25 salted two-phase shape:
    phase 1 keeps ``rerank`` per (query, xxhash-salt bucket) so no
    single task sorts a query's full score stream, phase 2 ranks the
    ≤ n_salts·rerank survivors. Only candidate ids reach the vector
    re-join for the exact rerank."""
    from pyspark.sql import Window

    cbs = codebooks if codebooks is not None else \
        pq_codebooks(emb, m, ksub, id_col, vec_col)
    dsub = len(cbs[0][0])
    qvecs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in emb.select(id_col, vec_col)
        .filter(F.col(id_col).isin(query_ids)).collect()
    }
    codes = pq_encode(emb, cbs, id_col, vec_col)
    # per-query flat LUT literal: entry 16*s + (code-1) + 1 (1-based)
    with_luts = codes
    for q in query_ids:
        qv = qvecs[q]
        flat = [
            _seq_l2sq(qv[s * dsub:(s + 1) * dsub], cbs[s][j])
            for s in range(m) for j in range(ksub)
        ]
        # bind the 128-entry LUT literal ONCE per query; the 8 probe
        # terms reference the column (constant-folds identically, 1/8
        # the expression-text payload through parse/analyze)
        with_luts = with_luts.withColumn(
            f"_lut_{q}",
            F.expr("array(" + ", ".join(repr(x) for x in flat) + ")"))
    adc_cols = [
        F.expr(" + ".join(
            f"element_at(_lut_{q}, {s * ksub} + element_at(codes, {s + 1}))"
            for s in range(m))).alias(f"_adc_{q}")
        for q in query_ids
    ]
    scored = with_luts.select("_id", *adc_cols)
    qarr = F.array(*[F.lit(int(q)) for q in query_ids])
    stacked = (scored.select(
        "_id", F.posexplode(F.array(
            *[F.col(f"_adc_{q}") for q in query_ids])).alias("qi", "adc"))
        .select(F.element_at(qarr, F.col("qi") + 1).alias("query_id"),
                F.col("_id").alias("neighbor_id"), "adc")
        .where(F.col("neighbor_id") != F.col("query_id")))
    return _adc_topk_rerank(stacked, emb, query_ids, k, rerank,
                            n_salts, id_col, vec_col)


def pq_codebooks_kmeans(emb: DataFrame, m: int = 8, ksub: int = 16,
                        seed: int = 42, max_iter: int = 20,
                        vec_col: str = "embedding") -> list[list[list[float]]]:
    """Trained PQ codebooks via pyspark.ml KMeans — the production swap
    for the lowest-id stand-in behind the SAME literal interface (the
    kmeans_centroids precedent): m independent fits over the subvector
    projections, each one Spark job (at 10^12 rows train on a ~1% sample
    upstream, the standard PQ training regime). Pass the result as
    pq_topk(..., codebooks=...) and nothing else in the plan changes."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(emb.select(vec_col).first()[0])
    dsub = dim // m
    out = []
    for s in range(m):
        feats = emb.select(array_to_vector(F.expr(
            f"transform(slice({vec_col}, {s * dsub + 1}, {dsub}),"
            f" x -> cast(x as double))")).alias("features"))
        model = KMeans(k=ksub, seed=seed, maxIter=max_iter).fit(feats)
        out.append([[float(x) for x in c] for c in model.clusterCenters()])
    return out


def _seq_dot(a, b) -> float:
    """Σ a_i·b_i accumulated sequentially (the _centroid_scores /
    aggregate(zip_with) fold order)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _py_cell(vec, cents) -> int:
    """1-based IVF cell with the engine's exact arithmetic: normalized
    dot against each centroid (sequential folds), FIRST maximal score —
    array_position(_sc, array_max(_sc)) replayed in Python floats."""
    scores = []
    for c in cents:
        nm = 0.0
        for x in c:
            nm += float(x) * float(x)
        scores.append(_seq_dot(vec, c) / nm ** 0.5)
    return scores.index(max(scores)) + 1


def ivfpq_codebooks(emb: DataFrame, cents: list[list[float]], m: int = 8,
                    ksub: int = 16, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> list[list[list[float]]]:
    """Residual-PQ codebooks for IVF∘PQ: subvectors of the RESIDUALS
    (vector − its cell centroid) of the ksub lowest-id vectors NOT in
    the centroid set (ids ksub..2·ksub−1 under the lowest-id stand-in —
    the centroid vectors themselves have zero residual, a degenerate
    codebook). Same literal interface as pq_codebooks; the production
    swap is per-subspace k-means over sampled residuals. Bounded
    collect — ksub rows."""
    nlist = len(cents)
    rows = (emb.select(id_col, vec_col)
            .filter(~F.col(id_col).isin(
                [i for i in range(nlist)]))
            .orderBy(id_col).limit(ksub).collect())
    dsub = len(cents[0]) // m
    out = []
    for s in range(m):
        out.append([])
    for r in sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows):
        vec = r[1]
        cell = _py_cell(vec, cents)
        res = [v - c for v, c in zip(vec, cents[cell - 1])]
        for s in range(m):
            out[s].append(res[s * dsub:(s + 1) * dsub])
    return out


def ivfpq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
               nlist: int = 16, nprobe: int = 4, m: int = 8,
               ksub: int = 16, rerank: int = 50,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids: list[list[float]] | None = None,
               codebooks: list[list[list[float]]] | None = None,
               n_salts: int = 64) -> DataFrame:
    """IVF∘PQ — the composition FAISS runs at 10^9+ vectors (Jégou et
    al. 2011 §IV): coarse-quantize into nlist cells, product-quantize
    each vector's RESIDUAL from its cell centroid (residuals are small
    and centered, so the same ksub codes quantize them far better than
    raw vectors), search by probing nprobe cells per query with
    per-(query, cell) ADC lookup tables, exact-cosine rerank the
    top-``rerank``. The index the scan carries is cell id + 32-bit code
    per vector; raw vectors surface only for the final rerank join.

    Scale shape: cell assignment is the ivf_topk narrow map (centroid
    literals, zero shuffle); encode is ONE Arrow pass (residual
    subtraction + code assignment in the same kernel, dimension-
    sequential accumulation for oracle bit-parity); the candidate scan
    joins the corpus codes against a BROADCAST (query, cell, LUT) table
    — nq·nprobe rows, each carrying its 128-entry LUT as an array
    column probed with element_at — so only probed cells are scored,
    with 8 lookups + adds per (vector, query) pair. Top-``rerank`` is
    the bm25 salted two-phase shape. Every float on the candidate path
    (cells, residuals, codes, LUT entries, the Σ over subspaces)
    follows ONE fold order, so the SQL oracle reproduces the exact
    candidate set."""
    cents = centroids if centroids is not None else \
        lowest_id_centroids(emb, nlist, id_col, vec_col)
    cbs = codebooks if codebooks is not None else \
        ivfpq_codebooks(emb, cents, m, ksub, id_col, vec_col)
    dsub = len(cents[0]) // m
    cb = np.asarray(cbs, dtype=np.float64)  # (m, ksub, dsub)
    cents_np = np.asarray(cents, dtype=np.float64)  # (nlist, dim)

    @F.pandas_udf("struct<cell:int, codes:array<int>>")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        # cell: normalized dot, sequential-fold parity is moot here —
        # numpy dot reductions differ from folds, so replicate the fold
        # explicitly: accumulate dimension-sequentially
        scores = np.zeros((len(mat), len(cents_np)))
        for i in range(mat.shape[1]):
            scores += mat[:, i:i + 1] * cents_np[:, i][None, :]
        # norms accumulated sequentially too (np.sum is pairwise — a
        # different rounding than the oracle's left fold)
        nrm = np.zeros(len(cents_np))
        for i in range(cents_np.shape[1]):
            nrm += cents_np[:, i] * cents_np[:, i]
        scores /= np.sqrt(nrm)[None, :]
        cells = np.argmax(scores, axis=1)  # first max
        res = mat - cents_np[cells]
        codes = np.empty((len(mat), m), dtype=np.int32)
        for s in range(m):
            sub = res[:, s * dsub:(s + 1) * dsub]
            dist = np.zeros((len(mat), ksub))
            for i in range(dsub):
                diff = sub[:, i:i + 1] - cb[s, :, i][None, :]
                dist += diff * diff
            codes[:, s] = np.argmin(dist, axis=1) + 1
        return pd.DataFrame({"cell": (cells + 1).astype(np.int32),
                             "codes": list(codes)})

    # asNondeterministic is a plan barrier, not a semantics claim: the
    # kernel is pure, but extracting two fields from a struct-returning
    # UDF lets CollapseProject inline enc() into BOTH getFields and
    # ExtractPythonUDFs then stacks TWO ArrowEvalPython nodes — the
    # encode (the dominant per-row cost at 10^9 vectors) ran twice per
    # row. Nondeterministic expressions are never duplicated, so the
    # corpus is encoded exactly once (plan-asserted in
    # test_scale_properties).
    coded = emb.select(F.col(id_col).alias("_id"),
                       enc.asNondeterministic()(F.col(vec_col))
                       .alias("_e")) \
        .select("_id", F.col("_e.cell").alias("cell"),
                F.col("_e.codes").alias("codes"))
    # query side: probed cells + per-(query, cell) LUTs, driver-built
    qvecs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in emb.select(id_col, vec_col)
        .filter(F.col(id_col).isin(query_ids)).collect()
    }
    cnorms = []
    for c in cents:
        nm = 0.0
        for x in c:
            nm += float(x) * float(x)
        cnorms.append(nm ** 0.5)
    probe_rows = []
    for q in query_ids:
        qv = qvecs[q]
        scores = [(_seq_dot(qv, c) / nm, i + 1)
                  for i, (c, nm) in enumerate(zip(cents, cnorms))]
        # nprobe best cells: score DESC, cell ASC (the ivf_topk order)
        best = sorted(scores, key=lambda t: (-t[0], t[1]))[:nprobe]
        for _, cell in best:
            resq = [v - c for v, c in zip(qv, cents[cell - 1])]
            lut = [
                _seq_l2sq(resq[s * dsub:(s + 1) * dsub], cbs[s][j])
                for s in range(m) for j in range(ksub)
            ]
            probe_rows.append((int(q), int(cell), lut))
    probed = emb.sparkSession.createDataFrame(
        probe_rows, "query_id long, cell int, lut array<double>")
    adc = " + ".join(
        f"element_at(lut, {s * ksub} + element_at(codes, {s + 1}))"
        for s in range(m))
    stacked = (coded.join(F.broadcast(probed), "cell")
               .where(F.col("_id") != F.col("query_id"))
               .select("query_id", F.col("_id").alias("neighbor_id"),
                       F.expr(adc).alias("adc")))
    return _adc_topk_rerank(stacked, emb, query_ids, k, rerank,
                            n_salts, id_col, vec_col)


def embed_docs(docs: DataFrame, dim: int = 64, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Text -> embedding: the tower that PRODUCES the embedding column
    every consumer in this module (ANN, LSH, SemDeDup, IVF-PQ) assumes
    exists. The oracle-able stand-in is the hashing trick (Weinberger et
    al. 2009, "Feature Hashing for Large Scale Multitask Learning"):
    dim buckets keyed by md5(token), L2-normalized counts. A production
    run swaps a sentence-transformer into `embed_docs_model`'s pandas
    UDF — same output contract, this form keeps the vectors re-derivable
    in SQL.

    Output is EXPLODED — (doc_id, dim_id, val) for the non-zero dims —
    so every float is a first-class value-checkable cell (the driver's
    canonicalizer cannot sort list cells; the mm_features lesson). val =
    round(c / sqrt(sum c^2), 6): counts are exact ints, so the norm and
    divide are single correctly-rounded IEEE ops — hash-exact across
    engines. Consumers re-assemble with collect_list(struct(dim_id,
    val)) or read the model-path array form.

    Plan: explode -> ONE partial-aggregated (doc_id, dim_id) count ->
    one doc-keyed agg for the norm -> broadcast-free self-join on
    doc_id (both sides already co-partitioned by the agg). Zero-token
    docs are absent (the lm_bits convention)."""
    b = (F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10)
         .cast("long") % dim).alias("dim_id")
    cnt = (docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(F.split(F.col(text_col), " ")).alias("tok"))
           .filter(F.length("tok") > 0)
           .select("doc_id", b)
           .groupBy("doc_id", "dim_id")
           .agg(F.count(F.lit(1)).alias("c")))
    nrm = cnt.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("nm"))
    return (cnt.join(nrm, "doc_id")
            .select("doc_id", "dim_id",
                    F.round(F.col("c") / F.col("nm"), 6).alias("val")))


def embed_docs_model(docs: DataFrame, dim: int = 64,
                     text_col: str = "text", id_col: str = "doc_id",
                     model_name: str | None = None,
                     fake: bool = False) -> DataFrame:
    """The sentence-transformer swap point (the lang_id_model pattern):
    same exploded (doc_id, dim_id, val) contract as `embed_docs`. With
    fake=True the pandas UDF computes the identical hashing-trick vector
    in numpy (pytest pins it equal to the JVM path — proving the Arrow
    plumbing end to end); without it, the probe gates on
    sentence-transformers, loaded once per executor process."""
    import importlib.util

    if not fake and importlib.util.find_spec("sentence_transformers") is None:
        raise NotImplementedError(
            "embed_docs_model requires sentence-transformers — not "
            "available in this container; pass fake=True for the "
            "deterministic fake tower, or use embed_docs() (the oracle "
            "contract)")

    from collections.abc import Iterator

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        model = None
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                if fake:
                    c: dict[int, int] = {}
                    for tok in (text or "").split(" "):
                        if tok:
                            h = int(hashlib.md5(
                                tok.encode()).hexdigest()[:4], 16) % dim
                            c[h] = c.get(h, 0) + 1
                    if not c:
                        continue
                    nm = math.sqrt(float(sum(v * v for v in c.values())))
                    for d, v in sorted(c.items()):
                        rows.append({"doc_id": did, "dim_id": d,
                                     "val": float(f"{v / nm:.6f}")})
                else:  # pragma: no cover — model libs absent here
                    if model is None:
                        from sentence_transformers import SentenceTransformer
                        model = SentenceTransformer(
                            model_name or "all-MiniLM-L6-v2")
                    vec = model.encode([text or ""])[0]
                    for d, v in enumerate(vec[:dim]):
                        rows.append({"doc_id": did, "dim_id": d,
                                     "val": float(v)})
            yield pd.DataFrame(rows,
                               columns=["doc_id", "dim_id", "val"])

    return (docs.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("text"))
            .mapInPandas(run, "doc_id long, dim_id long, val double"))


def sparse_near_pairs(vecs: DataFrame, threshold: float = 0.8,
                      max_dim_df: int | None = None) -> DataFrame:
    """All-pairs cosine over SPARSE vectors in exploded (doc_id, dim_id,
    val) form — the similarity-join shape text retrieval ran before
    dense embeddings (Bayardo/Ma/Srikant, "Scaling Up All Pairs
    Similarity Search", WWW'07): candidates meet only on shared
    dimensions, so the join is one shuffle keyed on dim_id and the dot
    product is a partial-aggregated sum of per-dimension products — no
    dense array ever materializes and absent dims cost nothing.

    `max_dim_df` is the AllPairs hot-dimension prune, applied by the
    family's one hot-key cap (dedup.cap_buckets on dim_id, so AQE picks
    the anti-join's strategy): a dimension shared by d docs contributes
    d(d-1)/2 candidate pairs, and the hottest dims (stopword buckets, in
    embed_docs' hashing space) carry the least signal — dropping dims
    with df > max_dim_df bounds the candidate volume at the cost of
    underestimating cosines by those dims' (small) products. WWW'07's
    exact variant re-verifies survivors against full vectors; here the
    pruned result is the documented approximation, threshold-gated on
    the ROUNDED 4dp score (engine-exact both sides).

    Input vals are embed_docs' L2-normalized components, so the pair dot
    IS the cosine. Output: (d1, d2, cos) with d1 < d2, cos >= threshold."""
    return (_dim_dots(cap_buckets(vecs, ["dim_id"], max_dim_df))
            .select("d1", "d2", F.round("dot", 4).alias("cos"))
            .filter(F.col("cos") >= threshold))


def _dim_dots(vecs: DataFrame) -> DataFrame:
    """(d1, d2, dot): the sparse dot of every doc pair sharing a dimension,
    one dim-keyed self-join and a pair-keyed partial-aggregated sum of
    per-dimension products."""
    return (shared_key_pairs(vecs, ["dim_id"], carry=("val",))
            .groupBy("d1", "d2")
            .agg(F.sum(F.col("val1") * F.col("val2")).alias("dot")))


def hybrid_near_pairs(vecs: DataFrame, threshold: float = 0.8,
                      head_df_frac: float = 0.02,
                      max_head_dims: int = 256,
                      max_dense_docs: int = 2_000_000) -> DataFrame:
    """Exact all-pairs cosine with the quadratic part in BLAS, not in a
    shuffle — the fix for sparse_near_pairs' one pathological regime.

    The AllPairs join is linear when similar pairs meet on rare shared
    dimensions, but a corpus whose cosine mass sits in a handful of HOT
    dimensions (stopword buckets; any small shared vocabulary) makes the
    dim-keyed join materialize ~Σ_hot df² rows — measured 169 s for 5k
    docs × 30 hot dims (~230 M join rows) where a 5000×30 GEMM is ~1 GFLOP.
    Exact output at threshold t is Ω(#pairs ≥ t) regardless of algorithm,
    so when hot-dim overlap is the data's shape the pair scan is inherent;
    the only question is whether it runs as a shuffle or as matrix math.

    Decomposition (exact, no recall trade):
      head = dims with df > head_df_frac·n_docs (bounded by
      max_head_dims); tail = the rest. Per doc, the head sub-vector and
      tail_norm = √(Σ tail val²) — computed from the ACTUAL tail rows, not
      1−‖head‖², so the bound holds for 6dp-rounded (not-exactly-unit)
      inputs. A blocked GEMM over the broadcast head
      matrix emits (d1, d2, hot_dot) for every pair that could POSSIBLY
      reach t: hot_dot ≥ t − tailnorm_1·tailnorm_2 (Cauchy-Schwarz bounds
      the tail's contribution, so no qualifying pair is missed). The tail
      runs through the ordinary sparse dim join (rare dims — linear), and
      cos = round(hot_dot + tail_dot, 4) filters ≥ t.

    Scale bounds, explicit: the head matrix (n_docs × n_head float64) is
    driver-built and task-broadcast — max_dense_docs caps it (~1 GB at
    2M×64), and the GEMM's n² pair scan is the exact tier's cost. Past
    either bound, exactness is the wrong ask: the graded scale paths are
    embedding_lsh_pairs / semantic_dedup_pairs (banded, linear candidates).

    Same contract as sparse_near_pairs: input (doc_id, dim_id, val) with
    L2-normalized vals; output (d1, d2, cos), d1 < d2, cos ≥ threshold.
    """
    import pandas as pd

    spark = vecs.sparkSession
    # the vector table is read 5 times below (doc count, doc-id collect,
    # head collect, tail join, candidate re-join) and typically arrives as
    # an UNMATERIALIZED tower DAG (embed_docs' mapInPandas) — cut the
    # lineage once so the Python tower runs once, not per reference
    vecs = vecs.localCheckpoint(eager=True)
    n_docs = vecs.select("doc_id").distinct().count()
    dfs = vecs.groupBy("dim_id").agg(F.count(F.lit(1)).alias("df"))
    cut = max(2.0, head_df_frac * n_docs)
    head_ids = sorted(r.dim_id for r in
                      dfs.filter(F.col("df") > cut).collect())
    if len(head_ids) > max_head_dims:
        raise ValueError(
            f"{len(head_ids)} head dims exceed max_head_dims="
            f"{max_head_dims}; raise head_df_frac")
    if n_docs > max_dense_docs:
        # name the actual driver-memory object in the refusal: the dense
        # head matrix is n_docs × n_head float64, built on the driver and
        # task-broadcast for the GEMM
        mat_bytes = n_docs * max(1, len(head_ids)) * 8
        raise ValueError(
            f"hybrid_near_pairs dense head capped at {max_dense_docs} docs "
            f"(got {n_docs}: head matrix {n_docs}x{len(head_ids)} float64 "
            f"= {mat_bytes:,} bytes of driver memory); use "
            "embedding_lsh_pairs / semantic_dedup_pairs at this scale")
    if not head_ids:
        return sparse_near_pairs(vecs, threshold=threshold)

    # bounded Arrow collects (no pandas object overhead): the head
    # sub-table is ≤ n_docs·n_head rows ≤ max_dense_docs·max_head_dims,
    # and the doc-id / tail-norm tables are ≤ n_docs rows each — all
    # within the cap enforced above.
    head_arrow = (vecs.filter(F.col("dim_id").isin(head_ids))
                  .select("doc_id", "dim_id", "val").toArrow())
    doc_ids = np.sort(vecs.select("doc_id").distinct()
                      .toArrow().column("doc_id").to_numpy())
    head_arr = np.asarray(head_ids, dtype=np.int64)
    mat = np.zeros((len(doc_ids), len(head_ids)), dtype=np.float64)
    mat[np.searchsorted(doc_ids, head_arrow.column("doc_id").to_numpy()),
        np.searchsorted(head_arr, head_arrow.column("dim_id").to_numpy())] \
        = head_arrow.column("val").to_numpy()
    # tail norms EXACTLY from the stored tail rows — not √(1−‖head‖²),
    # which assumes unit-norm inputs; embed_docs emits 6dp-rounded
    # components (‖v‖² can sit ~8e-6 off 1), and the Cauchy-Schwarz
    # candidate floor must hold for the ACTUAL values (r4 advice).
    tail_sq = (vecs.filter(~F.col("dim_id").isin(head_ids))
               .groupBy("doc_id")
               .agg(F.sum(F.col("val") * F.col("val")).alias("sq"))
               .toArrow())
    tail_norm = np.zeros(len(doc_ids), dtype=np.float64)
    tail_norm[np.searchsorted(doc_ids,
                              tail_sq.column("doc_id").to_numpy())] = \
        np.sqrt(np.maximum(0.0, tail_sq.column("sq").to_numpy()))

    n = len(doc_ids)
    block = max(256, min(4096, n // (spark.sparkContext.defaultParallelism
                                     or 8) + 1))
    n_blocks = (n + block - 1) // block
    thr = float(threshold)

    def gemm(batches):
        for pdf in batches:
            for bi in pdf["block"].to_numpy():
                lo, hi = bi * block, min((bi + 1) * block, n)
                s = mat[lo:hi] @ mat.T                       # (hi-lo, n)
                # 5e-5 slack: the final filter rounds to 4dp FIRST, so a
                # sum as low as t - 0.00005 still rounds up to qualify
                floor = (thr - 5.1e-5
                         - np.outer(tail_norm[lo:hi], tail_norm) - 1e-9)
                ii, jj = np.nonzero(s >= floor)
                keep = (ii + lo) < jj                        # d1 < d2 once
                ii, jj = ii[keep], jj[keep]
                yield pd.DataFrame({
                    "d1": doc_ids[ii + lo], "d2": doc_ids[jj],
                    "hot": s[ii, jj]})

    cands = (spark.range(n_blocks).select(F.col("id").alias("block"))
             .repartition(n_blocks)
             .mapInPandas(gemm, "d1 long, d2 long, hot double"))

    tail_dots = _dim_dots(vecs.filter(~F.col("dim_id").isin(head_ids)))
    return (cands.join(tail_dots, ["d1", "d2"], "left")
            .select("d1", "d2",
                    F.round(F.col("hot") + F.coalesce(F.col("dot"),
                                                      F.lit(0.0)), 4)
                    .alias("cos"))
            .filter(F.col("cos") >= threshold))
