"""Similarity search over an embedding column (array<float>).

  cosine_topk       brute-force top-k vs one query vector: a narrow
                    projection + TakeOrderedAndProject — no global sort
                    materialization, scales linearly, the correctness
                    baseline.
  with_lsh_bucket   sign-random-projection LSH: embeddings hash into
                    2^n_planes buckets via deterministic hyperplanes.
  ivf_ann           IVF search: brute-force only within the query's
                    nearest coarse centroids.
  embedding_near_dup_pairs  all-pairs near-duplicates within LSH buckets.

Hyperplanes (and IVF centroids) are generated from a seeded RNG on the
driver — identical on every executor and every run — and shipped as ONE
broadcast crossJoin column (array<array<double>>), NOT as per-plane plan
literals: at dim=1024 × 16 planes literal arrays would bloat the plan by
~16k constant nodes; the broadcast keeps plan size O(1) in dim. Dot
products use F.aggregate/zip_with (JVM-side, codegen); no UDFs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import register


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _query_topk(cand: DataFrame, query: list[float], k: int,
                id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, score) top-k by cosine vs a LITERAL query vector. The
    query norm is a Python constant — computing it per row was a whole
    O(dim) aggregate — and the cast vector is a named column so the
    interpreted Project evaluates the cast once, not per reference
    (PLANS.md §10). Fold order matches the old column form exactly
    (left-to-right sum of squares), so scores are bit-identical.
    orderBy+limit compiles to TakeOrderedAndProject: each partition
    keeps a k-heap, the driver merges k×P rows."""
    q = F.array(*[F.lit(float(v)) for v in query])
    qn = 0.0
    for v in query:
        qn += float(v) * float(v)
    v_ = F.col("__v")
    scored = cand.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).select(
        F.col(id_col),
        F.round(
            _dot(v_, q) / (_norm(v_) * F.lit(float(qn) ** 0.5)), 6
        ).alias("score"),
    )
    return scored.orderBy(F.desc("score"), id_col).limit(k)


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, score) — top-k by cosine vs a literal query vector
    (see _query_topk for the plan shape)."""
    return _query_topk(emb, query, k, id_col, vec_col)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def _matrix_col(df: DataFrame, matrix, name: str) -> DataFrame:
    """Attach a small driver-side float matrix (hyperplanes, centroids)
    as one broadcast column of array<array<double>> — plan size O(1) in
    dim, data shipped once per executor via the broadcast."""
    spark = df.sparkSession
    rows = [[float(x) for x in row] for row in matrix]
    mdf = spark.createDataFrame([(rows,)], f"{name}: array<array<double>>")
    return df.crossJoin(F.broadcast(mdf))


def _sig_from_planes(vec: Column, planes_col: Column) -> Column:
    """Sign-projection bucket id from a planes column: fold the planes
    in order, acc = acc*2 + (vec·plane > 0) — plane p contributes bit
    (n_planes-1-p). Pure array expressions; one aggregate node."""
    return F.aggregate(
        planes_col,
        F.lit(0).cast("bigint"),
        lambda acc, plane: acc * 2
        + F.when(_dot(vec, plane) > 0, 1).otherwise(0).cast("bigint"),
    )


def py_lsh_signature(vec, planes) -> int:
    """Driver-side twin of _sig_from_planes (same fold order), the
    reference the with_lsh_bucket parity test compares against."""
    sig = 0
    for plane in planes:
        sig = sig * 2 + (1 if float(np.dot(vec, plane)) > 0 else 0)
    return sig


def with_lsh_bucket(
    emb: DataFrame, dim: int, n_planes: int = 8, seed: int = 42,
    vec_col: str = "embedding", center_rows: bool = False,
) -> DataFrame:
    """center_rows: subtract each vector's OWN mean before the sign
    projection (bucketing only — downstream cosine still sees the raw
    vectors). Positive-only feature vectors (image/audio activations,
    hash-derived features) all point near the all-ones diagonal, so
    raw sign-LSH buckets collapse onto a few huge cells — at sf0.1 the
    sha256 fake features put 1.4M of 12.6M possible pairs into
    same-bucket candidates at 8 planes; row-centering rebalances the
    signs to fair coins (~uniform 2^n_planes cells, ~49k pairs, 30x
    less join work) while identical vectors still bucket identically
    (the transform is per-row deterministic). Pure projection: no
    corpus aggregate, no extra job."""
    planes = _hyperplanes(dim, n_planes, seed)
    base = _matrix_col(emb, planes, "__planes")
    v = F.col(vec_col).cast("array<double>")
    if center_rows:
        # LET-BIND the row mean and the centered vector via the
        # single-element-array + lambda-variable idiom. Staging them as
        # named columns does NOT survive the optimizer: CollapseProject
        # inlines a once-referenced alias even when that one reference
        # sits inside a lambda that runs per element/per plane — the
        # probed plan had the row-mean aggregate INSIDE the per-element
        # subtract INSIDE the per-plane dot, O(n_planes·dim²)
        # interpreted work per row (invisible at dim=16, fatal at 768).
        # Bound, mean and centered vector are each evaluated once per
        # row under ANY substitution (PLANS §16).
        mean = F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size(v)
        centered = F.get(
            F.transform(
                F.array(mean),
                lambda m: F.transform(v, lambda x: x - m),
            ),
            F.lit(0),
        )
        sig = F.get(
            F.transform(
                F.array(centered),
                lambda vc: _sig_from_planes(vc, F.col("__planes")),
            ),
            F.lit(0),
        )
    else:
        sig = _sig_from_planes(v, F.col("__planes"))
    return base.withColumn("lsh_bucket", sig).drop("__planes")


def _sq_dist(a: Column, c: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ivf_assign(v: Column, cents_col: Column) -> Column:
    """Nearest-centroid index (0-based) against a centroid-matrix column:
    argmin over transform — first minimum wins (stable)."""
    dists = F.transform(cents_col, lambda c: _sq_dist(v, c))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def train_ivf_centroids(
    emb, k: int = 8, iters: int = 5, seed: int = 42,
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Driver-iterated Lloyd's k-means (the IVF coarse quantizer).

    Each iteration is ONE distributed aggregation: assign = argmin over
    a broadcast centroid matrix, then posexplode + groupBy(cluster, dim)
    mean — plan size O(1) in dim, map-side partial aggregation reduces
    the shuffle to k×dim rows per partition. Only k×dim floats ever
    reach the driver. Iteration count is fixed (deterministic); init
    picks the k rows with the smallest xxhash64 of the id — stable
    across runs and partitionings."""
    from pyspark.sql import functions as F  # noqa: F811

    dim = len(emb.select(vec_col).first()[0])
    first_cols = [c for c in emb.columns if c != vec_col][:1]
    seed_rows = (
        emb.withColumn("__h", F.xxhash64(F.lit(seed), *first_cols))
        .orderBy("__h")
        .limit(k)
        .select(vec_col)
        .collect()
    )
    cents = [list(map(float, r[0])) for r in seed_rows]
    v = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        assigned = _matrix_col(emb, cents, "__cents").withColumn(
            "__c", _ivf_assign(v, F.col("__cents"))
        )
        agg = (
            assigned.select("__c", F.posexplode(v).alias("pos", "val"))
            .groupBy("__c", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new: dict[int, dict[int, float]] = {}
        for r in agg:
            new.setdefault(int(r["__c"]), {})[int(r["pos"])] = float(r["m"])
        cents = [
            [new[i][d] for d in range(dim)] if i in new else cents[i]
            for i in range(len(cents))
        ]
    return cents


def with_ivf_bucket(emb, centroids: list[list[float]], vec_col: str = "embedding"):
    """Assign each vector to its nearest coarse centroid — the IVF list
    id, usable as a storage partition key at scale."""
    v = F.col(vec_col).cast("array<double>")
    return (
        _matrix_col(emb, centroids, "__cents")
        .withColumn("ivf_bucket", _ivf_assign(v, F.col("__cents")))
        .drop("__cents")
    )


def ivf_ann(
    emb,
    query: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: brute-force cosine only within the n_probe coarse
    lists nearest to the query."""
    import numpy as np

    q = np.asarray(query, dtype=float)
    order = np.argsort([float(((q - np.asarray(c)) ** 2).sum()) for c in centroids])
    probe = [int(i) for i in order[:n_probe]]
    cand = with_ivf_bucket(emb, centroids, vec_col).filter(
        F.col("ivf_bucket").isin(probe)
    )
    return _query_topk(cand, query, k, id_col, vec_col)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    center_rows: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, candidate-limited to
    same-LSH-bucket pairs (high-cosine pairs collide with high
    probability; recall tunable via n_planes).

    The per-row (bucket, norm) frame is CACHED: the self-join consumes
    it on both sides, and AQE does not reuse the exchange across the
    aliases, so without the cache the interpreted sign-projection
    (n_planes folds over dim elements per row — no codegen for
    higher-order functions) runs twice over the corpus and dominates
    (round-4 measurement at 50k×16-dim×14 planes: 7.3 s → 0.5 s
    cached). Cache lives until the caller clears it (bench.py
    clearCache()s between queries), same lifecycle as
    ngram_jaccard_pairs' base cache."""
    # infer dim from one row (tiny driver action)
    dim = len(emb.select(vec_col).first()[0])
    # cast ONCE into the named column the pair join carries (inline
    # casts would re-convert per reference, PLANS.md §10), and compute
    # each vector's NORM once per ROW here — the pair join evaluates
    # cosine per PAIR, so an inline norm would re-fold the O(dim)
    # aggregate ~|bucket| times per vector (round 4: measured 7.7 →
    # 2.x s on the multimodal_ann bench query). Same float ops in the
    # same order, just hoisted — values are bit-identical.
    bucketed = with_lsh_bucket(
        emb, dim, n_planes, seed, vec_col, center_rows=center_rows
    ).select(
        id_col,
        F.col(vec_col).cast("array<double>").alias(vec_col),
        "lsh_bucket",
    ).withColumn("__nrm", _norm(F.col(vec_col))).cache()
    bucketed = register(bucketed)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(b, "lsh_bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                _dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (F.col("a.__nrm") * F.col("b.__nrm")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return pairs.distinct()
