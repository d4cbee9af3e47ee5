"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; LSH (random-hyperplane)
bucketing as the scale path. Vector math is JVM-side (``zip_with`` +
``aggregate`` fold — deterministic left-to-right summation); the hyperplanes
are seed-fixed numpy constants baked into the plan as literals, so results
are reproducible across runs and parallelism.
"""

from __future__ import annotations

from functools import lru_cache

from colymer_acquirers_spark import fragments

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


# Plan-invariant Column fragments (hyperplane/centroid/query-vector
# literals and the expressions folded over them) are memoized module-wide
# (r8): Column objects are immutable unresolved-expression wrappers, safe
# to reuse across DataFrames, and rebuilding them cost ~1,500 F.lit py4j
# round trips ≈ 1-2 s of serial driver time per ann_topk_variants
# invocation — more than the query's own execution. Same gateway-lifetime
# assumption as plans/round.py's fragment caches.


@fragments.register
@lru_cache(maxsize=64)
def _vec_lit(values: tuple) -> Column:
    return F.array(*[F.lit(float(x)) for x in values])


@fragments.register
@lru_cache(maxsize=64)
def _cents_lit(cents_key: tuple) -> Column:
    return F.array(*[_vec_lit(c) for c in cents_key])


@fragments.register
@lru_cache(maxsize=64)
def _cosine_sim_col(qv_key: tuple, vec_col: str) -> Column:
    v = F.col(vec_col).cast("array<double>")
    q = _vec_lit(qv_key)
    return dot(v, q) / (F.sqrt(dot(v, v)) * F.sqrt(dot(q, q)))


@fragments.register
@lru_cache(maxsize=64)
def _bucket_key_col(dim: int, n_planes: int, seed: int, vec_col: str) -> Column:
    planes = _hyperplanes(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    key = None
    for i, p in enumerate(planes):
        plane = _vec_lit(tuple(float(x) for x in p))
        bit = F.when(dot(v, plane) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(1 << i).cast("long")
        key = bit if key is None else key + bit
    return key


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force top-k by cosine to a constant query vector."""
    sim = _cosine_sim_col(tuple(float(x) for x in query_vec), vec_col)
    return (
        df.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH: sign-bit bucket key per vector.

    Vectors in the same bucket are angularly close with high probability —
    the candidate set for ANN at scale (query: compute the query's bucket,
    scan only that bucket + neighbors by hamming distance).
    """
    return df.withColumn(out_col, _bucket_key_col(dim, n_planes, seed, vec_col))


def ann_cosine_topk_lsh(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: restrict the exact cosine scan to the query's LSH bucket
    (falls back to hamming-1 neighbor buckets for recall)."""
    planes = _hyperplanes(dim, n_planes)
    qv = np.asarray(query_vec)
    qbits = (planes @ qv > 0).astype(np.int64)
    qkey = int((qbits << np.arange(n_planes)).sum())
    neighbor_keys = [qkey] + [qkey ^ (1 << i) for i in range(n_planes)]
    bucketed = lsh_bucket(df, dim, n_planes, vec_col=vec_col)
    cand = bucketed.filter(F.col("bucket").isin(neighbor_keys))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def embedding_near_dups_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    hamming_probes: int = 1,
    max_probes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold — the SCALE path.

    Candidates come from LSH bucket collisions (equi-joins on the bucket
    key), never an all-pairs inequality join. OR-amplification across
    ``n_tables`` independent hyperplane tables (seeds seed..seed+T-1), plus
    hamming≤``hamming_probes`` multi-probe within each table: a true pair
    survives if ANY table agrees within the probe radius, so recall is
    1-(1-p_table)^T with p_table = P(≤probes bits differ). The exact
    JVM-side cosine verifies every candidate — precision is always 1.

    hamming_probes ∈ {0, 1, 2} is the standard recall/cost knob: the probe
    set per row is 1, 1+P, or 1+P+C(P,2) bucket keys (P = n_planes).
    ``max_probes`` truncates that set deterministically (radius-ascending,
    bit-index-lexicographic) when the radius-2 fan-out is too expensive —
    recall degrades gracefully toward the radius-1 level.

    Plan shape: explode (tables × probes) → shuffle on (table, bucket) →
    equi-join → cosine filter. At 10^10 rows pick
    n_planes ≈ log2(n_rows / target_bucket_size); raising n_tables buys
    recall linearly in cost, raising n_planes shrinks buckets; prefer more
    tables over radius-2 probing when C(P,2) rows of explode outweigh a
    second table's single row.
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    if hamming_probes > 2:
        raise NotImplementedError("multi-probe radius > 2 not implemented")
    v = F.col(vec_col).cast("array<double>")

    def bucket_expr(t: int):
        return _bucket_key_col(dim, n_planes, seed + t, vec_col)

    tables = F.array(
        *[
            F.struct(F.lit(t).alias("t"), bucket_expr(t).alias("b"))
            for t in range(n_tables)
        ]
    )
    keyed = df.select(
        F.col(id_col), v.alias("__v"), F.explode(tables).alias("tb")
    ).select(id_col, "__v", F.col("tb.t").alias("__t"), F.col("tb.b").alias("__b"))
    masks = [0]
    if hamming_probes >= 1:
        masks += [1 << i for i in range(n_planes)]
    if hamming_probes >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if max_probes is not None:
        masks = masks[: max(1, int(max_probes))]
    probes = [F.col("__b")] + [
        F.col("__b").bitwiseXOR(F.lit(m).cast("long")) for m in masks[1:]
    ]
    a = keyed.select(
        id_col, "__v", "__t", F.explode(F.array(*probes)).alias("__probe")
    )
    # the keyed/probe tables are byte-small while the bucket-collision
    # expansion + per-candidate cosine are the real work — keep them wide
    from colymer_acquirers_spark.operators.dedup import pin_shuffle_width

    a = pin_shuffle_width(a, "__t", "__probe").alias("a")
    # the right side joins on its OWN bucket only (probe ⋈ bucket covers
    # hamming-1 pairs once in each direction; id_a < id_b dedups)
    b = keyed.alias("b")
    sim = dot(F.col("a.__v"), F.col("b.__v")) / (
        F.sqrt(dot(F.col("a.__v"), F.col("a.__v")))
        * F.sqrt(dot(F.col("b.__v"), F.col("b.__v")))
    )
    return (
        a.join(
            b,
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__probe") == F.col("b.__b"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def kmeans_centroids(
    df: DataFrame,
    n_centroids: int = 8,
    sample_n: int = 2048,
    n_iters: int = 20,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic sampled k-means for IVF cells (VERDICT r2 #7).

    Sample: the ``sample_n`` rows with the smallest ``xxhash64(id, seed)``
    — a distributed TakeOrdered (per-partition top-N + merge), NOT a full
    sort, so it is scale-safe at 10^10 rows and reproducible at any
    parallelism. Clustering: k-means++ seeding + Lloyd iterations in
    driver-side numpy over the sample (seeded RandomState — bit-identical
    across runs). Returned centroids are plain lists, baked into the
    assignment plan as literals like the hyperplanes above.
    """
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(int(sample_n))
        .collect()
    )
    if not rows:  # empty input: no cells to build (rng.randint(0) raises)
        return []
    X = np.asarray([r["v"] for r in rows], dtype=float)
    return kmeans_lloyd(X, n_centroids, seed=seed, n_iters=n_iters)


def kmeans_lloyd(
    X: np.ndarray, n_centroids: int, seed: int = 42, n_iters: int = 20
) -> list[list[float]]:
    """Driver-side numpy k-means++ + Lloyd over an already-sampled matrix.

    Split out of :func:`kmeans_centroids` so the DuckDB oracle generator
    (queries.oracle_sql) can recompute the SAME centroids bit-for-bit from
    the same sample without a SparkSession — the ``ann_ivf_topk`` oracle
    bakes them into the SQL as literals.
    """
    k = min(n_centroids, len(X))
    rng = np.random.RandomState(seed)
    # k-means++ seeding
    cents = [X[rng.randint(len(X))]]
    for _ in range(1, k):
        d2 = np.min(
            [((X - c) ** 2).sum(axis=1) for c in cents], axis=0
        )
        tot = d2.sum()
        if tot <= 0:  # all points coincide with chosen centroids
            cents.append(X[rng.randint(len(X))])
            continue
        cents.append(X[np.searchsorted(np.cumsum(d2 / tot), rng.rand())])
    C = np.asarray(cents)
    # Lloyd
    for _ in range(n_iters):
        assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
        newC = np.vstack(
            [
                X[assign == j].mean(axis=0) if (assign == j).any() else C[j]
                for j in range(k)
            ]
        )
        if np.allclose(newC, C):
            C = newC
            break
        C = newC
    return [[float(x) for x in c] for c in C]


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest centroid
    (argmin L2) via JVM expressions over centroid literals.

    Centroids are plan constants — derived offline (k-means on a sample) or,
    as in `ann_cosine_topk_ivf`, taken deterministically. At 10^10 rows the
    assignment is one embarrassingly-parallel projection; the cluster id
    becomes the partition/bucket key for the inverted file.
    """
    best = _ivf_best_col(
        tuple(tuple(float(x) for x in c) for c in centroids), vec_col
    )
    return df.withColumn(out_col, best)


@fragments.register
@lru_cache(maxsize=64)
def _ivf_best_col(cents_key: tuple, vec_col: str) -> Column:
    v = F.col(vec_col).cast("array<double>")
    # LINEAR-size argmin, not a when-chain: the old
    # ``best_d = when(d < best_d, d).otherwise(best_d)`` fold referenced
    # the previous best_d tree TWICE per step, so the expression DOUBLED
    # per centroid (~2^k copies of the distance subtree at k centroids —
    # measured ~6 s per execution over a 2,000-row table, single task,
    # dominated by evaluating the exploded tree). One transform over an
    # array-of-centroids literal evaluates each distance exactly once;
    # array_position(…, array_min(…)) keeps the same first-min tie-break
    # (bitwise-equal doubles — the min IS one of the elements).
    cents_arr = _cents_lit(cents_key)
    d2s = F.transform(
        cents_arr,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    best = (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")
    # NULL/malformed vectors fall back to bucket 0 (ADVICE r7: the r7
    # argmin rewrite silently changed them to a NULL bucket, dropping
    # such rows from the inverted file; the pre-r7 when-chain assigned 0)
    return F.coalesce(best, F.lit(0).cast("int"))


def ann_cosine_topk_ivf(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str | list[list[float]] = "kmeans",
) -> DataFrame:
    """ANN top-k via IVF: coarse-quantize vectors to n_centroids cells,
    scan only the n_probe cells nearest the query (exact cosine inside).

    centroids: 'kmeans' (default — deterministic sampled k-means,
    ``kmeans_centroids``), 'lowest_id' (the n_centroids lowest-id vectors;
    the old placeholder, kept as a dependency-free fallback), or an
    explicit list. Scale shape: one filter on the cluster column
    (partition-prunable when the table is written bucketed/partitioned by
    cluster) + exact top-k on ~n_probe/n_centroids of the data.
    """
    import numpy as np

    if centroids == "kmeans":
        cents = kmeans_centroids(
            df, n_centroids, id_col=id_col, vec_col=vec_col
        )
    elif centroids == "lowest_id":
        cents = [
            [float(x) for x in r[vec_col]]
            for r in df.orderBy(id_col).limit(n_centroids).collect()
        ]
    else:
        cents = [[float(x) for x in c] for c in centroids]
        if not cents:
            # an explicitly-passed empty list is a caller bug (stale
            # artifact?) — refusing beats silently brute-force-scanning
            # the whole table, the cost IVF exists to avoid
            raise ValueError("explicit centroids list is empty")
    if not cents:
        # kmeans/lowest_id found nothing ⇒ the vectors table is empty;
        # the brute-force path returns the correct empty top-k
        return cosine_topk(df, query_vec, k, id_col, vec_col)
    assigned = ivf_assign(df, cents, vec_col=vec_col)
    q = np.asarray(query_vec, dtype=float)
    d2 = [float(((np.asarray(c) - q) ** 2).sum()) for c in cents]
    probe = sorted(np.argsort(d2)[:n_probe].tolist())
    cand = assigned.filter(F.col("cluster").isin(probe))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)
