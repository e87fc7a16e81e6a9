"""Similarity search over an embedding column (array<float>).

Two paths, per the build charter:
- brute-force cosine top-k — the exact baseline; fully JVM
  (zip_with + aggregate), one broadcast of the (small) query set.
- LSH-bucketed ANN — the scale path: random-hyperplane sign buckets
  derived from deterministic per-dimension hash weights; candidates only
  form inside a bucket, then exact cosine re-ranks. At 10^10 vectors the
  bucket join replaces the all-pairs cross join; recall/latency trades via
  n_planes.

Embedding-cosine near-dup (training-data dedup by semantic similarity) is
block_neardup_candidates: query == corpus within each block, a threshold
instead of top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# --- fixed-dimension codegen variants (optimization round 8) -------------
#
# The lambda higher-order functions above (zip_with/aggregate/transform)
# are CodegenFallback: every containing projection is evaluated
# INTERPRETED, which is what made the pair-wise cosine queries quadratic-
# slow (guide §4.1 — prefer built-ins that codegen). When the embedding
# dimension is known (one cheap first-row probe), the same arithmetic can
# be spelled as a flat expression tree over GetArrayItem, which
# whole-stage-codegen compiles to straight-line Java.
#
# Bit-for-bit equivalence with dot()/norm(): aggregate's left fold
# computes ((0.0 + x0) + x1) + ... ; the flat tree below builds the
# identical association starting from lit(0.0), and each term is the same
# cast-then-multiply expression zip_with/transform produced, so every
# intermediate double is identical (pinned by tests).


def first_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Probe the (fixed) array length from the first row; None if empty."""
    row = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    return int(row["_d"]) if row is not None else None


def dot_flat(a: Column, b: Column, dim: int) -> Column:
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast("double")
    return acc


def norm_flat(a: Column, dim: int) -> Column:
    acc: Column = F.lit(0.0)
    for i in range(dim):
        x = a.getItem(i).cast("double")
        acc = acc + x * x
    return F.sqrt(acc)


def block_neardup_candidates(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """All-pairs raw cosine within each block, vectorized (guide §4.2).

    Returns (id_a, id_b, cos_raw) for every within-block pair with
    id_a < id_b and cos_raw >= threshold - 1e-3 (margin so the caller's
    JVM-side ``round(cos_raw, 4) >= threshold`` filter — BigDecimal
    HALF_UP, the rounding authority — makes the final cut; no pair that
    could round up to the threshold is dropped here).

    ``cos_raw`` equals ``cosine()``'s double bit for bit. The BLAS
    matmul is only the filter: its summation order differs from the
    JVM's left fold, by at most about 2·d·2⁻⁵³ in cosine (1.4e-14 at
    d=64), far inside the 1e-3 margin, so it keeps every pair the fold
    keeps. For each pair it emits, the dot is then recomputed in the
    fold's order (``acc + a[k]*b[k]`` for k = 0..d-1, one dimension at a
    time) and divided by the norms, which accumulate in the same order.
    The caller's ``round`` therefore sees the JVM's exact double, and no
    4-dp midpoint or threshold tie can come out differently.

    Scale shape: one shuffle on block_col; per-block work is the
    inherently-quadratic pair set filtered by one BLAS matmul per row
    tile instead of per-pair interpreted folds. Blocks are the caller's
    blocking scheme (labels here, LSH buckets at scale), so no single
    task ever sees more than one block.
    """
    import numpy as np  # noqa: F401  (imported in the worker too)
    import pandas as pd

    margin = threshold - 1e-3
    out_schema = f"id_a long, id_b long, cos_raw double"

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_raw": "float64"}
            )
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        # one contiguous row per dimension: the fold-order loops below
        # read one dimension at a time and gather only the pairs' entries
        cols = np.ascontiguousarray(V.T)
        nsq = np.zeros(n, dtype=np.float64)
        for col in cols:
            nsq += col * col
        nrm = np.sqrt(nsq)
        # row-tiled so the pair matrix never exceeds ~256 MB even for
        # very large blocks (guide §5: bound per-task state)
        tile = max(1, min(n, 32_000_000 // n))
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n, tile):
            i1 = min(i0 + tile, n)
            # BLAS filter: float32→double products are exact, only the
            # summation order differs from the fold (see docstring)
            T = V[i0:i1] @ V.T
            cosT = T / np.multiply.outer(nrm[i0:i1], nrm)
            ii, jj = np.nonzero(cosT >= margin)
            keep = jj > (ii + i0)  # id_a < id_b (rows sorted by id)
            a, b = ii[keep] + i0, jj[keep]
            # exact value: the dot in the JVM fold's order, over the
            # emitted pairs only (the r8 first cut folded the full n×tile
            # matrix this way: 390 s on one 20k block vs ~2 s for BLAS)
            acc = np.zeros(len(a), dtype=np.float64)
            for col in cols:
                acc += col[a] * col[b]
            out_a.append(ids[a])
            out_b.append(ids[b])
            out_c.append(acc / (nrm[a] * nrm[b]))
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a).astype("int64"),
                "id_b": np.concatenate(out_b).astype("int64"),
                "cos_raw": np.concatenate(out_c),
            }
        )

    return (
        vectors.select(F.col(id_col), F.col(block_col), F.col(vec_col))
        .groupBy(block_col)
        .applyInPandas(per_block, out_schema)
    )


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force).

    ``queries`` (query_id, embedding) is broadcast; corpus scan is one
    pass; the per-query top-k window shuffles on query_id only.
    Self-matches (same id) are not excluded here — callers filter.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    dim = first_dim(vectors, vec_col)
    if dim is None:
        scored = vectors.join(F.broadcast(q)).select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("_qvec"), F.col(vec_col)), 4).alias("cos_sim"),
        )
    else:
        # codegen path: per-row norms once (identical math to the per-pair
        # norm — same expression over the same data), flat dot per pair;
        # round-robin repartition spreads the single-file parquet scan so
        # the broadcast join parallelizes (guide §2.4/§4.1)
        par = vectors.sparkSession.sparkContext.defaultParallelism
        v = vectors.select(
            F.col(id_col), F.col(vec_col),
            norm_flat(F.col(vec_col), dim).alias("_vn"),
        ).repartition(par)
        qn = q.withColumn("_qn", norm_flat(F.col("_qvec"), dim))
        scored = v.join(F.broadcast(qn)).select(
            query_id_col,
            id_col,
            F.round(
                dot_flat(F.col("_qvec"), F.col(vec_col), dim)
                / (F.col("_qn") * F.col("_vn")),
                4,
            ).alias("cos_sim"),
        )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def hyperplane_buckets(
    vectors: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-of-projection LSH bucket per vector.

    Plane p's weight for dimension d is a deterministic pseudo-random
    value in [-1, 1): (xxhash64(p:d) % 10^6)/5*10^5 - 1 — no RNG state, so
    the bucketing is reproducible across runs/executors (required for
    checkpoint resume).
    """
    def plane_weight(p: int, d: Column) -> Column:
        h = F.xxhash64(F.concat(F.lit(f"plane{p}:"), d.cast("string")))
        return (F.pmod(h, F.lit(1_000_000)) / 500_000.0) - 1.0

    def weigh_with(p: int):
        # factory, not default-arg lambda (pyspark infers arity by signature)
        return lambda x, d: x.cast("double") * plane_weight(p, d)

    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.sequence(F.lit(0), F.size(vec_col) - 1),
                weigh_with(p),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(0)
    return vectors.withColumn("bucket", bucket)


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: bool = True,
    probe_radius: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates share one of the query's probe
    buckets, exact cosine re-ranks. Returns (query_id, vec_id, cos_sim, rank).

    ``multiprobe=True`` probes the query's own bucket PLUS every bucket
    within Hamming distance ``probe_radius`` (flip up to that many sign
    bits) — standard multi-probe LSH: a near neighbor that lands just
    across one or two hyperplanes is still found. Probe count is
    sum(C(n_planes, r) for r <= radius) per query — distinct bucket
    values, so no candidate dedup is needed, and only the (small,
    broadcast) query side fans out; the corpus still partitions by a
    single bucket key, so the scale shape is unchanged. At production
    plane counts (16-24) radius-2 probing is a few hundred probes against
    2^n buckets — the classic recall/latency dial.
    """
    from itertools import combinations

    vb = hyperplane_buckets(vectors, n_planes, id_col, vec_col)
    qb = hyperplane_buckets(
        queries.select(F.col(query_id_col), F.col(vec_col)), n_planes, query_id_col, vec_col
    ).select(query_id_col, F.col(vec_col).alias("_qvec"), "bucket")
    if multiprobe:
        masks = [0]
        for r in range(1, probe_radius + 1):
            masks += [
                sum(1 << p for p in bits) for bits in combinations(range(n_planes), r)
            ]
        probe_set = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
        )
        qb = qb.select(
            query_id_col, "_qvec", F.explode(probe_set).alias("bucket")
        )
    scored = vb.join(F.broadcast(qb), "bucket").select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("_qvec"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into n_lists
    cells; each query probes its n_probe nearest centroids and exact-ranks
    only those cells' vectors.

    The index build (KMeans fit + cell assignment) is the amortized step —
    at scale the assignments are a written column (Iceberg ``bucket`` on
    cell_id) and only the probe join runs per query batch. Deterministic
    via fixed seed.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    va = vectors.withColumn("_v", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_lists, seed=seed, featuresCol="_v", predictionCol="cell")
    model = km.fit(va)
    assigned = model.transform(va).drop("_v")

    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cdf = vectors.sparkSession.createDataFrame(
        centroids, "cell int, centroid array<double>"
    )

    # each query scores all centroids (tiny cross join), keeps n_probe cells
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    qc = q.join(F.broadcast(cdf)).select(
        query_id_col,
        "_qvec",
        "cell",
        cosine(F.col("_qvec"), F.col("centroid")).alias("_csim"),
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(
        F.col("_csim").desc(), F.col("cell")
    )
    probes = (
        qc.withColumn("_pr", F.row_number().over(w_probe))
        .filter(F.col("_pr") <= n_probe)
        .select(query_id_col, "_qvec", "cell")
    )

    scored = assigned.join(F.broadcast(probes), "cell").select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("_qvec"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Persist an IVF index: KMeans centroids + per-vector cell
    assignments, parquet at ``path`` (``{path}/centroids``,
    ``{path}/assignments`` partitioned by cell).

    This is the amortized step of ivf_topk made explicit: build once,
    serve many query batches. At scale the assignments table is Iceberg-
    bucketed on cell_id so a probe touches only its cells' files; here
    parquet ``partitionBy('cell')`` gives the same pruning (the probe
    join's cell filter prunes partitions at scan time).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    va = vectors.withColumn("_v", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_lists, seed=seed, featuresCol="_v", predictionCol="cell").fit(va)
    assigned = model.transform(va).drop("_v")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/assignments")
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    vectors.sparkSession.createDataFrame(
        centroids, "cell int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Serve ANN top-k from a persisted IVF index (build_ivf_index): no
    KMeans fit per query batch — probe-cell selection against the (tiny,
    broadcast) centroid table, then exact cosine over only the probed
    cells' partitions (partition-pruned scan)."""
    cdf = spark.read.parquet(f"{path}/centroids")
    assigned = spark.read.parquet(f"{path}/assignments")

    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    qc = q.join(F.broadcast(cdf)).select(
        query_id_col, "_qvec", "cell",
        cosine(F.col("_qvec"), F.col("centroid")).alias("_csim"),
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(F.col("_csim").desc(), F.col("cell"))
    probes = (
        qc.withColumn("_pr", F.row_number().over(w_probe))
        .filter(F.col("_pr") <= n_probe)
        .select(query_id_col, "_qvec", "cell")
    )
    scored = assigned.join(F.broadcast(probes), "cell").select(
        query_id_col, id_col,
        F.round(cosine(F.col("_qvec"), F.col(vec_col)), 4).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )
