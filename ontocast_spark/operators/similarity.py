"""Similarity search over an embedding column (``array<float>``).

- :func:`brute_force_topk` — exact cosine top-k for a batch of query
  vectors: broadcast the queries, one pass over the corpus, per-query
  top-k via ``row_number`` partitioned by query (never a global sort).
- :func:`ivf_topk` — the scale path: k-means-lite inverted-file index.
  Centroids are sampled deterministically (md5-ordered sample), every
  vector is assigned to its nearest centroid (one narrow pass), and a
  query probes only ``nprobe`` nearest cells — corpus scan shrinks by
  ~ncells/nprobe. Assignments persist as a table, so index build is a
  one-off batch job and probing is a semi-join.

All vector math is JVM-side (``zip_with``/``aggregate`` in double
precision); no Python in the scoring path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, x) -> acc + x)"
)
_NORM = (
    "sqrt(aggregate(transform({0}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "0D, (acc, x) -> acc + x))"
)


def _cosine_expr(a: str, b: str) -> str:
    return f"({_DOT.format(a=a, b=b)}) / ({_NORM.format(a)} * {_NORM.format(b)})"


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase exact top-k over (query_id, vec_id, sim) rows.

    A single ``Window.partitionBy(query_id)`` funnels EVERY scored
    corpus row for a query into one partition — a per-query straggler
    that sorts corpus-sized partitions at scale. Phase 1 takes the
    top-k within each (query, physical-partition) group (partition
    sizes stay bounded by the scan's split size); phase 2 ranks the
    surviving ``n_queries x n_partitions x k`` rows — tiny. Both
    phases order by (sim desc, vec_id asc), so the result is exactly
    the global top-k with deterministic ties."""
    order = [F.col("sim").desc(), F.col("vec_id").asc()]
    local = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("query_id", "_pid").orderBy(*order)
            ),
        )
        .filter(F.col("_r") <= k)
        .drop("_pid", "_r")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, sim, rank) — exact cosine top-k per query."""
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        "sim", F.round(F.expr(_cosine_expr("cv", "qv")), 6)
    )
    return _topk_per_query(scored, k)


def _seed_centroids(
    corpus: DataFrame, ncells: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic seed centroids: first ``ncells`` ids by
    ``md5(id)`` order — seed-free, rerun-stable."""
    return (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("centroid"))
        .withColumn("_o", F.md5(F.col("cid").cast("string")))
        .orderBy("_o")
        .limit(ncells)
        .drop("_o")
        .withColumn(
            "cell_id",
            F.row_number().over(Window.orderBy("cid")).cast("int"),
        )
        .select("cell_id", "centroid")
    )


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cv) x broadcast centroids -> (vec_id, cell_id): argmax
    cosine, ties broken toward the lowest cell_id."""
    scored = vecs.crossJoin(F.broadcast(centroids)).withColumn(
        "sim", F.expr(_cosine_expr("cv", "centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cell_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    ncells: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_centroids: DataFrame | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd) centroid training — the distributed
    iterative refinement of the IVF index's cells.

    Each round: assign every vector to its nearest centroid (one
    corpus pass against the broadcast centroid table), then recompute
    each centroid as the L2-normalized per-dimension mean of its
    members. Empty cells keep their previous centroid.

    Determinism at any parallelism: the per-dimension mean is
    aggregated as ``DECIMAL(38,15)`` — decimal addition is exact and
    order-independent, so the centroids are bit-identical regardless
    of partitioning or shuffle order (a double ``avg`` would drift in
    the last ulp with aggregation order and could flip argmax
    assignments between runs).

    Scale: per round, one broadcast-join corpus pass for assignment
    plus one shuffle of (cell_id, pos) partial means — map-side
    combine reduces the exploded n x d rows to ncells x d per
    partition before the exchange. ``localCheckpoint`` truncates the
    tiny centroid table's lineage each round so the plan stays flat.
    """
    vecs = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    centroids = (
        seed_centroids
        if seed_centroids is not None
        else _seed_centroids(corpus, ncells, id_col, vec_col)
    ).localCheckpoint()
    for _ in range(n_iter):
        assigned = _assign(vecs, centroids)
        comps = (
            assigned.join(vecs, "vec_id")
            .select("cell_id", F.posexplode("cv").alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.avg(F.col("x").cast("decimal(38,15)")).alias("m"))
        )
        new = (
            comps.groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .withColumn("raw", F.expr("transform(pm, s -> CAST(s.m AS DOUBLE))"))
            .withColumn("nrm", F.expr(_NORM.format("raw")))
            .withColumn(
                "ctr",
                F.expr(
                    "CASE WHEN nrm > 0 THEN "
                    "transform(raw, x -> CAST(x / nrm AS FLOAT)) END"
                ),
            )
            .select("cell_id", "ctr")
        )
        centroids = (
            centroids.join(new, "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce(F.col("ctr"), F.col("centroid")).alias("centroid"),
            )
            .localCheckpoint()
        )
    return centroids


def build_ivf_index(
    corpus: DataFrame,
    ncells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Returns (centroids(cell_id, centroid), assignments(vec_id, cell_id)).

    ``train_iters=0``: centroids are the deterministic md5-ordered
    sample. ``train_iters>0``: the sample seeds
    :func:`train_ivf_centroids` (spherical k-means) — tighter cells,
    better recall at the same nprobe. Assignment = argmax cosine vs
    broadcast centroids either way.
    """
    centroids = _seed_centroids(corpus, ncells, id_col, vec_col)
    if train_iters > 0:
        centroids = train_ivf_centroids(
            corpus, ncells, train_iters, id_col, vec_col, seed_centroids=centroids
        )
    vecs = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv"))
    assignments = _assign(vecs, centroids)
    return centroids, assignments


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` nearest cells per
    query; exact cosine within the probed subset."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    qcells = q.crossJoin(F.broadcast(centroids)).withColumn(
        "sim", F.expr(_cosine_expr("qv", "centroid"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cell_id"))
    probe = (
        qcells.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qv", "cell_id")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("cv")
    ).join(assignments, "vec_id")
    scored = c.join(F.broadcast(probe), "cell_id").withColumn(
        "sim", F.round(F.expr(_cosine_expr("cv", "qv")), 6)
    )
    return _topk_per_query(scored, k)


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q_embedding"
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max(|x|)/127,
    q_i = round(x_i / scale). Emits (q_embedding array<tinyint>,
    q_scale float) — 4x smaller shuffle/storage for ANN candidate
    stages; exact scores re-rank on the float column. All column
    algebra, deterministic, dimension-agnostic."""
    amax = (
        f"aggregate({vec_col}, CAST(0 AS DOUBLE), "
        f"(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    )
    return (
        df.withColumn("_amax", F.expr(amax))
        .withColumn(
            "q_scale",
            F.when(F.col("_amax") > 0, (F.col("_amax") / F.lit(127.0)))
            .otherwise(F.lit(1.0))
            .cast("float"),
        )
        .withColumn(
            out_col,
            F.expr(
                f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) "
                f"/ q_scale) AS TINYINT))"
            ),
        )
        .drop("_amax")
    )
