"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the correctness baseline: one scan, a JVM-side
  higher-order-function dot product (F.zip_with/F.aggregate — stays in
  codegen, no Python), TakeOrderedAndProject for the top-k.
* LSH-bucketed ANN — the scale path: deterministic sign-projection buckets;
  the query probes only its own (optionally hamming-≤1-adjacent) buckets, so
  a 10^10-vector table is pruned to a few buckets before any distance math.
  (IVF with learned centroids is the next refinement; buckets here are
  data-independent so results are exactly reproducible and oracle-checkable.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(v1, v2):
    return F.aggregate(
        F.zip_with(v1, v2, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(v):
    return F.sqrt(
        F.aggregate(v, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def _dotd(a, b):
    """Dot product with per-element widening to double BEFORE the
    multiply — the cross-engine-exact variant (float*float then widen
    differs in the last ulp from widen-then-multiply); one definition
    shared by every oracle-matched pairwise operator."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sqd(v):
    """Squared L2 norm with the same per-element double widening."""
    return F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def cosine_expr(vec_col: str, query: list[float]):
    q = F.array(*[F.lit(float(x)) for x in query])
    v = F.col(vec_col)
    return F.round(_dot(v, q) / (_norm(v) * _norm(q)), 6)


def cosine_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: (vec_id, cosine), deterministic tie-break."""
    return (
        emb.select(F.col(id_col).alias("vec_id"), cosine_expr(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def sign_bucket_expr(vec_col: str, dims: int):
    """Deterministic sign-projection bucket id from the first ``dims``
    coordinates (hyperplanes = coordinate axes → fully reproducible)."""
    return sum(
        F.when(F.element_at(F.col(vec_col), d + 1) >= 0, F.lit(1 << d)).otherwise(F.lit(0))
        for d in range(dims)
    )


def ann_lsh_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_dims: int = 6,
    probe_adjacent: bool = True,
) -> DataFrame:
    """ANN: restrict the scan to the query's sign bucket (plus hamming-1
    neighbors for recall), then exact cosine within. At scale the table is
    written partitioned by bucket → partition pruning makes the probe read
    only ~ (dims+1)/2^dims of the data."""
    q_bucket = 0
    for d in range(bucket_dims):
        if query[d] >= 0:
            q_bucket |= 1 << d
    buckets = [q_bucket]
    if probe_adjacent:
        buckets += [q_bucket ^ (1 << d) for d in range(bucket_dims)]
    bucketed = emb.withColumn("bucket", sign_bucket_expr(vec_col, bucket_dims))
    probed = bucketed.filter(F.col("bucket").isin(buckets))
    return (
        probed.select(F.col(id_col).alias("vec_id"), cosine_expr(vec_col, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_index(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
):
    """IVF (inverted-file) index: KMeans centroids + cluster-assigned table.

    Returns (model, assigned_df). At scale the assigned table is written
    partitioned by ``cluster`` so a probe reads only n_probe partitions —
    the learned-centroid upgrade over the data-independent sign buckets.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.withColumn("_features", array_to_vector(F.col(vec_col).cast("array<double>")))
    km = KMeans(k=n_centroids, seed=seed, featuresCol="_features", predictionCol="cluster")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("_features")
    return model, assigned


def ivf_topk(
    model,
    assigned: DataFrame,
    query: list[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe the n_probe nearest centroids' clusters, exact cosine within.

    Driver-side work is only the centroid ranking (n_centroids rows); the
    cluster filter becomes partition pruning when the index is stored
    partitioned by ``cluster``.
    """
    import numpy as np

    q = np.asarray(query, dtype=np.float64)
    cents = np.stack([np.asarray(c) for c in model.clusterCenters()])
    dists = ((cents - q) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(dists, kind="stable")[:n_probe]]
    candidates = assigned.filter(F.col("cluster").isin(probe))
    return (
        candidates.select(
            F.col(id_col).alias("vec_id"), cosine_expr(vec_col, query).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_write(model, assigned: DataFrame, path: str) -> None:
    """Persist the IVF index: vectors partitioned BY CLUSTER on disk — a
    stored probe then reads only the n_probe cluster directories (storage
    partition pruning, plan-asserted in tests/test_plans.py) — plus the
    centroid matrix as a tiny side table (n_centroids rows)."""
    import os

    assigned.write.partitionBy("cluster").mode("overwrite").parquet(
        os.path.join(path, "vectors")
    )
    spark = assigned.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark.createDataFrame(rows, "cluster int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def ivf_probe_stored(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over a STORED IVF index: rank centroids driver-side (a
    n_centroids-row read), then scan only the n_probe nearest cluster
    partitions — the `cluster IN (...)` filter is a partition-directory
    prune, so a 10^10-vector index reads n_probe/n_centroids of the data."""
    import os

    import numpy as np

    cents = {
        r["cluster"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    }
    q = np.asarray(query, dtype=np.float64)
    order = sorted(cents, key=lambda c: float(((cents[c] - q) ** 2).sum()))
    probe = [int(c) for c in order[:n_probe]]
    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    candidates = vectors.filter(F.col("cluster").isin(probe))
    return (
        candidates.select(
            F.col(id_col).alias("vec_id"), cosine_expr(vec_col, query).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def random_project(
    emb: DataFrame,
    out_dims: int = 16,
    seed: int = 0,
    vec_col: str = "embedding",
    out_col: str = "projected",
) -> DataFrame:
    """Seeded sparse random projection (Achlioptas JCSS 2003: entries
    √3·{+1 w.p. 1/6, 0 w.p. 2/3, −1 w.p. 1/6}, scaled 1/√k) — the
    Johnson-Lindenstrauss dimensionality reduction a 100-TB embedding
    pipeline runs BEFORE ANN indexing (768-d → 64-d cuts every
    downstream distance computation ~12× with bounded distortion).

    The projection matrix is never materialized: weight w(i, j) is a
    pure arithmetic hash of (input dim i, output dim j, seed) — an LCG
    mixed to high bits, mapped {0→+1, 1→−1, 2..5→0} — evaluated inline,
    so the operator is ONE zero-shuffle scan projection (Catalyst
    transform × aggregate HOFs, JVM codegen, no Python) and two runs
    with the same seed are bit-identical on any cluster layout.  The
    hash is plain integer arithmetic so an external engine (the DuckDB
    oracle) reproduces every output value exactly; elements round to 6
    for cross-engine float stability.
    """
    k = int(out_dims)
    if k <= 0:
        raise ValueError(f"out_dims must be positive, got {out_dims}")
    scale = (3.0 / k) ** 0.5

    def w(i, j):
        # two LCG rounds: one round leaves the weights linearly
        # correlated in (i, j) and biases pairwise distances ~12% high
        idx = i.cast("long") * k + j.cast("long") + int(seed)
        m = F.lit(2147483648).cast("long")
        h = F.pmod(
            F.lit(1103515245).cast("long") * idx + F.lit(12345).cast("long"),
            m,
        )
        h = F.pmod(
            F.lit(1103515245).cast("long") * h + F.lit(12345).cast("long"),
            m,
        )
        u = F.pmod(F.shiftright(h, 16), F.lit(6).cast("long"))
        return (
            F.when(u == 0, F.lit(scale))
            .when(u == 1, F.lit(-scale))
            .otherwise(F.lit(0.0))
        )

    v = F.col(vec_col)
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.round(
            F.aggregate(
                F.zip_with(
                    v,
                    F.sequence(F.lit(0), F.size(v) - 1),
                    lambda x, i: x.cast("double") * w(i, j),
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )
    return emb.withColumn(out_col, proj)


def lloyd_kmeans(
    emb: DataFrame,
    k: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fixed-iteration Lloyd k-means (Lloyd 1982) as pure DataFrame
    rounds — the oracle-checkable companion to the pyspark.ml KMeans the
    IVF index uses: deterministic initialization (the k lowest-id
    vectors), a fixed iteration count, and lowest-cluster-id tie-breaks
    make every intermediate centroid and assignment reproducible by an
    external engine, bit-stably across parallelism.  Returns
    (id, cluster, dist) — the final assignment and the Euclidean
    distance to its centroid (rounded to 6).

    Per round: assignment is a BROADCAST cross-join against the k-row
    centroid frame (argmin via min_by over a (distance, cluster)
    comparable struct — ties to the lowest cluster id), and the update
    is one posexplode + (cluster, dim)-keyed mean + array rebuild.
    A cluster that loses all members keeps its previous centroid
    (left-join + coalesce), matching the common implementation choice.

    Scale shape (10^10 vectors): the only corpus-scale exchanges are the
    per-round (cluster, dim) mean — map-side partial — and the final
    assignment projection; centroids (k·dims doubles) always ride
    broadcast.  Per-round lineage is truncated via
    ``iterutil.lineage_truncator`` (reliable ``checkpoint_dir`` for
    executor-loss safety on preemptible clusters, localCheckpoint
    default).  The k-row init rank uses the two-phase global rank, not
    an unpartitioned window.
    """
    from .iterutil import lineage_truncator
    from .ranking import global_row_number

    if k <= 0 or iterations < 0:
        raise ValueError(f"need k > 0, iterations >= 0; got {k}, {iterations}")
    _ckpt = lineage_truncator(checkpoint_dir)
    base = _ckpt(
        emb.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
    )
    seedrows = base.orderBy("_id").limit(k)
    cent = global_row_number(seedrows, [F.asc("_id")], name="_c").select(
        (F.col("_c") - 1).cast("int").alias("cluster"),
        F.col("_v").alias("centroid"),
    )

    def _sqdist(v, c):
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )

    def _assign(centroids):
        return (
            base.crossJoin(F.broadcast(centroids))
            .withColumn("_d", _sqdist(F.col("_v"), F.col("centroid")))
            .groupBy("_id")
            .agg(
                F.min_by(
                    F.struct("cluster", "_d"),
                    F.struct(F.col("_d"), F.col("cluster")),
                ).alias("_best")
            )
            .select(
                "_id",
                F.col("_best.cluster").alias("cluster"),
                F.col("_best._d").alias("_d"),
            )
        )

    for _ in range(iterations):
        assigned = _assign(cent)
        means = (
            assigned.join(base, "_id")
            .select("cluster", F.posexplode("_v").alias("_i", "_x"))
            .groupBy("cluster", "_i")
            .agg(F.avg("_x").alias("_mx"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_i", "_mx"))
                    ),
                    lambda s: s["_mx"],
                ).alias("_new")
            )
        )
        cent = _ckpt(
            cent.join(means, "cluster", "left").select(
                "cluster",
                F.coalesce(F.col("_new"), F.col("centroid")).alias("centroid"),
            )
        )
    final = _assign(cent)
    return final.select(
        F.col("_id").alias(id_col),
        "cluster",
        F.round(F.sqrt("_d"), 6).alias("dist"),
    )


def hard_negatives(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    top-k most cosine-similar corpus vectors with a DIFFERENT label —
    the negatives that sit closest to the decision boundary, which is
    what contrastive/retrieval training wants in the batch (cf. dense
    retrieval practice: in-domain hard negatives beat random ones).

    Returns (anchor_id, neg_id, cosine, rank) with rank 1..k per anchor
    (cosine rounded to 6 BEFORE ranking; ties break on neg_id asc, so
    the selection is reproducible cross-engine).

    Scale shape (10^9 corpus x 10^3 anchors): the anchor set is the
    SMALL side and is broadcast — the corpus is scanned exactly once,
    never shuffled; the per-anchor top-k is a rank<=k filter that
    Catalyst rewrites to WindowGroupLimit, so each task keeps only k
    rows per anchor before the (tiny, anchors*k-row) final exchange.
    Float products are widened to double inside the zip_with so Spark
    and any IEEE-754 oracle agree bit-for-bit.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("_av"),
        F.col(label_col).alias("_albl"),
    )
    c = emb.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("_v"),
        F.col(label_col).alias("_lbl"),
    )
    pairs = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("_lbl") != F.col("_albl"))
        .select(
            "anchor_id",
            "neg_id",
            F.round(
                _dotd(F.col("_v"), F.col("_av"))
                / (F.sqrt(_sqd(F.col("_v"))) * F.sqrt(_sqd(F.col("_av")))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("neg_id")
    )
    return pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ann_recall_at_k(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bucket_dims: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the sign-bucket ANN path against brute-force cosine
    — the measure-don't-guess harness for the approximate scale path:
    per query, |exact top-k ∩ LSH top-k| / k, where the LSH candidate
    set is the query's sign bucket plus all hamming-1 neighbors (the
    same probe set ``ann_lsh_topk`` scans via partition pruning).

    Returns (anchor_id, exact_k, lsh_k, hits, recall).  Both rankings
    pin the cross-engine selection: cosine rounded to 6 desc, id asc.
    ``lsh_k`` < k is itself a signal (probe set smaller than k).

    Scale shape: queries are the SMALL broadcast side; the corpus is
    scanned once, both per-anchor top-k cuts are rank<=k filters that
    lower to WindowGroupLimit (k rows per anchor retained per task),
    and everything after the cut is anchors*k-row small. The bucket
    membership test is one bit_count(xor) on scan-side codegen — no
    second pass over the corpus for the LSH leg.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    a = queries.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("_av"),
        sign_bucket_expr(vec_col, bucket_dims).alias("_ab"),
    )
    c = emb.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("_v"),
        sign_bucket_expr(vec_col, bucket_dims).alias("_nb"),
    )
    pairs = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("nid") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "nid",
            F.round(
                _dotd(F.col("_v"), F.col("_av"))
                / (F.sqrt(_sqd(F.col("_v"))) * F.sqrt(_sqd(F.col("_av")))),
                6,
            ).alias("cosine"),
            F.bit_count(
                F.col("_nb").bitwiseXOR(F.col("_ab"))
            ).alias("_hd"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("nid")
    )
    exact = (
        pairs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("anchor_id", "nid")
    )
    lsh = (
        pairs.filter(F.col("_hd") <= 1)
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select("anchor_id", F.col("nid").alias("_lnid"))
    )
    lsh_sizes = lsh.groupBy("anchor_id").agg(
        F.count(F.lit(1)).cast("long").alias("lsh_k")
    )
    joined = exact.join(
        lsh.withColumnRenamed("_lnid", "nid"),
        ["anchor_id", "nid"],
        "left_semi",
    )
    hits = joined.groupBy("anchor_id").agg(
        F.count(F.lit(1)).cast("long").alias("hits")
    )
    base = exact.groupBy("anchor_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_k")
    )
    return (
        base.join(lsh_sizes, "anchor_id", "left")
        .join(hits, "anchor_id", "left")
        .select(
            "anchor_id",
            "exact_k",
            F.coalesce("lsh_k", F.lit(0).cast("long")).alias("lsh_k"),
            F.coalesce("hits", F.lit(0).cast("long")).alias("hits"),
            (
                F.coalesce("hits", F.lit(0).cast("long")).cast("double")
                / F.lit(float(k))
            ).alias("recall"),
        )
    )
