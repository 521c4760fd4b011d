"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; dot products via ``zip_with``/``aggregate``
  (JVM, codegen) — the exactness baseline.
* ``lsh_topk`` — random-hyperplane LSH bucketing: sign-bit bucket per
  vector (planes are a deterministic seeded literal), candidates share a
  bucket → exact rerank within bucket. The scale path: the corpus×query
  cross product shrinks to per-bucket joins.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )




def cosine_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 5, exclude_self: bool = True
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — exact brute force.

    ``queries`` must be small (it is broadcast); corpus scan stays narrow
    until the final per-query top-k (a single shuffle of k×|queries| rows
    thanks to rank-filter pushdown into the window sort)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    cos = (_dot("q_emb", "c_emb") / (_norm("q_emb") * _norm("c_emb"))).alias("cos")
    scored = joined.select("query_id", "neighbor_id", cos)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")  # deterministic tie-break
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    method: str = "lsh",
    n_tables: int = 16,
    n_planes: int = 16,
    seed: int = 42,
    max_bucket: int | None = None,  # None -> webx.dedup.DEFAULT_MAX_BUCKET
    max_exact_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos) with
    id_a < id_b and cos >= threshold.

    ``method="lsh"`` (default — the scale path): ONE narrow pass buckets
    every vector into ``n_tables`` random-hyperplane tables of
    ``n_planes`` sign bits — all tables' signs in one Arrow-batched gemm
    against the broadcast plane matrix (256 interpreted per-row JVM
    folds would be ~100× slower; this is the same expression-tree-vs-
    kernel call as the MinHash signature pass). No driver collect of
    the corpus. Candidate pairs come from per-(table, bucket) expansion
    (the webx.dedup LSH pattern, ``max_bucket`` caps mega-buckets); the
    exact cosine rerank touches only candidates. Recall for a pair at
    angle θ is 1-(1-(1-θ/π)^n_planes)^n_tables — ≈0.96 at the cos=0.95
    boundary with the defaults (p=0.899 per plane → 0.18 per 16-bit
    table → 16 tables), higher above it, and exactly 1 for collinear
    duplicates (every table agrees); random pairs collide at ~2^-16 per
    table, so candidates stay ≈ true-pair-sized. At 10^9 vectors raise
    n_planes (wider buckets) and set ``max_bucket``.

    ``method="exact"``: all-pairs blocked matrix multiply — the corpus
    is collected and broadcast once as a normalized numpy matrix and
    each Arrow batch computes one BLAS gemm against it. Exact, and fast
    to ~10^6 × 64-dim fp32 (~256 MB broadcast); beyond that the driver
    materialization is the bottleneck — use the LSH path. The bound is
    ENFORCED: a corpus above ``max_exact_rows`` raises before any
    driver materialization (nobody reaches 100 TB through this path by
    accident)."""
    if method == "lsh":
        return _cosine_neardup_lsh(
            emb, threshold, n_tables, n_planes, seed, max_bucket
        )
    import pandas as pd
    from pyspark.sql import types as T

    spark = emb.sparkSession
    # fence BEFORE toPandas: a limit-probe (bounded scan, stops at
    # max_exact_rows + 1) instead of a full count
    probe = emb.select(F.lit(1).alias("one")).limit(max_exact_rows + 1).count()
    if probe > max_exact_rows:
        raise ValueError(
            f"cosine_neardup_pairs(method='exact') collects the corpus on "
            f"the driver and is bounded to {max_exact_rows} rows (corpus "
            f"has more); use method='lsh' (the scale path) or raise "
            f"max_exact_rows explicitly."
        )
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    b_ids = spark.sparkContext.broadcast(ids)
    b_unit = spark.sparkContext.broadcast(unit)

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def fn(batches):
        all_ids, all_unit = b_ids.value, b_unit.value
        for p in batches:
            rows_id = p["vec_id"].to_numpy(dtype=np.int64)
            m = np.array(p["embedding"].tolist(), dtype=np.float64)
            n = np.linalg.norm(m, axis=1)
            n[n == 0.0] = 1.0
            cos = (m / n[:, None]) @ all_unit.T  # one gemm per batch
            ri, ci = np.nonzero(cos >= threshold)
            ia, ib = rows_id[ri], all_ids[ci]
            keep = ia < ib  # dedupe + drop self
            yield pd.DataFrame(
                {"id_a": ia[keep], "id_b": ib[keep], "cos": cos[ri, ci][keep]}
            )

    return emb.select("vec_id", "embedding").mapInPandas(fn, schema=schema)


def _cosine_neardup_lsh(
    emb: DataFrame,
    threshold: float,
    n_tables: int,
    n_planes: int,
    seed: int,
    max_bucket: int | None,
) -> DataFrame:
    """LSH candidate generation + exact rerank (see cosine_neardup_pairs)."""
    import pandas as pd
    from pyspark.sql import types as T

    head = emb.select("embedding").first()  # O(1) row, not a collect
    if head is None or head[0] is None:
        raise ValueError("cosine_neardup_pairs: empty embedding input (no rows)")
    dim = len(head[0])
    planes = np.concatenate(
        [np.asarray(hyperplanes(dim, n_planes, seed + t)) for t in range(n_tables)]
    )  # (n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    b_planes = emb.sparkSession.sparkContext.broadcast(planes)

    banded_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("tbl", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
        ]
    )

    def fn(batches):
        pl = b_planes.value
        for p in batches:
            m = np.array(p["embedding"].tolist(), dtype=np.float64)
            signs = (m @ pl.T) > 0  # one gemm: all tables, all planes
            sb = signs.reshape(len(m), n_tables, n_planes)
            bkt = (sb * weights).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(p["vec_id"].to_numpy(), n_tables),
                    "tbl": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(m)
                    ),
                    "bucket": bkt.ravel(),
                }
            )

    banded = emb.select("vec_id", "embedding").mapInPandas(fn, banded_schema)
    from webx.dedup import DEFAULT_MAX_BUCKET, bucket_pairs

    pairs = bucket_pairs(
        banded, ["tbl", "bucket"], "vec_id",
        DEFAULT_MAX_BUCKET if max_bucket is None else max_bucket,
        drop_metrics_name="cosine_lsh",
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("e_b"))
    cos = (_dot("e_a", "e_b") / (_norm("e_a") * _norm("e_b"))).alias("cos")
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos)
        .filter(F.col("cos") >= threshold)
    )


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> list:
    """Deterministic random hyperplanes as a plain nested list literal."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _bucket(emb_col, planes: list):
    """Sign-bit bucket id of a vector against the plane set (JVM expr)."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(emb_col, plane) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket


def _l2_fold(a, b):
    """Squared L2 distance between two float arrays: per-element cast to
    double, difference squared, LEFT-ASSOCIATIVE sum from 0.0. The fold
    order is part of the contract — the DuckDB oracle (webx/oracles.py
    ``_l2_cols``) generates the same chain, so both engines produce
    bit-identical distances (hence identical argmin/probe decisions)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_topk_deterministic(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k with a FIXED coarse quantizer (``centroids``: list of
    dim-length float lists, e.g. trained offline or sampled anchors —
    sampling corpus vectors as centroids is a standard quantizer init).

    Fully deterministic and JVM-side: the tiny centroid table is
    broadcast-joined against the corpus (one narrow pass — persist the
    assignment partitioned by ``centroid_id`` at 10^9 vectors),
    assignment/probes are (distance, cid) window ranks with exact
    lowest-cid tie-break. No Python in the pipeline and array-fold
    arithmetic with pinned fold order ⇒ exactly mirrorable by the
    DuckDB oracle. (Literal-coefficient expression chains were rejected:
    16 centroids × 64 dims exceeds the JVM codegen method limit and
    falls back to interpreted eval, ~20× slower.)"""
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cemb array<float>",
    )
    dist = _l2_fold(F.col("embedding"), F.col("cemb")).alias("d")
    w_vec = Window.partitionBy("vec_id").orderBy("d", "cid")
    c = (
        corpus.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cid", dist)
        .withColumn("rn", F.row_number().over(w_vec))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("c_emb"),
            F.col("cid").alias("centroid_id"),
        )
    )
    q = (
        queries.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cid", dist)
        .withColumn("rn", F.row_number().over(w_vec))
        .filter(F.col("rn") <= n_probe)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("cid").alias("centroid_id"),
        )
    )
    joined = c.join(F.broadcast(q), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = (_dot("q_emb", "c_emb") / (_norm("q_emb") * _norm("c_emb"))).alias("cos")
    scored = joined.select("query_id", "neighbor_id", cos)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    corpus_count: "int | None" = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    partitions the corpus into inverted lists; each query probes its
    ``n_probe`` nearest centroids and reranks exactly within those lists.
    (For a fixed pre-trained quantizer use ``ivf_topk_deterministic``.)

    Scale shape: train on a sample, assign once (narrow mapInPandas with
    the centroid matrix broadcast — at 10^9 vectors persist the
    assignment, partitioned by ``centroid_id``), then every query batch
    touches ~n_probe/n_centroids of the corpus."""
    import pandas as pd
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    # Train the coarse quantizer on a bounded sample: KMeans iterations scan
    # the training set repeatedly, so at 10^9 vectors fitting the full corpus
    # is the dominant cost. ~100x n_centroids rows is plenty for 16-256
    # centroids. A caller-supplied ``corpus_count`` (catalogs know it)
    # derives the sample fraction; without one, a deterministic
    # hash-ordered top-``target`` (per-partition top-k + merge, ONE pass,
    # no extra count job) replaces the old count()+sample double scan —
    # A/B in PLANS.md.
    target = max(1000, 100 * n_centroids)
    if corpus_count is not None and corpus_count > target:
        train = corpus.sample(fraction=min(1.0, target / corpus_count), seed=seed)
    elif corpus_count is not None:
        train = corpus
    else:
        train = corpus.orderBy(F.xxhash64(F.col("vec_id") + F.lit(seed))).limit(
            target
        )
    train = train.select(array_to_vector("embedding").alias("features"))
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(train)
    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    b_centers = spark.sparkContext.broadcast(centers)

    assign_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.IntegerType()),
        ]
    )

    def assign(batches):
        c = b_centers.value
        for p in batches:
            m = np.array(p["embedding"].tolist(), dtype=np.float64)
            d = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {"vec_id": p["vec_id"], "centroid_id": d.argmin(axis=1).astype("int32")}
            )

    probe_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("centroid_id", T.IntegerType()),
        ]
    )

    def probe(batches):
        c = b_centers.value
        for p in batches:
            m = np.array(p["embedding"].tolist(), dtype=np.float64)
            d = ((m[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            near = np.argsort(d, axis=1)[:, :n_probe]
            ids = np.repeat(p["vec_id"].to_numpy(), n_probe)
            yield pd.DataFrame(
                {"vec_id": ids, "centroid_id": near.ravel().astype("int32")}
            )

    lists = corpus.select("vec_id", "embedding").mapInPandas(assign, assign_schema)
    probes = queries.select("vec_id", "embedding").mapInPandas(probe, probe_schema)

    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    ).join(lists.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    ).join(
        F.broadcast(probes.withColumnRenamed("vec_id", "query_id")), "query_id"
    )
    joined = c.join(F.broadcast(q), "centroid_id").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = (_dot("q_emb", "c_emb") / (_norm("q_emb") * _norm("c_emb"))).alias("cos")
    scored = joined.select("query_id", "neighbor_id", cos).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Recall < 1 by construction; rerank within bucket is exact. At scale,
    bucket the corpus once (write bucketed/partitioned by bucket id) and
    reuse across query batches."""
    planes = hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _bucket(F.col("embedding"), planes).alias("bucket"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _bucket(F.col("embedding"), planes).alias("bucket"),
    )
    joined = c.join(F.broadcast(q), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = (_dot("q_emb", "c_emb") / (_norm("q_emb") * _norm("c_emb"))).alias("cos")
    scored = joined.select("query_id", "neighbor_id", cos)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def pq_encode_deterministic(
    corpus: DataFrame, m: int = 4, ksub: int = 8, dim: int = 64
) -> DataFrame:
    """Product-quantization encode (Jégou et al. 2011, the IVFADC
    family): split each ``dim``-vector into ``m`` subvectors, assign
    each to the nearest of ``ksub`` per-subspace codebook centroids —
    the corpus compresses from dim×4 bytes to m×1 bytes per vector,
    which is what makes 10^9-vector search fit in memory at all.

    Codebooks here are sampled anchors (the subvectors of the first
    ``ksub`` corpus vectors), the same deterministic quantizer-init
    convention as ``ivf_topk_deterministic`` — so the whole encode is
    exactly mirrorable in SQL. Distances use ``_l2_fold`` on
    ``slice()``d subvectors (pinned left-associative double chain);
    per-subspace argmin is a single ``min_by(cid, struct(d, cid))``
    aggregate, so ties break to the lowest code in both engines.

    Plan shape: corpus × broadcast(ksub anchor rows) → codegen distance
    columns → ONE partial+final hash aggregate on vec_id (map-side
    combine collapses the ksub candidate rows per vector before the
    exchange). At 10^9 vectors, persist the output partitioned however
    the downstream ADC scan reads it; the codes table is the compressed
    corpus. Reference analog: the rec stage's charset codebook maps
    dense features to a small discrete alphabet the same way
    (mindocr/postprocess/rec_postprocess.py label decode).
    """
    if dim % m:
        raise ValueError("dim must divide into m equal subspaces")
    dsub = dim // m
    cent = corpus.filter(F.col("vec_id") < ksub).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("cemb"),
    )
    joined = corpus.select("vec_id", "embedding").crossJoin(F.broadcast(cent))
    dists = [
        _l2_fold(
            F.slice("embedding", j * dsub + 1, dsub),
            F.slice("cemb", j * dsub + 1, dsub),
        ).alias(f"d{j}")
        for j in range(m)
    ]
    scored = joined.select("vec_id", "cid", *dists)
    return scored.groupBy("vec_id").agg(
        *[
            F.min_by("cid", F.struct(F.col(f"d{j}"), F.col("cid"))).alias(
                f"code_{j}"
            )
            for j in range(m)
        ]
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    ksub: int = 8,
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays exact,
    corpus vectors are their codes, and the scan cost per (query,
    vector) is m table lookups + m-1 adds — the memory-bound inner loop
    of every billion-scale ANN system.

    The per-query lookup table (query_id × cid × per-subspace distance,
    ``n_queries × ksub`` rows) is built once and broadcast; the codes
    table then takes ``m`` broadcast hash joins (one per subspace — all
    map-side, no exchange) and the only shuffle is the final per-query
    top-k window. The ADC total is an explicit left-associative sum of
    the m looked-up doubles, so ranks are bit-stable across engines.
    """
    codes = pq_encode_deterministic(corpus, m=m, ksub=ksub, dim=dim)
    dsub = dim // m
    cent = corpus.filter(F.col("vec_id") < ksub).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.col("embedding").alias("cemb"),
    )
    lut = (
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        .crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cid",
            *[
                _l2_fold(
                    F.slice("q_emb", j * dsub + 1, dsub),
                    F.slice("cemb", j * dsub + 1, dsub),
                ).alias(f"dq{j}")
                for j in range(m)
            ],
        )
    )
    out = codes.withColumnRenamed("vec_id", "neighbor_id").crossJoin(
        F.broadcast(lut.select("query_id").distinct())
    )
    for j in range(m):
        out = (
            out.join(
                F.broadcast(
                    lut.select(
                        F.col("query_id").alias(f"__q{j}"),
                        F.col("cid").alias(f"__c{j}"),
                        F.col(f"dq{j}").alias(f"adc_{j}"),
                    )
                ),
                on=[
                    F.col("query_id") == F.col(f"__q{j}"),
                    F.col(f"code_{j}") == F.col(f"__c{j}"),
                ],
            )
            .drop(f"__q{j}")
            .drop(f"__c{j}")
        )
    total = F.col("adc_0")
    for j in range(1, m):
        total = total + F.col(f"adc_{j}")
    scored = out.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", total.alias("adc")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


def semdedup(
    emb: DataFrame,
    centroids: list,
    threshold: float = 0.93,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): coarse-cluster the
    embeddings, prune near-identical pairs WITHIN each cluster, keep
    one survivor per semantic-duplicate component → (vec_id, keep).

    ``centroids`` is a fixed coarse quantizer (offline-trained or
    sampled anchors — same contract as ``ivf_topk_deterministic``), so
    the whole operator is deterministic and the DuckDB oracle replays
    it exactly (pinned-fold-order L2/cosine + transitive closure).

    Scale shape — the SemDeDup design point: assignment is one broadcast
    centroid pass + a per-vector window (persist partitioned by ``cid``
    at 10^9 vectors); the quadratic cosine prune is CLUSTER-bounded, not
    corpus-bounded; component resolution is webx.dedup.dedup_clusters
    min-label propagation, and the final keep join broadcast-hints
    through the size gate (``gated_broadcast``) — at SemDeDup's own
    design point the paper prunes up to 50% of the corpus, so the drop
    frame can be corpus-scale and must be allowed to shuffle."""
    from webx.dedup import cluster_rows, dedup_clusters, gated_broadcast

    spark = emb.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cemb array<float>",
    )
    dist = _l2_fold(F.col("embedding"), F.col("cemb")).alias("d")
    w_vec = Window.partitionBy("vec_id").orderBy("d", "cid")
    asn = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "embedding", "cid", dist)
        .withColumn("rn", F.row_number().over(w_vec))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cid")
    )
    a = asn.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), "cid"
    )
    b = asn.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"), "cid"
    )
    cos = _dot("ea", "eb") / (_norm("ea") * _norm("eb"))
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return (
        emb.select("vec_id")
        .join(
            gated_broadcast(
                drop.withColumn("k", F.lit(False)), rows=cluster_rows(clusters)
            ),
            "vec_id",
            "left",
        )
        .select("vec_id", F.coalesce("k", F.lit(True)).alias("keep"))
    )


def embedding_outliers(
    emb: DataFrame,
    centroids: list,
    k_far: int = 3,
) -> DataFrame:
    """Per-cluster embedding outliers: assign each vector to its
    nearest fixed anchor (the ivf_topk_deterministic quantizer
    contract), rank vectors within each cluster by distance to the
    centroid DESC, flag the top ``k_far`` → (vec_id, cid, far_rank,
    outlier). The embedding-space data-cleaning pass (CLIP-style corpus
    curation prunes far-from-centroid samples as noise/mislabels);
    rank-based so it is fully deterministic — no mean/variance whose
    float summation order engines could disagree on.

    Plan: one broadcast-centroid pass + two windows (assignment argmin,
    per-cluster rank); at 10^9 vectors persist the assignment
    partitioned by cid, as with semdedup."""
    spark = emb.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cid int, cemb array<float>",
    )
    dist = _l2_fold(F.col("embedding"), F.col("cemb")).alias("d")
    w_vec = Window.partitionBy("vec_id").orderBy("d", "cid")
    asn = (
        emb.select("vec_id", "embedding")
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", dist)
        .withColumn("rn", F.row_number().over(w_vec))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d")
    )
    w_far = Window.partitionBy("cid").orderBy(F.desc("d"), F.asc("vec_id"))
    return asn.withColumn("far_rank", F.row_number().over(w_far)).select(
        "vec_id",
        "cid",
        F.col("far_rank").cast("int").alias("far_rank"),
        (F.col("far_rank") <= k_far).alias("outlier"),
    )


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.93,
) -> DataFrame:
    """Semantic test-set decontamination (the embedding-space
    complement of the 13-gram exact overlap in webx/curate.py —
    paraphrased benchmark leakage survives n-gram checks but not
    cosine): flag corpus vectors whose max cosine against ANY
    benchmark vector ≥ threshold → (vec_id, max_cos, contaminated).

    Benchmarks are small by nature (10^3-10^5 rows) so the benchmark
    side BROADCASTS and the corpus pass is one narrow fan-out ×
    |benchmark| with a max-aggregate — no corpus shuffle. At larger
    benchmark sizes swap the expansion for the LSH-bucketed candidate
    path (``_cosine_neardup_lsh``); the flag semantics are unchanged.
    Pinned-fold cosine (the `_dot`/`_norm` contract) keeps every score
    engine-exact."""
    b = F.broadcast(
        benchmark.select(
            F.col("vec_id").alias("bid"), F.col("embedding").alias("bemb")
        )
    )
    cos = _dot(F.col("embedding"), F.col("bemb")) / (
        _norm(F.col("embedding")) * _norm(F.col("bemb"))
    )
    per = corpus.crossJoin(b).select("vec_id", cos.alias("c"))
    agg = per.groupBy("vec_id").agg(F.max("c").alias("max_cos"))
    return agg.select(
        "vec_id",
        "max_cos",
        (F.col("max_cos") >= threshold).cast("int").alias("contaminated"),
    )


def margin_bitext(
    a: DataFrame, b: DataFrame, k: int = 4, threshold: float = 1.0
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, ACL): for
    every source embedding, its best target by cosine, scored by the
    RATIO margin cos(x,y) / ((pen_x + pen_y)/2) where pen_v is the mean
    cosine of v's k nearest neighbors on the OTHER side — the
    hubness correction that absolute-threshold mining lacks (a hub
    vector close to everything gets a high penalty and stops matching
    everything). → (src_id, tgt_id, mutual, margin) for margin ≥
    threshold; ``mutual`` marks pairs that are also the target's best
    source (the strictest published acceptance rule, left as a flag so
    callers pick their operating point).

    Determinism: cosines use the fixed-fold dot (oracle's _dot_ff
    shape); the k-neighbor penalty folds in RANK order via k fixed
    slots (max-of-one-row each), not a groupBy float sum, so two
    engines agree to the last ulp and the threshold cut is stable.
    Plan: one broadcast cross-join per direction is avoided — BOTH
    rank directions come from the same scored frame via two windows;
    this exact path is the ≲10^6-vector-side baseline (mirrors
    cosine_topk); at corpus scale swap the scored frame for lsh_topk
    candidates and keep everything downstream unchanged.
    """
    # norms hoisted to one per VECTOR before the cross join — computing
    # them per pair would triple the array-fold work on |A|·|B| rows
    # (measured: the dominant cost). The per-vector double is the same
    # value the oracle's per-pair sqrt(dot(v,v)) yields, so parity holds.
    aa = a.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("ae"),
        _norm("embedding").alias("na"),
    )
    bb = b.select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").alias("be"),
        _norm("embedding").alias("nb"),
    )
    cos = (_dot("ae", "be") / (F.col("na") * F.col("nb"))).alias("cos")
    scored = aa.crossJoin(F.broadcast(bb)).select("src_id", "tgt_id", cos)
    # Both directions only ever need each key's TOP-k rows (the best
    # match is rank 1; the penalty is the mean of ranks 1..k), so the
    # rank filter goes IMMEDIATELY above row_number: Spark's
    # WindowGroupLimit then prunes each map partition to k rows per key
    # BEFORE the exchange — the sort that used to process the full
    # |A|·|B| frame twice now ships ≲ k·|keys|·partitions rows.
    # (Window-aggregate penalties over the full frame — the previous
    # formulation — carried the pair frame through both sorts:
    # measured 2.2x slower at 6.25M pairs.)
    wf = Window.partitionBy("src_id").orderBy(F.desc("cos"), F.asc("tgt_id"))
    wb = Window.partitionBy("tgt_id").orderBy(F.desc("cos"), F.asc("src_id"))
    src_top = scored.withColumn("rf", F.row_number().over(wf)).filter(
        F.col("rf") <= k
    )
    tgt_top = scored.withColumn("rb", F.row_number().over(wb)).filter(
        F.col("rb") <= k
    )
    # ONE aggregate per direction yields the penalty slots AND the best
    # row (each conditional max picks exactly one rank's row, so the
    # rank-order slot sum stays the fixed fold the oracle mirrors; a
    # plain SUM's fold order would be engine-dependent). Deriving best
    # rows by a separate filter would re-plan — and re-execute — the
    # whole scored subtree a third and fourth time: Spark shares no
    # common subplans across DataFrame references.
    def pen_expr():
        pen = F.col("_s1")
        for i in range(2, k + 1):
            pen = pen + F.col(f"_s{i}")
        return pen / F.lit(float(k))

    def slot_aggs(rank):
        return [
            F.max(F.when(F.col(rank) == i, F.col("cos"))).alias(f"_s{i}")
            for i in range(1, k + 1)
        ]

    src_agg = (
        src_top.groupBy("src_id")
        .agg(
            *slot_aggs("rf"),
            F.max(F.when(F.col("rf") == 1, F.col("tgt_id"))).alias("tgt_id"),
            F.max(F.when(F.col("rf") == 1, F.col("cos"))).alias("cos"),
        )
        .select("src_id", "tgt_id", "cos", pen_expr().alias("pen_a"))
    )
    tgt_agg = (
        tgt_top.groupBy("tgt_id")
        .agg(
            *slot_aggs("rb"),
            F.max(F.when(F.col("rb") == 1, F.col("src_id"))).alias("_tbest"),
        )
        .select("tgt_id", "_tbest", pen_expr().alias("pen_b"))
    )
    margin = F.col("cos") / ((F.col("pen_a") + F.col("pen_b")) / F.lit(2.0))
    return (
        src_agg.join(F.broadcast(tgt_agg), "tgt_id")
        .withColumn("mutual", F.col("src_id") == F.col("_tbest"))
        .withColumn("margin", margin)
        .filter(F.col("margin") >= threshold)
        .select("src_id", "tgt_id", "mutual", "margin")
    )
