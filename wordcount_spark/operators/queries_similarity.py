"""Similarity search over the embeddings table (extension surface).

Brute-force cosine top-k is the correctness baseline; blocked (IVF-like)
and sign-LSH variants are the sub-quadratic scale paths. Dot products are
computed as sequential double-precision folds (zip_with + aggregate in
Spark, list_transform + list_sum in DuckDB): float→double conversion is
exact and both engines fold left-to-right, so the doubles are identical
and results hash-match without tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wordcount_spark.registry import register
from wordcount_spark.sources.readers import load_table

_DOT_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
)
_NORM_SQL = (
    "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


@register(
    "similarity_topk_bruteforce",
    f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT b.vec_id, b.label,
             {_DOT_SQL} / ({_NORM_SQL.format(v="a.embedding")} * {_NORM_SQL.format(v="b.embedding")}) AS cos_sim
      FROM q a CROSS JOIN embeddings b
      WHERE b.vec_id <> 0
    )
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors of vec_id 0, brute force.

    The query vector joins via broadcast (1 row) — the scan side streams;
    Spark plans TakeOrderedAndProject, so top-k never globally sorts.
    At 100 TB this is the exact-scoring baseline you run on a candidate
    subset, not the full corpus — the LSH/blocked variants produce the
    candidates.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine(F.col("qv"), F.col("embedding")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "similarity_pairs_blocked",
    f"""
    SELECT a.vec_id AS ida, b.vec_id AS idb, a.label,
           {_DOT_SQL} / ({_NORM_SQL.format(v="a.embedding")} * {_NORM_SQL.format(v="b.embedding")}) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT_SQL} / ({_NORM_SQL.format(v="a.embedding")} * {_NORM_SQL.format(v="b.embedding")}) > 0.8
    ORDER BY ida, idb
    """,
)
def similarity_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup embedding pairs with IVF-style blocking: only pairs in the
    same coarse cell (label = the given quantizer) are scored — the n² cross
    product never materializes; the join shuffles on the block key."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.alias("a")
    b = emb.alias("b")
    sim = cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("ida"),
            F.col("b.vec_id").alias("idb"),
            F.col("a.label").alias("label"),
            sim.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") > 0.8)
        .orderBy("ida", "idb")
    )


def _plane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane components from md5 of (plane, dim) —
    reproducible in any engine, fixed across runs."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{p},{i}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def _rp_sig_sql(n_planes: int, dim: int) -> str:
    """DuckDB: signature = list of sign bits of plane·embedding."""
    planes = _plane_signs(n_planes, dim)
    bits = []
    for row in planes:
        terms = " + ".join(
            f"({s} * CAST(embedding[{i + 1}] AS DOUBLE))" for i, s in enumerate(row) if s == 1
        )
        neg = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE)" for i, s in enumerate(row) if s == -1
        )
        dot = f"({terms}) - ({neg})" if neg else f"({terms})"
        bits.append(f"CASE WHEN {dot} > 0 THEN 1 ELSE 0 END")
    return "[" + ", ".join(bits) + "]"


@register(
    "similarity_rp_lsh_buckets",
    f"""
    SELECT vec_id, array_to_string({_rp_sig_sql(8, 64)}, '') AS bucket
    FROM embeddings ORDER BY vec_id
    """,
)
def similarity_rp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (sign) LSH: 8 deterministic ±1 planes → 8-bit
    bucket per vector; cos-similar vectors collide with prob
    (1 - θ/π)^8. The scale path: bucketing is a pure map stage and the
    candidate join is an equi-join on the bucket string.

    Sign-of-dot-product is engine-stable: ±1 sums of the same doubles in
    the same order are bit-identical, so even this float-derived BUCKET
    hash-matches the oracle exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _plane_signs(8, 64)

    def dot_sign(row: list[int]) -> Column:
        pos = [F.element_at("embedding", i + 1).cast("double") for i, s in enumerate(row) if s == 1]
        neg = [F.element_at("embedding", i + 1).cast("double") for i, s in enumerate(row) if s == -1]
        pos_sum = sum(pos[1:], pos[0])
        dot = pos_sum - sum(neg[1:], neg[0]) if neg else pos_sum
        return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))

    sig = F.concat(*[dot_sign(r) for r in planes])
    return emb.select("vec_id", sig.alias("bucket")).orderBy("vec_id")


def _cc_sql(cents: list[list[float]]) -> str:
    """Nested DOUBLE[][] literal for a centroid list — the SAME doubles
    the Spark plan folds (frozen_codebooks.py), so distances hash-match."""
    rows = ",".join(
        "[" + ",".join(repr(float(v)) for v in c) + "]" for c in cents
    )
    return f"[{rows}]::DOUBLE[][]"


def _sqd_sql(vec: str, cv: str, lo: int, n: int) -> str:
    """Sequential-fold squared distance between ``vec[lo+1..lo+n]`` (any
    float array expr) and ``cv`` (a DOUBLE[] expr) — mirrors
    kmeans._sq_dist's zip_with+aggregate fold term-for-term."""
    d = f"(CAST({vec}[{lo} + i] AS DOUBLE) - {cv}[i])"
    return f"list_sum(list_transform(range(1, {n + 1}), i -> {d} * {d}))"


def _ivf_oracle() -> str:
    from wordcount_spark.operators.frozen_codebooks import IVF_CENTROIDS

    cc = _cc_sql(IVF_CENTROIDS)
    dim = len(IVF_CENTROIDS[0])
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    asg AS (
      SELECT vec_id, label, embedding,
             CAST(list_position(ds, list_min(ds)) - 1 AS INT) AS cluster
      FROM (
        SELECT vec_id, label, embedding,
               list_transform({cc}, cv -> {_sqd_sql("embedding", "cv", 0, dim)}) AS ds
        FROM embeddings WHERE vec_id <> 0
      )
    ),
    probe AS (
      SELECT CAST(gs - 1 AS INT) AS cluster
      FROM (
        SELECT unnest(ds) AS d, generate_subscripts(ds, 1) AS gs
        FROM (SELECT list_transform({cc}, cv -> {_sqd_sql("qv", "cv", 0, dim)}) AS ds
              FROM q)
      ) ORDER BY d, gs LIMIT 2
    )
    SELECT a.vec_id, a.label, a.cluster,
           list_sum(list_transform(range(1, {dim + 1}),
             i -> CAST(qv[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)))
           / ({_NORM_SQL.format(v="qv")} * {_NORM_SQL.format(v="a.embedding")})
             AS cos_sim
    FROM asg a JOIN probe USING (cluster), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@register("similarity_ivf_topk", _ivf_oracle())
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN search against the FROZEN coarse quantizer
    (operators/frozen_codebooks.py — k=8 k-means, pinned as a versioned
    artifact the way production ANN systems version their quantizers):
    per-row nearest-centroid assignment, then exact cosine scoring
    restricted to the nProbe=2 cells nearest the query vector. Fully
    lazy and oracle-backed — the DuckDB twin evaluates the SAME centroid
    doubles with the same sequential folds, so even the float distances
    hash-match; training (iterative Lloyd) lives in operators/kmeans.py
    and stays a separate pipeline, exactly as in production.

    Scale shape: assignment is one argmin-over-k-literals expression per
    row — no shuffle, no join; each SEARCH scans only ~nProbe/k of the
    corpus (here ~1/4), which is the point — recall vs brute force is
    bounded in tests/test_similarity_recall.py. The probe-cell frame is
    O(k) rows and the query vector is a 1-row broadcast (allowlisted
    BNLJ)."""
    from wordcount_spark.operators.frozen_codebooks import IVF_CENTROIDS, IVF_NPROBE
    from wordcount_spark.operators.kmeans import _sq_dist, assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    asg = assign_clusters(emb.filter(F.col("vec_id") != 0), IVF_CENTROIDS)
    qd = q.select(
        F.posexplode(
            F.array(*[_sq_dist(F.col("qv"), c) for c in IVF_CENTROIDS])
        ).alias("pos", "d")
    )
    probe = (
        qd.orderBy("d", "pos")
        .limit(IVF_NPROBE)
        .select(F.col("pos").cast("int").alias("cluster"))
    )
    return (
        asg.join(F.broadcast(probe), "cluster")
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "cluster",
            cosine(F.col("qv"), F.col("embedding")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "similarity_centroid_per_label",
    """
    WITH e AS (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings
    )
    SELECT label, i AS dim, CAST(avg(CAST(v AS DOUBLE)) AS FLOAT) AS centroid_v
    FROM e GROUP BY label, i
    HAVING i <= 4
    ORDER BY label, dim
    """,
)
def similarity_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (first 4 dims shown): the building
    block of IVF training / cluster assignment, as a posexplode + groupBy.
    Float cast at the end avoids double-mean last-ulp drift across engines
    being visible in the hash (mean of ≤ hundreds of values: the float
    rounding absorbs it).

    Scale: posexplode multiplies rows by the 4 shown dims BEFORE one
    (label, dim)-keyed map-side-combinable aggregation — state is
    O(labels x dims), the IVF-training shape at any corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("i0", "v")
    ).select("label", (F.col("i0") + 1).alias("dim"), F.col("v").cast("double").alias("v"))
    return (
        e.filter(F.col("dim") <= 4)
        .groupBy("label", "dim")
        .agg(F.avg("v").cast("float").alias("centroid_v"))
        .orderBy("label", "dim")
    )


@register(
    "similarity_multiquery_topk",
    """
    WITH q AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT a.qid, b.vec_id, b.label,
             list_sum(list_transform(range(1, 65),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_sim
      FROM q a CROSS JOIN embeddings b
      WHERE b.vec_id >= 8
    ),
    ranked AS (
      SELECT qid, vec_id, label, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, vec_id, label, cos_sim, rnk FROM ranked WHERE rnk <= 5
    ORDER BY qid, rnk
    """,
)
def similarity_multiquery_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched top-5 neighbors for 8 query vectors at once — the shape a
    training-data pipeline actually runs (a *batch* of probes, not one).

    Two-tier plan for 100 TB: (1) an Arrow-batched pandas UDF scores each
    partition against the whole query matrix with one float64 matmul and
    keeps a generous per-partition top-16 per query (a prune, so numpy's
    non-sequential summation order can't cost recall at margin 16 vs 5);
    (2) the ≤ 16·partitions·8 survivors re-score with the engine's
    sequential-fold cosine — deterministic doubles, so the final ranking
    hash-matches DuckDB exactly. The corpus is scanned once, never
    shuffled; candidates broadcast back for the re-score join.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = sorted(
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    qmat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in qrows])
    qids = np.array([r.vec_id for r in qrows])
    qnorm = np.linalg.norm(qmat, axis=1)
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))

    def prune(batches):
        q_ids, q_mat, q_norms = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            sims = (q_mat @ m.T) / (
                q_norms[:, None] * np.linalg.norm(m, axis=1)[None, :]
            )
            keep = min(16, sims.shape[1])
            idx = np.argpartition(-sims, keep - 1, axis=1)[:, :keep]
            out_qid = np.repeat(q_ids, keep)
            out_vid = pdf["vec_id"].to_numpy()[idx.ravel()]
            yield pd.DataFrame({"qid": out_qid, "vec_id": out_vid})

    cand = (
        emb.filter(F.col("vec_id") >= 8)
        .select("vec_id", "embedding")
        .mapInPandas(prune, schema="qid long, vec_id long")
    )
    from pyspark.sql import Window

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    rescored = (
        emb.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "vec_id",
            "label",
            cosine(F.col("qv"), F.col("embedding")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        rescored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("qid", "rnk")
    )


@register(
    "embedding_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
      FROM embeddings
    ),
    q AS (
      SELECT vec_id,
             CASE WHEN absmax > 0 THEN 127.0 / absmax ELSE 0.0 END AS scale,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE)
                         * (CASE WHEN absmax > 0 THEN 127.0 / absmax ELSE 0.0 END))
                    AS INTEGER)) AS qv
      FROM s
    )
    SELECT vec_id, scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           list_min(qv) AS q_min,
           list_max(qv) AS q_max,
           len(list_filter(qv, v -> v <> 0)) AS q_nnz
    FROM q ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (absmax scaling): the
    standard 4x storage/bandwidth reduction applied to embedding columns
    before they're shuffled or sunk at 100 TB. Emits the per-vector scale
    plus integer checksums of the quantized array (sum/min/max/nnz) so the
    oracle compares exact ints, not serialized arrays.

    Scale shape: fully narrow (scan -> project, per-row array ops inside
    codegen); nothing shuffles except the output sort. Quantized products
    are double-precision with round-half-away-from-zero in both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    qv = F.transform("embedding", lambda x: F.round(x.cast("double") * scale).cast("int"))
    return (
        emb.select(
            "vec_id",
            scale.alias("scale"),
            F.aggregate(qv, F.lit(0).cast("long"), lambda acc, v: acc + v).alias("q_sum"),
            F.array_min(qv).alias("q_min"),
            F.array_max(qv).alias("q_max"),
            F.size(F.filter(qv, lambda v: v != 0)).alias("q_nnz"),
        )
        .orderBy("vec_id")
    )


def _pq_oracle() -> str:
    from wordcount_spark.operators.frozen_codebooks import PQ_CODEBOOKS, PQ_DSUB

    m = len(PQ_CODEBOOKS)
    ds_cols = ",\n               ".join(
        f"list_transform({_cc_sql(PQ_CODEBOOKS[j])}, cv -> "
        f"{_sqd_sql('embedding', 'cv', j * PQ_DSUB, PQ_DSUB)}) AS ds{j}"
        for j in range(m)
    )
    code_cols = ", ".join(
        f"CAST(list_position(ds{j}, list_min(ds{j})) - 1 AS INT) AS c{j}"
        for j in range(m)
    )
    # ADC = left-associated sum of per-subspace squared distances from the
    # query subvector to the CHOSEN centroid — same + order as the Spark
    # expression, so the doubles are identical
    adc = " + ".join(
        _sqd_sql("qv", f"({_cc_sql(PQ_CODEBOOKS[j])})[c{j} + 1]",
                 j * PQ_DSUB, PQ_DSUB)
        for j in range(m)
    )
    dim = m * PQ_DSUB
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    enc AS (
      SELECT vec_id, {code_cols}
      FROM (
        SELECT vec_id,
               {ds_cols}
        FROM embeddings WHERE vec_id <> 0
      )
    ),
    cand AS (
      SELECT vec_id FROM enc, q
      ORDER BY {adc}, vec_id LIMIT 50
    )
    SELECT e.vec_id,
           list_sum(list_transform(range(1, {dim + 1}),
             i -> CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / ({_NORM_SQL.format(v="qv")} * {_NORM_SQL.format(v="e.embedding")})
             AS cos_sim
    FROM embeddings e JOIN cand USING (vec_id), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """


@register("similarity_pq_topk", _pq_oracle())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN against the FROZEN per-subspace codebooks
    (operators/frozen_codebooks.py — m=8 subspaces × k=16 centroids over
    the 64-dim embeddings → 32-bit codes, a 64× compression of the scan
    payload): per-row encode, asymmetric-distance (ADC) candidate scan —
    m codebook lookups per row — then EXACT cosine re-rank of the top-50
    candidates. The re-rank step is the production pattern: approximate
    scan bounds the candidate set, exact scoring restores ranking quality
    (recall bounded in tests/test_similarity_recall.py). Fully lazy and
    oracle-backed: the DuckDB twin encodes and scores with the SAME
    codebook doubles and fold order, so the ADC floats hash-match;
    codebook training (per-subspace k-means) lives in operators/pq.py as
    a separate pipeline, exactly as in production.

    Scale: encode and ADC are per-row expressions over broadcast-literal
    codebooks — no shuffle; at 100 TB the standing table stores only the
    codes column (64× smaller than raw vectors) and full vectors are
    fetched for ~50 rows at re-rank. The query vector is a 1-row
    broadcast (allowlisted BNLJ)."""
    from wordcount_spark.operators.frozen_codebooks import (
        PQ_CODEBOOKS,
        PQ_DSUB,
    )
    from wordcount_spark.operators.pq import pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    encoded = pq_encode(emb.filter(F.col("vec_id") != 0), PQ_CODEBOOKS)

    def dq(j: int) -> Column:
        cbj = F.array(
            *[F.array(*[F.lit(float(v)) for v in c]) for c in PQ_CODEBOOKS[j]]
        )
        cvj = F.element_at(cbj, F.element_at("pq_codes", j + 1) + 1)
        return F.aggregate(
            F.zip_with(
                F.slice("qv", j * PQ_DSUB + 1, PQ_DSUB),
                cvj,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    adc: Column | None = None
    for j in range(len(PQ_CODEBOOKS)):
        adc = dq(j) if adc is None else adc + dq(j)
    cand = (
        encoded.join(F.broadcast(q))
        .select("vec_id", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(50)
        .select("vec_id")
    )
    return (
        emb.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q))
        .select("vec_id", cosine(F.col("qv"), F.col("embedding")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register("embedding_pca_variance", eager=True)  # rows-only: eigendecomposition isn't SQL-expressible
def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 principal components' explained-variance ratios over the
    embedding table — the dimensionality audit run before choosing a
    reduced index dimension. Distributed part = one pass of Arrow-batched
    second-moment partials (64×64 Gram + mean per batch, the treeAggregate
    shape); the eigendecomposition is a driver-side 64×64 numpy call.
    Sanity bounds (descending ratios, ≤ 1 total) are pinned in
    tests/test_similarity_recall.py."""
    from wordcount_spark.operators.pq import pca_fit

    emb = load_table(spark, sf_dir, "embeddings")
    _, ratios = pca_fit(emb, n_components=8)
    return spark.createDataFrame(
        [(i, float(r)) for i, r in enumerate(ratios)],
        "component int, explained_variance_ratio double",
    ).orderBy("component")


@register(
    "similarity_knn_classify",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding, label AS true_label
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding, label
          FROM embeddings WHERE vec_id >= 5),
    sims AS (
      SELECT q.qid, q.true_label, c.vec_id, c.label,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
             / ({_NORM_SQL.format(v="q.embedding")}
                * {_NORM_SQL.format(v="c.embedding")}) AS cos
      FROM q CROSS JOIN c
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY cos DESC, vec_id) AS rn
        FROM sims) t WHERE rn <= 10
    ),
    votes AS (
      SELECT qid, true_label, label, count(*) AS votes
      FROM topk GROUP BY qid, true_label, label
    )
    SELECT qid, true_label, label AS pred_label, votes
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY votes DESC, label) AS rn
          FROM votes) v
    WHERE rn = 1 ORDER BY qid
    """,
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification (k=10, majority vote): the evaluation loop of
    every embedding index — held-out queries (vec_id < 5) classified by
    their neighbors' labels in the remaining corpus. Vote ties break
    (count desc, label asc); neighbor ranking ties break on vec_id — both
    total orders, and the cosine doubles are bit-identical across engines
    (sequential fold, module docstring), so the oracle needs no tolerance.

    Scale: the tiny query set broadcasts onto the corpus (the fact side
    never shuffles); per-query top-k is a qid-partitioned window over the
    candidate scores — fine for a handful of queries; for thousands,
    switch to the matmul-pruned path of `similarity_multiquery_topk`, and
    for ANN-scale corpora feed the classifier from `similarity_ivf_topk`
    candidates instead of the exact scan.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    c = emb.where(F.col("vec_id") >= 5)
    sims = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "true_label",
        "vec_id",
        "label",
        cosine(F.col("q_emb"), F.col("embedding")).alias("cos"),
    )
    w_rank = Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
    topk = sims.withColumn("rn", F.row_number().over(w_rank)).where(
        F.col("rn") <= 10
    )
    votes = topk.groupBy("qid", "true_label", "label").agg(
        F.count("*").alias("votes")
    )
    w_vote = Window.partitionBy("qid").orderBy(F.desc("votes"), "label")
    return (
        votes.withColumn("rn", F.row_number().over(w_vote))
        .where(F.col("rn") == 1)
        .select("qid", "true_label", F.col("label").alias("pred_label"), "votes")
        .orderBy("qid")
    )


@register(
    "eval_knn_label_precision",
    f"""
    WITH q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe
               FROM embeddings WHERE vec_id < 20),
    sims AS (
      SELECT q.qid, q.qlabel, e.vec_id, e.label,
             list_sum(list_transform(range(1, 65),
               i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
             / ({{nrm_q}} * {{nrm_e}}) AS cos
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.qid
    ),
    topk AS (
      SELECT qid, qlabel, label,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rnk
      FROM sims
    )
    SELECT qid, qlabel,
           CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS DOUBLE) / 10.0
             AS p_at_10
    FROM topk WHERE rnk <= 10
    GROUP BY qid, qlabel ORDER BY qid
    """.format(nrm_q=_NORM_SQL.format(v="q.qe"), nrm_e=_NORM_SQL.format(v="e.embedding")),
)
def eval_knn_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation as a query: precision@10 of exact cosine kNN
    against the embedding table's class labels (a neighbor 'hits' when it
    shares the query's label) — the recall/precision audit an ANN rollout
    runs against the brute-force ground truth before trading exactness
    for speed (compare: tests/test_similarity_recall.py bounds IVF/PQ
    recall AGAINST this same exact scan).

    Scale: the query set broadcasts (20 rows); the corpus is scanned once
    and never shuffled — per-query top-10 is a WindowGroupLimit. Swap the
    scan for the IVF/PQ candidate feed to evaluate those indexes with the
    same query."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    sims = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "vec_id")
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .groupBy("qid", "qlabel")
        .agg(
            F.sum((F.col("label") == F.col("qlabel")).cast("long")).alias("n_match"),
        )
        .select(
            "qid",
            "qlabel",
            "n_match",
            (F.col("n_match").cast("double") / 10.0).alias("p_at_10"),
        )
        .orderBy("qid")
    )


def _register_binary_hamming():
    """Sign-binarized embeddings + Hamming top-k — the 1-bit quantization
    ANN tier (32x smaller than float32, distance = popcount of XOR)."""
    lo_sql = (
        "list_sum(list_transform(range(1, 33), i -> CASE WHEN e.embedding[i] > 0 "
        "THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END))"
    )
    hi_sql = (
        "list_sum(list_transform(range(33, 65), i -> CASE WHEN e.embedding[i] > 0 "
        "THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END))"
    )
    oracle = f"""
    WITH sig AS (
      SELECT e.vec_id, e.label,
             CAST({lo_sql} AS BIGINT) AS lo,
             CAST({hi_sql} AS BIGINT) AS hi
      FROM embeddings e
    ),
    q AS (SELECT lo, hi FROM sig WHERE vec_id = 0)
    SELECT s.vec_id, s.label,
           CAST(bit_count(xor(s.lo, q.lo)) + bit_count(xor(s.hi, q.hi))
                AS BIGINT) AS hamming
    FROM sig s, q WHERE s.vec_id <> 0
    ORDER BY hamming, s.vec_id LIMIT 10
    """

    @register("similarity_binary_hamming_topk", oracle)
    def similarity_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Binary (sign) quantization ANN: each 64-dim float vector folds
        to TWO packed 32-bit words (bit i = dim i positive), and the
        nearest neighbors of vec_id 0 rank by Hamming distance =
        popcount(xor) — integer-exact on both engines, so unlike the
        cosine tiers this oracle needs no float rounding discipline at
        all. This is the coarsest tier of a quantization cascade
        (binary → int8 → PQ → exact re-score, all registered here).

        Scale: the signature table is 2 longs per vector (32x smaller
        than float32 — the point of the method); scoring is a map-only
        XOR+popcount over it with TakeOrdered top-k, no shuffle. The
        1-row query signature broadcasts; re-score the top candidates
        with exact cosine as in similarity_topk_bruteforce."""
        emb = load_table(spark, sf_dir, "embeddings")
        e = F.col("embedding")

        def pack(lo_bit: int, hi_bit: int) -> F.Column:
            acc = F.lit(0).cast("long")
            for i in range(lo_bit, hi_bit):
                acc = acc + F.when(
                    e.getItem(i - 1) > 0,
                    F.lit(1 << (i - lo_bit)).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            return acc

        sig = emb.select(
            "vec_id", "label", pack(1, 33).alias("lo"), pack(33, 65).alias("hi")
        )
        q = (
            sig.where(F.col("vec_id") == 0)
            .select(F.col("lo").alias("qlo"), F.col("hi").alias("qhi"))
        )
        return (
            sig.where(F.col("vec_id") != 0)
            .join(F.broadcast(q))
            .select(
                "vec_id",
                "label",
                (
                    F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo")))
                    + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
                )
                .cast("long")
                .alias("hamming"),
            )
            .orderBy("hamming", "vec_id")
            .limit(10)
        )


_register_binary_hamming()


def _register_binary_hamming_recall():
    """Quantization-quality evaluation: recall@10 of the binary tier
    against the exact scan, composed from the two REGISTERED queries (and
    their registered oracles), so the audit can never drift from the
    operators it grades."""
    from wordcount_spark.operators.relational import stable_round, stable_round_sql
    from wordcount_spark.registry import ORACLES

    oracle = f"""
    WITH ex AS ({ORACLES["similarity_topk_bruteforce"]}),
    hm AS ({ORACLES["similarity_binary_hamming_topk"]})
    SELECT CAST(count(*) AS BIGINT) AS n_overlap,
           {stable_round_sql("count(*) / 10.0", 4)} AS recall_at_10
    FROM ex JOIN hm USING (vec_id)
    """

    @register("eval_binary_hamming_recall", oracle)
    def eval_binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Recall@10 of sign-bit Hamming ANN vs the exact cosine scan for
        the fixed query vector — the accept/reject number a quantization
        rollout reads before routing traffic through the 32x-smaller
        index (pair with eval_knn_label_precision, which grades the exact
        scan itself against labels).

        Scale: both sides are top-10 frames (O(k)); the join and count
        are trivial at any corpus size — the cost is the two scans being
        evaluated, each with its own documented scale story. The recall
        is a ratio of small integers → stable_round (repo lattice
        rule)."""
        from wordcount_spark.registry import QUERIES

        ex = QUERIES["similarity_topk_bruteforce"](spark, sf_dir).select("vec_id")
        hm = QUERIES["similarity_binary_hamming_topk"](spark, sf_dir).select("vec_id")
        return ex.join(hm, "vec_id").agg(
            F.count("*").cast("long").alias("n_overlap"),
            stable_round(F.count("*") / 10.0, 4).alias("recall_at_10"),
        )


_register_binary_hamming_recall()


@register(
    "embedding_dim_stats",
    """
    WITH ex AS (
      SELECT t.dim AS dim, CAST(embedding[CAST(t.dim + 1 AS INT)] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(0, 63) AS t(dim)
    ),
    q AS (
      SELECT dim, x, CAST(floor(x * 1000000.0) AS BIGINT) AS qv FROM ex
    ),
    agg AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n_vals,
             min(x) + 0.0 AS vmin, max(x) + 0.0 AS vmax,
             CAST(sum(qv) AS DOUBLE) AS sq,
             CAST(sum(CAST(qv AS DECIMAL(38,0)) * qv) AS DOUBLE) AS sqq
      FROM q GROUP BY dim
    )
    SELECT dim, n_vals, vmin, vmax,
           floor(((sq / n_vals) / 1000000.0) * 1000000.0 + 1e-6) / 1000000.0
             + 0.0 AS mean_val,
           floor((((sqq / n_vals) - (sq / n_vals) * (sq / n_vals))
                  / 1000000000000.0) * 1000000.0 + 1e-6) / 1000000.0
             + 0.0 AS var_val
    FROM agg ORDER BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column (n, min, max, mean,
    variance) — the data-QA pass you run BEFORE trusting any ANN index:
    a dead dimension (var≈0) or a scale-outlier dimension distorts every
    cosine. Engine parity: float→double is exact and min/max are
    order-independent, so they compare raw; mean/variance go through the
    repo fixed-point pattern — floor(x·1e6) micro-units summed exactly
    (the sum-of-squares in DECIMAL(38,0): it exceeds BIGINT at ~1e13
    rows/dim), with ONE identical float expression at the end on both
    sides (events_ewma_fixedpoint precedent).

    Scale: posexplode is a 64× row blow-up, but the aggregate is
    map-side-combinable into 64 groups — shuffle traffic is O(64 ×
    partitions) no matter the corpus; nothing else moves."""
    from wordcount_spark.operators.relational import stable_round

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "xf")).select(
        F.col("dim").cast("long").alias("dim"), F.col("xf").cast("double").alias("x")
    )
    q = ex.select("dim", "x", F.floor(F.col("x") * 1000000.0).cast("long").alias("qv"))
    agg = q.groupBy("dim").agg(
        F.count("*").alias("n_vals"),
        (F.min("x") + F.lit(0.0)).alias("vmin"),
        (F.max("x") + F.lit(0.0)).alias("vmax"),
        F.sum("qv").cast("double").alias("sq"),
        F.sum(F.col("qv").cast("decimal(38,0)") * F.col("qv")).cast("double").alias(
            "sqq"
        ),
    )
    n_d = F.col("n_vals").cast("double")
    return agg.select(
        "dim",
        "n_vals",
        "vmin",
        "vmax",
        stable_round((F.col("sq") / n_d) / 1000000.0, 6).alias("mean_val"),
        stable_round(
            ((F.col("sqq") / n_d) - (F.col("sq") / n_d) * (F.col("sq") / n_d))
            / 1000000000000.0,
            6,
        ).alias("var_val"),
    ).orderBy("dim")


@register(
    "similarity_maxsim_multivector",
    f"""
    WITH corpus AS (
      SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 3
    ),
    scored AS (
      SELECT b.label, a.vec_id AS qid,
             {_DOT_SQL} / ({_NORM_SQL.format(v="a.embedding")}
                           * {_NORM_SQL.format(v="b.embedding")}) AS cs
      FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) a
      CROSS JOIN corpus b
    ),
    m AS (
      SELECT label,
             max(cs) FILTER (WHERE qid = 0) AS m0,
             max(cs) FILTER (WHERE qid = 1) AS m1,
             max(cs) FILTER (WHERE qid = 2) AS m2
      FROM scored GROUP BY label
    )
    SELECT label, (m0 + m1) + m2 AS maxsim_score
    FROM m ORDER BY maxsim_score DESC, label LIMIT 5
    """,
)
def similarity_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style MaxSim late interaction (Khattab & Zaharia 2020):
    the query is a SET of vectors (3 probes), each document is a SET (its
    label group), and score(doc) = Σ over query vectors of the max cosine
    against any document vector. Spark-first: the 3 query vectors pivot
    into ONE broadcast row (q0, q1, q2, like the oracle's ``FILTER``), so
    scoring is three sequential-fold cosines per corpus row, the corpus
    is scanned once, and the build runs no job. Per-label maxes are
    order-independent; the final sum is the fixed expression
    (m0 + m1) + m2 on both engines, so the float-derived score
    hash-matches exactly.

    Scale: map-side scoring + one map-side-combinable aggregation on
    label. A real multi-vector corpus keys documents by id; the
    query-set matrix broadcasts (Arrow matmul prune as in the multiquery
    op) and MaxSim stays one scan + one agg at any size.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    qv = [F.max(F.when(F.col("vec_id") == i, e)) for i in range(3)]
    # query norms are computed once, in the broadcast row
    q = emb.filter(F.col("vec_id") < 3).agg(
        *[v.alias(f"q{i}") for i, v in enumerate(qv)],
        *[l2_norm(v).alias(f"n{i}") for i, v in enumerate(qv)],
    )
    cs = [dot(e, F.col(f"q{i}")) / (l2_norm(e) * F.col(f"n{i}")) for i in range(3)]
    scored = emb.filter(F.col("vec_id") >= 3).crossJoin(F.broadcast(q)).select(
        "label", *[c.alias(f"cs{i}") for i, c in enumerate(cs)]
    )
    m = scored.groupBy("label").agg(
        *[F.max(f"cs{i}").alias(f"m{i}") for i in range(3)]
    )
    return (
        m.select(
            "label",
            ((F.col("m0") + F.col("m1")) + F.col("m2")).alias("maxsim_score"),
        )
        .orderBy(F.desc("maxsim_score"), "label")
        .limit(5)
    )


def _band_sql(n_planes: int, band: int, rows: int) -> str:
    """DuckDB: 4-bit band string of the rp signature (1-based slice)."""
    return (
        f"array_to_string(list_slice({_rp_sig_sql(n_planes, 64)}, "
        f"{band * rows + 1}, {band * rows + rows}), '')"
    )


@register(
    "eval_rp_lsh_recall",
    f"""
    WITH truth AS (
      SELECT b.vec_id,
             {_DOT_SQL} / ({_NORM_SQL.format(v="a.embedding")}
                           * {_NORM_SQL.format(v="b.embedding")}) AS cos_sim
      FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) a
      CROSS JOIN embeddings b
      WHERE b.vec_id <> 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10
    ),
    bands AS (
      SELECT vec_id,
             {", ".join(f"{_band_sql(16, b, 4)} AS b{b}" for b in range(4))}
      FROM embeddings
    ),
    q AS (SELECT * FROM bands WHERE vec_id = 0),
    cand AS (
      SELECT c.vec_id
      FROM bands c, q
      WHERE c.vec_id <> 0
        AND (c.b0 = q.b0 OR c.b1 = q.b1 OR c.b2 = q.b2 OR c.b3 = q.b3)
    ),
    caught AS (
      SELECT vec_id FROM truth WHERE vec_id IN (SELECT vec_id FROM cand)
    )
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM caught) AS n_caught,
           CAST((SELECT count(*) FROM caught) AS DOUBLE)
             / (SELECT count(*) FROM truth) AS recall
    """,
)
def eval_rp_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of banded sign-LSH against exact cosine ground truth:
    do the top-10 true neighbors of query 0 land in its candidate set
    when 16 hyperplanes split into 4 bands of 4 bits (candidate = shares
    ANY band value)? The vector-side twin of `eval_lsh_candidate_recall`
    — this measurement is what justifies (planes, bands) before trusting
    bucketed ANN at corpus scale. Truth side reuses the registered
    brute-force top-10; the band filter is FOUR comparisons against query
    0's band values, a one-row frame broadcast onto the band scan, so
    candidate generation is a map-side scan and the build runs no job.

    Scale: signature+bands are a pure map stage; at production size the
    candidate join is an equi-join on (band_id, value) — here the audit
    counts survivors. Final stitch is three 1-row aggregates crossed
    (allowlisted BNLJ, same as the LSH recall audit).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _plane_signs(16, 64)

    def dot_sign(row: list[int]) -> Column:
        # zip_with + aggregate, NOT an unrolled element_at sum: 16 planes
        # x 64 dims unrolled is ~1024 expressions in one projection, which
        # blew whole-stage codegen's 64 KB method limit and silently
        # dropped the ENTIRE scan->band->filter->agg stage to interpreted
        # execution (the whole query measured 6.09 s at sf0.1, 2.43 s with
        # the loop-shaped HOF form keeping the stage codegen'd — and the
        # remaining cost is the brute-force truth side). Bit-exactness
        # vs the oracle is preserved by keeping its pos-sum-then-neg-sum
        # structure: skipped positions contribute a literal 0.0, and
        # acc + 0.0 is float-identity (a signed-zero corner can't flip
        # `dot > 0` - both zeros compare false).
        slit = F.array(*[F.lit(s) for s in row])

        def side(keep: int) -> Column:
            terms = F.zip_with(
                "embedding",
                slit,
                lambda x, s: F.when(s == F.lit(keep), x.cast("double")).otherwise(
                    F.lit(0.0)
                ),
            )
            return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)

        dot = side(1) - side(-1) if any(s == -1 for s in row) else side(1)
        return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))

    band_cols = [
        F.concat(*[dot_sign(planes[b * 4 + j]) for j in range(4)]).alias(f"b{b}")
        for b in range(4)
    ]
    bands = emb.select("vec_id", *band_cols)
    q = bands.filter(F.col("vec_id") == 0).select(
        *[F.col(f"b{b}").alias(f"q{b}") for b in range(4)]
    )
    # semi, not cross: Catalyst sizes a cross join as a product, which
    # would turn the truth-side semi join below into a sort-merge join
    cand = bands.filter(F.col("vec_id") != 0).join(
        F.broadcast(q),
        (F.col("b0") == F.col("q0"))
        | (F.col("b1") == F.col("q1"))
        | (F.col("b2") == F.col("q2"))
        | (F.col("b3") == F.col("q3")),
        "left_semi",
    ).select("vec_id")
    truth = similarity_topk_bruteforce(spark, sf_dir).select("vec_id")
    caught = truth.join(cand, "vec_id", "left_semi")
    return (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(cand.agg(F.count("*").alias("n_candidates")))
        .crossJoin(caught.agg(F.count("*").alias("n_caught")))
        .select(
            "n_truth",
            "n_candidates",
            "n_caught",
            (F.col("n_caught").cast("double") / F.col("n_truth")).alias("recall"),
        )
    )


_D2_SQL = (
    "list_sum(list_transform(range(1, 65), i -> "
    "(CAST({a}.embedding[i] AS DOUBLE) - CAST({b}.embedding[i] AS DOUBLE)) * "
    "(CAST({a}.embedding[i] AS DOUBLE) - CAST({b}.embedding[i] AS DOUBLE))))"
)


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy farthest-point (k-center) selection in SQL: round r
    keeps each vector's running min squared distance to the selected set
    and picks the argmax (ties → min vec_id)."""
    parts = [
        "WITH e AS (SELECT vec_id, embedding FROM embeddings)",
        "s1 AS (SELECT vec_id, embedding FROM e WHERE vec_id = 0)",
        f"d1 AS (SELECT e.vec_id, e.embedding, {_D2_SQL.format(a='e', b='s')} AS dmin"
        "  FROM e, s1 s WHERE e.vec_id <> 0)",
    ]
    for r in range(2, k + 1):
        parts.append(
            f"s{r} AS (SELECT vec_id, embedding, dmin FROM d{r - 1} "
            f"ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        if r < k:
            parts.append(
                f"d{r} AS (SELECT d.vec_id, d.embedding, "
                f"least(d.dmin, {_D2_SQL.format(a='d', b='s')}) AS dmin "
                f"FROM d{r - 1} d, s{r} s WHERE d.vec_id <> s.vec_id)"
            )
    selects = ["SELECT 1 AS round, vec_id, 0.0 AS radius_sq FROM s1"] + [
        f"SELECT {r} AS round, vec_id, dmin AS radius_sq FROM s{r}"
        for r in range(2, k + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects) + "\nORDER BY round"


@register("sample_kcenter_coreset", _kcenter_oracle(4), eager=True)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection over the
    embedding corpus — the diversity-sampling primitive of active
    learning and data-selection pipelines (pick the point farthest from
    everything chosen so far; the selection 2-approximates the optimal
    k-center cover). k=4 rounds, seeded at vec_id 0, ties to the lower
    id. EAGER: each round collects exactly ONE row (the new center) —
    O(k) driver state, like the k-means trainer — while every distance
    computation stays distributed. The oracle unrolls all four rounds in
    SQL; squared distances are the same sequential double folds both
    engines run, so even the float radii hash-match.

    Scale: k full scans of the corpus with a min-update against ≤ k
    broadcast centers (each a 64-float literal) — O(k·N) work, no
    shuffle at all; the classic trade against k-means (which must also
    shuffle per-cluster sums).
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def d2(col: Column, centre: list[float]) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in centre])
        return F.aggregate(
            F.zip_with(
                col,
                lit,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    first = emb.filter(F.col("vec_id") == 0).first()
    selected = [(1, int(first["vec_id"]), 0.0)]
    centre = [float(x) for x in first["embedding"]]
    pool = emb.filter(F.col("vec_id") != 0).withColumn(
        "dmin", d2(F.col("embedding"), centre)
    )
    for r in range(2, 5):
        top = pool.orderBy(F.desc("dmin"), "vec_id").first()
        selected.append((r, int(top["vec_id"]), float(top["dmin"])))
        centre = [float(x) for x in top["embedding"]]
        if r < 4:
            pool = pool.filter(F.col("vec_id") != int(top["vec_id"])).withColumn(
                "dmin", F.least(F.col("dmin"), d2(F.col("embedding"), centre))
            )
    return spark.createDataFrame(
        selected, "round int, vec_id long, radius_sq double"
    ).orderBy("round")


@register(
    "similarity_hard_negatives",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding
      FROM embeddings WHERE vec_id < 3
    ),
    scored AS (
      SELECT a.qid, b.vec_id, b.label,
             {_DOT_SQL} / ({_NORM_SQL.format(v="a.embedding")}
                           * {_NORM_SQL.format(v="b.embedding")}) AS cos_sim
      FROM q a CROSS JOIN embeddings b
      WHERE b.vec_id >= 3 AND b.label <> a.qlabel
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored
    )
    SELECT qid, vec_id, label, cos_sim
    FROM ranked WHERE rk <= 5 ORDER BY qid, cos_sim DESC, vec_id
    """,
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (the contrastive-training data op: the most
    similar vectors of a DIFFERENT class are the negatives that teach a
    retrieval model its decision boundary — BM25/ANN-mined hard negatives
    are standard for dense retrievers, cf. DPR/ANCE). For each of 3 query
    vectors: top-5 cosine neighbors whose label differs from the query's.
    The 3-row (qid, qlabel, qv, qn) query block broadcasts onto the
    corpus (the build runs no job); per-query ranking is a
    qid-partitioned window over the scored frame.

    Scale: one corpus scan evaluates all queries; the label exclusion is
    the nested-loop join's condition. At fleet size the per-partition
    top-k prune of `similarity_multiquery_topk` slots in front unchanged.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        e.alias("qv"),
        l2_norm(e).alias("qn"),  # once per query
    )
    cos = dot(e, F.col("qv")) / (l2_norm(e) * F.col("qn"))
    scored = (
        emb.filter(F.col("vec_id") >= 3)
        .join(F.broadcast(q), F.col("label") != F.col("qlabel"))
        .select("qid", "vec_id", "label", cos.alias("cos_sim"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("qid", "vec_id", "label", "cos_sim")
        .orderBy("qid", F.desc("cos_sim"), "vec_id")
    )
