"""Approximate nearest-neighbor search over embedding columns (north-star
similarity-search extras; the scale path behind SURVEY V1/J17's exact leg).

Two candidate generators, both deterministic and oracle-expressible thanks to
the decimal-quantized dot products:

- **Random-hyperplane LSH**: ``n_planes`` pseudo-random unit hyperplanes
  (content-hash-derived, no RNG state); bucket = sign-bit string of the
  quantized projections. Same bucket → candidate; exact cosine rerank inside
  the bucket. One shuffle on bucket id; at 100 TB the bucket table is
  partitioned by bucket and the per-bucket rerank is a local top-k.
- **IVF**: a fixed centroid list (deterministic "training" = first C vectors,
  the honest stand-in for k-means at fixture scale); every vector is
  assigned to its nearest centroid (quantized cosine), queries probe the
  ``nprobe`` nearest centroid lists and rerank exactly within them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.fixtures import pseudo_embedding
from graphrag_toolkit_spark.functions.littable import lit_table
from graphrag_toolkit_spark.functions.loop import pinned
from graphrag_toolkit_spark.functions.vector import (
    cosine_similarity_quantized,
    dot_quantized,
)
from graphrag_toolkit_spark.operators.vss import query_vector_lit


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (hash-projection of a
    fixed seed string — reproducible in tests and in the SQL oracle via the
    exported literal values)."""
    return [pseudo_embedding(f"lsh-plane-{i}", dim) for i in range(n_planes)]


def lsh_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string, e.g. '1011' — one char per plane.

    The vector is quantized ONCE (bound lambda var) and each plane rides as
    a constant-folded decimal literal — bit-identical sign bits to the
    previous per-plane ``dot_quantized(vec, lit)``, which re-quantized both
    sides per plane per row (lambda subtrees are neither constant-folded
    nor subexpression-shared)."""
    from graphrag_toolkit_spark.functions.vector import (
        _bind_once,
        _quantize,
        dot_prequantized,
        quantized_query_lit,
    )

    qlits = [quantized_query_lit(p)[0] for p in planes]
    bound = _bind_once(
        _quantize(vec_col),
        lambda qv: F.concat(
            *[
                F.when(dot_prequantized(qv, ql) >= 0, F.lit("1")).otherwise("0")
                for ql in qlits
            ]
        ),
    )
    # coalesce with a non-null literal: the bound element_at CAN'T return
    # null here (1-element array, concat-of-CASE body), but Catalyst can't
    # prove that, and a join on the bucket would otherwise add an
    # isnotnull(<full bucket expr>) filter that RE-EVALUATES the whole
    # expression per row on both join sides (measured 2.5× on ann_lsh_topk).
    # The old concat(...) shape was provably non-null; restore that property.
    return F.coalesce(bound, F.lit(""))


def lsh_bucket_prequantized(qv: Column, planes: list[list[float]]) -> Column:
    """``lsh_bucket`` for an ALREADY-quantized decimal array column: plane
    dots read ``qv`` directly (no quantize pass at all — pair with
    ``prequantize`` in a shared projection). concat-of-CASE is provably
    non-null, so no coalesce guard is needed. Bit-identical sign bits."""
    from graphrag_toolkit_spark.functions.vector import (
        dot_prequantized,
        quantized_query_lit,
    )

    qlits = [quantized_query_lit(p)[0] for p in planes]
    return F.concat(
        *[
            F.when(dot_prequantized(qv, ql) >= 0, F.lit("1")).otherwise("0")
            for ql in qlits
        ]
    )


def lsh_assign(
    emb: DataFrame, id_col: str, vec_col: str, planes: list[list[float]]
) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("embedding"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,            # (query_id, embedding)
    id_col: str = "id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """ANN top-k: candidates share the query's LSH bucket; exact quantized
    cosine rerank within. Returns (query_id, id, score, rank)."""
    planes = hyperplanes(n_planes, dim)
    cat = lsh_assign(emb, id_col, vec_col, planes)
    q = F.broadcast(
        queries.select(
            "query_id",
            F.col("embedding").alias("q_embedding"),
            lsh_bucket(F.col("embedding"), planes).alias("bucket"),
        )
    )
    scored = cat.join(q, "bucket").withColumn(
        "score", cosine_similarity_quantized(F.col("embedding"), F.col("q_embedding"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )


def first_c_centroids(
    emb: DataFrame, n_centroids: int, id_col: str = "id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid stand-in (the oracle leg): the first
    ``n_centroids`` vectors by id. Honest fixture-scale substitute for
    k-means; the production trainer is ``train_centroids_kmeans``."""
    w = Window.orderBy(F.asc("_id"))
    return (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("embedding"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_centroids)
        .select((F.col("_rn") - 1).alias("cid"), "embedding")
    )


def _with_nearest_cid(df: DataFrame) -> DataFrame:
    """Nearest-centroid pick as a row-local fold. ``df`` must carry the
    vector's quantized form ``qv``, its norm ``nv``, and a (broadcast,
    one-row-sourced) centroid array ``cs`` of (cid, qc, nc) structs; the
    result adds ``cid`` (null iff ``cs`` is empty). The argmax fold is
    order-insensitive — strictly-better score wins, equal score falls back
    to the smaller cid — which is exactly row_number over (score desc, cid
    asc) picking rank 1 (including Spark's NaN-is-greatest comparison
    semantics), so results are bit-identical to the windowed form."""
    from graphrag_toolkit_spark.functions.vector import dot_prequantized

    # One fold expression, referenced ONCE: Catalyst's project collapsing
    # inlines a multiply-referenced intermediate column, re-evaluating the
    # C-dot transform per reference (measured 3× the arithmetic), so the
    # candidate scoring and the argmax live in a single expression tree
    # with a null-started accumulator instead of element_at/slice splits.
    cid_dt = next(
        f.dataType.elementType["cid"].dataType.simpleString()
        for f in df.schema.fields
        if f.name == "cs"
    )
    cands = F.transform(
        F.col("cs"),
        lambda c: F.struct(
            (
                dot_prequantized(F.col("qv"), c["qc"])
                / (F.col("nv") * c["nc"])
            ).alias("s"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.aggregate(
        cands,
        F.lit(None).cast(f"struct<s:double,cid:{cid_dt}>"),
        lambda acc, x: F.when(
            acc["cid"].isNull()
            | (x["s"] > acc["s"])
            | ((x["s"] == acc["s"]) & (x["cid"] < acc["cid"])),
            x,
        ).otherwise(acc),
    )
    return df.withColumn("cid", best["cid"])


def train_centroids_lloyd(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "id",
    vec_col: str = "embedding",
    iters: int = 2,
) -> DataFrame:
    """Partitioning-invariant, engine-exact Lloyd's k-means (the hash-gated
    IVF trainer; the MLlib ``train_centroids_kmeans`` below remains the
    black-box production alternative).

    Determinism contract (what makes the result oracle-expressible):
    - **Init** = the ``n_centroids`` vectors with the smallest content hash
      (md5 order statistics on the id — ``sampling.hash_value``). Invariant
      to partitioning AND engine-portable, unlike k-means|| whose sampling
      is partition-order-dependent.
    - **Assignment** = argmax quantized cosine (exact decimal dots, cid
      tie-break) — bit-identical in any engine.
    - **Update** = per-dimension mean as exact DECIMAL sum ÷ count in
      double, re-quantized to the 6-decimal grid; empty clusters keep their
      previous centroid.

    Scale shape: per iteration one broadcast of C centroids + one narrow
    assignment pass + one (cid,dim)-grouped aggregate (map-side partial);
    the C×dim result is collected driver-side (tiny) to seed the next
    round. Returns (cid, embedding array<double> on the decimal grid).
    """
    from graphrag_toolkit_spark.functions.vector import (
        dot_prequantized, l2_norm_prequantized, l2_norm_quantized, prequantize,
    )
    from graphrag_toolkit_spark.operators.sampling import hash_value

    spark = emb.sparkSession
    pool = emb.select(
        F.col(id_col).alias("id"),
        prequantize(F.col(vec_col)).alias("qv"),
    ).select(
        # norm folds the shared quantized array — one quantize pass per row
        "id", "qv", l2_norm_prequantized(F.col("qv")).alias("nv")
    )
    with pinned(pool):
        seed_rows = (
            pool.withColumn("_hv", hash_value(F.col("id")))
            .orderBy(F.asc("_hv"), F.asc("id"))
            .limit(n_centroids)
            .select("qv")
            .collect()
        )
        centroids = [list(r["qv"]) for r in seed_rows]  # list[list[Decimal]]

        for _ in range(iters):
            # MAP-ONLY assignment (same shape as `ivf_assign`): the centroid
            # list becomes a ONE-ROW broadcast array of (cid, qc, nc) structs
            # and each vector picks its argmax with an in-row fold — no n×C
            # crossJoin and no per-id window Exchange per iteration. The array
            # must arrive as a broadcast VALUE, not as inline literals: a
            # 512-literal CreateArray is re-evaluated per row and measured 4×
            # slower than the whole windowed original.
            carr = F.broadcast(
                lit_table(
                    spark, "cid int, qc array<decimal(12,6)>",
                    [(i, c) for i, c in enumerate(centroids)],
                )
                .select(
                    F.struct(
                        "cid", "qc", l2_norm_quantized(F.col("qc")).alias("nc")
                    ).alias("c")
                )
                .agg(F.collect_list("c").alias("cs"))
            )
            assigned = _with_nearest_cid(pool.crossJoin(carr)).drop("cs")
            means = (
                assigned.select("cid", F.posexplode("qv").alias("pos", "v"))
                .groupBy("cid", "pos")
                .agg(
                    (F.sum("v").cast("double") / F.count(F.lit(1)))
                    .alias("mean")
                )
                .groupBy("cid")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "mean"))
                        ),
                        lambda s: F.round(s["mean"], 6).cast("decimal(12,6)"),
                    ).alias("qc")
                )
                .collect()
            )
            updated = {r["cid"]: list(r["qc"]) for r in means}
            centroids = [
                updated.get(i, centroids[i]) for i in range(n_centroids)
            ]
    return lit_table(
        spark, "cid int, qc array<decimal(12,6)>",
        [(i, c) for i, c in enumerate(centroids)],
    ).select(
        "cid",
        F.col("qc").cast("array<double>").alias("embedding"),
    )


def train_centroids_kmeans(
    emb: DataFrame,
    n_centroids: int = 8,
    id_col: str = "id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Production IVF centroid trainer: seeded MLlib KMeans over the
    embedding column (reference analog: the FAISS index training in
    ``byokg-rag/.../indexing/dense_index.py:31-145``). Returns
    (cid, embedding) consumable by ``ivf_assign``/``ivf_topk``.

    Scale shape: MLlib KMeans is the distributed Lloyd's loop — each
    iteration broadcasts the (tiny) centroid set and map-side assigns
    points, so the only shuffle per iteration is the k-row partial-mean
    aggregate. Seeded → reproducible across runs on the same partitioning
    (k-means|| init samples per-partition, so unlike the content-hash
    stand-in it is NOT invariant to repartitioning — the oracle-gated
    queries keep using ``first_c_centroids`` for that reason)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    spark = emb.sparkSession
    return lit_table(
        spark, "cid bigint, embedding array<double>",
        [
            {"cid": i, "embedding": [float(x) for x in c]}
            for i, c in enumerate(model.clusterCenters())
        ],
    )


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, id_col: str = "id", vec_col: str = "embedding"
) -> DataFrame:
    """Assign every vector to its nearest centroid (quantized cosine,
    deterministic tie-break on centroid id). ``centroids(cid, embedding)``.

    MAP-ONLY (optimization guide §1.1/§8: the decision is row-local, so no
    bytes need cross the network): the C centroids collapse to a ONE-ROW
    broadcast array of (cid, quantized vector, norm) structs, and each
    vector picks its argmax with an in-row fold — no n×C row blow-up and,
    crucially, no Exchange carrying the full embedding through a
    per-vector window (the previous shape shuffled every vector C times
    just to rank C local scores). Score expression, quantization, and the
    (score desc, cid asc) tie-break — including Spark's NaN-sorts-highest
    ordering, reproduced by `>`/`=` comparisons where NaN is greater than
    every double and equal to itself — are bit-identical to the windowed
    form, so oracle hashes are unchanged."""
    from graphrag_toolkit_spark.functions.vector import (
        dot_prequantized,
        l2_norm_prequantized,
        l2_norm_quantized,
        prequantize,
    )

    carr = F.broadcast(
        centroids.select(
            F.struct(
                F.col("cid"),
                prequantize(F.col("embedding")).alias("qc"),
                l2_norm_quantized(F.col("embedding")).alias("nc"),
            ).alias("c")
        ).agg(F.collect_list("c").alias("cs"))
    )
    prepped = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("embedding"),
        prequantize(F.col(vec_col)).alias("qv"),
    ).select(
        # norm folds the shared quantized array — one quantize pass per row
        "id", "embedding", "qv", l2_norm_prequantized(F.col("qv")).alias("nv")
    ).crossJoin(carr)  # one broadcast row — no row multiplication
    return (
        _with_nearest_cid(prepped)
        .select("id", "embedding", "cid")
        .filter(F.col("cid").isNotNull())  # empty-centroid guard: the old
        # crossJoin produced zero rows; the fold produces null cids
    )


def ivf_topk(
    emb: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,            # (query_id, embedding)
    id_col: str = "id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    k: int = 5,
) -> DataFrame:
    """IVF ANN top-k: probe the ``nprobe`` nearest centroid lists, exact
    rerank within. Returns (query_id, id, score, rank)."""
    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    c = F.broadcast(centroids.select("cid", F.col("embedding").alias("c_embedding")))
    q = queries.select("query_id", F.col("embedding").alias("q_embedding"))
    probes = (
        F.broadcast(q).crossJoin(c)
        .withColumn(
            "c_score",
            cosine_similarity_quantized(F.col("q_embedding"), F.col("c_embedding")),
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("c_score"), F.asc("cid"))
            ),
        )
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", "q_embedding", "cid")
    )
    scored = assigned.join(F.broadcast(probes), "cid").withColumn(
        "score", cosine_similarity_quantized(F.col("embedding"), F.col("q_embedding"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "score", "rank")
    )
