"""TF-IDF scoring / rerank and near-dup diversity filter (SURVEY §2.5 V5-V6).

Parity targets:
- V5 rerank: ``retrieval/processors/rerank_statements.py:63-103`` +
  ``retrieval/utils/tfidf_utils*`` — statements re-scored by TF-IDF cosine
  against the query text.
- V6 diversity filter: ``retrieval/post_processors/statement_diversity.py:85-230``
  — pairwise TF-IDF cosine > threshold ⇒ drop the later duplicate.

Implementation is pure relational algebra (explode → join on token →
groupBy), NOT MLlib's HashingTF: no hash collisions, fully deterministic,
and DuckDB-oracle-expressible. At corpus scale the same shape holds — the
token join partitions by token (AQE broadcasts idf while it is small), and
V6's pairwise stage is bounded to the ≤200-statement rerank pool exactly
like the reference, so the cross-join never sees the full corpus (the
corpus-scale near-dup path is ``operators/dedup.py``'s MinHash-LSH).

The scorers are lazy transforms: building one submits no job. Their corpus
statistics (N, the query norm, BM25's avgdl) are scalar subqueries that run
inside the consuming action, and the only hinted broadcasts are the literal
query-term tables. Materialization is the caller's: a caller that reads a
score frame more than once checkpoints it (``query_engine`` checkpoints the
reranked pool), and a caller scoring a large corpus passes a materialized
``doc_tokens`` so the token table is not rebuilt per consumer
(``workload/vector.py``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.functions.littable import lit_table


def tokenize(
    df: DataFrame, text_col: str, id_col: str, widen: bool = True,
    with_dl: bool = False,
) -> DataFrame:
    """Lowercased word tokens, one row per (id, token, tf).

    Zero-shuffle: every (id, token) pair comes from exactly one input row, so
    term frequencies are computed ROW-LOCALLY — sort the token array, find
    run starts, and emit (token, run_length) structs — instead of
    explode + groupBy(id, token), which shuffles the whole exploded token
    table just to co-locate keys that were never apart. At corpus scale that
    shuffle is the dominant cost of every TF-IDF/BM25 build; here it is gone
    (plan-pinned in tests/test_plans.py).

    ``widen=False`` skips the pre-explode repartition — for tiny frames (a
    one-row query string) where a 1→N shuffle is pure overhead.
    ``with_dl=True`` adds the document's total token count as a ``dl``
    column on every token row — also row-local, saving consumers (BM25)
    a groupBy over the token table.
    """
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    toks = F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+")
    dl_cols = (
        [F.size(F.col("__s")).cast("bigint").alias("dl")] if with_dl else []
    )
    return (
        (widen_partitions(df) if widen else df)
        .select(
            F.col(id_col).alias("id"),
            F.array_sort(F.filter(toks, lambda t: t != "")).alias("__s"),
        )
        .withColumn(
            # run starts: positions where the sorted token changes
            # (sequence(0, -1) is DESCENDING in Spark, hence the size guard)
            "__starts",
            F.expr(
                "CASE WHEN size(__s) = 0 THEN array() "
                "ELSE filter(sequence(0, size(__s) - 1), "
                "            i -> i = 0 OR __s[i] <> __s[i - 1]) END"
            ),
        )
        .select(
            "id",
            *dl_cols,
            F.explode(
                F.expr(
                    "transform(__starts, (st, j) -> named_struct("
                    "  'token', __s[st],"
                    "  'tf', coalesce(try_element_at(__starts, j + 2),"
                    "                 size(__s)) - st))"
                )
            ).alias("__e"),
        )
        .select(
            "id",
            *(["dl"] if with_dl else []),
            F.col("__e.token"),
            F.col("__e.tf").cast("bigint").alias("tf"),
        )
    )


def idf_table(tokens: DataFrame, n_docs: int | Column) -> DataFrame:
    """Smoothed idf = ln((1+N)/(1+df)) + 1 per token. ``n_docs`` may be a
    scalar-subquery Column (``docs.select(count).scalar()``)."""
    return tokens.groupBy("token").agg(
        (F.log((1.0 + n_docs) / (1.0 + F.count(F.lit(1)))) + 1.0).alias("idf")
    )


def _tfidf_norm(weighted: DataFrame) -> DataFrame:
    norm = weighted.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    return weighted.join(norm, "id")


def _weight(idf_col, quantize: int | None, tf_col: str = "tf"):
    """tf×idf weight. With ``quantize`` set, idf is rounded and cast to
    DECIMAL so every downstream sum is exact — term-order-independent and
    identical across engines (doubles summed in nondeterministic partial-agg
    order are not reproducible; decimals are). Widths are kept at (18, q)
    so w×w products stay within decimal(38) and no precision is lost."""
    if quantize is None:
        return F.col(tf_col) * idf_col
    dec = f"decimal(18,{quantize})"
    idf_q = F.round(idf_col, quantize).cast(dec)
    return (F.col(tf_col).cast("decimal(8,0)") * idf_q).cast(dec)


def tfidf_cosine_scores(
    docs: DataFrame, query_text: str, text_col: str, id_col: str,
    quantize: int | None = None,
    doc_tokens: DataFrame | None = None,
) -> DataFrame:
    """Score every doc row by TF-IDF cosine similarity to ``query_text``.
    Returns (id, tfidf_score). The idf statistics come from the doc pool
    itself (matching the reference, which fits TF-IDF on the statement pool).
    ``quantize``: round idf to N decimals and aggregate in DECIMAL — exact,
    reproducible scores for oracle comparison (see ``_weight``).

    ``doc_tokens``: a caller that reads the pool's tokens more than once
    (several scorers, or a large corpus whose token table feeds both the idf
    aggregate and the score aggregate) passes ``tokenize(docs, text_col,
    id_col)``, materialized as it sees fit (extra columns like ``dl`` are
    fine — unused ones are pruned). Values must equal this function's own
    tokenization or results change.
    """
    spark = docs.sparkSession
    if doc_tokens is None:
        doc_tokens = tokenize(docs, text_col, id_col)
    # idf table = corpus vocabulary (Heaps-law growth) — no hint; AQE
    # broadcasts while small, shuffle-joins on token when it is not
    idf = idf_table(doc_tokens, docs.select(F.count(F.lit(1))).scalar())
    # JVM literal table, not createDataFrame: a local-list frame scans a
    # pickled PythonRDD per job (functions/littable.py has the measurements)
    qdf = lit_table(
        spark, "qid string, qtext string", [{"qid": "q", "qtext": query_text}]
    )
    qtf = F.broadcast(
        tokenize(qdf, "qtext", "qid", widen=False)
        .select("token", F.col("tf").alias("qtf"))
    )
    qw = _weight(F.col("idf"), quantize, tf_col="qtf")
    # NULL when no query token is in the vocabulary: every dot below is
    # NULL then too, and the coalesce yields 0.0 (norms are never 0, idf ≥ 1)
    qnorm = (
        qtf.join(idf, "token")
        .select(F.sqrt(F.sum(qw * qw).cast("double")))
        .scalar()
    )

    # ONE pass computes both per-doc statistics: left-join the (tiny) query
    # term table onto the token table, then a single id-grouped aggregate
    # yields norm (all tokens) and dot (SUM skips the NULL products of
    # non-query tokens — decimal sums are order-independent, so this is
    # value-identical to aggregating the inner join separately).
    # One shuffle end-to-end, no norms⋈dots re-join — this stage-count is
    # pinned by tests/test_plans.py so it can't silently regress.
    fused = (
        doc_tokens.join(idf, "token")
        .withColumn("w", _weight(F.col("idf"), quantize))
        .join(qtf, "token", "left")
    )
    scores = fused.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm"),
        F.sum(F.col("w") * qw).cast("double").alias("dot"),
    ).select(
        "id",
        F.coalesce(
            F.col("dot") / (F.col("norm") * qnorm), F.lit(0.0)
        ).alias("tfidf_score"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scores, "id", "left")
        .fillna(0.0, subset=["tfidf_score"])
    )


def rerank_by_tfidf(
    flat: DataFrame, query_text: str, text_col: str = "value",
    id_col: str = "statement_id", alpha: float = 1.0,
) -> DataFrame:
    """V5: blend TF-IDF relevance into the statement score
    (``score + alpha × tfidf``) — the Spark expression of the reference's
    rerank-statements processor. The seed-bounded pool always dedups into
    fewer AQE partitions than cores, so ``tokenize`` would always widen it;
    repartitioning here builds that same plan without the partition-count
    probe, which under AQE runs the dedup shuffle as a job at build time."""
    docs = flat.select(id_col, text_col).dropDuplicates([id_col])
    wide = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    scores = tfidf_cosine_scores(
        docs, query_text, text_col, id_col,
        doc_tokens=tokenize(wide, text_col, id_col, widen=False),
    ).withColumnRenamed("id", id_col)
    return (
        flat.join(scores, id_col)
        .withColumn("score", F.col("score") + F.lit(alpha) * F.col("tfidf_score"))
        .drop("tfidf_score")
    )


def diversity_filter(
    flat: DataFrame, threshold: float = 0.975,
    text_col: str = "value", id_col: str = "statement_id",
) -> DataFrame:
    """V6: drop near-duplicate statements — pairwise TF-IDF cosine over the
    (bounded) pool; when a pair exceeds ``threshold``, the statement with the
    higher ``id_col`` of the pair is dropped (scores play no part)."""
    docs = flat.select(id_col, text_col).dropDuplicates([id_col])
    tokens = tokenize(docs, text_col, id_col)
    # vocab-sized: no hint (see above)
    idf = idf_table(tokens, docs.select(F.count(F.lit(1))).scalar())
    w = _tfidf_norm(tokens.join(idf, "token").withColumn("w", F.col("tf") * F.col("idf")))

    a = w.select(
        F.col("id").alias("id_a"), F.col("token"), F.col("w").alias("w_a"), F.col("norm").alias("n_a")
    )
    b = w.select(
        F.col("id").alias("id_b"), F.col("token"), F.col("w").alias("w_b"), F.col("norm").alias("n_b")
    )
    # token-partitioned pair generation (only pairs sharing a token can pass)
    sims = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
        .withColumn("cos", F.col("dot") / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cos") > threshold)
    )
    drop = sims.select(F.col("id_b").alias(id_col)).distinct()
    return flat.join(drop, id_col, "left_anti")


def bm25_scores(
    docs: DataFrame,
    query_text: str,
    text_col: str,
    id_col: str,
    k1: float = 1.2,
    b: float = 0.75,
    quantize: int = 6,
    doc_tokens: DataFrame | None = None,
) -> DataFrame:
    """BM25 keyword scoring (Robertson idf, Lucene-style) against
    ``query_text`` — the relational twin of the reference's OpenSearch
    keyword/hybrid leg (`opensearch_vector_indexes.py` keyword queries are
    BM25-ranked by the service; here the ranking function itself is a
    DataFrame aggregation). Returns (id, bm25) for every doc, 0.0 when no
    query term matches.

        idf(t)   = ln(1 + (N - df + 0.5)/(df + 0.5))
        tfn(t,d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        bm25     = Σ_t idf·tfn     (per-term scores rounded to ``quantize``
                                    decimals, summed in DECIMAL — exact in
                                    any order, engine-identical)

    Scale shape: N and avgdl are scalar subqueries; the (tiny) query term
    list is broadcast; df is a token-partitioned window over the query-term
    rows only; per-doc length rides on each token row and the final sum is
    an id-grouped aggregate.

    ``doc_tokens``: optional shared tokenization, same contract as
    ``tfidf_cosine_scores`` — BM25 additionally needs the ``dl`` column
    (``tokenize(..., with_dl=True)``).
    """
    q_terms = sorted({t for t in re.split(r"[^0-9a-z]+", query_text.lower()) if t})
    if not q_terms:
        return docs.select(F.col(id_col).alias("id"), F.lit(0.0).alias("bm25"))
    if doc_tokens is None:
        # dl rides along row-locally (with_dl) — no groupBy over the token
        # table just to recover each doc's own length
        doc_tokens = tokenize(docs, text_col, id_col, with_dl=True)
    n_docs = docs.select(F.count(F.lit(1))).scalar().cast("double")
    # avg over docs WITH tokens; exact-int operands -> identical division
    avgdl = doc_tokens.select(
        F.sum("tf").cast("double") / F.countDistinct("id").cast("double")
    ).scalar()
    qdf = F.broadcast(
        lit_table(docs.sparkSession, "token string", [{"token": t} for t in q_terms])
    )
    term = (
        doc_tokens.join(qdf, "token")
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("token")))
        .withColumn(
            "idf",
            F.log(1.0 + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "tfn",
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
            ),
        )
        .withColumn(
            "s",
            F.round(F.col("idf") * F.col("tfn"), quantize).cast(
                f"decimal(18,{quantize})"
            ),
        )
    )
    scores = term.groupBy("id").agg(F.sum("s").cast("double").alias("bm25"))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scores, "id", "left")
        .fillna(0.0, subset=["bm25"])
    )
