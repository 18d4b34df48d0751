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
token join partitions by token (idf is a broadcast dim), and V6's pairwise
stage is bounded to the ≤200-statement rerank pool exactly like the
reference, so the cross-join never sees the full corpus (the corpus-scale
near-dup path is ``operators/dedup.py``'s MinHash-LSH).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def idf_table(tokens: DataFrame, n_docs: int) -> DataFrame:
    """Smoothed idf = ln((1+N)/(1+df)) + 1 per token."""
    return tokens.groupBy("token").agg(
        (F.log((1.0 + n_docs) / (1.0 + F.count(F.lit(1)))) + 1.0).alias("idf")
    )


def _tfidf_norm(weighted: DataFrame) -> DataFrame:
    norm = weighted.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm")
    )
    return weighted.join(norm, "id")


def _weight(idf_col, quantize: int | None):
    """tf×idf weight. With ``quantize`` set, idf is rounded and cast to
    DECIMAL so every downstream sum is exact — term-order-independent and
    identical across engines (doubles summed in nondeterministic partial-agg
    order are not reproducible; decimals are). Widths are kept at (18, q)
    so w×w products stay within decimal(38) and no precision is lost."""
    if quantize is None:
        return F.col("tf") * idf_col
    dec = f"decimal(18,{quantize})"
    idf_q = F.round(idf_col, quantize).cast(dec)
    return (F.col("tf").cast("decimal(8,0)") * idf_q).cast(dec)


def tfidf_cosine_scores(
    docs: DataFrame, query_text: str, text_col: str, id_col: str,
    quantize: int | None = None,
    checkpoint: bool = True,
    doc_tokens: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Score every doc row by TF-IDF cosine similarity to ``query_text``.
    Returns (id, tfidf_score). The idf statistics come from the doc pool
    itself (matching the reference, which fits TF-IDF on the statement pool).
    ``quantize``: round idf to N decimals and aggregate in DECIMAL — exact,
    reproducible scores for oracle comparison (see ``_weight``).
    ``checkpoint=False`` keeps the full lazy plan visible for plan tests
    (sub-checkpoint plans are invisible to ``.explain``).

    ``doc_tokens``/``n_docs``: a caller that runs SEVERAL scorers over the
    same pool (hybrid BM25+TF-IDF) can pass ``tokenize(docs, text_col,
    id_col)`` (extra columns like ``dl`` are fine — unused ones are pruned)
    and ``docs.count()`` so the corpus is tokenized ONCE for all legs
    instead of once per leg. The caller owns that frame's persistence;
    values must equal this function's own tokenization or results change.
    """
    spark = docs.sparkSession
    if n_docs is None:
        n_docs = docs.count()
    # only checkpoint=True materializes the scores, so only then can this
    # call release a token cache before returning: persist only then
    owned = checkpoint and doc_tokens is None
    if doc_tokens is None:
        doc_tokens = tokenize(docs, text_col, id_col)
        if owned:
            # the token table feeds BOTH remaining consumers (idf stats and
            # the fused norm+dot aggregate): materialize the row-local
            # tokenizer once instead of re-running it per consumer
            doc_tokens.persist()
    # idf table = corpus vocabulary (Heaps-law growth) — no hint; AQE
    # broadcasts while small, shuffle-joins on token when it is not
    idf = idf_table(doc_tokens, n_docs)
    if checkpoint:
        # idf feeds TWO jobs (the qnorm scalar below and the fused score
        # aggregate): materialize the vocabulary aggregate once instead of
        # re-running the token groupBy per consumer (guide §2.4 — same
        # values, the aggregate is deterministic). Released after the
        # score table materializes.
        idf = idf.localCheckpoint(eager=True)

    dw = doc_tokens.join(idf, "token").withColumn(
        "w", _weight(F.col("idf"), quantize)
    )
    # JVM literal table, not createDataFrame: a local-list frame scans a
    # pickled PythonRDD per job (functions/littable.py has the measurements)
    qdf = lit_table(
        spark, "qid string, qtext string", [{"qid": "q", "qtext": query_text}]
    )
    qw = (
        tokenize(qdf, "qtext", "qid", widen=False)
        .join(idf, "token")
        .withColumn("qw", _weight(F.col("idf"), quantize))
        .select("token", "qw")
    )
    qnorm_row = qw.select(
        F.sqrt(F.sum(F.col("qw") * F.col("qw")).cast("double")).alias("n")
    ).head()
    qnorm = float(qnorm_row["n"] or 0.0)
    if qnorm == 0.0:
        if checkpoint:
            idf.unpersist()
            if owned:
                doc_tokens.unpersist()
        return docs.select(F.col(id_col).alias("id"), F.lit(0.0).alias("tfidf_score"))

    # ONE pass computes both per-doc statistics: left-broadcast-join the
    # (tiny) query weights onto the token table, then a single id-grouped
    # aggregate yields norm (all tokens) and dot (SUM skips the NULL
    # products of non-query tokens — decimal sums are order-independent, so
    # this is value-identical to aggregating the inner join separately).
    # One shuffle end-to-end, no norms⋈dots re-join — this stage-count is
    # pinned by tests/test_plans.py so it can't silently regress.
    fused = dw.join(F.broadcast(qw), "token", "left")
    scores = fused.groupBy("id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("norm"),
        F.sum(F.col("w") * F.col("qw")).cast("double").alias("dot"),
    ).select(
        "id",
        F.coalesce(
            F.col("dot") / (F.col("norm") * F.lit(qnorm)), F.lit(0.0)
        ).alias("tfidf_score"),
    )
    # the returned DF is lazy, so an inline unpersist would drop the cache
    # before it's ever used — materialize the (one-row-per-doc) score table
    # eagerly, then release the token cache so repeated calls don't leak
    # executor memory for the session lifetime
    if checkpoint:
        scores = scores.localCheckpoint(eager=True)
        idf.unpersist()  # both consumers have materialized
        if owned:
            doc_tokens.unpersist()
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
    rerank-statements processor."""
    scores = tfidf_cosine_scores(
        flat.select(id_col, text_col).dropDuplicates([id_col]), query_text, text_col, id_col
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
    (bounded) pool; when a pair exceeds ``threshold``, the later statement
    (higher id after score ordering) is dropped, keep-first semantics."""
    docs = flat.select(id_col, text_col).dropDuplicates([id_col])
    n_docs = docs.count()
    tokens = tokenize(docs, text_col, id_col)
    idf = idf_table(tokens, n_docs)  # vocab-sized: no hint (see above)
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
    checkpoint: bool = True,
    doc_tokens: DataFrame | None = None,
    n_docs: int | None = None,
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

    Scale shape: tokens materialized once; df stats and the (tiny) query
    term list are broadcast; per-doc length and the final sum are id-grouped
    aggregates — one token-shuffle end to end, same as TF-IDF above.

    ``doc_tokens``/``n_docs``: optional shared tokenization, same contract
    as ``tfidf_cosine_scores`` — BM25 additionally needs the ``dl`` column
    (``tokenize(..., with_dl=True)``); the caller owns persistence.
    """
    if n_docs is None:
        n_docs = docs.count()
    # persisted only where this call also releases it (see tfidf above)
    owned = checkpoint and doc_tokens is None
    if doc_tokens is None:
        # dl rides along row-locally (with_dl) — no groupBy over the token
        # table just to recover each doc's own length
        doc_tokens = tokenize(docs, text_col, id_col, with_dl=True)
        if owned:
            doc_tokens.persist()

    total_row = doc_tokens.agg(
        F.sum("tf").cast("double").alias("s"),
        F.countDistinct("id").alias("n"),
    ).head()
    # avg over docs WITH tokens; exact-int operands -> identical division
    avgdl = float(total_row["s"] or 0.0) / float(total_row["n"] or 1)

    q_terms = sorted(
        {t for t in __import__("re").split(r"[^0-9a-z]+", query_text.lower()) if t}
    )
    if not q_terms or avgdl == 0.0:
        if owned:
            doc_tokens.unpersist()
        return docs.select(F.col(id_col).alias("id"), F.lit(0.0).alias("bm25"))
    spark = docs.sparkSession
    qdf = F.broadcast(
        lit_table(spark, "token string", [{"token": t} for t in q_terms])
    )

    dfreq = F.broadcast(
        doc_tokens.join(qdf, "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    term = (
        doc_tokens.join(dfreq, "token")
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "tfn",
            (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
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
    if checkpoint:
        # materialize so the token cache can be released immediately
        # (same cache-hygiene rationale as tfidf_cosine_scores above);
        # checkpoint=False keeps the full lazy plan visible for plan tests
        scores = scores.localCheckpoint(eager=True)
        if owned:
            doc_tokens.unpersist()
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(scores, "id", "left")
        .fillna(0.0, subset=["bm25"])
    )
