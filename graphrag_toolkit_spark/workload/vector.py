"""Vector / TF-IDF workload over the driver's embeddings + documents tables
(SURVEY §2.5 V1-V5, J17).

All embedding scores use the decimal-quantized cosine
(``functions/vector.py``): element values rounded to a 1e-6 grid and
accumulated in DECIMAL, so Spark and DuckDB produce bit-identical doubles
regardless of summation order. The oracle expands vectors with
``generate_series`` + 1-based list indexing and performs the same decimal
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphrag_toolkit_spark.functions.littable import lit_table
from graphrag_toolkit_spark.operators import linking
from graphrag_toolkit_spark.operators.tfidf import tfidf_cosine_scores, tokenize
from graphrag_toolkit_spark.operators.vss import top_k, top_k_with_diversity
from graphrag_toolkit_spark.session import load

# decimal-quantized element: CAST(ROUND(x, 6) AS DECIMAL(12,6))
_Q = "CAST(ROUND(CAST({x} AS DOUBLE), 6) AS DECIMAL(12,6))"

# per-vector-pair cosine via generate_series expansion; {filt} bounds the scan
_COSINE_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE {{qfilt}}),
terms AS (
  SELECT e.vec_id, q.qid,
         {_Q.format(x='e.embedding[i]')} AS xe,
         {_Q.format(x='q.qemb[i]')} AS xq
  -- fixture embeddings are 64-dim (constant: DuckDB's generate_series can't
  -- take lateral column args)
  FROM embeddings e, q, generate_series(1, 64) AS t(i)
),
scores AS (
  SELECT vec_id, qid,
         CAST(SUM(xe * xq) AS DOUBLE)
           / (sqrt(CAST(SUM(xe * xe) AS DOUBLE)) * sqrt(CAST(SUM(xq * xq) AS DOUBLE))) AS score
  FROM terms GROUP BY vec_id, qid
)
"""


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    emb = load(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == vec_id).select("embedding").head()[0])


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V2: exact brute-force cosine top-10 against vec_id 0."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return top_k(emb, qv, id_col="vec_id", k=10, quantized=True).select("vec_id", "score")


COSINE_TOPK_ORACLE = _COSINE_SQL.format(qfilt="vec_id = 0") + """
SELECT vec_id, score FROM scores ORDER BY score DESC, vec_id LIMIT 10
"""


LI_SUBS, LI_DIM, LI_K = 4, 16, 10


def late_interaction_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) top-k: each 64-d vector is
    treated as 4 × 16-d token sub-embeddings; score(q, d) =
    Σ_qi max_dj dot(q_qi, d_dj). One posexplode (4× rows, narrow), the
    sub-vector dots in exact quantized decimal, one groupBy taking the 4
    per-query-token maxes, decimal sum → double. At scale the explode
    factor is the token count — the standard ColBERT storage trade — and
    candidate generation would sit in front (ann.py); this is the exact
    scoring leg. Reference analog: multi-embedding rerank is what
    `rerank.py`'s cross-encoder stub approximates without a model."""
    from graphrag_toolkit_spark.functions.vector import (
        dot_prequantized,
        prequantize,
        quantized_query_lit,
    )

    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    qsubs = [qv[j * LI_DIM:(j + 1) * LI_DIM] for j in range(LI_SUBS)]
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("embedding", j * LI_DIM + 1, LI_DIM)
                    for j in range(LI_SUBS)
                ]
            )
        ).alias("dj", "sub"),
    )
    # quantize each sub-vector ONCE in its own projection (the 4 dot columns
    # read the shared column; CollapseProject keeps non-cheap aliases that
    # are referenced more than once), and prequantize the query-token
    # literals so their rounding folds at plan time — values identical to
    # dot_quantized(sub, lit) per column, which re-quantized both sides
    # per token per row.
    qlits = [quantized_query_lit(qsubs[qi])[0] for qi in range(LI_SUBS)]
    dots = subs.select(
        "vec_id", prequantize(F.col("sub")).alias("qsub")
    ).select(
        "vec_id",
        *[
            dot_prequantized(F.col("qsub"), qlits[qi]).alias(f"d{qi}")
            for qi in range(LI_SUBS)
        ],
    )
    maxes = dots.groupBy("vec_id").agg(
        *[F.max(f"d{qi}").alias(f"m{qi}") for qi in range(LI_SUBS)]
    )
    score = sum(F.col(f"m{qi}") for qi in range(LI_SUBS)).cast("double")
    return (
        maxes.select("vec_id", score.alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(LI_K)
    )


LATE_INTERACTION_ORACLE = f"""
WITH q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
pairs AS (
  SELECT e.vec_id, dj.j AS dj, qi.i AS qi,
         SUM({_Q.format(x='e.embedding[dj.j * {d} + t.t]').format(d=LI_DIM)}
             * {_Q.format(x='q.qemb[qi.i * {d} + t.t]').format(d=LI_DIM)}) AS d
  FROM embeddings e, q,
       generate_series(0, {LI_SUBS - 1}) AS dj(j),
       generate_series(0, {LI_SUBS - 1}) AS qi(i),
       generate_series(1, {LI_DIM}) AS t(t)
  GROUP BY 1, 2, 3
),
-- dot_quantized casts EACH dot to double before max/sum, so the oracle
-- maxes doubles and adds the four maxes in fixed qi order (double addition
-- is order-sensitive; decimal-sum-then-cast would drift by an ulp)
maxes AS (
  SELECT vec_id,
         MAX(CASE WHEN qi = 0 THEN CAST(d AS DOUBLE) END) AS m0,
         MAX(CASE WHEN qi = 1 THEN CAST(d AS DOUBLE) END) AS m1,
         MAX(CASE WHEN qi = 2 THEN CAST(d AS DOUBLE) END) AS m2,
         MAX(CASE WHEN qi = 3 THEN CAST(d AS DOUBLE) END) AS m3
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, ((m0 + m1) + m2) + m3 AS score
FROM maxes ORDER BY score DESC, vec_id LIMIT {LI_K}
"""


MNN_N, MNN_K = 100, 3


def mutual_nn_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-nearest-neighbor pair mining with ratio-margin scoring
    (the bitext-mining / alignment recipe of Artetxe & Schwenk 2019):
    within the first MNN_N vectors, a pair qualifies iff each side is in
    the other's top-MNN_K by quantized cosine; margin = sim divided by the
    mean of the two sides' top-K averages. All double arithmetic happens
    in a FIXED order (top-K sums added rank-by-rank) so the oracle replays
    it bit-exactly. At corpus scale the all-pairs stage is replaced by an
    ANN candidate join (ann.py); the mutual/margin logic is unchanged."""
    from graphrag_toolkit_spark.functions.vector import (
        cosine_similarity_quantized,
    )

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < MNN_N)
    a = emb.select(F.col("vec_id").alias("ida"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("embedding").alias("eb"))
    from pyspark.sql.window import Window

    scores = (
        a.join(b, F.col("ida") != F.col("idb"))
        .select(
            "ida",
            "idb",
            cosine_similarity_quantized(F.col("ea"), F.col("eb")).alias("s"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("ida").orderBy(F.desc("s"), F.asc("idb"))
            ),
        )
        .filter(F.col("rank") <= MNN_K)
        # top-K table is (MNN_N × MNN_K)-bounded and feeds THREE plan
        # references (pivot, fwd, rev): truncate so the quadratic scoring
        # stage runs once, not per reference (§3.3)
        .localCheckpoint(eager=False)
    )
    # per-node top-K mean, summed in rank order (double addition order is
    # part of the contract)
    ranked = scores.groupBy("ida").pivot("rank", list(range(1, MNN_K + 1))).sum("s")
    avg = ranked.select(
        F.col("ida").alias("node"),
        (
            (F.col("1") + F.col("2")) + F.col("3")
        ).alias("top_sum"),
    ).withColumn("top_avg", F.col("top_sum") / MNN_K)
    avg = avg.localCheckpoint(eager=False)  # joined onto both pair sides
    fwd = scores.select("ida", "idb", "s")
    rev = scores.select(
        F.col("ida").alias("idb2"), F.col("idb").alias("ida2")
    )
    mutual = fwd.join(
        rev,
        (fwd.ida == F.col("ida2")) & (fwd.idb == F.col("idb2")),
        "semi",
    ).filter(F.col("ida") < F.col("idb"))
    aa = avg.select(F.col("node").alias("ida"), F.col("top_avg").alias("avg_a"))
    ab = avg.select(F.col("node").alias("idb"), F.col("top_avg").alias("avg_b"))
    return (
        mutual.join(aa, "ida")
        .join(ab, "idb")
        .select(
            "ida",
            "idb",
            "s",
            (F.col("s") / ((F.col("avg_a") + F.col("avg_b")) / 2)).alias(
                "margin"
            ),
        )
        .orderBy("ida", "idb")
    )


MUTUAL_NN_ORACLE = f"""
WITH uni AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {MNN_N}),
terms AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         {_Q.format(x='a.embedding[i]')} AS xa,
         {_Q.format(x='b.embedding[i]')} AS xb
  FROM uni a, uni b, generate_series(1, 64) AS t(i)
  WHERE a.vec_id <> b.vec_id
),
scores0 AS (
  SELECT ida, idb,
         CAST(SUM(xa * xb) AS DOUBLE)
           / (sqrt(CAST(SUM(xa * xa) AS DOUBLE))
              * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS s
  FROM terms GROUP BY ida, idb
),
scores AS (
  SELECT ida, idb, s,
         ROW_NUMBER() OVER (PARTITION BY ida ORDER BY s DESC, idb ASC) AS rank
  FROM scores0
),
topk AS (SELECT * FROM scores WHERE rank <= {MNN_K}),
avg AS (
  SELECT ida AS node,
         ((MAX(CASE WHEN rank = 1 THEN s END)
           + MAX(CASE WHEN rank = 2 THEN s END))
          + MAX(CASE WHEN rank = 3 THEN s END)) / {MNN_K} AS top_avg
  FROM topk GROUP BY ida
),
mutual AS (
  SELECT f.ida, f.idb, f.s
  FROM topk f
  WHERE f.ida < f.idb
    AND EXISTS (SELECT 1 FROM topk r WHERE r.ida = f.idb AND r.idb = f.ida)
)
SELECT m.ida, m.idb, m.s,
       m.s / ((aa.top_avg + ab.top_avg) / 2) AS margin
FROM mutual m
JOIN avg aa ON m.ida = aa.node
JOIN avg ab ON m.idb = ab.node
ORDER BY ida, idb
"""


def cosine_topk_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3: over-fetch 50 then round-robin one per label until 10."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    return top_k_with_diversity(
        emb, qv, id_col="vec_id", group_col="label",
        top_k=10, diversity_factor=5, quantized=True,
    ).select("vec_id", "label", "score")


DIVERSITY_ORACLE = _COSINE_SQL.format(qfilt="vec_id = 0") + """
, overfetch AS (
  SELECT s.vec_id, e.label, s.score
  FROM scores s JOIN embeddings e USING (vec_id)
  ORDER BY s.score DESC, s.vec_id LIMIT 50
),
rr AS (
  SELECT vec_id, label, score,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY score DESC, vec_id) AS rr_rank
  FROM overfetch
)
SELECT vec_id, label, score FROM rr ORDER BY rr_rank, score DESC, vec_id LIMIT 10
"""


def dense_link_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17: top-3 nearest catalog vectors for each of 3 query vectors."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    catalog = emb.select(F.col("vec_id").alias("node_id"), "embedding")
    return linking.dense_link(queries, catalog, top_k=3, quantized=True)


DENSE_LINK_ORACLE = _COSINE_SQL.format(qfilt="vec_id < 3") + """
SELECT qid AS query_id, vec_id AS node_id, score, rank FROM (
  SELECT qid, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
  FROM scores
) WHERE rank <= 3
"""


# --- B1: generic beam search (label-sibling graph, depth 2) ------------------

_BEAM_WIDTH = 8
_BEAM_DEPTH = 2


def _beam_over_labels(spark: SparkSession, sf_dir: str, scoring: str) -> DataFrame:
    """Shared body for the B1 oracle queries: nodes = vectors, neighbors =
    same-label siblings (the J6 co-occurrence analog), scored vs vec 0. The
    driver-loop beam with visited-set exclusion and (score desc, id asc)
    beam cuts — oracle-checked level by level."""
    from graphrag_toolkit_spark.operators.beam import beam_search

    emb = load(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 0)
    nodes = emb.select(F.col("vec_id").alias("id"), "embedding")
    labels = emb.select(F.col("vec_id").alias("node_id"), "label").localCheckpoint(
        eager=False
    )

    def nbrs(frontier: DataFrame) -> DataFrame:
        f = labels.join(frontier, "node_id").select(
            F.col("node_id").alias("parent_id"), "label"
        )
        return (
            labels.withColumnsRenamed({"node_id": "id2"})
            .join(f, "label")
            .filter(F.col("id2") != F.col("parent_id"))
            .select(F.col("id2").alias("node_id"), "parent_id")
            .distinct()
        )

    out = beam_search(
        nodes, nodes.select(F.col("id").alias("node_id")), nbrs, qv,
        beam_width=_BEAM_WIDTH, max_depth=_BEAM_DEPTH,
        scoring=scoring, quantized=True,
    )
    return out.select(F.col("node_id").alias("vec_id"), "depth", "score")


def beam_search_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1, cosine mode."""
    return _beam_over_labels(spark, sf_dir, "cosine")


def beam_search_attention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1, attention mode (beam_search_base.py:81-87): per-parent softmax of
    dot(neighbor, parent)/√dim boosts the query cosine by up to 2×. The
    softmax weights are decimal-gridded (round 9) so the oracle reproduces
    them bit-exactly."""
    return _beam_over_labels(spark, sf_dir, "attention")


_BEAM_LEVEL = """
{name}_cand AS (
  SELECT DISTINCT e2.vec_id
  FROM {frontier} f
  JOIN embeddings e1 ON e1.vec_id = f.vec_id
  JOIN embeddings e2 ON e2.label = e1.label AND e2.vec_id != e1.vec_id
  WHERE e2.vec_id NOT IN ({visited})
),
{name} AS (
  SELECT c.vec_id, s.score FROM {name}_cand c JOIN scores s USING (vec_id)
  ORDER BY s.score DESC, c.vec_id LIMIT {width}
)"""

BEAM_ORACLE = (
    _COSINE_SQL.format(qfilt="vec_id = 0")
    + f""",
l0 AS (SELECT vec_id, score FROM scores ORDER BY score DESC, vec_id LIMIT {_BEAM_WIDTH}),
{_BEAM_LEVEL.format(name="l1", frontier="l0", width=_BEAM_WIDTH,
                    visited="SELECT vec_id FROM l0")},
{_BEAM_LEVEL.format(name="l2", frontier="l1", width=_BEAM_WIDTH,
                    visited="SELECT vec_id FROM l0 UNION ALL SELECT vec_id FROM l1")}
SELECT vec_id, 0 AS depth, score FROM l0
UNION ALL SELECT vec_id, 1, score FROM l1
UNION ALL SELECT vec_id, 2, score FROM l2
"""
)

# attention level: candidates carry their parent; logit = quantized
# dot(neighbor, parent) / sqrt(64); per-parent max-subtracted exp rounded to
# a 1e-9 decimal grid (exact window sums both engines); weight = e/Σe; the
# query-cosine is boosted by (1 + weight); best parent per node, then the
# beam cut. Division by 8.0 is a power-of-two scale — lossless in IEEE.
_ATTN_LEVEL = f"""
{{name}}_cand AS (
  SELECT DISTINCT e2.vec_id, e1.vec_id AS parent_id
  FROM {{frontier}} f
  JOIN embeddings e1 ON e1.vec_id = f.vec_id
  JOIN embeddings e2 ON e2.label = e1.label AND e2.vec_id != e1.vec_id
  WHERE e2.vec_id NOT IN ({{visited}})
),
{{name}}_logit AS (
  SELECT c.vec_id, c.parent_id,
         CAST(SUM({_Q.format(x='en.embedding[i]')} * {_Q.format(x='ep.embedding[i]')}) AS DOUBLE)
           / 8.0 AS logit
  FROM {{name}}_cand c
  JOIN embeddings en ON en.vec_id = c.vec_id
  JOIN embeddings ep ON ep.vec_id = c.parent_id, generate_series(1, 64) AS t(i)
  GROUP BY c.vec_id, c.parent_id
),
{{name}}_sm AS (
  SELECT vec_id, parent_id,
         CAST(ROUND(exp(logit - MAX(logit) OVER (PARTITION BY parent_id)), 9)
              AS DECIMAL(12,9)) AS e
  FROM {{name}}_logit
),
{{name}}_scored AS (
  SELECT w.vec_id, w.parent_id,
         s.score * (1.0 + CAST(w.e AS DOUBLE)
                          / CAST(SUM(w.e) OVER (PARTITION BY w.parent_id) AS DOUBLE)) AS score
  FROM {{name}}_sm w JOIN scores s ON s.vec_id = w.vec_id
),
{{name}}_best AS (
  SELECT vec_id, score FROM (
    SELECT vec_id, score,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, parent_id) AS rn
    FROM {{name}}_scored
  ) WHERE rn = 1
),
{{name}} AS (
  SELECT vec_id, score FROM {{name}}_best ORDER BY score DESC, vec_id LIMIT {{width}}
)"""

BEAM_ATTENTION_ORACLE = (
    _COSINE_SQL.format(qfilt="vec_id = 0")
    + f""",
l0 AS (SELECT vec_id, score FROM scores ORDER BY score DESC, vec_id LIMIT {_BEAM_WIDTH}),
{_ATTN_LEVEL.format(name="l1", frontier="l0", width=_BEAM_WIDTH,
                    visited="SELECT vec_id FROM l0")},
{_ATTN_LEVEL.format(name="l2", frontier="l1", width=_BEAM_WIDTH,
                    visited="SELECT vec_id FROM l0 UNION ALL SELECT vec_id FROM l1")}
SELECT vec_id, 0 AS depth, score FROM l0
UNION ALL SELECT vec_id, 1, score FROM l1
UNION ALL SELECT vec_id, 2, score FROM l2
"""
)


# --- V5: TF-IDF scoring ------------------------------------------------------

TFIDF_QUERY = "spark filter join window batch stream"
_TFIDF_QUANT = 6


def _doc_tokens(docs: DataFrame, with_dl: bool = False) -> DataFrame:
    """The corpus token table, checkpointed: each scorer reads it more than
    once (idf and score aggregates; BM25's avgdl and term rows), and an
    un-materialized table re-tokenizes the corpus per read."""
    return tokenize(docs, "text", "doc_id", with_dl=with_dl).localCheckpoint(
        eager=False
    )


def tfidf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        tfidf_cosine_scores(docs, TFIDF_QUERY, text_col="text", id_col="doc_id",
                            quantize=_TFIDF_QUANT,
                            doc_tokens=_doc_tokens(docs))
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "tfidf_score")
    )


TFIDF_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
toks AS (
  SELECT doc_id, token, CAST(COUNT(*) AS DECIMAL(8,0)) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY doc_id, token
),
idf AS (
  SELECT token, ln((1.0 + n.n_docs) / (1.0 + COUNT(*))) + 1.0 AS idf
  FROM toks, n GROUP BY token, n.n_docs
),
dw AS (
  SELECT doc_id, token,
         CAST(tf * CAST(ROUND(idf, {_TFIDF_QUANT}) AS DECIMAL(18,{_TFIDF_QUANT}))
              AS DECIMAL(18,{_TFIDF_QUANT})) AS w
  FROM toks JOIN idf USING (token)
),
dnorm AS (SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS norm FROM dw GROUP BY doc_id),
qtoks AS (
  SELECT token, CAST(COUNT(*) AS DECIMAL(8,0)) AS tf FROM (
    SELECT unnest(string_split_regex(lower('{TFIDF_QUERY}'), '[^0-9a-z]+')) AS token
  ) WHERE token <> '' GROUP BY token
),
qw AS (
  SELECT token,
         CAST(tf * CAST(ROUND(idf, {_TFIDF_QUANT}) AS DECIMAL(18,{_TFIDF_QUANT}))
              AS DECIMAL(18,{_TFIDF_QUANT})) AS qw
  FROM qtoks JOIN idf USING (token)
),
qnorm AS (SELECT sqrt(CAST(SUM(qw * qw) AS DOUBLE)) AS qn FROM qw),
dots AS (
  SELECT dw.doc_id, CAST(SUM(dw.w * qw.qw) AS DOUBLE) AS dot
  FROM dw JOIN qw USING (token) GROUP BY dw.doc_id
)
SELECT d.doc_id, COALESCE(dots.dot / (dn.norm * qnorm.qn), 0.0) AS tfidf_score
FROM documents d
LEFT JOIN dots ON dots.doc_id = d.doc_id
LEFT JOIN dnorm dn ON dn.doc_id = d.doc_id, qnorm
"""


# --- BM25 keyword scoring ----------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking over the documents table — the relational twin of the
    reference's OpenSearch keyword leg (service-side BM25). Per-term scores
    quantized to the decimal grid before the per-doc sum, so the scores are
    engine- and order-exact."""
    from graphrag_toolkit_spark.operators.tfidf import bm25_scores

    docs = load(spark, sf_dir, "documents")
    return (
        bm25_scores(docs, TFIDF_QUERY, text_col="text", id_col="doc_id",
                    k1=_BM25_K1, b=_BM25_B, quantize=_TFIDF_QUANT,
                    doc_tokens=_doc_tokens(docs, with_dl=True))
        .withColumnRenamed("id", "doc_id")
    )


BM25_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
toks AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY doc_id, token
),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM toks GROUP BY doc_id),
ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
qt AS (
  SELECT DISTINCT token FROM (
    SELECT unnest(string_split_regex(lower('{TFIDF_QUERY}'), '[^0-9a-z]+')) AS token
  ) WHERE token <> ''
),
dfr AS (SELECT token, COUNT(*) AS df FROM toks JOIN qt USING (token) GROUP BY token),
term AS (
  SELECT t.doc_id,
         ln(1.0 + (CAST(n.n_docs AS DOUBLE) - f.df + 0.5) / (f.df + 0.5)) AS idf,
         (t.tf * {_BM25_K1 + 1.0})
           / (t.tf + {_BM25_K1} * ({1.0 - _BM25_B} + {_BM25_B} * d.dl / ad.avgdl)) AS tfn
  FROM toks t JOIN dfr f USING (token) JOIN dl d ON d.doc_id = t.doc_id, n, ad
),
sc AS (
  SELECT doc_id,
         CAST(SUM(CAST(ROUND(idf * tfn, {_TFIDF_QUANT})
                       AS DECIMAL(18,{_TFIDF_QUANT}))) AS DOUBLE) AS bm25
  FROM term GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(sc.bm25, 0.0) AS bm25
FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
"""


# --- hybrid search: reciprocal-rank fusion -----------------------------------

_RRF_K = 60
_RRF_TOP = 100
_RRF_QUANT = 9


def hybrid_rrf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval merge: BM25 leg + TF-IDF leg, each truncated to its
    top-100 under a total order (TakeOrderedAndProject — the bounded-pool
    contract), fused with `processors.rrf_fuse` reciprocal-rank scores.

    The two legs score the SAME pool, so the corpus is tokenized once into
    one checkpointed token table (``with_dl`` superset — BM25 reads dl,
    TF-IDF prunes it) that both lazy scorers read; the whole query is then
    one plan, run by the caller's action. Leg values are unchanged — the
    standalone ``bm25_documents``/``tfidf_documents`` oracles pin them."""
    from graphrag_toolkit_spark.operators.processors import rrf_fuse
    from graphrag_toolkit_spark.operators.tfidf import bm25_scores

    docs = load(spark, sf_dir, "documents")
    toks = _doc_tokens(docs, with_dl=True)
    bm_full = bm25_scores(
        docs, TFIDF_QUERY, text_col="text", id_col="doc_id",
        k1=_BM25_K1, b=_BM25_B, quantize=_TFIDF_QUANT, doc_tokens=toks,
    ).withColumnRenamed("id", "doc_id")
    tf_full = tfidf_cosine_scores(
        docs, TFIDF_QUERY, text_col="text", id_col="doc_id",
        quantize=_TFIDF_QUANT, doc_tokens=toks,
    ).withColumnRenamed("id", "doc_id")
    bm = (
        bm_full
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(_RRF_TOP)
        .select(F.col("doc_id").alias("id"), F.col("bm25").alias("score"))
    )
    tf = (
        tf_full
        .select("doc_id", "tfidf_score")
        .orderBy(F.desc("tfidf_score"), F.asc("doc_id"))
        .limit(_RRF_TOP)
        .select(F.col("doc_id").alias("id"), F.col("tfidf_score").alias("score"))
    )
    return rrf_fuse([bm, tf], k=_RRF_K, quantize=_RRF_QUANT).withColumnRenamed(
        "id", "doc_id"
    )


HYBRID_RRF_ORACLE = f"""
WITH bm_full AS ({BM25_ORACLE}),
tf_full AS ({TFIDF_ORACLE}),
bm AS (SELECT doc_id, bm25 AS score FROM bm_full
       ORDER BY bm25 DESC, doc_id LIMIT {_RRF_TOP}),
tf AS (SELECT doc_id, tfidf_score AS score FROM tf_full
       ORDER BY tfidf_score DESC, doc_id LIMIT {_RRF_TOP}),
bmr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM bm),
tfr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank FROM tf),
u AS (
  SELECT doc_id,
         CAST(ROUND(1.0 / ({_RRF_K} + rank), {_RRF_QUANT})
              AS DECIMAL(12,{_RRF_QUANT})) AS c
  FROM bmr
  UNION ALL
  SELECT doc_id,
         CAST(ROUND(1.0 / ({_RRF_K} + rank), {_RRF_QUANT})
              AS DECIMAL(12,{_RRF_QUANT})) AS c
  FROM tfr
)
SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS rrf, COUNT(*) AS n_legs
FROM u GROUP BY doc_id
"""


# --- end-to-end retrieval evaluation pipeline -----------------------------------

EVAL_PIPE_K = 10


def _rank_disc_sql(rank: str) -> str:
    from graphrag_toolkit_spark.operators.textstats import LN2

    return (
        f"CAST(ROUND(1.0 / ROUND(ln(1.0 + {rank}) / {LN2!r}, 6), 6)"
        " AS DECIMAL(12,6))"
    )


def retrieval_eval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed retrieval-quality story end to end: BM25 leg + TF-IDF
    leg → bounded top-100s → RRF fusion → top-10 ranked list → NDCG/MRR/
    recall against term-membership pseudo-judgments (rel = how many of the
    query's 6 terms the doc contains) — the full tune-a-retriever loop
    (retrieve → fuse → evaluate) as one lineage, every stage one of the
    declared operators."""
    from pyspark.sql.window import Window

    from graphrag_toolkit_spark.operators.ranking_eval import ranking_metrics

    fused = hybrid_rrf_documents(spark, sf_dir)
    results = (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(EVAL_PIPE_K)
        .select(
            F.lit("q").alias("query_id"),
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf"), F.asc("doc_id")))
            .alias("rank"),
        )
    )
    docs = load(spark, sf_dir, "documents")
    qterms = sorted(set(TFIDF_QUERY.split()))
    toks = F.split(F.lower(F.col("text")), r"[^0-9a-z]+")
    rel = None
    for t in qterms:
        hit = F.array_contains(toks, t).cast("int")
        rel = hit if rel is None else rel + hit
    judgments = (
        docs.select(
            F.lit("q").alias("query_id"),
            F.col("doc_id"),
            rel.alias("rel"),
        )
        .filter(F.col("rel") > 0)
    )
    return ranking_metrics(results, judgments, k=EVAL_PIPE_K)


_EVAL_REL_SQL = " + ".join(
    f"CAST(list_contains(string_split_regex(lower(text), '[^0-9a-z]+'), '{t}') AS INTEGER)"
    for t in sorted(set(TFIDF_QUERY.split()))
)


RETRIEVAL_EVAL_ORACLE = f"""
WITH fused AS ({HYBRID_RRF_ORACLE}),
res AS (
  SELECT 'q' AS query_id, doc_id, rank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
    FROM fused
  ) WHERE rank <= {EVAL_PIPE_K}
),
judg AS (
  SELECT * FROM (
    SELECT 'q' AS query_id, doc_id, ({_EVAL_REL_SQL}) AS rel
    FROM documents
  ) WHERE rel > 0
),
joined AS (
  SELECT r.query_id, r.rank, COALESCE(j.rel, 0) AS rel
  FROM res r LEFT JOIN judg j ON j.query_id = r.query_id AND j.doc_id = r.doc_id
),
perq AS (
  SELECT query_id,
         CAST(SUM(CAST(rel * {_rank_disc_sql('rank')} AS DECIMAL(18,6))) AS DOUBLE)
           AS dcg,
         MIN(CASE WHEN rel > 0 THEN rank END) AS firstrel,
         CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retrieved_relevant
  FROM joined GROUP BY query_id
),
ideal AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN irank <= {EVAL_PIPE_K}
                  THEN CAST(rel * {_rank_disc_sql('irank')} AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS idcg,
         COUNT(*) AS n_relevant
  FROM (
    SELECT query_id, rel, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id)
             AS irank
    FROM judg WHERE rel > 0
  ) GROUP BY query_id
)
SELECT COALESCE(p.query_id, i.query_id) AS query_id,
       COALESCE(p.dcg, 0.0) AS dcg,
       COALESCE(i.idcg, 0.0) AS idcg,
       CASE WHEN COALESCE(i.idcg, 0.0) > 0
            THEN COALESCE(p.dcg, 0.0) / i.idcg ELSE 0.0 END AS ndcg,
       CASE WHEN p.firstrel IS NOT NULL THEN 1.0 / p.firstrel ELSE 0.0 END AS mrr,
       COALESCE(i.n_relevant, 0) AS n_relevant,
       COALESCE(p.n_retrieved_relevant, CAST(0 AS BIGINT))
         AS n_retrieved_relevant,
       CASE WHEN COALESCE(i.n_relevant, 0) > 0
            THEN CAST(COALESCE(p.n_retrieved_relevant, 0) AS DOUBLE)
                   / i.n_relevant
            ELSE 0.0 END AS recall
FROM perq p FULL JOIN ideal i ON i.query_id = p.query_id
"""


BOOL_TERMS = ["spark", "join", "window"]


def boolean_and_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index boolean retrieval: documents containing ALL query
    terms — distinct (doc, matched-term) postings grouped per doc, kept
    when the distinct-term count equals the query size. The conjunctive
    complement to BM25's ranked scoring."""
    docs = load(spark, sf_dir, "documents")
    terms = F.broadcast(
        lit_table(
            spark, "token string",
            [{"token": t} for t in sorted(set(BOOL_TERMS))],
        )
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"[^0-9a-z]+")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.join(terms, "token")
        .groupBy("doc_id")
        .agg(F.countDistinct("token").alias("n_terms"))
        .filter(F.col("n_terms") == len(set(BOOL_TERMS)))
        .select("doc_id")
    )


BOOL_AND_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> ''
)
SELECT doc_id FROM toks
WHERE token IN ({", ".join(repr(t) for t in sorted(set(BOOL_TERMS)))})
GROUP BY doc_id
HAVING COUNT(DISTINCT token) = {len(set(BOOL_TERMS))}
"""


DRIFT_TOP_DIMS = 10


def embedding_drift_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift between content-hash halves of the
    vector table — the check run when an embedding model is upgraded or a
    pipeline is re-run: which DIMENSIONS moved, ranked by absolute mean
    shift. A uniform hash split of one healthy corpus should show ~zero
    shift everywhere; a re-embedded or corrupted slice lights up specific
    dimensions. Top-N dims by |Δmean| with a decimal-exact ranking key:
    Δ = n_b·S_a − n_a·S_b (exact decimal; equal-sign comparison with the
    n_a·n_b denominator factored out), the reported means one exact
    division each.

    Scale shape: one posexplode aggregate to (dim × half) — 128 rows —
    then arithmetic on that tiny table."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 6).cast("decimal(12,6)"),
    )
    half = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dr|"), F.col("vec_id").cast("string"))), 1, 7
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    ex = emb.select(half.alias("h"), F.posexplode(q).alias("dim", "v"))
    agg = ex.groupBy("dim").agg(
        F.sum(F.when(F.col("h") == 0, F.col("v"))).alias("sa"),
        F.count(F.when(F.col("h") == 0, 1)).cast("long").alias("na"),
        F.sum(F.when(F.col("h") == 1, F.col("v"))).alias("sb"),
        F.count(F.when(F.col("h") == 1, 1)).cast("long").alias("nb"),
    )
    # ranking key: |n_b·S_a − n_a·S_b| — exact decimal, denominator-free
    key = F.abs(
        F.col("nb").cast("decimal(9,0)") * F.col("sa").cast("decimal(22,6)")
        - F.col("na").cast("decimal(9,0)") * F.col("sb").cast("decimal(22,6)")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("_key"), F.asc("dim"))
    return (
        agg.withColumn("_key", key)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= DRIFT_TOP_DIMS)
        .select(
            "dim",
            F.col("rank").cast("int").alias("rank"),
            "na", "nb",
            (F.col("sa").cast("double") / F.col("na").cast("double")).alias(
                "mean_a"
            ),
            (F.col("sb").cast("double") / F.col("nb").cast("double")).alias(
                "mean_b"
            ),
        )
        .orderBy("rank")
    )


EMBEDDING_DRIFT_ORACLE = f"""
WITH ex AS (
  SELECT CAST('0x' || substring(md5('dr|' || CAST(vec_id AS VARCHAR)), 1, 7)
              AS BIGINT) % 2 AS h,
         t.i - 1 AS dim,
         CAST(ROUND(CAST(embedding[t.i] AS DOUBLE), 6) AS DECIMAL(12,6)) AS v
  FROM embeddings, generate_series(1, 64) AS t(i)
),
agg AS (
  SELECT dim,
         SUM(CASE WHEN h = 0 THEN v END) AS sa,
         CAST(COUNT(CASE WHEN h = 0 THEN 1 END) AS BIGINT) AS na,
         SUM(CASE WHEN h = 1 THEN v END) AS sb,
         CAST(COUNT(CASE WHEN h = 1 THEN 1 END) AS BIGINT) AS nb
  FROM ex GROUP BY dim
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
           ORDER BY ABS(CAST(nb AS DECIMAL(9,0)) * CAST(sa AS DECIMAL(22,6))
                        - CAST(na AS DECIMAL(9,0)) * CAST(sb AS DECIMAL(22,6)))
                    DESC, dim) AS rank
  FROM agg
)
SELECT dim, CAST(rank AS INTEGER) AS rank, na, nb,
       CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS mean_a,
       CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mean_b
FROM ranked WHERE rank <= {DRIFT_TOP_DIMS}
ORDER BY rank
"""


OUTLIER_TOP_N = 20


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection: the top-N vectors farthest from the
    corpus centroid — the quality gate that catches corrupt/degenerate
    embeddings (failed encodes, zero rows, wrong-model strays) before they
    poison an index or a clustering run.

    EXACTNESS: comparing distances to a MEAN centroid usually forces
    inexact double sums, so the ranking key is the n²-scaled distance
    D_i = Σ_j (n·v_ij − S_j)² computed ENTIRELY in decimal (v on the 10⁻⁶
    grid, S_j the exact per-dimension decimal sum) — D_i/n² = |v_i − μ|²
    exactly, and decimal comparisons are engine-exact. The reported d2
    divides the FLOOR-split double of D (decimal→double is only correctly
    rounded under 2^53 raw) by the exact n².

    Scale shape: one posexplode aggregate for the 64-row centroid table
    (broadcast), one narrow scan for the per-vector fold, one
    TakeOrderedAndProject for the top-N. Tight decimal widths documented
    inline (|n·v − S| < 10¹³) keep every product exact in both engines."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 6).cast("decimal(12,6)"),
    )
    ex = emb.select("vec_id", F.posexplode(q).alias("dim", "v"))
    cent = ex.groupBy("dim").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    # diff = n·v − S fits decimal(19,6); the asymmetric (19,6)×(13,6)
    # square keeps DuckDB's twin on its HUGEINT multiply path (symmetric
    # 18-digit operands overflow its INT64 fast path).
    diff = (
        F.col("n").cast("decimal(9,0)") * F.col("v") - F.col("s").cast("decimal(22,6)")
    )
    d2 = (
        diff.cast("decimal(19,6)") * diff.cast("decimal(13,6)")
    )
    per = (
        ex.join(F.broadcast(cent), "dim")
        .select("vec_id", d2.alias("_d2"), "n")
        .groupBy("vec_id")
        .agg(F.sum("_d2").alias("_big"), F.max("n").alias("_n"))
    )
    # FLOOR-split needs headroom: a (38,12)−(38,12) subtraction requires
    # precision 39, so Spark silently rounds the fraction to scale 11
    # (1-ulp d2 divergence, seen at sf0.001/0.01). Re-bound to (30,12)
    # first — D < 10¹⁸ by the width analysis above — so the subtraction
    # fits at (31,12) exactly.
    big30 = F.col("_big").cast("decimal(30,12)")
    d2_dbl = (
        F.floor(big30).cast("double")
        + (big30 - F.floor(big30).cast("decimal(30,12)")).cast("double")
    ) / (F.col("_n") * F.col("_n")).cast("double")
    # Top-N first (orderBy + limit = distributed TakeOrderedAndProject per
    # the docstring), THEN the rank window — which now runs over exactly
    # OUTLIER_TOP_N rows, a bounded frame, never the full corpus.
    top = per.orderBy(F.desc("_big"), F.asc("vec_id")).limit(OUTLIER_TOP_N)
    w = Window.orderBy(F.desc("_big"), F.asc("vec_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("vec_id", F.col("rank").cast("int").alias("rank"), d2_dbl.alias("d2"))
        .orderBy("rank")
    )


# Shared CTE body (ex → cent → per → ranked): the exact-decimal outlier
# ranking, reused by dataprep's vector_index_pipeline oracle.
OUTLIER_CTE_SQL = """ex AS (
  SELECT vec_id, t.i AS dim,
         CAST(ROUND(CAST(embedding[t.i] AS DOUBLE), 6) AS DECIMAL(12,6)) AS v
  FROM embeddings, generate_series(1, 64) AS t(i)
),
cent AS (
  SELECT dim, SUM(v) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM ex GROUP BY dim
),
per AS (
  SELECT ex.vec_id,
         SUM(CAST(CAST(cent.n AS DECIMAL(9,0)) * ex.v
                  - CAST(cent.s AS DECIMAL(22,6)) AS DECIMAL(19,6))
             * CAST(CAST(cent.n AS DECIMAL(9,0)) * ex.v
                    - CAST(cent.s AS DECIMAL(22,6)) AS DECIMAL(13,6))) AS big,
         MAX(cent.n) AS n
  FROM ex JOIN cent USING (dim)
  GROUP BY ex.vec_id
),
ranked AS (
  SELECT vec_id, big, n,
         ROW_NUMBER() OVER (ORDER BY big DESC, vec_id) AS rank
  FROM per
)"""

EMBEDDING_OUTLIERS_ORACLE = f"""
WITH {OUTLIER_CTE_SQL}
SELECT vec_id, CAST(rank AS INTEGER) AS rank,
       (CAST(FLOOR(big) AS DOUBLE) + CAST(big - FLOOR(big) AS DOUBLE))
         / CAST(n * n AS DOUBLE) AS d2
FROM ranked WHERE rank <= {OUTLIER_TOP_N}
ORDER BY rank
"""


def embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component statistics via higher-order array folds (no
    explode): min/max via array functions, mean from the quantized-decimal
    component sum — the embedding-health profile (dead dimensions, scale
    drift) as narrow per-row expressions."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 6).cast("decimal(12,6)"),
    )
    total = F.aggregate(
        q, F.lit(0).cast("decimal(25,12)"),
        lambda acc, v: (acc + v).cast("decimal(25,12)"),
    ).cast("double")
    return emb.select(
        "vec_id",
        F.array_min(F.col("embedding")).cast("double").alias("c_min"),
        F.array_max(F.col("embedding")).cast("double").alias("c_max"),
        (total / F.size(F.col("embedding"))).alias("c_mean"),
    )


_EMBQ6 = "CAST(ROUND(CAST({x} AS DOUBLE), 6) AS DECIMAL(12,6))"

COMPONENT_STATS_ORACLE = f"""
SELECT vec_id,
       CAST(list_min(embedding) AS DOUBLE) AS c_min,
       CAST(list_max(embedding) AS DOUBLE) AS c_max,
       CAST((SELECT SUM({_EMBQ6.format(x='u.x')})
             FROM unnest(embedding) AS u(x)) AS DOUBLE)
         / len(embedding) AS c_mean
FROM embeddings
"""




TOP_TERMS_K = 3


def top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 TF-IDF-weighted terms of
    every doc (the corpus-statistics keyword provider — the deterministic
    sibling of `keywords.py`'s llm/nlp providers). Reuses the zero-shuffle
    tokenizer + broadcast idf table; one window per doc under a total
    order (weight desc, token asc)."""
    from pyspark.sql.window import Window

    from graphrag_toolkit_spark.operators.tfidf import _weight, idf_table

    docs = load(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", "doc_id")
    # idf table = corpus vocabulary (Heaps-law growth) — no hint
    idf = idf_table(toks, docs.select(F.count(F.lit(1))).scalar())
    dw = toks.join(idf, "token").withColumn(
        "w", _weight(F.col("idf"), _TFIDF_QUANT)
    )
    win = Window.partitionBy("id").orderBy(F.desc("w"), F.asc("token"))
    return (
        dw.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= TOP_TERMS_K)
        .select(
            F.col("id").alias("doc_id"), "rank", "token",
            F.col("w").cast("double").alias("weight"),
        )
    )


TOP_TERMS_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
toks AS (
  SELECT doc_id, token, CAST(COUNT(*) AS DECIMAL(8,0)) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY doc_id, token
),
idf AS (
  SELECT token, ln((1.0 + n.n_docs) / (1.0 + COUNT(*))) + 1.0 AS idf
  FROM toks, n GROUP BY token, n.n_docs
),
dw AS (
  SELECT doc_id, token,
         CAST(tf * CAST(ROUND(idf, {_TFIDF_QUANT}) AS DECIMAL(18,{_TFIDF_QUANT}))
              AS DECIMAL(18,{_TFIDF_QUANT})) AS w
  FROM toks JOIN idf USING (token)
)
SELECT doc_id, rank, token, CAST(w AS DOUBLE) AS weight FROM (
  SELECT doc_id, token, w,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w DESC, token ASC) AS rank
  FROM dw
) WHERE rank <= {TOP_TERMS_K}
"""




def label_centroids_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids (nearest-class-mean prototypes): exact
    per-component means — quantized decimal sums over a posexplode, double
    division by the class count — emitted one row per (label, dim) so the
    result is directly joinable for prototype scoring. The classifier-
    prototype / cluster-profile primitive."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 6).cast("decimal(12,6)"),
    )
    ex = emb.select("label", F.posexplode(q).alias("dim", "v"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean"),
        )
    )


LABEL_CENTROIDS_ORACLE = """
SELECT label, i - 1 AS dim, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(12,6)))
            AS DOUBLE) / COUNT(*) AS mean
FROM embeddings, generate_series(1, 64) AS t(i)
GROUP BY label, i
"""


QUERIES = {
    "top_terms_documents": top_terms_documents,
    "label_centroids_embeddings": label_centroids_embeddings,
    "retrieval_eval_pipeline": retrieval_eval_pipeline,
    "cosine_topk": cosine_topk,
    "late_interaction_topk": late_interaction_topk,
    "mutual_nn_embeddings": mutual_nn_embeddings,
    "bm25_documents": bm25_documents,
    "hybrid_rrf_documents": hybrid_rrf_documents,
    "boolean_and_search_documents": boolean_and_search_documents,
    "embedding_component_stats": embedding_component_stats,
    "embedding_outliers": embedding_outliers,
    "embedding_drift_dims": embedding_drift_dims,
    "cosine_topk_diverse": cosine_topk_diverse,
    "dense_link_embeddings": dense_link_embeddings,
    "beam_search_embeddings": beam_search_embeddings,
    "beam_search_attention": beam_search_attention,
    "tfidf_documents": tfidf_documents,
}

ORACLES = {
    "top_terms_documents": TOP_TERMS_ORACLE,
    "label_centroids_embeddings": LABEL_CENTROIDS_ORACLE,
    "retrieval_eval_pipeline": RETRIEVAL_EVAL_ORACLE,
    "cosine_topk": COSINE_TOPK_ORACLE,
    "late_interaction_topk": LATE_INTERACTION_ORACLE,
    "mutual_nn_embeddings": MUTUAL_NN_ORACLE,
    "bm25_documents": BM25_ORACLE,
    "hybrid_rrf_documents": HYBRID_RRF_ORACLE,
    "boolean_and_search_documents": BOOL_AND_ORACLE,
    "embedding_component_stats": COMPONENT_STATS_ORACLE,
    "embedding_outliers": EMBEDDING_OUTLIERS_ORACLE,
    "embedding_drift_dims": EMBEDDING_DRIFT_ORACLE,
    "cosine_topk_diverse": DIVERSITY_ORACLE,
    "dense_link_embeddings": DENSE_LINK_ORACLE,
    "beam_search_embeddings": BEAM_ORACLE,
    "beam_search_attention": BEAM_ATTENTION_ORACLE,
    "tfidf_documents": TFIDF_ORACLE,
}
