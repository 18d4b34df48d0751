"""Training-data pipeline workload over documents/embeddings: dedup families,
text analysis, ANN, multimodal plumbing — each running the REAL operator code
with a DuckDB oracle expressing identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.functions.littable import lit_table
from graphrag_toolkit_spark.functions.text import word_grams
from graphrag_toolkit_spark.operators import (
    ann,
    decontam,
    dedup,
    multimodal,
    packing,
    pii,
    pq,
    sampling,
    sketch as sketch_mod,
    spans,
    textstats,
)
from graphrag_toolkit_spark.session import load

_STOP_PAT = r"\b(" + "|".join(textstats.STOPWORDS) + r")\b"

NUM_HASHES = 12
BANDS = 6  # 6 bands x 2 rows: catch prob ~0.93 at j=0.6, ~1.0 at j=0.9
SHINGLE_K = 2

# DuckDB 1.0 generate_series takes only constants, so position-scanning
# oracles (audio VAD, content-defined chunking) use a fixed 1..N series
# filtered to each doc's true length. tests/test_dataprep_ops.py::
# TestAudioEnergy::test_oracle_len_bound asserts max(length(text)) <= N at
# every available SF so fixture growth past the bound fails loudly.
AUDIO_ORACLE_MAX_LEN = 1024
JACCARD_THRESHOLD = 0.5

# shared shingle CTE (word unigrams, lowercased, distinct per doc)
# word bigram shingles (k=2): the fixture's planted near-dup documents
# separate cleanly at bigram granularity (unigrams collide corpus-wide)
_SHINGLES_SQL = r"""
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i+1])) AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents)
  ) WHERE shingle <> ''
)
"""

# same affine universal-hash family as dedup.minhash_signatures: one md5 per
# shingle -> 28-bit base int h, then h_i = (a_i*h + b_i) mod 2^31-1
_MH_COLS = ",\n         ".join(
    f"min(({a} * h + {b}) % {dedup.MINHASH_PRIME}) AS mh{i}"
    for i, (a, b) in enumerate(dedup.minhash_coeffs(NUM_HASHES))
)
_SIG_SQL = f"""
hs AS (
  SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 7) AS BIGINT) AS h
  FROM sh
),
sig AS (
  SELECT doc_id,
         {_MH_COLS}
  FROM hs GROUP BY doc_id
)
"""

_ROWS_PER_BAND = NUM_HASHES // BANDS
_BAND_PROJ = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, md5({concat}) AS bh FROM sig".format(
        b=b,
        concat=" || '|' || ".join(
            f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        ),
    )
    for b in range(BANDS)
)
_BANDED_SQL = f"banded AS (\n{_BAND_PROJ}\n)"

_CAND_SQL = """
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id
)
"""




# --- incremental (new-vs-corpus) near-dup ------------------------------------

INC_MOD = 5  # hash(doc_id) % 5 == 0 -> the "incoming batch" (~20%)


def incremental_neardup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-increment near-dup (`dedup.minhash_near_dup_increment`):
    match the incoming ~20% (content-hash split) against the existing 80%
    AND keep-first within the batch — WITHOUT re-pairing the corpus
    internally, the plan a daily ingest actually runs (increment-banded ×
    all-banded bucket join; corpus×corpus candidates never form)."""
    from graphrag_toolkit_spark.operators.sampling import hash_value

    docs = load(spark, sf_dir, "documents")
    flag = hash_value(F.col("doc_id")) % INC_MOD == 0
    return dedup.minhash_near_dup_increment(
        docs.filter(~flag), docs.filter(flag), "text", "doc_id",
        k=SHINGLE_K, num_hashes=NUM_HASHES, bands=BANDS,
        threshold=JACCARD_THRESHOLD,
    )


INCREMENTAL_NEARDUP_ORACLE = f"""
WITH {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL},
flags AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           % {INC_MOD} = 0 AS is_new
  FROM documents
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_match
  FROM banded a
  JOIN flags fa ON fa.doc_id = a.doc_id AND fa.is_new
  JOIN banded b ON a.band = b.band AND a.bh = b.bh AND b.doc_id <> a.doc_id
  JOIN flags fb ON fb.doc_id = b.doc_id
  WHERE (NOT fb.is_new) OR b.doc_id < a.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_new, c.id_match, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_new
  JOIN sh b ON b.doc_id = c.id_match AND b.shingle = a.shingle
  GROUP BY c.id_new, c.id_match
)
SELECT i.id_new, i.id_match,
       i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_new
JOIN sizes sb ON sb.doc_id = i.id_match
WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
"""




# --- Gopher-style composite gate ----------------------------------------------


def gopher_gate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-style quality gate (`textstats.gopher_gate`):
    word-count / mean-word-length bounds, symbol ratio, duplicate-word
    fraction — per-doc verdict plus the sorted failed-rule list, all in
    one shuffle-free projection."""
    docs = load(spark, sf_dir, "documents")
    return textstats.gopher_gate(docs, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


_GG = textstats.GOPHER_RULES

GOPHER_GATE_ORACLE = rf"""
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{textstats.WORD_RE}')) AS n_words,
         length(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g')) AS word_chars,
         len(regexp_extract_all(text, '[^\s0-9a-zA-Z]')) AS n_symbols,
         list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, n_words,
         CAST(word_chars AS DOUBLE) / GREATEST(n_words, 1) AS mean_word_len,
         CAST(n_symbols AS DOUBLE) / GREATEST(n_words, 1) AS symbol_word_ratio,
         CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
           / GREATEST(len(toks), 1) AS dup_word_frac
  FROM base
),
v AS (
  SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, dup_word_frac,
         list_sort(list_filter([
           CASE WHEN NOT (n_words >= {_GG["min_words"]}) THEN 'min_words' END,
           CASE WHEN NOT (n_words <= {_GG["max_words"]}) THEN 'max_words' END,
           CASE WHEN NOT (mean_word_len >= {_GG["min_mean_word_len"]!r})
                THEN 'min_mean_word_len' END,
           CASE WHEN NOT (mean_word_len <= {_GG["max_mean_word_len"]!r})
                THEN 'max_mean_word_len' END,
           CASE WHEN NOT (symbol_word_ratio <= {_GG["max_symbol_word_ratio"]!r})
                THEN 'max_symbol_word_ratio' END,
           CASE WHEN NOT (dup_word_frac <= {_GG["max_dup_word_frac"]!r})
                THEN 'max_dup_word_frac' END
         ], x -> x IS NOT NULL)) AS fails
  FROM m
)
SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, dup_word_frac,
       COALESCE(array_to_string(fails, ','), '') AS failed_rules,
       len(fails) = 0 AS passes
FROM v
"""




# --- n-gram diversity (distinct-n) --------------------------------------------


def ngram_diversity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram diversity (distinct-n, the generation-diversity metric
    of Li et al. 2016): for n = 1..3, distinct n-grams / total n-grams over
    the corpus. Low values ⇒ templated/degenerate text. One narrow gram
    explode per n + exact-count ratio."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"[^0-9a-z]+")
    out = None
    for n in (1, 2, 3):
        if n == 1:
            grams = F.filter(toks, lambda t: t != "")
        else:
            grams = F.filter(
                word_grams(toks, n), lambda g: ~g.rlike("(^ )|(  )|( $)|^$")
            )
        g = docs.select(F.explode(grams).alias("gram"))
        agg = g.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("gram").alias("n_distinct"),
        ).select(
            F.lit(n).alias("n"),
            "n_total",
            "n_distinct",
            (F.col("n_distinct").cast("double") / F.col("n_total")).alias(
                "distinct_ratio"
            ),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


NGRAM_DIVERSITY_ORACLE = r"""
WITH ws AS (
  SELECT list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
g1 AS (SELECT unnest(toks) AS gram FROM ws),
g2 AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM ws WHERE len(toks) >= 2
),
g3 AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 2),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
  FROM ws WHERE len(toks) >= 3
)
SELECT 1 AS n, COUNT(*) AS n_total, COUNT(DISTINCT gram) AS n_distinct,
       CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*) AS distinct_ratio FROM g1
UNION ALL
SELECT 2, COUNT(*), COUNT(DISTINCT gram),
       CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*) FROM g2
UNION ALL
SELECT 3, COUNT(*), COUNT(DISTINCT gram),
       CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*) FROM g3
"""


# --- KS drift test ------------------------------------------------------------


def ks_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the length
    distributions of the two content-hash corpus halves — the
    distribution-drift alarm that pairs with `unigram_kl_documents` (KL
    sees vocabulary shift; KS sees shape shift). D = max |CDF_A − CDF_B|
    over observed values, computed from exact integer cumulative counts —
    engine-identical with no approximation."""
    from pyspark.sql.window import Window as W

    from graphrag_toolkit_spark.operators.sampling import hash_value

    docs = load(spark, sf_dir, "documents").select(
        (hash_value(F.col("doc_id")) % 2).alias("half"),
        F.col("n_chars").alias("x"),
    )
    per_val = docs.groupBy("x").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
    )
    # both CDFs ride ONE two-phase distributed running sum (ranks.py): the
    # distinct-length table grows with the corpus (continuous-ish lengths at
    # web scale), so a single-partition cumulative window is a ceiling here
    from graphrag_toolkit_spark.operators import ranks

    cum = ranks.two_phase_running_sums(
        ranks.with_range_bucket(per_val, F.col("x")),
        [F.asc("x")],
        {"cum_a": F.col("ca"), "cum_b": F.col("cb")},
    ).select("x", "cum_a", "cum_b")
    tot = docs.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("nb"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(
            F.col("cum_a").cast("double") / F.col("na")
            - F.col("cum_b").cast("double") / F.col("nb")
        ).alias("diff"),
        "na",
        "nb",
    )
    return d.groupBy("na", "nb").agg(F.max("diff").alias("ks_d")).select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "ks_d"
    )


KS_DRIFT_ORACLE = """
WITH h AS (
  SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           % 2 AS half,
         n_chars AS x
  FROM documents
),
per_val AS (
  SELECT x,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM h GROUP BY x
),
cum AS (
  SELECT x,
         SUM(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_a,
         SUM(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_b
  FROM per_val
),
tot AS (
  SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM h
)
SELECT t.na AS n_a, t.nb AS n_b,
       MAX(ABS(CAST(c.cum_a AS DOUBLE) / t.na
               - CAST(c.cum_b AS DOUBLE) / t.nb)) AS ks_d
FROM cum c, tot t
GROUP BY t.na, t.nb
"""




# --- PMI collocations ---------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP = 20


def pmi_collocations_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top word collocations by pointwise mutual information over adjacent
    token pairs: PMI = ln(c_ab·N / (left_a·right_b)) with probabilities
    from the bigram table itself (marginals = bigram starts/ends — one
    self-consistent sample space, no unigram/bigram denominator mixing).
    The classic phrase-mining signal; ln is grid-quantized per the
    engine-exactness discipline, counts are exact integers."""
    bi = textstats._bigrams(load(spark, sf_dir, "documents"), "text").select(
        F.col("prev").alias("a"), F.col("w").alias("b")
    ).localCheckpoint(eager=False)
    counts = bi.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    left = bi.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    right = bi.groupBy("b").agg(F.count(F.lit(1)).alias("c_b"))
    n = bi.agg(F.count(F.lit(1)).alias("n_bi"))
    # left/right are UNIGRAM-count tables over the corpus vocabulary —
    # Heaps'-law growth, plausibly past Spark's 8 GB broadcast cap at
    # 100 TB of web text. No hint: AQE broadcasts them while they are
    # small and falls back to a shuffle join when they are not. The
    # one-row total `n` stays hinted (scalar aggregate, bounded).
    return (
        counts.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(left, "a")
        .join(right, "b")
        .crossJoin(F.broadcast(n))
        .select(
            "a", "b", "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n_bi")).cast("double")
                    / (F.col("c_a") * F.col("c_b")).cast("double")
                ),
                6,
            ).cast("decimal(12,6)").cast("double").alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(PMI_TOP)
    )


PMI_ORACLE = f"""
WITH ws AS (
  SELECT list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
bi AS (
  SELECT toks[i] AS a, toks[i + 1] AS b
  FROM ws, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
),
counts AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY a, b),
lefts AS (SELECT a, COUNT(*) AS c_a FROM bi GROUP BY a),
rights AS (SELECT b, COUNT(*) AS c_b FROM bi GROUP BY b),
n AS (SELECT COUNT(*) AS n_bi FROM bi)
SELECT c.a, c.b, c.c_ab,
       CAST(CAST(ROUND(ln(CAST(c.c_ab * n.n_bi AS DOUBLE)
                          / CAST(l.c_a * r.c_b AS DOUBLE)), 6)
                 AS DECIMAL(12,6)) AS DOUBLE) AS pmi
FROM counts c
JOIN lefts l ON l.a = c.a
JOIN rights r ON r.b = c.b, n
WHERE c.c_ab >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, c.a ASC, c.b ASC
LIMIT {PMI_TOP}
"""


# --- BPE-style pair statistics ------------------------------------------------

BPE_TOP = 20


def bpe_pair_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training round-1 statistics: the most frequent adjacent
    character pairs inside words (with multiplicity) — exactly the counts
    the first BPE merge maximizes (Sennrich et al. 2016). Narrow double
    explode (words → char pairs), exact counts, total order on ties."""
    docs = load(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.col("text")), r"[^0-9a-z]+"), lambda t: t != ""
    )
    w = docs.select(F.explode(words).alias("w")).filter(F.length("w") >= 2)
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(BPE_TOP)
    )


BPE_PAIR_ORACLE = f"""
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                            x -> x <> '')) AS w
  FROM documents
),
pairs AS (
  SELECT substring(w, i, 2) AS pair
  FROM w, unnest(generate_series(1, length(w) - 1)) AS t(i)
  WHERE length(w) >= 2
)
SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT {BPE_TOP}
"""




# --- BPE merge training (iterative) ------------------------------------------

BPE_ROUNDS = 3


def bpe_train_merges_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training (`packing.bpe_train_merges`, Sennrich
    et al. 2016) — 3 rounds beyond `bpe_pair_stats`'s round-1 counts: per
    round, count adjacent symbol pairs corpus-wide, merge the argmax
    (count desc, pair asc), rewrite, recount. The learned merge table is
    the tokenizer artifact. Hash-gated against an unrolled-CTE twin that
    replays every round in SQL (the `train_centroids_lloyd` discipline for
    iterative algorithms)."""
    docs = load(spark, sf_dir, "documents")
    return packing.bpe_train_merges(docs, "text", rounds=BPE_ROUNDS)


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round: pair counts over c{r-1}, argmax into b{r},
    greedy left-to-right merge into c{r} (literal replace — identical
    non-overlapping semantics in both engines)."""
    return f"""
p{r} AS (
  SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1])) AS pair
  FROM (SELECT string_split(trim(w, '|'), '||') AS toks FROM c{r - 1})
  WHERE len(toks) >= 2
),
b{r} AS (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
  FROM p{r} GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 1
),
c{r} AS (
  SELECT replace(w,
                 '|' || split_part(pair, ' ', 1) || '||'
                     || split_part(pair, ' ', 2) || '|',
                 '|' || replace(pair, ' ', '') || '|') AS w
  FROM c{r - 1}, b{r}
)"""


BPE_TRAIN_ORACLE = (
    """
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                            x -> x <> '')) AS wd
  FROM documents
),
c0 AS (
  SELECT '|' || array_to_string(
           list_transform(generate_series(1, length(wd)),
                          i -> substring(wd, i, 1)), '||') || '|' AS w
  FROM words
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, BPE_ROUNDS + 1))
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_round, split_part(pair, ' ', 1) AS sym_a,"
        f" split_part(pair, ' ', 2) AS sym_b, n FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
)



BPE_VOCAB_TOP = 20


def bpe_vocab_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symbol vocabulary after applying the 3 learned BPE merges
    (`packing.bpe_vocab`): train → rewrite → count, the other half of the
    tokenizer artifact. Top-20 symbols, total order on ties."""
    docs = load(spark, sf_dir, "documents")
    return packing.bpe_vocab(docs, "text", rounds=BPE_ROUNDS, top_n=BPE_VOCAB_TOP)


BPE_VOCAB_ORACLE = (
    """
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                            x -> x <> '')) AS wd
  FROM documents
),
c0 AS (
  SELECT '|' || array_to_string(
           list_transform(generate_series(1, length(wd)),
                          i -> substring(wd, i, 1)), '||') || '|' AS w
  FROM words
),"""
    + ",".join(_bpe_round_sql(r) for r in range(1, BPE_ROUNDS + 1))
    + f"""
SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT unnest(string_split(trim(w, '|'), '||')) AS symbol FROM c{BPE_ROUNDS}
) WHERE symbol <> ''
GROUP BY symbol
ORDER BY n DESC, symbol ASC
LIMIT {BPE_VOCAB_TOP}
"""
)

# --- split-leakage audit --------------------------------------------------------

LEAK_N = 4


def split_leakage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split-leakage audit: every TEST document whose word
    4-grams also appear in the TRAIN split — the eval-integrity check a
    pipeline runs after splitting (content-hash splits prevent id-level
    leakage; this catches TEXT-level leakage through near-copies). Uses
    `decontam.contamination(broadcast_eval=False)`: corpus-vs-corpus, so
    the train side shuffle-joins on the gram hash instead of broadcasting."""
    from graphrag_toolkit_spark.operators.decontam import contamination
    from graphrag_toolkit_spark.operators.sampling import train_val_test_split

    docs = load(spark, sf_dir, "documents")
    split = train_val_test_split(docs, "doc_id")
    test = split.filter(F.col("split") == "test").select("doc_id", "text")
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    return contamination(
        test, train, "text", "doc_id", n=LEAK_N, broadcast_eval=False
    ).withColumnRenamed("id", "doc_id")


SPLIT_LEAKAGE_ORACLE = rf"""
WITH split AS (
  SELECT doc_id, text,
         CASE WHEN b < 1000 THEN 'test'
              WHEN b < 2000 THEN 'val' ELSE 'train' END AS split
  FROM (
    SELECT doc_id, text,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
             % 10000 AS b
    FROM documents
  )
),
grams AS (
  SELECT split, doc_id,
         md5(g) AS gram
  FROM (
    SELECT split, doc_id,
           unnest(list_transform(
             generate_series(1, len(ws) - {LEAK_N - 1}),
             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
           )) AS g
    FROM (
      SELECT split, doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
               AS ws
      FROM split
    ) WHERE len(ws) >= {LEAK_N}
  )
),
test_grams AS (
  SELECT DISTINCT doc_id, gram FROM grams WHERE split = 'test'
),
train_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'train')
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN t.gram IN (SELECT gram FROM train_grams)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       CAST(SUM(CASE WHEN t.gram IN (SELECT gram FROM train_grams)
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS contamination
FROM test_grams t
GROUP BY doc_id
HAVING n_hit > 0
"""




# --- canonical-text dedup -------------------------------------------------------


def dedup_canonical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-exact dedup: group documents by md5 of CANONICALIZED text
    (lowercase, punctuation stripped, whitespace collapsed) — the cheap
    rung between byte-exact and MinHash dedup that catches case/spacing/
    punctuation variants with a plain hash groupBy. Reports both raw and
    canonical group counts per canonical group."""
    docs = load(spark, sf_dir, "documents")
    canon = F.regexp_replace(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^0-9a-z]+", " ")),
        r" +", " ",
    )
    return (
        docs.select(F.md5(canon).alias("canon_hash"), F.md5("text").alias("raw_hash"),
                    F.col("doc_id"))
        .groupBy("canon_hash")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
            F.min("doc_id").alias("keep_id"),
        )
    )


DEDUP_CANONICAL_ORACLE = r"""
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^0-9a-z]+', ' ', 'g'),
                               ' +', ' ', 'g'))) AS canon_hash,
       COUNT(*) AS n_members,
       COUNT(DISTINCT md5(text)) AS n_raw_variants,
       MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


# --- mixed-language detection ----------------------------------------------------


def mixed_language_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching / mixed-language detection: per doc, the top TWO
    lexicon languages by hit count and the second/first hit ratio — a doc
    is 'mixed' when its runner-up language reaches half the leader. The
    per-doc audit behind language-purity filters (single-label language_id
    hides exactly this failure mode)."""
    docs = load(spark, sf_dir, "documents")
    lex = lit_table(
        spark, "lang string, token string",
        [
            {"lang": lang, "token": w}
            for lang, ws in textstats.LANG_LEXICON.items()
            for w in ws
        ],
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    hits = (
        toks.join(F.broadcast(lex), "token")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    ranked = hits.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 2
    )
    top = ranked.groupBy("doc_id").agg(
        F.max(F.when(F.col("rnk") == 1, F.col("lang"))).alias("lang1"),
        F.max(F.when(F.col("rnk") == 1, F.col("hits"))).alias("hits1"),
        F.max(F.when(F.col("rnk") == 2, F.col("lang"))).alias("lang2"),
        F.max(F.when(F.col("rnk") == 2, F.col("hits"))).alias("hits2"),
    )
    return top.select(
        "doc_id", "lang1", "hits1",
        F.coalesce(F.col("lang2"), F.lit("")).alias("lang2"),
        F.coalesce(F.col("hits2"), F.lit(0)).alias("hits2"),
        (F.coalesce(F.col("hits2"), F.lit(0)).cast("double")
         / F.col("hits1")).alias("mix_ratio"),
        (
            F.coalesce(F.col("hits2"), F.lit(0)).cast("double")
            >= 0.5 * F.col("hits1")
        ).alias("is_mixed"),
    )


_LEX_VALUES = ", ".join(
    f"('{lang}', '{w}')"
    for lang, ws in sorted(textstats.LANG_LEXICON.items())
    for w in ws
)

MIXED_LANG_ORACLE = rf"""
WITH lex (lang, token) AS (VALUES {_LEX_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents
),
hits AS (
  SELECT t.doc_id, l.lang, COUNT(*) AS hits
  FROM toks t JOIN lex l ON l.token = t.token
  WHERE t.token <> ''
  GROUP BY t.doc_id, l.lang
),
ranked AS (
  SELECT doc_id, lang, hits,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rnk
  FROM hits
),
top AS (
  SELECT doc_id,
         MAX(CASE WHEN rnk = 1 THEN lang END) AS lang1,
         MAX(CASE WHEN rnk = 1 THEN hits END) AS hits1,
         MAX(CASE WHEN rnk = 2 THEN lang END) AS lang2,
         MAX(CASE WHEN rnk = 2 THEN hits END) AS hits2
  FROM ranked WHERE rnk <= 2 GROUP BY doc_id
)
SELECT doc_id, lang1, hits1,
       COALESCE(lang2, '') AS lang2,
       CAST(COALESCE(hits2, 0) AS BIGINT) AS hits2,
       CAST(COALESCE(hits2, 0) AS DOUBLE) / hits1 AS mix_ratio,
       CAST(COALESCE(hits2, 0) AS DOUBLE) >= 0.5 * hits1 AS is_mixed
FROM top
"""




# --- chi-square independence test ------------------------------------------------


def chi_square_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between the corpus's lang and
    source columns — the categorical-drift / bias check (are sources
    language-balanced?). O is an exact integer contingency table; each
    E = row_total·col_total/n is an exact-operand double; per-cell terms
    are grid-rounded and decimal-summed so the statistic is
    engine-identical. Returns (n, n_cells, dof, chi2)."""
    docs = load(spark, sf_dir, "documents")
    obs = (
        docs.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("o"))
        .localCheckpoint(eager=False)
    )
    rows = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = obs.agg(
        F.sum("o").alias("n"),
        F.count(F.lit(1)).alias("n_cells"),
        F.countDistinct("lang").alias("n_rows"),
        F.countDistinct("source").alias("n_cols"),
    )
    e = (
        obs.join(F.broadcast(rows), "lang")
        # no hint: source ids are an open domain, so AQE decides
        .join(cols, "source")
        .crossJoin(F.broadcast(tot))
    )
    expected = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    term = F.round(
        (F.col("o").cast("double") - expected)
        * (F.col("o").cast("double") - expected)
        / expected,
        9,
    ).cast("decimal(18,9)")
    out = e.groupBy("n", "n_cells", "n_rows", "n_cols").agg(
        F.sum(term).cast("double").alias("chi2")
    )
    return out.select(
        "n", "n_cells",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
        "chi2",
    )


CHI_SQUARE_ORACLE = """
WITH obs AS (
  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
),
rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY lang),
ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY source),
tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n, COUNT(*) AS n_cells,
         COUNT(DISTINCT lang) AS n_rows, COUNT(DISTINCT source) AS n_cols
  FROM obs
),
terms AS (
  SELECT t.n, t.n_cells, t.n_rows, t.n_cols,
         CAST(ROUND(
           (CAST(o.o AS DOUBLE) - CAST(r.rt * c.ct AS DOUBLE) / t.n)
           * (CAST(o.o AS DOUBLE) - CAST(r.rt * c.ct AS DOUBLE) / t.n)
           / (CAST(r.rt * c.ct AS DOUBLE) / t.n), 9) AS DECIMAL(18,9)) AS term
  FROM obs o
  JOIN rt r ON r.lang = o.lang
  JOIN ct c ON c.source = o.source, tot t
)
SELECT n, n_cells, (n_rows - 1) * (n_cols - 1) AS dof,
       CAST(SUM(term) AS DOUBLE) AS chi2
FROM terms GROUP BY n, n_cells, n_rows, n_cols
"""




# --- source concentration (Gini) --------------------------------------------------


def source_concentration_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration: the Gini coefficient of the docs-per-source
    distribution (0 = perfectly balanced sources, →1 = one source
    dominates) — the diversity alarm for crawl pipelines. Computed from
    the exact rank-weighted integer identity
    G = (2·Σ i·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ) over counts sorted ascending,
    one double division at the end. The rank is two-phase distributed
    (ranks.py): sources are crawl DOMAINS — millions at web scale, so the
    per-source table is not a small frame."""
    from graphrag_toolkit_spark.operators import ranks

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    ranked = ranks.two_phase_row_number(
        ranks.with_range_bucket(counts, F.col("c")),
        [F.asc("c"), F.asc("source")],
        out_col="i",
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("c").alias("n_docs"),
        (
            (2 * F.sum(F.col("i") * F.col("c"))
             - (F.count(F.lit(1)) + 1) * F.sum("c")).cast("double")
            / (F.count(F.lit(1)) * F.sum("c")).cast("double")
        ).alias("gini"),
    )


SOURCE_CONCENTRATION_ORACLE = """
WITH counts AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, source ASC) AS i FROM counts
)
SELECT COUNT(*) AS n_sources, CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(2 * SUM(i * c) - (COUNT(*) + 1) * SUM(c) AS DOUBLE)
         / CAST(COUNT(*) * SUM(c) AS DOUBLE) AS gini
FROM ranked
"""




# --- near-dup rate by source --------------------------------------------------------


def dup_rate_by_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-injection audit: per source, the fraction of its documents
    that participate in ANY MinHash near-dup pair — the triage table that
    tells a crawl operator WHICH feed is polluting the corpus (pair lists
    alone don't localize blame)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", k=SHINGLE_K,
        num_hashes=NUM_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    flagged = docs.join(
        dup_ids.withColumn("_dup", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("_dup").alias("n_dup_docs"),
        (F.count("_dup").cast("double") / F.count(F.lit(1))).alias("dup_rate"),
    )


DUP_RATE_BY_SOURCE_ORACLE = f"""
WITH {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL}, {_CAND_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
verified AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
),
dup_ids AS (
  SELECT DISTINCT doc_id FROM (
    SELECT id_a AS doc_id FROM verified UNION ALL SELECT id_b FROM verified
  )
)
SELECT d.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(SUM(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_rate
FROM documents d LEFT JOIN dup_ids dd ON dd.doc_id = d.doc_id
GROUP BY d.source
"""




# --- entity resolution (ED-1 clusters -> canonical names) ---------------------------


def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end: Levenshtein-1 name pairs (deletion-
    neighborhood blocking) → transitive closure over the pair graph only →
    canonical representative per cluster (lexicographic min) — the
    merge-duplicates decision table an MDM pipeline writes. Composition of
    `editdist.edit_distance_pairs` + `dedup.connected_components`; only
    names that matched something appear (singletons need no resolution).
    The declared query runs on a deterministic 1-in-10 content-hash pool —
    the dense digit-neighborhood fixture makes full-corpus closure
    quadratic-ish in the ORACLE's recursive CTE (the Spark side's label
    propagation is per-round linear either way), so the pool keeps the
    hash gate cheap at every SF (same bounded-pool discipline as
    `embedding_neardup_pairs`)."""
    from graphrag_toolkit_spark.operators.editdist import edit_distance_pairs
    from graphrag_toolkit_spark.operators.sampling import hash_value

    names = load(spark, sf_dir, "customer").filter(
        hash_value(F.col("c_custkey")) % 10 == 0
    ).select(F.lower(F.col("c_name")).alias("name"))
    pairs = edit_distance_pairs(
        names, "name", min_len=TYPO_MIN_LEN, max_len=TYPO_MAX_LEN
    )
    cc = dedup.connected_components(pairs, id_a="word_a", id_b="word_b")
    return cc.select(
        F.col("id").alias("name"),
        F.col("component").alias("canonical"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


# NOTE: plain string — TYPO_MIN_LEN/TYPO_MAX_LEN (4/32) are defined later in
# this module, so the oracle pins the same literals directly.
ENTITY_RESOLUTION_ORACLE = """
WITH RECURSIVE vocab AS (
  SELECT DISTINCT lower(c_name) AS token FROM customer
  WHERE CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 7) AS BIGINT)
          % 10 = 0
    AND len(c_name) BETWEEN 4 AND 32
),
pairs AS (
  SELECT a.token AS id_a, b.token AS id_b
  FROM vocab a JOIN vocab b
    ON a.token < b.token
   AND abs(len(a.token) - len(b.token)) <= 1
   AND levenshtein(a.token, b.token) = 1
),
und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.id, e.dst FROM reach u JOIN und e ON e.src = u.r
)
SELECT id AS name, MIN(r) AS canonical, MIN(r) = id AS is_canonical
FROM reach GROUP BY id
"""


# --- exact dedup -------------------------------------------------------------

def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs, "text", "doc_id")


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""


# --- MinHash signatures ------------------------------------------------------

def minhash_signatures_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, "text", "doc_id", k=SHINGLE_K)
    sig = dedup.minhash_signatures(sh, NUM_HASHES)
    return sig.select(
        F.col("id").alias("doc_id"),
        F.concat_ws("|", *[F.col(f"mh{h}") for h in range(NUM_HASHES)]).alias("signature"),
    )


MINHASH_SIG_ORACLE = f"""
WITH {_SHINGLES_SQL}, {_SIG_SQL}
SELECT doc_id, {" || '|' || ".join(f"mh{h}" for h in range(NUM_HASHES))} AS signature
FROM sig
"""


# --- MinHash-LSH near-dup pairs (banded candidates + exact Jaccard) ----------

def minhash_neardup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", k=SHINGLE_K,
        num_hashes=NUM_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    return pairs.withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


MINHASH_PAIRS_ORACLE = f"""
WITH {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL}, {_CAND_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a AS doc_a, i.id_b AS doc_b,
       i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
"""


def minhash_jaccard_error_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy, measured on the real corpus: for every
    banded-LSH candidate pair, the signature estimate (matching minhash
    rows / num_hashes) next to the exact shingle Jaccard and their
    absolute error — the calibration table that justifies (or indicts)
    the signature width before a corpus-scale dedup run trusts it.
    Candidates come from the same banded join as `minhash_neardup`;
    zero-intersection candidates (band collisions without shared
    shingles) stay in the table with exact = 0, since those are precisely
    the estimator's false positives. Every number is an exact integer or
    a single exact-operand division."""
    docs = load(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, "text", "doc_id", k=SHINGLE_K).localCheckpoint(
        eager=False
    )
    # sig feeds THREE branches (the banded candidate join + the a/b
    # estimate sides) — materialize the signature aggregate once
    # (guide §3.3). Lazy: cand's eager checkpoint below is the first
    # consumer and computes every sig partition, so sig materializes
    # inside cand's job — one job instead of two, identical blocks.
    sig = dedup.minhash_signatures(sh, NUM_HASHES).localCheckpoint(
        eager=False
    )
    cand = dedup.lsh_bucket_pairs(sig, NUM_HASHES, BANDS).localCheckpoint(
        eager=True
    )
    a = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh{h}").alias(f"a{h}") for h in range(NUM_HASHES)],
    )
    b = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh{h}").alias(f"b{h}") for h in range(NUM_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a{h}") == F.col(f"b{h}"), 1).otherwise(0)
        for h in range(NUM_HASHES)
    )
    est = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            (n_match.cast("double") / F.lit(float(NUM_HASHES))).alias(
                "est_jaccard"
            ),
        )
    )
    exact = dedup.jaccard_on_pairs(sh, cand)
    return (
        est.join(exact, ["id_a", "id_b"], "left")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "est_jaccard",
            F.coalesce("jaccard", F.lit(0.0)).alias("exact_jaccard"),
            F.abs(
                F.col("est_jaccard") - F.coalesce("jaccard", F.lit(0.0))
            ).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


_MH_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.mh{h} = b.mh{h} THEN 1 ELSE 0 END)" for h in range(NUM_HASHES)
)

MINHASH_JACCARD_ERROR_ORACLE = f"""
WITH {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL}, {_CAND_SQL},
est AS (
  SELECT c.id_a, c.id_b,
         CAST({_MH_MATCH_SQL} AS DOUBLE) / {NUM_HASHES} AS est_jaccard
  FROM cand c
  JOIN sig a ON a.doc_id = c.id_a
  JOIN sig b ON b.doc_id = c.id_b
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
ex AS (
  SELECT e.id_a, e.id_b, e.est_jaccard,
         COALESCE(i.n_inter / (sa.n + sb.n - i.n_inter), 0.0) AS exact_jaccard
  FROM est e
  JOIN sizes sa ON sa.doc_id = e.id_a
  JOIN sizes sb ON sb.doc_id = e.id_b
  LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
)
SELECT id_a AS doc_a, id_b AS doc_b, est_jaccard, exact_jaccard,
       ABS(est_jaccard - exact_jaccard) AS abs_err
FROM ex
ORDER BY doc_a, doc_b
"""


# --- near-dup clusters (pairs → transitive closure → survivors) --------------

def neardup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → connected components → deterministic cluster
    representative (min doc_id) + survivor flag: the full corpus-dedup
    decision, not just the pair list."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", k=SHINGLE_K,
        num_hashes=NUM_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    cc = dedup.connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_survivor"),
    )


NEARDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL}, {_CAND_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
),
und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.id, e.dst FROM reach u JOIN und e ON e.src = u.r
)
SELECT id AS doc_id, MIN(r) AS cluster_id, MIN(r) = id AS is_survivor
FROM reach GROUP BY id
"""


def cluster_size_distribution_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup job's headline report: the near-dup CLUSTER-SIZE
    distribution — how many clusters of each size, how many docs they
    hold, and what fraction of the corpus dedup would remove at
    keep-one-per-cluster (size − 1 removals per cluster). Singletons
    (docs in no near-dup pair) appear as the size-1 row, so the doc
    column totals the corpus. Exact integers + one corpus-wide division.

    Scale shape: the pair graph + star CC the `neardup_clusters` query
    already pays, then two tiny aggregates (clusters ≪ corpus)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", k=SHINGLE_K,
        num_hashes=NUM_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    dist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("n_clusters"))
    n_total = docs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    n_clustered = cc.agg(F.count(F.lit(1)).cast("long").alias("n_clustered"))
    singletons = (
        n_total.crossJoin(F.broadcast(n_clustered))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n_total") - F.col("n_clustered")).alias("n_clusters"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    rows = dist.select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
    ).unionByName(singletons)
    return (
        rows.crossJoin(F.broadcast(n_total))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            (
                ((F.col("cluster_size") - 1) * F.col("n_clusters")).cast("double")
                / F.col("n_total").cast("double")
            ).alias("removal_frac"),
        )
        .orderBy("cluster_size")
    )


CLUSTER_SIZE_DIST_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL}, {_CAND_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
),
und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.id, e.dst FROM reach u JOIN und e ON e.src = u.r
),
cc AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
csz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM cc GROUP BY comp),
dist AS (
  SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
  FROM csz GROUP BY sz
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
clustered AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_clustered FROM cc),
rows_all AS (
  SELECT cluster_size, n_clusters FROM dist
  UNION ALL
  SELECT CAST(1 AS BIGINT), n_total - n_clustered
  FROM tot, clustered WHERE n_total - n_clustered > 0
)
SELECT r.cluster_size, r.n_clusters,
       CAST(r.cluster_size * r.n_clusters AS BIGINT) AS n_docs,
       CAST((r.cluster_size - 1) * r.n_clusters AS DOUBLE)
         / CAST(t.n_total AS DOUBLE) AS removal_frac
FROM rows_all r, tot t
ORDER BY r.cluster_size
"""


def soft_dedup_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: near-dup clusters down-weighted to 1/|cluster| instead of
    dropped (``dedup.soft_dedup_weights`` over the MinHash pair graph)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", k=SHINGLE_K,
        num_hashes=NUM_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    cc = dedup.connected_components(pairs)
    return dedup.soft_dedup_weights(cc, docs, "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


# same pair/component derivation as NEARDUP_CLUSTERS_ORACLE, then
# weight = 1/|cluster| (clean docs absent from the pair graph -> 1.0)
SOFT_DEDUP_WEIGHTS_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL}, {_CAND_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
),
und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.id, e.dst FROM reach u JOIN und e ON e.src = u.r
),
cc AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
csize AS (SELECT component, COUNT(*) AS n FROM cc GROUP BY component)
SELECT d.doc_id,
       COALESCE(1.0 / CAST(s.n AS DOUBLE), 1.0) AS weight
FROM documents d
LEFT JOIN cc ON cc.id = d.doc_id
LEFT JOIN csize s ON s.component = cc.component
"""


# --- deterministic sampling / splits -----------------------------------------

def split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash train/val/test split: stable under re-ingestion and
    engine-portable (same md5 arithmetic as the oracle)."""
    docs = load(spark, sf_dir, "documents")
    return sampling.train_val_test_split(
        docs, "doc_id", val_fraction=0.1, test_fraction=0.1
    ).select("doc_id", "split")


SPLIT_ORACLE = """
SELECT doc_id,
       CASE WHEN b < 1000 THEN 'test'
            WHEN b < 2000 THEN 'val'
            ELSE 'train' END AS split
FROM (
  SELECT doc_id,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           % 10000 AS b
  FROM documents
)
"""


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling: keep 20% of the dominant language,
    all of the rest — the class-rebalancing primitive."""
    docs = load(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.2}, default_fraction=1.0
    ).select("doc_id", "lang")


STRATIFIED_ORACLE = """
SELECT doc_id, lang
FROM (
  SELECT doc_id, lang,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           % 10000 AS b
  FROM documents
)
WHERE b < CASE WHEN lang = 'en' THEN 2000 ELSE 10000 END
"""


N_SHARDS = 16


def shard_corpus_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard/sequence assignment — the
    training-export ordering step (see ``sampling.shard_corpus``)."""
    docs = load(spark, sf_dir, "documents")
    return sampling.shard_corpus(docs, "doc_id", N_SHARDS).select(
        "doc_id", "shard", "seq"
    )


SHARD_CORPUS_ORACLE = f"""
SELECT doc_id, CAST(h % {N_SHARDS} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id) - 1
            AS INT) AS seq
FROM (
  SELECT doc_id,
         CAST('0x' || substring(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 7)
              AS BIGINT) AS h
  FROM documents
)
"""


MIX_WEIGHTS = {"de": 1, "en": 2, "es": 1, "fr": 1, "zh": 1}


def resample_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing: largest corpus with lang proportions
    2:1:1:1:1 (en-heavy), no upsampling — the pre-training 'data mixture'
    step (see ``sampling.resample_to_mix``)."""
    docs = load(spark, sf_dir, "documents")
    return sampling.resample_to_mix(docs, "doc_id", "lang", MIX_WEIGHTS).select(
        "doc_id", "lang"
    )


_MIX_VALUES = ", ".join(f"('{c}', {w})" for c, w in sorted(MIX_WEIGHTS.items()))
RESAMPLE_MIX_ORACLE = f"""
WITH w(cls, w) AS (VALUES {_MIX_VALUES}),
c AS (SELECT lang AS cls, COUNT(*) AS n FROM documents GROUP BY lang),
p AS (SELECT cls, n, w, n // w AS per FROM c JOIN w USING (cls)),
m AS (SELECT MIN(per) AS m FROM p),
thr AS (SELECT cls, (m.m * p.w * {sampling.HASH_DOMAIN}) // p.n AS thr FROM p, m)
SELECT d.doc_id, d.lang
FROM documents d
JOIN thr ON thr.cls = d.lang
WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 7) AS BIGINT)
      < thr.thr
"""


PACK_SEQ_LEN = 512
PACK_BUCKETS = 8


def pack_sequences_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: every doc's (bucket, sequence, offset)
    position in the sharded packed token stream (see
    ``packing.pack_sequences``)."""
    docs = load(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(textstats.WORD_RE)).alias("n_tok"),
    )
    return packing.pack_sequences(
        with_tokens, "doc_id", "n_tok", seq_len=PACK_SEQ_LEN, n_buckets=PACK_BUCKETS
    ).withColumnRenamed("id", "doc_id")


PACK_SEQUENCES_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{textstats.WORD_RE}')) AS n_tok,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
  FROM documents
),
b AS (
  SELECT doc_id, n_tok, h, CAST(h % {PACK_BUCKETS} AS INTEGER) AS bucket FROM t
),
c AS (
  SELECT doc_id, bucket, n_tok,
         SUM(n_tok) OVER (PARTITION BY bucket ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM b
)
SELECT doc_id, bucket,
       CAST((cum - n_tok) // {PACK_SEQ_LEN} AS BIGINT) AS seq_in_bucket,
       CAST((cum - n_tok) % {PACK_SEQ_LEN} AS INTEGER) AS offset
FROM c
"""


def packing_efficiency_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality audit over `packing.pack_sequences`' layout: per
    bucket — docs, tokens, sequences used (ceil(tokens/seq_len)), pad
    waste in the final sequence, the fraction of docs split across a
    sequence boundary (the attention-fragmentation cost of contiguous
    packing), and fill efficiency. The dashboard a training-export job
    checks before shipping shards. Exact integers + two exact-operand
    divisions; one aggregate over the packing projection."""
    docs = load(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(textstats.WORD_RE)).alias("n_tok"),
    )
    packed = packing.pack_sequences(
        with_tokens, "doc_id", "n_tok", seq_len=PACK_SEQ_LEN, n_buckets=PACK_BUCKETS
    ).withColumnRenamed("id", "doc_id")
    j = packed.join(with_tokens, "doc_id")
    split_doc = F.when(F.col("offset") + F.col("n_tok") > PACK_SEQ_LEN, 1).otherwise(0)
    n_seqs = F.expr(f"(sum(n_tok) + {PACK_SEQ_LEN - 1}) div {PACK_SEQ_LEN}")
    return (
        j.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            n_seqs.cast("long").alias("n_seqs"),
            (n_seqs * PACK_SEQ_LEN - F.sum("n_tok")).cast("long").alias("pad_waste"),
            F.sum(split_doc).cast("long").alias("n_split_docs"),
            (F.sum(split_doc).cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("split_frac"),
            (
                F.sum("n_tok").cast("double")
                / (n_seqs * PACK_SEQ_LEN).cast("double")
            ).alias("efficiency"),
        )
        .orderBy("bucket")
    )


PACKING_EFFICIENCY_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{textstats.WORD_RE}')) AS n_tok,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
  FROM documents
),
b AS (
  SELECT doc_id, n_tok, h, CAST(h % {PACK_BUCKETS} AS INTEGER) AS bucket FROM t
),
c AS (
  SELECT doc_id, bucket, n_tok,
         SUM(n_tok) OVER (PARTITION BY bucket ORDER BY h, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM b
),
d AS (
  SELECT bucket, n_tok,
         CASE WHEN (cum - n_tok) % {PACK_SEQ_LEN} + n_tok > {PACK_SEQ_LEN}
              THEN 1 ELSE 0 END AS split_doc
  FROM c
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
       CAST((SUM(n_tok) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN} AS BIGINT)
         AS n_seqs,
       CAST((SUM(n_tok) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN}
            * {PACK_SEQ_LEN} - SUM(n_tok) AS BIGINT) AS pad_waste,
       CAST(SUM(split_doc) AS BIGINT) AS n_split_docs,
       CAST(SUM(split_doc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS split_frac,
       CAST(SUM(n_tok) AS DOUBLE)
         / CAST((SUM(n_tok) + {PACK_SEQ_LEN - 1}) // {PACK_SEQ_LEN}
                * {PACK_SEQ_LEN} AS DOUBLE) AS efficiency
FROM d
GROUP BY bucket
ORDER BY bucket
"""


def dedup_keep_best_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivors: MinHash near-dup clusters, keep the
    highest-quality member per cluster — the composition a real corpus
    pipeline runs (near-dup → transitive closure → best-text survivor)."""
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dup_pairs(
        docs, "text", "doc_id", k=SHINGLE_K,
        num_hashes=NUM_HASHES, bands=BANDS, threshold=JACCARD_THRESHOLD,
    )
    cc = dedup.connected_components(pairs)
    scores = (
        textstats.quality_score(docs, "text", "doc_id")
        .select("id", "quality")
    )
    return dedup.cluster_representatives(cc, scores).withColumnRenamed(
        "id", "doc_id"
    )


DEDUP_KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_SQL}, {_SIG_SQL}, {_BANDED_SQL}, {_CAND_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.id_a
  JOIN sizes sb ON sb.doc_id = i.id_b
  WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {JACCARD_THRESHOLD}
),
und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.id, e.dst FROM reach u JOIN und e ON e.src = u.r
),
cc AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
q AS (
  SELECT doc_id,
         least(CAST(len(regexp_extract_all(text, '{textstats.WORD_RE}')) AS DOUBLE) / 100.0, 1.0) * 0.4
           + (1.0 - least(CAST(len(regexp_extract_all(text, '[^\\s0-9a-zA-Z]')) AS DOUBLE) / length(text) * 5.0, 1.0)) * 0.3
           + least(CAST(len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS DOUBLE)
               / greatest(len(regexp_extract_all(text, '{textstats.WORD_RE}')), 1) * 5.0, 1.0) * 0.3 AS quality
  FROM documents
)
SELECT cluster_id, doc_id, quality FROM (
  SELECT cc.cluster_id, cc.doc_id, q.quality,
         ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                            ORDER BY q.quality DESC, cc.doc_id) AS rn
  FROM cc JOIN q USING (doc_id)
) WHERE rn = 1
"""


# --- n-gram Jaccard (inverted-index exact leg) -------------------------------

NGRAM_K = 3
NGRAM_THRESHOLD = 0.4
NGRAM_MAX_DF = 50


def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id",
        k=NGRAM_K, threshold=NGRAM_THRESHOLD, max_doc_freq=NGRAM_MAX_DF,
    )
    return pairs.withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})


NGRAM_JACCARD_ORACLE = rf"""
WITH sh3 AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - {NGRAM_K - 1}),
                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents)
  ) WHERE shingle <> ''
),
rare AS (
  SELECT shingle FROM sh3 GROUP BY shingle HAVING COUNT(*) <= {NGRAM_MAX_DF}
),
shr AS (SELECT s.doc_id, s.shingle FROM sh3 s JOIN rare r ON s.shingle = r.shingle),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shr a ON a.doc_id = c.id_a
  JOIN shr b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a AS doc_a, i.id_b AS doc_b,
       i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {NGRAM_THRESHOLD}
"""


# decimal-prequantized embedding element (shared by every cosine oracle twin)
_EMB_Q = "CAST(ROUND(CAST({x} AS DOUBLE), 6) AS DECIMAL(12,6))"

# --- hard-negative mining ----------------------------------------------------

HARDNEG_K = 5


def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (`features.hard_negative_mining`):
    for the first 5 vectors as anchors, the 5 most cosine-similar
    DIFFERENT-label embeddings — near-boundary negatives for triplet /
    contrastive training, the difficulty-aware complement to the hash-ring
    `negative_samples`. Prequantized-decimal cosine, hash-exact."""
    from graphrag_toolkit_spark.operators.features import hard_negative_mining

    emb = load(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5)
    return hard_negative_mining(
        emb, anchors, "embedding", "vec_id", "label", k=HARDNEG_K
    )


HARD_NEGATIVES_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS anchor_id, embedding AS aemb, label AS albl
  FROM embeddings WHERE vec_id < 5
),
terms AS (
  SELECT q.anchor_id, e.vec_id, e.label,
         {_EMB_Q.format(x='e.embedding[i]')} AS xe,
         {_EMB_Q.format(x='q.aemb[i]')} AS xq
  FROM embeddings e, q, generate_series(1, 64) AS t(i)
  WHERE e.label <> q.albl
),
scores AS (
  SELECT anchor_id, vec_id, label,
         CAST(SUM(xe * xq) AS DOUBLE)
           / (sqrt(CAST(SUM(xe * xe) AS DOUBLE)) * sqrt(CAST(SUM(xq * xq) AS DOUBLE)))
           AS score
  FROM terms GROUP BY anchor_id, vec_id, label
)
SELECT anchor_id, vec_id AS neg_id, label AS neg_label, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY anchor_id ORDER BY score DESC, vec_id
  ) AS rank
  FROM scores
) WHERE rank <= {HARDNEG_K}
"""



JL_IN_DIM = 64
JL_OUT_DIM = 16


def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 projection 64→16 dims
    (`functions.vector.jl_project`, Achlioptas 2003) — the ANN front-end
    that makes high-dim model embeddings bucketable at scale. Long-format
    output (vec_id, j, value); exact decimal sums / power-of-two √16
    divisor, hash-exact."""
    from graphrag_toolkit_spark.functions.vector import jl_project

    emb = load(spark, sf_dir, "embeddings")
    proj = jl_project(F.col("embedding"), JL_IN_DIM, JL_OUT_DIM)
    return emb.select(
        "vec_id", F.posexplode(proj).alias("j", "value")
    ).withColumn("j", F.col("j").cast("int"))


def _jl_oracle() -> str:
    from graphrag_toolkit_spark.functions.vector import jl_sign_matrix

    signs = jl_sign_matrix(JL_IN_DIM, JL_OUT_DIM)
    rows = ",".join(
        f"({j},{i},{s})"
        for j, row in enumerate(signs)
        for i, s in enumerate(row)
    )
    q = _EMB_Q.format(x="e.embedding[sg.i + 1]")
    return f"""
WITH sg(j, i, sgn) AS (SELECT * FROM (VALUES {rows})),
terms AS (
  SELECT e.vec_id, sg.j,
         CAST(CAST(sg.sgn AS DECIMAL(2,0)) * {q} AS DECIMAL(14,6)) AS t
  FROM embeddings e JOIN sg ON TRUE
)
SELECT vec_id, CAST(j AS INTEGER) AS j,
       CAST(SUM(t) AS DOUBLE) / 4.0 AS value
FROM terms GROUP BY vec_id, j
"""


JL_PROJECT_ORACLE = _jl_oracle()


def ipf_rake_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPF raking (`sampling.ipf_rake`, Deming-Stephan): per-(lang, source)
    cell weights whose weighted marginals approach uniform on BOTH axes
    after 2 iterations — the two-way mixture balancing resample_to_mix
    can't express. Scaled-integer floor arithmetic (the pagerank
    discipline), hash-exact vs the unrolled 4-pass CTE twin."""
    docs = load(spark, sf_dir, "documents")
    return sampling.ipf_rake(docs, "lang", "source", iterations=2)


def _ipf_oracle() -> str:
    g = 1_000_000
    passes = []
    prev = "w0"
    for i, (axis, naxis) in enumerate(
        [("r", "nr"), ("c", "nc"), ("r", "nr"), ("c", "nc")], start=1
    ):
        passes.append(f"""
s{i} AS (SELECT {axis}, CAST(SUM(n * w6) AS BIGINT) AS m FROM {prev} GROUP BY {axis}),
w{i} AS (
  SELECT {prev}.r, {prev}.c, {prev}.n,
         CAST(({prev}.w6 * ((tot.nn * {g}) // tot.{naxis})) // s{i}.m AS BIGINT) AS w6
  FROM {prev} JOIN s{i} ON s{i}.{axis} = {prev}.{axis} CROSS JOIN tot
)""")
        prev = f"w{i}"
    return f"""
WITH cells AS (
  SELECT lang AS r, source AS c, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn,
         CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
         CAST(COUNT(DISTINCT c) AS BIGINT) AS nc
  FROM cells
),
w0 AS (SELECT r, c, n, CAST({g} AS BIGINT) AS w6 FROM cells),{','.join(passes)}
SELECT r AS lang, c AS source, n, w6,
       CAST(w6 AS DOUBLE) / {float(g)} AS weight
FROM {prev}
"""


IPF_RAKE_ORACLE = _ipf_oracle()


GRAM_DIM = 64


def gram_matrix_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram/scatter matrix of the embedding corpus
    (`functions.vector.gram_matrix`) — the dim²-sized aggregate PCA /
    whitening / covariance estimation reduce the corpus to; one narrow
    pass, exact decimal sums, upper triangle long-format. The driver-side
    eigendecomposition (`pca_components`) is dimension-sized and
    test-bound (BLAS floats aren't grid-exact); THIS, the distributed
    part, is the hash-gated artifact."""
    from graphrag_toolkit_spark.functions.vector import gram_matrix

    emb = load(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding", GRAM_DIM).withColumn(
        "i", F.col("i").cast("int")
    ).withColumn("j", F.col("j").cast("int"))


GRAM_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6)))
           AS qe
  FROM embeddings
),
pairs AS (
  SELECT CAST(t.i AS INTEGER) AS i, CAST(u.j AS INTEGER) AS j,
         CAST(CAST(q.qe[t.i + 1] AS DECIMAL(12,6))
              * CAST(q.qe[u.j + 1] AS DECIMAL(12,6)) AS DECIMAL(28,12)) AS p
  FROM q,
       generate_series(0, {GRAM_DIM - 1}) AS t(i),
       generate_series(0, {GRAM_DIM - 1}) AS u(j)
  WHERE u.j >= t.i
)
SELECT i, j, CAST(SUM(p) AS DOUBLE) AS value
FROM pairs GROUP BY i, j
"""

# --- DSIR importance weighting -----------------------------------------------

DSIR_BUCKETS = 256


def dsir_weights_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (`sampling.dsir_log_weights`, Xie et al. NeurIPS
    2023): importance log-weight of every document against a 'curated'
    target slice (source='src0') under add-1-smoothed hashed-unigram
    bucket models — the raw-corpus ranking signal the DSIR resampling step
    consumes. Quantized-ln decimal arithmetic end-to-end, hash-exact."""
    docs = load(spark, sf_dir, "documents")
    target = docs.filter(F.col("source") == "src0")
    return sampling.dsir_log_weights(
        docs, target, "text", "doc_id", n_buckets=DSIR_BUCKETS
    ).withColumnRenamed("id", "doc_id")


DSIR_ORACLE = rf"""
WITH tok_raw AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(token), 1, 7) AS BIGINT) % {DSIR_BUCKETS}
           AS bucket
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                              t -> t <> '')) AS token
    FROM documents
  )
),
tok_tgt AS (
  SELECT t.bucket FROM tok_raw t
  JOIN documents d ON d.doc_id = t.doc_id AND d.source = 'src0'
),
bk AS (SELECT unnest(generate_series(0, {DSIR_BUCKETS - 1})) AS bucket),
counts AS (
  SELECT bk.bucket,
         COALESCE(ct.c, 0) AS ct,
         COALESCE(cr.c, 0) AS cr
  FROM bk
  LEFT JOIN (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok_tgt GROUP BY bucket) ct ON ct.bucket = bk.bucket
  LEFT JOIN (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c
             FROM tok_raw GROUP BY bucket) cr ON cr.bucket = bk.bucket
),
tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cr) AS BIGINT) AS nr
        FROM counts),
scores AS (
  SELECT bucket,
         CAST(
           CAST(ROUND(ln(CAST(ct + 1 AS DOUBLE)), 6) AS DECIMAL(12,6))
           - CAST(ROUND(ln(CAST(nt + {DSIR_BUCKETS} AS DOUBLE)), 6) AS DECIMAL(12,6))
           - CAST(ROUND(ln(CAST(cr + 1 AS DOUBLE)), 6) AS DECIMAL(12,6))
           + CAST(ROUND(ln(CAST(nr + {DSIR_BUCKETS} AS DOUBLE)), 6) AS DECIMAL(12,6))
         AS DECIMAL(14,6)) AS score
  FROM counts, tot
),
per_doc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(s.score AS DECIMAL(28,6))) AS DOUBLE) AS dsir_logw
  FROM tok_raw t JOIN scores s ON s.bucket = t.bucket
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.dsir_logw, 0.0) AS dsir_logw
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


# --- asymmetric containment --------------------------------------------------

CONTAIN_K = 2
CONTAIN_THRESHOLD = 0.5
CONTAIN_MAX_DF = 100


def containment_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment C(A→B) = |S_A∩S_B| / |S_A| over DISCRIMINATIVE
    word-bigram shingles (`dedup.containment_pairs`): the asymmetric
    subset-duplication measure Jaccard misses — a short doc quoted whole
    inside a long one is containment 1.0 at near-zero Jaccard. The
    posting-list cutoff (df ≤ 100) is load-bearing at scale: without it
    this fixture's hot bigrams make 82% of all doc pairs candidates
    (20.6M at sf0.1 — measured), i.e. the join IS quadratic; with it,
    candidates ∝ rare-shingle collisions (the same semantics
    ngram_jaccard_neardup documents). Ordered pairs ≥ 0.5."""
    docs = load(spark, sf_dir, "documents")
    return (
        dedup.containment_pairs(
            docs, "text", "doc_id", k=CONTAIN_K, threshold=CONTAIN_THRESHOLD,
            max_doc_freq=CONTAIN_MAX_DF,
        )
        .withColumnsRenamed({"id_a": "doc_a", "id_b": "doc_b"})
        .withColumn("n_inter", F.col("n_inter").cast("bigint"))
        .withColumn("n_a", F.col("n_a").cast("bigint"))
    )


CONTAINMENT_ORACLE = rf"""
WITH s0 AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - {CONTAIN_K - 1}),
                          i -> ws[i] || ' ' || ws[i+1])) AS shingle
    FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents)
  ) WHERE shingle <> ''
),
rare AS (
  SELECT shingle FROM s0 GROUP BY shingle HAVING COUNT(*) <= {CONTAIN_MAX_DF}
),
s AS (SELECT s0.doc_id, s0.shingle FROM s0 JOIN rare ON rare.shingle = s0.shingle),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_a FROM s GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.n_inter, sz.n_a,
       CAST(i.n_inter AS DOUBLE) / sz.n_a AS containment
FROM inter i JOIN sizes sz ON sz.doc_id = i.doc_a
WHERE CAST(i.n_inter AS DOUBLE) / sz.n_a >= {CONTAIN_THRESHOLD}
"""


# --- SimHash -----------------------------------------------------------------

def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


_SIMHASH_BIT_SUMS = ",\n         ".join(
    f"SUM(CASE WHEN (th // {1 << i}) % 2 = 1 THEN tf ELSE -tf END) AS s{i}"
    for i in range(dedup.SIMHASH_BITS)
)
_SIMHASH_ASSEMBLE = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(dedup.SIMHASH_BITS)
)
SIMHASH_ORACLE = rf"""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf,
         CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) AS th
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
    FROM documents
  ) WHERE token <> ''
  GROUP BY doc_id, token
),
bits AS (
  SELECT doc_id,
         {_SIMHASH_BIT_SUMS}
  FROM tf GROUP BY doc_id
)
SELECT doc_id, CAST({_SIMHASH_ASSEMBLE} AS BIGINT) AS simhash FROM bits
"""


# --- embedding near-dup pairs ------------------------------------------------

EMBED_DUP_THRESHOLD = 0.35
# (_EMB_Q moved above the hard-negative-mining section)
# All-pairs is the VERIFIER leg — O(pool²) must hold by construction, so the
# declared query caps the pool with a content-hash bucket (sampling.py
# pattern: deterministic, engine-portable md5 arithmetic). 1-in-4 of the
# corpus regardless of scale; the corpus-scale path is embedding_neardup_lsh.
_EMB_POOL_MOD = 4


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphrag_toolkit_spark.operators.sampling import hash_value

    emb = load(spark, sf_dir, "embeddings").filter(
        hash_value(F.col("vec_id")) % _EMB_POOL_MOD == 0
    )
    return dedup.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", EMBED_DUP_THRESHOLD
    )


_EMB_POOL_SQL = (
    "CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT) "
    f"% {_EMB_POOL_MOD} = 0"
)

EMBED_NEARDUP_ORACLE = f"""
WITH pool AS (
  SELECT vec_id, embedding FROM embeddings WHERE {_EMB_POOL_SQL}
),
terms AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_EMB_Q.format(x='a.embedding[i]')} AS xa,
         {_EMB_Q.format(x='b.embedding[i]')} AS xb
  FROM pool a
  JOIN pool b ON a.vec_id < b.vec_id, generate_series(1, 64) AS t(i)
),
scores AS (
  SELECT id_a, id_b,
         CAST(SUM(xa * xb) AS DOUBLE)
           / (sqrt(CAST(SUM(xa * xa) AS DOUBLE)) * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS cos
  FROM terms GROUP BY id_a, id_b
)
SELECT id_a, id_b, cos FROM scores WHERE cos >= {EMBED_DUP_THRESHOLD}
"""


# --- SemDeDup ----------------------------------------------------------------

SEMDEDUP_CENTROIDS = 8


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-then-prune semantic dedup, Abbas et al. 2023):
    nearest-centroid bucketing (deterministic first-C centroids — the
    oracle leg; swap in `ann.train_centroids_kmeans` for production),
    intra-cluster cosine pairs, one survivor per connected component."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = ann.first_c_centroids(
        emb, SEMDEDUP_CENTROIDS, id_col="vec_id", vec_col="embedding"
    )
    return (
        dedup.semantic_dedup(
            emb, centroids, id_col="vec_id", vec_col="embedding",
            threshold=EMBED_DUP_THRESHOLD,
        )
        .withColumnRenamed("id", "vec_id")
    )


def _semdedup_cos(src: str, key_a: str, key_b: str) -> str:
    return f"""
  SELECT l.{key_a} AS key_a, l.{key_b} AS key_b,
         CAST(SUM({_EMB_Q.format(x='l.ea[i]')} * {_EMB_Q.format(x='l.eb[i]')}) AS DOUBLE)
           / (sqrt(CAST(SUM({_EMB_Q.format(x='l.ea[i]')} * {_EMB_Q.format(x='l.ea[i]')}) AS DOUBLE))
              * sqrt(CAST(SUM({_EMB_Q.format(x='l.eb[i]')} * {_EMB_Q.format(x='l.eb[i]')}) AS DOUBLE))) AS score
  FROM {src} l, generate_series(1, 64) AS t(i)
  GROUP BY l.{key_a}, l.{key_b}
"""


SEMDEDUP_ORACLE = f"""
WITH RECURSIVE
cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
         WHERE vec_id < {SEMDEDUP_CENTROIDS}),
apairs AS (
  SELECT e.vec_id, c.cid, e.embedding AS ea, c.cemb AS eb
  FROM embeddings e, cent c
),
assign_scores AS ({_semdedup_cos('apairs', 'vec_id', 'cid')}),
assigned AS (
  SELECT key_a AS vec_id, key_b AS cid FROM (
    SELECT key_a, key_b, score,
           ROW_NUMBER() OVER (PARTITION BY key_a ORDER BY score DESC, key_b) AS rn
    FROM assign_scores
  ) WHERE rn = 1
),
cpairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, x.embedding AS ea, y.embedding AS eb
  FROM assigned a
  JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN embeddings x ON x.vec_id = a.vec_id
  JOIN embeddings y ON y.vec_id = b.vec_id
),
pair_scores AS ({_semdedup_cos('cpairs', 'id_a', 'id_b')}),
pairs AS (
  SELECT key_a AS id_a, key_b AS id_b FROM pair_scores
  WHERE score >= {EMBED_DUP_THRESHOLD}
),
und AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.id, e.dst FROM reach u JOIN und e ON e.src = u.r
),
comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
SELECT a.vec_id, a.cid,
       COALESCE(c.rep, a.vec_id) AS cluster_rep,
       COALESCE(c.rep, a.vec_id) = a.vec_id AS is_survivor
FROM assigned a LEFT JOIN comp c ON c.id = a.vec_id
"""


# --- n-gram LM quality scoring -----------------------------------------------

_LM_BIGRAMS = {
    ("spark", "filter"): -1.2, ("filter", "join"): -1.5,
    ("join", "window"): -1.8, ("batch", "stream"): -2.0,
    ("table", "value"): -1.1, ("key", "scan"): -2.5,
    ("the", "line"): -0.9, ("a", "row"): -1.3,
}
_LM_UNIGRAMS = {
    "spark": -3.0, "table": -2.5, "value": -2.75, "the": -2.0, "a": -1.9,
    "row": -3.1, "data": -2.8, "query": -3.2, "slow": -4.5, "fast": -4.0,
}
_LM_UNK = -8.0


def ngram_lm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Back-off bigram LM scoring (CCNet-style perplexity filter stand-in,
    `textstats.ngram_lm_score`): injected decimal log-prob tables, exact
    per-doc sums, avg_logp for bucketing."""
    docs = load(spark, sf_dir, "documents")
    return textstats.ngram_lm_score(
        docs, "text", "doc_id", _LM_BIGRAMS, _LM_UNIGRAMS, _LM_UNK
    ).withColumnRenamed("id", "doc_id")


def _lm_oracle() -> str:
    bi = ", ".join(
        f"('{a} {b}', CAST({round(lp, 6)} AS DECIMAL(12,6)))"
        for (a, b), lp in sorted(_LM_BIGRAMS.items())
    )
    uni = ", ".join(
        f"('{w}', CAST({round(lp, 6)} AS DECIMAL(12,6)))"
        for w, lp in sorted(_LM_UNIGRAMS.items())
    )
    return f"""
WITH arr AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                     x -> x <> '') AS ws
  FROM documents
),
withprev AS (
  SELECT doc_id, p.w AS w, p.bg AS bg FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws)),
             i -> struct_pack(
               w := ws[i],
               bg := CASE WHEN i > 1 THEN ws[i - 1] || ' ' || ws[i] END
             ))) AS p
    FROM arr
  )
),
bi(bg, blp) AS (VALUES {bi}),
uni(w, ulp) AS (VALUES {uni}),
s AS (
  SELECT doc_id,
         COALESCE(b.blp, u.ulp, CAST({_LM_UNK} AS DECIMAL(12,6))) AS lp
  FROM withprev p LEFT JOIN bi b ON b.bg = p.bg LEFT JOIN uni u ON u.w = p.w
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(lp) AS DOUBLE) AS logp_sum
  FROM s GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
       COALESCE(a.logp_sum, 0.0) AS logp_sum,
       CASE WHEN a.n_words > 0 THEN a.logp_sum / CAST(a.n_words AS DOUBLE)
            ELSE 0.0 END AS avg_logp
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


NGRAM_LM_ORACLE = _lm_oracle()


# --- bigram LM training ------------------------------------------------------

LM_MIN_COUNT = 3


def train_bigram_lm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based bigram LM training (`textstats.train_bigram_lm`): the
    table `ngram_lm_score` consumes, learned from the corpus itself —
    exact-count conditional probabilities, min-count pruned."""
    docs = load(spark, sf_dir, "documents")
    return textstats.train_bigram_lm(docs, "text", "doc_id", min_count=LM_MIN_COUNT)


def kneser_ney_lm_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM training
    (`textstats.kneser_ney_bigram_lm`, d = 3/4) — the CCNet-style smoothed
    LM for perplexity bucketing; continuation counts from the full bigram
    table, output pruned to n >= LM_MIN_COUNT. Scores are micro-grid
    floors of exact integer ratios, so the table hash-gates."""
    docs = load(spark, sf_dir, "documents")
    return textstats.kneser_ney_bigram_lm(docs, "text", min_count=LM_MIN_COUNT)


KN_LM_ORACLE = rf"""
WITH arr AS (
  SELECT list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                     x -> x <> '') AS ws
  FROM documents
),
bi AS (
  SELECT p.prev, p.w FROM (
    SELECT unnest(CASE WHEN len(ws) >= 2 THEN
      list_transform(generate_series(2, len(ws)),
        i -> struct_pack(prev := ws[i - 1], w := ws[i]))
      ELSE [] END) AS p
    FROM arr
  )
),
counts AS (SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS n FROM bi GROUP BY prev, w),
prev_stats AS (
  SELECT prev, CAST(SUM(n) AS BIGINT) AS c_v, CAST(COUNT(*) AS BIGINT) AS n1_v
  FROM counts GROUP BY prev
),
cont AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1_w FROM counts GROUP BY w),
nbb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bb FROM counts),
scored AS (
  SELECT c.prev, c.w, c.n,
         GREATEST(4 * c.n - 3, 0) * n_bb + 3 * p.n1_v * t.n1_w AS num,
         4 * p.c_v * n_bb AS den
  FROM counts c
  JOIN prev_stats p USING (prev)
  JOIN cont t USING (w)
  CROSS JOIN nbb
)
SELECT prev, w, n,
       CAST((num // den) * 1000000 + ((num % den) * 1000000) // den
            AS BIGINT) AS kn_p6,
       CAST((num // den) * 1000000 + ((num % den) * 1000000) // den
            AS DOUBLE) / 1000000.0 AS kn_prob
FROM scored
WHERE n >= {LM_MIN_COUNT}
"""


KN_BUCKETS = 3


def kn_perplexity_buckets_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing end-to-end
    (`textstats.kn_perplexity_buckets`): train the Kneser-Ney LM on the
    corpus, score every document, cut head/middle/tail terciles by avg
    log-prob — one Catalyst plan, hash-gated against the full train+score
    SQL twin."""
    docs = load(spark, sf_dir, "documents")
    return textstats.kn_perplexity_buckets(
        docs, "text", "doc_id", n_buckets=KN_BUCKETS
    )


KN_BUCKETS_ORACLE = rf"""
WITH arr AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS ws
  FROM documents
),
bi AS MATERIALIZED (
  SELECT doc_id, p.prev, p.w FROM (
    SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN
      list_transform(generate_series(2, len(ws)),
        i -> struct_pack(prev := ws[i - 1], w := ws[i]))
      ELSE [] END) AS p
    FROM arr
  )
),
counts AS MATERIALIZED (
  SELECT prev, w, CAST(COUNT(*) AS BIGINT) AS n FROM bi GROUP BY prev, w
),
prev_stats AS (
  SELECT prev, CAST(SUM(n) AS BIGINT) AS c_v, CAST(COUNT(*) AS BIGINT) AS n1_v
  FROM counts GROUP BY prev
),
cont AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1_w FROM counts GROUP BY w),
nbb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bb FROM counts),
lm AS MATERIALIZED (
  SELECT prev, w,
         CAST(ROUND(LN(CAST(GREATEST(
           (num // den) * 1000000 + ((num % den) * 1000000) // den, 1
         ) AS DOUBLE) / 1000000.0), 6) AS DECIMAL(12,6)) AS blp
  FROM (
    SELECT c.prev, c.w,
           GREATEST(4 * c.n - 3, 0) * n_bb + 3 * p.n1_v * t.n1_w AS num,
           4 * p.c_v * n_bb AS den
    FROM counts c
    JOIN prev_stats p USING (prev)
    JOIN cont t USING (w)
    CROSS JOIN nbb
  )
),
scored AS (
  SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         SUM(COALESCE(lm.blp, CAST(-8.0 AS DECIMAL(12,6)))) AS lp_sum
  FROM bi b LEFT JOIN lm USING (prev, w)
  GROUP BY b.doc_id
)
SELECT doc_id AS id, n_bigrams,
       CAST(lp_sum AS DOUBLE) AS lp_sum,
       CAST(lp_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_logp,
       CAST(NTILE({KN_BUCKETS}) OVER (
         ORDER BY CAST(lp_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) DESC,
                  doc_id ASC
       ) AS INTEGER) AS bucket
FROM scored
"""


TRAIN_LM_ORACLE = rf"""
WITH arr AS (
  SELECT list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                     x -> x <> '') AS ws
  FROM documents
),
bi AS (
  SELECT p.prev, p.w FROM (
    SELECT unnest(CASE WHEN len(ws) >= 2 THEN
      list_transform(generate_series(2, len(ws)),
        i -> struct_pack(prev := ws[i - 1], w := ws[i]))
      ELSE [] END) AS p
    FROM arr
  )
),
counts AS (
  SELECT prev, w, COUNT(*) AS n FROM bi GROUP BY prev, w
  HAVING COUNT(*) >= {LM_MIN_COUNT}
),
totals AS (SELECT prev, SUM(n) AS n_prev FROM counts GROUP BY prev)
SELECT c.prev, c.w, c.n, CAST(c.n AS DOUBLE) / t.n_prev AS p
FROM counts c JOIN totals t USING (prev)
"""


# --- word entropy ------------------------------------------------------------

def word_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the word distribution
    (`textstats.word_entropy`) — the gibberish/boilerplate bucketing signal."""
    docs = load(spark, sf_dir, "documents")
    return textstats.word_entropy(docs, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


WORD_ENTROPY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY doc_id, token
),
agg AS (
  SELECT doc_id, SUM(tf) AS n,
         CAST(SUM(CAST(tf * CAST(ROUND(ln(tf), 6) AS DECIMAL(12,6))
                       AS DECIMAL(18,6))) AS DOUBLE) AS s
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(a.n, 0) AS BIGINT) AS n_words,
       CASE WHEN a.n > 0
            THEN (CAST(CAST(ROUND(ln(a.n), 6) AS DECIMAL(12,6)) AS DOUBLE)
                  - a.s / CAST(a.n AS DOUBLE))
                 / {textstats.LN2!r}
            ELSE 0.0 END AS word_entropy
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


# --- corpus snapshot diff ----------------------------------------------------

def corpus_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of a cleaning pass: diff the corpus against its span-scrubbed
    version (`diffing.corpus_diff` — content-hash full-outer join; here
    every id survives, so statuses are changed/unchanged; added/removed
    are exercised in unit tests)."""
    from graphrag_toolkit_spark.operators import diffing

    docs = load(spark, sf_dir, "documents")
    cleaned = spans.scrub_duplicated_spans(
        docs, "text", "doc_id", n=SPAN_N
    ).withColumnRenamed("id", "doc_id")
    return diffing.corpus_diff(
        docs, cleaned, "doc_id", "text", new_text_col="text_scrubbed"
    ).withColumnRenamed("id", "doc_id")


CORPUS_DIFF_ORACLE = f"""
WITH new_t AS ({{scrub}}),
a AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
b AS (SELECT doc_id, md5(text_scrubbed) AS new_hash FROM new_t)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.old_hash = b.new_hash THEN 'unchanged'
            ELSE 'changed' END AS status,
       a.old_hash, b.new_hash
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""


# --- count-min sketch heavy hitters ------------------------------------------

CMS_TOP = 20


def cms_heavy_hitters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream
    (`sketch.cms_build`/`cms_estimate`): estimated vs true counts for the
    20 most frequent words. Pure-integer md5 bucketing, so the sketch AND
    its estimates are hash-gated (never under-counts; over-count bounded
    by collisions)."""
    from graphrag_toolkit_spark.operators import sketch

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"[^0-9a-z]+")).alias("token")
    ).filter(F.col("token") != "")
    truec = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = (
        truec.orderBy(F.desc("true_cnt"), F.asc("token"))
        .limit(CMS_TOP)
        .localCheckpoint(eager=False)  # probe set + final join (20 rows)
    )
    cms = sketch.cms_build(toks, "token")
    est = sketch.cms_estimate(cms, top.select("token"), "token")
    return top.join(est, top["token"] == est["value"]).select(
        "token", "true_cnt", "est"
    )


CMS_ORACLE = f"""
WITH toks AS (
  SELECT token FROM (
    SELECT unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> ''
),
truec AS (SELECT token, COUNT(*) AS true_cnt FROM toks GROUP BY token),
top AS (SELECT token, true_cnt FROM truec
        ORDER BY true_cnt DESC, token LIMIT {CMS_TOP}),
cells AS (
  SELECT r.r AS row,
         CAST('0x' || substring(md5('cms' || r.r || '|' || t.token), 1, 13)
              AS BIGINT) % {sketch_mod.CMS_WIDTH} AS bucket
  FROM toks t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
),
cms AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY row, bucket),
probes AS (
  SELECT t.token, r.r AS row,
         CAST('0x' || substring(md5('cms' || r.r || '|' || t.token), 1, 13)
              AS BIGINT) % {sketch_mod.CMS_WIDTH} AS bucket
  FROM top t CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
),
est AS (
  SELECT p.token, MIN(COALESCE(c.cnt, 0)) AS est
  FROM probes p LEFT JOIN cms c ON c.row = p.row AND c.bucket = p.bucket
  GROUP BY p.token
)
SELECT t.token, t.true_cnt, e.est FROM top t JOIN est e ON e.token = t.token
"""


# --- vocab + document encoding -----------------------------------------------

VOCAB_MIN_COUNT = 2
UNK_ID = -1


def build_vocab_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked dense vocabulary (`packing.build_vocab`): the
    word→id table for training export, min-count pruned."""
    docs = load(spark, sf_dir, "documents")
    return packing.build_vocab(docs, "text", min_count=VOCAB_MIN_COUNT)


_VOCAB_SQL = f"""
vtf AS (
  SELECT token, COUNT(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY token HAVING COUNT(*) >= {VOCAB_MIN_COUNT}
),
vocab AS (
  SELECT token,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) - 1 AS INT) AS token_id,
         freq
  FROM vtf
)"""

BUILD_VOCAB_ORACLE = f"""
WITH {_VOCAB_SQL}
SELECT token, token_id, freq FROM vocab
"""


def encode_documents_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → dense token-id sequences (`packing.encode_documents`):
    ordered ids per doc (OOV → {UNK_ID}), emitted as a comma string for
    the order-sensitive hash compare."""
    docs = load(spark, sf_dir, "documents")
    vocab = packing.build_vocab(docs, "text", min_count=VOCAB_MIN_COUNT)
    return packing.encode_documents(
        docs, vocab, "text", "doc_id", unk_id=UNK_ID
    ).select(
        F.col("id").alias("doc_id"),
        "n_tokens",
        F.concat_ws(",", F.col("ids")).alias("ids_str"),
    )


ENCODE_ORACLE = f"""
WITH {_VOCAB_SQL},
arr AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                     x -> x <> '') AS ws
  FROM documents
),
pos AS (
  SELECT doc_id, p.pos AS pos, p.tok AS tok FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(ws)),
             i -> struct_pack(pos := i, tok := ws[i]))) AS p
    FROM arr
  )
),
enc AS (
  SELECT p.doc_id, p.pos, COALESCE(v.token_id, {UNK_ID}) AS tid
  FROM pos p LEFT JOIN vocab v ON v.token = p.tok
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS ids_str
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.ids_str, '') AS ids_str
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


# --- ranking evaluation (NDCG / MRR / recall) --------------------------------

EVAL_K = 10


def ranking_eval_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation harness (`operators/ranking_eval.py`): brute-force
    cosine top-10 for three query vectors, judged against cluster labels
    (rel=1 iff same label) — per-query NDCG@10 / MRR / recall with the
    quantized-discount DCG, all hash-exact."""
    from graphrag_toolkit_spark.functions.vector import (
        dot_prequantized,
        l2_norm_prequantized,
        prequantize,
    )
    from graphrag_toolkit_spark.operators.ranking_eval import ranking_metrics
    from pyspark.sql.window import Window as W

    emb = load(spark, sf_dir, "embeddings")
    # two-step projections: norms fold the shared quantized arrays — one
    # quantize pass per row per side
    cat = emb.select(
        F.col("vec_id").alias("doc_id"),
        prequantize(F.col("embedding")).alias("qv"),
    ).select("doc_id", "qv", l2_norm_prequantized(F.col("qv")).alias("nv"))
    qs = F.broadcast(
        emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"),
            prequantize(F.col("embedding")).alias("qq"),
            F.col("label").alias("qlabel"),
        ).select(
            "query_id",
            "qq",
            l2_norm_prequantized(F.col("qq")).alias("nq"),
            "qlabel",
        )
    )
    scored = cat.crossJoin(qs.drop("qlabel")).withColumn(
        "score",
        dot_prequantized(F.col("qv"), F.col("qq")) / (F.col("nv") * F.col("nq")),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    results = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= EVAL_K)
        .select("query_id", "doc_id", "rank")
    )
    judgments = (
        qs.select("query_id", "qlabel")
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), F.col("label").alias("qlabel")),
            "qlabel",
        )
        .select("query_id", "doc_id", F.lit(1).alias("rel"))
    )
    return ranking_metrics(results, judgments, k=EVAL_K)


def _rank_disc(rank: str) -> str:
    from graphrag_toolkit_spark.operators.textstats import LN2

    return (
        f"CAST(ROUND(1.0 / ROUND(ln(1.0 + {rank}) / {LN2!r}, 6), 6)"
        " AS DECIMAL(12,6))"
    )


RANKING_EVAL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qemb, label AS qlabel
  FROM embeddings WHERE vec_id < 3
),
terms AS (
  SELECT q.query_id, e.vec_id,
         {_EMB_Q.format(x='e.embedding[i]')} AS xe,
         {_EMB_Q.format(x='q.qemb[i]')} AS xq
  FROM embeddings e, q, generate_series(1, 64) AS t(i)
),
scores AS (
  SELECT query_id, vec_id,
         CAST(SUM(xe * xq) AS DOUBLE)
           / (sqrt(CAST(SUM(xe * xe) AS DOUBLE)) * sqrt(CAST(SUM(xq * xq) AS DOUBLE))) AS score
  FROM terms GROUP BY query_id, vec_id
),
res AS (
  SELECT query_id, vec_id AS doc_id, rank FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM scores
  ) WHERE rank <= {EVAL_K}
),
judg AS (
  SELECT q.query_id, e.vec_id AS doc_id, 1 AS rel
  FROM q JOIN embeddings e ON e.label = q.qlabel
),
joined AS (
  SELECT r.query_id, r.rank, COALESCE(j.rel, 0) AS rel
  FROM res r LEFT JOIN judg j ON j.query_id = r.query_id AND j.doc_id = r.doc_id
),
perq AS (
  SELECT query_id,
         CAST(SUM(CAST(rel * {_rank_disc('rank')} AS DECIMAL(18,6))) AS DOUBLE) AS dcg,
         MIN(CASE WHEN rel > 0 THEN rank END) AS firstrel,
         CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retrieved_relevant
  FROM joined GROUP BY query_id
),
ideal AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN irank <= {EVAL_K}
                  THEN CAST(rel * {_rank_disc('irank')} AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS idcg,
         COUNT(*) AS n_relevant
  FROM (
    SELECT query_id, rel, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS irank
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


def ranking_eval_orphan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Judged-but-unretrieved branch gate for `ranking_eval.ranking_metrics`:
    query 'q1' retrieves the 10 lowest vec_ids and is judged against
    label=0 docs; query 'q2' carries judgments (label=1 docs) but NO
    result rows, so it can only appear through the full-outer join with
    all-zero dcg/ndcg/mrr/recall. Pins the round-4 full-outer semantics
    that the dense fixtures (where every judged query also retrieves)
    never exercise."""
    from graphrag_toolkit_spark.operators.ranking_eval import ranking_metrics
    from pyspark.sql.window import Window as W

    emb = load(spark, sf_dir, "embeddings")
    w = W.orderBy(F.asc("vec_id"))
    results = (
        emb.select(F.lit("q1").alias("query_id"), F.col("vec_id").alias("doc_id"))
        .withColumn("rank", F.row_number().over(w.orderBy(F.asc("doc_id"))))
        .filter(F.col("rank") <= EVAL_K)
    )
    judgments = (
        emb.filter(F.col("label") == 0)
        .select(
            F.lit("q1").alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            F.lit(1).alias("rel"),
        )
        .unionByName(
            emb.filter(F.col("label") == 1).select(
                F.lit("q2").alias("query_id"),
                F.col("vec_id").alias("doc_id"),
                F.lit(1).alias("rel"),
            )
        )
    )
    return ranking_metrics(results, judgments, k=EVAL_K)


RANKING_EVAL_ORPHAN_ORACLE = f"""
WITH res AS (
  SELECT 'q1' AS query_id, doc_id, rank FROM (
    SELECT vec_id AS doc_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rank
    FROM embeddings
  ) WHERE rank <= {EVAL_K}
),
judg AS (
  SELECT 'q1' AS query_id, vec_id AS doc_id, 1 AS rel
  FROM embeddings WHERE label = 0
  UNION ALL
  SELECT 'q2' AS query_id, vec_id AS doc_id, 1 AS rel
  FROM embeddings WHERE label = 1
),
joined AS (
  SELECT r.query_id, r.rank, COALESCE(j.rel, 0) AS rel
  FROM res r LEFT JOIN judg j ON j.query_id = r.query_id AND j.doc_id = r.doc_id
),
perq AS (
  SELECT query_id,
         CAST(SUM(CAST(rel * {_rank_disc('rank')} AS DECIMAL(18,6))) AS DOUBLE) AS dcg,
         MIN(CASE WHEN rel > 0 THEN rank END) AS firstrel,
         CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retrieved_relevant
  FROM joined GROUP BY query_id
),
ideal AS (
  SELECT query_id,
         CAST(SUM(CASE WHEN irank <= {EVAL_K}
                  THEN CAST(rel * {_rank_disc('irank')} AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS idcg,
         COUNT(*) AS n_relevant
  FROM (
    SELECT query_id, rel, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS irank
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


# --- k-anonymity audit -------------------------------------------------------

K_ANON = 5


def k_anonymity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the (lang, source) quasi-identifier combination
    (`pii.k_anonymity`): per-equivalence-class sizes + the ≥k flag."""
    docs = load(spark, sf_dir, "documents")
    return pii.k_anonymity(docs, ["lang", "source"], k=K_ANON)


K_ANONYMITY_ORACLE = f"""
SELECT lang, source, COUNT(*) AS class_size,
       COUNT(*) >= {K_ANON} AS is_k_anonymous
FROM documents GROUP BY lang, source
"""


L_DIVERSE = 3


def l_diversity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (`pii.l_diversity`) refining the k-anonymity
    check: per (lang, source) equivalence class, how many DISTINCT
    length-bucket values (n_chars div 100 — the stand-in sensitive
    attribute) does it carry? A class can be k-anonymous yet leak if
    every member shares one sensitive value."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.expr("n_chars div 100")
    )
    return pii.l_diversity(docs, ["lang", "source"], "len_bucket", l=L_DIVERSE)


L_DIVERSITY_ORACLE = f"""
WITH pairs AS (
  SELECT lang, source, n_chars // 100 AS len_bucket, COUNT(*) AS n_rows
  FROM documents GROUP BY 1, 2, 3
)
SELECT lang, source, CAST(SUM(n_rows) AS BIGINT) AS class_size,
       CAST(COUNT(*) AS BIGINT) AS n_sensitive,
       COUNT(*) >= {L_DIVERSE} AS is_l_diverse
FROM pairs GROUP BY lang, source
"""


# --- Zipf power-law fit ------------------------------------------------------

def zipf_fit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health diagnostic: least-squares power-law fit of the token
    frequency-vs-rank curve (`textstats.zipf_fit`) — natural text sits
    near slope −1; drift flags templated/synthetic corpora."""
    docs = load(spark, sf_dir, "documents")
    return textstats.zipf_fit(docs, "text", "doc_id")


ZIPF_ORACLE = """
WITH tf AS (
  SELECT token, COUNT(*) AS freq FROM (
    SELECT unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY token
),
pts AS (
  SELECT CAST(ROUND(ln(ROW_NUMBER() OVER (ORDER BY freq DESC, token)), 6)
              AS DECIMAL(12,6)) AS x,
         CAST(ROUND(ln(freq), 6) AS DECIMAL(12,6)) AS y
  FROM tf
),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
FROM agg
"""


# --- text analysis -----------------------------------------------------------

def token_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.token_stats(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


TOKEN_STATS_ORACLE = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '\S+')) AS ws_tokens,
       len(regexp_extract_all(text, '{textstats.WORD_RE}')) AS word_tokens,
       len(regexp_extract_all(text, '{textstats.BPE_ISH_RE}')) AS bpeish_tokens,
       length(text) AS chars
FROM documents
"""


def quality_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.quality_score(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


QUALITY_ORACLE = rf"""
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{textstats.WORD_RE}')) AS n_words,
         len(regexp_extract_all(text, '[^\s0-9a-zA-Z]')) AS n_punct,
         length(text) AS n_chars,
         len(regexp_extract_all(lower(text), '{_STOP_PAT}')) AS n_stop,
         length(regexp_replace(text, '[^0-9a-zA-Z]', '', 'g')) AS word_chars
  FROM documents
)
SELECT doc_id, n_words,
       CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
       CAST(n_stop AS DOUBLE) / greatest(n_words, 1) AS stopword_ratio,
       CAST(word_chars AS DOUBLE) / greatest(n_words, 1) AS mean_word_len,
       least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.4
         + (1.0 - least(CAST(n_punct AS DOUBLE) / n_chars * 5.0, 1.0)) * 0.3
         + least(CAST(n_stop AS DOUBLE) / greatest(n_words, 1) * 5.0, 1.0) * 0.3 AS quality
FROM c
"""


CLASSIFIER_WEIGHTS = {
    "spark": 1.5, "vector": 0.75, "table": 0.25, "stream": 0.5,
    "the": -0.1, "slow": -1.0, "dup": -2.0,
}
CLASSIFIER_BIAS = -0.5


def quality_classifier_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (fasttext-style) quality classifier with injected literal
    weights — exact decimal logit, keep = logit ≥ 0
    (``textstats.linear_quality_classifier``)."""
    docs = load(spark, sf_dir, "documents")
    return textstats.linear_quality_classifier(
        docs, "text", "doc_id", CLASSIFIER_WEIGHTS, bias=CLASSIFIER_BIAS
    ).withColumnRenamed("id", "doc_id")


_W_VALUES = ", ".join(
    f"('{t}', CAST({round(w, 6)} AS DECIMAL(12,6)))"
    for t, w in sorted(CLASSIFIER_WEIGHTS.items())
)
QUALITY_CLASSIFIER_ORACLE = rf"""
WITH w(token, w) AS (VALUES {_W_VALUES}),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY doc_id, token
),
dot AS (
  SELECT doc_id, SUM(tf * w) AS d FROM tf JOIN w USING (token) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(dot.d, CAST(0 AS DECIMAL(12,6)))
            + CAST({CLASSIFIER_BIAS} AS DECIMAL(12,6)) AS DOUBLE) AS logit,
       CAST(COALESCE(dot.d, CAST(0 AS DECIMAL(12,6)))
            + CAST({CLASSIFIER_BIAS} AS DECIMAL(12,6)) AS DOUBLE) >= 0.0 AS keep
FROM documents d LEFT JOIN dot ON dot.doc_id = d.doc_id
"""


def language_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.language_id(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


_LEX_VALUES = ", ".join(
    f"('{lang}', '{w}')"
    for lang, ws in textstats.LANG_LEXICON.items()
    for w in ws
)
LANGID_ORACLE = rf"""
WITH lex(lang, token) AS (VALUES {_LEX_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents
),
hits AS (
  SELECT doc_id, lang, COUNT(*) AS hits
  FROM toks JOIN lex USING (token)
  GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang, hits FROM (
    SELECT doc_id, lang, hits,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
    FROM hits
  ) WHERE rn = 1
)
SELECT d.doc_id, COALESCE(b.lang, 'und') AS lang_pred,
       CAST(COALESCE(b.hits, 0) AS BIGINT) AS hits
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
"""


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars/token under the BPE-ish
    regex tokenizer, grouped by the lexicon language-ID — THE multilingual
    token-budget metric (fertility >> English baseline means a language
    pays more tokens per character, skewing mixture weights and context
    budgets; cf. the SentencePiece/tokenizer-parity literature). Composes
    two gated operators (`textstats.language_id`, `textstats.token_stats`)
    in one lineage: both are narrow per-doc projections joined on id, one
    language-keyed aggregate — no new shuffle class.

    Returns per language: (lang_pred, n_docs, total_chars, total_tokens,
    fertility = chars/token as one exact-operand double division, NULL for
    a zero-token language)."""
    docs = load(spark, sf_dir, "documents")
    lang = textstats.language_id(docs, "text", "doc_id").select(
        "id", "lang_pred"
    )
    toks = textstats.token_stats(docs, "text", "doc_id").select(
        "id", "bpeish_tokens", "chars"
    )
    g = lang.join(toks, "id").groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.sum("bpeish_tokens").cast("bigint").alias("total_tokens"),
    )
    return g.select(
        "lang_pred", "n_docs", "total_chars", "total_tokens",
        F.when(
            F.col("total_tokens") > 0,
            F.col("total_chars").cast("double")
            / F.col("total_tokens").cast("double"),
        ).alias("fertility"),
    )


TOKENIZER_FERTILITY_ORACLE = rf"""
WITH lex(lang, token) AS (VALUES {{lex}}),
toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents
),
hits AS (
  SELECT doc_id, lang, COUNT(*) AS hits
  FROM toks JOIN lex USING (token)
  GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang FROM (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang) AS rn
    FROM hits
  ) WHERE rn = 1
),
per_doc AS (
  SELECT d.doc_id, COALESCE(b.lang, 'und') AS lang_pred,
         len(regexp_extract_all(d.text, '{{bpe}}')) AS bpeish_tokens,
         length(d.text) AS chars
  FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
),
g AS (
  SELECT lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(chars) AS BIGINT) AS total_chars,
         CAST(SUM(bpeish_tokens) AS BIGINT) AS total_tokens
  FROM per_doc GROUP BY lang_pred
)
SELECT lang_pred, n_docs, total_chars, total_tokens,
       CASE WHEN total_tokens > 0
            THEN CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE)
       END AS fertility
FROM g
""".format(lex=_LEX_VALUES, bpe=textstats.BPE_ISH_RE)


def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document — shuffle-free
    narrow projection (see ``textstats.repetition_stats``)."""
    docs = load(spark, sf_dir, "documents")
    return textstats.repetition_stats(docs, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


# The oracle takes the explode-and-count road (unnest + GROUP BY): same
# numbers as the Spark sorted-run fold, arrived at relationally — a genuine
# cross-check of the narrow implementation, not a restatement of it.
REPETITION_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents
),
g AS (
  SELECT doc_id, ws,
         CASE WHEN len(ws) >= 2 THEN
           list_transform(generate_series(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i+1])
         ELSE [] END AS gs
  FROM t
),
wcnt AS (
  SELECT doc_id, MAX(c) AS max_w, SUM(c) AS tot_w, COUNT(*) AS dist_w
  FROM (SELECT doc_id, w, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS w FROM g) GROUP BY doc_id, w)
  GROUP BY doc_id
),
gcnt AS (
  SELECT doc_id, MAX(c) AS max_g, SUM(c) AS tot_g, COUNT(*) AS dist_g
  FROM (SELECT doc_id, gm, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(gs) AS gm FROM g) GROUP BY doc_id, gm)
  GROUP BY doc_id
)
SELECT g.doc_id,
       CAST(len(g.ws) AS INTEGER) AS n_words,
       1.0 - CAST(COALESCE(w.dist_w, 0) AS DOUBLE)
           / greatest(CAST(len(g.ws) AS DOUBLE), 1.0) AS dup_word_frac,
       CASE WHEN len(g.gs) > 0 THEN
         1.0 - CAST(COALESCE(c.dist_g, 0) AS DOUBLE)
             / greatest(CAST(len(g.gs) AS DOUBLE), 1.0)
       ELSE 0.0 END AS dup_bigram_frac,
       CAST(COALESCE(w.max_w, 0) AS DOUBLE)
           / greatest(CAST(len(g.ws) AS DOUBLE), 1.0) AS top_word_frac,
       CAST(COALESCE(c.max_g, 0) AS DOUBLE)
           / greatest(CAST(len(g.gs) AS DOUBLE), 1.0) AS top_bigram_frac
FROM g LEFT JOIN wcnt w USING (doc_id) LEFT JOIN gcnt c USING (doc_id)
"""


DECONTAM_N = 4
DECONTAM_EVAL_CUT = 1000  # hash buckets [0, 1000) of 10000 = the 10% eval set


def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C recipe): flag training
    docs sharing any word 4-gram with the held-out eval split. The eval set
    is the same deterministic hash split as ``split_documents`` — the
    operator composes the two primitives exactly the way a real pipeline
    would (eval split → shingle → broadcast collide)."""
    docs = load(spark, sf_dir, "documents")
    b = sampling.hash_bucket(F.col("doc_id"))
    eval_set = docs.filter(b < DECONTAM_EVAL_CUT)
    corpus = docs.filter(b >= DECONTAM_EVAL_CUT)
    return (
        decontam.contamination(
            corpus, eval_set, text_col="text", id_col="doc_id", n=DECONTAM_N,
            # the "eval set" here is a hash split OF THE CORPUS (grows with
            # the data), not an MB-scale external benchmark — let AQE pick
            broadcast_eval=False,
        )
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "n_grams", "n_hit", "contamination")
    )


DECONTAM_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           % 10000 AS b
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, b, g FROM (
    SELECT doc_id, b, unnest(CASE WHEN len(ws) >= {DECONTAM_N} THEN
      list_transform(generate_series(1, len(ws) - {DECONTAM_N} + 1),
        i -> md5(array_to_string(ws[i:i+{DECONTAM_N}-1], ' ')))
      ELSE [] END) AS g
    FROM t)
),
ev AS (SELECT DISTINCT g FROM sh WHERE b < {DECONTAM_EVAL_CUT}),
tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM sh
        WHERE b >= {DECONTAM_EVAL_CUT} GROUP BY doc_id),
hits AS (SELECT s.doc_id, COUNT(*) AS n_hit
         FROM sh s JOIN ev USING (g)
         WHERE s.b >= {DECONTAM_EVAL_CUT} GROUP BY s.doc_id)
SELECT h.doc_id, t.n_grams, h.n_hit,
       CAST(h.n_hit AS DOUBLE) / t.n_grams AS contamination
FROM hits h JOIN tot t USING (doc_id)
"""


# --- n-gram leakage calibration sweep -----------------------------------------

LEAKAGE_NS = (4, 8, 13)


def ngram_leakage_by_n(
    spark: SparkSession, sf_dir: str, broadcast_eval: bool = False
) -> DataFrame:
    """Decontamination calibration: the eval-leak rate at SEVERAL shingle
    sizes in one pass — the table an operator reads before choosing n
    (GPT-3 used 13-grams, Gopher 8, this repo's default gate 4; smaller n
    flags more aggressively). Per n: distinct eval-set grams, corpus docs
    sharing at least one of them, and the leak fraction.

    Scale shape: the corpus text is shingled ONCE — every n's gram set
    rides one tagged array (flatten of per-n transforms) into ONE explode,
    one distinct, one mark-join and one (n, doc) aggregate; the n-spine
    left-join guarantees a row even for an n larger than every document.
    No per-n rescans of the corpus.

    ``broadcast_eval`` mirrors ``decontam.contamination``: this query's
    eval side is a 10% HASH SPLIT OF THE CORPUS (it grows with the data,
    ×3 shingle sizes), so the default is False — AQE broadcasts the gram
    set while it is small and shuffle-joins on the gram hash when it is
    not. Pass True only for a genuinely MB-scale external benchmark."""
    from graphrag_toolkit_spark.operators.decontam import _gram_hashes

    docs = load(spark, sf_dir, "documents")
    b = sampling.hash_bucket(F.col("doc_id"))
    toks = F.split(F.lower(F.col("text")), r"\s+")
    def _tag(n: int) -> Column:
        # in-row dedup (array_distinct) BEFORE tagging: one input row per
        # doc_id means (id, n, gram) is already globally distinct after the
        # explode, so the former corpus-wide .distinct() exchange — a full
        # shuffle of the exploded shingle table, the largest intermediate
        # here — is unnecessary (same §10-r8 argument as dedup.shingles).
        # NB: a two-arg lambda would make F.transform pass (element, INDEX)
        # — the closure factory keeps the signature unary
        return F.transform(
            F.array_distinct(_gram_hashes(toks, n)),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram")),
        )

    tagged = F.flatten(F.array(*[_tag(n) for n in LEAKAGE_NS]))
    # the shingle table feeds FOUR legs (eval grams, eval counts, the mark
    # join, per-doc totals) — checkpoint it once or the md5 explode re-runs
    # per leg (measured 3x wall on the fixture). widen FIRST: the explode
    # inherits the scan's partitioning (often one file = ONE task), and
    # every md5 in the corpus would grind through that single core
    # (measured 69 s -> ~4 s at sf0.1)
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    sh = (
        widen_partitions(docs)
        .select(
            F.col("doc_id").alias("id"), b.alias("b"), F.explode(tagged).alias("s")
        )
        .select("id", "b", F.col("s.n").alias("n"), F.col("s.gram").alias("gram"))
        .localCheckpoint(eager=False)
    )
    ev = sh.filter(F.col("b") < DECONTAM_EVAL_CUT).select("n", "gram").distinct()
    ev_counts = ev.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_grams")
    )
    ev_marked = ev.withColumn("_hit", F.lit(1))
    if broadcast_eval:
        ev_marked = F.broadcast(ev_marked)
    marked = sh.filter(F.col("b") >= DECONTAM_EVAL_CUT).join(
        ev_marked, ["n", "gram"], "left"
    )
    per_doc = marked.groupBy("n", "id").agg(F.count("_hit").alias("n_hit"))
    contaminated = per_doc.groupBy("n").agg(
        F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_contaminated")
    )
    n_corpus = docs.filter(b >= DECONTAM_EVAL_CUT).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus")
    )
    spine = lit_table(spark, "n int", [(n,) for n in LEAKAGE_NS])
    return (
        spine.join(ev_counts, "n", "left")
        .join(contaminated, "n", "left")
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "n",
            F.coalesce(F.col("n_eval_grams"), F.lit(0)).alias("n_eval_grams"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            "n_corpus",
            (
                F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double")
                / F.col("n_corpus").cast("double")
            ).alias("leak_rate"),
        )
    )


def _leakage_block(n: int) -> str:
    return rf"""
SELECT CAST({n} AS INTEGER) AS n,
       CAST((SELECT COUNT(*) FROM (
         SELECT DISTINCT g FROM sh{n} WHERE b < {DECONTAM_EVAL_CUT})) AS BIGINT)
         AS n_eval_grams,
       CAST((SELECT COUNT(*) FROM (
         SELECT s.doc_id FROM sh{n} s
         WHERE s.b >= {DECONTAM_EVAL_CUT}
           AND s.g IN (SELECT g FROM sh{n} WHERE b < {DECONTAM_EVAL_CUT})
         GROUP BY s.doc_id)) AS BIGINT) AS n_contaminated,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t WHERE b >= {DECONTAM_EVAL_CUT})
         AS n_corpus,
       CAST((SELECT COUNT(*) FROM (
         SELECT s.doc_id FROM sh{n} s
         WHERE s.b >= {DECONTAM_EVAL_CUT}
           AND s.g IN (SELECT g FROM sh{n} WHERE b < {DECONTAM_EVAL_CUT})
         GROUP BY s.doc_id)) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM t WHERE b >= {DECONTAM_EVAL_CUT}) AS DOUBLE)
         AS leak_rate"""


def _leakage_sh(n: int) -> str:
    return rf"""sh{n} AS (
  SELECT DISTINCT doc_id, b, g FROM (
    SELECT doc_id, b, unnest(CASE WHEN len(ws) >= {n} THEN
      list_transform(generate_series(1, len(ws) - {n} + 1),
        i -> md5(array_to_string(ws[i:i+{n}-1], ' ')))
      ELSE [] END) AS g
    FROM t)
)"""


NGRAM_LEAKAGE_ORACLE = (
    r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           % 10000 AS b
  FROM documents
),
"""
    + ",\n".join(_leakage_sh(n) for n in LEAKAGE_NS)
    + "\nUNION ALL".join(_leakage_block(n) for n in LEAKAGE_NS)
)


# --- end-to-end training-data pipeline ---------------------------------------

def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data export as ONE composed DataFrame plan —
    every stage is a declared primitive with its own green oracle, chained
    the way a real pipeline runs them:

        quality gate (linear classifier keep)
      → exact dedup (min-id survivor per content hash)
      → train split (content-hash buckets; eval/val held out)
      → benchmark decontamination (drop any train doc sharing a 4-gram
        with the held-out eval split)
      → deterministic shuffle + shard/sequence assignment

    Output: (doc_id, shard, seq) for the exported corpus. One lineage
    end-to-end with a single lazy materialization at the train split —
    the split feeds BOTH the decontaminator's gram side and the final
    anti-join, so without the break the whole
    quality→dedup→split prefix is planned and computed twice (guide
    §3.3); a real pipeline materializes exactly this boundary anyway.
    The result is hash-compared against a single chained-CTE oracle."""
    docs = load(spark, sf_dir, "documents")
    quality = (
        textstats.linear_quality_classifier(
            docs, "text", "doc_id", CLASSIFIER_WEIGHTS, bias=CLASSIFIER_BIAS
        )
        .filter(F.col("keep"))
        .select(F.col("id").alias("doc_id"))
    )
    qd = docs.join(quality, "doc_id")
    deduped = dedup.exact_dedup(qd, "text", "doc_id")
    b = sampling.hash_bucket(F.col("doc_id"))
    train = deduped.filter(b >= 2000).localCheckpoint(eager=False)
    eval_set = docs.filter(b < DECONTAM_EVAL_CUT)
    contaminated = decontam.contamination(
        train, eval_set, text_col="text", id_col="doc_id", n=DECONTAM_N
    ).select(F.col("id").alias("doc_id"))
    clean = train.join(contaminated, "doc_id", "left_anti")
    return sampling.shard_corpus(clean, "doc_id", N_SHARDS).select(
        "doc_id", "shard", "seq"
    )


TRAINING_PIPELINE_ORACLE = rf"""
WITH w(token, w) AS (VALUES {_W_VALUES}),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY doc_id, token
),
dot AS (
  SELECT doc_id, SUM(tf * w) AS d FROM tf JOIN w USING (token) GROUP BY doc_id
),
q AS (
  SELECT d.doc_id, d.text FROM documents d LEFT JOIN dot ON dot.doc_id = d.doc_id
  WHERE CAST(COALESCE(dot.d, CAST(0 AS DECIMAL(12,6)))
             + CAST({CLASSIFIER_BIAS} AS DECIMAL(12,6)) AS DOUBLE) >= 0.0
),
surv AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
train AS (
  SELECT doc_id, text FROM surv
  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
          % 10000 >= 2000
),
evdocs AS (
  SELECT doc_id, text FROM documents
  WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
          % 10000 < {DECONTAM_EVAL_CUT}
),
evsh AS (
  SELECT DISTINCT g FROM (
    SELECT unnest(CASE WHEN len(ws) >= {DECONTAM_N} THEN
      list_transform(generate_series(1, len(ws) - {DECONTAM_N} + 1),
        i -> md5(array_to_string(ws[i:i+{DECONTAM_N}-1], ' ')))
      ELSE [] END) AS g
    FROM (SELECT string_split_regex(lower(text), '\s+') AS ws FROM evdocs))
),
trsh AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(CASE WHEN len(ws) >= {DECONTAM_N} THEN
      list_transform(generate_series(1, len(ws) - {DECONTAM_N} + 1),
        i -> md5(array_to_string(ws[i:i+{DECONTAM_N}-1], ' ')))
      ELSE [] END) AS g
    FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM train))
),
cont AS (SELECT DISTINCT t.doc_id FROM trsh t JOIN evsh USING (g)),
clean AS (
  SELECT doc_id FROM train WHERE doc_id NOT IN (SELECT doc_id FROM cont)
)
SELECT doc_id, CAST(h % {N_SHARDS} AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id) - 1
            AS INT) AS seq
FROM (
  SELECT doc_id,
         CAST('0x' || substring(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 7)
              AS BIGINT) AS h
  FROM clean
)
"""




def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (emails / IPs / phone numbers → typed placeholders,
    plus audit counts). The synthetic corpus contains no organic PII, so the
    query first plants deterministic PII derived from ``doc_id`` (pure
    integer/string arithmetic — the oracle plants the identical tokens);
    the scrub operator itself is data-independent."""
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(F.lit(" contact user"), s(d), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 1,
                F.concat(
                    F.lit(" call 555-"), s(d % 900 + 100), F.lit("-"), s(d % 9000 + 1000)
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 5 == 2,
                F.concat(
                    F.lit(" from 10."), s(d % 256), F.lit("."), s((d * 3) % 256),
                    F.lit("."), s(d % 254 + 1),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii.scrub_pii(aug, "text", "doc_id").withColumnRenamed("id", "doc_id")


_PII_EMAIL, _PII_IP, _PII_PHONE = (p for _, p, _ in pii.PII_PATTERNS)
PII_SCRUB_ORACLE = rf"""
WITH aug AS (
  SELECT doc_id, text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 1
            THEN ' call 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)
                 || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 5 = 2
            THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                 || '.' || CAST(doc_id % 254 + 1 AS VARCHAR)
            ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
         t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_IP}', '<IP>', 'g'),
            '{_PII_PHONE}', '<PHONE>', 'g') AS text,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
       len(regexp_extract_all(t, '{_PII_IP}')) AS n_ip,
       len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone
FROM aug
"""


def fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return textstats.fingerprint(docs, "text", "doc_id").withColumnRenamed("id", "doc_id")


FINGERPRINT_ORACLE = r"""
WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents)
SELECT doc_id,
       CASE WHEN len(ws) >= 3 THEN
         array_to_string(
           list_sort(list_distinct(list_transform(
             generate_series(1, len(ws) - 2),
             i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           )))[1:4], '|')
       ELSE '' END AS fingerprint
FROM t
"""


# --- exact-substring (duplicated n-gram span) dedup --------------------------

SPAN_N = 6

# shared CTE prefix: n-gram starts -> corpus-duplicated grams (word 6-grams,
# md5 keys; DuckDB list slice t[i : i+5] == Spark slice(toks, i, 6))
_SPAN_STARTS_SQL = rf"""
toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
),
starts AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - {SPAN_N - 2}), i -> i)) - 1 AS pos,
         unnest(list_transform(range(1, len(t) - {SPAN_N - 2}),
                i -> md5(array_to_string(t[i : i + {SPAN_N - 1}], ' ')))) AS gram
  FROM toks WHERE len(t) >= {SPAN_N}
),
dup AS (
  SELECT gram FROM starts GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
)
"""


def dup_span_coverage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return spans.duplicated_span_coverage(
        docs, "text", "doc_id", n=SPAN_N
    ).withColumnRenamed("id", "doc_id")


DUP_SPAN_COVERAGE_ORACLE = rf"""
WITH {_SPAN_STARTS_SQL},
marked AS (
  SELECT s.doc_id, s.pos,
         (s.pos + {SPAN_N - 1}) - GREATEST(s.pos - 1,
             COALESCE(MAX(s.pos) OVER (PARTITION BY s.doc_id ORDER BY s.pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + {SPAN_N - 1},
                 -1)) AS contrib
  FROM starts s JOIN dup USING (gram)
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS dup_starts, SUM(contrib) AS covered
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
       len(string_split_regex(lower(d.text), '\s+')) AS n_tokens,
       CAST(COALESCE(p.dup_starts, 0) AS BIGINT) AS dup_starts,
       CAST(COALESCE(p.covered, 0) AS BIGINT) AS covered_tokens,
       CAST(COALESCE(p.covered, 0) AS DOUBLE)
         / CAST(len(string_split_regex(lower(d.text), '\s+')) AS DOUBLE) AS dup_fraction
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def hot_grams_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate report: top-20 most document-frequent word trigrams
    (``spans.hot_grams``) — the observability query behind the dedup
    family's doc-frequency cutoffs."""
    docs = load(spark, sf_dir, "documents")
    return spans.hot_grams(docs, "text", "doc_id", n=3, k=20)


HOT_GRAMS_ORACLE = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
  FROM t WHERE len(ws) >= 3
)
SELECT gram, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM g GROUP BY gram
ORDER BY df DESC, tf DESC, gram ASC
LIMIT 20
"""


def scrub_dup_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return spans.scrub_duplicated_spans(
        docs, "text", "doc_id", n=SPAN_N
    ).withColumnRenamed("id", "doc_id")


SCRUB_DUP_SPANS_ORACLE = rf"""
WITH {_SPAN_STARTS_SQL},
firsts AS (
  SELECT gram, doc_id AS first_id, pos AS first_pos FROM (
    SELECT s.gram, s.doc_id, s.pos,
           ROW_NUMBER() OVER (PARTITION BY s.gram ORDER BY s.doc_id, s.pos) AS rn
    FROM starts s JOIN dup USING (gram)
  ) WHERE rn = 1
),
removals AS (
  SELECT s.doc_id, s.pos FROM starts s JOIN firsts f USING (gram)
  WHERE NOT (s.doc_id = f.first_id AND s.pos = f.first_pos)
),
tokpos AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos FROM toks
),
merged AS (
  SELECT doc_id, pos, tok, CAST(NULL AS INT) AS endp, 1 AS kind FROM tokpos
  UNION ALL
  SELECT doc_id, pos, NULL, pos + {SPAN_N - 1}, 0 FROM removals
),
reach AS (
  SELECT doc_id, pos, tok, kind,
         MAX(endp) OVER (PARTITION BY doc_id ORDER BY pos, kind
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
  FROM merged
),
kept AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_scrubbed
  FROM reach WHERE kind = 1 AND COALESCE(r, -1) < pos
  GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(k.text_scrubbed, '') AS text_scrubbed
FROM documents d LEFT JOIN kept k USING (doc_id)
"""


# --- ANN ---------------------------------------------------------------------

N_PLANES = 4


def _bucket_sql(n_planes: int) -> str:
    planes = ann.hyperplanes(n_planes, 64)
    plane_values = ", ".join(
        f"({p}, {i + 1}, {v!r})"
        for p, plane in enumerate(planes)
        for i, v in enumerate(plane)
    )
    return f"""
planes(pid, i, val) AS (VALUES {plane_values}),
proj AS (
  SELECT e.vec_id, p.pid,
         SUM({_EMB_Q.format(x='e.embedding[p.i]')} * {_EMB_Q.format(x='p.val')}) AS s
  FROM embeddings e, planes p
  GROUP BY e.vec_id, p.pid
),
buckets AS (
  SELECT vec_id,
         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
  FROM proj GROUP BY vec_id
)
"""


_BUCKET_SQL = _bucket_sql(N_PLANES)


N_PLANES_DEDUP = 6  # 64 buckets: pair work ∝ Σ bucket² — planes grow O(log n)


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Headline embedding near-dup: LSH-bucket candidate generation + exact
    quantized-cosine verify — the declared 100 TB path (one bucket equi-join,
    no all-pairs stage). The all-pairs leg (``embedding_neardup_pairs``)
    stays as the bounded-pool verifier. Uses more planes than the ANN top-k
    query (6 → 64 buckets) since near-dup only needs co-bucketing of
    near-identical vectors, not broad neighborhoods."""
    emb = load(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs_lsh(
        emb, "vec_id", "embedding", EMBED_DUP_THRESHOLD,
        n_planes=N_PLANES_DEDUP, dim=64,
    )


EMBED_NEARDUP_LSH_ORACLE = f"""
WITH {_bucket_sql(N_PLANES_DEDUP)},
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
terms AS (
  SELECT c.id_a, c.id_b,
         {_EMB_Q.format(x='ea.embedding[i]')} AS xa,
         {_EMB_Q.format(x='eb.embedding[i]')} AS xb
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b, generate_series(1, 64) AS t(i)
),
scores AS (
  SELECT id_a, id_b,
         CAST(SUM(xa * xb) AS DOUBLE)
           / (sqrt(CAST(SUM(xa * xa) AS DOUBLE)) * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS cos
  FROM terms GROUP BY id_a, id_b
)
SELECT id_a, id_b, cos FROM scores WHERE cos >= {EMBED_DUP_THRESHOLD}
"""


def semantic_decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (`decontam.embedding_decontaminate`):
    content-hash split of the vector table, then every TEST vector flagged
    whose cosine to some TRAIN vector clears the near-dup threshold —
    catches the paraphrase-shaped eval leakage the 13-gram pass can't see.
    LSH-bucketed test×train join (never |test|·|train|), exact quantized-
    cosine verify."""
    from graphrag_toolkit_spark.operators.decontam import embedding_decontaminate
    from graphrag_toolkit_spark.operators.sampling import train_val_test_split

    emb = load(spark, sf_dir, "embeddings")
    split = train_val_test_split(emb, "vec_id")
    test = split.filter(F.col("split") == "test").select("vec_id", "embedding")
    train = split.filter(F.col("split") == "train").select("vec_id", "embedding")
    return embedding_decontaminate(
        test, train, "vec_id", "embedding", EMBED_DUP_THRESHOLD,
        n_planes=N_PLANES_DEDUP,
    ).orderBy("test_id", "train_id")


SEMANTIC_DECON_ORACLE = f"""
WITH {{bucket_sql}},
split AS (
  SELECT vec_id,
         CASE WHEN b < 1000 THEN 'test'
              WHEN b < 2000 THEN 'val' ELSE 'train' END AS split
  FROM (
    SELECT vec_id,
           CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT)
             % 10000 AS b
    FROM embeddings
  )
),
cand AS (
  SELECT t.vec_id AS test_id, r.vec_id AS train_id
  FROM buckets t
  JOIN split st ON st.vec_id = t.vec_id AND st.split = 'test'
  JOIN buckets r ON r.bucket = t.bucket
  JOIN split sr ON sr.vec_id = r.vec_id AND sr.split = 'train'
),
terms AS (
  SELECT c.test_id, c.train_id,
         {{qa}} AS xa,
         {{qb}} AS xb
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.test_id
  JOIN embeddings eb ON eb.vec_id = c.train_id, generate_series(1, 64) AS t(i)
),
scores AS (
  SELECT test_id, train_id,
         CAST(SUM(xa * xb) AS DOUBLE)
           / (sqrt(CAST(SUM(xa * xa) AS DOUBLE))
              * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS cos
  FROM terms GROUP BY test_id, train_id
)
SELECT test_id, train_id, cos FROM scores WHERE cos >= {EMBED_DUP_THRESHOLD}
ORDER BY test_id, train_id
""".format(
    bucket_sql=_bucket_sql(N_PLANES_DEDUP),
    qa=_EMB_Q.format(x="ea.embedding[i]"),
    qb=_EMB_Q.format(x="eb.embedding[i]"),
)


# --- dimension-truncation (Matryoshka) audit ---------------------------------

TRUNC_KEEP_DIMS = 32
TRUNC_THRESHOLD = EMBED_DUP_THRESHOLD


def truncation_audit_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (`pq.truncation_audit`): over the SAME
    sign-LSH candidate pairs the dedup path uses, compare the exact
    quantized cosine at 64 dims vs the first 32 — one row of
    (n_pairs, agree_rate at the dedup threshold, mean_abs_delta, corr).
    The go/no-go measurement for halving index scan bytes."""
    from graphrag_toolkit_spark.operators.pq import truncation_audit

    emb = load(spark, sf_dir, "embeddings")
    return truncation_audit(
        emb, "vec_id", "embedding",
        keep_dims=TRUNC_KEEP_DIMS, threshold=TRUNC_THRESHOLD,
        n_planes=N_PLANES_DEDUP, dim=64,
    )


TRUNCATION_AUDIT_ORACLE = """
WITH {bucket_sql},
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
full_terms AS (
  SELECT c.id_a, c.id_b, {qa} AS xa, {qb} AS xb
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b, generate_series(1, 64) AS t(i)
),
full_scores AS (
  SELECT id_a, id_b,
         CAST(SUM(xa * xb) AS DOUBLE)
           / (sqrt(CAST(SUM(xa * xa) AS DOUBLE))
              * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS cf
  FROM full_terms GROUP BY id_a, id_b
),
half_terms AS (
  SELECT c.id_a, c.id_b, {qa} AS xa, {qb} AS xb
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b, generate_series(1, {keep}) AS t(i)
),
half_scores AS (
  SELECT id_a, id_b,
         CAST(SUM(xa * xb) AS DOUBLE)
           / (sqrt(CAST(SUM(xa * xa) AS DOUBLE))
              * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS ch
  FROM half_terms GROUP BY id_a, id_b
),
paired AS (
  SELECT f.cf, h.ch FROM full_scores f
  JOIN half_scores h ON f.id_a = h.id_a AND f.id_b = h.id_b
),
q6 AS (
  SELECT CAST(ROUND(cf, 6) AS DECIMAL(12,6)) AS x6,
         CAST(ROUND(ch, 6) AS DECIMAL(12,6)) AS y6,
         CAST(ROUND(ABS(cf - ch), 6) AS DECIMAL(12,6)) AS d6,
         CASE WHEN (cf >= {th}) = (ch >= {th}) THEN 1 ELSE 0 END AS agree
  FROM paired
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(agree) AS BIGINT) AS n_agree,
         SUM(d6) AS sd, SUM(x6) AS sx, SUM(y6) AS sy,
         SUM(CAST(x6 * y6 AS DECIMAL(28,12))) AS sxy,
         SUM(CAST(x6 * x6 AS DECIMAL(28,12))) AS sxx,
         SUM(CAST(y6 * y6 AS DECIMAL(28,12))) AS syy
  FROM q6
)
SELECT n_pairs,
       CAST(n_agree AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS agree_rate,
       CAST(sd AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS mean_abs_delta,
       CASE WHEN sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN (CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END AS corr
FROM g
""".format(
    bucket_sql=_bucket_sql(N_PLANES_DEDUP),
    qa=_EMB_Q.format(x="ea.embedding[i]"),
    qb=_EMB_Q.format(x="eb.embedding[i]"),
    keep=TRUNC_KEEP_DIMS,
    th=TRUNC_THRESHOLD,
)


# banded recall-amplified generator for the recall measurement: k=3 planes
# × L=8 bands → theoretical recall 1-(1-p³)⁸ ≈ 0.88 at the fixture's wide
# angle (cos 0.35 ⇒ p = 1-θ/π ≈ 0.614). See the operator docstring for why
# loose thresholds are LSH-hostile; the point of this query is to MEASURE it.
RECALL_PLANES = 3
RECALL_BANDS = 8


def embedding_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness check as a first-class query: recall of the banded-LSH
    near-dup path against the all-pairs exact verifier at the same
    threshold. One row (n_exact, n_lsh, n_inter, recall) — the measured
    price of the scale path, hash-checked so it can't silently rot."""
    emb = load(spark, sf_dir, "embeddings")
    exact = dedup.embedding_near_dup_pairs(
        emb, "vec_id", "embedding", EMBED_DUP_THRESHOLD
    ).select("id_a", "id_b", F.lit(1).alias("_e"))
    lsh = dedup.embedding_near_dup_pairs_lsh_banded(
        emb, "vec_id", "embedding", EMBED_DUP_THRESHOLD,
        n_planes=RECALL_PLANES, bands=RECALL_BANDS, dim=64,
    ).select("id_a", "id_b", F.lit(1).alias("_l"))
    joined = exact.join(lsh, ["id_a", "id_b"], "full")
    return joined.agg(
        F.count("_e").alias("n_exact"),
        F.count("_l").alias("n_lsh"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1)).alias("n_inter"),
    ).select(
        "n_exact", "n_lsh", "n_inter",
        (F.col("n_inter").cast("double") / F.col("n_exact")).alias("recall"),
    )


def _banded_bucket_sql(n_planes: int, bands: int) -> str:
    """Per-band sign-signature CTE ``bbuckets(vec_id, band, bucket)`` using
    the same hyperplane literals as the Spark side."""
    planes = ann.hyperplanes(n_planes * bands, 64)
    plane_values = ", ".join(
        f"({p}, {i + 1}, {v!r})"
        for p, plane in enumerate(planes)
        for i, v in enumerate(plane)
    )
    return f"""
planes(pid, i, val) AS (VALUES {plane_values}),
proj AS (
  SELECT e.vec_id, p.pid,
         SUM({_EMB_Q.format(x='e.embedding[p.i]')} * {_EMB_Q.format(x='p.val')}) AS s
  FROM embeddings e, planes p
  GROUP BY e.vec_id, p.pid
),
bbuckets AS (
  SELECT vec_id, pid // {n_planes} AS band,
         string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY pid) AS bucket
  FROM proj GROUP BY vec_id, pid // {n_planes}
)"""


def _lsh_pairs_cte(n_planes: int, bands: int) -> str:
    """Banded LSH candidate+verify pair list as CTEs ending in ``lsh_pairs``."""
    return f"""{_banded_bucket_sql(n_planes, bands)},
lcand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bbuckets a
  JOIN bbuckets b ON a.band = b.band AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
),
lterms AS (
  SELECT c.id_a, c.id_b,
         {_EMB_Q.format(x='ea.embedding[i]')} AS xa,
         {_EMB_Q.format(x='eb.embedding[i]')} AS xb
  FROM lcand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b, generate_series(1, 64) AS t(i)
),
lsh_pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           CAST(SUM(xa * xb) AS DOUBLE)
             / (sqrt(CAST(SUM(xa * xa) AS DOUBLE)) * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS cos
    FROM lterms GROUP BY id_a, id_b
  ) WHERE cos >= {EMBED_DUP_THRESHOLD}
)"""


EMBED_NEARDUP_RECALL_ORACLE = f"""
WITH eterms AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_EMB_Q.format(x='a.embedding[i]')} AS xa,
         {_EMB_Q.format(x='b.embedding[i]')} AS xb
  FROM embeddings a
  JOIN embeddings b ON a.vec_id < b.vec_id, generate_series(1, 64) AS t(i)
),
exact_pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           CAST(SUM(xa * xb) AS DOUBLE)
             / (sqrt(CAST(SUM(xa * xa) AS DOUBLE)) * sqrt(CAST(SUM(xb * xb) AS DOUBLE))) AS cos
    FROM eterms GROUP BY id_a, id_b
  ) WHERE cos >= {EMBED_DUP_THRESHOLD}
),
{_lsh_pairs_cte(RECALL_PLANES, RECALL_BANDS)}
SELECT
  (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
  (SELECT COUNT(*) FROM lsh_pairs) AS n_lsh,
  (SELECT COUNT(*) FROM exact_pairs e JOIN lsh_pairs l
     ON e.id_a = l.id_a AND e.id_b = l.id_b) AS n_inter,
  CAST((SELECT COUNT(*) FROM exact_pairs e JOIN lsh_pairs l
     ON e.id_a = l.id_a AND e.id_b = l.id_b) AS DOUBLE)
    / (SELECT COUNT(*) FROM exact_pairs) AS recall
"""



def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann.lsh_topk(
        emb, queries, id_col="vec_id", n_planes=N_PLANES, dim=64, k=5
    )


ANN_LSH_ORACLE = f"""
WITH {_BUCKET_SQL},
q AS (
  SELECT e.vec_id AS query_id, e.embedding AS qemb, b.bucket
  FROM embeddings e JOIN buckets b USING (vec_id) WHERE e.vec_id < 3
),
cand AS (
  SELECT q.query_id, q.qemb, e.vec_id, e.embedding
  FROM q JOIN buckets b ON b.bucket = q.bucket
  JOIN embeddings e ON e.vec_id = b.vec_id
),
terms AS (
  SELECT query_id, vec_id,
         {_EMB_Q.format(x='embedding[i]')} AS xe,
         {_EMB_Q.format(x='qemb[i]')} AS xq
  FROM cand, generate_series(1, 64) AS t(i)
),
scores AS (
  SELECT query_id, vec_id,
         CAST(SUM(xe * xq) AS DOUBLE)
           / (sqrt(CAST(SUM(xe * xe) AS DOUBLE)) * sqrt(CAST(SUM(xq * xq) AS DOUBLE))) AS score
  FROM terms GROUP BY query_id, vec_id
)
SELECT query_id, vec_id AS id, score, rank FROM (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM scores
) WHERE rank <= 5
"""


N_CENTROIDS = 8
NPROBE = 2


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    queries = emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 13)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return ann.ivf_topk(
        emb, centroids, queries, id_col="vec_id", nprobe=NPROBE, k=5
    )


IVF_RECALL_K = 5


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF completeness check, the `embedding_neardup_recall` twin for the
    other index family: recall@k of the nprobe-bounded IVF probe against
    the exact brute-force cosine top-k, per query — the measured price of
    probing nprobe of the centroid lists instead of scanning the corpus.
    The brute-force leg is the bounded verifier (|queries|×corpus, queries
    broadcast); recall is integer hits over one exact division."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    queries = emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 13)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    ivf = ann.ivf_topk(
        emb, centroids, queries, id_col="vec_id", nprobe=NPROBE, k=IVF_RECALL_K
    ).select("query_id", "id", F.lit(1).alias("_i"))
    from graphrag_toolkit_spark.functions.vector import cosine_similarity_quantized

    q = queries.select("query_id", F.col("embedding").alias("qe"))
    scored = emb.crossJoin(F.broadcast(q)).withColumn(
        "score", cosine_similarity_quantized(F.col("embedding"), F.col("qe"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    exact = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= IVF_RECALL_K)
        .select("query_id", F.col("vec_id").alias("id"))
    )
    return (
        exact.join(ivf, ["query_id", "id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("_i").cast("long").alias("n_hit"),
            (F.count("_i").cast("double") / F.lit(float(IVF_RECALL_K))).alias(
                "recall"
            ),
        )
        .orderBy("query_id")
    )




KMEANS_ITERS = 2


def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-IVF leg end-to-end, now HASH-GATED: `train_centroids_lloyd`
    (content-hash order-statistic init + exact-decimal Lloyd updates —
    partitioning-invariant and engine-exact, unlike k-means|| whose
    per-partition init sampling kept this query rows-only through round 3)
    feeding the same probe/rerank pipeline. The MLlib trainer
    (`train_centroids_kmeans`) remains the black-box production alternative,
    covered by the recall contract in tests/test_dataprep_ops.py."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = ann.train_centroids_lloyd(
        emb, n_centroids=N_CENTROIDS, id_col="vec_id", iters=KMEANS_ITERS
    )
    queries = emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 13)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    return ann.ivf_topk(
        emb, centroids, queries, id_col="vec_id", nprobe=NPROBE, k=5
    )


def _lloyd_iter_sql(n: int) -> str:
    """One unrolled Lloyd iteration as DuckDB CTEs: score vs c{n-1} →
    argmax assignment → per-dimension exact-decimal means → re-quantized
    centroids c{n} (empty clusters keep the previous centroid)."""
    p = n - 1
    return f"""
s{n} AS (
  SELECT p.id, c.cid, CAST(SUM(p.qv[i] * c.qc[i]) AS DOUBLE) AS dot
  FROM pool p, c{p} c, generate_series(1, 64) AS t(i)
  GROUP BY p.id, c.cid
),
a{n} AS (
  SELECT id, cid FROM (
    SELECT s.id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY s.id
             ORDER BY s.dot / (v.nv * cn.nc) DESC, s.cid
           ) AS rn
    FROM s{n} s
    JOIN vnorm v ON v.id = s.id
    JOIN cnorm{p} cn ON cn.cid = s.cid
  ) WHERE rn = 1
),
m{n} AS (
  SELECT a.cid, t.i, CAST(SUM(p.qv[i]) AS DOUBLE) / COUNT(*) AS mean
  FROM a{n} a JOIN pool p ON p.id = a.id, generate_series(1, 64) AS t(i)
  GROUP BY a.cid, t.i
),
c{n} AS (
  SELECT prev.cid, COALESCE(m.qc, prev.qc) AS qc
  FROM c{p} prev LEFT JOIN (
    SELECT cid, list(CAST(ROUND(mean, 6) AS DECIMAL(12,6)) ORDER BY i) AS qc
    FROM m{n} GROUP BY cid
  ) m ON m.cid = prev.cid
),
cnorm{n} AS (
  SELECT c.cid, sqrt(CAST(SUM(c.qc[i] * c.qc[i]) AS DOUBLE)) AS nc
  FROM c{n} c, generate_series(1, 64) AS t(i) GROUP BY c.cid
)"""


_KM_FINAL = KMEANS_ITERS

ANN_IVF_KMEANS_ORACLE = f"""
WITH pool AS (
  SELECT vec_id AS id,
         list_transform(embedding,
                        x -> CAST(ROUND(CAST(x AS DOUBLE), 6) AS DECIMAL(12,6))) AS qv
  FROM embeddings
),
vnorm AS (
  SELECT p.id, sqrt(CAST(SUM(p.qv[i] * p.qv[i]) AS DOUBLE)) AS nv
  FROM pool p, generate_series(1, 64) AS t(i) GROUP BY p.id
),
h AS (
  SELECT id, qv,
         CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 7) AS BIGINT) AS hv
  FROM pool
),
c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY hv, id) - 1 AS cid, qv AS qc
  FROM h QUALIFY ROW_NUMBER() OVER (ORDER BY hv, id) <= {N_CENTROIDS}
),
cnorm0 AS (
  SELECT c.cid, sqrt(CAST(SUM(c.qc[i] * c.qc[i]) AS DOUBLE)) AS nc
  FROM c0 c, generate_series(1, 64) AS t(i) GROUP BY c.cid
),{",".join(_lloyd_iter_sql(i) for i in range(1, KMEANS_ITERS + 1))},
fs AS (
  SELECT p.id, c.cid, CAST(SUM(p.qv[i] * c.qc[i]) AS DOUBLE) AS dot
  FROM pool p, c{_KM_FINAL} c, generate_series(1, 64) AS t(i)
  GROUP BY p.id, c.cid
),
fscore AS (
  SELECT s.id, s.cid, s.dot / (v.nv * cn.nc) AS score
  FROM fs s
  JOIN vnorm v ON v.id = s.id
  JOIN cnorm{_KM_FINAL} cn ON cn.cid = s.cid
),
assigned AS (
  SELECT id AS vec_id, cid FROM (
    SELECT id, cid,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, cid) AS rn
    FROM fscore
  ) WHERE rn = 1
),
probes AS (
  SELECT id AS query_id, cid FROM (
    SELECT id, cid,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, cid) AS rn
    FROM fscore WHERE id >= 10 AND id < 13
  ) WHERE rn <= {NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
),
qterms AS (
  SELECT c.query_id, c.vec_id,
         {_EMB_Q.format(x='e.embedding[i]')} AS xe,
         {_EMB_Q.format(x='q.embedding[i]')} AS xq
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id, generate_series(1, 64) AS t(i)
),
final_scores AS (
  SELECT query_id, vec_id,
         CAST(SUM(xe * xq) AS DOUBLE)
           / (sqrt(CAST(SUM(xe * xe) AS DOUBLE)) * sqrt(CAST(SUM(xq * xq) AS DOUBLE))) AS score
  FROM qterms GROUP BY query_id, vec_id
)
SELECT query_id, vec_id AS id, score, rank FROM (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM final_scores
) WHERE rank <= 5
"""


_PAIR_COSINE = f"""
  SELECT l.key_a, l.key_b,
         CAST(SUM({_EMB_Q.format(x='l.ea[i]')} * {_EMB_Q.format(x='l.eb[i]')}) AS DOUBLE)
           / (sqrt(CAST(SUM({_EMB_Q.format(x='l.ea[i]')} * {_EMB_Q.format(x='l.ea[i]')}) AS DOUBLE))
              * sqrt(CAST(SUM({_EMB_Q.format(x='l.eb[i]')} * {_EMB_Q.format(x='l.eb[i]')}) AS DOUBLE))) AS score
  FROM pairs l, generate_series(1, 64) AS t(i)
  GROUP BY l.key_a, l.key_b
"""

ANN_IVF_ORACLE = f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {N_CENTROIDS}),
pairs AS (
  SELECT e.vec_id AS key_a, c.cid AS key_b, e.embedding AS ea, c.cemb AS eb
  FROM embeddings e, cent c
),
assign_scores AS ({_PAIR_COSINE}),
assigned AS (
  SELECT key_a AS vec_id, key_b AS cid FROM (
    SELECT key_a, key_b, score,
           ROW_NUMBER() OVER (PARTITION BY key_a ORDER BY score DESC, key_b) AS rn
    FROM assign_scores
  ) WHERE rn = 1
),
probes AS (
  SELECT key_a AS query_id, key_b AS cid FROM (
    SELECT key_a, key_b, score,
           ROW_NUMBER() OVER (PARTITION BY key_a ORDER BY score DESC, key_b) AS rn
    FROM assign_scores WHERE key_a >= 10 AND key_a < 13
  ) WHERE rn <= {NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
),
qterms AS (
  SELECT c.query_id, c.vec_id,
         {_EMB_Q.format(x='e.embedding[i]')} AS xe,
         {_EMB_Q.format(x='q.embedding[i]')} AS xq
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id, generate_series(1, 64) AS t(i)
),
final_scores AS (
  SELECT query_id, vec_id,
         CAST(SUM(xe * xq) AS DOUBLE)
           / (sqrt(CAST(SUM(xe * xe) AS DOUBLE)) * sqrt(CAST(SUM(xq * xq) AS DOUBLE))) AS score
  FROM qterms GROUP BY query_id, vec_id
)
SELECT query_id, vec_id AS id, score, rank FROM (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
  FROM final_scores
) WHERE rank <= 5
"""


ANN_IVF_RECALL_ORACLE = f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < {N_CENTROIDS}),
pairs AS (
  SELECT e.vec_id AS key_a, c.cid AS key_b, e.embedding AS ea, c.cemb AS eb
  FROM embeddings e, cent c
),
assign_scores AS ({_PAIR_COSINE}),
assigned AS (
  SELECT key_a AS vec_id, key_b AS cid FROM (
    SELECT key_a, key_b, score,
           ROW_NUMBER() OVER (PARTITION BY key_a ORDER BY score DESC, key_b) AS rn
    FROM assign_scores
  ) WHERE rn = 1
),
probes AS (
  SELECT key_a AS query_id, key_b AS cid FROM (
    SELECT key_a, key_b, score,
           ROW_NUMBER() OVER (PARTITION BY key_a ORDER BY score DESC, key_b) AS rn
    FROM assign_scores WHERE key_a >= 10 AND key_a < 13
  ) WHERE rn <= {NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
),
qterms AS (
  SELECT c.query_id, c.vec_id,
         {_EMB_Q.format(x='e.embedding[i]')} AS xe,
         {_EMB_Q.format(x='q.embedding[i]')} AS xq
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.query_id, generate_series(1, 64) AS t(i)
),
final_scores AS (
  SELECT query_id, vec_id,
         CAST(SUM(xe * xq) AS DOUBLE)
           / (sqrt(CAST(SUM(xe * xe) AS DOUBLE)) * sqrt(CAST(SUM(xq * xq) AS DOUBLE))) AS score
  FROM qterms GROUP BY query_id, vec_id
),
ivf AS (
  SELECT query_id, vec_id AS id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
    FROM final_scores
  ) WHERE rank <= {IVF_RECALL_K}
),
epairs AS (
  SELECT q.vec_id AS key_a, e.vec_id AS key_b, q.embedding AS ea, e.embedding AS eb
  FROM embeddings q, embeddings e
  WHERE q.vec_id >= 10 AND q.vec_id < 13
),
exact_scores AS ({_PAIR_COSINE.replace("FROM pairs l", "FROM epairs l")}),
exact AS (
  SELECT key_a AS query_id, key_b AS id FROM (
    SELECT key_a, key_b,
           ROW_NUMBER() OVER (PARTITION BY key_a ORDER BY score DESC, key_b) AS rn
    FROM exact_scores
  ) WHERE rn <= {IVF_RECALL_K}
)
SELECT x.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(COUNT(v.id) AS BIGINT) AS n_hit,
       CAST(COUNT(v.id) AS DOUBLE) / {float(IVF_RECALL_K)} AS recall
FROM exact x
LEFT JOIN ivf v ON v.query_id = x.query_id AND v.id = x.id
GROUP BY x.query_id
ORDER BY x.query_id
"""


# --- multimodal plumbing -----------------------------------------------------

# --- product quantization ----------------------------------------------------

PQ_SUB = 8
PQ_CENT = 16
PQ_SUB_DIM = 64 // PQ_SUB
PQ_K = 10


def _pq_codebook(spark: SparkSession, sf_dir: str):
    emb = load(spark, sf_dir, "embeddings")
    return pq.codebook_first_c(emb, "vec_id", "embedding", PQ_SUB, PQ_CENT)


OOV_MIN_COUNT = 5


def oov_rate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the corpus vocabulary
    (`packing.build_vocab` at min_count={OOV_MIN_COUNT}): token share and
    distinct-type count that a trained tokenizer/vocab would map to UNK —
    the coverage check run before freezing a vocab, and the per-domain
    drill-down when one source drags coverage down. Tail tokens
    (freq < min_count) are the OOV set, exactly the tokens
    `encode_documents` sends to UNK_ID.

    Scale shape: one token groupBy to build the vocab (≪ corpus), then an
    AQE-strategy vocab join over the token scan aggregated per source —
    integer counts, one exact-operand division for the rate."""
    docs = load(spark, sf_dir, "documents")
    vocab = packing.build_vocab(docs, "text", min_count=OOV_MIN_COUNT).select(
        "token", F.lit(1).alias("in_vocab")
    )
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"[^0-9a-z]+")).alias("token"),
    ).filter(F.col("token") != "")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    # the min_count cap bounds the vocab's RANK, not its byte size — at
    # web-corpus scale the >=5-count vocabulary is still Heaps'-law large,
    # so no broadcast hint: AQE picks broadcast while it fits and a
    # shuffle join when it does not
    return (
        toks.join(vocab, "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_tokens"),
            F.sum(oov).cast("long").alias("oov_tokens"),
            F.count_distinct(
                F.when(F.col("in_vocab").isNull(), F.col("token"))
            ).cast("long").alias("oov_types"),
            (F.sum(oov).cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("oov_rate"),
        )
        .orderBy("source")
    )


OOV_RATE_ORACLE = f"""
WITH tk AS (
  SELECT source, token FROM (
    SELECT source,
           unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM documents
  ) WHERE token <> ''
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS freq FROM tk GROUP BY token
  ) WHERE freq >= {OOV_MIN_COUNT}
)
SELECT tk.source,
       CAST(COUNT(*) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(COUNT(DISTINCT CASE WHEN v.token IS NULL THEN tk.token END)
            AS BIGINT) AS oov_types,
       CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS oov_rate
FROM tk LEFT JOIN vocab v ON tk.token = v.token
GROUP BY tk.source
ORDER BY tk.source
"""


# Percentile bounds for the length gate: exact order statistics at
# ceil(p·n) ranks — integer thresholds, no interpolation ambiguity.
DOC_LEN_GATE_LO_PCT = 5
DOC_LEN_GATE_HI_PCT = 95


def doc_length_gate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length gate (the C4/Gopher-style 'drop the degenerate length
    tails' filter, as a per-source audit): exact p5/p95 whitespace-token-
    count thresholds via order statistics (value at rank ceil(p·n) under
    (n_tok, doc_id) total order), then per-source kept / dropped-short /
    dropped-long counts and the kept fraction.

    EXACTNESS: thresholds are integer token counts picked by integer
    rank — no percentile interpolation (engines disagree on those); the
    kept fraction is one exact-operand division.

    Scale shape: NO single-partition window anywhere (operators/ranks.py).
    One narrow token-count projection; the bucket-count table (≤1024 rows)
    locates which buckets contain the p5/p95 ranks, so ONLY those 1-2
    buckets' rows are ranked (partitioned windows) — the rest of the corpus
    never sorts at all; the gate is a map-side comparison + per-source
    aggregate against the one-row broadcast thresholds."""
    from graphrag_toolkit_spark.operators import ranks

    docs = load(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", "source", F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_tok")
    )
    lens = lens.localCheckpoint(eager=False)  # offsets + candidate + gate legs
    b = ranks.with_range_bucket(lens, F.col("n_tok"))
    offs = ranks.bucket_offsets(b)
    k_lo = F.expr(f"({DOC_LEN_GATE_LO_PCT} * __n_total + 99) div 100")
    k_hi = F.expr(f"({DOC_LEN_GATE_HI_PCT} * __n_total + 99) div 100")
    holds = lambda k: (F.col("__off") < k) & (k <= F.col("__off") + F.col("__cnt"))  # noqa: E731
    cand = (
        offs.withColumn("k_lo", k_lo)
        .withColumn("k_hi", k_hi)
        .filter(holds(F.col("k_lo")) | holds(F.col("k_hi")))
        .select(ranks.BUCKET_COL, "__off", "k_lo", "k_hi")
    )
    wb = Window.partitionBy(ranks.BUCKET_COL).orderBy("n_tok", "doc_id")
    ranked = (
        b.join(F.broadcast(cand), ranks.BUCKET_COL)
        .withColumn("rk", F.col("__off") + F.row_number().over(wb))
    )
    bounds = ranked.groupBy().agg(
        F.min(F.when(F.col("rk") == F.col("k_lo"), F.col("n_tok"))).alias("lo"),
        F.min(F.when(F.col("rk") == F.col("k_hi"), F.col("n_tok"))).alias("hi"),
    )
    g = lens.crossJoin(F.broadcast(bounds))
    kept = F.when((F.col("n_tok") >= F.col("lo")) & (F.col("n_tok") <= F.col("hi")), 1).otherwise(0)
    return (
        g.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("kept"),
            F.sum(F.when(F.col("n_tok") < F.col("lo"), 1).otherwise(0))
            .cast("long").alias("dropped_short"),
            F.sum(F.when(F.col("n_tok") > F.col("hi"), 1).otherwise(0))
            .cast("long").alias("dropped_long"),
            F.min("lo").cast("long").alias("lo_tokens"),
            F.min("hi").cast("long").alias("hi_tokens"),
            (F.sum(kept).cast("double") / F.count(F.lit(1)).cast("double"))
            .alias("kept_frac"),
        )
        .orderBy("source")
    )


DOC_LEN_GATE_ORACLE = rf"""
WITH lens AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
  FROM documents
),
ranked AS (
  SELECT n_tok, ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rk FROM lens
),
n AS (SELECT COUNT(*) AS n_total FROM lens),
bounds AS (
  SELECT MIN(CASE WHEN rk = ({DOC_LEN_GATE_LO_PCT} * n_total + 99) // 100
                  THEN n_tok END) AS lo,
         MIN(CASE WHEN rk = ({DOC_LEN_GATE_HI_PCT} * n_total + 99) // 100
                  THEN n_tok END) AS hi
  FROM ranked, n
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tok BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT)
         AS kept,
       CAST(SUM(CASE WHEN n_tok < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped_short,
       CAST(SUM(CASE WHEN n_tok > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS dropped_long,
       CAST(MIN(lo) AS BIGINT) AS lo_tokens,
       CAST(MIN(hi) AS BIGINT) AS hi_tokens,
       CAST(SUM(CASE WHEN n_tok BETWEEN lo AND hi THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS kept_frac
FROM lens, bounds
GROUP BY source
ORDER BY source
"""


def lsh_bucket_purity_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the sign-LSH buckets (same 6-plane/64-bucket space
    as `embedding_neardup_lsh`): per bucket — occupancy, majority label
    (ties to the smaller label), and purity = majority share. The
    diagnostic that tells you whether an LSH partition is label-coherent
    enough to serve as a cheap router/shard key before paying for trained
    centroids. One narrow projection + two aggregates; purity is a single
    exact-operand division."""
    emb = load(spark, sf_dir, "embeddings")
    planes = ann.hyperplanes(N_PLANES_DEDUP, 64)
    b = emb.select(
        "vec_id", "label", ann.lsh_bucket(F.col("embedding"), planes).alias("bucket")
    )
    cnt = b.groupBy("bucket", "label").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("bucket").orderBy(F.desc("n"), F.asc("label"))
    maj = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("bucket", F.col("label").alias("majority_label"),
                F.col("n").alias("majority_n"))
    )
    sz = cnt.groupBy("bucket").agg(F.sum("n").cast("long").alias("n_vecs"))
    return (
        sz.join(maj, "bucket")
        .select(
            "bucket", "n_vecs",
            "majority_label",
            F.col("majority_n").cast("long").alias("majority_n"),
            (F.col("majority_n").cast("double") / F.col("n_vecs").cast("double"))
            .alias("purity"),
        )
        .orderBy("bucket")
    )


def _lsh_purity_oracle() -> str:
    return f"""
WITH {_bucket_sql(N_PLANES_DEDUP)},
bl AS (
  SELECT b.bucket, e.label FROM buckets b JOIN embeddings e USING (vec_id)
),
cnt AS (
  SELECT bucket, label, CAST(COUNT(*) AS BIGINT) AS n FROM bl GROUP BY 1, 2
),
sz AS (SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_vecs FROM cnt GROUP BY 1),
maj AS (
  SELECT bucket, label AS majority_label, n AS majority_n FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
                                 ORDER BY n DESC, label) AS rn
    FROM cnt
  ) WHERE rn = 1
)
SELECT s.bucket, s.n_vecs, m.majority_label,
       CAST(m.majority_n AS BIGINT) AS majority_n,
       CAST(m.majority_n AS DOUBLE) / CAST(s.n_vecs AS DOUBLE) AS purity
FROM sz s JOIN maj m USING (bucket)
ORDER BY bucket
"""


LSH_PURITY_ORACLE = _lsh_purity_oracle()


BATCH_B = 32  # rows per training batch


def sorted_batching_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-batching audit: padding waste of length-sorted batches vs
    content-hash-random batches at batch size B — the quantified case for
    the standard length-bucketing trick (a padded batch costs
    B·max_len(batch) tokens; sorting by length collapses the in-batch
    spread). One row per strategy: batches, real tokens, padded tokens,
    pad fraction. All-integer until one exact-operand division per row.

    Scale shape: each leg is one TWO-PHASE distributed rank
    (operators/ranks.py — length buckets for the sorted leg, md5-hex-prefix
    buckets for the random leg; no single-partition sort) + one batch-max
    aggregate + one scalar rollup; the two legs union."""
    from graphrag_toolkit_spark.operators import ranks

    docs = load(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias("n_tok"),
    )
    lens = lens.localCheckpoint(eager=False)  # both strategy legs read it

    def leg(bucketed: DataFrame, order_cols: list, name: str) -> DataFrame:
        batched = ranks.two_phase_row_number(bucketed, order_cols).select(
            "n_tok",
            ((F.col("rn") - 1) / F.lit(BATCH_B)).cast("long").alias("batch"),
        )
        per_batch = batched.groupBy("batch").agg(
            F.count(F.lit(1)).alias("bsz"),
            F.sum("n_tok").alias("real"),
            F.max("n_tok").alias("mx"),
        )
        padded = F.sum(F.col("bsz") * F.col("mx")).cast("long")
        return per_batch.agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("real").cast("long").alias("real_tokens"),
            padded.alias("padded_tokens"),
            (
                (padded - F.sum("real")).cast("double") / padded.cast("double")
            ).alias("pad_frac"),
        ).select(
            F.lit(name).alias("strategy"),
            "n_batches", "real_tokens", "padded_tokens", "pad_frac",
        )

    sorted_leg = leg(
        ranks.with_range_bucket(lens, F.col("n_tok")),
        [F.asc("n_tok"), F.asc("doc_id")],
        "sorted",
    )
    hashed = lens.withColumn(
        "__h", F.md5(F.concat(F.lit("sb|"), F.col("doc_id").cast("string")))
    )
    random_leg = leg(
        hashed.withColumn(
            ranks.BUCKET_COL, ranks.hex_prefix_bucket(F.col("__h"))
        ),
        [F.asc("__h"), F.asc("doc_id")],
        "random",
    )
    return sorted_leg.unionByName(random_leg).orderBy("strategy")


SORTED_BATCHING_ORACLE = rf"""
WITH lens AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok
  FROM documents
),
legs AS (
  SELECT 'sorted' AS strategy, n_tok,
         (ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) - 1) // {BATCH_B} AS batch
  FROM lens
  UNION ALL
  SELECT 'random', n_tok,
         (ROW_NUMBER() OVER (
            ORDER BY md5('sb|' || CAST(doc_id AS VARCHAR)), doc_id) - 1)
           // {BATCH_B}
  FROM lens
),
per_batch AS (
  SELECT strategy, batch,
         CAST(COUNT(*) AS BIGINT) AS bsz,
         CAST(SUM(n_tok) AS BIGINT) AS real,
         CAST(MAX(n_tok) AS BIGINT) AS mx
  FROM legs GROUP BY strategy, batch
)
SELECT strategy,
       CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(real) AS BIGINT) AS real_tokens,
       CAST(SUM(bsz * mx) AS BIGINT) AS padded_tokens,
       CAST(SUM(bsz * mx) - SUM(real) AS DOUBLE)
         / CAST(SUM(bsz * mx) AS DOUBLE) AS pad_frac
FROM per_batch
GROUP BY strategy
ORDER BY strategy
"""


HEAPS_DECILES = 10


def heaps_law_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit: V(n) ≈ K·n^β over hash-ordered
    corpus prefixes — the companion corpus-health diagnostic to
    `zipf_fit_documents` (natural text: β ≈ 0.4-0.6; templated/duplicated
    corpora flatten early, synthetic token soups run β → 1). Detects
    "vocabulary exhaustion", the classic symptom of a crawl that's been
    re-crawling itself.

    The growth curve needs distinct-token counts at every prefix, but ONE
    aggregate suffices: a token's first-appearance rank fr = min(doc rank
    containing it), and V(k) = |{t : fr_t ≤ k}| — no per-prefix rescan.
    Doc order is the content-hash order (engine-portable, re-ingestion
    stable); the ln-fit uses the zipf/word_entropy grid-quantization
    discipline with exact-decimal moment sums.

    Scale shape: one token groupBy (vocab-sized), a 10-row broadcast
    checkpoint table, a scalar moment aggregate. The doc rank is the
    TWO-PHASE distributed rank over md5-hex-prefix buckets
    (operators/ranks.py — no single-partition sort); at 100 TB swap in a
    precomputed ingest sequence number for the same total order at zero
    sort cost."""
    from graphrag_toolkit_spark.operators import ranks

    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "text",
        "doc_id",
        F.md5(F.concat(F.lit("hp|"), F.col("doc_id").cast("string"))).alias("__h"),
    )
    ranked = ranks.two_phase_row_number(
        hashed.withColumn(ranks.BUCKET_COL, ranks.hex_prefix_bucket(F.col("__h"))),
        [F.asc("__h"), F.asc("doc_id")],
        out_col="r",
    ).select("text", "r")
    tok = ranked.select(
        "r",
        F.explode(F.split(F.lower(F.col("text")), r"[^0-9a-z]+")).alias("token"),
    ).filter(F.col("token") != "")
    first = tok.groupBy("token").agg(F.min("r").alias("fr"))
    cp = (
        docs.agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(HEAPS_DECILES))).alias("decile"),
            "n",
        )
        .select(
            "decile",
            F.expr(f"(decile * n + {HEAPS_DECILES - 1}) div {HEAPS_DECILES}")
            .alias("k"),
        )
    )
    v = (
        first.crossJoin(F.broadcast(cp))
        .filter(F.col("fr") <= F.col("k"))
        .groupBy("decile", "k")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return textstats._log_log_fit(v, F.col("k"), F.col("v"), "beta")


HEAPS_LAW_ORACLE = f"""
WITH rk AS (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (
           ORDER BY md5('hp|' || CAST(doc_id AS VARCHAR)), doc_id) AS r,
         COUNT(*) OVER () AS n
  FROM documents
),
tok AS (
  SELECT r, token FROM (
    SELECT r, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
    FROM rk
  ) WHERE token <> ''
),
first AS (SELECT token, MIN(r) AS fr FROM tok GROUP BY token),
cp AS (
  SELECT i.i AS decile,
         (i.i * n + {HEAPS_DECILES - 1}) // {HEAPS_DECILES} AS k
  FROM (SELECT DISTINCT n FROM rk), generate_series(1, {HEAPS_DECILES}) AS i(i)
),
v AS (
  SELECT decile, k, CAST(COUNT(*) AS BIGINT) AS v
  FROM first, cp WHERE fr <= k GROUP BY decile, k
),
pts AS (
  SELECT CAST(ROUND(ln(k), 6) AS DECIMAL(12,6)) AS x,
         CAST(ROUND(ln(v), 6) AS DECIMAL(12,6)) AS y
  FROM v
),
agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
FROM agg
"""


CDC_WINDOW = 8     # bytes hashed per boundary probe
CDC_MASK = 64      # P(boundary) = 1/64 -> expected chunk ~64 chars


def content_chunks_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the LBFS/restic/borg dedup-storage trick,
    and the chunking layer under incremental-sync pipelines): a chunk
    boundary falls wherever the hash of the CDC_WINDOW-byte window at
    position i satisfies h % CDC_MASK == 0 — so boundaries move WITH the
    content, and an insertion only re-chunks its neighborhood instead of
    shifting every downstream chunk (what fixed-size chunking gets wrong).
    Per doc: boundary count, chunk count, first boundary, mean chunk
    length (one exact-operand division).

    Engine-portable hashing: md5 of the window (first 7 hex chars → int),
    not Spark's murmur `hash()`. The whole probe sequence is a JVM-side
    higher-order array expression (sequence → transform → filter) — no
    explode, no shuffle, no Python. Docs shorter than the window have no
    probe positions: 0 boundaries, 1 chunk, in BOTH engines. The oracle
    scans a fixed 1..{AUDIO_ORACLE_MAX_LEN} position series (same DuckDB
    constant-bound workaround — and the same fixture-length pytest —
    as the audio oracle)."""
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    length = F.length(t)
    pos = F.when(
        length >= CDC_WINDOW,
        F.sequence(F.lit(1), length - F.lit(CDC_WINDOW - 1)),
    ).otherwise(F.array().cast("array<int>"))
    probe = F.transform(
        pos,
        lambda i: F.when(
            F.conv(
                F.substring(F.md5(t.substr(i, F.lit(CDC_WINDOW))), 1, 7), 16, 10
            ).cast("long")
            % CDC_MASK
            == 0,
            i,
        ),
    )
    bnd = F.filter(probe, lambda x: x.isNotNull())
    n_b = F.size(bnd).cast("long")
    return docs.select(
        "doc_id",
        length.cast("long").alias("n_chars"),
        n_b.alias("n_boundaries"),
        (n_b + 1).cast("long").alias("n_chunks"),
        F.try_element_at(bnd, F.lit(1)).cast("long").alias("first_boundary"),
        (length.cast("double") / (n_b + 1).cast("double")).alias("mean_chunk_len"),
    ).orderBy("doc_id")


CONTENT_CHUNKS_ORACLE = f"""
WITH probes AS (
  SELECT doc_id, p.p AS i
  FROM documents, generate_series(1, {AUDIO_ORACLE_MAX_LEN}) AS p(p)
  WHERE p.p <= length(text) - {CDC_WINDOW - 1}
    AND CAST('0x' || substring(md5(substring(text, CAST(p.p AS INTEGER),
                                             {CDC_WINDOW})), 1, 7) AS BIGINT)
        % {CDC_MASK} = 0
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_b,
         CAST(MIN(i) AS BIGINT) AS first_b
  FROM probes GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(COALESCE(a.n_b, 0) AS BIGINT) AS n_boundaries,
       CAST(COALESCE(a.n_b, 0) + 1 AS BIGINT) AS n_chunks,
       a.first_b AS first_boundary,
       CAST(length(d.text) AS DOUBLE)
         / CAST(COALESCE(a.n_b, 0) + 1 AS DOUBLE) AS mean_chunk_len
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


def vector_index_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end vector-index build, composed from the gated primitives
    (`training_data_pipeline`'s discipline in vector land): drop the
    exact-decimal centroid outliers (`workload.vector.embedding_outliers`
    core), SQ8-quantize the survivors (`pq.quantize_int8`), shard by
    sign-LSH bucket, and emit the per-shard build manifest (occupancy,
    scale range, integer code sums, saturation). One Catalyst plan; the
    oracle chains the same CTEs. All emitted aggregates are exact
    integers or min/max of per-vector doubles (no double summation)."""
    from graphrag_toolkit_spark.workload.vector import OUTLIER_TOP_N

    emb = load(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double"), 6).cast("decimal(12,6)"),
    )
    ex = emb.select("vec_id", F.posexplode(q).alias("dim", "v"))
    cent = ex.groupBy("dim").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    diff = (
        F.col("n").cast("decimal(9,0)") * F.col("v")
        - F.col("s").cast("decimal(22,6)")
    )
    d2 = diff.cast("decimal(19,6)") * diff.cast("decimal(13,6)")
    per = (
        ex.join(F.broadcast(cent), "dim")
        .select("vec_id", d2.alias("_d2"))
        .groupBy("vec_id")
        .agg(F.sum("_d2").alias("_big"))
    )
    # top-N by bounded output → orderBy().limit() compiles to a distributed
    # TakeOrderedAndProject (per-partition heaps + driver merge of N rows),
    # never a single-partition sort of every vector's distance
    outlier_ids = (
        per.orderBy(F.desc("_big"), F.asc("vec_id"))
        .limit(OUTLIER_TOP_N)
        .select("vec_id")
    )
    clean = emb.join(F.broadcast(outlier_ids), "vec_id", "left_anti")
    # the quantize leg and the LSH-bucket leg both read the cleaned pool:
    # truncate so the outlier-distance pipeline above runs once, not per leg
    clean = clean.localCheckpoint(eager=False)
    quant = pq.quantize_int8(clean, "vec_id", "embedding").select(
        F.col("id").alias("vec_id"),
        "scale",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, c: a + c.cast("long")
        ).alias("code_sum"),
        F.aggregate(
            "codes",
            F.lit(0).cast("long"),
            lambda a, c: a + F.when(F.abs(c) == 127, 1).otherwise(0),
        ).alias("n_sat"),
    )
    planes = ann.hyperplanes(N_PLANES_DEDUP, 64)
    bucketed = clean.select(
        "vec_id", ann.lsh_bucket(F.col("embedding"), planes).alias("bucket")
    )
    return (
        bucketed.join(quant, "vec_id")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("scale").alias("min_scale"),
            F.max("scale").alias("max_scale"),
            F.sum("code_sum").cast("long").alias("sum_codes"),
            F.sum("n_sat").cast("long").alias("n_sat"),
        )
        .orderBy("bucket")
    )


def _vector_index_pipeline_oracle() -> str:
    from graphrag_toolkit_spark.workload.vector import (
        OUTLIER_CTE_SQL,
        OUTLIER_TOP_N,
    )

    bucket_over_clean = _bucket_sql(N_PLANES_DEDUP).replace(
        "FROM embeddings e", "FROM clean e"
    )
    return f"""
WITH {OUTLIER_CTE_SQL},
clean AS (
  SELECT e.* FROM embeddings e
  WHERE NOT EXISTS (SELECT 1 FROM ranked r
                    WHERE r.vec_id = e.vec_id AND r.rank <= {OUTLIER_TOP_N})
),
q2 AS (
  SELECT vec_id, t.i, {_EMB_Q.format(x='embedding[t.i]')} AS qv
  FROM clean, generate_series(1, 64) AS t(i)
),
sc2 AS (SELECT vec_id, MAX(ABS(qv)) AS s_dec FROM q2 GROUP BY vec_id),
codes2 AS (
  SELECT q2.vec_id,
         CASE WHEN sc2.s_dec = 0 THEN 0
              ELSE CAST(GREATEST(FLOOR(CAST(q2.qv AS DOUBLE) * 127.0
                                       / CAST(sc2.s_dec AS DOUBLE)),
                                 -127) AS INTEGER)
         END AS code,
         CAST(sc2.s_dec AS DOUBLE) AS scale
  FROM q2 JOIN sc2 USING (vec_id)
),
sums AS (
  SELECT vec_id, MAX(scale) AS scale,
         CAST(SUM(code) AS BIGINT) AS code_sum,
         CAST(SUM(CASE WHEN ABS(code) = 127 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sat
  FROM codes2 GROUP BY vec_id
),
{bucket_over_clean.strip().rstrip()}
SELECT b.bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       MIN(s.scale) AS min_scale, MAX(s.scale) AS max_scale,
       CAST(SUM(s.code_sum) AS BIGINT) AS sum_codes,
       CAST(SUM(s.n_sat) AS BIGINT) AS n_sat
FROM buckets b JOIN sums s USING (vec_id)
GROUP BY b.bucket
ORDER BY b.bucket
"""


VECTOR_INDEX_PIPELINE_ORACLE = _vector_index_pipeline_oracle()


def quantize_int8_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization (`pq.quantize_int8`) of the
    embedding table — SQ8, the lighter compression rung beside PQ: per
    vector a max-abs scale and 64 floor-quantized codes, emitted as the
    full ordered code string plus saturation/summary stats so the gate
    hashes every code. One narrow projection, no shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    out = pq.quantize_int8(emb, "vec_id", "embedding")
    return out.select(
        F.col("id").alias("vec_id"),
        "scale",
        F.size("codes").cast("long").alias("n_dims"),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, c: a + c.cast("long")
        ).alias("code_sum"),
        F.aggregate(
            "codes",
            F.lit(0).cast("long"),
            lambda a, c: a + F.when(F.abs(c) == 127, 1).otherwise(0),
        ).alias("n_sat"),
        F.concat_ws(",", F.transform("codes", lambda c: c.cast("string"))).alias(
            "codes_str"
        ),
    ).orderBy("vec_id")


LADDER_BITS = (8, 4)  # symmetric levels 127 and 7


def quantization_ladder_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization ladder: SQ8 vs SQ4 measured side by side — per bit
    width the saturation count and the mean reconstruction error on the
    decimal grid, from ONE shared pass (the per-vector max-abs scale is
    computed once; only the level count differs). The table an index
    operator reads before dropping from 1 B to 4 bits per component.

    EXACTNESS: x and the reconstruction round(code·s/L, 6) are both
    scale-6 decimals, so the per-element |error| is exact decimal
    arithmetic; per-row error sums accumulate in DECIMAL(25,12) and the
    global mean is one exact-operand double division. Codes use the same
    floor + GREATEST(−L) clamp contract as `pq.quantize_int8`.

    Scale shape: one narrow projection + one 2-row aggregate (stack
    unpivot by bit width) — no shuffle beyond the scalar agg."""
    emb = load(spark, sf_dir, "embeddings")
    prepped = emb.select(
        F.col("vec_id").alias("id"),
        pq._quantize(F.col("embedding")).alias("_q"),
    ).select(
        "id", "_q",
        F.array_max(F.transform("_q", lambda x: F.abs(x))).alias("_s"),
    )
    s_dbl = F.col("_s").cast("double")

    def code_of(x, levels: int):
        return F.when(F.col("_s") == 0, F.lit(0)).otherwise(
            F.greatest(
                F.floor(x.cast("double") * F.lit(float(levels)) / s_dbl),
                F.lit(-levels),
            )
        ).cast("int")

    per_row = prepped
    for bits in LADDER_BITS:
        levels = 2 ** (bits - 1) - 1

        def recon(c, levels=levels):
            return F.round(
                c.cast("double") * s_dbl / F.lit(float(levels)), 6
            ).cast("decimal(12,6)")

        def sat_and_err(levels=levels):
            codes = F.transform("_q", lambda x: code_of(x, levels))
            sat = F.aggregate(
                codes,
                F.lit(0).cast("long"),
                lambda a, c: a + F.when(F.abs(c) == levels, 1).otherwise(0),
            )
            err = F.aggregate(
                F.zip_with(
                    F.col("_q"), codes, lambda x, c: F.abs(x - recon(c))
                ),
                F.lit(0).cast("decimal(25,12)"),
                lambda a, v: (a + v).cast("decimal(25,12)"),
            )
            return sat, err

        sat, err = sat_and_err()
        per_row = per_row.withColumn(f"_sat{bits}", sat).withColumn(
            f"_err{bits}", err
        )
    g = per_row.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(F.size("_q")).cast("bigint").alias("n_values"),
        *[
            c
            for bits in LADDER_BITS
            for c in (
                F.sum(f"_sat{bits}").cast("bigint").alias(f"sat{bits}"),
                F.sum(f"_err{bits}").alias(f"errsum{bits}"),
            )
        ],
    )
    stacked = g.select(
        "n_vectors",
        "n_values",
        F.expr(
            "stack({n}, {args}) AS (bits, n_sat, err_sum)".format(
                n=len(LADDER_BITS),
                args=", ".join(
                    f"{bits}, sat{bits}, CAST(errsum{bits} AS DOUBLE)"
                    for bits in LADDER_BITS
                ),
            )
        ),
    )
    return stacked.select(
        "bits", "n_vectors", "n_values", "n_sat",
        (F.col("err_sum") / F.col("n_values").cast("double")).alias(
            "mean_abs_err"
        ),
    )


def _ladder_block(bits: int) -> str:
    levels = 2 ** (bits - 1) - 1
    return f"""
SELECT {bits} AS bits,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_vectors,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_values,
       CAST(SUM(CASE WHEN ABS(code) = {levels} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sat,
       CAST(SUM(CAST(ABS(qv - CAST(ROUND(CAST(code AS DOUBLE)
                                         * CAST(s_dec AS DOUBLE)
                                         / {float(levels)!r}, 6)
                                   AS DECIMAL(12,6))) AS DECIMAL(25,12)))
            AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM q) AS DOUBLE) AS mean_abs_err
FROM (
  SELECT q.qv, sc.s_dec,
         CASE WHEN sc.s_dec = 0 THEN 0
              ELSE CAST(GREATEST(FLOOR(CAST(q.qv AS DOUBLE) * {float(levels)!r}
                                       / CAST(sc.s_dec AS DOUBLE)),
                                 -{levels}) AS INTEGER)
         END AS code
  FROM q JOIN sc USING (vec_id)
)"""


QUANTIZATION_LADDER_ORACLE = (
    f"""
WITH q AS MATERIALIZED (
  SELECT vec_id, t.i, {_EMB_Q.format(x='embedding[t.i]')} AS qv
  FROM embeddings, generate_series(1, 64) AS t(i)
),
sc AS MATERIALIZED (SELECT vec_id, MAX(ABS(qv)) AS s_dec FROM q GROUP BY vec_id)
"""
    + "\nUNION ALL".join(_ladder_block(b) for b in LADDER_BITS)
)


QUANTIZE_INT8_ORACLE = f"""
WITH q AS (
  SELECT vec_id, t.i, {_EMB_Q.format(x='embedding[t.i]')} AS qv
  FROM embeddings, generate_series(1, 64) AS t(i)
),
sc AS (SELECT vec_id, MAX(ABS(qv)) AS s_dec FROM q GROUP BY vec_id),
codes AS (
  SELECT q.vec_id, q.i,
         CASE WHEN sc.s_dec = 0 THEN 0
              ELSE CAST(GREATEST(FLOOR(CAST(q.qv AS DOUBLE) * 127.0
                                       / CAST(sc.s_dec AS DOUBLE)),
                                 -127) AS INTEGER)
         END AS code,
         CAST(sc.s_dec AS DOUBLE) AS scale
  FROM q JOIN sc USING (vec_id)
)
SELECT vec_id, MAX(scale) AS scale,
       CAST(COUNT(*) AS BIGINT) AS n_dims,
       MIN(code) AS code_min, MAX(code) AS code_max,
       CAST(SUM(code) AS BIGINT) AS code_sum,
       CAST(SUM(CASE WHEN ABS(code) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
       string_agg(CAST(code AS VARCHAR), ',' ORDER BY i) AS codes_str
FROM codes GROUP BY vec_id ORDER BY vec_id
"""


def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the embedding table: 64 floats → 8 nibble codes (32×
    compression), one narrow projection against the literal codebook."""
    emb = load(spark, sf_dir, "embeddings")
    codebook = _pq_codebook(spark, sf_dir)
    return pq.encode(emb, codebook, "vec_id", "embedding").withColumnRenamed(
        "id", "vec_id"
    )


_PQ_Q = _EMB_Q  # same decimal grid as every other embedding oracle
# one (vec, sub, cid) distance CTE shared by both PQ oracles; the codebook
# is derived relationally (first PQ_CENT vectors by id = ann.first_c
# semantics), so the oracle string stays static
_PQ_DIST_SQL = f"""
cent AS (
  SELECT CAST(rn - 1 AS INTEGER) AS cid, embedding AS ce FROM (
    SELECT embedding, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM embeddings
  ) WHERE rn <= {PQ_CENT}
),
subs AS (SELECT unnest(generate_series(0, {PQ_SUB - 1})) AS s),
dims AS (SELECT unnest(generate_series(1, {PQ_SUB_DIM})) AS j),
pdist AS (
  SELECT e.vec_id, sub.s, c.cid,
         CAST(SUM(
           ({_PQ_Q.format(x=f'e.embedding[sub.s*{PQ_SUB_DIM}+d.j]')}
            - {_PQ_Q.format(x=f'c.ce[sub.s*{PQ_SUB_DIM}+d.j]')})
           * ({_PQ_Q.format(x=f'e.embedding[sub.s*{PQ_SUB_DIM}+d.j]')}
              - {_PQ_Q.format(x=f'c.ce[sub.s*{PQ_SUB_DIM}+d.j]')})
         ) AS DOUBLE) AS d
  FROM embeddings e, subs sub, cent c, dims d
  GROUP BY e.vec_id, sub.s, c.cid
),
pcodes AS (
  SELECT vec_id,
         {", ".join(f"MAX(CASE WHEN s = {s} THEN cid END) AS code_{s}" for s in range(PQ_SUB))}
  FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
    FROM pdist
  ) WHERE rn = 1
  GROUP BY vec_id
)
"""

PQ_CODES_ORACLE = f"""
WITH {_PQ_DIST_SQL}
SELECT vec_id, {", ".join(f"code_{s}" for s in range(PQ_SUB))} FROM pcodes
"""


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-{PQ_K}: approximate distances from the query→centroid lookup
    table over the 8-code compressed vectors — the original embeddings are
    never touched in the scan."""
    from graphrag_toolkit_spark.fixtures import pseudo_embedding

    emb = load(spark, sf_dir, "embeddings")
    codebook = _pq_codebook(spark, sf_dir)
    codes = pq.encode(emb, codebook, "vec_id", "embedding")
    q = pseudo_embedding("pq-query", 64)
    return pq.adc_topk(codes, q, codebook, k=PQ_K).withColumnRenamed("id", "vec_id")


def _pq_adc_oracle() -> str:
    from graphrag_toolkit_spark.fixtures import pseudo_embedding

    q = pseudo_embedding("pq-query", 64)
    q_values = ", ".join(f"({i + 1}, {v!r})" for i, v in enumerate(q))
    # score = left-associative 8-term chain of scalar LUT lookups — same
    # evaluation order as the Spark expression, so the double sum is
    # bit-identical (the per-term LUT values are exact decimal sums)
    chain = f"(SELECT d FROM lut WHERE s = 0 AND cid = pcodes.code_0)"
    for s in range(1, PQ_SUB):
        chain = f"({chain} + (SELECT d FROM lut WHERE s = {s} AND cid = pcodes.code_{s}))"
    return f"""
WITH {_PQ_DIST_SQL},
qv(i, val) AS (VALUES {q_values}),
lut AS (
  SELECT sub.s, c.cid,
         CAST(SUM(
           ({_PQ_Q.format(x=f'q.val')} - {_PQ_Q.format(x=f'c.ce[sub.s*{PQ_SUB_DIM}+d.j]')})
           * ({_PQ_Q.format(x=f'q.val')} - {_PQ_Q.format(x=f'c.ce[sub.s*{PQ_SUB_DIM}+d.j]')})
         ) AS DOUBLE) AS d
  FROM subs sub, cent c, dims d, qv q
  WHERE q.i = sub.s * {PQ_SUB_DIM} + d.j
  GROUP BY sub.s, c.cid
),
scored AS (
  SELECT vec_id, {chain} AS adc_dist FROM pcodes
)
SELECT vec_id, adc_dist, rank FROM (
  SELECT vec_id, adc_dist,
         ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS rank
  FROM scored
) WHERE rank <= {PQ_K}
"""


IVFPQ_K = 10


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (`pq.ivf_pq_topk`): the FAISS IVFPQ architecture end to
    end — coarse-assign to the first-{nc} centroid lists, PQ-encode the
    RESIDUALS (first-{pc} residual codebook), probe the {np} nearest lists
    with per-list query-residual ADC tables, top-{k}. The composed index
    family beside flat-PQ (`pq_adc_topk`) and plain IVF (`ann_ivf_topk`)."""
    from graphrag_toolkit_spark.fixtures import pseudo_embedding

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    codebook = pq.residual_codebook_first_c(
        emb, centroids, "vec_id", "embedding", PQ_SUB, PQ_CENT
    )
    q = pseudo_embedding("ivfpq-query", 64)
    return pq.ivf_pq_topk(
        emb, centroids, q, codebook, "vec_id", "embedding",
        nprobe=NPROBE, k=IVFPQ_K,
    ).withColumnRenamed("id", "vec_id")


ann_ivf_pq_topk.__doc__ = ann_ivf_pq_topk.__doc__.format(
    nc=N_CENTROIDS, pc=PQ_CENT, np=NPROBE, k=IVFPQ_K
)


def _ivf_pq_oracle() -> str:
    from graphrag_toolkit_spark.fixtures import pseudo_embedding

    q = pseudo_embedding("ivfpq-query", 64)
    q_values = ", ".join(f"({i + 1}, {v!r})" for i, v in enumerate(q))
    qq = _EMB_Q.format(x="q.val")
    cq = _EMB_Q.format(x="c.cemb[q.i]")
    chain = "(SELECT d FROM lut WHERE lut.pcid = sc.cid AND lut.s = 0 AND lut.ccid = sc.code_0)"
    for s in range(1, PQ_SUB):
        chain = (
            f"({chain} + (SELECT d FROM lut WHERE lut.pcid = sc.cid"
            f" AND lut.s = {s} AND lut.ccid = sc.code_{s}))"
        )
    code_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN ccid END) AS code_{s}"
        for s in range(PQ_SUB)
    )
    return f"""
WITH cent AS (SELECT vec_id AS cid, embedding AS cemb FROM embeddings
              WHERE vec_id < {N_CENTROIDS}),
pairs AS (
  SELECT e.vec_id AS key_a, c.cid AS key_b, e.embedding AS ea, c.cemb AS eb
  FROM embeddings e, cent c
),
assign_scores AS ({_PAIR_COSINE}),
assigned AS (
  SELECT key_a AS vec_id, key_b AS cid FROM (
    SELECT key_a, key_b, score,
           ROW_NUMBER() OVER (PARTITION BY key_a ORDER BY score DESC, key_b) AS rn
    FROM assign_scores
  ) WHERE rn = 1
),
res AS MATERIALIZED (
  SELECT a.vec_id, a.cid, t.i,
         CAST(ROUND(CAST(e.embedding[t.i] AS DOUBLE)
                    - CAST(c.cemb[t.i] AS DOUBLE), 6) AS DECIMAL(12,6)) AS rv
  FROM assigned a
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN cent c ON c.cid = a.cid, generate_series(1, 64) AS t(i)
),
rvecs AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM assigned
),
rcent AS MATERIALIZED (
  SELECT CAST(v.rn - 1 AS INTEGER) AS ccid, r.i, r.rv
  FROM rvecs v JOIN res r ON r.vec_id = v.vec_id
  WHERE v.rn <= {PQ_CENT}
),
rpdist AS (
  SELECT r.vec_id, CAST((r.i - 1) // {PQ_SUB_DIM} AS INTEGER) AS s, cc.ccid,
         CAST(SUM((r.rv - cc.rv) * (r.rv - cc.rv)) AS DOUBLE) AS d
  FROM res r JOIN rcent cc ON cc.i = r.i
  GROUP BY r.vec_id, (r.i - 1) // {PQ_SUB_DIM}, cc.ccid
),
rcodes AS (
  SELECT vec_id, {code_cols}
  FROM (
    SELECT vec_id, s, ccid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, ccid) AS rn
    FROM rpdist
  ) WHERE rn = 1
  GROUP BY vec_id
),
qv(i, val) AS (VALUES {q_values}),
qscores AS (
  SELECT c.cid,
         CAST(SUM({qq} * {cq}) AS DOUBLE)
           / (sqrt(CAST(SUM({qq} * {qq}) AS DOUBLE))
              * sqrt(CAST(SUM({cq} * {cq}) AS DOUBLE))) AS score
  FROM cent c, qv q GROUP BY c.cid
),
probes AS (
  SELECT cid FROM (
    SELECT cid, ROW_NUMBER() OVER (ORDER BY score DESC, cid) AS rn FROM qscores
  ) WHERE rn <= {NPROBE}
),
qres AS (
  SELECT p.cid AS pcid, q.i,
         CAST(ROUND(q.val - CAST(c.cemb[q.i] AS DOUBLE), 6)
              AS DECIMAL(12,6)) AS rv
  FROM probes p JOIN cent c ON c.cid = p.cid, qv q
),
lut AS MATERIALIZED (
  SELECT qr.pcid, CAST((qr.i - 1) // {PQ_SUB_DIM} AS INTEGER) AS s, cc.ccid,
         CAST(SUM((qr.rv - cc.rv) * (qr.rv - cc.rv)) AS DOUBLE) AS d
  FROM qres qr JOIN rcent cc ON cc.i = qr.i
  GROUP BY qr.pcid, (qr.i - 1) // {PQ_SUB_DIM}, cc.ccid
),
sc AS (
  SELECT r.vec_id, a.cid,
         {", ".join(f"r.code_{s}" for s in range(PQ_SUB))}
  FROM rcodes r
  JOIN assigned a ON a.vec_id = r.vec_id
  JOIN probes p ON p.cid = a.cid
),
scored AS (
  SELECT sc.vec_id, sc.cid, {chain} AS adc_dist FROM sc
)
SELECT vec_id, cid, adc_dist, rank FROM (
  SELECT vec_id, cid, adc_dist,
         ROW_NUMBER() OVER (ORDER BY adc_dist, vec_id) AS rank
  FROM scored
) WHERE rank <= {IVFPQ_K}
"""


IVF_PQ_ORACLE = _ivf_pq_oracle()


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text bytes as a stand-in binary payload → mapInPandas decode
    stub (Arrow-batched); metadata is content-derived so the oracle can
    reproduce it from sha256."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return multimodal.decode_media(docs, "payload", "doc_id")


MULTIMODAL_DECODE_ORACLE = """
SELECT doc_id AS id,
       CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
       substring(sha256(text), 1, 16) AS sha256_prefix,
       CAST(16 + CAST('0x' || substring(sha256(text), 1, 4) AS BIGINT) % 2032 AS INTEGER) AS width,
       CAST(16 + CAST('0x' || substring(sha256(text), 5, 4) AS BIGINT) % 2032 AS INTEGER) AS height,
       CASE CAST('0x' || substring(sha256(text), 9, 1) AS INTEGER) % 3
         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format
FROM documents
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return multimodal.sample_frames(docs, "payload", "doc_id", n_frames=4)


MULTIMODAL_FRAMES_ORACLE = """
SELECT doc_id AS id, CAST(i AS INTEGER) AS frame_idx,
       md5(md5(text) || '-' || CAST(i AS VARCHAR)) AS frame_hash
FROM documents, generate_series(0, 3) AS t(i)
"""


# --- cross-document line dedup (RefinedWeb/MassiveText boilerplate) ----------

LINE_WORDS = 8          # fixed segmentation: the fixture has no newlines
LINE_DUP_MIN_DOCS = 3   # a "line" in >= this many docs is boilerplate


def boilerplate_lines_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document LINE-level dedup report (RefinedWeb §"line-wise
    corrections" / MassiveText repetition removal ACROSS docs — the
    boilerplate filter nav-bars and cookie banners die by; the within-doc
    repetition gate is `repetition_stats`, the substring form is
    `dup_span_coverage` — this is the third, line-frequency form). The
    fixture's text has no newlines, so a "line" is the deterministic
    fixed-width segmentation: non-overlapping {LINE_WORDS}-token windows
    (trailing partial kept); both engines replay it exactly.

    Per doc: n_lines, n_boilerplate (lines appearing in >=
    {LINE_DUP_MIN_DOCS} DISTINCT docs corpus-wide), the boilerplate ratio,
    and kept_tokens (tokens surviving line removal — what a scrub pass
    would keep).

    Scale shape: one explode to (doc, line-hash) rows, one distinct-doc
    count per line hash (vocab-sized table, NO broadcast hint — Heaps-law
    family, AQE picks), one per-doc aggregate. The corpus shuffles once on
    the line hash — the same shape as the n-gram decontaminator."""
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
    )
    n_seg = F.ceil(F.size(toks) / F.lit(LINE_WORDS)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.struct(
            F.md5(
                F.concat_ws(
                    " ", F.slice(toks, i * LINE_WORDS + 1, LINE_WORDS)
                )
            ).alias("lh"),
            F.least(
                F.lit(LINE_WORDS), F.size(toks) - i * LINE_WORDS
            ).alias("n_toks"),
        ),
    )
    lines = (
        widen_partitions(docs.filter(F.size(toks) > 0))
        .select(F.col("doc_id"), F.explode(segs).alias("s"))
        .select(
            "doc_id", F.col("s.lh").alias("lh"), F.col("s.n_toks").alias("n_toks")
        )
    )
    lines = lines.localCheckpoint(eager=False)  # freq + report both read it
    freq = lines.groupBy("lh").agg(
        F.count_distinct("doc_id").alias("n_docs_with")
    )
    marked = lines.join(freq, "lh")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.when(F.col("n_docs_with") >= LINE_DUP_MIN_DOCS, 1).otherwise(0)
            ).cast("long").alias("n_boilerplate"),
            F.sum(
                F.when(F.col("n_docs_with") < LINE_DUP_MIN_DOCS, F.col("n_toks"))
                .otherwise(0)
            ).cast("long").alias("kept_tokens"),
        )
        .select(
            "doc_id", "n_lines", "n_boilerplate", "kept_tokens",
            (
                F.col("n_boilerplate").cast("double")
                / F.col("n_lines").cast("double")
            ).alias("boilerplate_ratio"),
        )
    )


BOILERPLATE_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')
           AS ws
  FROM documents
),
segs AS (
  SELECT doc_id,
         md5(array_to_string(
           ws[(i * {LINE_WORDS} + 1):(i * {LINE_WORDS} + {LINE_WORDS})], ' '
         )) AS lh,
         LEAST({LINE_WORDS}, len(ws) - i * {LINE_WORDS}) AS n_toks
  FROM t, unnest(generate_series(0,
         CAST(ceil(len(ws) / {LINE_WORDS}.0) AS BIGINT) - 1)) AS g(i)
  WHERE len(ws) > 0
),
freq AS (
  SELECT lh, COUNT(DISTINCT doc_id) AS n_docs_with FROM segs GROUP BY lh
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN f.n_docs_with >= {LINE_DUP_MIN_DOCS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       CAST(SUM(CASE WHEN f.n_docs_with < {LINE_DUP_MIN_DOCS}
                     THEN s.n_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(SUM(CASE WHEN f.n_docs_with >= {LINE_DUP_MIN_DOCS}
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS boilerplate_ratio
FROM segs s JOIN freq f ON f.lh = s.lh
GROUP BY s.doc_id
"""


# --- REAL stdlib media decode (WAV-PCM via `wave`, binary PPM) ---------------
# Round-8 de-stub: the payloads are REAL containers built from each doc's
# ASCII bytes (the construction the oracle replays); the Spark side parses
# them with genuine stdlib decoders — no deterministic-fake anywhere in the
# decode→kernel path. Only codec-bound formats (JPEG/MP3/MP4) stay stubbed.

WAV_SAMPLE_RATE = 8000
PPM_W, PPM_H = 8, 8


def wav_pcm_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV-PCM decode end-to-end (operators/multimodal.decode_wav_pcm):
    each document becomes an 8-bit mono 8 kHz RIFF/WAV whose PCM frames are
    the doc's bytes; the decoder parses the RIFF header with the stdlib
    ``wave`` module and folds REAL samples into integer amplitude stats
    (8-bit PCM is unsigned, center 128). The oracle replays the
    construction: amplitude = |byte − 128| per character."""
    import pandas as _pd

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )

    def build(it):
        import io as _io
        import wave as _wave

        for pdf in it:
            rows = []
            for _id, t in zip(pdf["doc_id"], pdf["t"]):
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(1)
                    w.setframerate(WAV_SAMPLE_RATE)
                    w.writeframes(t.encode("utf-8"))
                rows.append((_id, buf.getvalue()))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    wavs = docs.mapInPandas(build, schema="doc_id long, payload binary")
    return multimodal.decode_wav_pcm(wavs, "payload", "doc_id")


WAV_PCM_ORACLE = f"""
WITH s AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents),
amp AS (
  SELECT doc_id, abs(ord(substring(t, CAST(p.p AS INTEGER), 1)) - 128) AS a
  FROM s, generate_series(1, {AUDIO_ORACLE_MAX_LEN}) AS p(p)
  WHERE p.p <= length(t)
)
SELECT s.doc_id AS id,
       CAST(1 AS INTEGER) AS channels,
       CAST({WAV_SAMPLE_RATE} AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS sample_width,
       CAST(length(s.t) AS INTEGER) AS n_frames,
       CAST(COALESCE(SUM(amp.a), 0) AS BIGINT) AS sum_abs,
       CAST(COALESCE(MAX(amp.a), 0) AS INTEGER) AS peak_abs
FROM s LEFT JOIN amp ON amp.doc_id = s.doc_id
GROUP BY s.doc_id, s.t
"""


def ppm_decode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary-PPM decode → REAL pixel kernels (operators/multimodal.
    decode_ppm): each document becomes a P6 image (8×8 RGB, raster = doc
    bytes cycled, a comment line in the header to exercise the parser's
    grammar); the decoder parses the real header/raster, builds the exact
    Rec.601 milli-luminance grid, and runs the SAME nearest-neighbor
    resize kernel `resize_media` uses — on real pixels. Every output is
    integer arithmetic the oracle replays from the construction."""
    import pandas as _pd

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )

    def build(it):
        for pdf in it:
            rows = []
            for _id, t in zip(pdf["doc_id"], pdf["t"]):
                data = t.encode("utf-8") or b"\x00"
                n = len(data)
                raster = bytes(
                    data[k % n] for k in range(3 * PPM_W * PPM_H)
                )
                payload = (
                    b"P6\n# synthetic fixture\n"
                    + f"{PPM_W} {PPM_H}\n255\n".encode()
                    + raster
                )
                rows.append((_id, payload))
            yield _pd.DataFrame(rows, columns=["doc_id", "payload"])

    ppms = docs.mapInPandas(build, schema="doc_id long, payload binary")
    return multimodal.decode_ppm(ppms, "payload", "doc_id", out_w=4, out_h=4)


# resize 8x8 -> 4x4 samples src (2r, 2c): even-row-even-col pixels; the
# bottom-right output corner reads src (6, 6) = flat index 54.
PPM_DECODE_ORACLE = """
WITH s AS (
  SELECT doc_id, COALESCE(text, '') AS t,
         CASE WHEN length(text) IS NULL OR length(text) = 0
              THEN 1 ELSE length(text) END AS n,
         length(COALESCE(text, '')) = 0 AS empty
  FROM documents
),
lum AS (
  SELECT doc_id, k.k AS k,
         299 * (CASE WHEN empty THEN 0 ELSE
            ord(substring(t, CAST((3 * k.k) % n AS INTEGER) + 1, 1)) END)
       + 587 * (CASE WHEN empty THEN 0 ELSE
            ord(substring(t, CAST((3 * k.k + 1) % n AS INTEGER) + 1, 1)) END)
       + 114 * (CASE WHEN empty THEN 0 ELSE
            ord(substring(t, CAST((3 * k.k + 2) % n AS INTEGER) + 1, 1)) END)
         AS l
  FROM s, generate_series(0, 63) AS k(k)
)
SELECT doc_id AS id,
       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
       CAST(255 AS INTEGER) AS maxval, CAST(64 AS INTEGER) AS n_pixels,
       CAST(SUM(l) AS BIGINT) AS lum_millis,
       CAST(SUM(CASE WHEN (k // 8) % 2 = 0 AND (k % 8) % 2 = 0
                     THEN l ELSE 0 END) AS BIGINT) AS resized_sum,
       CAST(MAX(CASE WHEN k = 0 THEN l END) AS INTEGER) AS corner_tl,
       CAST(MAX(CASE WHEN k = 54 THEN l END) AS INTEGER) AS corner_br
FROM lum GROUP BY doc_id
"""


# --- typo pairs (edit-distance-1 vocabulary cleanup) -------------------------

TYPO_MIN_LEN = 4
TYPO_MAX_LEN = 32


def typo_pairs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical identifier pairs (`operators/editdist.py`): customer
    names at Levenshtein distance exactly 1, found by the deletion-
    neighborhood EQUI-join (SymSpell blocking — never a names² cross
    product) and verified with the exact integer metric. The canonicalize-
    variants table an entity-resolution pass merges on; the oracle is the
    brute-force quadratic twin, so the blocking join's completeness is
    hash-checked, not assumed."""
    from graphrag_toolkit_spark.operators.editdist import edit_distance_pairs

    names = load(spark, sf_dir, "customer").select(
        F.lower(F.col("c_name")).alias("name")
    )
    return edit_distance_pairs(
        names, "name", min_len=TYPO_MIN_LEN, max_len=TYPO_MAX_LEN
    )


TYPO_PAIRS_ORACLE = f"""
WITH vocab AS (
  SELECT DISTINCT lower(c_name) AS token FROM customer
  WHERE len(c_name) BETWEEN {TYPO_MIN_LEN} AND {TYPO_MAX_LEN}
)
SELECT a.token AS word_a, b.token AS word_b
FROM vocab a JOIN vocab b
  ON a.token < b.token
 AND abs(len(a.token) - len(b.token)) <= 1
 AND levenshtein(a.token, b.token) = 1
"""


# --- unigram KL divergence (corpus drift) ------------------------------------


def unigram_kl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift detector: split the corpus into two halves by content
    hash, fit add-one-smoothed unigram distributions over the union
    vocabulary, and report KL(A‖B) — the monitoring statistic a pipeline
    alarms on when a new crawl shifts the language. Exactness: smoothed
    log-probs are single `ln((c+1)/(n+V))` calls quantized to the decimal
    grid; each KL term is rounded to 9 decimals and summed in DECIMAL
    (order-independent)."""
    from graphrag_toolkit_spark.operators.sampling import hash_value

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        (hash_value(F.col("doc_id")) % 2).alias("half"),
        F.explode(F.split(F.lower(F.col("text")), r"[^0-9a-z]+")).alias("token"),
    ).filter(F.col("token") != "")
    counts = (
        toks.groupBy("token")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("cb"),
        )
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    )
    terms = counts.crossJoin(F.broadcast(tot)).select(
        ((F.col("ca") + 1).cast("double") / (F.col("na") + F.col("v"))).alias("pa"),
        (
            F.round(
                F.log((F.col("ca") + 1).cast("double") / (F.col("na") + F.col("v"))), 6
            ).cast("decimal(12,6)")
            - F.round(
                F.log((F.col("cb") + 1).cast("double") / (F.col("nb") + F.col("v"))), 6
            ).cast("decimal(12,6)")
        ).cast("double").alias("dlog"),
        F.col("v"), F.col("na"), F.col("nb"),
    )
    return terms.groupBy("v", "na", "nb").agg(
        F.sum(
            F.round(F.col("pa") * F.col("dlog"), 9).cast("decimal(18,9)")
        ).cast("double").alias("kl_ab")
    ).select(
        F.col("v").alias("vocab_size"),
        F.col("na").alias("n_tokens_a"),
        F.col("nb").alias("n_tokens_b"),
        "kl_ab",
    )


UNIGRAM_KL_ORACLE = """
WITH toks AS (
  SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 2
           AS half,
         unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS token
  FROM documents
),
counts AS (
  SELECT token,
         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
  FROM toks WHERE token <> '' GROUP BY token
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         COUNT(*) AS v
  FROM counts
),
terms AS (
  SELECT t.v, t.na, t.nb,
         CAST(c.ca + 1 AS DOUBLE) / (t.na + t.v) AS pa,
         CAST(CAST(ROUND(ln(CAST(c.ca + 1 AS DOUBLE) / (t.na + t.v)), 6)
                   AS DECIMAL(12,6))
              - CAST(ROUND(ln(CAST(c.cb + 1 AS DOUBLE) / (t.nb + t.v)), 6)
                     AS DECIMAL(12,6)) AS DOUBLE) AS dlog
  FROM counts c, tot t
)
SELECT v AS vocab_size, na AS n_tokens_a, nb AS n_tokens_b,
       CAST(SUM(CAST(ROUND(pa * dlog, 9) AS DECIMAL(18,9))) AS DOUBLE) AS kl_ab
FROM terms GROUP BY v, na, nb
"""


# --- order-statistic reservoir sample ----------------------------------------

RESERVOIR_K = 100


def reservoir_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic corpus sample (`sampling.order_statistic_
    sample`): the k docs with the smallest content hash — a uniform
    k-subset that is stable across runs, engines, and partitionings
    (distributed as TakeOrderedAndProject, no global sort)."""
    from graphrag_toolkit_spark.operators.sampling import order_statistic_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return order_statistic_sample(docs, "doc_id", RESERVOIR_K)


RESERVOIR_ORACLE = f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
           AS hv
  FROM documents
) QUALIFY ROW_NUMBER() OVER (ORDER BY hv, doc_id) <= {RESERVOIR_K}
"""


# --- weighted sample ----------------------------------------------------------

WEIGHTED_K = 50
_HASH_DEN = float(1 << 28)


def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Efraimidis–Spirakis weighted sample
    (`sampling.weighted_sample`): 50 docs drawn without replacement with
    probability ∝ length — the quality-weighted corpus draw a curriculum
    or eval-set builder uses, reproducible because u comes from the id's
    content hash, not an RNG."""
    from graphrag_toolkit_spark.operators.sampling import weighted_sample

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", WEIGHTED_K)


WEIGHTED_SAMPLE_ORACLE = f"""
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         CAST(CAST(ROUND(ln((hv + 1) / {_HASH_DEN!r}), 6) AS DECIMAL(12,6))
              AS DOUBLE) / CAST(n_chars AS DOUBLE) AS wkey
  FROM (
    SELECT doc_id, n_chars,
           CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
             AS hv
    FROM documents WHERE n_chars > 0
  )
) QUALIFY ROW_NUMBER() OVER (ORDER BY wkey DESC, doc_id) <= {WEIGHTED_K}
"""


# --- per-label exact-k sample -------------------------------------------------

PER_LABEL_K = 5


def per_label_sample_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact-k leg of `sampling.order_statistic_sample`: 5 vectors
    per cluster label — the balanced eval-set draw (one window over the
    group key, hash order statistics within)."""
    from graphrag_toolkit_spark.operators.sampling import order_statistic_sample

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return order_statistic_sample(emb, "vec_id", PER_LABEL_K, group_cols=["label"])


PER_LABEL_SAMPLE_ORACLE = f"""
SELECT vec_id, label FROM (
  SELECT vec_id, label,
         CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 7) AS BIGINT)
           AS hv
  FROM embeddings
) QUALIFY ROW_NUMBER() OVER (PARTITION BY label ORDER BY hv, vec_id)
          <= {PER_LABEL_K}
"""




# --- exact ROC-AUC ------------------------------------------------------------


def auc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC (`ranking_eval.binary_auc`): does doc
    length predict English? Pure-integer Mann-Whitney rank statistic (the
    doubled-average-rank trick keeps tie correction in BIGINT), one double
    division at the end — the classifier-eval metric, hash-exact."""
    from graphrag_toolkit_spark.operators.ranking_eval import binary_auc

    docs = load(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return binary_auc(docs, "score", "label")


AUC_ORACLE = """
WITH g AS (
  SELECT CAST(n_chars AS DOUBLE) AS s, COUNT(*) AS c,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM documents GROUP BY 1
),
cum AS (
  SELECT c, pos,
         SUM(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM g
),
agg AS (
  SELECT CAST(SUM(pos * (2 * (cum - c + 1) + c - 1)) AS BIGINT) AS s2,
         CAST(SUM(pos) AS BIGINT) AS p,
         CAST(SUM(c) AS BIGINT) AS n_total
  FROM cum
)
SELECT p AS n_pos, n_total - p AS n_neg,
       CASE WHEN p > 0 AND n_total - p > 0
            THEN CAST(s2 - p * (p + 1) AS DOUBLE)
                 / CAST(2 * p * (n_total - p) AS DOUBLE)
            END AS auc
FROM agg
"""


def readability_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per doc (`textstats.readability_scores`):
    vowel-group syllable estimator, punctuation-run sentences, fixed
    IEEE expression tree shared with the oracle — the classic
    readability feature for text-quality stacks."""
    docs = load(spark, sf_dir, "documents")
    return textstats.readability_scores(docs, "text", "doc_id")


READABILITY_ORACLE = r"""
WITH c AS (
  SELECT doc_id AS id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                              x -> x <> '')) AS BIGINT) AS n_words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
)
SELECT id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         (206.835
          - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)))
         - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
       END AS flesch
FROM c
"""


def auc_by_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice exact AUC (`ranking_eval.grouped_auc`): the same
    length-predicts-English classifier as `auc_documents`, audited PER
    SOURCE — the fairness/robustness cut that catches a filter that only
    discriminates on one slice. Windows partition by source; no global
    ordering."""
    from graphrag_toolkit_spark.operators.ranking_eval import grouped_auc

    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return grouped_auc(docs, "source", "score", "label")


AUC_BY_SOURCE_ORACLE = """
WITH g AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS s, COUNT(*) AS c,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT source, c, pos,
         SUM(c) OVER (PARTITION BY source ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM g
),
agg AS (
  SELECT source,
         CAST(SUM(pos * (2 * (cum - c + 1) + c - 1)) AS BIGINT) AS s2,
         CAST(SUM(pos) AS BIGINT) AS p,
         CAST(SUM(c) AS BIGINT) AS n_total
  FROM cum GROUP BY source
)
SELECT source, p AS n_pos, n_total - p AS n_neg,
       CASE WHEN p > 0 AND n_total - p > 0
            THEN CAST(s2 - p * (p + 1) AS DOUBLE)
                 / CAST(2 * p * (n_total - p) AS DOUBLE)
            END AS auc
FROM agg
"""


# --- classifier calibration / rater agreement ---------------------------------

KAPPA_LEN_THRESHOLD = 300


def calibration_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability bins (`ranking_eval.calibration_bins`) for the same
    length-predicts-English classifier `auc_documents` scores: confidence
    = n_chars max-normalized onto the micro grid by integer floor
    ((n_chars·10⁶) div max), label = lang = 'en'. Emits the 10-bin
    reliability table with exact-BIGINT ECE/Brier numerators."""
    from graphrag_toolkit_spark.operators.ranking_eval import calibration_bins

    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("mx"))
    scored = docs.crossJoin(F.broadcast(mx)).select(
        F.expr("(n_chars * 1000000) div mx").cast("long").alias("conf6"),
        (F.col("lang") == "en").alias("label"),
    )
    return calibration_bins(scored, "conf6", "label", bins=10)


CALIBRATION_ORACLE = """
WITH mx AS (SELECT MAX(n_chars) AS mx FROM documents),
d AS (
  SELECT CAST((n_chars * 1000000) // mx AS BIGINT) AS c6,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents, mx
),
b AS (
  SELECT GREATEST(LEAST(c6 // 100000, 9), 0) AS bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c6) AS BIGINT) AS sum_conf6,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM((c6 - 1000000 * y) * (c6 - 1000000 * y)) AS BIGINT) AS sq_err12
  FROM d GROUP BY 1
)
SELECT bin, n, sum_conf6, n_pos,
       CAST(ABS(sum_conf6 - 1000000 * n_pos) AS BIGINT) AS gap6,
       sq_err12,
       CAST(sum_conf6 AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS avg_conf,
       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS frac_pos
FROM b
"""


def classification_report_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point report (`ranking_eval.classification_report`) for
    the length rater at the same threshold `cohen_kappa_documents` uses:
    confusion counts + precision/recall/F1/accuracy, exact single-division
    ratios."""
    from graphrag_toolkit_spark.operators.ranking_eval import classification_report

    docs = load(spark, sf_dir, "documents").select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return classification_report(
        docs, "score", "label", threshold=float(KAPPA_LEN_THRESHOLD)
    )


CLASSIFICATION_REPORT_ORACLE = f"""
WITH d AS (
  SELECT CASE WHEN n_chars >= {KAPPA_LEN_THRESHOLD} THEN 1 ELSE 0 END AS p,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
),
agg AS (
  SELECT CAST(SUM(p * y) AS BIGINT) AS tp,
         CAST(SUM(p * (1 - y)) AS BIGINT) AS fp,
         CAST(SUM((1 - p) * y) AS BIGINT) AS fn,
         CAST(SUM((1 - p) * (1 - y)) AS BIGINT) AS tn
  FROM d
)
SELECT tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
       CASE WHEN tp + fn > 0
            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
            END AS f1,
       CASE WHEN tp + fp + fn + tn > 0
            THEN CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
            END AS accuracy
FROM agg
"""


def group_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-FREE train/val/test split: hash the GROUP key (source), not
    the row id, so every document of a source lands in one split — the
    prevention counterpart to the `split_leakage_documents` measurement
    (near-dups cluster within sources; row-hash splits leak them across
    the boundary). Same `sampling.train_val_test_split`, keyed on source."""
    docs = load(spark, sf_dir, "documents")
    return sampling.train_val_test_split(
        docs, "source", val_fraction=0.1, test_fraction=0.1
    ).select("doc_id", "source", "split")


GROUP_SPLIT_ORACLE = """
SELECT doc_id, source,
       CASE WHEN b < 1000 THEN 'test'
            WHEN b < 2000 THEN 'val'
            ELSE 'train' END AS split
FROM (
  SELECT doc_id, source,
         CAST('0x' || substring(md5(source), 1, 7) AS BIGINT) % 10000 AS b
  FROM documents
)
"""


def cohen_kappa_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement (`ranking_eval.cohen_kappa`) between the
    naive length rater (n_chars >= KAPPA_LEN_THRESHOLD) and the lang tag
    (lang = 'en') — the label-audit metric; one-row exact-ratio result."""
    from graphrag_toolkit_spark.operators.ranking_eval import cohen_kappa

    docs = load(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= KAPPA_LEN_THRESHOLD).alias("rater_a"),
        (F.col("lang") == "en").alias("rater_b"),
    )
    return cohen_kappa(docs, "rater_a", "rater_b")


KAPPA_ORACLE = f"""
WITH d AS (
  SELECT CASE WHEN n_chars >= {KAPPA_LEN_THRESHOLD} THEN 1 ELSE 0 END AS a,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b
  FROM documents
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
         CAST(SUM(a) AS BIGINT) AS a_pos,
         CAST(SUM(b) AS BIGINT) AS b_pos
  FROM d
)
SELECT n, n_agree, a_pos, b_pos,
       CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_o,
       CAST(a_pos * b_pos + (n - a_pos) * (n - b_pos) AS DOUBLE)
         / CAST(n * n AS DOUBLE) AS p_e,
       CASE WHEN n * n - (a_pos * b_pos + (n - a_pos) * (n - b_pos)) <> 0
            THEN CAST(n * n_agree - (a_pos * b_pos + (n - a_pos) * (n - b_pos))
                      AS DOUBLE)
                 / CAST(n * n - (a_pos * b_pos + (n - a_pos) * (n - b_pos))
                        AS DOUBLE)
            END AS kappa
FROM agg
"""


# --- deterministic negative sampling ------------------------------------------

NEG_K = 4


def negative_samples_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training negatives (`features.negative_samples`): each
    anchor (vec_id < 10) draws 4 deterministic negatives from the corpus
    hash ring — position (hash(anchor) + j*stride) mod N — reproducible
    with no RNG and no per-anchor corpus scan."""
    from graphrag_toolkit_spark.operators.features import negative_samples

    emb = load(spark, sf_dir, "embeddings").select("vec_id")
    anchors = emb.filter(F.col("vec_id") < 10)
    return negative_samples(emb, anchors, "vec_id", "vec_id", k=NEG_K)


NEGATIVE_SAMPLES_ORACLE = f"""
WITH n AS (SELECT COUNT(*) AS n FROM embeddings),
ring AS (
  SELECT vec_id AS neg_id,
         ROW_NUMBER() OVER (
           ORDER BY CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 7)
                         AS BIGINT) ASC, vec_id ASC) - 1 AS pos
  FROM embeddings
),
probes AS (
  SELECT e.vec_id AS anchor, t.j,
         (CAST('0x' || substring(md5(CAST(e.vec_id AS VARCHAR)), 1, 7) AS BIGINT)
          + t.j * 7919) % n.n AS pos
  FROM embeddings e, generate_series(1, {NEG_K}) AS t(j), n
  WHERE e.vec_id < 10
)
SELECT p.anchor, CAST(p.j AS BIGINT) AS j, r.neg_id
FROM probes p JOIN ring r ON r.pos = p.pos
WHERE r.neg_id <> p.anchor
"""


def token_budget_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget domain mix (operators/sampling.budget_fill): each source
    gets a token budget — a per-source share (10-30%, derived from the
    source id so the mix is heterogeneous) of its own total tokens — and
    contributes its longest documents first until the budget is spent.

    The greedy-prefix selection is the 'fill each domain's token budget by
    quality rank' step of assembling a pre-training mixture. Budgets use
    integer floor division (``div``/``//``), cumulative sums are BIGINT, and
    utilization is one double division of exact ints — hash-exact. Returns
    the per-source summary (selection lives in the pipeline; the summary is
    the auditable artifact)."""
    from graphrag_toolkit_spark.operators.sampling import budget_fill

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).alias("n_tokens"),
    )
    src_num = F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("bigint")
    budgets = (
        docs.groupBy("source")
        .agg(F.sum("n_tokens").alias("total_tokens"))
        .withColumn("share_pct", F.lit(10) + (src_num % 5) * F.lit(5))
        .withColumn(
            "budget_tokens",
            F.expr("div(total_tokens * share_pct, 100)"),
        )
        .select("source", "budget_tokens")
    )
    picked = budget_fill(
        docs,
        group_col="source",
        size_col="n_tokens",
        budgets=budgets,
        order_by=[F.desc("n_tokens"), F.asc("doc_id")],
    )
    return (
        picked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("n_tokens").alias("tokens_selected"),
            F.max("budget_tokens").alias("budget_tokens"),
        )
        .withColumn(
            "utilization",
            F.col("tokens_selected").cast("double") / F.col("budget_tokens"),
        )
        .orderBy("source")
    )


TOKEN_BUDGET_MIX_ORACLE = r"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
),
budgets AS (
  SELECT source,
         (SUM(n_tokens) * (10 + (CAST(regexp_extract(source, '(\d+)', 1)
                                      AS BIGINT) % 5) * 5)) // 100
           AS budget_tokens
  FROM toks GROUP BY source
),
cum AS (
  SELECT t.doc_id, t.source, t.n_tokens, b.budget_tokens,
         CAST(SUM(t.n_tokens) OVER (PARTITION BY t.source
                                    ORDER BY t.n_tokens DESC, t.doc_id ASC
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_size
  FROM toks t JOIN budgets b USING (source)
),
picked AS (SELECT * FROM cum WHERE cum_size <= budget_tokens)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_selected,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_selected,
       CAST(MAX(budget_tokens) AS BIGINT) AS budget_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / MAX(budget_tokens) AS utilization
FROM picked
GROUP BY source
ORDER BY source
"""


def temperature_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mT5-style alpha-sampling weights per language
    (operators/sampling.temperature_weights, alpha = 0.5): sqrt-flattened
    shares and the per-language up/down-sampling boost. The sqrt-share sum
    runs in fixed lang order so every double is bit-identical to the
    oracle's replay of the same arithmetic."""
    from graphrag_toolkit_spark.operators.sampling import temperature_weights

    docs = load(spark, sf_dir, "documents")
    return temperature_weights(docs, "lang").orderBy("lang")


TEMPERATURE_MIX_ORACLE = """
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY lang
),
run AS (
  SELECT lang, n_rows,
         SUM(sqrt(CAST(n_rows AS DOUBLE)))
           OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts
),
tot AS (
  SELECT lang, n_rows,
         MAX(cum) OVER () AS stot,
         SUM(n_rows) OVER () AS ntot
  FROM run
)
SELECT lang, n_rows,
       CAST(n_rows AS DOUBLE) / ntot AS share_raw,
       sqrt(CAST(n_rows AS DOUBLE)) / stot AS share_alpha,
       (sqrt(CAST(n_rows AS DOUBLE)) / stot)
         / (CAST(n_rows AS DOUBLE) / ntot) AS boost
FROM tot
ORDER BY lang
"""


BOOT_B = 32


def poisson_bootstrap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap uncertainty for the corpus mean document length
    (operators/sampling.poisson_bootstrap, B=32): the cluster-native
    bootstrap — deterministic integer-threshold multiplicities, exact
    integer sums, one double division per resample. The spread of
    ``mean_value`` across the 32 rows IS the standard-error estimate a
    data-quality dashboard reports next to every corpus statistic."""
    from graphrag_toolkit_spark.operators.sampling import poisson_bootstrap

    docs = load(spark, sf_dir, "documents")
    return poisson_bootstrap(
        docs, "doc_id", "n_chars", n_resamples=BOOT_B
    ).orderBy("b")


def _poisson_bootstrap_oracle() -> str:
    from graphrag_toolkit_spark.operators.sampling import POISSON1_THRESHOLDS

    cases = " ".join(
        f"WHEN h < {t} THEN {k}" for k, t in enumerate(POISSON1_THRESHOLDS)
    )
    return f"""
WITH drawn AS (
  SELECT t.b, d.n_chars,
         CAST('0x' || substring(md5('boot|' || CAST(d.doc_id AS VARCHAR)
                                    || '|' || CAST(t.b AS VARCHAR)), 1, 7)
              AS BIGINT) AS h
  FROM documents d, generate_series(0, {BOOT_B - 1}) AS t(b)
),
mult AS (
  SELECT b, n_chars,
         CASE {cases} ELSE {len(POISSON1_THRESHOLDS)} END AS m
  FROM drawn
)
SELECT CAST(b AS INTEGER) AS b,
       CAST(SUM(m) AS BIGINT) AS n_eff,
       CAST(SUM(m * n_chars) AS BIGINT) AS total,
       CAST(SUM(m * n_chars) AS DOUBLE) / SUM(m) AS mean_value
FROM mult GROUP BY b ORDER BY b
"""


POISSON_BOOTSTRAP_ORACLE = _poisson_bootstrap_oracle()


PHRASE = ("fast", "spark")


def phrase_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search (token-adjacency, not substring): per-doc count
    of the two-token phrase via Spark's higher-order array functions —
    ``zip_with`` over the shifted token array + ``filter``/``size``, one
    JVM-side narrow projection, no explode, no UDF, no shuffle until the
    top-k. The positional-adjacency semantics a search engine's phrase
    operator implements over its positions index, here fused into the scan.
    Reference: lexical-graph keyword search lands on exact-match lookups
    (graph_utils.search_string_from); phrase adjacency is the n>1 extension.
    """
    docs = load(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    heads = F.slice(t, 1, F.size(t) - 1)
    tails = F.slice(t, 2, F.size(t) - 1)
    hits = F.filter(
        F.zip_with(
            heads, tails, lambda a, b: (a == PHRASE[0]) & (b == PHRASE[1])
        ),
        lambda x: x,
    )
    return (
        docs.select("doc_id", F.size(hits).alias("n_matches"))
        .filter(F.col("n_matches") > 0)
        .orderBy(F.desc("n_matches"), "doc_id")
    )


PHRASE_SEARCH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(list_zip(t[1:-2], t[2:-1]),
                            p -> p[1] = '{PHRASE[0]}' AND p[2] = '{PHRASE[1]}'))
            AS INTEGER) AS n_matches
FROM toks
WHERE len(list_filter(list_zip(t[1:-2], t[2:-1]),
                      p -> p[1] = '{PHRASE[0]}' AND p[2] = '{PHRASE[1]}')) > 0
ORDER BY n_matches DESC, doc_id
"""


def bootstrap_by_source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Poisson-bootstrap distribution of mean document length
    (operators/sampling.poisson_bootstrap_by, B=32): every per-domain
    statistic on a corpus dashboard needs its own uncertainty band — this
    is the stratified twin of ``poisson_bootstrap_documents``, one
    (source, resample) row each."""
    from graphrag_toolkit_spark.operators.sampling import poisson_bootstrap_by

    docs = load(spark, sf_dir, "documents")
    return poisson_bootstrap_by(
        docs, "source", "doc_id", "n_chars", n_resamples=BOOT_B
    ).orderBy("source", "b")


def _bootstrap_by_oracle() -> str:
    from graphrag_toolkit_spark.operators.sampling import POISSON1_THRESHOLDS

    cases = " ".join(
        f"WHEN h < {t} THEN {k}" for k, t in enumerate(POISSON1_THRESHOLDS)
    )
    return f"""
WITH drawn AS (
  SELECT d.source, t.b, d.n_chars,
         CAST('0x' || substring(md5('boot|' || CAST(d.doc_id AS VARCHAR)
                                    || '|' || CAST(t.b AS VARCHAR)), 1, 7)
              AS BIGINT) AS h
  FROM documents d, generate_series(0, {BOOT_B - 1}) AS t(b)
),
mult AS (
  SELECT source, b, n_chars,
         CASE {cases} ELSE {len(POISSON1_THRESHOLDS)} END AS m
  FROM drawn
)
SELECT source, CAST(b AS INTEGER) AS b,
       CAST(SUM(m) AS BIGINT) AS n_eff,
       CAST(SUM(m * n_chars) AS BIGINT) AS total,
       CAST(SUM(m * n_chars) AS DOUBLE) / SUM(m) AS mean_value
FROM mult GROUP BY source, b ORDER BY source, b
"""


BOOTSTRAP_BY_ORACLE = _bootstrap_by_oracle()


PHASH_HAMMING_T = 6


def phash_neardup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate media pairs
    (operators/multimodal.perceptual_hash + phash_near_dup_pairs): dHash
    bits over the fake-decoded luminance grid (O(72) byte probes per item
    in an Arrow mapInPandas stage), 14-bit LSH bands, bucket join, exact
    Hamming verify — the image-dedup leg of a multimodal pipeline with the
    text-dedup operators' exact banding discipline. The oracle replays the
    grid sampling, bit packing, banding, and bit_count arithmetic in SQL."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    hashes = multimodal.perceptual_hash(docs, "payload", "doc_id")
    return multimodal.phash_near_dup_pairs(
        hashes, max_hamming=PHASH_HAMMING_T
    ).orderBy("id_a", "id_b")


PHASH_NEARDUP_ORACLE = f"""
WITH meta AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         CAST(16 + CAST('0x' || substring(sha256(text), 1, 4) AS BIGINT) % 2032
              AS BIGINT) AS w,
         CAST(16 + CAST('0x' || substring(sha256(text), 5, 4) AS BIGINT) % 2032
              AS BIGINT) AS h
  FROM documents
),
grid AS (
  SELECT doc_id, r.r, c.c,
         ord(substring(text,
             CAST((((r.r * h) // 8) * w + (c.c * w) // 9) % n + 1 AS INTEGER),
             1)) AS val
  -- 8 samples per row at ninth-of-width offsets (divisor 9 in the
  -- position formula below); comparisons touch c and c+1 for c <= 6.
  FROM meta, generate_series(0, 7) r(r), generate_series(0, 7) c(c)
),
bits AS (
  SELECT g1.doc_id,
         CASE WHEN g1.val > g2.val
              THEN CAST(1 AS BIGINT) << CAST(g1.r * 7 + g1.c AS INTEGER)
              ELSE CAST(0 AS BIGINT) END AS bit
  FROM grid g1
  JOIN grid g2 ON g1.doc_id = g2.doc_id AND g1.r = g2.r AND g2.c = g1.c + 1
  WHERE g1.c <= 6
),
ph AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS phash FROM bits GROUP BY doc_id),
banded AS (
  SELECT doc_id, phash, k.k AS band,
         (phash >> CAST(k.k * 14 AS INTEGER)) % 16384 AS key
  FROM ph, generate_series(0, 3) k(k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.phash AS pa, b.phash AS pb
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(pa, pb)) <= {PHASH_HAMMING_T}
ORDER BY id_a, id_b
"""


def audio_vad_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed energy / voice-activity stats over the stand-in waveform
    (operators/multimodal.audio_energy): per item — window count, silent
    windows (integer cross-multiplied threshold), peak-energy window
    (first-wins argmax). The audio leg of the multimodal family; the
    oracle replays every byte sum in SQL."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return multimodal.audio_energy(docs, "payload", "doc_id").orderBy("id")


# AUDIO_VAD_ORACLE scans a fixed 1..AUDIO_ORACLE_MAX_LEN series (constant
# defined at the top of this module, shared with the content-chunking
# oracle) filtered to each doc's true length, while the Spark operator
# scans the full payload.
AUDIO_VAD_ORACLE = f"""
WITH chars AS (
  SELECT doc_id, (p.p - 1) // 16 AS wi,
         ord(substring(text, CAST(p.p AS INTEGER), 1)) AS v
  FROM documents, generate_series(1, {AUDIO_ORACLE_MAX_LEN}) AS p(p)
  WHERE p.p <= length(text)
),
win AS (
  SELECT doc_id, wi, CAST(SUM(v) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS wlen
  FROM chars GROUP BY doc_id, wi
),
ranked AS (
  SELECT doc_id, wi, s, wlen,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, wi ASC) AS r
  FROM win
)
SELECT w.doc_id AS id,
       CAST(COUNT(*) AS INTEGER) AS n_windows,
       CAST(SUM(CASE WHEN w.s < 80 * w.wlen THEN 1 ELSE 0 END) AS INTEGER)
         AS n_silent,
       CAST(MAX(p.s) AS BIGINT) AS peak_energy,
       CAST(MAX(p.wi) AS INTEGER) AS peak_window
FROM win w
JOIN (SELECT doc_id, wi, s FROM ranked WHERE r = 1) p ON w.doc_id = p.doc_id
GROUP BY w.doc_id
UNION ALL
-- Empty/NULL-text docs: the operator coerces the payload to a single
-- zero byte (one all-silent window); replay that convention here so an
-- empty doc matches instead of vanishing from the oracle side.
SELECT doc_id AS id, CAST(1 AS INTEGER) AS n_windows,
       CAST(1 AS INTEGER) AS n_silent, CAST(0 AS BIGINT) AS peak_energy,
       CAST(0 AS INTEGER) AS peak_window
FROM documents WHERE text IS NULL OR length(text) = 0
ORDER BY id
"""


KFOLDS = 5


def kfold_balance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold assignment audit (fold = content-hash mod k —
    the same md5 discipline as the split/sample operators, so folds are
    stable under re-ingestion and engine-portable): per (fold, lang) doc
    counts plus the fold's share of that language — the balance table a
    cross-validation harness checks before trusting fold metrics. One
    narrow hash projection + one aggregate."""
    docs = load(spark, sf_dir, "documents")
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fold|"), F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("bigint")
        % KFOLDS
    ).cast("int")
    per = docs.select(fold.alias("fold"), "lang").groupBy("fold", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = docs.groupBy(F.col("lang").alias("tl")).agg(
        F.count(F.lit(1)).alias("lang_total")
    )
    return (
        per.join(F.broadcast(tot), per.lang == F.col("tl"))
        .select(
            "fold",
            "lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("lang_total")).alias(
                "lang_share"
            ),
        )
        .orderBy("fold", "lang")
    )


KFOLD_BALANCE_ORACLE = f"""
WITH folded AS (
  SELECT CAST(CAST('0x' || substring(md5('fold|' || CAST(doc_id AS VARCHAR)),
                                     1, 7) AS BIGINT) % {KFOLDS} AS INTEGER)
           AS fold,
         lang
  FROM documents
),
per AS (
  SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM folded GROUP BY 1, 2
),
tot AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_total FROM documents GROUP BY 1
)
SELECT fold, per.lang, n_docs,
       CAST(n_docs AS DOUBLE) / lang_total AS lang_share
FROM per JOIN tot ON per.lang = tot.lang
ORDER BY fold, per.lang
"""


QUERIES = {
    "kfold_balance_documents": kfold_balance_documents,
    "audio_vad_documents": audio_vad_documents,
    "wav_pcm_stats_documents": wav_pcm_stats_documents,
    "ppm_decode_documents": ppm_decode_documents,
    "boilerplate_lines_documents": boilerplate_lines_documents,
    "phash_neardup_documents": phash_neardup_documents,
    "bootstrap_by_source_documents": bootstrap_by_source_documents,
    "phrase_search_documents": phrase_search_documents,
    "poisson_bootstrap_documents": poisson_bootstrap_documents,
    "temperature_mix_documents": temperature_mix_documents,
    "token_budget_mix_documents": token_budget_mix_documents,
    "dedup_exact_documents": dedup_exact_documents,
    "typo_pairs_customers": typo_pairs_customers,
    "weighted_sample_documents": weighted_sample_documents,
    "per_label_sample_embeddings": per_label_sample_embeddings,
    "auc_documents": auc_documents,
    "calibration_documents": calibration_documents,
    "auc_by_source_documents": auc_by_source_documents,
    "cohen_kappa_documents": cohen_kappa_documents,
    "classification_report_documents": classification_report_documents,
    "group_split_documents": group_split_documents,
    "readability_documents": readability_documents,
    "negative_samples_embeddings": negative_samples_embeddings,
    "incremental_neardup_documents": incremental_neardup_documents,
    "gopher_gate_documents": gopher_gate_documents,
    "ngram_diversity_documents": ngram_diversity_documents,
    "ks_drift_documents": ks_drift_documents,
    "pmi_collocations_documents": pmi_collocations_documents,
    "bpe_pair_stats_documents": bpe_pair_stats_documents,
    "split_leakage_documents": split_leakage_documents,
    "dedup_canonical_documents": dedup_canonical_documents,
    "mixed_language_documents": mixed_language_documents,
    "chi_square_documents": chi_square_documents,
    "source_concentration_documents": source_concentration_documents,
    "dup_rate_by_source_documents": dup_rate_by_source_documents,
    "entity_resolution_customers": entity_resolution_customers,
    "unigram_kl_documents": unigram_kl_documents,
    "reservoir_sample_documents": reservoir_sample_documents,
    "minhash_signatures_documents": minhash_signatures_documents,
    "minhash_neardup_documents": minhash_neardup_documents,
    "neardup_clusters_documents": neardup_clusters_documents,
    "ngram_jaccard_neardup": ngram_jaccard_neardup,
    "containment_pairs_documents": containment_pairs_documents,
    "dsir_weights_documents": dsir_weights_documents,
    "hard_negatives_embeddings": hard_negatives_embeddings,
    "jl_project_embeddings": jl_project_embeddings,
    "ipf_rake_documents": ipf_rake_documents,
    "gram_matrix_embeddings": gram_matrix_embeddings,
    "bpe_train_merges_documents": bpe_train_merges_documents,
    "bpe_vocab_documents": bpe_vocab_documents,
    "simhash_documents": simhash_documents,
    "split_documents": split_documents,
    "stratified_sample_documents": stratified_sample_documents,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "semantic_dedup_embeddings": semantic_dedup_embeddings,
    "ngram_lm_documents": ngram_lm_documents,
    "word_entropy_documents": word_entropy_documents,
    "corpus_diff_documents": corpus_diff_documents,
    "cms_heavy_hitters_documents": cms_heavy_hitters_documents,
    "k_anonymity_documents": k_anonymity_documents,
    "l_diversity_documents": l_diversity_documents,
    "zipf_fit_documents": zipf_fit_documents,
    "training_data_pipeline": training_data_pipeline,
    "train_bigram_lm_documents": train_bigram_lm_documents,
    "kneser_ney_lm_documents": kneser_ney_lm_documents,
    "kn_perplexity_buckets_documents": kn_perplexity_buckets_documents,
    "ranking_eval_embeddings": ranking_eval_embeddings,
    "ranking_eval_orphan": ranking_eval_orphan,
    "build_vocab_documents": build_vocab_documents,
    "encode_documents_corpus": encode_documents_corpus,
    "embedding_neardup_lsh": embedding_neardup_lsh,
    "embedding_neardup_recall": embedding_neardup_recall,
    "token_stats_documents": token_stats_documents,
    "quality_score_documents": quality_score_documents,
    "language_id_documents": language_id_documents,
    "fingerprint_documents": fingerprint_documents,
    "repetition_stats_documents": repetition_stats_documents,
    "decontaminate_documents": decontaminate_documents,
    "pii_scrub_documents": pii_scrub_documents,
    "resample_mix_documents": resample_mix_documents,
    "pq_codes_embeddings": pq_codes_embeddings,
    "quantize_int8_embeddings": quantize_int8_embeddings,
    "lsh_bucket_purity_embeddings": lsh_bucket_purity_embeddings,
    "oov_rate_documents": oov_rate_documents,
    "doc_length_gate_documents": doc_length_gate_documents,
    "semantic_decontaminate_embeddings": semantic_decontaminate_embeddings,
    "truncation_audit_embeddings": truncation_audit_embeddings,
    "tokenizer_fertility_by_lang": tokenizer_fertility_by_lang,
    "ngram_leakage_by_n": ngram_leakage_by_n,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
    "quantization_ladder_embeddings": quantization_ladder_embeddings,
    "minhash_jaccard_error_documents": minhash_jaccard_error_documents,
    "ann_ivf_recall": ann_ivf_recall,
    "packing_efficiency_documents": packing_efficiency_documents,
    "vector_index_pipeline": vector_index_pipeline,
    "content_chunks_documents": content_chunks_documents,
    "heaps_law_documents": heaps_law_documents,
    "sorted_batching_documents": sorted_batching_documents,
    "cluster_size_distribution_documents": cluster_size_distribution_documents,
    "pq_adc_topk": pq_adc_topk,
    "pack_sequences_documents": pack_sequences_documents,
    "dedup_keep_best_documents": dedup_keep_best_documents,
    "dup_span_coverage_documents": dup_span_coverage_documents,
    "scrub_dup_spans_documents": scrub_dup_spans_documents,
    "shard_corpus_documents": shard_corpus_documents,
    "soft_dedup_weights_documents": soft_dedup_weights_documents,
    "quality_classifier_documents": quality_classifier_documents,
    "hot_grams_documents": hot_grams_documents,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_kmeans_topk": ann_ivf_kmeans_topk,
    "multimodal_decode": multimodal_decode,
    "multimodal_frames": multimodal_frames,
}

ORACLES = {
    "kfold_balance_documents": KFOLD_BALANCE_ORACLE,
    "audio_vad_documents": AUDIO_VAD_ORACLE,
    "wav_pcm_stats_documents": WAV_PCM_ORACLE,
    "ppm_decode_documents": PPM_DECODE_ORACLE,
    "boilerplate_lines_documents": BOILERPLATE_ORACLE,
    "phash_neardup_documents": PHASH_NEARDUP_ORACLE,
    "bootstrap_by_source_documents": BOOTSTRAP_BY_ORACLE,
    "phrase_search_documents": PHRASE_SEARCH_ORACLE,
    "poisson_bootstrap_documents": POISSON_BOOTSTRAP_ORACLE,
    "temperature_mix_documents": TEMPERATURE_MIX_ORACLE,
    "token_budget_mix_documents": TOKEN_BUDGET_MIX_ORACLE,
    "typo_pairs_customers": TYPO_PAIRS_ORACLE,
    "weighted_sample_documents": WEIGHTED_SAMPLE_ORACLE,
    "per_label_sample_embeddings": PER_LABEL_SAMPLE_ORACLE,
    "auc_documents": AUC_ORACLE,
    "calibration_documents": CALIBRATION_ORACLE,
    "auc_by_source_documents": AUC_BY_SOURCE_ORACLE,
    "cohen_kappa_documents": KAPPA_ORACLE,
    "classification_report_documents": CLASSIFICATION_REPORT_ORACLE,
    "group_split_documents": GROUP_SPLIT_ORACLE,
    "readability_documents": READABILITY_ORACLE,
    "negative_samples_embeddings": NEGATIVE_SAMPLES_ORACLE,
    "incremental_neardup_documents": INCREMENTAL_NEARDUP_ORACLE,
    "gopher_gate_documents": GOPHER_GATE_ORACLE,
    "ngram_diversity_documents": NGRAM_DIVERSITY_ORACLE,
    "ks_drift_documents": KS_DRIFT_ORACLE,
    "pmi_collocations_documents": PMI_ORACLE,
    "bpe_pair_stats_documents": BPE_PAIR_ORACLE,
    "split_leakage_documents": SPLIT_LEAKAGE_ORACLE,
    "dedup_canonical_documents": DEDUP_CANONICAL_ORACLE,
    "mixed_language_documents": MIXED_LANG_ORACLE,
    "chi_square_documents": CHI_SQUARE_ORACLE,
    "source_concentration_documents": SOURCE_CONCENTRATION_ORACLE,
    "dup_rate_by_source_documents": DUP_RATE_BY_SOURCE_ORACLE,
    "entity_resolution_customers": ENTITY_RESOLUTION_ORACLE,
    "unigram_kl_documents": UNIGRAM_KL_ORACLE,
    "reservoir_sample_documents": RESERVOIR_ORACLE,
    "dedup_exact_documents": DEDUP_EXACT_ORACLE,
    "minhash_signatures_documents": MINHASH_SIG_ORACLE,
    "minhash_neardup_documents": MINHASH_PAIRS_ORACLE,
    "neardup_clusters_documents": NEARDUP_CLUSTERS_ORACLE,
    "ngram_jaccard_neardup": NGRAM_JACCARD_ORACLE,
    "containment_pairs_documents": CONTAINMENT_ORACLE,
    "dsir_weights_documents": DSIR_ORACLE,
    "hard_negatives_embeddings": HARD_NEGATIVES_ORACLE,
    "jl_project_embeddings": JL_PROJECT_ORACLE,
    "ipf_rake_documents": IPF_RAKE_ORACLE,
    "gram_matrix_embeddings": GRAM_ORACLE,
    "bpe_train_merges_documents": BPE_TRAIN_ORACLE,
    "bpe_vocab_documents": BPE_VOCAB_ORACLE,
    "simhash_documents": SIMHASH_ORACLE,
    "split_documents": SPLIT_ORACLE,
    "stratified_sample_documents": STRATIFIED_ORACLE,
    "embedding_neardup_pairs": EMBED_NEARDUP_ORACLE,
    "semantic_dedup_embeddings": SEMDEDUP_ORACLE,
    "ngram_lm_documents": NGRAM_LM_ORACLE,
    "word_entropy_documents": WORD_ENTROPY_ORACLE,
    "corpus_diff_documents": CORPUS_DIFF_ORACLE.format(
        scrub=SCRUB_DUP_SPANS_ORACLE
    ),
    "cms_heavy_hitters_documents": CMS_ORACLE,
    "k_anonymity_documents": K_ANONYMITY_ORACLE,
    "l_diversity_documents": L_DIVERSITY_ORACLE,
    "zipf_fit_documents": ZIPF_ORACLE,
    "training_data_pipeline": TRAINING_PIPELINE_ORACLE,
    "train_bigram_lm_documents": TRAIN_LM_ORACLE,
    "kneser_ney_lm_documents": KN_LM_ORACLE,
    "kn_perplexity_buckets_documents": KN_BUCKETS_ORACLE,
    "ranking_eval_embeddings": RANKING_EVAL_ORACLE,
    "ranking_eval_orphan": RANKING_EVAL_ORPHAN_ORACLE,
    "build_vocab_documents": BUILD_VOCAB_ORACLE,
    "encode_documents_corpus": ENCODE_ORACLE,
    "embedding_neardup_lsh": EMBED_NEARDUP_LSH_ORACLE,
    "embedding_neardup_recall": EMBED_NEARDUP_RECALL_ORACLE,
    "token_stats_documents": TOKEN_STATS_ORACLE,
    "quality_score_documents": QUALITY_ORACLE,
    "language_id_documents": LANGID_ORACLE,
    "fingerprint_documents": FINGERPRINT_ORACLE,
    "repetition_stats_documents": REPETITION_ORACLE,
    "decontaminate_documents": DECONTAM_ORACLE,
    "pii_scrub_documents": PII_SCRUB_ORACLE,
    "resample_mix_documents": RESAMPLE_MIX_ORACLE,
    "pq_codes_embeddings": PQ_CODES_ORACLE,
    "quantize_int8_embeddings": QUANTIZE_INT8_ORACLE,
    "lsh_bucket_purity_embeddings": LSH_PURITY_ORACLE,
    "oov_rate_documents": OOV_RATE_ORACLE,
    "doc_length_gate_documents": DOC_LEN_GATE_ORACLE,
    "semantic_decontaminate_embeddings": SEMANTIC_DECON_ORACLE,
    "truncation_audit_embeddings": TRUNCATION_AUDIT_ORACLE,
    "tokenizer_fertility_by_lang": TOKENIZER_FERTILITY_ORACLE,
    "ngram_leakage_by_n": NGRAM_LEAKAGE_ORACLE,
    "ann_ivf_pq_topk": IVF_PQ_ORACLE,
    "quantization_ladder_embeddings": QUANTIZATION_LADDER_ORACLE,
    "minhash_jaccard_error_documents": MINHASH_JACCARD_ERROR_ORACLE,
    "ann_ivf_recall": ANN_IVF_RECALL_ORACLE,
    "packing_efficiency_documents": PACKING_EFFICIENCY_ORACLE,
    "vector_index_pipeline": VECTOR_INDEX_PIPELINE_ORACLE,
    "content_chunks_documents": CONTENT_CHUNKS_ORACLE,
    "heaps_law_documents": HEAPS_LAW_ORACLE,
    "sorted_batching_documents": SORTED_BATCHING_ORACLE,
    "cluster_size_distribution_documents": CLUSTER_SIZE_DIST_ORACLE,
    "pq_adc_topk": _pq_adc_oracle(),
    "pack_sequences_documents": PACK_SEQUENCES_ORACLE,
    "dedup_keep_best_documents": DEDUP_KEEP_BEST_ORACLE,
    "dup_span_coverage_documents": DUP_SPAN_COVERAGE_ORACLE,
    "scrub_dup_spans_documents": SCRUB_DUP_SPANS_ORACLE,
    "shard_corpus_documents": SHARD_CORPUS_ORACLE,
    "soft_dedup_weights_documents": SOFT_DEDUP_WEIGHTS_ORACLE,
    "quality_classifier_documents": QUALITY_CLASSIFIER_ORACLE,
    "hot_grams_documents": HOT_GRAMS_ORACLE,
    "ann_lsh_topk": ANN_LSH_ORACLE,
    "ann_ivf_topk": ANN_IVF_ORACLE,
    "ann_ivf_kmeans_topk": ANN_IVF_KMEANS_ORACLE,
    "multimodal_decode": MULTIMODAL_DECODE_ORACLE,
    "multimodal_frames": MULTIMODAL_FRAMES_ORACLE,
}
