"""Text-analysis operators for training-data pipelines (north-star extras):
language ID, quality scoring, token counting, document fingerprinting.
All built-in column expressions — JVM-side, pushdown-friendly, and
oracle-expressible (each has a DuckDB-equivalent formulation in
``workload/dataprep.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.functions.littable import lit_table
from graphrag_toolkit_spark.functions.text import word_grams

# Small function-word lexicons for the n-gram/stopword language heuristic.
# Deliberately tiny and hard-coded: the operator contract is "deterministic
# argmax over lexicon hits", not linguistic accuracy.
LANG_LEXICON: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den"],
    "fr": ["le", "la", "les", "de", "et", "est", "dans", "pour"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不"],
}

STOPWORDS = LANG_LEXICON["en"]

LN2 = 0.6931471805599453  # shared literal so no engine evaluates ln(2) itself

WORD_RE = r"[0-9a-zA-Z]+"
# BPE-ish segmentation: word pieces OR single non-space symbols
BPE_ISH_RE = r"[0-9a-zA-Z]+|[^\s0-9a-zA-Z]"


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token counting: whitespace tokens, word tokens, BPE-ish tokens, chars.
    ``regexp_count`` keeps everything in one codegen'd projection."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        # count runs of non-whitespace rather than size(split(trim(...))):
        # split returns [''] on empty input and trim only strips spaces, so
        # empty/tab-only docs would report phantom tokens
        F.regexp_count(t, F.lit(r"\S+")).alias("ws_tokens"),
        F.regexp_count(t, F.lit(WORD_RE)).alias("word_tokens"),
        F.regexp_count(t, F.lit(BPE_ISH_RE)).alias("bpeish_tokens"),
        F.length(t).alias("chars"),
    )


def quality_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality scoring: length, punctuation ratio, stopword ratio,
    mean word length → one composite score in [0, 1]-ish. Deterministic
    arithmetic on integer counts (exact in any engine)."""
    t = F.col(text_col)
    n_words = F.regexp_count(t, F.lit(WORD_RE))
    n_punct = F.regexp_count(t, F.lit(r"[^\s0-9a-zA-Z]"))
    n_chars = F.length(t)
    stop_pat = r"\b(" + "|".join(STOPWORDS) + r")\b"
    n_stop = F.regexp_count(F.lower(t), F.lit(stop_pat))
    word_chars = F.length(F.regexp_replace(t, r"[^0-9a-zA-Z]", ""))
    out = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        (n_punct.cast("double") / n_chars).alias("punct_ratio"),
        (n_stop.cast("double") / F.greatest(n_words, F.lit(1))).alias("stopword_ratio"),
        (word_chars.cast("double") / F.greatest(n_words, F.lit(1))).alias("mean_word_len"),
    )
    # composite: reward 50-500 word docs with low punct and some stopwords
    score = (
        F.least(F.col("n_words").cast("double") / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))) * 0.3
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3
    )
    return out.withColumn("quality", score)


def linear_quality_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    weights: dict[str, float],
    bias: float = 0.0,
) -> DataFrame:
    """Model-based quality filter with a LINEAR text classifier — the
    fasttext-classifier leg of public corpus pipelines (GPT-3 appendix A /
    CCNet use a trained linear model over bag-of-words to keep "high
    quality" documents), behind an injected weight vector so the operator
    is deterministic and engine-exact: logit = bias + Σ_tokens tf(w)·weight(w)
    computed in DECIMAL (weights quantized to 6 decimals), decision =
    logit ≥ 0. Returns (id, logit, keep). Sigmoid is monotone, so
    thresholding the logit IS thresholding the probability — the exactness
    discipline stays intact by never evaluating exp().

    Scale shape: tokens explode narrow, the weight vector (vocabulary-sized,
    KBs-MBs) broadcasts, one per-doc sum — the corpus text never shuffles.
    A trained model drops in as a bigger ``weights`` dict; at extreme vocab
    sizes swap the broadcast join for a shuffle join (same contract)."""
    spark = df.sparkSession
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    w = F.broadcast(
        lit_table(
            spark, "token string, w double",
            [
                {"token": t, "w": float(round(wt, 6))}
                for t, wt in sorted(weights.items())
            ],
        ).select("token", F.col("w").cast("decimal(12,6)").alias("w"))
    )
    tf = (
        widen_partitions(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    b = F.lit(str(round(bias, 6))).cast("decimal(12,6)")
    scored = (
        tf.join(w, "token")
        .groupBy("id")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("_dot"))
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            "id",
            (F.coalesce(F.col("_dot"), F.lit(0).cast("decimal(12,6)")) + b)
            .cast("double")
            .alias("logit"),
        )
        .withColumn("keep", F.col("logit") >= 0.0)
    )


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Language ID: lexicon-hit argmax. Explode tokens → broadcast-join the
    (lang, word) lexicon → per-(doc, lang) hit counts → window argmax with
    lexicographic tie-break; docs with zero hits get 'und'."""
    spark = df.sparkSession
    lex = lit_table(
        spark, "lang string, token string",
        [{"lang": lang, "token": w} for lang, ws in LANG_LEXICON.items() for w in ws],
    )
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    toks = widen_partitions(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"),
    )
    hits = (
        toks.join(F.broadcast(lex), "token")
        .groupBy("id", "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w = Window.partitionBy("id").orderBy(F.desc("hits"), F.asc("lang"))
    best = (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", F.col("lang").alias("lang_pred"), "hits")
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(best, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("lang_pred"), F.lit("und")).alias("lang_pred"),
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
    )


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array = the max
    multiplicity of any element — computed in one O(n) fold (struct
    accumulator: previous element, current run, best run), so the whole
    frequency question stays a narrow per-row expression with no explode,
    no shuffle, and no per-distinct-element rescan."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_stats(
    df: DataFrame, text_col: str, id_col: str, widen: bool = True
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A.1.1, public):
    duplicate-word / duplicate-bigram fractions and top-word / top-bigram
    coverage. High values ⇒ boilerplate or degenerate generation — standard
    training-corpus quality filters.

    100 TB shape: ONE narrow projection per document (split → sort → fold);
    no explode, no groupBy — the operator is shuffle-free at any scale and
    its cost is O(len · log len) per document, independent of corpus size.
    """
    # staged projections: each expensive array (tokenize, gram build, sorts)
    # is an aliased column referenced more than once downstream, so Catalyst's
    # CollapseProject keeps it materialized instead of re-evaluating it per
    # consumer expression — one tokenize + two sorts per row, total
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    # CPU-heavy per-row stage: optionally widen a narrow (few-file) input so
    # the fold work spreads across the cluster — a no-op on already-wide
    # scans, so the operator itself stays shuffle-free at real scale
    # (``widen=False`` pins that contract in tests/test_plans.py)
    if widen:
        df = widen_partitions(df)
    toks_df = df.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.col(text_col)), r"\s+").alias("_w"),
    ).select("id", "_w", word_grams(F.col("_w"), 2).alias("_g"))
    arr = toks_df.select(
        "id",
        F.size("_w").alias("n_words"),
        F.size("_g").alias("n_grams"),
        F.size(F.array_distinct("_w")).alias("d_words"),
        F.size(F.array_distinct("_g")).alias("d_grams"),
        _max_run(F.array_sort("_w")).alias("r_words"),
        _max_run(F.array_sort("_g")).alias("r_grams"),
    )
    wd = F.greatest(F.col("n_words"), F.lit(1)).cast("double")
    gd = F.greatest(F.col("n_grams"), F.lit(1)).cast("double")
    return arr.select(
        "id",
        "n_words",
        (F.lit(1.0) - F.col("d_words").cast("double") / wd).alias("dup_word_frac"),
        F.when(
            F.col("n_grams") > 0,
            F.lit(1.0) - F.col("d_grams").cast("double") / gd,
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
        (F.col("r_words").cast("double") / wd).alias("top_word_frac"),
        (F.col("r_grams").cast("double") / gd).alias("top_bigram_frac"),
    )


def fingerprint(
    df: DataFrame, text_col: str, id_col: str, k: int = 4
) -> DataFrame:
    """Document fingerprint (winnowing-style): the k lexicographically
    smallest md5 hashes of word 3-gram shingles, joined — a stable
    content-locality sketch (equal fingerprints ⇒ near-identical prose)."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = F.transform(word_grams(toks, 3), F.md5)
    return df.select(
        F.col(id_col).alias("id"),
        F.concat_ws("|", F.slice(F.array_sort(F.array_distinct(grams)), 1, k)).alias(
            "fingerprint"
        ),
    )


def ngram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bigram_logp: dict[tuple[str, str], float],
    unigram_logp: dict[str, float],
    unk_logp: float = -8.0,
) -> DataFrame:
    """Perplexity-style quality scoring with an injected back-off bigram LM
    — the KenLM-filter leg of public corpus pipelines (CCNet buckets
    documents by LM perplexity), behind precomputed DECIMAL log-probs so
    the operator is deterministic and engine-exact:

        logp(doc) = Σ_i coalesce(logp(w_i | w_{i-1}), logp(w_i), unk)

    (first word scores through the unigram/unk back-off). Decimal sums are
    exact in any order; ``avg_logp`` divides two exact operands. Returns
    (id, n_words, logp_sum, avg_logp) — bucket/filter on avg_logp exactly
    as CCNet does on perplexity (monotone transform; exp() never needed).

    Scale shape: positions explode narrow from the token array, the LM
    tables broadcast (a real KenLM table is GBs — swap the broadcast joins
    for shuffle joins on the same contract), one per-doc sum; the corpus
    never shuffles.
    """
    spark = df.sparkSession
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    def _dec(x: float) -> float:
        return float(round(x, 6))

    bi = F.broadcast(
        lit_table(
            spark, "bg string, blp double",
            [
                {"bg": f"{a} {b}", "blp": _dec(lp)}
                for (a, b), lp in sorted(bigram_logp.items())
            ]
            or [{"bg": "", "blp": 0.0}],
        ).select("bg", F.col("blp").cast("decimal(12,6)").alias("blp"))
    )
    uni = F.broadcast(
        lit_table(
            spark, "w string, ulp double",
            [
                {"w": w, "ulp": _dec(lp)}
                for w, lp in sorted(unigram_logp.items())
            ]
            or [{"w": "", "ulp": 0.0}],
        ).select("w", F.col("ulp").cast("decimal(12,6)").alias("ulp"))
    )
    ws = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+"), lambda x: x != ""
    )
    pos = (
        widen_partitions(df)
        .select(F.col(id_col).alias("id"), ws.alias("ws"))
        .select(
            "id",
            # one (bigram ending here, word) struct per position; i is the
            # 0-based index, so element_at(ws, i) is the previous word
            F.explode(
                F.transform(
                    "ws",
                    lambda w, i: F.struct(
                        F.when(
                            i > 0,
                            F.concat(F.element_at(F.col("ws"), i), F.lit(" "), w),
                        ).alias("bg"),
                        w.alias("w"),
                    ),
                )
            ).alias("p"),
        )
        .select("id", F.col("p.bg").alias("bg"), F.col("p.w").alias("w"))
    )
    scored = (
        pos.join(bi, "bg", "left")
        .join(uni, "w", "left")
        .withColumn(
            "lp",
            F.coalesce(
                F.col("blp"),
                F.col("ulp"),
                F.lit(_dec(unk_logp)).cast("decimal(12,6)"),
            ),
        )
    )
    agg = scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("lp").cast("double").alias("logp_sum"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(agg, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            F.coalesce(F.col("logp_sum"), F.lit(0.0)).alias("logp_sum"),
            F.when(
                F.col("n_words") > 0,
                F.col("logp_sum") / F.col("n_words").cast("double"),
            ).otherwise(F.lit(0.0)).alias("avg_logp"),
        )
    )


def word_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shannon entropy of each document's word distribution (bits) — the
    gibberish/repetition signal quality pipelines bucket on (low entropy =
    repeated boilerplate, high = uniform noise). Computed as

        H = log2(n) − (Σ_tokens tf·log2(tf)) / n

    with the per-token terms rounded to the decimal grid before the exact
    decimal sum, and the outer ops on exact operands — engine-identical.
    Returns (id, n_words, word_entropy).

    ZERO-SHUFFLE: term frequencies are run lengths of the per-row sorted
    token array (a document's words never leave their row), so the whole
    signal is one narrow projection — the explode + groupBy(id, token) +
    groupBy(id) + re-join shape this replaces shuffled the entire token
    corpus twice to aggregate keys that were row-local all along. Same
    trick as ``tfidf.tokenize``; plan-pinned in tests/test_plans.py.

    Logs are taken in NATS and converted to bits by one division by a
    shared ln(2) literal — ``log2`` intrinsics differ across engines
    (Spark computes ln(x)/ln(2)), and even ``ln`` itself can differ in the
    last ulp between the JVM and libm (observed at ln(3)). So EVERY log
    evaluation is quantized to the 6-decimal grid immediately
    (``round(ln(x), 6)`` as DECIMAL): integer×decimal products and the
    decimal sum are then exact, and the one remaining ulp-risk is a log
    value within 5e-16 of a rounding boundary — absent from these inputs
    and vanishingly unlikely in general."""
    lnq = lambda c: F.round(F.log(c), 6).cast("decimal(12,6)")  # noqa: E731
    toks = F.array_sort(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+"),
            lambda t: t != "",
        )
    )
    base = df.select(F.col(id_col).alias("id"), toks.alias("__s")).withColumn(
        "__starts",
        F.expr(
            "CASE WHEN size(__s) = 0 THEN array() "
            "ELSE filter(sequence(0, size(__s) - 1), "
            "            i -> i = 0 OR __s[i] <> __s[i - 1]) END"
        ),
    )
    tfs = F.expr(
        "transform(__starts, (st, j) -> "
        "  coalesce(try_element_at(__starts, j + 2), size(__s)) - st)"
    )
    n = F.size(F.col("__s")).cast("bigint")
    s = F.aggregate(
        tfs,
        F.lit(0).cast("decimal(28,6)"),
        lambda acc, tf: (
            acc
            + (tf.cast("bigint") * lnq(tf.cast("double"))).cast("decimal(18,6)")
        ).cast("decimal(28,6)"),
    ).cast("double")
    return base.select(
        "id",
        n.alias("n_words"),
        F.when(
            n > 0,
            (lnq(n.cast("double")).cast("double") - s / n.cast("double"))
            / F.lit(LN2),
        ).otherwise(F.lit(0.0)).alias("word_entropy"),
    )


def zipf_fit(
    df: DataFrame, text_col: str, id_col: str, top_n: int | None = None
) -> DataFrame:
    """Power-law (Zipf) fit of the corpus token-frequency distribution:
    least-squares slope/intercept of ln(freq) against ln(rank) — the
    standard corpus-health diagnostic (natural text ≈ slope −1; synthetic
    or templated corpora drift toward 0). Closed-form regression over
    points quantized to the decimal grid (same ln-quantization rationale
    as `word_entropy`): all four moment sums are exact decimals, the final
    slope/intercept arithmetic runs on exact double operands, mirrored
    op-for-op by the oracle. Returns one row:
    (n_points, slope, intercept).

    Scale shape: one token groupBy + the TWO-PHASE distributed rank over
    the vocab (`ranks.two_phase_row_number`, bucketed on −freq — no
    single-partition sort even at 10⁸-token web vocabularies) + a scalar
    aggregate. ``top_n`` additionally restricts the fit to the head of the
    distribution (standard Zipf practice — the tail is noise anyway) via a
    TakeOrderedAndProject before the rank."""
    tf = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+")).alias(
                "token"
            )
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if top_n is not None:
        tf = tf.orderBy(F.desc("freq"), F.asc("token")).limit(top_n)
    from graphrag_toolkit_spark.operators import ranks

    ranked = ranks.two_phase_row_number(
        ranks.with_range_bucket(tf, -F.col("freq")),
        [F.desc("freq"), F.asc("token")],
        out_col="rank",
    )
    return _log_log_fit(ranked, F.col("rank"), F.col("freq"), "slope")


def _log_log_fit(df: DataFrame, x: Column, y: Column, slope_col: str) -> DataFrame:
    """One row ``(n_points, <slope_col>, intercept)``: the least-squares
    line of ln y against ln x over the rows of ``df``. Each ln is quantized
    to the 6-decimal grid, the four moment sums are exact decimals, and the
    slope/intercept arithmetic runs on exact double operands (mirrored
    op-for-op by the oracles)."""
    lnq = lambda c: F.round(F.log(c), 6).cast("decimal(12,6)")  # noqa: E731
    pts = df.select(lnq(x).alias("x"), lnq(y).alias("y"))
    agg = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)"))
        .cast("double")
        .alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        F.col("n").cast("long").alias("n_points"),
        slope.alias(slope_col),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )


def _bigrams(df: DataFrame, text_col: str, id_col: str | None = None) -> DataFrame:
    """``(prev, w)``, led by ``id`` when ``id_col`` is given: one row per
    adjacent word pair of each row's lowercased alphanumeric tokens (rows
    with < 2 tokens give none). The input is widened first: the explode
    inherits the scan's partitioning, and one parquet file would put every
    bigram on one core."""
    from graphrag_toolkit_spark.functions.skew import widen_partitions

    ws = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+"), lambda x: x != ""
    )
    base = widen_partitions(df)
    if id_col:
        base = base.withColumnRenamed(id_col, "id")
    keep = ["id"] if id_col else []
    return (
        base.select(*keep, ws.alias("ws"))
        .select(
            *keep,
            F.explode(
                F.transform(
                    F.when(
                        F.size("ws") >= 2, F.sequence(F.lit(2), F.size("ws"))
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.struct(
                        F.element_at(F.col("ws"), (i - 1).cast("int")).alias("prev"),
                        F.element_at(F.col("ws"), i.cast("int")).alias("w"),
                    ),
                )
            ).alias("b"),
        )
        .select(*keep, "b.prev", "b.w")
    )


def train_bigram_lm(
    df: DataFrame, text_col: str, id_col: str, min_count: int = 1
) -> DataFrame:
    """Train a maximum-likelihood bigram LM from the corpus: one row per
    observed (prev, w) with its count and conditional probability
    p(w|prev) = c(prev,w)/c(prev·) — exact-integer ratios, so the trained
    table is engine-identical. The output feeds `ngram_lm_score` (round
    trip: train on the corpus, score documents with what was learned);
    add smoothing/backoff weights downstream as decimal literals.

    Scale shape: bigrams explode narrowly from the token array (same
    position trick as the scorer), one (prev, w) groupBy + one prev-level
    aggregate — the classic count-based LM-training shape; at web scale the
    count table is the shuffle, exactly as in public n-gram pipelines."""
    bigrams = _bigrams(df, text_col)
    counts = bigrams.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        counts = counts.filter(F.col("n") >= min_count)
    totals = counts.groupBy("prev").agg(F.sum("n").alias("n_prev"))
    return counts.join(totals, "prev").select(
        "prev", "w", "n",
        (F.col("n").cast("double") / F.col("n_prev")).alias("p"),
    )


# --- Gopher-style composite quality gate -------------------------------------

GOPHER_RULES = {
    "min_words": 5,            # Gopher: 50 (fixture-scaled)
    "max_words": 100_000,
    "min_mean_word_len": 2.0,  # Gopher: 3
    "max_mean_word_len": 12.0, # Gopher: 10 (fixture-scaled)
    "max_symbol_word_ratio": 0.3,   # '#' and '…' per word in Gopher; any
    "max_dup_word_frac": 0.60,      # non-alnum symbol here
}


def gopher_gate(
    df: DataFrame, text_col: str, id_col: str, rules: dict | None = None
) -> DataFrame:
    """Composite document gate in the style of Gopher's quality rules
    (Rae et al. 2021 §A.1.1, public): word-count bounds, mean-word-length
    bounds, symbol-to-word ratio, duplicate-word fraction — each rule a
    named boolean, the verdict their conjunction, plus the sorted list of
    failed rule names (the per-rule audit a cleaning run reports).

    One narrow projection per document (ratios are exact integer-count
    divisions; the dup-word fraction reuses the shuffle-free sorted-run
    fold) — zero shuffle at any corpus size."""
    r = {**GOPHER_RULES, **(rules or {})}
    t = F.col(text_col)
    n_words = F.regexp_count(t, F.lit(WORD_RE))
    word_chars = F.length(F.regexp_replace(t, r"[^0-9a-zA-Z]", ""))
    n_symbols = F.regexp_count(t, F.lit(r"[^\s0-9a-zA-Z]"))
    toks = F.array_sort(
        F.filter(F.split(F.lower(t), r"[^0-9a-z]+"), lambda x: x != "")
    )
    n_distinct = F.size(F.array_distinct(toks))
    base = df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        (word_chars.cast("double") / F.greatest(n_words, F.lit(1))).alias(
            "mean_word_len"
        ),
        (n_symbols.cast("double") / F.greatest(n_words, F.lit(1))).alias(
            "symbol_word_ratio"
        ),
        (
            (F.size(toks) - n_distinct).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("dup_word_frac"),
    )
    checks = {
        "min_words": F.col("n_words") >= r["min_words"],
        "max_words": F.col("n_words") <= r["max_words"],
        "min_mean_word_len": F.col("mean_word_len") >= r["min_mean_word_len"],
        "max_mean_word_len": F.col("mean_word_len") <= r["max_mean_word_len"],
        "max_symbol_word_ratio": F.col("symbol_word_ratio")
        <= r["max_symbol_word_ratio"],
        "max_dup_word_frac": F.col("dup_word_frac") <= r["max_dup_word_frac"],
    }
    failed = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(~ok, F.lit(name)).otherwise(F.lit(None))
                    for name, ok in checks.items()
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    out = base.withColumn("failed_rules", failed).withColumn(
        "passes", F.size(F.col("failed_rules")) == 0
    )
    return out.withColumn(
        "failed_rules", F.concat_ws(",", F.col("failed_rules"))
    )


def kneser_ney_bigram_lm(
    df: DataFrame, text_col: str, min_count: int = 1
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (discount d = 3/4) — the standard
    smoothing for the n-gram perplexity filters used in corpus curation
    (CCNet trains exactly this family to bucket web text by LM score):

        P(w|v) = max(c(vw) - d, 0)/c(v)
                 + (d · N1+(v,·)/c(v)) · N1+(·,w)/N1+(·,·)

    where N1+ are continuation counts (distinct left/right neighbors).
    Complements `train_bigram_lm` (unsmoothed MLE): KN reserves mass for
    unseen bigrams in proportion to how promiscuously a word continues.

    EXACTNESS (hash-gate discipline): with d = 3/4 every term is a ratio
    of integers once multiplied through by 4 — over the common denominator
    4·c(v)·N1+(·,·) the probability is

        num = max(4·c(vw) - 3, 0)·N1+(·,·) + 3·N1+(v,·)·N1+(·,w)
        den = 4·c(v)·N1+(·,·)

    and the emitted score is the micro-grid floor kn_p6 = ⌊num·10⁶/den⌋,
    computed two-step (``(num div den)·10⁶ + (num mod den)·10⁶ div den``)
    so no intermediate exceeds den·10⁶ — exact BIGINT in any engine up to
    ~10⁶ distinct bigrams per 4·c(v) (≈ 1.5·10⁶ corpus tokens at BIGINT;
    switch the two products to DECIMAL(38,0) beyond that). The final
    ``kn_prob = kn_p6/10⁶`` is one exact-operand IEEE division.

    Scale shape: one narrow bigram explode, one (prev,w) count shuffle,
    then two count-table-sized aggregates (per-prev, per-w) joined back —
    the continuation-count table is the same shuffle class as the count
    table itself; the corpus-wide N1+(·,·) scalar is a broadcast one-row
    cross join, never a driver collect. min_count filters OUTPUT rows
    only — continuation counts always come from the full count table."""
    bigrams = _bigrams(df, text_col)
    counts = bigrams.groupBy("prev", "w").agg(F.count(F.lit(1)).alias("n"))
    prev_stats = counts.groupBy("prev").agg(
        F.sum("n").alias("c_v"), F.count(F.lit(1)).alias("n1_v")
    )
    cont = counts.groupBy("w").agg(F.count(F.lit(1)).alias("n1_w"))
    nbb = counts.agg(F.count(F.lit(1)).alias("n_bb"))
    scored = (
        counts.join(prev_stats, "prev")
        .join(cont, "w")
        .crossJoin(F.broadcast(nbb))
        .withColumn(
            "num",
            F.expr("greatest(4 * n - 3, 0L) * n_bb + 3 * n1_v * n1_w"),
        )
        .withColumn("den", F.expr("4 * c_v * n_bb"))
        .withColumn(
            "kn_p6",
            F.expr(
                "(num div den) * 1000000 + ((num % den) * 1000000) div den"
            ).cast("long"),
        )
    )
    if min_count > 1:
        scored = scored.filter(F.col("n") >= min_count)
    return scored.select(
        "prev", "w", "n", "kn_p6",
        (F.col("kn_p6").cast("double") / F.lit(1_000_000.0)).alias("kn_prob"),
    )


def kn_perplexity_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 3,
    min_count: int = 1,
    unk_logp: float = -8.0,
) -> DataFrame:
    """CCNet's perplexity-bucketing round trip IN ONE PLAN: train the
    Kneser-Ney bigram LM on the corpus (`kneser_ney_bigram_lm`), score
    every document with it, and split the corpus into `n_buckets` quality
    buckets by average log-probability (CCNet's head/middle/tail terciles
    — Wenzek et al. 2020 bucket by KenLM perplexity; avg logp is the same
    ordering, monotone, no exp()).

    EXACTNESS: each trained micro-prob becomes a DECIMAL(12,6) log once —
    ``round(ln(kn_p6/10⁶), 6)`` (the grid-quantization rule: a raw
    transcendental never crosses the engine boundary; kn_p6 ≥ 1 is
    guarded so ln(0) can't appear). Unseen bigrams back off to the
    ``unk_logp`` literal. Per-doc sums are exact decimal addition;
    ``avg_logp`` casts the scale-6 sum to double (safe ≤ scale 12) and
    divides by the exact bigram count. Buckets are ntile over the total
    order (avg_logp DESC, id ASC) — bucket 1 is the head/cleanest slice.

    Documents with < 2 tokens have no bigrams, no perplexity, and are
    EXCLUDED (CCNet drops them at an earlier length gate; keeping them
    would also order NULL avg_logp differently across engines).

    Scale shape: training is `kneser_ney_bigram_lm`'s count shuffle; the
    scoring leg joins the per-doc bigram stream to the trained table on
    (prev, w) — a shuffle equi-join on both sides' natural key (broadcast
    it when the LM fits); one per-doc aggregate. The final ntile is the
    TWO-PHASE distributed rank over doc-level rows (operators/ranks.py) —
    no single-partition sort at any cardinality; the corpus text itself
    never passes through a window."""
    lm = kneser_ney_bigram_lm(df, text_col, min_count=min_count).select(
        "prev", "w",
        F.round(
            F.log(F.greatest(F.col("kn_p6"), F.lit(1)).cast("double") / F.lit(1_000_000.0)),
            6,
        ).cast("decimal(12,6)").alias("blp"),
    )
    bigrams = _bigrams(df, text_col, id_col)
    unk = F.lit(str(round(unk_logp, 6))).cast("decimal(12,6)")
    scored = (
        bigrams.join(lm, ["prev", "w"], "left")
        .select("id", F.coalesce(F.col("blp"), unk).alias("lp"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp").alias("lp_sum"),
        )
        .withColumn(
            "avg_logp",
            F.col("lp_sum").cast("double") / F.col("n_bigrams").cast("double"),
        )
    )
    # NTILE over doc-level rows via the two-phase distributed rank
    # (operators/ranks.py) — exact integer reconstruction, no
    # single-partition sort of the scored corpus
    from graphrag_toolkit_spark.operators import ranks

    scored = scored.localCheckpoint(eager=False)  # bounds + offsets + rank
    ranked = ranks.two_phase_row_number(
        ranks.with_range_bucket(scored, -F.col("avg_logp")),
        [F.desc("avg_logp"), F.asc("id")],
        total_col="__n",
    )
    return ranked.withColumn(
        "bucket", ranks.ntile_from_rank(F.col("rn"), F.col("__n"), n_buckets)
    ).select(
        "id", "n_bigrams",
        # emit the exact decimal sum as double (scale 6 — safe, one
        # correctly-rounded cast) so engines agree on the output type
        F.col("lp_sum").cast("double").alias("lp_sum"),
        "avg_logp", "bucket",
    )


def readability_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability feature
    in text-quality stacks (pairs with `quality_score`'s surface ratios):

        flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    with sentences = punctuation-terminated runs (min 1, so fragments
    count as one sentence) and syllables approximated as vowel-group runs
    per word (the standard dictionary-free estimator).

    EXACTNESS: counts are integers from regexp arithmetic; the score is a
    fixed expression tree of exact-operand IEEE ops (two divisions, two
    multiplies by double literals, two subtractions) — each op is
    correctly rounded, so engines agree bit-for-bit as long as the oracle
    writes the SAME tree: ((206.835 − 1.015·(w/s)) − 84.6·(syl/w)).
    Documents with zero words emit NULL flesch.

    Scale shape: one shuffle-free projection — the quality-signal
    contract; every count rides the scan."""
    t = F.lower(F.col(text_col))
    words = F.size(
        F.filter(F.split(t, r"[^0-9a-z]+"), lambda x: x != "")
    ).cast("long")
    sentences = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")
    syllables = F.regexp_count(t, F.lit(r"[aeiouy]+")).cast("long")
    w, s, y = F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
    return df.select(
        F.col(id_col).alias("id"),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
    ).withColumn(
        "flesch",
        F.when(
            w > 0,
            (
                F.lit(206.835)
                - F.lit(1.015) * (w.cast("double") / s.cast("double"))
            )
            - F.lit(84.6) * (y.cast("double") / w.cast("double")),
        ),
    )
