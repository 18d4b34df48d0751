"""Training-sequence packing (north-star extras): the GPT-style
concatenate-and-chop step that turns a deduped, filtered corpus into
fixed-length training sequences (public recipe: concatenate documents in a
fixed order, split every ``seq_len`` tokens; documents may span
boundaries).

Deterministic and engine-portable the same way ``sampling.py`` is: the
concatenation order is (bucket, content-hash, id) — a pure function of the
ids — so the packing layout survives re-partitioning, re-ingestion, and
engine migration, and the DuckDB oracle reproduces it with the identical
window sum.

100 TB shape: packing is a running sum, which is inherently sequential —
so it is sharded. Documents are split into ``n_buckets`` independent
hash-streams and each stream packs itself (one window partition = one
task). With buckets ≫ executors the stage is embarrassingly parallel and
no single task sees more than corpus/n_buckets rows; the price is that
sequence ids are per-bucket (emitted as a (bucket, seq_in_bucket) pair),
which training loaders accept — shards are how every real pipeline packs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark.functions.loop import checkpoint_nonempty
from graphrag_toolkit_spark.functions.text import word_grams
from graphrag_toolkit_spark.operators.sampling import hash_value


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    seq_len: int = 512,
    n_buckets: int = 8,
) -> DataFrame:
    """Assign every document its position in the packed token stream:
    (id, bucket, seq_in_bucket — the sequence containing the doc's first
    token, offset — the doc's start position within that sequence).
    Pure integer arithmetic over one partitioned running sum."""
    h = hash_value(F.col(id_col))
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.asc("_h"), F.asc("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    withcum = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(tokens_col).alias("_t"),
            h.alias("_h"),
        )
        .withColumn("bucket", (F.col("_h") % F.lit(n_buckets)).cast("int"))
        .withColumn("_cum", F.sum("_t").over(w))
    )
    start = F.col("_cum") - F.col("_t")
    offset = start % F.lit(seq_len)
    # (start - offset) / seq_len: numerator exactly divisible, so the double
    # division is exact for any corpus < 2^53 tokens — integer-div semantics
    # without leaving the long domain in either engine
    return withcum.select(
        "id",
        "bucket",
        ((start - offset) / F.lit(seq_len)).cast("long").alias("seq_in_bucket"),
        offset.cast("int").alias("offset"),
    )


def build_vocab(
    df: DataFrame, text_col: str, min_count: int = 1
) -> DataFrame:
    """Frequency-ranked vocabulary: (token, token_id, freq) with DENSE ids
    assigned by (freq desc, token asc) — id 0 is the most frequent token,
    deterministic under any partitioning. The word→id table every training
    export needs; min_count prunes the tail before ids are assigned so the
    id space stays dense.

    Scale shape: one token groupBy; the id rank is the TWO-PHASE
    distributed rank (`ranks.two_phase_row_number`, bucketed on −freq) —
    open-web vocabularies run to 10⁸ tokens, so the old single-partition
    vocab sort was a real ceiling, not a rounding error. min_count still
    prunes the tail first; pruned tokens map to an UNK id downstream."""
    tf = (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+")).alias(
                "token"
            )
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_count)
        # vocab-sized after the min_count prune; the two-phase rank reads it
        # three times (bucket bounds, offsets, final join) — without the
        # break each reference re-tokenizes the whole corpus
        .localCheckpoint(eager=False)
    )
    from graphrag_toolkit_spark.operators import ranks

    ranked = ranks.two_phase_row_number(
        ranks.with_range_bucket(tf, -F.col("freq")),
        [F.desc("freq"), F.asc("token")],
        out_col="__rn",
    )
    return ranked.withColumn("token_id", F.col("__rn") - 1).select(
        "token", "token_id", "freq"
    )


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str,
    id_col: str,
    unk_id: int = -1,
) -> DataFrame:
    """Encode text into dense token-id sequences using a `build_vocab`
    table: (id, n_tokens, ids) with ``ids`` the ordered token-id array
    (out-of-vocab → ``unk_id``) — the tensor precursor `pack_sequences`
    consumes.

    Scale shape: positions explode narrowly, the vocab broadcasts (GB-scale
    vocabs swap to a shuffle join on the same contract), and the sequence
    reassembles per doc with one sorted-collect — order pinned by position,
    partition-invariant."""
    pos = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+"),
                    lambda x: x != "",
                )
            ).alias("pos", "token"),
        )
    )
    enc = pos.join(F.broadcast(vocab.select("token", "token_id")), "token", "left")
    agg = enc.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("tid"),
                    )
                )
            ),
            lambda s: s["tid"],
        ).alias("ids"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(agg, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("ids"), F.array().cast("array<int>")).alias("ids"),
        )
    )


def bpe_train_merges(
    df: DataFrame, text_col: str, rounds: int = 3, return_corpus: bool = False
):
    """Character-level BPE merge TRAINING (Sennrich et al. 2016, "Neural
    Machine Translation of Rare Words with Subword Units") — the iterative
    step beyond the round-1 statistics of ``bpe_pair_stats``: per round,
    count adjacent symbol pairs across the corpus, merge the most frequent
    pair (count desc, pair asc tie-break — deterministic), rewrite the
    corpus, repeat. Returns the learned merge table
    (merge_round, sym_a, sym_b, n) — the artifact a BPE tokenizer ships.

    Corpus representation: each word as ``|c1||c2||…|`` (bar-wrapped
    symbols). A merge is then ONE literal string replace
    ``|a||b| → |ab|`` — non-overlapping left-to-right in every engine,
    which IS greedy BPE application (in ``aaa``, pair counting sees
    (a,a) twice but only one merge lands — the standard BPE-trainer
    subtlety, identical in the oracle twin). Symbols stay in
    ``[0-9a-z]+`` (split alphabet), so no symbol ever contains the bar
    or space metacharacters.

    Scale shape (the real-trainer regime): the corpus is collapsed ONCE to
    the DISTINCT-word frequency table (w, cnt) — Heaps' law makes that
    orders of magnitude smaller than the token stream — and every round's
    pair count weights by cnt (Σcnt over a pair ≡ the per-occurrence
    count, exactly). Each round is then one pair-explode over distinct
    words + a weighted-count groupBy + a global top-1
    (TakeOrderedAndProject) + a broadcast of the ONE winning row folded
    into a projection — no driver-side data. The initial char-split is
    injective (symbols concatenate back to the word), and a merge rewrite
    is a deterministic function of the word, so distinct words stay
    distinct across rounds: one groupBy up front suffices. Rounds are
    inherently sequential (each merge changes the next count — that's the
    algorithm).

    ``return_corpus=True`` returns ``(merges, corpus)`` where corpus is
    the weighted representation (w, cnt) after all merges; consumers must
    weight by cnt (``bpe_vocab`` does)."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+"), lambda t: t != ""
    )
    chars = lambda w: F.transform(  # noqa: E731
        F.sequence(F.lit(1), F.length(w)), lambda i: w.substr(i, F.lit(1))
    )
    corpus = (
        df.select(F.explode(words).alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit("|"), F.array_join(chars(F.col("wd")), "||"), F.lit("|")
            ).alias("w"),
            "cnt",
        )
    )
    merge_rows = []
    for r in range(1, rounds + 1):
        toks = F.split(F.expr("trim(BOTH '|' FROM w)"), r"\|\|")
        pairs = word_grams(toks, 2)  # single-symbol words are pair-free
        # consumed by the merge table AND every later round's corpus rewrite
        best = checkpoint_nonempty(
            corpus.select(F.explode(pairs).alias("pair"), F.col("cnt"))
            .groupBy("pair")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair"))
            .limit(1)
            .select(
                F.split_part(F.col("pair"), F.lit(" "), F.lit(1)).alias("sym_a"),
                F.split_part(F.col("pair"), F.lit(" "), F.lit(2)).alias("sym_b"),
                F.col("n").cast("bigint").alias("n"),
            )
        )
        if best is None:
            break  # no adjacent pairs left (e.g. all-single-symbol words):
            # fewer merges than requested, like any real BPE trainer
        merge_rows.append(
            best.select(
                F.lit(r).alias("merge_round"), "sym_a", "sym_b", "n"
            )
        )
        corpus = (
            corpus.crossJoin(F.broadcast(best))
            .select(
                F.expr(
                    "replace(w, '|' || sym_a || '||' || sym_b || '|',"
                    " '|' || sym_a || sym_b || '|')"
                ).alias("w"),
                "cnt",
            )
            # lazy checkpoint: round r's pair count otherwise re-executes
            # every earlier round's rewrite from the raw corpus (O(rounds²)
            # corpus scans); materialized-once keeps it O(rounds)
            .localCheckpoint(eager=False)
        )
    if merge_rows:
        out = merge_rows[0]
        for m in merge_rows[1:]:
            out = out.unionByName(m)
    else:
        out = df.sparkSession.createDataFrame(
            [], "merge_round int, sym_a string, sym_b string, n bigint"
        )
    if return_corpus:
        return out, corpus
    return out


def bpe_vocab(
    df: DataFrame, text_col: str, rounds: int = 3, top_n: int = 20
) -> DataFrame:
    """The other half of the tokenizer artifact: SYMBOL frequencies after
    applying the learned merges — train ``rounds`` merges, rewrite the
    corpus through them (``bpe_train_merges`` already maintains the merged
    corpus; this just counts it), and return the top-``top_n`` symbols by
    frequency (count desc, symbol asc). What a BPE tokenizer's vocab file
    starts from; merged symbols (e.g. 'th') displace their parts."""
    _, corpus = bpe_train_merges(df, text_col, rounds=rounds, return_corpus=True)
    toks = F.split(F.expr("trim(BOTH '|' FROM w)"), r"\|\|")
    return (
        corpus.select(F.explode(toks).alias("symbol"), F.col("cnt"))
        .filter(F.col("symbol") != "")
        .groupBy("symbol")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.desc("n"), F.asc("symbol"))
        .limit(top_n)
    )


def morton_sql(x: str, y: str, bits: int = 16, floordiv: str = "div") -> str:
    """SQL expression string for the Morton (Z-order) interleave of two
    non-negative integer expressions: bit i of ``x`` lands at position 2i,
    bit i of ``y`` at 2i+1. Built from integer div/mod/multiply only —
    ``((x div 2^i) % 2) * 4^i`` — so the SAME string (modulo the
    floor-division spelling: Spark ``div``, DuckDB/ANSI ``//``) evaluates
    bit-identically in any engine; no reliance on shift-operator
    signedness. bits=16 keeps the result < 2^32, far inside BIGINT."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    terms = []
    for i in range(bits):
        p2, p4 = 1 << i, 1 << (2 * i)
        terms.append(f"(({x} {floordiv} {p2}) % 2) * {p4}")
        terms.append(f"(({y} {floordiv} {p2}) % 2) * {2 * p4}")
    return "(" + " + ".join(terms) + ")"


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    tiebreak_col: str,
    rows_per_file: int = 256,
    bits: int = 16,
) -> DataFrame:
    """Z-order data layout — sort rows by the Morton interleave of two
    filter columns and cut the sorted order into fixed-size files, then
    report each file's min/max envelope on BOTH columns. This is the
    OPTIMIZE ZORDER primitive behind format-level data skipping: a scan
    with a predicate on either column prunes every file whose [min, max]
    misses the range, and Z-ordering keeps both envelopes tight at once
    (a plain sort tightens one column and shreds the other).

    Output (file_id, n_rows, min_x, max_x, min_y, max_y) IS the skipping
    index a lakehouse keeps in its manifest — pruning effectiveness for a
    predicate is directly measurable as the fraction of files whose
    envelope misses it.

    EXACTNESS: the Morton code is integer div/mod arithmetic (`morton_sql`),
    the file cut is a row_number over the total order (z, tiebreak), and
    the envelopes are integer min/max — nothing floating anywhere.

    Scale shape: NO single-partition global window. The z-rank is the
    two-phase distributed rank — coarse bucket = the Morton code's top 10
    bits, a ≤1024-row bucket-count table carries the cumulative offsets
    (tiny window), and each bucket ranks internally with a PARTITIONED
    row_number — so the sort work distributes exactly like the range
    partitioning a real OPTIMIZE job samples out. Inputs must already be
    non-negative integers < 2^bits; at production scale feed
    ntile-bucketized ranks instead of raw keys so the bit budget covers
    any domain (the interleave only needs relative order)."""
    z = F.expr(morton_sql(x_col, y_col, bits=bits))
    coarse_shift = 1 << max(2 * bits - 10, 0)
    rows = df.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y"),
        F.col(tiebreak_col).alias("tb"), z.alias("z"),
    ).withColumn("zb", F.expr(f"z div {coarse_shift}"))
    offsets = (
        rows.groupBy("zb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("zb").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("zb", "offset")
    )
    return (
        rows.join(F.broadcast(offsets), "zb")
        .withColumn(
            "rn",
            F.col("offset")
            + F.row_number().over(Window.partitionBy("zb").orderBy("z", "tb")),
        )
        .withColumn("file_id", F.expr(f"(rn - 1) div {rows_per_file}"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )
