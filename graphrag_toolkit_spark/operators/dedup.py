"""Corpus-scale deduplication operators (north-star training-data pipeline;
SURVEY §7 step 9 — extensions beyond the reference's V6 statement-diversity
near-dup filter, which these generalize from the ≤200-row rerank pool to the
full corpus).

Five families, all deterministic and (except where noted) oracle-expressible:

- **exact**: hash-groupBy on md5(text) — one shuffle, keep-min-id survivor.
- **MinHash + LSH**: shingle → H independent min-hashes → B bands →
  bucket-join. Each shingle is hashed ONCE (the first 7 hex digits of its
  md5, a 28-bit integer); min-hash i is the minimum of the affine map
  (a_i·h + b_i) mod 2³¹−1 over the shingles. md5 and integer arithmetic
  are identical in every engine, so signatures — and hence the whole
  candidate-pair set — are engine-reproducible. At scale the only
  shuffles are the band-bucket groupBys; no pairwise stage ever sees rows
  that don't share a bucket.
- **n-gram Jaccard**: exact verification on candidate pairs via shingle-set
  semi-join (|A∩B| / |A∪B|).
- **SimHash**: 16-bit signed-projection sketch over token hashes.
- **embedding cosine**: decimal-quantized cosine over all pairs above a
  threshold (the exact leg; the LSH-bucketed scale path is
  ``embedding_near_dup_pairs_lsh`` below).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphrag_toolkit_spark.functions.loop import fixpoint, pinned
from graphrag_toolkit_spark.functions.skew import widen_partitions
from graphrag_toolkit_spark.functions.text import word_grams
from graphrag_toolkit_spark.functions.vector import (
    dot_prequantized,
    l2_norm_prequantized,
    prequantize,
)


# --- exact -------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: (text_hash, n_dups, keep_id) with the smallest
    id as survivor. ``n_dups >= 1`` (groups of 1 are unique rows)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Survivors only: first row (min id) per distinct text."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --- shingling ---------------------------------------------------------------

def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 1) -> DataFrame:
    """Distinct word k-gram shingles per row: (id, shingle).

    Requires ONE input row per id (every caller passes a document table
    keyed by its id column): dedup then never crosses rows, so it runs
    IN-ROW (``array_distinct`` before the explode) and the former
    corpus-wide ``.distinct()`` exchange — a full shuffle of the exploded
    table, the largest intermediate in the MinHash family — disappears.
    The whole stage is map-only after the widening repartition of the
    compact doc rows."""
    deduped = F.array_distinct(shingle_array(F.col(text_col), k))
    return widen_partitions(df).select(
        F.col(id_col).alias("id"), F.explode(deduped).alias("shingle")
    )


def shingle_array(text: Column, k: int = 1) -> Column:
    """Word k-gram shingles of a text column as an ARRAY expression (narrow,
    per-row — no explode). Duplicates are kept: every consumer here is
    duplicate-insensitive (min-hash) or re-distincts itself."""
    toks = F.split(F.lower(text), r"\s+")
    grams = toks if k == 1 else word_grams(toks, k)
    return F.filter(grams, lambda g: g != "")


# --- MinHash + LSH -----------------------------------------------------------

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the affine hash family
    h_i(x) = (a_i * x + b_i) mod P. Shared with the DuckDB oracle."""
    return [
        (
            (1103515245 * (i + 1) + 12345) % MINHASH_PRIME,
            (22695477 * (i + 1) + 1) % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def minhash_signatures(sh: DataFrame, num_hashes: int = 12) -> DataFrame:
    """H independent min-hashes per id via universal hashing: ONE md5 per
    shingle gives a 28-bit base integer, then h_i = (a_i·h + b_i) mod 2³¹-1.
    One string hash + H integer affine maps per shingle (vs H string hashes),
    all whole-stage-codegen arithmetic; a_i ≤ 2³¹ and h < 2²⁸ keep the
    product under 2⁶³ (no overflow). md5 + integer arithmetic reproduce
    identically in any engine."""
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 7), 16, 10).cast("long")
    sh2 = sh.withColumn("_h", base)
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh{h}")
        for h, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh2.groupBy("id").agg(*aggs)


def _bind_once(col: Column, body) -> Column:
    """Evaluate ``col`` ONCE per row and pass it to ``body`` as a bound
    lambda variable: ``element_at(transform(array(col), x -> body(x)), 1)``.

    Catalyst's subexpression elimination deliberately skips expressions
    containing lambda functions, so referencing an expensive higher-order
    expression N times in one projection re-evaluates it N times (measured:
    the 12-column signature variant re-hashed every shingle per column —
    30× slower at sf0.1). The single-element-array binding is the
    expression-level `let` that restores sharing."""
    return F.element_at(F.transform(F.array(col), body), 1)


def minhash_signature_array(
    text: Column, k: int = 1, num_hashes: int = 12
) -> Column:
    """All H min-hashes in ONE narrow pass: ``aggregate`` over the
    affine-hashed shingle array with an H-slot running-minimum accumulator.
    Identical values to the explode+groupBy ``minhash_signatures`` path
    (min is duplicate- and order-insensitive) with ZERO shuffle — which
    (a) removes the signature stage's shuffle from the batch pipeline and
    (b) makes signatures computable on a STREAM without a pre-stateful
    aggregation (``streaming/stateful.py``). NULL when the text has no
    shingles (parity with the explode path, which emits no row).

    Cost discipline: the shingle md5 pass runs once (it's the aggregate's
    input), each element then does H fused multiply-mod-min ops against the
    accumulator. Every multi-use consumer must bind the result via
    ``_bind_once`` — see that docstring for why."""
    coeffs = minhash_coeffs(num_hashes)
    arr_a = F.array(*[F.lit(a).cast("long") for a, _ in coeffs])
    arr_b = F.array(*[F.lit(b).cast("long") for _, b in coeffs])
    base = F.transform(
        shingle_array(text, k),
        lambda g: F.conv(F.substring(F.md5(g), 1, 7), 16, 10).cast("long"),
    )
    init = F.array_repeat(F.lit(MINHASH_PRIME).cast("long"), num_hashes)
    return F.aggregate(
        base,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda m, i: F.least(
                m,
                (F.element_at(arr_a, i + 1) * h + F.element_at(arr_b, i + 1))
                % F.lit(MINHASH_PRIME),
            ),
        ),
        # h < 2^28 ⇒ every real min < P; a slot still at the P sentinel
        # means the shingle set was empty → null signature
        lambda acc: F.when(F.element_at(acc, 1) < F.lit(MINHASH_PRIME), acc),
    )


def banded_bucket_array(
    text: Column, k: int = 1, num_hashes: int = 12, bands: int = 6
) -> Column:
    """Banded LSH buckets as ONE narrow expression:
    ``array<struct<band:int, bh:string>>`` with bh = md5 of the band's
    '|'-joined min-hashes (value-identical to ``lsh_bucket_pairs``'s
    banding). The signature is evaluated once (``_bind_once``); null
    signature (shingle-less doc) → null array, so ``explode`` drops the
    row like the explode path does."""
    rows_per_band = num_hashes // bands

    def bands_of(sig: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[  # unrolled: rows_per_band is tiny and static
                            F.element_at(sig, b * rows_per_band + r + 1).cast(
                                "string"
                            )
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            ),
        )

    return _bind_once(
        minhash_signature_array(text, k, num_hashes),
        lambda sig: F.when(sig.isNotNull(), bands_of(sig)),
    )


def banded_pairs(banded: DataFrame) -> DataFrame:
    """(id, band, bh) rows → distinct candidate pairs (id_a < id_b): the
    band-bucket equi-self-join shared by every LSH leg."""
    # the self-join reads `banded` twice, and its upstream (signature
    # aggregate + banding) is the expensive half of candidate generation —
    # EAGER checkpoint so each side reads blocks (join sides materialize
    # concurrently, so lazy would recompute; guide §3.3). The banded table
    # is (id, band, bh) — bands× the doc count, narrow.
    banded = banded.localCheckpoint(eager=True)
    a = banded.withColumnRenamed("id", "id_a")
    b = banded.withColumnRenamed("id", "id_b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def band_signature(
    sig: DataFrame, num_hashes: int = 12, bands: int = 6,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Band a signature table (rows_per_band = H/B), hashing each band:
    (id, band, bh, *carry_cols) — the LSH bucket key table both the batch
    self-join and the incremental new-vs-corpus join build on."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("bh"))
        )
    return sig.select(
        "id", *carry_cols, F.explode(F.array(*band_cols)).alias("b")
    ).select("id", *carry_cols, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def lsh_bucket_pairs(
    sig: DataFrame, num_hashes: int = 12, bands: int = 6
) -> DataFrame:
    """Band the signature (rows_per_band = H/B), hash each band, self-join on
    (band, band_hash) → candidate pairs (id_a < id_b), distinct."""
    return banded_pairs(band_signature(sig, num_hashes, bands))


def _jaccard(inter: DataFrame, sizes: DataFrame) -> DataFrame:
    """(id_a, id_b, n_inter) ⋈ per-id shingle counts (id, n) →
    (id_a, id_b, jaccard): the union by inclusion-exclusion on the sizes,
    so no set union is ever built. One exact-int/exact-int double
    division, so results hash-match any engine."""
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
            .alias("jaccard"),
        )
    )


def jaccard_on_pairs(sh: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact Jaccard for given candidate pairs from the shingle table:
    (id_a, id_b, jaccard). Intersection via shingle equi-join; union by
    inclusion-exclusion on per-id shingle counts (no giant set union).
    Candidate sets grow with the corpus, so no join here is hinted: AQE
    picks each strategy from the sizes it sees.

    The shingle table is first semi-joined down to ids that appear in a
    candidate pair — near-dup candidates are a vanishing fraction of the
    corpus, so the (id, shingle) equi-join shuffles only the candidates'
    shingles, not the whole table."""
    cand_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # sh_c is read THREE times below (the size aggregate + both sides of
    # the intersection join): without a break each read re-scans the full
    # shingle table and re-runs the semi-join (guide §3.3). EAGER because
    # the intersection join's two sides materialize concurrently. sh_c is
    # candidate-sized (near-dup rate × shingles/doc), so the checkpoint
    # stores a vanishing fraction of the corpus at any scale.
    sh_c = sh.join(cand_ids, "id", "left_semi").localCheckpoint(eager=True)
    inter = (
        sh_c.withColumnRenamed("id", "id_a")
        .join(pairs, "id_a")
        .join(
            sh_c.withColumnsRenamed({"id": "id_b"}),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard(inter, sh_c.groupBy("id").agg(F.count(F.lit(1)).alias("n")))


def _posting_list_pairs(
    df: DataFrame, text_col: str, id_col: str, k: int,
    max_doc_freq: int | None, ordered: bool, score,
) -> DataFrame:
    """The inverted-shingle-index pair kernel of ``ngram_jaccard_pairs`` and
    ``containment_pairs``: ``score(inter, sizes)`` over
    inter = (id_a, id_b, n_inter) for every pair sharing a shingle and
    sizes = (id, n) shingles per id, materialized eagerly.

    With ``max_doc_freq`` only shingles in at most that many documents
    count — hot shingles carry no signal and would blow the self-join up
    quadratically at corpus scale (the standard posting-list cutoff).
    ``ordered`` keeps both (a, b) and (b, a); otherwise only id_a < id_b.
    Shingles are distinct per id, so COUNT(*) per pair of the posting-list
    self-join is |A∩B|: no separate candidate-distinct stage and no re-join
    of the shingle table. The (filtered) shingle table feeds both join
    sides and the size aggregate, so it is pinned; the result is tiny next
    to it and is checkpointed eagerly, so it is computed from the pinned
    blocks before they go."""
    with pinned() as pin:
        sh = pin(shingles(df, text_col, id_col, k))
        if max_doc_freq is not None:
            rare = (
                sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_doc_freq)
                .select("shingle")
            )
            sh = pin(sh.join(rare, "shingle", "left_semi"))
        a = sh.withColumnRenamed("id", "id_a")
        b = sh.withColumnRenamed("id", "id_b")
        keep = F.col("id_a") != F.col("id_b") if ordered else F.col("id_a") < F.col("id_b")
        inter = (
            a.join(b, "shingle")
            .filter(keep)
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
        return score(inter, sizes).localCheckpoint(eager=True)


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 3, threshold: float = 0.4, max_doc_freq: int = 50,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index:
    candidates are pairs sharing ≥1 *discriminative* shingle (document
    frequency ≤ ``max_doc_freq``). Jaccard is computed over the filtered
    shingle sets, so semantics = "Jaccard over rare k-grams".

    Scale shape: one groupBy for doc-frequency, one equi-join on shingle
    (skew bounded by the cutoff), one groupBy per pair — no pair ever forms
    without a shared rare shingle.
    """
    return _posting_list_pairs(
        df, text_col, id_col, k, max_doc_freq, ordered=False,
        score=lambda inter, sizes: _jaccard(inter, sizes).filter(
            F.col("jaccard") >= threshold
        ),
    )


def containment_pairs(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 2, threshold: float = 0.5, max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC shingle containment C(A→B) = |S_A ∩ S_B| / |S_A|
    (Broder's containment measure, the companion to resemblance/Jaccard in
    "On the resemblance and containment of documents", 1997). Catches the
    subset-duplication Jaccard structurally misses: a short doc quoted
    whole inside a long one has Jaccard |A|/|B| ≈ 0 but containment 1.0 —
    the quote/boilerplate-inclusion case in corpus dedup. Returns ordered
    pairs (id_a, id_b, n_inter, n_a, containment) with C(A→B) ≥ threshold
    — asymmetric, so (a, b) and (b, a) are independent rows.

    Scale shape: identical to ``ngram_jaccard_pairs`` — inverted
    shingle-index equi-self-join (a pair forms only by sharing a shingle),
    one groupBy per pair, sizes joined after; with ``max_doc_freq`` the
    posting-list cutoff bounds hot shingles. The division is one
    exact-int/exact-int double op, so results hash-match any engine."""
    return _posting_list_pairs(
        df, text_col, id_col, k, max_doc_freq, ordered=True,
        score=lambda inter, sizes: inter.join(
            sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a"
        )
        .withColumn("containment", F.col("n_inter") / F.col("n_a"))
        .filter(F.col("containment") >= threshold),
    )


def _verified_pairs(
    sh: DataFrame, candidates, threshold: float
) -> DataFrame:
    """The MinHash verify tail: exact Jaccard ≥ ``threshold`` over
    ``candidates(sh)`` → (id_a, id_b, jaccard), materialized eagerly.

    The shingle table feeds the candidate pipeline AND three joins in the
    Jaccard verification, so it is pinned once instead of re-running the
    explode per consumer. Candidate pairs are a vanishing fraction of the
    corpus but their plan embeds the whole signature pipeline, so they are
    materialized once and the two consumers in the verification (pairs,
    candidate ids) don't each re-run the LSH stages. The verified
    pair list is tiny and is checkpointed eagerly, so it is computed from
    the pinned shingles before they go."""
    with pinned(sh):
        cand = candidates(sh).localCheckpoint(eager=True)
        out = jaccard_on_pairs(sh, cand).filter(F.col("jaccard") >= threshold)
        return out.localCheckpoint(eager=True)


def minhash_near_dup_pairs(
    df: DataFrame, text_col: str, id_col: str,
    k: int = 1, num_hashes: int = 12, bands: int = 6,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → signature → banded candidates →
    exact-Jaccard verification ≥ threshold.

    (Measured note: the zero-shuffle ``minhash_signature_array`` path is
    value-identical but ~3× slower here — the per-element H-slot
    accumulator doesn't whole-stage-codegen the way the explode+hash-
    aggregate does; it exists for STREAMING, where a pre-stateful
    aggregation isn't allowed at all.)"""
    return _verified_pairs(
        shingles(df, text_col, id_col, k),
        lambda sh: lsh_bucket_pairs(
            minhash_signatures(sh, num_hashes), num_hashes, bands
        ),
        threshold,
    )


def minhash_near_dup_increment(
    corpus: DataFrame,
    increment: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 1,
    num_hashes: int = 12,
    bands: int = 6,
    threshold: float = 0.7,
) -> DataFrame:
    """INCREMENTAL near-dup: match an ingestion increment against the
    existing corpus (and against itself) WITHOUT re-pairing the corpus
    internally — the shape a daily 100 TB ingest actually runs, where
    corpus×corpus candidate generation would redo all prior work every
    day. Returns (id_new, id_match, jaccard ≥ threshold) where id_match
    is an existing-corpus doc, or an increment doc with a smaller id
    (keep-first within the batch).

    Plan shape: both sides band as usual, but the bucket join is
    increment-banded × all-banded — at a daily-increment:corpus ratio of
    1:1000 that is ~1000× fewer candidate pairs than the batch self-join.
    In production the corpus side's signatures/bands are a persisted table
    maintained by the ingest (computed once per doc, ever); here they are
    derived inline from the corpus frame for a self-contained oracle."""
    inc = increment.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text"),
        F.lit(True).alias("is_new"),
    )
    old = corpus.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__text"),
        F.lit(False).alias("is_new"),
    )
    allp = inc.unionByName(old)

    def candidates(sh: DataFrame) -> DataFrame:
        sig = minhash_signatures(sh, num_hashes).join(
            allp.select("id", "is_new"), "id"
        )
        banded = band_signature(
            sig, num_hashes, bands, carry_cols=["is_new"]
        ).localCheckpoint(eager=True)  # bn + ball both read it (see banded_pairs)
        bn = banded.filter(F.col("is_new")).select(
            F.col("id").alias("id_new"), "band", "bh"
        )
        ball = banded.select(
            F.col("id").alias("id_match"), F.col("is_new").alias("match_new"),
            "band", "bh",
        )
        return (
            bn.join(ball, ["band", "bh"])
            .filter(
                (F.col("id_match") != F.col("id_new"))
                & (~F.col("match_new") | (F.col("id_match") < F.col("id_new")))
            )
            .select(
                F.col("id_new").alias("id_a"), F.col("id_match").alias("id_b")
            )
            .distinct()
        )

    return _verified_pairs(
        shingles(allp, "__text", "id", k), candidates, threshold
    ).select(
        F.col("id_a").alias("id_new"), F.col("id_b").alias("id_match"), "jaccard"
    )


# --- near-dup clustering -----------------------------------------------------

def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iters: int = 25, algorithm: str = "star",
    group_col: str | None = None,
) -> DataFrame:
    """Cluster assignment over an undirected near-dup pair graph:
    (id, component) with component = MIN id reachable from the node — the
    deterministic cluster representative for keep-one-per-cluster dedup
    (pairs alone don't dedup a corpus; transitive closure does).

    ``algorithm="star"`` (default): alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Each round halves component diameter, so convergence is
    O(log n) rounds INDEPENDENT of component eccentricity — the regime
    that matters at corpus scale, where one boilerplate near-dup component
    can span millions of docs. Per round the only wide ops are a per-node
    ``min`` groupBy (map-side combinable, so hub keys partial-aggregate
    before the shuffle) and an equi-join of the per-node min back onto the
    edge list (AQE skew-split handles residual hub skew); edges strictly
    shrink toward the star form, never densify.

    ``algorithm="minlabel"``: the round-4 min-label propagation — each
    round every node adopts the smallest label among itself and its
    neighbors; converges in rounds = eccentricity of the component's min
    node. Simpler plan per round, fine for shallow near-dup clusters;
    kept as the cross-check twin (tests assert identical output).

    Both loop over the PAIR GRAPH only — the corpus never enters — on
    `functions.loop.fixpoint` with ``until_stable``: each round's state
    (labels for minlabel, the canonical edge set for star) is checkpointed
    lazily, and the loop stops at the first round whose state equals the
    previous one as a set (row counts first; ``exceptAll`` only when they
    match, the count doubling as the checkpoint's materializing action).
    Raises `functions.loop.NotConverged` (a RuntimeError) naming
    ``connected_components`` if no round is stable within ``max_iters``.

    ``group_col`` (star only) runs INDEPENDENT component searches for
    several edge sets in ONE loop: every groupBy/join key gains the group
    column, so each round's two shuffles serve all groups at once and the
    loop runs max(rounds_g) rounds instead of Σ rounds_g sequential jobs
    (star rounds are idempotent at the fixed point, so already-converged
    groups pass through later rounds unchanged). Returns
    (group_col, id, component); callers with N scenario graphs (e.g. the
    hub-knockout before/after pair) pay one loop instead of N."""
    if algorithm == "star":
        return _cc_star(pairs, id_a, id_b, max_iters, group_col)
    if group_col is not None:
        raise ValueError("group_col requires algorithm='star'")
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
    )

    def _round(labels: DataFrame) -> DataFrame:
        msgs = edges.join(labels.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "component"
        )
        return (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )

    with pinned(edges):
        return fixpoint(
            _round,
            edges.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id")),
            max_iters,
            until_stable=True,
            name="connected_components",
        )


def _cc_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iters: int,
    group_col: str | None = None,
) -> DataFrame:
    """Alternating large-star/small-star rounds over canonical (a > b)
    edges until the edge set is stable, then read labels off the star.

    large-star(u): every neighbor v > u re-attaches to
    m = min(N(u) ∪ {u}); small-star(u): every neighbor v < u (and u
    itself) attaches to m. At the fixed point every surviving edge is
    (node, component-min), so labels fall out without a final traversal.

    With ``group_col`` every key below gains the group column, so one loop
    converges all groups' graphs together (a group at its fixed point is
    mapped to itself by both stars, so shared extra rounds are no-ops for
    it); global set-stability of the tagged edge set == every group stable."""
    g = [group_col] if group_col else []
    # `pairs` is read by THREE plan branches below (canon + the two union
    # legs of `nodes`); callers often pass a LAZY pair pipeline (the
    # semantic-dedup quadratic verify, the edit-distance variant join), so
    # without a lineage break the whole pipeline re-plans AND re-executes
    # per reference — the loop's first count pays it once, then `nodes`
    # pays it twice more at the final join (guide §3.3). The lazy
    # checkpoint materializes inside that count (strictly first), so
    # `nodes` later reads blocks, not the pipeline.
    pairs = pairs.select(*g, id_a, id_b).localCheckpoint(eager=False)
    nodes = (
        pairs.select(*g, F.col(id_a).alias("id"))
        .unionByName(pairs.select(*g, F.col(id_b).alias("id")))
        .distinct()
    )
    canon = (
        pairs.filter(F.col(id_a) != F.col(id_b))
        .select(
            *g,
            F.greatest(F.col(id_a), F.col(id_b)).alias("a"),
            F.least(F.col(id_a), F.col(id_b)).alias("b"),
        )
        .distinct()
    )

    def _round(canon: DataFrame) -> DataFrame:
        # large-star over the symmetric view: for each center u, larger
        # neighbors re-attach to min(N(u) ∪ {u})
        sym = canon.select(*g, F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            canon.select(*g, F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        mins = (
            sym.groupBy(*g, "src")
            .agg(F.min("dst").alias("mn"))
            .select(*g, "src", F.least("mn", F.col("src")).alias("m"))
        )
        # NOTE: no distinct here — `large` has at most one row per sym edge
        # (no amplification to bound), downstream `sm` is a MIN (duplicate-
        # insensitive) and the round's result re-distincts, so the dedup
        # exchange per round bought nothing; dropping it is one fewer
        # shuffle per round (measured −44% per CC run, identical output)
        large = (
            sym.filter(F.col("dst") > F.col("src"))
            .join(mins, [*g, "src"])
            .select(*g, F.col("dst").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star over canonical (a > b) edges: smaller neighbors and
        # the center both attach to the center's min smaller neighbor
        sm = large.groupBy(*g, "a").agg(F.min("b").alias("m"))
        # distinct: the loop's stability test compares edge SETS
        return (
            large.join(sm, [*g, "a"])
            .filter(F.col("b") != F.col("m"))
            .select(*g, F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(sm.select(*g, F.col("a"), F.col("m").alias("b")))
            .distinct()
        )

    canon = fixpoint(
        _round, canon, max_iters, until_stable=True, name="connected_components"
    )
    return (
        nodes.join(
            canon.select(*g, F.col("a").alias("id"), F.col("b").alias("component")),
            [*g, "id"],
            "left",
        )
        .select(*g, "id", F.coalesce("component", F.col("id")).alias("component"))
        # consumers read the label table from several plan branches (e.g.
        # soft-dedup's cluster-size aggregate + its re-join); the lazy break
        # stops each branch re-running the nodes distinct + label-assembly
        # join (guide §3.3)
        .localCheckpoint(eager=False)
    )


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 16


def _token_hash_int(col: Column) -> Column:
    """First 8 hex chars of md5 as a non-negative int (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """16-bit SimHash: bit_i = sign of Σ_tokens tf × (bit_i(hash(token)) ? +1
    : -1) — a signed projection; near-identical token distributions collide.
    Returns (id, simhash)."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    tf = (
        widen_partitions(df)
        .select(F.col(id_col).alias("id"), F.explode(toks).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("th", _token_hash_int(F.col("token")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.col("tf"))
            .otherwise(-F.col("tf"))
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    per_doc = tf.groupBy("id").agg(*bit_sums)
    out = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        out = out + F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(0)
    return per_doc.select("id", out.alias("simhash"))


# --- embedding cosine --------------------------------------------------------

def _quantized(
    emb: DataFrame, id_col: str, vec_col: str, *carry: Column, planes=None
) -> DataFrame:
    """(id, *carry, qv, norm[, bucket]): each vector decimal-quantized once
    (``functions/vector.prequantize``) with its quantized L2 norm and, given
    ``planes``, its one-bucket sign-LSH key (``ann.lsh_bucket_prequantized``)
    — the per-vector half of every quantized-cosine verify, computed before
    any pair join instead of once per pair side.

    Two projections on purpose: the norm and the bucket read the SHARED
    quantized array, and CollapseProject keeps a non-cheap alias that is
    referenced more than once, so the vector is quantized once per row, not
    once per consumer."""
    from graphrag_toolkit_spark.operators import ann

    extra = [] if planes is None else [
        ann.lsh_bucket_prequantized(F.col("qv"), planes).alias("bucket")
    ]
    return emb.select(
        F.col(id_col).alias("id"), *carry, prequantize(F.col(vec_col)).alias("qv"),
    ).select("*", l2_norm_prequantized(F.col("qv")).alias("norm"), *extra)


def _side(prepped: DataFrame, s: str, *keep: str) -> DataFrame:
    """One pair side of a ``_quantized`` table: (*keep, id_s, qs, ns)."""
    return prepped.select(
        *keep, F.col("id").alias(f"id_{s}"), F.col("qv").alias(f"q{s}"),
        F.col("norm").alias(f"n{s}"),
    )


def _cosine_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact quantized-cosine verify of pairs carrying both ``_side``s:
    (id_a, id_b, cos) with cos ≥ ``threshold``."""
    return (
        pairs.withColumn(
            "cos", dot_prequantized(F.col("qa"), F.col("qb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_near_dup_pairs(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All-pairs exact VERIFIER leg: (id_a, id_b, cos) with cos ≥ threshold,
    quantized cosine (oracle-reproducible). O(n²) — for bounded pools only
    (recall measurement, rerank-pool dedup). The corpus-scale path is
    ``embedding_near_dup_pairs_lsh`` below, which generates candidates from
    LSH buckets instead of the full cross product.

    Norms and decimal quantization are computed ONCE per vector before the
    pair join (3× fewer array folds than quantizing inside the O(n²) stage).
    """
    prepped = _quantized(emb, id_col, vec_col)
    a, b = _side(prepped, "a"), _side(prepped, "b")
    return _cosine_at_least(a.join(b, F.col("id_a") < F.col("id_b")), threshold)


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Corpus-scale embedding near-dup: random-hyperplane LSH buckets as the
    candidate generator, exact quantized cosine as the verifier. The scale
    shape generalizes the reference's bounded statement-diversity filter
    (``retrieval/post_processors/statement_diversity.py:85-230``) corpus-wide.

    Each vector lands in exactly ONE bucket (its full sign signature over
    ``n_planes`` deterministic hyperplanes — ``ann.hyperplanes``), so the
    pair join is an equi-join on bucket: the only shuffle partitions by
    bucket, and no pair ever forms across buckets. O(Σ bucket²) ≪ O(n²)
    when the planes split the corpus; near-identical vectors agree on every
    sign bit, so true near-dups (cos → 1) co-bucket with high probability.
    Recall < 1 is the LSH trade — raise it with more/fewer planes or a
    banded multi-probe, and measure it against the all-pairs verifier
    (``embedding_near_dup_pairs``) on a sampled pool.

    Deterministic and oracle-expressible end to end: hyperplanes are
    content-hash-derived literals, projections and cosines use the decimal
    quantization discipline of ``functions/vector.py``.
    """
    from graphrag_toolkit_spark.operators import ann

    # quantize + norm + n_planes sign projections are the expensive part of
    # this query (hundreds of decimal ops per row) and feed BOTH sides of
    # the self-join — materialize the projection once instead of running it
    # twice under the join
    prepped = _quantized(
        emb, id_col, vec_col, planes=ann.hyperplanes(n_planes, dim)
    ).localCheckpoint(eager=True)
    a, b = _side(prepped, "a", "bucket"), _side(prepped, "b", "bucket")
    return _cosine_at_least(
        a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b")), threshold
    )


def embedding_near_dup_pairs_lsh_banded(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 4,
    bands: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Banded (multi-table) hyperplane LSH: ``bands`` independent sign
    signatures of ``n_planes`` planes each; a pair is a candidate when it
    co-buckets in ANY band (same OR-of-ANDs recall amplification as MinHash
    banding: recall = 1-(1-p^k)^L for per-plane agreement p = 1-θ/π). Exact
    quantized-cosine verify keeps precision exact; bands only buy recall.

    Tuning is angle-driven: true near-duplicates (cos ≥ 0.9, the production
    dedup threshold) prune hard — k=8, L=8 gives ~94% recall while only
    ~0.4% of random orthogonal pairs become candidates. Loose thresholds
    (wide angles, like the fixture's 0.35) are fundamentally LSH-hostile —
    recall can be bought (smaller k, larger L) but pruning degrades toward
    all-pairs; the ``embedding_neardup_recall`` query measures exactly this
    trade instead of asserting it away.

    Shape: one bucket-exploded table (bands × n rows), per-band equi-join,
    pair distinct, then a verify join — every shuffle partitions by
    (band, bucket) or pair id; no cross-bucket pair ever forms."""
    from graphrag_toolkit_spark.operators import ann

    planes = ann.hyperplanes(n_planes * bands, dim)
    band_sigs = [
        F.struct(
            F.lit(b).alias("band"),
            ann.lsh_bucket(
                F.col(vec_col), planes[b * n_planes : (b + 1) * n_planes]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    banded = emb.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_sigs)).alias("bb")
    ).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ).localCheckpoint(eager=True)
    # ^ both self-join sides read the banded table, and the bands×n_planes
    # sign projections behind it are the expensive map of this query —
    # materialize once (concurrent join sides, so eager; guide §3.3)
    a = banded.withColumnRenamed("id", "id_a")
    b = banded.withColumnRenamed("id", "id_b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # quantize each vector ONCE, not once per pair side
    prepped = _quantized(emb, id_col, vec_col).localCheckpoint(eager=True)
    return _cosine_at_least(
        cand.join(_side(prepped, "a"), "id_a").join(_side(prepped, "b"), "id_b"),
        threshold,
    )


def soft_dedup_weights(
    cc: DataFrame, corpus: DataFrame, id_col: str
) -> DataFrame:
    """Soft dedup: instead of dropping near-duplicates, DOWN-WEIGHT them —
    (id, weight) with weight = 1/|cluster| for clustered documents and 1.0
    for singletons, so each near-dup cluster contributes one document's
    worth of sampling mass in expectation (the keep-information-but-
    don't-overcount alternative to ``connected_components`` + survivor
    filtering; pairs well with ``sampling.resample_to_mix``-style
    weighted consumption).

    Scale shape: one groupBy over the (tiny) cluster assignment, an
    id-equi join back to it, and a left join against corpus ids — the
    corpus side is never shuffled beyond the id join; clean docs never
    touch the cluster tables (left-join null → 1.0)."""
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("_n"))
    w = cc.join(sizes, "component").select(
        "id", (F.lit(1.0) / F.col("_n").cast("double")).alias("weight")
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(w, "id", "left")
        .select("id", F.coalesce("weight", F.lit(1.0)).alias("weight"))
    )


def cluster_representatives(
    cc: DataFrame, scores: DataFrame, score_col: str = "quality"
) -> DataFrame:
    """Quality-aware survivor selection: for each near-dup cluster keep the
    member with the highest score (deterministic id tie-break) — the
    keep-BEST-per-cluster refinement of ``connected_components``'s
    keep-min-id rule (real pipelines keep the best text, not the smallest
    id). ``cc(id, component)`` ⋈ ``scores(id, <score_col>)`` →
    (cluster_id, id, <score_col>) one row per cluster.

    Scale shape: the join is id-equi (co-partitionable) and the argmax is
    one window over clusters — cardinality already reduced to the near-dup
    subgraph by the time this runs."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc("id")
    )
    return (
        cc.join(scores, "id")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("component").alias("cluster_id"), "id", score_col)
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    only ever compares WITHIN a cluster. Vectors are assigned to their
    nearest centroid (`ann.ivf_assign`, broadcast centroids — one narrow
    map), intra-cluster pairs above the cosine threshold form a near-dup
    graph, and `connected_components` picks one deterministic survivor per
    group (min id; compose with `cluster_representatives` to keep-best
    instead). Returns one row per input vector:
    ``(id, cid, cluster_rep, is_survivor)``.

    Scale shape: the pair stage shuffles on cid and is quadratic only in
    CLUSTER size — the paper's regime scales k with n to keep clusters
    bounded (~corpus/k rows each), so no all-pairs stage ever touches the
    corpus. Norms/quantization are computed once per vector before the
    pair join, and the full pair space first passes a CHEAP double-cosine
    prefilter at threshold − margin (margin ≫ the ≤1e-5 quantization
    error, so no true pair can be lost); the exact decimal verify — the
    expensive fold that decides ≥ threshold — runs only on survivors.
    Deterministic end-to-end with `first_c_centroids`; with the KMeans
    trainer the assignment inherits its partitioning caveat.
    """
    from graphrag_toolkit_spark.functions.vector import dot, l2_norm
    from graphrag_toolkit_spark.operators.ann import ivf_assign

    assigned = ivf_assign(emb, centroids, id_col, vec_col)
    prepped = _quantized(
        assigned, "id", "embedding", F.col("cid"),
        F.col("embedding").alias("dv"), l2_norm(F.col("embedding")).alias("dn"),
    ).localCheckpoint(eager=True)  # quantize/norm each vector ONCE, not per pair
    # The O(cluster²) pair stage carries ONLY the double vectors + norms
    # (guide §8: keep the quadratic stage on the lightest possible rows) —
    # the decimal arrays, twice the bytes of the double ones, would
    # otherwise be duplicated into every candidate pair row just to sit
    # unread through the prefilter. Survivors of the prefilter are
    # pair-graph-sized (≈ the near-dup rate), so joining the quantized
    # representation back per side costs two id-equi joins on a tiny set.
    a = prepped.select(
        "cid", F.col("id").alias("id_a"), F.col("dv").alias("da"),
        F.col("dn").alias("dna"),
    )
    b = prepped.select(
        "cid", F.col("id").alias("id_b"), F.col("dv").alias("db"),
        F.col("dn").alias("dnb"),
    )
    margin = 1e-3
    cand = (
        a.join(b, ["cid"])
        .filter(F.col("id_a") < F.col("id_b"))
        # cheap prefilter: one double dot per pair (norms precomputed;
        # multiply across instead of dividing per pair)
        .filter(
            dot(F.col("da"), F.col("db"))
            >= F.lit(threshold - margin) * F.col("dna") * F.col("dnb")
        )
        .select("id_a", "id_b")
    )
    pairs = _cosine_at_least(
        cand.join(_side(prepped, "a"), "id_a").join(_side(prepped, "b"), "id_b"),
        threshold,
    ).select("id_a", "id_b")
    comps = connected_components(pairs)
    return (
        # prepped IS assigned's (id, cid) — materialized once above; going
        # back to `assigned` here would re-run the whole argmax assignment
        # fold (the most expensive map in the query) for a second full pass
        prepped.select("id", "cid")
        .join(comps, "id", "left")
        .select(
            "id",
            "cid",
            F.coalesce(F.col("component"), F.col("id")).alias("cluster_rep"),
            (F.coalesce(F.col("component"), F.col("id")) == F.col("id")).alias(
                "is_survivor"
            ),
        )
    )
