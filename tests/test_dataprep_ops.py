"""Dedup families, text stats, ANN, multimodal plumbing — unit tests with
golden Python implementations and recall checks."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from graphrag_toolkit_spark import fixtures
from graphrag_toolkit_spark.operators import (
    ann,
    dedup,
    multimodal,
    sampling,
    textstats,
)
from graphrag_toolkit_spark.operators.vss import top_k

DOCS = [
    {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
    {"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog"},   # exact dup of 1
    {"doc_id": 3, "text": "the quick brown fox leaps over the lazy dog"},   # near dup of 1
    {"doc_id": 4, "text": "completely different content about spark engines"},
    {"doc_id": 5, "text": "Der schnelle braune Fuchs springt"},
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS)


class TestExactDedup:
    def test_groups(self, docs):
        out = dedup.exact_dedup_groups(docs, "text", "doc_id").collect()
        groups = {r["text_hash"]: (r["n_dups"], r["keep_id"]) for r in out}
        h = hashlib.md5(DOCS[0]["text"].encode()).hexdigest()
        assert groups[h] == (2, 1)
        assert len(groups) == 4

    def test_survivors(self, docs):
        out = dedup.exact_dedup(docs, "text", "doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


class TestMinhash:
    def test_signature_identical_for_identical_text(self, spark, docs):
        sh = dedup.shingles(docs, "text", "doc_id", k=2)
        sig = dedup.minhash_signatures(sh, 12).collect()
        by_id = {r["id"]: [r[f"mh{h}"] for h in range(12)] for r in sig}
        assert by_id[1] == by_id[2]
        assert by_id[1] != by_id[4]

    def test_near_dup_pipeline_finds_planted_pair(self, docs):
        pairs = dedup.minhash_near_dup_pairs(
            docs, "text", "doc_id", k=2, threshold=0.5
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in got            # exact dup always caught
        assert (1, 3) in got or (2, 3) in got  # near dup shares most bigrams
        assert all(4 not in p and 5 not in p for p in got)

    def test_jaccard_values_exact(self, spark, docs):
        sh = dedup.shingles(docs, "text", "doc_id", k=2)
        pairs = spark.createDataFrame([{"id_a": 1, "id_b": 2}, {"id_a": 1, "id_b": 4}])
        out = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in dedup.jaccard_on_pairs(sh, pairs).collect()}
        assert out[(1, 2)] == pytest.approx(1.0)
        assert (1, 4) not in out  # zero shingle overlap → no row from the join

    def test_shingles_short_doc(self, spark):
        short = spark.createDataFrame([{"doc_id": 9, "text": "single"}])
        assert dedup.shingles(short, "text", "doc_id", k=3).count() == 0


class TestNgramJaccard:
    def test_finds_planted_pairs_exactly(self, docs):
        out = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", k=2, threshold=0.5)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert got[(1, 2)] == pytest.approx(1.0)
        assert (1, 3) in got and got[(1, 3)] < 1.0
        assert all(5 not in p for p in got)

    def test_stop_shingle_cutoff_blocks_hot_grams(self, spark):
        # 4 docs all sharing one hot bigram; with max_doc_freq=3 the shared
        # gram is dropped, so no candidate pair forms at all.
        rows = [{"doc_id": i, "text": f"common gram unique{i} tail{i}"} for i in range(4)]
        df = spark.createDataFrame(rows)
        out = dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", k=2, threshold=0.0, max_doc_freq=3
        )
        assert out.count() == 0


class TestSampling:
    def test_split_disjoint_exhaustive_stable(self, spark):
        df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        out = sampling.train_val_test_split(df, "doc_id").collect()
        assert len(out) == 2000
        by_split = {}
        for r in out:
            by_split.setdefault(r["split"], set()).add(r["doc_id"])
        assert set(by_split) == {"train", "val", "test"}
        # roughly 10/10/80 (hash-uniform; generous tolerance)
        assert 100 < len(by_split["test"]) < 320
        assert 100 < len(by_split["val"]) < 320
        # stability: same assignment on a re-partitioned, re-ordered input
        out2 = {
            r["doc_id"]: r["split"]
            for r in sampling.train_val_test_split(
                df.repartition(7).orderBy(F.desc("doc_id")), "doc_id"
            ).collect()
        }
        assert all(out2[r["doc_id"]] == r["split"] for r in out)

    def test_deterministic_sample_exact_subset_semantics(self, spark):
        df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        s10 = {r["doc_id"] for r in sampling.deterministic_sample(df, "doc_id", 0.1).collect()}
        s20 = {r["doc_id"] for r in sampling.deterministic_sample(df, "doc_id", 0.2).collect()}
        assert s10 <= s20  # growing the rate only ADDS rows (nested samples)
        assert 50 < len(s10) < 170

    def test_stratified_rates(self, spark):
        rows = [{"doc_id": i, "lang": "en" if i % 4 else "de"} for i in range(2000)]
        df = spark.createDataFrame(rows)
        out = sampling.stratified_sample(
            df, "doc_id", "lang", {"en": 0.1}, default_fraction=1.0
        ).collect()
        langs = {}
        for r in out:
            langs[r["lang"]] = langs.get(r["lang"], 0) + 1
        assert langs["de"] == 500  # default 1.0 keeps every de row
        assert 80 < langs["en"] < 250  # ~10% of 1500


class TestOrderStatisticSample:
    def test_exact_k_uniform_and_stable(self, spark):
        df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"] for r in
             sampling.order_statistic_sample(df, "doc_id", 50).collect()}
        b = {r["doc_id"] for r in
             sampling.order_statistic_sample(
                 df.repartition(17).orderBy(F.desc("doc_id")), "doc_id", 50
             ).collect()}
        assert len(a) == 50 and a == b  # exact size, partitioning-invariant
        # nested: k=25 sample is a subset of k=50 (order statistics)
        c = {r["doc_id"] for r in
             sampling.order_statistic_sample(df, "doc_id", 25).collect()}
        assert c <= a

    def test_per_group_exact_k(self, spark):
        rows = [{"doc_id": i, "lang": "en" if i % 3 else "de"} for i in range(300)]
        df = spark.createDataFrame(rows)
        out = sampling.order_statistic_sample(df, "doc_id", 10, group_cols=["lang"])
        counts = {r["lang"]: r["n"] for r in
                  out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts == {"en": 10, "de": 10}


class TestEditDistancePairs:
    def test_substitution_insertion_deletion_found(self, spark):
        from graphrag_toolkit_spark.operators.editdist import edit_distance_pairs

        df = spark.createDataFrame(
            [{"w": x} for x in
             ["hello", "hallo", "hell", "help", "world", "word", "wort",
              "banana", "hello"]]  # duplicate input must not duplicate pairs
        )
        out = sorted(map(tuple, edit_distance_pairs(df, "w").collect()))
        assert out == [
            ("hallo", "hello"), ("hell", "hello"), ("hell", "help"),
            ("word", "world"), ("word", "wort"),
        ]

    def test_matches_brute_force_levenshtein(self, spark):
        """Blocking completeness: the equi-join candidates must recover the
        full brute-force ED=1 pair set on a dense id-like vocabulary."""
        from graphrag_toolkit_spark.operators.editdist import edit_distance_pairs

        words = [f"id{n:04d}" for n in range(0, 300, 7)]
        df = spark.createDataFrame([{"w": w} for w in words])
        fast = set(map(tuple, edit_distance_pairs(df, "w").collect()))
        a = df.select(F.col("w").alias("word_a"))
        b = df.select(F.col("w").alias("word_b"))
        brute = set(
            map(
                tuple,
                a.crossJoin(b)
                .filter(
                    (F.col("word_a") < F.col("word_b"))
                    & (F.levenshtein("word_a", "word_b") == 1)
                )
                .collect(),
            )
        )
        assert fast == brute and brute  # non-vacuous


class TestConnectedComponents:
    def test_chain_and_island(self, spark):
        pairs = spark.createDataFrame(
            [{"id_a": 1, "id_b": 2}, {"id_a": 2, "id_b": 3}, {"id_a": 5, "id_b": 6}]
        )
        out = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    def test_min_label_not_order_dependent(self, spark):
        # min id sits in the middle of the chain; both arms must adopt it
        pairs = spark.createDataFrame(
            [{"id_a": 9, "id_b": 4}, {"id_a": 4, "id_b": 1}, {"id_a": 1, "id_b": 7}]
        )
        out = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert out == {9: 1, 4: 1, 1: 1, 7: 1}

    def test_non_convergence_raises(self, spark):
        pairs = spark.createDataFrame([{"id_a": i, "id_b": i + 1} for i in range(6)])
        with pytest.raises(RuntimeError, match="no convergence"):
            dedup.connected_components(pairs, max_iters=1)

    def test_non_convergence_names_the_operator(self, spark):
        from graphrag_toolkit_spark.functions.loop import NotConverged

        pairs = spark.createDataFrame([{"id_a": i, "id_b": i + 1} for i in range(6)])
        for algorithm in ("star", "minlabel"):
            with pytest.raises(
                NotConverged, match="^connected_components: no convergence in 1 rounds$"
            ):
                dedup.connected_components(pairs, max_iters=1, algorithm=algorithm)

    def test_star_beats_minlabel_on_long_chain(self, spark):
        """The hub-skew/diameter fix pinned: a 40-node path has
        eccentricity 39, so min-label propagation CANNOT converge in 10
        rounds, while large-star/small-star halves diameter per round and
        finishes well inside 10 (O(log n))."""
        pairs = spark.createDataFrame(
            [{"id_a": i, "id_b": i + 1} for i in range(40)]
        )
        with pytest.raises(RuntimeError, match="no convergence"):
            dedup.connected_components(pairs, max_iters=10, algorithm="minlabel")
        out = {
            r["id"]: r["component"]
            for r in dedup.connected_components(
                pairs, max_iters=10, algorithm="star"
            ).collect()
        }
        assert out == {i: 0 for i in range(41)}

    def test_star_equals_minlabel(self, spark):
        """Cross-check twin: both algorithms produce identical
        (id, min-reachable-id) labels on a mixed topology — hub star with a
        high-id center, a chain whose min sits mid-path, an island pair,
        and a self-loop singleton."""
        edges = (
            [{"id_a": 100, "id_b": i} for i in range(1, 8)]   # hub centered at 100
            + [{"id_a": 9, "id_b": 40}, {"id_a": 40, "id_b": 8},
               {"id_a": 8, "id_b": 41}]                        # chain, min mid-path
            + [{"id_a": 55, "id_b": 56}, {"id_a": 77, "id_b": 77}]
        )
        pairs = spark.createDataFrame(edges)
        star = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs, algorithm="star").collect()
        }
        minl = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs, algorithm="minlabel").collect()
        }
        assert star == minl
        assert star[100] == 1 and star[9] == 8 and star[77] == 77

    def test_grouped_equals_per_group_runs(self, spark):
        """group_col fuses independent component searches into one loop;
        labels must equal running each group's graph alone — including when
        the groups need DIFFERENT round counts (the long chain converges
        after the star/island groups, which then idle at their fixed
        point), and for a group name that is itself a shared node id."""
        graphs = {
            "hub": [{"id_a": 100, "id_b": i} for i in range(1, 8)],
            "chain": [{"id_a": i, "id_b": i + 1} for i in range(20)],
            "islands": [{"id_a": 55, "id_b": 56}, {"id_a": 77, "id_b": 77}],
        }
        tagged = spark.createDataFrame(
            [dict(e, g=name) for name, es in graphs.items() for e in es]
        )
        fused = {
            (r["g"], r["id"]): r["component"]
            for r in dedup.connected_components(tagged, group_col="g").collect()
        }
        separate = {}
        for name, es in graphs.items():
            for r in dedup.connected_components(
                spark.createDataFrame(es)
            ).collect():
                separate[(name, r["id"])] = r["component"]
        assert fused == separate and len(fused) == 8 + 21 + 3

    def test_group_col_requires_star(self, spark):
        pairs = spark.createDataFrame([{"id_a": 1, "id_b": 2}])
        with pytest.raises(ValueError, match="group_col"):
            dedup.connected_components(pairs, algorithm="minlabel", group_col="g")


class TestSimhash:
    def test_identical_texts_same_hash(self, docs):
        out = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "text", "doc_id").collect()}
        assert out[1] == out[2]
        assert 0 <= out[1] < (1 << dedup.SIMHASH_BITS)

    def test_near_dup_close_in_hamming(self, docs):
        out = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "text", "doc_id").collect()}
        ham = bin(out[1] ^ out[3]).count("1")
        ham_far = bin(out[1] ^ out[4]).count("1")
        assert ham <= ham_far


class TestEmbeddingDedup:
    def test_identical_vectors_found(self, spark):
        emb = spark.createDataFrame(
            [
                {"vid": 1, "v": [1.0, 0.0, 0.0]},
                {"vid": 2, "v": [1.0, 0.0, 0.0]},
                {"vid": 3, "v": [0.0, 1.0, 0.0]},
            ]
        )
        out = dedup.embedding_near_dup_pairs(emb, "vid", "v", 0.99).collect()
        assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
        assert out[0]["cos"] == pytest.approx(1.0)

    def test_lsh_pairs_subset_of_exact_with_full_recall_on_identicals(self, spark):
        from graphrag_toolkit_spark.fixtures import pseudo_embedding

        rows = [
            {"vid": i, "v": pseudo_embedding(f"vec-{i}")} for i in range(20)
        ]
        # planted identical pair: same signature → same bucket, recall 1
        rows.append({"vid": 100, "v": rows[0]["v"]})
        emb = spark.createDataFrame(rows)
        exact = {
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs(emb, "vid", "v", 0.35).collect()
        }
        lsh = dedup.embedding_near_dup_pairs_lsh(emb, "vid", "v", 0.35).collect()
        lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh}
        assert lsh_pairs <= exact          # verifier: no false positives
        assert (0, 100) in lsh_pairs       # identical vectors always co-bucket

    def test_lsh_pair_generated_at_most_once(self, spark):
        from graphrag_toolkit_spark.fixtures import pseudo_embedding

        emb = spark.createDataFrame(
            [{"vid": i, "v": pseudo_embedding(f"v{i}")} for i in range(10)]
        )
        out = dedup.embedding_near_dup_pairs_lsh(emb, "vid", "v", -1.0).collect()
        pairs = [(r["id_a"], r["id_b"]) for r in out]
        assert len(pairs) == len(set(pairs))

    # WRITTEN RECALL FLOOR for the banded sign-LSH candidate generator at
    # the shipped parameters (k=3 planes x L=8 bands): theoretical recall
    # at the fixture's wide angle (cos 0.35 -> p = 1 - theta/pi ~ 0.614) is
    # 1-(1-p^3)^8 ~ 0.88; measured on the sf0.001 embeddings = 0.915
    # (round-7 verdict). The floor sits under both with slack for fixture
    # drift — if a bucket-parameter change regresses candidate recall, this
    # fails BEFORE the oracle gate ever sees it.
    DENSE_LSH_RECALL_FLOOR = 0.85

    def test_banded_lsh_recall_floor_vs_brute_force(self, spark, sf_dir):
        """J17/V6 blocking-parity discipline (same as fuzzy_link's and
        ED-1's blocking-vs-brute tests): banded-LSH pairs vs the all-pairs
        exact verifier at the same threshold, recall pinned to a written
        bound."""
        from graphrag_toolkit_spark.session import load
        from graphrag_toolkit_spark.workload.dataprep import (
            EMBED_DUP_THRESHOLD, RECALL_BANDS, RECALL_PLANES,
        )

        emb = load(spark, sf_dir, "embeddings")
        exact = {
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs(
                emb, "vec_id", "embedding", EMBED_DUP_THRESHOLD
            ).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs_lsh_banded(
                emb, "vec_id", "embedding", EMBED_DUP_THRESHOLD,
                n_planes=RECALL_PLANES, bands=RECALL_BANDS, dim=64,
            ).collect()
        }
        assert lsh <= exact, "exact-verify leg must kill false positives"
        assert exact, "fixture must contain near-dup pairs for the floor to mean anything"
        recall = len(lsh & exact) / len(exact)
        assert recall >= self.DENSE_LSH_RECALL_FLOOR, (
            f"banded-LSH recall {recall:.3f} fell below the written floor "
            f"{self.DENSE_LSH_RECALL_FLOOR} — bucket params regressed"
        )


class TestTextStats:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([{"doc_id": 1, "text": "Hello, world! a b"}])
        r = textstats.token_stats(df, "text", "doc_id").head()
        assert r["ws_tokens"] == 4
        assert r["word_tokens"] == 4
        assert r["bpeish_tokens"] == 6  # words + ',' + '!'
        assert r["chars"] == 17

    def test_empty_and_whitespace_docs_count_zero(self, spark):
        df = spark.createDataFrame(
            [{"doc_id": 1, "text": ""}, {"doc_id": 2, "text": "   \t "},
             {"doc_id": 3, "text": "one"}]
        )
        out = {r["id"]: r for r in
               textstats.token_stats(df, "text", "doc_id").collect()}
        assert out[1]["ws_tokens"] == 0 and out[1]["word_tokens"] == 0
        assert out[2]["ws_tokens"] == 0 and out[2]["bpeish_tokens"] == 0
        assert out[3]["ws_tokens"] == 1

    def test_quality_monotone_in_stopwords(self, spark):
        df = spark.createDataFrame(
            [
                {"doc_id": 1, "text": "the cat and the dog of the house " * 20},
                {"doc_id": 2, "text": "!!! ??? ### $$$ %%% " * 20},
            ]
        )
        out = {r["id"]: r["quality"] for r in
               textstats.quality_score(df, "text", "doc_id").collect()}
        assert out[1] > out[2]

    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [
                {"doc_id": 1, "text": "the cat and the dog is in that house with me"},
                {"doc_id": 2, "text": "el perro y la casa de los vecinos en madrid"},
                {"doc_id": 3, "text": "der hund und die katze ist von mit den"},
                {"doc_id": 4, "text": "zzz qqq xxx"},
            ]
        )
        out = {r["id"]: r["lang_pred"] for r in
               textstats.language_id(df, "text", "doc_id").collect()}
        assert out[1] == "en" and out[2] == "es" and out[3] == "de" and out[4] == "und"

    def test_fingerprint_stable_and_content_sensitive(self, spark, docs):
        out1 = {r["id"]: r["fingerprint"] for r in
                textstats.fingerprint(docs, "text", "doc_id").collect()}
        assert out1[1] == out1[2]
        assert out1[1] != out1[4]
        assert len(out1[1].split("|")) == 4


class TestANN:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rows = [
            {"vec_id": i, "embedding": fixtures.pseudo_embedding(f"v{i}")}
            for i in range(80)
        ]
        return spark.createDataFrame(rows)

    def test_lsh_topk_self_hit(self, spark, emb):
        queries = emb.filter("vec_id = 7").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.lsh_topk(emb, queries, id_col="vec_id", n_planes=3, k=5).collect()
        assert out[0]["id"] == 7 and out[0]["score"] == pytest.approx(1.0, abs=1e-6)

    def test_lsh_candidates_share_query_bucket(self, spark, emb):
        """Structural invariant: every ANN hit lies in the query's bucket, and
        the self-vector (always bucket-equal) is recalled. (A recall-vs-exact
        assertion is meaningless on random near-orthogonal vectors — true
        neighbors are arbitrary; recall quality is a property of the data.)"""
        planes = ann.hyperplanes(2, 64)
        assigned = ann.lsh_assign(emb, "vec_id", "embedding", planes)
        buckets = {r["id"]: r["bucket"] for r in assigned.collect()}
        queries = emb.filter("vec_id = 7").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = [r["id"] for r in
               ann.lsh_topk(emb, queries, id_col="vec_id", n_planes=2, k=5).collect()]
        assert 7 in got
        assert all(buckets[i] == buckets[7] for i in got)

    def test_ivf_topk_probes_right_lists(self, spark, emb):
        centroids = emb.filter("vec_id < 6").select(
            F.col("vec_id").alias("cid"), "embedding"
        )
        queries = emb.filter("vec_id = 30").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        out = ann.ivf_topk(emb, centroids, queries, id_col="vec_id", nprobe=3, k=5).collect()
        assert len(out) == 5
        assert out[0]["id"] == 30  # self lives in its own assigned list
        scores = [r["score"] for r in out]
        assert scores == sorted(scores, reverse=True)


class TestMultimodal:
    @pytest.fixture(scope="class")
    def payloads(self, spark):
        return spark.createDataFrame(
            [{"doc_id": i, "payload": f"media-bytes-{i}".encode()} for i in range(6)]
        )

    def test_metadata_jvm_side(self, payloads):
        out = multimodal.attach_media_metadata(payloads, "payload", "doc_id").collect()
        r = next(x for x in out if x["id"] == 0)
        assert r["byte_len"] == len(b"media-bytes-0")
        assert r["payload_md5"] == hashlib.md5(b"media-bytes-0").hexdigest()

    def test_decode_stub_deterministic(self, payloads):
        a = sorted(map(str, multimodal.decode_media(payloads, "payload", "doc_id").collect()))
        b = sorted(map(str, multimodal.decode_media(payloads, "payload", "doc_id").collect()))
        assert a == b

    def test_decode_schema_and_ranges(self, payloads):
        out = multimodal.decode_media(payloads, "payload", "doc_id")
        assert out.columns == ["id", "byte_len", "sha256_prefix", "width", "height", "format"]
        for r in out.collect():
            assert 16 <= r["width"] <= 2047 and 16 <= r["height"] <= 2047
            assert r["format"] in ("png", "jpeg", "webp")

    def test_real_decode_is_stubbed(self, payloads):
        with pytest.raises(NotImplementedError):
            multimodal.decode_media(payloads, "payload", "doc_id", real_decode=True)

    def test_frame_sampling_expands_rows(self, payloads):
        out = multimodal.sample_frames(payloads, "payload", "doc_id", n_frames=3)
        assert out.count() == 18
        per = out.groupBy("id").count().collect()
        assert all(r["count"] == 3 for r in per)


class TestRealStdlibDecode:
    """Round-8 de-stub: decode_wav_pcm and decode_ppm parse REAL containers
    (stdlib wave / hand-rolled P6 grammar), no deterministic fake anywhere
    in the decode path."""

    def _wav(self, samples: bytes, sw: int = 1, sr: int = 8000) -> bytes:
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(sw)
            w.setframerate(sr)
            w.writeframes(samples)
        return buf.getvalue()

    def test_wav_8bit_amplitude_fold(self, spark):
        pcm = bytes([128, 130, 120, 255, 0])  # amplitudes 0,2,8,127,128
        df = spark.createDataFrame([{"doc_id": 1, "payload": self._wav(pcm)}])
        r = multimodal.decode_wav_pcm(df, "payload", "doc_id").head()
        assert (r["channels"], r["sample_rate"], r["sample_width"]) == (1, 8000, 1)
        assert r["n_frames"] == 5
        assert r["sum_abs"] == 0 + 2 + 8 + 127 + 128
        assert r["peak_abs"] == 128

    def test_wav_16bit_signed_le(self, spark):
        import struct

        pcm = struct.pack("<4h", 0, -1000, 300, 32767)
        df = spark.createDataFrame(
            [{"doc_id": 2, "payload": self._wav(pcm, sw=2, sr=44100)}]
        )
        r = multimodal.decode_wav_pcm(df, "payload", "doc_id").head()
        assert (r["sample_width"], r["sample_rate"], r["n_frames"]) == (2, 44100, 4)
        assert r["sum_abs"] == 0 + 1000 + 300 + 32767
        assert r["peak_abs"] == 32767

    def test_wav_empty_frames(self, spark):
        df = spark.createDataFrame([{"doc_id": 3, "payload": self._wav(b"")}])
        r = multimodal.decode_wav_pcm(df, "payload", "doc_id").head()
        assert r["n_frames"] == 0 and r["sum_abs"] == 0 and r["peak_abs"] == 0

    def test_ppm_parse_with_comment(self, spark):
        # 2x2 RGB: pixels (1,2,3),(4,5,6),(7,8,9),(10,11,12); comment line
        # in the header exercises the grammar's comment path
        raster = bytes(range(1, 13))
        payload = b"P6\n# a comment\n2 2\n255\n" + raster
        df = spark.createDataFrame([{"doc_id": 4, "payload": payload}])
        r = multimodal.decode_ppm(df, "payload", "doc_id", out_w=1, out_h=1).head()
        lum = [
            299 * raster[3 * k] + 587 * raster[3 * k + 1] + 114 * raster[3 * k + 2]
            for k in range(4)
        ]
        assert (r["width"], r["height"], r["maxval"], r["n_pixels"]) == (2, 2, 255, 4)
        assert r["lum_millis"] == sum(lum)
        # 1x1 nearest-neighbor resize reads src (0,0)
        assert r["resized_sum"] == lum[0] == r["corner_tl"] == r["corner_br"]

    def test_ppm_rejects_non_p6(self, spark):
        df = spark.createDataFrame([{"doc_id": 5, "payload": b"JFIF..."}])
        with pytest.raises(Exception, match="not a binary PPM|PYTHON_EXCEPTION|ValueError"):
            multimodal.decode_ppm(df, "payload", "doc_id").collect()

    def test_resize_kernel_shared_with_fake_path(self, spark):
        # the refactored resize_media must still match the NumPy-style
        # nearest-neighbor reference on the fake grid
        payload = b"some-media-bytes"
        df = spark.createDataFrame([{"doc_id": 6, "payload": payload}])
        r = multimodal.resize_media(df, "payload", "doc_id", out_w=3, out_h=2).head()
        _, w, h, _ = multimodal._fake_decode(payload)
        px = multimodal._fake_pixels(payload, w, h)
        ref = [
            px[(rr * h // 2) * w + (cc * w // 3)]
            for rr in range(2) for cc in range(3)
        ]
        assert r["pixel_sum"] == sum(ref)
        assert (r["corner_tl"], r["corner_br"]) == (ref[0], ref[-1])


class TestKMeansIVF:
    @pytest.fixture(scope="class")
    def clustered(self, spark):
        """Four well-separated anchor directions, 15 jittered members each:
        k-means has real structure to find (random near-orthogonal vectors
        would make recall assertions meaningless)."""
        import numpy as np

        rng = np.random.default_rng(7)
        anchors = np.eye(4)
        rows = []
        for a in range(4):
            base = np.zeros(64)
            base[a * 16 : a * 16 + 16] = 1.0
            for j in range(15):
                v = base + rng.normal(0, 0.05, 64)
                rows.append(
                    {"vec_id": a * 15 + j, "embedding": [float(x) for x in v]}
                )
        return spark.createDataFrame(rows)

    def test_kmeans_centroids_shape(self, clustered):
        cents = ann.train_centroids_kmeans(
            clustered, n_centroids=4, id_col="vec_id"
        ).collect()
        assert sorted(r["cid"] for r in cents) == [0, 1, 2, 3]
        assert all(len(r["embedding"]) == 64 for r in cents)

    def test_lloyd_trainer_partition_invariant(self, clustered):
        """The hash-gated trainer's contract: identical centroids (bitwise)
        regardless of input partitioning — the property the MLlib k-means||
        init lacks, which kept ann_ivf_kmeans_topk rows-only until round 4."""
        a = ann.train_centroids_lloyd(
            clustered, n_centroids=4, id_col="vec_id", iters=2
        ).collect()
        b = ann.train_centroids_lloyd(
            clustered.repartition(13), n_centroids=4, id_col="vec_id", iters=2
        ).collect()
        ka = {r["cid"]: r["embedding"] for r in a}
        kb = {r["cid"]: r["embedding"] for r in b}
        assert ka == kb
        assert all(len(v) == 64 for v in ka.values())

    def test_lloyd_trainer_finds_cluster_structure(self, clustered):
        """On 4 well-separated clusters, 2 Lloyd rounds from hash-seeded
        init should land centroids that dominate in distinct anchor blocks
        (each centroid's heaviest 16-dim block is its cluster's block)."""
        cents = ann.train_centroids_lloyd(
            clustered, n_centroids=4, id_col="vec_id", iters=2
        ).collect()
        blocks = set()
        for r in cents:
            e = r["embedding"]
            sums = [sum(e[b * 16 : b * 16 + 16]) for b in range(4)]
            blocks.add(max(range(4), key=lambda i: sums[i]))
        assert len(blocks) >= 3  # near-perfect separation from 2 rounds

    def test_kmeans_ivf_recall_on_clustered_data(self, spark, clustered):
        """nprobe=1 over true clusters must recover nearly all brute-force
        top-5 neighbors (the members of the query's own cluster)."""
        from graphrag_toolkit_spark.operators import vss

        cents = ann.train_centroids_kmeans(
            clustered, n_centroids=4, id_col="vec_id", seed=11
        )
        queries = clustered.filter(F.col("vec_id").isin(0, 15, 30, 45)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = ann.ivf_topk(
            clustered, cents, queries, id_col="vec_id", nprobe=1, k=5
        ).collect()
        approx = {}
        for r in got:
            approx.setdefault(r["query_id"], set()).add(r["id"])

        hits = total = 0
        for qid in (0, 15, 30, 45):
            qv = [
                r["embedding"]
                for r in clustered.filter(F.col("vec_id") == qid).collect()
            ][0]
            exact = {
                r["vec_id"]
                for r in vss.top_k(clustered, qv, id_col="vec_id", k=5).collect()
            }
            hits += len(exact & approx.get(qid, set()))
            total += len(exact)
        assert hits / total >= 0.9


class TestBandedLSH:
    def test_banded_recall_dominates_single_signature(self, spark):
        """OR-of-ANDs amplification: k=3,L=8 banded candidates must recover
        strictly more of the exact pair set than one 6-plane signature on
        the same vectors (and never produce a pair outside the exact set)."""
        rows = [
            {"vid": i, "v": fixtures.pseudo_embedding(f"band-{i}")}
            for i in range(60)
        ]
        rows.append({"vid": 100, "v": rows[0]["v"]})   # planted identical
        emb = spark.createDataFrame(rows)
        exact = {
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs(emb, "vid", "v", 0.3).collect()
        }
        single = {
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs_lsh(
                emb, "vid", "v", 0.3, n_planes=6
            ).collect()
        }
        banded = {
            (r["id_a"], r["id_b"])
            for r in dedup.embedding_near_dup_pairs_lsh_banded(
                emb, "vid", "v", 0.3, n_planes=3, bands=8
            ).collect()
        }
        assert banded <= exact and single <= exact     # verify = no false pos
        assert len(banded) >= len(single)
        assert (0, 100) in banded                      # identicals always co-bucket
        assert len(banded) / max(len(exact), 1) > 0.5

    def test_banded_pair_emitted_once(self, spark):
        emb = spark.createDataFrame(
            [{"vid": i, "v": fixtures.pseudo_embedding(f"x{i}")} for i in range(12)]
        )
        out = dedup.embedding_near_dup_pairs_lsh_banded(
            emb, "vid", "v", -1.0, n_planes=2, bands=4
        ).collect()
        pairs = [(r["id_a"], r["id_b"]) for r in out]
        assert len(pairs) == len(set(pairs))


class TestRepetitionStats:
    def test_values_exact(self, spark):
        df = spark.createDataFrame(
            [
                {"doc_id": 1, "text": "a a a b"},        # words: a×3, b×1
                {"doc_id": 2, "text": "x y x y x"},      # bigrams: 'x y'×2, 'y x'×2
                {"doc_id": 3, "text": "solo"},           # no bigrams
            ]
        )
        rows = {
            r["id"]: r.asDict()
            for r in textstats.repetition_stats(df, "text", "doc_id").collect()
        }
        r1 = rows[1]
        assert r1["n_words"] == 4
        assert r1["dup_word_frac"] == pytest.approx(1 - 2 / 4)
        assert r1["top_word_frac"] == pytest.approx(3 / 4)
        # doc1 bigrams: 'a a','a a','a b' -> 3 total, 2 distinct, top run 2
        assert r1["dup_bigram_frac"] == pytest.approx(1 - 2 / 3)
        assert r1["top_bigram_frac"] == pytest.approx(2 / 3)
        r2 = rows[2]
        assert r2["top_word_frac"] == pytest.approx(3 / 5)
        assert r2["top_bigram_frac"] == pytest.approx(2 / 4)
        r3 = rows[3]
        assert r3["n_words"] == 1
        assert r3["dup_bigram_frac"] == 0.0
        assert r3["top_bigram_frac"] == 0.0

    def test_no_shuffle_plan(self, spark):
        df = spark.createDataFrame([{"doc_id": 1, "text": "a b c"}])
        plan = textstats.repetition_stats(df, "text", "doc_id")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestDecontamination:
    def test_planted_overlap_flagged(self, spark):
        from graphrag_toolkit_spark.operators import decontam

        corpus = spark.createDataFrame(
            [
                {"doc_id": 10, "text": "alpha beta gamma delta epsilon"},
                {"doc_id": 11, "text": "zeta eta theta iota kappa"},
            ]
        )
        eval_set = spark.createDataFrame(
            [{"doc_id": 90, "text": "x alpha beta gamma delta y"}]
        )
        out = {
            r["id"]: r.asDict()
            for r in decontam.contamination(
                corpus, eval_set, "text", "doc_id", n=4
            ).collect()
        }
        # doc 10 shares the 4-gram 'alpha beta gamma delta'; doc 11 is clean
        assert set(out) == {10}
        assert out[10]["n_hit"] == 1
        assert out[10]["n_grams"] == 2
        assert out[10]["contamination"] == pytest.approx(0.5)

    def test_short_docs_no_grams(self, spark):
        from graphrag_toolkit_spark.operators import decontam

        corpus = spark.createDataFrame([{"doc_id": 1, "text": "a b"}])
        ev = spark.createDataFrame([{"doc_id": 2, "text": "a b"}])
        assert decontam.contamination(corpus, ev, "text", "doc_id", n=4).count() == 0


class TestPiiScrub:
    def test_detect_and_redact(self, spark):
        from graphrag_toolkit_spark.operators import pii

        df = spark.createDataFrame(
            [
                {
                    "doc_id": 1,
                    "text": "mail bob.smith+x@corp.example.org from 192.168.0.1 "
                    "call 555-123-4567 twice 555-999-0000",
                },
                {"doc_id": 2, "text": "no pii here 1.2 v3.4.5 a-b-c"},
            ]
        )
        out = {r["id"]: r.asDict() for r in pii.scrub_pii(df, "text", "doc_id").collect()}
        assert out[1]["n_email"] == 1
        assert out[1]["n_ip"] == 1
        assert out[1]["n_phone"] == 2
        assert (
            out[1]["text"]
            == "mail <EMAIL> from <IP> call <PHONE> twice <PHONE>"
        )
        assert out[2]["n_email"] == out[2]["n_ip"] == out[2]["n_phone"] == 0
        assert out[2]["text"] == "no pii here 1.2 v3.4.5 a-b-c"


class TestResampleToMix:
    def test_mix_proportions_and_determinism(self, spark):
        rows = [
            {"doc_id": i, "lang": ("en" if i % 3 != 0 else "fr")} for i in range(600)
        ]
        df = spark.createDataFrame(rows)
        out = sampling.resample_to_mix(df, "doc_id", "lang", {"en": 1, "fr": 1})
        counts = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        # fr is binding (200 rows): both classes target 200; rate-based keep
        # lands near quota, and the two class counts are near-equal
        assert abs(counts["en"] - counts["fr"]) <= 20
        assert counts["fr"] <= 200
        # deterministic: same ids on re-run
        a = sorted(r["doc_id"] for r in out.collect())
        b = sorted(r["doc_id"] for r in sampling.resample_to_mix(df, "doc_id", "lang", {"en": 1, "fr": 1}).collect())
        assert a == b

    def test_unlisted_class_dropped(self, spark):
        df = spark.createDataFrame(
            [{"doc_id": i, "lang": ("en" if i % 2 else "xx")} for i in range(40)]
        )
        out = sampling.resample_to_mix(df, "doc_id", "lang", {"en": 1})
        assert out.filter(F.col("lang") == "xx").count() == 0


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        # clustered corpus (the regime PQ is for): 8 base directions, each
        # vector a small deterministic perturbation of its cluster's base.
        # The first 8 vectors are the unperturbed bases, so the first-C
        # codebook is exactly the cluster structure.
        import math

        def mix(i):
            base = fixtures.pseudo_embedding(f"pq-base{i % 8}", 16)
            noise = fixtures.pseudo_embedding(f"pq-noise{i}", 16)
            eps = 0.0 if i < 8 else 0.25
            v = [b + eps * n for b, n in zip(base, noise)]
            nrm = math.sqrt(sum(x * x for x in v))
            return [x / nrm for x in v]

        rows = [{"vec_id": i, "embedding": mix(i)} for i in range(60)]
        return spark.createDataFrame(rows)

    @pytest.fixture(scope="class")
    def codebook(self, emb):
        from graphrag_toolkit_spark.operators import pq

        return pq.codebook_first_c(emb, "vec_id", "embedding", n_sub=4, n_cent=8)

    def test_codebook_shape(self, codebook):
        assert len(codebook) == 4
        assert all(len(s) == 8 for s in codebook)
        assert all(len(c) == 4 for s in codebook for c in s)

    def test_encode_codes_in_range(self, emb, codebook):
        from graphrag_toolkit_spark.operators import pq

        out = pq.encode(emb, codebook).collect()
        assert len(out) == 60
        for r in out:
            for s in range(4):
                assert 0 <= r[f"code_{s}"] < 8

    def test_first_vectors_encode_to_themselves(self, emb, codebook):
        from graphrag_toolkit_spark.operators import pq

        # vector c is centroid c in every subspace -> zero distance -> code c
        out = {r["id"]: r for r in pq.encode(emb, codebook).collect()}
        for c in range(8):
            assert all(out[c][f"code_{s}"] == c for s in range(4))

    def test_encode_plan_is_narrow(self, emb, codebook):
        from graphrag_toolkit_spark.operators import pq

        plan = (
            pq.encode(emb, codebook)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_adc_topk_recall_vs_exact(self, spark, emb, codebook):
        from graphrag_toolkit_spark.functions.vector import l2sq_quantized
        from graphrag_toolkit_spark.operators import pq

        q = fixtures.pseudo_embedding("pq-test-query", 16)
        codes = pq.encode(emb, codebook)
        approx = pq.adc_topk(codes, q, codebook, k=10).collect()
        assert [r["rank"] for r in approx] == list(range(1, 11))
        qlit = F.array(*[F.lit(v) for v in q])
        exact = (
            emb.withColumn("d", l2sq_quantized(F.col("embedding"), qlit))
            .orderBy(F.asc("d"), F.asc("vec_id"))
            .limit(10)
            .collect()
        )
        exact_ids = {r["vec_id"] for r in exact}
        approx_ids = {r["id"] for r in approx}
        # clustered corpus: ADC should recover most of the exact top-10
        assert len(exact_ids & approx_ids) >= 7


class TestIvfPq:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        # two well-separated clusters of 16-dim unit vectors; vec 0 and 1
        # are the unperturbed cluster bases (= the coarse centroids)
        import math

        def mix(i):
            base = fixtures.pseudo_embedding(f"ivfpq-base{i % 2}", 16)
            noise = fixtures.pseudo_embedding(f"ivfpq-noise{i}", 16)
            eps = 0.0 if i < 2 else 0.15
            v = [b + eps * n for b, n in zip(base, noise)]
            nrm = math.sqrt(sum(x * x for x in v))
            return [x / nrm for x in v]

        rows = [{"vec_id": i, "embedding": mix(i)} for i in range(40)]
        return spark.createDataFrame(rows)

    @pytest.fixture(scope="class")
    def setup(self, emb):
        from graphrag_toolkit_spark.operators import pq

        centroids = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("cid"), "embedding"
        )
        codebook = pq.residual_codebook_first_c(
            emb, centroids, "vec_id", "embedding", n_sub=4, n_cent=8
        )
        return centroids, codebook

    def test_residual_codebook_shape_and_centering(self, setup):
        centroids, codebook = setup
        assert len(codebook) == 4 and all(len(s) == 8 for s in codebook)
        # residuals of the CENTROID vectors themselves are ~zero (vec 0/1
        # assign to themselves), so two codebook entries are near-zero
        near_zero = sum(
            1
            for c in range(8)
            if all(abs(x) < 1e-9 for s in range(4) for x in codebook[s][c])
        )
        assert near_zero >= 2

    def test_probe_scan_returns_ranked_topk_from_probed_lists(self, emb, setup):
        from graphrag_toolkit_spark.operators import ann, pq

        centroids, codebook = setup
        q = fixtures.pseudo_embedding("ivfpq-base0", 16)  # = centroid 0
        out = pq.ivf_pq_topk(
            emb, centroids, q, codebook, "vec_id", "embedding",
            nprobe=1, k=5,
        ).collect()
        assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
        # nprobe=1 with the query AT centroid 0: every hit is from list 0
        assigned = {
            r["id"]: r["cid"]
            for r in ann.ivf_assign(emb, centroids, "vec_id", "embedding").collect()
        }
        assert all(assigned[r["id"]] == out[0]["cid"] for r in out)
        # the centroid's own vector (zero residual) must rank first
        assert out[0]["id"] == 0 and out[0]["adc_dist"] == 0.0

    def test_widening_nprobe_recovers_exact_topk(self, emb, setup):
        from graphrag_toolkit_spark.functions.vector import l2sq_quantized
        from graphrag_toolkit_spark.operators import pq

        centroids, codebook = setup
        q = fixtures.pseudo_embedding("ivfpq-query-x", 16)
        approx = pq.ivf_pq_topk(
            emb, centroids, q, codebook, "vec_id", "embedding",
            nprobe=2, k=10,
        ).collect()
        qlit = F.array(*[F.lit(v) for v in q])
        exact = (
            emb.withColumn("d", l2sq_quantized(F.col("embedding"), qlit))
            .orderBy(F.asc("d"), F.asc("vec_id"))
            .limit(10)
            .collect()
        )
        overlap = {r["vec_id"] for r in exact} & {r["id"] for r in approx}
        # nprobe = all lists -> only PQ quantization error remains
        assert len(overlap) >= 6


class TestSequencePacking:
    def test_positions_consistent(self, spark):
        from graphrag_toolkit_spark.operators import packing

        df = spark.createDataFrame(
            [{"doc_id": i, "n_tok": 100 + i} for i in range(200)]
        )
        out = packing.pack_sequences(df, "doc_id", "n_tok", seq_len=256, n_buckets=4)
        rows = out.collect()
        assert len(rows) == 200
        assert all(0 <= r["offset"] < 256 for r in rows)
        assert all(0 <= r["bucket"] < 4 for r in rows)
        # within a bucket, positions are a prefix-sum layout: recompute the
        # running sum in Python over the same deterministic order
        import hashlib

        def h(i):
            return int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16)

        toks = {i: 100 + i for i in range(200)}
        by_bucket: dict[int, list[int]] = {}
        for i in toks:
            by_bucket.setdefault(h(i) % 4, []).append(i)
        expect = {}
        for b, ids in by_bucket.items():
            cum = 0
            for i in sorted(ids, key=lambda x: (h(x), x)):
                expect[i] = (b, cum // 256, cum % 256)
                cum += toks[i]
        got = {r["id"]: (r["bucket"], r["seq_in_bucket"], r["offset"]) for r in rows}
        assert got == expect

    def test_stable_under_repartition(self, spark):
        from graphrag_toolkit_spark.operators import packing

        df = spark.createDataFrame([{"doc_id": i, "n_tok": 50} for i in range(100)])
        a = {
            r["id"]: (r["bucket"], r["seq_in_bucket"], r["offset"])
            for r in packing.pack_sequences(df, "doc_id", "n_tok").collect()
        }
        b = {
            r["id"]: (r["bucket"], r["seq_in_bucket"], r["offset"])
            for r in packing.pack_sequences(
                df.repartition(13), "doc_id", "n_tok"
            ).collect()
        }
        assert a == b


class TestClusterRepresentatives:
    def test_keeps_best_quality(self, spark):
        cc = spark.createDataFrame(
            [
                {"id": 1, "component": 1},
                {"id": 2, "component": 1},
                {"id": 3, "component": 1},
                {"id": 7, "component": 7},
            ]
        )
        scores = spark.createDataFrame(
            [
                {"id": 1, "quality": 0.2},
                {"id": 2, "quality": 0.9},
                {"id": 3, "quality": 0.9},
                {"id": 7, "quality": 0.1},
            ]
        )
        out = {
            r["cluster_id"]: (r["id"], r["quality"])
            for r in dedup.cluster_representatives(cc, scores).collect()
        }
        # cluster 1: quality tie 2 vs 3 -> lower id wins
        assert out == {1: (2, 0.9), 7: (7, 0.1)}


class TestDuplicatedSpans:
    """Exact-substring dedup (operators/spans.py): planted shared spans with
    a hand-computed golden expectation, plus short-doc and overlap edges."""

    CORPUS = [
        # docs 1+2 share the 8-token span "alpha beta gamma delta epsilon
        # zeta eta theta" (3 duplicated 6-gram starts each); doc 1 is the
        # global first occurrence
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta one two"},
        {"doc_id": 2, "text": "x y alpha beta gamma delta epsilon zeta eta theta"},
        {"doc_id": 3, "text": "no shared content in this document at all"},
        {"doc_id": 4, "text": "too short"},                      # < n tokens
        {"doc_id": 5, "text": "alpha beta gamma delta epsilon zeta"},  # 1 dup 6-gram
    ]

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.createDataFrame(self.CORPUS)

    def test_coverage(self, corpus):
        from graphrag_toolkit_spark.operators import spans

        out = {
            r["id"]: r
            for r in spans.duplicated_span_coverage(
                corpus, "text", "doc_id", n=6
            ).collect()
        }
        assert len(out) == 5
        # doc 1: starts 0,1,2 (span tokens 0..7) + nothing else → 8 covered
        assert (out[1]["dup_starts"], out[1]["covered_tokens"]) == (3, 8)
        assert out[1]["n_tokens"] == 10
        # doc 2: same span at offset 2 → starts 2,3,4, 8 covered of 10
        assert (out[2]["dup_starts"], out[2]["covered_tokens"]) == (3, 8)
        # doc 5: one duplicated 6-gram, fully covered
        assert (out[5]["dup_starts"], out[5]["covered_tokens"]) == (1, 6)
        assert out[5]["dup_fraction"] == 1.0
        # clean and short docs: zeros
        assert out[3]["covered_tokens"] == 0 and out[4]["covered_tokens"] == 0

    def test_scrub_keeps_global_first_occurrence(self, corpus):
        from graphrag_toolkit_spark.operators import spans

        out = {
            r["id"]: r["text_scrubbed"]
            for r in spans.scrub_duplicated_spans(
                corpus, "text", "doc_id", n=6
            ).collect()
        }
        # doc 1 holds the first occurrence of every duplicated gram → intact
        assert out[1] == self.CORPUS[0]["text"]
        # doc 2 loses the whole shared span, keeps its unique prefix
        assert out[2] == "x y"
        # doc 5 was one duplicated gram → fully scrubbed
        assert out[5] == ""
        # untouched docs round-trip (lowercased token join)
        assert out[3] == self.CORPUS[2]["text"]
        assert out[4] == self.CORPUS[3]["text"]

    def test_single_doc_repeat_not_duplicated(self, spark):
        """A gram repeated only WITHIN one document is not corpus-duplicated
        (count distinct doc >= 2) — stays uncovered."""
        from graphrag_toolkit_spark.operators import spans

        df = spark.createDataFrame(
            [{"doc_id": 1, "text": "a b c d e f a b c d e f"}]
        )
        row = spans.duplicated_span_coverage(df, "text", "doc_id", n=6).collect()[0]
        assert row["dup_starts"] == 0 and row["covered_tokens"] == 0


class TestShardCorpus:
    def test_assignment_stable_and_dense(self, spark):
        df = spark.createDataFrame([{"doc_id": i, "text": f"d{i}"} for i in range(200)])
        out = sampling.shard_corpus(df, "doc_id", 8).collect()
        assert len(out) == 200
        by_shard = {}
        for r in out:
            assert 0 <= r["shard"] < 8
            by_shard.setdefault(r["shard"], []).append(r["seq"])
        # seq is dense 0..k-1 within every shard
        for seqs in by_shard.values():
            assert sorted(seqs) == list(range(len(seqs)))
        # all 8 shards populated and roughly balanced at n=200
        assert len(by_shard) == 8

    def test_partition_invariant(self, spark):
        df = spark.createDataFrame([{"doc_id": i, "text": f"d{i}"} for i in range(100)])
        a = {
            (r["doc_id"]): (r["shard"], r["seq"])
            for r in sampling.shard_corpus(df, "doc_id", 4).collect()
        }
        b = {
            (r["doc_id"]): (r["shard"], r["seq"])
            for r in sampling.shard_corpus(df.repartition(13), "doc_id", 4).collect()
        }
        assert a == b

    def test_salt_decorrelates_from_split_buckets(self, spark):
        """The shuffle hash must not be the split-bucket hash: otherwise a
        row's batch position would leak its train/val/test membership."""
        df = spark.createDataFrame([{"doc_id": i} for i in range(64)])
        shard_h = {
            r["doc_id"]: r["shard"]
            for r in sampling.shard_corpus(df, "doc_id", 4).collect()
        }
        bucket = {
            r["doc_id"]: r["b"]
            for r in df.select(
                "doc_id", sampling.hash_bucket(F.col("doc_id"), 4).alias("b")
            ).collect()
        }
        assert any(shard_h[i] != bucket[i] for i in shard_h)


class TestSoftDedupWeights:
    def test_weights(self, spark):
        cc = spark.createDataFrame(
            [{"id": 1, "component": 1}, {"id": 2, "component": 1},
             {"id": 3, "component": 1}, {"id": 7, "component": 7},
             {"id": 8, "component": 7}]
        )
        corpus = spark.createDataFrame([{"doc_id": i} for i in [1, 2, 3, 7, 8, 9]])
        out = {
            r["id"]: r["weight"]
            for r in dedup.soft_dedup_weights(cc, corpus, "doc_id").collect()
        }
        assert out[1] == out[2] == out[3] == pytest.approx(1 / 3)
        assert out[7] == out[8] == 0.5
        assert out[9] == 1.0          # singleton never in the pair graph
        # total mass = one doc per cluster + singletons
        assert sum(out.values()) == pytest.approx(3.0)


class TestLinearQualityClassifier:
    def test_logit_and_decision(self, spark):
        df = spark.createDataFrame(
            [{"doc_id": 1, "text": "spark spark table"},    # 2*1.5 + 0.25 - 0.5 = 2.75
             {"doc_id": 2, "text": "dup slow"},             # -2 - 1 - 0.5 = -3.5
             {"doc_id": 3, "text": "unknown words only"}]   # bias only = -0.5
        )
        out = {
            r["id"]: (r["logit"], r["keep"])
            for r in textstats.linear_quality_classifier(
                df, "text", "doc_id",
                {"spark": 1.5, "table": 0.25, "dup": -2.0, "slow": -1.0},
                bias=-0.5,
            ).collect()
        }
        assert out[1] == (2.75, True)
        assert out[2] == (-3.5, False)
        assert out[3] == (-0.5, False)

    def test_tf_counts_not_presence(self, spark):
        df = spark.createDataFrame([{"doc_id": 1, "text": "good good good"}])
        row = textstats.linear_quality_classifier(
            df, "text", "doc_id", {"good": 1.0}, bias=0.0
        ).collect()[0]
        assert row["logit"] == 3.0


class TestHotGrams:
    def test_topk_order_and_counts(self, spark):
        from graphrag_toolkit_spark.operators import spans

        df = spark.createDataFrame(
            [{"doc_id": 1, "text": "x y z x y z"},      # 'x y z' tf=2 here
             {"doc_id": 2, "text": "x y z only"},
             {"doc_id": 3, "text": "a b c"}]
        )
        out = spans.hot_grams(df, "text", "doc_id", n=3, k=2).collect()
        assert [r["gram"] for r in out] == ["x y z", "a b c"]
        top = out[0]
        assert (top["tf"], top["df"]) == (3, 2)   # 2 in doc1 + 1 in doc2


class TestSemanticDedup:
    def test_survivors_and_cluster_scoping(self, spark):
        """Two tight groups plus a singleton; groups land in different
        clusters, so cross-cluster similarity is never even computed."""
        vecs = [
            # cluster around +x: 1,2 near-identical; 3 distinct
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.7, 0.7, 0.0, 0.0]),
            # cluster around +y: 4,5 near-identical
            (4, [0.0, 1.0, 0.01, 0.0]),
            (5, [0.0, 0.999, 0.0, 0.01]),
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs],
            "id long, embedding array<float>",
        )
        centroids = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "cid long, embedding array<float>",
        )
        out = {
            r["id"]: r
            for r in dedup.semantic_dedup(
                emb, centroids, id_col="id", vec_col="embedding", threshold=0.98
            ).collect()
        }
        assert len(out) == 5
        assert [out[i]["cid"] for i in (1, 2, 3)] == [0, 0, 0]
        assert [out[i]["cid"] for i in (4, 5)] == [1, 1]
        # 1-2 collapse (rep 1), 4-5 collapse (rep 4), 3 survives alone
        assert out[1]["is_survivor"] and out[1]["cluster_rep"] == 1
        assert not out[2]["is_survivor"] and out[2]["cluster_rep"] == 1
        assert out[3]["is_survivor"]
        assert out[4]["is_survivor"] and out[4]["cluster_rep"] == 4
        assert not out[5]["is_survivor"] and out[5]["cluster_rep"] == 4

    def test_no_pairs_means_all_survive(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "id long, embedding array<float>",
        )
        centroids = spark.createDataFrame(
            [(0, [1.0, 0.0])], "cid long, embedding array<float>"
        )
        out = dedup.semantic_dedup(
            emb, centroids, id_col="id", vec_col="embedding", threshold=0.99
        ).collect()
        assert all(r["is_survivor"] for r in out)


class TestFirstCCentroids:
    def test_orders_by_renamed_id(self, spark):
        emb = spark.createDataFrame(
            [(30, [3.0]), (10, [1.0]), (20, [2.0])],
            "vec_id long, embedding array<float>",
        )
        out = ann.first_c_centroids(emb, 2, id_col="vec_id").collect()
        got = {r["cid"]: r["embedding"] for r in out}
        assert got == {0: [1.0], 1: [2.0]}


class TestNgramLm:
    def test_backoff_chain(self, spark):
        """bigram hit > unigram backoff > unk, scored per position."""
        docs = spark.createDataFrame(
            [(1, "spark filter mystery"), (2, "")],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r
            for r in textstats.ngram_lm_score(
                docs, "text", "doc_id",
                bigram_logp={("spark", "filter"): -1.0},
                unigram_logp={"spark": -2.0},
                unk_logp=-8.0,
            ).collect()
        }
        # pos1 'spark' -> unigram -2; pos2 bigram hit -1; pos3 unk -8
        assert out[1]["n_words"] == 3
        assert out[1]["logp_sum"] == -11.0
        assert out[1]["avg_logp"] == -11.0 / 3
        # empty doc: zero words, zero scores
        assert out[2]["n_words"] == 0 and out[2]["logp_sum"] == 0.0

    def test_bigram_only_matches_adjacent(self, spark):
        docs = spark.createDataFrame(
            [(1, "filter spark")], "doc_id long, text string"
        )
        out = textstats.ngram_lm_score(
            docs, "text", "doc_id",
            bigram_logp={("spark", "filter"): -1.0},  # wrong order in doc
            unigram_logp={}, unk_logp=-5.0,
        ).collect()[0]
        assert out["logp_sum"] == -10.0  # both words unk; bigram not reversed


class TestWordEntropy:
    def test_hand_computed(self, spark):
        import math

        docs = spark.createDataFrame(
            [(1, "a a b b"), (2, "x x x x"), (3, "p q r s"), (4, "")],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r
            for r in textstats.word_entropy(docs, "text", "doc_id").collect()
        }
        assert out[1]["word_entropy"] == pytest.approx(1.0, abs=1e-5)   # 2x2 uniform
        assert out[2]["word_entropy"] == pytest.approx(0.0, abs=1e-5)   # single word
        assert out[3]["word_entropy"] == pytest.approx(2.0, abs=1e-5)   # 4 uniform
        assert out[4]["n_words"] == 0 and out[4]["word_entropy"] == 0.0


class TestCorpusDiff:
    def test_all_statuses(self, spark):
        from graphrag_toolkit_spark.operators.diffing import corpus_diff, diff_summary

        old = spark.createDataFrame(
            [(1, "same"), (2, "before"), (3, "gone")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "after"), (4, "fresh")],
            "doc_id long, text string",
        )
        d = corpus_diff(old, new, "doc_id", "text")
        st = {r["id"]: r["status"] for r in d.collect()}
        assert st == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
        summ = {r["status"]: r["n"] for r in diff_summary(d).collect()}
        assert summ == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}

    def test_renamed_new_column(self, spark):
        from graphrag_toolkit_spark.operators.diffing import corpus_diff

        old = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        new = spark.createDataFrame([(1, "t")], "doc_id long, text_scrubbed string")
        d = corpus_diff(old, new, "doc_id", "text", new_text_col="text_scrubbed")
        assert d.collect()[0]["status"] == "unchanged"


class TestKAnonymity:
    def test_classes_and_summary(self, spark):
        from graphrag_toolkit_spark.operators.pii import (
            k_anonymity,
            k_anonymity_summary,
        )

        rows = spark.createDataFrame(
            [("us", "a")] * 5 + [("us", "b")] * 2 + [("de", "a")] * 1,
            "lang string, source string",
        )
        cls = {
            (r["lang"], r["source"]): (r["class_size"], r["is_k_anonymous"])
            for r in k_anonymity(rows, ["lang", "source"], k=3).collect()
        }
        assert cls == {
            ("us", "a"): (5, True),
            ("us", "b"): (2, False),
            ("de", "a"): (1, False),
        }
        s = k_anonymity_summary(rows, ["lang", "source"], k=3).collect()[0]
        assert (s["n_classes"], s["violating_classes"], s["rows_at_risk"],
                s["min_class_size"]) == (3, 2, 3, 1)


class TestZipfFit:
    def test_exact_power_law_recovered(self, spark):
        """A corpus engineered so freq(rank) = 64 >> rank-ish: freqs 8,4,2,1
        over ranks 1..4 gives ln f = ln 8 - (3/ln-span) ln r shape; check
        slope is negative and intercept positive, and n_points exact."""
        words = (["a"] * 8) + (["b"] * 4) + (["c"] * 2) + (["d"] * 1)
        docs = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        out = textstats.zipf_fit(docs, "text", "doc_id").collect()[0]
        assert out["n_points"] == 4
        assert out["slope"] < -1.0          # steep engineered decay
        assert out["intercept"] > 1.5       # ~ln 8

    def test_uniform_corpus_slope_zero(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d a b c d")], "doc_id long, text string"
        )
        out = textstats.zipf_fit(docs, "text", "doc_id").collect()[0]
        assert out["slope"] == pytest.approx(0.0, abs=1e-9)


class TestValidate:
    def test_all_rule_kinds_count_violations(self, spark):
        from graphrag_toolkit_spark.operators import validate as V

        df = spark.createDataFrame(
            [
                (1, "O", 10.0, "1-URGENT", 100),
                (2, None, -5.0, "9-BAD", 100),     # in_set + range + regexp
                (2, "X", 20.0, "2-HIGH", 999),     # dup key + bad status + missing FK
                (None, "F", None, None, 100),      # null key + null range + null regexp
            ],
            "k long, status string, price double, prio string, fk long",
        )
        dim = spark.createDataFrame([(100,)], "d long")
        rules = [
            V.not_null("k"),
            V.in_set("status", ["O", "F", "P"]),
            V.in_range("price", 0.0, 100.0),
            V.regexp("prio", "^[1-5]-"),
            V.unique("k"),
            V.foreign_key("fk", dim, "d"),
        ]
        out = {r["rule"]: r["n_violations"] for r in V.validate(df, rules).collect()}
        assert out == {
            "not_null_k": 1,
            "in_set_status": 2,      # None and 'X'
            "range_price": 2,        # -5.0 and None
            "regexp_prio": 2,        # '9-BAD' and None
            "unique_k": 1,           # one extra row for k=2
            "fk_fk": 1,              # 999
        }
        rows = V.validate(df, rules).collect()
        assert all(r["n_rows"] == 4 for r in rows)

    def test_assert_valid_raises(self, spark):
        import pytest as _pytest

        from graphrag_toolkit_spark.operators import validate as V

        df = spark.createDataFrame([(None,)], "k long")
        with _pytest.raises(ValueError, match="not_null_k"):
            V.assert_valid(df, [V.not_null("k")])
        # clean data passes
        ok = spark.createDataFrame([(1,)], "k long")
        V.assert_valid(ok, [V.not_null("k")])


class TestTrainBigramLm:
    def test_counts_and_probabilities(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b a b a c"), (2, "a b")], "doc_id long, text string"
        )
        # bigrams: d1: ab, ba, ab, ba, ac ; d2: ab -> ab:3 ba:2 ac:1
        out = {
            (r["prev"], r["w"]): (r["n"], r["p"])
            for r in textstats.train_bigram_lm(docs, "text", "doc_id").collect()
        }
        assert out[("a", "b")] == (3, 0.75)
        assert out[("a", "c")] == (1, 0.25)
        assert out[("b", "a")] == (2, 1.0)

    def test_round_trip_with_scorer(self, spark):
        """Score with the table we just trained: probabilities convert to
        6-decimal log-probs, and a doc made of high-p bigrams outscores a
        doc of unseen ones."""
        import math

        corpus = spark.createDataFrame(
            [(1, "x y x y x y"), (2, "x y")], "doc_id long, text string"
        )
        lm = textstats.train_bigram_lm(corpus, "text", "doc_id").collect()
        bigram_logp = {
            (r["prev"], r["w"]): round(math.log(r["p"]), 6) for r in lm
        }
        scored = {
            r["id"]: r["avg_logp"]
            for r in textstats.ngram_lm_score(
                spark.createDataFrame(
                    [(10, "x y x y"), (11, "q r s t")],
                    "doc_id long, text string",
                ),
                "text", "doc_id", bigram_logp, {}, unk_logp=-9.0,
            ).collect()
        }
        assert scored[10] > scored[11]


class TestVocabEncode:
    def test_dense_frequency_ranked_ids(self, spark):
        from graphrag_toolkit_spark.operators import packing

        docs = spark.createDataFrame(
            [(1, "b b b a a c")], "doc_id long, text string"
        )
        v = {r["token"]: (r["token_id"], r["freq"])
             for r in packing.build_vocab(docs, "text").collect()}
        assert v == {"b": (0, 3), "a": (1, 2), "c": (2, 1)}

    def test_encode_order_unk_and_empty(self, spark):
        from graphrag_toolkit_spark.operators import packing

        corpus = spark.createDataFrame(
            [(1, "b a b"), (2, "zz a"), (3, "")],
            "doc_id long, text string",
        )
        vocab = packing.build_vocab(corpus, "text", min_count=2)  # a:?, b:?
        out = {
            r["id"]: (r["n_tokens"], r["ids"])
            for r in packing.encode_documents(
                corpus, vocab, "text", "doc_id"
            ).collect()
        }
        # freqs: b:2, a:2 -> tie broken by token asc: a=0, b=1; zz pruned -> UNK
        assert out[1] == (3, [1, 0, 1])
        assert out[2] == (2, [-1, 0])
        assert out[3] == (0, [])


class TestWeightedSample:
    def test_exact_k_stable_and_weight_monotone(self, spark):
        rows = [{"doc_id": i, "w": 1.0 + (i % 5)} for i in range(500)]
        df = spark.createDataFrame(rows)
        a = {r["doc_id"] for r in sampling.weighted_sample(df, "doc_id", "w", 40).collect()}
        b = {r["doc_id"] for r in sampling.weighted_sample(
            df.repartition(9), "doc_id", "w", 40).collect()}
        assert len(a) == 40 and a == b
        # raising one selected row's weight can only keep it selected
        # (its E-S key grows, everyone else's is unchanged)
        target = sorted(a)[0]
        boosted = spark.createDataFrame(
            [{**r, "w": 1e6 if r["doc_id"] == target else r["w"]} for r in rows]
        )
        a2 = {r["doc_id"] for r in sampling.weighted_sample(boosted, "doc_id", "w", 40).collect()}
        assert target in a2

    def test_nonpositive_weights_excluded(self, spark):
        df = spark.createDataFrame(
            [{"doc_id": 1, "w": 0.0}, {"doc_id": 2, "w": -3.0}, {"doc_id": 3, "w": 2.0}]
        )
        out = [r["doc_id"] for r in sampling.weighted_sample(df, "doc_id", "w", 10).collect()]
        assert out == [3]


class TestTargetEncode:
    def test_loo_excludes_own_row(self, spark):
        from graphrag_toolkit_spark.operators.features import target_encode

        df = spark.createDataFrame(
            [{"id": 1, "cat": "a", "y": 10.0},
             {"id": 2, "cat": "a", "y": 20.0},
             {"id": 3, "cat": "a", "y": 30.0},
             {"id": 4, "cat": "b", "y": 100.0}]
        )
        out = {r["id"]: r["te_cat"] for r in target_encode(df, "cat", "y").collect()}
        assert out[1] == pytest.approx(25.0)   # mean of 20,30
        assert out[2] == pytest.approx(20.0)   # mean of 10,30
        assert out[4] == pytest.approx(40.0)   # singleton -> global mean

    def test_prior_smoothing(self, spark):
        from graphrag_toolkit_spark.operators.features import target_encode

        df = spark.createDataFrame(
            [{"id": 1, "cat": "a", "y": 0.0}, {"id": 2, "cat": "a", "y": 100.0}]
        )
        # global mean 50; LOO for id 1 with m=2: (100 + 2*50)/(1+2)
        out = {r["id"]: r["te_cat"]
               for r in target_encode(df, "cat", "y", prior_weight=2).collect()}
        assert out[1] == pytest.approx(200.0 / 3.0)


class TestNegativeSamples:
    def test_deterministic_no_self_and_bounded(self, spark):
        from graphrag_toolkit_spark.operators.features import negative_samples

        corpus = spark.range(100).withColumnRenamed("id", "doc_id")
        anchors = corpus.filter(F.col("doc_id") < 5)
        a = sorted(map(tuple, negative_samples(
            corpus, anchors, "doc_id", "doc_id", k=4).collect()))
        b = sorted(map(tuple, negative_samples(
            corpus.repartition(13), anchors, "doc_id", "doc_id", k=4).collect()))
        assert a == b
        per_anchor = {}
        for anchor, j, neg in a:
            assert neg != anchor
            per_anchor.setdefault(anchor, []).append(neg)
        assert set(per_anchor) == {0, 1, 2, 3, 4}
        assert all(3 <= len(v) <= 4 for v in per_anchor.values())


class TestBinaryAuc:
    def test_perfect_random_and_ties(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import binary_auc

        perfect = spark.createDataFrame(
            [{"s": float(i), "y": i >= 5} for i in range(10)]
        )
        assert binary_auc(perfect, "s", "y").head()["auc"] == 1.0
        inverted = spark.createDataFrame(
            [{"s": float(-i), "y": i >= 5} for i in range(10)]
        )
        assert binary_auc(inverted, "s", "y").head()["auc"] == 0.0
        # all-tied scores -> 0.5 exactly (tie correction)
        tied = spark.createDataFrame([{"s": 1.0, "y": i % 2 == 0} for i in range(8)])
        assert binary_auc(tied, "s", "y").head()["auc"] == 0.5

    def test_degenerate_single_class_null(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import binary_auc

        one = spark.createDataFrame([{"s": 1.0, "y": True}, {"s": 2.0, "y": True}])
        r = binary_auc(one, "s", "y").head()
        assert r["auc"] is None and r["n_neg"] == 0

    def test_matches_sklearn_formula_by_hand(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import binary_auc

        # scores: pos at 3,1 / neg at 2,1 -> pairs: (3>2)=1,(3>1)=1,(1<2)=0,(1=1)=.5
        df = spark.createDataFrame(
            [{"s": 3.0, "y": True}, {"s": 1.0, "y": True},
             {"s": 2.0, "y": False}, {"s": 1.0, "y": False}]
        )
        assert binary_auc(df, "s", "y").head()["auc"] == pytest.approx(2.5 / 4.0)

    def test_continuous_scores_large_cardinality(self, spark):
        """The round-7 two-phase rewrite's target regime: distinct scores ≈
        rows (continuous model scores), where the old single-partition
        cumulative window re-sorted the whole scored set on one task. Value
        must equal the tie-corrected Mann-Whitney statistic computed
        independently in Python, and the plan must pass the global-window
        guard."""
        from graphrag_toolkit_spark.operators.ranking_eval import binary_auc
        from graphrag_toolkit_spark.planguard import (
            singlepartition_window_violations,
        )

        # deterministic pseudo-continuous scores: 20k rows, all distinct
        # except one planted 3-way tie straddling the class boundary
        n = 20_000
        rows = [
            {
                "s": ((i * 2654435761) % (2**31)) / float(2**31),
                "y": (i * 7919) % 10 < 4,
            }
            for i in range(n)
        ]
        rows += [{"s": 0.25, "y": True}, {"s": 0.25, "y": False},
                 {"s": 0.25, "y": False}]
        # independent reference: average-rank Mann-Whitney
        by_score: dict[float, list[int]] = {}
        for r in rows:
            by_score.setdefault(r["s"], []).append(1 if r["y"] else 0)
        rank, s2 = 0, 0  # s2 = doubled rank-sum over positives
        for s in sorted(by_score):
            grp = by_score[s]
            c = len(grp)
            s2 += sum(grp) * (2 * (rank + 1) + c - 1)
            rank += c
        p = sum(1 for r in rows if r["y"])
        nn = len(rows) - p
        expected = (s2 - p * (p + 1)) / (2 * p * nn)

        df = spark.createDataFrame(rows).repartition(8)
        out = binary_auc(df, "s", "y").head()
        assert out["n_pos"] == p and out["n_neg"] == nn
        assert out["auc"] == pytest.approx(expected, abs=1e-12)
        assert not singlepartition_window_violations(binary_auc(df, "s", "y"))


class TestIncrementalNeardup:
    def test_new_vs_corpus_and_within_batch(self, spark):
        corpus = spark.createDataFrame(
            [{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
             {"doc_id": 2, "text": "totally unrelated corpus content here"},
             # old-old dup pair must NOT be reported (corpus never re-paired)
             {"doc_id": 3, "text": "totally unrelated corpus content here"}]
        )
        inc = spark.createDataFrame(
            [{"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog"},
             {"doc_id": 11, "text": "the quick brown fox jumps over the lazy dog"},
             {"doc_id": 12, "text": "brand new unique incoming text"}]
        )
        out = dedup.minhash_near_dup_increment(
            corpus, inc, "text", "doc_id", k=2, threshold=0.5
        )
        got = {(r["id_new"], r["id_match"]) for r in out.collect()}
        assert (10, 1) in got                      # new vs corpus
        assert (11, 1) in got
        assert (11, 10) in got                     # within-batch, keep-first
        assert (10, 11) not in got                 # ordered one way only
        assert all(a in (10, 11, 12) for a, _ in got)  # id_new is always new
        assert (3, 2) not in got and (2, 3) not in got  # no old-old pairs
        assert not any(a == 12 or b == 12 for a, b in got)


class TestGopherGate:
    def test_rules_fire_individually(self, spark):
        df = spark.createDataFrame(
            [{"doc_id": 1, "text": "too short"},                       # min_words
             {"doc_id": 2, "text": "a b c d e f g h i j"},             # short words
             {"doc_id": 3, "text": "word " * 20 + "word"},             # dup words
             {"doc_id": 4, "text": "normal sentence with several decent words here ok"}]
        )
        out = {r["id"]: r for r in
               textstats.gopher_gate(df, "text", "doc_id").collect()}
        assert not out[1]["passes"] and "min_words" in out[1]["failed_rules"]
        assert "min_mean_word_len" in out[2]["failed_rules"]
        assert "max_dup_word_frac" in out[3]["failed_rules"]
        assert out[4]["passes"] and out[4]["failed_rules"] == ""

    def test_plan_shuffle_free(self, spark):
        import io
        from contextlib import redirect_stdout

        df = spark.createDataFrame([{"doc_id": 1, "text": "hello world"}])
        buf = io.StringIO()
        with redirect_stdout(buf):
            textstats.gopher_gate(df, "text", "doc_id").explain(mode="formatted")
        assert "Exchange" not in buf.getvalue()


class TestProfileTable:
    def test_nulls_and_distincts(self, spark):
        from graphrag_toolkit_spark.operators.profile import profile_table

        df = spark.createDataFrame(
            [{"a": 1, "b": "x"}, {"a": 1, "b": None}, {"a": 2, "b": "y"}]
        )
        out = {r["column"]: r for r in profile_table(df).collect()}
        assert out["a"]["n_nulls"] == 0 and out["a"]["n_distinct"] == 2
        assert out["b"]["n_nulls"] == 1 and out["b"]["n_distinct"] == 2
        assert out["b"]["null_frac"] == pytest.approx(1 / 3)
        assert all(r["n_rows"] == 3 for r in out.values())

    def test_single_scan_plan(self, spark):
        import io
        from contextlib import redirect_stdout

        from graphrag_toolkit_spark.operators.profile import profile_table

        df = spark.range(100).selectExpr("id AS a", "id % 5 AS b", "id % 7 AS c")
        buf = io.StringIO()
        with redirect_stdout(buf):
            profile_table(df).explain(mode="formatted")
        # one logical source; Spark's multi-distinct rewrite may Expand, but
        # the range/scan appears exactly once
        assert buf.getvalue().count("Range (0, 100") == 1


class TestContainment:
    def test_subset_doc_has_containment_one(self, spark):
        """The case Jaccard structurally misses: a short doc quoted whole
        inside a long one — C(short→long) = 1.0 while C(long→short) and
        Jaccard stay low. Asymmetry pinned."""
        docs = spark.createDataFrame(
            [
                {"doc_id": 1, "text": "alpha beta gamma delta"},
                {"doc_id": 2,
                 "text": "intro words alpha beta gamma delta outro words "
                         "and plenty more trailing filler tokens here"},
                {"doc_id": 3, "text": "totally unrelated content rows"},
            ]
        )
        out = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in dedup.containment_pairs(
                docs, "text", "doc_id", k=2, threshold=0.0
            ).collect()
        }
        assert out[(1, 2)] == 1.0          # short fully inside long
        assert out[(2, 1)] < 0.5           # not vice versa
        assert (1, 3) not in out           # no shared bigram → no pair

    def test_max_doc_freq_cutoff(self, spark):
        """Hot shingles past the posting-list cutoff cannot form pairs."""
        docs = spark.createDataFrame(
            [{"doc_id": i, "text": "common boiler plate"} for i in range(5)]
        )
        none = dedup.containment_pairs(
            docs, "text", "doc_id", k=2, threshold=0.0, max_doc_freq=3
        ).collect()
        assert none == []


class TestDsir:
    def test_target_like_docs_rank_higher(self, spark):
        from graphrag_toolkit_spark.operators.sampling import dsir_log_weights

        corpus = spark.createDataFrame(
            [
                {"doc_id": 1, "text": "physics maths physics maths physics"},
                {"doc_id": 2, "text": "celebrity gossip celebrity gossip news"},
                {"doc_id": 3, "text": ""},
            ]
        )
        target = spark.createDataFrame(
            [{"doc_id": 10, "text": "physics maths theorem proofs"}]
        )
        out = {
            r["id"]: r
            for r in dsir_log_weights(
                corpus, target, "text", "doc_id", n_buckets=64
            ).collect()
        }
        assert out[1]["dsir_logw"] > out[2]["dsir_logw"]  # target-like wins
        assert out[3]["dsir_logw"] == 0.0 and out[3]["n_tokens"] == 0
        assert out[1]["n_tokens"] == 5

    def test_weights_partitioning_invariant(self, spark):
        """Decimal sums are order-free: repartitioning cannot move a
        weight by even one ulp (the property the oracle gate relies on)."""
        from graphrag_toolkit_spark.operators.sampling import dsir_log_weights

        corpus = spark.createDataFrame(
            [{"doc_id": i, "text": f"tok{i % 7} tok{i % 3} shared words"}
             for i in range(40)]
        )
        target = corpus.filter(F.col("doc_id") % 4 == 0)
        a = {r["id"]: r["dsir_logw"]
             for r in dsir_log_weights(corpus, target, "text", "doc_id").collect()}
        b = {r["id"]: r["dsir_logw"]
             for r in dsir_log_weights(
                 corpus.repartition(13), target.repartition(3), "text", "doc_id"
             ).collect()}
        assert a == b


class TestHardNegatives:
    def test_nearest_other_label_is_rank_one(self, spark):
        from graphrag_toolkit_spark.operators.features import hard_negative_mining

        rows = [
            {"vec_id": 0, "embedding": [1.0, 0.0, 0.0], "label": 0},   # anchor
            {"vec_id": 1, "embedding": [0.99, 0.14, 0.0], "label": 0}, # same label: excluded
            {"vec_id": 2, "embedding": [0.95, 0.31, 0.0], "label": 1}, # hard negative
            {"vec_id": 3, "embedding": [0.0, 1.0, 0.0], "label": 1},   # easy negative
            {"vec_id": 4, "embedding": [0.0, 0.0, 1.0], "label": 2},   # orthogonal
        ]
        emb = spark.createDataFrame(rows)
        out = hard_negative_mining(
            emb, emb.filter(F.col("vec_id") == 0), "embedding", "vec_id",
            "label", k=2,
        ).collect()
        assert [(r["neg_id"], r["rank"]) for r in out] == [(2, 1), (3, 2)]
        assert all(r["neg_label"] != 0 for r in out)
        assert out[0]["score"] > 0.9


class TestBpeTrainMerges:
    def test_hand_computed_three_rounds(self, spark):
        """aaab×2, cd×3: round 1 merges (a,a) n=4 (LTR greedy: 'aaa' counts
        the pair twice but merges once), round 2 (c,d) n=3, round 3 the
        n=2 tie between 'aa a' and 'a b' breaks to the lexicographically
        smaller pair."""
        from graphrag_toolkit_spark.operators.packing import bpe_train_merges

        df = spark.createDataFrame([{"text": "aaab aaab cd cd cd x"}])
        out = [
            (r["merge_round"], r["sym_a"], r["sym_b"], r["n"])
            for r in bpe_train_merges(df, "text", rounds=3).collect()
        ]
        assert out == [(1, "a", "a", 4), (2, "c", "d", 3), (3, "a", "b", 2)]

    def test_merged_symbol_can_merge_again(self, spark):
        """Multi-round composition: after (a,b)→ab, round 2 can merge
        (ab,c) — the learned symbol participates as a unit."""
        from graphrag_toolkit_spark.operators.packing import bpe_train_merges

        df = spark.createDataFrame([{"text": "abc abc abc ab"}])
        out = [
            (r["merge_round"], r["sym_a"], r["sym_b"])
            for r in bpe_train_merges(df, "text", rounds=2).collect()
        ]
        assert out == [(1, "a", "b"), (2, "ab", "c")]


class TestIpfRake:
    def test_marginals_converge_toward_uniform(self, spark):
        """Skewed 2×2 grid: after 2 raking iterations the weighted row and
        column marginals are within 1% of uniform (floor truncation keeps
        them just under)."""
        from graphrag_toolkit_spark.operators.sampling import ipf_rake

        rows = (
            [{"lang": "en", "source": "a"}] * 70
            + [{"lang": "en", "source": "b"}] * 10
            + [{"lang": "de", "source": "a"}] * 15
            + [{"lang": "de", "source": "b"}] * 5
        )
        df = spark.createDataFrame(rows)
        out = ipf_rake(df, "lang", "source", iterations=2).collect()
        mass = {(r["lang"], r["source"]): r["n"] * r["weight"] for r in out}
        total = sum(mass.values())
        for lang in ("en", "de"):
            share = sum(v for (l, s), v in mass.items() if l == lang) / total
            assert abs(share - 0.5) < 0.01, (lang, share)
        for src_ in ("a", "b"):
            share = sum(v for (l, s), v in mass.items() if s == src_) / total
            assert abs(share - 0.5) < 0.01, (src_, share)
        # the rare cell (de, b) must be up-weighted, the dominant one down
        w = {(r["lang"], r["source"]): r["weight"] for r in out}
        assert w[("de", "b")] > 1.0 > w[("en", "a")]

    def test_partitioning_invariant(self, spark):
        from graphrag_toolkit_spark.operators.sampling import ipf_rake

        rows = [
            {"lang": f"l{i % 3}", "source": f"s{i % 4}"} for i in range(200)
        ]
        df = spark.createDataFrame(rows)
        a = sorted(map(str, ipf_rake(df, "lang", "source").collect()))
        b = sorted(map(str, ipf_rake(df.repartition(17), "lang", "source").collect()))
        assert a == b


class TestBpeNoPairsEdge:
    def test_all_single_char_words_yield_zero_merges(self, spark):
        """A corpus with no adjacent symbol pairs trains zero merges (the
        trainer stops early instead of crashing or emitting a phantom
        merge) — hypothesis-found edge."""
        from graphrag_toolkit_spark.operators.packing import bpe_train_merges

        df = spark.createDataFrame([{"text": "a b c a b"}])
        assert bpe_train_merges(df, "text", rounds=3).collect() == []


class TestKneserNeyLm:
    def test_hand_computed(self, spark):
        """Corpus 'a b a b a c': counts ab=2, ba=2, ac=1; c(a·)=3,
        N1+(a,·)=2, c(b·)=2, N1+(b,·)=1, N1+(·,x)=1 ∀x, N1+(·,·)=3.
        P(b|a) = (max(8−3,0)·3 + 3·2·1)/(4·3·3) = 21/36 → 583333 micro;
        P(c|a) = (3 + 6)/36 = 9/36 → 250000; P(a|b) = (15+3)/24 → 750000."""
        from graphrag_toolkit_spark.operators import textstats

        docs = spark.createDataFrame([("a b a b a c",)], "text string")
        out = {
            (r["prev"], r["w"]): (r["n"], r["kn_p6"])
            for r in textstats.kneser_ney_bigram_lm(docs, "text").collect()
        }
        assert out == {
            ("a", "b"): (2, 583333),
            ("a", "c"): (1, 250000),
            ("b", "a"): (2, 750000),
        }

    def test_observed_mass_below_one_per_context(self, spark):
        """KN reserves mass for unseen continuations: the observed rows of
        any context sum strictly below 10⁶ micro-units (vs the MLE trainer
        where they sum to exactly 1)."""
        from graphrag_toolkit_spark.operators import textstats

        docs = spark.createDataFrame(
            [("the cat sat on the mat",), ("the cat ate the mat",)],
            "text string",
        )
        rows = textstats.kneser_ney_bigram_lm(docs, "text").collect()
        per_prev: dict[str, int] = {}
        for r in rows:
            per_prev[r["prev"]] = per_prev.get(r["prev"], 0) + r["kn_p6"]
        assert per_prev and all(v < 1_000_000 for v in per_prev.values())

    def test_min_count_prunes_output_not_statistics(self, spark):
        """min_count drops OUTPUT rows only — surviving rows keep the
        probabilities computed from the full count table."""
        from graphrag_toolkit_spark.operators import textstats

        docs = spark.createDataFrame([("a b a b a c",)], "text string")
        full = {
            (r["prev"], r["w"]): r["kn_p6"]
            for r in textstats.kneser_ney_bigram_lm(docs, "text").collect()
        }
        pruned = {
            (r["prev"], r["w"]): r["kn_p6"]
            for r in textstats.kneser_ney_bigram_lm(
                docs, "text", min_count=2
            ).collect()
        }
        assert set(pruned) == {("a", "b"), ("b", "a")}
        assert all(pruned[k] == full[k] for k in pruned)


class TestCalibrationBins:
    def test_hand_computed_bins(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import calibration_bins

        df = spark.createDataFrame(
            [(100_000, False), (150_000, True), (1_000_000, True)],
            "conf6 long, label boolean",
        )
        out = {r["bin"]: r for r in calibration_bins(df, "conf6", "label").collect()}
        b1, b9 = out[1], out[9]
        assert (b1["n"], b1["sum_conf6"], b1["n_pos"]) == (2, 250_000, 1)
        assert b1["gap6"] == 750_000
        assert b1["sq_err12"] == 100_000**2 + 850_000**2
        assert b1["avg_conf"] == 0.125 and b1["frac_pos"] == 0.5
        assert (b9["n"], b9["gap6"], b9["sq_err12"]) == (1, 0, 0)
        assert b9["avg_conf"] == 1.0  # conf6 = 10⁶ lands in bin 9 via the clamp
        assert b9["frac_pos"] == 1.0

    def test_bins_must_divide_grid(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import calibration_bins

        df = spark.createDataFrame([(1, True)], "conf6 long, label boolean")
        with pytest.raises(ValueError):
            calibration_bins(df, "conf6", "label", bins=7)


class TestCohenKappa:
    def test_hand_computed(self, spark):
        """(T,T),(F,F),(T,T),(F,T): p_o = 3/4, p_e = (2·3 + 2·1)/16 = 1/2,
        kappa = (12 − 8)/(16 − 8) = 1/2 — all exact-ratio doubles."""
        from graphrag_toolkit_spark.operators.ranking_eval import cohen_kappa

        df = spark.createDataFrame(
            [(True, True), (False, False), (True, True), (False, True)],
            "a boolean, b boolean",
        )
        r = cohen_kappa(df, "a", "b").head()
        assert (r["n"], r["n_agree"], r["a_pos"], r["b_pos"]) == (4, 3, 2, 3)
        assert r["p_o"] == 0.75 and r["p_e"] == 0.5 and r["kappa"] == 0.5

    def test_constant_raters_yield_null(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import cohen_kappa

        df = spark.createDataFrame(
            [(True, True), (True, True)], "a boolean, b boolean"
        )
        r = cohen_kappa(df, "a", "b").head()
        assert r["p_o"] == 1.0 and r["kappa"] is None


class TestZorderLayout:
    def test_morton_sql_hand_computed(self, spark):
        from graphrag_toolkit_spark.operators.packing import morton_sql

        df = spark.createDataFrame([(3, 1)], "x long, y long")
        z = df.selectExpr(f"{morton_sql('x', 'y', bits=4)} AS z").head()["z"]
        # x=3 → bits 0,1 at even positions (1 + 4); y=1 → bit 0 at position 1 (2)
        assert z == 7

    def test_morton_matches_duckdb(self, spark):
        import duckdb

        from graphrag_toolkit_spark.operators.packing import morton_sql

        pts = [(x, y) for x in range(8) for y in range(8)]
        df = spark.createDataFrame(pts, "x long, y long")
        got = sorted(
            (r["x"], r["y"], r["z"])
            for r in df.selectExpr(
                "x", "y", f"{morton_sql('x', 'y', bits=3)} AS z"
            ).collect()
        )
        con = duckdb.connect()
        want = sorted(
            con.execute(
                "SELECT x, y, "
                + morton_sql("x", "y", bits=3, floordiv="//")
                + " AS z FROM (SELECT unnest(range(8)) x), (SELECT unnest(range(8)) y)"
            ).fetchall()
        )
        assert got == want

    def test_quadrant_envelopes(self, spark):
        """4×4 grid, 4-row files: Z-order cuts into the four 2×2 quadrants
        — every file's envelope spans exactly 2 in BOTH dimensions (a
        row-major sort would span 4 in one of them)."""
        from graphrag_toolkit_spark.operators.packing import zorder_layout

        pts = [(x, y, 4 * x + y) for x in range(4) for y in range(4)]
        df = spark.createDataFrame(pts, "x long, y long, id long")
        files = zorder_layout(df, "x", "y", "id", rows_per_file=4).collect()
        assert len(files) == 4
        for f in files:
            assert f["n_rows"] == 4
            assert f["max_x"] - f["min_x"] == 1
            assert f["max_y"] - f["min_y"] == 1

    def test_rank_is_partitioning_invariant(self, spark):
        from graphrag_toolkit_spark.operators.packing import zorder_layout

        pts = [(i % 13, (i * 7) % 11, i) for i in range(100)]
        df = spark.createDataFrame(pts, "x long, y long, id long")
        a = sorted(map(tuple, zorder_layout(df, "x", "y", "id", 16).collect()))
        b = sorted(
            map(tuple, zorder_layout(df.repartition(7), "x", "y", "id", 16).collect())
        )
        assert a == b


class TestKnPerplexityBuckets:
    def test_buckets_cover_and_head_is_predictable_text(self, spark):
        from graphrag_toolkit_spark.operators import textstats

        docs = spark.createDataFrame(
            [
                (1, "a b a b a b a b"),          # one dominant bigram
                (2, "a b c d a b c d"),          # mixed
                (3, "q w e r t y u i"),          # all-singleton bigrams
            ],
            "doc_id long, text string",
        )
        out = {
            r["id"]: r
            for r in textstats.kn_perplexity_buckets(
                docs, "text", "doc_id", n_buckets=3
            ).collect()
        }
        assert sorted(r["bucket"] for r in out.values()) == [1, 2, 3]
        assert out[1]["bucket"] == 1  # repetitive text scores cleanest
        assert out[3]["bucket"] == 3
        assert out[1]["n_bigrams"] == 7

    def test_short_docs_excluded(self, spark):
        from graphrag_toolkit_spark.operators import textstats

        docs = spark.createDataFrame(
            [(1, "a b a b"), (2, "solo"), (3, "")],
            "doc_id long, text string",
        )
        ids = {
            r["id"]
            for r in textstats.kn_perplexity_buckets(
                docs, "text", "doc_id", n_buckets=1
            ).collect()
        }
        assert ids == {1}


class TestLDiversity:
    def test_hand_computed(self, spark):
        from graphrag_toolkit_spark.operators import pii

        df = spark.createDataFrame(
            [
                ("en", "web", 1), ("en", "web", 2), ("en", "web", 2),
                ("fr", "web", 5), ("fr", "web", 5),
            ],
            "lang string, source string, sens long",
        )
        out = {
            (r["lang"], r["source"]): r
            for r in pii.l_diversity(df, ["lang", "source"], "sens", l=2).collect()
        }
        en, fr = out[("en", "web")], out[("fr", "web")]
        assert (en["class_size"], en["n_sensitive"], en["is_l_diverse"]) == (3, 2, True)
        assert (fr["class_size"], fr["n_sensitive"], fr["is_l_diverse"]) == (2, 1, False)


class TestGroupedAuc:
    def test_matches_binary_auc_per_slice(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import (
            binary_auc,
            grouped_auc,
        )

        rows = [
            ("a", float(s), s % 3 == 0) for s in range(20)
        ] + [("b", float(s % 5), s % 2 == 0) for s in range(20)]
        df = spark.createDataFrame(rows, "grp string, score double, label boolean")
        sliced = {
            r["grp"]: (r["n_pos"], r["n_neg"], r["auc"])
            for r in grouped_auc(df, "grp", "score", "label").collect()
        }
        for g in ("a", "b"):
            solo = binary_auc(
                df.filter(F.col("grp") == g), "score", "label"
            ).head()
            assert sliced[g] == (solo["n_pos"], solo["n_neg"], solo["auc"])

    def test_single_class_slice_is_null(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import grouped_auc

        df = spark.createDataFrame(
            [("only_pos", 1.0, True), ("only_pos", 2.0, True),
             ("mixed", 1.0, True), ("mixed", 2.0, False)],
            "grp string, score double, label boolean",
        )
        out = {r["grp"]: r["auc"] for r in grouped_auc(df, "grp", "score", "label").collect()}
        assert out["only_pos"] is None
        assert out["mixed"] == 0.0  # the one positive scores LOWER


class TestCompactionPlan:
    def test_first_fit_decreasing_bins(self, spark):
        """Sizes 7,5,4,2 target 8: prefixes 0,7,12,16 → bins 0,0,1,2."""
        from graphrag_toolkit_spark.sources.sink import compaction_plan

        m = spark.createDataFrame(
            [("f1", 7), ("f2", 5), ("f3", 4), ("f4", 2)],
            "file string, size long",
        )
        out = {r["file"]: r["bin"] for r in compaction_plan(m, "file", "size", 8).collect()}
        assert out == {"f1": 0, "f2": 0, "f3": 1, "f4": 2}

    def test_partitions_bin_independently(self, spark):
        from graphrag_toolkit_spark.sources.sink import compaction_plan

        m = spark.createDataFrame(
            [("p1", "a", 10), ("p1", "b", 10), ("p2", "a", 10), ("p2", "b", 10)],
            "part string, file string, size long",
        )
        out = {
            (r["part"], r["file"]): r["bin"]
            for r in compaction_plan(
                m, "file", "size", 10, partition_cols=["part"]
            ).collect()
        }
        assert out == {("p1", "a"): 0, ("p1", "b"): 1, ("p2", "a"): 0, ("p2", "b"): 1}

    def test_oversized_file_gets_own_bin(self, spark):
        from graphrag_toolkit_spark.sources.sink import compaction_plan

        m = spark.createDataFrame(
            [("big", 100), ("s1", 3), ("s2", 3)], "file string, size long"
        )
        out = {r["file"]: r["bin"] for r in compaction_plan(m, "file", "size", 10).collect()}
        assert out["big"] == 0 and out["s1"] == 10 and out["s2"] == 10

    def test_target_must_be_positive(self, spark):
        import pytest as _pytest

        from graphrag_toolkit_spark.sources.sink import compaction_plan

        m = spark.createDataFrame([("f", 1)], "file string, size long")
        with _pytest.raises(ValueError):
            compaction_plan(m, "file", "size", 0)


class TestClassificationReport:
    def test_hand_computed(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import (
            classification_report,
        )

        df = spark.createDataFrame(
            [(0.9, True), (0.8, False), (0.3, True), (0.1, False), (0.7, True)],
            "score double, label boolean",
        )
        r = classification_report(df, "score", "label", 0.5).head()
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 1)
        assert r["precision"] == 2 / 3 and r["recall"] == 2 / 3
        assert r["f1"] == 4 / 6 and r["accuracy"] == 3 / 5

    def test_null_pinning(self, spark):
        """NULL score rows are excluded; NULL labels count negative."""
        from graphrag_toolkit_spark.operators.ranking_eval import (
            classification_report,
        )

        df = spark.createDataFrame(
            [(None, True), (0.9, None), (0.1, None)],
            "score double, label boolean",
        )
        r = classification_report(df, "score", "label", 0.5).head()
        assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (0, 1, 0, 1)
        assert r["precision"] == 0.0 and r["recall"] is None

    def test_degenerate_all_negative(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import (
            classification_report,
        )

        df = spark.createDataFrame([(0.1, False)], "score double, label boolean")
        r = classification_report(df, "score", "label", 0.5).head()
        assert r["f1"] is None and r["accuracy"] == 1.0


class TestGroupSplit:
    def test_no_group_spans_two_splits(self, spark, sf_dir):
        from graphrag_toolkit_spark.operators import sampling
        from graphrag_toolkit_spark.session import load

        docs = load(spark, sf_dir, "documents")
        out = sampling.train_val_test_split(
            docs, "source", val_fraction=0.1, test_fraction=0.1
        )
        multi = (
            out.groupBy("source")
            .agg(F.countDistinct("split").alias("k"))
            .filter(F.col("k") > 1)
            .count()
        )
        assert multi == 0


class TestReadability:
    def test_hand_computed(self, spark):
        """'See the dog. It runs!': words=5, sentences=2, vowel groups:
        see(2: e..e->'ee' is one group! s-ee = 1) — count precisely:
        'see the dog. it runs!' → [ee][e][o][i][u] = 5 syllables.
        flesch = 206.835 − 1.015·(5/2) − 84.6·(5/5)."""
        from graphrag_toolkit_spark.operators import textstats

        docs = spark.createDataFrame(
            [(1, "See the dog. It runs!")], "doc_id long, text string"
        )
        r = textstats.readability_scores(docs, "text", "doc_id").head()
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (5, 2, 5)
        assert r["flesch"] == (206.835 - 1.015 * (5 / 2)) - 84.6 * (5 / 5)

    def test_empty_doc_null_flesch_one_sentence_floor(self, spark):
        from graphrag_toolkit_spark.operators import textstats

        docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
        r = textstats.readability_scores(docs, "text", "doc_id").head()
        assert r["n_words"] == 0 and r["n_sentences"] == 1
        assert r["flesch"] is None


class TestParetoFrontier:
    def test_hand_computed(self, spark):
        """Points (size, price): (1,1) survives (cheapest), (2,3), (3,2)
        — (2,3) is dominated by (3,2); (3,5) dominated by (3,2)."""
        from graphrag_toolkit_spark.operators.features import pareto_frontier

        df = spark.createDataFrame(
            [(1, 1.0), (2, 3.0), (3, 2.0), (3, 5.0), (2, 8.0)],
            "size long, price double",
        )
        out = sorted(
            (r["x"], r["y"], r["n_rows"])
            for r in pareto_frontier(df, "size", "price").collect()
        )
        assert out == [(1, 1.0, 1), (3, 2.0, 1)]

    def test_no_frontier_point_dominated_property(self, spark):
        from graphrag_toolkit_spark.operators.features import pareto_frontier

        rows = [((i * 7) % 23, float((i * 13) % 31)) for i in range(200)]
        df = spark.createDataFrame(rows, "x long, y double")
        frontier = [(r["x"], r["y"]) for r in pareto_frontier(df, "x", "y").collect()]
        pts = set(rows)
        for fx, fy in frontier:
            dominated = any(
                (px >= fx and py < fy) or (px > fx and py <= fy)
                for px, py in pts
            )
            assert not dominated, (fx, fy)
        # and everything NOT on the frontier IS dominated
        for px, py in pts:
            if (px, py) in frontier:
                continue
            assert any(
                (qx >= px and qy < py) or (qx > px and qy <= py)
                for qx, qy in pts
            ), (px, py)

    def test_ties_on_frontier_both_counted(self, spark):
        from graphrag_toolkit_spark.operators.features import pareto_frontier

        df = spark.createDataFrame(
            [(5, 2.0), (5, 2.0)], "x long, y double"
        )
        out = pareto_frontier(df, "x", "y").collect()
        assert len(out) == 1 and out[0]["n_rows"] == 2


class TestEvalEdgePinning:
    def test_calibration_out_of_range_conf_clamps_to_edge_bins(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import calibration_bins

        df = spark.createDataFrame(
            [(-5, False), (2_000_000, True)], "conf6 long, label boolean"
        )
        out = {r["bin"] for r in calibration_bins(df, "conf6", "label").collect()}
        assert out == {0, 9}

    def test_kappa_null_raters_excluded(self, spark):
        from graphrag_toolkit_spark.operators.ranking_eval import cohen_kappa

        df = spark.createDataFrame(
            [(True, True), (None, True), (False, None), (False, False)],
            "a boolean, b boolean",
        )
        r = cohen_kappa(df, "a", "b").head()
        assert r["n"] == 2 and r["n_agree"] == 2 and r["p_o"] == 1.0


class TestMultimodalResizeFeatures:
    @pytest.fixture(scope="class")
    def payloads(self, spark):
        return spark.createDataFrame(
            [{"doc_id": i, "payload": f"media-bytes-{i}".encode()} for i in range(4)]
        )

    def test_resize_matches_numpy_reference(self, payloads):
        """The nearest-neighbor kernel must equal a NumPy reference resize
        over the same fake pixel grid — the MATH is real even though the
        pixels are the deterministic stand-in."""
        import numpy as np

        out = {
            r["id"]: r
            for r in multimodal.resize_media(
                payloads, "payload", "doc_id", out_w=5, out_h=3
            ).collect()
        }
        for i in range(4):
            data = f"media-bytes-{i}".encode()
            _, w, h, _ = multimodal._fake_decode(data)
            grid = np.array(
                multimodal._fake_pixels(data, w, h), dtype=np.int64
            ).reshape(h, w)
            rr = (np.arange(3) * h) // 3
            cc = (np.arange(5) * w) // 5
            ref = grid[np.ix_(rr, cc)]
            r = out[i]
            assert (r["out_w"], r["out_h"]) == (5, 3)
            assert r["pixel_sum"] == int(ref.sum())
            assert r["corner_tl"] == int(ref[0, 0])
            assert r["corner_br"] == int(ref[-1, -1])

    def test_features_match_reference(self, payloads):
        out = {
            r["id"]: r
            for r in multimodal.extract_features(
                payloads, "payload", "doc_id", bins=8
            ).collect()
        }
        for i in range(4):
            data = f"media-bytes-{i}".encode()
            _, w, h, _ = multimodal._fake_decode(data)
            px = multimodal._fake_pixels(data, w, h)
            hist = [0] * 8
            for v in px:
                hist[v * 8 // 256] += 1
            r = out[i]
            assert r["n_pixels"] == w * h == len(px)
            assert r["mean_lum"] == sum(px) / len(px)
            assert list(r["hist"]) == hist
            assert sum(r["hist"]) == r["n_pixels"]


class TestBudgetFill:
    def test_greedy_prefix_semantics(self, spark):
        from pyspark.sql import functions as F
        from graphrag_toolkit_spark.operators.sampling import budget_fill

        rows = spark.createDataFrame(
            [("a", 1, 60), ("a", 2, 30), ("a", 3, 30), ("b", 4, 200)],
            "grp string, id int, sz long",
        )
        budgets = spark.createDataFrame(
            [("a", 90), ("b", 100)], "grp string, budget long"
        )
        got = budget_fill(
            rows, "grp", "sz", budgets, [F.desc("sz"), F.asc("id")]
        ).collect()
        ids = sorted(r["id"] for r in got)
        # a: 60 then 30 fills exactly to 90 (boundary row INCLUDED);
        #    the second 30 would exceed -> excluded.
        # b: first row already over budget -> nothing selected.
        assert ids == [1, 2]
        by_id = {r["id"]: r for r in got}
        assert by_id[2]["cum_size"] == 90

    def test_total_order_ties_break_by_id(self, spark):
        from pyspark.sql import functions as F
        from graphrag_toolkit_spark.operators.sampling import budget_fill

        rows = spark.createDataFrame(
            [("a", i, 10) for i in range(10)], "grp string, id int, sz long"
        )
        budgets = spark.createDataFrame([("a", 35)], "grp string, budget long")
        got = budget_fill(
            rows.repartition(5), "grp", "sz", budgets,
            [F.desc("sz"), F.asc("id")],
        ).collect()
        assert sorted(r["id"] for r in got) == [0, 1, 2]

    def test_wide_budgets_require_explicit_budget_col(self, spark):
        # Inference is only safe for an exactly-two-column budgets table;
        # extra columns must either fail loudly or be named explicitly.
        from pyspark.sql import functions as F
        from graphrag_toolkit_spark.operators.sampling import budget_fill

        rows = spark.createDataFrame(
            [("a", 1, 10), ("a", 2, 10)], "grp string, id int, sz long"
        )
        wide = spark.createDataFrame(
            [("a", 999, 15)], "grp string, total_tokens long, budget long"
        )
        with pytest.raises(ValueError, match="budget_col"):
            budget_fill(rows, "grp", "sz", wide, [F.asc("id")])
        got = budget_fill(
            rows, "grp", "sz", wide, [F.asc("id")], budget_col="budget"
        ).collect()
        assert sorted(r["id"] for r in got) == [1]


class TestTemperatureWeights:
    def test_flattens_skew(self, spark):
        from graphrag_toolkit_spark.operators.sampling import temperature_weights

        df = spark.createDataFrame(
            [("en",)] * 16 + [("fr",)] * 4 + [("zh",)] * 1, "lang string"
        )
        got = {r["lang"]: r for r in temperature_weights(df, "lang").collect()}
        # shares sum to 1 in both spaces
        assert sum(r["share_raw"] for r in got.values()) == pytest.approx(1.0)
        assert sum(r["share_alpha"] for r in got.values()) == pytest.approx(1.0)
        # sqrt flattening: head boosted down, tail boosted up
        assert got["en"]["boost"] < 1.0
        assert got["zh"]["boost"] > 1.0
        # alpha=0.5 exact ratios: sqrt(16):sqrt(4):sqrt(1) = 4:2:1
        assert got["en"]["share_alpha"] == pytest.approx(4 / 7)
        assert got["fr"]["share_alpha"] == pytest.approx(2 / 7)

    def test_partitioning_invariant(self, spark):
        from graphrag_toolkit_spark.operators.sampling import temperature_weights

        df = spark.createDataFrame(
            [(f"l{i % 7}",) for i in range(200)], "lang string"
        )
        a = sorted(map(tuple, temperature_weights(df, "lang").collect()))
        b = sorted(
            map(tuple, temperature_weights(df.repartition(13), "lang").collect())
        )
        assert a == b


class TestPoissonBootstrap:
    def test_multiplicities_near_poisson1(self, spark):
        from graphrag_toolkit_spark.operators.sampling import poisson_bootstrap

        n = 2000
        df = spark.createDataFrame(
            [(i, 100) for i in range(n)], "id long, v long"
        )
        got = poisson_bootstrap(df, "id", "v", n_resamples=8).collect()
        assert len(got) == 8
        # E[n_eff] = n; Poisson(1) sum concentrates tightly for n=2000
        for r in got:
            assert abs(r["n_eff"] - n) < 4 * (n ** 0.5)
            # constant value -> every resample mean is exactly 100
            assert r["mean_value"] == 100.0

    def test_partitioning_invariant(self, spark):
        from graphrag_toolkit_spark.operators.sampling import poisson_bootstrap

        df = spark.createDataFrame(
            [(i, i % 37) for i in range(500)], "id long, v long"
        )
        a = sorted(map(tuple, poisson_bootstrap(df, "id", "v", 4).collect()))
        b = sorted(
            map(tuple, poisson_bootstrap(df.repartition(11), "id", "v", 4).collect())
        )
        assert a == b


class TestPerceptualHash:
    def test_identical_payloads_collide_at_zero(self, spark):
        from graphrag_toolkit_spark.operators import multimodal

        rows = spark.createDataFrame(
            [
                (1, bytearray(b"the same media payload bytes everywhere")),
                (2, bytearray(b"the same media payload bytes everywhere")),
                (3, bytearray(b"totally different content with other rhythm")),
            ],
            "id long, payload binary",
        )
        hashes = multimodal.perceptual_hash(rows, "payload", "id")
        pairs = multimodal.phash_near_dup_pairs(hashes, max_hamming=6).collect()
        assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]

    def test_hash_deterministic_across_partitionings(self, spark):
        from graphrag_toolkit_spark.operators import multimodal

        rows = spark.createDataFrame(
            [(i, bytearray(f"payload number {i} with some body".encode()))
             for i in range(20)],
            "id long, payload binary",
        )
        a = sorted(map(tuple, multimodal.perceptual_hash(rows, "payload", "id").collect()))
        b = sorted(
            map(
                tuple,
                multimodal.perceptual_hash(
                    rows.repartition(7), "payload", "id"
                ).collect(),
            )
        )
        assert a == b

    def test_56_bit_range(self, spark):
        from graphrag_toolkit_spark.operators import multimodal

        rows = spark.createDataFrame(
            [(i, bytearray(f"doc {i} body text for hashing".encode()))
             for i in range(10)],
            "id long, payload binary",
        )
        for r in multimodal.perceptual_hash(rows, "payload", "id").collect():
            assert 0 <= r["phash"] < (1 << 56)


class TestAudioEnergy:
    def test_window_math_exact(self, spark):
        from graphrag_toolkit_spark.operators import multimodal

        # 20 bytes: window 0 = 16 low bytes (silent), window 1 = 4 loud
        payload = bytes([10] * 16 + [200] * 4)
        rows = spark.createDataFrame(
            [(1, bytearray(payload))], "id long, payload binary"
        )
        r = multimodal.audio_energy(rows, "payload", "id").collect()[0]
        assert r["n_windows"] == 2
        assert r["n_silent"] == 1          # mean 10 < 80; mean 200 >= 80
        assert r["peak_energy"] == 800     # 4 * 200
        assert r["peak_window"] == 1

    def test_first_wins_on_ties(self, spark):
        from graphrag_toolkit_spark.operators import multimodal

        payload = bytes([100] * 32)  # two identical windows
        rows = spark.createDataFrame(
            [(1, bytearray(payload))], "id long, payload binary"
        )
        r = multimodal.audio_energy(rows, "payload", "id").collect()[0]
        assert r["peak_window"] == 0

    def test_empty_and_null_payload_convention(self, spark):
        # Empty/NULL payloads coerce to a single zero byte: one all-silent
        # window, peak energy 0 at window 0 — the exact rows the oracle's
        # UNION ALL branch emits for length(text)=0 / NULL docs.
        from graphrag_toolkit_spark.operators import multimodal

        rows = spark.createDataFrame(
            [(1, bytearray(b"")), (2, None)], "id long, payload binary"
        )
        got = {
            r["id"]: (r["n_windows"], r["n_silent"], r["peak_energy"], r["peak_window"])
            for r in multimodal.audio_energy(rows, "payload", "id").collect()
        }
        assert got == {1: (1, 1, 0, 0), 2: (1, 1, 0, 0)}

    def test_oracle_len_bound(self):
        # AUDIO_VAD_ORACLE scans a fixed 1..AUDIO_ORACLE_MAX_LEN position
        # series (DuckDB generate_series takes only constants); any fixture
        # doc longer than the bound would be truncated oracle-side only.
        # Fail loudly here instead of hash-mismatching in the driver gate.
        import duckdb

        from graphrag_toolkit_spark.workload.dataprep import AUDIO_ORACLE_MAX_LEN

        checked = 0
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            path = f"/root/testdata/{sf}/documents.parquet"
            if not os.path.exists(path):
                continue
            (max_len,) = duckdb.sql(
                f"SELECT max(length(text)) FROM '{path}'"
            ).fetchone()
            assert max_len <= AUDIO_ORACLE_MAX_LEN, (
                f"{sf}: max doc length {max_len} exceeds the oracle's "
                f"fixed scan bound {AUDIO_ORACLE_MAX_LEN}"
            )
            checked += 1
        assert checked > 0


class TestQuantizeInt8:
    def test_codes_and_saturation(self, spark):
        from graphrag_toolkit_spark.operators.pq import quantize_int8

        emb = spark.createDataFrame(
            [(1, [1.0, -1.0, 0.5, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        got = {r["id"]: r for r in quantize_int8(emb).collect()}
        # max element quantizes to exactly +127; the min to -127; half to
        # floor(63.5) = 63; zero stays 0.
        assert got[1]["scale"] == 1.0
        assert list(got[1]["codes"]) == [127, -127, 63, 0]
        # zero vector: scale 0 guarded, all-zero codes
        assert got[2]["scale"] == 0.0
        assert list(got[2]["codes"]) == [0, 0, 0, 0]

    def test_partition_invariant(self, spark):
        from graphrag_toolkit_spark.operators.pq import quantize_int8

        emb = spark.createDataFrame(
            [(i, [float((i * j) % 13) - 6.0 for j in range(8)])
             for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        a = sorted((r["id"], list(r["codes"])) for r in quantize_int8(emb).collect())
        b = sorted(
            (r["id"], list(r["codes"]))
            for r in quantize_int8(emb.repartition(7)).collect()
        )
        assert a == b

    def test_negative_boundary_clamps_to_minus_127(self, spark):
        # s = 9e-6: floor((-s)·127.0/s) lands at -128 in IEEE doubles (the
        # two roundings drift one ulp below -127) — the GREATEST clamp must
        # pin it to the documented symmetric [-127, 127] range so the
        # |code|==127 saturation counters see it.
        import math

        from graphrag_toolkit_spark.operators.pq import quantize_int8

        s = 9e-6
        assert math.floor((-s) * 127.0 / s) == -128  # the trap is real
        emb = spark.createDataFrame(
            [(1, [-9e-6, 4e-6])], "vec_id long, embedding array<float>"
        )
        (row,) = quantize_int8(emb).collect()
        assert list(row["codes"]) == [-127, 56]
        assert min(row["codes"]) >= -127


class TestRound6TextOps:
    def test_doc_length_gate_exact_rank_thresholds(self, spark):
        # 20 docs with token counts 1..20: k_lo = ceil(0.05*20) = 1 -> lo=1,
        # k_hi = ceil(0.95*20) = 19 -> hi=19: exactly one doc dropped (20).
        from graphrag_toolkit_spark.workload.dataprep import (
            doc_length_gate_documents,
        )
        import tempfile, os

        docs = spark.createDataFrame(
            [(i, " ".join(["w"] * i), "en", "s0", 0) for i in range(1, 21)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        with tempfile.TemporaryDirectory() as d:
            docs.write.parquet(os.path.join(d, "documents.parquet"))
            out = doc_length_gate_documents(spark, d).collect()
        r = out[0]
        assert (r["lo_tokens"], r["hi_tokens"]) == (1, 19)
        assert r["n_docs"] == 20 and r["kept"] == 19
        assert r["dropped_short"] == 0 and r["dropped_long"] == 1
        assert r["kept_frac"] == 19 / 20

    def test_oov_rate_min_count_boundary(self, spark):
        # "rare" appears 4 times (< min_count 5 -> OOV); "common" 5 times
        # (in vocab). Source s0 holds all rare tokens.
        from graphrag_toolkit_spark.workload.dataprep import oov_rate_documents
        import tempfile, os

        rows = [(i, "common", "en", "s1", 0) for i in range(5)] + [
            (10 + i, "rare", "en", "s0", 0) for i in range(4)
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        with tempfile.TemporaryDirectory() as d:
            docs.write.parquet(os.path.join(d, "documents.parquet"))
            got = {r["source"]: r for r in oov_rate_documents(spark, d).collect()}
        assert got["s0"]["oov_tokens"] == 4 and got["s0"]["oov_types"] == 1
        assert got["s0"]["oov_rate"] == 1.0
        assert got["s1"]["oov_tokens"] == 0 and got["s1"]["oov_rate"] == 0.0


class TestSingleObservationStrata:
    """A stratum/type with ONE observation has no spread estimate: fano and
    Neyman S_h must be NULL (guarded), never 0/0 — and a NaN must never
    poison the OTHER strata's shares."""

    @staticmethod
    def _events_dir(spark, tmpdir):
        import os
        from datetime import datetime

        rows = (
            # "solo": one event, one day -> n_days = 1, n_h = 1
            [(1, datetime(2024, 1, 1, 8), 1, "solo", 5.0, "{}")]
            # "multi": four events across two days, varying values
            + [
                (10 + i, datetime(2024, 1, 1 + i % 2, 9 + i), 2, "multi",
                 1.0 + i, "{}")
                for i in range(4)
            ]
            # "steady": three events on three days, identical values
            + [
                (20 + i, datetime(2024, 2, 1 + i, 12), 3, "steady", 2.5, "{}")
                for i in range(3)
            ]
        )
        ev = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        ev.write.parquet(os.path.join(tmpdir, "events.parquet"))
        return tmpdir

    def test_burstiness_single_day_type_is_null(self, spark):
        import tempfile

        from graphrag_toolkit_spark.workload.events import burstiness_events

        with tempfile.TemporaryDirectory() as d:
            got = {
                r["event_type"]: r
                for r in burstiness_events(spark, self._events_dir(spark, d)).collect()
            }
        assert got["solo"]["n_days"] == 1
        assert got["solo"]["fano"] is None            # guarded, not 0/0
        assert got["solo"]["mean_daily"] == 1.0
        assert got["multi"]["fano"] is not None       # others unaffected
        assert got["steady"]["fano"] is not None

    def test_neyman_single_event_stratum_null_not_nan(self, spark):
        import math
        import tempfile

        from graphrag_toolkit_spark.workload.events import (
            NEYMAN_BUDGET,
            neyman_allocation_events,
            neyman_sample_events,
        )

        with tempfile.TemporaryDirectory() as d:
            self._events_dir(spark, d)
            alloc = {
                r["event_type"]: r
                for r in neyman_allocation_events(spark, d).collect()
            }
            sampled = neyman_sample_events(spark, d).collect()
        assert alloc["solo"]["s_h"] is None and alloc["solo"]["share"] is None
        assert alloc["solo"]["alloc"] is None
        # the other strata keep FINITE shares (no NaN poisoning) that sum
        # to 1 and integer allocs that exhaust the budget
        others = [alloc["multi"], alloc["steady"]]
        for r in others:
            assert r["share"] is not None and not math.isnan(r["share"])
        assert abs(sum(r["share"] for r in others) - 1.0) < 1e-12
        assert sum(r["alloc"] for r in others) == NEYMAN_BUDGET
        # the draw skips the undefined stratum entirely
        assert all(r["event_type"] != "solo" for r in sampled)


class TestTruncationAudit:
    def test_halving_dims_perfect_when_halves_identical(self, spark):
        """Vectors whose two halves are proportional score identically at
        32 and 64 dims -> delta 0, agreement 1, corr NULL (zero variance
        makes Pearson undefined -> NULL, not NaN)."""
        from graphrag_toolkit_spark.operators.pq import truncation_audit

        # half = mirrored copy of the head: cos64(a,b) == cos32(a,b)
        rows = [
            (i, [float((i * 3 + j) % 7) + 1.0 for j in range(8)] * 2)
            for i in range(12)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        r = truncation_audit(
            emb, "vec_id", "embedding", keep_dims=8, threshold=0.9,
            n_planes=2, dim=16,
        ).head()
        assert r["n_pairs"] > 0
        assert r["agree_rate"] == 1.0
        assert r["mean_abs_delta"] == 0.0

    def test_orthogonal_tail_degrades_half_cosine(self, spark):
        """Pairs identical in the head but opposite in the tail: full-dim
        cosine is 0, head-only cosine is 1 -> large delta, disagreement at
        a 0.5 threshold."""
        from graphrag_toolkit_spark.operators.pq import truncation_audit

        head = [1.0] * 8
        rows = [(0, head + [1.0] * 8), (1, head + [-1.0] * 8)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        r = truncation_audit(
            emb, "vec_id", "embedding", keep_dims=8, threshold=0.5,
            n_planes=1, dim=16,
        ).head()
        # the two vectors must co-bucket for the pair to exist at all
        if r["n_pairs"] == 1:
            assert r["agree_rate"] == 0.0
            assert r["mean_abs_delta"] == pytest.approx(1.0, abs=1e-6)
            assert r["corr"] is None  # single pair: zero variance
