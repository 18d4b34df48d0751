"""Iterative operators: entity context expansion, beam search, byokg BFS,
metapaths, shortest paths, linking — vs pure-Python golden implementations."""

from __future__ import annotations

from collections import deque

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphrag_toolkit_spark import fixtures
from graphrag_toolkit_spark.operators import bfs, entity, linking
from graphrag_toolkit_spark.operators.beam import beam_search, chunk_beam_search, topic_beam_search


@pytest.fixture(scope="module")
def pdg():
    return fixtures.generate("t1", seed=42)


@pytest.fixture(scope="module")
def g(spark, pdg):
    return pdg.to_spark(spark)


@pytest.fixture(scope="module")
def triples_pd():
    return fixtures.generate_triples(n_nodes=60, n_rels=8, seed=7)


@pytest.fixture(scope="module")
def triples(spark, triples_pd):
    df = spark.createDataFrame(triples_pd)
    df.persist().count()
    return df


class TestEntityLookup:
    def test_exact_match(self, spark, g, pdg):
        target = pdg.entities[pdg.entities.classification != "__Local_Entity__"].iloc[0]
        kws = spark.createDataFrame([{"keyword": target["value"].upper()}])
        out = entity.lookup_entities(g, kws).collect()
        assert any(
            r["entity_id"] == target["entity_id"] and r["match_type"] == "exact"
            for r in out
        )

    def test_prefix_fallback(self, spark, g, pdg):
        target = pdg.entities[pdg.entities.classification != "__Local_Entity__"].iloc[0]
        prefix = target["value"][: len(target["value"]) - 2]
        kws = spark.createDataFrame([{"keyword": prefix}])
        out = entity.lookup_entities(g, kws).collect()
        assert any(r["match_type"] == "prefix" for r in out)

    def test_local_entities_excluded_by_default(self, spark, g, pdg):
        loc = pdg.entities[pdg.entities.classification == "__Local_Entity__"].iloc[0]
        kws = spark.createDataFrame([{"keyword": loc["value"]}])
        assert entity.lookup_entities(g, kws).count() == 0
        assert entity.lookup_entities(g, kws, include_local=True).count() > 0


class TestEntityContext:
    def test_depth_bounded_and_seeded(self, spark, g, pdg):
        rel = pdg.edges[pdg.edges.etype == "RELATION"]
        seed = rel.src.iloc[0]
        seeds = spark.createDataFrame([{"entity_id": seed}])
        out = entity.expand_entity_context(g, seeds, max_depth=2, per_node_limit=3).collect()
        by_depth = {}
        for r in out:
            by_depth.setdefault(r["depth"], []).append(r)
        assert [r["entity_id"] for r in by_depth[0]] == [seed]
        assert max(by_depth) <= 2
        assert len(by_depth.get(1, [])) <= 3  # per-node cap from a single seed
        ids = [r["entity_id"] for r in out]
        assert len(ids) == len(set(ids))  # visited-set: no node twice

    def test_level1_matches_golden(self, spark, g, pdg):
        rel = pdg.edges[pdg.edges.etype == "RELATION"]
        seed = rel.src.value_counts().index[0]  # a hub
        und = {}
        for s, d in zip(rel.src, rel.dst):
            und[(s, d)] = und.get((s, d), 0) + 1
        adj = {}
        for (s, d), n in list(und.items()):
            adj.setdefault(s, {})
            adj[s][d] = adj[s].get(d, 0) + n
            adj.setdefault(d, {})
            adj[d][s] = adj[d].get(s, 0) + n
        neigh = sorted(adj[seed].items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        exp = {d for d, _ in neigh} - {seed}
        seeds = spark.createDataFrame([{"entity_id": seed}])
        out = entity.expand_entity_context(g, seeds, max_depth=1, per_node_limit=3)
        got = {r["entity_id"] for r in out.collect() if r["depth"] == 1}
        assert got == exp


def _cos(a: list[float], b: list[float]) -> float:
    import math

    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


class TestBeam:
    def test_generic_beam_visits_seeds_first(self, spark, g, pdg):
        qv = fixtures.pseudo_embedding("beam query")
        seeds = spark.createDataFrame(
            [{"node_id": t} for t in pdg.topics.topic_id.head(5)]
        )

        def no_neighbors(frontier):
            return frontier.select(
                F.col("node_id"), F.col("node_id").alias("parent_id")
            ).limit(0)

        out = beam_search(g.embeddings_topic, seeds, no_neighbors, qv, beam_width=3).collect()
        assert len(out) == 3  # beam cut applies to seeds
        assert all(r["depth"] == 0 for r in out)

    def test_attention_single_neighbor_weight_is_one(self, spark):
        """A parent with exactly one surviving neighbor gives it softmax
        weight 1, so its score must be exactly 2 × its query cosine
        (reference beam_search_base.py:81-87)."""
        import math

        emb = spark.createDataFrame(
            [
                {"id": 0, "embedding": [1.0, 0.0]},   # seed
                {"id": 1, "embedding": [0.6, 0.8]},   # its only neighbor
            ]
        )
        seeds = spark.createDataFrame([{"node_id": 0}])

        def nbrs(frontier):
            return frontier.select(
                F.lit(1).alias("node_id"), F.col("node_id").alias("parent_id")
            )

        out = {
            r["node_id"]: r
            for r in beam_search(
                emb, seeds, nbrs, [1.0, 0.0], beam_width=4, max_depth=1,
                scoring="attention",
            ).collect()
        }
        assert out[1]["score"] == pytest.approx(2 * 0.6, abs=1e-9)
        assert math.isclose(out[0]["score"], 1.0)

    def test_attention_softmax_prefers_parent_aligned_neighbor(self, spark):
        """Two neighbors of one parent: the parent-aligned one gets the
        larger softmax weight, so equal query-cosines split unequally."""
        emb = spark.createDataFrame(
            [
                {"id": 0, "embedding": [1.0, 0.0, 0.0]},          # seed/parent
                {"id": 1, "embedding": [0.9, 0.43589, 0.0]},      # parent-aligned
                {"id": 2, "embedding": [0.1, 0.0, 0.99499]},      # parent-misaligned
            ]
        )
        seeds = spark.createDataFrame([{"node_id": 0}])

        def nbrs(frontier):
            return (
                frontier.select(F.col("node_id").alias("parent_id"))
                .crossJoin(spark.createDataFrame([{"node_id": 1}, {"node_id": 2}]))
                .select("node_id", "parent_id")
            )

        rows = {
            r["node_id"]: r["score"]
            for r in beam_search(
                emb, seeds, nbrs, [0.0, 1.0, 1.0], beam_width=4, max_depth=1,
                scoring="attention",
            ).collect()
        }
        # weights sum to 1 across the parent's two neighbors; node 1 has the
        # larger dot with the parent so it takes the larger share
        w1 = rows[1] / _cos([0.0, 1.0, 1.0], [0.9, 0.43589, 0.0]) - 1.0
        w2 = rows[2] / _cos([0.0, 1.0, 1.0], [0.1, 0.0, 0.99499]) - 1.0
        assert w1 + w2 == pytest.approx(1.0, abs=1e-9)
        assert w1 > w2

    def test_beam_scoring_modes(self, spark, g, pdg):
        qv = fixtures.pseudo_embedding("scores")
        seeds = spark.createDataFrame([{"node_id": pdg.topics.topic_id.iloc[0]}])
        ids_by_mode = {}
        for mode in ("cosine", "path_weighted", "path_propagated", "attention"):
            out = topic_beam_search(
                g, qv, seed_top_k=5, beam_width=5, max_depth=2, scoring=mode,
                statements_per_topic=3,
            )
            rows = out.collect()
            assert len(rows) > 0
            ids_by_mode[mode] = {r["topic_id"] for r in rows}
        assert all(len(v) > 0 for v in ids_by_mode.values())

    def test_beam_deterministic(self, g):
        qv = fixtures.pseudo_embedding("det")
        a = topic_beam_search(g, qv, seed_top_k=5, beam_width=5, max_depth=2).collect()
        b = topic_beam_search(g, qv, seed_top_k=5, beam_width=5, max_depth=2).collect()
        assert sorted(map(str, a)) == sorted(map(str, b))

    def test_chunk_beam(self, g):
        qv = fixtures.pseudo_embedding("chunk beam")
        out = chunk_beam_search(g, qv, seed_top_k=5, beam_width=4, max_depth=2).collect()
        assert 0 < len(out) <= 4 * 3
        assert all("chunk_id" in r.asDict() for r in out)

    def test_statements_per_topic_cap(self, g):
        qv = fixtures.pseudo_embedding("cap")
        out = topic_beam_search(
            g, qv, seed_top_k=5, beam_width=5, max_depth=1, statements_per_topic=2
        )
        counts = out.groupBy("topic_id").count().collect()
        assert all(r["count"] <= 2 for r in counts)


def _adj(triples_pd, directed=True):
    adj = {}
    for s, _, d in triples_pd.itertuples(index=False):
        adj.setdefault(s, set()).add(d)
        if not directed:
            adj.setdefault(d, set()).add(s)
    return adj


class TestByokg:
    def test_one_hop_matches_golden(self, spark, triples, triples_pd):
        frontier = spark.createDataFrame([{"node_id": "n0"}, {"node_id": "n5"}])
        out = {(r["src"], r["rel"], r["dst"]) for r in bfs.one_hop(triples, frontier).collect()}
        exp = {
            (s, r, d)
            for s, r, d in triples_pd.itertuples(index=False)
            if s in ("n0", "n5")
        }
        assert out == exp

    def test_one_hop_rel_filter(self, spark, triples, triples_pd):
        frontier = spark.createDataFrame([{"node_id": "n0"}])
        out = bfs.one_hop(triples, frontier, rels=["rel_0"]).collect()
        assert all(r["rel"] == "rel_0" for r in out)

    def test_multi_hop_superset_of_one_hop(self, spark, triples):
        frontier = spark.createDataFrame([{"node_id": "n0"}])
        h1 = {tuple(r) for r in bfs.one_hop(triples, frontier).collect()}
        h2 = {tuple(r) for r in bfs.multi_hop(triples, frontier, hops=2).collect()}
        assert h1 <= h2

    def test_metapath_follow_golden(self, spark, triples, triples_pd):
        # build golden: start n0, follow [rel_a, rel_b] for first two rels seen
        rel_seq = [triples_pd.rel.iloc[0], triples_pd.rel.iloc[1]]
        by_rel = {}
        for s, r, d in triples_pd.itertuples(index=False):
            by_rel.setdefault(r, {}).setdefault(s, set()).add(d)
        cur = {"n0"}
        for r in rel_seq:
            cur = {d for s in cur for d in by_rel.get(r, {}).get(s, set())}
        frontier = spark.createDataFrame([{"node_id": "n0"}])
        out = bfs.follow_metapath(triples, frontier, rel_seq).collect()
        assert {r["end_id"] for r in out} == cur
        assert all(r["start_id"] == "n0" for r in out)

    def test_shortest_paths_distances_golden(self, spark, triples, triples_pd):
        adj = _adj(triples_pd)
        dist = {"n0": 0}
        q = deque(["n0"])
        while q:
            u = q.popleft()
            for v in sorted(adj.get(u, ())):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        sources = spark.createDataFrame([{"node_id": "n0"}])
        out = bfs.shortest_paths(triples, sources, max_depth=10)
        got = {r["node_id"]: r["dist"] for r in out.collect()}
        exp = {k: v for k, v in dist.items() if v <= 10}
        assert got == exp

    def test_shortest_paths_path_is_valid(self, spark, triples, triples_pd):
        adj = _adj(triples_pd)
        sources = spark.createDataFrame([{"node_id": "n0"}])
        out = bfs.shortest_paths(triples, sources, max_depth=6).collect()
        for r in out:
            hops = r["path"].split("->")
            assert hops[0] == "n0" and hops[-1] == r["node_id"]
            assert len(hops) == r["dist"] + 1
            for a, b in zip(hops, hops[1:]):
                assert b in adj[a]

    def test_shortest_paths_targets_filter(self, spark, triples):
        sources = spark.createDataFrame([{"node_id": "n0"}])
        targets = spark.createDataFrame([{"node_id": "n3"}, {"node_id": "n7"}])
        out = bfs.shortest_paths(triples, sources, targets=targets, max_depth=10).collect()
        assert {r["node_id"] for r in out} <= {"n3", "n7"}

    def test_merge_verbalize(self, spark):
        t = spark.createDataFrame(
            [{"src": "a", "rel": "r", "dst": "z"}, {"src": "a", "rel": "r", "dst": "b"},
             {"src": "a", "rel": "q", "dst": "c"}]
        )
        out = {(r["src"], r["rel"]): r["text"] for r in bfs.merge_verbalize(t).collect()}
        assert out[("a", "r")] == "a r: b, z"
        assert out[("a", "q")] == "a q: c"

    def test_schema_relations(self, triples, triples_pd):
        got = {r["rel"] for r in bfs.schema_relations(triples).collect()}
        assert got == set(triples_pd.rel)


class TestLinking:
    def test_fuzzy_exact_name_ranks_first(self, spark):
        names_pd = fixtures.generate_node_names(50)
        names = spark.createDataFrame(names_pd)
        target = names_pd.name.iloc[0]
        q = spark.createDataFrame([{"query": target}])
        out = linking.fuzzy_link(q, names, top_k=3).collect()
        assert out[0]["name"] == target and out[0]["fuzzy_score"] == 1.0

    def test_fuzzy_handles_misspelling(self, spark):
        names_pd = fixtures.generate_node_names(50)
        names = spark.createDataFrame(names_pd)
        target = names_pd.name.iloc[0]
        typo = "x" + target[1:]  # one-char typo
        q = spark.createDataFrame([{"query": typo}])
        out = linking.fuzzy_link(q, names, top_k=1).collect()
        assert out[0]["name"] == target

    def test_fuzzy_blocking_matches_brute_force(self, spark):
        """Blocking completeness (round-4 carry): the length-bucket range
        explode must admit EXACTLY the candidates the slack guard admits —
        parity with an unblocked cross-join on a boundary fixture whose
        lengths sit on bucket edges and exactly at qlen*(1±slack)."""
        from graphrag_toolkit_spark.functions.text import search_string

        # catalog lengths 1..32 cover bucket edges for width 8 and width 5;
        # two spellings per length so distances vary within a bucket
        names = spark.createDataFrame(
            [{"node_id": 2 * n, "name": ("abcdefgh" * 4)[:n]} for n in range(1, 33)]
            + [{"node_id": 2 * n + 1, "name": ("abcdxfgh" * 4)[:n]} for n in range(1, 33)]
            + [{"node_id": 999, "name": "!!!"}]  # normalizes to empty, len 0
        )
        queries = spark.createDataFrame(
            [{"query": ("abcdefgh" * 4)[:n]} for n in (2, 7, 8, 9, 15, 16, 17, 24, 32)]
            + [{"query": "???"}]  # empty after normalization
        )
        for bucket_width, slack in ((8, 0.5), (5, 0.3)):
            fast = set(
                map(
                    tuple,
                    linking.fuzzy_link(
                        queries, names, top_k=10 ** 6,
                        length_slack=slack, bucket_width=bucket_width,
                    ).collect(),
                )
            )
            # brute: same normalization/guard/score/rank, NO bucketing
            q = queries.select(
                "query", search_string(F.col("query")).alias("qnorm")
            ).withColumn("qlen", F.length("qnorm")).distinct()
            c = names.select(
                "node_id", "name", search_string(F.col("name")).alias("cnorm")
            ).withColumn("clen", F.length("cnorm"))
            guard = (
                (F.col("clen") >= F.col("qlen") * (1.0 - slack))
                & (F.col("clen") <= F.col("qlen") * (1.0 + slack))
            )
            denom = F.greatest("qlen", "clen")
            score = F.when(
                denom > 0, 1.0 - F.levenshtein("qnorm", "cnorm") / denom
            ).otherwise(F.lit(0.0))
            w = Window.partitionBy("query").orderBy(
                F.desc("fuzzy_score"), F.asc("node_id")
            )
            brute = set(
                map(
                    tuple,
                    q.crossJoin(c)
                    .filter(guard)
                    .withColumn("fuzzy_score", score)
                    .filter(F.col("fuzzy_score") >= 0.0)
                    .withColumn("rank", F.row_number().over(w))
                    .select("query", "node_id", "name", "fuzzy_score", "rank")
                    .collect(),
                )
            )
            assert fast == brute and len(brute) > 50, (bucket_width, slack)

    def test_token_set_word_order_insensitive(self, spark):
        """'obama, barack' must hit 'barack obama' at 1.0 under token_set
        (thefuzz semantics, fuzzy_string.py:22-72); plain Levenshtein can't."""
        names = spark.createDataFrame(
            [
                {"node_id": 1, "name": "barack obama"},
                {"node_id": 2, "name": "george washington"},
            ]
        )
        q = spark.createDataFrame([{"query": "Obama, Barack"}])
        ts = linking.fuzzy_link(q, names, top_k=1, scorer="token_set").collect()
        assert ts[0]["node_id"] == 1
        assert ts[0]["fuzzy_score"] == pytest.approx(1.0)
        lev = linking.fuzzy_link(q, names, top_k=1).collect()
        assert lev[0]["fuzzy_score"] < 0.7

    def test_token_set_subset_scores_high(self, spark):
        from graphrag_toolkit_spark.operators.linking import token_set_similarity

        df = spark.createDataFrame(
            [{"a": "new york", "b": "new york city"},
             {"a": "", "b": ""}]
        )
        out = df.select(token_set_similarity(F.col("a"), F.col("b")).alias("s")).collect()
        # intersection 'new york' is a prefix of b's full string → s0-vs-s1
        # ratio is 1.0-adjacent; thefuzz gives 1.0 here via the s0/s1 leg
        assert out[0]["s"] == pytest.approx(1.0)
        assert out[1]["s"] == 0.0

    def test_token_set_invalid_scorer(self, spark):
        names = spark.createDataFrame([{"node_id": 1, "name": "x"}])
        q = spark.createDataFrame([{"query": "x"}])
        with pytest.raises(ValueError, match="scorer"):
            linking.fuzzy_link(q, names, scorer="bogus")

    def test_length_bucket_blocking_is_lossless(self, spark):
        """Blocking recall at the boundary: the bucketed equi-join must
        admit EXACTLY the pairs the raw length-guard theta-join admits —
        floor is monotone, so every candidate inside
        [qlen(1-s), qlen(1+s)] lands in an exploded probe bucket. Catalog
        name lengths sweep 1..40 (crossing every bucket edge at width 8)
        against queries whose slack intervals end exactly ON bucket
        boundaries; compare against a brute-force crossJoin twin.
        (Same completeness discipline editdist's ED-1 blocking already
        has; closes the round-4 review gap.)"""
        from graphrag_toolkit_spark.functions.text import search_string

        names = spark.createDataFrame(
            [{"node_id": i, "name": "x" * i} for i in range(1, 41)]
        )
        # qlen 16 with slack 0.5 → [8, 24]: both endpoints are bucket edges
        queries = spark.createDataFrame(
            [{"query": "q" * n} for n in (3, 8, 16, 24, 31, 40)]
        )
        slack = 0.5
        blocked = {
            (r["query"], r["node_id"])
            for r in linking.fuzzy_link(
                queries, names, top_k=10_000, length_slack=slack
            ).collect()
        }
        q = queries.select(
            "query", F.length(search_string(F.col("query"))).alias("qlen")
        )
        c = names.select(
            "node_id", F.length(search_string(F.col("name"))).alias("clen")
        )
        brute = {
            (r["query"], r["node_id"])
            for r in q.crossJoin(c)
            .filter(
                (F.col("clen") >= F.col("qlen") * (1.0 - slack))
                & (F.col("clen") <= F.col("qlen") * (1.0 + slack))
            )
            .collect()
        }
        assert blocked == brute and len(brute) > 50  # non-vacuous

    def test_dense_link_self_is_top1(self, spark, pdg):
        cat = spark.createDataFrame(pdg.embeddings_topic).withColumnRenamed("id", "node_id")
        first = pdg.embeddings_topic.iloc[0]
        q = spark.createDataFrame(
            [{"query_id": "q0", "embedding": list(first["embedding"])}]
        )
        out = linking.dense_link(q, cat, top_k=3).collect()
        assert out[0]["node_id"] == first["id"]
        assert out[0]["score"] == pytest.approx(1.0)
        assert [r["rank"] for r in out] == [1, 2, 3]


class TestKatzCentrality:
    def test_hand_computed_two_iterations(self, spark):
        from graphrag_toolkit_spark.operators.centrality import katz_centrality

        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
        )
        # r0=1 everywhere; r1 = (a:1, b:1.5, c:2); r2 = (a:1, b:1.5, c:2.25)
        out = {
            r["node_id"]: r["katz"]
            for r in katz_centrality(edges, iters=2).collect()
        }
        assert out == {"a": 1.0, "b": 1.5, "c": 2.25}

    def test_zero_iterations_is_ones(self, spark):
        from graphrag_toolkit_spark.operators.centrality import katz_centrality

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        out = {r["node_id"]: r["katz"] for r in katz_centrality(edges, iters=0).collect()}
        assert out == {"a": 1.0, "b": 1.0}

    def test_scores_are_exact_dyadics(self, spark):
        """Every score times 2^(K) must be an integer — the no-rounding
        invariant that makes the operator hash-gateable."""
        from graphrag_toolkit_spark.operators.centrality import katz_centrality

        edges = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(40)],
            "src string, dst string",
        ).distinct()
        ks = [r["katz"] * (1 << 6) for r in katz_centrality(edges, iters=6).collect()]
        assert all(v == int(v) for v in ks)

    def test_salted_join_bit_identical_on_hub_graph(self, spark):
        """n_salts spreads a hub's out-edges over (src, salt) join
        partitions; scores must be BIT-identical to the unsalted path —
        exact integer sums don't care how the messages were grouped.
        Fixture: one hub fanning out to 60 nodes (the Zipfian shape the
        flag exists for) plus a weighted chain, checked with and without
        weights."""
        from graphrag_toolkit_spark.operators.centrality import katz_centrality

        edges = spark.createDataFrame(
            [("hub", f"n{i}", 1 + i % 3) for i in range(60)]
            + [(f"n{i}", f"n{i + 1}", 2) for i in range(10)],
            "src string, dst string, w int",
        )
        for wc in (None, "w"):
            plain = {
                r["node_id"]: r["katz"]
                for r in katz_centrality(edges, iters=4, weight_col=wc).collect()
            }
            salted = {
                r["node_id"]: r["katz"]
                for r in katz_centrality(
                    edges, iters=4, weight_col=wc, n_salts=8
                ).collect()
            }
            assert plain == salted


class TestPersonalizedKatz:
    def test_hand_computed(self, spark):
        from graphrag_toolkit_spark.operators.centrality import personalized_katz

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "c")], "src string, dst string"
        )
        seeds = spark.createDataFrame([("a",)], "node_id string")
        # K=2: r0={a:1}; r1={a:1, b:0.5}; r2={a:1, b:0.5, c:0.25}
        out = {
            r["node_id"]: r["score"]
            for r in personalized_katz(edges, seeds, iters=2).collect()
        }
        assert out == {"a": 1.0, "b": 0.5, "c": 0.25}
        # x never reached: frontier-sized output
        assert "x" not in out

    def test_seed_restart_not_attenuated(self, spark):
        from graphrag_toolkit_spark.operators.centrality import personalized_katz

        # self-reinforcing seed: a -> a; r_{t+1}(a) = 1 + r_t(a)/2
        edges = spark.createDataFrame([("a", "a")], "src string, dst string")
        seeds = spark.createDataFrame([("a",)], "node_id string")
        out = personalized_katz(edges, seeds, iters=3).collect()[0]
        # r0=1, r1=1.5, r2=1.75, r3=1.875
        assert out["score"] == 1.875


class TestKatzPartitionInvariance:
    def test_scores_identical_across_partitionings(self, spark):
        """The exact-BIGINT discipline's point: iterative scores must be
        bit-identical no matter how the data is partitioned."""
        import random

        from graphrag_toolkit_spark.operators.centrality import katz_centrality

        rng = random.Random(3)
        rows = [
            (f"n{rng.randint(0, 30)}", f"n{rng.randint(0, 30)}")
            for _ in range(150)
        ]
        base = spark.createDataFrame(rows, "src string, dst string").distinct()
        a = {r["node_id"]: r["katz"] for r in katz_centrality(base, iters=5).collect()}
        b = {
            r["node_id"]: r["katz"]
            for r in katz_centrality(base.repartition(13), iters=5).collect()
        }
        c = {
            r["node_id"]: r["katz"]
            for r in katz_centrality(base.coalesce(1), iters=5).collect()
        }
        assert a == b == c


class TestWeightedKatz:
    def test_weighted_vs_unweighted(self, spark):
        from graphrag_toolkit_spark.operators.centrality import katz_centrality

        edges = spark.createDataFrame(
            [("a", "b", 3), ("x", "b", 1)], "src string, dst string, w int"
        )
        # unweighted: b = 1 + 0.5*(1+1) = 2 at K=1
        u = {r["node_id"]: r["katz"]
             for r in katz_centrality(edges, iters=1).collect()}
        assert u["b"] == 2.0
        # weighted: b = 1 + 0.5*(3*1 + 1*1) = 3
        w = {r["node_id"]: r["katz"]
             for r in katz_centrality(edges, iters=1, weight_col="w").collect()}
        assert w["b"] == 3.0
        assert w["a"] == 1.0 and w["x"] == 1.0


class TestKcorePeel:
    def test_peels_tail_keeps_clique(self, spark):
        from graphrag_toolkit_spark.operators.centrality import kcore_peel

        # 4-clique (every degree 3) + a pendant chain hanging off node 0
        edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        edges += [(0, 10), (10, 11)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = {r["node"]: r["degree"]
               for r in kcore_peel(df, k=3, rounds=3).collect()}
        assert out == {0: 3, 1: 3, 2: 3, 3: 3}  # chain fully peeled

    def test_zero_rounds_is_input_degrees(self, spark):
        from graphrag_toolkit_spark.operators.centrality import kcore_peel

        df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        out = {r["node"]: r["degree"] for r in kcore_peel(df, 5, rounds=0).collect()}
        assert out == {1: 1, 2: 2, 3: 1}


class TestPagerank:
    def test_hand_computed_one_round(self, spark):
        """a→b, a→c, b→c, one round: a gets only the base 0.15; b gets
        0.15 + 0.85·(1/2) = 0.575; c gets 0.15 + 0.85·(1/2 + 1) = 1.425
        (r6 grid: 150000, 575000, 1425000)."""
        from graphrag_toolkit_spark.operators.centrality import pagerank

        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
        )
        out = {r["node_id"]: r["pagerank"] for r in pagerank(edges, iters=1).collect()}
        assert out == {"a": 0.15, "b": 0.575, "c": 1.425}

    def test_partitioning_invariant(self, spark):
        """Scaled-integer floor arithmetic: repartitioning cannot move a
        score (the property the oracle hash-gate relies on)."""
        from graphrag_toolkit_spark.operators.centrality import pagerank

        edges = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(40)],
            "src string, dst string",
        ).distinct()
        a = {r["node_id"]: r["pagerank"] for r in pagerank(edges, iters=4).collect()}
        b = {r["node_id"]: r["pagerank"]
             for r in pagerank(edges.repartition(13), iters=4).collect()}
        assert a == b

    def test_zero_iters_is_ones(self, spark):
        from graphrag_toolkit_spark.operators.centrality import pagerank

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        out = {r["node_id"]: r["pagerank"] for r in pagerank(edges, iters=0).collect()}
        assert out == {"a": 1.0, "b": 1.0}


class TestHits:
    def test_hand_computed_one_iteration(self, spark):
        """a→b, a→c, b→c. Auth raw: b=10⁶ (from a), c=2·10⁶ (a+b), a=0;
        scale = ceil(2·10⁶/10⁶) = 2 → a6 = (0, .5, 1)·10⁶. Hub raw:
        a = auth(b)+auth(c) = 1.5·10⁶, b = auth(c) = 10⁶, c = 0;
        scale = 2 → h6 = (.75, .5, 0)·10⁶."""
        from graphrag_toolkit_spark.operators.centrality import hits

        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
        )
        out = {
            r["node_id"]: (r["hub"], r["authority"])
            for r in hits(edges, iters=1).collect()
        }
        assert out == {
            "a": (0.75, 0.0),
            "b": (0.5, 0.5),
            "c": (0.0, 1.0),
        }

    def test_partitioning_invariant(self, spark):
        """All-BIGINT floor arithmetic (incl. the max-rescale): scores
        cannot move under repartitioning — the hash-gate property."""
        from graphrag_toolkit_spark.operators.centrality import hits

        edges = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(40)],
            "src string, dst string",
        ).distinct()
        a = {
            r["node_id"]: (r["hub"], r["authority"])
            for r in hits(edges, iters=3).collect()
        }
        b = {
            r["node_id"]: (r["hub"], r["authority"])
            for r in hits(edges.repartition(13), iters=3).collect()
        }
        assert a == b

    def test_duplicate_edges_do_not_multiply(self, spark):
        from graphrag_toolkit_spark.operators.centrality import hits

        once = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string"
        )
        dup = once.unionByName(once)
        assert sorted(hits(once, iters=2).collect()) == sorted(
            hits(dup, iters=2).collect()
        )

    def test_star_separates_hub_from_authorities(self, spark):
        """Pure star a→{b,c,d}: a is the only hub, leaves are equal
        authorities with zero hub score."""
        from graphrag_toolkit_spark.operators.centrality import hits

        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("a", "d")], "src string, dst string"
        )
        out = {
            r["node_id"]: (r["hub"], r["authority"])
            for r in hits(edges, iters=2).collect()
        }
        assert out["a"][1] == 0.0 and out["a"][0] > 0
        assert out["b"] == out["c"] == out["d"]
        assert out["b"][0] == 0.0 and out["b"][1] > 0

    def test_iters_must_be_positive(self, spark):
        import pytest as _pytest

        from graphrag_toolkit_spark.operators.centrality import hits

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        with _pytest.raises(ValueError):
            hits(edges, iters=0)


class TestModularity:
    def _two_triangles(self, spark):
        edges = spark.createDataFrame(
            [
                ("a", "b"), ("b", "c"), ("c", "a"),
                ("x", "y"), ("y", "z"), ("z", "x"),
                ("c", "x"),
            ],
            "src string, dst string",
        )
        assign = spark.createDataFrame(
            [("a", "t1"), ("b", "t1"), ("c", "t1"),
             ("x", "t2"), ("y", "t2"), ("z", "t2")],
            "node_id string, community string",
        )
        return edges, assign

    def test_hand_computed_two_triangles(self, spark):
        """Two triangles + one bridge, communities = the triangles:
        m = 7, Σe_c = 6, degrees (2,2,3)×2 → Σd_c² = 49 + 49 = 98,
        Q = (4·7·6 − 98)/(4·49) = 70/196."""
        from graphrag_toolkit_spark.operators.centrality import modularity

        edges, assign = self._two_triangles(spark)
        r = modularity(edges, assign).head()
        assert (r["m"], r["n_communities"]) == (7, 2)
        assert (r["q_num"], r["q_den"]) == (70, 196)
        assert r["modularity"] == 70 / 196

    def test_single_community_is_zero(self, spark):
        from graphrag_toolkit_spark.operators.centrality import modularity

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        assign = spark.createDataFrame(
            [("a", "all"), ("b", "all"), ("c", "all")],
            "node_id string, community string",
        )
        r = modularity(edges, assign).head()
        assert r["q_num"] == 0 and r["modularity"] == 0.0

    def test_direction_and_duplicates_collapse(self, spark):
        """(a,b), (b,a) and repeats are ONE undirected edge; self-loops
        drop."""
        from graphrag_toolkit_spark.operators.centrality import modularity

        edges, assign = self._two_triangles(spark)
        noisy = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).unionByName(
            spark.createDataFrame([("a", "a")], "src string, dst string")
        )
        assert (
            modularity(edges, assign).collect()
            == modularity(noisy, assign).collect()
        )

    def test_unassigned_endpoints_excluded(self, spark):
        from graphrag_toolkit_spark.operators.centrality import modularity

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "ghost")], "src string, dst string"
        )
        assign = spark.createDataFrame(
            [("a", "c1"), ("b", "c1")], "node_id string, community string"
        )
        r = modularity(edges, assign).head()
        assert r["m"] == 1  # the ghost edge is outside the evaluated subgraph


class TestAssortativity:
    def test_star_is_perfectly_disassortative(self, spark):
        from graphrag_toolkit_spark.operators.centrality import (
            degree_assortativity,
        )

        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("a", "d")], "src string, dst string"
        )
        r = degree_assortativity(edges).head()
        assert r["assortativity"] == -1.0
        assert r["m"] == 6  # both orientations of 3 edges

    def test_regular_graph_is_null(self, spark):
        """Cycle: every degree 2 → zero variance → undefined."""
        from graphrag_toolkit_spark.operators.centrality import (
            degree_assortativity,
        )

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
        )
        assert degree_assortativity(edges).head()["assortativity"] is None

    def test_orientation_and_duplicates_invariant(self, spark):
        from graphrag_toolkit_spark.operators.centrality import (
            degree_assortativity,
        )

        edges = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
            "src string, dst string",
        )
        noisy = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        assert (
            degree_assortativity(edges).collect()
            == degree_assortativity(noisy).collect()
        )


class TestWeightedPagerank:
    def test_hand_computed_one_round(self, spark):
        """a→b (w=3), a→c (w=1): a's rank splits 3:1.
        b = 0.15 + 0.85·⌊3/4⌋₆ = 0.15 + 0.85·0.75 = 0.7875;
        c = 0.15 + 0.85·0.25 = 0.3625; a = 0.15."""
        from graphrag_toolkit_spark.operators.centrality import pagerank

        edges = spark.createDataFrame(
            [("a", "b", 3), ("a", "c", 1)], "src string, dst string, w long"
        )
        out = {
            r["node_id"]: r["pagerank"]
            for r in pagerank(edges, iters=1, weight_col="w").collect()
        }
        assert out == {"a": 0.15, "b": 0.7875, "c": 0.3625}

    def test_uniform_weights_match_unweighted(self, spark):
        from graphrag_toolkit_spark.operators.centrality import pagerank

        edges = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 3) % 20}") for i in range(40)],
            "src string, dst string",
        ).distinct()
        w1 = edges.withColumn("w", F.lit(1))
        a = {r["node_id"]: r["pagerank"] for r in pagerank(edges, iters=3).collect()}
        b = {
            r["node_id"]: r["pagerank"]
            for r in pagerank(w1, iters=3, weight_col="w").collect()
        }
        assert a == b

    def test_partitioning_invariant(self, spark):
        from graphrag_toolkit_spark.operators.centrality import pagerank

        edges = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 11 + 5) % 17}", 1 + i % 4) for i in range(50)],
            "src string, dst string, w long",
        )
        a = pagerank(edges, iters=3, weight_col="w").collect()
        b = pagerank(edges.repartition(13), iters=3, weight_col="w").collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestNeighborhoodSizes:
    def test_small_graph_estimates_near_truth(self, spark):
        """Path a-b-c-d-e: 1-hop balls have size 2 (ends) or 3 (middle);
        2-hop balls 3/4/5. With 64 registers and tiny cardinalities the
        HLL linear-counting estimate is within ~1 of truth."""
        from graphrag_toolkit_spark.operators.centrality import neighborhood_sizes

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
            "src string, dst string",
        )
        out = {
            r["node_id"]: (r["est_1hop"], r["est_2hop"])
            for r in neighborhood_sizes(edges).collect()
        }
        truth1 = {"a": 2, "b": 3, "c": 3, "d": 3, "e": 2}
        truth2 = {"a": 3, "b": 4, "c": 5, "d": 4, "e": 3}
        for n in truth1:
            assert abs(out[n][0] - truth1[n]) <= 1.0, (n, out[n])
            assert abs(out[n][1] - truth2[n]) <= 1.5, (n, out[n])
        # monotone: the 2-hop ball contains the 1-hop ball
        assert all(e2 >= e1 for e1, e2 in out.values())

    def test_partitioning_invariant(self, spark):
        from graphrag_toolkit_spark.operators.centrality import neighborhood_sizes

        edges = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 3) % 25}") for i in range(60)],
            "src string, dst string",
        ).filter(F.col("src") != F.col("dst"))
        a = sorted(map(tuple, neighborhood_sizes(edges).collect()))
        b = sorted(map(tuple, neighborhood_sizes(edges.repartition(11)).collect()))
        assert a == b

    def test_clique_saturates(self, spark):
        """In a 5-clique every 1-hop and 2-hop ball is the whole clique —
        the two estimates are identical per node."""
        from graphrag_toolkit_spark.operators.centrality import neighborhood_sizes

        nodes = ["a", "b", "c", "d", "e"]
        edges = spark.createDataFrame(
            [(x, y) for x in nodes for y in nodes if x < y],
            "src string, dst string",
        )
        for r in neighborhood_sizes(edges).collect():
            assert r["est_1hop"] == r["est_2hop"]


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        """Two 4-cliques joined by one bridge: after 3 rounds each clique
        shares one label and the two labels differ — and `modularity`
        scores the detected partition positive."""
        from graphrag_toolkit_spark.operators.centrality import (
            label_propagation,
            modularity,
        )

        c1, c2 = ["a1", "a2", "a3", "a4"], ["b1", "b2", "b3", "b4"]
        pairs = [
            (x, y) for grp in (c1, c2) for x in grp for y in grp if x < y
        ] + [("a1", "b1")]
        edges = spark.createDataFrame(pairs, "src string, dst string")
        out = {r["node_id"]: r["label"] for r in label_propagation(edges).collect()}
        assert len({out[n] for n in c1}) == 1
        assert len({out[n] for n in c2}) == 1
        assert out["a2"] != out["b2"]
        assign = spark.createDataFrame(
            [(n, lbl) for n, lbl in out.items()],
            "node_id string, community string",
        )
        q = modularity(edges, assign).head()["modularity"]
        assert q > 0.2

    def test_deterministic_across_partitionings(self, spark):
        from graphrag_toolkit_spark.operators.centrality import label_propagation

        edges = spark.createDataFrame(
            [(f"n{i}", f"n{(i * 7 + 3) % 30}") for i in range(80)],
            "src string, dst string",
        ).filter(F.col("src") != F.col("dst"))
        a = sorted(map(tuple, label_propagation(edges, iters=3).collect()))
        b = sorted(
            map(tuple, label_propagation(edges.repartition(9), iters=3).collect())
        )
        assert a == b

    def test_zero_iters_identity_labels(self, spark):
        from graphrag_toolkit_spark.operators.centrality import label_propagation

        edges = spark.createDataFrame([("a", "b")], "src string, dst string")
        out = {r["node_id"]: r["label"] for r in label_propagation(edges, iters=0).collect()}
        assert out == {"a": "a", "b": "b"}


class TestKtruss:
    def test_triangle_survives_tail_peels(self, spark):
        """Triangle a-b-c with a pendant edge c-d: at k=3 the pendant
        (support 0) peels in round 1; the triangle survives with every
        edge at support 1."""
        from graphrag_toolkit_spark.operators.centrality import ktruss_peel

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
            "src string, dst string",
        )
        out = {(r["a"], r["b"]): r["support"] for r in ktruss_peel(edges, 3).collect()}
        assert out == {("a", "b"): 1, ("a", "c"): 1, ("b", "c"): 1}

    def test_cascade_peel_needs_second_round(self, spark):
        """Two triangles sharing edge (a,b) plus a third triangle hanging
        off c-d: peeling the weak parts cascades — a fixed 1-round peel
        and a 2-round peel differ, pinning the synchronous-round
        semantics."""
        from graphrag_toolkit_spark.operators.centrality import ktruss_peel

        edges = spark.createDataFrame(
            [
                ("a", "b"), ("a", "c"), ("b", "c"),
                ("a", "d"), ("b", "d"),
                ("c", "e"), ("d", "e"),
            ],
            "src string, dst string",
        )
        r1 = set(
            (r["a"], r["b"]) for r in ktruss_peel(edges, 4, rounds=1).collect()
        )
        r2 = set(
            (r["a"], r["b"]) for r in ktruss_peel(edges, 4, rounds=2).collect()
        )
        assert r2 <= r1 and r2 != r1  # the second round peels more

    def test_k2_keeps_everything(self, spark):
        from graphrag_toolkit_spark.operators.centrality import ktruss_peel

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        assert ktruss_peel(edges, 2).count() == 2  # support >= 0 always


class TestLinkPrediction:
    @pytest.fixture(scope="class")
    def edges(self, spark):
        # path a-b-c-d plus triangle b-c-e: candidates at distance 2 exist
        return spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (2, 5), (3, 5)], "pa int, pb int"
        )

    def test_candidates_are_nonadjacent(self, spark, edges):
        from graphrag_toolkit_spark.operators.linkpred import link_prediction

        got = link_prediction(edges).collect()
        edge_set = {(r["pa"], r["pb"]) for r in edges.collect()}
        for r in got:
            assert (r["node_u"], r["node_v"]) not in edge_set
            assert r["node_u"] < r["node_v"]

    def test_scores_exact(self, spark, edges):
        from graphrag_toolkit_spark.operators.linkpred import link_prediction

        got = {
            (r["node_u"], r["node_v"]): r
            for r in link_prediction(edges).collect()
        }
        # pair (1,3): common neighbor {2}; deg(1)=1, deg(3)=3
        r = got[(1, 3)]
        assert r["common_neighbors"] == 1
        assert r["jaccard"] == 1 / (1 + 3 - 1)
        assert r["pref_attachment"] == 3
        # pair (4,5): common neighbor {3}
        assert got[(4, 5)]["common_neighbors"] == 1

    def test_min_common_filters(self, spark, edges):
        from graphrag_toolkit_spark.operators.linkpred import link_prediction

        for r in link_prediction(edges, min_common=2).collect():
            assert r["common_neighbors"] >= 2


class TestRandomWalks:
    @pytest.fixture(scope="class")
    def edges(self, spark):
        return spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4)], "pa int, pb int"
        )

    def test_walk_shape(self, spark, edges):
        from graphrag_toolkit_spark.operators.linkpred import random_walks

        got = random_walks(edges, walk_length=3).collect()
        starts = {r["start"] for r in got}
        assert starts == {1, 2, 3, 4}
        # one row per (start, step): 4 nodes x 4 steps (0..3)
        assert len(got) == 16
        assert {(r["start"], r["step"]) for r in got} == {
            (s, k) for s in starts for k in range(4)
        }

    def test_walk_follows_edges(self, spark, edges):
        from graphrag_toolkit_spark.operators.linkpred import random_walks

        und = {(r["pa"], r["pb"]) for r in edges.collect()}
        und |= {(b, a) for a, b in und}
        by_walk = {}
        for r in random_walks(edges, walk_length=3).collect():
            by_walk.setdefault(r["start"], {})[r["step"]] = r["node"]
        for start, steps in by_walk.items():
            assert steps[0] == start
            for k in range(1, 4):
                assert (steps[k - 1], steps[k]) in und

    def test_deterministic_across_partitionings(self, spark, edges):
        from graphrag_toolkit_spark.operators.linkpred import random_walks

        a = sorted(map(tuple, random_walks(edges).collect()))
        b = sorted(map(tuple, random_walks(edges.repartition(7)).collect()))
        assert a == b

    def test_salt_changes_walks(self, spark, edges):
        from graphrag_toolkit_spark.operators.linkpred import random_walks

        a = sorted(map(tuple, random_walks(edges, salt="walk").collect()))
        b = sorted(map(tuple, random_walks(edges, salt="other").collect()))
        assert a != b  # different hash stream picks different neighbors


class TestConductance:
    def test_two_cliques_one_bridge(self, spark):
        from graphrag_toolkit_spark.operators.centrality import conductance

        # two triangles joined by one bridge edge
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
            "src int, dst int",
        )
        assign = spark.createDataFrame(
            [(n, "a" if n <= 3 else "b") for n in range(1, 7)],
            "node_id int, community string",
        )
        rows = {r["community"]: r for r in conductance(edges, assign).collect()}
        # each community: vol = 2*3 inside + 1 bridge endpoint = 7, cut = 1
        for c in ("a", "b"):
            assert rows[c]["vol"] == 7
            assert rows[c]["cut"] == 1
            assert rows[c]["conductance"] == 1.0 / 7.0

    def test_edgeless_community_emits_null_row(self, spark):
        # docstring contract: a community with NO incident both-endpoints-
        # assigned edge is EMITTED with vol=0, cut=0, conductance NULL —
        # never silently absent from the report
        from graphrag_toolkit_spark.operators.centrality import conductance

        edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
        assign = spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "a"), (9, "lonely")],
            "node_id int, community string",
        )
        rows = {r["community"]: r for r in conductance(edges, assign).collect()}
        assert set(rows) == {"a", "lonely"}
        assert rows["lonely"]["vol"] == 0 and rows["lonely"]["cut"] == 0
        assert rows["lonely"]["conductance"] is None

    def test_partition_invariant(self, spark):
        from graphrag_toolkit_spark.operators.centrality import conductance

        edges = spark.createDataFrame(
            [(i, (i * 3) % 17 + 1) for i in range(1, 40)], "src int, dst int"
        )
        assign = spark.createDataFrame(
            [(n, n % 3) for n in range(0, 20)], "node_id int, community int"
        )
        a = sorted(map(tuple, conductance(edges, assign).collect()))
        b = sorted(
            map(tuple, conductance(edges.repartition(7), assign).collect())
        )
        assert a == b


class TestHarmonic2Hop:
    def test_path_graph_exact(self, spark):
        from graphrag_toolkit_spark.operators.centrality import harmonic_2hop

        # path 1-2-3-4: H2(1) = 1 (node 2) + 1/2 (node 3) = 1.5
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src int, dst int"
        )
        got = {r["node_id"]: r for r in harmonic_2hop(edges).collect()}
        assert got[1]["n1"] == 1 and got[1]["n2"] == 1
        assert got[1]["harmonic_2hop"] == 1.5
        assert got[2]["n1"] == 2 and got[2]["n2"] == 1
        assert got[2]["harmonic_2hop"] == 2.5

    def test_distance_one_excluded_from_two(self, spark):
        from graphrag_toolkit_spark.operators.centrality import harmonic_2hop

        # triangle: everyone is distance 1 from everyone — n2 must be 0
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3)], "src int, dst int"
        )
        for r in harmonic_2hop(edges).collect():
            assert r["n1"] == 2 and r["n2"] == 0
