"""Cross-batch stateful streaming operators (applyInPandasWithState):
first-seen dedup and running counters, checked against batch equivalents."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from graphrag_toolkit_spark.streaming import stateful
from graphrag_toolkit_spark.streaming.ingest import read_jsonl_stream

SCHEMA = "id long, text_hash string, event_type string, value double"

# batch 1: ids 0-3; batch 2: ids 10-13 — every duplicate hash in batch 2 has
# a HIGHER id, so streaming first-seen == batch global min
BATCH1 = [
    {"id": 0, "text_hash": "h_a", "event_type": "click", "value": 1.5},
    {"id": 1, "text_hash": "h_b", "event_type": "click", "value": 2.0},
    {"id": 2, "text_hash": "h_a", "event_type": "view", "value": 0.5},
    {"id": 3, "text_hash": "h_c", "event_type": "view", "value": 1.0},
]
BATCH2 = [
    {"id": 10, "text_hash": "h_a", "event_type": "click", "value": 4.0},  # dup
    {"id": 11, "text_hash": "h_d", "event_type": "view", "value": 3.0},   # new
    {"id": 12, "text_hash": "h_b", "event_type": "click", "value": 1.0},  # dup
]


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_src")
    for i, batch in enumerate([BATCH1, BATCH2]):
        p = d / f"batch{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        # distinct mtimes pin micro-batch order (oldest first)
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(d)


def _run(stream_df, name, mode):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


class TestDedupStream:
    def test_first_seen_only_across_batches(self, spark, stream_dir):
        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(stateful.dedup_stream(src), "dedup_out", "append")
        got = {
            r["text_hash"]: r["first_id"]
            for r in spark.sql("SELECT * FROM dedup_out").collect()
        }
        # one row per distinct hash, surviving id = first-seen (== global min here)
        batch = stateful.batch_dedup_reference(
            spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
        )
        want = {r["text_hash"]: r["first_id"] for r in batch.collect()}
        assert got == want
        assert got["h_a"] == 0 and got["h_d"] == 11


class TestDedupStreamEventTime:
    def test_within_watermark_drops_and_state_ages_out(
        self, spark, tmp_path_factory
    ):
        """dropDuplicatesWithinWatermark hard guarantees: a duplicate inside
        the event-time delay is dropped; once the watermark passes the first
        occurrence's expiry the state is evicted and the key re-emits —
        bounded state following the DATA clock."""
        schema = "id long, text_hash string, ts timestamp"
        batches = [
            [{"id": 0, "text_hash": "x", "ts": "2024-01-01 10:00:00"},
             {"id": 1, "text_hash": "y", "ts": "2024-01-01 10:02:00"}],
            # x again 5 min later: inside the 10-min delay -> DROPPED
            [{"id": 2, "text_hash": "x", "ts": "2024-01-01 10:05:00"},
             {"id": 3, "text_hash": "z", "ts": "2024-01-01 10:06:00"}],
            # two batches advancing event time far past x's expiry (10:10)
            # — the watermark that evicts state is the one COMMITTED by a
            # prior batch, so eviction needs a watermark-advancing batch
            # BETWEEN the old occurrence and the re-emission
            [{"id": 4, "text_hash": "w", "ts": "2024-01-01 13:00:00"}],
            [{"id": 5, "text_hash": "v", "ts": "2024-01-01 15:00:00"}],
            # x after eviction: treated as first-seen again -> KEPT
            [{"id": 6, "text_hash": "x", "ts": "2024-01-01 15:05:00"}],
        ]
        d = tmp_path_factory.mktemp("etdedup_src")
        for i, batch in enumerate(batches):
            p = d / f"b{i}.jsonl"
            p.write_text("\n".join(json.dumps(r) for r in batch))
            os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
        src = read_jsonl_stream(spark, str(d), schema, max_files_per_trigger=1)
        _run(
            stateful.dedup_stream_event_time(
                src, hash_col="text_hash", ts_col="ts", watermark="10 minutes"
            ),
            "etdedup_out",
            "append",
        )
        got = sorted(
            (r["id"], r["text_hash"])
            for r in spark.sql("SELECT * FROM etdedup_out").collect()
        )
        assert got == [
            (0, "x"), (1, "y"), (3, "z"), (4, "w"), (5, "v"), (6, "x"),
        ]


class TestRunningCounts:
    def test_counters_accumulate_across_batches(self, spark, stream_dir):
        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(stateful.running_counts_stream(src), "counts_out", "update")
        rows = spark.sql("SELECT * FROM counts_out").collect()
        # update mode: keep the LAST emission per key
        last = {}
        for r in rows:
            last[r["event_type"]] = (r["n"], r["total"])
        assert last["click"] == (4, pytest.approx(8.5))
        assert last["view"] == (3, pytest.approx(4.5))


DOC_SCHEMA = "doc_id long, text string"

# batch 1 plants a near-dup pair (1,2); batch 2 adds doc 10 near-dup of 1 —
# the (1,10)/(2,10) pairs can only emerge CROSS-batch from bucket state
DOCS_B1 = [
    {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog tonight"},
    {"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog tonight"},
    {"doc_id": 3, "text": "completely different content about spark engines here"},
]
DOCS_B2 = [
    {"doc_id": 10, "text": "the quick brown fox jumps over the lazy dog today"},
    {"doc_id": 11, "text": "unrelated text with no shared shingles at all ok"},
]


@pytest.fixture(scope="module")
def doc_stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("doc_stream_src")
    for i, batch in enumerate([DOCS_B1, DOCS_B2]):
        p = d / f"docs{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(d)


class TestNeardupCandidatesStream:
    def test_stream_equals_batch_candidates(self, spark, doc_stream_dir):
        """Distinct streamed candidate pairs == the batch LSH pair set on
        the same corpus, including pairs that only exist across batches."""
        from graphrag_toolkit_spark.operators import dedup

        src = read_jsonl_stream(
            spark, doc_stream_dir, DOC_SCHEMA, max_files_per_trigger=1
        )
        _run(
            stateful.neardup_candidates_stream(src, "text", "doc_id"),
            "neardup_cand_out",
            "append",
        )
        got = {
            (r["id_a"], r["id_b"])
            for r in spark.sql("SELECT * FROM neardup_cand_out").collect()
        }
        docs = spark.createDataFrame(DOCS_B1 + DOCS_B2, DOC_SCHEMA)
        sh = dedup.shingles(docs, "text", "doc_id", k=2)
        want = {
            (r["id_a"], r["id_b"])
            for r in dedup.lsh_bucket_pairs(
                dedup.minhash_signatures(sh, 12), 12, 6
            ).collect()
        }
        assert got == want
        assert (1, 2) in got                      # within-batch pair
        assert (1, 10) in got or (2, 10) in got   # cross-batch pair

    def test_state_ttl_ages_out_idle_buckets(self, spark, tmp_path):
        """state_ttl_ms contract: a bucket idle past the TTL is dropped, so
        docs arriving after the sweep pair only against the retained
        horizon. Three micro-batches with idle gaps > TTL between them: B1
        plants (1,2); B2 (unrelated identical pair, its (5,6) output is the
        progress sentinel) arrives after B1's buckets expired; B3 re-sends
        doc 1's text as docs 10/11 — with NoTimeout those would pair with
        1 and 2, with TTL they must pair only with each other. Output must
        equal the batch twin unioned over the retained horizons.

        NOTE: with ProcessingTimeTimeout the engine triggers empty
        micro-batches indefinitely to service future timeouts, so
        ``processAllAvailable()`` NEVER reaches quiescence — the test polls
        the memory sink for sentinel pairs instead (the same reason the
        production pattern is a real trigger interval, not availableNow)."""
        import time

        from graphrag_toolkit_spark.operators import dedup

        d = tmp_path / "ttl_src"
        d.mkdir()
        near1 = "the quick brown fox jumps over the lazy dog tonight"
        unrel = "totally unrelated spark engine chatter for the sweep"
        b1 = [{"doc_id": 1, "text": near1}, {"doc_id": 2, "text": near1}]
        b2 = [{"doc_id": 5, "text": unrel}, {"doc_id": 6, "text": unrel}]
        b3 = [{"doc_id": 10, "text": near1}, {"doc_id": 11, "text": near1}]

        src = read_jsonl_stream(spark, str(d), DOC_SCHEMA, max_files_per_trigger=1)
        q = (
            stateful.neardup_candidates_stream(
                src, "text", "doc_id", state_ttl_ms=700
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("neardup_ttl_out")
            .start()
        )

        def wait_for(pair, deadline=120.0):
            t0 = time.time()
            got = set()
            while time.time() - t0 < deadline:
                got = {
                    (r["id_a"], r["id_b"])
                    for r in spark.sql("SELECT * FROM neardup_ttl_out").collect()
                }
                if pair in got:
                    return got
                time.sleep(0.3)
            raise AssertionError(f"{pair} never appeared; have {got}")

        try:
            (d / "b0.jsonl").write_text("\n".join(json.dumps(r) for r in b1))
            wait_for((1, 2))
            time.sleep(2.5)  # idle past the 700 ms TTL: B1 buckets sweep
            (d / "b1.jsonl").write_text("\n".join(json.dumps(r) for r in b2))
            wait_for((5, 6))
            time.sleep(2.5)  # B2 buckets sweep too
            (d / "b2.jsonl").write_text("\n".join(json.dumps(r) for r in b3))
            got = wait_for((10, 11))
        finally:
            q.stop()

        # batch twin on each retained horizon (every batch alone)
        def batch_pairs(rows):
            docs = spark.createDataFrame(rows, DOC_SCHEMA)
            sh = dedup.shingles(docs, "text", "doc_id", k=2)
            return {
                (r["id_a"], r["id_b"])
                for r in dedup.lsh_bucket_pairs(
                    dedup.minhash_signatures(sh, 12), 12, 6
                ).collect()
            }

        assert got == batch_pairs(b1) | batch_pairs(b2) | batch_pairs(b3)
        # the aged-out cross-horizon pairs must NOT appear
        assert not {(1, 10), (1, 11), (2, 10), (2, 11)} & got


class TestNarrowSignatures:
    def test_narrow_equals_explode_signatures(self, spark):
        """minhash_signature_array (zero-shuffle) must equal the
        explode+groupBy signature pipeline value-for-value."""
        from graphrag_toolkit_spark.operators import dedup

        docs = spark.createDataFrame(DOCS_B1 + DOCS_B2, DOC_SCHEMA)
        sig = dedup.minhash_signature_array(F.col("text"), k=2, num_hashes=12)
        narrow = {
            r["id"]: [r[f"mh{i}"] for i in range(12)]
            for r in docs.select(
                F.col("doc_id").alias("id"),
                *[F.element_at(sig, i + 1).alias(f"mh{i}") for i in range(12)],
            ).collect()
        }
        sh = dedup.shingles(docs, "text", "doc_id", k=2)
        wide = {
            r["id"]: [r[f"mh{i}"] for i in range(12)]
            for r in dedup.minhash_signatures(sh, 12).collect()
        }
        assert narrow == wide


class TestKmvStream:
    def test_stream_estimate_equals_batch_sketch(self, spark, stream_dir):
        """After all micro-batches, the per-key streaming estimate is
        bit-identical to the batch KMV over the union of rows — the
        lossless-merge property, exercised through real micro-batches."""
        from graphrag_toolkit_spark.operators import sketch

        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(
            stateful.kmv_distinct_stream(src, "event_type", "text_hash", k=3),
            "kmv_out",
            "update",
        )
        # update mode keeps one row per (key, batch); last batch wins
        rows = spark.sql("SELECT * FROM kmv_out").collect()
        latest: dict[str, float] = {}
        for r in rows:  # memory sink appends in batch order
            latest[r["event_type"]] = r["distinct_est"]

        all_rows = spark.createDataFrame(
            [*BATCH1, *BATCH2],
            "id long, text_hash string, event_type string, value double",
        )
        batch = {
            r["event_type"]: r["distinct_est"]
            for r in sketch.kmv_distinct(
                all_rows, ["event_type"], "text_hash", k=3
            ).collect()
        }
        assert latest == batch
        # k=3 and 'view' saw 3 distinct hashes (h_a,h_c,h_d) -> estimator leg
        assert latest["view"] != 3.0 or latest["click"] <= 3.0


class TestHllStream:
    def test_stream_estimate_equals_batch_hll(self, spark, stream_dir):
        """Max-merge is lossless: after all micro-batches the per-key
        streaming HLL estimate is bit-identical to batch `hll_estimate`
        over the union of rows (the estimator arithmetic — exact
        power-of-two harmonic terms, shared α, HALF_UP-rounded ln — is
        replicated precisely in the state fold)."""
        from graphrag_toolkit_spark.operators import sketch

        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(
            stateful.hll_distinct_stream(src, "event_type", "text_hash"),
            "hll_out",
            "update",
        )
        rows = spark.sql("SELECT * FROM hll_out").collect()
        latest: dict[str, tuple] = {}
        for r in rows:  # memory sink appends in batch order; last batch wins
            latest[r["event_type"]] = (r["distinct_est"], r["zero_registers"])

        all_rows = spark.createDataFrame(
            [*BATCH1, *BATCH2],
            "id long, text_hash string, event_type string, value double",
        )
        for et in ("click", "view"):
            est = sketch.hll_estimate(
                sketch.hll_registers(
                    all_rows.filter(F.col("event_type") == et), "text_hash"
                )
            ).collect()[0]
            assert latest[et] == (est["distinct_est"], est["zero_registers"]), et
        # tiny cardinalities exercise the linear-counting branch
        assert latest["view"][1] > 0


class TestEnrichStream:
    def test_stream_static_join_equals_batch(self, spark, stream_dir):
        from graphrag_toolkit_spark.streaming.ingest import enrich_stream

        dim = spark.createDataFrame(
            [("click", 1.5), ("view", 0.5)], "event_type string, weight double"
        )
        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(
            enrich_stream(src, dim, "event_type").select(
                "id", "event_type", "weight"
            ),
            "enrich_out",
            "append",
        )
        got = {
            r["id"]: r["weight"]
            for r in spark.sql("SELECT * FROM enrich_out").collect()
        }
        batch = spark.createDataFrame(
            [*BATCH1, *BATCH2],
            "id long, text_hash string, event_type string, value double",
        ).join(dim, "event_type", "left")
        want = {r["id"]: r["weight"] for r in batch.collect()}
        assert got == want
        assert len(got) == len(BATCH1) + len(BATCH2)


class TestHistogramStream:
    def test_stream_histogram_equals_batch(self, spark, stream_dir):
        """After all micro-batches the per-key streaming histogram equals
        the batch histogram over the union of rows — the exact-integer
        mergeability contract, through real micro-batches."""
        from graphrag_toolkit_spark.operators import sketch

        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(
            stateful.histogram_stream(src, "event_type", "value", 0.0, 10.0, 5),
            "hist_out",
            "update",
        )
        rows = spark.sql("SELECT * FROM hist_out").collect()
        # memory sink appends per batch in order; the last emission for a
        # (key, bucket) cell is the final running count
        final: dict[tuple, int] = {}
        for r in rows:
            final[(r["event_type"], r["bucket"])] = r["n"]

        all_rows = spark.createDataFrame(
            [*BATCH1, *BATCH2],
            "id long, text_hash string, event_type string, value double",
        )
        batch = {}
        for key_row in all_rows.select("event_type").distinct().collect():
            k = key_row["event_type"]
            h = sketch.histogram_sketch(
                all_rows.filter(F.col("event_type") == k), "value", 0.0, 10.0, 5
            )
            for r in h.collect():
                batch[(k, r["bucket"])] = r["n"]
        assert final == batch


class TestStreamStreamJoin:
    def test_interval_join_equals_batch(self, spark, tmp_path):
        """Watermarked stream-stream interval join (clicks ⋈ purchases
        within 10 min by user) through real micro-batches equals the batch
        interval join over the unioned rows — including a pair arriving in
        DIFFERENT micro-batches (the buffered-state case)."""
        import json as _json
        import os as _os

        from graphrag_toolkit_spark.streaming.ingest import (
            read_jsonl_stream,
            stream_stream_interval_join,
        )

        t0 = "2024-01-01T10:{m:02d}:00.000Z"

        def rows(*specs):
            return [
                {"user": u, "ts": t0.format(m=m), "typ": typ}
                for u, m, typ in specs
            ]

        b1 = rows(("u1", 0, "click"), ("u1", 5, "purchase"),
                  ("u2", 1, "click"))
        # u2's purchase lands in batch 2, 9 min after its batch-1 click
        # (inside the lag, so the click must still be buffered in state);
        # u1's second click is 20 min before this purchase -> excluded
        b2 = rows(("u2", 10, "purchase"), ("u1", 30, "click"),
                  ("u1", 45, "purchase"))
        d = tmp_path / "ssj"
        d.mkdir()
        for i, batch in enumerate([b1, b2]):
            p = d / f"b{i}.jsonl"
            p.write_text("\n".join(_json.dumps(r) for r in batch))
            _os.utime(p, (1_700_000_000 + i * 60,) * 2)

        schema = "user string, ts timestamp, typ string"
        src = read_jsonl_stream(spark, str(d), schema, max_files_per_trigger=1)
        joined = stream_stream_interval_join(
            src.filter(F.col("typ") == "click"),
            src.filter(F.col("typ") == "purchase"),
            key="user", ts_col="ts", max_lag="10 minutes",
        )
        _run(joined, "ssj_out", "append")
        got = {
            (r["user"], r["l_ts"].minute, r["r_ts"].minute, r["lag_us"])
            for r in spark.sql("SELECT * FROM ssj_out").collect()
        }
        # batch twin: plain interval self-join over all rows
        all_df = spark.createDataFrame([*b1, *b2]).select(
            "user", F.col("ts").cast("timestamp").alias("ts"), "typ"
        )
        c = all_df.filter(F.col("typ") == "click").select(
            "user", F.col("ts").alias("l_ts")
        )
        p = all_df.filter(F.col("typ") == "purchase").select(
            F.col("user").alias("ru"), F.col("ts").alias("r_ts")
        )
        exp = {
            (r["user"], r["l_ts"].minute, r["r_ts"].minute, r["lag_us"])
            for r in c.join(
                p,
                (F.col("user") == F.col("ru"))
                & (F.col("l_ts") <= F.col("r_ts"))
                & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 10 minutes")),
            ).select(
                "user", "l_ts", "r_ts",
                (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_us"),
            ).collect()
        }
        assert got == exp
        assert ("u2", 1, 10, 9 * 60 * 1_000_000) in got  # cross-batch pair
        assert all(lag <= 10 * 60 * 1_000_000 for _, _, _, lag in got)


class TestStreamingViewMaintenance:
    def test_streamed_changelog_equals_batch_recompute(self, spark, tmp_path):
        """A changelog split across micro-batches maintains the fact ⋈ dim
        view to exactly the state a batch recompute over the full applied
        changelog produces — streaming IVM == batch IVM == recompute."""
        import json as _json
        import os as _os

        from graphrag_toolkit_spark.sources.sink import apply_changelog
        from graphrag_toolkit_spark.streaming.ingest import (
            maintain_join_view_stream,
            read_jsonl_stream,
        )

        ch_schema = "key long, ck long, price double, seq long, op string"
        b1 = [
            {"key": 1, "ck": 30, "price": 9.0, "seq": 1, "op": "U"},
            {"key": 3, "ck": 20, "price": 7.0, "seq": 1, "op": "I"},
        ]
        b2 = [
            {"key": 2, "ck": None, "price": None, "seq": 2, "op": "D"},
            {"key": 1, "ck": 10, "price": 2.5, "seq": 3, "op": "U"},  # re-update
        ]
        d = tmp_path / "cdc"
        d.mkdir()
        for i, batch in enumerate([b1, b2]):
            p = d / f"b{i}.jsonl"
            p.write_text("\n".join(_json.dumps(r) for r in batch))
            _os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

        dim = spark.createDataFrame(
            [(10, "A"), (20, "B"), (30, "C")], "ck long, dim_val string"
        )
        base = spark.createDataFrame(
            [(1, 10, 5.0), (2, 20, 6.0)], "key long, ck long, price double"
        )
        view = {"df": base.join(dim, "ck").localCheckpoint(eager=True)}
        src = read_jsonl_stream(spark, str(d), ch_schema, max_files_per_trigger=1)
        q = maintain_join_view_stream(src, view, dim, "key", "ck")
        q.processAllAvailable()
        q.stop()

        all_changes = spark.createDataFrame([*b1, *b2], ch_schema)
        want = apply_changelog(base, all_changes, "key").join(dim, "ck")
        cols = ["key", "ck", "price", "dim_val"]
        assert sorted(map(tuple, view["df"].select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        )
        # and the final state is concretely right: key 1 re-pointed to dim
        # 10 at 2.5, key 2 gone, key 3 inserted
        got = {r["key"]: (r["ck"], r["price"]) for r in view["df"].collect()}
        assert got == {1: (10, 2.5), 3: (20, 7.0)}


BUDGET_SCHEMA = "doc_id long, source string, n_tokens long"

# ascending doc_ids across batches: arrival order == id order, so the
# streaming admission must equal batch budget_fill ordered by doc_id
BUDGET_B1 = [
    {"doc_id": 1, "source": "a", "n_tokens": 40},
    {"doc_id": 2, "source": "a", "n_tokens": 40},
    {"doc_id": 3, "source": "b", "n_tokens": 90},
]
BUDGET_B2 = [
    {"doc_id": 10, "source": "a", "n_tokens": 40},  # overflows a's 100
    {"doc_id": 11, "source": "a", "n_tokens": 10},  # after overflow: rejected
    {"doc_id": 12, "source": "b", "n_tokens": 10},  # fills b exactly to 100
]
BUDGETS = {"a": 100, "b": 100}


@pytest.fixture(scope="module")
def budget_stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("budget_stream_src")
    for i, batch in enumerate([BUDGET_B1, BUDGET_B2]):
        p = d / f"docs{i}.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in batch))
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    return str(d)


class TestBudgetAdmissionStream:
    def test_stream_equals_batch_budget_fill(self, spark, budget_stream_dir):
        src = read_jsonl_stream(
            spark, budget_stream_dir, BUDGET_SCHEMA, max_files_per_trigger=1
        )
        _run(
            stateful.budget_admission_stream(src, BUDGETS),
            "budget_out",
            "append",
        )
        got = {
            (r["source"], r["doc_id"]): r["cum_size"]
            for r in spark.sql("SELECT * FROM budget_out").collect()
        }
        # a: 40+40 admitted (cum 80); doc 10 overflows (120) and doc 11 is
        # ALSO rejected (prefix semantics: cum only grows). b: 90 then +10.
        assert got == {("a", 1): 40, ("a", 2): 80, ("b", 3): 90, ("b", 12): 100}

        from graphrag_toolkit_spark.operators.sampling import budget_fill

        rows = spark.createDataFrame(
            [tuple(r.values()) for r in BUDGET_B1 + BUDGET_B2], BUDGET_SCHEMA
        )
        budgets_df = spark.createDataFrame(
            list(BUDGETS.items()), "source string, budget long"
        )
        batch = {
            (r["source"], r["doc_id"]): r["cum_size"]
            for r in budget_fill(
                rows, "source", "n_tokens", budgets_df, [F.asc("doc_id")]
            ).collect()
        }
        assert got == batch


class TestRunningMoments:
    def test_stream_equals_batch_moments(self, spark, stream_dir):
        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(
            stateful.running_moments_stream(src, "event_type", "value"),
            "moments_out",
            "update",
        )
        rows = spark.sql("SELECT * FROM moments_out").collect()
        last = {}
        for r in rows:  # update mode: last emission per key wins
            last[r["event_type"]] = (r["n"], r["s1"], r["s2"], r["mean"], r["variance"])
        # batch reference: same integer-scaled arithmetic over the union
        batch = (
            spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
            .select(
                "event_type",
                F.round(F.col("value") * 100).cast("long").alias("v"),
            )
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("s1"),
                F.sum(F.col("v") * F.col("v")).alias("s2"),
            )
            .collect()
        )
        for r in batch:
            n, s1, s2 = r["n"], r["s1"], r["s2"]
            want = (n, s1, s2, s1 / (100.0 * n), (n * s2 - s1 * s1) / (10_000.0 * n * n))
            assert last[r["event_type"]] == want  # bit-exact, not approx

    def test_null_value_row_skipped_not_crash(self, spark, tmp_path):
        # a NULL value used to arrive in pandas as NaN and int(NaN) killed
        # the whole streaming query; the JVM-side isNotNull filter must
        # drop the row and keep every non-null row's moments exact
        rows = [
            {"id": 0, "text_hash": "h", "event_type": "m", "value": 1.0},
            {"id": 1, "text_hash": "h", "event_type": "m", "value": None},
            {"id": 2, "text_hash": "h", "event_type": "m", "value": 3.0},
        ]
        p = tmp_path / "nulls.jsonl"
        p.write_text("\n".join(json.dumps(r) for r in rows))
        src = read_jsonl_stream(spark, str(tmp_path), SCHEMA)
        _run(
            stateful.running_moments_stream(src, "event_type", "value"),
            "moments_null_out",
            "update",
        )
        rows_out = spark.sql("SELECT * FROM moments_null_out").collect()
        last = {r["event_type"]: r for r in rows_out}
        assert last["m"]["n"] == 2            # NULL row contributed nothing
        assert last["m"]["s1"] == 100 + 300
        assert last["m"]["mean"] == 2.0


class TestReservoirStream:
    def test_stream_sample_equals_batch_order_statistic(self, spark, stream_dir):
        """Bottom-k (hash, id) is a mergeable semilattice, so the running
        reservoir after all micro-batches must equal
        sampling.order_statistic_sample over the union EXACTLY — same ids,
        same order."""
        from graphrag_toolkit_spark.operators import sampling

        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(
            stateful.reservoir_sample_stream(src, "id", k=5),
            "reservoir_out",
            "update",
        )
        rows = spark.sql("SELECT * FROM reservoir_out").collect()
        final = rows[-1]  # update mode: last emission is the full-union state
        batch = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
        h = sampling.hash_value(F.col("id"))
        want = [
            r["id"]
            for r in batch.select("id")
            .distinct()
            .orderBy(h.asc(), F.col("id").asc())
            .limit(5)
            .collect()
        ]
        assert list(final["ids"]) == want
        assert final["n_kept"] == 5
        # intermediate emission (batch 1 only) must also equal the batch
        # operator over batch-1 rows alone — every prefix is a valid sample
        first = rows[0]
        b1 = spark.createDataFrame(BATCH1, SCHEMA)
        want1 = [
            r["id"]
            for r in b1.select("id").distinct()
            .orderBy(h.asc(), F.col("id").asc())
            .limit(5)
            .collect()
        ]
        assert list(first["ids"]) == want1

    def test_non_integral_id_rejected_at_construction(self, spark, stream_dir):
        """Round-7 advice: a string id casts to NULL long and the Python
        fold then dies INSIDE applyInPandasWithState at runtime. The
        operator must reject non-integral ids when the plan is built."""
        src = read_jsonl_stream(spark, stream_dir, SCHEMA)
        with pytest.raises(TypeError, match="integral id column"):
            stateful.reservoir_sample_stream(src, "text_hash", k=3)

    def test_per_key_reservoirs(self, spark, stream_dir):
        from graphrag_toolkit_spark.operators import sampling

        src = read_jsonl_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
        _run(
            stateful.reservoir_sample_stream(src, "id", k=3, key_col="event_type"),
            "reservoir_key_out",
            "update",
        )
        rows = spark.sql("SELECT * FROM reservoir_key_out").collect()
        last = {}
        for r in rows:  # memory sink appends in batch order; last wins
            last[r["event_type"]] = list(r["ids"])
        batch = spark.createDataFrame(BATCH1 + BATCH2, SCHEMA)
        h = sampling.hash_value(F.col("id"))
        for et, ids in last.items():
            want = [
                r["id"]
                for r in batch.filter(F.col("event_type") == et)
                .select("id").distinct()
                .orderBy(h.asc(), F.col("id").asc())
                .limit(3)
                .collect()
            ]
            assert ids == want, et
