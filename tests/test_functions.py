"""Unit tests: scalar text functions, ids, vector math (SURVEY §2.8, §1.4)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from graphrag_toolkit_spark import ids
from graphrag_toolkit_spark.functions import (
    cosine_similarity,
    dot,
    l2_norm,
    label_from,
    relationship_name,
    search_string,
    statement_text,
    unit_normalize,
    verbalize_fact,
)
from graphrag_toolkit_spark.functions.text import word_grams
from graphrag_toolkit_spark.session import load


def one(spark, expr, **cols):
    df = spark.createDataFrame([cols])
    return df.select(expr.alias("out")).head()[0]


class TestText:
    def test_search_string(self, spark):
        assert one(spark, search_string(F.col("x")), x="  Hello, World_Wide!! ") == "hello world wide"

    def test_search_string_collapses_space(self, spark):
        assert one(spark, search_string(F.col("x")), x="a -- b") == "a b"

    def test_label_from(self, spark):
        assert one(spark, label_from(F.col("x")), x="the BIG--bad wolf") == "The Big Bad Wolf"

    def test_relationship_name(self, spark):
        assert one(spark, relationship_name(F.col("x")), x="works at / for") == "WORKS_AT_FOR"

    def test_relationship_name_trims_underscores(self, spark):
        assert one(spark, relationship_name(F.col("x")), x="(owns)") == "OWNS"

    def test_verbalize_fact(self, spark):
        out = one(
            spark,
            verbalize_fact(F.col("s"), F.col("c"), F.col("p"), F.col("o")),
            s="Alice", c="Person", p="WORKS_AT", o="Acme",
        )
        assert out == "Alice [Person] WORKS_AT Acme"

    def test_statement_text_with_details(self, spark):
        out = one(
            spark,
            statement_text(F.col("v"), F.col("d")),
            v="stmt", d=["d1", "d2"],
        )
        assert out == "stmt\n\nd1\nd2"

    def test_statement_text_empty_details(self, spark):
        df = spark.createDataFrame([("stmt", [])], "v string, d array<string>")
        out = df.select(statement_text(F.col("v"), F.col("d")).alias("out")).head()[0]
        assert out == "stmt"

    def test_word_grams_edges(self, spark):
        # split("") gives [""]; then fewer than n tokens, exactly n, n + 1
        df = spark.createDataFrame([("",), ("a b",), ("a b c",), ("a b c d",)], "t string")
        out = df.select(word_grams(F.split(F.col("t"), " "), 3).alias("g"))
        assert out.schema["g"].dataType.simpleString() == "array<string>"
        assert [r["g"] for r in out.collect()] == [[], [], ["a b c"], ["a b c", "b c d"]]
        assert one(spark, word_grams(F.split(F.col("t"), " "), 2), t="") == []

    def test_word_grams_equal_slice_form(self, spark, sf_dir):
        """Equal to the former ``F.slice`` builder on every fixture document."""
        docs = load(spark, sf_dir, "documents")
        toks = F.split(F.lower(F.col("text")), r"\s+")
        for n in (2, 3, 8):
            sliced = F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
            grams = word_grams(toks, n)
            row = docs.agg(
                F.sum(F.size(grams)).alias("n_grams"),
                F.count_if(~grams.eqNullSafe(sliced)).alias("n_diff"),
            ).head()
            assert row["n_grams"] > 0 and row["n_diff"] == 0, (n, row)


class TestIds:
    def test_source_id_shape(self, spark):
        text, meta = "doc body", "k=v"
        out = one(spark, ids.source_id(F.col("t"), F.col("m")), t=text, m=meta)
        exp = (
            "aws::"
            + hashlib.md5(text.encode()).hexdigest()[:8]
            + ":"
            + hashlib.md5(meta.encode()).hexdigest()[:4]
        )
        assert out == exp

    def test_chunk_id_prefixed_by_source(self, spark):
        out = one(
            spark,
            ids.chunk_id(F.lit("aws::ab:cd"), F.col("t"), F.col("m")),
            t="text", m="meta",
        )
        assert out.startswith("aws::ab:cd:")
        assert len(out.split(":")[-1]) == 8

    def test_node_id_deterministic_and_distinct(self, spark):
        a = one(spark, ids.node_id("topic", F.col("x")), x="v1")
        b = one(spark, ids.node_id("topic", F.col("x")), x="v1")
        c = one(spark, ids.node_id("statement", F.col("x")), x="v1")
        assert a == b and a != c and len(a) == 32  # full md5: no birthday collisions at scale

    def test_node_id_separator_prevents_collision(self, spark):
        ab_c = one(spark, ids.node_id("t", F.col("x"), F.col("y")), x="ab", y="c")
        a_bc = one(spark, ids.node_id("t", F.col("x"), F.col("y")), x="a", y="bc")
        assert ab_c != a_bc


class TestVector:
    def test_dot(self, spark):
        out = one(spark, dot(F.col("a"), F.col("b")), a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])
        assert out == pytest.approx(32.0)

    def test_norm(self, spark):
        assert one(spark, l2_norm(F.col("a")), a=[3.0, 4.0]) == pytest.approx(5.0)

    def test_cosine_bounds(self, spark):
        out = one(spark, cosine_similarity(F.col("a"), F.col("b")), a=[1.0, 0.0], b=[0.0, 1.0])
        assert out == pytest.approx(0.0)
        out = one(spark, cosine_similarity(F.col("a"), F.col("b")), a=[1.0, 1.0], b=[2.0, 2.0])
        assert out == pytest.approx(1.0)

    def test_unit_normalize(self, spark):
        out = one(spark, unit_normalize(F.col("a")), a=[3.0, 4.0])
        assert math.isclose(sum(x * x for x in out), 1.0, rel_tol=1e-12)


class TestJlProject:
    def test_linear_and_deterministic(self, spark):
        """proj(a+b) = proj(a) + proj(b) (projection is linear in exact
        decimal arithmetic) and repeated evaluation is bit-identical."""
        from graphrag_toolkit_spark.functions.vector import jl_project

        a = [0.25 * (i % 5) for i in range(8)]
        b = [0.5 - 0.125 * (i % 3) for i in range(8)]
        ab = [x + y for x, y in zip(a, b)]
        df = spark.createDataFrame([{"v": a, "w": b, "s": ab}])
        row = df.select(
            jl_project(F.col("v"), 8, 4).alias("pa"),
            jl_project(F.col("w"), 8, 4).alias("pb"),
            jl_project(F.col("s"), 8, 4).alias("ps"),
        ).collect()[0]
        assert [x + y for x, y in zip(row["pa"], row["pb"])] == list(row["ps"])
        again = df.select(jl_project(F.col("v"), 8, 4).alias("pa")).collect()[0]
        assert list(again["pa"]) == list(row["pa"])

    def test_norm_roughly_preserved(self, spark):
        """JL lemma sanity at 64→16: squared norms survive within a loose
        band (deterministic sign matrix → fixed numbers, not a flaky
        draw). Checks the 1/√k scaling is right, not concentration."""
        import math

        from graphrag_toolkit_spark.functions.vector import jl_project
        from graphrag_toolkit_spark.fixtures import pseudo_embedding

        vecs = [pseudo_embedding(f"doc {i}", dim=64) for i in range(6)]
        df = spark.createDataFrame([{"v": v} for v in vecs])
        rows = df.select(jl_project(F.col("v"), 64, 16).alias("p")).collect()
        for v, r in zip(vecs, rows):
            n0 = math.sqrt(sum(x * x for x in v))
            n1 = math.sqrt(sum(x * x for x in r["p"]))
            assert 0.4 * n0 < n1 < 1.9 * n0


class TestGramPca:
    def test_gram_matches_numpy_and_pca_finds_dominant_axis(self, spark):
        """Gram long-format equals numpy's X^T X on the quantized inputs;
        the top principal direction of an anisotropic cloud (variance
        concentrated on axis 0) aligns with e0 under the deterministic
        sign convention."""
        import numpy as np

        from graphrag_toolkit_spark.functions.vector import (
            gram_matrix,
            pca_components,
        )

        rng = [[round(((i * 7 + j * 3) % 11 - 5) / 5.0, 6) * (4.0 if j == 0 else 0.5)
                for j in range(6)] for i in range(40)]
        df = spark.createDataFrame([{"v": r} for r in rng])
        rows = gram_matrix(df, "v", 6).collect()
        x = np.array(rng)
        expected = x.T @ x
        for r in rows:
            assert abs(r["value"] - expected[r["i"], r["j"]]) < 1e-9, (r["i"], r["j"])
        assert len(rows) == 6 * 7 // 2  # upper triangle incl. diagonal
        comps = pca_components(rows, dim=6, k=2)
        top = np.array(comps[0])
        assert abs(top[0]) > 0.95          # dominant axis is coordinate 0
        assert top[int(np.argmax(np.abs(top)))] > 0  # sign convention


class TestQuantizedExpressionParity:
    """The round-9 expression rewrites (bound lambda vars, SQL-string
    literal construction, prequantized norms) must be BIT-identical to the
    compositional forms they replaced — these pin the parity on awkward
    values (negative, half-boundary, >6-decimal, tiny exponents)."""

    VEC_A = [0.1234565, -0.9999995, 1e-07, 2.5, -3.0000004, 0.0000005]
    VEC_B = [-0.777777749, 0.3333335, 12.345678901, -1e-05, 0.5, 7.0]

    def test_cosine_score_prequantized_matches_compositional(self, spark):
        import struct

        from graphrag_toolkit_spark.functions.vector import (
            cosine_score_prequantized,
            dot_quantized,
            l2_norm_quantized,
            quantized_query_lit,
        )
        from graphrag_toolkit_spark.operators.vss import query_vector_lit

        q_arr, q_norm = quantized_query_lit(self.VEC_B)
        fused = one(
            spark,
            cosine_score_prequantized(F.col("a"), q_arr, q_norm),
            a=self.VEC_A,
        )
        blit = query_vector_lit(self.VEC_B)
        compositional = one(
            spark,
            dot_quantized(F.col("a"), blit)
            / (l2_norm_quantized(F.col("a")) * l2_norm_quantized(blit)),
            a=self.VEC_A,
        )
        assert struct.pack("<d", fused) == struct.pack("<d", compositional)

    def test_l2_norm_prequantized_matches_quantized(self, spark):
        import struct

        from graphrag_toolkit_spark.functions.vector import (
            l2_norm_prequantized,
            l2_norm_quantized,
            prequantize,
        )

        a = one(spark, l2_norm_prequantized(prequantize(F.col("a"))), a=self.VEC_A)
        b = one(spark, l2_norm_quantized(F.col("a")), a=self.VEC_A)
        assert struct.pack("<d", a) == struct.pack("<d", b)

    def test_query_vector_lit_expr_roundtrip(self, spark):
        """The F.expr literal form recovers the exact doubles (repr
        round-trip through the SQL parser)."""
        from graphrag_toolkit_spark.operators.vss import query_vector_lit

        vals = [0.1, -2.5e-17, 3.141592653589793, -1e300, 6.02e23]
        out = one(spark, query_vector_lit(vals), _dummy=1)
        assert out == vals  # exact equality, not approx

    def test_lsh_bucket_prequantized_matches_bucket(self, spark):
        from graphrag_toolkit_spark.functions.vector import prequantize
        from graphrag_toolkit_spark.operators.ann import (
            hyperplanes,
            lsh_bucket,
            lsh_bucket_prequantized,
        )

        planes = hyperplanes(4, 6)
        a = one(spark, lsh_bucket(F.col("a"), planes), a=self.VEC_A)
        b = one(
            spark,
            lsh_bucket_prequantized(prequantize(F.col("a")), planes),
            a=self.VEC_A,
        )
        assert a == b and len(a) == 4


class TestLitTable:
    """lit_table must be a drop-in for createDataFrame on literal tables:
    same schema (via the caller-declared DDL), same values bit-exactly, and
    a JVM-only LocalRelation plan (no pickled PythonRDD scan)."""

    def test_parity_with_create_dataframe(self, spark):
        from graphrag_toolkit_spark.functions.littable import lit_table

        rows = [
            {"s": "it's a \\ backslash", "n": 3, "x": 2.5e-17, "a": [1.5, -0.25]},
            {"s": "", "n": -9, "x": -1e300, "a": [0.0]},
            {"s": "ünïcødé", "n": 0, "x": 3.141592653589793, "a": [6.02e23, 1.0]},
        ]
        old = spark.createDataFrame(rows).select("s", "n", "x", "a")
        new = lit_table(
            spark, "s string, n bigint, x double, a array<double>", rows
        )
        # same names and types; nullability may tighten (VALUES literals are
        # provably non-null), which the oracle compare ignores
        assert new.schema.simpleString() == old.schema.simpleString()
        assert sorted(map(str, new.collect())) == sorted(map(str, old.collect()))

    def test_sequence_rows_nulls_and_decimals(self, spark):
        import decimal

        from graphrag_toolkit_spark.functions.littable import lit_table

        df = lit_table(
            spark,
            "cid int, qc array<decimal(12,6)>, tag string",
            [
                (0, [decimal.Decimal("1.234567"), decimal.Decimal("-0.000001")], None),
                (1, [decimal.Decimal("0")], "t"),
            ],
        )
        got = df.collect()
        assert df.schema.simpleString() == (
            "struct<cid:int,qc:array<decimal(12,6)>,tag:string>"
        )
        assert got[0]["qc"][0] == decimal.Decimal("1.234567")
        assert got[0]["tag"] is None and got[1]["tag"] == "t"

    def test_plans_as_local_relation(self, spark):
        from graphrag_toolkit_spark.functions.littable import lit_table

        df = lit_table(spark, "k string", [{"k": "a"}, {"k": "b"}])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan

    def test_empty_rows_rejected(self, spark):
        from graphrag_toolkit_spark.functions.littable import lit_table

        with pytest.raises(ValueError):
            lit_table(spark, "k string", [])
