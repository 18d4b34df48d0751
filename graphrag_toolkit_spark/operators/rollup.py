"""Result-assembly aggregations (SURVEY.md §2.4 A1-A3, A7) and the nested
SearchResult shape (§1.3).

Design decision: the processor chain (``operators/processors.py``) works on a
FLAT statement-level DataFrame — one row per (source, topic, statement) with
scores and context — and nesting into the reference's
``source → topics[] → (chunks[], statements[])`` tree happens exactly once at
the end (``nest_results``). The reference instead passes the nested pydantic
tree through every processor (``retrieval/model.py:121-267``); flat-then-nest
is the Spark-native equivalent: every processor stays a shuffle-friendly
relational op, and the only ordering discipline needed is at the single
collect point (arrays sorted with explicit comparators — Spark's
``collect_list`` order is otherwise nondeterministic, SURVEY §4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_toolkit_spark.fixtures import SparkGraphTables
from graphrag_toolkit_spark.operators.traversal import statement_facts, statements_to_context


def scored_statement_context(g: SparkGraphTables, statement_ids: DataFrame) -> DataFrame:
    """J2+J3+A2 combined: flat statement rows with (topic, chunk, source)
    context, supporting facts (sorted), and fact-count score."""
    ctx = statements_to_context(g, statement_ids)
    fac = statement_facts(g, statement_ids)
    return ctx.join(fac, "statement_id", "left").fillna(0.0, subset=["score"]).withColumn(
        "facts", F.coalesce(F.col("facts"), F.array().cast("array<string>"))
    )


def nest_results(flat: DataFrame, max_results: int = 10) -> DataFrame:
    """A1 assembly: flat rows → one row per source with the nested topic tree,
    ordered by source score desc (deterministic tie-break on source_id).

    Output schema:
      source_id, score,
      topics: array<struct<topic_id, topic,
                           chunks: array<struct<chunk_id, chunk_text>>,
                           statements: array<struct<statement_id, value,
                                                    details, facts, score>>>>
    """
    stmt_struct = F.struct(
        F.col("statement_id"), F.col("value"), F.col("details"),
        F.col("facts"), F.col("score"),
    )
    chunk_struct = F.struct(F.col("chunk_id"), F.col("chunk_text"))

    per_topic = (
        flat.groupBy("source_id", "topic_id", "topic")
        .agg(
            F.array_sort(F.collect_set(chunk_struct)).alias("chunks"),
            # statements ordered by score desc, id asc — explicit comparator
            F.array_sort(
                F.collect_list(stmt_struct),
                lambda l, r: F.when(l["score"] > r["score"], -1)
                .when(l["score"] < r["score"], 1)
                .when(l["statement_id"] < r["statement_id"], -1)
                .when(l["statement_id"] > r["statement_id"], 1)
                .otherwise(0),
            ).alias("statements"),
            (F.count(F.lit(1)) / F.countDistinct("chunk_id")).alias("topic_score"),
        )
    )
    topic_struct = F.struct(
        F.col("topic_id"), F.col("topic"), F.col("chunks"), F.col("statements")
    )
    return (
        per_topic.groupBy("source_id")
        .agg(
            F.sum("topic_score").alias("score"),
            F.array_sort(F.collect_list(F.struct(F.col("topic_id"), topic_struct.alias("t"))))
            .alias("_topics"),
        )
        .withColumn("topics", F.transform(F.col("_topics"), lambda x: x["t"]))
        .drop("_topics")
        .orderBy(F.desc("score"), F.asc("source_id"))
        .limit(max_results)
        .select("source_id", "score", "topics")
    )


def entity_degree(g: SparkGraphTables) -> DataFrame:
    """A3: entity degree over SUBJECT/OBJECT edges (hub scoring).
    Reference: ``entity_context_provider.py:126-141``."""
    sub = g.edges_of("SUBJECT").select(F.col("src").alias("entity_id"))
    obj = g.edges_of("OBJECT").select(F.col("src").alias("entity_id"))
    return (
        sub.unionByName(obj)
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def schema_summary(g: SparkGraphTables) -> DataFrame:
    """A7: class-level SYS graph — distinct (subject class, predicate, object
    class) triples. Reference: ``indexing/build/graph_summary_builder.py:89-104``."""
    ent = g.entities.select("entity_id", "classification")
    facts = g.facts.filter(F.col("object_id").isNotNull())
    return (
        facts.join(ent.withColumnsRenamed(
            {"entity_id": "subject_id", "classification": "subject_class"}), "subject_id")
        .join(ent.withColumnsRenamed(
            {"entity_id": "object_id", "classification": "object_class"}), "object_id")
        .select("subject_class", "predicate", "object_class")
        .distinct()
    )


def graph_stats(g: SparkGraphTables) -> DataFrame:
    """A4: node counts per label as one tall DataFrame (label, n)."""
    parts = [
        g.sources.select(F.lit("source").alias("label")),
        g.chunks.select(F.lit("chunk").alias("label")),
        g.topics.select(F.lit("topic").alias("label")),
        g.statements.select(F.lit("statement").alias("label")),
        g.facts.select(F.lit("fact").alias("label")),
        g.entities.select(F.lit("entity").alias("label")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
