"""PII detection and redaction for training corpora (north-star extras; the
standard pre-training scrub pass — emails / phone numbers / IP addresses —
as narrow JVM-side column expressions).

Patterns are deliberately restricted to regex syntax with identical
semantics in Java's engine (Spark) and RE2 (the DuckDB oracle): character
classes, bounded quantifiers, ``\\b`` word boundaries — no backreferences,
no lookaround. Detection is ``regexp_count`` per pattern; redaction is a
fixed-order ``regexp_replace`` chain (email → ip → phone, so a replaced
token can never be re-matched by a later pattern).

100 TB shape: one codegen'd projection per row — no shuffle, no UDF; the
scrub composes with any downstream sink as a free map stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# label -> (pattern, replacement); ORDER MATTERS for redaction
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[0-9A-Za-z._%+-]+@[0-9A-Za-z.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
]


def scrub_expr(text: Column) -> Column:
    """The redacted-text expression: sequential replace in PII_PATTERNS
    order (same chain the oracle runs)."""
    out = text
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def scrub_pii(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, text — redacted, n_email, n_ip, n_phone): the scrub pass plus
    its audit counts in one projection."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        scrub_expr(t).alias(text_col),
        *[
            F.regexp_count(t, F.lit(pat)).alias(f"n_{label}")
            for label, pat, _ in PII_PATTERNS
        ],
    )


def k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: one row per
    equivalence class — (quasi_cols..., class_size, is_k_anonymous) — a
    release is k-anonymous iff every class has size ≥ k (Sweeney 2002).
    One groupBy; at 100 TB the class table is the distinct QI combinations,
    orders of magnitude smaller than the data."""
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("class_size"),
    ).withColumn("is_k_anonymous", F.col("class_size") >= k)


def k_anonymity_summary(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Release-level audit: total classes, violating classes, rows at risk
    (rows in classes smaller than k), and the minimum class size."""
    classes = k_anonymity(df, quasi_cols, k)
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum(F.when(~F.col("is_k_anonymous"), 1).otherwise(0)).alias(
            "violating_classes"
        ),
        F.sum(
            F.when(~F.col("is_k_anonymous"), F.col("class_size")).otherwise(0)
        ).alias("rows_at_risk"),
        F.min("class_size").alias("min_class_size"),
    )


def l_diversity(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int = 2
) -> DataFrame:
    """l-diversity audit — the k-anonymity refinement (Machanavajjhala et
    al. 2007): a k-anonymous class still leaks the sensitive attribute if
    every row in it shares one value; a release is l-diverse iff every
    equivalence class carries ≥ l DISTINCT sensitive values. One row per
    class: (quasi_cols..., class_size, n_sensitive, is_l_diverse).

    Scale shape: a two-level aggregate — distinct (QI, sensitive) pairs
    first (map-side combinable), then the per-class rollup — so the wide
    rows never shuffle twice and the class table stays QI-combination
    sized, exactly like `k_anonymity`."""
    pairs = (
        df.select(*quasi_cols, sensitive_col)
        .groupBy(*quasi_cols, sensitive_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        pairs.groupBy(*quasi_cols)
        .agg(
            F.sum("n_rows").alias("class_size"),
            F.count(F.lit(1)).alias("n_sensitive"),
        )
        .withColumn("is_l_diverse", F.col("n_sensitive") >= l)
    )
