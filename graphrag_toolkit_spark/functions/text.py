"""Scalar text functions (SURVEY.md §2.8).

Parity targets in the reference (all re-expressed as built-in Spark column
expressions, JVM-side, whole-stage-codegen friendly — no Python UDFs):

- ``search_string``        ⇔ graph_utils.py:19-37  (``search_string_from``)
- ``label_from``           ⇔ graph_utils.py:39-57
- ``relationship_name``    ⇔ graph_utils.py:105-119
- ``verbalize_fact``       ⇔ statement_node_builder.py:165-171
- ``statement_text``       ⇔ statement_node_builder.py:139-143

``word_grams`` is the one word-n-gram builder every shingling, span and
n-gram statistic operator shares.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Strip anything that is not a word character or whitespace (underscore is
# also stripped), collapse runs of whitespace, lowercase, trim.
_NON_WORD = r"([^\s\w]|_)+"


def search_string(col: Column) -> Column:
    """Normalized match key for entity lookup (lowercase, punctuation-free,
    single-spaced). Equality joins on this column replace the reference's
    ``search_str = $keyword`` Cypher predicate."""
    cleaned = F.regexp_replace(col, _NON_WORD, " ")
    collapsed = F.regexp_replace(cleaned, r"\s+", " ")
    return F.lower(F.trim(collapsed))


def label_from(col: Column) -> Column:
    """Human label: punctuation stripped, words capitalized, single-spaced."""
    cleaned = F.regexp_replace(col, _NON_WORD, " ")
    collapsed = F.regexp_replace(cleaned, r"\s+", " ")
    return F.initcap(F.trim(collapsed))


def relationship_name(col: Column) -> Column:
    """UPPER_SNAKE relation name: non-alphanumerics -> '_', uppercased,
    leading/trailing underscores trimmed."""
    underscored = F.regexp_replace(col, r"[^0-9A-Za-z]+", "_")
    trimmed = F.regexp_replace(underscored, r"^_+|_+$", "")
    return F.upper(trimmed)


def verbalize_fact(
    subject: Column, subject_class: Column, predicate: Column, obj: Column
) -> Column:
    """``subject [class] PREDICATE object`` verbalization of an S-P-O fact."""
    return F.concat_ws(
        " ", subject, F.concat(F.lit("["), subject_class, F.lit("]")), predicate, obj
    )


def word_grams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of a token array, in order; an empty
    ``array<string>`` below ``n`` tokens. ``element_at`` lookups, not
    ``F.slice``: slice copies n elements per gram. The guard is needed
    because Spark's ``sequence(1, 0)`` is descending, not empty."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def statement_text(value: Column, details: Column) -> Column:
    """Statement display text: value + blank line + newline-joined details;
    just the value when details is empty."""
    joined = F.concat_ws("\n", details)
    return F.when(F.size(details) > 0, F.concat(value, F.lit("\n\n"), joined)).otherwise(
        value
    )
