"""Tokenizers — JVM-side column expressions, no Python UDFs.

The reference has two variants:
- a0/a1/a2: whitespace split → lowercase → strip leading/trailing
  non-``[a-z]`` → drop empties (``JAVA/assignment0/WordCount.java:46-49``,
  ``SCALA/assignment2/Tokenizer.scala:7-13``);
- a5: strips ALL non-letters (``SCALA/assignment5/Tokenizer.scala:8-12``).

r13 (guide §4.1): the original ``filter(transform(split(...), x ->
regexp_replace(...)), x -> x != '')`` compositions are higher-order
functions, which Spark evaluates INTERPRETED per element — they never
enter whole-stage codegen (the r12 ANN lesson; this module's former
"stay inside whole-stage codegen" claim was wrong for HOFs). Both
tokenizers are now single codegen'd regex expressions:

- a2: one ``regexp_extract_all`` whose per-chunk match spans first
  [a-z] to last [a-z] — exactly the strip-ends semantics. A chunk is
  anchored by ``(?:^|(?<=\\s))`` + a ``[^a-z\\s]*`` junk skip, so at
  most one token is extracted per whitespace-delimited chunk, in
  order.
- a5: strip every non-letter non-space character globally, then split
  on whitespace and drop empties with ``array_remove`` (non-lambda).

Measured 1.5x on the array build and 1.4x on the word-count shape at
sf0.1; per-doc token ARRAYS (order included) are equal to the HOF
forms on the whole corpus and an adversarial edge set —
``_tokenize_hof`` / ``_tokenize_letters_hof`` are retained as the
parity twins that tests/test_text_analytics.py pins them against.
The ``*_sql`` twins (unchanged) build the identical DuckDB expression
for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_STRIP = r"(^[^a-z]+|[^a-z]+$)"

# per whitespace-delimited chunk: skip leading non-letters, capture from
# the first a-z to the last a-z (greedy [^\s]* backtracks to a final
# [a-z]); trailing non-letters are never captured and cannot start a new
# match (a match must begin at a chunk boundary)
_A2_PAT = r"(?:^|(?<=\s))[^a-z\s]*([a-z](?:[^\s]*[a-z])?)"


def sql_escape(s: str) -> str:
    """Escape ``s`` for the body of a Spark SQL ``'...'`` literal:
    backslashes first (the parser processes \\-escapes), then doubled
    single quotes."""
    return s.replace("\\", "\\\\").replace("'", "''")


def tokenize(col: Column | str) -> Column:
    """a2-style tokens: array<string> of non-empty cleaned tokens."""
    col = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(col), F.lit(_A2_PAT), 1)


def tokenize_letters(col: Column | str) -> Column:
    """a5-style tokens: strip every non-letter character."""
    col = F.col(col) if isinstance(col, str) else col
    return F.array_remove(
        F.split(F.regexp_replace(F.lower(col), r"[^a-z\s]", ""), r"\s+"),
        "",
    )


def _tokenize_hof(col: Column | str) -> Column:
    """The original interpreted-HOF a2 form — parity twin for tests."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(F.lower(col), r"\s+"),
                    lambda x: F.regexp_replace(x, _STRIP, "")),
        lambda x: x != F.lit(""),
    )


def _tokenize_letters_hof(col: Column | str) -> Column:
    """The original interpreted-HOF a5 form — parity twin for tests."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(F.lower(col), r"\s+"),
                    lambda x: F.regexp_replace(x, r"[^a-z]", "")),
        lambda x: x != F.lit(""),
    )


def tokenize_sql(col: str) -> str:
    """DuckDB expression computing exactly ``tokenize(col)``."""
    return (
        "list_filter(list_transform("
        f"string_split_regex(lower({col}), '\\s+'), "
        "x -> regexp_replace(x, '(^[^a-z]+|[^a-z]+$)', '', 'g')), "
        "x -> x <> '')"
    )


def tokenize_letters_sql(col: str) -> str:
    """DuckDB expression computing exactly ``tokenize_letters(col)``."""
    return (
        "list_filter(list_transform("
        f"string_split_regex(lower({col}), '\\s+'), "
        "x -> regexp_replace(x, '[^a-z]', '', 'g')), "
        "x -> x <> '')"
    )
