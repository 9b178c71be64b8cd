"""Rendering helpers for the SQL-text expression builders.

Every lambda-bearing builder in the engine (word shingles, MinHash
signatures, dot/norm/cosine folds, LSH buckets, IVF list ranking, PQ
ADC tables) is written ONCE, as SQL text parsed JVM-side by
``F.expr``. Constructing the same higher-order-function tree through
the Python Column API costs ~10-40 py4j round trips PER LAMBDA
(``_create_lambda`` plus per-argument ``lit``/``getattr`` chatter, and
one call per component of every vector literal): the 32-permutation
MinHash signature alone measured ~0.5 s of pure driver time per
construction, paid per query and per micro-batch of the streaming
ingest loop, where the parsed string costs ~2 ms and yields the same
expression.
"""

from __future__ import annotations

import re

from pyspark.sql import Column

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _attr_sql(col: Column | str, fn_name: str) -> str:
    """Backtick-quoted SQL for a builder operand: a column name or a
    plain attribute ``Column`` (``F.col("x")``).

    The SQL-text builders take operands only in this form. A computed
    expression raises: the caller projects it to a column first
    (``df.select(expr.alias("x"))``) and passes the name, which also
    keeps an expensive operand evaluated once per row instead of once
    per lambda reference. Only bare unqualified identifiers qualify —
    ``a.b`` means field/alias access in the Column API but would be
    quoted here as one literal name, so it raises rather than change
    meaning; operators that take a user-chosen column name select it
    under an internal alias before calling a builder."""
    name = col if isinstance(col, str) else col._jc.toString()
    if not _IDENT_RE.fullmatch(name):
        raise ValueError(
            f"{fn_name}: expects a column name or a plain column "
            f"reference, got {name!r}; project the expression to a "
            "column first (df.select(expr.alias('x'))) and pass that"
        )
    return "`" + name + "`"


def _dlit(x: float) -> str:
    """A Python float as a Spark SQL double literal: ``repr`` is the
    shortest round-tripping decimal form, so the parsed double is
    bit-identical to the ``F.lit(float)`` literal; the ``D`` suffix
    pins the literal type to DOUBLE (a bare ``1.5`` parses DECIMAL)."""
    return repr(float(x)) + "D"


def _vec_sql(values) -> str:
    """A flat float vector as a SQL array literal of double literals."""
    return "array(" + ", ".join(_dlit(x) for x in values) + ")"
