"""Pure-JVM literal-row DataFrames and literal predicates.

``spark.createDataFrame(small_python_list)`` builds a *Python RDD*: the
rows are pickled into defaultParallelism slices and every job that
scans them pays one Python-worker round trip PER SLICE — measured ~5s
to parquet-write a 2-row DataFrame at local[32] (and still ~0.5s after
coalesce(1), since the coalesced task iterates all parent slices).

Building the relation as Column literals avoids the Python worker but
pays 3+ py4j gateway round trips PER CELL (measured: 32 ms for a 1x2
relation, 258 ms for 40x2, 32 s for 2,000x6). ONE ``spark.sql`` VALUES
statement costs a flat ~7 ms regardless of size — so every non-empty
relation goes through it. Both compile to a JVM-local literal relation:
no Python worker anywhere, broadcastable, zero-task to collect, and
Catalyst constant-folds the CASTs at analysis time.

The same economics apply to predicates: ``Column.isin(vals)`` costs
~3 py4j calls per element (measured 102 ms at 200 values) while an
``F.expr("c IN (...)")`` parse is a flat ~4 ms — and both produce the
identical ``In(col, literals)`` expression, so parquet pushdown is
unaffected. Use :func:`in_expr`/:func:`sql_in` for every engine-path
literal membership filter.

Use this module for every *engine-path* tiny relation (query terms,
per-field stats rows, metrics appends). Tests may keep createDataFrame.
"""

from __future__ import annotations

import weakref
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# per-session cache of empty local relations: building one costs
# py4j/schema parsing per call, and the serving paths
# construct their empty-result guard on EVERY query (usually unused).
# DataFrames are immutable, so one per (session, schema) is safe; weak
# keys let a replaced session's entries be collected.
_EMPTY_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def empty_df(spark: SparkSession, schema_ddl: str) -> DataFrame:
    """A cached empty DataFrame with the given DDL schema: a
    never-true filter over one literal row, which the optimizer folds
    into an empty local relation — no Python worker, no Spark job to
    collect (``createDataFrame([], ...)`` builds an RDD whose collect
    runs a job)."""
    per = _EMPTY_CACHE.setdefault(spark, {})
    df = per.get(schema_ddl)
    if df is None:
        cols = ",".join(f"CAST(NULL AS {t}) AS {n}"
                        for n, t in _ddl_fields(schema_ddl))
        df = spark.sql(f"SELECT {cols} WHERE false")
        per[schema_ddl] = df
    return df


def _ddl_fields(schema_ddl: str) -> list:
    """``"name type, name type, ..."`` -> [(name, type)], split on
    top-level commas only: array<...> / struct<...> element types carry
    commas inside their angle brackets."""
    fields = []
    depth = 0
    cur = ""
    for ch in schema_ddl:
        if ch == "," and depth == 0:
            fields.append(cur.strip())
            cur = ""
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        cur += ch
    if cur.strip():
        fields.append(cur.strip())
    return [tuple(f.split(None, 1)) for f in fields]


def _str_literal(s: str) -> str:
    """A string literal that parses to ``s`` under either setting of
    ``spark.sql.parser.escapedStringLiterals``: plain quotes when ``s``
    holds no quote or backslash (the only characters the two settings
    read differently), else the UTF-8 bytes as a hex literal cast back
    to a string — constant-folded, so ``In()`` pushdown is unchanged."""
    if "'" in s or "\\" in s:
        return "CAST(X'" + s.encode("utf-8").hex() + "' AS STRING)"
    return "'" + s + "'"


def _sql_literal(v) -> str:
    """One value -> a Spark SQL string literal (scalars are rendered as
    quoted strings and CAST to the column type by the caller —
    CAST('1e-3' AS double) round-trips exactly, and quoting uniformly
    sidesteps int/decimal literal typing rules). Lists/tuples render as
    ARRAY(...) of string literals — the caller's CAST(c AS array<t>)
    casts element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(v, (list, tuple)):
        return "ARRAY(" + ",".join(_sql_literal(x) for x in v) + ")"
    if isinstance(v, bool):
        s = "true" if v else "false"
    elif isinstance(v, float):
        # float(v) first: numpy scalars are float subclasses whose repr
        # differs across numpy versions; shortest round-trip decimal of
        # the IEEE double parses back to the identical bits
        v = float(v)
        if v != v:
            s = "NaN"  # Spark parses NaN/Infinity, not Python's nan/inf
        elif v == float("inf"):
            s = "Infinity"
        elif v == float("-inf"):
            s = "-Infinity"
        else:
            s = repr(v)
    else:
        s = str(v)
    return _str_literal(s)


def _in_literal(v) -> str:
    """One value -> a TYPED Spark SQL literal for an IN list. Unlike
    :func:`_sql_literal` there is no caller-side CAST here, so numeric
    values must render as numeric literals — a quoted int would make
    the analyzer coerce the COLUMN to string, breaking pushdown."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        raise TypeError("float IN-lists are ambiguous (decimal literal "
                        "typing); filter floats with explicit casts")
    if isinstance(v, str):
        return _str_literal(v)
    try:
        # any integral type, incl. numpy scalars (a quoted int would
        # coerce the column to string and break pushdown)
        import operator

        return str(operator.index(v))
    except TypeError:
        raise TypeError(f"unsupported IN-list value type: {type(v)!r}")


def sql_in(col: str, values: Iterable) -> str:
    """SQL fragment ```col` IN (v1, v2, ...)`` — compose into larger
    predicates and parse with ONE ``F.expr`` call. ``col`` must be a
    plain column name (it is backtick-quoted). Empty values -> 'false'
    (``Column.isin([])`` is likewise never-true under a filter)."""
    vals = list(values)
    if not vals:
        return "false"
    return "`" + col + "` IN (" + ",".join(_in_literal(v) for v in vals) + ")"


def sql_eq(col: str, value) -> str:
    """SQL fragment ```col` = literal`` (same typing rules as
    :func:`sql_in`)."""
    return "`" + col + "` = " + _in_literal(value)


def in_expr(col: str, values: Iterable) -> Column:
    """``F.col(col).isin(values)`` in ONE py4j round trip: parse the
    SQL IN fragment. Identical ``In`` expression, so predicate pushdown
    and semantics are unchanged."""
    return F.expr(sql_in(col, values))


def array_lit(values: Iterable, element_type: str) -> Column:
    """A literal array column in ONE py4j round trip (``F.array`` of
    ``F.lit`` costs 3+ gateway calls per element). Rendered as quoted
    strings element-wise CAST to ``element_type`` — exact for doubles
    via shortest-repr round-trip, and constant-folded by Catalyst."""
    vals = list(values)
    if not vals:
        return F.expr(f"CAST(ARRAY() AS array<{element_type}>)")
    body = ",".join(
        f"CAST({_sql_literal(v)} AS {element_type})" for v in vals)
    return F.expr(f"ARRAY({body})")


def inline_rows(spark: SparkSession, rows: Iterable[Sequence],
                schema_ddl: str) -> DataFrame:
    """Literal rows -> DataFrame with the given DDL schema
    (``"name type, name type, ..."``), as a JVM-side literal relation
    via ONE ``spark.sql`` VALUES statement — no Python worker anywhere,
    broadcastable, and zero-task to collect. Zero rows give
    :func:`empty_df`.
    """
    rows = list(rows)
    if not rows:
        return empty_df(spark, schema_ddl)
    names, types = zip(*_ddl_fields(schema_ddl))
    values = ",".join(
        "(" + ",".join(_sql_literal(v) for v in row) + ")"
        for row in rows)
    cols = ",".join(
        f"CAST(c{i} AS {t}) AS {n}"
        for i, (n, t) in enumerate(zip(names, types)))
    tcols = ",".join(f"c{i}" for i in range(len(names)))
    return spark.sql(
        f"SELECT {cols} FROM (VALUES {values}) AS t({tcols})")
