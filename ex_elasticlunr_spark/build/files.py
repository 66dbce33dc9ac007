"""Driver reads of a bound index's tables, straight from its files.

Binding a warehouse (``InvertedIndex._rebind_from``, and
``build/deltas.py bind_generations`` for a generational reader) records
for each table the PARTS behind it: a part is one generation's parquet
files plus the ordinal base that generation was written at (its block
base is ``ord_base // block_size``). A single-generation reader is the
one-part case. The parts are immutable bind state, listed once, and
tied to the DataFrame object the binding assigned to the table: a
maintenance op that assigns a new object (a pending add/remove, a
rebind) leaves the old parts behind, exactly like the per-binding memos
keyed by object identity (search/scorer.py ``_fstats_local``). Each
part's ``pyarrow.dataset`` is opened on its first read and held with
the binding, so later reads do not re-read the file footers; a rebind
drops it with the rest of the record.

:func:`scan` is the one way the serving path pulls index rows to the
driver. On a bound table it reads the part files with pyarrow, the
predicate pushed into row-group statistics (the tables are
term-clustered, so a term predicate prunes to the query's row groups),
shifts ``ord``/``min_ord``/``max_ord`` by the part's ordinal base and
``block_id`` by its block base, and drops the binding's tombstoned ords.
No Spark job runs. Anywhere else (a fresh in-memory build, a pending op)
it runs ``DataFrame.toArrow()`` on the same predicate: one job. A bound
file that is missing or unreadable raises; it never turns into a Spark
read.

Predicates are written once, in disjunctive normal form: a list of
conjunctions, each a tuple of ``(column, op, value)`` with op one of
``==``, ``in``, ``>=``, ``<`` and ``notnull`` (value ignored). They
compile to a pyarrow expression per part and to the SQL of
``functions/literals.py`` for the Spark read.
"""

from __future__ import annotations

import functools
import operator
import os
import threading
from dataclasses import dataclass
from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from ..functions.literals import _in_literal, sql_eq, sql_in

# columns holding global ordinals (shifted by a part's ordinal base)
# and block ids (shifted by its block base)
_ORD_COLS = frozenset(("ord", "min_ord", "max_ord"))
_BLOCK_COLS = frozenset(("block_id",))

# table name -> the DataFrame the binding serves it as (the identity the
# recorded parts are checked against, and the Spark read's source)
TABLES = {
    "postings": lambda ix: ix.postings,
    # per-generation df partials on a generational binding (the caller
    # sums them); the merged statistics everywhere else
    "term_stats": lambda ix: ix.term_stats,
    "field_stats": lambda ix: ix.field_stats,
    "segments": lambda ix: ix._segments[1],
    "seg_lens": lambda ix: ix.seg_len_blocks(ix._segments[0]),
    # the doc ordinals of the segments' ordinal space (a fresh build's
    # lazily encoded segments number docs afresh)
    "ordinals": lambda ix: ix._segments[2],
}


@dataclass(frozen=True)
class Part:
    """One generation's files of a table and its ordinal/block bases."""

    files: Tuple[str, ...]
    ord_base: int = 0
    block_base: int = 0


def parquet_files(table_dir: str) -> list:
    """The parquet data files of a table directory, sorted (Spark's
    ``_SUCCESS``/``.crc`` side files excluded)."""
    return sorted(os.path.join(table_dir, n) for n in os.listdir(table_dir)
                  if n.endswith(".parquet") and not n.startswith(("_", ".")))


def list_part(table_dir: str, ord_base: int = 0,
              block_size: int = 1) -> Part:
    """The files of ``table_dir`` as a part based at ``ord_base``
    (block-aligned: its block base is ``ord_base // block_size``)."""
    return Part(tuple(parquet_files(table_dir)), int(ord_base),
                int(ord_base) // int(block_size))


def bind(index, parts: dict) -> None:
    """Record ``parts`` ({table: [Part, ...]}) as the files behind the
    tables ``index`` now serves from them, replacing earlier records.
    Each record holds the DataFrame the table is bound as, so a later
    reassignment of that table leaves its files behind."""
    index._files = {}
    for table, ps in parts.items():
        if table == "ordinals" and index._segments is None:
            continue  # no segments bound: nothing in this ordinal space
        index._files[table] = (TABLES[table](index), tuple(ps),
                               [None] * len(ps))


def prefix_range(prefix: str) -> tuple:
    """``term >= prefix AND term < succ(prefix)`` conjuncts: exactly the
    strings starting with ``prefix`` (UTF-8 byte order is code point
    order), as a range that row-group statistics can prune."""
    conj = [("term", ">=", prefix)]
    s = list(prefix)
    while s:
        c = ord(s.pop()) + 1
        if c == 0xD800:  # surrogates have no UTF-8 form
            c = 0xE000
        if c <= 0x10FFFF:
            conj.append(("term", "<", "".join(s) + chr(c)))
            break
    return tuple(conj)


def to_sql(cond) -> str:
    """The DNF predicate as one Spark SQL boolean expression."""

    def atom(c, op, v):
        if op == "==":
            return sql_eq(c, v)
        if op == "in":
            return sql_in(c, sorted(set(v)))
        if op in (">=", "<"):
            return "`" + c + "` " + op + " " + _in_literal(v)
        if op == "notnull":
            return "`" + c + "` IS NOT NULL"
        raise ValueError(f"unknown predicate op {op!r}")

    return " OR ".join(
        "(" + " AND ".join(atom(*a) for a in conj) + ")" for conj in cond)


def _to_arrow(cond, part: Part, dead):
    """The DNF predicate as a pyarrow expression over ``part``'s own
    (unshifted) values; ``dead`` (a numpy array of global ords, or
    None) excludes those ords."""
    import pyarrow.compute as pc

    def base(c):
        if c in _ORD_COLS:
            return part.ord_base
        if c in _BLOCK_COLS:
            return part.block_base
        return 0

    def atom(c, op, v):
        b = base(c)
        f = pc.field(c)
        if op == "==":
            return f == (v - b if b else v)
        if op == "in":
            vals = sorted({x - b for x in v} if b else set(v))
            if not vals:
                return pc.scalar(False)
            # pyarrow does not prune row groups on is_in: string sets
            # (query terms, fields) become one equality per value, which
            # it does prune on; numeric sets (ords, block ids — possibly
            # large) keep is_in and prune on their range
            if isinstance(vals[0], str):
                return functools.reduce(operator.or_,
                                        (f == x for x in vals))
            return f.isin(vals) & (f >= vals[0]) & (f <= vals[-1])
        if op == ">=":
            return f >= (v - b if b else v)
        if op == "<":
            return f < (v - b if b else v)
        if op == "notnull":
            return f.is_valid()
        raise ValueError(f"unknown predicate op {op!r}")

    expr = None
    for conj in cond or ():
        e = None
        for a in conj:
            x = atom(*a)
            e = x if e is None else (e & x)
        expr = e if expr is None else (expr | e)
    if dead is not None:
        alive = ~pc.field("ord").isin(dead - part.ord_base)
        expr = alive if expr is None else (expr & alive)
    return expr


def _shift(tbl, part: Part):
    import pyarrow.compute as pc

    for i, name in enumerate(tbl.column_names):
        b = (part.ord_base if name in _ORD_COLS
             else part.block_base if name in _BLOCK_COLS else 0)
        if b:
            tbl = tbl.set_column(i, name, pc.add(tbl.column(i), b))
    return tbl


def _dataset(bound, i: int):
    """Part ``i``'s dataset of a bound-table record, opened once. Two
    threads that both find the slot empty each open an equal dataset;
    the later assignment wins and both read the same files."""
    d = bound[2][i]
    if d is None:
        import pyarrow.dataset as ds

        d = bound[2][i] = ds.dataset(list(bound[1][i].files),
                                     format="parquet")
    return d


def scan(index, table: str, columns: Sequence[str], cond=None,
         live: bool = True, limit: Optional[int] = None):
    """Rows of ``table`` matching ``cond`` as a ``pyarrow.Table`` of
    ``columns`` (see the module docstring). ``live=False`` keeps the
    binding's tombstoned ords (the df correction reads them).
    ``limit`` caps the rows read (pyarrow ``Scanner.head`` over the
    parts in order); callers detect truncation as ``num_rows ==
    limit``."""
    df = TABLES[table](index)
    bound = index._files.get(table)
    if bound is None or bound[0] is not df:
        return _spark_scan(df, columns, cond, limit)
    import numpy as np
    import pyarrow as pa

    dead = (np.fromiter(index._dead_ords, np.int64)
            if live and index._dead_ords else None)
    out, n = [], 0
    for i, part in enumerate(bound[1]):
        if not part.files:
            continue
        d = _dataset(bound, i)
        pdead = dead if "ord" in d.schema.names else None
        sc = d.scanner(columns=list(columns),
                       filter=_to_arrow(cond, part, pdead))
        t = sc.to_table() if limit is None else sc.head(limit - n)
        out.append(_shift(t, part))
        n += t.num_rows
        if limit is not None and n >= limit:
            break
    if not out:
        return pa.table({c: pa.array([], pa.null()) for c in columns})
    return out[0] if len(out) == 1 else pa.concat_tables(out)


def _spark_scan(df: DataFrame, columns, cond, limit):
    if cond:
        df = df.where(F.expr(to_sql(cond)))
    df = df.select(*columns)
    if limit is None:
        return df.toArrow()
    return limit_one_job(df, limit, lambda d: d.toArrow())


# serializes the session-conf set/run/restore in limit_one_job (the conf
# is session-global)
_LIMIT_CONF_LOCK = threading.Lock()


def limit_one_job(df: DataFrame, n: int, run):
    """``run(df.limit(n))`` in ONE Spark job. CollectLimit's incremental
    execution (scan 1 partition, then 4, 20, ... —
    spark.sql.limit.scaleUpFactor) is right for exploratory limits over
    huge inputs but wrong for a serving-path collect over a
    pushed-filter scan: it turns one cheap job into five. The initial
    partition count is a runtime SQL conf — raise it for just this
    collect so the first round covers every partition.

    The set/run/restore triple runs under a module lock: the conf is
    session-global, and two serving threads interleaving it could leak
    the raised value into the session (thread B reads A's 1<<20 as its
    restore target) or run their own collect with the default."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    with _LIMIT_CONF_LOCK:
        try:
            old = spark.conf.get(key, None)
        except Exception:  # conf not present on this Spark build
            return run(df.limit(n))
        try:
            spark.conf.set(key, str(1 << 20))
            return run(df.limit(n))
        finally:
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
