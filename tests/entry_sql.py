"""ANSI-SQL (DuckDB-dialect) oracle generators for the engine's queries.

tests/test_entry_correctness.py runs each Spark query side-by-side with
these SQL strings on the same parquet tables. The SQL re-derives the
whole index pipeline relationally:

  tokenize (regex split) -> trim -> stopword filter -> stem -> postings
  -> tf/df/idf/flnorm/doc_len -> per-query scoring

Stemming: DuckDB's fts/stem() extension is unavailable offline, so the
Porter2 step is expressed as an inline dictionary over the deterministic
test vocabulary, generated from the SAME Porter2 implementation the
engine uses (ex_elasticlunr_spark.analysis.porter2). Stemmer correctness
itself is pinned independently by the reference's 80-pair golden fixture
(tests/test_analysis.py); what these oracles verify is the distributed
dataflow: tokenization, stats, joins, scoring algebra.
"""

from __future__ import annotations

from typing import List, Optional

from ex_elasticlunr_spark.analysis import porter2
from ex_elasticlunr_spark.analysis.stop_words import STOP_WORDS

# deterministic union vocabulary of the testdata `documents` tables
# (sf0.001/0.01/0.1 all draw from the same generator word list)
DOCS_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]


def stem_map_values() -> str:
    pairs = []
    for w in DOCS_VOCAB:
        if w in STOP_WORDS:
            continue
        pairs.append(f"('{w}', '{porter2.stem(w)}')")
    return ", ".join(pairs)


def stopword_list_sql() -> str:
    return ", ".join(f"'{w}'" for w in sorted(STOP_WORDS))


def index_prefix(doc_where: str = "TRUE") -> str:
    """WITH-clause CTEs deriving the index tables from ``documents``.

    ``doc_where`` restricts the indexed corpus (a SQL predicate over
    the documents columns) — used by gate entries whose index covers a
    subset of the table (e.g. a time-travel read of the pre-delta
    commit): idf/flnorm/doc counts are derived over the subset only,
    exactly like an index built from it."""
    return f"""
stem_map AS (SELECT * FROM (VALUES {stem_map_values()}) AS t(word, stem)),
tokl AS (
  SELECT CAST(doc_id AS VARCHAR) AS docid,
         list_filter(string_split_regex(lower(text), '[\\s\\-]+'),
                     x -> x <> '') AS toks
  FROM documents
  WHERE text IS NOT NULL AND ({doc_where})
),
tok0 AS (
  SELECT docid, unnest(toks) AS tok, generate_subscripts(toks, 1) AS ord0
  FROM tokl
),
trimmed AS (
  SELECT docid, ord0,
         regexp_replace(regexp_replace(tok, '^\\W+', ''), '\\W+$', '') AS tok
  FROM tok0
),
analyzed AS (
  SELECT s.docid, s.ord0, coalesce(m.stem, s.tok) AS term
  FROM (SELECT docid, ord0, tok FROM trimmed
        WHERE tok NOT IN ({stopword_list_sql()})) s
  LEFT JOIN stem_map m ON m.word = s.tok
),
tokord AS (
  SELECT docid, term,
         row_number() OVER (PARTITION BY docid ORDER BY ord0) - 1 AS ord
  FROM analyzed
),
postings AS (
  SELECT docid, term, COUNT(*) AS tf_raw
  FROM analyzed GROUP BY docid, term
),
ids AS (
  SELECT CAST(doc_id AS VARCHAR) AS docid FROM documents
  WHERE text IS NOT NULL AND ({doc_where})
),
dstats AS (
  SELECT i.docid, CAST(coalesce(p.doc_len, 0) AS BIGINT) AS doc_len
  FROM ids i LEFT JOIN (
    SELECT docid, SUM(tf_raw) AS doc_len FROM postings GROUP BY docid
  ) p USING (docid)
),
fstats AS (
  SELECT (SELECT COUNT(*) FROM ids) AS n_docs,
         (SELECT COUNT(DISTINCT term) FROM postings) AS n_unique_terms,
         1.0 / sqrt((SELECT COUNT(DISTINCT term) FROM postings)) AS flnorm,
         (SELECT AVG(doc_len) FROM dstats) AS avg_doc_len
),
tstats AS (
  SELECT term, COUNT(*) AS df,
         1.0 + log10((SELECT n_docs FROM fstats) / (COUNT(*) + 1.0)) AS idf
  FROM postings GROUP BY term
)""".strip()


def terms_entries(
    terms: List[str],
    expand: bool = False,
    fuzziness: int = 0,
    regex: bool = False,
    restrict: Optional[str] = None,
) -> str:
    """Sub-select producing one row per (query term, matched vocab term,
    doc): docid, entry_score (elasticlunr), bm25_score, qt."""
    qts = ", ".join(f"('{t}')" for t in terms)
    if regex:
        cond = "regexp_matches(p.term, q.qt)"
    elif expand:
        cond = "starts_with(p.term, q.qt)"
    elif fuzziness > 0:
        cond = f"levenshtein(p.term, q.qt) <= {fuzziness}"
    else:
        cond = "p.term = q.qt"
    restrict_sql = (
        f" AND p.docid IN (SELECT docid FROM {restrict})" if restrict else ""
    )
    return f"""
  SELECT p.docid, q.qt, p.term,
         sqrt(p.tf_raw) * t.idf * t.idf * f.flnorm AS entry_score,
         ln(1.0 + (f.n_docs - t.df + 0.5) / (t.df + 0.5))
           * (p.tf_raw * 2.2)
           / (p.tf_raw + 1.2 * (0.25 + 0.75 * d.doc_len / f.avg_doc_len))
           AS bm25_score
  FROM postings p
  JOIN tstats t USING (term)
  JOIN dstats d USING (docid)
  CROSS JOIN fstats f
  JOIN (VALUES {qts}) AS q(qt) ON {cond}{restrict_sql}
""".strip()


def terms_scores_sql(
    terms: List[str],
    boost: float = 1.0,
    expand: bool = False,
    fuzziness: int = 0,
    regex: bool = False,
    minimum_should_match: int = 1,
    restrict: Optional[str] = None,
    mode: str = "elasticlunr",
) -> str:
    """Full per-doc scoring select: (docid, score) before rounding."""
    entries = terms_entries(terms, expand, fuzziness, regex, restrict)
    agg = "MAX(entry_score)" if mode == "elasticlunr" else "SUM(bm25_score)"
    having = (
        f"HAVING COUNT(*) >= {minimum_should_match}"
        if minimum_should_match > 1
        else ""
    )
    return f"""
  SELECT docid, {agg} * {boost} AS score
  FROM ({entries}) e
  GROUP BY docid {having}
""".strip()


def search_many_sql(query_terms: dict, top_k: int = 10,
                    mode: str = "bm25") -> str:
    """Bulk multi-query top-k (search/batch.py search_many): one row per
    (query_id, docid) in some query's top-k, plus the rank.

    ``query_terms``: {query_id: {term: multiplicity}} — the analyzed
    queries, produced driver-side with the SAME pipeline the Spark
    operator uses. Scores round to 6 decimals BEFORE ranking, ties on
    docid asc (the operator's cross-engine determinism contract).
    """
    qvals = ", ".join(
        f"('{qid}', '{t}', {w})"
        for qid in sorted(query_terms)
        for t, w in sorted(query_terms[qid].items())
    )
    if mode == "elasticlunr":
        agg = "MAX(entry_score)"
    else:
        agg = "SUM(bm25_score)"
    return f"""
WITH {index_prefix()},
q AS (SELECT * FROM (VALUES {qvals}) t(query_id, qt, qw)),
entries AS (
  SELECT q.query_id, p.docid,
         sqrt(p.tf_raw) * t.idf * t.idf * f.flnorm AS entry_score,
         ln(1.0 + (f.n_docs - t.df + 0.5) / (t.df + 0.5))
           * (p.tf_raw * 2.2)
           / (p.tf_raw + 1.2 * (0.25 + 0.75 * d.doc_len / f.avg_doc_len))
           * q.qw AS bm25_score
  FROM postings p
  JOIN tstats t USING (term)
  JOIN dstats d USING (docid)
  CROSS JOIN fstats f
  JOIN q ON p.term = q.qt
),
scored AS (
  SELECT query_id, docid, ROUND({agg}, 6) AS score
  FROM entries GROUP BY query_id, docid
)
SELECT query_id, docid, score, rank FROM (
  SELECT query_id, docid, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, docid ASC) AS rank
  FROM scored
) r
WHERE rank <= {top_k}
""".strip()


def phrase_scores_sql(terms: List[str], boost: float = 1.0,
                      mode: str = "elasticlunr") -> str:
    """Exact-phrase per-doc scoring select: (docid, score).

    Mirrors search/scorer.py phrase_scores: the i-th query term must sit
    at post-pipeline token ordinal base+i; phrase_freq plays tf, the
    phrase's doc count plays df (pseudo-term scoring).
    """
    qvals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(terms))
    k = len(terms)
    hits = f"""
      SELECT t.docid, t.ord - q.qi AS base
      FROM tokord t JOIN (VALUES {qvals}) AS q(qi, term) ON t.term = q.term
      GROUP BY t.docid, t.ord - q.qi
      HAVING COUNT(DISTINCT q.qi) = {k}
    """.strip()
    if mode == "elasticlunr":
        score = (f"sqrt(p.pf) * pow(1.0 + log10(f.n_docs / (pdf.pdf + 1.0)), 2)"
                 f" * f.flnorm * {boost}")
    else:
        score = (
            f"ln(1.0 + (f.n_docs - pdf.pdf + 0.5) / (pdf.pdf + 0.5))"
            f" * (p.pf * 2.2)"
            f" / (p.pf + 1.2 * (0.25 + 0.75 * p.doc_len / f.avg_doc_len))"
            f" * {boost}"
        )
    return f"""
  SELECT p.docid, {score} AS score
  FROM (
    SELECT h.docid, COUNT(*) AS pf, MIN(d.doc_len) AS doc_len
    FROM ({hits}) h JOIN dstats d USING (docid)
    GROUP BY h.docid
  ) p
  CROSS JOIN (
    SELECT COUNT(DISTINCT docid) AS pdf FROM ({hits}) h2
  ) pdf
  CROSS JOIN fstats f
""".strip()
