"""Term facets — aggregations over a query's matched documents.

The reference has no aggregation layer (its result shape is the flat
scored hit list, core/index.ex:258-266); facets are the standard
search-engine extension on top of it: "given the docs matching this
query, which terms/values are most frequent?". Spark-first design:

* the matched-doc set comes from the same compiled query subtree every
  search runs (dsl/executor.py), keyed by ``ord`` pre-translation so
  no docid strings ride the join;
* the postings side is the term-clustered table's narrow columns — the
  semi join on the doc key is a plain hash join (AQE broadcasts the
  match set when it is small, the common case for selective queries),
  and the per-term partial aggregation is tiny because each clustered
  partition holds few distinct terms (same property the save-time
  stats aggregation exploits, build/indexer.py phase 4);
* top-n with a deterministic (count desc, term asc) tie-break is a
  TakeOrdered, never a global sort.

At 100 TB the postings scan is column-pruned to (field, term, <key>)
and the shuffle is bounded by matched-postings volume, not corpus
size. A doc-values-style doc-clustered projection would trade the
postings scan for a seek-bound lookup; with parquet the column-pruned
clustered scan is the idiomatic equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def facet_terms(inv, matches: DataFrame, field: str, top_n: int = 10,
                min_count: int = 1) -> DataFrame:
    """DataFrame(term, doc_count): the ``top_n`` most frequent terms of
    ``field`` among the docs in ``matches`` (a compiled query result
    carrying the index's doc key column), ties broken on the term.

    ``min_count`` drops long-tail terms before the top-n (facet floors
    are how UIs avoid single-doc noise buckets).
    """
    # the SAME currency the executor compiled ``matches`` in — sniffing
    # postings columns instead diverges whenever postings carry both
    # ``ord`` and ``docid`` but key_col is "docid" (e.g. a rebuilt index
    # after remove_documents), crashing the join on UNRESOLVED_COLUMN
    key = inv.key_col
    m = matches.select(key).distinct()
    p = inv.postings.where(F.col("field") == field).select("term", key)
    counts = (
        p.join(m, key, "left_semi")
        # postings are unique per (field, term, doc) by construction
        # (build/indexer.py flat-map + groupBy), so count(*) IS the
        # per-term doc count — no countDistinct shuffle widening
        .groupBy("term").agg(F.count(F.lit(1)).alias("doc_count"))
    )
    if min_count > 1:
        counts = counts.where(F.col("doc_count") >= min_count)
    return counts.orderBy(
        F.desc("doc_count"), F.asc("term")).limit(top_n)


def keywords_tfidf(inv, field: str, top_n: int = 5) -> DataFrame:
    """Per-document keyword extraction: for every doc, the ``top_n``
    terms of ``field`` by tf-idf (tf_raw * elasticlunr idf), as
    DataFrame(docid, term, score, rank) — rank 1..top_n per doc,
    rounded-score desc, term asc tie-break.

    The batch shape of "characterize every document" (tag clouds,
    weak topic labels, routing features for a training mix). Plan:
    the column-pruned postings scan joins the broadcast vocabulary for idf,
    then ONE window partitioned by the doc key ranks terms per doc —
    partitions are doc-sized (bounded by doc length), so the window
    never concentrates load; the docid string joins in only for the
    final rows.
    """
    from pyspark.sql import Window

    key = inv.key_col
    vocab = F.broadcast(
        inv.term_stats.where(F.col("field") == field).select("term", "idf"))
    scored = (
        inv.postings.where(F.col("field") == field)
        .select(key, "term", "tf_raw")
        .join(vocab, "term")
        .select(key, "term",
                F.round(F.col("tf_raw") * F.col("idf"), 6).alias("score"))
    )
    w = Window.partitionBy(key).orderBy(F.desc("score"), F.asc("term"))
    ranked = (scored.withColumn("rank", F.row_number().over(w).cast("long"))
              .where(F.col("rank") <= top_n))
    if key == "ord":
        ranked = ranked.join(inv.ordinals_df(), "ord")
    return ranked.select("docid", "term", "score", "rank")


def significant_terms(inv, matches: DataFrame, field: str,
                      top_n: int = 10, min_doc_count: int = 2) -> DataFrame:
    """ES ``significant_terms``: the terms of ``field`` that are
    ANOMALOUSLY frequent in a query's matched docs relative to the
    whole corpus — "what is this result set about, beyond what I asked
    for". DataFrame(term, fg_count, bg_count, score) — JLH score
    (ES's default heuristic): (fg_pct - bg_pct) * (fg_pct / bg_pct),
    fg_pct = fg_count/|matches|, bg_pct = df/n_docs; only terms with
    fg_pct > bg_pct qualify (ES returns positively significant terms
    only); (score desc, term asc) top-n via TakeOrdered.

    Plan shape (scale notes): the foreground counts are the facet_terms
    plan — the term-clustered postings scan column-pruned to
    (field, term, key), semi-joined with the match set (AQE broadcasts
    it for selective queries), one partial-aggregated groupBy term.
    Background df/n_docs come FREE from the vocabulary stats tables the
    save already maintains (term_stats/field_stats — never a second
    corpus pass), broadcast onto the fg counts. The two scalar totals
    ride a 1-row cross join, so the whole query is one shuffle bounded
    by matched-postings volume. Under delta generations df over-counts
    removed docs until compact() (build/deltas.py contract) — bg_pct
    inherits that, exactly like idf does.
    """
    key = inv.key_col
    m = matches.select(key).distinct()
    fg_total = m.agg(F.count(F.lit(1)).alias("fg_total"))
    fg = (
        inv.postings.where(F.col("field") == field).select("term", key)
        .join(m, key, "left_semi")
        .groupBy("term").agg(F.count(F.lit(1)).alias("fg_count"))
    )
    bg = inv.term_stats.where(F.col("field") == field) \
        .select("term", F.col("df").alias("bg_count"))
    from .scorer import _fstats_local
    from ..functions.literals import inline_rows

    fr0 = _fstats_local(inv).get(field)
    n_docs = inline_rows(
        inv.postings.sparkSession,
        [(fr0["n_docs"],)] if fr0 is not None else [], "n_docs long")
    fg_pct = F.col("fg_count") / F.col("fg_total")
    bg_pct = F.col("bg_count") / F.col("n_docs")
    scored = (
        # no broadcast hint: bg is the FULL field vocabulary (tens of
        # millions of rows at corpus scale — force-broadcasting it
        # would blow the driver), and fg is bounded by the matched
        # set's distinct terms but can still be large for broad
        # queries; AQE picks the build side from runtime sizes
        fg.join(bg, "term")
        .crossJoin(F.broadcast(fg_total))
        .crossJoin(F.broadcast(n_docs))
        .where((F.col("fg_count") >= F.lit(int(min_doc_count)))
               & (fg_pct > bg_pct))
        .select("term", "fg_count", "bg_count",
                F.round((fg_pct - bg_pct) * (fg_pct / bg_pct), 9)
                .alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("term")).limit(top_n)
