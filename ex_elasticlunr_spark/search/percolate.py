"""Percolation: reverse search over REGISTERED queries (the ES/Lucene
percolator shape — the reference family's alerting primitive; not in
heywhy/ex_elasticlunr's DSL, an extension like BM25 mode).

A percolator inverts the search direction: the queries are the stored
data (alert rules, routing rules, saved searches) and the DOCUMENTS
arrive as the stream — "which of my N registered queries match this
incoming doc?" asked for a whole batch at once. No index over the
documents is needed or built.

Plan shape (100 TB rationale — a firehose of incoming docs against
registered rules):
  * driver-side rules (the alerting case) compile to a ZERO-SHUFFLE
    map-only plan: one Arrow-batched analyzer pass produces each doc's
    distinct-term array, each rule becomes a JVM
    ``size(array_intersect(doc_terms, <rule literals>))`` test, and the
    matches explode out — the doc stream is touched once and never
    shuffled, which also makes this path STREAMING-SAFE as-is (a
    stateless per-row transform: append-mode readStream docs percolate
    with no watermark or state store; tests/test_batch_hybrid.py pins
    stream == batch);
  * corpus-sized rule sets arrive as a DataFrame instead: docs explode
    to (doc, distinct term) rows, rules hash-join on the term key, and
    the match test is one aggregation per (rule, doc) — the only
    shuffle is on (query_id, docid);
  * either way a rule matches on count-of-distinct-terms-present vs
    its term count (operator="and" semantics, the alerting default) or
    an explicit minimum_should_match.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import DataFrame, functions as F

from ..functions.literals import array_lit, empty_df

from ..functions.udfs import AnalyzerConfig, analyze_postings


def percolate(
    docs: DataFrame,
    queries: Union[dict, DataFrame],
    field: str = "text",
    docid_col: str = "docid",
    text_col: Optional[str] = None,
    analyzer: Optional[AnalyzerConfig] = None,
    minimum_should_match: Optional[int] = None,
) -> DataFrame:
    """Match every registered query against every incoming document.

    ``docs``: DataFrame carrying ``docid_col`` and the text column
    (``text_col``, default = ``field``). ``queries``: a driver-side
    ``{query_id: text}`` mapping (alert rules; broadcast), or a
    DataFrame(query_id, query_text) for corpus-sized rule sets.

    A query matches a doc when at least ``minimum_should_match`` of its
    DISTINCT analyzed terms occur among the doc's analyzed terms —
    ``None`` means ALL of them (``operator="and"``, the alerting
    default; field.ex:160-205 unit counting). Queries that analyze to
    zero terms match nothing. Returns
    DataFrame(query_id, docid, n_matched, n_terms).
    """
    cfg = analyzer or AnalyzerConfig()
    spark = docs.sparkSession
    text_col = text_col or field
    out_schema = ("query_id string, docid string, n_matched bigint, "
                  "n_terms bigint")
    msm = minimum_should_match
    if msm is not None and int(msm) < 1:
        # msm<=0 would mean "every doc matches every rule" on the dict
        # path but is unreachable on the join path (zero-overlap pairs
        # never form) — reject rather than let the two paths diverge
        raise ValueError(
            f"minimum_should_match must be >= 1, got {msm!r}")

    if isinstance(queries, dict):
        # zero-shuffle map-only plan (streaming-safe): per-doc distinct
        # term array once, then one array_intersect test per rule.
        # msm > n_terms is unmatchable, like the terms-query msm
        # contract (search/scorer.py terms_scores) — no clamping.
        pipeline = cfg.to_query_pipeline()
        from ..functions.udfs import analyze_udf

        tok = analyze_udf(cfg, positions=False)
        tests = []
        for qid, text in sorted(queries.items()):
            terms = sorted(set(pipeline.run_terms(text)))
            if not terms:
                continue  # zero-term rules match nothing
            required = len(terms) if msm is None else int(msm)
            inter = F.size(F.array_intersect(
                F.col("_dterms"), array_lit(terms, "string")))
            tests.append(F.when(inter >= F.lit(required), F.struct(
                F.lit(str(qid)).alias("query_id"),
                inter.cast("long").alias("n_matched"),
                F.lit(len(terms)).cast("long").alias("n_terms"))))
        if not tests:
            if docs.isStreaming:
                # keep the return type streaming-safe: an all-stopword
                # rule set must not hand a batch frame to writeStream
                return (docs.where(F.lit(False)).select(
                    F.col(docid_col).cast("string").alias("docid"))
                    .select(F.lit("").alias("query_id"), "docid",
                            F.lit(0).cast("long").alias("n_matched"),
                            F.lit(0).cast("long").alias("n_terms")))
            return empty_df(spark, out_schema)
        hits = (docs.select(
                    F.col(docid_col).cast("string").alias("docid"),
                    F.array_distinct(
                        tok(F.col(text_col).cast("string")))
                    .alias("_dterms"))
                .select("docid",
                        F.explode(F.array_compact(F.array(*tests)))
                        .alias("m")))
        return hits.select("m.query_id", "docid",
                           "m.n_matched", "m.n_terms")

    # DataFrame rule set: explode docs to (doc, distinct term) rows and
    # hash-join on the term key — one shuffle, on (query_id, docid)
    if cfg.query_pipeline is not None:
        # the vectorized analyzer ships (stages, separator, extra);
        # a custom query Pipeline is a driver-side object the
        # executors cannot replay (same contract as search_many)
        raise ValueError(
            "percolate with a DataFrame rule set analyzes with the "
            "index pipeline; this analyzer has a distinct "
            "query_pipeline — pass queries as a dict instead")
    stacked = docs.select(
        F.col(docid_col).cast("string").alias("docid"),
        F.lit(field).alias("field"),
        F.col(text_col).cast("string").alias("content"),
    )
    doc_terms = (
        analyze_postings(stacked, {field: cfg}, positions=False)
        .where(F.col("term").isNotNull())
        .select("docid", "term")
    )
    qstacked = queries.select(
        F.col("query_id").cast("string").alias("docid"),
        F.lit(field).alias("field"),
        F.col("query_text").cast("string").alias("content"),
    )
    qrows = (analyze_postings(qstacked, {field: cfg}, positions=False)
             .where(F.col("term").isNotNull())
             .select(F.col("docid").alias("query_id"), "term")
             .distinct())
    nt = qrows.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    qterms = qrows.join(nt, "query_id")

    per_pair = doc_terms.join(qterms, "term").groupBy(
        "query_id", "docid").agg(
        F.count_distinct("term").alias("n_matched"),
        F.first("n_terms").alias("n_terms"))
    # unmatchable-msm contract as above
    required = (F.col("n_terms") if msm is None
                else F.lit(int(msm)))
    return per_pair.where(F.col("n_matched") >= required).select(
        "query_id", "docid", "n_matched", "n_terms")
