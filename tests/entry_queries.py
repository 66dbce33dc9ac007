"""Index/serve query battery checked against DuckDB SQL oracles.

``entry(spark)``   — BM25 top-10 over a transcripts-shaped derivation of
                     the sf0.001 ``documents`` table (TESTDATA.md).
``queries()``      — named index/serve queries (plus the event-log and
                     conversation operators); each callable is
                     (spark, sf_dir) -> DataFrame.
``oracles()``      — DuckDB-runnable ANSI SQL equivalents, built from
                     the generators in ``tests/entry_sql.py``.

Float columns are rounded to 6 decimals on BOTH sides so the
comparison is stable across engines. Top-k queries order by
(rounded score desc, docid asc) on both sides for deterministic sets.
tests/test_entry_correctness.py runs every query against its oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.analysis import Pipeline
from tests.entry_sql import (
    index_prefix,
    phrase_scores_sql,
    search_many_sql,
    stopword_list_sql,
    terms_scores_sql,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# index cache (one build per sf_dir per session)
# ---------------------------------------------------------------------------

_CACHE: dict = {}


def _spread(df: DataFrame) -> DataFrame:
    # the sf tables are one parquet file each, which plans as ONE scan
    # task and serializes the index analyzer pass onto a single core;
    # results are partitioning-independent (every consumer keys on
    # docid, top-k paths tie-break deterministically)
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The DataFrame OBJECT is memoized per (session, sf_dir): plan
    # reuse only — DataFrames are immutable and lazy, so every query
    # still computes from the parquet input; this just stops each entry
    # from re-running parquet schema inference (a 1-task driver job
    # per read.parquet call).
    key = (spark.sparkContext.applicationId, sf_dir, "documents_df")
    df = _CACHE.get(key)
    if df is None:
        df = _spread(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .withColumn("docid", F.col("doc_id").cast("string"))
        )
        _CACHE[key] = df
    return df


def _index(spark: SparkSession, sf_dir: str) -> Index:
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _CACHE.get(key)
    if idx is None:
        idx = Index(name=f"docs-{sf_dir}").add_field("text")
        # doc_id is the documents table's key (unique by construction),
        # so skip the duplicate-guard full-text shuffle — it re-executes
        # in every job that touches the docs lineage and costs ~14s of
        # the ~22s cold materialize at sf0.1 (measured local[32])
        idx.add_documents(_documents(spark, sf_dir), docid_col="docid",
                          dedupe=False)
        idx.materialize()
        _CACHE[key] = idx
    return idx


def _analyze(text: str) -> list:
    return Pipeline.default().run_terms(text)


# bulk-search battery (search_many): analyzed with the same default
# pipeline on both engines
SM_QUERIES = {
    "q_spark": "spark merge window fast",
    "q_join": "fast join sort",
    "q_stream": "stream batch query data",
}


def _rounded(df: DataFrame) -> DataFrame:
    return df.select("docid", F.round("score", 6).alias("score"))


def _search(spark, sf_dir, query, mode="elasticlunr") -> DataFrame:
    return _rounded(_index(spark, sf_dir).search(query, mode=mode))


def _topk(df: DataFrame, k: int) -> DataFrame:
    return (
        df.select("docid", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def _index2(spark: SparkSession, sf_dir: str) -> Index:
    """Two-field (text + source) index: the multi-field string-search
    sugar's shape (per-field analyzers, clause-sum scoring)."""
    key = (spark.sparkContext.applicationId, sf_dir, "twofield")
    idx = _CACHE.get(key)
    if idx is None:
        idx = Index(name=f"docs2-{sf_dir}").add_field("text") \
            .add_field("source")
        idx.add_documents(_documents(spark, sf_dir), docid_col="docid",
                          dedupe=False)
        idx.materialize()
        _CACHE[key] = idx
    return idx


def _scratch(sf_dir: str, tag: str) -> str:
    import tempfile as _tf

    return os.path.join(
        _tf.gettempdir(),
        f"ex_spark_{tag}_" + sf_dir.strip("/").replace("/", "_"))


def _bump_mtime(path: str, delta_s: int) -> None:
    """Force a file-source ordering between staged parquet dirs: the
    FileStreamSource orders by modification time, so the replay's
    micro-batch order must not depend on write-latency luck."""
    base = 1700000000
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            os.utime(p, (base + delta_s, base + delta_s))


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def transcripts_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts-shaped derivation of `documents`
    (input_hint schema): conv_id groups of 10 turns, stable ordering."""
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return d.select(
        F.format_string("conv-%04d", (F.col("doc_id") % 50).cast("int")).alias("conv_id"),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("role"),
        F.col("text"),
        F.col("source").alias("tool"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("doc_id") * 60)).alias("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: index transcripts (docid = conv_id:turn_idx), BM25
    top-10 for a multi-term query — served by the multi-field
    block-max WAND fast path (search/wand.py wand_topk_multi: every
    indexed field scored in one segments pass; rank-identical to
    search_bm25, pinned in tests/test_segments_wand.py)."""
    tx = transcripts_view(spark, SF_DIR).withColumn(
        "docid", F.concat_ws(":", F.col("conv_id"), F.col("turn_idx"))
    )
    idx = Index(name="flagship").add_field("text").add_field("tool")
    idx.add_documents(tx, docid_col="docid")
    return _topk(idx.search_wand_text("spark merge window fast"), 10)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- query DSL (SURVEY.md §2.3) -----------------------------------
    q["match_all"] = lambda s, d: _search(s, d, {"query": {"match_all": {"boost": 2.5}}})
    q["terms_exact"] = lambda s, d: _search(s, d, {"query": {"terms": {"text": "spark"}}})
    q["terms_boost"] = lambda s, d: _search(
        s, d, {"query": {"terms": {"text": {"value": "spark", "boost": 2.5}}}})
    q["terms_msm"] = lambda s, d: _search(
        s, d, {"query": {"terms": {"text": {"value": ["spark", "merg", "window"],
                                              "minimum_should_match": 2}}}})
    q["terms_expand"] = lambda s, d: _search(
        s, d, {"query": {"terms": {"text": {"value": "s", "expand": True}}}})
    q["terms_fuzzy"] = lambda s, d: _search(
        s, d, {"query": {"terms": {"text": {"value": "spak", "fuzziness": 1}}}})
    q["more_like_this"] = lambda s, d: _rounded(_index(s, d).more_like_this(
        "spark merge window fast join sort", "text", max_query_terms=4))
    # term facet: top terms by doc count among the docs matching a
    # match query (search/facets.py; aggregation layer beyond the
    # reference's flat hit list)
    q["facet_terms"] = lambda s, d: _index(s, d).facet(
        {"query": {"match": {"text": "spark merge window"}}},
        "text", top_n=15)
    # prefix autocomplete from term_stats alone (Index.suggest)
    q["suggest_prefix"] = lambda s, d: _index(s, d).suggest(
        "sp", "text", top_n=10)
    # spell suggestions: vocabulary edit-ball ranked (dist, df, term)
    q["did_you_mean"] = lambda s, d: _index(s, d).did_you_mean(
        "spak", "text", top_n=5)
    # per-doc tf-idf keyword extraction (one window over the postings)
    q["keywords_tfidf"] = lambda s, d: _index(s, d).keywords("text", top_n=3)
    # count-only serving path: the compiled subtree aggregated, never
    # translated or sorted (Index.matches/count)
    q["query_count"] = lambda s, d: _index(s, d).matches(
        {"query": {"match": {"text": "spark merge window"}}}).agg(
        F.count(F.lit(1)).alias("n_docs"))
    q["terms_regex"] = lambda s, d: _search(
        s, d, {"query": {"terms": {"text": {"value": "^sp|dow$",
                                              "regex": True}}}})
    q["span_near"] = lambda s, d: _search(
        s, d, {"query": {"span_near": {"text": {"terms": ["fast", "join"],
                                                  "slop": 4}}}})
    q["match_or"] = lambda s, d: _search(
        s, d, {"query": {"match": {"text": "spark merge window"}}})

    # cursor pagination: page 2 of the match_or ranking — the entry
    # collects page 1's last sort values (exact doubles) and passes
    # them as the search_after cursor; no offset scan anywhere
    def search_after_page2(s, d):
        ix = _index(s, d)
        qq = {"query": {"match": {"text": "spark merge window"}}}
        p1 = ix.search(qq, top_k=5).collect()
        cur = (p1[-1]["score"], p1[-1]["docid"])
        return _rounded(ix.search(qq, top_k=5, search_after=cur))

    q["search_after_page2"] = search_after_page2

    # percolation (reverse search): registered alert rules matched
    # against the raw documents table — no index built or consulted
    def percolate_rules(s, d):
        from ex_elasticlunr_spark.search.percolate import percolate

        docs = s.read.parquet(f"{d}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("docid"), "text")
        rules = {"r_and": "spark merge", "r_pair": "fast join",
                 "r_one": "window"}
        return percolate(docs, rules, field="text")

    q["percolate_rules"] = percolate_rules

    # ---- doc-attribute extensions (search/attributes.py): range
    # clauses, date histograms, field collapsing over a bound
    # docid-keyed attribute table (ts synthesized deterministically:
    # 2026-01-01 + doc_id minutes; source from the documents table) ----
    def _with_attrs(s, d):
        idx = _index(s, d)
        if idx._attributes is None:
            docs = _documents(s, d).withColumn(
                "ts",
                F.to_timestamp(F.lit("2026-01-01 00:00:00"))
                + F.make_interval(mins=F.col("doc_id")))
            # src_opt: deterministic NULLs (every src0 doc) so the
            # exists clause has something real to filter
            docs = docs.withColumn(
                "src_opt", F.nullif(F.col("source"), F.lit("src0")))
            idx.bind_attributes(docs.select(
                "docid", "ts", "source", "src_opt", "n_chars"))
        return idx

    # bool(must: terms, filter: range(ts)) — the filter restricts
    # membership, scores stay the must clause's
    q["range_filter"] = lambda s, d: _rounded(_with_attrs(s, d).search(
        {"query": {"bool": {
            "must": {"terms": {"text": "spark"}},
            "filter": [{"range": {"ts": {
                "gte": "2026-01-01 01:00:00",
                "lt": "2026-01-01 05:00:00"}}}],
        }}}))

    # hourly date_histogram over a match query's doc set
    q["facet_date_hist"] = lambda s, d: _with_attrs(s, d) \
        .facet_date_histogram(
            {"query": {"match": {"text": "spark merge window"}}},
            "ts", interval="hour") \
        .select(F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")
                .alias("bucket_s"), "doc_count")

    # field collapsing: best doc per source, top-10 groups
    q["search_collapse"] = lambda s, d: _with_attrs(s, d).search_collapse(
        {"query": {"match": {"text": "spark merge window"}}},
        "source", top_k=10) \
        .select("source", "docid", F.round("score", 6).alias("score"),
                "group_size")

    # query-time synonyms: "rapid" never occurs in the corpus; the
    # synonym view bridges it to "fast" (analysis/synonyms.py,
    # Index.with_query_synonyms — zero rebuild, query analysis only)
    q["synonym_match"] = lambda s, d: _rounded(
        _index(s, d).with_query_synonyms({"rapid": ["fast"]}).search(
            {"query": {"match": {"text": "rapid"}}}))

    # constant_score: membership from the wrapped match, relevance
    # discarded — every survivor scores exactly the boost
    q["constant_score"] = lambda s, d: _rounded(_index(s, d).search(
        {"query": {"constant_score": {
            "filter": {"match": {"text": "spark merge"}},
            "boost": 3.5}}}))

    # dis_max: best clause + 0.3 x the rest — the field-disjunction
    # combinator that avoids bool/should's sum double-counting
    q["dis_max_tiebreak"] = lambda s, d: _rounded(_index(s, d).search(
        {"query": {"dis_max": {
            "queries": [{"terms": {"text": "spark"}},
                        {"terms": {"text": "fast"}},
                        {"terms": {"text": "window"}}],
            "tie_breaker": 0.3}}}))

    # boosting: spark docs, demoted x0.25 when they also say window
    # (soft must_not — demote, don't drop)
    q["boosting_demote"] = lambda s, d: _rounded(_index(s, d).search(
        {"query": {"boosting": {
            "positive": {"terms": {"text": "spark"}},
            "negative": {"terms": {"text": "window"}},
            "negative_boost": 0.25}}}))

    # numeric histogram: matched docs' n_chars in width-100 buckets
    q["facet_histogram_nchars"] = lambda s, d: _with_attrs(s, d) \
        .facet_histogram({"query": {"terms": {"text": "spark"}}},
                         "n_chars", interval=100.0)

    # significant_terms: what the "spark" result set is about beyond
    # "spark" itself — JLH-scored fg-vs-corpus term anomaly
    q["significant_terms"] = lambda s, d: _index(s, d).significant_terms(
        {"query": {"terms": {"text": "spark"}}}, "text", top_n=10)

    # exists as a bool filter: docs from src0 have NULL src_opt and drop
    q["exists_filter"] = lambda s, d: _rounded(_with_attrs(s, d).search(
        {"query": {"bool": {
            "must": {"terms": {"text": "spark"}},
            "filter": [{"exists": {"field": "src_opt"}}],
        }}}))

    # stats aggregation: n_chars over the docs matching a terms query
    q["facet_stats_nchars"] = lambda s, d: _with_attrs(s, d).facet_stats(
        {"query": {"terms": {"text": "spark"}}}, "n_chars") \
        .select("doc_count", "min_v", "max_v",
                F.round("avg_v", 6).alias("avg_v"), "sum_v")

    # recency decay: BM25-ish terms scores * exp half-life of 1h from
    # a fixed origin (ts = 2026-01-01 + doc_id minutes)
    q["search_decay_recent"] = lambda s, d: _rounded(
        _with_attrs(s, d).search_decay(
            {"query": {"terms": {"text": ["spark", "merg"]}}},
            "ts", "2026-01-01 02:00:00", 3600.0, decay=0.5,
            shape="exp", top_k=None))
    q["match_and"] = lambda s, d: _search(
        s, d, {"query": {"match": {"text": {"query": "fast join",
                                             "operator": "and"}}}})
    q["match_phrase"] = lambda s, d: _search(
        s, d, {"query": {"match_phrase": {"text": "fast join"}}})
    q["match_phrase_bm25"] = lambda s, d: _search(
        s, d, {"query": {"match_phrase": {"text": "fast join"}}}, mode="bm25")

    # HOT-TERM phrase route (round-5 positional prune): squeezing the
    # driver row cap makes this corpus's term dfs overflow it, so the
    # engine takes the conjunctive-candidate path — docs containing ALL
    # query terms bound the positions explode (scorer.
    # _phrase_conjunctive_cands), the plan q8-style hot phrases ride at
    # real scale. Shares match_phrase's oracle: the prune must be
    # invisible in results.
    def wand_phrase(s, d):
        # the serve cap rides the query options — no module-global
        # write, so a concurrent phrase query can
        # never observe the squeezed cap; routing stays eager inside
        # search() and the returned plan (inline stats or
        # pruned-distributed) is cap-independent
        ix = _index(s, d)
        return _rounded(ix.search(
            {"query": {"match_phrase": {
                "text": {"query": "fast join", "driver_max_rows": 8}}}}))

    q["wand_phrase"] = wand_phrase
    q["bool_must_should"] = lambda s, d: _search(
        s, d, {"query": {"bool": {"must": {"terms": {"text": "spark"}},
                                    "should": [{"terms": {"text": "merg"}},
                                                {"terms": {"text": "window"}}]}}})
    q["bool_must_not"] = lambda s, d: _search(
        s, d, {"query": {"bool": {"must": {"terms": {"text": "spark"}},
                                    "must_not": {"terms": {"text": "window"}},
                                    "should": [{"terms": {"text": "merg"}}]}}})
    q["bool_filter_should"] = lambda s, d: _search(
        s, d, {"query": {"bool": {"filter": [{"terms": {"text": "fast"}}],
                                    "should": [{"terms": {"text": "join"}}]}}})
    # phrase clause composed under bool/should (sum with a terms clause)
    q["bool_phrase_should"] = lambda s, d: _search(
        s, d, {"query": {"bool": {"should": [
            {"match_phrase": {"text": "fast join"}},
            {"terms": {"text": "spark"}}]}}})
    q["not_query"] = lambda s, d: _search(
        s, d, {"query": {"not": {"match": {"text": "spark"}}}})
    q["bm25_topk"] = lambda s, d: _topk(
        _index(s, d).search_bm25("spark merge window"), 10)
    # block-max WAND fast path — must be rank-identical to the
    # exhaustive BM25 plan, so it shares bm25_topk's oracle SQL
    q["wand_bm25_topk"] = lambda s, d: _topk(
        _index(s, d).search_wand("spark merge window", "text",
                                  top_k=10, mode="bm25"), 10)
    # operator:"and" on the WAND fast path (match_query.ex:52-60 -> msm
    # = term count): block-granular coverage pruning + block-max bounds,
    # rank-identical to the exhaustive msm plan (search/wand.py)
    q["wand_match_and"] = lambda s, d: _topk(
        _index(s, d).search_wand("fast join", "text", top_k=10,
                                  mode="bm25", operator="and"), 10)
    # the string-search sugar on the WAND fast path (index.ex:181-224):
    # ONE segments pass scores every indexed field of the two-field
    # index; per-field analyzers, clause-sum totals (search_wand_text)
    q["wand_string_search"] = lambda s, d: _topk(
        _index2(s, d).search_wand_text("spark src1 merge window",
                                       top_k=10, mode="bm25"), 10)

    # bool(must, should*) auto-routed through the required-clause WAND
    # (index.py _route_wand -> wand_topk_multi: must = a REQUIRED
    # clause outside the msm count) — rank-identical to the exhaustive
    # bool plan, same-field clauses deduped before decode
    def _wand_bool(s, d):
        idx = _index(s, d)
        idx.inverted.segments()  # bind: routing never builds on its own
        return _topk(idx.search(
            {"query": {"bool": {"must": {"terms": {"text": "spark"}},
                                  "should": [{"terms": {"text": "merg"}},
                                              {"terms": {"text": "window"}}]}}},
            top_k=10, mode="bm25"), 10)

    q["wand_bool"] = _wand_bool

    # the FULL bool shape (must + must_not + should) auto-routed:
    # must_not rides as a pruning-exempt NEGATIVE clause (search/wand.py)
    def _wand_bool_not(s, d):
        idx = _index(s, d)
        idx.inverted.segments()
        return _topk(idx.search(
            {"query": {"bool": {"must": {"terms": {"text": "spark"}},
                                  "must_not": {"terms": {"text": "window"}},
                                  "should": [{"terms": {"text": "merg"}}]}}},
            top_k=10, mode="bm25"), 10)

    q["wand_bool_not"] = _wand_bool_not
    q["bm25_full"] = lambda s, d: _search(
        s, d, {"query": {"match": {"text": "spark merge window"}}}, mode="bm25")
    # bulk multi-query top-k: all SM_QUERIES scored in ONE postings
    # scan + one per-(query, doc) aggregation (search/batch.py)
    q["search_many"] = lambda s, d: _index(s, d).search_many(
        SM_QUERIES, "text", top_k=10, mode="bm25")

    # item-item related docs: MoreLikeThis seeded by docid, batched —
    # seed top tf-idf terms per doc, bulk-score, per-doc top-k
    def _related(s, d):
        from ex_elasticlunr_spark.search.batch import related_documents

        return related_documents(_index(s, d).inverted, "text",
                                 docids=["0", "1", "2"],
                                 seed_terms=8, top_k=10)

    q["related_docs"] = _related

    # ---- index bookkeeping (SURVEY.md §2.2) ---------------------------
    def doc_stats(s, d):
        return _index(s, d).inverted.doc_stats.select("docid", "doc_len")

    def term_stats(s, d):
        return _index(s, d).inverted.term_stats.select(
            "term", "df", F.round("idf", 6).alias("idf"))

    def field_stats(s, d):
        return _index(s, d).inverted.field_stats.select(
            "n_docs", "n_unique_terms", F.round("flnorm", 6).alias("flnorm"),
            F.round("avg_doc_len", 6).alias("avg_doc_len"))

    def postings_tf(s, d):
        inv = _index(s, d).inverted
        return inv.postings.where(F.col("term") == "spark").select(
            "docid", "tf_raw", F.round("tf", 6).alias("tf"))

    q["doc_stats"] = doc_stats
    q["term_stats"] = term_stats
    q["field_stats"] = field_stats
    q["postings_tf"] = postings_tf

    def _delta_warehouse(s, d):
        """(HEAD-bound Index, warehouse path): base commit indexes the
        even doc_ids, one delta generation appends the odds — shared by
        delta_add (reads HEAD) and snapshot_read (time-travels to the
        base commit)."""
        import shutil as _sh
        import tempfile as _tf

        key = (s.sparkContext.applicationId, d, "delta")
        got = _CACHE.get(key)
        if got is None:
            docs = _documents(s, d)
            wh = os.path.join(
                _tf.gettempdir(),
                "ex_spark_delta_gate_" + d.strip("/").replace("/", "_"))
            _sh.rmtree(wh, ignore_errors=True)
            # positions are not needed for the terms-only check query;
            # skipping them drops the positional clustering shuffle from
            # both saves in this entry
            half = Index(name="delta-base",
                         store_positions=False).add_field("text")
            half.add_documents(docs.where(F.col("doc_id") % 2 == 0),
                               docid_col="docid", dedupe=False)
            # skip the WAND segment encode too (terms-only query); the
            # delta manifest records segments=False so save_delta's
            # generations follow suit
            half.inverted.save(wh, with_segments=False)
            loaded = Index.load(s, wh)
            loaded.add_documents(docs.where(F.col("doc_id") % 2 == 1),
                                 docid_col="docid", dedupe=False)
            loaded.save_delta()
            got = (Index.load(s, wh), wh)
            _CACHE[key] = got
        return got

    def delta_add(s, d):
        """Generational delta persistence (build/deltas.py): the
        delta-appended warehouse at HEAD must equal the terms oracle
        over the FULL table (merged idf/flnorm are exact-integer
        arithmetic, so scores are bit-identical to a single-generation
        build)."""
        idx, _wh = _delta_warehouse(s, d)
        return _rounded(idx.search({"query": {"terms": {"text": "spark"}}}))

    q["delta_add"] = delta_add

    def snapshot_read(s, d):
        """Snapshot time travel (build/indexer.py list_snapshots /
        load(at=...)): bind the SAME warehouse at its base commit
        (commit_seq 0, before the delta generation) — scores, idf and
        flnorm included, must equal an index built from the even
        doc_ids alone (the oracle derives its index CTEs under
        doc_id % 2 = 0)."""
        _idx, wh = _delta_warehouse(s, d)
        at0 = Index.load(s, wh, at=0)
        return _rounded(at0.search({"query": {"terms": {"text": "spark"}}}))

    q["snapshot_read"] = snapshot_read

    def tiered_compact(s, d):
        """Tiered merge (build/deltas.py compact_tiered): base indexes
        doc_id%3==0, two delta generations append the other thirds,
        gen 1 also REMOVES the doc_id%10==0 base docs. Folding the two
        generations into one mid-tier generation (base untouched) must
        leave search results bit-identical to a fresh build over the
        live doc set — carried tombstones still kill the base docs,
        merged df/idf/flnorm stay exact-integer arithmetic."""
        import shutil as _sh
        import tempfile as _tf

        key = (s.sparkContext.applicationId, d, "tiered")
        idx = _CACHE.get(key)
        if idx is None:
            # maintenance mechanics are size-independent: a 200-doc
            # slice keeps this entry's six commits cheap (the full-size randomized referee lives in
            # tests/test_tiered_compaction.py)
            docs = _documents(s, d).where(F.col("doc_id") < 200)
            wh = os.path.join(
                _tf.gettempdir(),
                "ex_spark_tiered_gate_" + d.strip("/").replace("/", "_"))
            _sh.rmtree(wh, ignore_errors=True)
            base = Index(name="tiered-base",
                         store_positions=False).add_field("text")
            base.add_documents(docs.where(F.col("doc_id") % 3 == 0),
                               docid_col="docid", dedupe=False)
            base.inverted.save(wh, with_segments=False)
            loaded = Index.load(s, wh)
            # two pending add batches + a removal between them commit
            # as TWO generations in one save_delta (tombstones ride
            # gen 1, so they kill only the base — the %3==2 adds come
            # after the removal and stay live even where %10==0)
            loaded.add_documents(docs.where(F.col("doc_id") % 3 == 1),
                                 docid_col="docid", dedupe=False)
            loaded.remove_documents(
                docs.where(F.col("doc_id") % 10 == 0).select("docid"))
            loaded.add_documents(docs.where(F.col("doc_id") % 3 == 2),
                                 docid_col="docid", dedupe=False)
            loaded.save_delta()
            loaded = Index.load(s, wh)
            loaded.inverted.compact_tiered(tail=2)
            idx = Index.load(s, wh)
            _CACHE[key] = idx
        return _rounded(idx.search({"query": {"terms": {"text": "spark"}}}))

    q["tiered_compact"] = tiered_compact

    from ex_elasticlunr_spark.operators import conversations
    q["conv_documents"] = lambda s, d: conversations.conversation_documents(
        transcripts_view(s, d).where(F.col("text").isNotNull()))
    q["sft_pairs"] = lambda s, d: conversations.sft_pairs(
        transcripts_view(s, d).where(F.col("text").isNotNull()))
    def snippets(s, d):
        from ex_elasticlunr_spark.search import highlight
        return highlight.snippet_ords(
            _index(s, d).inverted, "text", _analyze("spark merge"),
            window=5)

    q["snippet_ords"] = snippets

    def hl_spans(s, d):
        # char-offset spans + original-text excerpt; spans projected to
        # a flat "start:len,..." string so the row canonicalizer never
        # sees the array<struct> column
        from ex_elasticlunr_spark.search import highlight
        res = highlight.highlight_spans(
            _index(s, d).inverted, "text", _analyze("spark merge"),
            source=_documents(s, d), context=30)
        return res.select(
            "docid",
            F.size("spans").cast("long").alias("n_spans"),
            F.array_join(
                F.transform(
                    "spans",
                    lambda sp: F.concat_ws(
                        ":", sp["start"].cast("string"),
                        sp["length"].cast("string"))),
                ",").alias("spans_str"),
            "excerpt")

    q["highlight_spans"] = hl_spans

    # ---- event log (operators/events.py) --------------------------------
    # timestamps project as fixed-width wall-clock strings on both
    # engines: events.parquet reads as TIMESTAMP_NTZ in Spark, and
    # string projection avoids every session-timezone / tz-format
    # divergence an epoch or raw-timestamp column would risk
    from ex_elasticlunr_spark.operators import events as ev_ops

    def event_sessions(s, d):
        st = ev_ops.session_stats(
            s.read.parquet(f"{d}/events.parquet"), gap_minutes=30)
        return st.select(
            "user_id", "session_idx", "session_id",
            F.date_format("session_start",
                          "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("start_s"),
            F.date_format("session_end",
                          "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("end_s"),
            "n_events", "n_event_types", "sum_value")

    q["event_sessions"] = event_sessions
    q["event_windowed"] = lambda s, d: ev_ops.windowed_counts(
        s.read.parquet(f"{d}/events.parquet"), window="1 hour").select(
            F.date_format("window_start",
                          "yyyy-MM-dd HH:mm:ss").alias("window_start_s"),
            "event_type", "n_events", "sum_value")
    # ordered-step conversion funnel (strict-order min-ts cascade)
    q["event_funnel"] = lambda s, d: ev_ops.funnel(
        s.read.parquet(f"{d}/events.parquet"),
        ["view", "click", "purchase"])
    # first-active-date cohort retention (dates project as strings)
    q["event_retention"] = lambda s, d: ev_ops.retention(
        s.read.parquet(f"{d}/events.parquet"))

    # ---- streaming == batch entries --------------------------------------
    # Each runs the streaming operator over a bounded 2-file replay of
    # the same parquet tables (availableNow, maxFilesPerTrigger=1 => two
    # real micro-batches with cross-batch state) and returns the landed
    # result; the oracle is the BATCH operator's SQL, so the check is
    # streaming == batch.
    import shutil as _sh

    def _await_stop(sq, secs: int) -> None:
        # stop-then-fail termination guard
        from ex_elasticlunr_spark.streaming.ingest import await_terminated

        await_terminated(sq, secs)

    def stream_index_eq(s, d):
        """stream_to_index: base save + delta generation per micro-batch
        (streaming/ingest.py) — the loaded warehouse must score exactly
        like a single batch build (terms_exact's oracle)."""
        from ex_elasticlunr_spark.streaming.ingest import stream_to_index

        key = (s.sparkContext.applicationId, d, "stream_idx")
        idx = _CACHE.get(key)
        if idx is None:
            docs = _documents(s, d)
            src, wh = _scratch(d, "simsrc"), _scratch(d, "simwh")
            for p in (src, wh):
                _sh.rmtree(p, ignore_errors=True)
            docs.where(F.col("doc_id") % 2 == 0).coalesce(1) \
                .write.parquet(os.path.join(src, "f1.parquet"))
            _bump_mtime(os.path.join(src, "f1.parquet"), 0)
            docs.where(F.col("doc_id") % 2 == 1).coalesce(1) \
                .write.parquet(os.path.join(src, "f2.parquet"))
            _bump_mtime(os.path.join(src, "f2.parquet"), 60)
            stream = s.readStream.schema(docs.schema) \
                .option("maxFilesPerTrigger", "1") \
                .parquet(src + "/*.parquet")
            # the equivalence query is terms-only: skip the positional
            # clustering shuffle and the WAND segment encode in both the
            # base save and the per-batch save_delta (pure test-time cut;
            # the full positional/segment streaming path is pinned in
            # tests/test_streaming.py)
            _await_stop(stream_to_index(stream, ["text"], wh,
                                        docid_col="docid", dedupe=False,
                                        store_positions=False,
                                        with_segments=False),
                        600)
            idx = Index.load(s, wh)
            _CACHE[key] = idx
        return _rounded(idx.search({"query": {"terms": {"text": "spark"}}}))

    q["stream_index_batch_eq"] = stream_index_eq

    def stream_sessions_eq(s, d):
        """sessionize_stream (applyInPandasWithState): events replayed
        chronologically split across two micro-batches — sessions
        straddling the split exercise cross-batch state; the LAST
        emission per session (max n_events) must equal the batch
        session_stats oracle."""
        key = (s.sparkContext.applicationId, d, "stream_sess")
        out = _CACHE.get(key)
        if out is None:
            ev = s.read.parquet(f"{d}/events.parquet")
            cutoff = "2024-01-16 00:00:00"
            src = _scratch(d, "sssrc")
            _sh.rmtree(src, ignore_errors=True)
            ev.where(F.col("ts") < cutoff).coalesce(1) \
                .write.parquet(os.path.join(src, "f1.parquet"))
            _bump_mtime(os.path.join(src, "f1.parquet"), 0)
            ev.where(F.col("ts") >= cutoff).coalesce(1) \
                .write.parquet(os.path.join(src, "f2.parquet"))
            _bump_mtime(os.path.join(src, "f2.parquet"), 60)
            stream = s.readStream.schema(ev.schema) \
                .option("maxFilesPerTrigger", "1") \
                .parquet(src + "/*.parquet")
            qn = "ss_" + d.strip("/").replace("/", "_").replace(".", "_")
            # idle_timeout_ms=None: processing-time timers never fire
            # under availableNow and keep the query alive forever
            # (events.py sessionize_stream docstring) — the bounded
            # replay needs NoTimeout to drain and terminate
            sq = (ev_ops.sessionize_stream(stream, gap_minutes=30,
                                           idle_timeout_ms=None)
                  .writeStream.format("memory").queryName(qn)
                  .outputMode("update").trigger(availableNow=True).start())
            _await_stop(sq, 600)
            from pyspark.sql.window import Window

            # update mode re-emits a session each batch that touches it;
            # n_events grows strictly per touch, so max n_events = the
            # final row (timeout flushes re-emit it verbatim -> distinct)
            w = Window.partitionBy("session_id").orderBy(
                F.desc("n_events"), F.desc("session_end"))
            out = (s.table(qn).distinct()
                   .withColumn("rn", F.row_number().over(w))
                   .where(F.col("rn") == 1)
                   .select(
                       "user_id", "session_idx", "session_id",
                       F.date_format("session_start",
                                     "yyyy-MM-dd HH:mm:ss.SSSSSS")
                       .alias("start_s"),
                       F.date_format("session_end",
                                     "yyyy-MM-dd HH:mm:ss.SSSSSS")
                       .alias("end_s"),
                       "n_events",
                       F.round("sum_value", 6).alias("sum_value"))
                   .localCheckpoint(eager=True))
            _CACHE[key] = out
        return out

    q["stream_sessions_batch_eq"] = stream_sessions_eq

    return q


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------


def _wrap(prefix: str, body: str) -> str:
    return f"WITH {prefix}\n{body}"


def _score_query(body: str) -> str:
    return _wrap(
        index_prefix(),
        f"SELECT docid, ROUND(score, 6) AS score FROM ({body}) r",
    )


def oracles() -> dict[str, str]:
    pre = index_prefix()
    o: dict[str, str] = {}

    o["match_all"] = (
        "SELECT CAST(doc_id AS VARCHAR) AS docid, 2.5::DOUBLE AS score "
        "FROM documents WHERE text IS NOT NULL"
    )
    o["terms_exact"] = _score_query(terms_scores_sql(["spark"]))
    # a delta-appended index must score exactly like a single-generation
    # build over the full table — same oracle as terms_exact
    o["delta_add"] = _score_query(terms_scores_sql(["spark"]))
    # time travel to the pre-delta commit = an index over the even
    # doc_ids only (stats derived over the subset, like a fresh build)
    o["snapshot_read"] = _wrap(
        index_prefix(doc_where="doc_id % 2 = 0"),
        "SELECT docid, ROUND(score, 6) AS score FROM ("
        + terms_scores_sql(["spark"]) + ") r")
    # tiered merge: base + folded mid-tier generation + carried
    # tombstones == a fresh build over the live set. The gen-1 removal
    # of doc_id%10==0 kills only docs that existed at that point (base
    # %3==0 and the same-batch %3==1 adds); gen 2's %3==2 adds come
    # AFTER the tombstone, so its %10==0 docs are live
    o["tiered_compact"] = _wrap(
        index_prefix(doc_where="doc_id < 200 "
                     "AND (doc_id % 10 <> 0 OR doc_id % 3 = 2)"),
        "SELECT docid, ROUND(score, 6) AS score FROM ("
        + terms_scores_sql(["spark"]) + ") r")
    o["terms_boost"] = _score_query(terms_scores_sql(["spark"], boost=2.5))
    o["terms_msm"] = _score_query(
        terms_scores_sql(["spark", "merg", "window"], minimum_should_match=2))
    o["terms_expand"] = _score_query(terms_scores_sql(["s"], expand=True))
    o["terms_fuzzy"] = _score_query(terms_scores_sql(["spak"], fuzziness=1))
    o["terms_regex"] = _score_query(
        terms_scores_sql(["^sp|dow$"], regex=True))
    # MoreLikeThis: seed terms + tf computed at oracle-build time by the
    # same Python pipeline; top-4 tf*idf selection happens in-engine on
    # both sides (idf is corpus-dependent), ties broken on the term
    mlt_toks = _analyze("spark merge window fast join sort")
    mlt_tf: dict = {}
    for t in mlt_toks:
        mlt_tf[t] = mlt_tf.get(t, 0) + 1
    mlt_vals = ", ".join(f"('{t}', {n})" for t, n in sorted(mlt_tf.items()))
    o["more_like_this"] = f"""
WITH {pre},
seed AS (SELECT * FROM (VALUES {mlt_vals}) s(term, tf)),
picked AS (
  SELECT s.term FROM seed s JOIN tstats t USING (term)
  ORDER BY s.tf * t.idf DESC, s.term ASC LIMIT 4
),
entries AS (
  SELECT p.docid, sqrt(p.tf_raw) * t.idf * t.idf * f.flnorm AS entry_score
  FROM postings p JOIN tstats t USING (term)
  JOIN picked q ON p.term = q.term
  CROSS JOIN fstats f
)
SELECT docid, ROUND(MAX(entry_score), 6) AS score FROM entries GROUP BY docid
"""
    # proximity: min token-ordinal distance between the two terms' stored
    # occurrences; score = 1/(1+dist), rows where dist <= slop
    o["span_near"] = _wrap(pre, """
SELECT docid, ROUND(1.0 / (1.0 + dist), 6) AS score
FROM (
  SELECT a.docid, MIN(abs(a.ord - b.ord)) AS dist
  FROM tokord a JOIN tokord b USING (docid)
  WHERE a.term = 'fast' AND b.term = 'join'
  GROUP BY a.docid
) h
WHERE dist <= 4
""".strip())
    o["match_or"] = _score_query(terms_scores_sql(_analyze("spark merge window")))
    # percolation: registered rules vs the documents table — a rule
    # matches a doc when ALL its analyzed terms occur in the doc
    # (operator="and"); rule terms are analyzed at SQL-build time with
    # the same driver-side pipeline the engine's dict path uses
    def _rule_values() -> str:
        rules = {"r_and": "spark merge", "r_pair": "fast join",
                 "r_one": "window"}
        vals = []
        for qid, text in sorted(rules.items()):
            terms = sorted(set(_analyze(text)))
            for t in terms:
                vals.append(f"('{qid}', '{t}', {len(terms)})")
        return ", ".join(vals)

    o["percolate_rules"] = _wrap(pre, f"""
, rules(query_id, term, n_terms) AS (VALUES {_rule_values()})
SELECT r.query_id, p.docid,
       COUNT(DISTINCT p.term)::BIGINT AS n_matched,
       r.n_terms::BIGINT AS n_terms
FROM rules r
JOIN (SELECT DISTINCT docid, term FROM postings) p USING (term)
GROUP BY r.query_id, p.docid, r.n_terms
HAVING COUNT(DISTINCT p.term) >= r.n_terms
""")
    # cursor page 2 = ranks 6-10 of the same (raw score desc, docid asc)
    # ordering; the engine's cursor filter reproduces exactly this slice
    o["search_after_page2"] = _wrap(index_prefix(), f"""
SELECT docid, score FROM (
  SELECT r.docid, ROUND(r.score, 6) AS score,
         ROW_NUMBER() OVER (ORDER BY r.score DESC, r.docid ASC) AS rn
  FROM ({terms_scores_sql(_analyze("spark merge window"))}) r
) p WHERE rn BETWEEN 6 AND 10
""")
    # facet: per-term doc counts over the match's doc set; postings are
    # unique per (term, doc) so COUNT(*) is the doc count
    o["facet_terms"] = _wrap(pre, f"""
, base AS (
  SELECT DISTINCT docid
  FROM ({terms_scores_sql(_analyze("spark merge window"))}) m
)
SELECT p.term, COUNT(*) AS doc_count
FROM postings p JOIN base USING (docid)
GROUP BY p.term
ORDER BY doc_count DESC, p.term ASC
LIMIT 15
""")
    # range filter: ts = 2026-01-01 + doc_id minutes; the bool filter
    # restricts membership, scores are the must clause's terms scores
    o["range_filter"] = _score_query(f"""
SELECT r.docid, r.score FROM ({terms_scores_sql(["spark"])}) r
JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.docid
WHERE TIMESTAMP '2026-01-01 00:00:00' + d.doc_id * INTERVAL 1 MINUTE
        >= TIMESTAMP '2026-01-01 01:00:00'
  AND TIMESTAMP '2026-01-01 00:00:00' + d.doc_id * INTERVAL 1 MINUTE
        < TIMESTAMP '2026-01-01 05:00:00'
""")
    # hourly histogram over the match's matched-doc set
    o["facet_date_hist"] = _wrap(pre, f"""
, m AS (
  SELECT DISTINCT docid
  FROM ({terms_scores_sql(_analyze("spark merge window"))}) r
)
SELECT strftime(time_bucket(INTERVAL '1 hour',
                TIMESTAMP '2026-01-01 00:00:00'
                  + d.doc_id * INTERVAL 1 MINUTE),
                '%Y-%m-%d %H:%M:%S') AS bucket_s,
       COUNT(*)::BIGINT AS doc_count
FROM m JOIN documents d ON CAST(d.doc_id AS VARCHAR) = m.docid
GROUP BY 1
""")
    # synonym view: match "rapid" expands to terms [rapid, fast];
    # rapid matches nothing, so scores are fast's max-over-terms
    o["synonym_match"] = _score_query(terms_scores_sql(["rapid", "fast"]))
    # constant_score: the match's doc set, every score := boost
    o["constant_score"] = _wrap(pre, f"""
SELECT DISTINCT docid, 3.5::DOUBLE AS score
FROM ({terms_scores_sql(_analyze("spark merge"))}) r
""")
    # dis_max: per-doc best clause + 0.3 * remaining clause scores
    o["dis_max_tiebreak"] = _wrap(pre, f"""
, clauses AS (
  SELECT docid, score FROM ({terms_scores_sql(["spark"])}) a
  UNION ALL
  SELECT docid, score FROM ({terms_scores_sql(["fast"])}) b
  UNION ALL
  SELECT docid, score FROM ({terms_scores_sql(["window"])}) c
)
SELECT docid,
       ROUND(MAX(score) + 0.3 * (SUM(score) - MAX(score)), 6) AS score
FROM clauses GROUP BY docid
""")
    # boosting: positive scores, x0.25 where the doc also matches the
    # negative clause (membership only — negative scores never surface)
    o["boosting_demote"] = _wrap(pre, f"""
SELECT p.docid,
       ROUND(p.score * CASE WHEN n.docid IS NOT NULL
                            THEN 0.25 ELSE 1.0 END, 6) AS score
FROM ({terms_scores_sql(["spark"])}) p
LEFT JOIN (
  SELECT DISTINCT docid FROM ({terms_scores_sql(["window"])}) w
  WHERE score > 0
) n USING (docid)
""")
    # width-100 histogram over the matched docs' n_chars
    o["facet_histogram_nchars"] = _wrap(pre, f"""
, m AS (
  SELECT DISTINCT docid FROM ({terms_scores_sql(["spark"])}) r
)
SELECT (FLOOR(d.n_chars / 100.0) * 100.0)::DOUBLE AS bucket,
       COUNT(*)::BIGINT AS doc_count
FROM m JOIN documents d ON CAST(d.doc_id AS VARCHAR) = m.docid
GROUP BY 1
""")
    # significant_terms: JLH over fg (matched docs) vs bg (corpus df),
    # same expression order as the engine for bit-stable doubles
    o["significant_terms"] = _wrap(pre, f"""
, m AS (
  SELECT DISTINCT docid FROM ({terms_scores_sql(["spark"])}) r
),
fg AS (
  SELECT p.term, COUNT(*)::BIGINT AS fg_count
  FROM postings p JOIN m USING (docid)
  GROUP BY p.term
),
tot AS (SELECT COUNT(*) AS fg_total FROM m)
SELECT fg.term, fg.fg_count, t.df::BIGINT AS bg_count,
       ROUND((fg.fg_count / tot.fg_total - t.df / f.n_docs)
             * ((fg.fg_count / tot.fg_total) / (t.df / f.n_docs)),
             9) AS score
FROM fg JOIN tstats t ON fg.term = t.term
CROSS JOIN tot CROSS JOIN fstats f
WHERE fg.fg_count >= 2
  AND fg.fg_count / tot.fg_total > t.df / f.n_docs
ORDER BY score DESC, fg.term ASC
LIMIT 10
""")
    # exists filter: src_opt = NULLIF(source, 'src0') — src0 docs drop,
    # scores stay the must clause's terms scores
    o["exists_filter"] = _score_query(f"""
SELECT r.docid, r.score FROM ({terms_scores_sql(["spark"])}) r
JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.docid
WHERE NULLIF(d.source, 'src0') IS NOT NULL
""")
    # stats aggregation over the matched docs' n_chars
    o["facet_stats_nchars"] = _wrap(pre, f"""
, m AS (
  SELECT DISTINCT docid
  FROM ({terms_scores_sql(["spark"])}) r
)
SELECT COUNT(d.n_chars)::BIGINT AS doc_count,
       MIN(d.n_chars)::DOUBLE AS min_v,
       MAX(d.n_chars)::DOUBLE AS max_v,
       ROUND(AVG(d.n_chars), 6) AS avg_v,
       SUM(d.n_chars)::DOUBLE AS sum_v
FROM m JOIN documents d ON CAST(d.doc_id AS VARCHAR) = m.docid
""")
    # exp decay with half-life 3600s from 02:00; ts = midnight +
    # doc_id minutes, so the distance is |60*doc_id - 7200| seconds
    o["search_decay_recent"] = _score_query(f"""
SELECT r.docid,
       r.score * EXP(LN(0.5) / 3600.0
                     * ABS(d.doc_id * 60.0 - 7200.0)) AS score
FROM ({terms_scores_sql(_analyze("spark merge"))}) r
JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.docid
""")
    # collapse: per-source (raw score desc, docid asc) winner + group
    # size; the top-10 groups picked on RAW scores (rounding only in
    # the output) — same currency the engine's min_by/TakeOrdered uses
    o["search_collapse"] = _wrap(pre, f"""
, sc AS ({terms_scores_sql(_analyze("spark merge window"))})
, j AS (
  SELECT d.source, sc.docid, sc.score,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY sc.score DESC, sc.docid ASC) AS rn,
         COUNT(*) OVER (PARTITION BY d.source) AS gs
  FROM sc JOIN documents d ON CAST(d.doc_id AS VARCHAR) = sc.docid
)
SELECT source, docid, ROUND(score, 6) AS score, group_size FROM (
  SELECT source, docid, score, gs::BIGINT AS group_size
  FROM j WHERE rn = 1
  ORDER BY score DESC, docid ASC LIMIT 10
) t
""")
    # operator=and => msm = token count
    and_terms = _analyze("fast join")
    o["match_and"] = _score_query(
        terms_scores_sql(and_terms, minimum_should_match=len(and_terms)))

    phrase_terms = _analyze("fast join")
    o["match_phrase"] = _score_query(phrase_scores_sql(phrase_terms))
    o["match_phrase_bm25"] = _score_query(
        phrase_scores_sql(phrase_terms, mode="bm25"))
    # the hot-term conjunctive route must be invisible in results:
    # identical oracle to match_phrase
    o["wand_phrase"] = o["match_phrase"]

    must = terms_scores_sql(["spark"])
    o["bool_must_should"] = _wrap(pre, f"""
, base AS ({must})
, sh AS (
  SELECT docid, SUM(score) AS should_score, COUNT(*) AS matched FROM (
    {terms_scores_sql(["merg"], restrict="base")}
    UNION ALL
    {terms_scores_sql(["window"], restrict="base")}
  ) u GROUP BY docid
)
SELECT b.docid, ROUND(b.score + coalesce(sh.should_score, 0), 6) AS score
FROM base b LEFT JOIN sh USING (docid)
WHERE coalesce(sh.matched, 0) >= 1
  AND b.score + coalesce(sh.should_score, 0) > 0
""")
    # phrase clause under bool/should: clause scores sum per doc
    o["bool_phrase_should"] = _wrap(pre, f"""
, sh AS (
  SELECT docid, SUM(score) AS score, COUNT(*) AS matched FROM (
    {phrase_scores_sql(_analyze("fast join"))}
    UNION ALL
    {terms_scores_sql(["spark"])}
  ) u GROUP BY docid
)
SELECT docid, ROUND(score, 6) AS score FROM sh
WHERE matched >= 1 AND score > 0
""")
    # must_not window: filter = NOT(window) -> survivors score 1, then must
    o["bool_must_not"] = _wrap(pre, f"""
, notf AS (
  SELECT docid, 1.0 AS score FROM ids
  WHERE docid NOT IN (SELECT docid FROM ({terms_scores_sql(["window"])}) w)
)
, base AS (
  SELECT docid, score FROM ({terms_scores_sql(["spark"], restrict="notf")}) m
)
, sh AS (
  SELECT docid, SUM(score) AS should_score, COUNT(*) AS matched FROM (
    {terms_scores_sql(["merg"], restrict="base")}
  ) u GROUP BY docid
)
SELECT b.docid, ROUND(b.score + coalesce(sh.should_score, 0), 6) AS score
FROM base b LEFT JOIN sh USING (docid)
WHERE coalesce(sh.matched, 0) >= 1
  AND b.score + coalesce(sh.should_score, 0) > 0
""")
    # filter fast (scores seed the base! bool_query.ex:110-124), should join
    o["bool_filter_should"] = _wrap(pre, f"""
, base AS (SELECT docid, score FROM ({terms_scores_sql(["fast"])}) f WHERE score > 0)
, sh AS (
  SELECT docid, SUM(score) AS should_score, COUNT(*) AS matched FROM (
    {terms_scores_sql(["join"], restrict="base")}
  ) u GROUP BY docid
)
SELECT b.docid, ROUND(b.score + coalesce(sh.should_score, 0), 6) AS score
FROM base b LEFT JOIN sh USING (docid)
WHERE coalesce(sh.matched, 0) >= 1
  AND b.score + coalesce(sh.should_score, 0) > 0
""")
    o["not_query"] = _wrap(pre, f"""
SELECT docid, 1.0 AS score FROM ids
WHERE docid NOT IN (SELECT docid FROM ({terms_scores_sql(["spark"])}) m WHERE score > 0)
""")
    bm_terms = _analyze("spark merge window")
    o["bm25_topk"] = _wrap(pre, f"""
SELECT docid, ROUND(score, 6) AS score
FROM ({terms_scores_sql(bm_terms, mode="bm25")}) r
ORDER BY ROUND(score, 6) DESC, docid ASC LIMIT 10
""")
    o["bm25_full"] = _score_query(terms_scores_sql(bm_terms, mode="bm25"))

    o["doc_stats"] = _wrap(pre, "SELECT docid, doc_len FROM dstats")
    o["term_stats"] = _wrap(
        pre, "SELECT term, df, ROUND(idf, 6) AS idf FROM tstats")
    o["suggest_prefix"] = _wrap(pre, """
SELECT term, df FROM tstats WHERE term LIKE 'sp%'
ORDER BY df DESC, term ASC LIMIT 10
""")
    # 'spak' analyzes to itself (no stopword, stem-stable); dist > 0
    # excludes the input term like the engine
    o["did_you_mean"] = _wrap(pre, """
SELECT term, df, levenshtein(term, 'spak')::INT AS dist FROM tstats
WHERE levenshtein(term, 'spak') BETWEEN 1 AND 1
ORDER BY dist ASC, df DESC, term ASC LIMIT 5
""")
    # per-doc tf-idf keywords: one window over postings x vocabulary
    o["keywords_tfidf"] = _wrap(pre, """
, scored AS (
  SELECT p.docid, p.term, ROUND(p.tf_raw * t.idf, 6) AS score
  FROM postings p JOIN tstats t USING (term)
)
SELECT docid, term, score, rank FROM (
  SELECT docid, term, score,
         row_number() OVER (PARTITION BY docid
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
) r
WHERE rank <= 3
""")
    o["field_stats"] = _wrap(pre, """
SELECT n_docs, n_unique_terms, ROUND(flnorm, 6) AS flnorm,
       ROUND(avg_doc_len, 6) AS avg_doc_len
FROM fstats
""")
    o["postings_tf"] = _wrap(pre, """
SELECT docid, tf_raw, ROUND(sqrt(tf_raw), 6) AS tf
FROM postings WHERE term = 'spark'
""")

    # item-item related docs: seed top-8 tf-idf terms per seed doc, max
    # entry score per candidate, self excluded, per-seed top-10
    o["related_docs"] = _wrap(pre, """
, seeds AS (
  SELECT docid AS qid, term FROM (
    SELECT p.docid, p.term,
           row_number() OVER (PARTITION BY p.docid
                              ORDER BY p.tf_raw * t.idf DESC,
                                       p.term ASC) AS rn
    FROM postings p JOIN tstats t USING (term)
    WHERE p.docid IN ('0', '1', '2')
  ) s WHERE rn <= 8
),
entries AS (
  SELECT s.qid, p.docid,
         sqrt(p.tf_raw) * t.idf * t.idf * f.flnorm AS entry_score
  FROM seeds s
  JOIN postings p ON p.term = s.term
  JOIN tstats t ON t.term = p.term
  CROSS JOIN fstats f
  WHERE p.docid <> s.qid
),
scored AS (
  SELECT qid, docid, ROUND(MAX(entry_score), 6) AS score
  FROM entries GROUP BY qid, docid
)
SELECT qid, docid, score, rank FROM (
  SELECT qid, docid, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, docid ASC) AS rank
  FROM scored
) r
WHERE rank <= 10
""")
    # agg-only count of the match_or matched set
    o["query_count"] = _wrap(pre, f"""
SELECT COUNT(*) AS n_docs
FROM ({terms_scores_sql(_analyze("spark merge window"))}) r
""")
    # the transcripts-shaped derivation of documents (transcripts_view)
    # re-derived in SQL: conv groups of doc_id%50, deterministic roles
    tx_cte = """
tx AS (
  SELECT printf('conv-%04d', CAST(doc_id % 50 AS INT)) AS conv_id,
         CAST(floor(doc_id / 50.0) AS BIGINT) AS turn_idx,
         (['user', 'assistant', 'tool'])[CAST(doc_id % 3 AS INT) + 1] AS role,
         text
  FROM documents
  WHERE text IS NOT NULL
)""".strip()
    o["conv_documents"] = f"""
WITH {tx_cte}
SELECT conv_id, COUNT(*)::BIGINT AS n_turns,
       string_agg(role || ': ' || text, chr(10) ORDER BY turn_idx) AS doc
FROM tx GROUP BY conv_id
"""
    o["sft_pairs"] = f"""
WITH {tx_cte}
SELECT conv_id, turn_idx,
       COALESCE(string_agg(role || ': ' || text, chr(10))
                  OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                '') AS prompt,
       text AS completion
FROM tx
QUALIFY role = 'assistant'
"""
    stop_sql = stopword_list_sql()
    # token-ordinal snippets around the first query-term hit: matched
    # docs from tokord, window rebuild via an ordinal range join
    snip_terms = ", ".join(f"'{t}'" for t in _analyze("spark merge"))
    o["snippet_ords"] = _wrap(pre + """,
matched AS (
  SELECT docid, MIN(ord) AS first_ord, COUNT(*) AS n_matches
  FROM tokord WHERE term IN (%s) GROUP BY docid
),
snip AS (
  SELECT t.docid,
         array_to_string(list(t.term ORDER BY t.ord), ' ') AS snippet
  FROM tokord t JOIN matched m
    ON t.docid = m.docid
   AND t.ord >= m.first_ord AND t.ord < m.first_ord + 5
  GROUP BY t.docid
)""" % snip_terms, """
SELECT m.docid, m.first_ord::BIGINT AS first_ord,
       m.n_matches::BIGINT AS n_matches, s.snippet
FROM matched m JOIN snip s USING (docid)
""")

    # char-offset highlight spans + excerpt: token starts re-derived by
    # prefix sum over raw token lengths (the corpus is single-space
    # separated — verified property of the synthetic documents tables;
    # the engine records tokenizer (start, len) of the downcased text)
    hl_terms = ", ".join(f"'{t}'" for t in _analyze("spark merge"))
    o["highlight_spans"] = _wrap(pre + f""",
pos0 AS (
  SELECT docid, tok, ord0,
         CAST(coalesce(SUM(length(tok)) OVER (
                PARTITION BY docid ORDER BY ord0
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + (ord0 - 1) AS INT) AS start,
         CAST(length(tok) AS INT) AS len
  FROM tok0
),
hlocc AS (
  SELECT p.docid, coalesce(m.stem, p.tok) AS term, p.start, p.len
  FROM pos0 p LEFT JOIN stem_map m ON m.word = p.tok
  WHERE p.tok NOT IN ({stop_sql})
),
hhits AS (SELECT docid, start, len FROM hlocc WHERE term IN ({hl_terms})),
hagg AS (
  SELECT docid, COUNT(*) AS n_spans,
         string_agg(start || ':' || len, ',' ORDER BY start, len) AS spans_str,
         MIN(start) AS first_start, MAX(start + len) AS last_end
  FROM hhits GROUP BY docid
)""", """
SELECT a.docid, a.n_spans::BIGINT AS n_spans, a.spans_str,
       substring(d.text,
                 CAST(greatest(first_start - 30, 0) AS INT) + 1,
                 CAST(last_end + 30 - greatest(first_start - 30, 0) AS INT)
       ) AS excerpt
FROM hagg a
JOIN (SELECT CAST(doc_id AS VARCHAR) AS docid, text FROM documents) d
  USING (docid)
""")

    o["wand_bm25_topk"] = o["bm25_topk"]
    # operator:"and" => bm25 msm = term count, top-10 (WAND fast path
    # must be rank-identical to the exhaustive msm plan)
    wa_terms = _analyze("fast join")
    o["wand_match_and"] = _wrap(pre, f"""
SELECT docid, ROUND(score, 6) AS score
FROM ({terms_scores_sql(wa_terms,
                        minimum_should_match=len(wa_terms),
                        mode="bm25")}) r
ORDER BY ROUND(score, 6) DESC, docid ASC LIMIT 10
""")
    # the full bool shape in bm25 routed through WAND: must required,
    # must_not a negative clause (pure exclusion), should summed
    o["wand_bool_not"] = _wrap(pre, f"""
, notf AS (
  SELECT docid, 1.0 AS score FROM ids
  WHERE docid NOT IN (SELECT docid FROM ({terms_scores_sql(["window"])}) w)
)
, base AS (
  SELECT docid, score
  FROM ({terms_scores_sql(["spark"], restrict="notf", mode="bm25")}) m
)
, sh AS (
  SELECT docid, SUM(score) AS should_score, COUNT(*) AS matched FROM (
    {terms_scores_sql(["merg"], restrict="base", mode="bm25")}
  ) u GROUP BY docid
)
SELECT b.docid, ROUND(b.score + coalesce(sh.should_score, 0), 6) AS score
FROM base b LEFT JOIN sh USING (docid)
WHERE coalesce(sh.matched, 0) >= 1
  AND b.score + coalesce(sh.should_score, 0) > 0
ORDER BY ROUND(b.score + coalesce(sh.should_score, 0), 6) DESC, b.docid ASC
LIMIT 10
""")
    # bool(must spark, should merg/window) in bm25 routed through the
    # required-clause WAND — must gates qualification (outside the msm
    # count), doc total = must + matching shoulds, top-10
    o["wand_bool"] = _wrap(pre, f"""
, base AS ({terms_scores_sql(["spark"], mode="bm25")})
, sh AS (
  SELECT docid, SUM(score) AS should_score, COUNT(*) AS matched FROM (
    {terms_scores_sql(["merg"], restrict="base", mode="bm25")}
    UNION ALL
    {terms_scores_sql(["window"], restrict="base", mode="bm25")}
  ) u GROUP BY docid
)
SELECT b.docid, ROUND(b.score + coalesce(sh.should_score, 0), 6) AS score
FROM base b LEFT JOIN sh USING (docid)
WHERE coalesce(sh.matched, 0) >= 1
  AND b.score + coalesce(sh.should_score, 0) > 0
ORDER BY ROUND(b.score + coalesce(sh.should_score, 0), 6) DESC, b.docid ASC
LIMIT 10
""")
    # multi-field string-search sugar over the two-field (text, source)
    # index: per-field bm25 clause sums, doc total = Σ matching clauses.
    # The source field re-derives its own postings/stats CTEs (one
    # Porter2-stemmed token per doc).
    from ex_elasticlunr_spark.analysis import porter2 as _p2

    ws_terms = _analyze("spark src1 merge window")
    src_map = ", ".join(
        f"('src{i}', '{_p2.stem('src%d' % i)}')" for i in range(64))
    ws_qts = ", ".join(f"('{t}')" for t in ws_terms)
    o["wand_string_search"] = _wrap(pre, f"""
, smap AS (SELECT * FROM (VALUES {src_map}) t(word, stem))
, postings_s AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS docid,
         coalesce(m.stem, lower(d.source)) AS term, 1 AS tf_raw
  FROM documents d LEFT JOIN smap m ON m.word = lower(d.source)
  WHERE d.source IS NOT NULL
)
, dstats_s AS (SELECT docid, COUNT(*) AS doc_len FROM postings_s GROUP BY docid)
, fstats_s AS (
  SELECT (SELECT COUNT(DISTINCT docid) FROM postings_s) AS n_docs,
         (SELECT AVG(doc_len) FROM dstats_s) AS avg_doc_len
)
, tstats_s AS (SELECT term, COUNT(*) AS df FROM postings_s GROUP BY term)
, wq AS (SELECT * FROM (VALUES {ws_qts}) t(qt))
, sx AS (
  SELECT p.docid,
         SUM(ln(1.0 + (f.n_docs - t.df + 0.5) / (t.df + 0.5))
             * (p.tf_raw * 2.2)
             / (p.tf_raw + 1.2 * (0.25 + 0.75 * ds.doc_len / f.avg_doc_len)))
           AS score
  FROM postings_s p
  JOIN tstats_s t USING (term)
  JOIN dstats_s ds USING (docid)
  CROSS JOIN fstats_s f
  JOIN wq ON p.term = wq.qt
  GROUP BY p.docid
)
, tx2 AS ({terms_scores_sql(ws_terms, mode="bm25")})
, uf AS (SELECT * FROM tx2 UNION ALL SELECT * FROM sx)
SELECT docid, ROUND(SUM(score), 6) AS score FROM uf GROUP BY docid
ORDER BY ROUND(SUM(score), 6) DESC, docid ASC LIMIT 10
""")

    # bulk multi-query top-k: same analyzed term multisets as SM_QUERIES
    sm_terms: dict = {}
    for qid, text in SM_QUERIES.items():
        counts: dict = {}
        for t in _analyze(text):
            counts[t] = counts.get(t, 0) + 1
        sm_terms[qid] = counts
    o["search_many"] = search_many_sql(sm_terms, top_k=10, mode="bm25")

    o["event_sessions"] = """
WITH e AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev_ts
  FROM events
), s AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS new_s
  FROM e
), s2 AS (
  SELECT *, (SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_idx
  FROM s
)
SELECT user_id, session_idx,
       CAST(user_id AS VARCHAR) || '-' || CAST(session_idx AS VARCHAR)
         AS session_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_s,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_s,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT event_type)::BIGINT AS n_event_types,
       ROUND(SUM(value), 6) AS sum_value
FROM s2 GROUP BY user_id, session_idx
"""
    o["event_windowed"] = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                '%Y-%m-%d %H:%M:%S') AS window_start_s,
       event_type,
       COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2
"""
    # strict-order funnel: each step's qualifying event must be strictly
    # after the user's earliest qualifying event of the previous step
    o["event_funnel"] = """
WITH s0 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), s1 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY e.user_id
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id
)
SELECT 0::INT AS step_idx, 'view' AS step,
       (SELECT COUNT(*) FROM s0)::BIGINT AS users
UNION ALL SELECT 1::INT, 'click', (SELECT COUNT(*) FROM s1)::BIGINT
UNION ALL SELECT 2::INT, 'purchase', (SELECT COUNT(*) FROM s2)::BIGINT
ORDER BY step_idx
"""
    o["event_retention"] = """
WITH act AS (
  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
), f AS (
  SELECT u, MIN(d) AS d0 FROM act GROUP BY u
)
SELECT CAST(d0 AS VARCHAR) AS cohort_date,
       (d - d0)::INT AS day_offset,
       COUNT(*)::BIGINT AS users
FROM act JOIN f USING (u)
GROUP BY 1, 2 ORDER BY 1, 2
"""
    # ---- streaming == batch: the oracles are the BATCH operators' SQL
    # a streamed 2-micro-batch replay of the same rows must reproduce
    # a delta-appended streaming warehouse scores like one batch build
    o["stream_index_batch_eq"] = o["terms_exact"]
    # the batch sessionizer's aggregates (event_sessions sans the
    # n_event_types column the O(1)-state stream never materializes)
    o["stream_sessions_batch_eq"] = """
WITH e AS (
  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev_ts
  FROM events
), s AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS new_s
  FROM e
), s2 AS (
  SELECT *, (SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_idx
  FROM s
)
SELECT user_id, session_idx,
       CAST(user_id AS VARCHAR) || '-' || CAST(session_idx AS VARCHAR)
         AS session_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_s,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_s,
       COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s2 GROUP BY user_id, session_idx
"""
    return o
