"""search_many (bulk multi-query), RRF fusion, keywords, count/matches,
related documents and percolation."""

import pytest
from pyspark.sql import functions as F

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.operators.hybrid import rrf_fusion


DOCS = [
    ("d1", "spark merges sorted runs fast"),
    ("d2", "the window function sorts rows"),
    ("d3", "fast join on a sorted key"),
    ("d4", "spark window spark window spark"),
    ("d5", "slow scan of a big table"),
]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(DOCS, "docid string, text string")
    return Index(name="batch").add_field("text").add_documents(
        df, docid_col="docid")


def test_search_many_matches_per_query_search(idx):
    """Each query's bulk rows equal its single-query bm25 top-k
    (rounded-score ranking, docid tie-break)."""
    queries = {"qa": "spark window", "qb": "fast join", "qc": "sorted runs"}
    bulk = idx.search_many(queries, "text", top_k=3, mode="bm25")
    rows = {(r["query_id"], r["rank"]): (r["docid"], r["score"])
            for r in bulk.collect()}
    for qid, text in queries.items():
        single = [
            (r["docid"], round(r["score"], 6))
            for r in idx.search_bm25(text).collect()
        ]
        single = sorted(single, key=lambda t: (-t[1], t[0]))[:3]
        got = [rows[(qid, k + 1)] for k in range(len(single))]
        assert got == single, f"{qid}: {got} != {single}"


def test_search_many_duplicate_terms_weighted(idx):
    """A duplicated query term contributes multiplicatively in bm25 sum
    mode — same as the single-query path scoring the term list twice."""
    once = {r["docid"]: r["score"]
            for r in idx.search_many({"q": "spark"}, "text").collect()}
    twice = {r["docid"]: r["score"]
             for r in idx.search_many({"q": "spark spark"}, "text").collect()}
    assert set(once) == set(twice)
    for d in once:
        assert twice[d] == pytest.approx(2 * once[d], abs=2e-6)


def test_search_many_dataframe_queries(idx, spark):
    """The DataFrame query-set path (distributed analysis) agrees with
    the driver-dict path."""
    queries = {"qa": "spark window", "qb": "fast join"}
    qdf = spark.createDataFrame(
        list(queries.items()), "query_id string, query_text string")
    a = sorted(map(tuple, idx.search_many(queries, "text").collect()))
    b = sorted(map(tuple, idx.search_many(qdf, "text").collect()))
    assert a == b


def test_search_many_empty_and_unknown(idx):
    """Stopword-only queries emit no rows (no match_all explosion);
    unknown-term queries emit no rows."""
    out = idx.search_many({"q1": "the", "q2": "zzznope"}, "text")
    assert out.count() == 0


def test_rrf_fusion_ranks_and_counts(spark):
    a = spark.createDataFrame(
        [("x", 3.0), ("y", 2.0), ("z", 1.0)], "docid string, score double")
    b = spark.createDataFrame(
        [("y", 9.9), ("w", 5.0)], "docid string, score double")
    got = {r["docid"]: (r["rrf_score"], r["n_lists"])
           for r in rrf_fusion([a, b], k=60).collect()}
    # list a ranks: x=1, y=2, z=3; list b ranks: y=1, w=2
    assert got["y"] == (round(1 / 62 + 1 / 61, 6), 2)
    assert got["x"] == (round(1 / 61, 6), 1)
    assert got["w"] == (round(1 / 62, 6), 1)
    assert got["z"] == (round(1 / 63, 6), 1)
    ordered = [r["docid"] for r in rrf_fusion([a, b], k=60).collect()]
    assert ordered == ["y", "x", "w", "z"]


def test_keywords_tfidf_ranks(idx):
    """Every doc gets <= top_n keywords; d4's dominant term is spark
    or window (tf 3 and 2)."""
    kw = idx.keywords("text", top_n=2)
    rows = kw.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["docid"], []).append((r["rank"], r["term"]))
    assert all(len(v) <= 2 for v in per_doc.values())
    d4 = sorted(per_doc["d4"])
    assert d4[0][1] in ("spark", "window")


def test_count_and_matches(idx):
    """Index.count equals the searched row count; matches() stays in
    the doc-key currency (no docid translation)."""
    q = {"query": {"match": {"text": "spark window"}}}
    assert idx.count(q) == idx.search(q).count()
    m = idx.matches(q)
    assert "score" in m.columns and "docid" not in m.columns


def test_related_documents_excludes_self(idx):
    """Each seed's related list never contains the seed; the doc
    sharing the most distinctive terms ranks first."""
    from ex_elasticlunr_spark.search.batch import related_documents

    out = related_documents(idx.inverted, "text", docids=["d1", "d3"],
                            seed_terms=4, top_k=3)
    rows = out.collect()
    by_q = {}
    for r in rows:
        assert r["docid"] != r["qid"]
        by_q.setdefault(r["qid"], []).append((r["rank"], r["docid"]))
    # d1's best match is d4: they share "spark", and d4's tf=3 beats
    # d3's single-occurrence overlaps under max-entry scoring; d3's
    # best is d1 via "fast" (df=2 — rarer than "sort", df=3)
    assert sorted(by_q["d1"])[0][1] == "d4"
    assert sorted(by_q["d3"])[0][1] == "d1"


class TestPercolate:
    """Reverse search: registered rules vs incoming docs, no index."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [("1", "the quick brown fox jumps"),
             ("2", "quick silver surfers"),
             ("3", "slow red fox"),
             ("4", "")],
            "docid string, text string")

    def test_and_semantics_and_msm(self, spark):
        from ex_elasticlunr_spark.search.percolate import percolate

        docs = self._docs(spark)
        rules = {"both": "quick fox", "one": "fox", "none": "zebra"}
        got = {(r["query_id"], r["docid"]): (r["n_matched"], r["n_terms"])
               for r in percolate(docs, rules, field="text").collect()}
        # all-terms default: 'both' needs quick AND fox
        assert got == {("both", "1"): (2, 2),
                       ("one", "1"): (1, 1), ("one", "3"): (1, 1)}
        # msm=1 relaxes 'both' to either term
        m = {(r["query_id"], r["docid"])
             for r in percolate(docs, rules, field="text",
                                minimum_should_match=1).collect()}
        assert ("both", "2") in m and ("both", "3") in m
        # msm beyond the rule's term count is unmatchable (no clamping)
        assert percolate(docs, {"r": "fox"}, field="text",
                         minimum_should_match=2).count() == 0
        # a rule that analyzes to zero terms matches nothing
        assert percolate(docs, {"r": "the"}, field="text").count() == 0

    def test_dataframe_rule_set(self, spark):
        from ex_elasticlunr_spark.search.percolate import percolate

        docs = self._docs(spark)
        rules_df = spark.createDataFrame(
            [("both", "quick fox"), ("one", "fox")],
            "query_id string, query_text string")
        got = {(r["query_id"], r["docid"])
               for r in percolate(docs, rules_df, field="text").collect()}
        assert got == {("both", "1"), ("one", "1"), ("one", "3")}

    def test_percolate_stream_parity(self, spark, tmp_path):
        """The dict-rule plan is stateless and map-only, so it runs
        under Structured Streaming in APPEND mode with no state store —
        a 2-micro-batch file replay must equal the batch percolation."""
        from ex_elasticlunr_spark.search.percolate import percolate
        from tests.stream_util import await_terminated

        docs = self._docs(spark)
        rules = {"both": "quick fox", "one": "fox"}
        want = {(r["query_id"], r["docid"], r["n_matched"], r["n_terms"])
                for r in percolate(docs, rules, field="text").collect()}

        src = str(tmp_path / "pstream")
        docs.where(F.col("docid") <= "2").coalesce(1) \
            .write.mode("append").parquet(src)
        docs.where(F.col("docid") > "2").coalesce(1) \
            .write.mode("append").parquet(src)
        stream = (spark.readStream.schema("docid string, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (percolate(stream, rules, field="text")
             .writeStream.format("memory").queryName("perc_stream")
             .outputMode("append")
             .trigger(availableNow=True).start())
        await_terminated(q, 120)
        got = {(r["query_id"], r["docid"], r["n_matched"], r["n_terms"])
               for r in spark.sql("SELECT * FROM perc_stream").collect()}
        assert got == want


class TestPercolateHardening:
    def test_msm_below_one_raises(self, spark):
        # msm<=0 means "everything matches everything" on the dict path
        # but is unreachable on the join path — rejected up front
        from ex_elasticlunr_spark.search.percolate import percolate

        docs = spark.createDataFrame([("1", "quick fox")],
                                     "docid string, text string")
        for rules in ({"r": "fox"},
                      spark.createDataFrame([("r", "fox")],
                                            "query_id string, "
                                            "query_text string")):
            with pytest.raises(ValueError, match="minimum_should_match"):
                percolate(docs, rules, field="text",
                          minimum_should_match=0)

    def test_all_stopword_rules_stay_streaming(self, spark, tmp_path):
        """An all-stopword rule set must still return a STREAMING frame
        when docs are a stream (writeStream on a batch frame raises)."""
        from ex_elasticlunr_spark.search.percolate import percolate
        from tests.stream_util import await_terminated

        src = str(tmp_path / "pssrc")
        spark.createDataFrame([("1", "quick fox")],
                              "docid string, text string") \
            .coalesce(1).write.parquet(src)
        stream = (spark.readStream.schema("docid string, text string")
                  .parquet(src))
        out = percolate(stream, {"r": "the"}, field="text")
        assert out.isStreaming
        q = (out.writeStream.format("memory").queryName("perc_empty")
             .outputMode("append").trigger(availableNow=True).start())
        await_terminated(q, 120)
        assert spark.sql("SELECT * FROM perc_empty").count() == 0
