"""Regex term expansion + span_near proximity (extensions over the
stored vocabulary / token ordinals; oracle-checked in the gate)."""

import pytest
from pyspark.sql import functions as F

from ex_elasticlunr_spark import Index


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    rows = [
        ("a", "spark shuffles the fast join quickly today"),
        ("b", "fast code and a join tomorrow window"),
        ("c", "sparkling sparse parks"),
        ("d", "join the fast lane"),
    ]
    df = spark.createDataFrame(rows, "docid string, text string")
    i = Index(name="sr").add_field("text")
    i.add_documents(df, docid_col="docid")
    # exercise the LOADED (term-clustered, ord-keyed) path
    path = str(tmp_path_factory.mktemp("sridx") / "wh")
    i.save(path)
    loaded = Index.load(spark, path)
    loaded.analyzers = loaded.inverted.analyzers
    return loaded


def test_terms_regex_matches_vocab_subset(idx):
    got = {r["docid"] for r in idx.search(
        {"query": {"terms": {"text": {"value": "^spark", "regex": True}}}}
    ).collect()}
    # stems: spark (a), sparkl (c); NOT spars/park (no ^spark prefix)
    assert got == {"a", "c"}


def test_terms_regex_pushes_literal_terms(idx):
    df = idx.search(
        {"query": {"terms": {"text": {"value": "^spark", "regex": True}}}})
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the regex resolved against the vocabulary, then a LITERAL In(term)
    # pushed into the postings scan — never a regex over postings
    assert "In(term" in plan or "term IN" in plan


def test_span_near_distance_and_score(idx):
    rows = {r["docid"]: r["score"] for r in idx.search(
        {"query": {"span_near": {"text": {"terms": ["fast", "join"],
                                            "slop": 1}}}}).collect()}
    # post-pipeline ordinals (stopwords dropped): a: fast@2 join@3 ->
    # dist 1; d: join@0 fast@1 -> dist 1; b: fast@0 join@2 -> dist 2
    # (excluded at slop 1)
    assert set(rows) == {"a", "d"}
    assert rows["a"] == pytest.approx(0.5)
    assert rows["d"] == pytest.approx(0.5)


def test_span_near_slop_widens_and_boost(idx):
    rows = {r["docid"]: r["score"] for r in idx.search(
        {"query": {"span_near": {"text": {"terms": ["fast", "join"],
                                            "slop": 2, "boost": 2.0}}}}
    ).collect()}
    assert set(rows) == {"a", "b", "d"}
    assert rows["b"] == pytest.approx(2.0 / 3.0)


def test_span_near_in_bool_filter(idx):
    got = {r["docid"] for r in idx.search(
        {"query": {"bool": {
            "filter": [{"terms": {"text": "window"}}],
            "should": [{"span_near": {"text": {"terms": ["fast", "join"],
                                                 "slop": 5}}}],
        }}}).collect()}
    assert got == {"b"}


def test_describe_reports_layout(spark, idx, tmp_path):
    d = idx.describe()
    assert d["fields"] == ["text"]
    assert d["version"] == 6 and d["generations"] == []
    assert d["documents"] == 4 and d["vocabulary"]["text"] > 0
    # after a delta append, the generation shows up
    idx.add_documents(
        spark.createDataFrame([("z", "brand new words")],
                              "docid string, text string"),
        docid_col="docid")
    idx.save_delta()
    d2 = idx.describe()
    assert [g["name"] for g in d2["generations"]] == ["gen-00001"]
    assert d2["documents"] == 5


def test_wand_expand_fuzzy_regex_rank_identical(spark, idx):
    """WAND with vocabulary expansion must rank identically to the
    exhaustive BM25 plan for prefix, fuzzy, and regex queries."""
    def exhaustive(query_dict, k=10):
        df = idx.search(query_dict, mode="bm25")
        return [(r["docid"], round(r["score"], 9)) for r in
                df.orderBy(F.desc("score"), F.asc("docid")).limit(k).collect()]

    cases = [
        ({"query": {"terms": {"text": {"value": "sp", "expand": True}}}},
         dict(expand=True), "sp"),
        ({"query": {"terms": {"text": {"value": "spark", "fuzziness": 1}}}},
         dict(fuzziness=1), "spark"),
        ({"query": {"terms": {"text": {"value": "^spar", "regex": True}}}},
         dict(regex=True), "^spar"),
        # multiplicity: both query terms fuzzy-match the same vocab
        # terms -> each vocab term's WAND weight scales by its match
        # count (the exhaustive sum counts one entry per (qt, term))
        ({"query": {"terms": {"text": {"value": ["spark", "spars"],
                                         "fuzziness": 1}}}},
         dict(fuzziness=1), "spark spars"),
    ]
    for query_dict, kw, text in cases:
        want = exhaustive(query_dict)
        got = [(r["docid"], round(r["score"], 9)) for r in
               idx.search_wand(text, "text", top_k=10, **kw).collect()]
        assert got == want, (kw, got, want)


def test_more_like_this_ranks_seed_doc_first(spark, idx):
    # seed with doc a's own text: a must rank first; docs sharing terms
    # follow; unrelated docs score nothing
    out = [(r["docid"], r["score"]) for r in idx.more_like_this(
        "spark shuffles the fast join quickly today", "text",
        max_query_terms=5).collect()]
    assert out and out[0][0] == "a"
    docs = [d for d, _ in out]
    assert "d" in docs  # shares fast/join
    # empty seed -> empty result with the standard schema
    empty = idx.more_like_this("", "text")
    assert empty.columns == ["docid", "score"] and empty.count() == 0


class TestParserGuards:
    """Parser traps that used to compile silently-wrong queries."""

    def test_mixed_map_options_are_dropped_reference_quirk(self, idx):
        """Reference parity (pinned by the golden set): option keys
        mixed with field keys are STRIPPED and ignored —
        terms_query.ex:110-124 rejects them in its multi-field branch
        and never reads their values. Options belong in per-field
        params."""
        from ex_elasticlunr_spark.dsl.nodes import parse

        n = parse({"match": {"text": "fast join", "operator": "and"}})
        assert n.operator == "or"  # top-level operator dropped
        n = parse({"terms": {"text": {"value": "x"},
                             "minimum_should_match": 2}})
        assert n.minimum_should_match == 1  # dropped
        # the per-field carrier works
        n = parse({"match": {"text": {"query": "x", "boost": 2}}})
        assert n.boost == 2

    def test_missing_query_or_value_raises(self, idx):
        from ex_elasticlunr_spark.dsl.nodes import parse

        with pytest.raises(ValueError, match="need a 'query'"):
            parse({"match": {"text": {"operator": "and"}}})
        with pytest.raises(ValueError, match="need a 'value'"):
            parse({"terms": {"text": {"boost": 2}}})
        with pytest.raises(ValueError, match="must not be null"):
            parse({"terms": {"text": None}})
        with pytest.raises(ValueError, match="need a 'query'"):
            parse({"match_phrase": {"text": {"boost": 2}}})

    def test_float_fuzziness_is_its_floor(self, idx):
        from ex_elasticlunr_spark.dsl.nodes import parse

        assert parse({"terms": {"text": {"value": "x",
                                         "fuzziness": 1.5}}}).fuzziness == 1
        assert parse({"match": {"text": {"query": "x",
                                         "fuzziness": 2.9}}}).fuzziness == 2

        def hits(fuzz):
            return sorted((r["docid"], r["score"]) for r in idx.search(
                {"query": {"terms": {"text": {"value": "spars",
                                              "fuzziness": fuzz}}}}
            ).collect())

        assert hits(1.5) == hits(1) and hits(1)

    def test_non_numeric_fuzziness_names_the_field(self, idx):
        from ex_elasticlunr_spark.dsl.nodes import parse

        with pytest.raises(ValueError, match="fuzziness for field 'text'"):
            parse({"terms": {"text": {"value": "x", "fuzziness": "AUTO"}}})
        with pytest.raises(ValueError, match="fuzziness for field 'body'"):
            parse({"match": {"body": {"query": "x", "fuzziness": "AUTO"}}})

    def test_span_near_slop_validation(self, idx):
        from ex_elasticlunr_spark.dsl.nodes import parse

        # default slop is 1 (adjacent), not the unmatchable 0
        n = parse({"span_near": {"text": {"terms": ["a", "b"]}}})
        assert n.slop == 1
        with pytest.raises(ValueError, match="slop must be >= 1"):
            parse({"span_near": {"text": {"terms": ["a", "b"],
                                          "slop": 0}}})
