"""Opportunistic WAND routing in Index.search (index.py _route_wand):
finite top-k string / single-field terms/match queries on a
segments-bound index serve through the block-max fast path. Routed
results must equal the exhaustive executor's exactly, and routing must
never trigger a segment build by itself."""

import os

import pytest

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.sources.transcripts import transcripts_df, with_docid

QUERIES = [
    {"query": {"terms": {"text": ["elixir", "tool"]}}},
    {"query": {"terms": {"text": {"value": "spark", "boost": 2.5}}}},
    {"query": {"terms": {"text": {"value": ["elixir", "tool", "run"],
                                  "minimum_should_match": 2}}}},
    {"query": {"terms": {"text": {"value": "el", "expand": True}}}},
    {"query": {"terms": {"text": {"value": "elixor", "fuzziness": 1}}}},
    {"query": {"terms": {"text": {"value": "eli.*r", "regex": True}}}},
    {"query": {"match": {"text": "elixir tool run"}}},
    {"query": {"match": {"text": {"query": "elixir tool",
                                  "operator": "and"}}}},
    # bool(must, should*) of terms/match leaves: must -> a REQUIRED
    # WandClause, shoulds -> optional clauses (same-field repeats fine)
    {"query": {"bool": {"must": {"terms": {"text": "elixir"}},
                        "should": [{"terms": {"tool": "search"}},
                                   {"terms": {"text": "merg"}}]}}},
    {"query": {"bool": {"must": {"match": {"text": "elixir tool"}}}}},
    {"query": {"bool": {"should": [{"terms": {"text": "elixir"}},
                                   {"terms": {"text": "tool"}}],
                        "minimum_should_match": 2}}},
    {"query": {"bool": {"must": {"terms": {"text": {"value": "el",
                                                    "expand": True}}},
                        "should": [{"match": {"tool": "search bash"}}]}}},
    # must_not alongside must: a NEGATIVE clause (pure exclusion)
    {"query": {"bool": {"must": {"terms": {"text": "elixir"}},
                        "must_not": {"terms": {"text": "dog"}},
                        "should": [{"terms": {"tool": "search"}}]}}},
    {"query": {"bool": {"must": {"match": {"text": "elixir tool"}},
                        "must_not": {"match": {"text": "quick run"}}}}},
    # must_not on the SAME field/terms overlap as the must
    {"query": {"bool": {"must": {"terms": {"text": ["elixir", "run"]}},
                        "must_not": {"terms": {"text": "quick"}}}}},
]


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    src = with_docid(transcripts_df(spark, n_convs=40, turns_per_conv=5))
    idx = Index(name="route").add_field("text").add_field("tool")
    idx.add_documents(src, docid_col="docid")
    path = str(tmp_path_factory.mktemp("route") / "wh")
    idx.inverted.save(path, block_size=64)
    return Index.load(spark, path)


def _rows(df):
    return [(r["docid"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_routed_equals_executor(saved, mode, qi, monkeypatch):
    q = QUERIES[qi]
    got = _rows(saved.search(q, top_k=10, mode=mode))
    monkeypatch.setenv("EX_SPARK_NO_WAND_ROUTE", "1")
    want = _rows(saved.search(q, top_k=10, mode=mode))
    assert got == want and got


@pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
def test_routed_string_search(saved, mode, monkeypatch):
    got = _rows(saved.search("elixir tool run", top_k=10, mode=mode))
    monkeypatch.setenv("EX_SPARK_NO_WAND_ROUTE", "1")
    want = _rows(saved.search("elixir tool run", top_k=10, mode=mode))
    assert got == want and got


def test_routed_string_with_boosts(saved, monkeypatch):
    opts = {"fields": {"text": {"boost": 2.0}, "tool": {"boost": 0}}}
    got = _rows(saved.search("elixir search", top_k=10, mode="bm25",
                             options=opts))
    monkeypatch.setenv("EX_SPARK_NO_WAND_ROUTE", "1")
    want = _rows(saved.search("elixir search", top_k=10, mode="bm25",
                              options=opts))
    assert got == want and got


def test_full_results_and_details_not_routed(saved):
    # full result sets (top_k=None) and details queries keep the
    # executor plan (WAND is a top-k scorer)
    q = {"query": {"terms": {"text": "elixir"}}}
    full = saved.search(q)
    assert "docid" in full.columns and full.count() > 10
    det = saved.search(q, include_details=True)
    assert "positions" in det.columns


def test_fresh_index_never_builds_segments(spark):
    src = with_docid(transcripts_df(spark, n_convs=10, turns_per_conv=4))
    idx = Index(name="fresh").add_field("text")
    idx.add_documents(src, docid_col="docid")
    assert idx.inverted._segments is None
    idx.search({"query": {"terms": {"text": "elixir"}}}, top_k=5).collect()
    assert idx.inverted._segments is None  # routing must not encode


class TestRoutedRandomOracle:
    """Randomized ROUTED top-k vs the pure-Python oracle: random flat
    match/terms leaves (the routable shapes, incl expand/fuzzy/regex/
    msm/operator/boost) over a SAVED index — so the block-max WAND
    path (driver-serve or distributed, whichever the byte cap picks)
    is referee'd against the reference formulas end-to-end, not just
    against the exhaustive executor."""

    @pytest.fixture(scope="class")
    def corpus(self, spark, tmp_path_factory):
        from tests.oracle import OracleIndex

        src = with_docid(transcripts_df(spark, n_convs=40,
                                        turns_per_conv=5))
        idx = Index(name="rro").add_field("text").add_field("tool")
        idx.add_documents(src, docid_col="docid")
        path = str(tmp_path_factory.mktemp("rro") / "wh")
        idx.inverted.save(path, block_size=64)
        loaded = Index.load(spark, path)
        oidx = OracleIndex().add_field("text").add_field("tool")
        oidx.add_documents(
            [{"id": r["docid"], "text": r["text"], "tool": r["tool"]}
             for r in src.select("docid", "text", "tool").collect()])
        vocab = {f: sorted(oidx.fields[f].term_docs)
                 for f in ("text", "tool")}
        raw_words = sorted({
            w for r in src.select("text").collect()
            for w in r["text"].split()})[:400]
        from tests.test_random_queries import bind_random_attrs

        bind_random_attrs(spark, src, loaded, oidx)
        return loaded, oidx, vocab, raw_words

    @pytest.mark.parametrize("mode", ["elasticlunr", "bm25"])
    @pytest.mark.parametrize("qi", range(18))
    def test_routed_topk_equals_oracle(self, corpus, mode, qi):
        import random as _random

        from tests.oracle.core import search as oracle_search
        from tests.test_random_queries import _leaf

        idx, oidx, vocab, raw_words = corpus
        rng = _random.Random(0xC0FEE + qi)
        oview = oidx.bm25() if mode == "bm25" else oidx
        for _ in range(3):
            q = {"query": _leaf(rng, vocab, raw_words)}
            got = [(r["docid"], round(r["score"], 9))
                   for r in idx.search(q, top_k=10, mode=mode).collect()]
            want = [(r["ref"], round(r["score"], 9))
                    for r in oracle_search(oview, q, top_k=10)]
            assert got == want, q


def test_filter_and_bare_must_not_not_routed(saved):
    """filter chains and must_not-WITHOUT-must (whose NotNode score
    seeds the base) keep the exhaustive executor (and still work)."""
    q1 = {"query": {"bool": {"must_not": {"terms": {"text": "dog"}},
                             "should": [{"terms": {"text": "elixir"}}]}}}
    q2 = {"query": {"bool": {"filter": [{"terms": {"text": "elixir"}}],
                             "should": [{"terms": {"tool": "search"}}]}}}
    for q in (q1, q2):
        assert saved._route_wand(q, 10, None, "bm25", False, {}) is None
        assert saved.search(q, top_k=10, mode="bm25").count() >= 0


class TestRoutedBoolOracle:
    """Randomized ROUTED bool(must?, should*) queries vs the
    pure-Python oracle: the required-clause WAND algebra refereed
    against the reference formulas end-to-end (routable leaves; a
    non-routable leaf just exercises the exhaustive fallthrough against
    the same oracle)."""

    @pytest.mark.parametrize("mode", ["elasticlunr", "bm25"])
    @pytest.mark.parametrize("qi", range(10))
    def test_routed_bool_equals_oracle(self, corpus_bool, mode, qi):
        import random as _random

        from tests.oracle.core import search as oracle_search
        from tests.test_random_queries import _leaf

        idx, oidx, vocab, raw_words = corpus_bool
        rng = _random.Random(0xB0B0 + qi)
        oview = oidx.bm25() if mode == "bm25" else oidx

        def routable_leaf():
            while True:
                leaf = _leaf(rng, vocab, raw_words)
                if "match_all" not in leaf:
                    return leaf

        for _ in range(3):
            node = {}
            if rng.random() < 0.7:
                node["must"] = routable_leaf()
                if rng.random() < 0.5:
                    # negative clause rides only alongside a must
                    node["must_not"] = routable_leaf()
            n_should = rng.randint(0 if "must" in node else 1, 3)
            if n_should:
                node["should"] = [routable_leaf() for _ in range(n_should)]
                if rng.random() < 0.4:
                    node["minimum_should_match"] = rng.randint(1, n_should)
            q = {"query": {"bool": node}}
            got = [(r["docid"], round(r["score"], 9))
                   for r in idx.search(q, top_k=10, mode=mode).collect()]
            want = [(r["ref"], round(r["score"], 9))
                    for r in oracle_search(oview, q, top_k=10)]
            assert got == want, q


@pytest.fixture(scope="module")
def corpus_bool(spark, tmp_path_factory):
    from tests.oracle import OracleIndex

    src = with_docid(transcripts_df(spark, n_convs=40, turns_per_conv=5))
    idx = Index(name="rbo").add_field("text").add_field("tool")
    idx.add_documents(src, docid_col="docid")
    path = str(tmp_path_factory.mktemp("rbo") / "wh")
    idx.inverted.save(path, block_size=64)
    loaded = Index.load(spark, path)
    oidx = OracleIndex().add_field("text").add_field("tool")
    oidx.add_documents(
        [{"id": r["docid"], "text": r["text"], "tool": r["tool"]}
         for r in src.select("docid", "text", "tool").collect()])
    vocab = {f: sorted(oidx.fields[f].term_docs) for f in ("text", "tool")}
    raw_words = sorted({
        w for r in src.select("text").collect()
        for w in r["text"].split()})[:400]
    from tests.test_random_queries import bind_random_attrs

    bind_random_attrs(spark, src, loaded, oidx)
    return loaded, oidx, vocab, raw_words


@pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
def test_map_sugar_routes_and_matches(saved, mode, monkeypatch):
    """The field-map sugar desugars to bool(should: match*) — now a
    routable shape; routed == unrouted."""
    q = {"text": "elixir tool", "tool": "search"}
    opts = {"bool": "or", "expand": True}
    got = _rows(saved.search(q, top_k=10, options=opts, mode=mode))
    monkeypatch.setenv("EX_SPARK_NO_WAND_ROUTE", "1")
    want = _rows(saved.search(q, top_k=10, options=opts, mode=mode))
    assert got == want and got


def test_single_clause_routes_cold_or_warm(spark, tmp_path, monkeypatch):
    """Every single-clause terms/match leaf on a segments-bound index
    routes through wand_topk, whether its caches are cold or warm and
    its term dense or selective; the routed result equals the
    exhaustive plan's."""
    rows = [(f"d{i}",
             ("zzzrare needle " if i in (3, 7) else "")
             + f"common filler words doc {i}")
            for i in range(200)]
    src = spark.createDataFrame(rows, "docid string, text string")
    idx = Index(name="skew").add_field("text")
    idx.add_documents(src, docid_col="docid")
    path = str(tmp_path / "wh")
    idx.inverted.save(path, block_size=64)

    from ex_elasticlunr_spark.search import wand as wand_mod

    calls = []
    real = wand_mod.wand_topk

    def spy(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(wand_mod, "wand_topk", spy)

    for term in ("zzzrare", "common"):  # selective, then dense
        loaded = Index.load(spark, path)
        q = {"query": {"terms": {"text": term}}}
        # cold caches: no df or field statistics read yet
        assert "_vocab_local_cache" not in loaded.inverted.__dict__
        calls.clear()
        cold = _rows(loaded.search(q, top_k=10))
        assert calls, "cold single clause should route"
        calls.clear()
        routed = _rows(loaded.search(q, top_k=10))  # warm caches
        assert calls, "warm single clause should route"
        monkeypatch.setenv("EX_SPARK_NO_WAND_ROUTE", "1")
        exhaustive = _rows(loaded.search(q, top_k=10))
        monkeypatch.delenv("EX_SPARK_NO_WAND_ROUTE")
        assert routed == exhaustive == cold and routed
