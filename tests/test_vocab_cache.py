"""The exhaustive scorer's driver-side vocabulary resolve
(scorer._vocab_resolve_inline): the inline literal relation must carry
the identical (qt_idx, qt, term, df, idf) rows the vocabulary equi-join
produces, absent terms must be marker-cached within a binding, the identity-keyed
memo must reset when term_stats is reassigned, and a fuzzy expansion
reads the field's vocabulary once per binding."""

import pytest

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.search.scorer import (
    _expansion_rows,
    _fstats_local,
    _query_terms_df,
    _vocab_resolve_inline,
)

DOCS = [
    {"id": "d1", "text": "alpha beta gamma"},
    {"id": "d2", "text": "alpha beta"},
    {"id": "d3", "text": "delta alpha"},
]


@pytest.fixture(scope="module")
def idx(spark):
    df = spark.createDataFrame(DOCS)
    ix = Index(name="vc").add_field("text")
    ix.add_documents(df, docid_col="id")
    ix.materialize()
    return ix.inverted


def test_inline_rows_equal_join(idx):
    terms = ["alpha", "nope", "delta", "alpha"]  # duplicate + absent
    want = sorted(
        map(tuple, _query_terms_df(idx, "text", terms, False, 0)
            .select("qt_idx", "qt", "term", "df", "idf").collect()))
    got = sorted(map(tuple, _vocab_resolve_inline(idx, "text", terms)
                     .select("qt_idx", "qt", "term", "df", "idf").collect()))
    assert got == want and len(got) == 3  # 2x alpha + delta


def test_absent_marker_and_warm_hit_no_job(idx):
    _vocab_resolve_inline(idx, "text", ["alpha", "nope"])
    vc = idx._vocab_local_cache[1]
    assert vc[("text", "nope")] is None
    assert vc[("text", "alpha")][0] == 3  # df
    # warm resolve costs no Spark job (all terms cached; relation is
    # a local VALUES literal)
    sc = idx.postings.sparkSession.sparkContext
    st = sc._jsc.sc().statusTracker()
    before = list(st.getJobIdsForGroup(None))
    rows = _vocab_resolve_inline(
        idx, "text", ["alpha", "nope"]).collect()
    after = list(st.getJobIdsForGroup(None))
    assert len(rows) == 1 and len(after) == len(before)


def test_identity_rebind_resets_cache(idx):
    _vocab_resolve_inline(idx, "text", ["alpha"])
    assert idx._vocab_local_cache[1]
    old = idx.term_stats
    try:
        idx.term_stats = old.where("1=1")  # new object = new binding
        rows = _vocab_resolve_inline(idx, "text", ["beta"]).collect()
        assert [r["term"] for r in rows] == ["beta"]
        vc = idx._vocab_local_cache
        assert vc[0] is idx.term_stats
        assert ("text", "alpha") not in vc[1]  # old binding's entries gone
    finally:
        idx.term_stats = old
        idx.__dict__.pop("_vocab_local_cache", None)


def test_fuzzy_vocabulary_read_once_per_binding(idx):
    # a fuzzy expansion reads the field's vocabulary once per binding:
    # the second expansion runs no Spark job, and a rebind drops it
    idx.__dict__.pop("_vocab_local_cache", None)
    sc = idx.postings.sparkSession.sparkContext
    st = sc._jsc.sc().statusTracker()
    try:
        rows = _expansion_rows(idx, "text", ["alpa"], False, 1, False)
        assert [(r[0], r[2], r[3]) for r in rows] == [(0, "alpha", 3)]
        assert "text" in idx._vocab_local_cache[2]
        before = list(st.getJobIdsForGroup(None))
        rows = _expansion_rows(idx, "text", ["delt", "bata"], False, 1,
                               False)
        assert [(r[0], r[2]) for r in rows] == [(0, "delta"), (1, "beta")]
        assert list(st.getJobIdsForGroup(None)) == before
        old = idx.term_stats
        try:
            idx.term_stats = old.where("term != 'alpha'")
            assert _expansion_rows(idx, "text", ["alpa"], False, 1,
                                   False) == []
        finally:
            idx.term_stats = old
    finally:
        idx.__dict__.pop("_vocab_local_cache", None)


def test_eviction_cannot_starve_current_call(idx, monkeypatch):
    # a query mixing an OLD warm entry with enough new terms to cross
    # the cap must still return every term (results kept locally), and
    # eviction drops the OLDEST entries, not the whole memo
    import ex_elasticlunr_spark.search.scorer as sc

    idx.__dict__.pop("_vocab_local_cache", None)
    monkeypatch.setattr(sc, "_VOCAB_CACHE_MAX", 3)
    from ex_elasticlunr_spark.search.scorer import _vocab_lookup

    _vocab_lookup(idx, [("text", "alpha")])  # oldest entry
    got = _vocab_lookup(idx, [("text", t) for t in
                              ["alpha", "beta", "gamma", "delta", "nope"]])
    assert got[("text", "alpha")][0] == 3
    assert got[("text", "delta")][0] == 1
    assert got[("text", "nope")] is None
    vc = idx._vocab_local_cache[1]
    assert len(vc) == 3  # cap enforced, the newest entries kept
    assert ("text", "alpha") not in vc  # oldest evicted first
    idx.__dict__.pop("_vocab_local_cache", None)


def test_wand_empty_clauses_returns_empty(idx):
    from ex_elasticlunr_spark.search.wand import wand_topk_multi

    assert wand_topk_multi(idx, [], k=5).collect() == []


def test_fstats_local_identity_memo(idx):
    rows = _fstats_local(idx)
    assert rows["text"]["n_docs"] == 3
    assert _fstats_local(idx) is rows  # memoized per binding
