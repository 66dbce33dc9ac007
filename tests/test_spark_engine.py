"""Rank-identity: the Spark engine must match the pure-Python oracle —
same docids, same scores (1e-9) — on the reference query set over the
golden corpus AND on a synthetic transcripts table with the default
analyzer.
"""

import pytest

from ex_elasticlunr_spark import AnalyzerConfig, Index
from ex_elasticlunr_spark.analysis import Pipeline
from ex_elasticlunr_spark.sources.transcripts import transcripts_df, with_docid
from tests.oracle import OracleIndex
from tests.oracle.core import search as oracle_search
from tests.oracle.query_set import TRANSCRIPT_QUERIES, reference_query_set
from tests.test_oracle import DOCS

TOKENIZER_ONLY = AnalyzerConfig(stages=())

# the reference query set (FIXTURES.md §3, adapted from dsl_test.exs)
QUERY_SET = reference_query_set("content")


def spark_results(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def oracle_results(index, query, top_k=None):
    res = oracle_search(index, query, top_k=top_k)
    return [(r["ref"], r["score"]) for r in res]


def assert_rank_identical(got, want):
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9), (gd, gs, ws)


@pytest.fixture(scope="module")
def golden(spark):
    sdf = spark.createDataFrame(
        [(str(d["id"]), d["content"]) for d in DOCS], "id string, content string"
    )
    idx = Index(name="golden", pipeline=TOKENIZER_ONLY).add_field("content")
    idx.add_documents(sdf, docid_col="id")
    idx.materialize()

    oidx = OracleIndex(pipeline=Pipeline([]))
    oidx.add_field("content")
    oidx.add_documents(DOCS)
    return idx, oidx


@pytest.fixture(scope="module")
def transcripts(spark):
    src = with_docid(transcripts_df(spark, n_convs=40, turns_per_conv=5))
    idx = Index(name="tx").add_field("text").add_field("tool")
    idx.add_documents(src, docid_col="docid")
    idx.materialize()

    oidx = OracleIndex()  # default pipeline
    oidx.add_field("text").add_field("tool")
    rows = src.select("docid", "text", "tool").collect()
    oidx.add_documents(
        [{"id": r["docid"], "text": r["text"], "tool": r["tool"]} for r in rows]
    )
    return idx, oidx


@pytest.mark.parametrize("qi", range(len(QUERY_SET)))
def test_golden_query_set(golden, qi):
    idx, oidx = golden
    q = QUERY_SET[qi]
    got = spark_results(idx.search(q))
    want = oracle_results(oidx, q)
    assert_rank_identical(got, want)


def test_golden_string_search(golden):
    idx, oidx = golden
    got = spark_results(idx.search("dog"))
    want = oracle_results(oidx, "dog")
    assert_rank_identical(got, want)
    assert spark_results(idx.search("me")) == []


TX_QUERIES = TRANSCRIPT_QUERIES


@pytest.mark.parametrize("qi", range(len(TX_QUERIES)))
def test_transcripts_query_set(transcripts, qi):
    idx, oidx = transcripts
    q = TX_QUERIES[qi]
    got = spark_results(idx.search(q, top_k=10))
    want = oracle_results(oidx, q, top_k=10)
    assert_rank_identical(got, want)


def test_transcripts_multifield_boosts(transcripts):
    idx, oidx = transcripts
    opts = {"fields": {"text": {"boost": 2}, "tool": {"boost": 1}}}
    got = spark_results(idx.search("search elixir", options=opts, top_k=10))
    want = [
        (r["ref"], r["score"])
        for r in oracle_search(oidx, "search elixir", options=opts, top_k=10)
    ]
    assert_rank_identical(got, want)


def test_stats_tables_equal_oracle(transcripts):
    """The bookkeeping tables every scorer reads — doc lengths, term
    df/idf, the per-field scalars and posting tfs — equal the oracle's
    per field, zero-token docs included."""
    idx, oidx = transcripts
    inv = idx.inverted
    for field in ("text", "tool"):
        of = oidx.fields[field]

        def rows(df):
            return df.where(df.field == field).collect()

        assert {r["docid"]: r["doc_len"]
                for r in rows(inv.doc_stats)} == of.doc_len
        terms = {r["term"]: r for r in rows(inv.term_stats)}
        assert set(terms) == set(of.term_docs)
        for t, r in terms.items():
            assert r["df"] == len(of.term_docs[t])
            assert r["idf"] == pytest.approx(of.idf[t], abs=1e-12)
        (fs,) = rows(inv.field_stats)
        assert fs["n_docs"] == len(of.ids)
        assert fs["n_unique_terms"] == len(of.term_docs)
        assert fs["flnorm"] == pytest.approx(of.flnorm, abs=1e-12)
        assert fs["avg_doc_len"] == pytest.approx(of.avg_doc_len(),
                                                  abs=1e-12)
        post = {(r["term"], r["docid"]): r for r in rows(inv.postings)}
        assert set(post) == {(t, d) for t, docs in of.term_docs.items()
                             for d in docs}
        for (t, d), r in post.items():
            assert r["tf_raw"] == of.term_docs[t][d]["total"]
            assert r["tf"] == pytest.approx(of.tf(t, d), abs=1e-12)


def _top_tfidf_terms(of, tf, n):
    """The oracle's pick of a seed's ``n`` highest tf*idf vocabulary
    terms, ties on the term."""
    cands = [t for t in tf if t in of.idf]
    return sorted(cands, key=lambda t: (-tf[t] * of.idf[t], t))[:n]


@pytest.mark.parametrize("mode", ["elasticlunr", "bm25"])
def test_more_like_this_equals_oracle_terms_query(transcripts, mode):
    """MoreLikeThis = the seed text's top tf*idf terms run as one terms
    query, in both scoring modes."""
    idx, oidx = transcripts
    of = oidx.fields["text"]
    seed = "the quick elixir fox: a quick search over elixir tool output"
    tf = {}
    for tok in of.analyze(seed, is_query=True):
        tf[tok.token] = tf.get(tok.token, 0) + 1
    picked = _top_tfidf_terms(of, tf, 3)
    assert len(picked) == 3
    view = oidx.bm25() if mode == "bm25" else oidx
    want = oracle_results(view, {"query": {"terms": {"text": picked}}})
    got = spark_results(idx.more_like_this(seed, "text", max_query_terms=3,
                                           mode=mode))
    assert want and len(picked) < len(tf)
    assert_rank_identical(got, want)


def test_related_documents_equal_oracle(transcripts):
    """Item-item related docs: each seed doc's top tf*idf terms scored
    as an elasticlunr terms query over the other docs, scores rounded
    to 6 places, ties on the docid."""
    from ex_elasticlunr_spark.search.batch import related_documents

    idx, oidx = transcripts
    of = oidx.fields["text"]
    seeds = sorted(of.ids)[:3]
    out = related_documents(idx.inverted, "text", docids=seeds,
                            seed_terms=4, top_k=5).collect()
    for qid in seeds:
        tf = {t: docs[qid]["total"] for t, docs in of.term_docs.items()
              if qid in docs}
        q = {"query": {"terms": {"text": _top_tfidf_terms(of, tf, 4)}}}
        hits = sorted(((round(s, 6), d) for d, s in oracle_results(oidx, q)
                       if d != qid), key=lambda h: (-h[0], h[1]))[:5]
        got = sorted((r["rank"], r["docid"], r["score"])
                     for r in out if r["qid"] == qid)
        assert hits and [(d, s) for _, d, s in got] == \
            [(d, s) for s, d in hits], qid


def test_incremental_add_and_remove(spark, golden):
    idx, _ = golden
    extra = spark.createDataFrame(
        [("6", "a brand new fox document"), ("1", "duplicate must be skipped")],
        "id string, content string",
    )
    idx2 = Index(name="golden2", pipeline=TOKENIZER_ONLY).add_field("content")
    sdf = spark.createDataFrame(
        [(str(d["id"]), d["content"]) for d in DOCS], "id string, content string"
    )
    idx2.add_documents(sdf, docid_col="id")
    idx2.add_documents(extra, docid_col="id")

    oidx = OracleIndex(pipeline=Pipeline([]))
    oidx.add_field("content")
    oidx.add_documents(DOCS)
    oidx.add_documents([{"id": 6, "content": "a brand new fox document"},
                        {"id": 1, "content": "duplicate must be skipped"}])

    q = {"query": {"terms": {"content": "fox"}}}
    assert_rank_identical(
        spark_results(idx2.search(q)), oracle_results(oidx, q)
    )
    # duplicate docid "1" silently skipped: "duplicate" must not match
    q2 = {"query": {"terms": {"content": "duplicate"}}}
    assert spark_results(idx2.search(q2)) == []

    # remove doc 1 -> fox only matches doc 6
    tomb = spark.createDataFrame([("1",)], "docid string")
    idx2.remove_documents(tomb)
    oidx.remove_documents(["1"])
    assert_rank_identical(
        spark_results(idx2.search(q)), oracle_results(oidx, q)
    )


def test_save_load_roundtrip(tmp_path, spark, golden):
    idx, oidx = golden
    path = str(tmp_path / "golden_index")
    idx.save(path)
    loaded = Index.load(spark, path)
    q = {"query": {"match": {"content": "fox quick"}}}
    assert_rank_identical(
        spark_results(loaded.search(q)), oracle_results(oidx, q)
    )


def test_search_details_terms_positions(golden):
    """Result shape parity with the reference's %{ref, score, matched,
    positions} (index.ex:258-266, terms_query.ex:93-98)."""
    idx, oidx = golden
    q = {"query": {"terms": {"content": "fox"}}}
    rows = idx.search(q, include_details=True).collect()
    want = {r["ref"]: r for r in oracle_search(oidx, q)}
    assert rows and set(rows[0].asDict()) == {
        "docid", "score", "matched", "positions"}
    for r in rows:
        w = want[r["docid"]]
        packed = [x for pair in w["positions"]["content"] for x in pair]
        assert r["positions"]["content"] == packed
        assert r["score"] == pytest.approx(w["score"])


def test_search_details_bool_merge(golden):
    """Bool should-clause positions merge per field in clause order
    (bool_query.ex:155-162); matched counts should clauses."""
    idx, oidx = golden
    q = {"query": {"bool": {
        "must": {"terms": {"content": "lorem"}},
        "should": [{"terms": {"content": "dog"}},
                    {"terms": {"content": "lorem"}}]}}}
    rows = {r["docid"]: r for r in
            idx.search(q, include_details=True).collect()}
    want = {r["ref"]: r for r in oracle_search(oidx, q)}
    assert set(rows) == set(want)
    for docid, w in want.items():
        r = rows[docid]
        assert r["matched"] == w["matched"], docid
        got_pos = dict(r["positions"]) if r["positions"] else {}
        want_pos = {
            f: [x for pair in pos for x in pair]
            for f, pos in w.get("positions", {}).items() if pos
        }
        got_pos = {f: p for f, p in got_pos.items() if p}
        assert got_pos == want_pos, docid
        assert r["score"] == pytest.approx(w["score"])


def test_not_in_filter_chain_rejects_from_universe(spark):
    """A `not` inside a bool filter chain scores its INNER query
    restricted to the prior clause's survivors but rejects from the
    UNRESTRICTED universe, and its output REPLACES the chain
    accumulator (bool_query.ex:180-197 reduce + not_query.ex:23-31 +
    the default Query.filter at dsl/query.ex:39-46 passing options
    through). Discriminating doc: matches `dog` (inner) and `ipsum`
    (should) but NOT `lorem` (first filter clause) — it must SURVIVE,
    because the inner `dog` matches are restricted to lorem docs.
    An oracle that drops the restriction (or intersects the chain)
    wrongly rejects it. Pins the r3 oracle _score fix."""
    docs = [("d1", "lorem dog"), ("d2", "ipsum dog"),
            ("d3", "lorem ipsum"), ("d4", "quick")]
    sdf = spark.createDataFrame(docs, "id string, content string")
    idx = Index(name="notchain", pipeline=TOKENIZER_ONLY).add_field("content")
    idx.add_documents(sdf, docid_col="id")

    oidx = OracleIndex(pipeline=Pipeline([]))
    oidx.add_field("content")
    oidx.add_documents([{"id": i, "content": c} for i, c in docs])

    q = {"query": {"bool": {
        "filter": [{"terms": {"content": "lorem"}},
                   {"not": {"terms": {"content": "dog"}}}],
        "should": [{"terms": {"content": "ipsum"}}]}}}
    got = spark_results(idx.search(q))
    want = oracle_results(oidx, q)
    assert {g[0] for g in got} == {"d2", "d3"}
    assert_rank_identical(got, want)


def test_edge_api_shapes(golden):
    """top_k=0 limits to zero rows (not 'unlimited'); an index with no
    documents fails search() with a clear message instead of an
    AttributeError deep in the executor."""
    idx, _ = golden
    assert idx.search({"query": {"match_all": {}}}, top_k=0).collect() == []

    bare = Index(name="never-built").add_field("content")
    with pytest.raises(RuntimeError, match="no documents"):
        bare.search({"query": {"match_all": {}}})


def test_all_stopword_match_rewrites_to_universe(spark):
    """A match whose query string analyzes to ZERO tokens rewrites to
    match_all (match_query.ex:34-44) and must therefore emit docs that
    hold no postings at all (null field -> synthetic negative ordinal).
    Pins QueryExecutor._has_universe seeing through the rewrite: the
    ord->docid translate join must use the FULL ordinal map here, while
    scoring-only queries take the cheap parquet-backed table."""
    from ex_elasticlunr_spark import Index

    sdf = spark.createDataFrame(
        [("1", "quick fox"), ("2", None)], "id string, text string")
    idx = Index(name="msw").add_field("text")
    idx.add_documents(sdf, docid_col="id")
    idx.materialize()

    # all-stopword query -> match_all -> both docs, incl the null one
    got = sorted(r["docid"]
                 for r in idx.search(
                     {"query": {"match": {"text": "the of and"}}}).collect())
    assert got == ["1", "2"]

    # scoring query: posting-bearing docs only (cheap ordinals path)
    got = [r["docid"]
           for r in idx.search(
               {"query": {"match": {"text": "quick fox"}}}).collect()]
    assert got == ["1"]


class TestSearchAfter:
    """Cursor pagination: pages tile the full ordering exactly."""

    def test_pages_tile_the_full_ordering(self, transcripts):
        ix, _ = transcripts
        q = {"query": {"match": {"text": "spark merge window"}}}
        full = [(r["docid"], r["score"])
                for r in ix.search(q, top_k=15).collect()]
        assert len(full) == 15
        pages, cur = [], None
        for _ in range(3):
            rows = ix.search(q, top_k=5, search_after=cur).collect()
            pages.extend((r["docid"], r["score"]) for r in rows)
            cur = (rows[-1]["score"], rows[-1]["docid"])
        assert pages == full
        # a cursor past the last result yields an empty page
        tail = ix.search(q, search_after=cur)
        last = [(r["docid"], r["score"]) for r in tail.collect()]
        all_rows = [(r["docid"], r["score"])
                    for r in ix.search(q).collect()]
        assert full + last == all_rows  # pages + tail == everything
        end = all_rows[-1]
        assert ix.search(q, top_k=5,
                         search_after=(end[1], end[0])).count() == 0

    def test_cursor_disables_wand_route(self, transcripts, monkeypatch):
        ix, _ = transcripts
        called = {"n": 0}
        orig = ix.search_wand_text

        def spy(*a, **kw):
            called["n"] += 1
            return orig(*a, **kw)

        monkeypatch.setattr(ix, "search_wand_text", spy)
        ix.search("spark merge", top_k=5,
                  search_after=(1e9, "")).collect()
        assert called["n"] == 0  # cursor queries stay exhaustive
