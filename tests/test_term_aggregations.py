"""Vocabulary and facet aggregations served from the index tables:
term facets over a query's matches, per-doc keywords, prefix
suggestions and spelling suggestions (``Index.facet``, ``keywords``,
``suggest``, ``did_you_mean``)."""

from ex_elasticlunr_spark.analysis import Pipeline
from tests.oracle import OracleIndex


def test_facet_terms_counts_and_tiebreak(spark):
    """Facet over a query's matched docs: per-term doc counts with the
    deterministic (count desc, term asc) top-n, min_count floor."""
    from ex_elasticlunr_spark import AnalyzerConfig, Index

    sdf = spark.createDataFrame(
        [("1", "fox dog"), ("2", "fox cat"), ("3", "fox dog bird"),
         ("4", "whale")],
        "id string, text string")
    idx = Index(name="fct", pipeline=AnalyzerConfig(stages=())) \
        .add_field("text")
    idx.add_documents(sdf, docid_col="id")
    idx.materialize()

    got = idx.facet({"query": {"terms": {"text": "fox"}}}, "text",
                    top_n=10).collect()
    # matched docs 1,2,3 -> fox:3, dog:2, then bird/cat tie on 1
    assert [(r["term"], r["doc_count"]) for r in got] == [
        ("fox", 3), ("dog", 2), ("bird", 1), ("cat", 1)]

    got = idx.facet({"query": {"terms": {"text": "fox"}}}, "text",
                    top_n=10, min_count=2).collect()
    assert [(r["term"], r["doc_count"]) for r in got] == [
        ("fox", 3), ("dog", 2)]


def test_facet_and_keywords_after_remove(spark):
    """Regression: after remove_documents the rebuilt postings carry a
    docid column (key_col == 'docid') ALONGSIDE any ord column — facet
    and keywords must key on index.key_col (the executor's currency),
    not on a column sniffed from postings, or the join crashes with
    UNRESOLVED_COLUMN."""
    from ex_elasticlunr_spark import AnalyzerConfig, Index

    sdf = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(
            ["fox dog", "fox cat", "fox dog bird", "whale",
             "fox", "dog cat", "fox whale", "bird"])],
        "id string, text string")
    idx = Index(name="fct-rm", pipeline=AnalyzerConfig(stages=())) \
        .add_field("text")
    idx.add_documents(sdf, docid_col="id")
    idx.remove_documents(["3"])
    idx.materialize()

    got = idx.facet({"query": {"terms": {"text": "fox"}}}, "text",
                    top_n=3).collect()
    # matched docs 0,1,2,4,6 -> fox:5, dog:2, then bird/cat/whale on 1
    assert [(r["term"], r["doc_count"]) for r in got] == [
        ("fox", 5), ("dog", 2), ("bird", 1)]

    kw = idx.keywords("text", top_n=1)
    assert kw.where(kw.docid == "3").count() == 0
    assert kw.count() == 7


def test_did_you_mean_ranking_and_edges(spark):
    from ex_elasticlunr_spark import Index

    docs = spark.createDataFrame(
        [("1", "spark spam spa soak shark spark"),
         ("2", "spark spam"),
         ("3", "spa unrelated")],
        "id string, text string")
    ix = Index(name="dym").add_field("text")
    ix.add_documents(docs, docid_col="id")
    got = [(r["term"], r["df"], r["dist"])
           for r in ix.did_you_mean("spak", "text", top_n=5).collect()]
    # dist-1 neighbors of 'spak': spa (delete), spam (sub), spark
    # (insert) all df 2 -> alphabetical; soak (sub) df 1 last; shark
    # is dist 2 and excluded
    assert got == [("spa", 2, 1), ("spam", 2, 1), ("spark", 2, 1),
                   ("soak", 1, 1)]
    # the input term itself is excluded even when in-vocabulary
    got2 = [r["term"] for r in ix.did_you_mean("spark", "text").collect()]
    assert "spark" not in got2 and got2 == ["shark"]
    # stopword input analyzes to nothing -> empty suggestion set
    assert ix.did_you_mean("the", "text").count() == 0


def test_suggest_prefix_matches_oracle_vocabulary(spark):
    """Prefix autocomplete: the vocabulary terms of one field starting
    with the prefix, df desc then term asc, cut at top_n, against the
    oracle's term -> docs map under the default analyzer."""
    from ex_elasticlunr_spark import Index

    rows = [("1", "spark spam spa", "spare"),
            ("2", "spark sparkle", "spa"),
            ("3", "spam spade soup", "spark"),
            ("4", "sparrow spark", ""),
            ("5", "soup", "spam")]
    docs = spark.createDataFrame(rows, "id string, text string, tool string")
    ix = Index(name="sgst").add_field("text").add_field("tool")
    ix.add_documents(docs, docid_col="id")

    oidx = OracleIndex(pipeline=Pipeline.default())
    oidx.add_field("text").add_field("tool")
    oidx.add_documents([{"id": i, "text": t, "tool": u} for i, t, u in rows])

    def want(field, prefix, top_n):
        vocab = oidx.fields[field].term_docs
        hits = [(t, len(d)) for t, d in vocab.items() if t.startswith(prefix)]
        return sorted(hits, key=lambda h: (-h[1], h[0]))[:top_n]

    for field, prefix, top_n in [("text", "sp", 10), ("text", "sp", 2),
                                 ("text", "spa", 10), ("tool", "sp", 10),
                                 ("text", "zz", 10)]:
        got = [(r["term"], r["df"])
               for r in ix.suggest(prefix, field, top_n=top_n).collect()]
        assert got == want(field, prefix, top_n), (field, prefix, top_n)
    assert want("text", "sp", 10)  # the prefix really hits the vocabulary
