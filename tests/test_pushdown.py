"""Plan-shape guarantees on a LOADED (durable) index.

The term-clustered postings layout exists so term predicates reach the
parquet scan and prune row groups (SURVEY §2.3 Q3; VERDICT r01 item 2).
These tests pin the physical plan: if a refactor reroutes the term
filter above a join or widens the scan schema, they fail.
"""

import pytest

from pyspark.sql import functions as F

from ex_elasticlunr_spark import Index


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "warehouse")
    df = spark.createDataFrame(
        [(str(i), f"spark merge window value row{i % 7}") for i in range(200)],
        "docid string, text string",
    )
    idx = Index(name="push").add_field("text")
    idx.add_documents(df, docid_col="docid")
    idx.inverted.save(path)
    return Index.load(spark, path, name="push")


def _scan_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_terms_query_pushes_in_filter_to_scan(loaded):
    from ex_elasticlunr_spark.search import scorer

    res = scorer.terms_scores(loaded.inverted, "text", ["spark", "merg"])
    plan = _scan_plan(res)
    assert "PushedFilters" in plan
    # the literal In(term, ...) must reach the postings parquet scan
    assert "In(term, [merg,spark])" in plan or "In(term, [spark,merg])" in plan


def test_expand_query_pushes_startswith(loaded):
    from ex_elasticlunr_spark.search import scorer

    res = scorer.terms_scores(loaded.inverted, "text", ["sp"], expand=True)
    plan = _scan_plan(res)
    assert "StringStartsWith(term,sp)" in plan


def test_scan_schema_is_pruned(loaded):
    from ex_elasticlunr_spark.search import scorer

    res = scorer.terms_scores(loaded.inverted, "text", ["spark"])
    plan = _scan_plan(res)
    # the scoring scan of the one posting table must NOT drag the
    # positions payload through a scoring query (column pruning)
    assert "positions" not in plan


def test_fuzzy_query_pushes_resolved_terms(loaded):
    from ex_elasticlunr_spark.search import scorer

    # 'spak' resolves to {spark} in the vocabulary; the fuzzy branch
    # must push the RESOLVED literal terms, not scan all postings
    res = scorer.terms_scores(loaded.inverted, "text", ["spak"],
                              fuzziness=1)
    plan = _scan_plan(res)
    # a single resolved term folds In -> EqualTo; both prove the scan
    # filters on the RESOLVED vocabulary, not a full postings read
    assert ("In(term, [spark])" in plan
            or "EqualTo(term,spark)" in plan)


def test_narrow_postings_scan_has_no_docid(loaded):
    """The hot-path scoring scan reads NO docid column at all — the
    ~17-byte docid string neither rides the clustering shuffle at build
    nor any scoring shuffle; the executor resolves it from the ordinals
    table once per query."""
    from ex_elasticlunr_spark.search import scorer

    assert loaded.inverted.key_col == "ord"
    assert "docid" not in loaded.inverted.postings.columns
    res = scorer.terms_scores(loaded.inverted, "text", ["spark"])
    plan = _scan_plan(res)
    assert "docid" not in plan


def test_phrase_scan_pushes_in_filter_to_positions_table(loaded,
                                                         monkeypatch):
    """The positional path (VERDICT r02 'What's wrong #1'): on a LOADED
    index match_phrase must scan the TERM-CLUSTERED postings table with
    the literal In(term, ...) predicate pushed into the parquet reader —
    not an unpruned full scan of a doc-ordered table. (A zero driver
    row cap forces the distributed plan, and the hit-set checkpoint is
    an identity so the scan stays in the inspectable plan.)"""
    from ex_elasticlunr_spark.search import scorer

    monkeypatch.setattr(type(loaded.inverted.postings), "localCheckpoint",
                        lambda self, eager=True: self)
    res = scorer.phrase_scores(loaded.inverted, "text", ["spark", "merg"],
                               driver_max_rows=0)
    plan = _scan_plan(res)
    assert "PushedFilters" in plan
    assert ("In(term, [merg,spark])" in plan
            or "In(term, [spark,merg])" in plan)
    # and it reads the clustered postings table, not a flat ingest dump
    assert "/postings" in plan


def test_snippet_scan_pushes_in_filter(loaded):
    from ex_elasticlunr_spark.search import highlight

    res = highlight.snippet_ords(loaded.inverted, "text", ["spark"])
    plan = _scan_plan(res)
    assert ("In(term, [spark])" in plan or "EqualTo(term,spark)" in plan)
    assert "/postings" in plan


def test_details_scan_pushes_in_filter_to_positions_table(loaded):
    """with_details=True reads positions from the clustered postings
    table with the term predicate pushed (was: doc-ordered flat scan)."""
    from ex_elasticlunr_spark.search import scorer

    res = scorer.terms_scores(loaded.inverted, "text", ["spark"],
                              with_details=True)
    plan = _scan_plan(res)
    assert ("In(term, [spark])" in plan or "EqualTo(term,spark)" in plan)
    assert "/postings" in plan


def test_search_many_pushes_union_of_terms(loaded, monkeypatch):
    """The bulk path's Spark plan pushes the UNION of all query terms as
    one literal In(term, ...) into the narrow postings scan — a
    thousand-query batch still costs ~one pruned scan. (The driver
    cap at 0 keeps the batch off the driver-served route.)"""
    from ex_elasticlunr_spark.search import wand
    from ex_elasticlunr_spark.search.batch import search_many

    monkeypatch.setattr(wand, "DRIVER_SERVE_BYTES", 0)

    res = search_many(loaded.inverted,
                      {"qa": "spark merge", "qb": "window merge"},
                      "text", top_k=5)
    plan = _scan_plan(res)
    assert "PushedFilters" in plan
    assert "In(term, [merg,spark,window])" in plan
    assert "positions" not in plan  # narrow scan only


def test_related_documents_pushes_resolved_seed_terms(loaded):
    """Ad-hoc related-docs queries resolve seed terms first and push
    the literal In(term, ...) into the candidate postings scan."""
    from ex_elasticlunr_spark.search.batch import related_documents

    res = related_documents(loaded.inverted, "text", docids=["1", "2"],
                            seed_terms=4, top_k=5)
    plan = _scan_plan(res)
    assert "PushedFilters" in plan
    assert "In(term, [" in plan or "EqualTo(term," in plan


def test_index_explain_surfaces_pushdown(loaded):
    """Index.explain exposes the pushed predicates users should check."""
    plan = loaded.explain({"query": {"terms": {"text": "spark"}}})
    assert "PushedFilters" in plan and "spark" in plan
