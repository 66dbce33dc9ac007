"""Driver reads of a bound snapshot's files (build/files.py scan).

On a loaded warehouse the driver-served query classes read their index
rows with pyarrow from the bound parquet files instead of Spark. Pinned
here, on one single-generation warehouse and one whose delta generation
adds documents and tombstones others:

* the file reads return what the Spark (``toArrow``) reads of the same
  bound DataFrames return, and both equal the oracle, in both scoring
  modes — including a doc tombstoned and re-added in one generation, a
  term whose every posting is tombstoned, and terms and docids holding
  ``'``, ``\\`` and non-ASCII characters;
* after a binding's first query, term/and/or/bool/prefix queries run
  no Spark job and fuzzy runs at most one;
* with the driver-serve cap at 0 the single-clause classes take the
  distributed WAND plan and still equal the exhaustive executor;
* a pending removal on a loaded reader is visible before ``save_delta``
  and never reads the bound files;
* the analyzer's stem cache stays under its cap.
"""

from __future__ import annotations

import itertools
import math
import random

import pytest

from benchmark.checks import MANY_TOL, ranked_equal
from ex_elasticlunr_spark import Index
from tests.oracle import OracleIndex
from tests.oracle.core import search as oracle_search

WORDS = ["quick", "brown", "fox", "lorem", "ipsum", "elixir", "segment",
         "stream", "merge", "token", "spark", "search", "window",
         "o'brien", "back\\slash", "naïve", "café"]
GONE = ["d3", "d7", "s1", "s2", "u1", "it's"]  # s*: every "solo" posting
ADDED = {"n1": "phoenix quick fox merge o'brien spark",
         "n2": "lorem spark phoenix naïve",
         "u1": "phoenix brown window stream",  # tombstoned and re-added
         "naïve-ü中": "café back\\slash spark"}

CLASSES = {
    "term": {"query": {"match": {"text": "spark"}}},
    "and": {"query": {"match": {"text": {"query": "lorem ipsum",
                                         "operator": "and"}}}},
    "or": {"query": {"match": {"text": "quick fox elixir phoenix"}}},
    "bool": {"query": {"bool": {
        "must": {"match": {"text": "merge"}},
        "should": [{"match": {"text": "window"}},
                   {"match": {"text": "solo"}}],
        "must_not": {"match": {"text": "token"}}}}},
    "prefix": {"query": {"terms": {"text": {"value": "seg",
                                            "expand": True}}}},
    "fuzzy": {"query": {"terms": {"text": {"value": "tokan",
                                           "fuzziness": 1}}}},
}
PHRASES = ["quick brown", "o'brien spark", "back\\slash quick"]
EXTRA = [
    {"query": {"match": {"text": "solo"}}},         # every posting gone
    {"query": {"match": {"text": "phoenix"}}},      # re-added u1 included
    {"query": {"match": {"text": "o'brien"}}},
    {"query": {"match": {"text": "back\\slash café"}}},
    {"query": {"match": {"text": "naïve"}}},
    {"query": {"terms": {"text": {"value": "caf", "expand": True}}}},
]
MANY = {"q0": "fox spark", "q1": "lorem o'brien", "q2": "naïve back\\slash"}


def _docs():
    rng = random.Random(5)
    docs = {f"d{i}": " ".join(rng.choice(WORDS)
                              for _ in range(rng.randint(2, 9)))
            for i in range(48)}
    docs.update({"s1": "solo quick merge", "s2": "solo solo window",
                 "u1": "brown fox lorem", "it's": "o'brien spark café",
                 "back\\slash": "back\\slash quick naïve",
                 "p1": "the quick brown fox", "p2": "quick brown quick brown"})
    return docs


def _phrase_oracle(oidx, docs, text, mode, k1=1.2, b=0.75):
    """Top-10 of a match_phrase query by the phrase scoring formulas
    (search/scorer.py phrase_scores) over the oracle's analysis."""
    f = oidx.fields["text"]
    phrase = f.pipeline.run_terms(text)
    n = len(phrase)
    pf = {}
    for d, t in docs.items():
        toks = f.pipeline.run_terms(t)
        c = sum(toks[i:i + n] == phrase for i in range(len(toks) - n + 1))
        if c:
            pf[d] = c
    big_n, pdf = len(f.ids), len(pf)
    out = []
    for d, c in pf.items():
        if mode == "elasticlunr":
            idf = 1.0 + math.log10(big_n / (pdf + 1.0))
            s = math.sqrt(c) * idf * idf * f.flnorm
        else:
            idf = math.log(1.0 + (big_n - pdf + 0.5) / (pdf + 0.5))
            s = idf * (c * (k1 + 1.0)) / (c + k1 * (
                1.0 - b + b * f.doc_len[d] / f.avg_doc_len()))
        out.append((d, s))
    return sorted(out, key=lambda x: (-x[1], x[0]))


def _oracle(docs):
    oidx = OracleIndex(ref="docid").add_field("text")
    oidx.fields["text"].add(sorted(docs.items()))
    return oidx


def _save(spark, path, docs):
    (Index(name="ar").add_field("text")
     .add_documents(spark.createDataFrame(
         sorted(docs.items()), "docid string, text string"),
         docid_col="docid")
     .inverted.save(path, block_size=16))


@pytest.fixture(scope="module")
def single(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ar1") / "wh")
    docs = _docs()
    _save(spark, path, docs)
    return path, _oracle(docs), docs


@pytest.fixture(scope="module")
def generational(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ar2") / "wh")
    docs = _docs()
    _save(spark, path, docs)
    ix = Index.load(spark, path)
    ix.remove_documents(GONE)
    ix.add_documents(spark.createDataFrame(
        sorted(ADDED.items()), "docid string, text string"),
        docid_col="docid")
    ix.save_delta()
    live = {d: t for d, t in docs.items() if d not in GONE}
    live.update(ADDED)
    return path, _oracle(live), live


@pytest.fixture(params=["single", "generational"])
def warehouse(request):
    return request.getfixturevalue(request.param)


def _readers(spark, path):
    """A reader on the bound files, and one whose tables forget their
    files, so every driver read is a Spark ``toArrow`` of the same
    bound DataFrames."""
    files = Index.load(spark, path)
    assert files.inverted._files
    spark_reads = Index.load(spark, path)
    spark_reads.inverted._files = {}
    return files, spark_reads


def _rows(ix, q, mode):
    return [(r["docid"], r["score"])
            for r in ix.search(q, top_k=10, mode=mode).collect()]


def _many(ix):
    rows = ix.search_many(MANY, "text", top_k=10).collect()
    by_q: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    return by_q


def test_file_reads_equal_spark_reads_and_oracle(spark, warehouse):
    path, oidx, docs = warehouse
    files, spark_reads = _readers(spark, path)
    for mode in ("bm25", "elasticlunr"):
        view = oidx.bm25() if mode == "bm25" else oidx
        for q in list(CLASSES.values()) + EXTRA:
            got = _rows(files, q, mode)
            assert got == _rows(spark_reads, q, mode), (q, mode)
            want = [(r["ref"], r["score"]) for r in oracle_search(view, q)]
            assert ranked_equal(got, want, 10, 1e-9), (q, mode, got, want)
        for text in PHRASES:
            q = {"query": {"match_phrase": {"text": text}}}
            got = _rows(files, q, mode)
            assert got == _rows(spark_reads, q, mode), (q, mode)
            want = _phrase_oracle(oidx, docs, text, mode)
            assert ranked_equal(got, want, 10, 1e-9), (q, mode, got, want)
            assert got
        got = files.search_wand("quick fox elixir", "text", top_k=10,
                                mode=mode).collect()
        assert got == spark_reads.search_wand(
            "quick fox elixir", "text", top_k=10, mode=mode).collect()
    by_q = _many(files)
    assert by_q == _many(spark_reads)
    for qid, text in MANY.items():
        want = [(r["ref"], r["score"]) for r in oracle_search(
            oidx.bm25(), {"query": {"match": {"text": text}}})]
        assert ranked_equal(by_q.get(qid, []), want, 10, MANY_TOL), qid


_groups = itertools.count()


def _n_jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"arrow-reads-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_served_classes_run_no_spark_job(spark, warehouse):
    path = warehouse[0]
    ix = Index.load(spark, path)
    # the binding's first query pays its one-time field statistics
    ix.search(CLASSES["term"], top_k=10).collect()
    for cls, q in CLASSES.items():
        for mode in ("bm25", "elasticlunr"):
            # the first mode meets cold df lookups: file reads too
            n = _n_jobs(spark, lambda: ix.search(q, top_k=10,
                                                 mode=mode).collect())
            assert n <= (1 if cls == "fuzzy" else 0), (cls, mode, n)
    n = _n_jobs(spark, lambda: ix.search_wand(
        "window stream", "text", top_k=10).collect())
    assert n == 0
    # an empty result is a local relation too: no job to collect it
    empty = {"query": {"match": {"text": {"query": "solo elixir",
                                          "operator": "and"}}}}
    assert ix.search(empty, top_k=10).collect() == []
    assert _n_jobs(spark, lambda: ix.search(empty, top_k=10).collect()) == 0


def test_distributed_wand_equals_exhaustive(spark, generational,
                                            monkeypatch):
    from ex_elasticlunr_spark.search import wand as wand_mod

    ix = Index.load(spark, generational[0])
    monkeypatch.setattr(wand_mod, "DRIVER_SERVE_BYTES", 0)
    for cls in ("term", "and", "prefix", "fuzzy"):
        for mode in ("bm25", "elasticlunr"):
            got = _rows(ix, CLASSES[cls], mode)
            monkeypatch.setenv("EX_SPARK_NO_WAND_ROUTE", "1")
            want = _rows(ix, CLASSES[cls], mode)
            monkeypatch.delenv("EX_SPARK_NO_WAND_ROUTE")
            assert [(d, round(s, 9)) for d, s in got] == \
                [(d, round(s, 9)) for d, s in want] and got, (cls, mode)


def test_pending_removal_never_reads_bound_files(spark, single,
                                                 monkeypatch):
    import pyarrow.dataset as ds

    ix = Index.load(spark, single[0])
    q = {"query": {"match": {"text": "o'brien"}}}
    before = {r["docid"] for r in ix.search(q, top_k=50).collect()}
    assert "it's" in before
    opened = []
    real = ds.dataset

    def spy(source, *a, **kw):
        opened.append(source)
        return real(source, *a, **kw)

    monkeypatch.setattr(ds, "dataset", spy)
    ix.remove_documents(["it's"])
    for mode in ("bm25", "elasticlunr"):
        after = {r["docid"] for r in ix.search(q, top_k=50,
                                               mode=mode).collect()}
        assert after == before - {"it's"}
    assert not opened


def test_stem_cache_stays_under_its_cap(monkeypatch):
    from ex_elasticlunr_spark.analysis import porter2
    from ex_elasticlunr_spark.functions import udfs

    monkeypatch.setattr(udfs, "_STEM_CACHE", {})
    monkeypatch.setattr(udfs, "_STEM_CACHE_MAX", 4)
    words = ["running", "jumped", "happily", "searches", "running",
             "indexes", "cats", "jumped", "generously", "stems"]
    for w in words:
        assert udfs._stem(w) == porter2.stem(w)
        assert len(udfs._STEM_CACHE) <= 4
    # oldest first: the last four distinct insertions remain
    assert list(udfs._STEM_CACHE) == ["cats", "jumped", "generously",
                                      "stems"]
