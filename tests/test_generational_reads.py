"""Generational reads at base cost (build/deltas.py bind_generations,
search/scorer.py _vocab_lookup).

A warehouse with one delta generation that carries both adds and
tombstones must answer every query class with no more Spark jobs than
the pre-delta commit does (a fuzzy query none once warm), bind without
persisting anything, and stay rank-identical to the oracle in both
scoring modes — including a doc tombstoned and re-added in the same
generation and a term whose every posting is tombstoned, looked up
exactly or through a fuzzy edit ball. Also pinned here: the term-statistics memo under
concurrent eviction, tombstoned docids that need SQL escaping under
either ``spark.sql.parser.escapedStringLiterals`` setting, the
TOMB_LOCAL_CAP bound past which ``save_delta`` compacts instead, and
the job-free table binding (``indexer.read_table``) that loads rely on.
"""

from __future__ import annotations

import itertools
import json
import os
import random
from concurrent.futures import ThreadPoolExecutor

import pytest

from benchmark.checks import ranked_equal
from ex_elasticlunr_spark import Index
from tests.oracle import OracleIndex
from tests.oracle.core import search as oracle_search

WORDS = ["quick", "brown", "fox", "jumped", "lorem", "ipsum", "dolor",
         "elixir", "livebook", "segment", "stream", "merge", "token",
         "vector", "spark", "index", "search", "shuffle", "window"]
GONE = ["d3", "d7", "s1", "s2", "u1"]  # s*: every "solo" posting
ADDED = {"n1": "phoenix quick fox merge", "n2": "lorem spark phoenix",
         "u1": "phoenix brown window stream"}  # u1: update in the gen

CLASSES = {
    "term": lambda ix, m: ix.search(
        {"query": {"match": {"text": "spark"}}}, top_k=10, mode=m),
    "or": lambda ix, m: ix.search_wand(
        "quick fox elixir phoenix", "text", top_k=10, mode=m),
    "and": lambda ix, m: ix.search({"query": {"match": {"text": {
        "query": "lorem ipsum", "operator": "and"}}}}, top_k=10, mode=m),
    "bool": lambda ix, m: ix.search({"query": {"bool": {
        "must": {"match": {"text": "merge"}},
        "should": [{"match": {"text": "window"}},
                   {"match": {"text": "solo"}}],
        "must_not": {"match": {"text": "dolor"}}}}}, top_k=10, mode=m),
    "phrase": lambda ix, m: ix.search(
        {"query": {"match_phrase": {"text": "quick brown"}}},
        top_k=10, mode=m),
    "fuzzy": lambda ix, m: ix.search({"query": {"terms": {"text": {
        "value": "tokan", "fuzziness": 1}}}}, top_k=10, mode=m),
    "prefix": lambda ix, m: ix.search({"query": {"terms": {"text": {
        "value": "seg", "expand": True}}}}, top_k=10, mode=m),
    "many": lambda ix, m: ix.search_many(
        {"q0": "fox spark", "q1": "lorem phoenix"}, "text", top_k=10),
}
ORACLE_QUERIES = [
    {"query": {"match": {"text": "spark"}}},
    {"query": {"match": {"text": "quick fox elixir phoenix"}}},
    {"query": {"match": {"text": {"query": "lorem ipsum",
                                  "operator": "and"}}}},
    {"query": {"bool": {"must": {"match": {"text": "merge"}},
                        "should": [{"match": {"text": "window"}},
                                   {"match": {"text": "solo"}}],
                        "must_not": {"match": {"text": "dolor"}}}}},
    {"query": {"terms": {"text": {"value": "tokan", "fuzziness": 1}}}},
    # the edit ball holds "solo", every posting of which is gone
    {"query": {"terms": {"text": {"value": "sola", "fuzziness": 1}}}},
    {"query": {"terms": {"text": {"value": "seg", "expand": True}}}},
    {"query": {"match": {"text": "solo"}}},      # every posting gone
    {"query": {"match": {"text": "phoenix"}}},   # re-added u1 included
    {"query": {"match": {"text": "solo brown window"}}},
]


def _base_docs():
    rng = random.Random(7)
    docs = {f"d{i}": " ".join(rng.choice(WORDS)
                              for _ in range(rng.randint(2, 9)))
            for i in range(40)}
    docs["s1"] = "solo quick merge"
    docs["s2"] = "solo solo window"
    docs["u1"] = "brown fox lorem"
    return docs


def _oracle(docs):
    oidx = OracleIndex(ref="docid").add_field("text")
    oidx.fields["text"].add(sorted(docs.items()))
    return oidx


def _commit(spark, path, gone, added):
    """One delta generation on ``path``: tombstones ``gone`` and adds
    ``added`` (a tombstoned-and-re-added docid is an update)."""
    ix = Index.load(spark, path)
    ix.remove_documents(spark.createDataFrame(
        [(d,) for d in gone], "docid string"))
    ix.add_documents(spark.createDataFrame(
        sorted(added.items()), "docid string, text string"),
        docid_col="docid")
    return ix.inverted.save_delta()


def _save_base(spark, path, docs):
    (Index(name="g").add_field("text")
     .add_documents(spark.createDataFrame(
         sorted(docs.items()), "docid string, text string"),
         docid_col="docid")
     .save(path))


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gen") / "wh")
    docs = _base_docs()
    _save_base(spark, path, docs)
    assert _commit(spark, path, GONE, ADDED).endswith("gen-00001")
    live = {d: t for d, t in docs.items() if d not in GONE}
    live.update(ADDED)
    return path, _oracle(docs), _oracle(live)


_group_ids = itertools.count()


def _jobs(spark, fn) -> list:
    """The Spark jobs ``fn`` runs, found through a job group: the name
    (call site) of each job's first stage."""
    sc = spark.sparkContext
    group = f"genreads-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    # every stage of a job carries the job's call site; the result stage
    # (the highest id) is the one the status store is sure to retain — a
    # skipped, reused shuffle stage may be older than its retention cap
    return [st.getStageInfo(max(st.getJobInfo(j).stageIds)).name
            for j in st.getJobIdsForGroup(group)]


def _check_oracle(ix, oidx, query, mode):
    view = oidx.bm25() if mode == "bm25" else oidx
    want = [(r["ref"], r["score"]) for r in oracle_search(view, query)]
    got = [(r["docid"], r["score"])
           for r in ix.search(query, top_k=10, mode=mode).collect()]
    assert ranked_equal(got, want, 10, 1e-9), (query, mode, got, want[:10])


def test_query_classes_cost_no_more_jobs_than_base(spark, warehouse):
    path = warehouse[0]
    gen = Index.load(spark, path)
    pre = Index.load(spark, path, at=0)  # the pre-delta commit
    assert gen.inverted._dead_ords and not pre.inverted._dead_ords
    for run in CLASSES.values():  # one warm-up query per class
        for ix in (gen, pre):
            run(ix, "bm25").collect()
    for cls, run in CLASSES.items():
        for mode in ("bm25", "elasticlunr"):
            g = _jobs(spark, lambda: run(gen, mode).collect())
            p = _jobs(spark, lambda: run(pre, mode).collect())
            assert len(g) <= len(p), (cls, mode, g, p)
            if cls == "fuzzy":  # the edit ball is matched on the driver
                assert g == [], (mode, g)


def test_bind_runs_one_job_and_persists_nothing(spark, warehouse):
    path = warehouse[0]
    sc = spark.sparkContext
    n_persisted = len(sc._jsc.getPersistentRDDs())
    for _ in range(5):
        jobs = _jobs(spark, lambda: Index.load(spark, path))
        # the tombstone resolve, nothing else: every table's schema
        # comes from its parquet footer (indexer.read_table), no job
        assert len(jobs) == 1 and "deltas.py" in jobs[0], jobs
    ix = Index.load(spark, path)
    CLASSES["or"](ix, "bm25").collect()
    # <=: the context cleaner may drop other tests' blocks meanwhile
    assert len(sc._jsc.getPersistentRDDs()) <= n_persisted


@pytest.mark.parametrize("mode", ["bm25", "elasticlunr"])
def test_generational_and_base_readers_equal_oracle(spark, warehouse,
                                                    mode):
    path, o_pre, o_gen = warehouse
    gen = Index.load(spark, path)
    pre = Index.load(spark, path, at=0)
    for q in ORACLE_QUERIES:
        _check_oracle(gen, o_gen, q, mode)
        _check_oracle(pre, o_pre, q, mode)
    hits = {r["docid"] for r in gen.search(
        {"query": {"match": {"text": "phoenix"}}}, top_k=10).collect()}
    assert "u1" in hits  # re-added in the generation that tombstoned it
    assert gen.search({"query": {"match": {"text": "solo"}}}).count() == 0
    sola = {"query": {"terms": {"text": {"value": "sola", "fuzziness": 1}}}}
    assert gen.search(sola).count() == 0
    assert {r["docid"] for r in pre.search(sola).collect()} == {"s1", "s2"}
    assert not gen.has_token("text", "solo")


def test_concurrent_lookups_under_memo_eviction(spark, warehouse,
                                                monkeypatch):
    import ex_elasticlunr_spark.search.scorer as sc

    monkeypatch.setattr(sc, "_VOCAB_CACHE_MAX", 8)
    path, _, o_gen = warehouse
    gen = Index.load(spark, path)
    rng = random.Random(11)
    batches = [[{"query": {"match": {"text": " ".join(
        rng.sample(WORDS + ["phoenix", "solo"], 4))}}}
        for _ in range(4)] for _ in range(4)]

    def client(qs):
        for i, q in enumerate(qs):
            _check_oracle(gen, o_gen, q, ("bm25", "elasticlunr")[i % 2])

    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(client, qs) for qs in batches]:
            f.result()  # re-raises any KeyError or mismatch
    assert len(gen.inverted._vocab_local_cache[1]) <= 8


@pytest.fixture(scope="module")
def odd_warehouse(spark, tmp_path_factory):
    """Docids that need SQL escaping, all tombstoned in one generation."""
    path = str(tmp_path_factory.mktemp("odd") / "wh")
    odd = ["it's", "back\\slash", "naïve-ü中", "q''s\\'"]
    docs = {d: "odd marker spark" for d in odd}
    docs.update({f"k{i}": "spark marker" for i in range(5)})
    _save_base(spark, path, docs)
    _commit(spark, path, odd, {"k9": "spark"})
    return path


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_escaped_docid_tombstones(spark, odd_warehouse, escaped):
    path = odd_warehouse
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, escaped)
    try:
        ix = Index.load(spark, path)
        got = {r["docid"] for r in ix.search(
            {"query": {"match": {"text": "spark marker"}}},
            top_k=50).collect()}
        assert got == {f"k{i}" for i in range(5)} | {"k9"}
        assert not ix.has_token("text", "odd")
        assert ix.documents_size() == 6
    finally:
        spark.conf.unset(key)


def test_save_delta_compacts_past_tomb_cap(spark, tmp_path, monkeypatch):
    from ex_elasticlunr_spark.build import deltas

    monkeypatch.setattr(deltas, "TOMB_LOCAL_CAP", 2)
    path = str(tmp_path / "wh")
    docs = _base_docs()
    _save_base(spark, path, docs)
    assert _commit(spark, path, ["d1"], {"n1": "phoenix"})  # 1 <= cap
    # two more tombstones cross the cap: a compaction, not a generation
    assert _commit(spark, path, ["d2", "d4"], {"n2": "phoenix fox"}) == ""
    with open(os.path.join(path, "manifest.json")) as fh:
        assert not json.load(fh).get("generations")
    ix = Index.load(spark, path)
    assert not ix.inverted._dead_ords
    live = {d: t for d, t in docs.items() if d not in ("d1", "d2", "d4")}
    live.update({"n1": "phoenix", "n2": "phoenix fox"})
    for mode in ("bm25", "elasticlunr"):
        for q in ORACLE_QUERIES:
            _check_oracle(ix, _oracle(live), q, mode)


def test_read_table_takes_footer_schema_without_a_job(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ex_elasticlunr_spark.build.indexer import read_table

    spark_dir = str(tmp_path / "spark")
    spark.createDataFrame(
        [("a", 1, [1, 2], {"k": 1.5}, (3, "x")), ("b", None, None, None,
                                                  None)],
        "s string, n long, xs array<int>, m map<string,double>, "
        "st struct<i:int,t:string>").write.parquet(spark_dir)
    arrow_dir = tmp_path / "arrow"
    arrow_dir.mkdir()
    pq.write_table(pa.table({"s": ["a"], "n": [1]}),
                   str(arrow_dir / "part-0.parquet"))
    for d in (spark_dir, str(arrow_dir)):
        want = spark.read.parquet(d)
        got = read_table(spark, d)
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
    # the Spark writer's footer schema binds with no job; the arrow
    # file has none and keeps Spark's inference
    assert _jobs(spark, lambda: read_table(spark, spark_dir)) == []
    assert _jobs(spark, lambda: read_table(spark, str(arrow_dir)))
