"""Generational delta persistence (build/deltas.py): save_delta appends
generations without rewriting the base; load presents the union;
compact folds back. The reference has no incremental disk format (its
Disk provider rewrites the serialized index per save, storage/
disk.ex:22-31) — this is the 100-TB maintenance path layered on the
same query semantics."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from ex_elasticlunr_spark import Index


def _docs(spark, rows):
    return spark.createDataFrame(rows, "docid string, text string")


@pytest.fixture()
def corpus(spark):
    one = [(f"d{i}", f"spark merge window fast engine doc {i} alpha")
           for i in range(30)]
    two = [(f"e{i}", f"merge window beta streaming shuffle doc {i}")
           for i in range(20)]
    return _docs(spark, one), _docs(spark, two)


@pytest.fixture()
def base_path(tmp_path):
    return str(tmp_path / "idx")


def _scores(df, digits=9):
    return {r["docid"]: round(r["score"], digits) for r in df.collect()}


def test_delta_add_matches_full_rebuild(spark, corpus, base_path):
    df1, df2 = corpus
    full = Index(name="full").add_field("text")
    full.add_documents(df1.unionByName(df2), docid_col="docid")

    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)

    # snapshot the base postings files: save_delta must not touch them
    from ex_elasticlunr_spark.build.indexer import table_path

    def listing(table):
        d = table_path(base_path, table)
        return sorted((f, os.path.getmtime(os.path.join(d, f)))
                      for f in os.listdir(d) if f.endswith(".parquet"))

    before = {t: listing(t) for t in ("postings", "segments")}

    loaded = Index.load(spark, base_path)
    loaded.add_documents(df2, docid_col="docid")
    gen_dir = loaded.inverted.save_delta()
    assert gen_dir.endswith("gen-00001")
    assert {t: listing(t) for t in ("postings", "segments")} \
        == before, "delta save must not rewrite base tables"

    re = Index.load(spark, base_path)
    # idf/flnorm merge from integer partials -> scores are bit-identical
    # to a full in-memory rebuild in elasticlunr mode; bm25's avgdl is
    # exact-int arithmetic vs Spark's double-summed avg, so compare at
    # 9 decimals there
    assert _scores(re.search("merge window")) \
        == _scores(full.search("merge window"))
    assert _scores(re.search("merge window", mode="bm25")) \
        == _scores(full.search("merge window", mode="bm25"))


def test_delta_wand_and_phrase_over_generations(spark, corpus, base_path):
    df1, df2 = corpus
    full = Index(name="full").add_field("text")
    full.add_documents(df1.unionByName(df2), docid_col="docid")

    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)
    loaded = Index.load(spark, base_path)
    loaded.add_documents(df2, docid_col="docid")
    loaded.inverted.save_delta()

    re = Index.load(spark, base_path)
    # WAND reads the union of per-generation durable segments (shifted
    # block ids), rank-identical to the full rebuild's exhaustive path
    assert re.inverted._segments is not None
    got = [(r["docid"], round(r["score"], 6))
           for r in re.search_wand("merge window", field="text",
                                   top_k=7).collect()]
    want = [(r["docid"], round(r["score"], 6))
            for r in full.search_wand("merge window", field="text",
                                      top_k=7).collect()]
    assert got == want
    # positional path spans generations (docs on both sides of the cut)
    hits = {r["docid"] for r in re.search(
        {"query": {"match_phrase": {"text": "merge window"}}}).collect()}
    assert hits == {f"d{i}" for i in range(30)} | {f"e{i}" for i in range(20)}


def test_delta_remove_tombstones(spark, corpus, base_path):
    df1, df2 = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1.unionByName(df2), docid_col="docid") \
        .save(base_path)

    loaded = Index.load(spark, base_path)
    loaded.remove_documents(_docs(spark, [("d5", "x"), ("e0", "x")])
                            .select("docid"))
    loaded.inverted.save_delta()

    re = Index.load(spark, base_path)
    got = {r["docid"] for r in re.search("merge window").collect()}
    assert "d5" not in got and "e0" not in got and len(got) == 48
    # doc-level stats are exact under tombstones
    assert re.documents_size() == 48
    fs = re.inverted.field_stats.where(F.col("field") == "text").first()
    assert fs["n_docs"] == 48
    # WAND must not seed its threshold from a tombstoned doc
    wand = [r["docid"] for r in re.search_wand(
        "merge window", field="text", top_k=100).collect()]
    assert "d5" not in wand and "e0" not in wand
    # match_all universe shrinks with the tombstones
    assert re.search({"query": {"match_all": {}}}).count() == 48
    # the positional path (incl. the phrase driver-serve gate, whose
    # collect reads the same tombstone-anti-joined postings and
    # whose df gate reads the tombstone-exact term_stats) excludes them
    ph = {r["docid"] for r in re.search(
        {"query": {"match_phrase": {"text": "merge window"}}}).collect()}
    assert "d5" not in ph and "e0" not in ph and len(ph) == 48


def test_delta_update_same_generation(spark, corpus, base_path):
    df1, _ = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)

    loaded = Index.load(spark, base_path)
    loaded.update_documents(
        _docs(spark, [("d5", "totally different zebra content")]),
        docid_col="docid")
    loaded.inverted.save_delta()

    re = Index.load(spark, base_path)
    assert [r["docid"] for r in re.search("zebra").collect()] == ["d5"]
    assert re.search("alpha").where(F.col("docid") == "d5").count() == 0
    assert re.documents_size() == 30


def test_compact_folds_generations(spark, corpus, base_path):
    df1, df2 = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)
    loaded = Index.load(spark, base_path)
    loaded.add_documents(df2, docid_col="docid")
    loaded.inverted.save_delta()
    loaded2 = Index.load(spark, base_path)
    loaded2.remove_documents(_docs(spark, [("e1", "x")]).select("docid"))
    loaded2.inverted.save_delta()

    re = Index.load(spark, base_path)
    re.compact()
    manifest = json.load(open(os.path.join(base_path, "manifest.json")))
    assert "generations" not in manifest
    # deferred GC: the folded generation dirs OUTLIVE the compaction
    # commit (grace for readers of the pre-compaction manifest) and are
    # swept at the start of the NEXT save
    assert os.path.exists(os.path.join(base_path, "deltas"))
    Index.load(spark, base_path).inverted.save(base_path)
    assert not os.path.exists(os.path.join(base_path, "deltas"))

    # post-compact == full rebuild of the live docs, exact stats included
    live = df1.unionByName(df2).where(F.col("docid") != "e1")
    full = Index(name="full").add_field("text")
    full.add_documents(live, docid_col="docid")
    re2 = Index.load(spark, base_path)
    assert _scores(re2.search("merge window"), 6) \
        == _scores(full.search("merge window"), 6)
    ts = re2.inverted.term_stats.where(
        (F.col("field") == "text") & (F.col("term") == "merg")).first()
    want = full.inverted.term_stats.where(
        (F.col("field") == "text") & (F.col("term") == "merg")).first()
    assert ts["df"] == want["df"] == 49


def test_save_delta_requires_base_and_pending(spark, corpus, base_path):
    df1, _ = corpus
    idx = Index(name="d").add_field("text").add_documents(
        df1, docid_col="docid")
    with pytest.raises(ValueError):
        idx.inverted.save_delta()  # never saved: no warehouse
    idx.save(base_path)
    with pytest.raises(ValueError):
        idx.inverted.save_delta()  # freshly saved: nothing pending


def test_delta_union_pushes_term_predicates(spark, corpus, base_path):
    """The generation union must keep predicate pushdown: a terms query
    on a 2-generation index shows a pushed In(term, ...) on BOTH the
    base scan and the delta scan (the property that keeps multi-gen
    reads pruned at 100x)."""
    df1, df2 = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)
    loaded = Index.load(spark, base_path)
    loaded.add_documents(df2, docid_col="docid")
    loaded.inverted.save_delta()

    re = Index.load(spark, base_path)
    re.analyzers = re.inverted.analyzers
    plan = (re.search({"query": {"terms": {"text": {
                "value": ["merg", "window"]}}}})
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("In(term") >= 2, plan[:2000]


def test_chained_pending_ops_one_delta_save(spark, corpus, base_path):
    """add -> add -> remove (hitting base docs AND a pending add) ->
    save_delta: two generations land, the removed pending doc never
    reaches disk, and the loaded state matches the in-memory one."""
    df1, df2 = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)

    loaded = Index.load(spark, base_path)
    loaded.add_documents(_docs(spark, [("x1", "pending alpha doc"),
                                       ("x2", "pending beta doc")]),
                         docid_col="docid")
    loaded.add_documents(df2, docid_col="docid")
    loaded.remove_documents(
        _docs(spark, [("x2", ""), ("d3", "")]).select("docid"))
    loaded.inverted.save_delta()

    re = Index.load(spark, base_path)
    manifest = json.load(open(os.path.join(base_path, "manifest.json")))
    assert len(manifest["generations"]) == 2  # one per pending add batch
    got = {r["docid"] for r in re.search(
        {"query": {"match_all": {}}}).collect()}
    assert "x1" in got and "e5" in got
    assert "x2" not in got and "d3" not in got
    assert re.documents_size() == 30 + 2 + 20 - 2
    # the tombstoned pending doc was filtered before disk, not stored
    from ex_elasticlunr_spark.build.indexer import table_path

    gen1 = os.path.join(base_path, "deltas", "gen-00001")
    docs1 = {r["docid"] for r in spark.read.parquet(
        table_path(gen1, "docs")).collect()}
    assert docs1 == {"x1"}


def test_compact_is_reader_safe_with_one_commit_grace(spark, corpus,
                                                      base_path):
    """A reader bound to the pre-compaction manifest keeps a complete,
    consistent view WHILE compact() commits underneath it: the full
    save stages into a fresh snapshot directory, the atomic root-
    manifest replace is the only commit point, and the reader's
    snapshot + generation dirs survive until the NEXT save's GC sweep
    (Iceberg snapshot expiry with retention 1)."""
    df1, df2 = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)
    writer = Index.load(spark, base_path)
    writer.add_documents(df2, docid_col="docid")
    writer.inverted.save_delta()

    # reader opens the 2-generation commit
    reader = Index.load(spark, base_path)
    before = _scores(reader.search("merge window"), 6)

    # compaction commits a new snapshot under the reader
    Index.load(spark, base_path).compact()

    # the reader's bound tables are untouched: same results, no error
    assert _scores(reader.search("merge window"), 6) == before
    assert reader.documents_size() == 50

    # one manifest on disk, new snapshot committed, old artifacts
    # still present for the grace window
    manifest = json.load(open(os.path.join(base_path, "manifest.json")))
    assert "generations" not in manifest
    assert os.path.exists(os.path.join(base_path, "deltas"))
    snaps = sorted(d for d in os.listdir(base_path)
                   if d.startswith("snap-"))
    assert len(snaps) == 2 and manifest["snapshot_dir"] == snaps[-1]

    # the NEXT save sweeps what the retired manifest referenced
    Index.load(spark, base_path).inverted.save(base_path)
    assert not os.path.exists(os.path.join(base_path, "deltas"))
    snaps = sorted(d for d in os.listdir(base_path)
                   if d.startswith("snap-"))
    assert len(snaps) == 2  # the new snapshot + its grace predecessor

    # a fresh generation after compaction never reuses a swept name
    w2 = Index.load(spark, base_path)
    w2.add_documents(_docs(spark, [("z1", "zulu merge")]),
                     docid_col="docid")
    gen_dir = w2.inverted.save_delta()
    assert gen_dir.endswith("gen-00002")


def test_crashed_save_leaves_previous_commit_intact(spark, corpus,
                                                    base_path):
    """A save that dies BEFORE the root-manifest replace leaves only
    unreferenced debris (a staged snapshot dir, a .staging remnant):
    loads still see the previous commit exactly, and the next
    successful save's GC sweep removes the debris."""
    import shutil

    df1, _ = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)
    before = _scores(Index.load(spark, base_path).search("merge window"))

    # fabricate the on-disk state of a save that crashed after staging
    # its snapshot but before the manifest commit
    cur = json.load(open(os.path.join(base_path, "manifest.json")))
    crashed = os.path.join(base_path, "snap-%06d"
                           % (cur["snapshot_seq"] + 1))
    shutil.copytree(os.path.join(base_path, cur["snapshot_dir"]), crashed)
    os.makedirs(os.path.join(base_path, ".staging", "flat"), exist_ok=True)

    # readers resolve through the committed manifest: identical results
    assert _scores(Index.load(spark, base_path).search("merge window")) \
        == before

    # the next save sweeps the unreferenced debris, then RECLAIMS the
    # crashed save's sequence number for its own committed snapshot
    Index.load(spark, base_path).inverted.save(base_path)
    man2 = json.load(open(os.path.join(base_path, "manifest.json")))
    assert man2["snapshot_dir"] == os.path.basename(crashed)
    assert not os.path.exists(os.path.join(base_path, ".staging"))
    assert _scores(Index.load(spark, base_path).search("merge window")) \
        == before


def test_live_readers_survive_concurrent_maintenance(spark, corpus,
                                                     base_path):
    """The single-writer/many-readers contract under actual
    concurrency: reader threads repeatedly load + query the warehouse
    while the writer commits delta saves and a compaction. Every read
    must succeed and observe one of the committed states (monotone
    doc counts here: the writer only adds), never a torn directory —
    the property the snapshot-versioned commit exists for."""
    import threading

    df1, df2 = corpus
    Index(name="d").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)

    stop = threading.Event()
    errors: list = []
    seen_counts: set = set()

    def reader():
        while not stop.is_set():
            try:
                r = Index.load(spark, base_path)
                n = r.search({"query": {"terms": {"text": "merg"}}}).count()
                seen_counts.add(n)
                # committed states only: 30 base, +15 ("e10".."e19" sort
                # below "e5"), +5, then 50 through compact + update
                assert r.documents_size() in (30, 45, 50)
            except Exception as exc:  # noqa: BLE001 — the test's point
                errors.append(repr(exc))
                return

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        # writer: two delta commits + a compaction + another delta,
        # with live readers load/query-ing throughout
        w = Index.load(spark, base_path)
        w.add_documents(df2.where(F.col("docid") < "e5"),
                        docid_col="docid")
        w.inverted.save_delta()
        w2 = Index.load(spark, base_path)
        w2.add_documents(df2.where(F.col("docid") >= "e5"),
                         docid_col="docid")
        w2.inverted.save_delta()
        Index.load(spark, base_path).compact()
        w3 = Index.load(spark, base_path)
        w3.update_documents(_docs(spark, [("d0", "freshly zebra text")]),
                            docid_col="docid")
        w3.inverted.save_delta()
    finally:
        stop.set()
        for t in threads:
            t.join(60)
    assert not errors, errors
    # readers really ran and only ever saw committed states ("merg"
    # matches every doc except d0 post-update: 30/45/50 -> 30/45/50|49)
    assert seen_counts and seen_counts <= {30, 45, 49, 50}

    final = Index.load(spark, base_path)
    assert final.documents_size() == 50
    assert [r["docid"] for r in final.search("zebra").collect()] == ["d0"]


def test_analyzer_extra_survives_save_load(spark, base_path):
    """extra callbacks and a distinct query_pipeline must round-trip
    the warehouse (cloudpickled into the manifest): a loaded index that
    silently dropped them would analyze queries differently than the
    build that produced the postings."""
    from ex_elasticlunr_spark.analysis.pipeline import Pipeline
    from ex_elasticlunr_spark.analysis.synonyms import SynonymFilter
    from ex_elasticlunr_spark.functions.udfs import AnalyzerConfig

    def tag_cb(token):
        return token.with_token("x" + token.token)

    cfg = AnalyzerConfig(extra=[tag_cb])
    base = Pipeline.default()
    # query side: same tag callback, plus a synonym bridging the
    # tagged vocabulary (xquick -> xfast)
    cfg.query_pipeline = Pipeline(
        list(base.callbacks)
        + [tag_cb, SynonymFilter({"xquick": ["xfast"]})],
        base.separator)
    idx = Index(name="extra").add_field("text", analyzer=cfg)
    idx.add_documents(
        _docs(spark, [("a", "fast engine"), ("b", "quick engine")]),
        docid_col="docid")
    idx.save(base_path)
    loaded = Index.load(spark, base_path)
    lc = loaded.analyzers["text"]
    assert lc.extra and lc.extra[0](
        __import__("ex_elasticlunr_spark.analysis.token",
                   fromlist=["Token"]).Token("quick")).token == "xquick"
    # queries through the loaded index still apply the extra callback
    # (index terms are x-prefixed) and the synonym query pipeline
    got = {r["docid"] for r in loaded.search(
        {"query": {"terms": {"text": "xfast"}}}).collect()}
    assert got == {"a"}
    syn = {r["docid"] for r in loaded.search(
        {"query": {"match": {"text": "quick"}}}).collect()}
    # query pipeline: quick -> xquick -> synonym adds xfast
    assert syn == {"a", "b"}


def test_maintenance_casts_numeric_docids(spark, base_path):
    """Numeric docid columns must compare as STRINGS in the dedupe
    anti-join and tombstone joins — double promotion would match 7
    against '007' and drop genuinely-new docs."""
    idx = Index(name="numid").add_field("text")
    idx.add_documents(
        _docs(spark, [("007", "first doc"), ("8", "second doc")]),
        docid_col="docid")
    from pyspark.sql import functions as F

    nums = spark.range(7, 8).select(
        F.col("id").alias("docid"),
        F.lit("seventh doc").alias("text"))  # docid 7 (long) != "007"
    idx2 = Index(name="numid2")
    idx2.inverted = idx.inverted.add_documents(nums, docid_col="docid")
    idx2.analyzers = idx2.inverted.analyzers
    assert idx2.inverted.docs.count() == 3  # "7" added, not deduped

    gone = spark.range(8, 9).select(F.col("id").alias("docid"))
    idx2.inverted = idx2.inverted.remove_documents(gone)
    left = {r["docid"] for r in idx2.inverted.docs.collect()}
    assert left == {"007", "7"}  # long 8 removed exactly docid "8"


def test_merged_tags_capped_but_recent_replays_guarded(
        spark, corpus, base_path, monkeypatch):
    """The replay-guard tag list must stay BOUNDED across compaction
    cycles (the root manifest is rewritten atomically on every commit,
    so an O(total batches) list erodes the batch-bounded-merge
    contract) while the tags a crash could still replay — the newest
    fold — remain recognized."""
    from ex_elasticlunr_spark.build import deltas

    monkeypatch.setattr(deltas, "MERGED_TAGS_KEEP", 4)
    df1, df2 = corpus
    Index(name="cap").add_field("text") \
        .add_documents(df1, docid_col="docid").save(base_path)

    rows = df2.collect()
    for i in range(6):
        loaded = Index.load(spark, base_path)
        loaded.add_documents(
            _docs(spark, [tuple(rows[i])]), docid_col="docid")
        loaded.inverted.save_delta(tag=f"batch-{i}")
        loaded.inverted.compact_tiered(tail=10)  # fold every generation

    with open(os.path.join(base_path, "manifest.json")) as fh:
        manifest = json.load(fh)
    tags = manifest.get("merged_tags", [])
    assert len(tags) <= 4
    # the newest fold's tag (the only one a replay can still ask about)
    # survives at the tail
    assert tags[-1] == "batch-5"

    # full compact applies the same cap
    loaded = Index.load(spark, base_path)
    loaded.add_documents(_docs(spark, [tuple(rows[10])]),
                         docid_col="docid")
    loaded.inverted.save_delta(tag="batch-6")
    loaded.inverted.compact()
    with open(os.path.join(base_path, "manifest.json")) as fh:
        manifest = json.load(fh)
    tags = manifest.get("merged_tags", [])
    assert len(tags) <= 4
    assert tags[-1] == "batch-6"
