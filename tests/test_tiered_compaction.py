"""Tiered compaction (build/deltas.py compact_tiered): fold the newest
run of small generations into ONE mid-tier generation, base untouched.

Pinned invariants:
* the auto (size-ratio) policy folds the micro-batch run but leaves a
  dominant mid-tier generation in place;
* removal visibility across the fold — carried tombstones still kill
  base docs, in-fold add+remove vanishes physically, a tombstone+re-add
  straddling the fold keeps the newest copy;
* a leading tombstone-only generation in the fold is carry-only (it
  must not kill docs of later folded generations);
* the folded artifacts get one commit cycle of reader grace, then the
  next merge's GC sweep reclaims them (history pruned accordingly);
* results and vocabulary df after the fold are identical to a fresh
  rebuild of the same live doc set.
"""

from __future__ import annotations

import json
import os

import pytest

from ex_elasticlunr_spark import Index


def _df_map(ix):
    return {r["term"]: r["df"] for r in ix.tokens("content").collect()}


def _hits(ix, text="spark window fox delta"):
    return sorted(
        (r["docid"], round(r["score"], 9))
        for r in ix.search({"query": {"match": {"content": text}}}).collect())


def _rebuild(spark, docs):
    ref = Index(name="ref").add_field("content")
    ref.add_documents(
        spark.createDataFrame(docs, "id string, content string"),
        docid_col="id")
    return ref


def _manifest(wh):
    with open(os.path.join(wh, "manifest.json")) as fh:
        return json.load(fh)


def test_tiered_keeps_dominant_midtier(spark, tmp_path):
    wh = str(tmp_path / "wh")
    base = [(f"b{i}", f"base spark doc {i % 7}") for i in range(12)]
    ix = Index(name="t").add_field("content")
    ix.add_documents(
        spark.createDataFrame(base, "id string, content string"),
        docid_col="id")
    ix.save(wh)
    ix = Index.load(spark, wh, name="t")

    # one BIG generation (the existing mid-tier): > tier_ratio x the
    # 9-doc micro-batch run, so the auto policy must leave it alone
    big = [(f"m{i}", f"midtier window token {i % 5}") for i in range(60)]
    ix.add_documents(
        spark.createDataFrame(big, "id string, content string"),
        docid_col="id")
    ix.save_delta()
    ix = Index.load(spark, wh, name="t")
    # ...then a run of small micro-batch generations
    small = []
    for g in range(3):
        batch = [(f"s{g}x{i}", f"delta fox gen{g} {i}") for i in range(3)]
        small += batch
        ix.add_documents(
            spark.createDataFrame(batch, "id string, content string"),
            docid_col="id")
        ix.save_delta()
        ix = Index.load(spark, wh, name="t")

    m = _manifest(wh)
    assert len(m["generations"]) == 4
    mid_name = m["generations"][0]["name"]

    ix.inverted.compact_tiered()  # auto policy
    m2 = _manifest(wh)
    names = [e["name"] for e in m2["generations"]]
    # the 30-doc mid-tier dwarfs the 9-doc run: it stays, smalls fold
    assert names[0] == mid_name and len(names) == 2

    ix2 = Index.load(spark, wh, name="t")
    ref = _rebuild(spark, base + big + small)
    assert _hits(ix2) == _hits(ref)
    assert _df_map(ix2) == _df_map(ref)


def test_tiered_removal_visibility_across_fold(spark, tmp_path):
    wh = str(tmp_path / "wh")
    base = [("keep0", "base spark alpha"), ("dead0", "base spark beta"),
            ("upd0", "base window gamma")]
    ix = Index(name="t").add_field("content")
    ix.add_documents(
        spark.createDataFrame(base, "id string, content string"),
        docid_col="id")
    ix.save(wh)
    ix = Index.load(spark, wh, name="t")

    # gen1: add transient + remove a base doc
    ix.add_documents(spark.createDataFrame(
        [("tr1", "delta fox transient")], "id string, content string"),
        docid_col="id")
    ix.remove_documents(spark.createDataFrame(
        [("dead0",)], "docid string"))
    ix.save_delta()
    ix = Index.load(spark, wh, name="t")
    # gen2: remove the transient (in-fold add+remove => physical drop)
    # and update a base doc (tombstone + re-add straddles the fold)
    ix.remove_documents(spark.createDataFrame([("tr1",)], "docid string"))
    ix.update_documents(spark.createDataFrame(
        [("upd0", "updated delta window")], "id string, content string"),
        docid_col="id")
    ix.save_delta()
    ix = Index.load(spark, wh, name="t")

    ix.inverted.compact_tiered(tail=2)
    m = _manifest(wh)
    assert len(m["generations"]) == 1
    merged = m["generations"][0]
    assert merged["tombstones"] is True  # carried (dead0, tr1, upd0)

    ix2 = Index.load(spark, wh, name="t")
    live = [("keep0", "base spark alpha"),
            ("upd0", "updated delta window")]
    ref = _rebuild(spark, live)
    assert _hits(ix2, "spark window delta fox beta") == \
        _hits(ref, "spark window delta fox beta")
    assert _df_map(ix2) == _df_map(ref)
    # the merged generation physically dropped the in-fold transient
    gdir = os.path.join(wh, "deltas", merged["name"])
    gdocs = {r["docid"] for r in spark.read.parquet(
        os.path.join(gdir, json.load(
            open(os.path.join(gdir, "manifest.json"))).get(
                "snapshot_dir", ""), "docs")).collect()}
    assert "tr1" not in gdocs and "upd0" in gdocs


def test_tiered_leading_tombstone_only_gen_is_carry_only(spark, tmp_path):
    wh = str(tmp_path / "wh")
    base = [("b0", "base spark alpha"), ("b1", "base spark beta")]
    ix = Index(name="t").add_field("content")
    ix.add_documents(
        spark.createDataFrame(base, "id string, content string"),
        docid_col="id")
    ix.save(wh)
    ix = Index.load(spark, wh, name="t")

    # gen1: REMOVE-ONLY (tombstone-only generation)
    ix.remove_documents(spark.createDataFrame([("b1",)], "docid string"))
    ix.save_delta()
    ix = Index.load(spark, wh, name="t")
    # gen2/gen3: adds — docs share terms with the removed base doc
    adds = []
    for g in (2, 3):
        batch = [(f"a{g}", f"delta beta gen{g}")]
        adds += batch
        ix.add_documents(
            spark.createDataFrame(batch, "id string, content string"),
            docid_col="id")
        ix.save_delta()
        ix = Index.load(spark, wh, name="t")

    ix.inverted.compact_tiered(tail=3)
    ix2 = Index.load(spark, wh, name="t")
    ref = _rebuild(spark, [("b0", "base spark alpha")] + adds)
    # the leading tombstone-only gen must kill b1 (carried) but NOT the
    # later folded adds (a2/a3 come after it)
    assert _hits(ix2, "spark beta delta") == _hits(ref, "spark beta delta")
    assert _df_map(ix2) == _df_map(ref)


def test_tiered_reader_grace_and_gc(spark, tmp_path):
    wh = str(tmp_path / "wh")
    ix = Index(name="t").add_field("content")
    ix.add_documents(spark.createDataFrame(
        [("b0", "base spark")], "id string, content string"), docid_col="id")
    ix.save(wh)
    ix = Index.load(spark, wh, name="t")
    for g in range(2):
        ix.add_documents(spark.createDataFrame(
            [(f"a{g}", f"delta window {g}")], "id string, content string"),
            docid_col="id")
        ix.save_delta()
        ix = Index.load(spark, wh, name="t")
    pre_fold_seq = _manifest(wh)["commit_seq"]
    pre_fold_hits = _hits(ix, "spark window")

    ix.inverted.compact_tiered(tail=2)
    # grace: the pre-fold commit stays readable until the NEXT merge's
    # start-of-save GC sweep
    hist = Index.load(spark, wh, name="t", at=pre_fold_seq)
    assert _hits(hist, "spark window") == pre_fold_hits

    # another delta + tiered cycle sweeps the folded dirs
    ix = Index.load(spark, wh, name="t")
    ix.add_documents(spark.createDataFrame(
        [("a9", "delta window 9")], "id string, content string"),
        docid_col="id")
    ix.save_delta()
    ix = Index.load(spark, wh, name="t")
    ix.inverted.compact_tiered(tail=2)
    with pytest.raises(FileNotFoundError):
        Index.load(spark, wh, name="t", at=pre_fold_seq)


def test_tiered_noop_below_two_gens(spark, tmp_path):
    wh = str(tmp_path / "wh")
    ix = Index(name="t").add_field("content")
    ix.add_documents(spark.createDataFrame(
        [("b0", "base spark")], "id string, content string"), docid_col="id")
    ix.save(wh)
    ix = Index.load(spark, wh, name="t")
    assert ix.inverted.compact_tiered() == ""  # zero generations
    ix.add_documents(spark.createDataFrame(
        [("a0", "delta window")], "id string, content string"),
        docid_col="id")
    ix.save_delta()
    ix = Index.load(spark, wh, name="t")
    assert ix.inverted.compact_tiered() == ""  # one generation
    assert len(_manifest(wh)["generations"]) == 1


def test_tiered_rejects_pending_ops(spark, tmp_path):
    wh = str(tmp_path / "wh")
    ix = Index(name="t").add_field("content")
    ix.add_documents(spark.createDataFrame(
        [("b0", "base spark")], "id string, content string"), docid_col="id")
    ix.save(wh)
    ix = Index.load(spark, wh, name="t")
    ix.add_documents(spark.createDataFrame(
        [("a0", "delta window")], "id string, content string"),
        docid_col="id")
    with pytest.raises(ValueError, match="pending"):
        ix.inverted.compact_tiered()


def test_reader_bound_across_mixed_compaction_interleavings(spark, tmp_path):
    """Referee arm (VERDICT r5 ask #5): a reader BOUND on snapshot N
    must see unchanged results while the warehouse tiered- or
    full-compacts to N+1 — the one-commit grace contract (deltas.py
    concurrency docstring). Seeded-random interleaving of
    delta-append / compact_tiered / full compact; after EVERY commit
    the pre-commit bound reader re-runs its query and must match its
    pre-commit results exactly, and a fresh reload must equal a
    from-scratch rebuild of the same docs."""
    import random

    rng = random.Random(77)
    wh = str(tmp_path / "wh")
    docs = [("b0", "base spark window")]
    ix = Index(name="t").add_field("content")
    ix.add_documents(spark.createDataFrame(
        docs, "id string, content string"), docid_col="id")
    ix.save(wh)

    n_added = 0
    for step in range(6):
        reader = Index.load(spark, wh, name="t")
        want = _hits(reader, "spark window delta")

        op = rng.choice(["delta", "delta", "tiered", "full"])
        mut = Index.load(spark, wh, name="t")
        if op == "delta":
            n_added += 1
            doc = (f"a{n_added}", f"delta window {n_added}")
            docs.append(doc)
            mut.add_documents(spark.createDataFrame(
                [doc], "id string, content string"), docid_col="id")
            mut.save_delta()
        elif op == "tiered":
            mut.inverted.compact_tiered()  # auto policy; may be a no-op
        else:
            mut.compact()

        # the held reader's binding survives the commit unchanged
        assert _hits(reader, "spark window delta") == want, (step, op)

        # a fresh binding equals the from-scratch rebuild
        ref = _rebuild(spark, docs)
        got = _hits(Index.load(spark, wh, name="t"), "spark window delta")
        assert got == _hits(ref, "spark window delta"), (step, op)
