"""Streaming ingest == batch build (same rows, first-write-wins dups)."""

import os

from tests.stream_util import await_terminated
from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.sources.transcripts import transcripts_df, with_docid
from ex_elasticlunr_spark.streaming.ingest import (
    finalize_stream_index,
    ingest_stream,
)

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp, docid string")


def test_stream_ingest_matches_batch(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    out = str(tmp_path / "stream_index")
    os.makedirs(src_dir)

    full = with_docid(transcripts_df(spark, n_convs=20, turns_per_conv=4))
    part1 = full.where("conv_id < 'conv-000010'")
    part2 = full.where("conv_id >= 'conv-000010'")

    # micro-batch 1
    part1.write.mode("overwrite").parquet(os.path.join(src_dir, "f1.parquet"))
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1").parquet(src_dir + "/*.parquet")
    q = ingest_stream(stream, ["text", "tool"], out)
    await_terminated(q, 120)

    # micro-batch 2: new rows + duplicates of batch-1 docids with
    # DIFFERENT text (must be ignored: first write wins, field.ex:85)
    dup = part1.limit(5).withColumn("text", part1.tool)  # changed content
    part2.unionByName(dup).write.mode("overwrite").parquet(
        os.path.join(src_dir, "f2.parquet"))
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1").parquet(src_dir + "/*.parquet")
    q = ingest_stream(stream, ["text", "tool"], out)
    await_terminated(q, 120)

    merged = finalize_stream_index(spark, out, ["text", "tool"])

    batch = Index(name="batch").add_field("text").add_field("tool")
    batch.add_documents(full, docid_col="docid")

    a = merged.postings.select("field", "term", "docid", "tf_raw", "doc_len")
    b = batch.inverted.postings.select("field", "term", "docid", "tf_raw", "doc_len")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert merged.docs.count() == batch.inverted.docs.count()


def test_stream_to_index_durable_generations(spark, tmp_path):
    """stream_to_index: base save + one generation per micro-batch,
    batch-tag idempotence, periodic compaction — the loaded warehouse
    matches a batch build over the same rows (first write wins)."""
    import json

    from ex_elasticlunr_spark.streaming.ingest import stream_to_index

    src_dir = str(tmp_path / "in")
    wh = str(tmp_path / "warehouse")
    os.makedirs(src_dir)

    full = with_docid(transcripts_df(spark, n_convs=18, turns_per_conv=3))
    part1 = full.where("conv_id < 'conv-000006'")
    part2 = full.where("conv_id >= 'conv-000006' AND conv_id < 'conv-000012'")
    part3 = full.where("conv_id >= 'conv-000012'")

    def run(compact_every=0):
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1").parquet(src_dir + "/*.parquet")
        q = stream_to_index(stream, ["text", "tool"], wh,
                            compact_every=compact_every)
        await_terminated(q, 180)

    part1.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src_dir, "f1.parquet"))
    run()
    # batch 2 includes duplicates of batch-1 docids with different text:
    # first write wins (field.ex:85)
    dup = part1.limit(4).withColumn("text", part1.tool)
    part2.unionByName(dup).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src_dir, "f2.parquet"))
    run()

    manifest = json.load(open(os.path.join(wh, "manifest.json")))
    gens = manifest.get("generations", [])
    assert len(gens) == 1 and gens[0]["tag"].startswith("batch-")

    from ex_elasticlunr_spark.build.indexer import InvertedIndex

    merged = InvertedIndex.load(spark, wh)
    batch = Index(name="batch").add_field("text").add_field("tool")
    batch.add_documents(full.where("conv_id < 'conv-000012'"),
                        docid_col="docid")
    a = (merged.postings.join(merged.ordinals_df(), "ord")
         .select("field", "term", "docid", "tf_raw", "doc_len"))
    b = batch.inverted.postings.select(
        "field", "term", "docid", "tf_raw", "doc_len")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # third batch with compact_every=2 triggers the TIERED merge (the
    # sink default): the micro-batch generations fold into ONE
    # mid-tier generation, the base is untouched, and the folded tags
    # live on as merged_tags (replay guard)
    part3.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src_dir, "f3.parquet"))
    run(compact_every=2)
    manifest = json.load(open(os.path.join(wh, "manifest.json")))
    gens = manifest.get("generations", [])
    assert len(gens) == 1 and not gens[0].get("tag")
    assert set(manifest.get("merged_tags", [])) >= {"batch-1", "batch-2"}
    # folded generations linger until the next save's GC sweep (reader
    # grace) but the committed manifest no longer references them
    assert InvertedIndex.load(spark, wh).docs.count() == full.count()


def test_stream_replay_after_checkpoint_loss_commits_nothing(
        spark, tmp_path):
    """The replay guards survive every manifest rewrite: wiping the
    checkpoint replays EVERY micro-batch — the base batch (base_tag
    rides save()'s atomic manifest write), batches folded away by
    compaction (merged_tags), and live generations (their tags) must
    all be skipped, so generation counts and the queryable index do
    not drift."""
    import json
    import shutil

    from ex_elasticlunr_spark.streaming.ingest import stream_to_index

    src_dir = str(tmp_path / "in")
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    full = with_docid(transcripts_df(spark, n_convs=12, turns_per_conv=3))
    parts = [full.where(f"conv_id < 'conv-{i * 4:06d}' AND "
                        f"conv_id >= 'conv-{(i - 1) * 4:06d}'")
             for i in (1, 2, 3)]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, f"f{i}.parquet"))

    def run():
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1").parquet(src_dir + "/*.parquet")
        q = stream_to_index(stream, ["text"], wh, checkpoint_dir=ckpt,
                            compact_every=2)
        await_terminated(q, 240)

    run()
    manifest = json.load(open(os.path.join(wh, "manifest.json")))
    # 3 batches, compact_every=2: base + 2 gens -> tiered-merged on the
    # third batch into one mid-tier generation; the folded tags must
    # live on as merged_tags
    assert manifest.get("base_tag") == "batch-0"
    assert set(manifest.get("merged_tags", [])) >= {"batch-1", "batch-2"}
    gens_before = manifest.get("generations", [])
    assert len(gens_before) == 1 and not gens_before[0].get("tag")
    before = Index.load(spark, wh)
    want = sorted((r["docid"], round(r["score"], 9)) for r in
                  before.search_bm25("elixir", top_k=50).collect())
    n_docs_before = before.inverted.docs.count()

    # checkpoint loss: every batch replays from scratch
    shutil.rmtree(ckpt)
    run()
    manifest2 = json.load(open(os.path.join(wh, "manifest.json")))
    assert manifest2.get("base_tag") == "batch-0"
    assert manifest2.get("generations", []) == gens_before  # no drift
    after = Index.load(spark, wh)
    got = sorted((r["docid"], round(r["score"], 9)) for r in
                 after.search_bm25("elixir", top_k=50).collect())
    assert got == want
    assert after.inverted.docs.count() == n_docs_before


def test_compaction_preserves_with_segments_off(spark, tmp_path):
    """A with_segments=False sink must stay segment-free ACROSS its
    inline compaction — compact() used to run with its default
    with_segments=True, silently re-enabling the segment build and
    flipping the manifest flag for every later generation."""
    import json

    from ex_elasticlunr_spark.streaming.ingest import stream_to_index

    src_dir = str(tmp_path / "in")
    wh = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src_dir)

    full = with_docid(transcripts_df(spark, n_convs=9, turns_per_conv=2))
    parts = [full.where(f"conv_id < 'conv-{i * 3:06d}' AND "
                        f"conv_id >= 'conv-{(i - 1) * 3:06d}'")
             for i in (1, 2, 3)]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, f"f{i}.parquet"))

    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", "1").parquet(src_dir + "/*.parquet")
    q = stream_to_index(stream, ["text"], wh, checkpoint_dir=ckpt,
                        compact_every=2, with_segments=False,
                        store_positions=False)
    await_terminated(q, 240)

    manifest = json.load(open(os.path.join(wh, "manifest.json")))
    gens = manifest.get("generations", [])
    assert len(gens) == 1 and not gens[0].get("tag")  # tiered merge ran
    assert manifest.get("segments") is False  # flag not flipped
    from ex_elasticlunr_spark.build.indexer import tables_dir

    assert not os.path.exists(
        os.path.join(tables_dir(wh, manifest), "segments"))
    # the merged mid-tier generation must follow the sink's
    # with_segments=False too (compact_tiered inherits the manifest
    # flag exactly like the full compact does)
    gdir = os.path.join(wh, "deltas", gens[0]["name"])
    gm = json.load(open(os.path.join(gdir, "manifest.json")))
    assert not os.path.exists(os.path.join(tables_dir(gdir, gm),
                                           "segments"))
