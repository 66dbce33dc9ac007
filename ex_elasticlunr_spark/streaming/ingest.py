"""Streaming ingest: Structured Streaming -> delta posting segments +
periodic stats refresh.

The reference's write path is batch-incremental (add_documents + full
idf recompute, core/index.ex:115-120 / core/field.ex:321-349); this is
its streaming generalization: each micro-batch appends *delta segments*
(partial postings + id rows tagged with batch_id), and the merged index
is finalized on demand by a stats refresh over all segments — the same
B5 aggregation, so a finalized streaming index is identical to a batch
build over the same rows.

Duplicate docids across batches follow the reference's first-write-wins
guard (field.ex:85): finalize keeps each docid's rows from the earliest
batch that contained it.

Exactly-once: delivery relies on Structured Streaming's checkpoint
(offsets + sink idempotence by batch_id); re-processed batches overwrite
their own batch directory instead of double-appending.
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..build.indexer import InvertedIndex, _finalize, build_index
from ..functions.udfs import AnalyzerConfig


def ingest_stream(
    stream_df: DataFrame,
    fields,
    out_path: str,
    docid_col: str = "docid",
    checkpoint_dir: Optional[str] = None,
    analyzers: Optional[Dict[str, AnalyzerConfig]] = None,
    trigger_available_now: bool = True,
):
    """Attach a foreachBatch sink that writes delta segments under
    ``out_path``. Returns the StreamingQuery (caller awaits it)."""
    fields = list(fields)
    checkpoint_dir = checkpoint_dir or os.path.join(out_path, "_checkpoint")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        idx = build_index(
            batch_df, fields=fields, docid_col=docid_col, analyzers=analyzers
        )
        bdir = os.path.join(out_path, "delta", f"batch={batch_id}")
        # overwrite (not append) per batch dir => idempotent on replay;
        # one write carries posting rows + per-doc sentinel rows
        idx._flat.write.mode("overwrite").parquet(os.path.join(bdir, "postings"))
        idx.docs.write.mode("overwrite").parquet(os.path.join(bdir, "docs"))

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def await_terminated(query, secs: int) -> None:
    """Await a BOUNDED (availableNow) stream's termination — and stop
    it before raising if it overruns. ``awaitTermination(timeout)``
    returning False is not a pass: the query keeps scheduling
    micro-batches in its (usually shared) SparkSession and degrades
    everything that runs after it."""
    if not query.awaitTermination(secs):
        query.stop()
        query.awaitTermination(60)
        raise RuntimeError(
            f"stream {query.name!r} still running after {secs}s — "
            "bounded availableNow replays must drain and terminate")


def stream_to_index(
    stream_df: DataFrame,
    fields,
    warehouse: str,
    docid_col: str = "docid",
    checkpoint_dir: Optional[str] = None,
    analyzers: Optional[Dict[str, AnalyzerConfig]] = None,
    store_positions: bool = True,
    with_segments: bool = True,
    dedupe: bool = False,
    compact_every: int = 0,
    tiered: bool = True,
    trigger_available_now: bool = True,
):
    """Structured Streaming -> a continuously maintained DURABLE
    warehouse: the first micro-batch becomes the base save, every later
    micro-batch appends a GENERATION via ``save_delta``
    (build/deltas.py) — per-batch cost is proportional to the batch,
    never to the warehouse, and readers can ``InvertedIndex.load`` the
    path at any commit point and see a consistent index.

    Exactly-once: each generation is tagged ``batch-<id>``; a replayed
    micro-batch (crash between sink commit and checkpoint advance)
    finds its tag in the manifest and is skipped, and its docids are
    additionally guarded by add_documents' first-write-wins anti-join
    (reference field.ex:85). ``compact_every=N`` merges whenever the
    generation count reaches N (Lucene's background merge, here inline
    with the triggering batch): TIERED by default — the newest run of
    micro-batch generations folds into one mid-tier generation
    (build/deltas.py compact_tiered), so the merge cost is bounded by
    the folded batches' size, never the warehouse's; at 10^12 turns a
    full-base rewrite per N batches would be a corpus pass. Pass
    ``tiered=False`` for the old always-full compact.

    Returns the StreamingQuery (caller awaits it)."""
    import json

    from ..build.deltas import save_delta

    fields = list(fields)
    checkpoint_dir = checkpoint_dir or os.path.join(warehouse, "_checkpoint")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        tag = f"batch-{batch_id}"
        manifest_path = os.path.join(warehouse, "manifest.json")
        if not os.path.exists(manifest_path):
            # base_tag records which batch became the base, riding
            # save()'s single atomic manifest write: a replayed FIRST
            # batch (crash between this save and the checkpoint
            # advance) must be skipped like any other replay — without
            # the stamp it would take the delta path and commit an
            # empty tagged generation, drifting gen counts and
            # compact_every triggers
            # with_segments rides the base manifest: save_delta reads
            # manifest["segments"] so later generations follow suit
            build_index(
                batch_df, fields=fields, docid_col=docid_col,
                analyzers=analyzers, store_positions=store_positions,
                dedupe=dedupe,
            ).save(warehouse, with_segments=with_segments,
                   manifest_extra={"base_tag": tag})
            return
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest.get("base_tag") == tag:
            return  # replayed base batch: already the base save
        if tag in manifest.get("merged_tags", []):
            return  # replayed batch whose generation was compacted away
        if any(e.get("tag") == tag
               for e in manifest.get("generations", [])):
            return  # replayed batch: generation already committed
        inv = InvertedIndex.load(spark, warehouse)
        inv = inv.add_documents(batch_df, docid_col=docid_col, dedupe=dedupe)
        save_delta(inv, tag=tag)
        if compact_every:
            with open(manifest_path) as fh:
                post_manifest = json.load(fh)
            if len(post_manifest.get("generations", [])) >= compact_every:
                # both merges inherit the warehouse's own segments flag
                # and block size from the committed manifest — a
                # with_segments=False sink stays segment-free across
                # its inline compactions. Tiered folds the micro-batch
                # run into a mid-tier generation (batch-bounded cost);
                # full compact rewrites the base (corpus-bounded).
                if tiered:
                    inv.compact_tiered()
                else:
                    inv.compact()

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def finalize_stream_index(
    spark: SparkSession,
    out_path: str,
    fields,
    analyzers: Optional[Dict[str, AnalyzerConfig]] = None,
    store_positions: bool = True,
) -> InvertedIndex:
    """Merge all delta segments into a queryable index (stats refresh =
    the B5 aggregation). First batch wins for duplicate docids."""
    fields = list(fields)
    delta = os.path.join(out_path, "delta")

    def read(sub: str) -> DataFrame:
        return spark.read.option("basePath", delta).parquet(
            os.path.join(delta, "batch=*", sub))

    raw = read("postings")
    if "ord" in raw.columns:
        # per-batch ingest ordinals collide across micro-batches; the
        # merge save() reassigns globally (build/ordinals.py)
        raw = raw.drop("ord")
    docs = read("docs")

    first = docs.groupBy("docid").agg(F.min("batch").alias("batch"))
    raw = raw.join(first, ["docid", "batch"], "left_semi").drop("batch")
    docs = docs.join(first, ["docid", "batch"], "left_semi").drop("batch").distinct()

    postings = raw.where(F.col("term").isNotNull()) \
        .withColumn("tf", F.sqrt(F.col("tf_raw")))
    doc_stats = raw.where(F.col("term").isNull()).select("field", "docid", "doc_len")
    default = AnalyzerConfig()
    amap = dict(analyzers or {})
    for f in fields:
        amap.setdefault(f, default)
    return _finalize(postings, docs, amap, store_positions, doc_stats=doc_stats)
