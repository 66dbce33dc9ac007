"""Compressed posting segments: partition-local posting blocks,
shuffle-merged by term with RANGE salting for hot-term skew, delta-gap +
varint payload, block-max metadata for WAND.

Re-expresses the reference's ETS posting rows (field.ex:217-241) as the
standard IR physical format the north rule asks for.

Design:
  * every doc gets a global ordinal in docid sort order (ordinals.py);
  * a posting block is (field, term, block_id) where
    block_id = ord // block_size — i.e. the salt is the ORDINAL RANGE,
    not a hash: a hot term's postings split into many bounded blocks
    that build in parallel (the salted merge), while each block stays
    internally doc-ordered and blocks are globally ordered by block_id,
    so the full posting list is the ordered concatenation of its blocks
    (order-preserving merge for free);
  * per block we store n_docs, max_tf_raw (-> block-max score upper
    bounds computed at query time per scoring mode) and the compressed
    payload;
  * the grouping shuffle keys on (field, term, block_id) — bounded
    group size (<= block_size) regardless of term frequency = no skew;
  * encoding runs in ONE Arrow-batched pandas UDF over the pre-sorted
    (ord, tf) arrays (sort_array happens JVM-side in the aggregation);
  * doc lengths live in their own ``len_blocks`` table, one entry per
    (field, doc) instead of once per (term, doc) posting entry (codec
    v2 — the v1 inline doc_len was the largest avoidable byte stream
    in the store, ~1-2 varint bytes x postings_rows). BM25 scoring
    decodes exactly the len blocks whose block_ids it prunes postings
    to (search/wand.py), a bounded (field, block_id)-aligned join.

Schemas:
  segments(field, term, block_id, n_docs, min_ord, max_ord,
           max_tf_raw, block_bytes, payload binary)
  len_blocks(field, block_id, n_docs, payload binary)
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType

from .codec import decode_block, encode_block
from .ordinals import assign_doc_ordinals

DEFAULT_BLOCK_SIZE = 4096


@F.pandas_udf(BinaryType())
def _encode_arrays(ords: pd.Series, vals: pd.Series,
                   base: pd.Series) -> pd.Series:
    # parallel primitive arrays (Arrow int lists) — no per-entry struct
    # unwrapping in Python
    out = [
        encode_block([int(x) for x in o], [int(x) for x in v], int(b))
        for o, v, b in zip(ords, vals, base)
    ]
    return pd.Series(out)


def build_segments(index, block_size: int = DEFAULT_BLOCK_SIZE,
                   partitions: int = 0):
    """InvertedIndex -> (segments DataFrame, ordinals DataFrame)."""
    ordinals = assign_doc_ordinals(index.docs, partitions).persist()
    # register the assigner's internal range-partitioned cache on the
    # index lifecycle: the returned ordinals DF is retained (cached
    # segments tuple), so its dep must outlive it — InvertedIndex
    # .unpersist releases both instead of leaking the cache per build
    index._aux_persisted += getattr(ordinals, "_persisted_deps", [])

    with_ord = index.postings.drop("ord").join(
        ordinals.hint("shuffle_hash"), "docid")
    blocks = (
        with_ord.withColumn(
            "block_id", (F.col("ord") / block_size).cast("long")
        )
        .groupBy("field", "term", "block_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ord").alias("min_ord"),
            F.max("ord").alias("max_ord"),
            F.max("tf_raw").alias("max_tf_raw"),
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("ord"), F.col("tf_raw"))
                )
            ).alias("pairs"),
        )
        # JVM-side column split: the pandas UDF receives two primitive
        # int arrays instead of an array<struct> it would unwrap per entry
        .withColumn(
            "payload",
            _encode_arrays(
                F.transform("pairs", lambda s: s["ord"]),
                F.transform("pairs", lambda s: s["tf_raw"]),
                F.col("block_id") * block_size,
            ),
        )
        .withColumn("block_bytes", F.length("payload").cast("long"))
        .drop("pairs")
    )
    return blocks, ordinals


def build_len_blocks(doc_stats: DataFrame, ordinals: Optional[DataFrame],
                     block_size: int = DEFAULT_BLOCK_SIZE) -> DataFrame:
    """Per-(field, block) doc-length blocks: one (ord-gap, doc_len)
    entry per document indexed under the field, aligned to the SAME
    ordinal ranges as the posting blocks (block_id = ord // block_size)
    so BM25 decode joins are (field, block_id)-pruned on both sides.

    ``ordinals`` is the ordinal table the SEGMENTS were built over —
    pass None only when doc_stats' own ``ord`` column is known to live
    in that same ordinal space (the save path; a lazy fresh-path
    build_segments assigns new docid-sorted ordinals that differ from
    the ingest ordinals in doc_stats.ord). Group size is bounded by
    block_size per (field, block) — no skew, regardless of corpus
    size."""
    if ordinals is None:
        ds = doc_stats.where(F.col("ord").isNotNull())
    else:
        ds = doc_stats.select("field", "docid", "doc_len").join(
            ordinals.select("docid", "ord"), "docid")
    rows = ds.where(F.col("ord") >= 0).select("field", "ord", "doc_len")
    return (
        rows.withColumn("block_id", (F.col("ord") / block_size).cast("long"))
        .groupBy("field", "block_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(
                F.collect_list(F.struct(F.col("ord"), F.col("doc_len")))
            ).alias("pairs"),
        )
        .withColumn(
            "payload",
            _encode_arrays(
                F.transform("pairs", lambda s: s["ord"]),
                F.transform("pairs", lambda s: s["doc_len"]),
                F.col("block_id") * block_size,
            ),
        )
        .drop("pairs")
    )


def decode_segments_with_lens(blocks: DataFrame,
                              block_size: int = DEFAULT_BLOCK_SIZE
                              ) -> DataFrame:
    """Fused decode for BM25 scoring (search/wand.py): posting blocks
    arrive with their ordinal-aligned len block's payload riding along
    as ``len_payload`` (joined on (field, block_id) — block metadata,
    never per-posting rows), and ONE Python pass emits
    (field, term, ord, tf_raw, doc_len). Replaces the v1 design's
    per-posting doc_len without its bytes AND without a second
    mapInPandas + (field, ord) shuffle join at query time: the len
    block is decoded once per (field, block) (cached across the terms
    sharing it) and doc_len lookup is a vectorized searchsorted.

    Ords with no len entry get doc_len=1 placeholders instead of an
    error: warehouses written by this codec cover every posting ord by
    construction (doc has a posting in the field => len entry), but a
    LAZILY REBUILT len table (bind_generations on a warehouse where
    some generation predates seg_lens — indexer.seg_len_blocks builds
    from the tombstone-filtered doc_stats) only covers LIVE docs while
    posting payloads keep tombstoned ords until compact(). Those rows
    must decode without crashing; consumers filter the tombstoned
    ords out before scoring (search/wand.py exact_scores), so a placeholder
    never reaches a score."""
    import numpy as np

    _EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))

    def run(batches):
        from ..build.codec import decode_block_arrays

        lens_cache: dict = {}
        for pdf in batches:
            o_parts, tf_parts, dl_parts = [], [], []
            sizes, fvals, tvals = [], [], []
            for f, t, bid, payload, lp in zip(
                pdf["field"], pdf["term"], pdf["block_id"],
                pdf["payload"], pdf["len_payload"],
            ):
                oa, tf = decode_block_arrays(bytes(payload),
                                             int(bid) * block_size)
                key = (f, int(bid))
                lc = lens_cache.get(key)
                if lc is None:
                    if lp is None:
                        # a lazily rebuilt len table has NO row for a
                        # posting block whose docs are all tombstoned
                        lc = _EMPTY
                    else:
                        lc = decode_block_arrays(bytes(lp),
                                                 int(bid) * block_size)
                    lens_cache[key] = lc
                lo, lv = lc
                if lo.size:
                    pos = np.minimum(np.searchsorted(lo, oa), lo.size - 1)
                    dl = np.where(lo[pos] == oa, lv[pos], 1)
                else:
                    dl = np.ones(oa.size, dtype=np.int64)
                o_parts.append(oa)
                tf_parts.append(tf)
                dl_parts.append(dl)
                sizes.append(oa.size)
                fvals.append(f)
                tvals.append(t)
            # one concatenate + repeat instead of per-entry list
            # extends (the decode feeds every WAND-routed query)
            if sizes:
                reps = np.asarray(sizes, dtype=np.int64)
                yield pd.DataFrame({
                    "field": np.repeat(
                        np.asarray(fvals, dtype=object), reps),
                    "term": np.repeat(
                        np.asarray(tvals, dtype=object), reps),
                    "ord": np.concatenate(o_parts),
                    "tf_raw": np.concatenate(tf_parts),
                    "doc_len": np.concatenate(dl_parts),
                })
            else:
                yield pd.DataFrame(
                    {"field": [], "term": [], "ord": [],
                     "tf_raw": [], "doc_len": []})

    return blocks.mapInPandas(
        run,
        "field string, term string, ord long, tf_raw long, doc_len long",
    )


def decode_len_blocks(lens: DataFrame,
                      block_size: int = DEFAULT_BLOCK_SIZE) -> DataFrame:
    """len_blocks -> (field, ord, doc_len)."""

    def run(batches):
        import numpy as np

        from ..build.codec import decode_block_arrays

        for pdf in batches:
            o_parts, dl_parts, sizes, fvals = [], [], [], []
            for f, bid, payload in zip(
                pdf["field"], pdf["block_id"], pdf["payload"]
            ):
                o, dl = decode_block_arrays(bytes(payload),
                                            int(bid) * block_size)
                o_parts.append(o)
                dl_parts.append(dl)
                sizes.append(o.size)
                fvals.append(f)
            if sizes:
                reps = np.asarray(sizes, dtype=np.int64)
                yield pd.DataFrame({
                    "field": np.repeat(
                        np.asarray(fvals, dtype=object), reps),
                    "ord": np.concatenate(o_parts),
                    "doc_len": np.concatenate(dl_parts),
                })
            else:
                yield pd.DataFrame({"field": [], "ord": [], "doc_len": []})

    return lens.select("field", "block_id", "payload").mapInPandas(
        run, "field string, ord long, doc_len long")


def build_segments_streaming(clustered: DataFrame,
                             block_size: int = DEFAULT_BLOCK_SIZE) -> DataFrame:
    """Zero-shuffle segment build over an ALREADY block-clustered
    postings DataFrame (the save() layout: partitioned by
    (field, term, pmod(ord div block_size, salt)) and sorted within
    partitions by (field, term, ord) — every (field, term, block) group
    is complete inside one partition and arrives as a contiguous run).

    One Arrow-batched mapInPandas pass walks each partition's runs,
    chunks them at global block boundaries (ord // block_size), and
    emits one encoded row per block; runs spanning batch boundaries are
    carried over in the generator's state. Compared to the
    groupBy+collect_list builder this removes the full postings shuffle
    AND the array materialization — the only remaining segment cost is
    the varint encode itself.
    """

    def run(batches):
        import numpy as np

        cols = ["field", "term", "block_id", "n_docs", "min_ord",
                "max_ord", "max_tf_raw", "block_bytes", "payload"]
        pf = pt = None          # pending run key
        po = np.empty(0, dtype=np.int64)
        ptf = np.empty(0, dtype=np.int64)

        def emit(out, f, t, o, tf):
            # block boundaries in one vectorized pass (the per-element
            # Python walk + int() conversions here were ~the whole
            # segment-encode stage's Python cost — measured 4.4x on a
            # 1M-posting partition, bit-identical output)
            bids = o // block_size
            cuts = np.flatnonzero(bids[1:] != bids[:-1]) + 1
            starts = np.concatenate(([0], cuts))
            ends = np.concatenate((cuts, [o.size]))
            for s, e in zip(starts, ends):
                bo = o[s:e]
                bt = tf[s:e]
                bid = int(bids[s])
                payload = encode_block(bo, bt, bid * block_size)
                out["field"].append(f)
                out["term"].append(t)
                out["block_id"].append(bid)
                out["n_docs"].append(int(e - s))
                out["min_ord"].append(int(bo[0]))
                out["max_ord"].append(int(bo[-1]))
                out["max_tf_raw"].append(int(bt.max()))
                out["payload"].append(payload)
                out["block_bytes"].append(len(payload))

        for pdf in batches:
            out = {c: [] for c in cols}
            fields = pdf["field"].to_numpy()
            terms = pdf["term"].to_numpy()
            ords = pdf["ord"].to_numpy().astype(np.int64, copy=False)
            tfs = pdf["tf_raw"].to_numpy().astype(np.int64, copy=False)
            n = len(pdf)
            if n:
                # boundaries of (field, term) runs inside this batch
                same = np.zeros(n, dtype=bool)
                if n > 1:
                    same[1:] = ((fields[1:] == fields[:-1])
                                & (terms[1:] == terms[:-1]))
                run_starts = np.flatnonzero(~same)
                run_ends = np.append(run_starts[1:], n)
                for i, j in zip(run_starts, run_ends):
                    f, t = fields[i], terms[i]
                    # continue the pending run only while ords stay
                    # strictly increasing — a parquet read that
                    # coalesces several files into one task can seam
                    # two runs of the same term (different salt
                    # partitions); flushing at the seam emits valid
                    # partial blocks (disjoint ord subsets, correct
                    # per-block metadata), which every consumer
                    # tolerates
                    if (pf == f and pt == t
                            and (po.size == 0
                                 or int(ords[i]) > int(po[-1]))):
                        po = np.concatenate((po, ords[i:j]))
                        ptf = np.concatenate((ptf, tfs[i:j]))
                    else:
                        if pf is not None and po.size:
                            emit(out, pf, pt, po, ptf)
                        pf, pt = f, t
                        # copy: the retained tail must not pin the whole
                        # Arrow batch's buffers across yields
                        po = ords[i:j].copy()
                        ptf = tfs[i:j].copy()
            # bound the pending run before yielding: flush its COMPLETE
            # blocks and keep only the tail block's entries — without
            # this a hot term spanning many Arrow batches accumulates
            # its whole per-partition posting run (~total/term_salt
            # entries; GBs at stopword scale) instead of staying
            # block-bounded. The flushed prefix blocks are full by
            # construction; only the tail can end up partial.
            if po.size:
                bids = po // block_size
                cut = int(np.searchsorted(bids, bids[-1], side="left"))
                if cut > 0:
                    tail_o = po[cut:].copy()
                    tail_t = ptf[cut:].copy()
                    emit(out, pf, pt, po[:cut], ptf[:cut])
                    po, ptf = tail_o, tail_t
            # emit everything except the still-open tail block
            yield pd.DataFrame({c: out[c] for c in cols})
        out = {c: [] for c in cols}
        if pf is not None and po.size:
            emit(out, pf, pt, po, ptf)
        yield pd.DataFrame({c: out[c] for c in cols})

    # prune to exactly the encoder's columns BEFORE the UDF: docid (a
    # ~17-char string per posting) otherwise rides the whole
    # parquet->Arrow->python round trip for nothing (measured: the
    # string columns dominate the stage's JVM CPU + GC)
    narrow = clustered.select("field", "term", "ord", "tf_raw")
    return narrow.mapInPandas(
        run,
        "field string, term string, block_id long, n_docs long, "
        "min_ord long, max_ord long, max_tf_raw long, block_bytes long, "
        "payload binary",
    )


def decode_segments(segments: DataFrame, block_size: int = DEFAULT_BLOCK_SIZE) -> DataFrame:
    """Inverse of build_segments: segments -> (field, term, ord, tf_raw).
    Used by tests (round-trip) and by the WAND scorer's decode stage."""

    def run(batches):
        import numpy as np

        from ..build.codec import decode_block_arrays

        for pdf in batches:
            o_parts, tf_parts, sizes, fvals, tvals = [], [], [], [], []
            for f, t, bid, payload in zip(
                pdf["field"], pdf["term"], pdf["block_id"], pdf["payload"]
            ):
                o, tf = decode_block_arrays(bytes(payload),
                                            int(bid) * block_size)
                o_parts.append(o)
                tf_parts.append(tf)
                sizes.append(o.size)
                fvals.append(f)
                tvals.append(t)
            if sizes:
                reps = np.asarray(sizes, dtype=np.int64)
                yield pd.DataFrame({
                    "field": np.repeat(
                        np.asarray(fvals, dtype=object), reps),
                    "term": np.repeat(
                        np.asarray(tvals, dtype=object), reps),
                    "ord": np.concatenate(o_parts),
                    "tf_raw": np.concatenate(tf_parts),
                })
            else:
                yield pd.DataFrame(
                    {"field": [], "term": [], "ord": [], "tf_raw": []})

    return segments.mapInPandas(
        run, "field string, term string, ord long, tf_raw long"
    )
