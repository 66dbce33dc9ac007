"""Generational delta persistence: append-only index maintenance.

The reference mutates its ETS tables in place and re-serializes the
whole index on save (storage/disk.ex:22-31); the parquet warehouse
made that a full rewrite per save. At 100 TB that is the one remaining
maintenance anti-pattern: adding 1% of documents must not rewrite 100 TB
of term-clustered postings. This module is the Lucene segment/commit-
point model re-expressed over parquet:

  warehouse/
    manifest.json            <- commit point ("generations": [...])
    snap-NNNNNN/postings/ ... <- generation 0 (the base, never rewritten)
    deltas/gen-00001/        <- one full layout per save_delta batch
      postings/ ... manifest.json
      tombstones/            <- docids REMOVED from prior generations
    deltas/gen-00002/ ...

* ``save_delta`` writes each pending fresh sub-index as its own
  generation via the ordinary ``InvertedIndex.save`` (map-only ingest +
  term-clustering shuffle over the NEW rows only) and the pending
  removal docids as a tombstone table. The root manifest rewrite is the
  atomic commit; a crash beforehand leaves an unreferenced directory
  that the next attempt overwrites.
* Each generation owns a disjoint ordinal range: ``ord_base`` (the
  block-aligned high-water mark of all prior generations) is ADDED to
  the generation's ords at load. Block alignment makes the shift pure
  column arithmetic even for the compressed segments — payload varints
  decode relative to ``block_id * block_size``, so shifting
  ``block_id`` by ``ord_base // block_size`` re-bases every posting
  without touching a byte of payload.
* ``bind_generations`` (called by ``InvertedIndex._rebind_from``)
  presents the union of generations as one index: postings and
  segments union with shifted ords, tombstoned docs filtered out (gen
  K's tombstones kill docs of generations < K only, so an update =
  tombstone + re-add in the same generation survives), term df partials
  summed (each live doc lives in exactly one generation), field stats
  from manifest integer arithmetic. Pushed term predicates prune each
  generation's scan exactly as on a single-generation index.
* Stats under tombstones are EXACT, doc-level and term-level alike:
  each tombstoned doc's own postings are subtracted back out of the
  summed df partials (pinned by the randomized maintenance referee). A
  query pays this only for its own terms (``search/scorer.py
  _vocab_lookup``: a pyarrow read of the generations' files, no Spark
  job); only full-vocabulary consumers (field_stats, facets, compact)
  pay one tombstone-filtered postings pass per bind. ``compact()`` = a full
  ``save`` back to the base, which folds tombstones away physically
  and re-clusters everything (its value is scan pruning and bounded
  generation count, not stats correctness).

Scale shape: a delta save touches ONLY the new rows (the usual map-only
ingest + one clustering shuffle over the batch) plus a tombstone-sized
stats job. A bind resolves the tombstones once, on the driver (one
pushed In(docid) collect over the ordinals), and holds them as literal
predicates, so a query on a generational reader runs the same plan
shape and Spark job count as on a single-generation reader; each extra
generation adds one more pruned parquet scan to the per-table unions
(and one more part to the driver's file reads, build/files.py), which
is why compact() exists for when generations accumulate. The
driver-held tombstone set is bounded by TOMB_LOCAL_CAP: a save_delta
that would cross it runs compact() instead of appending a generation.

Concurrency model: SINGLE WRITER, many readers — the same contract as
Lucene's write.lock. ``save_delta`` AND ``compact()``/``save()`` are
reader-safe at any time: every commit is one atomic root-manifest
replace — a delta commit appends an (invisible-until-committed)
generation directory, and a full save moves its tables into a fresh
snapshot subdirectory first (build/indexer.py save). Artifacts a
retired manifest referenced (the previous snapshot, compacted-away
generations) are swept only at the START of the next save, so a reader
holding the previous commit's manifest gets one full commit cycle of
grace — Iceberg snapshot expiry with retention 1, in parquet. Two
concurrent writers could still both claim the same generation name and
the last manifest write would orphan the other's directory. Serialize
writers externally (the streaming sink is naturally serial per query).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from ..functions.literals import in_expr, inline_rows

DELTAS_DIR = "deltas"

# Replay-guard retention: merged_tags only needs to recognize a
# REPLAYED micro-batch, and structured streaming replays at most the
# last uncommitted batch — once a later batch starts processing, the
# earlier batch's checkpoint has durably advanced and its tag can
# never be asked about again. Retaining the newest MERGED_TAGS_KEEP
# tags (append order == fold chronology, so the tags a crash could
# still replay are always at the tail) therefore preserves the guard
# while bounding the root manifest: without the cap the list grew
# O(total batches) and the atomically-rewritten manifest with it,
# eroding the batch-bounded-merge contract at 10^12-turn stream
# lifetimes. Replayed batches older than the cap are additionally
# backstopped by add_documents' first-write-wins docid anti-join.
MERGED_TAGS_KEEP = 256
# bound on the tombstoned docids a generational reader holds on the
# driver (bind_generations); save_delta compacts instead of crossing it
TOMB_LOCAL_CAP = 1 << 20


def cap_merged_tags(tags: list) -> list:
    """Newest ``MERGED_TAGS_KEEP`` replay-guard tags (see above)."""
    return tags[-MERGED_TAGS_KEEP:]

_FS_SCHEMA = ("field string, n_docs long, n_unique_terms long, "
              "flnorm double, avg_doc_len double")


def _read_manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as fh:
        return json.load(fh)


def _write_manifest_atomic(path: str, manifest: dict) -> None:
    tmp = os.path.join(path, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2)
    os.replace(tmp, os.path.join(path, "manifest.json"))


def filter_pending(sub, tomb: DataFrame):
    """Drop tombstoned docids from a PENDING (unsaved) fresh-build
    sub-index, so a remove-after-add inside one delta batch never
    reaches disk. Anti-joins every doc-bearing frame; the analyzer
    output (``_flat``) is the one ``save`` actually writes."""
    from .indexer import _finalize

    out = _finalize(
        sub.postings.join(tomb, "docid", "left_anti"),
        sub.docs.join(tomb, "docid", "left_anti"),
        sub.analyzers, sub.store_positions,
        doc_stats=sub.doc_stats.join(tomb, "docid", "left_anti"),
    )
    if sub._flat is not None:
        out._flat = sub._flat.join(tomb, "docid", "left_anti")
    out._key = sub._key
    return out


def save_delta(inv, tag: Optional[str] = None) -> str:
    """Append the index's pending operations as new generation(s) under
    ``inv._path`` without touching the base tables. One generation per
    pending add batch (each keeps its map-only ingest ordinals and its
    own term-clustered layout); tombstones ride with the first new
    generation. ``tag`` is recorded on each new manifest entry — sinks
    replaying a micro-batch use it to skip an already-committed batch
    (streaming/ingest.py stream_to_index). Returns the last generation
    directory written ("" when the commit compacted instead: the
    warehouse's tombstones would have crossed TOMB_LOCAL_CAP)."""
    path = inv._path
    if not path:
        raise ValueError(
            "save_delta() needs an index previously loaded from or "
            "saved to a warehouse path; use save(path) first")
    adds = list(inv._delta_adds)
    tombs = inv._delta_tombs
    if not adds and tombs is None:
        raise ValueError("save_delta(): no pending add/remove operations")
    spark = inv.postings.sparkSession
    manifest = _read_manifest(path)
    from .indexer import _write_history, check_layout, read_table

    check_layout(manifest)
    # backfill the PREVIOUS commit's history twin before mutating the
    # manifest (heals a crash between its root replace and history copy)

    _write_history(path, manifest)
    block_size = int(manifest.get("block_size", 4096))
    gens = list(manifest.get("generations", []))

    # global ordinal high-water mark across base + prior generations
    prev_max = _ord_high_water(manifest, gens)

    batches = adds or [None]  # tombstone-only delta: one table-less gen
    last_dir = ""
    # monotone generation counter (survives compaction via the base
    # manifest): a reader of the pre-compaction manifest may still be
    # scanning the folded-away gen directories during their GC grace
    # window, so a fresh generation must never REUSE one of their names.
    gen_seq = int(manifest["gen_seq"])
    for i, sub in enumerate(batches):
        ord_base = ((prev_max // block_size) + 1) * block_size
        gen_seq += 1
        name = "gen-%05d" % gen_seq
        gen_dir = os.path.join(path, DELTAS_DIR, name)
        os.makedirs(gen_dir, exist_ok=True)
        entry = {
            "name": name, "ord_base": ord_base, "max_ord": 0,
            "has_adds": sub is not None, "tombstones": False,
        }
        if tag is not None:
            entry["tag"] = tag
        if i == 0 and tombs is not None:
            tomb_df = (tombs.select(F.col("docid").cast("string")
                                    .alias("docid")).distinct())
            tomb_df.write.mode("overwrite").parquet(
                os.path.join(gen_dir, "tombstones"))
            entry["tombstones"] = True
            if sum(len(_tomb_docids(path, g))
                   for g in gens + [entry]) > TOMB_LOCAL_CAP:
                # past the driver-held bound readers rely on: fold it
                # all (pending ops included) into a new base instead
                shutil.rmtree(gen_dir, ignore_errors=True)
                inv.compact(_tag=tag)
                return ""
            # per-field live-stats decrements vs the PRE-PENDING durable
            # state (tombstone-sized output; broadcast hash join)
            committed = read_table(
                spark, os.path.join(gen_dir, "tombstones"))
            entry["tomb_field_stats"] = _tomb_field_stats(
                inv._delta_base.doc_stats, committed)
        if sub is not None:
            # _history=False: a generation dir is an internal artifact,
            # not a warehouse — only ROOT commits are time-travelable
            sub.save(gen_dir, with_segments=manifest.get("segments", True),
                     block_size=block_size, _history=False)
            gm = _read_manifest(gen_dir)
            entry["max_ord"] = int(gm["max_ord"])
            entry["field_doc_stats"] = gm["field_doc_stats"]
        gens.append(entry)
        prev_max = ord_base + entry["max_ord"]
        last_dir = gen_dir

    manifest["generations"] = gens
    manifest["gen_seq"] = gen_seq
    # monotone commit counter + retained history manifest: makes this
    # delta commit addressable by InvertedIndex.load(at=...) — see
    # build/indexer.py _write_history / list_snapshots
    manifest["commit_seq"] = int(manifest.get("commit_seq", -1)) + 1
    _write_manifest_atomic(path, manifest)  # the commit point
    _write_history(path, manifest)
    inv._rebind_from(path, manifest, spark=spark)
    return last_dir


def _gen_docs(entry: dict) -> int:
    """Approximate live-doc size of a generation from its manifest
    partials (max over fields: a doc indexed under several fields is
    one doc); tombstone-only generations carry 0 docs."""
    fds = entry.get("field_doc_stats") or {}
    return max((int(v[0]) for v in fds.values()), default=0)


def _ord_high_water(manifest: dict, gens: list) -> int:
    """Global ordinal high-water mark across base + ``gens`` — the
    shared generation-placement rule of ``save_delta`` and
    ``compact_tiered`` (a divergence here would collide ordinal
    ranges between the two commit paths)."""
    if gens:
        return int(gens[-1]["ord_base"]) + int(gens[-1]["max_ord"])
    return int(manifest["max_ord"])


def _tomb_field_stats(pre_doc_stats: DataFrame,
                      committed: DataFrame) -> dict:
    """Per-field ``[n_docs, sum_doc_len]`` of the committed tombstones'
    docs in the PRE-commit state (tombstone-sized broadcast join) —
    the decrement entries ``_merged_field_counts`` consumes; shared by
    ``save_delta`` and ``compact_tiered`` so the manifest arithmetic
    can never desynchronize between the two."""
    dec = (pre_doc_stats
           .join(F.broadcast(committed), "docid")
           .groupBy("field")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("doc_len").alias("s"))
           .collect())
    return {r["field"]: [int(r["n"]), int(r["s"] or 0)] for r in dec}


def compact_tiered(inv, tail: Optional[int] = None,
                   tier_ratio: float = 4.0) -> str:
    """Lucene-style TIERED merge: fold the newest contiguous run of
    generations into ONE mid-tier generation, leaving the base (and any
    older, larger generations) untouched. The full ``compact()`` is the
    top-tier merge; this is the maintenance step between delta saves
    and it, so a streaming ingest with ``compact_every=N`` pays a
    merge bounded by the MERGED GENERATIONS' size per cycle instead of
    a full-warehouse rewrite — at 10^12 turns the difference between a
    micro-batch-sized job and a full corpus pass.

    ``tail``: fold exactly the newest ``tail`` generations. ``None``
    auto-selects a run of SIMILAR-sized generations (Lucene's tier
    shape): walking from the newest generation backwards, a generation
    joins the fold while its live-doc count is at most ``tier_ratio``
    x the docs already accumulated in the fold — micro-batch runs all
    qualify (each is comparable to the tail behind it); a
    previously-merged mid-tier generation that dwarfs the new
    micro-batches stays put and seeds the next tier.

    Only a contiguous NEWEST suffix is ever merged: generation K's
    tombstones kill docs of generations < K, so merging non-adjacent
    generations would reorder removal visibility. Within the fold that
    ordering is applied physically (bind of the suffix view); the
    union of the folded generations' tombstones is carried forward as
    the merged generation's tombstones, preserving their effect on
    everything older. Docs both added and removed inside the fold
    vanish physically; a carried tombstone whose doc was re-added
    INSIDE the fold cannot re-kill it (merged-gen tombstones only see
    older generations) — the same invariant delta binds rely on.

    Reader-safe like every commit here: one atomic root-manifest
    replace; the folded generation directories survive until the next
    save's GC sweep, so a reader of the previous manifest keeps a
    consistent view for one full commit cycle. Returns the merged
    generation directory ("" when there was nothing to fold)."""
    path = inv._path
    if not path:
        raise ValueError("compact_tiered() needs an index loaded from "
                         "or saved to a warehouse path")
    if inv._delta_adds or inv._delta_tombs is not None:
        raise ValueError("compact_tiered(): commit pending operations "
                         "with save_delta() first")
    spark = inv.postings.sparkSession
    manifest = _read_manifest(path)
    from .indexer import (
        InvertedIndex, _gc_stale_artifacts, _write_history, check_layout,
        read_table)

    check_layout(manifest)
    gens = list(manifest.get("generations", []))
    if len(gens) < 2:
        return ""  # nothing worth folding

    # ---- pick the fold: a contiguous newest suffix --------------------
    if tail is not None:
        cut = max(0, len(gens) - int(tail))
    else:
        # newest gen always seeds the fold; extend backwards while the
        # next-older generation is size-comparable to the accumulated
        # tail (tombstone-only generations count 0 and always fold)
        sizes = [_gen_docs(e) for e in gens]
        acc = sizes[-1]
        cut = len(gens) - 1
        while cut > 0:
            g = sizes[cut - 1]
            if acc > 0 and g > tier_ratio * acc:
                break
            acc += g
            cut -= 1
    suffix, keep = gens[cut:], gens[:cut]
    if len(suffix) < 2:
        return ""

    # GC what the CURRENT commit no longer references (start-of-save
    # sweep: previous tiers' folded dirs go now, this fold's dirs get
    # their grace until the next one) + heal a missing history twin
    _gc_stale_artifacts(path, manifest)
    _write_history(path, manifest)
    block_size = int(manifest.get("block_size", 4096))

    # ---- bind the suffix-only view ------------------------------------
    add_entries = [e for e in suffix if e.get("has_adds")]
    view = None
    if add_entries:
        first = add_entries[0]
        view = InvertedIndex.load(
            spark, os.path.join(path, DELTAS_DIR, first["name"]))
        rel_base = int(first["ord_base"])
        # only generations NEWER than the first adds generation join the
        # in-view bind (manifest order preserved): an older
        # tombstone-only generation's tombstones cannot kill docs of
        # generations after it, so placing one after ``first`` in the
        # view would wrongly remove survivors — it is carry-only.
        # Ordinals re-base relative to ``first`` (both bases are
        # block-aligned, so the shift stays pure block arithmetic). The
        # view is only saved, and save() derives every statistic from
        # its rows, so the field partials here (``first``'s) only fill
        # the shape bind_generations expects.
        rest = suffix[suffix.index(first) + 1:]
        synth = {
            "block_size": block_size,
            "field_doc_stats": first["field_doc_stats"],
            "generations": [
                {**e, "ord_base": int(e.get("ord_base", rel_base)) - rel_base}
                for e in rest
            ],
        }
        if synth["generations"]:
            bind_generations(view, spark, path, synth)

    # ---- carried tombstones (union over the fold) ---------------------
    carried = None
    for e in suffix:
        if not e.get("tombstones"):
            continue
        t = read_table(
            spark, os.path.join(path, DELTAS_DIR, e["name"], "tombstones"))
        carried = t if carried is None else carried.unionByName(t)
    if carried is not None:
        carried = carried.distinct()

    # ---- write the merged generation ----------------------------------
    gen_seq = int(manifest["gen_seq"]) + 1
    name = "gen-%05d" % gen_seq
    gen_dir = os.path.join(path, DELTAS_DIR, name)
    os.makedirs(gen_dir, exist_ok=True)
    prev_max = _ord_high_water(manifest, keep)
    entry = {
        "name": name,
        "ord_base": ((prev_max // block_size) + 1) * block_size,
        "max_ord": 0,
        "has_adds": view is not None,
        "tombstones": False,
    }
    if view is not None:
        view.save(gen_dir, with_segments=manifest.get("segments", True),
                  block_size=block_size, _history=False)
        gm = _read_manifest(gen_dir)
        entry["max_ord"] = int(gm["max_ord"])
        entry["field_doc_stats"] = gm["field_doc_stats"]
        view.unpersist()
    if carried is not None:
        carried.write.mode("overwrite").parquet(
            os.path.join(gen_dir, "tombstones"))
        entry["tombstones"] = True
        committed = read_table(spark, os.path.join(gen_dir, "tombstones"))
        # decrements vs the PRE-FOLD state (base + kept generations,
        # with THEIR tombstones applied): a doc a kept generation
        # already killed must not be decremented twice — bind the
        # pre-fold view lazily (metadata-only) and join against its
        # doc_stats, a carried-tombstone-sized broadcast
        pre = InvertedIndex(
            postings=spark.createDataFrame([], "docid string"),
            doc_stats=None, field_stats=None, term_stats=None, docs=None,
            analyzers=inv.analyzers,
            store_positions=inv.store_positions,
        )
        pre._rebind_from(path, {**manifest, "generations": keep},
                         spark=spark)
        entry["tomb_field_stats"] = _tomb_field_stats(
            pre.doc_stats, committed)
        pre.unpersist()

    # ---- commit --------------------------------------------------------
    merged_tags = list(manifest.get("merged_tags", []))
    merged_tags += [e["tag"] for e in suffix if e.get("tag")]
    if merged_tags:
        manifest["merged_tags"] = cap_merged_tags(merged_tags)
    manifest["generations"] = keep + [entry]
    manifest["gen_seq"] = gen_seq
    manifest["commit_seq"] = int(manifest.get("commit_seq", -1)) + 1
    _write_manifest_atomic(path, manifest)  # the commit point
    _write_history(path, manifest)
    inv._rebind_from(path, manifest, spark=spark)
    return gen_dir


def _union_all(dfs):
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def _tomb_docids(path: str, entry: dict) -> list:
    """The docids generation ``entry`` tombstones, read on the driver
    (pyarrow over the parquet files: no Spark job)."""
    if not entry.get("tombstones"):
        return []
    import pyarrow.parquet as pq

    col = pq.read_table(
        os.path.join(path, DELTAS_DIR, entry["name"], "tombstones"),
        columns=["docid"], use_threads=False).column(0)
    return [d for d in col.to_pylist() if d is not None]


def bind_generations(inv, spark, path: str, manifest: dict) -> None:
    """Rebind ``inv`` (whose base tables are already bound) as the union
    of base + generations, with ordinal shifts, tombstones and merged
    statistics.

    Cost model: the bind reads the tombstoned docids on the driver and
    runs ONE Spark job (the tables' schemas come from their parquet
    footers, ``indexer.read_table``): a pushed ``In(docid)`` collect
    over the ordinals of the parts they can reach (none without
    tombstones). Both sets stay on the driver for the life of the
    binding (at most TOMB_LOCAL_CAP docids: ``save_delta`` compacts
    rather than commit past it) and reach every Spark plan as literal
    predicates. Nothing is persisted. The bind also lists each part's
    files per table (``build/files.py``: the base's, then each adds
    generation's with its ordinal base), which is all the driver's
    serving reads need: query-term df/idf (``search/scorer.py
    _vocab_lookup``, summed from the generations' partials less the
    query terms' tombstoned postings), WAND's block reads and the
    phrase position rows read those files with pyarrow and run no
    Spark job. The lazy merged ``term_stats`` serves the
    vocabulary-wide consumers, and field_stats' vocabulary count (the
    binding's one-time Spark cost on the query path) is deferred to
    first access via ``_fs_thunk``."""
    entries = manifest["generations"]
    block_size = int(manifest.get("block_size", 4096))

    def _tf(df):
        return df.withColumn("tf", F.sqrt(F.col("tf_raw")))

    def _shift(df, base):
        return df.withColumn("ord", F.col("ord") + F.lit(base))

    # ---- per-part tables (part 0 = base, part k = generation k) -------
    parts = [dict(
        postings=inv.postings,
        ordinals=inv._ordinals,
        doc_stats=inv.doc_stats.select("field", "docid", "doc_len"),
        docs=inv.docs,
        term_stats=inv.term_stats.select("field", "term", "df"),
        segments=inv._segments[1] if inv._segments is not None else None,
        seg_lens=inv._seg_lens,
    )]
    tombs: list = [[]]
    from .files import bind, list_part
    from .indexer import read_table, tables_dir

    # the files behind each table, part by part (build/files.py): the
    # base's as bound by _rebind_from, then each adds generation's
    # (field_stats is assembled below rather than read, so it stays a
    # Spark read)
    files = {name: list(b[1]) for name, b in inv._files.items()
             if name != "field_stats"}

    for e in entries:
        tombs.append(_tomb_docids(path, e))
        if not e.get("has_adds"):
            parts.append(None)
            continue
        # tombstones are written directly at the gen root; the gen's
        # TABLE set was written by a nested save() and resolves through
        # the gen's own manifest (its snapshot subdirectory)
        gd = os.path.join(path, DELTAS_DIR, e["name"])
        gt = tables_dir(gd, _read_manifest(gd))
        base = int(e["ord_base"])
        for name in files:
            files[name].append(list_part(os.path.join(gt, name), base,
                                         block_size))

        def _read(name):
            return read_table(spark, os.path.join(gt, name))

        seg = lens = None
        if inv._segments is not None:
            # block-aligned ord_base: the payload decodes relative to
            # block_id * block_size, so shifting block_id re-bases the
            # whole block without touching the compressed bytes; the
            # doc_len blocks re-base the same way
            seg = (_read("segments")
                   .withColumn("block_id",
                               F.col("block_id") + F.lit(base // block_size))
                   .withColumn("min_ord", F.col("min_ord") + F.lit(base))
                   .withColumn("max_ord", F.col("max_ord") + F.lit(base)))
            lens = _read("seg_lens").withColumn(
                "block_id", F.col("block_id") + F.lit(base // block_size))
        parts.append(dict(
            postings=_tf(_shift(_read("postings"), base)),
            ordinals=_shift(_read("ordinals"), base),
            doc_stats=_read("doc_stats").select("field", "docid", "doc_len"),
            docs=_read("docs"),
            term_stats=_read("term_stats").select("field", "term", "df"),
            segments=seg,
            seg_lens=lens,
        ))

    # ---- tombstones, resolved once on the driver ----------------------
    # generation K's tombstones kill docs of parts < K only: a doc
    # tombstoned and re-added in the same generation (update) survives
    later: list = []
    acc: set = set()
    for k in range(len(parts) - 1, -1, -1):
        later.append(sorted(acc))
        acc.update(tombs[k])
    later.reverse()
    probes = [p["ordinals"].where(in_expr("docid", later[k])).select("ord")
              for k, p in enumerate(parts) if p is not None and later[k]]
    dead = sorted({r["ord"] for r in _union_all(probes).collect()}
                  if probes else ())

    live = []
    for k, p in enumerate(parts):
        if p is None:
            continue
        if later[k]:
            gone = ~in_expr("docid", later[k])
            p = {**p, "docs": p["docs"].where(gone),
                 "doc_stats": p["doc_stats"].where(gone)}
        live.append(p)

    def _union(key):
        return _union_all([p[key] for p in live])

    def _alive(df):
        return df.where(~in_expr("ord", dead)) if dead else df

    raw_postings = _union("postings")
    inv.postings = _alive(raw_postings)
    inv._ordinals = _alive(_union("ordinals"))
    # the durable base-gen ordinals_extra no longer covers the merged
    # docs universe — recompute lazily on demand
    inv._ordinals_all = None
    inv.doc_stats = _union("doc_stats")
    inv.docs = _union("docs")
    inv._dead_ords = frozenset(dead)
    inv._df_partials = _union("term_stats")

    # ---- merged statistics (vocabulary-wide consumers) ----------------
    # the sum _vocab_lookup takes for query terms, over the whole
    # vocabulary: the df partials (each live doc lives in exactly one
    # generation) less one per tombstoned posting — EXACT df, matching
    # the reference's full recalculate_idf after every remove
    # (field.ex:321-349; pinned by the randomized maintenance referee,
    # tests/test_random_maintenance.py::test_random_maintenance_with_
    # persistence). A term whose every posting is tombstoned leaves the
    # vocabulary (df=0), as after a rebuild; that keeps _fs_thunk's
    # n_unique_terms/flnorm exact. Query terms never read this plan;
    # field_stats, facets, suggest and compaction do.
    rows = inv._df_partials
    if dead:
        rows = rows.unionByName(
            raw_postings.where(in_expr("ord", dead)).select(
                "field", "term", F.lit(-1).cast("long").alias("df")))
    ts_sum = (rows.groupBy("field", "term").agg(F.sum("df").alias("df"))
              .where(F.col("df") > 0))

    counts = sorted(_merged_field_counts(manifest).items())
    nd_df = inline_rows(spark, [(f, n) for f, (n, _s) in counts],
                        "field string, n_docs long")
    inv.term_stats = (
        ts_sum.join(F.broadcast(nd_df), "field")
        .withColumn("idf", F.lit(1.0) + F.log10(
            F.col("n_docs") / (F.col("df") + F.lit(1.0))))
        .drop("n_docs")
    )

    def _fs_thunk():
        import math

        vrows = {r["field"]: r["n"] for r in ts_sum.groupBy("field").agg(
            F.count(F.lit(1)).alias("n")).collect()}
        rows = [
            (f, n,
             int(vrows.get(f) or 0),
             (1.0 / math.sqrt(vrows[f])) if vrows.get(f) else 0.0,
             (float(s) / n) if n else 0.0)
            for f, (n, s) in counts
        ]
        return inline_rows(spark, rows, _FS_SCHEMA)

    inv._field_stats = None
    inv._fs_thunk = _fs_thunk

    # ---- segments for WAND --------------------------------------------
    if inv._segments is not None:
        # doc_len blocks union the same way (lens of tombstoned docs
        # stay in the union — decode joins are keyed by the live,
        # tombstone-filtered posting ords, so dead entries never match)
        inv._segments = (block_size, _union("segments"), inv._ordinals)
        inv._seg_lens = _union("seg_lens")
    bind(inv, files)


def _merged_field_counts(manifest: dict) -> dict:
    """{field: (n_docs, sum_doc_len)} across base + generations minus
    tombstone decrements, from manifest integer arithmetic alone (no
    Spark job)."""
    out = {f: [int(n), int(s)]
           for f, (n, s) in manifest["field_doc_stats"].items()}
    for e in manifest["generations"]:
        for f, (n, s) in (e.get("field_doc_stats") or {}).items():
            cur = out.setdefault(f, [0, 0])
            cur[0] += int(n)
            cur[1] += int(s)
        for f, (n, s) in (e.get("tomb_field_stats") or {}).items():
            cur = out.setdefault(f, [0, 0])
            cur[0] -= int(n)
            cur[1] -= int(s)
    return {f: (n, s) for f, (n, s) in out.items()}
