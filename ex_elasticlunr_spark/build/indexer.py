"""Distributed index build: documents DataFrame -> inverted-index tables.

This is the Spark-first re-expression of the reference's write path
(core/index.ex:115-120,283-301 + core/field.ex:83-94,217-241,321-349):
the reference's per-document Task.async_stream fan-out becomes partition
parallelism; ETS row inserts become a groupBy aggregation; the
full-vocabulary idf refresh (field.ex:321-349) becomes one
term-level aggregation joined with per-field scalars.

Dataflow (one analyzer pass over the data, MAP-ONLY postings):

    docs(docid, f1..fn)
      -> stack to (field, docid, content)                  [no shuffle]
      -> analyze_postings mapInPandas: tokenize + trim + stop + stem +
         document-local term aggregation (tf, positions + ordinal
         arrays, doc_len) + map-only global doc-ordinal stamping
      = flat(field, docid, term, tf_raw, doc_len, positions, ords, ord)
        -- NO wide shuffle: tf is a per-document statistic and each
           docid sits in exactly one input row; the global ordinal is
           partition-strided (udfs.ORD_STRIDE)

    doc_stats   = the analyzer's sentinel rows (term IS NULL)
    term_stats  = postings groupBy (field, term) -> df (+ idf via a
                  broadcast of the driver-assembled field_stats)
                  [map-side combine, output = vocabulary size]
    field_stats = per-field scalars (n_docs, unique terms, flnorm,
                  avgdl) — two per-field collects, assembled driver-side

save() then persists the v6 layout in overlapped phases: flat ingest
write (staging) ∥ docs scan, then the one term-clustering shuffle of
``postings`` ∥ doc_stats ∥ ordinals table, then stats ∥ compressed
segments (both reading the clustered parquet's narrow columns).

Scale notes (10^12 turns):
  * the ingest pass itself is shuffle-free — the build is
    embarrassingly parallel up to the stats aggregations, whose
    outputs are vocabulary- or doc-sized with map-side combine; the
    durable layout costs one term-clustering shuffle (the postings
    table, positions included when they are stored; it carries no
    docid string: result docids resolve through the ordinals table);
  * term-level skew appears only in clustering/segment compaction and
    is handled with ordinal-range salting (block-aligned pmod salt);
  * field_stats/term_stats are tiny relative to postings and are
    broadcast at query time.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.literals import inline_rows
from ..functions.udfs import AnalyzerConfig, analyze_postings
from .files import TABLES, bind, list_part, parquet_files



# the on-disk layout save() writes; load, save_delta and compact_tiered
# refuse any other (check_layout)
LAYOUT_VERSION = 6


def check_layout(manifest: dict) -> None:
    """Raise ``ValueError`` unless ``manifest`` describes the current
    layout."""
    version = manifest.get("version")
    if version != LAYOUT_VERSION:
        raise ValueError(
            f"warehouse layout version {version} is not supported (this "
            f"library reads version {LAYOUT_VERSION}): rebuild the index "
            f"and save it again")


def tables_dir(path: str, manifest: dict) -> str:
    """Directory holding ``manifest``'s table set: the manifest's
    snapshot subdirectory."""
    return os.path.join(path, manifest["snapshot_dir"])


# parquet footer key under which Spark's writer stores the Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without its schema-inference job.

    Spark infers a parquet table's schema from one data file's footer,
    in a Spark job, and takes the Spark schema its own writer stored
    there when present. This reads that same footer entry on the driver
    (pyarrow) and hands it over as the read schema, so binding a table
    runs no job. Tables without the entry (other writers), non-local
    paths and ``spark.sql.parquet.mergeSchema=true`` keep inference."""
    schema = _footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def _footer_schema(spark: SparkSession, path: str):
    if (not os.path.isdir(path) or spark.conf.get(
            "spark.sql.parquet.mergeSchema", "false").lower() == "true"):
        return None
    files = parquet_files(path)
    if not files:
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    try:
        meta = pq.read_schema(files[0]).metadata or {}
    except (OSError, ValueError):  # unreadable footer: let Spark report it
        return None
    raw = meta.get(_SPARK_SCHEMA_KEY)
    return None if raw is None else StructType.fromJson(json.loads(raw))


def table_path(path: str, name: str) -> str:
    """Resolve table ``name`` under warehouse ``path`` through the
    committed manifest (tests/tools convenience — library code resolves
    through the manifest it already holds)."""
    with open(os.path.join(path, "manifest.json")) as fh:
        return os.path.join(tables_dir(path, json.load(fh)), name)


def _gc_stale_artifacts(path: str, manifest: dict) -> None:
    """Delete everything the CURRENT committed manifest does not
    reference: older snapshot directories, delta generations dropped by
    a compaction, and crashed staging dirs. Called at the START of the
    next save — never at commit — so anything a reader of the previous
    manifest can still be scanning survives one full commit cycle (the
    same grace contract as Iceberg snapshot expiry with retention 1)."""
    import glob as _glob
    import shutil as _shutil

    cur_snap = manifest.get("snapshot_dir")
    for d in _glob.glob(os.path.join(path, "snap-*")):
        if os.path.basename(d) != cur_snap:
            _shutil.rmtree(d, ignore_errors=True)
    live_gens = {e["name"] for e in manifest.get("generations", [])}
    ddir = os.path.join(path, "deltas")
    if os.path.isdir(ddir):
        if not live_gens:
            _shutil.rmtree(ddir, ignore_errors=True)
        else:
            for d in _glob.glob(os.path.join(ddir, "gen-*")):
                if os.path.basename(d) not in live_gens:
                    _shutil.rmtree(d, ignore_errors=True)
    for junk in (".staging", ".old"):
        _shutil.rmtree(os.path.join(path, junk), ignore_errors=True)
    # retained commit-history manifests (time travel): prune entries
    # whose artifacts this sweep (or a previous one) reclaimed, so
    # list_snapshots() only advertises loadable versions. The current
    # commit's twin always survives — everything IT references does.
    hdir = os.path.join(path, HISTORY_DIR)
    if os.path.isdir(hdir):
        for hp in _glob.glob(os.path.join(hdir, "manifest-*.json")):
            try:
                with open(hp) as fh:
                    hm = json.load(fh)
            except (OSError, json.JSONDecodeError):
                os.unlink(hp)
                continue
            if not _history_readable(path, hm):
                os.unlink(hp)


HISTORY_DIR = "history"
DELTAS_DIR = "deltas"  # mirrors build/deltas.py (import cycle guard)


def _history_readable(path: str, manifest: dict) -> bool:
    """True iff every artifact ``manifest`` references still exists."""
    if ("snapshot_dir" not in manifest
            or not os.path.isdir(tables_dir(path, manifest))):
        return False
    return all(
        os.path.isdir(os.path.join(path, DELTAS_DIR, e["name"]))
        for e in manifest.get("generations", [])
    )


def _write_history(path: str, manifest: dict) -> None:
    """Retain a committed manifest under ``history/`` keyed by its
    monotone ``commit_seq`` — the parquet stand-in for Iceberg's
    metadata-file history that makes snapshot time travel
    (``InvertedIndex.load(..., at=seq)``) possible. Advisory relative
    to the root-manifest commit point: rewritten idempotently (backfill
    on the next commit heals a crash between the root replace and this
    copy)."""
    seq = manifest.get("commit_seq")
    if seq is None:
        return
    hdir = os.path.join(path, HISTORY_DIR)
    os.makedirs(hdir, exist_ok=True)
    tmp = os.path.join(hdir, ".manifest.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2)
    os.replace(tmp, os.path.join(hdir, "manifest-%06d.json" % int(seq)))


def _analyzer_manifest(c) -> dict:
    """AnalyzerConfig -> JSON manifest entry. ``extra`` callbacks and a
    distinct ``query_pipeline`` are cloudpickled (the same serializer
    Spark ships them to executors with — handles lambdas/closures): a
    manifest that recorded only stages/separator would make a LOADED
    index analyze queries differently than the one that built the
    postings, silently returning zero hits for callback-produced
    terms."""
    out = {"stages": list(c.stages), "separator": c.separator,
           "unicode": getattr(c, "unicode", False)}
    import base64

    from pyspark import cloudpickle

    if getattr(c, "extra", None):
        out["extra_b64"] = base64.b64encode(
            cloudpickle.dumps(list(c.extra))).decode("ascii")
    if getattr(c, "query_pipeline", None) is not None:
        out["query_pipeline_b64"] = base64.b64encode(
            cloudpickle.dumps(c.query_pipeline)).decode("ascii")
    return out


def _analyzer_from_manifest(cfg: dict) -> "AnalyzerConfig":
    import base64

    from pyspark import cloudpickle

    extra = None
    if cfg.get("extra_b64"):
        extra = cloudpickle.loads(base64.b64decode(cfg["extra_b64"]))
    qp = None
    if cfg.get("query_pipeline_b64"):
        qp = cloudpickle.loads(
            base64.b64decode(cfg["query_pipeline_b64"]))
    return AnalyzerConfig(tuple(cfg["stages"]), cfg["separator"],
                          extra=extra, query_pipeline=qp,
                          unicode=cfg.get("unicode", False))


def list_snapshots(path: str) -> list:
    """Committed versions still readable for time travel, oldest first:
    ``[{commit_seq, kind, snapshot_seq, n_generations, max_ord}]``.
    ``kind`` is "full" for a save/compact commit (no generations) and
    "delta" for a save_delta commit. Versions whose artifacts a later
    full save's GC sweep reclaimed are pruned from the listing (Iceberg
    snapshot expiry with retention 1 — see _gc_stale_artifacts)."""
    import glob as _glob

    out = []
    for hp in sorted(_glob.glob(
            os.path.join(path, HISTORY_DIR, "manifest-*.json"))):
        try:
            with open(hp) as fh:
                hm = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if not _history_readable(path, hm):
            continue
        gens = hm.get("generations", [])
        out.append({
            "commit_seq": int(hm["commit_seq"]),
            "kind": "delta" if gens else "full",
            "snapshot_seq": int(hm.get("snapshot_seq", -1)),
            "n_generations": len(gens),
            "max_ord": int(hm.get("max_ord") or 0),
        })
    return out


class InvertedIndex:
    """A built index: five DataFrames + per-field analyzer configs.

    Tables (durable v6 layout; logical schemas in SURVEY.md §1.2):
      postings(field, term, ord, tf_raw, tf, doc_len[, positions, ords])
                                             -- the one term-clustered
                                                posting table; positions
                                                and token ordinals when
                                                store_positions is set;
                                                no docid (ordinals
                                                resolve result rows).
                                                Readers project the
                                                columns they need.
      doc_stats(field, docid, doc_len[, ord])
      field_stats(field, n_docs, n_unique_terms, flnorm, avg_doc_len)
      term_stats(field, term, df, idf)       -- elasticlunr idf
      ordinals(docid, ord)                   -- global docID assignment
      docs(docid)                            -- the docid universe (= ref
                                                field ids, index.ex:154-159)

    A saved warehouse may additionally carry delta GENERATIONS
    (deltas/gen-NNNNN/ with the same table set + tombstones; manifest
    "generations" lists them) — append-only maintenance via
    ``save_delta``/``compact`` (build/deltas.py); ``load`` presents the
    union transparently.
    """

    def __init__(
        self,
        postings: DataFrame,
        doc_stats: DataFrame,
        field_stats: DataFrame,
        term_stats: DataFrame,
        docs: DataFrame,
        analyzers: Dict[str, AnalyzerConfig],
        store_positions: bool = True,
    ):
        self.postings = postings
        self.doc_stats = doc_stats
        self._fs_thunk = None  # lazy field_stats builder (multi-gen load)
        self.field_stats = field_stats
        self.term_stats = term_stats
        self.docs = docs
        self.analyzers = analyzers
        self.store_positions = store_positions
        self._flat = None  # build-time analyzer output incl. sentinel rows
        self._segments = None  # (block_size, segments DF, ordinals DF)
        self._seg_lens = None  # per-(field, block) doc_len blocks (codec v2)
        self._ordinals = None  # durable docid->ord table (loaded index)
        self._key = None  # explicit currency override (see key_col)
        self._ord_map = None  # cached translate plan (fresh builds)
        self._ordinals_all = None  # translate incl. zero-content docs
        # generational delta tracking (build/deltas.py): the durable
        # warehouse this object derives from, the pending fresh
        # sub-indexes added since, and the pending removal tombstones
        self._path = None  # warehouse dir this index was loaded/saved from
        self._delta_base = None  # the loaded InvertedIndex under pending ops
        self._delta_adds: list = []  # pending fresh sub-indexes (in order)
        self._delta_tombs = None  # pending removal docids (DataFrame)
        # the files behind each bound table (build/files.py: table ->
        # (bound DataFrame, parts)), and on a multi-gen load
        # (build/deltas.py bind_generations) the driver-held tombstoned
        # ords and the union of the generations' df partials
        self._files: dict = {}
        self._dead_ords: frozenset = frozenset()
        self._df_partials = None
        # persisted internals this index's retained lazy plans depend on
        # (assign_doc_ordinals' range-partitioned docs) — released in
        # unpersist()/_rebind_from, NOT earlier: a dependent plan that
        # recomputes after its dep is gone would resample range bounds
        # and drift ordinals
        self._aux_persisted: list = []

    @property
    def field_stats(self) -> DataFrame:
        """Per-field scalars. On a multi-generation load this is
        assembled lazily on first access (one vocabulary-sized count
        job for n_unique_terms; n_docs/avg_doc_len come from manifest
        arithmetic) and then cached as an inline literal relation —
        opening the index stays a metadata-only operation."""
        if self._field_stats is None and self._fs_thunk is not None:
            self._field_stats = self._fs_thunk()
        return self._field_stats

    @field_stats.setter
    def field_stats(self, df) -> None:
        self._field_stats = df

    # -- query currency ---------------------------------------------------
    @property
    def key_col(self) -> str:
        """The internal per-doc key the query path aggregates on.

        ``ord`` (int64) wherever a consistent global ordinal space
        exists — fresh builds (map-only ingest ordinals) and loaded
        indexes (whose postings carry NO docid at all: the ~17-byte
        docid string is resolved from the ordinals table only for final
        result rows, the one thing that shrinks the build's clustering
        shuffle AND makes per-doc aggregation an int-keyed operation).
        ``docid`` for merged/recombined indexes whose per-build ingest
        ordinals would collide.
        """
        if self._key is not None:
            return self._key
        return "docid" if "docid" in self.postings.columns else "ord"

    def ordinals_df(self, full: bool = False):
        """docid<->ord translation table.

        ``full=False``: content-bearing docs (every doc that can appear
        in postings) — what result translation needs. ``full=True``
        additionally assigns synthetic NEGATIVE ordinals to docs with no
        non-null field (they hold no postings but belong to the
        match_all/not universe, index_test.exs:151-172 counts them).
        """
        if not full:
            if self._ordinals is not None:
                return self._ordinals
            if self._ord_map is None:
                # fresh build: the sentinel rows carry the ingest ordinal;
                # doc_stats is cached by materialize() so this never
                # re-runs the analyzer
                self._ord_map = (
                    self.doc_stats.where(F.col("ord").isNotNull())
                    .groupBy("docid").agg(F.first("ord").alias("ord"))
                )
            return self._ord_map
        if self._ordinals_all is None:
            from .ordinals import assign_doc_ordinals

            base = self.ordinals_df()
            extras = self.docs.join(base, "docid", "left_anti")
            ex_raw = assign_doc_ordinals(extras)
            ex = ex_raw.select(
                "docid", (-F.col("ord") - F.lit(2)).cast("long").alias("ord"))
            self._aux_persisted += getattr(ex_raw, "_persisted_deps", [])
            self._ordinals_all = base.select(
                "docid", F.col("ord").cast("long").alias("ord")
            ).unionByName(ex)
        return self._ordinals_all

    def segments(self, block_size: int = 4096, force: bool = False):
        """Compressed posting segments + doc ordinals (built lazily,
        cached; see build/segments.py). An existing segment build is
        reused even for a different requested block_size unless
        ``force`` — rebuilds are expensive and any block size is valid.
        ``save()`` persists segments durably and ``load()`` picks them
        up, so on a loaded index this is a parquet read, not a build."""
        if self._segments is not None and not force:
            return self._segments[1], self._segments[2]
        if self._segments is not None:
            self._segments[1].unpersist()
            self._segments[2].unpersist()
            if self._seg_lens is not None:
                # lens blocks are aligned to the segments' block size
                # and ordinal space — a forced rebuild invalidates them
                self._seg_lens.unpersist()
                self._seg_lens = None
        if (self._ordinals is not None and "ord" in self.postings.columns
                and not force):
            # a warehouse saved without segments: the postings table is
            # already block-clustered with ords — pure-map build
            from .segments import build_segments_streaming

            seg = build_segments_streaming(self.postings, block_size).persist()
            self._segments = (block_size, seg, self._ordinals)
            return seg, self._ordinals
        from .segments import build_segments

        seg, ords = build_segments(self, block_size)
        seg = seg.persist()
        self._segments = (block_size, seg, ords)
        return self._segments[1], self._segments[2]

    def seg_len_blocks(self, block_size: Optional[int] = None) -> DataFrame:
        """Per-(field, block) doc-length blocks (codec v2 side table —
        build/segments.py build_len_blocks): doc_len stored once per
        (field, doc) instead of once per posting entry. Lazily built
        from doc_stats (+ ordinals when doc_stats lacks ords) and
        cached; save() persists it durably next to ``segments`` and
        load() picks it up. The block size MUST match the posting
        segments' (block-aligned decode joins) — when segments exist,
        theirs wins."""
        if self._seg_lens is not None:
            return self._seg_lens
        from .segments import build_len_blocks

        # segments first: they fix BOTH the block size and the ordinal
        # space (a lazy fresh-path build assigns docid-sorted ordinals
        # that differ from the ingest ordinals in doc_stats.ord)
        _, seg_ords = self.segments(block_size or 4096)
        bs = self._segments[0]
        trust_inline = (seg_ords is self._ordinals
                        and "ord" in self.doc_stats.columns)
        self._seg_lens = build_len_blocks(
            self.doc_stats, None if trust_inline else seg_ords, bs
        ).persist()
        return self._seg_lens

    # -- lifecycle -------------------------------------------------------
    def cache(self) -> "InvertedIndex":
        for df in (self.postings, self.doc_stats, self.field_stats,
                   self.term_stats, self.docs):
            df.cache()
        return self

    def materialize(self) -> "InvertedIndex":
        from concurrent.futures import ThreadPoolExecutor

        # Serving-cache compaction: a wide ingest partitioning (the
        # small-scan spread that parallelizes the analyzer) must not
        # leak into the CACHED serving tables — scanning a 32-partition
        # postings cache cost ~+0.5 s per query on a corpus whose whole
        # cache fits a handful of partitions (measured A/B: 32-part
        # 1.22-1.32 s match_or vs 4-part 0.46-0.54 s, identical data).
        # Only when the source size is PROVABLY small (catalyst stats,
        # no job; the unknown-size sentinel skips) repartition the
        # query-hot tables to ~1 MB-of-source per cached partition
        # before caching; at real corpus scale this is a no-op.
        sc = self.postings.sparkSession.sparkContext
        if self.docs is not None:
            try:
                size = int(str(self.docs._jdf.queryExecution()
                               .optimizedPlan().stats().sizeInBytes()))
            except Exception:  # stats API drift: leave partitioning alone
                size = 1 << 62
            n = int(min(max(size // (1 << 20), 2), sc.defaultParallelism))
            if size < (1 << 62) and n < sc.defaultParallelism:
                self.postings = self.postings.repartition(n)
                self.doc_stats = self.doc_stats.repartition(
                    max(n // 2, 1))
        self.cache()
        # pin the shared analyzer output while the caches fill: postings
        # and doc_stats both derive from _flat, and without this pin the
        # (Python-heavy) analyzer pass ran TWICE — once for the postings
        # cache, once when the doc_stats/field_stats lineage was first
        # touched. Transient: released as soon as the caches are warm.
        flat = self._flat
        if flat is not None:
            flat.persist()
        try:
            # postings first (fills the flat cache), then the four
            # derived tables overlap — each is a small job over the
            # cached postings/flat, and running them serially just
            # strings four scheduling tails end to end (guide §2.6 —
            # overlap independent jobs; concurrent first-touch of the
            # same cached block dedupes via the block manager's
            # per-block compute lock)
            self.postings.count()
            with ThreadPoolExecutor(max_workers=4) as pool:
                futs = [pool.submit(df.count)
                        for df in (self.term_stats, self.field_stats,
                                   self.doc_stats, self.docs)]
                for f in futs:
                    f.result()
        finally:
            if flat is not None:
                flat.unpersist()
        return self

    def unpersist(self) -> None:
        # _field_stats directly: unpersisting must not trigger the lazy
        # multi-generation field-stats job just to unpersist its result
        for df in (self.postings, self.doc_stats, self._field_stats,
                   self.term_stats, self.docs, self._seg_lens):
            if df is not None:
                df.unpersist()
        if self._segments is not None:
            # the cached (block_size, segments, ordinals) tuple holds
            # two persisted DFs of its own
            self._segments[1].unpersist()
            self._segments[2].unpersist()
            self._segments = None
        for df in self._aux_persisted:
            df.unpersist()
        self._aux_persisted = []

    def save(self, path: str, timings: Optional[dict] = None,
             with_segments: bool = True, block_size: int = 4096,
             term_salt: int = 8,
             manifest_extra: Optional[dict] = None,
             _history: bool = True) -> None:
        """Persist as a partitioned parquet warehouse (Iceberg-shaped
        layout; reference analogue: storage/disk.ex:22-31).

        Durable layout (version 6), Lucene-shaped table split:

        * ``postings``  — (field, term, ord, tf_raw, doc_len), plus the
          positional columns (positions char-offset pairs, ords token
          ordinals) when ``store_positions`` is set: the north rule's
          "term -> sorted (docID, tf, positions)" posting shape, in ONE
          table. Shuffled once on (field, term, pmod(block, salt)) and
          sorted within partitions by (term, field, ord): row groups
          carry tight term ranges so the query path's pushed
          ``In(term, ...)``/``StartsWith`` predicates prune on every
          scan, the block-aligned salt bounds hot-term skew AND makes
          every (field, term, block) complete inside one partition.
          Parquet is columnar, so a scoring scan that projects the
          narrow columns never reads the position arrays. NO docid:
          the ~17-byte docid string would be the widest column of the
          build's wide shuffle; result rows resolve docids through
          ``ordinals`` instead (index.key_col / executor translate).
          The doc-ordered ``flat`` analyzer dump is a STAGING artifact
          only.
        * ``ordinals``  — the global docID assignment (docid -> ord;
          map-only ingest stride for fresh builds, sorted zipWithIndex
          for merges, build/ordinals.py).
        * ``segments``  — delta-gap + varint posting blocks, built as a
          pure MAP over the block-clustered postings
          (build_segments_streaming: no shuffle, no collect_list).
        * stats tables derive from ONE aggregation pass over the
          clustered parquet (the vocabulary-sized (field, term) counts
          are persisted and reused for field_stats + term_stats).

        ``timings`` (when given) receives each stage's seconds:
        ``postings_write_sec`` the flat STAGING write (the analyzer
        pass; no durable postings table), ``positions_write_sec`` the
        term-clustering shuffle and write of the ``postings`` table,
        ``doc_stats_wall_sec``, ``ordinals_wall_sec``,
        ``stats_write_sec`` (term_stats + field_stats) and
        ``segments_write_sec`` (segments + seg_lens) their tables;
        ``ingest_wall_sec``, ``cluster_wall_sec`` and ``tail_wall_sec``
        the three serial phases' wall times, and ``*_cpu_sec`` the
        host-wide busy CPU per phase (Linux only).

        Everything is written to a ``.staging`` subdirectory and swapped
        in atomically at the end: saving an index whose lineage reads
        the same path (the IndexManager get -> add_documents -> save
        round-trip) never hits Spark's overwrite-while-reading error,
        and a crashed save leaves the previous index intact. On a real
        cluster the same swap is a metastore/Iceberg snapshot commit.
        After a successful save, ``self`` is repointed at the written
        parquet (fresh lineage, clustered scans).

        Deliberately no partitionBy on field: repartition("field")
        collapses the write to #fields tasks and partitionBy makes
        every task sort by the partition key first (measured 6x
        slower); per-field predicate pushdown still works via parquet
        row-group stats (field is the leading sort key).
        """
        import shutil
        import time as _time
        from concurrent.futures import ThreadPoolExecutor

        from .ordinals import assign_doc_ordinals
        from .segments import build_segments_streaming

        def _overlap(*thunks):
            """Run independent Spark actions concurrently (each thunk
            submits jobs from its own thread; the scheduler interleaves
            their tasks over the shared executor slots). This converts
            the save's serial tail of small jobs into overlapped work —
            on a cluster the same trick keeps executors busy while a
            vocabulary-sized stats job runs."""
            if len(thunks) == 1:
                return [t() for t in thunks]
            with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
                futs = [pool.submit(t) for t in thunks]
                return [f.result() for f in futs]

        spark = self.postings.sparkSession
        os.makedirs(path, exist_ok=True)
        # the previously COMMITTED manifest: GC source of truth (sweep
        # what it no longer references — grace for in-flight readers of
        # the commit before it) and carrier of the monotone sequence
        # numbers that survive compaction
        prev_manifest: dict = {}
        try:
            with open(os.path.join(path, "manifest.json")) as fh:
                prev_manifest = json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        if _history:
            # backfill: heal a crash between a previous commit's root
            # replace and its history copy (idempotent rewrite)
            _write_history(path, prev_manifest)
        _gc_stale_artifacts(path, prev_manifest)
        staging = os.path.join(path, ".staging")
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)

        def _sp(name: str) -> str:
            return os.path.join(staging, name)

        def _busy_jiffies():
            # host-wide busy CPU (user+nice+system) — per-phase cpu-time
            # instrumentation for the scaling evidence; None off-Linux
            try:
                with open("/proc/stat") as fh:
                    p = fh.readline().split()[1:]
                return int(p[0]) + int(p[1]) + int(p[2])
            except (OSError, ValueError, IndexError):
                return None

        # ---- phase 1: INGEST — the analyzer output written exactly as
        # produced (map-only, no shuffle): one analyzer pass feeding
        # every durable table; staging-only (the durable positional home
        # is the term-clustered postings table)
        t0 = _time.perf_counter()
        _cpu0 = _busy_jiffies()
        flat_cols = ["field", "docid", "term", "tf_raw", "doc_len"]
        if self.store_positions:
            flat_cols += ["positions", "ords"]
        # fresh builds carry map-only ingest ordinals (udfs.ORD_STRIDE
        # assignment) — the clustering stage then needs NO docid->ord
        # join at all; merged/loaded indexes fall back to the sorted
        # zipWithIndex (their ingest ordinals would collide across
        # builds)
        has_ingest_ord = self._flat is not None and "ord" in self._flat.columns
        # compaction fast-path: a LOADED index (one generation or a
        # multi-generation union) already has a valid global ordinal
        # space — reuse it as the "ingest" ordinal instead of restoring docids onto every
        # posting row (a wide array-bearing shuffle join) only to
        # reassign fresh ordinals with a second one. Posting rows carry
        # docid NULL (nothing downstream reads it when ords ride along);
        # only the sentinel rows need real docids — a docid-sized join.
        reuse_ord = (self._flat is None
                     and "docid" not in self.postings.columns
                     and self._ordinals is not None)
        if has_ingest_ord or reuse_ord:
            flat_cols.append("ord")
            has_ingest_ord = True
        if self._flat is not None:
            flat = self._flat
            for c in flat_cols:
                if c not in flat.columns:
                    flat = flat.withColumn(c, F.lit(None).cast("array<int>"))
            flat = flat.select(*flat_cols)
        else:
            # reconstruct the sentinel layout from postings + doc_stats
            src = self.postings
            if reuse_ord:
                src = src.withColumn("docid", F.lit(None).cast("string"))
            elif "docid" not in src.columns:
                # merged index without a usable ordinal table — restore
                # docids from ordinals for the re-save
                src = src.join(self.ordinals_df(), "ord").drop("ord")
            sent = self.doc_stats.select(
                "field", "docid",
                F.lit(None).cast("string").alias("term"),
                F.lit(0).cast("long").alias("tf_raw"),
                F.col("doc_len").cast("long").alias("doc_len"),
                *(["ord"] if reuse_ord and "ord" in self.doc_stats.columns
                  else []),
            )
            if reuse_ord and "ord" not in sent.columns:
                sent = sent.join(self.ordinals_df(), "docid")
            if self.store_positions:
                for c in ("positions", "ords"):
                    sent = sent.withColumn(c, F.lit(None).cast("array<int>"))
            flat = src.select(*flat_cols).unionByName(sent.select(*flat_cols))
        # ---- phase 1 (overlapped): the analyzer-heavy flat ingest write
        # ∥ the trivial docs scan. NOTHING shuffle-heavy overlaps this
        # phase — the ingest stage is the 10^12-turn bottleneck and owns
        # the Python workers (measured: overlapping the ordinals shuffle
        # here stretched the ingest wall ~20-50%).
        stage_secs: dict = {}

        def _w_flat():
            s0 = _time.perf_counter()
            flat.write.mode("overwrite").parquet(_sp("flat"))
            stage_secs["postings_write_sec"] = _time.perf_counter() - s0

        _overlap(
            _w_flat,
            lambda: self.docs.write.mode("overwrite").parquet(_sp("docs")),
        )
        t1 = _time.perf_counter()
        _cpu1 = _busy_jiffies()
        raw = read_table(spark, _sp("flat"))

        # ---- phase 2 (overlapped): doc_stats (sentinel filter of flat)
        # ∥ the docid->ordinal table — both docid-sized. With ingest
        # ordinals the table is a map-side-combined groupBy of the
        # sentinels (docs with no non-null field don't appear, which no
        # consumer needs — ordinals only translate MATCHED docs); the
        # clustering shuffle is then also independent and joins in.
        ordinals_box: list = []
        max_ord_box: list = []

        def _w_doc_stats():
            s0 = _time.perf_counter()
            cols = ["field", "docid", "doc_len"]
            if has_ingest_ord:
                # keep the ingest ordinal: cached docid<->ord translation
                # for the ord-keyed query path (ordinals_df)
                cols.append("ord")
            raw.where(F.col("term").isNull()) \
                .select(*cols) \
                .write.mode("overwrite").parquet(_sp("doc_stats"))
            stage_secs["doc_stats_wall_sec"] = _time.perf_counter() - s0

        def _w_ordinals():
            s0 = _time.perf_counter()
            if has_ingest_ord:
                o = (raw.where(F.col("term").isNull())
                     .groupBy("docid").agg(F.first("ord").alias("ord"))
                     .persist())
            else:
                docs = read_table(spark, _sp("docs"))
                o = assign_doc_ordinals(docs).persist()
            # three independent consumers of the persisted ``o`` — the
            # range-clustered write, the zero-content-extras chain, and
            # the high-water agg — run CONCURRENTLY (this thunk was the
            # cluster phase's straggler: ~6 serial docid-sized jobs;
            # concurrent first-touch of o's cache blocks dedupes via
            # the block manager's per-block compute lock, the same
            # contract materialize() relies on)
            def _w_o_range():
                # range-clustered on ord: the query path's final
                # ord->docid translate pushes In(ord, <top candidates>)
                # — ord-ranged files prune that lookup to ~1 task at
                # any corpus size (AQE sizes the partition count)
                (o.repartitionByRange(F.col("ord"))
                 .sortWithinPartitions("ord")
                 .write.mode("overwrite").parquet(_sp("ordinals")))

            def _w_o_extras():
                # zero-content docs (no non-null field -> no sentinel
                # row) get their synthetic NEGATIVE ordinals assigned
                # ONCE here, so a loaded index serves the match_all/not
                # universe (ordinals_df full=True) from a pure parquet
                # union instead of re-running this anti-join +
                # range-partitioned assignment inside every universe
                # query plan
                extras = read_table(spark, _sp("docs")) \
                    .join(o, "docid", "left_anti")
                ex_raw = assign_doc_ordinals(extras)
                ex_raw.select(
                    "docid",
                    (-F.col("ord") - F.lit(2)).cast("long").alias("ord"),
                ).write.mode("overwrite").parquet(_sp("ordinals_extra"))
                # output durable -> the internal range-partitioned
                # cache can go now (no lazy consumer left to drift)
                for dep in getattr(ex_raw, "_persisted_deps", []):
                    dep.unpersist()

            def _w_o_max():
                # global ordinal high-water mark for the manifest —
                # computed HERE (overlapped with the big clustering
                # shuffles, o is cached) instead of as a serial job in
                # the save tail
                max_ord_box.append(
                    o.agg(F.max("ord").alias("m")).first())

            _overlap(_w_o_range, _w_o_extras, _w_o_max)
            ordinals_box.append(o)
            stage_secs["ordinals_wall_sec"] = _time.perf_counter() - s0

        # ---- phase 3: TERM-CLUSTERED postings --------------------------
        # ONE clustering shuffle (plus, only for merged indexes, the
        # docid->ordinal shuffle-hash join — fresh builds carry ingest
        # ordinals in the flat table). The salt is pmod(block_id,
        # term_salt) — the ordinal-range salting of the segment design —
        # so (a) hot terms spread over term_salt partitions (bounded
        # skew), (b) every (field, term, block) group lands COMPLETE in
        # one partition, letting the segment encoder below run with ZERO
        # further shuffle, and (c) within-partition (field, term, ord)
        # sort gives parquet row groups tight term ranges: the query
        # path's pushed In(term,...) / StartsWith predicates prune row
        # groups on every scan. No docid: the ~17-byte docid string is
        # resolved from the ordinals table only for final result rows —
        # it would otherwise be the single widest column riding the
        # build's only wide shuffle.
        try:
            n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            n_shuffle = spark.sparkContext.defaultParallelism
        pos_cols = ["positions", "ords"] if self.store_positions else []

        def _w_cluster():
            base_cols = ["field", "term", "tf_raw", "doc_len", *pos_cols]
            if has_ingest_ord:
                pre = raw.where(F.col("term").isNotNull()).select(
                    *base_cols, "ord")
            else:
                posts = raw.where(F.col("term").isNotNull()).select(
                    *base_cols, "docid")
                # SHUFFLE_HASH: the default sort-merge join would sort
                # the whole postings side by docid only to immediately
                # re-shuffle it by term — the hash join skips both sorts
                pre = posts.join(
                    ordinals_box[0].hint("shuffle_hash"), "docid")
            clustered = (
                pre.repartition(
                    n_shuffle, F.col("field"), F.col("term"),
                    F.pmod((F.col("ord") / block_size).cast("long"),
                           F.lit(term_salt)))
                # term FIRST: the sort prefix comparator discriminates on
                # the leading key's first 8 bytes — leading with the
                # 2-valued field column would send every comparison to a
                # full record compare. Term-range row-group pruning (the
                # reason for the sort) is unaffected; the field predicate
                # selects within the term's row groups.
                .sortWithinPartitions("term", "field", "ord")
                .select("field", "term", "ord", "tf_raw", "doc_len",
                        *pos_cols)
            )
            s0 = _time.perf_counter()
            clustered.write.mode("overwrite").parquet(_sp("postings"))
            stage_secs["positions_write_sec"] = _time.perf_counter() - s0

        if has_ingest_ord:
            # no join dependency: the big shuffle overlaps the two
            # docid-sized table builds
            _overlap(_w_cluster, _w_doc_stats, _w_ordinals)
        else:
            _overlap(_w_doc_stats, _w_ordinals)
            _w_cluster()
        t2 = _time.perf_counter()
        _cpu2 = _busy_jiffies()
        ordinals = ordinals_box[0]
        doc_stats = read_table(spark, _sp("doc_stats"))
        # stats + segments read the clustered parquet's NARROW columns
        # (columnar scan — array columns never leave disk)
        postings = read_table(spark, _sp("postings")).select(
            "field", "term", "ord", "tf_raw", "doc_len")

        # ---- phase 4 (overlapped): stats ∥ segments — both read the
        # clustered parquet and are otherwise independent. Stats are
        # consolidated into ONE vocabulary aggregation (tdf) over the
        # TERM-CLUSTERED table — each partition holds few distinct terms,
        # so map-side partials are tiny (aggregating the doc-ordered flat
        # table instead was measured 5-10x slower at 2M turns: every
        # partition emits ~the whole vocabulary as partials) — plus two
        # per-field collects; field_stats (one row per field) is
        # assembled driver-side instead of a write->read round trip.
        def _write_stats():
            import math as _math

            s0 = _time.perf_counter()
            tdf = (postings.groupBy("field", "term")
                   .agg(F.count(F.lit(1)).alias("df")).persist())
            drows = {
                r["field"]: r
                for r in doc_stats.groupBy("field").agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.avg("doc_len").alias("avg_doc_len"),
                    F.sum("doc_len").alias("sum_doc_len")).collect()
            }
            # exact integer partials for the manifest: generational
            # delta loads (build/deltas.py) merge per-gen field stats
            # with pure arithmetic instead of re-aggregating doc_stats
            fds_box["v"] = {
                f: [int(drows[f]["n_docs"]),
                    int(drows[f]["sum_doc_len"] or 0)]
                for f in drows
            }
            vrows = {
                r["field"]: r["n_unique_terms"]
                for r in tdf.groupBy("field").agg(
                    F.count(F.lit(1)).alias("n_unique_terms")).collect()
            }
            fs_rows = [
                (f,
                 int(drows[f]["n_docs"]),
                 int(vrows.get(f) or 0),
                 (1.0 / _math.sqrt(vrows[f])) if vrows.get(f) else 0.0,
                 float(drows[f]["avg_doc_len"] or 0.0))
                for f in sorted(drows)
            ]
            # inline literal relation: createDataFrame would be a
            # Python-RDD scan costing one worker round trip per slice
            # per job (measured ~5s to write 2 rows; see
            # functions/literals.py)
            fs_df = inline_rows(
                spark, fs_rows,
                "field string, n_docs long, n_unique_terms long, "
                "flnorm double, avg_doc_len double",
            )
            fs_df.write.mode("overwrite").parquet(_sp("field_stats"))
            # range-clustered on term: every vocabulary lookup (the
            # exhaustive resolve, WAND _clause_stats, suggest) pushes
            # In(term)/StartsWith — term-ranged files turn those scans
            # into 1-2 tasks via parquet min/max pruning no matter how
            # large the vocabulary grows (AQE sizes the partition
            # count, so small vocabs collapse to one file)
            (tdf.join(F.broadcast(fs_df.select("field", "n_docs")), "field")
                .withColumn("idf", F.lit(1.0) + F.log10(
                    F.col("n_docs") / (F.col("df") + F.lit(1.0))))
                .drop("n_docs")
                .repartitionByRange(F.col("term"))
                .sortWithinPartitions("term", "field")
                .write.mode("overwrite").parquet(_sp("term_stats")))
            tdf.unpersist()
            stage_secs["stats_write_sec"] = _time.perf_counter() - s0

        def _w_segments():
            # segments are a pure MAP over the block-clustered postings
            # (build_segments_streaming: no shuffle, no collect_list);
            # the codec-v2 doc_len side table is one doc-count-sized
            # bounded-group aggregation over the already-written
            # doc_stats (ords inline — the durable ordinal space)
            s0 = _time.perf_counter()
            build_segments_streaming(postings, block_size) \
                .write.mode("overwrite").parquet(_sp("segments"))
            from .segments import build_len_blocks

            ds = read_table(spark, _sp("doc_stats"))
            # builds without ingest ordinals (e.g. checkpoint-resumed
            # flats) write doc_stats without an ord column — translate
            # through the just-written durable ordinal table instead
            lens_ords = (None if "ord" in ds.columns
                         else read_table(spark, _sp("ordinals")))
            build_len_blocks(ds, lens_ords, block_size) \
                .write.mode("overwrite").parquet(_sp("seg_lens"))
            stage_secs["segments_write_sec"] = _time.perf_counter() - s0

        # the doc-ordered flat ingest table is a STAGING artifact only
        # (one analyzer pass feeding every durable table)
        tables = ["postings", "docs", "doc_stats", "field_stats",
                  "term_stats", "ordinals", "ordinals_extra"]
        fds_box: dict = {}
        if with_segments:
            tables += ["segments", "seg_lens"]
            _overlap(_write_stats, _w_segments)
        else:
            _write_stats()
        # global ordinal high-water mark: generational delta saves place
        # the next generation's ordinal space above it (block-aligned);
        # computed inside _w_ordinals, overlapped with the clustering
        max_ord_row = max_ord_box[0]
        ordinals.unpersist()
        for dep in getattr(ordinals, "_persisted_deps", []):
            dep.unpersist()
        t4 = _time.perf_counter()
        _cpu4 = _busy_jiffies()

        manifest = {
            "version": LAYOUT_VERSION,
            "store_positions": self.store_positions,
            "segments": with_segments,
            "block_size": block_size,
            "max_ord": int(max_ord_row["m"] or 0),
            "field_doc_stats": fds_box.get("v", {}),
            "fields": {
                f: _analyzer_manifest(c) for f, c in self.analyzers.items()
            },
        }
        # caller-supplied manifest keys (e.g. the streaming sink's
        # base_tag / compaction's merged_tags replay guards) ride the
        # SAME atomic manifest write — a second rewrite after save()
        # would reopen the crash window the guard exists to close
        manifest.update(manifest_extra or {})

        # snapshot-versioned commit: move the staged tables into a fresh
        # snapshot directory (invisible to readers — nothing references
        # it yet), then make the ATOMIC root-manifest replace the single
        # commit point. Readers holding the previous manifest keep
        # scanning the previous snapshot (and its delta generations,
        # when this save is a compaction) untouched until the NEXT
        # save's GC sweep — so save()/compact() are reader-safe with
        # one commit cycle of grace, the parquet stand-in for an
        # Iceberg/metastore snapshot commit.
        seq = int(prev_manifest.get("snapshot_seq", -1)) + 1
        snap_name = "snap-%06d" % seq
        snap_dir = os.path.join(path, snap_name)
        shutil.rmtree(snap_dir, ignore_errors=True)
        os.makedirs(snap_dir)
        for name in tables:
            os.rename(os.path.join(staging, name),
                      os.path.join(snap_dir, name))
        manifest["snapshot_dir"] = snap_name
        manifest["snapshot_seq"] = seq
        # monotone COMMIT counter shared with save_delta: keys the
        # retained history manifest that makes this version addressable
        # by load(at=...) until a later sweep reclaims its artifacts
        manifest["commit_seq"] = int(prev_manifest.get("commit_seq", -1)) + 1
        # monotone generation counter: survives compaction so a future
        # save_delta never reuses a gen directory a previous-manifest
        # reader may still be scanning (names stay unique for the
        # lifetime of the warehouse)
        manifest.setdefault("gen_seq", int(prev_manifest.get("gen_seq", 0)))
        mtmp = os.path.join(path, "manifest.json.tmp")
        with open(mtmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(mtmp, os.path.join(path, "manifest.json"))  # commit
        if _history:
            _write_history(path, manifest)
        shutil.rmtree(staging, ignore_errors=True)
        # NOTE deliberately NO deletion of the previous snapshot or the
        # deltas/ directory here: a full save IS a compaction (the fresh
        # manifest carries no "generations"), but the retired artifacts
        # must outlive in-flight readers of the previous commit — the
        # next save's _gc_stale_artifacts sweep reclaims them.

        # repoint self at the durable layout (fresh lineage — safe to
        # keep querying/merging/saving this object)
        self._rebind_from(path, manifest)

        if timings is not None:
            # per-thread durations: phase 1 overlaps the flat ingest
            # write with the docs scan, phase 2 doc_stats ∥ ordinals,
            # phase 4 stats ∥ segments — thread sums can exceed the
            # phase wall times (ingest_wall_sec / tail_wall_sec)
            for k in stage_secs:
                timings[k] = round(stage_secs[k], 4)
            timings["ingest_wall_sec"] = round(t1 - t0, 4)
            # doc_stats/ordinals + the clustering shuffle
            timings["cluster_wall_sec"] = round(t2 - t1, 4)
            # stats ∥ segments
            timings["tail_wall_sec"] = round(t4 - t2, 4)
            if _cpu0 is not None:
                # host-wide busy CPU seconds per serial phase (the
                # scaling criterion needs cpu-time as well as wall: on a
                # quiet pinned host, busy-jiffy deltas ≈ this job's CPU
                # across the JVM + Python workers, which no in-process
                # rusage can see)
                hz = os.sysconf("SC_CLK_TCK")
                timings["ingest_cpu_sec"] = round((_cpu1 - _cpu0) / hz, 2)
                timings["cluster_cpu_sec"] = round((_cpu2 - _cpu1) / hz, 2)
                timings["tail_cpu_sec"] = round((_cpu4 - _cpu2) / hz, 2)

    def _rebind_from(self, path: str, manifest: dict, spark=None) -> None:
        spark = spark or self.postings.sparkSession
        self._flat = None
        self._key = None
        self._ord_map = None
        self._ordinals_all = None
        self._path = path
        self._delta_base = None
        self._delta_adds = []
        self._delta_tombs = None
        self._fs_thunk = None
        self._files = {}
        self._dead_ords = frozenset()
        self._df_partials = None
        # the previous binding's persisted ordinal-assignment internals:
        # every lazy plan that depended on them is discarded right here,
        # so the cache blocks can go too (the contract at __init__)
        for df in self._aux_persisted:
            df.unpersist()
        self._aux_persisted = []
        tp = tables_dir(path, manifest)

        def _read(name):
            return read_table(spark, os.path.join(tp, name))

        # the one term-clustered posting table (positions + ords when
        # stored; no docid: result rows translate via the ordinals table)
        self.postings = _read("postings").withColumn(
            "tf", F.sqrt(F.col("tf_raw")))
        self._ordinals = _read("ordinals")
        if not manifest.get("generations"):
            # universe translate = pure union of two parquet scans
            # (generational binds fall back to the lazy anti-join —
            # bind_generations resets this)
            self._ordinals_all = self._ordinals.select(
                "docid", F.col("ord").cast("long").alias("ord")
            ).unionByName(_read("ordinals_extra"))
        self.doc_stats = _read("doc_stats")
        self.field_stats = _read("field_stats")
        self.term_stats = _read("term_stats")
        self.docs = _read("docs")
        if self._segments is not None:
            self._segments[1].unpersist()
            self._segments[2].unpersist()
        self._segments = None
        if self._seg_lens is not None:
            self._seg_lens.unpersist()
        self._seg_lens = None
        if manifest["segments"]:
            # reuse the SAME ordinals DataFrame object bound above:
            # seg_len_blocks' trust_inline fast path checks
            # `seg_ords is self._ordinals` — a second read of the
            # identical parquet would defeat it and pay a redundant
            # docid->ord join on every lens rebuild
            self._segments = (manifest["block_size"], _read("segments"),
                              self._ordinals)
            self._seg_lens = _read("seg_lens")
        # the files behind the bound tables, for the driver's reads
        # (build/files.py scan)
        bind(self, {name: [list_part(os.path.join(tp, name))]
                    for name in TABLES
                    if os.path.isdir(os.path.join(tp, name))})
        if manifest.get("generations"):
            from .deltas import bind_generations

            bind_generations(self, spark, path, manifest)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             at: Optional[int] = None) -> "InvertedIndex":
        """Bind the warehouse at ``path``. ``at`` time-travels to the
        committed version with that ``commit_seq`` (list_snapshots
        enumerates the readable ones): the retained history manifest is
        bound instead of the root one — same tables, zero copies, the
        parquet stand-in for an Iceberg snapshot read. A version stays
        readable until a later full save's GC sweep reclaims the
        artifacts it references (retention: one full-save cycle; delta
        commits never reclaim anything). Maintenance on a time-travel
        binding commits ON TOP of the current root — i.e. saving a
        historical binding is a rollback-as-new-commit, never a fork."""
        if at is not None:
            hp = os.path.join(path, HISTORY_DIR,
                              "manifest-%06d.json" % int(at))
            try:
                with open(hp) as fh:
                    manifest = json.load(fh)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"no readable commit {at} under {path}: either it "
                    f"never committed or a later full save's GC sweep "
                    f"reclaimed its artifacts (retention is one "
                    f"full-save cycle); list_snapshots() shows "
                    f"readable versions") from None
            if not _history_readable(path, manifest):
                raise FileNotFoundError(
                    f"commit {at} under {path} is no longer readable: "
                    f"a later full save's GC sweep reclaimed artifacts "
                    f"it references")
        else:
            with open(os.path.join(path, "manifest.json")) as fh:
                manifest = json.load(fh)
        check_layout(manifest)
        analyzers = {
            f: _analyzer_from_manifest(cfg)
            for f, cfg in manifest["fields"].items()
        }
        inv = cls(
            postings=spark.createDataFrame([], "docid string"),  # rebound
            doc_stats=None, field_stats=None, term_stats=None, docs=None,
            analyzers=analyzers,
            store_positions=manifest["store_positions"],
        )
        inv._rebind_from(path, manifest, spark=spark)
        return inv

    # -- incremental maintenance -----------------------------------------
    def add_documents(self, source: DataFrame, docid_col: str = "docid",
                      dedupe: bool = True) -> "InvertedIndex":
        """Append documents (duplicate docids silently skipped, mirroring
        field.ex:85) and refresh stats — the reference's add+
        recalculate_idf as one batch job (B1+B5 in SURVEY.md §2.2).
        ``dedupe=False`` skips the in-batch duplicate guard (see
        build_index) when the source keys are unique by contract."""
        # cast to string explicitly: comparing a numeric source docid
        # against the string docs.docid would promote BOTH sides to
        # DOUBLE (int64 ids above 2^53 collide; 7 matches '007') and
        # silently drop genuinely-new documents as duplicates
        fresh = source.join(
            self.docs,
            source[docid_col].cast("string") == self.docs.docid,
            "left_anti")
        new = build_index(
            fresh, fields=list(self.analyzers), docid_col=docid_col,
            analyzers=self.analyzers, store_positions=self.store_positions,
            dedupe=dedupe,
        )
        merged = _merge(self, new)
        base = self._delta_base or (self if self._path else None)
        if base is not None:
            # delta tracking: the fresh sub-index is a pending
            # generation relative to the durable warehouse (save_delta
            # appends it without rewriting the base — build/deltas.py)
            merged._path = self._path
            merged._delta_base = base
            merged._delta_adds = list(self._delta_adds) + [new]
            merged._delta_tombs = self._delta_tombs
        return merged

    def update_documents(self, source: DataFrame,
                         docid_col: str = "docid") -> "InvertedIndex":
        """Remove then re-add (field.ex:127-134 / index.ex:122-127, B3)."""
        tomb = source.select(F.col(docid_col).cast("string").alias("docid"))
        return self.remove_documents(tomb).add_documents(source, docid_col)

    def remove_documents(self, docids: DataFrame) -> "InvertedIndex":
        """Anti-join tombstones + stats refresh (field.ex:136-146, B4).

        On an ord-keyed index (loaded: postings carry no docid) the
        tombstone docids translate to ords first — a tombstone-sized
        join, after which the postings anti-join keys on the int ordinal.

        ``docids``: a one-column DataFrame, or a plain sequence of ids
        (the reference's call shape, index.ex remove_documents).
        """
        if not isinstance(docids, DataFrame):
            docids = self.postings.sparkSession.createDataFrame(
                [(str(d),) for d in docids], "docid string")
        # string cast, same double-promotion trap as add_documents
        t = docids.select(
            F.col(docids.columns[0]).cast("string").alias("docid"))
        if "docid" in self.postings.columns:
            postings = self.postings.join(t, "docid", "left_anti")
        else:
            t_ords = t.join(self.ordinals_df(), "docid").select("ord")
            postings = self.postings.join(t_ords, "ord", "left_anti")
        doc_stats = self.doc_stats.join(t, "docid", "left_anti")
        docs = self.docs.join(t, "docid", "left_anti")
        out = _finalize(postings, docs, self.analyzers, self.store_positions,
                        doc_stats=doc_stats)
        if "docid" not in postings.columns:
            # stay ord-keyed: the (pruned) translation table carries over
            out._key = "ord"
            out._ordinals = (self._ordinals.join(t, "docid", "left_anti")
                             if self._ordinals is not None else None)
            if out._ordinals is None:
                out._ord_map = self.ordinals_df().join(t, "docid", "left_anti")
        base = self._delta_base or (self if self._path else None)
        if base is not None:
            # delta tracking: the removal becomes a tombstone list for
            # save_delta; pending adds drop the removed docids (so a
            # remove-after-add within one batch never reaches disk)
            from .deltas import filter_pending

            out._path = self._path
            out._delta_base = base
            out._delta_adds = [filter_pending(a, t) for a in self._delta_adds]
            out._delta_tombs = (t if self._delta_tombs is None
                                else self._delta_tombs.unionByName(t))
        return out

    def save_delta(self, tag: Optional[str] = None) -> str:
        """Persist pending add/update/remove operations as an appended
        GENERATION of the durable warehouse — no base rewrite (Lucene's
        segment/commit-point model; build/deltas.py). At 100 TB this is
        the only sane maintenance path: appending 1% of documents costs
        1% of the build, not a full-warehouse rewrite. Returns the new
        generation directory."""
        from .deltas import save_delta as _save_delta

        return _save_delta(self, tag=tag)

    def compact_tiered(self, tail: Optional[int] = None,
                       tier_ratio: float = 4.0) -> str:
        """Fold only the newest run of (small) generations into ONE
        mid-tier generation, leaving the base untouched — the Lucene
        TieredMergePolicy step between delta saves and the full
        ``compact()``. Per-cycle cost is bounded by the folded
        generations' size, not the warehouse's (build/deltas.py
        compact_tiered). Returns the merged generation directory, or
        "" when nothing qualified."""
        from .deltas import compact_tiered as _compact_tiered

        return _compact_tiered(self, tail=tail, tier_ratio=tier_ratio)

    def compact(self, with_segments: Optional[bool] = None,
                block_size: Optional[int] = None,
                _tag: Optional[str] = None) -> None:
        """Fold every generation (and its tombstones) back into a
        single-generation base — a full save() to the warehouse path:
        the top-tier merge (``compact_tiered`` handles the cheap
        intermediate tiers). Stats are already exact on generational
        binds (build/deltas.py bind_generations subtracts tombstoned
        postings from the df partials); what compact buys is physical:
        tombstones fold away, postings re-cluster into one term-sorted
        table, and query-time per-generation scan unions collapse.

        Reader-safe, like ``save_delta``: the full save stages its
        tables into a fresh snapshot subdirectory and commits with one
        atomic root-manifest replace; the folded generations and the
        previous snapshot stay on disk until the NEXT save's GC sweep,
        so readers holding the pre-compaction manifest keep a complete,
        consistent view for one full commit cycle (Lucene force-merge
        with commit-point retention; Iceberg snapshot expiry with
        retention 1)."""
        if not self._path:
            raise ValueError("compact() needs an index loaded from disk")
        # preserve the streaming sink's replay guards across the fresh
        # manifest: the folded generations' tags move to merged_tags so
        # a replayed micro-batch whose generation was compacted away is
        # still recognized and skipped (streaming/ingest.py)
        extra: dict = {}
        cur: dict = {}
        try:
            with open(os.path.join(self._path, "manifest.json")) as fh:
                cur = json.load(fh)
            if cur.get("base_tag"):
                extra["base_tag"] = cur["base_tag"]
            from .deltas import cap_merged_tags

            merged = list(cur.get("merged_tags", []))
            merged += [e["tag"] for e in cur.get("generations", [])
                       if e.get("tag")]
            # a save_delta that compacts instead (build/deltas.py) hands
            # over its own batch tag
            merged += [_tag] if _tag is not None else []
            if merged:
                extra["merged_tags"] = cap_merged_tags(merged)
        except FileNotFoundError:
            pass
        # None -> inherit the warehouse's OWN layout from the committed
        # manifest: a compaction must not silently rewrite the block
        # size or re-enable segments the original save opted out of
        if with_segments is None:
            with_segments = bool(cur.get("segments", True))
        if block_size is None:
            block_size = int(cur.get("block_size", 4096))
        self.save(self._path, with_segments=with_segments,
                  block_size=block_size, manifest_extra=extra or None)


def build_index(
    source: DataFrame,
    fields,
    docid_col: str = "docid",
    analyzers: Optional[Dict[str, AnalyzerConfig]] = None,
    analyzer: Optional[AnalyzerConfig] = None,
    store_positions: bool = True,
    dedupe: bool = True,
) -> InvertedIndex:
    """Build an InvertedIndex from ``source``.

    ``fields``: list of column names to index. ``analyzers`` maps field ->
    AnalyzerConfig (default: the reference's default pipeline for every
    field). The docid column is indexed implicitly as the docid universe
    (the reference's ref-field/IdPipeline, core/index.ex:39-47).

    ``dedupe``: the reference silently skips duplicate docids
    (field.ex:85); that guard is a dropDuplicates over the FULL-TEXT
    rows — a whole-corpus shuffle that the analyzer then consumes and
    that re-executes in every job touching the docs table. When the
    source has a uniqueness contract on the docid (the transcripts
    tables key on (conv_id, turn_idx)), pass ``dedupe=False`` to make
    the build shuffle-free up to the stats aggregations.
    """
    fields = list(fields)
    default = analyzer or AnalyzerConfig()
    analyzers = dict(analyzers or {})
    for f in fields:
        analyzers.setdefault(f, default)

    docs = source.select(
        F.col(docid_col).cast("string").alias("docid"),
        *[F.col(f).cast("string").alias(f) for f in fields],
    )
    if dedupe:
        docs = docs.dropDuplicates(["docid"])

    # one row per (field, docid) with non-null content — these are the
    # per-field id rows (N counts token-less docs too, index_test.exs:151-172)
    stack_expr = "stack({}, {}) as (field, content)".format(
        len(fields), ", ".join(f"'{f}', `{f}`" for f in fields)
    )
    stacked = docs.selectExpr("docid", stack_expr).where(F.col("content").isNotNull())

    # ONE mapInPandas pass producing FINAL posting rows PLUS one
    # sentinel row (term NULL) per (field, docid): tf/positions/doc_len
    # aggregate document-locally inside the analyzer (each docid is one
    # input row), so postings need NO wide shuffle and doc_stats is a
    # map-side byproduct (no ids join, no second analyzer pass).
    # with_ord: global doc ordinals assigned map-only in the same pass
    # (save() then clusters without any docid->ordinal join).
    flat = analyze_postings(
        stacked, analyzers, positions=store_positions, doc_rows=True,
        with_ord=True,
    )
    if not store_positions:
        flat = flat.withColumn("positions", F.lit(None).cast("array<int>")) \
            .withColumn("ords", F.lit(None).cast("array<int>"))
    postings = flat.where(F.col("term").isNotNull()) \
        .withColumn("tf", F.sqrt(F.col("tf_raw")))
    # doc_stats keeps the ingest ordinal: it is the cached docid<->ord
    # translation source for the ord-keyed query path (ordinals_df)
    doc_stats = flat.where(F.col("term").isNull()) \
        .select("field", "docid", "doc_len", "ord")
    inv = _finalize(postings, docs.select("docid"), analyzers,
                    store_positions, doc_stats=doc_stats)
    inv._flat = flat  # save() writes this once (sentinels included)
    inv._key = "ord"  # consistent map-only ingest ordinals
    return inv


def _finalize(postings, docs, analyzers, store_positions,
              doc_stats=None, ids=None) -> InvertedIndex:
    """Derive doc/term/field stats from a postings table (B5/B6).

    ``doc_len`` is denormalized into postings (BM25 needs no query-time
    doc_stats join). Preferred: pass ``doc_stats`` directly (the build's
    sentinel rows); fallback: derive from postings (+``ids`` left-join to
    keep zero-token docs when available).
    """
    if "doc_len" not in postings.columns:
        doc_lens0 = postings.groupBy("field", "docid").agg(
            F.sum("tf_raw").alias("doc_len")
        )
        postings = postings.join(doc_lens0, ["field", "docid"])
    if doc_stats is None:
        doc_lens = postings.groupBy("field", "docid").agg(
            F.first("doc_len").alias("doc_len")
        )
        if ids is not None:
            doc_stats = (
                ids.join(doc_lens, ["field", "docid"], "left")
                .withColumn("doc_len",
                            F.coalesce(F.col("doc_len"), F.lit(0)).cast("long"))
            )
        else:
            doc_stats = doc_lens

    field_stats = (
        doc_stats.groupBy("field")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("doc_len").alias("avg_doc_len"),
        )
        .join(
            postings.groupBy("field").agg(
                F.countDistinct("term").alias("n_unique_terms")
            ),
            "field",
            "left",
        )
        .withColumn(
            "n_unique_terms", F.coalesce(F.col("n_unique_terms"), F.lit(0))
        )
        .withColumn(
            "flnorm",
            F.when(F.col("n_unique_terms") > 0,
                   F.lit(1.0) / F.sqrt(F.col("n_unique_terms"))).otherwise(F.lit(0.0)),
        )
    )

    # df per (field, term); (field, term, docid) is unique in postings
    term_stats = (
        postings.groupBy("field", "term")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(field_stats.select("field", "n_docs")), "field")
        .withColumn(
            "idf",
            F.lit(1.0) + F.log10(F.col("n_docs") / (F.col("df") + F.lit(1.0))),
        )
        .drop("n_docs")
    )

    return InvertedIndex(
        postings=postings,
        doc_stats=doc_stats,
        field_stats=field_stats,
        term_stats=term_stats,
        docs=docs,
        analyzers=analyzers,
        store_positions=store_positions,
    )


def _merge(old: InvertedIndex, new: InvertedIndex) -> InvertedIndex:
    # the two sides may carry different physical extras (ord on a loaded
    # table, the flat table's ingest ord on a fresh build) — union on the
    # scoring columns, plus the positional ones when positions are
    # stored. Per-build ingest ordinals collide across builds, so the
    # merged index keys on docid (save() then reassigns global
    # ordinals); a loaded side carries no docid in postings and restores
    # it from its ordinals table first.
    cols = ["field", "term", "docid", "tf_raw", "doc_len", "tf"]
    if old.store_positions:
        cols += ["positions", "ords"]

    def _side(inv):
        df = inv.postings
        if "docid" not in df.columns:
            df = df.join(inv.ordinals_df(), "ord")
        return df.select(*cols)

    postings = _side(old).unionByName(_side(new))
    doc_stats = old.doc_stats.select("field", "docid", "doc_len").unionByName(
        new.doc_stats.select("field", "docid", "doc_len")
    )
    docs = old.docs.unionByName(new.docs).distinct()
    return _finalize(postings, docs, old.analyzers, old.store_positions,
                     doc_stats=doc_stats)
