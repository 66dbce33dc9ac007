"""The ``serve`` and ``ingest`` workloads and their shared set-up.

Set-up (both workloads, not in the measured window):
  build   read_corpus -> Index.add_documents -> save: the corpus becomes
          a warehouse (the build-throughput headline is taken here,
          because one build outlasts the measured window);
  reader  Index.load, repeated READER_SETUPS times (``setup_s`` takes
          the median of these), then a marker lookup on the last one;
  warm-up serve only: WARMUP_ROUNDS rounds of the query classes on the
          set-up reader, from streams of their own, split over the two
          clients: the window then times neither the first compilation
          of each plan shape nor the slower first stretch of queries on
          a fresh JVM (see WARMUP_ROUNDS). (ingest has none: its window runs on a newly loaded
          generational reader, whose plans a warm-up on the set-up
          reader only partly compiles, and the run-time budget has no
          room for one.)

Commit (ingest only): one delta commit (add + remove + save_delta on
the set-up reader, which becomes the writer), then a newly loaded reader
must return the commit's marker (freshness).

Measured window:
  serve   two closed-loop clients, each sending its next query when the
          previous one returns, against the set-up reader;
  ingest  the same two clients on the commit's generational reader,
          whose per-index caches are cold. Reads and the commit do not
          overlap: overlapping them made the query figures swing between
          two regimes from run to run.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from typing import Dict, List, Optional

from ex_elasticlunr_spark import Index
from ex_elasticlunr_spark.sources.io import read_corpus
from ex_elasticlunr_spark.sources.transcripts import with_docid

from . import checks, data

READER_SETUPS = 3
N_CLIENTS = 2
# Minimum queries per client, so every run yields the same kind of
# sample: with the two clients' shares of each round (data.QueryStream),
# serve's 2 x 12 hold two rounds of the classes plus four repeats, and
# ingest's 2 x 5, whose queries on a generational reader are slower,
# one round plus two repeats.
MIN_QUERIES = {"serve": 12, "ingest": 5}
# Query times on a fresh JVM step down by 15-25% after 9 to 23 s of
# queries, a point that moves from run to run; a window that straddles
# it reads anywhere between the two levels. Four
# rounds (32 queries, 13-17 s on a 4-core machine) put most windows
# after it.
WARMUP_ROUNDS = 4
TOP_K = 10
WARMUP_CLIENT = 90  # stream ids of the warm-up queries: 90, 91


def _call_query(reader, q: dict):
    """Issue ``q`` on ``reader``; returns the unevaluated DataFrame."""
    cls, mode, query = q["cls"], q["mode"], q["query"]
    if cls == "many":
        return reader.search_many(query, "text", top_k=TOP_K, mode="bm25")
    if cls == "or":
        # the block-max WAND entry point; rank-identical to a match query
        return reader.search_wand(query["query"]["match"]["text"], "text",
                                  top_k=TOP_K, mode=mode)
    return reader.search(query, top_k=TOP_K, mode=mode)


class Inputs:
    """The run's base corpus, written as parquet before Spark starts,
    and its reference index for the checks, built on a thread while the
    JVM launches (the Python driver idles then). The set-up joins the
    thread before it times anything."""

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.vocab = data.Vocabulary()
        base = data.base_corpus(seed, self.vocab)
        self.corpus_dir = os.path.join(work, "corpus")
        os.makedirs(self.corpus_dir)
        self.input_bytes = data.write_parquet(
            base, os.path.join(self.corpus_dir, "part-0.parquet"))
        self.n_turns = len(base["text"])
        self.base_ids = data.docids(base)
        self.base_docs = {d: {"text": t, "tool": u} for d, t, u in
                          zip(self.base_ids, base["text"], base["tool"])}
        self._oracle = None
        self._thread = threading.Thread(target=self._build_oracle,
                                        name="oracle", daemon=True)
        self._thread.start()

    def _build_oracle(self):
        self._oracle = checks.oracle_index(self.base_docs)

    def oracle(self):
        """The reference index over the base corpus."""
        self._thread.join()
        if self._oracle is None:
            raise RuntimeError("reference index build failed")
        return self._oracle


class Bench:
    """State of one benchmark run: Spark handles, instruments, inputs,
    and every op's record for the checks and metrics."""

    def __init__(self, spark, inputs: Inputs, seconds: float,
                 tracer, counter, sampler):
        self.spark, self.inputs, self.seconds = spark, inputs, seconds
        self.work, self.seed, self.vocab = \
            inputs.work, inputs.seed, inputs.vocab
        self.n_turns, self.input_bytes = inputs.n_turns, inputs.input_bytes
        self.base_ids, self.base_docs = inputs.base_ids, inputs.base_docs
        self.tracer, self.counter, self.sampler = tracer, counter, sampler
        self.wh = os.path.join(self.work, "warehouse")
        self.queries: List[dict] = []   # window query records
        self.warmup: List[dict] = []    # warm-up query records
        self.failures: List[str] = []
        self.setup: dict = {}
        # the clients' reader and the corpus state it holds (docid -> row)
        self.reader = None
        self.docs: Dict[str, dict] = {}
        self.oracle = None  # reference index over self.docs
        # docid of the turn carrying marker k; 0: base, 1: the commit
        self.marker_docid: Dict[int, str] = {0: self.base_ids[-1]}
        self.commit_rec: Optional[dict] = None  # ingest only
        self.ungrouped_spark: Optional[dict] = None  # traced window only
        self._lock = threading.Lock()

    # -- helpers -------------------------------------------------------
    def span(self, name: str, op: int = 0):
        return self.tracer.span(name, op)

    def fail(self, what: str):
        with self._lock:
            self.failures.append(what)

    def _read(self, path: str, op: int):
        with self.span("sources.read_corpus", op):
            return with_docid(read_corpus(self.spark, path))

    def lookup_marker(self, reader, k: int, op: int) -> bool:
        """True iff ``reader`` returns exactly the turn carrying marker k."""
        want = self.marker_docid[k]
        with self.span("search.marker", op):
            rows = reader.search(
                {"query": {"match": {"text": data.marker(self.seed, k)}}},
                top_k=TOP_K).collect()
        return [r["docid"] for r in rows] == [want]

    # -- set-up ----------------------------------------------------------
    def run_setup(self):
        self.oracle = self.inputs.oracle()
        corpus_dir = self.inputs.corpus_dir
        op = self.tracer.new_op()
        timings: dict = {}
        ungrouped0 = self.counter.ungrouped() if self.counter.enabled else set()
        cpu0 = self.sampler.sample()
        t0 = time.perf_counter()
        with self.counter.op("build"), self.span("build", op):
            df = self._read(corpus_dir, op)
            idx = Index(name="bench").add_field("text").add_field("tool")
            with self.span("index.add_documents", op):
                # transcript keys are unique by construction (conv, turn)
                idx.add_documents(df, docid_col="docid", dedupe=False)
            t_add = time.perf_counter()
            with self.span("build.save", op):
                idx.inverted.save(self.wh, timings=timings)
        t1 = time.perf_counter()
        cpu1 = self.sampler.sample()
        s = self.setup
        s["build_s"] = t1 - t0
        s["add_s"] = t_add - t0
        s["save_s"] = t1 - t_add
        s["save_timings"] = timings
        s["build_cpu_s"] = cpu1 - cpu0
        if self.counter.enabled:
            jobs = (set(self.counter.tracker.getJobIdsForGroup("build"))
                    | (self.counter.ungrouped() - ungrouped0))
            s["build_spark"] = self.counter.count(jobs)
        s["storage"] = storage_bytes(self.wh)

        loads = []
        for i in range(READER_SETUPS):
            op = self.tracer.new_op()
            t = time.perf_counter()
            with self.span("index.load", op):
                reader = Index.load(self.spark, self.wh, name="bench")
            loads.append(time.perf_counter() - t)
        if not self.lookup_marker(reader, 0, op):
            self.fail("set-up reader: base marker not found")
        s["first_load_s"] = loads[0]
        s["reader_s"] = loads
        self.reader, self.docs = reader, self.base_docs

    # -- ingest writer ---------------------------------------------------
    def commit(self):
        """The delta commit on the set-up reader's handle: add the
        batch's conversations, tombstone two base turns, save_delta."""
        batch = data.delta_batch(self.seed, self.vocab)
        bdir = os.path.join(self.work, "batch")
        os.makedirs(bdir)
        in_bytes = data.write_parquet(batch,
                                      os.path.join(bdir, "part-0.parquet"))
        gone = data.removals(self.seed, self.base_ids)
        bytes0 = dir_bytes(self.wh)
        op = self.tracer.new_op()
        rec = {"op": op, "t0": time.perf_counter()}
        w = self.reader
        with self.counter.op("commit"), self.span("commit", op):
            df = self._read(bdir, op)
            with self.span("deltas.add_documents", op):
                w.add_documents(df, docid_col="docid")
            with self.span("deltas.remove_documents", op):
                w.remove_documents(gone)
            with self.span("deltas.save_delta", op):
                w.save_delta()
        rec["t1"] = time.perf_counter()
        rec["bytes_per_input_byte"] = (dir_bytes(self.wh) - bytes0) / in_bytes
        ids = data.docids(batch)
        added = {d: {"text": t, "tool": u} for d, t, u in
                 zip(ids, batch["text"], batch["tool"])}
        self.docs = {d: r for d, r in self.base_docs.items() if d not in gone}
        self.docs.update(added)
        self.marker_docid[1] = ids[-1]
        self.commit_rec = rec
        checks.apply_commit(self.oracle, gone, added)

    def probe(self):
        """Freshness of the commit: a newly loaded reader must return its
        marker; timed from the start of the commit. That reader becomes
        the clients' reader."""
        op = self.tracer.new_op()
        rec = self.commit_rec
        rec["reload_op"] = op
        with self.span("index.load", op):
            self.reader = Index.load(self.spark, self.wh, name="bench")
        if not self.lookup_marker(self.reader, 1, op):
            self.fail("commit marker not found by a newly loaded reader")
        rec["freshness_s"] = time.perf_counter() - rec["t0"]

    # -- queries ---------------------------------------------------------
    def warm_up(self):
        """WARMUP_ROUNDS rounds of the classes on ``self.reader``, split
        over the two clients, from streams the window never uses."""
        n = WARMUP_ROUNDS * len(data.CLASSES) // N_CLIENTS
        self.clients(WARMUP_CLIENT, n, into=self.warmup)

    def query(self, reader, q: dict, client: int, into: list) -> dict:
        op = self.tracer.new_op()
        rec = {"q": q, "client": client, "op": op, "ok": True}
        cls = q["cls"]
        rec["t0"] = time.perf_counter()
        try:
            with self.counter.op(f"op{op}"), self.span(f"query.{cls}", op):
                with self.span(f"search.{cls}.call", op):
                    df = _call_query(reader, q)
                with self.span(f"search.{cls}.collect", op):
                    rows = df.collect()
            rec["rows"] = [r.asDict() for r in rows]
        except Exception:
            rec["ok"] = False
            self.fail(f"query {q}: {traceback.format_exc()}")
        rec["t1"] = time.perf_counter()
        with self._lock:
            into.append(rec)
        return rec

    def client_loop(self, reader, stream: data.QueryStream, client: int,
                    deadline: float, min_queries: int, into: list):
        """One closed-loop client: the next query goes out when the last
        returns, until ``deadline`` is past and ``min_queries`` are done;
        it stops at its first failed query."""
        n = 0
        while n < min_queries or time.perf_counter() < deadline:
            if not self.query(reader, next(stream), client, into)["ok"]:
                return
            n += 1

    # -- workloads -------------------------------------------------------
    def clients(self, first_id: int, min_queries: int, deadline: float = 0,
                into: Optional[list] = None):
        """N_CLIENTS closed-loop clients on ``self.reader``, one thread
        each, with stream ids ``first_id``... Each takes its share of
        every round of classes. Traced, also counts the Spark jobs
        launched during the clients' run that carry no job group
        (library helper threads)."""
        texts = [r["text"] for r in self.base_docs.values()]
        into = self.queries if into is None else into
        threads = []
        for c in range(N_CLIENTS):
            stream = data.QueryStream(self.seed, first_id + c, self.vocab,
                                      texts, share=(c, N_CLIENTS))
            threads.append(threading.Thread(
                target=self._guard, name=f"client-{first_id + c}",
                args=(self.client_loop, self.reader, stream, first_id + c,
                      deadline, min_queries, into)))
        before = self.counter.ungrouped() if self.counter.enabled else None
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if before is not None and into is self.queries:
            self.ungrouped_spark = self.counter.count(
                self.counter.ungrouped() - before)

    def serve(self):
        """A warm-up, then two closed-loop clients on the set-up reader."""
        self.run_setup()
        self.t_setup = time.perf_counter()
        self.warm_up()
        self.t_warm = self.t_start = time.perf_counter()
        self.clients(0, MIN_QUERIES["serve"], self.t_start + self.seconds)
        self.t_end = time.perf_counter()

    def ingest(self):
        """One delta commit, probed by a newly loaded reader; then two
        closed-loop clients on that reader, unwarmed: generational reads
        with cold per-index caches."""
        self.run_setup()
        self.t_setup = self.t_warm = time.perf_counter()
        self.commit()
        self.probe()
        self.t_start = time.perf_counter()
        self.clients(0, MIN_QUERIES["ingest"], self.t_start + self.seconds)
        self.t_end = time.perf_counter()

    def _guard(self, fn, *args):
        try:
            fn(*args)
        except Exception:
            self.fail(traceback.format_exc())


def dir_bytes(path: str) -> int:
    return sum(storage_bytes(path).values())


def storage_bytes(path: str) -> Dict[str, int]:
    """On-disk bytes of the warehouse's data and manifest files, by table
    family. Hidden checksum files and ``_SUCCESS`` markers are left out:
    they are artifacts of the local filesystem client."""
    out = {"postings": 0, "positions": 0, "segments": 0, "other": 0}
    for dirpath, _, files in os.walk(path):
        parts = os.path.relpath(dirpath, path).split(os.sep)
        kind = next((p for p in ("postings", "positions", "segments")
                     if p in parts), "other")
        for f in files:
            if f.startswith((".", "_")):
                continue
            out[kind] += os.path.getsize(os.path.join(dirpath, f))
    return out
