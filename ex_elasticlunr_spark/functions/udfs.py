"""Vectorized (Arrow/pandas) UDFs — the only place Python touches row
data inside the engine; everything else is built-in Column expressions.

Per the north rule ("no per-row Python anywhere" at the Spark row level):
analysis runs batched inside pandas UDFs — one Python call per Arrow
batch, with stemming amortized over the batch's *unique* tokens
(each unique token stemmed once, then mapped), mirroring how the
reference amortizes nothing (it stems token-at-a-time,
lib/elasticlunr/pipeline/stemmer.ex:7-9) — this is one of the places a
vectorized rebuild wins.
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..analysis import Pipeline, Token
from ..analysis import porter2
from ..analysis.stop_words import STOP_WORDS
from ..analysis.tokenizer import DEFAULT_SEPARATOR, tokenize
from ..analysis.trimmer import trim_str

TOKEN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("term", StringType()),
            StructField("start", IntegerType()),
            StructField("length", IntegerType()),
        ]
    )
)

TERMS_SCHEMA = ArrayType(StringType())


class AnalyzerConfig:
    """Serializable analyzer description shipped to executors.

    ``stages`` is a subset/ordering of ("trim", "stop", "stem") — the
    default mirrors the reference's default_runners
    (lib/elasticlunr/pipeline.ex:24-25). ``extra`` allows user callbacks
    (must be picklable) with the reference's Token->Token|list|None
    protocol, applied after the named stages.
    """

    def __init__(
        self,
        stages: tuple = ("trim", "stop", "stem"),
        separator: str = DEFAULT_SEPARATOR,
        extra: Optional[list] = None,
        query_pipeline: Optional["Pipeline"] = None,
        unicode: bool = False,
    ):
        self.stages = tuple(stages)
        self.separator = separator
        self.extra = list(extra or [])
        # optional distinct analysis for QUERY strings (the reference's
        # field.query_pipeline, used when is_query — field.ex:149-157);
        # index-side analysis always uses the stages above
        self.query_pipeline = query_pipeline
        # opt-in Unicode mode: regex classes (\s in the separator, \W in
        # the trimmer) follow Unicode instead of the reference's ASCII
        # PCRE semantics — a documented parity deviation for real
        # (Unicode) transcripts
        self.unicode = bool(unicode)

    def to_pipeline(self) -> Pipeline:
        """Equivalent driver-side Pipeline for INDEX-side analysis."""
        from ..analysis.pipeline import (
            stemmer, stop_word_filter, trimmer, unicode_trimmer)

        named = {"trim": unicode_trimmer if self.unicode else trimmer,
                 "stop": stop_word_filter, "stem": stemmer}
        cbs = [named[s] for s in self.stages] + self.extra
        return Pipeline(cbs, self.separator, unicode=self.unicode)

    def to_query_pipeline(self) -> Pipeline:
        """Pipeline for analyzing query strings: the field's
        query_pipeline when set (is_query dispatch, field.ex:149-157),
        else the index pipeline."""
        return self.query_pipeline or self.to_pipeline()

    # -- batch-vectorized execution (executor side) ----------------------
    def analyze_batch(self, texts: pd.Series, positions: bool) -> pd.Series:
        do_trim = "trim" in self.stages
        do_stop = "stop" in self.stages
        do_stem = "stem" in self.stages
        stem1 = _stem
        extra = self.extra
        sep = self.separator
        ascii_mode = not self.unicode

        def one(text) -> list:
            if text is None:
                return []
            toks = tokenize(text, sep, ascii_mode)
            if do_trim:
                toks = [Token(trim_str(t.token, ascii_mode),
                              t.start, t.length) for t in toks]
            if do_stop:
                toks = [t for t in toks if t.token not in STOP_WORDS]
            if do_stem:
                toks = [Token(stem1(t.token), t.start, t.length) for t in toks]
            for cb in extra:
                out: List[Token] = []
                for t in toks:
                    r = cb(t)
                    if r is None:
                        continue
                    out.extend(r if isinstance(r, list) else [r])
                toks = out
            if positions:
                return [(t.token, t.start, t.length) for t in toks]
            return [t.token for t in toks]

        return texts.map(one)


def analyze_udf(config: Optional[AnalyzerConfig] = None, positions: bool = True):
    """Column function: text -> array<struct<term,start,length>> (or
    array<string> when positions=False)."""
    config = config or AnalyzerConfig()
    schema = TOKEN_SCHEMA if positions else TERMS_SCHEMA

    @F.pandas_udf(schema)
    def _analyze(texts: pd.Series) -> pd.Series:
        return config.analyze_batch(texts, positions)

    return _analyze


POSTINGS_SCHEMA = (
    "field string, docid string, term string, tf_raw long, doc_len long, "
    "positions array<int>, ords array<int>"
)
POSTINGS_SCHEMA_NOPOS = (
    "field string, docid string, term string, tf_raw long, doc_len long"
)


ORD_STRIDE = 1 << 33  # ingest-ordinal space per input partition

# worker-lifetime stem cache (term -> stem), shared across tasks by
# reused Python workers because this module is shipped to executors by
# import, not pickled by value (guide §4.5). Bounded: past
# _STEM_CACHE_MAX entries the oldest goes first, so a worker's memory
# does not grow with the vocabulary.
_STEM_CACHE: dict = {}
_STEM_CACHE_MAX = 1 << 16


def _stem(term: str) -> str:
    """porter2 stem of ``term`` through the worker's bounded cache."""
    s = _STEM_CACHE.get(term)
    if s is None:
        s = porter2.stem(term)
        while len(_STEM_CACHE) >= _STEM_CACHE_MAX:
            try:
                _STEM_CACHE.pop(next(iter(_STEM_CACHE)), None)
            except (StopIteration, RuntimeError):
                break  # emptied or resized by another thread
        _STEM_CACHE[term] = s
    return s


def analyze_postings(stacked, configs: dict, positions: bool = True,
                     doc_rows: bool = False, with_ord: bool = False):
    """(field, docid, content) -> FINAL posting rows
    (field, docid, term, tf_raw, doc_len, positions) in one mapInPandas
    pass — tf is a per-document statistic and each docid sits in exactly
    one input row, so the term-level aggregation happens document-
    locally in Python and the build needs NO wide shuffle at all for the
    postings table (the ETS-insert loop of the reference, field.ex:217-241,
    becomes a pure map). Positions are packed int pairs
    [start0, len0, start1, len1, ...] in occurrence order (the
    reference's append order, field.ex:224-230); ``ords`` carries the
    post-pipeline token ordinal of each occurrence (one int per
    positions pair) — the phrase-query adjacency key (the reference
    stores positions but never consumes them; phrase matching is our
    positions consumer, search/scorer.py phrase_scores).

    ``doc_rows``: additionally emit ONE sentinel row per (field, docid)
    with term=NULL and tf_raw=0 — the doc_stats table as a map-side
    byproduct (no ids join, no extra analyzer pass; zero-token docs
    included). Consumers split on ``term IS NULL``.

    ``with_ord``: additionally emit a global doc ordinal column,
    assigned MAP-ONLY as ``partition_id * ORD_STRIDE + doc_seq`` (the
    stacked field-rows of one doc are adjacent within a partition, so
    the sequence increments on docid change). Ordinals are unique and
    dense within a partition but NOT docid-ordered and NOT globally
    dense — the delta-gap codec, block ids, and block clustering only
    need per-(term) strictly-increasing unique ords, which any
    injective assignment provides. This removes the docs-sized
    docid->ordinal shuffle-hash join from the durable clustering stage
    entirely (measured as ~half that stage's work); the classic sorted
    zipWithIndex (build/ordinals.py) remains for merged indexes whose
    ingest ordinals would collide across builds.
    """
    import itertools

    cfg_items = {
        f: (c.stages, c.separator, c.extra, not getattr(c, "unicode", False))
        for f, c in configs.items()
    }

    def run(batches):
        from ..analysis.stop_words import STOP_WORDS
        from ..analysis.tokenizer import tokenize, tokenize_raw
        from ..analysis.trimmer import trim_str
        from ..analysis.token import Token

        # module-level stem cache: udfs.py is an importable module
        # shipped to executors, so a reused Python worker
        # (spark.python.worker.reuse, the default) keeps the stemmed
        # vocabulary across tasks instead of re-stemming it per task
        # (guide §4.5)
        stem1 = _stem

        if with_ord:
            from pyspark import TaskContext

            ord_base = TaskContext.get().partitionId() * ORD_STRIDE
            doc_seq = -1
            last_docid = None

        for pdf in batches:
            o_field, o_docid, o_term = [], [], []
            o_tf, o_dl, o_pos, o_ord = [], [], [], []
            o_gord = []
            for fld, docid, content in zip(
                pdf["field"], pdf["docid"], pdf["content"]
            ):
                if content is None:
                    continue
                if with_ord:
                    if docid != last_docid:
                        doc_seq += 1
                        last_docid = docid
                    g_ord = ord_base + doc_seq
                stages, sep, extra, ascii_mode = cfg_items[fld]
                if extra:
                    # custom callbacks receive Token objects (public
                    # pipeline contract) — keep the NamedTuple path
                    toks = tokenize(content, sep, ascii_mode)
                    if "trim" in stages:
                        toks = [Token(trim_str(t.token, ascii_mode),
                                      t.start, t.length)
                                for t in toks]
                    if "stop" in stages:
                        toks = [t for t in toks
                                if t.token not in STOP_WORDS]
                    if "stem" in stages:
                        toks = [Token(stem1(t.token), t.start, t.length)
                                for t in toks]
                    for cb in extra:
                        nxt = []
                        for t in toks:
                            r = cb(t)
                            if r is None:
                                continue
                            nxt.extend(r if isinstance(r, list) else [r])
                        toks = nxt
                else:
                    # allocation-light tuple pipeline (identical values;
                    # Token is itself a tuple so the aggregation below
                    # indexes both representations the same way) — the
                    # NamedTuple rebuild per stage was ~40% of ingest
                    # CPU (measured 2.6x on the pure-Python pipeline)
                    toks = tokenize_raw(content, sep, ascii_mode)
                    if "trim" in stages:
                        toks = [(trim_str(t0, ascii_mode), t1, t2)
                                for (t0, t1, t2) in toks]
                    if "stop" in stages:
                        toks = [t for t in toks
                                if t[0] not in STOP_WORDS]
                    if "stem" in stages:
                        toks = [(stem1(t0), t1, t2)
                                for (t0, t1, t2) in toks]
                dl = len(toks)
                # document-local aggregation (insertion-ordered dict ->
                # deterministic term order within a doc); index access —
                # Token is a NamedTuple, so [0]/[1]/[2] work for both
                # the tuple and the Token representations
                agg: dict = {}
                if positions:
                    for i, t in enumerate(toks):
                        e = agg.get(t[0])
                        if e is None:
                            agg[t[0]] = [1, [t[1], t[2]], [i]]
                        else:
                            e[0] += 1
                            e[1].extend((t[1], t[2]))
                            e[2].append(i)
                else:
                    for t in toks:
                        agg[t[0]] = agg.get(t[0], 0) + 1
                n = len(agg) + (1 if doc_rows else 0)
                o_field.extend(itertools.repeat(fld, n))
                o_docid.extend(itertools.repeat(docid, n))
                o_dl.extend(itertools.repeat(dl, n))
                if with_ord:
                    o_gord.extend(itertools.repeat(g_ord, n))
                if positions:
                    for term, (tf, pos, ords) in agg.items():
                        o_term.append(term)
                        o_tf.append(tf)
                        o_pos.append(pos)
                        o_ord.append(ords)
                else:
                    for term, tf in agg.items():
                        o_term.append(term)
                        o_tf.append(tf)
                if doc_rows:
                    o_term.append(None)
                    o_tf.append(0)
                    if positions:
                        o_pos.append(None)
                        o_ord.append(None)
            data = {
                "field": o_field,
                "docid": o_docid,
                "term": o_term,
                "tf_raw": pd.array(o_tf, dtype="int64"),
                "doc_len": pd.array(o_dl, dtype="int64"),
            }
            if positions:
                data["positions"] = o_pos
                data["ords"] = o_ord
            if with_ord:
                data["ord"] = pd.array(o_gord, dtype="int64")
            yield pd.DataFrame(data)

    schema = POSTINGS_SCHEMA if positions else POSTINGS_SCHEMA_NOPOS
    if with_ord:
        schema += ", ord long"
    return stacked.mapInPandas(run, schema)
