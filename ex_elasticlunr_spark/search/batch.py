"""Bulk multi-query scoring: Q queries against the index in one pass.

The reference serves one query per call (core/index.ex:262-265); at
training-data-mining scale the workload is the transpose — thousands to
millions of queries (e.g. every eval prompt, every seed document of a
retrieval sweep) scored against the same corpus. Running Q single-query
jobs pays Q× (scan + agg + driver round-trip). Two shapes serve it:

Driver-served (a dict batch on an index whose segments are bound,
payload under search/wand.py ``DRIVER_SERVE_BYTES``): NO Spark job.
The union of the batch's live terms is read once from the segments
(pyarrow over the snapshot's files, build/files.py), decoded with the
WAND codec (search/wand.py ``decode_blocks``), scored per query in
numpy and ranked with one ordinals read for the whole batch — the
search-head shape of the single-query classes.

Spark-planned (a DataFrame query set, or a batch over the cap), one
plan, query-data-parallel:

    queries(query_id, text)
      -> analyze                      [driver-side for a dict, the same
                                       Arrow-batched analyzer otherwise]
      -> qterms(query_id, qt, qw)     qw = term multiplicity in query
      -> join term statistics         (literal rows for a dict batch,
                                       the vocabulary otherwise)
      -> ONE postings scan, term-pruned by the UNION of all query terms
         (pushed In(term, ...) over the term-clustered table — row-group
         pruning works for a thousand-query batch exactly like for one)
      -> per-(query_id, doc) aggregation             [the one wide op]
      -> ord->docid translation, then per-query top-k via row_number
         over a (query_id)-partitioned window

Cost is ~one query's scan + a fan-out proportional to total matched
postings — not Q full passes. The per-(query, doc) aggregation keys on
(query_id, ord): fixed-width, hash-uniform, skew bounded by the hottest
(query, term) posting list.

Scores are rounded to 6 decimals BEFORE ranking (ties broken on docid
asc) so ranks are reproducible bit-for-bit across engines — the same
contract as the single-query gate queries; the driver route rounds as
Spark's ``round`` does (HALF_UP on the decimal string).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Dict, Optional, Union

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.literals import empty_df, in_expr, inline_rows


def related_documents(
    index,
    field: str,
    docids: Optional[list] = None,
    seed_terms: int = 8,
    top_k: int = 10,
) -> DataFrame:
    """Item-item similarity over the index: for each seed document, the
    ``top_k`` most similar OTHER documents, scored by the seed's top
    ``seed_terms`` tf-idf terms (MoreLikeThis seeded by a docid instead
    of free text — and batched: every seed is scored in ONE job).
    Returns DataFrame(qid, docid, score, rank).

    ``docids``: driver-side list of seed docids; ``None`` runs the FULL
    item-item job (related docs for every document — the offline
    "recommendations table" build).

    Plan shape (100 TB rationale): seed-term extraction is one postings
    scan (semi-joined down to the seed set when given) + a per-doc
    window bounded by doc length; candidate scoring joins the seed
    terms back to postings ON TERM — cost proportional to the seeds'
    posting lists, not the corpus product. tf-idf seed selection
    downweights stopword-ish terms, which is also what bounds the
    hot-term skew of the scoring join (the highest-df terms never
    become seeds). Scores round to 6 decimals before ranking, ties on
    docid — the cross-engine determinism contract.
    """
    key = index.key_col
    spark = index.postings.sparkSession
    empty_schema = "qid string, docid string, score double, rank long"
    post = index.postings.where(F.col("field") == field)
    vocab = index.term_stats.where(F.col("field") == field).select(
        "term", F.col("idf").alias("term_idf"))

    seed_post = post
    seed_keys = None
    if docids is not None:
        ids = [str(d) for d in docids]
        if key == "ord":
            seed_keys = index.ordinals_df().where(
                in_expr("docid", ids))  # (docid, ord) — seed-sized
            seed_post = post.join(
                F.broadcast(seed_keys.select("ord")), "ord")
        else:
            seed_post = post.where(in_expr("docid", ids))

    w_seed = Window.partitionBy(key).orderBy(
        F.desc(F.col("tf_raw") * F.col("term_idf")), F.asc("term"))
    seeds = (
        seed_post.join(vocab, "term")
        .withColumn("rn", F.row_number().over(w_seed))
        .where(F.col("rn") <= seed_terms)
        .select(F.col(key).alias("qid_key"), "term")
    )

    cand_post = post
    if docids is not None:
        # ad-hoc seed list: resolve the seed TERMS first (a tiny
        # collect, <= |docids| * seed_terms strings) and push the
        # literal In(term, ...) into the candidate postings scan — the
        # same resolve-then-push shape as fuzzy/regex expansion
        # (search/scorer.py); without it the scoring join reads every
        # posting row at 100x scale. (The seed-postings FETCH itself
        # is a semi-joined scan of the term-clustered table — point
        # doc lookups are the one access path this layout does not
        # serve; a production deployment fronting ad-hoc related-doc
        # queries would add a doc-keyed forward index. The batch
        # docids=None job — the operator's design center — has no such
        # lookup at all.)
        seeds = seeds.localCheckpoint(eager=True)  # collect + join reuse
        terms_list = [r["term"] for r in
                      seeds.select("term").distinct().collect()]
        if not terms_list:
            return empty_df(spark, empty_schema)
        cand_post = post.where(in_expr("term", terms_list))

    entries = (
        seeds.join(cand_post, "term")
        .where(F.col(key) != F.col("qid_key"))
        .join(vocab, "term")
    )
    from .scorer import _fstats_cols, entry_score_expr

    fs_cols = _fstats_cols(index, field)
    if fs_cols is None:
        return empty_df(spark, empty_schema)
    entry_score = entry_score_expr("elasticlunr")
    per_doc = (
        entries.select("*", *fs_cols)
        .groupBy("qid_key", key)
        .agg(F.round(F.max(entry_score), 6).alias("score"))
    )
    if key == "ord":
        ords = index.ordinals_df()
        qmap = (F.broadcast(seed_keys) if seed_keys is not None else ords) \
            .select(F.col("ord").alias("qid_key"),
                    F.col("docid").alias("qid"))
        per_doc = (per_doc.join(ords, "ord")
                   .join(qmap, "qid_key"))
    else:
        per_doc = per_doc.withColumnRenamed("qid_key", "qid")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
    return (per_doc.select("qid", "docid", "score")
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= top_k)
            .select("qid", "docid", "score", "rank"))


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` of a double: HALF_UP on the decimal
    string of ``x`` (Java's ``BigDecimal.valueOf``), not numpy's
    half-even rounding of the binary value."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _many_from_driver(index, rows, field: str, top_k: int, mode: str,
                      k1: float, b: float) -> Optional[list]:
    """A dict batch scored on the driver with no Spark job, on an index
    whose segments are bound: the result rows (query_id, docid, score,
    rank). ``rows`` are the analyzed (query_id, term, qw) triples.

    One capped metadata read and one payload read of ``segments`` for
    the union of the batch's live terms, and one read of ``seg_lens``
    for their blocks in bm25 mode, decoded by search/wand.py
    ``decode_blocks`` (tombstoned ords dropped). df/idf come from
    ``_vocab_lookup``, field statistics from ``_fstats_local``. Each
    term's entry scores are computed once, by the formulas of
    ``entry_score_expr`` in its operation order; each query then sums
    them weighted by ``qw`` (bm25) or takes their max (elasticlunr).
    Only each query's boundary set is rounded like Spark's
    ``round(x, 6)``, then ranked (rounded score desc, docid asc) with
    one ordinals read for the whole batch (``ranked_top``).

    Returns None — the caller runs the Spark plan — when the segments
    are not bound, the payload is over ``DRIVER_SERVE_BYTES``, or a
    query's boundary ties are over ``RESOLVE_INLINE_CAP``."""
    import math

    import numpy as np

    from ..build.files import scan
    from . import wand
    from .scorer import _fstats_local, _vocab_lookup

    fr = _fstats_local(index).get(field)
    if (index._segments is None or top_k <= 0 or fr is None
            or not wand.DRIVER_SERVE_BYTES
            or mode not in ("elasticlunr", "bm25")):
        return None
    looked = _vocab_lookup(index, [(field, t) for _, t, _ in rows])
    live = sorted({t for _, t, _ in rows if looked[(field, t)]})
    if not live:
        return []
    block_size = index._segments[0]
    cond = [(("field", "==", field), ("term", "in", live))]
    meta = scan(index, "segments", ["block_id", "block_bytes"], cond)
    bids = set(meta.column(0).to_pylist())
    nbytes = sum(meta.column(1).to_pylist())
    if mode == "bm25":
        nbytes += len(bids) * wand.LEN_BLOCK_EST_BYTES
    if nbytes > wand.DRIVER_SERVE_BYTES:
        return None
    lens = (wand.decode_lens(index, {(field, x) for x in bids}, block_size)
            if mode == "bm25" else {})
    n_docs, avgdl = fr["n_docs"], fr["avg_doc_len"]
    entries: dict = {}  # term -> [(ords, entry scores)] per block
    for _f, t, bid, oa, tf in wand.decode_blocks(index, cond, block_size):
        df, idf = looked[(field, t)]
        if mode == "elasticlunr":
            e = np.sqrt(tf) * (idf * idf) * fr["flnorm"]
        else:
            lo, lv = lens[(field, bid)]
            dl = lv[np.searchsorted(lo, oa)]
            e = math.log(1.0 + (float(n_docs - df) + 0.5) / (df + 0.5)) * (
                (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))
        entries.setdefault(t, []).append((oa, e))

    by_q: dict = {}
    for qid, t, qw in rows:
        for oa, e in entries.get(t, ()):
            by_q.setdefault(qid, []).append(
                (oa, e if mode == "elasticlunr" else e * float(qw)))
    groups = {}
    for qid, parts in by_q.items():
        uo, inv = np.unique(np.concatenate([p[0] for p in parts]),
                            return_inverse=True)
        e = np.concatenate([p[1] for p in parts])
        if mode == "elasticlunr":
            v = np.full(uo.size, -np.inf)
            np.maximum.at(v, inv, e)
        else:
            v = np.zeros(uo.size)
            np.add.at(v, inv, e)
        # a doc can round up to the k-th rounded score only from within
        # 1e-6 below it: round just those
        i = uo.size - min(top_k, uo.size)
        m = v >= _round6(float(np.partition(v, i)[i])) - 1e-6
        groups[qid] = (uo[m], np.array([_round6(x) for x in v[m].tolist()]))
    top = wand.ranked_top(index, groups, top_k)
    if top is None:
        return None
    return [(qid, d, s, r) for qid in sorted(top)
            for r, (d, s) in enumerate(top[qid], 1)]


def search_many(
    index,
    queries: Union[Dict[str, str], DataFrame],
    field: str,
    top_k: int = 10,
    mode: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    analyzer=None,
) -> DataFrame:
    """Score every query in ``queries`` against ``field``, returning
    DataFrame(query_id, docid, score, rank) with ``rank`` 1..top_k per
    query (rounded-score desc, docid asc).

    ``queries``: a driver-side mapping {query_id: query_text} — each
    text is analyzed with the field's query pipeline, and the batch is
    scored on the driver when the segments are bound
    (:func:`_many_from_driver`), else the union of all terms is PUSHED
    into the postings scan as a literal ``In(term, ...)`` — or a
    DataFrame(query_id, query_text) for corpus-sized query sets,
    analyzed with the same Arrow-batched analyzer as ingest (no literal
    pushdown possible: the term set is not driver-resident; the scan is
    still single-pass).

    Semantics per query match the single-query ``match`` path
    (dsl/nodes.rewrite_match): duplicate query terms contribute
    multiplicatively in bm25 sum mode (qw), and not at all in
    elasticlunr max mode. Queries analyzing to zero tokens return no
    rows (a match_all per stray query would swamp a bulk result).
    """
    spark = index.postings.sparkSession
    key = index.key_col
    schema = "query_id string, docid string, score double, rank long"
    # ``analyzer`` override: Index.search_many passes its OWN config so
    # query-time views (with_query_synonyms, per-field query_pipeline
    # swaps) apply to bulk search exactly like single-query search —
    # the inverted index's analyzers are the build-time ones
    cfg = analyzer if analyzer is not None else index.analyzers[field]

    literal_terms: Optional[list] = None
    if isinstance(queries, dict):
        pipeline = cfg.to_query_pipeline()
        rows = []
        # sort on the stringified id: mixed int/str ids are legal
        # (they're str()-coerced into the output) and must not crash
        # the ordering
        for qid, text in sorted(queries.items(), key=lambda kv: str(kv[0])):
            counts: Dict[str, int] = {}
            for t in pipeline.run_terms(text):
                counts[t] = counts.get(t, 0) + 1
            for t, n in sorted(counts.items()):
                rows.append((str(qid), t, n))
        if not rows:
            return empty_df(spark, schema)
        served = _many_from_driver(index, rows, field, top_k, mode, k1, b)
        if served is not None:
            return inline_rows(spark, served, schema)
        literal_terms = sorted({t for _, t, _ in rows})
    else:
        from ..functions.udfs import analyze_postings

        if cfg.query_pipeline is not None:
            # the vectorized analyzer ships (stages, separator, extra);
            # a custom query Pipeline is an arbitrary driver-side object
            # the executors cannot replay — only the dict path (driver-
            # side analysis) honors it
            raise ValueError(
                "search_many with a DataFrame query set analyzes with "
                "the INDEX pipeline; this field has a distinct "
                "query_pipeline — pass queries as a dict instead")
        stacked = queries.select(
            F.col("query_id").cast("string").alias("docid"),
            F.lit(field).alias("field"),
            F.col("query_text").cast("string").alias("content"),
        )
        analyzed = analyze_postings(stacked, {field: cfg}, positions=False)
        qterms = analyzed.where(F.col("term").isNotNull()).select(
            F.col("docid").alias("query_id"),
            F.col("term").alias("qt"),
            F.col("tf_raw").cast("long").alias("qw"),
        )

    if literal_terms is not None:
        # driver-resident term set: resolve (df, idf) through the
        # per-binding vocabulary memo (scorer._vocab_lookup) and inline
        # the matched relation — identical rows to the vocab equi-join
        # (bit-exact VALUES round-trip), zero-task broadcast, and warm
        # terms cost no vocabulary job at all
        from .scorer import _vocab_lookup

        looked = _vocab_lookup(index, [(field, t) for t in literal_terms])
        matched = inline_rows(
            spark,
            [(t, *looked[(field, t)], qid, qw)
             for qid, t, qw in rows if looked[(field, t)] is not None],
            "term string, term_df long, term_idf double, "
            "query_id string, qw long")
    else:
        vocab = index.term_stats.where(F.col("field") == field).select(
            "term", F.col("df").alias("term_df"),
            F.col("idf").alias("term_idf"))
        matched = vocab.join(
            qterms.withColumnRenamed("qt", "term"), "term")

    post = index.postings.where(F.col("field") == field)
    if literal_terms is not None:
        # the pushdown that makes a bulk batch ~one query's scan: the
        # union of all query terms prunes row groups of the
        # term-clustered postings before any join
        post = post.where(in_expr("term", literal_terms))

    entries = post.join(F.broadcast(matched) if literal_terms is not None
                        else matched, "term")
    from .scorer import _fstats_cols

    fs_cols = _fstats_cols(index, field)
    if fs_cols is None:
        return empty_df(spark, schema)
    entries = entries.select("*", *fs_cols)

    # shared formula source (search/scorer.py): bm25 sums qw-weighted
    # entries, elasticlunr takes the max (qw ignored by contract)
    from .scorer import entry_score_expr

    entry_score = entry_score_expr(mode, k1, b, qw="qw")
    agg_score = (F.max(entry_score) if mode == "elasticlunr"
                 else F.sum(entry_score))

    per_doc = (entries.groupBy("query_id", key)
               .agg(F.round(agg_score, 6).alias("score")))
    if key == "ord":
        per_doc = (per_doc.join(index.ordinals_df(), "ord")
                   .select("query_id", "docid", "score"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("docid"))
    return (per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= top_k)
            .select("query_id", "docid", "score", "rank"))
