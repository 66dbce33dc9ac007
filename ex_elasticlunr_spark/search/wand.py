"""Block-max WAND top-k over compressed posting segments.

Distributed two-phase block-max pruning (the document-at-a-time WAND
heap doesn't map onto a shuffle-based engine; the block-max *pruning*
does, and is where the asymptotic win lives), generalized to
minimum_should_match (``operator: "and"`` match queries,
match_query.ex:52-60) and multi-clause queries (the bool/should of
per-field match clauses behind the string-search sugar,
index.ex:181-224, with per-field boosts).

Query model: a list of CLAUSES, each (field, resolved terms with
multiplicities, boost, per-clause msm, required?). A doc's clause
score is the max (elasticlunr mode, terms_query.ex:80-97) or sum
(bm25) of its matched entry scores, times the clause boost; a clause
matches when the doc's matched-entry count (Σ term multiplicities)
reaches the clause msm; the doc's total is the sum of matching
clauses' scores and it qualifies when every REQUIRED clause matches,
NO NEGATIVE clause matches (a bool ``must_not`` riding with a must:
pure exclusion, zero score, pruning-exempt blocks), and >= ``msm``
OPTIONAL clauses match — exactly the exhaustive executor's bool
algebra (a bool ``must`` is a required clause outside the msm count;
base docs enter the should union with matched=0,
dsl/executor.py _compile_bool), so results are rank-identical to it
(tests/test_segments_wand.py, tests/test_wand_routing.py). Clauses
may repeat a field (bool must + should both on ``text``): the
candidate scan dedupes physical blocks and the meta join fans entries
out per clause.

Phases (all pruning decisions are on BLOCK METADATA — payloads of
pruned blocks are never decoded, and parquet column pruning keeps
their bytes unread):

  Coverage prune: block ranges are ordinal-aligned ACROSS terms and
  fields (block_id = ord // block_size), so every entry of a doc lives
  at the same block_id. A clause can only match docs at block_id B if
  the multiplicity-weighted sum of its terms present at B reaches the
  clause msm, and a doc can only qualify if >= msm clauses are
  matchable at its B — the block-granular intersection that makes AND
  queries cheap. (Driver-side over per-(block, clause) aggregates,
  capped at METADATA_CAP rows — beyond the cap the prune is skipped,
  never wrong.)

  Phase 1 (seed the threshold): pick the few block_ids with the
  highest upper-bound potential and decode EVERY candidate term's
  block there. Ordinal alignment makes those docs' totals EXACT (all
  their entries live in the decoded blocks), so θ = the k-th best
  exact total among msm-qualified docs — a valid lower bound on the
  final k-th score, and a much tighter seed than one best block per
  term.

  Phase 2 (prune + score): a block b of (clause c, term t) can contain
  a top-k doc only if
    bm25:        ub(b) + Σ_{(c',t')≠(c,t)} gub(c',t')          >= θ
    elasticlunr: max(ub(b), max_{t'≠t∈c} gub) + Σ_{c'≠c} cgub(c') >= θ
  (gub = global per-term block-max bound, cgub = per-clause max; both
  include the clause boost). Every block holding ANY entry of a doc
  with total >= θ survives these bounds, so surviving-doc scores and
  match counts are exact; pruned-block docs have total < θ <= k-th
  final score and cannot displace the (>= k) fully-scored docs.

Block upper bounds per mode (max_tf_raw is stored block metadata):
  elasticlunr: sqrt(max_tf_raw) * idf(t)^2 * flnorm * boost
  bm25:        idf_bm25(t) * mult * boost
               * max_tf*(k1+1) / (max_tf + k1*(1-b))
               (doc_len -> 0 bound: the true denominator is larger)

doc_len (bm25 denominators only — elasticlunr never touches it) comes
from the codec-v2 ``len_blocks`` side table (build/segments.py): one
entry per (field, doc) instead of the v1 per-posting copy; the decode
is restricted to exactly the candidate (field, block_id) pairs and
joins the decoded postings on the same alignment.

Scale shape: pruning reads #candidate-blocks METADATA rows; phase 1
decodes |seed block_ids| x |terms| blocks; phase 2's decode +
per-doc aggregation shuffle is bounded by surviving blocks only, keyed
by int64 ordinals.

Serving latency: when the coverage-pruned candidate payload fits the
DRIVER_SERVE_BYTES cap, the query is served FROM THE DRIVER
(_serve_from_driver): a read of the candidate blocks, the same
pure-Python codec decode, vectorized clause algebra, one
ordinal->docid boundary lookup (the Lucene/ES search-head shape: the
INDEX is distributed; the scorer of a selective query need not be).
Its block metadata, payloads, len blocks and docids come through
``build/files.py scan``: on a bound warehouse pyarrow reads them from
the snapshot's files, so a driver-served query runs NO Spark job (a
fuzzy or regex clause pays one, for its vocabulary match). Oversize
candidate sets fall through to the distributed plan above;
tests/test_segments_wand.py TestDriverServe pins identity between the
two.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F

from ..build.files import limit_one_job, scan
from ..build.segments import (
    DEFAULT_BLOCK_SIZE,
    decode_segments,
    decode_segments_with_lens,
)
from ..functions.literals import (
    empty_df,
    in_expr,
    inline_rows,
    sql_eq,
    sql_in,
)

# above this many per-(block, clause) metadata rows the driver-side
# coverage/seed bookkeeping would stop being "metadata-sized" — skip
# the coverage prune and pick seeds with a TakeOrdered job instead
METADATA_CAP = 32768
SEED_BLOCK_IDS = 2
EPS = 1e-9
# when the whole candidate set holds fewer live postings than this,
# exact-scoring EVERYTHING in one job beats the two-phase plan — the
# seed job + threshold pruning can never pay back their extra Spark
# job at that size (serving latency is job-count-bound there). Block
# metadata's n_docs gives the exact count, so the choice is principled,
# not a guess: big indexes take the pruned path, small ones one pass.
SINGLE_PHASE_ENTRIES = 1 << 18
# driver-serve cap: when the coverage-pruned candidate payload is this
# small, the whole query is served FROM THE DRIVER — one read of the
# candidate blocks (pyarrow over a bound warehouse's files: no Spark
# job), pure-Python decode (the same codec as the distributed
# mapInPandas), clause algebra in-process, and one ordinal->docid
# lookup for the top boundary. That is the Lucene/ES search-head
# shape: the index is distributed, the scorer for a selective query is
# not. 64 MiB ~= 29M posting entries (codec v2 ~2.2 B/entry): a read +
# vectorized numpy pass; queries over the cap take the distributed plan
# below. Set to 0 to force the distributed plan (tests pin identity
# between both).
DRIVER_SERVE_BYTES = 64 << 20
# estimated bytes per candidate len block (codec v2 side table) counted
# against DRIVER_SERVE_BYTES in bm25 mode; measured ~8 KB/block at 2M
# turns (BENCH/r04_codec_bytes.json), doubled for safety
LEN_BLOCK_EST_BYTES = 16 << 10
# above this many boundary ordinals the docid resolve would push a
# silly In() list — fall back to the distributed tail
RESOLVE_INLINE_CAP = 4096

_META_SCHEMA = (
    "cid int, field string, term string, w double, mult long, "
    "boost double, cmsm long, avgdl double, req int, neg int"
)
_PRUNE_SCHEMA = "cid int, term string, pbound double"

@dataclass
class WandClause:
    """One scoring clause: ``terms`` maps each RESOLVED vocabulary term
    to its multiplicity (the number of query terms that matched it —
    the unit minimum_should_match counts, field.ex:160-205).

    ``required``: a bool-query ``must`` clause — the doc must match it
    to qualify at all, and it does NOT count toward the query-level
    ``msm`` (which counts matching OPTIONAL clauses, mirroring the
    executor's bool algebra where base docs enter the should union with
    matched=0, dsl/executor.py _compile_bool).

    ``negative``: a bool-query ``must_not`` clause alongside a must —
    a doc matching it is EXCLUDED; it contributes no score and never
    counts toward msm (the executor's filter-chain NotNode where the
    not's score is replaced by the must result). Its blocks are exempt
    from threshold pruning: a pruned negative block would fail to
    exclude a doc it should."""

    field: str
    terms: Dict[str, int]
    boost: float = 1.0
    msm: int = 1
    required: bool = False
    negative: bool = False


def resolve_clause(index, field: str, terms: Sequence[str],
                   boost: float = 1.0, msm: int = 1,
                   expand: bool = False, fuzziness: int = 0,
                   regex: bool = False,
                   required: bool = False,
                   negative: bool = False) -> WandClause:
    """Build a WandClause from raw query terms. Expansion resolves
    against the VOCABULARY first (term_stats — the same
    edit-ball/prefix/regex resolve as the exhaustive path); a vocab
    term matched by multiple query terms contributes once per match,
    so it carries that multiplicity."""
    if expand or fuzziness > 0 or regex:
        from .scorer import _expansion_rows, _query_terms_df

        # RAW terms, duplicates included: one row per (query term, vocab
        # term) match, so a duplicated query term contributes twice to
        # mult — exactly like the exhaustive scorer's join (deduping
        # here broke rank identity for duplicate-term expansion queries:
        # halved bm25 weights, msm counts short by the duplicate count)
        rows = _expansion_rows(index, field, list(terms), expand,
                               fuzziness, regex)
        terms = ([r[2] for r in rows] if rows is not None else [
            r["term"] for r in _query_terms_df(
                index, field, list(terms), expand, fuzziness,
                regex=regex).select("term").collect()])
    mult: Dict[str, int] = {}
    for t in terms:
        mult[t] = mult.get(t, 0) + 1
    return WandClause(field=field, terms=mult, boost=float(boost),
                      msm=max(int(msm), 1), required=required,
                      negative=negative)


def _collect_limit_one_job(df: DataFrame, n: int) -> list:
    """``df.limit(n).collect()`` in ONE Spark job (build/files.py
    ``limit_one_job``)."""
    return limit_one_job(df, n, lambda d: d.collect())


def _clause_stats(index, clauses: List[WandClause], mode: str) -> list:
    """One vocabulary lookup for every (clause, term): rows of
    (cid, field, term, w, mult, boost, cmsm, avgdl). |rows| = Σ|terms|
    — query-sized, driver-held."""
    pairs = [(c.field, t) for c in clauses for t in c.terms]
    if not pairs:
        return []
    # field_stats rows are per-index constants (#fields rows), collected
    # once per binding; df/idf through the per-binding term-statistics
    # lookup shared with the exhaustive scorer
    from .scorer import _fstats_local, _vocab_lookup

    frows = _fstats_local(index)
    trows = _vocab_lookup(index, pairs)
    out = []
    for cid, c in enumerate(clauses):
        fr = frows.get(c.field)
        if fr is None:
            continue
        for t, n in sorted(c.terms.items()):
            tr = trows.get((c.field, t))
            if tr is None:
                continue
            df, idf = tr
            if mode == "elasticlunr":
                w = idf ** 2 * fr["flnorm"]
            else:
                # sum mode: a term matched by n query terms contributes
                # n identical entries to the exhaustive sum
                w = n * math.log(
                    1.0 + (fr["n_docs"] - df + 0.5) / (df + 0.5))
            out.append((cid, c.field, t, float(w), int(n), c.boost,
                        c.msm, float(fr["avg_doc_len"] or 0.0),
                        int(getattr(c, "required", False)),
                        int(getattr(c, "negative", False))))
    return out


def _restrict_triples(cand: DataFrame, triples) -> DataFrame:
    """Restrict the candidate metadata/payload relation to (clause,
    term, block) triples via per-clause ``In()`` literal filters — the
    (terms x blocks) cross product per clause. Looser than an exact
    triple semi-join but pure expressions: building it costs O(#cids)
    py4j calls (a 2,000-triple inline literal relation cost ~30s of
    gateway round trips), the term filter reaches the parquet scan,
    and decoding a cross-product extra block is always CORRECT — it
    only adds entries of docs whose totals stay below θ (phase-2
    bounds) or that the clause-msm algebra filters (coverage prune)."""
    byc: Dict[int, Tuple[set, set]] = {}
    for cid, t, bid in triples:
        e = byc.setdefault(cid, (set(), set()))
        e[0].add(t)
        e[1].add(bid)
    cond = F.expr(" OR ".join(
        "(" + sql_eq("cid", cid)
        + " AND " + sql_in("term", sorted(byc[cid][0]))
        + " AND " + sql_in("block_id", sorted(byc[cid][1])) + ")"
        for cid in sorted(byc)))
    return cand.where(cond)


def _serve_from_driver(index, stats, by_cid, good, meta_rows,
                       k: int, mode: str, k1: float, b: float, msm: int,
                       block_size: int):
    """Serve a single-phase query entirely from the driver: one read of
    the candidate block payloads (+ their len blocks in bm25 mode), the
    SAME pure-Python codec decode the distributed mapInPandas runs
    (build/codec.py decode_block), the same clause algebra, then one
    ordinal->docid lookup for the top-k boundary. Every read goes
    through ``build/files.py scan``: on a bound warehouse pyarrow over
    the snapshot's files, so the query runs no Spark job. Returns None
    when the query does not qualify (payload too large, boundary tie
    set too large) — the caller falls through to the distributed plan,
    so this is only ever a latency fast path, never a semantics change.
    Identity with the distributed plan is pinned by
    tests/test_segments_wand.py.

    Scale shape: the byte cap (DRIVER_SERVE_BYTES) bounds what a query
    may pull to the driver — selective queries over a 100 TB index
    stay under it because the pushed term/block predicates already cut
    the read to the query's candidate blocks; broad queries fall back
    to the distributed plan the cap exists for."""
    import numpy as np

    from ..build.codec import decode_block_arrays

    if k <= 0 or not DRIVER_SERVE_BYTES:
        return None
    tomb = index._dead_ords

    spark = index.postings.sparkSession
    # fetch set: the per-clause cross product (terms x good block_ids)
    # actually present in the candidate metadata — pushed as per-clause
    # term AND block_id predicates. It can exceed the good TRIPLES
    # (a term may sit at a block only other terms made good); decoding
    # the extras is correct by construction: the clause msm algebra
    # filters docs exactly, the coverage prune is only a work-saver.
    gbids: Dict[int, set] = {}
    for bid, e in good.items():
        for cid in e["cids"]:
            gbids.setdefault(cid, set()).add(bid)
    fetch_bytes = 0
    fetch_pairs: set = set()  # (field, block_id) for the len side
    for r in meta_rows:
        cid = r["cid"]
        if cid in gbids and r["block_id"] in gbids[cid]:
            fetch_bytes += r["block_bytes"]
            fetch_pairs.add((by_cid[cid]["field"], r["block_id"]))
    if mode != "elasticlunr":
        fetch_bytes += len(fetch_pairs) * LEN_BLOCK_EST_BYTES
    if fetch_bytes > DRIVER_SERVE_BYTES:
        return None

    seg = scan(index, "segments", ["field", "term", "block_id", "payload"],
               [(("field", "==", by_cid[cid]["field"]),
                 ("term", "in", by_cid[cid]["terms"]),
                 ("block_id", "in", sorted(bids)))
                for cid, bids in gbids.items()])
    posts = zip(*(seg.column(c).to_pylist()
                  for c in ("field", "term", "block_id", "payload")))
    lens_map: Dict[Tuple[str, int], Tuple] = {}
    if mode != "elasticlunr":
        lt = scan(index, "seg_lens", ["field", "block_id", "payload"],
                  [(("field", "==", f), ("block_id", "in", sorted(
                      {p[1] for p in fetch_pairs if p[0] == f})))
                   for f in sorted({p[0] for p in fetch_pairs})])
        for f, bid, pl in zip(*(lt.column(i).to_pylist()
                                for i in range(3))):
            lo, lv = decode_block_arrays(pl, bid * block_size)
            lens_map[(f, bid)] = (lo, lv.astype(np.float64))

    # (field, term) -> every clause referencing it (same-field clauses
    # each take their own contribution from one decoded block)
    tmap: Dict[Tuple[str, str], list] = {}
    for r in stats:
        tmap.setdefault((r[1], r[2]), []).append((r[0], r[3], r[4], r[7]))
    cids = sorted(by_cid)
    cinfo = {r[0]: (r[5], r[6]) for r in stats}
    neg_cids = {r[0] for r in stats if r[9]}
    req_cids = {r[0] for r in stats if r[8]} - neg_cids
    tomb_arr = (np.fromiter(sorted(tomb), dtype=np.int64)
                if tomb else None)

    # per-clause vectorized aggregation (the groupBy(ord) of the
    # distributed exact_scores, via numpy grouping — no per-entry
    # Python loop anywhere)
    parts: Dict[int, list] = {cid: [] for cid in cids}
    for field, term, bid, payload in posts:
        key = (field, term)
        if key not in tmap:  # candidate block of a term no clause kept
            continue
        oa, tf = decode_block_arrays(payload, bid * block_size)
        if not oa.size:
            continue
        tfa = tf.astype(np.float64)
        if tomb_arr is not None:
            keep = ~np.isin(oa, tomb_arr)
            if not keep.all():
                oa, tfa = oa[keep], tfa[keep]
                if oa.size == 0:
                    continue
        for cid, w, mult, avgdl in tmap[key]:
            if mode == "elasticlunr":
                sc = np.sqrt(tfa) * w
            else:
                lc = lens_map.get((field, bid))
                if lc is None:  # no len block (shouldn't happen; be safe)
                    return None
                lo, lv = lc
                dl = lv[np.searchsorted(lo, oa)]
                sc = w * (tfa * (k1 + 1.0)) / (
                    tfa + k1 * (1.0 - b + b * dl / avgdl))
            parts[cid].append((oa, sc, int(mult)))

    # clause msm/boost/query-msm algebra — the exact_scores select,
    # in-process over the union of the clauses' ordinal sets
    per_cid: Dict[int, Tuple] = {}
    for cid in cids:
        if not parts[cid]:
            continue
        oa = np.concatenate([p[0] for p in parts[cid]])
        sc = np.concatenate([p[1] for p in parts[cid]])
        ml = np.concatenate([np.full(p[0].size, p[2], dtype=np.int64)
                             for p in parts[cid]])
        uo, inv = np.unique(oa, return_inverse=True)
        if mode == "elasticlunr":
            rawv = np.full(uo.size, -np.inf)
            np.maximum.at(rawv, inv, sc)
        else:
            rawv = np.zeros(uo.size)
            np.add.at(rawv, inv, sc)
        cnt = np.zeros(uo.size, dtype=np.int64)
        np.add.at(cnt, inv, ml)
        per_cid[cid] = (uo, rawv, cnt)

    empty = empty_df(spark, "docid string, score double")
    if not per_cid:
        return empty
    # any required clause with no decoded postings -> nothing qualifies
    if req_cids - set(per_cid):
        return empty
    all_ords = np.unique(np.concatenate([v[0] for v in per_cid.values()]))
    score_v = np.zeros(all_ords.size)
    match_v = np.zeros(all_ords.size, dtype=np.int64)
    reqm_v = np.zeros(all_ords.size, dtype=np.int64)
    negm_v = np.zeros(all_ords.size, dtype=np.int64)
    for cid in cids:
        if cid not in per_cid:
            continue
        boost, cmsm = cinfo[cid]
        uo, rawv, cnt = per_cid[cid]
        ok = cnt >= cmsm
        pos = np.searchsorted(all_ords, uo)
        if cid in neg_cids:
            # exclusion only: no score, no msm contribution
            negm_v[pos] += ok.astype(np.int64)
            continue
        score_v[pos] += np.where(ok, rawv * boost, 0.0)
        if cid in req_cids:
            reqm_v[pos] += ok.astype(np.int64)
        else:
            match_v[pos] += ok.astype(np.int64)
    qual = ((match_v >= msm) & (reqm_v == len(req_cids))
            & (negm_v == 0))
    if not qual.any():
        return empty
    result = dict(zip(all_ords[qual].tolist(), score_v[qual].tolist()))

    # docid resolve for the boundary set only: every ord whose score
    # ties-or-beats the k-th score (the docid tie-break needs real
    # docids, and only there)
    svals = sorted(result.values(), reverse=True)
    kth = svals[min(k, len(svals)) - 1]
    bound_ords = [oo for oo, s in result.items() if s >= kth]
    if len(bound_ords) > RESOLVE_INLINE_CAP:
        return None
    ot = scan(index, "ordinals", ["ord", "docid"],
              [(("ord", "in", bound_ords),)])
    omap = dict(zip(ot.column(0).to_pylist(), ot.column(1).to_pylist()))
    top = sorted(((omap[oo], result[oo]) for oo in bound_ords),
                 key=lambda p: (-p[1], p[0]))[:k]
    # inline literal relation: collecting the result costs ZERO tasks
    # (createDataFrame would slice 10 rows over defaultParallelism)
    return inline_rows(spark, top, "docid string, score double")


def wand_topk_multi(
    index,
    clauses: List[WandClause],
    k: int = 10,
    mode: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    msm: int = 1,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """Top-k (docid, score) over the clause list — rank-identical to
    the exhaustive bool/should-of-terms plan (or the bare terms plan
    for a single clause). Clauses may repeat a field (a bool's must and
    should both targeting ``text``): the candidate scan is deduplicated
    per (field, term, block) and the meta join fans each decoded entry
    out to every clause that references its term.

    ``required`` clauses (bool must) gate qualification and do not
    count toward ``msm`` (which counts matching OPTIONAL clauses);
    with required clauses present ``msm`` may be 0 — the executor's
    must-without-should shape (BoolNode.effective_msm)."""
    spark = index.postings.sparkSession
    empty = empty_df(spark, "docid string, score double")
    neg_cids = {i for i, c in enumerate(clauses)
                if getattr(c, "negative", False)}
    req_cids = {i for i, c in enumerate(clauses)
                if getattr(c, "required", False)} - neg_cids
    if neg_cids and not req_cids:
        # without a must, the executor seeds base docs with the
        # NotNode's own score (universe minus matched, score 1.0) —
        # a different algebra; callers route that shape exhaustively
        raise ValueError("negative wand clauses need a required clause")
    msm = max(int(msm), 0 if req_cids else 1)

    segments, ordinals = index.segments(block_size)
    # decode must use the block size the segments were actually built
    # with (segments() may reuse an earlier build)
    block_size = index._segments[0]

    # ---- candidate block metadata (one pushed read, deduped terms) -----
    # the read needs only the RESOLVED clause terms (absent vocabulary
    # terms match no segment rows)
    pairs = [(c.field, t) for c in clauses for t in c.terms]
    if not pairs:
        # no clauses (or none with terms): nothing to read or score
        return empty
    from .scorer import _pairs_cond, _pairs_dnf

    stats = _clause_stats(index, clauses, mode)
    if not stats:
        return empty
    # a required clause none of whose terms exist in the vocabulary can
    # never match — and would otherwise silently drop out of the
    # qualification algebra (no stats rows -> no cid anywhere)
    if req_cids - {row[0] for row in stats}:
        return empty
    phys = scan(index, "segments",
                ["field", "term", "block_id", "max_tf_raw", "n_docs",
                 "block_bytes"], _pairs_dnf(pairs), limit=METADATA_CAP + 1)
    # lazy: the meta broadcast relation and the distributed candidate
    # plan are only needed on the DISTRIBUTED paths — the driver-serve
    # fast path (the common warm-query case) never builds them
    cand_box: list = []
    meta_box: list = []

    def _meta() -> DataFrame:
        if not meta_box:
            meta_box.append(
                F.broadcast(inline_rows(spark, stats, _META_SCHEMA)))
        return meta_box[0]

    def _cand() -> DataFrame:
        if not cand_box:
            # ONE scan, each (field, term, block) row exactly once; the
            # meta join assigns cids (one output row per clause
            # referencing the term)
            c = segments.where(_pairs_cond(pairs)).join(
                _meta(), ["field", "term"])
            if mode == "elasticlunr":
                ub = (F.sqrt(F.col("max_tf_raw"))
                      * F.col("w") * F.col("boost"))
            else:
                ub = (F.col("w") * F.col("boost")
                      * (F.col("max_tf_raw") * (k1 + 1.0))
                      / (F.col("max_tf_raw") + k1 * (1.0 - b)))
            cand_box.append(c.withColumn("ub", ub))
        return cand_box[0]

    by_cid: Dict[int, dict] = {}
    for row in stats:
        by_cid.setdefault(row[0], {"field": row[1], "terms": []})
        by_cid[row[0]]["terms"].append(row[2])

    # ---- driver-side block bookkeeping ---------------------------------
    # ONE capped metadata read per query — the RAW (field, term, block)
    # rows of the candidate blocks (pushed term predicates; no meta
    # join: the per-clause fan-out and the ub upper bounds are computed
    # here in Python from `stats`, bit-identically — same IEEE doubles,
    # same operation order as the JVM expressions in _cand()). The rows
    # feed the coverage prune, the seed choice, AND the phase-2
    # block-max pruning entirely driver-side (each would otherwise be
    # its own Spark job). Beyond the cap every prune decision moves back
    # into distributed jobs — never wrong, just more jobs.
    phys_rows = phys.to_pylist()
    stats_by_ft: Dict[Tuple[str, str], list] = {}
    for row in stats:
        stats_by_ft.setdefault((row[1], row[2]), []).append(row)
    if mode == "elasticlunr":
        def _ub_py(mtf, w_, boost_):
            return math.sqrt(mtf) * w_ * boost_
    else:
        def _ub_py(mtf, w_, boost_):
            return (w_ * boost_ * (mtf * (k1 + 1.0))
                    / (mtf + k1 * (1.0 - b)))
    meta_rows = [
        {"cid": srow[0], "term": r["term"], "block_id": r["block_id"],
         "ub": _ub_py(r["max_tf_raw"], srow[3], srow[5]),
         "mult": srow[4], "cmsm": srow[6],
         "n_docs": r["n_docs"], "block_bytes": r["block_bytes"]}
        for r in phys_rows
        for srow in stats_by_ft.get((r["field"], r["term"]), ())
    ]
    lens_pairs: Optional[List[Tuple[str, int]]] = None
    good: Optional[Dict[int, dict]] = None
    single_phase = False
    driver_meta = (len(phys_rows) <= METADATA_CAP
                   and len(meta_rows) <= METADATA_CAP)
    if driver_meta:
        # coverage prune: per-(block, clause) multiplicity coverage;
        # matchable-clause count per block must reach the query msm
        by_bc: Dict[Tuple[int, int], dict] = {}
        for r in meta_rows:
            e = by_bc.setdefault((r["block_id"], r["cid"]),
                                 {"cov": 0, "pot": 0.0, "cmsm": r["cmsm"],
                                  "terms": [], "nd": 0})
            e["cov"] += r["mult"]
            e["pot"] = (max(e["pot"], r["ub"]) if mode == "elasticlunr"
                        else e["pot"] + r["ub"])
            e["terms"].append((r["term"], r["ub"]))
            e["nd"] += r["n_docs"]
        by_b: Dict[int, dict] = {}
        for (bid, cid), e in by_bc.items():
            # NB: never bind plain `b` here — it is the BM25 parameter
            bb = by_b.setdefault(bid, {"nmatch": 0, "nreq": 0,
                                       "pot": 0.0, "cids": []})
            if cid in neg_cids:
                continue  # exclusion never makes a block matchable
            if e["cov"] >= e["cmsm"]:
                if cid in req_cids:
                    bb["nreq"] += 1
                else:
                    bb["nmatch"] += 1
                bb["pot"] += e["pot"]
                bb["cids"].append(cid)
        # ordinal alignment makes this exact: every entry of a doc
        # lives at one block_id, so a doc can only qualify at blocks
        # where ALL required clauses are matchable AND >= msm optional
        # clauses are matchable
        good = {bid: e for bid, e in by_b.items()
                if e["nmatch"] >= msm and e["nreq"] == len(req_cids)}
        if not good:
            return empty
        # negative clauses ride along at every good block: their
        # entries must be DECODED there to exclude matching docs
        # (a block with no positive candidates needs no exclusions)
        if neg_cids:
            for bid, e in good.items():
                for cid in neg_cids:
                    if (bid, cid) in by_bc:
                        e["cids"].append(cid)
        live_entries = sum(by_bc[(bid, cid)]["nd"]
                           for bid, e in good.items() for cid in e["cids"])
        single_phase = live_entries <= SINGLE_PHASE_ENTRIES
        seed_ids = [bid for bid, _ in sorted(
            good.items(), key=lambda kv: -kv[1]["pot"])[:SEED_BLOCK_IDS]]
        lens_pairs = sorted({
            (by_cid[cid]["field"], bid)
            for bid, e in good.items() for cid in e["cids"]})
        good_triples = [
            (cid, t, bid)
            for bid, e in good.items() for cid in e["cids"]
            for (t, _u) in by_bc[(bid, cid)]["terms"]]
        # byte-capped driver serving (see _serve_from_driver): decodes
        # the SAME fetch set exactly, so it needs neither the θ seed
        # nor the block-max prune — correct in both phase regimes
        served = _serve_from_driver(index, stats, by_cid, good,
                                    meta_rows, k, mode, k1, b, msm,
                                    block_size)
        if served is not None:
            return served
        cand = _restrict_triples(_cand(), good_triples)
    else:
        # sum-of-ubs is a seed-choice heuristic only (exactness of the
        # seed scores never depends on which block_ids are picked)
        cand = _cand()
        pot_b = cand.groupBy("block_id").agg(F.sum("ub").alias("p"))
        seed_ids = [r["block_id"] for r in
                    pot_b.orderBy(F.desc("p")).limit(SEED_BLOCK_IDS).collect()]

    # ---- shared decode + exact aggregation ----------------------------
    dead = sorted(index._dead_ords)
    cids = sorted(by_cid)
    cinfo = {row[0]: (row[5], row[6]) for row in stats}  # cid: boost, cmsm
    # same-field clauses can reference the same vocabulary term; cand
    # then carries one row PER CLAUSE for one physical block, and
    # decoding both would double the entries each clause sees after the
    # meta fan-out join (breaks bm25 sums; elasticlunr's max hides it).
    # Decode each physical block once — the dedup shuffle is paid only
    # when clauses actually share a (field, term).
    shared_terms = len({(r[1], r[2]) for r in stats}) < len(stats)

    def _with_lens(blocks: DataFrame,
                   pairs: Optional[List[Tuple[str, int]]]) -> DataFrame:
        # the len block for (field, block_id) rides along the posting
        # blocks as a payload column (block-METADATA join — never
        # per-posting rows); decode then emits doc_len in the same
        # Python pass (decode_segments_with_lens). Known candidate
        # pairs make the lens side a pushed-filter broadcast.
        lens = index.seg_len_blocks(block_size).select(
            "field", "block_id", F.col("payload").alias("len_payload"))
        base = blocks.select("field", "term", "block_id", "payload")
        if pairs is not None:
            cond = F.expr(" OR ".join(
                "(" + sql_eq("field", f) + " AND " + sql_in(
                    "block_id", [p[1] for p in pairs if p[0] == f]) + ")"
                for f in sorted({p[0] for p in pairs})))
            return base.join(F.broadcast(lens.where(cond)),
                             ["field", "block_id"], "left")
        return base.join(lens, ["field", "block_id"], "left")

    def exact_scores(blocks: DataFrame,
                     pairs: Optional[List[Tuple[str, int]]]) -> DataFrame:
        if shared_terms:
            # payload participates in the key: clause-shared terms
            # contribute EXACT duplicate rows (same payload), which
            # collapse — but partial blocks sharing (field, term,
            # block_id) with DISTINCT payloads (streaming-builder seams,
            # re-blocked v4 loads) are disjoint ord subsets that must
            # BOTH survive to decode
            blocks = blocks.select(
                "field", "term", "block_id", "payload"
            ).dropDuplicates(["field", "term", "block_id", "payload"])
        if mode == "elasticlunr":
            decoded = decode_segments(
                blocks.select("field", "term", "block_id", "payload"),
                block_size)
            entry = F.sqrt(F.col("tf_raw")) * F.col("w")
        else:
            decoded = decode_segments_with_lens(
                _with_lens(blocks, pairs), block_size)
            entry = F.col("w") * (F.col("tf_raw") * (k1 + 1.0)) / (
                F.col("tf_raw")
                + k1 * (1.0 - b + b * F.col("doc_len") / F.col("avgdl"))
            )
        # multi-generation indexes (build/deltas.py) keep tombstoned
        # docs inside segment payloads until compact(); filter them in
        # BOTH phases — an unfiltered seed could set the threshold from
        # a removed doc's score and wrongly prune live blocks
        if dead:
            decoded = decoded.where(~in_expr("ord", dead))
        decoded = decoded.join(_meta(), ["field", "term"])
        # ONE groupBy(ord) — the per-clause raw scores and matched-entry
        # counts are conditional aggregates (clause list is query-sized),
        # then the clause msm/boost/query-msm algebra is a flat select:
        # one shuffle where the naive (ord, cid) -> (ord) plan takes two
        aggs = []
        for cid in cids:
            is_c = F.col("cid") == cid
            if cid not in neg_cids:
                raw_agg = (F.max(F.when(is_c, entry))
                           if mode == "elasticlunr"
                           else F.sum(F.when(is_c, entry)))
                aggs.append(raw_agg.alias(f"raw{cid}"))
            aggs.append(
                F.sum(F.when(is_c, F.col("mult")).otherwise(F.lit(0)))
                .alias(f"n{cid}"))
        g = decoded.groupBy("ord").agg(*aggs)
        score = None
        matched = None  # matching OPTIONAL clauses (the msm currency)
        reqm = None     # matching REQUIRED clauses (must all match)
        negm = None     # matching NEGATIVE clauses (must all miss)
        for cid in cids:
            boost, cmsm = cinfo[cid]
            ok = F.col(f"n{cid}") >= F.lit(cmsm)
            cm = F.when(ok, F.lit(1)).otherwise(F.lit(0))
            if cid in neg_cids:
                negm = cm if negm is None else (negm + cm)
                continue  # exclusion only: no score, no msm count
            csc = F.when(ok, F.col(f"raw{cid}") * F.lit(boost)) \
                .otherwise(F.lit(0.0))
            score = csc if score is None else (score + csc)
            if cid in req_cids:
                reqm = cm if reqm is None else (reqm + cm)
            else:
                matched = cm if matched is None else (matched + cm)
        matched = matched if matched is not None else F.lit(0)
        qual = matched >= F.lit(msm)
        if req_cids:
            reqm = reqm if reqm is not None else F.lit(0)
            qual = qual & (reqm == F.lit(len(req_cids)))
        if negm is not None:
            qual = qual & (negm == F.lit(0))
        return (
            g.select("ord", score.alias("score"), qual.alias("qual"))
            .where(F.col("qual"))
            .select("ord", "score")
        )

    # ---- phase 1: exact threshold from the best-aligned block_ids ------
    # (skipped when the candidate set is SINGLE_PHASE_ENTRIES-small —
    # theta stays 0 and everything left after the coverage prune is
    # exact-scored in one job)
    theta = 0.0
    if seed_ids and not single_phase:
        seed_pairs = sorted({(info["field"], bid)
                             for bid in seed_ids
                             for info in by_cid.values()})
        seed = (
            exact_scores(cand.where(in_expr("block_id", seed_ids)),
                         seed_pairs)
            .select("score").orderBy(F.desc("score")).limit(k).collect()
        )
        if len(seed) >= k:
            theta = seed[-1]["score"]

    # ---- phase 2: block-max pruning ------------------------------------
    if theta > 0 and driver_meta:
        # all bounds already sit on the driver: compute the surviving
        # (clause, term, block) triples here and push ONE broadcast
        # semi-join — no gub job, no pmeta joins
        # bounds exclude negative clauses (they contribute 0 to any
        # doc's score — including them would only loosen the prune)
        gubd: Dict[Tuple[int, str], float] = {}
        for bid, e in good.items():
            for cid in e["cids"]:
                if cid in neg_cids:
                    continue
                for t, u in by_bc[(bid, cid)]["terms"]:
                    k2 = (cid, t)
                    if u > gubd.get(k2, 0.0):
                        gubd[k2] = u
        surv: List[Tuple[int, str, int]] = []
        # negative blocks are EXEMPT from threshold pruning: a doc
        # above θ in a surviving positive block must still be
        # excludable, so every negative entry at a good block survives
        for bid, e in good.items():
            for cid in e["cids"]:
                if cid in neg_cids:
                    for t, _u in by_bc[(bid, cid)]["terms"]:
                        surv.append((cid, t, bid))
        if mode == "elasticlunr":
            cgub: Dict[int, float] = {}
            # per clause: best and second-best term bound (for "max
            # OTHER term in this clause" without a quadratic loop)
            best: Dict[int, Tuple[float, Optional[str], float]] = {}
            for (cid, t), g in gubd.items():
                cgub[cid] = max(cgub.get(cid, 0.0), g)
                b1, bt, b2 = best.get(cid, (0.0, None, 0.0))
                if g > b1:
                    best[cid] = (g, t, b1)
                elif g > b2:
                    best[cid] = (b1, bt, g)
            total_cgub = sum(cgub.values())
            for bid, e in good.items():
                for cid in e["cids"]:
                    if cid in neg_cids:
                        continue  # already kept unconditionally above
                    b1, bt, b2 = best[cid]
                    oadd = total_cgub - cgub[cid]
                    for t, u in by_bc[(bid, cid)]["terms"]:
                        cmaxo = b2 if t == bt else b1
                        if max(u, cmaxo) + oadd >= theta - EPS:
                            surv.append((cid, t, bid))
        else:
            total_gub = sum(gubd.values())
            for bid, e in good.items():
                for cid in e["cids"]:
                    if cid in neg_cids:
                        continue  # already kept unconditionally above
                    for t, u in by_bc[(bid, cid)]["terms"]:
                        if u + (total_gub - gubd[(cid, t)]) >= theta - EPS:
                            surv.append((cid, t, bid))
        if surv:
            survivors = _restrict_triples(cand, surv)
            lens_pairs = sorted({(by_cid[cid]["field"], bid)
                                 for cid, _t, bid in surv})
        else:  # degenerate — rescore the good set exactly (never wrong)
            survivors = cand
    elif theta > 0:
        gub: Dict[Tuple[int, str], float] = {}
        for r in cand.groupBy("cid", "term").agg(
                F.max("ub").alias("g")).collect():
            gub[(r["cid"], r["term"])] = r["g"]
        inf = float("inf")  # negative rows: pruning-exempt (see above)
        if mode == "elasticlunr":
            cgub: Dict[int, float] = {}
            for (cid, _t), g in gub.items():
                if cid not in neg_cids:  # negatives add 0 to any score
                    cgub[cid] = max(cgub.get(cid, 0.0), g)
            total_cgub = sum(cgub.values())
            # keep-rule: max(ub, best OTHER term in this clause) plus
            # the other clauses' ceilings must clear θ
            pmeta = F.broadcast(inline_rows(
                spark,
                [(cid, t,
                  0.0 if cid in neg_cids else
                  max([g2 for (c2, t2), g2 in gub.items()
                       if c2 == cid and t2 != t] or [0.0]),
                  inf if cid in neg_cids else total_cgub - cgub[cid])
                 for (cid, t) in sorted(gub)],
                "cid int, term string, cmaxo double, oadd double"))
            scored = cand.join(pmeta, ["cid", "term"])
            keep = (F.greatest(F.col("ub"), F.col("cmaxo"))
                    + F.col("oadd")) >= theta - EPS
        else:
            total_gub = sum(g for (cid, _t), g in gub.items()
                            if cid not in neg_cids)
            pmeta = F.broadcast(inline_rows(
                spark,
                sorted((cid, t,
                        inf if cid in neg_cids else total_gub - g)
                       for (cid, t), g in gub.items()),
                _PRUNE_SCHEMA))
            scored = cand.join(pmeta, ["cid", "term"])
            keep = (F.col("ub") + F.col("pbound")) >= theta - EPS
        survivors = scored.where(keep)
    else:
        survivors = cand

    # join docids BEFORE the top-k limit: the tie-break at the k-th
    # score must be on docid (the exhaustive scorer's tie-break) — an
    # ord tie-break is only equivalent while ordinals are assigned in
    # docid sort order, which ingest-time (partition-strided) ordinal
    # assignment does not guarantee. The join input is the pruned
    # candidate set, not the corpus.
    return (
        exact_scores(survivors, lens_pairs)
        .join(ordinals, "ord")
        .select("docid", "score")
        .orderBy(F.desc("score"), F.asc("docid"))
        .limit(k)
    )


def wand_topk(
    index,
    field: str,
    terms: List[str],
    k: int = 10,
    mode: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
    block_size: int = DEFAULT_BLOCK_SIZE,
    expand: bool = False,
    fuzziness: int = 0,
    regex: bool = False,
    msm: int = 1,
) -> DataFrame:
    """Single-field top-k — rank-identical to the exhaustive scorer for
    any minimum_should_match (exact terms, or prefix/fuzzy/regex
    expansion). Thin wrapper over :func:`wand_topk_multi`."""
    clause = resolve_clause(index, field, terms, boost=boost, msm=msm,
                            expand=expand, fuzziness=fuzziness, regex=regex)
    if not clause.terms:
        spark = index.postings.sparkSession
        return empty_df(spark, "docid string, score double")
    return wand_topk_multi(index, [clause], k=k, mode=mode, k1=k1, b=b,
                           msm=1, block_size=block_size)
