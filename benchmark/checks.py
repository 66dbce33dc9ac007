"""Correctness checks, run after the measured window.

Every mismatch is counted as a failed op. The referee for ranked
results is the pure-Python oracle in ``tests/oracle`` (the same one the
test suite uses), fed the corpus state of the reader the clients ran on:
the base corpus (``serve``), or the base plus the delta batch minus the
tombstoned turns (``ingest``). The doc count is checked on that reader.
"""

from __future__ import annotations

import json
import random
from typing import Dict, List

from ex_elasticlunr_spark.analysis import Pipeline
from tests.oracle import OracleIndex
from tests.oracle.core import search as oracle_search

SCORE_TOL = 1e-9
MANY_TOL = 1e-6        # search_many rounds scores to 6 decimals
ORACLE_SAMPLE = 12     # distinct issued queries compared per run
MANY_RECHECK = 1       # search_many sub-queries re-run one by one
ORACLE_CLASSES = ("term", "or", "and", "bool", "fuzzy", "prefix")


def oracle_index(rows: Dict[str, dict]):
    """The reference index over ``rows`` (docid -> {"text", "tool"})."""
    oidx = OracleIndex().add_field("text").add_field("tool")
    # one bulk add per field (OracleIndex.add_documents re-derives idf
    # after every document, which is quadratic at corpus size)
    for name, f in oidx.fields.items():
        f.add([(d, r[name]) for d, r in rows.items()])
    return oidx


def apply_commit(oidx, gone: List[str], added: Dict[str, dict]):
    """Bring the reference index to the corpus state after a delta
    commit that tombstones ``gone`` and adds ``added``."""
    for name, f in oidx.fields.items():
        f.remove(gone)
        f.add([(d, r[name]) for d, r in added.items()])


def ranked_equal(got: List[tuple], want: List[tuple], k: int,
                 tol: float) -> bool:
    """``got`` (the engine's top-k) is the oracle's top-k.

    Both sides order by (score desc, docid asc). Scores must agree
    rank by rank within ``tol``. Docids must agree exactly, except inside
    a run of scores tied within ``tol``, where float summation order may
    legitimately reorder docs; there the sets must agree, and at the
    top-k cut the engine's docs must come from the oracle's tied run.
    """
    want_k = want[:k]
    if len(got) != len(want_k):
        return False
    for (_, gs), (_, ws) in zip(got, want_k):
        if abs(gs - ws) > tol:
            return False
    i = 0
    while i < len(got):
        j = i
        while j + 1 < len(want) and abs(want[j + 1][1] - want[i][1]) <= tol:
            j += 1
        tied = {d for d, _ in want[i:j + 1]}
        end = min(j + 1, len(got))
        if not {d for d, _ in got[i:end]} <= tied:
            return False
        i = end
    return True


def check(bench) -> Dict[str, int]:
    """Run every check on ``bench``; returns counts per check. Failures
    go to ``bench.fail``."""
    rng = random.Random(f"{bench.seed}:check")
    stats = {"oracle": 0, "phrase": 0, "many": 0, "markers": 0, "count": 0}

    # distinct issued queries, in a seeded sample
    distinct: Dict[str, dict] = {}
    for rec in sorted(bench.queries, key=lambda r: r["op"]):
        if rec["ok"]:
            key = json.dumps([rec["q"]["cls"], rec["q"]["mode"],
                              rec["q"]["query"]], sort_keys=True)
            distinct.setdefault(key, rec)
    recs = list(distinct.values())
    ranked = [r for r in recs if r["q"]["cls"] in ORACLE_CLASSES]
    sample = rng.sample(ranked, min(ORACLE_SAMPLE, len(ranked)))
    many = [r for r in recs if r["q"]["cls"] == "many"]

    docs, oidx = bench.docs, bench.oracle
    if set(oidx.fields["text"].ids) != set(docs):
        raise RuntimeError("reference index does not hold the reader's docs")
    for rec in sample:
        q = rec["q"]
        view = oidx.bm25() if q["mode"] == "bm25" else oidx
        want = [(r["ref"], r["score"])
                for r in oracle_search(view, q["query"])]
        got = [(r["docid"], r["score"]) for r in rec["rows"]]
        stats["oracle"] += 1
        if not ranked_equal(got, want, 10, SCORE_TOL):
            bench.fail(f"oracle mismatch: {q['query']} ({q['mode']}): "
                       f"got {got[:3]} want {want[:3]}")
            rec["ok"] = False
    for rec in rng.sample(many, 1) if many else []:
        stats["many"] += 1
        if not _check_many(bench, rec, oidx):
            rec["ok"] = False

    pipe = Pipeline.default()
    tokens: Dict[str, List[str]] = {}  # docid -> analyzed text
    for rec in recs:
        if rec["q"]["cls"] != "phrase":
            continue
        stats["phrase"] += 1
        if not _check_phrase(rec, docs, oidx, pipe, tokens):
            bench.fail(f"phrase mismatch: {rec['q']['query']}")
            rec["ok"] = False

    # marker lookups fail their op when they run; here they are counted
    stats["markers"] = len(bench.marker_docid)

    # doc count of the clients' reader: every corpus turn, after deltas
    n = bench.reader.documents_size()
    stats["count"] = 1
    if n != len(docs):
        bench.fail(f"doc count {n} != {len(docs)} turns")
    return stats


def _check_phrase(rec: dict, docs: Dict[str, dict], oidx, pipe,
                  tokens: Dict[str, List[str]]) -> bool:
    """Every hit has the analyzed phrase at consecutive token positions,
    and the hit count is min(top-k, docs that contain the phrase). Only
    docs holding every phrase term (the oracle's postings) are
    re-analyzed for the count."""
    phrase = pipe.run_terms(rec["q"]["query"]["query"]["match_phrase"]["text"])
    n = len(phrase)
    postings = oidx.fields["text"].term_docs
    holders = (set.intersection(*(set(postings.get(t, ())) for t in phrase))
               if phrase else set(docs))

    def has(docid: str) -> bool:
        if docid not in tokens:
            tokens[docid] = pipe.run_terms(docs[docid]["text"])
        toks = tokens[docid]
        return any(toks[i:i + n] == phrase for i in range(len(toks) - n + 1))

    hits = [r["docid"] for r in rec["rows"]]
    if not all(d in docs and has(d) for d in hits):
        return False
    return len(hits) == min(10, sum(1 for d in holders if has(d)))


def _check_many(bench, rec: dict, oidx) -> bool:
    """A search_many batch: each sub-query's rows equal the oracle's bm25
    top-10 (at the 6-decimal rounding search_many applies), and a seeded
    few equal a per-query ``search_bm25`` on the same reader."""
    by_q: Dict[str, List[tuple]] = {}
    for r in sorted(rec["rows"], key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    ok = True
    view = oidx.bm25()
    for qid, text in rec["q"]["query"].items():
        want = [(r["ref"], r["score"]) for r in oracle_search(
            view, {"query": {"match": {"text": text}}})]
        if not ranked_equal(by_q.get(qid, []), want, 10, MANY_TOL):
            bench.fail(f"search_many {qid}={text!r} differs from oracle")
            ok = False
    rng = random.Random(f"{bench.seed}:many")
    reader = bench.reader
    for qid in rng.sample(sorted(rec["q"]["query"]), MANY_RECHECK):
        text = rec["q"]["query"][qid]
        single = [(r["docid"], round(r["score"], 6)) for r in
                  reader.search_bm25({"query": {"match": {"text": text}}})
                  .collect()]
        single.sort(key=lambda t: (-t[1], t[0]))
        if not ranked_equal(by_q.get(qid, []), single, 10, MANY_TOL):
            bench.fail(f"search_many {qid}={text!r} differs from search_bm25")
            ok = False
    return ok
