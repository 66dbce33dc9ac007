"""Derive the end-to-end and per-layer metrics of one run.

Names and units come from BENCHMARK.json; ``check_names`` refuses a
metric set that differs from the one declared there.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from typing import Dict, List

from . import data

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _lat_ms(rec: dict) -> float:
    return 1000 * (rec["t1"] - rec["t0"]) if rec["ok"] else math.inf


def mix_pct(recs: List[dict], p: float) -> float:
    """``p``-th percentile of query latency over the class mix the
    traffic declares (equal shares, data.CLASSES): each class weighs the
    same, shared evenly by its queries in the run, so neither a window
    that ends part-way through a round nor the classes of the repeated
    queries shift the figure. Each query sits at the middle of its
    weight on the cumulative scale; percentiles between two queries
    interpolate linearly. Failed queries sort as inf.
    """
    n: Dict[str, int] = {}
    for r in recs:
        n[r["q"]["cls"]] = n.get(r["q"]["cls"], 0) + 1
    pts = sorted((_lat_ms(r), 1 / n[r["q"]["cls"]]) for r in recs)
    target, cum = p / 100 * len(n), 0.0
    prev = None
    for v, w in pts:
        x = cum + w / 2
        cum += w
        if x >= target:
            if prev is None:
                return v
            (pv, px) = prev
            if math.inf in (pv, v):
                return math.inf
            return pv + (v - pv) * (target - px) / (x - px)
        prev = (v, x)
    return pts[-1][0]


def end_to_end(b) -> Dict[str, float]:
    s = b.setup
    return {
        "setup_s": s["build_s"] + statistics.median(s["reader_s"]),
        "index_bytes_per_input_byte":
            sum(s["storage"].values()) / b.input_bytes,
        "query_p50_ms": mix_pct(b.queries, 50),
        "query_p75_ms": mix_pct(b.queries, 75),
        "queries_per_s": throughput(b.queries),
        "peak_rss_mb": b.sampler.peak_mem / 2**20,
    }


def throughput(queries: List[dict]) -> float:
    """Queries per second while every client was busy: from the first
    query's start until the first client to stop had its last reply.
    Each query counts by the share of its time inside that span, so the
    figure does not depend on where the span cuts a query."""
    last: Dict[int, float] = {}
    for r in queries:
        last[r["client"]] = max(last.get(r["client"], 0.0), r["t1"])
    t0, t1 = min(r["t0"] for r in queries), min(last.values())
    done = sum(max(0.0, min(r["t1"], t1) - r["t0"]) / (r["t1"] - r["t0"])
               for r in queries)
    return done / (t1 - t0)


def sample_counts(b) -> Dict[str, int]:
    return {"queries": len(b.queries), "commits": int(bool(b.commit_rec)),
            "reader_setups": len(b.setup["reader_s"])}


def _overlap_frac(ivs: List[tuple], others: List[tuple]) -> float:
    """Share of the summed ``ivs`` time during which some ``others``
    interval was also open."""
    total = covered = 0.0
    for a0, a1 in ivs:
        total += a1 - a0
        edge = a0
        for b0, b1 in sorted(others):
            lo, hi = max(a0, b0, edge), min(a1, b1)
            if hi > lo:
                covered += hi - lo
                edge = hi
    return covered / total if total else 0.0


def per_layer(b, workload: str, probes: dict,
              cores: int) -> Dict[str, float]:
    s, tr = b.setup, b.tracer
    out: Dict[str, float] = {
        "sources.read_corpus_ms":
            statistics.median(tr.durations_ms("sources.read_corpus")),
        "functions.analyze_turns_per_s": probes["analyze_turns_per_s"],
        "dsl.parse_us": probes["parse_us"],
        "index.add_documents_s": s["add_s"],
        "build.save_s": s["save_s"],
        # read + add + save + first load: the set-up build's throughput
        "build.turns_per_s": b.n_turns / (s["build_s"] + s["first_load_s"]),
        "build.cpu_s": s["build_cpu_s"],
        "build.cpu_util": s["build_cpu_s"] / (s["build_s"] * cores),
        "spark.build.jobs": s["build_spark"]["jobs"],
        "spark.build.tasks": s["build_spark"]["tasks"],
        "index.load_ms": statistics.median(tr.durations_ms("index.load")),
    }
    t = s["save_timings"]
    for stage in ("ingest_wall", "cluster_wall", "ordinals_wall", "tail_wall",
                  "postings_write", "positions_write", "segments_write",
                  "stats_write"):
        out[f"build.{stage}_s"] = t[f"{stage}_sec"]
    for kind, n in s["storage"].items():
        out[f"storage.{kind}_bytes"] = n

    ok = [r for r in b.queries if r["ok"]]
    for cls in data.CLASSES:
        recs = [r for r in ok if r["q"]["cls"] == cls]
        ops = {r["op"] for r in recs}
        for part in ("call", "collect"):
            out[f"search.{cls}.{part}_ms"] = statistics.median(
                1000 * (x["end"] - x["start"]) for x in tr.spans
                if x["name"] == f"search.{cls}.{part}" and x["op"] in ops)
        counts = [r["spark"] for r in recs]
        out[f"spark.{cls}.jobs_per_query"] = statistics.mean(
            c["jobs"] for c in counts)
        out[f"spark.{cls}.tasks_per_query"] = statistics.mean(
            c["tasks"] for c in counts)
    # jobs without a job group, launched from library helper threads
    # (search_wand's segment-metadata collect) while the clients ran;
    # with two clients in flight they cannot be tied to one query
    for kind in ("jobs", "tasks"):
        out[f"spark.ungrouped.{kind}_per_query"] = \
            b.ungrouped_spark[kind] / len(b.queries)
    out["search.many.per_query_ms"] = statistics.median(
        _lat_ms(r) for r in ok if r["q"]["cls"] == "many") / data.MANY_BATCH

    # warm: every term of the query was already used by an earlier query
    # of this run (any client, warm-up included); cold: a first-seen term
    seen = {t for r in b.warmup for t in r["q"]["terms"]}
    warm, cold = [], []
    for r in sorted(ok, key=lambda r: r["t0"]):
        terms = set(r["q"]["terms"])
        (warm if terms <= seen else cold).append(_lat_ms(r))
        seen |= terms
    out["search.warm_terms_p50_ms"] = statistics.median(warm)
    out["search.cold_terms_p50_ms"] = statistics.median(cold)

    # share of a query's time during which the other client also had a
    # query in flight
    ivs: Dict[int, List[tuple]] = {}
    for r in b.queries:
        ivs.setdefault(r["client"], []).append((r["t0"], r["t1"]))
    out["client.inflight_overlap_frac"] = statistics.mean(
        _overlap_frac(mine, [iv for o, other in ivs.items()
                             if o != c for iv in other])
        for c, mine in ivs.items())
    return out


# printed with the end-to-end metrics but not declared in BENCHMARK.json:
# the failure share (0 on a correct tree; failures also show in the
# result's ``failed`` count), and the tail, which a run of 10 to 35
# queries cannot hold steady (see README.md)
UNDECLARED_UNITS = {"error_rate": "ratio", "query_p75_ms": "ms"}

INGEST_UNITS = {
    "deltas.commit_ms": "ms", "deltas.freshness_ms": "ms",
    "deltas.add_documents_ms": "ms",
    "deltas.remove_documents_ms": "ms", "deltas.save_delta_ms": "ms",
    "deltas.bytes_written_per_input_byte": "ratio", "index.reload_ms": "ms",
}


def ingest_layers(b) -> Dict[str, float]:
    """Figures of ingest's one delta commit (trace file and stdout; serve
    has no delta commit, so these are not in the per-layer set).
    ``deltas.freshness_ms`` runs from the start of the commit until a
    newly loaded reader returns its marker."""
    c = b.commit_rec

    def ms(name, op):
        return next(1000 * (x["end"] - x["start"]) for x in b.tracer.spans
                    if x["name"] == name and x["op"] == op)

    return {
        "deltas.commit_ms": 1000 * (c["t1"] - c["t0"]),
        "deltas.freshness_ms": 1000 * c["freshness_s"],
        "deltas.add_documents_ms": ms("deltas.add_documents", c["op"]),
        "deltas.remove_documents_ms": ms("deltas.remove_documents", c["op"]),
        "deltas.save_delta_ms": ms("deltas.save_delta", c["op"]),
        "deltas.bytes_written_per_input_byte": c["bytes_per_input_byte"],
        "index.reload_ms": ms("index.load", c["reload_op"]),
    }


def check_names(metrics: Dict[str, float], declared: List[dict]):
    want = {m["name"] for m in declared}
    if set(metrics) != want:
        raise RuntimeError(
            f"metric set differs from BENCHMARK.json: extra "
            f"{sorted(set(metrics) - want)}, missing "
            f"{sorted(want - set(metrics))}")
