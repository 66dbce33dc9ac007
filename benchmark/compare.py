"""Compare two run sets written by ``runset.py``.

    python3 benchmark/compare.py base.jsonl change.jsonl
    python3 benchmark/compare.py --overhead untraced.jsonl traced.jsonl

Per workload and end-to-end metric: each set's median and quartiles,
its spread (quartile distance over median), and the change's median
shift against the metric's bound from BENCHMARK.json. A row fails when
the change is worse than the base by more than the bound, or when
either set's spread exceeds the bound. With
``--overhead`` the second set is a traced one, and the shift column is
the tracing overhead (reported, never failed). Exits 1 if any row fails
or any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load(path: str):
    """{workload: {metric: [values]}}, and the number of failed runs."""
    out, bad = {}, 0
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            res = rec["result"]
            if rec["exit"] != 0 or res is None or not res["correct"]:
                bad += 1
                continue
            e2e = rec["end_to_end"]
            per = out.setdefault(rec["workload"], {})
            for name, value in e2e.items():
                per.setdefault(name, []).append(value)
    return out, bad


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--overhead", action="store_true",
                    help="the second set is traced: report tracing overhead")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, bad_a = load(args.base)
    b, bad_b = load(args.change)
    failed = bad_a + bad_b
    print(f"failed runs: base {bad_a}, change {bad_b}")
    hdr = (f"{'workload':<8} {'metric':<28} {'n':>5} {'base q1/med/q3':>30} "
           f"{'change q1/med/q3':>30} {'spread':>13} {'shift':>8} "
           f"{'bound':>6}  verdict")
    print(hdr)
    for w in sorted(set(a) | set(b)):
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va, vb = a.get(w, {}).get(name, []), b.get(w, {}).get(name, [])
            if not va or not vb:
                print(f"{w:<8} {name:<28} missing")
                failed += 1
                continue
            qa, qb = quartiles(va), quartiles(vb)
            spread_a = (qa[2] - qa[0]) / qa[1]
            spread_b = (qb[2] - qb[0]) / qb[1]
            shift = (qb[1] - qa[1]) / qa[1]
            worse = -shift if m["better"] == "higher" else shift
            if args.overhead:
                ok = True  # a report, not a gate
            else:
                ok = (worse <= bound and spread_a <= bound
                      and spread_b <= bound)
            failed += not ok
            print(f"{w:<8} {name:<28} {len(va):>2}/{len(vb):<2} "
                  f"{qa[0]:>9.4g}/{qa[1]:>9.4g}/{qa[2]:>9.4g} "
                  f"{qb[0]:>9.4g}/{qb[1]:>9.4g}/{qb[2]:>9.4g} "
                  f"{spread_a:>6.3f}/{spread_b:<6.3f} {shift:>+8.3f} "
                  f"{bound:>6.2f}  {'ok' if ok else 'FAIL'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
