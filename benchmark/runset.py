"""Run a set of benchmark runs and record them as JSON lines.

    python3 benchmark/runset.py --out runs-a.jsonl --seeds 1-10
    python3 benchmark/runset.py --out traced.jsonl --seeds 1-3 --trace 1

Each line holds one run: workload, seed, trace flag, exit code, wall
seconds, seconds per phase, the result object (the run's last stdout
line) and the end-to-end metrics it printed (also present for traced
runs, which is what ``compare.py --overhead`` uses). Runs go one at a
time, workloads interleaved per seed. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("benchmark", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace,
           "exit": p.returncode, "wall_s": wall, "result": None,
           "end_to_end": None}
    for line in lines:
        if line.startswith("end_to_end "):
            rec["end_to_end"] = json.loads(line[len("end_to_end "):])
        elif line.startswith("# phase seconds "):
            rec["phases"] = json.loads(line[len("# phase seconds "):])
    if lines:
        try:
            rec["result"] = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return rec


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    bad = 0
    with open(args.out, "a") as fh:
        for seed in seeds(args.seeds):
            for w in args.workloads.split(","):
                rec = run_one(w, seed, args.seconds, args.trace)
                fh.write(json.dumps(rec) + "\n")
                fh.flush()
                ok = rec["exit"] == 0 and rec["result"] is not None
                bad += not ok
                print(f"{w:<8} seed {seed:<4} exit {rec['exit']} "
                      f"wall {rec['wall_s']:6.1f}s", flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
