"""Run one benchmark workload and print its metrics.

    python3 benchmark/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (and the spans go to ``.bench_out/``). Lines before it print
every metric by name with its unit. Exits 1 if any output is wrong, 2 if
the checkout lacks the program or its test oracle.

Everything the run writes stays under ``.bench_work/`` (corpus,
warehouse, Spark scratch; deleted at exit) and ``.bench_out/`` (traces).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _driver_mem_mb() -> int:
    """A quarter of physical memory, at most 1 GiB (the corpus is small)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(1024, total_kb // 4096)


def start_spark(work: str, cores: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package from the checkout; the launcher
    # and the JVM keep their scratch files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("ex_elasticlunr_spark-benchmark")
        .config("spark.driver.memory", f"{_driver_mem_mb()}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-wh"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status tracker must still hold every job of the run when
        # the per-op counts are read after the window
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, sampler):
    """Stop Spark, end the gateway JVM, and wait for the process tree."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while sampler.children() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in sampler.children():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def analyze_probe(b) -> float:
    """The analyzer pandas UDF over the corpus into Spark's noop sink;
    median turns/s of three passes."""
    from ex_elasticlunr_spark.functions.udfs import analyze_udf
    from ex_elasticlunr_spark.sources.io import read_corpus

    df = read_corpus(b.spark, os.path.join(b.work, "corpus"))
    analyze = analyze_udf()
    rates = []
    for _ in range(3):
        t = time.perf_counter()
        with b.span("functions.analyze"):
            (df.select(analyze("text").alias("t"), analyze("tool").alias("u"))
             .write.format("noop").mode("overwrite").save())
        rates.append(b.n_turns / (time.perf_counter() - t))
    return statistics.median(rates)


def parse_probe(b) -> float:
    """Median microseconds to parse one of the run's DSL queries."""
    from ex_elasticlunr_spark.dsl.nodes import parse

    qs = [r["q"]["query"]["query"] for r in b.queries
          if r["q"]["cls"] != "many"]
    t = time.perf_counter()
    reps = 200
    for _ in range(reps):
        for q in qs:
            parse(q)
    return 1e6 * (time.perf_counter() - t) / (reps * len(qs))


def table(title: str, metrics: dict, units: dict):
    print(f"# {title}")
    for name, value in metrics.items():
        print(f"  {name:<40} {value:>16.6g} {units.get(name, '')}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "ex_elasticlunr_spark"))
            and os.path.isdir(os.path.join(ROOT, "tests", "oracle"))):
        print("benchmark: run from a checkout that holds ex_elasticlunr_spark/"
              " and tests/oracle/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from benchmark import checks, metrics
    from benchmark.instrument import ProcSampler, SparkCounter, Tracer
    from benchmark.workloads import Bench, Inputs

    spec = metrics.spec()
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(metrics.UNDECLARED_UNITS, **metrics.INGEST_UNITS)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = _cores()
    sampler = ProcSampler().start()
    spark = b = None
    marks = [("start", time.perf_counter())]
    try:
        inputs = Inputs(work, args.seed)  # builds its oracle meanwhile
        spark = start_spark(work, cores)
        marks.append(("spark", time.perf_counter()))
        tracer = Tracer(enabled=bool(args.trace))
        counter = SparkCounter(spark.sparkContext, enabled=bool(args.trace))
        b = Bench(spark, inputs, args.seconds, tracer, counter, sampler)
        getattr(b, args.workload)()
        marks += [("setup", b.t_setup), ("warm-up", b.t_warm),
                  ("commit", b.t_start), ("window", b.t_end)]
        if args.trace:
            for r in b.queries:
                r["spark"] = counter.group(f"op{r['op']}")
        e2e = metrics.end_to_end(b)
        stats = checks.check(b)
        probes = {}
        if args.trace:
            probes = {"analyze_turns_per_s": analyze_probe(b),
                      "parse_us": parse_probe(b)}
        marks.append(("checks", time.perf_counter()))
    except Exception:
        traceback.print_exc()
        for f in b.failures if b is not None else []:
            print("FAILED:", f, file=sys.stderr)
        return 1
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark, sampler)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        marks.append(("stop", time.perf_counter()))

    # queries, reader set-ups, marker lookups, the build and the commit
    attempted = len(b.queries) + len(b.setup["reader_s"]) \
        + len(b.marker_docid) + 1 + int(b.commit_rec is not None)
    failed = min(len(b.failures), attempted)
    for f in b.failures:
        print("FAILED:", f.strip().splitlines()[-1][:300])
    counts = metrics.sample_counts(b)
    print("# samples", json.dumps(counts))
    print("# checks", json.dumps(stats))
    print("# phase seconds", json.dumps(
        {name: round(t - marks[i][1], 2)
         for i, (name, t) in enumerate(marks[1:])}))
    e2e["error_rate"] = failed / attempted
    table(f"{args.workload} seed {args.seed}: end-to-end", e2e, units)
    print("end_to_end " + json.dumps(e2e))
    if args.trace:
        layers = metrics.per_layer(b, args.workload, probes, cores)
        extra = metrics.ingest_layers(b) if args.workload == "ingest" else {}
        table("per-layer", {**layers, **extra}, units)
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir,
                            f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end": e2e, "per_layer": layers,
                       "workload_layers": extra,
                       "self_time_ms": tracer.self_ms(),
                       "samples": counts, "spans": tracer.spans}, fh)
        print(f"# spans written to {os.path.relpath(path, ROOT)}")
        metrics.check_names(layers, spec["per_layer"])
        result = layers
    else:
        for name in metrics.UNDECLARED_UNITS:  # printed above
            del e2e[name]
        metrics.check_names(e2e, spec["end_to_end"])
        result = e2e
    print(json.dumps({
        "correct": not b.failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in result.items()}}))
    return 0 if not b.failures else 1


if __name__ == "__main__":
    sys.exit(main())
