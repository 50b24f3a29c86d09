"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_long --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``perfbench/.cache``), the engine is driven through its
public entry points for ``--seconds`` of timed units, every output is
checked against DuckDB, and the last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans and Spark counters are recorded and the per-layer ones are
reported instead. A line before it carries the run facts; the traced
run also writes its spans and per-step split under ``perfbench/.work``.
Exits 1 when an output is wrong, 2 when the engine is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(work: str) -> int:
    """Pin cores, memory and every scratch path inside the checkout, and
    make the engine importable in Python workers from any directory.
    Must run before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    for sub in ("tmp", "spark-local", "scratch"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM (spark-submit's launcher and the Spark driver): temp
    # files in the checkout, and no perf-data file outside it
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # after this directory: the checkout root has modules of its own
    # (bench.py) that must not shadow the benchmark's
    sys.path.append(ROOT)
    return cpus


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "openmldb_spark")):
        print(f"perfbench: no openmldb_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    cpus = _pin_environment(work)
    import harness  # imports the engine: only after the environment is set
    if args.workload not in harness.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(harness.WORKLOADS)}", file=sys.stderr)
        return 2
    load_before = os.getloadavg()

    b = harness.Bench(args, work)
    setup_s, walls, versions = b.run(args.seconds)
    b.bad_units |= b.check()

    ok = [w for w in walls if w == w]
    p50 = statistics.median(ok) if ok else float("nan")
    facts = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": cpus, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        **versions, "input": b.facts,
        "timed_units": len(walls), "unit_p50_s": p50,
        "unit_s": [round(w, 4) for w in walls],
        "setup_s": [round(s, 4) for s in setup_s],
        "failed_frac": len(b.bad_units) / b.attempted,
    }
    if args.workload == "request":
        facts["request_p50_s"] = p50
    if args.trace:
        metrics = b.layer_metrics(ok)
        facts["steps"] = b.step_split()
        with open(os.path.join(
                work, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"facts": facts, "metrics": metrics,
                       "spans": b.tracer.self_times(),
                       "counters": b.counts}, f, indent=1)
        units = harness.PER_LAYER
    else:
        metrics = {
            "setup_s": statistics.median(setup_s),
            "turns_per_s": b.turns_per_unit() / p50,
        }
        units = harness.END_TO_END
    print(json.dumps({"facts": facts}))
    failed = len(b.bad_units)
    print(json.dumps({
        "correct": failed == 0, "attempted": b.attempted,
        "failed": failed,
        # NaN (every timed unit raised) is not JSON: report null
        "metrics": {k: {"value": None if v != v else v, "unit": u}
                    for k, u in units.items() for v in [metrics[k]]}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
