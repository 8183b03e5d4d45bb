"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk|checkpoint|all \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Each run prints a summary line (correctness
checks, output digest, end-to-end metrics with units, CPU control) and,
last, one JSON result line. With ``--trace 0`` that line carries the
end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics, and the run also writes its spans, its end-to-end
metrics measured with tracing on, and the tracing overhead (traced minus
the latest untraced run of the same workload) under
``.perfbench_out/results/``. Inputs are cached under ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")

# layers a workload does not go through report 0 for their metrics
OFF_PATH = {"bulk": ("checkpoint.",), "checkpoint": ()}
CONTROL_S = 1.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(OFF_PATH) + ("all",),
                   help="'all' runs every workload in turn, each in its own process")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and
    let Spark's Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata, no /tmp files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = tmp


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "astrospark", "kernel.py")):
        print("perfbench: astrospark sources not found next to perfbench/", file=sys.stderr)
        return 2
    if args.workload == "all":
        codes = [
            subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(args.seconds),
                            "--trace", str(args.trace)], cwd=ROOT).returncode
            for w in OFF_PATH
        ]
        return max(codes)
    sys.path.insert(0, ROOT)
    from perfbench import metrics
    from perfbench.host import cpu_control
    from perfbench.spark_workloads import clean, run_spark

    declared = metrics.load_declared()
    work = os.path.join(OUT, "work", args.workload)
    clean(work)
    isolate(work)
    procs = len(os.sched_getaffinity(0))

    control_pre = cpu_control(CONTROL_S, procs)
    t0 = time.perf_counter()
    out = run_spark(args.workload, args.seed, args.seconds, bool(args.trace), work)
    wall = time.perf_counter() - t0
    control_post = cpu_control(CONTROL_S, procs)

    tracer = out.info.pop("tracer", None)
    raw = out.e2e
    speed = statistics.median([control_pre, *out.info["host_speed_samples"], control_post])
    out.e2e = metrics.at_reference_speed(raw, speed)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": out.correct, "attempted": out.attempted,
        "failed": out.failed, "error_rate": out.failed / out.attempted,
        "end_to_end": out.e2e, "end_to_end_raw": raw, "host_speed": speed,
        "checks": out.checks,
        "control_iters_per_proc_s": {"pre": control_pre, "post": control_post},
        "run_wall_s": wall, "info": out.info,
    }
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    last_untraced = os.path.join(results, f"{args.workload}-last-untraced.json")
    if args.trace:
        layers = dict(out.layers)
        for name in declared["per_layer"]:
            if name.startswith(OFF_PATH[args.workload]):
                layers.setdefault(name, 0)
        record["per_layer"] = layers
        record["tracing_overhead"] = overhead(out.e2e, last_untraced)
        tracer.write(stem + "-spans.jsonl")
        shown = metrics.with_units(layers, declared["per_layer"])
    else:
        shown = metrics.with_units(out.e2e, declared["end_to_end"])
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if not args.trace:
        with open(last_untraced, "w") as f:
            json.dump(record, f, indent=1, default=str)

    summary = {
        "workload": args.workload, "seed": args.seed, "correct": out.correct,
        "digest": out.info.get("digest"), "checks": out.checks,
        "end_to_end": metrics.with_units(out.e2e, declared["end_to_end"]),
        "end_to_end_raw": raw, "host_speed": speed, "peak_pss_mb": out.info["peak_pss_mb"],
        "control_iters_per_proc_s": record["control_iters_per_proc_s"],
    }
    if args.trace:
        summary["tracing_overhead"] = record["tracing_overhead"]
    print("perfbench " + json.dumps(summary))
    print(json.dumps({"correct": out.correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": shown}))
    return 0


def overhead(traced: dict, untraced_path: str) -> dict | None:
    """Traced minus untraced for each end-to-end metric, against the
    latest untraced run of the workload in this checkout."""
    if not os.path.exists(untraced_path):
        return None
    with open(untraced_path) as f:
        base = json.load(f)
    # a record left by an older version of the benchmark may lack a metric
    shared = [k for k in traced if k in base["end_to_end"]]
    return {
        "untraced_seed": base["seed"],
        "delta": {k: traced[k] - base["end_to_end"][k] for k in shared},
        "relative": {k: (traced[k] - base["end_to_end"][k]) / base["end_to_end"][k] for k in shared},
    }


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
