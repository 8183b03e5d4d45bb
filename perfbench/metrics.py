"""Metric declarations shared by the workloads and the tests.

``BENCHMARK.json`` holds each metric's name, unit and direction. What it
cannot hold lives here: for every per-layer metric, the end-to-end metric
it should move and the workload on which it should move it. The workloads
report only names declared in both places (``check_names``).
"""

from __future__ import annotations

import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

WORKLOADS = ("bulk", "checkpoint")

# End-to-end metrics, measured with tracing off:
#   setup_s      median of three set-ups in the run, each build_session +
#                broadcast_artifacts + one cold pass (the first also starts the JVM)
#   docs_per_s   input docs processed / wall time of the timed operations
#   op_p50_ms    median operation latency: an extract_spans job written to
#                parquet (bulk), a bucket group (checkpoint)
#   py_workers_pss_mb  peak summed PSS of Spark's Python worker daemon and
#                its workers: the UDF side that spark.executor.pyspark.memory caps
# The whole tree's peak PSS (driver, JVM, workers) is recorded beside them
# but not declared: it is set by how far G1 grows the 16g driver heap, and
# two runs of the same work differ by ~450 MB in the JVM alone.
# Failed operations are the result line's ``failed`` out of ``attempted``.
#
# The host is shared, and its speed swings far past any bound: the pure-CPU
# control ran from 85 to 160 iterations per process-second within one hour,
# and bulk's docs_per_s with it. So the time metrics are reported at a
# reference host speed (``at_reference_speed``), from the median of the
# control sampled before the run, before each set-up and timed operation,
# and after the run. The run record keeps the raw values beside them.
REF_SPEED = 100.0  # control iterations per process-second of the reference host
# how each end-to-end metric scales with host speed: time ^1, rate ^-1
SPEED_POWER = {"setup_s": 1, "op_p50_ms": 1, "docs_per_s": -1, "py_workers_pss_mb": 0}

# per-layer metric -> (end-to-end metric it should move, workloads)
MOVES: dict[str, tuple[str, tuple[str, ...]]] = {
    # engine.session and set-up
    "session.build_s": ("setup_s", WORKLOADS),
    "extraction.broadcast_s": ("setup_s", WORKLOADS),
    "extraction.broadcast_bytes": ("setup_s", WORKLOADS),
    "extraction.cold_pass_s": ("setup_s", WORKLOADS),
    "extraction.cold_py_boot_ms": ("setup_s", WORKLOADS),
    # engine.extraction, driver side
    "extraction.plan_ms": ("docs_per_s", ("checkpoint",)),
    # engine.extraction, from the Spark event log (per timed operation)
    "extraction.scan_ms": ("docs_per_s", WORKLOADS),
    "extraction.input_rows": ("docs_per_s", ("checkpoint",)),
    "extraction.input_bytes": ("docs_per_s", ("checkpoint",)),
    "extraction.rows_scanned_per_doc": ("docs_per_s", ("checkpoint",)),
    "extraction.shuffle_bytes": ("docs_per_s", ("bulk",)),
    "extraction.shuffle_write_ms": ("docs_per_s", ("bulk",)),
    "extraction.fetch_wait_ms": ("docs_per_s", ("bulk",)),
    "extraction.py_bytes_sent": ("docs_per_s", ("bulk",)),
    "extraction.py_bytes_received": ("docs_per_s", ("bulk",)),
    "extraction.py_rows_received": ("docs_per_s", ("bulk",)),
    "extraction.rows_written": ("docs_per_s", ("bulk",)),
    "extraction.py_boot_ms": ("docs_per_s", ("checkpoint",)),
    "extraction.py_init_ms": ("docs_per_s", ("checkpoint",)),
    "extraction.py_run_ms": ("docs_per_s", ("bulk",)),
    "extraction.task_cpu_ms": ("docs_per_s", ("bulk",)),
    "extraction.gc_ms": ("docs_per_s", ("bulk",)),
    "extraction.task_skew": ("docs_per_s", ("bulk",)),
    "extraction.core_utilization": ("docs_per_s", ("bulk",)),
    # engine.checkpoint
    "checkpoint.group_p50_ms": ("docs_per_s", ("checkpoint",)),
    "checkpoint.group_max_ms": ("docs_per_s", ("checkpoint",)),
    "checkpoint.commit_ms": ("docs_per_s", ("checkpoint",)),
    "checkpoint.sink_files": ("docs_per_s", ("checkpoint",)),
    "checkpoint.sink_bytes": ("docs_per_s", ("checkpoint",)),
    "checkpoint.job_commit_ms": ("docs_per_s", ("checkpoint",)),
    "checkpoint.resume_ms": ("docs_per_s", ("checkpoint",)),
    "checkpoint.completed_buckets_ms": ("docs_per_s", ("checkpoint",)),
    "checkpoint.docs_emitting": ("docs_per_s", ("checkpoint",)),
    "checkpoint.docs_silent": ("docs_per_s", ("checkpoint",)),
    # kernel and its callees (in-process replay of the workload's corpus)
    "kernel.batches": ("docs_per_s", WORKLOADS),
    "kernel.extract_batch_ms": ("docs_per_s", WORKLOADS),
    "kernel.self_ms": ("docs_per_s", WORKLOADS),
    "analyzer.tokenize_spans_ms": ("docs_per_s", WORKLOADS),
    "lexicon.flatten_trie_ms": ("docs_per_s", WORKLOADS),
    "features.compute_columns_ms": ("docs_per_s", WORKLOADS),
    "crf.emissions_ms": ("docs_per_s", WORKLOADS),
    "crf.viterbi_ms": ("docs_per_s", WORKLOADS),
    "kernel.units": ("docs_per_s", WORKLOADS),
    "kernel.tokens": ("docs_per_s", WORKLOADS),
    "kernel.distinct_tokens": ("docs_per_s", WORKLOADS),
    "kernel.eligible_tokens": ("docs_per_s", WORKLOADS),
    "kernel.spans_out": ("docs_per_s", WORKLOADS),
    "kernel.objects_out": ("docs_per_s", WORKLOADS),
}



def at_reference_speed(raw: dict, speed: float) -> dict:
    """End-to-end metrics as a host whose control runs ``REF_SPEED`` would
    read them, from ones measured on a host whose control ran ``speed``."""
    k = speed / REF_SPEED
    return {name: value * k ** SPEED_POWER[name] for name, value in raw.items()}


def load_declared() -> dict:
    """``BENCHMARK.json`` as {"end_to_end": {name: spec}, "per_layer": {...}}."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {k: {m["name"]: m for m in bench[k]} for k in ("end_to_end", "per_layer")}


def check_names(values: dict, declared: dict) -> None:
    """Raise unless ``values`` covers exactly the declared metric names."""
    missing = sorted(set(declared) - set(values))
    extra = sorted(set(values) - set(declared))
    if missing or extra:
        raise ValueError(f"metric names differ from BENCHMARK.json: missing {missing}, undeclared {extra}")


def with_units(values: dict, declared: dict) -> dict:
    check_names(values, declared)
    return {k: {"value": values[k], "unit": declared[k]["unit"]} for k in sorted(values)}

