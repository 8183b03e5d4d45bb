"""The bulk and checkpoint workloads: Spark sessions built with
``build_session`` defaults at local[nproc], driven through the engine's
public entry points (``extract_spans``, ``CheckpointedExtraction``)."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from perfbench import corpus, eventlog
from perfbench.host import MemSampler, cpu_control
from perfbench.tracing import KernelProbe, Tracer, kernel_metrics

CORPUS_DOCS = {"bulk": 20000, "checkpoint": 4096}
SETUPS = 3  # set-ups per run; setup_s is their median
ORACLE_SAMPLE = 32
# 4 groups of 8 buckets. On a 4-vCPU host each group costs ~2-3 s of
# fixed per-job work plus ~1.3 s for its commit append, so a run of
# 8-16 groups would not fit in one measurement window.
CHECKPOINT_BUCKETS = 32
CHECKPOINT_GROUP = 8
DESC = "perfbench:"
SPEED_SAMPLE_S = 0.25  # pure-CPU control before each set-up and timed operation


@dataclass
class Outcome:
    """What one workload run hands back to the runner."""

    e2e: dict  # end-to-end metric -> value
    attempted: int  # operations: extraction jobs or bucket groups
    failed: int  # operations that raised or failed a correctness check
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced run)
    checks: dict = field(default_factory=dict)  # check name -> passed
    info: dict = field(default_factory=dict)  # digest, counts, samples

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(self.checks.values())


def session_conf(work: str, trace: bool) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.compress": "false",
        })
    return conf


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM (and, through it, the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(conf: dict, warm_path: str, warm_out: str, tracer: Tracer | None):
    """build_session + broadcast_artifacts + one cold pass over a small
    slice of the corpus (enough partitions to start every Python worker)."""
    from astrospark.engine.extraction import broadcast_artifacts, extract_spans
    from astrospark.engine.session import build_session

    t0 = time.time_ns()
    spark = build_session(app_name="perfbench", extra_conf=conf)
    t1 = time.time_ns()
    bcast = broadcast_artifacts(spark)
    t2 = time.time_ns()
    spark.sparkContext.setJobDescription(DESC + "setup")
    extract_spans(spark.read.parquet(warm_path), bcast).write.mode("overwrite").parquet(warm_out)
    t3 = time.time_ns()
    if tracer is not None:
        trace = tracer.next_id()
        root = tracer.add("setup", t0, t3, trace)
        tracer.add("session.build", t0, t1, trace, root)
        tracer.add("extraction.broadcast", t1, t2, trace, root)
        tracer.add("extraction.cold_pass", t2, t3, trace, root)
    parts = {
        "setup_s": (t3 - t0) / 1e9,
        "session.build_s": (t1 - t0) / 1e9,
        "extraction.broadcast_s": (t2 - t1) / 1e9,
        "extraction.cold_pass_s": (t3 - t2) / 1e9,
        "extraction.broadcast_bytes": os.path.getsize(bcast._path),
    }
    return spark, bcast, parts


def run_spark(workload: str, seed: int, seconds: float, trace: bool, work: str) -> Outcome:
    cores = len(os.sched_getaffinity(0))
    n_docs = CORPUS_DOCS[workload]
    path = corpus.ensure_corpus(n_docs, seed)
    tracer = Tracer() if trace else None
    conf = session_conf(work, trace)
    setups, speeds, spark = [], [], None
    try:
        with MemSampler() as mem:
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                speeds.append(cpu_control(SPEED_SAMPLE_S, cores))
                spark, bcast, parts = set_up(conf, corpus.first_file(path),
                                             os.path.join(work, "warm"), tracer)
                setups.append(parts)
            app_id = spark.sparkContext.applicationId
            measure = MEASURE[workload]
            out = measure(spark, bcast, path, n_docs, seed, seconds, work, tracer, speeds)
            out.info["peak_pss_by_process_mb"] = mem.peak_breakdown_mb()
            out.info["peak_pss_by_kind_mb"] = mem.peak_by_kind_mb()
        spark.stop()
    finally:
        shutdown_jvm()

    out.e2e["setup_s"] = statistics.median(s["setup_s"] for s in setups)
    out.e2e["py_workers_pss_mb"] = mem.peak_by_kind_mb()["py_workers"]
    out.info["peak_pss_mb"] = mem.peak_mb
    out.info["setups_s"] = [s["setup_s"] for s in setups]
    out.info["host_speed_samples"] = speeds
    if trace:
        layers = {k: statistics.median(s[k] for s in setups) for k in setups[0] if k != "setup_s"}
        layers.update(spark_layers(workload, out, conf, app_id, n_docs, cores, tracer))
        layers.update(replay_kernel(path, tracer, out))
        out.layers = layers
        out.info["tracer"] = tracer
    return out


def window(seconds: float, speeds: list):
    """Yield once per operation: at least one, and another only while it
    is expected to end inside ``seconds`` of operation time. Before each,
    sample the host's speed with the pure-CPU control into ``speeds``;
    the samples' time is not counted."""
    procs = len(os.sched_getaffinity(0))
    busy, done = 0.0, 0
    while done == 0 or busy * (done + 1) / done <= seconds:
        speeds.append(cpu_control(SPEED_SAMPLE_S, procs))
        t0 = time.perf_counter()
        yield done
        busy += time.perf_counter() - t0
        done += 1


# -- bulk ---------------------------------------------------------------------


def measure_bulk(spark, bcast, path, n_docs, seed, seconds, work, tracer, speeds) -> Outcome:
    """Repeat one extract_spans job over the whole corpus, written to parquet."""
    from astrospark.engine.extraction import extract_spans

    sc = spark.sparkContext
    sc.setJobDescription(DESC + "read")
    docs = spark.read.parquet(path)
    target = os.path.join(work, "out")
    # one untimed job first: the set-up's cold pass leaves the JIT and
    # the writer warm only for its small slice
    sc.setJobDescription(DESC + "warmup")
    extract_spans(docs, bcast).write.mode("overwrite").parquet(target)
    ops, rows = [], []
    for i in window(seconds, speeds):
        desc = f"{DESC}op{i}"
        sc.setJobDescription(desc)
        t0 = time.time_ns()
        df = extract_spans(docs, bcast)
        t1 = time.time_ns()
        df.write.mode("overwrite").parquet(target)
        t2 = time.time_ns()
        ops.append({"desc": desc, "start_ns": t0, "end_ns": t2, "plan_ms": (t1 - t0) / 1e6})
        rows.append(corpus.output_rows(target))
    wall = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops]

    table = corpus.read_output(target)
    bad_jobs = sum(r != table.num_rows for r in rows)
    out = Outcome(
        e2e={"docs_per_s": n_docs * len(ops) / sum(wall),
             "op_p50_ms": statistics.median(wall) * 1e3},
        attempted=len(ops), failed=bad_jobs)
    check_output(out, path, table, seed)
    if out.info["oracle_mismatches"] and rows[-1] == table.num_rows:
        out.failed += 1  # the last job's output failed the oracle sample
    out.info.update(ops=ops, job_rows=rows, output_rows=table.num_rows)
    return out


def check_output(out: Outcome, path: str, table, seed: int) -> None:
    """Digest of the whole output and the oracle check of a seeded sample."""
    from astrospark.engine.extraction import load_default_artifacts

    docs = corpus.load_docs(path)
    sample = corpus.sample_ids(list(docs["doc_id"]), ORACLE_SAMPLE, seed)
    bad = corpus.oracle_mismatches(docs, sample, corpus.rows_by_doc(table), load_default_artifacts())
    out.checks["oracle_sample"] = not bad
    out.info.update(digest=corpus.digest(table), oracle_sample=len(sample), oracle_mismatches=bad,
                    input_docs=len(docs), docs_with_output=len(set(table.column("doc_id").to_pylist())))


# -- checkpoint ---------------------------------------------------------------


def measure_checkpoint(spark, bcast, path, n_docs, seed, seconds, work, tracer, speeds) -> Outcome:
    """A fresh CheckpointedExtraction.run, then one no-op resume call,
    repeated on fresh checkpoint and output directories."""
    from astrospark.engine import checkpoint as ckpt

    sc = spark.sparkContext
    sc.setJobDescription(DESC + "read")
    docs = spark.read.parquet(path)
    fingerprint = ckpt.local_input_fingerprint(path)
    # one untimed group over the set-up slice warms the observed,
    # partitioned write and the commit-table append
    sc.setJobDescription(DESC + "warmup")
    warm = spark.read.parquet(corpus.first_file(path))
    ckpt.CheckpointedExtraction(spark, bcast, os.path.join(work, "ck-warm"),
                                n_buckets=CHECKPOINT_BUCKETS, bucket_batch=CHECKPOINT_GROUP).run(
        warm, os.path.join(work, "out-warm"), "warmup", max_groups=1)
    probes = _CheckpointProbes(ckpt) if tracer is not None else None
    runs = []
    try:
        for i in window(seconds, speeds):
            ck_dir, target = os.path.join(work, f"ck{i}"), os.path.join(work, f"out{i}")
            ck = ckpt.CheckpointedExtraction(spark, bcast, ck_dir, n_buckets=CHECKPOINT_BUCKETS,
                                             bucket_batch=CHECKPOINT_GROUP)
            desc = f"{DESC}op{i}"
            sc.setJobDescription(desc)
            if probes:
                probes.reset()
            t0 = time.time_ns()
            groups = ck.run(docs, target, fingerprint)
            t1 = time.time_ns()
            sc.setJobDescription(f"{DESC}resume{i}")
            again = ck.run(docs, target, fingerprint)
            t2 = time.time_ns()
            runs.append({"desc": desc, "start_ns": t0, "end_ns": t1, "resume_ms": (t2 - t1) / 1e6,
                         "groups": groups, "resumed_groups": len(again), "target": target,
                         "rows": corpus.output_rows(target),
                         # the last completed_buckets call is the resume's
                         "completed_buckets_ms": probes.completed_ms if probes else None,
                         "plan_ms": list(probes.plan_ms) if probes else []})
    finally:
        if probes:
            probes.uninstall()

    groups = [g for r in runs for g in r["groups"]]
    wall = [(r["end_ns"] - r["start_ns"]) / 1e9 for r in runs]
    last = runs[-1]
    table = corpus.read_output(last["target"])
    expected_groups = CHECKPOINT_BUCKETS // CHECKPOINT_GROUP
    failed = sum(len(r["groups"]) for r in runs if r["rows"] != table.num_rows)
    out = Outcome(
        e2e={"docs_per_s": n_docs * len(runs) / sum(wall),
             "op_p50_ms": statistics.median(g.wall_ms for g in groups)},
        attempted=len(groups), failed=failed)
    check_output(out, path, table, seed)
    if out.info["oracle_mismatches"] and last["rows"] == table.num_rows:
        out.failed += 1
    emitting = sum(g.n_docs for g in last["groups"])
    out.checks.update({
        "all_groups_ran": all(len(r["groups"]) == expected_groups for r in runs),
        "resume_is_noop": all(r["resumed_groups"] == 0 for r in runs),
        # sum(GroupResult.n_docs) counts docs with a seq=0 row only
        "silent_docs_gap": n_docs - emitting == n_docs - out.info["docs_with_output"],
    })
    out.info.update(ops=runs, output_rows=table.num_rows, docs_emitting=emitting)
    return out


class _CheckpointProbes:
    """Times the driver-side extract_spans call of each group and the
    completed_buckets call of each run (traced run only)."""

    def __init__(self, ckpt):
        self.ckpt = ckpt
        self.reset()
        self._extract = ckpt.extract_spans
        self._completed = ckpt.CheckpointedExtraction.completed_buckets
        probes = self

        def extract_spans(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return probes._extract(*args, **kwargs)
            finally:
                probes.plan_ms.append((time.perf_counter() - t0) * 1e3)

        def completed_buckets(self_, fingerprint):
            t0 = time.perf_counter()
            try:
                return probes._completed(self_, fingerprint)
            finally:
                probes.completed_ms = (time.perf_counter() - t0) * 1e3

        ckpt.extract_spans = extract_spans
        ckpt.CheckpointedExtraction.completed_buckets = completed_buckets

    def reset(self) -> None:
        self.plan_ms: list = []
        self.completed_ms = None

    def uninstall(self) -> None:
        self.ckpt.extract_spans = self._extract
        self.ckpt.CheckpointedExtraction.completed_buckets = self._completed


MEASURE = {"bulk": measure_bulk, "checkpoint": measure_checkpoint}


# -- traced-run layers ------------------------------------------------------------


def spark_layers(workload: str, out: Outcome, conf, app_id, n_docs, cores, tracer) -> dict:
    """Per-layer metrics from the event log, op spans, and the exact count
    cross-checks."""
    events = eventlog.read_events(eventlog.event_files(conf["spark.eventLog.dir"][len("file://"):], app_id))
    stats = eventlog.summarize(events, DESC)
    ops = out.info["ops"]
    per_op = []
    for op in ops:
        trace = tracer.next_id()
        root = tracer.add(f"{workload}.op", op["start_ns"], op["end_ns"], trace,
                          description=op["desc"])
        st = stats[op["desc"]]
        eventlog.add_spans(tracer, st, trace, root)
        s = st.sums
        wall_ms = (op["end_ns"] - op["start_ns"]) / 1e6
        skews = st.udf_stage_skews()
        per_op.append({
            "extraction.scan_ms": s["scan_ms"],
            "extraction.input_rows": s["input_rows"],
            "extraction.input_bytes": s["input_bytes"],
            "extraction.rows_scanned_per_doc": s["input_rows"] / n_docs,
            "extraction.shuffle_bytes": s["shuffle_bytes"],
            "extraction.shuffle_write_ms": s["shuffle_write_ms"],
            "extraction.fetch_wait_ms": s["fetch_wait_ms"],
            "extraction.py_bytes_sent": s["py_bytes_sent"],
            "extraction.py_bytes_received": s["py_bytes_received"],
            "extraction.py_rows_received": s["py_rows_received"],
            "extraction.rows_written": s["rows_written"],
            "extraction.py_boot_ms": s["py_boot_ms"],
            "extraction.py_init_ms": s["py_init_ms"],
            "extraction.py_run_ms": s["py_run_ms"],
            "extraction.task_cpu_ms": s["task_cpu_ms"],
            "extraction.gc_ms": s["gc_ms"],
            "extraction.task_skew": statistics.median(skews) if skews else 1.0,
            "extraction.core_utilization": s["task_run_ms"] / (wall_ms * cores),
            "_job_commit_ms": s["job_commit_ms"],
            "_failed_tasks": sum(t["failed"] for t in st.tasks),
        })
    layers = {k: statistics.median(p[k] for p in per_op) for k in per_op[0] if not k.startswith("_")}
    setup = stats.get(DESC + "setup")
    layers["extraction.cold_py_boot_ms"] = setup.sums["py_boot_ms"] if setup else 0.0

    rows = out.info["output_rows"]
    groups = CHECKPOINT_BUCKETS // CHECKPOINT_GROUP
    if workload == "bulk":
        layers["extraction.plan_ms"] = statistics.median(o["plan_ms"] for o in ops)
        out.checks["input_rows_eq_docs"] = all(p["extraction.input_rows"] == n_docs for p in per_op)
        out.checks["py_rows_eq_output"] = all(p["extraction.py_rows_received"] == rows
                                              and p["extraction.rows_written"] == rows for p in per_op)
    else:
        layers.update(checkpoint_layers(out, ops, per_op))
        out.checks["input_rows_eq_groups_x_docs"] = all(
            p["extraction.input_rows"] == groups * n_docs for p in per_op)
        # the sink also writes one commit-table row per bucket
        out.checks["py_rows_eq_output"] = all(
            p["extraction.py_rows_received"] == rows
            and p["extraction.rows_written"] == rows + CHECKPOINT_BUCKETS for p in per_op)
    out.info["failed_tasks"] = sum(p["_failed_tasks"] for p in per_op)
    return layers


def checkpoint_layers(out: Outcome, runs, per_op) -> dict:
    last = runs[-1]
    groups = [g for r in runs for g in r["groups"]]
    sink = corpus.parquet_files(last["target"])
    g_ms = sorted(g.wall_ms for g in groups)
    return {
        "extraction.plan_ms": statistics.median(ms for r in runs for ms in r["plan_ms"]),
        "checkpoint.group_p50_ms": statistics.median(g_ms),
        "checkpoint.group_max_ms": g_ms[-1],
        "checkpoint.commit_ms": statistics.median(
            (r["end_ns"] - r["start_ns"]) / 1e6 - sum(g.wall_ms for g in r["groups"]) for r in runs),
        "checkpoint.sink_files": len(sink),
        "checkpoint.sink_bytes": sum(map(os.path.getsize, sink)),
        "checkpoint.job_commit_ms": statistics.median(p["_job_commit_ms"] for p in per_op),
        "checkpoint.resume_ms": statistics.median(r["resume_ms"] for r in runs),
        "checkpoint.completed_buckets_ms": statistics.median(r["completed_buckets_ms"] for r in runs),
        "checkpoint.docs_emitting": out.info["docs_emitting"],
        "checkpoint.docs_silent": out.info["input_docs"] - out.info["docs_emitting"],
    }


def replay_kernel(path: str, tracer: Tracer, out: Outcome) -> dict:
    """Replay the corpus through the kernel in-process, in ARROW_BATCH_ROWS
    batches, with the kernel probe installed."""
    from astrospark import kernel
    from astrospark.engine.extraction import load_default_artifacts
    from astrospark.engine.session import ARROW_BATCH_ROWS

    vocab, trie, model = load_default_artifacts()
    docs = corpus.load_docs(path)
    probe = KernelProbe(tracer)
    probe.install()
    try:
        with tracer.span("kernel.replay") as rec:
            probe.parent = (rec["trace"], rec["id"])
            for lo in range(0, len(docs), ARROW_BATCH_ROWS):
                kernel.extract_batch(docs.iloc[lo : lo + ARROW_BATCH_ROWS].reset_index(drop=True),
                                     vocab, trie, model)
    finally:
        probe.uninstall()
    layers = kernel_metrics([s for s in tracer.spans if s["trace"] == rec["trace"]])
    out.checks["kernel_spans_eq_spark_rows"] = layers["kernel.spans_out"] == out.info["output_rows"]
    return layers


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
