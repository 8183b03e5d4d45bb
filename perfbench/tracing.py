"""In-memory spans, self-time arithmetic and the kernel probe.

A span is a dict with ``name``, ``trace``, ``id``, ``parent`` (``None``
for a root), ``start_ns`` and ``end_ns`` (wall clock, so the benchmark's
spans and those built from the Spark event log line up) plus free
attributes. Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def next_id(self) -> int:
        return next(self._ids)

    def add(self, name, start_ns, end_ns, trace, parent=None, **attrs) -> int:
        sid = self.next_id()
        self.spans.append(dict(attrs, name=name, trace=trace, id=sid, parent=parent,
                               start_ns=int(start_ns), end_ns=int(end_ns)))
        return sid

    @contextmanager
    def span(self, name, trace=None, parent=None, **attrs):
        """Record the enclosed block. Yields the span itself: its ``id`` is
        fixed on entry so children can name it, and attributes set on it
        (also after the block) are kept."""
        rec = dict(attrs)
        rec["id"] = self.next_id()
        rec["trace"] = rec["id"] if trace is None else trace
        start = time.time_ns()
        try:
            yield rec
        finally:
            rec.update(name=name, parent=parent, start_ns=start, end_ns=time.time_ns())
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: (s["start_ns"], s["id"])):
                f.write(json.dumps(s) + "\n")


def duration_ns(span: dict) -> int:
    return span["end_ns"] - span["start_ns"]


def covered_ns(lo: int, hi: int, intervals) -> int:
    """Length of [lo, hi) covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_ns(span: dict, spans: list[dict]) -> int:
    """The span's duration minus the part its direct children cover."""
    kids = [(c["start_ns"], c["end_ns"]) for c in spans if c["parent"] == span["id"]]
    return duration_ns(span) - covered_ns(span["start_ns"], span["end_ns"], kids)


# kernel.py's module-level imports that do the work, with their span names
KERNEL_CALLEES = (
    ("tokenize_spans", "analyzer.tokenize_spans"),
    ("flatten_trie", "lexicon.flatten_trie"),
    ("compute_columns", "features.compute_columns"),
    ("viterbi_batched", "crf.viterbi"),
)
CALLEE_SPANS = tuple(s for _n, s in KERNEL_CALLEES) + ("crf.emissions",)
KERNEL_COUNTS = ("units", "tokens", "distinct_tokens", "eligible_tokens",
                 "spans_out", "objects_out")


class KernelProbe:
    """Wraps ``astrospark.kernel.extract_batch``, the callees it imports at
    module level and ``CrfModel.emissions`` with spans.

    ``install`` patches the attributes, ``uninstall`` restores them. Each
    ``extract_batch`` call becomes a root span (or a child of
    ``self.parent`` when set) carrying the batch's counts (KERNEL_COUNTS);
    callee spans are its children.
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.parent: tuple | None = None  # (trace, span id) for the next batch
        self._batch: dict | None = None  # the running extract_batch span
        self._saved: list = []

    def _wrap_callee(self, fn, span_name, count):
        probe = self

        def wrapper(*args, **kwargs):
            batch = probe._batch
            if batch is None:
                return fn(*args, **kwargs)
            with probe.tracer.span(span_name, trace=batch["trace"], parent=batch["id"]):
                out = fn(*args, **kwargs)
            count(batch, args, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    @staticmethod
    def _count_tokens(batch, args, out):
        batch["units"] += len(args[0])
        batch["tokens"] += len(out.codes)
        batch["distinct_tokens"] += len(out.uniq)

    @staticmethod
    def _count_eligible(batch, args, _out):
        # emissions(self, cols, seq_ids): one seq id per eligible token
        batch["eligible_tokens"] += len(args[2])

    def install(self) -> None:
        from astrospark import kernel
        from astrospark.crf import CrfModel

        none = lambda batch, args, out: None  # noqa: E731
        for attr, span_name in KERNEL_CALLEES:
            fn = getattr(kernel, attr)
            count = self._count_tokens if attr == "tokenize_spans" else none
            self._saved.append((kernel, attr, fn))
            setattr(kernel, attr, self._wrap_callee(fn, span_name, count))
        em = CrfModel.emissions
        self._saved.append((CrfModel, "emissions", em))
        CrfModel.emissions = self._wrap_callee(em, "crf.emissions", self._count_eligible)
        eb = kernel.extract_batch
        self._saved.append((kernel, "extract_batch", eb))
        kernel.extract_batch = self._wrap_batch(eb)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def _wrap_batch(self, fn):
        probe = self

        def extract_batch(pdf, *args, **kwargs):
            trace, parent = probe.parent or (None, None)
            counts = dict.fromkeys(KERNEL_COUNTS, 0)
            with probe.tracer.span("kernel.extract_batch", trace=trace, parent=parent,
                                   docs=len(pdf), **counts) as rec:
                probe._batch = rec
                try:
                    out = fn(pdf, *args, **kwargs)
                finally:
                    probe._batch = None
            rec["spans_out"] = len(out)
            rec["objects_out"] = int((out["kind"] == "object").sum())
            return out

        extract_batch.__wrapped__ = fn
        return extract_batch


def kernel_metrics(spans: list[dict]) -> dict:
    """Per-layer kernel metrics over the ``extract_batch`` spans in
    ``spans``: mean ms per call for the batch, its self time and each
    callee; totals for the counts."""
    batches = [s for s in spans if s["name"] == "kernel.extract_batch"]
    n = len(batches)
    ids = {b["id"] for b in batches}
    kids = [s for s in spans if s["parent"] in ids]
    per = max(n, 1) * 1e6
    out = {
        "kernel.batches": n,
        "kernel.extract_batch_ms": sum(map(duration_ns, batches)) / per,
        "kernel.self_ms": sum(self_ns(b, kids) for b in batches) / per,
    }
    for name in CALLEE_SPANS:
        out[f"{name}_ms"] = sum(duration_ns(s) for s in kids if s["name"] == name) / per
    out.update({f"kernel.{k}": sum(b[k] for b in batches) for k in KERNEL_COUNTS})
    return out
