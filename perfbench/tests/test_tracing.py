import pandas as pd
import pytest

from perfbench.tracing import KernelProbe, Tracer, covered_ns, kernel_metrics, self_ns


def span(sid, parent, start, end, name="x", **attrs):
    return dict(name=name, trace=1, id=sid, parent=parent, start_ns=start, end_ns=end, **attrs)


def test_covered_merges_overlaps_and_clips():
    assert covered_ns(0, 100, []) == 0
    assert covered_ns(0, 100, [(10, 20), (15, 30), (50, 60)]) == 30
    assert covered_ns(0, 100, [(-10, 5), (95, 200)]) == 10
    assert covered_ns(0, 100, [(20, 10)]) == 0


def test_self_time_of_nested_spans():
    spans = [
        span(1, None, 0, 100),
        span(2, 1, 10, 30),
        span(3, 1, 20, 40),  # overlaps its sibling
        span(4, 2, 12, 18),  # grandchild: already inside span 2
        span(5, 1, 90, 120),  # runs past the parent's end
        span(6, None, 0, 1000),  # unrelated root
    ]
    assert self_ns(spans[0], spans) == 100 - 30 - 10
    assert self_ns(spans[1], spans) == 20 - 6
    assert self_ns(spans[3], spans) == 6
    assert self_ns(spans[5], spans) == 1000


def test_kernel_metrics_means_per_batch_and_totals():
    counts = dict(units=2, tokens=10, distinct_tokens=5, eligible_tokens=8, spans_out=3, objects_out=2)
    spans = [
        span(1, None, 0, 4_000_000, "kernel.extract_batch", **counts),
        span(2, 1, 0, 1_000_000, "analyzer.tokenize_spans"),
        span(3, 1, 1_000_000, 3_000_000, "crf.emissions"),
        span(4, None, 10_000_000, 12_000_000, "kernel.extract_batch", **counts),
        span(5, 4, 10_000_000, 11_000_000, "crf.viterbi"),
    ]
    m = kernel_metrics(spans)
    assert m["kernel.batches"] == 2
    assert m["kernel.extract_batch_ms"] == pytest.approx(3.0)
    assert m["kernel.self_ms"] == pytest.approx((1.0 + 1.0) / 2)
    assert m["crf.emissions_ms"] == pytest.approx(1.0)
    assert m["crf.viterbi_ms"] == pytest.approx(0.5)
    assert m["features.compute_columns_ms"] == 0
    assert m["kernel.tokens"] == 20 and m["kernel.spans_out"] == 6


def test_kernel_probe_counts_match_kernel_output():
    from astrospark import kernel
    from astrospark.crf import CrfModel
    from astrospark.engine.extraction import load_default_artifacts

    vocab, trie, model = load_default_artifacts()
    pdf = pd.DataFrame({
        "doc_id": ["a", "b"],
        "spans": [
            [{"kind": "text", "text": "We detect GRB 020819B near NGC 1275.", "media_ref": "", "offset": 0},
             {"kind": "media", "text": "", "media_ref": "img://f.png", "offset": 40}],
            [{"kind": "table", "text": "src\tflux\nGRB 050219\t31\n", "media_ref": "", "offset": 0}],
        ],
    })
    plain = kernel.extract_batch(pdf, vocab, trie, model)
    originals = (kernel.extract_batch, kernel.tokenize_spans, CrfModel.emissions)
    tracer = Tracer()
    probe = KernelProbe(tracer)
    probe.install()
    try:
        traced = kernel.extract_batch(pdf, vocab, trie, model)
    finally:
        probe.uninstall()
    assert (kernel.extract_batch, kernel.tokenize_spans, CrfModel.emissions) == originals
    pd.testing.assert_frame_equal(traced, plain)
    m = kernel_metrics(tracer.spans)
    assert m["kernel.batches"] == 1
    assert m["kernel.spans_out"] == len(plain)
    assert m["kernel.objects_out"] == int((plain["kind"] == "object").sum())
    assert m["kernel.units"] == 3  # one text chunk, two non-empty table lines
    assert 0 < m["kernel.eligible_tokens"] <= m["kernel.tokens"]
    assert {s["name"] for s in tracer.spans} >= {
        "kernel.extract_batch", "analyzer.tokenize_spans", "crf.emissions", "crf.viterbi"}
