import json
import os

import pytest

from perfbench import metrics

DECLARED = metrics.load_declared()


def test_benchmark_json_has_the_contract_keys():
    with open(os.path.join(metrics.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(metrics.WORKLOADS)
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in bench["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_metric_names_are_well_formed_and_unique():
    names = list(DECLARED["end_to_end"]) + list(DECLARED["per_layer"])
    assert len(names) == len(set(names))
    assert all(metrics.NAME_RE.fullmatch(n) for n in names)


def test_every_layer_metric_names_what_it_should_move():
    assert set(metrics.MOVES) == set(DECLARED["per_layer"])
    for e2e, workloads in metrics.MOVES.values():
        assert e2e in DECLARED["end_to_end"]
        assert workloads and set(workloads) <= set(metrics.WORKLOADS)


def test_with_units_rejects_missing_and_undeclared_names():
    declared = DECLARED["end_to_end"]
    values = dict.fromkeys(declared, 1.0)
    shown = metrics.with_units(values, declared)
    assert shown["setup_s"] == {"value": 1.0, "unit": "s"}
    with pytest.raises(ValueError, match="missing"):
        metrics.with_units({k: v for k, v in values.items() if k != "setup_s"}, declared)
    with pytest.raises(ValueError, match="undeclared"):
        metrics.with_units(dict(values, extra=1.0), declared)



def test_reference_speed_scales_times_and_rates_but_not_memory():
    assert set(metrics.SPEED_POWER) == set(DECLARED["end_to_end"])
    raw = {"setup_s": 3.0, "op_p50_ms": 2000.0, "docs_per_s": 8000.0, "py_workers_pss_mb": 600.0}
    # a host twice the reference speed: the reference host takes twice as long
    assert metrics.at_reference_speed(raw, 2 * metrics.REF_SPEED) == {
        "setup_s": 6.0, "op_p50_ms": 4000.0, "docs_per_s": 4000.0, "py_workers_pss_mb": 600.0}
