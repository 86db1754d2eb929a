"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import inputs, report  # noqa: E402
from perfbench.spans import (  # noqa: E402
    Span,
    Tracer,
    percentile,
    self_time,
    tail_supported,
    valid_name,
)


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, 0)


def test_self_time_subtracts_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps the first child
        _span(3, 8.0, 12.0, 0),  # runs past the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_records_parents_and_self_times():
    tr = Tracer(enabled=True)
    tr.unit = 3
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert inner.unit == outer.unit == 3
    st = tr.self_times()
    assert st[outer.id] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start)
    )
    off = Tracer(enabled=False)
    with off.span("x"):
        off.count("c", 1)
    assert off.spans == [] and not off.counters


def test_percentile_needs_ten_samples_beyond_it():
    assert tail_supported(100, 0.9)
    assert not tail_supported(99, 0.9)
    assert not tail_supported(15, 0.9)
    assert tail_supported(20, 0.5)
    assert percentile(list(range(1, 101)), 0.9) == 90
    assert percentile([3.0], 0.5) == 3.0


def _generate(tmp, seed):
    root = os.path.join(tmp, f"s{seed}")
    return root, inputs.generate(root, seed, 0.001, 2, 200)


def _files(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a_root, a = _generate(str(tmp_path / "a"), 7)
    b_root, b = _generate(str(tmp_path / "b"), 7)
    assert _files(a_root) == _files(b_root)
    assert a.properties == b.properties


def test_other_seed_keeps_sizes_and_rates(tmp_path):
    a_root, a = _generate(str(tmp_path), 7)
    b_root, b = _generate(str(tmp_path), 8)
    assert _files(a_root) != _files(b_root)
    pa_, pb = a.properties, b.properties
    assert pa_["clean_rows"] == pb["clean_rows"]
    for k in ("customer", "supplier", "orders"):
        assert pa_["dirty_rows"][k] == pb["dirty_rows"][k]
    assert pa_["duplicate_share"]["orders"] == pb["duplicate_share"]["orders"]
    assert pa_["null_share"]["part.p_retailprice"] == pb["null_share"]["part.p_retailprice"]
    assert pa_["near_duplicate_share"] == pb["near_duplicate_share"]
    for share in pa_["null_share"].values():
        assert share == pytest.approx(inputs.NULL_SHARE, abs=0.01)


def test_every_emitted_name_is_valid():
    names = [*report.END_TO_END, *report.PER_LAYER]
    assert len(names) == len(set(names))
    assert len(report.PER_LAYER) <= 128
    for n in names:
        assert valid_name(n), n
    for unit in {*report.END_TO_END.values(), *report.PER_LAYER.values()}:
        assert valid_name(unit), unit


def test_benchmark_json_lists_what_the_benchmark_emits():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == report.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25

