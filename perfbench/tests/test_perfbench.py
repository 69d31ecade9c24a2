"""Tests of the benchmark itself; no Spark needed.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import queries  # noqa: E402
import replicate  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SMALL = 1000  # history objects: two regions, small enough for a quick model


def _digest(seed: int, chunks: int = 2) -> str:
    gen = replicate.Generator(seed, history_objects=SMALL)
    out = [gen.history()] + [gen.chunk(c) for c in range(2, 2 + chunks)]
    h = hashlib.sha256()
    for chunk in out:
        for name in sorted(chunk):
            h.update(chunk[name].to_pandas().to_csv().encode())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed():
    assert _digest(7) == _digest(7)


def test_generator_differs_across_seeds():
    assert _digest(7) != _digest(8)


def test_chunks_carry_every_table_and_update_type():
    gen = replicate.Generator(3, history_objects=SMALL)
    gen.history()
    chunk = gen.chunk(2)
    assert set(chunk) == {"DiaObject", "DiaSource", "DiaForcedSource", "updates"}
    assert all(chunk[t].num_rows for t in chunk)
    types = set(chunk["updates"].column("update_type").to_pylist())
    assert types == set(replicate.UPDATE_TYPES)
    assert replicate.CHUNK_MIN <= chunk["DiaObject"].num_rows <= replicate.CHUNK_MAX


@pytest.fixture(scope="module")
def model():
    gen = replicate.Generator(5, history_objects=SMALL)
    gen.history()
    for c in (2, 3):
        gen.chunk(c)
    return gen.expected()


def _actual(model) -> dict:
    """A PPDB exactly as the model says it must be."""
    return {
        "DiaObject": model["DiaObject"].copy(),
        "DiaSource": model["DiaSource"].copy(),
        "DiaForcedSource": model["DiaForcedSource"].copy(),
        "public": model["public"].copy(),
        "ledger": {c: "PROMOTED" for c in model["chunks"]},
        "staged_files": 0,
    }


def test_end_state_accepts_the_model(model):
    assert replicate.check_end_state(model, _actual(model)) == []


def test_end_state_rejects_a_dropped_public_row(model):
    actual = _actual(model)
    actual["public"] = actual["public"].iloc[1:]
    errs = replicate.check_end_state(model, actual)
    assert any("public snapshot" in e for e in errs)


def test_end_state_rejects_a_duplicated_public_row(model):
    actual = _actual(model)
    pub = actual["public"]
    actual["public"] = pd.concat([pub, pub.iloc[[0]]], ignore_index=True)
    errs = replicate.check_end_state(model, actual)
    assert any("public snapshot" in e for e in errs)


def test_end_state_rejects_a_chunk_left_staged(model):
    actual = _actual(model)
    actual["ledger"][model["chunks"][-1]] = "STAGED"
    errs = replicate.check_end_state(model, actual)
    assert any("not PROMOTED" in e for e in errs)


def test_end_state_rejects_staged_leftovers_and_a_reopened_object(model):
    actual = _actual(model)
    actual["staged_files"] = 2
    obj = actual["DiaObject"]
    closed = obj["diaObjectId"].isin(model["closed"][:1])
    obj.loc[closed, "validityEndMjdTai"] = float("nan")
    errs = replicate.check_end_state(model, actual)
    assert any("staged files" in e for e in errs)
    assert any("internal DiaObject" in e for e in errs)
    assert any("closed objects still open" in e for e in errs)


@pytest.mark.parametrize(
    "n, p",
    [(1, None), (20, None), (21, 52), (29, 65), (100, 90), (1000, 99)],
)
def test_tail_percentile_rule(n, p):
    got = tracing.tail_percentile(range(1, n + 1))
    if p is None:
        assert got is None
        return
    assert got[0] == p
    # nearest rank: the value has exactly >= 10 samples beyond it
    assert n - got[1] >= 10
    assert n - (got[1] + 1) < 10 or p == 99


def test_self_time_subtracts_covered_child_time():
    class _Spark:
        sparkContext = None

    tr = tracing.Tracer(_Spark(), enabled=False)
    tr.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    selfs = tr.self_times()
    assert selfs[0] == pytest.approx(6.0)
    assert selfs[1] == pytest.approx(2.5)
    assert selfs[2] == pytest.approx(2.0)


def _declared() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_emitted_metric_is_declared():
    bench = _declared()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.E2E_UNITS
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert list(layers) == run.per_layer_names()
    assert all(layers[n] == run._unit(n) for n in layers)
    measured = set()
    for w in run.WORKLOADS:
        mine = run.per_layer_names(w)
        assert set(mine) <= set(layers)
        measured |= set(mine)
    assert measured == set(layers), "a declared per-layer metric no workload measures"


def test_every_workload_is_runnable_and_says_why():
    bench = _declared()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for w in bench["workloads"]:
        assert w["why"].strip() and "\n" not in w["why"]
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_every_query_has_exactly_one_pinned_oracle():
    pins = queries.load_pins()
    assert set(pins) == set(queries.QUERIES)
    assert all("error" not in pins[q] for q in queries.QUERIES)
