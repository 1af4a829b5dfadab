"""Unit tests of the benchmark's own helpers; no Spark needed.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402

# --- percentile --------------------------------------------------------------


def test_percentile_interpolates_between_ranks():
    values = [float(v) for v in range(1, 101)]  # 1..100
    assert harness.percentile(values, 0.5) == pytest.approx(50.5)
    assert harness.percentile(values, 0.9) == pytest.approx(90.1)


def test_percentile_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 20
    assert harness.percentile(values, 0.5) == harness.percentile(sorted(values), 0.5)


def test_percentile_needs_ten_samples_beyond_it():
    # ranks above the interpolation point q * (n - 1) count as beyond it
    assert harness.percentile([1.0] * 92, 0.9) == 1.0  # point 81.9: ranks 82..91
    with pytest.raises(harness.TooFewSamples):
        harness.percentile([1.0] * 91, 0.9)  # point 81.0: ranks 82..90
    assert harness.percentile([1.0] * 20, 0.5) == 1.0
    with pytest.raises(harness.TooFewSamples):
        harness.percentile([1.0] * 19, 0.5)
    with pytest.raises(harness.TooFewSamples):
        harness.percentile([], 0.5)


def test_percentile_rejects_quantile_outside_open_interval():
    for q in (0.0, 1.0, 1.5):
        with pytest.raises(ValueError):
            harness.percentile([1.0] * 100, q)


def test_tail_reports_null_with_reason_when_too_few_samples():
    named: dict = {}
    workloads._tail(named, "p90_s", [1.0] * 32)
    value, unit, note = named["p90_s"]
    assert value is None and unit == "s" and "have 32" in note
    workloads._tail(named, "p90_s", [float(v) for v in range(100)])
    assert named["p90_s"] == (pytest.approx(89.1), "s")


# --- span self time ----------------------------------------------------------


def _span(name, start, end, parent=None):
    return harness.Span(name, start, end, parent, "run")


def test_self_time_subtracts_children():
    spans = [_span("a", 0, 10), _span("b", 1, 3, 0), _span("c", 5, 6, 0)]
    assert harness.self_time(spans, 0) == pytest.approx(7)
    assert harness.self_time(spans, 1) == pytest.approx(2)


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    # children from callback threads may overlap each other or outlive
    # the parent; covered time is their union inside the parent
    spans = [_span("a", 0, 10), _span("b", 2, 6, 0), _span("c", 4, 8, 0), _span("d", 9, 12, 0)]
    assert harness.self_time(spans, 0) == pytest.approx(10 - 6 - 1)


def test_self_time_ignores_grandchildren():
    spans = [_span("a", 0, 10), _span("b", 0, 4, 0), _span("c", 1, 2, 1)]
    assert harness.self_time(spans, 0) == pytest.approx(6)
    assert harness.self_time(spans, 1) == pytest.approx(3)


def test_tracer_records_nesting_and_only_when_enabled():
    tr = harness.Tracer("run")
    with tr.span("off"):
        pass
    tr.enabled = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert tr.self_total("outer") <= tr.total("outer")


def test_wrap_rebinds_names_imported_elsewhere_and_unwraps():
    import types

    owner = types.ModuleType("pkg_under_test.owner")
    user = types.ModuleType("pkg_under_test.user")

    def fn(x):
        return x + 1

    owner.fn = fn
    user.fn = fn  # as ``from pkg_under_test.owner import fn`` would
    sys.modules["pkg_under_test.owner"] = owner
    sys.modules["pkg_under_test.user"] = user
    try:
        tr = harness.Tracer("run")
        tr.enabled = True
        tr.wrap(owner, "fn", "layer.fn", rebind_prefix="pkg_under_test")
        assert user.fn(1) == 2 and owner.fn(2) == 3
        assert tr.counts["layer.fn"] == 2
        tr.unwrap()
        assert owner.fn is fn and user.fn is fn
    finally:
        del sys.modules["pkg_under_test.owner"], sys.modules["pkg_under_test.user"]


# --- last-write-wins reference model -----------------------------------------

_TOTAL = datagen.TOTAL_GAS


def _row(code, year, value, gas=_TOTAL, cat="Energy 00"):
    return [code, str(year), "WEM", cat, gas, value, "2023", None]


def test_model_last_write_wins_and_counts_revisions():
    state: dict = {}
    assert datagen.apply_drop(state, [_row("AT", 2020, "1.00"), _row("BE", 2020, "2.00")]) == (2, 0)
    assert datagen.apply_drop(state, [_row("AT", 2020, "3.50"), _row("AT", 2021, "4.00")]) == (2, 1)
    assert state == {
        ("AT", 2020, "WEM", "Energy 00"): 3.5,
        ("BE", 2020, "WEM", "Energy 00"): 2.0,
        ("AT", 2021, "WEM", "Energy 00"): 4.0,
    }


def test_model_drops_the_rows_the_cleaning_chain_drops():
    state: dict = {}
    edge = [
        _row(None, 2020, "1.00"),  # null in a selected column
        _row("AT", 2020, ""),  # empty value (null once read as CSV)
        _row("GB", 2020, "1.00"),  # unmapped country code
        _row("AT", 2020, "1.00", gas="CO2"),  # not the total gas
    ]
    assert datagen.apply_drop(state, edge) == (0, 0)
    assert state == {}


def test_generated_drops_are_key_unique_and_revise_the_stated_share():
    drops = list(datagen.emissions_drops(seed=7, n_drops=4, rows=200, revise_share=0.25, edge_share=0.1))
    assert drops == list(datagen.emissions_drops(seed=7, n_drops=4, rows=200, revise_share=0.25, edge_share=0.1))
    state: dict = {}
    for d, drop in enumerate(drops):
        assert len(drop) == 200 + 20
        kept_keys = [datagen.clean_row(r)[0] for r in drop if datagen.clean_row(r) is not None]
        assert len(kept_keys) == len(set(kept_keys)) == 200
        kept, revised = datagen.apply_drop(state, drop)
        assert (kept, revised) == (200, 0 if d == 0 else 50)
    assert len(state) == 200 + 3 * 150


def test_drop_csv_round_trips(tmp_path):
    # the model reads back the files that landed, so the CSV must give back
    # every field as generated, the quoted category and blank fields too
    rows = next(datagen.emissions_drops(seed=3, n_drops=1, rows=50, revise_share=0.0, edge_share=0.3))
    path = str(tmp_path / ".drop.csv")
    assert datagen.write_csv(rows, path) == os.path.getsize(path)
    assert datagen.read_csv(path) == rows


# --- result-hash comparator ----------------------------------------------------


def test_result_hash_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, "b", None)]
    h = checks.result_hash(["id", "name", "v"], rows)
    assert h == checks.result_hash(["id", "name", "v"], list(reversed(rows)))
    assert h == checks.result_hash(["v", "id", "name"], [(r[2], r[0], r[1]) for r in rows])


def test_result_hash_sees_values_counts_and_names():
    base = checks.result_hash(["id", "v"], [(1, 2.5), (2, 3.0)])
    assert base != checks.result_hash(["id", "v"], [(1, 2.5), (2, 3.5)])
    assert base != checks.result_hash(["id", "v"], [(1, 2.5), (2, 3.0), (2, 3.0)])
    assert base != checks.result_hash(["id", "w"], [(1, 2.5), (2, 3.0)])


def test_result_hash_renders_engine_and_oracle_types_alike():
    # Spark hands back Decimal, DuckDB float; bool vs int; aware vs naive
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    spark_side = checks.result_hash(
        ["d", "b", "t"], [(decimal.Decimal("0.1") + decimal.Decimal("0.2"), True, ts.replace(tzinfo=dt.timezone.utc))]
    )
    duck_side = checks.result_hash(["d", "b", "t"], [(0.1 + 0.2, 1, ts)])
    assert spark_side == duck_side


def test_keyed_rows_match_wants_every_key_once_with_its_value():
    import pyarrow as pa

    expect = {("AT", 2020): 1.5, ("BE", 2021): 2.0}
    const = {"Gas": "total"}

    def table(rows):
        return pa.table({"c": [r[0] for r in rows], "y": [r[1] for r in rows], "v": [r[2] for r in rows], "Gas": [r[3] for r in rows]})

    good = [("BE", 2021, 2.0, "total"), ("AT", 2020, 1.5, "total")]
    assert checks.keyed_rows_match(table(good), ["c", "y"], "v", expect, const)
    assert not checks.keyed_rows_match(table(good[:1]), ["c", "y"], "v", expect, const)  # a key missing
    assert not checks.keyed_rows_match(table(good + good[:1]), ["c", "y"], "v", expect, const)  # a key twice
    assert not checks.keyed_rows_match(table([good[0], ("AT", 2020, 1.25, "total")]), ["c", "y"], "v", expect, const)
    assert not checks.keyed_rows_match(table([good[0], ("AT", 2020, 1.5, "CO2")]), ["c", "y"], "v", expect, const)


def test_pair_quality():
    truth = {(1, 2), (3, 4)}
    assert checks.pair_quality({(1, 2), (5, 6)}, truth) == (0.5, 0.5)
    assert checks.pair_quality(set(), truth) == (1.0, 0.0)


# --- schedules -----------------------------------------------------------------


def test_adhoc_schedule_blocks_hold_the_weighted_mix():
    sched = workloads.adhoc_schedule(seed=3, n=3 * workloads.ADHOC_BLOCK)
    assert sched == workloads.adhoc_schedule(seed=3, n=3 * workloads.ADHOC_BLOCK)
    for b in range(3):
        block = sched[b * workloads.ADHOC_BLOCK : (b + 1) * workloads.ADHOC_BLOCK]
        assert {q: block.count(q) for q in set(block)} == workloads.ADHOC_MIX
    assert sched != workloads.adhoc_schedule(seed=4, n=3 * workloads.ADHOC_BLOCK)
