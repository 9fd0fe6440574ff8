"""Unit tests for the benchmark's pure helpers (no JVM).

    python3 -m pytest perfbench/tests -q
"""

import random
import statistics
from decimal import Decimal

import pytest

import medallion
from stats import (
    bound_violations,
    canon_cell,
    quantile,
    result_digest,
    self_times,
    spread,
    tail_level,
    worse_by,
)


def test_quantile_matches_linear_interpolation():
    rng = random.Random(7)
    vals = [rng.uniform(0, 10) for _ in range(37)]
    s = sorted(vals)
    assert quantile(vals, 0.0) == s[0]
    assert quantile(vals, 1.0) == s[-1]
    assert quantile(vals, 0.5) == statistics.median(vals)
    # 0.25 * 36 = 9 exactly -> the 10th smallest value
    assert quantile(vals, 0.25) == s[9]
    assert quantile([1.0, 2.0], 0.75) == pytest.approx(1.75)
    with pytest.raises(ValueError):
        quantile([], 0.5)


@pytest.mark.parametrize(
    "n, level",
    [(1000, 0.90), (100, 0.90), (50, 0.80), (30, 0.66), (21, 0.52),
     (20, None), (5, None), (0, None)],
)
def test_tail_level_leaves_ten_samples_beyond(n, level):
    got = tail_level(n)
    assert got == level
    if got is not None:
        assert n * (1 - got) >= 10 - 1e-9


def test_canon_cell_equates_what_the_gate_equates():
    assert canon_cell(3) == canon_cell(3.0) == canon_cell(Decimal("3")) == "3"
    assert canon_cell(True) == canon_cell(1)
    assert canon_cell(0.1234567) == canon_cell(0.12345671)
    assert canon_cell(0.1234) != canon_cell(0.1235)
    assert canon_cell(-0.0) == canon_cell(0)
    assert canon_cell(float("nan")) == canon_cell("NaN")
    assert canon_cell([1, 2.0]) == canon_cell((1.0, 2))
    assert canon_cell(None) == "None"
    assert canon_cell({"b": 1, "a": 2.0}) == canon_cell({"a": 2, "b": 1.0})


def test_result_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", 1.25), (2, "b", 1.25)]
    d = result_digest(rows, ["k", "s", "v"])
    assert d == result_digest(list(reversed(rows)), ["k", "s", "v"])
    swapped = [(v, s, k) for k, s, v in rows]
    assert d == result_digest(swapped, ["v", "s", "k"])
    # an engine returning Decimal / float where the other returns int
    typed = [(1.0, "a", Decimal("0.5")), (2, "b", 1.25), (2, "b", 1.25)]
    assert d == result_digest(typed, ["k", "s", "v"])


def test_result_digest_sees_values_multiplicity_and_names():
    rows = [(1, "a"), (2, "b")]
    d = result_digest(rows, ["k", "s"])
    assert d != result_digest([(1, "a"), (3, "b")], ["k", "s"])
    assert d != result_digest([(1, "a"), (2, "b"), (2, "b")], ["k", "s"])
    assert d != result_digest(rows, ["k", "t"])
    assert result_digest([], ["k"]) != result_digest([], ["j"])


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "name": f"s{i}", "start": start, "end": end}


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),  # overlaps span 1: 1..5 covered
        _span(3, 0, 8.0, 12.0),  # runs past the parent: only 8..10 counts
        _span(4, 1, 1.5, 2.0),  # grandchild: counts against span 1 only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(4)
    assert st[4] == pytest.approx(0.5)


def test_spread_is_iqr_over_median():
    vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / med)
    assert spread([5.0] * 10) == 0


def test_worse_by_follows_direction():
    assert worse_by(10, 11, "lower") == pytest.approx(0.1)
    assert worse_by(10, 9, "lower") == pytest.approx(-0.1)
    assert worse_by(10, 9, "higher") == pytest.approx(0.1)
    with pytest.raises(ValueError):
        worse_by(1, 1, "sideways")


def test_bound_violations():
    metrics = [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "op_s_p50", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "ops_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
    ]
    steady = [1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0]
    first = {"setup_s": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10], "op_s_p50": steady, "ops_per_s": steady}
    # setup_s spread is exempt; equal medians pass
    assert bound_violations(first, first, metrics) == []
    slower = {**first, "op_s_p50": [v * 1.2 for v in steady]}
    bad = bound_violations(first, slower, metrics)
    assert len(bad) == 1 and bad[0].startswith("op_s_p50: second median worse")
    fewer = {**first, "ops_per_s": [v * 0.8 for v in steady]}
    assert bound_violations(first, fewer, metrics)[0].startswith("ops_per_s: second median")
    noisy = {**first, "op_s_p50": [0.5, 1.5, 0.7, 1.3, 1.0, 0.6, 1.4, 1.0, 0.8, 1.2]}
    assert any("spread" in b for b in bound_violations(noisy, first, metrics))
    later_setup = {**first, "setup_s": [v * 1.3 for v in first["setup_s"]]}
    assert bound_violations(first, later_setup, metrics)[0].startswith("setup_s: second median")


def test_window_hours_wrap_the_horizon():
    assert medallion.window_hours(0, window=4, step=2, horizon=6) == [0, 1, 2, 3]
    assert medallion.window_hours(2, window=4, step=2, horizon=6) == [4, 5, 0, 1]
    covered = set()
    for k in range(5):
        covered |= set(medallion.window_hours(k))
    assert covered == set(range(medallion.HORIZON))


def test_written_counts_new_and_rewritten_files():
    before = {"a/x": (10, 1, 1), "a/y": (5, 1, 2), "b/z": (7, 1, 3)}
    after = {"a/x": (10, 1, 1), "a/y": (6, 2, 4), "c/w": (3, 2, 5), "top": (1, 2, 6)}
    nbytes, dirs = medallion.written(before, after)
    assert nbytes == 6 + 3 + 1
    assert dirs == {"a", "c"}


def test_land_batch_leaves_one_pollutant_key_out(tmp_path):
    import json

    hours = medallion.window_hours(0)
    exp = medallion.land_batch(
        random.Random(3), hours, str(tmp_path / "aq"), str(tmp_path / "wx"), "t"
    )
    assert exp["rows_per_city"] == len(hours)
    gaps = []
    for city in medallion.CITIES:
        doc = json.loads((tmp_path / "aq" / f"{city}_raw_t.json").read_text())
        missing = set(medallion.POLLUTANTS) - set(doc["hourly"])
        assert all(len(v) == len(hours) for v in doc["hourly"].values())
        gaps += [(city, p) for p in missing]
    assert len(gaps) == 1
