"""Tests of the benchmark's pure helpers (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import datagen as gen  # noqa: E402
from spans import Span, self_times  # noqa: E402
from stats import beyond, percentile, spread, tail_percentile  # noqa: E402


# -- Zipf key sequence -------------------------------------------------------


def test_zipf_ranks_repeat_for_a_seed_and_stay_in_range():
    a = gen.zipf_ranks(7, 5_000, 1_000, 1.0)
    b = gen.zipf_ranks(7, 5_000, 1_000, 1.0)
    assert np.array_equal(a, b)
    assert a.min() >= 0 and a.max() < 1_000
    assert not np.array_equal(a, gen.zipf_ranks(8, 5_000, 1_000, 1.0))
    # skew: rank 0 is drawn far more often than the median rank
    counts = np.bincount(a, minlength=1_000)
    assert counts[0] > 20 * max(counts[500], 1)


def test_key_sequence_is_deterministic_and_seed_picks_the_hot_keys():
    a = gen.key_sequence(3, 200, 6_000, 1.0)
    assert a == gen.key_sequence(3, 200, 6_000, 1.0)
    b = gen.key_sequence(4, 200, 6_000, 1.0)
    assert a != b

    def repeat_positions(keys):
        seen, out = set(), []
        for i, k in enumerate(keys):
            if k in seen:
                out.append(i)
            seen.add(k)
        return out

    # the rank trace is shared, so keys repeat at the same positions
    assert repeat_positions(a) == repeat_positions(b)


# -- tail percentile rule ----------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1_000, 99.0), (9_999, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_is_the_highest_with_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert beyond(n, p) >= 10


def test_percentile_is_nearest_rank():
    samples = list(range(1, 101))
    assert percentile(samples, 50) == 50
    assert percentile(samples, 99) == 99
    assert percentile(samples, 100) == 100
    assert percentile([5.0], 99.9) == 5.0


def test_spread_is_quartile_distance_over_median():
    assert spread([10.0] * 10) == 0.0
    assert spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx((8.25 - 2.75) / 5.5)


# -- self time from nested spans ---------------------------------------------


def _span(i, parent, start, end):
    return Span(i, f"s{i}", 1, parent, start, end)


def test_self_time_subtracts_the_union_of_child_intervals():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps span 2: counted once
        _span(4, 1, 7.0, 8.0),
        _span(5, 2, 1.5, 2.5),  # grandchild: only its parent's self time drops
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert selfs[2] == pytest.approx(2.0 - 1.0)
    assert selfs[3] == pytest.approx(3.0)
    assert selfs[5] == pytest.approx(1.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, None, 0.0, 2.0), _span(2, 1, 1.0, 4.0)]
    assert self_times(spans)[1] == pytest.approx(1.0)


# -- answer checks -----------------------------------------------------------


FIDS = {name: f"f_{name}" for name, *_ in gen.FEATURES}


def test_latest_model_breaks_ties_by_created_then_seq():
    m = gen.LatestModel()
    t = datetime(2024, 1, 2)
    m.add("heart_rate", "p", t, t, 5, 1.0)
    m.add("heart_rate", "p", t, t + timedelta(seconds=1), 1, 2.0)
    m.add("heart_rate", "p", t, t + timedelta(seconds=1), 0, 3.0)
    m.add("heart_rate", "p", t - timedelta(days=1), t + timedelta(days=9), 9, 4.0)
    assert m.get("heart_rate", "p") == (2.0, t)
    assert m.get("heart_rate", "q") == (None, None)


def test_history_has_ties_and_missing_keys():
    tab = gen.history(5, FIDS, 300)
    keys = set(zip(tab.column("feature_name").to_pylist(), tab.column("entity_id").to_pylist()))
    assert len(keys) < 5 * 300  # some (feature, patient) keys have no value
    times = list(zip(tab.column("feature_name").to_pylist(), tab.column("entity_id").to_pylist(),
                     tab.column("event_timestamp").to_pylist()))
    assert len(set(times)) < len(times)  # some rows tie on event time
    assert tab.equals(gen.history(5, FIDS, 300))


def _brute_force_pit(tab, spine_tab):
    rows = tab.to_pylist()
    out = []
    for s in spine_tab.to_pylist():
        row = [s["spine_id"], s["entity_id"], s["event_timestamp"]]
        for name in gen.PIT_FEATURES:
            slot = gen.SLOT_OF[name]
            cands = [r for r in rows if r["feature_name"] == name
                     and r["entity_id"] == s["entity_id"]
                     and r["event_timestamp"] <= s["event_timestamp"]]
            best = max(cands, key=lambda r: (r["event_timestamp"], r["created_timestamp"],
                                             r["seq"]), default=None)
            row += [best[slot], best["event_timestamp"]] if best else [None, None]
        out.append(tuple(row))
    return out


def test_duckdb_pit_oracle_matches_a_brute_force_as_of(tmp_path):
    tab = gen.history(9, FIDS, 40)
    spine_tab = gen.spine(9, 45, 60, gen.BASE_TIME + timedelta(days=gen.HISTORY_DAYS))
    values, spine = str(tmp_path / "v.parquet"), str(tmp_path / "s.parquet")
    gen.write_parquet(tab, values)
    gen.write_parquet(spine_tab, spine)
    got, n = checks.pit_oracle_hash([values], spine)
    assert n == 60
    assert got == checks.rows_hash(_brute_force_pit(tab, spine_tab))


def test_corpus_plants_exact_and_near_duplicates():
    c = gen.corpus(3, 400, 30, 20)
    assert len(c.texts) == 400
    normalized = [gen.normalize(t) for t in c.texts]
    assert len(normalized) - len(set(normalized)) == c.planted_exact
    assert len(c.near_pairs) == 20
    for a, b in c.near_pairs:
        wa, wb = normalized[a].split(" "), normalized[b].split(" ")
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1


def test_exact_topk_excludes_self_and_orders_by_cosine():
    vecs = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.7, 0.7]])
    top = checks.exact_topk(vecs[[0]], np.array([0]), vecs, 2)
    assert top == {0: [1, 3]}
