"""Tests of the benchmark's pure helpers: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import os
import random

import pytest

from perfbench import broker_mixed, catalog_mixed
from perfbench.stats import (
    percentile,
    seeded_positions,
    self_time,
    tail_level,
    valid_metric_name,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "n, level",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert tail_level(n) == level
    if level is not None:
        values = list(range(n))
        assert sum(v > percentile(values, level) for v in values) >= 10


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile([7.0], 99) == 7.0
    # a bimodal mix reports an observed value, never one between modes
    assert percentile([1.0] * 80 + [9.0] * 20, 90) == 9.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    assert self_time((0.0, 10.0), []) == 10.0
    # (1,3) and (2,4) overlap: 3 covered; (8,12) sticks out: 2 covered
    assert self_time((0.0, 10.0), [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)
    # children wholly outside the parent cover nothing
    assert self_time((0.0, 10.0), [(-5, -1), (11, 12)]) == 10.0
    assert self_time((0.0, 10.0), [(0, 10), (3, 4)]) == 0.0


def test_broker_inputs_same_seed_same_inputs():
    a = broker_mixed.Inputs(7, rounds=3)
    b = broker_mixed.Inputs(7, rounds=3)
    c = broker_mixed.Inputs(8, rounds=3)
    assert a.rounds == b.rounds
    assert a.rounds != c.rounds


def test_broker_round_mix_is_fixed_per_round():
    for r in broker_mixed.Inputs(3, rounds=4).rounds:
        kinds = [k for k, _, _ in r["pubs"]]
        assert len(kinds) == broker_mixed.PUBLISHES
        for kind, count in broker_mixed.KINDS.items():
            assert kinds.count(kind) == count
        assert len(r["batch"]) == broker_mixed.BATCH
        assert 0 <= r["redrive"] < broker_mixed.KINDS["refund"]


def test_broker_replay_expectation_matches_brute_force():
    inp = broker_mixed.Inputs(5, rounds=1)
    rp = {"lo": 100, "hi": 160, "types": ["click", "error"], "limit": 1000}
    want = {broker_mixed.TYPES.index(t) for t in rp["types"]}
    n = sum((i * 7 + 5) % len(broker_mixed.TYPES) in want for i in range(100, 161))
    assert inp.replay_expected(rp) == n
    assert inp.replay_expected({**rp, "limit": 3}) == 3


def test_catalog_pass_order_is_seeded_permutation():
    a = catalog_mixed.pass_order(4, passes=3)
    assert a == catalog_mixed.pass_order(4, passes=3)
    assert a != catalog_mixed.pass_order(5, passes=3)
    names = sorted(catalog_mixed.ITERATIVE + catalog_mixed.SINGLE_PASS)
    assert all(sorted(p) == names for p in a)


def test_seeded_positions_exact_counts():
    kinds = seeded_positions(random.Random(1), 10, {"a": 3, "b": 2})
    assert sorted(kinds) == ["a"] * 3 + ["b"] * 2 + ["default"] * 5
    with pytest.raises(ValueError):
        seeded_positions(random.Random(1), 3, {"a": 4})


@pytest.mark.parametrize("name", ["setup_s", "stream.addBatch_ms", "a-b.c_1", "9lives"])
def test_metric_name_charset_accepts(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "a" * 65, "x\n"])
def test_metric_name_charset_rejects(name):
    assert not valid_metric_name(name)


def test_declared_metrics_are_valid_and_unique():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(valid_metric_name(n) for n in names)
