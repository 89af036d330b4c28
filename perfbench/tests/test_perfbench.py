"""Tests of the benchmark itself: generator determinism, the tail rule,
the reference computations on hand-checked inputs, and BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np
import pytest

import gen
import layers
import reference
import stats
from tracer import CountingKVClient, _covered

ROOT = Path(__file__).resolve().parents[2]


# -- generator -------------------------------------------------------------


def _slices_equal(a, b) -> bool:
    return all(
        all(np.array_equal(x[c], y[c]) for c in x) for x, y in zip(a, b)
    ) and len(a) == len(b)


def test_event_stream_is_a_function_of_seed_and_index(tmp_path):
    spec = gen.EventSpec(files=3, rows_per_file=200)
    assert _slices_equal(gen.event_slices(spec, 7, 0), gen.event_slices(spec, 7, 0))
    assert not _slices_equal(gen.event_slices(spec, 7, 0), gen.event_slices(spec, 8, 0))
    assert not _slices_equal(gen.event_slices(spec, 7, 0), gen.event_slices(spec, 7, 1))
    for d in ("a", "b"):
        gen.write_event_stream(gen.event_slices(spec, 7, 0), str(tmp_path / d))
    for i in range(3):
        name = f"part-{i:05d}.parquet"
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
        assert (tmp_path / "a" / name).stat().st_mtime < (
            tmp_path / "a" / f"part-{i + 1:05d}.parquet"
        ).stat().st_mtime if i < 2 else True


def test_event_slices_keep_their_late_share_and_time_slice():
    spec = gen.EventSpec(files=2, rows_per_file=5000, late_share=0.1)
    for i, s in enumerate(gen.event_slices(spec, 3, 0)):
        start = gen.T0_MS + i * spec.slice_s * 1000
        on_time = s["ts"][~s["late"]]
        assert on_time.min() >= start and on_time.max() < start + spec.slice_s * 1000
        assert (s["ts"][s["late"]] < start).all()
        assert 0.08 < s["late"].mean() < 0.12


def test_documents_and_lookup_keys_are_deterministic(tmp_path):
    spec = gen.DocSpec(docs=50)
    for d in ("a", "b"):
        gen.write_documents(gen.documents(spec, 5), str(tmp_path / d), files=2)
    for part in ("part-00000.parquet", "part-00001.parquet"):
        assert (tmp_path / "a" / part).read_bytes() == (tmp_path / "b" / part).read_bytes()
    assert gen.documents(spec, 5)["text"] != gen.documents(spec, 6)["text"]
    events = gen.EventSpec()
    assert gen.lookup_keys(events, 5, 2) == gen.lookup_keys(events, 5, 2)
    hot, cold = gen.lookup_keys(events, 5, 2)
    assert max(hot) < min(cold)


# -- tail rule ---------------------------------------------------------------


@pytest.mark.parametrize("n", [0, 1, 10])
def test_no_tail_without_eleven_samples(n):
    assert stats.tail_percentile(n) is None
    assert stats.tail([1.0] * n) == (None, None)


@pytest.mark.parametrize("n,p", [(11, 9), (20, 50), (21, 52), (100, 90), (1000, 99), (5000, 99)])
def test_tail_percentile_boundaries(n, p):
    assert stats.tail_percentile(n) == p


@pytest.mark.parametrize("n", range(11, 400))
def test_tail_keeps_ten_samples_beyond_and_is_the_highest_such(n):
    p = stats.tail_percentile(n)
    beyond = n - math.ceil(p * n / 100)
    assert beyond >= stats.TAIL_BEYOND
    if p < 99:
        assert n - math.ceil((p + 1) * n / 100) < stats.TAIL_BEYOND


def test_tail_value_is_nearest_rank():
    values = [float(v) for v in range(1, 21)]  # p50 of 20 -> rank 10
    assert stats.tail(values[::-1]) == (50, 10.0)


# -- references --------------------------------------------------------------


def test_stream_topn_hand_checked():
    """Three batches; windows are 300 s long, sliding by 60 s.

    batch 0: a@10s a@20s b@30s      -> no window closed yet (max 30 s)
    batch 1: c@125s b@130s b@131s   -> closed: the window ending at 120 s,
                                       which holds a:2 b:1
    batch 2: c@250s, late a@50s     -> closed up to end 240 s: the window
                                       [-60 s, 240 s) holds a:3 b:3 c:1
    The late event is checked against the watermark in force one batch
    earlier (29 s), so none of its windows is dropped."""
    batches = [
        (np.array([10_000, 20_000, 30_000]), ["a", "a", "b"]),
        (np.array([125_000, 130_000, 131_000]), ["c", "b", "b"]),
        (np.array([250_000, 50_000]), ["c", "a"]),
    ]
    ref = reference.stream_topn(batches, n=10, prefix="Top10-")
    assert ref["snapshots"] == [[], ["a", "b"], ["a", "b", "c"]]
    assert ref["kv"] == {"Top10-1": "a, 3", "Top10-2": "b, 3", "Top10-3": "c, 1"}
    assert ref["dropped_contributions"] == 0


def test_stream_topn_drops_contributions_behind_the_lagged_watermark():
    # the watermark in force for batch 2 is 299 s, for batch 3 it is 599 s;
    # an event at 10 s in batch 3 has windows ending at 60..300 s, all <= 299 s
    batches = [
        (np.array([300_000]), ["a"]),
        (np.array([600_000]), ["a"]),
        (np.array([900_000]), ["b"]),
        (np.array([10_000, 1_200_000]), ["z", "b"]),
    ]
    ref = reference.stream_topn(batches, n=1)
    assert ref["dropped_contributions"] == 5
    assert ref["snapshot"] == ["b"]  # window [840 s, 1140 s) holds only b


def test_stream_topn_counts_late_events_the_lagged_watermark_lets_through():
    """A batch of only late events: y@500 s and y@510 s land in the window
    [240 s, 540 s), closed (and snapshotted) after batch 1. The watermark
    in force for batch 1 (299 s) still admits them, so the snapshot becomes
    [y, x]; Spark 4.1 streaming gives the same on this stream."""
    batches = [
        (np.array([300_000]), ["x"]),
        (np.array([600_000]), ["x"]),
        (np.array([500_000, 510_000]), ["y", "y"]),
    ]
    ref = reference.stream_topn(batches, n=10)
    assert ref["snapshots"] == [[], ["x"], ["y", "x"]]
    assert ref["kv"] == {"Top10-1": "y, 2", "Top10-2": "x, 1"}


def test_filter_matches():
    assert reference.filter_matches(["a", "b", "a", "c"], ["a", "c"]) == 3


def test_running_aggregate():
    agg = reference.RunningAggregate()
    agg.merge(np.array([1, 2, 1]), np.array([1.0, 2.0, 3.0]))
    agg.merge(np.array([2]), np.array([5.0]))
    assert agg.rows() == {(1, 2, 4.0), (2, 2, 7.0)}
    assert agg.rows([2, 9]) == {(2, 2, 7.0)}


def test_flagship_reference_hand_checked(tmp_path):
    """Doc i is stamped i minutes after the epoch start. With n=1, x is top
    in every window covering minutes 0, 1 and 3; y is never top in a window
    covering minute 2 (x ties or beats it there), so doc 2 is filtered out."""
    from twitter_flink_spark.plans.flagship import flagship_oracle_sql

    gen.write_documents(
        {"doc_id": np.arange(4, dtype=np.int64), "text": ["x y", "x", "y", "x"]},
        str(tmp_path), files=2,
    )
    glob = str(tmp_path / "*.parquet")
    assert reference.flagship_doc_ids(glob, flagship_oracle_sql(1)) == [0, 1, 3]


# -- instruments -------------------------------------------------------------


def test_covered_is_the_clipped_union():
    assert _covered([(1, 3), (2, 4), (6, 7), (9, 12)], 0, 10) == pytest.approx(5.0)
    assert _covered([], 0, 10) == 0


def test_counting_kv_client():
    c = CountingKVClient()
    c.set("k", "1")
    c.set("k", "1")
    c.set("k", "2")
    c.delete("k")
    assert (c.sets, c.changed, c.deletes, c.data) == (3, 2, 1, {})


# -- BENCHMARK.json ------------------------------------------------------------


def test_benchmark_json_matches_the_metrics_the_runner_reports():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert [w["name"] for w in bench["workloads"]] == list(layers.WORKLOADS)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == layers.END_TO_END
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    per_layer = {m["name"]: m for m in bench["per_layer"]}
    assert {n: m["unit"] for n, m in per_layer.items()} == {
        n: u for n, (u, _, _) in layers.PER_LAYER.items()
    }
    for m in bench["end_to_end"] + bench["per_layer"]:
        want = "higher" if m["name"] in layers.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m["name"]
