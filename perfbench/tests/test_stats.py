"""Tests of the benchmark's pure logic (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


# --- percentile rule ------------------------------------------------------


def test_p90_refused_below_100_samples():
    with pytest.raises(stats.InsufficientSamples):
        stats.percentile(range(99), 0.9)
    assert stats.percentile(range(1, 101), 0.9) == 90


def test_p90_keeps_ten_samples_beyond_it():
    xs = list(range(1, 101))
    p90 = stats.percentile(xs, 0.9)
    assert sum(1 for x in xs if x > p90) == 10


def test_highest_supported_percentile():
    assert stats.highest_supported(100) == pytest.approx(0.9)
    assert stats.highest_supported(200) == pytest.approx(0.95)
    assert stats.highest_supported(40) == pytest.approx(0.75)
    assert stats.highest_supported(10) is None
    # the highest supported percentile itself is never refused
    for n in (11, 40, 99, 100, 257):
        xs = list(range(n))
        p = stats.highest_supported(n)
        v = stats.percentile(xs, p)
        assert sum(1 for x in xs if x > v) >= 10


def test_median_of_nothing_refused():
    with pytest.raises(stats.InsufficientSamples):
        stats.median([])


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    xs = [float(x) for x in range(1, 11)]
    q1, q2, q3 = __import__("statistics").quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / q2)


def test_quieter_half_sets_aside_disturbed_groups():
    groups = [[1.0, 1.1], [3.0, 3.2], [1.2, 0.9], [2.0, 2.5], [1.0, 1.0]]
    assert stats.quieter_half(groups) == [0, 2, 4]  # 6 of 10 samples
    assert stats.quieter_half(groups[:4]) == [0, 2]
    # a uniform slowdown moves every group: nothing is hidden
    slow = [[x * 2 for x in g] for g in groups]
    kept = stats.quieter_half(slow)
    assert kept == [0, 2, 4]
    assert stats.median(x for i in kept for x in slow[i]) == 2 * stats.median(
        x for i in kept for x in groups[i])


def test_quieter_half_counts_samples_not_groups():
    # uneven groups (micro-batches take different numbers of chunks)
    groups = [[5.0] * 30, [1.0] * 2, [2.0] * 10, [3.0] * 20]
    assert stats.quieter_half(groups) == [1, 2, 3]  # 32 of 62
    assert stats.quieter_half(groups, min_samples=40) == [0, 1, 2, 3]
    assert stats.quieter_half(groups, min_samples=1000) == [0, 1, 2, 3]


def test_best_of_blocks_keeps_each_items_lowest_time_per_block():
    passes = [{"a": 1.0, "b": 5.0}, {"a": 3.0, "b": 2.0},
              {"a": 2.0, "b": 2.5}, {"a": 2.2, "b": 9.0}]
    assert stats.best_of_blocks(passes, 2) == [{"a": 1.0, "b": 2.0}, {"a": 2.0, "b": 2.5}]
    # a last, shorter block joins the one before it
    assert stats.best_of_blocks(passes[:3], 2) == [{"a": 1.0, "b": 2.0}]
    assert stats.best_of_blocks(passes, 4) == [{"a": 1.0, "b": 2.0}]
    # an item that failed in one pass keeps its time from the others
    assert stats.best_of_blocks([{"a": 1.0}, {"a": 0.5, "b": 2.0}], 2) == [{"a": 0.5, "b": 2.0}]
    assert stats.best_of_blocks([], 3) == []


def test_best_of_blocks_hides_bursts_but_not_a_slower_program():
    base = [{"a": 1.0, "b": 2.0} for _ in range(6)]
    burst = [dict(p) for p in base]
    burst[1] = {"a": 3.0, "b": 6.0}  # load from elsewhere slows one pass
    assert stats.best_of_blocks(burst, 3) == stats.best_of_blocks(base, 3)
    slower = [{k: v * 1.3 for k, v in p.items()} for p in burst]
    assert stats.best_of_blocks(slower, 3) == [{"a": 1.3, "b": 2.6}] * 2


# --- open loop ------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def now(self):
        return self.t

    def sleep(self, dt):
        self.t += dt


def test_open_loop_charges_a_stall_to_later_items():
    clk = FakeClock()
    service = {0: 0.1, 1: 2.0, 2: 0.1, 3: 0.1, 4: 0.1}

    def serve(i):
        clk.t += service[i]

    items = stats.run_open_loop(5, 0.5, serve, clk.now, clk.sleep, t0=0.0)
    dues = [d for d, _, _ in items]
    assert dues == [0.0, 0.5, 1.0, 1.5, 2.0]  # schedule never slips
    lat = stats.latencies_from_due(items)
    # item 1 stalls 2 s; items 2-4 wait for it, and the wait is theirs
    assert lat[1] == pytest.approx(2.0)
    assert lat[2] == pytest.approx(1.6)  # started at 2.5, due at 1.0
    assert lat[3] == pytest.approx(1.2)
    assert lat[4] == pytest.approx(0.8)
    # a closed-loop reading (start to end) would hide all of that
    assert [round(e - s, 6) for _, s, e in items] == [0.1, 2.0, 0.1, 0.1, 0.1]
    late = stats.lateness(items)
    assert late[0] == 0.0 and late[2] == pytest.approx(1.5)
    assert max(late) == pytest.approx(1.5)


def test_open_loop_stops_on_request():
    clk = FakeClock()
    served = []
    items = stats.run_open_loop(
        None, 1.0, served.append, clk.now, clk.sleep,
        stop=lambda: clk.t >= 3.5, t0=0.0,
    )
    assert served == [0, 1, 2, 3] and len(items) == 4


# --- spans ----------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 1, "start": 9.0, "end": 12.0},  # runs past 1
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(1.0)


def test_union_length():
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == 3.0
    assert stats.union_length([]) == 0.0


# --- batch id -> files ----------------------------------------------------


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for p, b in entries:
            f.write(json.dumps({"path": p, "timestamp": 1, "batchId": b}) + "\n")


def test_source_batches_reads_plain_and_compact_logs(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    # batches 0-9 folded into 9.compact (their plain files deleted),
    # batch 10 still a plain file, plus the .crc side files Spark writes
    _log(d / "9.compact", [(f"file:///in/c{b:03d}.csv", b) for b in range(10)]
         + [("file:///in/c009b.csv", 9)])
    _log(d / "10", [("file:///in/c010.csv", 10), ("file:///in/c011.csv", 10)])
    (d / ".10.crc").write_text("x")
    (d / ".9.compact.crc").write_text("x")
    got = stats.source_batches(str(d))
    assert got[0] == {"c000.csv"}
    assert got[9] == {"c009.csv", "c009b.csv"}
    assert got[10] == {"c010.csv", "c011.csv"}
    assert set(got) == set(range(11))


def test_source_batches_compact_and_plain_agree(tmp_path):
    d = tmp_path / "s"
    d.mkdir()
    _log(d / "0", [("file:///a/x.json", 0)])
    _log(d / "1.compact", [("file:///a/x.json", 0), ("file:///a/y.json", 1)])
    assert stats.source_batches(str(d)) == {0: {"x.json"}, 1: {"y.json"}}


def _offsets(ckpt, covered):
    d = ckpt / "offsets"
    d.mkdir(parents=True)
    for b, log_offset in covered.items():
        (d / str(b)).write_text(
            'v1\n{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}\n'
            + json.dumps({"logOffset": log_offset}))
        (d / f".{b}.crc").write_text("x")


def test_batch_files_maps_micro_batches_through_the_offset_log(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    # source batches 0..3; micro-batch 1 and 3 are no-data (watermark)
    # batches that repeat the previous offset, so ids drift apart
    _log(src / "0", [("file:///in/a.json", 0)])
    _log(src / "1", [("file:///in/b.json", 1), ("file:///in/c.json", 1)])
    _log(src / "2", [("file:///in/d.json", 2)])
    _log(src / "3", [("file:///in/e.json", 3)])
    _offsets(tmp_path, {0: 0, 1: 0, 2: 1, 3: 1, 4: 3})
    got = stats.batch_files(str(tmp_path))
    assert got == {0: {"a.json"}, 1: set(), 2: {"b.json", "c.json"},
                   3: set(), 4: {"d.json", "e.json"}}
