"""Checks the benchmark's own arithmetic, and that BENCHMARK.json names
the metrics run.py prints. Run: python3 perfbench/selfcheck.py"""
import json
import math
import os

import metrics as m
import run


def check_tail():
    xs = list(range(1, 101))              # 100 samples
    assert m.tail(xs) == (90, 90), m.tail(xs)   # 10 beyond p90, 5 beyond p95
    assert m.tail(list(range(1, 40))) == (50, 20)  # p75 leaves only 9
    assert m.tail(list(range(1, 41))) == (75, 30)
    assert m.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)  # too few: the maximum
    v, beyond = m.nearest_rank([5, 1, 4, 2, 3], 50)
    assert (v, beyond) == (3, 2)


def check_self_time():
    # children overlap each other and stick out of the parent
    assert math.isclose(m.self_time((0, 10), [(1, 4), (3, 6), (9, 12)]), 4)
    assert m.self_time((0, 10), []) == 10
    assert m.self_time((0, 10), [(-5, 20)]) == 0
    assert m.self_time((0, 10), [(2, 2), (6, 5)]) == 10  # empty children
    assert math.isclose(m.union_length([(0, 1), (0.5, 2), (5, 6)]), 3)


def check_write_amp():
    # a 1 KiB batch rewritten by a 9 KiB compaction: 10 KiB written per 1 KiB
    assert m.write_amp(10 * 1024, 1024) == 10
    assert m.write_amp(5, 0) == 0.0


def check_trace_overhead():
    # a speed drift of 0.1 s per op: the traced op (+0.05 s) sits
    # between two untraced ones of its kind, so the drift cancels
    seq = [("q", 1.0, False), ("r", 9.0, False), ("q", 1.15, True), ("q", 1.2, False)]
    s, share = m.trace_overhead(seq)
    assert math.isclose(s, 0.05) and math.isclose(share, 0.05 / 1.1), (s, share)
    # a traced op with no untraced op of its kind after it
    s, _ = m.trace_overhead([("q", 2.0, False), ("q", 2.5, True)])
    assert math.isclose(s, 0.5)
    assert m.trace_overhead([("q", 2.0, True)]) == (0.0, 0.0)


def check_benchmark_json():
    path = os.path.join(run.ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    b = json.load(open(path))
    assert {e["name"]: e["unit"] for e in b["end_to_end"]} == run.END_TO_END
    assert {e["name"]: e["unit"] for e in b["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} == set(run.WORKLOADS)


if __name__ == "__main__":
    for f in (check_tail, check_self_time, check_write_amp, check_trace_overhead,
              check_benchmark_json):
        f()
    print("selfcheck ok")
