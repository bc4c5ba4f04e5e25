"""Unit tests of the benchmark's pure helpers (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import metrics as M  # noqa: E402


@pytest.mark.parametrize("n, p", [
    (1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert M.tail_percentile(n) == p
    if p > 50.0:
        assert round(n * (100 - p) / 100, 6) >= M.MIN_BEYOND


def test_tail_reads_the_chosen_percentile():
    values = list(range(1, 101))          # 100 samples -> p90
    p, v = M.tail(values)
    assert p == 90.0
    assert v == pytest.approx(90.1)
    assert M.quantile([3.0], 90) == 3.0


def test_self_time_subtracts_covered_child_time():
    assert M.self_time(0.0, 10.0, []) == 10.0
    assert M.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_counts_overlapping_children_once_and_clips():
    # overlapping children cover [1, 4]; the part outside the span is clipped
    assert M.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    assert M.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == 2.0
    assert M.self_time(0.0, 1.0, [(2.0, 3.0)]) == 1.0


def test_seeded_order_is_a_function_of_seed_and_set():
    names = ["c", "a", "b", "d", "e", "f"]
    one = M.seeded_order(names, 7)
    assert one == M.seeded_order(list(reversed(names)), 7)
    assert sorted(one) == sorted(names)
    assert len({tuple(M.seeded_order(names, s)) for s in range(20)}) > 1


def test_exclusive_times_charge_each_instant_to_the_deepest_span():
    spans = [
        (None, 0.0, 10.0),   # 0 root
        (0, 1.0, 5.0),       # 1 child
        (1, 2.0, 3.0),       # 2 grandchild
        (0, 4.0, 12.0),      # 3 overlaps 1 and overhangs the root
    ]
    t = M.exclusive_times(spans)
    assert t[2] == pytest.approx(1.0)
    assert t[1] == pytest.approx(2.0)        # [1,2] and [3,4]
    assert t[3] == pytest.approx(6.0)        # [4,10]: later start wins the tie
    assert t[0] == pytest.approx(1.0)
    assert sum(t) == pytest.approx(10.0)


def test_exclusive_times_keep_roots_apart():
    t = M.exclusive_times([(None, 0.0, 2.0), (0, 0.5, 1.0), (None, 5.0, 6.0)])
    assert t == pytest.approx([1.5, 0.5, 1.0])


def _tracer_with_spans():
    from perfbench.trace import Span, Tracer

    tr = Tracer(None, True)
    tr.spans = [
        Span("session.warmup", "w", None, 0.0, 3.0),
        Span("pass", "c2", None, 10.0, 20.0),
        Span("cycle", "c2", 1, 10.5, 19.5),
        Span("streaming.batch", "c2", 2, 11.0, 15.0),
        Span("table_log.append", "c2", 3, 11.5, 13.0),      # sink commits on
        Span("table_log.overwrite", "c2", 3, 12.0, 14.5),   # two threads
        Span("table_log.read", "c2", 2, 15.5, 16.0),
        Span("trace.bookkeeping", "c2", 2, 16.0, 16.25),
        Span("maintenance", "m", None, 30.0, 34.0),
        Span("table_log.merge", "m", 8, 30.0, 33.0),
        Span("trace.bookkeeping", "m", 8, 33.0, 33.5),
    ]
    return tr


def test_tracer_self_times_add_up_to_the_wall():
    tr = _tracer_with_spans()
    by = tr.self_times(("pass", "maintenance"))
    assert tr.wall(("pass", "maintenance")) == pytest.approx(14.0)
    assert sum(by.values()) == pytest.approx(14.0)
    assert "session.warmup" not in by
    assert by["table_log.append"] == pytest.approx(0.5)
    assert by["table_log.overwrite"] == pytest.approx(2.5)
    assert by["trace.bookkeeping"] == pytest.approx(0.75)
    assert tr.bookkeeping_since(30.0) == pytest.approx(0.5)


def test_layer_metrics_account_for_the_pass_wall():
    import types

    from perfbench import run

    ctx = types.SimpleNamespace(tracer=_tracer_with_spans())
    res = {"latencies": [0.1, 0.2], "pass_times": {True: [1.1], False: [1.0]}}
    out = run.layer_metrics(res, ctx, {})
    layers = sum(out[f"{n}_s"][0] for n in run.LAYER_SPANS)
    assert layers + out["trace.unattributed_s"][0] == \
        pytest.approx(out["trace.pass_wall_s"][0])
    assert out["streaming.batch_s"][0] == pytest.approx(1.0)
    assert out["trace.unattributed_s"][0] == pytest.approx(5.75)
    assert out["trace.overhead_ratio"][0] == pytest.approx(0.1)


def test_result_check_uses_the_oracle_canonicalisation():
    from perfbench.queries import check

    expected = {"q": (["b", "a"], [(1, "x"), (0.1 + 0.2, None)])}
    same = {"q": [(["a", "b"], [(None, 0.3), ("x", 1)])]}
    assert check(same, expected) == (1, 0, [])
    other = {"q": [(["a", "b"], [(None, 0.3), ("y", 1)])]}
    attempted, failed, notes = check(other, expected)
    assert (attempted, failed, len(notes)) == (1, 1, 1)


def test_write_amp_on_a_fixture_table(tmp_path):
    table = tmp_path / "t"
    (table / "data").mkdir(parents=True)
    (table / "_log").mkdir()
    (table / "data" / "old.parquet").write_bytes(b"x" * 300)   # rewritten away
    (table / "data" / "live.parquet").write_bytes(b"x" * 100)
    (table / "_log" / "00000000.json").write_bytes(b"x" * 50)
    (table / "_log" / "00000001.json").write_bytes(b"x" * 50)
    written = M.dir_bytes(str(table))
    assert written == 500
    assert M.dir_bytes(str(table / "_log")) == 100
    live = (table / "data" / "live.parquet").stat().st_size
    assert M.write_amp(written, live) == 5.0
    with pytest.raises(ValueError):
        M.write_amp(written, 0)


def test_process_cleanup_finds_grandchildren_and_waits_for_them():
    import signal
    import subprocess
    import time

    from perfbench.run import live_descendants, still_running

    child = subprocess.Popen(["sh", "-c", "sleep 30 & wait"])
    deadline = time.monotonic() + 10
    while len(live_descendants(os.getpid())) < 2 and time.monotonic() < deadline:
        time.sleep(0.02)
    below = live_descendants(os.getpid())
    assert child.pid in below and len(below) >= 2   # the shell and its sleep
    for p in below:
        os.kill(p, signal.SIGKILL)
    while still_running(below) and time.monotonic() < deadline:
        time.sleep(0.02)
    assert still_running(below) == set()
    assert child.poll() is not None                 # reaped, not a zombie
