"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Result  # noqa: E402
from gen import FILES_PER_S, ChangeGen, stream_file, write_tables  # noqa: E402
from stats import TAIL_LADDER, nearest_rank, relative_iqr, self_time, summarize, union_length  # noqa: E402
from stream import LATE_LIMIT_S, TRIGGER_S, aligned_start, backlog, check_events, check_generator, file_lags  # noqa: E402

# ------------------------------------------------------------------ stats


def test_summarize_below_twenty_samples_reports_the_median_as_tail():
    s = summarize([5.0, 1.0, 4.0, 2.0, 3.0])
    assert s == {"p50": 3.0, "tail": 3.0, "tail_pct": 50.0, "n": 5}


@pytest.mark.parametrize(
    "n, pct",
    [(19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    s = summarize(values)
    assert s["tail_pct"] == pct and s["n"] == n
    if pct > 50:
        assert s["tail"] == nearest_rank(values, pct)
        assert sum(v > s["tail"] for v in values) >= 10
    rung = TAIL_LADDER.index(pct)
    if rung > 0:
        # the next rung up would leave fewer than ten beyond
        higher = nearest_rank(values, TAIL_LADDER[rung - 1])
        assert sum(v > higher for v in values) < 10


def test_nearest_rank():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert nearest_rank(xs, 50) == 20.0
    assert nearest_rank(xs, 75) == 30.0
    assert nearest_rank(xs, 100) == 40.0


def test_relative_iqr():
    assert relative_iqr([10.0] * 10) == 0.0
    assert relative_iqr([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0
    assert union_length([]) == 0.0


def test_self_time_subtracts_overlapping_children_once():
    # children overlap each other ([1,4] and [3,6]) and stick out of the
    # span ([8,12] ends after 10): covered = [1,6] + [8,10] = 7
    assert self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (8.0, 12.0)]) == pytest.approx(3.0)
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(2.0, 4.0, [(0.0, 10.0)]) == 0.0


# -------------------------------------------------------------- generator


def test_change_batches_are_byte_identical_per_seed():
    a, b = ChangeGen(7), ChangeGen(7)
    assert [a.batch(3000) for _ in range(3)] == [b.batch(3000) for _ in range(3)]
    assert ChangeGen(8).batch(3000) != ChangeGen(7).batch(3000)


def test_change_mix_and_model_follow_the_rows():
    g = ChangeGen(3)
    rows = [json.loads(line) for _ in range(4) for line in g.batch(5000)]
    assert g.rows == len(rows) == 20_000
    ops = [r["_cdc_operation"] for r in rows]
    assert 0.55 < ops.count("insert") / 20_000 < 0.65
    assert 0.03 < ops.count("delete") / 20_000 < 0.07
    # replaying the rows in timestamp order gives the generator's model
    state = {}
    for r in sorted(rows, key=lambda r: r["_cdc_timestamp"]):
        if r["_cdc_operation"] == "delete":
            del state[r["_id"]]
        else:
            state[r["_id"]] = (r["n"], r["name"], r["qty"])
    assert state == g.live


def test_stream_files_are_deterministic_apart_from_the_due_stamp():
    assert stream_file(5, 3, 100, 1000) == stream_file(5, 3, 100, 1000)
    assert stream_file(5, 3, 100, 1000) != stream_file(6, 3, 100, 1000)


def test_tables_are_byte_identical_per_seed(tmp_path):
    def digest(d):
        return {
            f: hashlib.sha256((d / f).read_bytes()).hexdigest() for f in sorted(os.listdir(d))
        }

    write_tables(str(tmp_path / "a"), 42)
    write_tables(str(tmp_path / "b"), 42)
    assert digest(tmp_path / "a") == digest(tmp_path / "b")


# ---------------------------------------------------------- output checks


def test_stream_checks_flag_lost_and_duplicated_events():
    ok = Result("stream")
    check_events(ok, 5, [0, 1, 2, 3, 4])
    assert ok.failed == 0 and ok.attempted == 7
    lost = Result("stream")
    check_events(lost, 5, [0, 1, 2, 3])
    assert lost.failed == 1
    dup = Result("stream")
    check_events(dup, 5, [0, 1, 2, 3, 3])
    assert dup.failed == 1


def test_stream_checks_flag_a_late_generator():
    on_time = Result("stream")
    check_generator(on_time, 0.02)
    assert on_time.failed == 0 and on_time.attempted == 1
    late = Result("stream")
    check_generator(late, LATE_LIMIT_S + 0.01)
    assert late.failed == 1 and "late" in late.failures[0]


def test_stream_lag_counts_each_file_once():
    # two files of three events; the second file's last event committed late
    due = [1000, 1000, 1000, 1250, 1250, 1250]
    commit = [3000, 3000, 3000, 3000, 3000, 3500]
    assert file_lags(due, commit) == [2.0, 2.25]
    # 40 files of 1000 events make 40 samples: the tail is p75, not p99.9
    lags = file_lags([d for d in range(40) for _ in range(1000)], [2 * d + 100 for d in range(40) for _ in range(1000)])
    assert summarize(lags)["n"] == 40 and summarize(lags)["tail_pct"] == 75.0


def test_backlog_counts_due_but_uncommitted_events():
    due = [0, 0, 100, 100, 200]
    commits = [150, 150, 150, 150, 250]
    assert backlog(due, commits, 120) == 4
    assert backlog(due, commits, 160) == 0
    # the backlog shrank by three between t=100 and t=200
    assert backlog(due, commits, 200) - backlog(due, commits, 100) == -3


@pytest.mark.parametrize("now", [1000.0, 1001.7, 1001.99, 1002.0, 1003.3])
def test_stream_files_never_fall_due_on_a_trigger(now):
    start = aligned_start(now)
    assert start - now >= 0.5
    # every due time sits strictly between two processing-time triggers
    for k in range(40):
        phase = (start + k / FILES_PER_S) % TRIGGER_S
        assert 0.1 < phase < TRIGGER_S - 0.1


class _FakeContext:
    def setJobGroup(self, *a, **k):
        pass

    def setLocalProperty(self, *a):
        pass

    def cancelJobGroup(self, *a):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


class _FakeFrame:
    def __init__(self, rows, columns):
        self.rows, self.columns = rows, columns

    def collect(self):
        return self.rows


def test_query_checks_flag_a_mutated_result():
    from query import _timed, canon_digest

    cols = ["k", "v"]
    rows = [(1, 2.5), (2, None), (3, 4.0)]
    want = canon_digest(cols, rows)
    assert canon_digest(cols, list(reversed(rows))) == want  # order-free

    def check(got_rows, got_cols):
        return canon_digest(got_cols, got_rows) == want

    ok, _, _ = _timed(_FakeSpark(), None, "q", lambda: _FakeFrame(rows, cols), check)
    assert ok
    mutated = [(1, 2.5), (2, None), (3, 4.000001)]
    ok, _, _ = _timed(_FakeSpark(), None, "q", lambda: _FakeFrame(mutated, cols), check)
    assert not ok


def test_query_checks_count_an_error_as_failed():
    from query import _timed

    def boom():
        raise RuntimeError("executor lost")

    ok, _, _ = _timed(_FakeSpark(), None, "q", boom, lambda r, c: True)
    assert not ok


def test_tracer_links_nested_calls_and_sums_per_operation():
    import time

    from spans import Tracer

    tracer = Tracer(_FakeSpark())
    inner = tracer._wrap(lambda: time.sleep(0.01), "schema.merge_schemas", False)
    outer = tracer._wrap(lambda: [inner(), inner()], "sinks.append", True)
    t0 = time.time()
    for i in range(2):
        with tracer.span("op", trace=f"batch-{i}", group=False):
            outer()
    spans = {sp.id: sp for sp in tracer.spans}
    appends = [sp for sp in tracer.spans if sp.name == "sinks.append"]
    assert [spans[sp.parent].trace for sp in appends] == ["batch-0", "batch-1"]
    assert all(sp.group for sp in appends)
    merges = [sp for sp in tracer.spans if sp.name == "schema.merge_schemas"]
    assert len(merges) == 4 and all(spans[m.parent].name == "sinks.append" for m in merges)
    assert all(m.trace == spans[m.parent].trace for m in merges)
    per_op = tracer.layer_summary(per=2, window=(t0, time.time()))
    assert per_op["sinks.append.calls"] == 1 and per_op["schema.merge_schemas.calls"] == 2
    assert per_op["schema.merge_schemas.s"] >= 0.02
    assert tracer.layer_summary(per=2, window=(0.0, t0 - 1)) == {}
