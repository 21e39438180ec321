"""``stream``: open loop at a fixed 4,000 events/s into
``CDCStreamPipeline(trigger_seconds=3.0).from_files(...)``.

A separate single-threaded generator process writes 4 files/s on a
wall-clock schedule (``gen.py stream``). Lag is measured after the run
from commit metadata: ``read_changes`` ``_commit_timestamp`` minus the
generator's due stamp in ``_cdc_timestamp``, for events due inside the
measured window that follows the warm-up.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime

from common import Result, Timer
from gen import FILES_PER_S, RATE, stream_file, write_lines
from stats import summarize

#: a micro-batch costs 1.2-2.0 s of mostly fixed work on a 4-core host,
#: more when the host is contended; a trigger it outlasts runs batches back
#: to back and makes the lag median swing between runs (see README.md)
TRIGGER_S = 3.0
#: seconds of generator output before the measured window opens
WARMUP_S = 3.0
#: a generator that wrote any file later than this after its due time
#: invalidates the run; half a file interval (the worst seen on a 4-core
#: host is ~0.035 s)
LATE_LIMIT_S = 0.5 / FILES_PER_S
SETUP_REPS = 3
TABLE = "shop_stream"
GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")


def backlog(due_ms, commit_ms, t_ms: float) -> int:
    """Events due by ``t_ms`` that were not yet committed by then."""
    return sum(1 for d in due_ms if d <= t_ms) - sum(1 for c in commit_ms if c <= t_ms)


def aligned_start(now: float) -> float:
    """When the first file is due: half a file interval after a trigger
    instant at least 0.5 s away. Processing-time triggers fire on multiples
    of the interval since the epoch, so every run sees the same phase
    between file arrivals and triggers, and no file is due at a trigger."""
    grid = (math.floor(now / TRIGGER_S) + 1) * TRIGGER_S
    if grid - now < 0.5:
        grid += TRIGGER_S
    return grid + 0.5 / FILES_PER_S


def file_lags(due_ms, commit_ms) -> list[float]:
    """Lag in seconds of each generator file: from its due stamp to the
    commit of its last event. A file's events share the due stamp and
    reach the lake in one micro-batch, so they are one sample, not
    a thousand: the tail rule must count files."""
    last: dict[int, int] = {}
    for d, c in zip(due_ms, commit_ms):
        last[d] = max(last.get(d, c), c)
    return [(c - d) / 1000.0 for d, c in sorted(last.items())]


def check_events(res: Result, produced: int, seqs: list[int]) -> None:
    """Every produced event committed exactly once: produced == committed
    == distinct event sequence numbers. Each event is one attempted op."""
    committed, distinct = len(seqs), len(set(seqs))
    res.attempted += produced
    res.check(committed == produced, f"{produced} events produced, {committed} committed", abs(produced - committed))
    res.check(distinct == committed, f"{committed - distinct} events committed twice", committed - distinct)


def check_generator(res: Result, late_s: float) -> None:
    """Lag is measured from each file's due time, so a generator that fell
    behind its schedule would inflate it: such a run is invalid."""
    res.check(late_s <= LATE_LIMIT_S, f"generator wrote a file {late_s:.3f} s late (limit {LATE_LIMIT_S} s)")


def commit_rate(commit_ms, start_ms: float, end_ms: float) -> float:
    """Events committed per second between the first and the last commit
    inside the window (the first commit's rows arrived before it)."""
    sizes = commit_ms[(commit_ms >= start_ms) & (commit_ms < end_ms)].value_counts().sort_index()
    if len(sizes) < 2:
        return float(sizes.sum()) / ((end_ms - start_ms) / 1000.0)
    return float(sizes.iloc[1:].sum()) / ((sizes.index[-1] - sizes.index[0]) / 1000.0)


def progress_in_window(query, start_ms: float, end_ms: float) -> list[dict]:
    """The query's own progress reports for triggers with input that
    started inside the window."""
    out = []
    for p in query.recentProgress:
        ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000
        if p.numInputRows and start_ms <= ts < end_ms:
            out.append({"rows": p.numInputRows, **p.durationMs})
    return out


def run(spark, args, work: str, res: Result, tracer=None) -> dict:
    from mongodb_cdc_delta_spark.streaming.pipeline import CDCStreamPipeline

    setup: dict[str, float] = {}
    # library set-up, repeated on fresh lakes: build the pipeline and drain
    # one small file through it, which creates the table
    with Timer() as t:
        warm_dir = os.path.join(work, "warm-in")
        os.makedirs(warm_dir)
        write_lines(os.path.join(warm_dir, "w.json"), stream_file(args.seed, 10**6, 500, int(time.time() * 1000)))
    setup["gen_s"] = t.s
    reps = []
    for k in range(SETUP_REPS):
        with Timer() as t:
            pipe = CDCStreamPipeline(spark, os.path.join(work, f"warm-lake-{k}"), trigger_seconds=TRIGGER_S)
            pipe.run_available(pipe.from_files(warm_dir))
        reps.append(t.s)
    setup["rep_s"] = statistics.median(reps)

    src = os.path.join(work, "stream-in")
    os.makedirs(src)
    report = os.path.join(work, "gen-report.json")
    pipe = CDCStreamPipeline(spark, os.path.join(work, "lake"), trigger_seconds=TRIGGER_S)
    query = pipe.start(pipe.from_files(src), query_name="perfbench-stream")
    gen = subprocess.Popen(
        [
            sys.executable, GEN, "stream", "--dir", src, "--seed", str(args.seed),
            "--seconds", str(WARMUP_S + args.seconds), "--report", report, "--start", str(aligned_start(time.time())),
        ]
    )
    try:
        gen.wait(timeout=WARMUP_S + args.seconds + 60)
        with open(report) as fh:
            rep = json.load(fh)
        produced = sum(n for _, n in rep["files"])
        # drain: every produced event through a trigger (bounded wait)
        deadline = time.perf_counter() + 30
        while time.perf_counter() < deadline and query.isActive:
            if sum(p.numInputRows for p in query.recentProgress) >= produced:
                break
            time.sleep(0.25)
        t0_ms = rep["files"][0][0]
        w_start, w_end = t0_ms + WARMUP_S * 1000, t0_ms + (WARMUP_S + args.seconds) * 1000
        # triggers (and the spans inside them) are counted from the first
        # trigger instant in the window: the one just before it started
        # ahead of the window but its spans would fall inside
        t_start = math.ceil(w_start / 1000 / TRIGGER_S) * TRIGGER_S * 1000
        progress = progress_in_window(query, t_start, w_end)
        err = query.exception()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        query.stop()
    res.check(err is None, f"stream query failed: {err}")
    check_generator(res, rep["late_s"])

    from pyspark.sql import functions as F

    changes = (
        pipe.ingestor.table(TABLE)
        .read_changes(0)
        .select("_commit_timestamp", F.unix_millis("_cdc_timestamp").alias("due"), "seq")
        .toPandas()
    )
    check_events(res, produced, changes["seq"].tolist())

    in_window = changes[(changes["due"] >= w_start) & (changes["due"] < w_end)]
    s = summarize(file_lags(in_window["due"].tolist(), in_window["_commit_timestamp"].tolist()))
    res.put("p50_s", s["p50"], "s")
    res.put("tail_s", s["tail"], "s")
    rate = commit_rate(changes["_commit_timestamp"], w_start, w_end)
    res.put("throughput_per_s", rate, "1/s")
    res.info.update(lag_files=s["n"], lag_events=len(in_window), tail_pct=s["tail_pct"], rate=RATE, warmup_s=WARMUP_S, triggers=len(progress))
    res.put("lag_p50_s", s["p50"], "s")
    res.put("lag_tail_s", s["tail"], "s")
    res.put("events_per_s", rate, "ev/s")
    due_all = [d for d, n in rep["files"] for _ in range(n)]
    commits = changes["_commit_timestamp"].tolist()
    growth = backlog(due_all, commits, w_end) - backlog(due_all, commits, w_start)
    res.put("streaming.backlog_growth_events", growth, "events")
    res.put("gen.late_s", rep["late_s"], "s")
    res.put("gen.events", produced, "count")
    if progress:
        trig = summarize([p["triggerExecution"] / 1000.0 for p in progress])
        res.put("batch_p50_s", trig["p50"], "s")
        res.put("batch_tail_s", trig["tail"], "s")
        for key, name in (
            ("triggerExecution", "streaming.trigger_s"),
            ("addBatch", "streaming.add_batch_s"),
            ("latestOffset", "streaming.latest_offset_s"),
            ("walCommit", "streaming.wal_commit_s"),
        ):
            res.put(name, statistics.median(p.get(key, 0) for p in progress) / 1000.0, "s")
        res.put("streaming.rows_per_batch", statistics.median(p["rows"] for p in progress), "count")
    return {"setup": setup, "ops": max(len(progress), 1), "window": (t_start / 1000.0, w_end / 1000.0)}
