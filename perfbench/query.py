"""``query``: closed loop, one client. A fixed mix runs once, in a
seed-shuffled order, as the first pass in a fresh session; every result is
collected and checked.

Families: ``relational`` (registry queries over TPC-H-like tables),
``dataprep`` (the ``ops`` dedup/BPE/similarity queries) and ``lake``
(reads through the commit log of a CDC table built during set-up, crossing
a log checkpoint).
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext

from common import ROOT, Result, Timer
from gen import LAKE_SCHEMA, ChangeGen, write_lines, write_tables

RELATIONAL = (
    "pricing_summary star_join_revenue fk_join_agg window_topn_per_group sessionize asof_join "
    "cdc_latest_state reconcile_record_diff reconcile_hash_buckets"
).split()
DATAPREP = "dedup_connected_components bpe_train_merges dedup_minhash_lsh semantic_dedup_prune".split()
LAKE = (
    "sinks.read sinks.read_version sinks.read_changes sinks.history reconcile.current_state "
    "reconcile.record_diff"
).split()
FAMILIES = {"relational": RELATIONAL, "dataprep": DATAPREP, "lake": LAKE}

#: the registry tables are fixed (like a TPC-H scale factor); the run seed
#: orders the mix and generates the lake
DATA_SEED = 42
#: commits per lake table: one past the log's checkpoint interval (10)
LAKE_BATCHES = 12
LAKE_BATCH = 400
SETUP_REPS = 3
#: a query running longer than this is cancelled and counted as failed
BUDGET_S = 60.0
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _canon_value(v) -> str:
    """One cell in the parity suite's canonical form, so that a Spark and
    a DuckDB result of the same query compare equal."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        # decimal(28,4) and decimal(38,4) results must compare equal
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canon_digest(cols, rows) -> tuple[int, str]:
    """Row count and digest of a result in canonical form: columns in name
    order, normalized values, sorted rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)
    return len(canon), hashlib.sha256(repr(canon).encode()).hexdigest()


def state_digest(rows) -> str:
    """Order-independent digest of (_id, n, name, qty) rows."""
    h = hashlib.sha256()
    for r in sorted(tuple(str(x) for x in r) for r in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def load_expected() -> dict[str, tuple[int, str]]:
    """The recorded (row count, digest) of every registry query in the mix
    on the ``DATA_SEED`` tables (see ``record_expected``)."""
    with open(EXPECTED) as fh:
        return {name: tuple(v) for name, v in json.load(fh).items()}


class Lake:
    """A CDC table with ``LAKE_BATCHES`` commits of a generated change
    stream, the lake family's calls on it, and what each call must
    return."""

    def __init__(self, spark, work: str, seed: int):
        from mongodb_cdc_delta_spark.sinks.table import LakeTable

        self.spark = spark
        self.gen = ChangeGen(seed)
        self.table = LakeTable(spark, os.path.join(work, "lake", "orders"))
        self.inputs = os.path.join(work, "lake-in")
        os.makedirs(self.inputs)
        self.cum_rows: list[int] = []
        self.mid = LAKE_BATCHES // 2

    def build(self) -> None:
        for i in range(LAKE_BATCHES):
            path = os.path.join(self.inputs, f"b{i:03d}.json")
            write_lines(path, self.gen.batch(LAKE_BATCH))
            self.table.append(self.spark.read.schema(LAKE_SCHEMA).json(path), partition_by=[])
            self.cum_rows.append(self.gen.rows)
        model = os.path.join(self.inputs, "model.json")
        write_lines(
            model,
            [
                json.dumps({"_id": oid, "n": n, "name": name, "qty": qty})
                for oid, (n, name, qty) in sorted(self.gen.live.items())
            ],
        )
        self.model = self.spark.read.schema("_id string, n long, name string, qty long").json(model)

    def entries(self):
        """name → (thunk returning a DataFrame or a value, check)."""
        from mongodb_cdc_delta_spark.reconcile.engine import current_state, record_diff

        t, mid = self.table, self.mid
        total = self.cum_rows[-1]

        def state():
            return current_state(t.read(), "_id", order_cols=("_cdc_timestamp",)).select("_id", "n", "name", "qty")

        want_state = state_digest((oid, *doc) for oid, doc in self.gen.live.items())
        return {
            "sinks.read": (
                lambda: t.read().groupBy("_cdc_operation").count(),
                lambda rows: sum(r[1] for r in rows) == total,
            ),
            "sinks.read_version": (
                lambda: t.read(version_as_of=mid).groupBy().count(),
                lambda rows: rows[0][0] == self.cum_rows[mid],
            ),
            "sinks.read_changes": (
                lambda: t.read_changes(mid + 1).groupBy("_change_type").count(),
                lambda rows: sum(r[1] for r in rows) == total - self.cum_rows[mid],
            ),
            "sinks.history": (t.history, lambda hist: len(hist) == LAKE_BATCHES),
            "reconcile.current_state": (state, lambda rows: state_digest(tuple(r) for r in rows) == want_state),
            "reconcile.record_diff": (
                lambda: record_diff(self.model, state(), "_id", ["n", "name", "qty"]),
                lambda rows: len(rows) == 0,
            ),
        }


def run(spark, args, work: str, res: Result, tracer=None) -> dict:
    from mongodb_cdc_delta_spark.queries import all_queries, load
    from mongodb_cdc_delta_spark.session import TABLE_NAMES

    setup: dict[str, float] = {}
    data = os.path.join(work, "tables")
    with Timer() as t:
        write_tables(data, DATA_SEED)
    setup["gen_s"] = t.s
    expected = load_expected()

    reps = []
    for _ in range(SETUP_REPS):
        with Timer() as t:
            for name in TABLE_NAMES:
                load(spark, data, name).schema
        reps.append(t.s)
    setup["rep_s"] = statistics.median(reps)

    lake = Lake(spark, work, args.seed)
    with Timer() as t:
        lake.build()
    setup["lake_s"] = t.s

    reg = all_queries()
    mix: dict[str, tuple] = {}
    for name in RELATIONAL + DATAPREP:
        want = expected[name]
        mix[name] = (lambda q=reg[name].fn: q(spark, data), lambda rows, cols, w=want: canon_digest(cols, rows) == w)
    for name, (thunk, check) in lake.entries().items():
        mix[name] = (thunk, lambda rows, cols, c=check: c(rows))
    order = sorted(mix)
    random.Random(args.seed).shuffle(order)

    times: dict[str, float] = {}
    spans = {}
    window_start = time.time()
    for name in order:
        thunk, check = mix[name]
        ok, times[name], sp = _timed(spark, tracer, name, thunk, check)
        res.check(ok, f"{name}: failed, over budget or returned a wrong result")
        spans[name] = sp
    window = (window_start, time.time())
    if tracer:
        tracer.collect_spark()
        for name, sp in spans.items():
            for key, v in tracer.query_profile(sp).items():
                unit = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "bytes"}.get(key, "s")
                res.put(f"queries.{name}.{key}", v, unit)

    total = sum(times.values())
    res.put("p50_s", total, "s")
    res.put("tail_s", total, "s")
    res.put("throughput_per_s", len(order) / total, "1/s")
    res.info.update(passes=1, queries={n: round(times[n], 3) for n in order})
    for fam, names in FAMILIES.items():
        res.put("lake_read_s" if fam == "lake" else f"{fam}_s", sum(times[n] for n in names), "s")
    res.put("query_cold_s", total, "s")
    return {"setup": setup, "ops": 1, "window": window}


def _timed(spark, tracer, name: str, thunk, check):
    """Run one mix entry and collect its result under the entry's own job
    group, with a watchdog that cancels the group after ``BUDGET_S``.
    Returns (result correct and in budget, seconds, span or None)."""
    sc = spark.sparkContext
    span_cm = tracer.span(f"queries.{name}", trace=name) if tracer else nullcontext()
    t0 = time.perf_counter()
    with span_cm as sp:
        group = sp.group if tracer else f"pb-{name}"
        if not tracer:
            sc.setJobGroup(group, name)
        timer = threading.Timer(BUDGET_S, sc.cancelJobGroup, args=(group,))
        timer.start()
        try:
            out = thunk()
            rows, cols = (out.collect(), out.columns) if hasattr(out, "collect") else (out, [])
            ok = True
        except Exception as e:  # noqa: BLE001 — an errored query is a failed op
            print(f"{name}: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            ok = False
        finally:
            timer.cancel()
            if not tracer:
                sc.setLocalProperty("spark.jobGroup.id", None)
    dt = time.perf_counter() - t0
    ok = ok and dt <= BUDGET_S and bool(check(rows, cols))
    return ok, dt, sp


def record_expected() -> None:
    """Record the row count and digest of every registry query in the mix
    on the ``DATA_SEED`` tables: ``python3 perfbench/query.py --record``.

    A query with an oracle is recorded from DuckDB running its
    ``oracle_sql``, and its Spark result must match; a query without one
    is recorded from Spark. Nothing is written if any result differs.
    """
    import duckdb

    from common import prepare_env, start_session, stop_session

    work = os.path.join(ROOT, ".perfbench_work", f"record-{os.getpid()}")
    prepare_env(work)
    from mongodb_cdc_delta_spark.queries import all_queries
    from mongodb_cdc_delta_spark.session import TABLE_NAMES

    spark = start_session(work, False)
    try:
        data = os.path.join(work, "tables")
        write_tables(data, DATA_SEED)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t + '.parquet')}')")
        reg = all_queries()
        out, bad = {}, []
        for name in RELATIONAL + DATAPREP:
            df = reg[name].fn(spark, data)
            got = canon_digest(df.columns, df.collect())
            if reg[name].oracle:
                cur = con.execute(reg[name].oracle)
                out[name] = canon_digest([d[0] for d in cur.description], cur.fetchall())
                if got != out[name]:
                    bad.append(name)
            else:
                out[name] = got
        if bad:
            sys.exit(f"Spark and the DuckDB oracle disagree on: {', '.join(bad)}")
        with open(EXPECTED, "w") as fh:
            json.dump({k: list(v) for k, v in out.items()}, fh, indent=1, sort_keys=True)
            fh.write("\n")
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python3 perfbench/query.py --record")
    record_expected()
