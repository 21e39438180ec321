"""Seeded input generators for the two benchmark workloads.

Everything the library sees is written here as files: Debezium-style
MongoDB change envelopes (one JSON line each) for ``stream``, the CDC rows
of the ``query`` workload's lake, and TPC-H-like parquet tables for the
``query`` workload's registry queries. The same seed gives byte-identical
files; nothing here imports Spark.

Run as a program, this module is the ``stream`` workload's load generator:
a single-threaded process that writes files into a watched directory on a
wall-clock schedule, stamps every event with the time its file was due,
and reports how late it ran::

    python3 perfbench/gen.py stream --dir D --seed 1 --seconds 20 \
        --report R.json --start EPOCH_S
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field

#: epoch ms of the first lake change; changes are 1 ms apart, so the
#: CDC timestamp orders every change of a key
BASE_TS_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
#: share of create / update / delete changes
OP_MIX = (0.60, 0.35, 0.05)
_OPS = {"c": "insert", "u": "update", "d": "delete"}
#: Spark DDL of ``ChangeGen.batch``
LAKE_SCHEMA = "_id string, n long, name string, qty long, _cdc_operation string, _cdc_timestamp long"


@dataclass
class ChangeGen:
    """Sequential change stream of one collection, as the JSON rows a CDC
    table holds (``LAKE_SCHEMA``), with a key→document model.

    The model is what the lake must contain: every change appended
    (``rows``) and the live documents after the last change (``live``:
    oid → (n, name, qty)). Batches must be generated in order.
    """

    seed: int
    rows: int = 0
    live: dict[str, tuple[int, str, int]] = field(default_factory=dict)
    _keys: list[str] = field(default_factory=list)
    _batches: int = 0

    def batch(self, size: int) -> list[str]:
        """The next ``size`` changes; updates the model."""
        rng = random.Random(f"{self.seed}:batch:{self._batches}")
        self._batches += 1
        return [json.dumps(self._change(rng, op)) for op in rng.choices("cud", OP_MIX, k=size)]

    def _change(self, rng: random.Random, op: str) -> dict:
        live, keys = self.live, self._keys
        if op != "c" and not live:
            op = "c"
        if op == "c":
            oid = f"{self.rows:024x}"
            keys.append(oid)
            n = 0
        else:
            # a live key: draw until one is found (deletes thin the list)
            while True:
                j = rng.randrange(len(keys))
                oid = keys[j]
                if oid in live:
                    break
                keys[j] = keys[-1]
                keys.pop()
            n = live[oid][0] + 1
        row = {"_id": oid, "_cdc_operation": _OPS[op], "_cdc_timestamp": BASE_TS_MS + self.rows}
        self.rows += 1
        if op == "d":
            del live[oid]
            return row
        live[oid] = (n, f"order-{rng.randrange(100_000)}", rng.randrange(1, 1000))
        row.update(zip(("n", "name", "qty"), live[oid]))
        return row


def write_lines(path: str, lines: list[str]) -> None:
    """Write atomically (tmp + rename), so a watching reader never sees a
    partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.rename(tmp, path)


# ------------------------------------------------------------------ stream


#: events per second the stream generator produces, in this many files
RATE = 4_000
FILES_PER_S = 4
#: share of stream events that update an earlier key
STREAM_UPDATE_SHARE = 0.3


def stream_file(seed: int, k: int, size: int, due_ms: int) -> list[str]:
    """File ``k`` of the stream: ``size`` inserts/updates of one collection,
    each with a unique ``seq``, stamped with the file's due time."""
    rng = random.Random(f"{seed}:stream:{k}")
    lines = []
    for j in range(size):
        seq = k * size + j
        if seq and rng.random() < STREAM_UPDATE_SHARE:
            op, key = "u", rng.randrange(seq)
        else:
            op, key = "c", seq
        after = f'{{\\"_id\\": \\"k{key}\\", \\"seq\\": {seq}, \\"v\\": {rng.randrange(10**6)}}}'
        lines.append(
            f'{{"payload": {{"op": "{op}", "ts_ms": {due_ms}, '
            f'"source": {{"db": "shop", "collection": "stream"}}, "after": "{after}"}}}}'
        )
    return lines


def run_stream(out_dir: str, seed: int, seconds: float, report: str, start: float) -> None:
    """Open-loop generator: file ``k`` is due at ``start + k / FILES_PER_S``
    (epoch seconds) whatever the consumer does; it is written as soon as it
    is due and its events carry the due time, so a late generator shows up
    as lag. The report lists every file's due time and event count, and
    the worst lateness (written file time minus due time)."""
    size = RATE // FILES_PER_S
    n_files = int(seconds * FILES_PER_S)
    files, late = [], 0.0
    for k in range(n_files):
        due = start + k / FILES_PER_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        due_ms = int(due * 1000)
        write_lines(
            os.path.join(out_dir, f"f{k:06d}.json"),
            stream_file(seed, k, size, due_ms),
        )
        late = max(late, time.time() - due)
        files.append([due_ms, size])
    write_lines(report, [json.dumps({"files": files, "late_s": late})])


# --------------------------------------------------------------- relational

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def write_tables(out_dir: str, seed: int) -> None:
    """TPC-H-like tables shaped like the registry's sf0.01 test data: 60k
    lineitems, 15k orders, 10k events, 500 documents/embeddings."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def money(lo: float, hi: float, size: int):
        return np.round(rng.uniform(lo, hi, size), 2)

    def day_ts(start: str, days: int, size: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, days, size) * np.timedelta64(86_400_000_000, "us")

    def pick(values: list[str], size: int):
        return np.array(values, dtype=object)[rng.integers(0, len(values), size)]

    def save(name: str, cols: dict, types: dict) -> None:
        arrays = {k: pa.array(v, type=types[k]) for k, v in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))

    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    save(
        "region",
        {"r_regionkey": np.arange(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s},
    )
    save(
        "nation",
        {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": np.arange(25) % 5},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    nc, ns, npart, no, nl = 1500, 100, 2000, 15000, 60000
    save(
        "customer",
        {
            "c_custkey": np.arange(nc),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc),
            "c_acctbal": money(-999, 9999, nc),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s},
    )
    save(
        "supplier",
        {
            "s_suppkey": np.arange(ns),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns),
            "s_acctbal": money(-999, 9999, ns),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    adjectives = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    save(
        "part",
        {
            "p_partkey": np.arange(npart),
            "p_name": [f"{a} {b}" for a, b in zip(pick(adjectives, npart), pick(nouns, npart))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": pick(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], npart),
            "p_size": rng.integers(1, 51, npart),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64},
    )
    save(
        "orders",
        {
            "o_orderkey": np.arange(no),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": pick(["F", "O", "P"], no),
            "o_totalprice": money(1000, 500_000, no),
            "o_orderdate": day_ts("1995-01-01", 2400, no),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s},
    )
    save(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": rng.integers(1, 8, nl),
            "l_quantity": rng.integers(1, 51, nl).astype(float),
            "l_extendedprice": money(900, 105_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": day_ts("1995-01-02", 2500, nl),
        },
        {
            "l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
            "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
            "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts,
        },
    )
    ne = 10000
    gaps = rng.integers(1_000_000, 500_000_000, ne)  # µs between events
    save(
        "events",
        {
            "event_id": np.arange(ne),
            "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(ne // 66, 5), ne),
            "event_type": pick(["click", "view", "purchase", "signup", "error"], ne),
            "value": money(0, 50, ne),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s},
    )
    nd = 500
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.05:
            # near duplicate: an earlier document plus one token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 90)))))
    save(
        "documents",
        {
            "doc_id": np.arange(nd),
            "text": texts,
            "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
            "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    labels = rng.integers(0, 10, nd)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(size=(nd, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    save(
        "embeddings",
        {"vec_id": np.arange(nd), "embedding": list(vecs.astype(np.float32)), "label": labels},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32},
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    st = sub.add_parser("stream", help="run the open-loop stream generator")
    st.add_argument("--dir", required=True)
    st.add_argument("--seed", type=int, required=True)
    st.add_argument("--seconds", type=float, required=True)
    st.add_argument("--report", required=True)
    st.add_argument("--start", type=float, required=True, help="epoch seconds the first file is due")
    a = ap.parse_args(argv)
    run_stream(a.dir, a.seed, a.seconds, a.report, a.start)
    return 0


if __name__ == "__main__":
    sys.exit(main())
