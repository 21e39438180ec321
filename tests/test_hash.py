"""The engine-portable hash contract of ``ops/_hash.py``.

Each builder is evaluated in Spark and in DuckDB and both are compared
with an independent plain-Python twin below. The twins keep their own
constants on purpose: they are what checks the module's.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mongodb_cdc_delta_spark.ops import _hash

#: empty, one char, a 14-char winnowing gram, and a long token whose fold
#: times the largest MinHash coefficient lands near 2^62
STRINGS = ["", "a", "the quick brow", "~" * 256]
KEYS = list(range(10_001)) + [100_002, 100_003, 2**62]


def py_fold(s: str) -> int:
    h = 0
    for ch in s:
        h = (h * 131 + ord(ch)) % 2147483647
    return h


def py_mix(k: int) -> int:
    return ((k % 100003) * 2654435761 + 7919) % 2147483648


def py_weight(b: int) -> int:
    return (b * 2654435761 + 7919) % 1000 - 500


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _spark_strings(spark, expr: str) -> list:
    df = spark.createDataFrame(list(enumerate(STRINGS)), "i int, s string")
    return [r[0] for r in df.orderBy("i").select(F.expr(expr)).collect()]


def _duck_strings(con, expr: str) -> list:
    return [
        r[0]
        for r in con.execute(
            f"SELECT {expr} FROM (SELECT unnest(?) AS s, "
            "generate_subscripts(?, 1) AS i) ORDER BY i",
            [STRINGS, STRINGS],
        ).fetchall()
    ]


def test_codes_both_engines(spark, con):
    want = [[ord(c) for c in s] for s in STRINGS[1:]]
    got_spark = _spark_strings(spark, _hash.codes_spark("s"))[1:]
    got_duck = _duck_strings(con, _hash.codes_duckdb("s"))[1:]
    assert got_spark == want
    assert got_duck == want


def test_poly_fold_both_engines(spark, con):
    want = [py_fold(s) for s in STRINGS]
    assert _spark_strings(spark, _hash.poly_spark("s")) == want
    assert _duck_strings(con, _hash.poly_duckdb("s")) == want


def test_poly_fold_over_code_slice(con):
    gram = "the quick brow"
    text = "xx" + gram + "yy"
    got = con.execute(
        "SELECT " + _hash.poly_duckdb_codes("cs[3:16]")
        + " FROM (SELECT " + _hash.codes_duckdb("t") + " AS cs"
        " FROM (SELECT ? AS t))",
        [text],
    ).fetchone()[0]
    assert got == py_fold(gram)


def test_minhash_products_stay_under_ansi_limit(spark, con):
    # (a * h + b) with a, h < 2^31: the largest product must come close to
    # 2^62 and still evaluate without a Spark ANSI overflow
    a, b = max(_hash.MINHASH_COEFFS)
    h = py_fold(STRINGS[-1])
    assert 2**61 < a * h + b < 2**62
    want = [(a * py_fold(s) + b) % 2147483647 for s in STRINGS]
    perm = f"({a} * ({{}}) + {b}) % {_hash.P}"
    assert _spark_strings(spark, perm.format(_hash.poly_spark("s"))) == want
    assert _duck_strings(con, perm.format(_hash.poly_duckdb("s"))) == want


def test_mix_and_bucket_both_engines(spark, con):
    keys = spark.createDataFrame([(k,) for k in KEYS], "k long")
    rows = keys.select(
        "k",
        _hash.mix_spark(F.col("k")).alias("m"),
        _hash.bucket_spark(F.col("k")).alias("b"),
    ).collect()
    got_spark = {r["k"]: (r["m"], r["b"]) for r in rows}
    got_duck = {
        k: (m, b)
        for k, m, b in con.execute(
            f"SELECT k, {_hash.mix_duckdb('k')}, {_hash.bucket_duckdb('k')}"
            " FROM (SELECT unnest(?::BIGINT[]) AS k)",
            [KEYS],
        ).fetchall()
    }
    want = {k: (py_mix(k), py_mix(k) % 10000) for k in KEYS}
    assert got_spark == want
    assert got_duck == want


def test_weight_both_engines(spark, con):
    got_spark = [
        r["w"]
        for r in spark.range(1000)
        .select("id", F.expr(_hash.weight_sql("id")).alias("w"))
        .orderBy("id")
        .collect()
    ]
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {_hash.weight_sql('b')} FROM range(1000) t(b) ORDER BY b"
        ).fetchall()
    ]
    want = [py_weight(b) for b in range(1000)]
    assert got_spark == want
    assert got_duck == want


def test_coefficient_tables():
    assert len(_hash.MINHASH_COEFFS) == 32
    assert _hash.MINHASH_COEFFS[0] == (2075443165, 1671098287)
    assert len(_hash.AFFINE_COEFFS) == 4
    assert _hash.AFFINE_COEFFS[0] == (2654435761, 7919)


def test_values_rows_round_trip(con):
    rows = con.execute(
        f"SELECT * FROM (VALUES {_hash.values_duckdb(_hash.MINHASH_COEFFS)})"
        " t(i, a, b) ORDER BY i"
    ).fetchall()
    assert rows == [(i, a, b) for i, (a, b) in enumerate(_hash.MINHASH_COEFFS)]
