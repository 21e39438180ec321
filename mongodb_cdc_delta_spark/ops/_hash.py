"""Engine-portable integer hashes: the one place their formulas are spelled.

A Spark expression and its DuckDB oracle can only agree bit-for-bit when
both spell the same hash the same way, so every op builds its hash text
from here. Each hash is exact integer arithmetic whose intermediates stay
under 2^62 (Spark 4 runs ANSI mode: a long overflow raises, it does not
wrap), and the DuckDB forms use plain ``%`` where Spark uses ``pmod`` —
identical for the non-negative inputs they receive.

- **Polynomial fold** over a string's ASCII codes:
  ``fold(codes, 0, (a, c) -> (a * B + c) % P)``. Token, shingle and gram
  ids for classifiers, sketches, MinHash, SimHash and winnowing.
- **Affine mix** of an integer key:
  ``((k % 100003) * MIX_A + MIX_C) % 2^31`` (Knuth multiplicative mixing;
  the inner mod bounds the product at ~2.7e14 for any BIGINT key), and its
  **bucket** ``mix % 10000`` — deterministic samples, splits and shards.
- **Classifier weight** of a feature bucket ``b``:
  ``(b * MIX_A + MIX_C) % 1000 - 500``, an integer milli-weight.
- **Coefficient tables** of ``(a, b)`` pairs for ``(a * x + b) % m``
  permutations: :data:`MINHASH_COEFFS` (portable MinHash, LSH planes) and
  :data:`AFFINE_COEFFS` (count-min sketch rows, Bloom probes).

Not cryptographic: these are reproducible partitioners and sketch hashes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: fold modulus, the Mersenne prime 2^31 - 1: a * x stays under 2^62
P = 2147483647
#: fold base
B = 131
#: the affine pair of the mix and the classifier weight
MIX_A, MIX_C = 2654435761, 7919
#: size of the bucket space
BUCKETS = 10_000

_KEY_MOD = 100003
_MIX_MOD = 1 << 31

#: 32 fixed (a, b) permutation pairs, seeded once; portable MinHash uses
#: all 32, the LSH hyperplane generators the first 16
MINHASH_COEFFS = [
    (2075443165, 1671098287), (946466064, 250934579),
    (16087819, 194655650), (1956305977, 2024077985),
    (2017064809, 1733024478), (1250324205, 75003370),
    (1442171594, 1488393902), (180255972, 211359734),
    (1646005276, 761574164), (508545125, 37426449),
    (66172593, 2118896851), (1693876517, 34017048),
    (743220394, 1392248069), (1338486782, 1039910182),
    (1322454143, 995461690), (319018672, 196037792),
    (393184162, 1532036568), (245699978, 1815372135),
    (31393588, 1080363995), (1045290968, 1890795832),
    (2072110336, 536501702), (138646444, 1432920372),
    (1161978031, 1959181850), (1000509548, 147251335),
    (1291632927, 1449824051), (190973210, 1106050643),
    (1243398801, 98709773), (578930450, 1770346149),
    (1194929836, 135458290), (1384341475, 649461447),
    (1033017744, 1825744134), (762870257, 572206129),
]

#: 4 (a, b) pairs for small-modulus probes; the first is the mix pair
AFFINE_COEFFS = [
    (MIX_A, MIX_C), (40503, 104729), (69621, 3571), (48271, 16807),
]


def codes_spark(s: str) -> str:
    """Spark SQL: the array<bigint> of ASCII codes of string expression ``s``
    (binds lambda variable ``i``)."""
    return (
        f"transform(sequence(1, length({s})),"
        f" i -> cast(ascii(substring({s}, i, 1)) as bigint))"
    )


def codes_duckdb(s: str) -> str:
    """DuckDB: the BIGINT[] of ASCII codes of string expression ``s``
    (binds lambda variable ``i``)."""
    return (
        f"list_transform(generate_series(1, len({s})),"
        f" i -> CAST(ascii({s}[i]) AS BIGINT))"
    )


def poly_spark(s: str) -> str:
    """Spark SQL: the polynomial fold of string expression ``s`` (binds
    lambda variables ``i``, ``a`` and ``c``)."""
    return f"aggregate({codes_spark(s)}, 0L, (a, c) -> (a * {B} + c) % {P})"


def poly_duckdb(s: str) -> str:
    """DuckDB: the polynomial fold of string expression ``s``."""
    return poly_duckdb_codes(codes_duckdb(s))


def poly_duckdb_codes(codes: str) -> str:
    """DuckDB: the polynomial fold of a BIGINT[] of codes (binds lambda
    variables ``a`` and ``c``)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}),"
        f" (a, c) -> (a * {B} + c) % {P})"
    )


def mix_spark(key: Column) -> Column:
    """The affine mix of an integer key column, in [0, 2^31)."""
    return F.pmod(
        F.pmod(key.cast("long"), F.lit(_KEY_MOD)) * MIX_A + MIX_C,
        F.lit(_MIX_MOD),
    )


def mix_duckdb(key: str) -> str:
    """DuckDB: the affine mix of non-negative integer expression ``key``."""
    return f"((({key} % {_KEY_MOD}) * {MIX_A} + {MIX_C}) % {_MIX_MOD})"


def bucket_spark(key: Column) -> Column:
    """Deterministic bucket in [0, BUCKETS) from an integer key column."""
    return F.pmod(mix_spark(key), F.lit(BUCKETS))


def bucket_duckdb(key: str) -> str:
    """DuckDB: the bucket of non-negative integer expression ``key``."""
    return f"({mix_duckdb(key)} % {BUCKETS})"


def weight_sql(b: str) -> str:
    """The classifier milli-weight in [-500, 500) of non-negative integer
    expression ``b``. The text is the same in Spark SQL and DuckDB. It is
    a bare difference: parenthesize it before applying another operator."""
    return f"({b} * {MIX_A} + {MIX_C}) % 1000 - 500"


def values_duckdb(pairs) -> str:
    """DuckDB ``VALUES`` rows ``(i, a, b)`` of a coefficient table."""
    return ",\n      ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(pairs)
    )
