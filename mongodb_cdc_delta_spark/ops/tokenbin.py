"""Packed-token binary shards (.bin/.idx) — the hand-off format LLM
trainers consume.

After tokenization/packing, training frameworks in the Megatron/fairseq
lineage read token streams from a flat binary of ids (``.bin``) plus an
index of per-document sizes and byte pointers (``.idx`` — the public
"MMapIndexedDataset" layout: magic ``MMIDIDX\\x00\\x00``, version,
dtype code, sizes as int32, pointers and doc offsets as int64). This
module closes the pipeline's last mile: corpus → deterministic sharded
``.bin``/``.idx`` on the executors, and a ``format("tokenbin")`` reader
back into a DataFrame so exports are verifiable in-engine.

- :func:`write_token_shards` — hash-sharded by document key (reruns
  place every doc in the same shard), docs written in key order, so
  shard bytes are a pure function of the data (stage + atomic rename
  makes retries idempotent). One ``applyInPandas`` group per shard; the
  only driver traffic is one manifest row per shard.
- :class:`TokenBinDataSource` — ``spark.read.format("tokenbin")``; one
  input partition per shard, rows (shard, doc ordinal, token_ids).

Scale shape: at the conventional ~1-4 GB/shard a 100 TB token corpus is
tens of thousands of independent write groups / read tasks; per-task
memory is one shard. uint16 ids (vocab < 65536) halve the bytes vs
int32 — the reason the dtype byte exists in the format.
"""

from __future__ import annotations

import hashlib
import json
import os
import struct
import uuid
from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..queries import load, register
from ._hash import bucket_duckdb, poly_duckdb, poly_spark
from .webdataset import _export_sub_shards, portable_shard

MANIFEST_NAME = "manifest.json"

#: fairseq/Megatron indexed-dataset magic + integer dtype codes
_IDX_MAGIC = b"MMIDIDX\x00\x00"
_DTYPE_CODES = {
    "uint8": 1,
    "int8": 2,
    "int16": 3,
    "int32": 4,
    "int64": 5,
    "uint16": 8,
}
_CODE_DTYPES = {v: np.dtype(k) for k, v in _DTYPE_CODES.items()}


def _write_idx(path: str, sizes: np.ndarray, itemsize: int, code: int) -> None:
    pointers = np.zeros(len(sizes), dtype=np.int64)
    if len(sizes) > 1:
        np.cumsum(sizes[:-1] * itemsize, out=pointers[1:])
    doc_idx = np.arange(len(sizes) + 1, dtype=np.int64)
    with open(path, "wb") as f:
        f.write(_IDX_MAGIC)
        f.write(struct.pack("<Q", 1))  # version
        f.write(struct.pack("<B", code))
        f.write(struct.pack("<Q", len(sizes)))
        f.write(struct.pack("<Q", len(doc_idx)))
        f.write(sizes.astype("<i4").tobytes())
        f.write(pointers.astype("<i8").tobytes())
        f.write(doc_idx.astype("<i8").tobytes())


def _read_idx(path: str) -> tuple[np.dtype, np.ndarray, np.ndarray]:
    with open(path, "rb") as f:
        magic = f.read(len(_IDX_MAGIC))
        if magic != _IDX_MAGIC:
            raise ValueError(f"{path}: not an MMIDIDX index file")
        (version,) = struct.unpack("<Q", f.read(8))
        if version != 1:
            raise ValueError(f"{path}: unsupported index version {version}")
        (code,) = struct.unpack("<B", f.read(1))
        dtype = _CODE_DTYPES.get(code)
        if dtype is None:
            raise ValueError(f"{path}: unknown dtype code {code}")
        (n_docs,) = struct.unpack("<Q", f.read(8))
        f.read(8)  # len(doc_idx) — always n_docs + 1 here
        sizes = np.frombuffer(f.read(4 * n_docs), dtype="<i4")
        pointers = np.frombuffer(f.read(8 * n_docs), dtype="<i8")
    return dtype, sizes, pointers


def write_token_shards(
    df: DataFrame,
    path: str,
    key: str,
    tokens_col: str = "token_ids",
    n_shards: int = 4,
    dtype: str = "uint16",
    shard_col: str | None = None,
) -> dict:
    """Write ``df`` (``key`` int, ``tokens_col`` array<int>) as
    ``n_shards`` × (``shard-NNNNN.bin`` + ``.idx``) under ``path`` plus a
    ``manifest.json``; returns the manifest dict. Ids must fit ``dtype``
    (raises otherwise — a silently wrapped token id is corrupt training
    data)."""
    if dtype not in _DTYPE_CODES:
        raise ValueError(f"dtype must be one of {sorted(_DTYPE_CODES)}")
    np_dtype = np.dtype(dtype)
    lo, hi = 0, 0
    if np_dtype.kind in "iu":
        info = np.iinfo(np_dtype)
        lo, hi = info.min, info.max
    code = _DTYPE_CODES[dtype]
    os.makedirs(path, exist_ok=True)

    work = df
    if shard_col is None:
        shard_col = "__bin_shard"
        work = work.withColumn(shard_col, portable_shard(F.col(key), n_shards))
    work = work.select(key, shard_col, tokens_col)

    def _write_shard(pdf):
        import pandas as pd

        sid = int(pdf[shard_col].iloc[0])
        pdf = pdf.sort_values(key, kind="mergesort")
        sizes = np.fromiter(
            (0 if t is None else len(t) for t in pdf[tokens_col]),
            dtype=np.int64,
            count=len(pdf),
        )
        flat = (
            np.concatenate(
                [
                    np.asarray(t, dtype=np.int64)
                    for t in pdf[tokens_col]
                    if t is not None and len(t)
                ]
            )
            if sizes.sum() > 0
            else np.zeros(0, dtype=np.int64)
        )
        if len(flat) and (flat.min() < lo or flat.max() > hi):
            raise ValueError(
                f"token id out of range for {dtype}: "
                f"[{flat.min()}, {flat.max()}] vs [{lo}, {hi}]"
            )
        payload = flat.astype(np_dtype.newbyteorder("<")).tobytes()
        base = os.path.join(path, f"shard-{sid:05d}")
        stage_bin = base + ".bin.tmp-" + uuid.uuid4().hex
        with open(stage_bin, "wb") as f:
            f.write(payload)
        stage_idx = base + ".idx.tmp-" + uuid.uuid4().hex
        _write_idx(stage_idx, sizes, np_dtype.itemsize, code)
        sha = hashlib.sha256(payload).hexdigest()
        os.replace(stage_bin, base + ".bin")  # atomic; retries identical
        os.replace(stage_idx, base + ".idx")
        return pd.DataFrame(
            [
                {
                    "shard": sid,
                    "n_docs": len(pdf),
                    "n_tokens": int(sizes.sum()),
                    "bin_bytes": len(payload),
                    "sha256": sha,
                }
            ]
        )

    rows = (
        work.groupBy(shard_col)
        .applyInPandas(
            _write_shard,
            "shard int, n_docs long, n_tokens long, bin_bytes long, "
            "sha256 string",
        )
        .collect()  # bounded: one manifest row per shard
    )
    shards = {
        r["shard"]: {
            "n_docs": r["n_docs"],
            "n_tokens": r["n_tokens"],
            "bin_bytes": r["bin_bytes"],
            "sha256": r["sha256"],
        }
        for r in rows
    }
    manifest = {
        "format": "tokenbin",
        "dtype": dtype,
        "n_shards": n_shards,
        "key": key,
        "total_docs": sum(s["n_docs"] for s in shards.values()),
        "total_tokens": sum(s["n_tokens"] for s in shards.values()),
        "shards": {str(k): v for k, v in sorted(shards.items())},
    }
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def read_tokenbin_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        return json.load(f)


class _BinShard(InputPartition):
    def __init__(self, base: str):
        self.base = base  # path without extension


class TokenBinReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("tokenbin source requires option 'path'")

    def partitions(self) -> list[_BinShard]:
        bases = sorted(
            os.path.join(self.root, n[:-4])
            for n in os.listdir(self.root)
            if n.endswith(".idx")
        )
        if not bases:
            raise ValueError(f"no .idx shards under {self.root}")
        return [_BinShard(b) for b in bases]

    def read(self, split: _BinShard) -> Iterator[tuple]:
        shard = os.path.basename(split.base)
        dtype, sizes, pointers = _read_idx(split.base + ".idx")
        bin_path = split.base + ".bin"
        data = (
            np.memmap(bin_path, dtype=dtype.newbyteorder("<"), mode="r")
            if os.path.getsize(bin_path) > 0
            else np.zeros(0, dtype=dtype)  # memmap rejects empty files
        )
        for ordinal, (sz, ptr) in enumerate(zip(sizes, pointers)):
            start = ptr // dtype.itemsize
            yield (
                shard,
                ordinal,
                [int(x) for x in data[start:start + sz]],
            )


class TokenBinDataSource(DataSource):
    """format("tokenbin"): (shard, ordinal, token_ids) rows from
    .bin/.idx shard pairs, one input partition per shard."""

    @classmethod
    def name(cls) -> str:
        return "tokenbin"

    def schema(self) -> str:
        return "shard string, ordinal int, token_ids array<int>"

    def reader(self, schema: StructType) -> TokenBinReader:
        return TokenBinReader(self.options)


def register_tokenbin_source(spark: SparkSession) -> None:
    spark.dataSource.register(TokenBinDataSource)


_TB_N_SHARDS = 4
_TB_VOCAB = 65519  # largest prime < 2^16: ids always fit uint16
#: Spark SQL: the token ids of ``text`` (polynomial fold mod _TB_VOCAB)
_TB_TOKEN_IDS = (
    "transform(filter(split(text, ' '), t -> t != ''),"
    f" t -> cast({poly_spark('t')} % {_TB_VOCAB} as int))"
)


@register(
    "tokens_bin_export_report",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split(text, ' '), t -> t <> ''),
               t -> {poly_duckdb('t')} % {_TB_VOCAB}
             ) AS ids
      FROM documents
    )
    SELECT CAST(({bucket_duckdb('doc_id')} % {_TB_N_SHARDS}) AS INT) AS shard,
           count(*) AS n_docs,
           CAST(SUM(len(ids)) AS BIGINT) AS n_tokens,
           CAST(SUM(coalesce(list_sum(ids), 0)) AS BIGINT) AS sum_token_id,
           CAST(SUM(coalesce(list_sum(
             list_transform(generate_series(1, len(ids)),
                            i -> ids[i] * i)), 0)) AS BIGINT)
             AS pos_weighted_sum
    FROM tok GROUP BY 1
    """,
    description="packed-token export integrity report: tokenize "
    "documents with an engine-portable polynomial token hash "
    f"(ids mod {_TB_VOCAB} — always uint16), write deterministic "
    "Megatron-layout .bin/.idx sub-shards (a multiple of the 4 logical "
    "shards, sized from source bytes), read them back via "
    "format('tokenbin') (one partition per sub-shard), and report per "
    "logical shard (sub % 4 == bucket % 4, so the report is unchanged) "
    "doc/token counts plus order-SENSITIVE checksums (sum of ids and "
    "position-weighted sum) FROM THE BYTES ON DISK — the oracle "
    "recomputes from the raw table, so a truncated .bin, a swapped "
    "pointer, or a reordered document all hash-mismatch. Scale: write "
    "is one applyInPandas group per ~GB shard, read one task per shard; "
    "driver traffic is one manifest row per shard.",
    tags=("llm-pipeline", "export", "tokenization", "report"),
)
def tokens_bin_export_report(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    import tempfile

    from ..queries import spread

    docs = load(spark, sf, "documents")
    # r11 OPT (guide §2.5 single-file scan / §2.4): spread() ahead of the
    # per-CHARACTER interpreted polynomial fold — on the driver testdata's
    # one-row-group parquet the whole tokenize otherwise runs in ONE task
    # before the shard exchange.
    ids = spread(docs).select(
        "doc_id", F.expr(_TB_TOKEN_IDS).alias("token_ids")
    )
    # r11 OPT (r10 verdict #4, guide §2.2/§6): write W sub-shards, W a
    # multiple of 4 sized from the source table's bytes (see
    # webdataset._export_sub_shards — bench corpus lands exactly on 4):
    # sub-shard = bucket % W, and since 4 | W, (bucket % W) % 4 ==
    # bucket % 4 — folding the read-back by sub % 4 reproduces the EXACT
    # 4-logical-shard report (the per-shard aggregates are
    # order-insensitive across docs; within-doc order, which
    # pos_weighted_sum checks, lives inside each sub-shard's bytes).
    # A large corpus's write/read then runs W-way parallel instead of 4.
    n_sub = _export_sub_shards(_TB_N_SHARDS, sf)
    out = tempfile.mkdtemp(prefix="tokenbin_export_")
    try:
        write_token_shards(
            ids, out, key="doc_id", n_shards=n_sub, dtype="uint16"
        )
        register_tokenbin_source(spark)
        back = spark.read.format("tokenbin").load(out)
        report = (
            back.select(
                F.pmod(
                    F.regexp_extract("shard", r"shard-(\d+)", 1).cast("int"),
                    F.lit(_TB_N_SHARDS),
                ).alias("shard"),
                F.size("token_ids").alias("n_tok"),
                F.aggregate(
                    "token_ids",
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).alias("id_sum"),
                # guard size>0: sequence(1, 0) is DESCENDING [1, 0] in
                # Spark, and zip_with would pad with nulls → null sum
                F.when(
                    F.size("token_ids") > 0,
                    F.aggregate(
                        F.zip_with(
                            "token_ids",
                            F.sequence(F.lit(1), F.size("token_ids")),
                            lambda v, i: v.cast("long") * i,
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    ),
                ).otherwise(F.lit(0).cast("long")).alias("pos_sum"),
            )
            .groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("n_tokens"),
                F.sum("id_sum").cast("long").alias("sum_token_id"),
                F.sum("pos_sum").cast("long").alias("pos_weighted_sum"),
            )
            .collect()  # bounded: one row per shard
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        report,
        "shard int, n_docs long, n_tokens long, sum_token_id long, "
        "pos_weighted_sum long",
    )
