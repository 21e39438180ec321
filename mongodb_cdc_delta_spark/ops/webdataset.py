"""WebDataset-style tar shards: the de-facto container for large-scale
multimodal training corpora (image/audio/text members grouped by sample
key inside fixed-count ``.tar`` shards; loaders stream shards
sequentially, so the SHARD is the unit of both storage and read
parallelism).

The reference engine has no multimodal container format; this implements
the public WebDataset layout (webdataset/webdataset docs: members named
``<key>.<ext>`` with the extension being everything after the FIRST dot,
same-key members stored adjacently) so the multimodal column family
(``ops/multimodal.py`` — opaque binary + typed metadata) has a real
at-scale interchange format on both ends:

- :func:`write_webdataset_shards` — deterministic sharded export. Shard
  assignment is a hash of the sample key (reruns place every sample in
  the same shard), members within a shard are written in key order with
  zeroed tar metadata (mtime/uid/gid/mode pinned), so reruns produce
  BYTE-IDENTICAL shards — diffable, cacheable, resumable. One
  ``applyInPandas`` group per shard writes one tar: no driver data
  motion, manifest rows (counts, bytes, sha256) are the only collect.
- :class:`WebDatasetDataSource` — ``spark.read.format("webdataset")``.
  One input partition per shard (the format's own parallelism contract;
  shards are sized at write time, so byte-splitting inside a tar is
  never needed), streaming member grouping with O(one sample) memory.

Scale shape: a 100 TB corpus at the conventional ~1 GB/shard is ~100k
shards → 100k independent tasks on read, and the writer's per-shard
group is bounded by shard size (pick ``n_shards`` ≈ corpus_bytes / 1 GB).
Nothing here holds more than one shard (write) or one sample (read) in
memory.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile
import uuid
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..queries import load, register
from ._hash import bucket_duckdb, bucket_spark

MANIFEST_NAME = "manifest.json"


def portable_shard(key, n_shards: int):
    """Deterministic shard id in [0, n_shards) from an integer key column
    (the ops/_hash bucket folded to n_shards, so DuckDB oracles can
    reproduce the assignment exactly)."""
    return F.pmod(bucket_spark(key), F.lit(n_shards)).cast("int")


#: source-parquet bytes per export sub-shard. Shard count must track
#: DATA VOLUME (the WebDataset/Megatron ~GB-per-shard convention), never
#: the session's core count: an r11 experiment deriving the width from
#: spark.sql.shuffle.partitions measured ~2x SLOWER at sf0.1 in the
#: driver-methodology bench (32 applyInPandas write groups + 32
#: Python-datasource read partitions, each with fixed per-task cost,
#: over a 1.5 MB corpus). 256 MB of source parquet ≈ 0.5-1 GB raw
#: members per shard.
EXPORT_SHARD_SOURCE_BYTES = 256 * 1024 * 1024


def _export_sub_shards(base: int, sf_dir: str, table: str = "documents") -> int:
    """Sub-shard count for the export-report paths: the smallest multiple
    of ``base`` that keeps each sub-shard under
    ``EXPORT_SHARD_SOURCE_BYTES`` of source parquet — scale-adaptive from
    the DATA, with the bench corpus landing exactly on ``base`` (the
    registered report's logical shard count). ``base | W`` keeps the
    read-back fold (sub % base) an identity on the report rows."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith((".", "_"))
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        nbytes = 0
    mult = max(1, -(-nbytes // (EXPORT_SHARD_SOURCE_BYTES * base)))
    return base * int(mult)


def _deterministic_member(name: str, payload: bytes) -> tarfile.TarInfo:
    ti = tarfile.TarInfo(name=name)
    ti.size = len(payload)
    ti.mtime = 0
    ti.uid = ti.gid = 0
    ti.uname = ti.gname = ""
    ti.mode = 0o644
    return ti


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    key: str,
    members: dict[str, str],
    n_shards: int = 8,
    shard_col: str | None = None,
) -> dict:
    """Write ``df`` as ``n_shards`` WebDataset tar shards under ``path``
    (``shard-00000.tar`` …) plus a ``manifest.json``.

    ``members`` maps column → member extension (``{"text": "txt",
    "meta": "json"}``); binary columns are written as-is, string columns
    utf-8 encoded. ``key`` rows become member names ``<key>.<ext>``; keys
    are written zero-padded when integral so tar order == numeric order.
    ``shard_col`` names a precomputed int shard column; by default
    integer keys get :func:`portable_shard`.

    Each shard is one ``applyInPandas`` group (memory bound = one shard —
    size shards via ``n_shards``, the WebDataset convention is ~1 GB).
    Tar bytes are a pure function of the data: stage-file + atomic rename
    makes task retries idempotent. Returns the manifest dict.
    """
    if not members:
        raise ValueError("members must map at least one column to an ext")
    missing = [c for c in members if c not in df.columns]
    if missing:
        raise ValueError(f"member columns not in frame: {missing}")
    os.makedirs(path, exist_ok=True)

    work = df
    if shard_col is None:
        shard_col = "__wds_shard"
        work = work.withColumn(shard_col, portable_shard(F.col(key), n_shards))
    key_is_int = dict(df.dtypes).get(key, "") in (
        "int", "bigint", "smallint", "tinyint"
    )
    member_items = sorted(members.items(), key=lambda kv: kv[1])
    cols = [key, shard_col] + [c for c, _ in member_items]
    work = work.select(*cols)

    def _write_shard(pdf):
        import pandas as pd

        sid = int(pdf[shard_col].iloc[0])
        pdf = pdf.sort_values(key, kind="mergesort")
        final = os.path.join(path, f"shard-{sid:05d}.tar")
        stage = final + ".tmp-" + uuid.uuid4().hex
        n_members = 0
        payload_bytes = 0
        # itertuples would mangle the "__wds_shard" name — iterate the
        # member columns positionally instead
        mem_series = [pdf[c] for c, _ in member_items]
        with tarfile.open(stage, "w", format=tarfile.USTAR_FORMAT) as tf:
            for i, kv in enumerate(pdf[key]):
                kstr = f"{int(kv):012d}" if key_is_int else str(kv)
                for (col, ext), series in zip(member_items, mem_series):
                    v = series.iloc[i]
                    if v is None:
                        continue
                    payload = (
                        v.encode("utf-8") if isinstance(v, str) else bytes(v)
                    )
                    tf.addfile(
                        _deterministic_member(f"{kstr}.{ext}", payload),
                        io.BytesIO(payload),
                    )
                    n_members += 1
                    payload_bytes += len(payload)
        sha = hashlib.sha256()
        with open(stage, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                sha.update(chunk)
        tar_bytes = os.path.getsize(stage)
        os.replace(stage, final)  # atomic; retries rewrite identical bytes
        return pd.DataFrame(
            [
                {
                    "shard": sid,
                    "n_keys": len(pdf),
                    "n_members": n_members,
                    "payload_bytes": payload_bytes,
                    "tar_bytes": tar_bytes,
                    "sha256": sha.hexdigest(),
                }
            ]
        )

    out_schema = (
        "shard int, n_keys long, n_members long, payload_bytes long, "
        "tar_bytes long, sha256 string"
    )
    rows = (
        work.groupBy(shard_col)
        .applyInPandas(_write_shard, out_schema)
        .collect()  # bounded: one manifest row per shard
    )
    shards = {
        r["shard"]: {
            "n_keys": r["n_keys"],
            "n_members": r["n_members"],
            "payload_bytes": r["payload_bytes"],
            "tar_bytes": r["tar_bytes"],
            "sha256": r["sha256"],
        }
        for r in rows
    }
    manifest = {
        "format": "webdataset",
        "n_shards": n_shards,
        "key": key,
        "members": dict(member_items),
        "total_keys": sum(s["n_keys"] for s in shards.values()),
        "shards": {str(k): v for k, v in sorted(shards.items())},
    }
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def read_wds_manifest(path: str) -> dict:
    with open(os.path.join(path, MANIFEST_NAME)) as f:
        return json.load(f)


class _WdsShard(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WebDatasetReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("webdataset source requires option 'path'")

    def partitions(self) -> list[_WdsShard]:
        if os.path.isfile(self.root):
            return [_WdsShard(self.root)]
        tars = sorted(
            os.path.join(self.root, n)
            for n in os.listdir(self.root)
            if n.endswith(".tar")
        )
        if not tars:
            raise ValueError(f"no .tar shards under {self.root}")
        return [_WdsShard(t) for t in tars]

    def read(self, split: _WdsShard) -> Iterator[tuple]:
        shard = os.path.basename(split.path)
        # streaming adjacency grouping: WebDataset requires same-key
        # members to be contiguous, so memory is O(one sample)
        cur_key: str | None = None
        cur: dict[str, bytes] = {}
        with tarfile.open(split.path, "r") as tf:
            for ti in tf:
                if not ti.isfile():
                    continue
                base = os.path.basename(ti.name)
                dot = base.find(".")
                k, ext = (base, "") if dot < 0 else (
                    base[:dot],
                    base[dot + 1:],  # ext = everything after the FIRST dot
                )
                if k != cur_key:
                    if cur_key is not None:
                        yield (cur_key, shard, cur)
                    cur_key, cur = k, {}
                cur[ext] = tf.extractfile(ti).read()
        if cur_key is not None:
            yield (cur_key, shard, cur)


class WebDatasetDataSource(DataSource):
    """format("webdataset"): (key, shard, members map<ext, bytes>) rows,
    one input partition per tar shard."""

    @classmethod
    def name(cls) -> str:
        return "webdataset"

    def schema(self) -> str:
        return "key string, shard string, members map<string,binary>"

    def reader(self, schema: StructType) -> WebDatasetReader:
        return WebDatasetReader(self.options)


def register_webdataset_source(spark: SparkSession) -> None:
    """Register format('webdataset') on this session (silent replace on
    re-registration, same contract as register_mongodump_source)."""
    spark.dataSource.register(WebDatasetDataSource)


_WDS_N_SHARDS = 8


@register(
    "multimodal_wds_export_report",
    oracle=f"""
    SELECT CAST(({bucket_duckdb('doc_id')} % {_WDS_N_SHARDS}) AS INT) AS shard,
           count(*) AS n_keys,
           2 * count(*) AS n_members,
           CAST(SUM(strlen(text)
               + strlen('{{"lang":"' || lang || '","source":"' || source
                        || '"}}')) AS BIGINT) AS payload_bytes
    FROM documents
    GROUP BY 1
    """,
    description="WebDataset export integrity report: shard the documents "
    "table into deterministic tar sub-shards (a multiple of the 8 logical "
    "shards, sized from source bytes; each doc → "
    "<key>.txt + <key>.json members, zeroed tar metadata so reruns are "
    "byte-identical), read the tars back via format('webdataset') (one "
    "partition per sub-shard), and report per logical shard "
    "(sub % 8 == bucket % 8, so the report is unchanged) with "
    "key/member/payload-byte "
    "totals FROM THE BYTES ON DISK — the oracle recomputes the same "
    "totals from the raw table, so a dropped member, a truncated tar, or "
    "a shard-assignment drift all hash-mismatch. Scale: shard count is "
    "chosen at write time (~1 GB/shard convention), write is one "
    "applyInPandas group per shard, read is one task per shard; nothing "
    "driver-side but the 8 manifest rows.",
    tags=("multimodal", "llm-pipeline", "export", "report"),
)
def multimodal_wds_export_report(spark: SparkSession, sf: str) -> DataFrame:
    import shutil
    import tempfile

    docs = load(spark, sf, "documents").select(
        "doc_id",
        "text",
        F.concat(
            F.lit('{"lang":"'),
            F.col("lang"),
            F.lit('","source":"'),
            F.col("source"),
            F.lit('"}'),
        ).alias("meta"),
    )
    # r11 OPT (r10 verdict #4, guide §2.2/§6): write W sub-shards, W a
    # multiple of 8 sized from the source table's bytes (see
    # _export_sub_shards): sub-shard = bucket % W, and 8 | W makes
    # (bucket % W) % 8 == bucket % 8, so the read-back fold below
    # reproduces the EXACT 8-logical-shard report (per-shard totals are
    # order-insensitive across docs) while a large corpus's tar write
    # and read run W-way parallel instead of 8.
    n_sub = _export_sub_shards(_WDS_N_SHARDS, sf)
    out = tempfile.mkdtemp(prefix="wds_export_")
    try:
        write_webdataset_shards(
            docs,
            out,
            key="doc_id",
            members={"text": "txt", "meta": "json"},
            n_shards=n_sub,
        )
        register_webdataset_source(spark)
        back = spark.read.format("webdataset").load(out)
        report = (
            back.select(
                F.pmod(
                    F.regexp_extract("shard", r"shard-(\d+)\.tar", 1)
                    .cast("int"),
                    F.lit(_WDS_N_SHARDS),
                ).alias("shard"),
                F.size("members").alias("n_members"),
                F.aggregate(
                    F.map_values("members"),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + F.length(v),
                ).alias("payload_bytes"),
            )
            .groupBy("shard")
            .agg(
                F.count("*").alias("n_keys"),
                F.sum("n_members").cast("long").alias("n_members"),
                F.sum("payload_bytes").cast("long").alias("payload_bytes"),
            )
            .collect()  # bounded: one row per shard
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        report,
        "shard int, n_keys long, n_members long, payload_bytes long",
    )
