"""Library-path export scaling (r8 verdict #6).

The registered ``tokens_bin_export_report`` caps write parallelism at 4
shards by contract (its 100x scaling factor of 22.9 is mostly that cap).
The library writers size ``n_shards`` freely — this harness writes the
100x corpus through ``write_token_shards`` / ``write_webdataset_shards``
at a small and a cores-sized shard count and records:

- wall time per (writer, n_shards): write wall-time must DROP as shards
  rise (each shard is one applyInPandas group = one task);
- MB/s of container bytes actually written;
- manifest + round-trip checks at that size (row counts via the
  ``tokenbin`` / ``webdataset`` DataSources, token totals preserved).

Usage: python tools/export_scaling_bench.py [--sf-dir /tmp/scale100]
        [--shards 4,32] [--out FILE]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mongodb_cdc_delta_spark.ops.tokenbin import (  # noqa: E402
    _TB_TOKEN_IDS,
    register_tokenbin_source,
    write_token_shards,
)
from mongodb_cdc_delta_spark.ops.webdataset import (  # noqa: E402
    register_webdataset_source,
    write_webdataset_shards,
)
from mongodb_cdc_delta_spark.queries import load  # noqa: E402
from mongodb_cdc_delta_spark.session import get_spark  # noqa: E402

def _dir_bytes(path: str, patterns: tuple[str, ...]) -> int:
    return sum(
        os.path.getsize(f)
        for pat in patterns
        for f in glob.glob(os.path.join(path, pat))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/scale100")
    ap.add_argument("--shards", default="4,32")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    shard_counts = [int(x) for x in args.shards.split(",")]

    spark = get_spark(app_name="export-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    register_tokenbin_source(spark)
    register_webdataset_source(spark)

    docs = load(spark, args.sf_dir, "documents")
    n_docs = docs.count()
    ids = docs.select("doc_id", F.expr(_TB_TOKEN_IDS).alias("token_ids"))
    # tokenization is identical across runs — materialize once so the
    # timing isolates the WRITE, not the shared tokenize pass
    ids = ids.repartition(32).persist()
    total_tokens = ids.agg(F.sum(F.size("token_ids"))).collect()[0][0]

    runs = []
    for n in shard_counts:
        out = tempfile.mkdtemp(prefix=f"tokbin{n}-")
        try:
            t0 = time.time()
            manifest = write_token_shards(
                ids, out, key="doc_id", n_shards=n, dtype="uint16"
            )
            wall = time.time() - t0
            nbytes = _dir_bytes(out, ("*.bin", "*.idx"))
            back = spark.read.format("tokenbin").load(out)
            rt = back.agg(
                F.count("*").alias("rows"),
                F.sum(F.size("token_ids")).alias("tok"),
            ).collect()[0]
            runs.append(
                {
                    "writer": "tokenbin",
                    "n_shards": n,
                    "docs": n_docs,
                    "wall_s": round(wall, 1),
                    "mb": round(nbytes / 1024 / 1024, 1),
                    "mb_per_s": round(nbytes / 1024 / 1024 / wall, 1),
                    "roundtrip_ok": rt["rows"] == n_docs
                    and rt["tok"] == total_tokens
                    and len(manifest["shards"]) == n,
                }
            )
            print(json.dumps(runs[-1]), flush=True)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    wds_src = docs.select("doc_id", "text", "lang")
    for n in shard_counts:
        out = tempfile.mkdtemp(prefix=f"wds{n}-")
        try:
            t0 = time.time()
            manifest = write_webdataset_shards(
                wds_src,
                out,
                key="doc_id",
                members={"text": "txt", "lang": "cls"},
                n_shards=n,
            )
            wall = time.time() - t0
            nbytes = _dir_bytes(out, ("*.tar",))
            # reader schema: one row per sample (key, shard, members map)
            back = spark.read.format("webdataset").load(out)
            rt = back.agg(
                F.count("*").alias("rows"),
                F.sum(F.size("members")).alias("mem"),
            ).collect()[0]
            runs.append(
                {
                    "writer": "webdataset",
                    "n_shards": n,
                    "docs": n_docs,
                    "wall_s": round(wall, 1),
                    "mb": round(nbytes / 1024 / 1024, 1),
                    "mb_per_s": round(nbytes / 1024 / 1024 / wall, 1),
                    "roundtrip_ok": rt["rows"] == n_docs
                    and rt["mem"] == n_docs * len(manifest["members"])
                    and len(manifest["shards"]) == n,
                }
            )
            print(json.dumps(runs[-1]), flush=True)
        finally:
            shutil.rmtree(out, ignore_errors=True)
    ids.unpersist()

    def _speedup(writer: str) -> float | None:
        ws = [r for r in runs if r["writer"] == writer]
        if len(ws) < 2:
            return None
        return round(ws[0]["wall_s"] / ws[-1]["wall_s"], 2)

    payload = {
        "metric": "export_write_mb_per_s",
        "sf_dir": args.sf_dir,
        "runs": runs,
        "tokenbin_speedup_at_max_shards": _speedup("tokenbin"),
        "webdataset_speedup_at_max_shards": _speedup("webdataset"),
        "all_roundtrips_ok": all(r["roundtrip_ok"] for r in runs),
    }
    line = json.dumps(payload)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()
    return 0 if payload["all_roundtrips_ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
