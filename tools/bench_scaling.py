"""Scaling bench: wall-time factor from sf0.1 to a 10x dataset.

Runs the heaviest registry queries at sf0.1 and at the 10x dataset from
tools/make_scale_data.py, reporting warm wall-time and the scaling
factor. A query scaling worse than ~linear in rows (factor >> 10x with
comparable plans) indicates a pair-space or single-partition funnel that
plan gates didn't catch — exactly what the r5 verdict asked to measure
rather than argue.

Usage: python tools/bench_scaling.py [--names a,b,c] [--scale-dir DIR]
Emits one JSON line: {"queries": {name: {"sf01": s, "x10": s,
"factor": f}}, ...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import force  # noqa: E402
from mongodb_cdc_delta_spark.queries import all_queries  # noqa: E402
from mongodb_cdc_delta_spark.session import get_spark  # noqa: E402

# top-expensive per BENCH_r05/r6 + one representative per heavy family
DEFAULT_NAMES = [
    "dedup_threshold_sensitivity",
    "ann_pq_topk",
    "ann_ivf_topk",
    "dedup_connected_components",
    "dedup_keep_list",
    "bpe_token_frequencies",
    "semantic_dedup_prune",
    "dedup_ensemble_flags",
    "minhash_estimate_error",
    "matryoshka_recall_report",
    "dedup_triangle_counts",
    "dedup_minhash_lsh",
    "decontaminate_cut_spans",
    "knn_cosine_topk",
    "pricing_summary",
    "star_join_revenue",
    "waiting_suppliers",
    "sessionize",
    "corpus_report",
    "trigram_backoff_score",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default=",".join(DEFAULT_NAMES))
    ap.add_argument("--scale-dir", default="/tmp/scale10")
    ap.add_argument("--sf01-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark()
    reg = all_queries()
    out: dict[str, dict] = {}
    for name in [n for n in args.names.split(",") if n]:
        if name not in reg:
            out[name] = {"error": "unknown query"}
            continue
        fn = reg[name].fn
        row = {}
        try:
            for key, d in (("sf01", args.sf01_dir), ("x10", args.scale_dir)):
                times = []
                for _ in range(args.reps):
                    t0 = time.perf_counter()
                    force(fn(spark, d))
                    times.append(time.perf_counter() - t0)
                row[key] = round(min(times[1:]) if len(times) > 1 else times[0], 3)
            row["factor"] = round(row["x10"] / max(row["sf01"], 1e-9), 2)
        except Exception as e:  # noqa: BLE001
            row["error"] = f"{type(e).__name__}: {e}"[:300]
        out[name] = row
        print(f"  {name}: {row}", flush=True)
    print(json.dumps({"queries": out, "scale_dir": args.scale_dir}))


if __name__ == "__main__":
    main()
