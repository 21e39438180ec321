"""Run one benchmark workload against the library and print its metrics.

    python3 perfbench/run.py --workload stream|query --seed N \
        --seconds S --trace 0|1

Human-readable lines come first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
``end_to_end`` metrics of ``BENCHMARK.json`` (``--trace 0``) or its
``per_layer`` metrics (``--trace 1``). With ``--trace 1`` the spans are
also written to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, Result, Timer, calib, peak_rss_mb, prepare_env, shape, start_session, stop_session  # noqa: E402

WORKLOADS = ("stream", "query")


def parse(argv):
    ap = argparse.ArgumentParser(description="CDC lake benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "mongodb_cdc_delta_spark")) or not os.path.exists(spec_path):
        print("perfbench: the library package and BENCHMARK.json must sit beside perfbench/", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work: str) -> int:
    prepare_env(work)
    import importlib

    workload = importlib.import_module(args.workload)
    res = Result(args.workload)
    res.info.update(shape(), seed=args.seed, seconds=args.seconds, trace=args.trace)
    calib_before = calib()
    with Timer() as t:
        spark = start_session(work, bool(args.trace))
    session_s = t.s
    tracer = None
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        out = workload.run(spark, args, work, res, tracer)
        if tracer:
            tracer.uninstall()
        setup = out["setup"]
        res.put("setup_s", session_s + sum(setup.values()), "s")
        res.info["setup"] = {"session_s": round(session_s, 3), **{k: round(v, 3) for k, v in setup.items()}}
        res.put("peak_rss_mb", peak_rss_mb(), "MB")
        if tracer:
            _trace_metrics(res, tracer, out, args)
    finally:
        stop_session(spark)
    res.put("host.calib_s", max(calib_before, calib()), "s")
    res.info["calib_s"] = calib_before
    print(res.describe())
    print(res.line({m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}))
    return 0


def _trace_metrics(res: Result, tracer, out: dict, args) -> None:
    tracer.collect_spark()
    ops = out["ops"]
    for k, v in tracer.layer_summary(ops, out["window"]).items():
        if k not in res.metrics:
            res.put(k, v, "s" if k.endswith((".s", "_s")) else "count")
    res.put("trace.op_p50_s", res.metrics["p50_s"][0], "s")
    res.put("trace.bookkeeping_s", tracer.bookkeeping_s / max(ops, 1), "s")
    res.put("trace.spans", len(tracer.spans) / max(ops, 1), "count")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}-{int(time.time())}.jsonl"))


if __name__ == "__main__":
    sys.exit(main())
