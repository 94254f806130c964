#!/usr/bin/env python3
"""camelot-spark benchmark: one workload per invocation, from the root of
a checkout::

    python3 perfbench/run.py --workload born_digital --seed 1 --seconds 6 --trace 0

Workloads (see perfbench/README.md): ``born_digital``,
``full_corpus_commit`` and ``curate``. Each run generates its inputs
from ``--seed``, sets up Spark ``perfbench.harness.SETUP_REPS`` times
(each in a new JVM), runs untimed warm passes, then runs the
workload's job back to back for ``--seconds`` (one job at a time),
checks the outputs, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. Lines before it carry the input's row
count and content hash, the run environment and the detail figures.
``--docs`` overrides the input size (the smoke test uses it).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

from curate import STEPS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_frac": "frac",
}


PER_LAYER = {
    "pipeline.decode_us_per_doc": "us/doc",
    "pipeline.encode_us_per_doc": "us/doc",
    "pipeline.remainder_frac": "frac",
    "pipeline.task_straggler_ratio": "ratio",
    "pipeline.gc_frac": "frac",
    "page.parse_us_per_doc": "us/doc",
    "textedges.us_per_doc": "us/doc",
    "rows.us_per_doc": "us/doc",
    "cols.us_per_doc": "us/doc",
    "lines.us_per_doc": "us/doc",
    "raster.decode_us_per_doc": "us/doc",
    "raster.threshold_us_per_doc": "us/doc",
    "raster.lines_us_per_doc": "us/doc",
    "raster.contours_us_per_doc": "us/doc",
    "raster.joints_us_per_doc": "us/doc",
    "assign.us_per_doc": "us/doc",
    "assemble.us_per_doc": "us/doc",
    "extract_doc.doc_us_p50": "us",
    "extract_doc.doc_us_p99": "us",
    "extract_doc.doc_us_max": "us",
    "snapshots.write_overhead_ratio": "ratio",
    "snapshots.write_bytes": "B",
    "snapshots.files": "count",
    "snapshots.resume_skipped_frac": "frac",
    **{f"curate.{s}_s": "s" for s in STEPS},
    **{f"curate.{s}_shuffle_mb": "MB" for s in STEPS},
    "curate.stages": "count",
    "dedup.verified_over_candidates": "ratio",
    "trace.overhead_ratio": "ratio",
}

WORKLOADS = ("born_digital", "full_corpus_commit", "curate")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None)
    args = ap.parse_args(argv)

    for need in ("camelot_spark/__init__.py", "jobs/curate_job.py",
                 "tools/gen_benchdata.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from the "
                  "root of a camelot-spark checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "jobs")]

    import harness

    t_start = time.perf_counter()
    shutil.rmtree(os.path.join(ROOT, ".perfbench"), ignore_errors=True)
    bench = harness.Bench(ROOT)
    print(json.dumps({"env": bench.env_record()}), flush=True)
    try:
        if args.workload == "curate":
            import curate

            res = curate.run(bench, args.seed, args.seconds, bool(args.trace),
                             args.docs)
        else:
            import extraction

            res = extraction.run(bench, args.workload, args.seed, args.seconds,
                                 bool(args.trace), args.docs)
    finally:
        t_close = time.perf_counter()
        bench.close()
        t_end = time.perf_counter()

    res["detail"].update(run_s=t_end - t_start, close_s=t_end - t_close)
    if args.trace:
        # every per-layer metric is printed; one whose layer this
        # workload does not run reads 0.0 and is listed here
        res["detail"]["not_applicable"] = [k for k in PER_LAYER
                                           if k not in res["per_layer"]]
    print(json.dumps({"detail": res["detail"]}), flush=True)
    if args.trace:
        values = {k: res["per_layer"].get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values, units = res["end_to_end"], END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    ok = res["failed"] == 0 and all(math.isfinite(m["value"])
                                    for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
