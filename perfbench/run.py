"""fmx benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload analytics|fm \\
        --seed N --seconds S --trace 0|1

Run it from the repository root.  The seed fixes every generated input.
Each workload measures at least one unit of its work and keeps going
until ``--seconds`` have been measured (see ``workloads.py``).  All of it
runs on ``local[2]`` from this one process, with one closed-loop client.

The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones (``END_TO_END``).  With
``--trace 1`` they are the per-layer ones (``PER_LAYER``): the same run,
plus benchmark-side spans and Spark's stage counters per span, with
zero for a layer the workload does not reach.  ``trace.pass_cpu_s``
minus the untraced ``pass_cpu_s`` is the tracing overhead.  Spans are
written to ``.perfbench/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The end-to-end metrics are CPU seconds of the driver's processes (see
# sparkstats.cpu_seconds): on a shared 4-vCPU host whose CPUs are
# taken by other machines for up to a third of a run, a pass's wall time
# moved by 40% over ten runs while its CPU time held.  Wall times, and
# per-operation latencies (query and request medians), are per-layer
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}

_TARGET_LAYERS = {
    f"queries.{q}.{m}": u
    for q in ["graph_connected_components", "dedup_allpairs_canonical",
              "ann_ivfpq_topk", "ann_pq_rerank", "ann_pq_topk",
              "dedup_semantic"]
    for m, u in [("construct_s", "s"), ("execute_s", "s"), ("jobs", "count")]}

PER_LAYER = {
    # JVM heap residency moves with garbage-collector timing by more
    # than any end-to-end bound could absorb, so memory is reported here
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.dispatch_floor_s": "s",
    "queries.construct_s": "s",
    "queries.execute_s": "s",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.shuffle_read_bytes": "B",
    "queries.shuffle_write_bytes": "B",
    "queries.spill_bytes": "B",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.dispatch_s": "s",
    **_TARGET_LAYERS,
    "queries.persisted_left": "count",
    "queries.driver_errors": "count",
    "duckdb.oracle_s": "s",
    "analytics.query_p50_s": "s",
    "sgd.jobs": "count",
    "sgd.stages": "count",
    "sgd.tasks": "count",
    "sgd.driver_gap_s": "s",
    "sgd.executor_cpu_s": "s",
    "sgd.shuffle_read_bytes": "B",
    "sgd.shuffle_write_bytes": "B",
    "sgd.spill_bytes": "B",
    "sgd.loss_first": "loss",
    "sgd.loss_last": "loss",
    "sgd.persisted_left": "count",
    "model.eval_s": "s",
    "train.fit_s": "s",
    "train.holdout_mae": "rating",
    "model.load_s": "s",
    "serving.compile_s": "s",
    "model.transform_construct_s": "s",
    "model.request_jobs": "count",
    "serving.request_jobs": "count",
    "model.persisted_left": "count",
    "serve.sparse_p50_s": "s",
    "serve.dense_p50_s": "s",
    "serve.requests": "count",
    "error_ratio": "ratio",
    "setup_wall_s": "s",
    "trace.pass_s": "s",
    "trace.pass_cpu_s": "s",
}


def _metrics(values: dict[str, float], units: dict[str, str]) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "fmx", "__init__.py")):
        print(f"perfbench: no fmx package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import Harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # NumPy seeds must be non-negative; this keeps every other seed as is
    h = Harness(ROOT, args.workload, args.seed % 2**63, bool(args.trace))
    try:
        start_s = h.start()
        t0 = time.perf_counter()
        res = WORKLOADS[args.workload](h, args.seconds)
        run_s = time.perf_counter() - t0
        rss = h.peak_rss_mb()
    finally:
        h.close()

    if args.trace:
        values = dict(res.layers)
        values.update({
            "peak_rss_mb": rss,
            "session.start_s": start_s,
            "error_ratio": res.failed / res.attempted,
            "setup_wall_s": res.setup_wall_s,
            "trace.pass_s": res.pass_s,
            "trace.pass_cpu_s": res.pass_cpu_s,
        })
        metrics = _metrics(values, PER_LAYER)
    else:
        metrics = _metrics({"setup_s": res.setup_s,
                            "pass_cpu_s": res.pass_cpu_s},
                           END_TO_END)
    print(f"perfbench: {args.workload} seed {args.seed}: "
          f"{res.attempted} operations, {res.failed} failed, pass "
          f"{res.pass_s:.1f} s wall, {res.pass_cpu_s:.1f} s CPU, "
          f"{run_s:.1f} s after session start", file=sys.stderr)
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
