"""LSH ANN benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload serve_online --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  The run generates
its inputs from ``--seed``, builds everything from the checkout's own
``lshrs_spark`` package, measures for ``--seconds`` seconds, checks the
outputs, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes the recorded spans to
``.perfbench/traces/<workload>-seed<seed>.jsonl``.  The exit code is
non-zero when any output check fails or the run cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name, unit -- every end-to-end metric, printed by every workload
E2E_METRICS = [
    ("setup_s", "s"),
    ("query_p50_ms", "ms"),
    ("query_p95_ms", "ms"),
    ("queries_per_s", "1/s"),
    ("recall_at_10", "ratio"),
    ("index_vectors_per_s", "1/s"),
    ("visible_p50_s", "s"),
    ("bytes_per_vector", "B"),
    ("peak_rss_mb", "MB"),
    ("success_rate", "ratio"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lshrs_spark", "__init__.py")):
        print(f"perfbench: no lshrs_spark package under {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import runtime
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _terminate)
    cpus = runtime.host_cpus()
    run_dir = runtime.make_run_dir(ROOT)
    spark = None
    try:
        runtime.configure_env(run_dir, cpus)
        os.chdir(run_dir)  # anything Spark drops in its cwd lands here
        from lshrs_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Ctx(spark, run_dir, args.seed, args.seconds,
                            bool(args.trace), t_start,
                            time.perf_counter() - t)
        e2e, layer = workloads.WORKLOADS[args.workload](ctx)
        e2e["success_rate"] = 1.0 - ctx.failed / max(1, ctx.attempted)
        if ctx.tracer.enabled:
            layer["trace.spans"] = len(ctx.tracer.spans)
            report_trace(ctx, args, e2e)
        ctx.mark("workload done")
    finally:
        os.chdir(ROOT)
        try:
            if spark is not None:
                runtime.stop_spark(spark)
        finally:
            runtime.remove_run_dir(run_dir)

    correct = ctx.failed == 0 and ctx.attempted > 0
    if args.trace:
        metrics = {n: {"value": layer[n], "unit": u}
                   for n, u in workloads.LAYER_METRICS}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E_METRICS}
    print(f"perfbench: {time.perf_counter() - t_start:7.2f}s stopped; "
          f"{args.workload} seed={args.seed} cpus={cpus} "
          f"driver_mem={runtime.DRIVER_MEM}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


def report_trace(ctx, args, e2e) -> None:
    """Write the spans out and print the per-span table on stderr,
    next to this run's own end-to-end figures (tracing on), for a
    side-by-side look against an untraced run of the same seed."""
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    ctx.tracer.write(os.path.join(
        out, f"{args.workload}-seed{args.seed}.jsonl"))
    print(f"{'span':<28}{'count':>7}{'total_ms':>12}{'self_ms':>12}",
          file=sys.stderr)
    for name, row in sorted(ctx.tracer.summary().items()):
        print(f"{name:<28}{row['count']:>7}{row['total_ms']:>12.1f}"
              f"{row['self_ms']:>12.1f}", file=sys.stderr)
    print("perfbench: end-to-end with tracing on: " + json.dumps(
        {k: round(v, 4) for k, v in e2e.items()}), file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
