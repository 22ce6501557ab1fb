"""Benchmark entry point.

  python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of the repository. With ``--trace 0`` it
runs one workload with tracing off and prints every end-to-end metric;
with ``--trace 1`` it runs the traced process and prints every per-layer
metric. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The lines before it
give each end-to-end metric with its unit and the workload's own name for
it, the untracked peak memory and failure share, and the output-check
verdict. See perfbench/README.md for the workloads, metrics and mapping.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

WORKLOADS = ("etl_batch", "dashboard_reads")
END_TO_END = {
    "throughput_per_s": "1/s",
    "p50_ms": "ms",
    "p90_ms": "ms",
    "setup_s": "s",
}
# what each tracked metric is called on each workload
ALIASES = {
    "etl_batch": {"throughput_per_s": "etl_rows_per_s"},
    "dashboard_reads": {"throughput_per_s": "dash_requests_per_s",
                        "p50_ms": "dash_p50_ms", "p90_ms": "dash_p90_ms"},
}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_untraced(args, work: str, env: dict, setup_clock) -> dict:
    if args.workload == "dashboard_reads":
        import dashboard

        return dashboard.run(work, args.seed, args.seconds, env, setup_clock)
    import etl

    with common.TreeRss(os.getpid()) as rss:
        spark = common.start_spark("perfbench-etl")
        try:
            out = etl.run(spark, work, args.seed, args.seconds, setup_clock)
        finally:
            common.stop_spark(spark)
    out["peak_rss_mb"] = rss.peak_mb
    return out


def run_traced(args, work: str) -> tuple[dict, "tracing.Inputs"]:
    import tracing

    inp = tracing.Inputs(work, args.seed)
    spark = common.start_spark("perfbench-trace")
    try:
        untraced_wall = tracing.untraced_pass(spark, inp, args.workload)
        spark.stop()  # the JVM stays up: the traced session differs only in conf
        tracing.forget_udf_contexts()
        spark = common.start_spark("perfbench-trace", tracing.trace_conf())
        return tracing.traced_pass(spark, inp, args.workload, untraced_wall), inp
    finally:
        common.stop_spark(spark)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not common.have_package():
        print(f"perfbench: no assignment_etl_spark package under {common.ROOT}; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    setup_clock = common.Clock()
    work = common.make_workdir(args.workload)
    env = common.spark_env(work)
    os.environ.update(env)
    try:
        if args.trace:
            import tracing

            layer, inp = run_traced(args, work)
            metrics = {name: {"value": layer[name], "unit": unit}
                       for name, unit in tracing.per_layer_units().items()}
            attempted, failed = inp.attempted, inp.failed
        else:
            out = run_untraced(args, work, env, setup_clock)
            aliases = ALIASES[args.workload]
            for name, unit in END_TO_END.items():
                alias = f" ({aliases[name]})" if name in aliases else ""
                print(f"{args.workload} {name} = {out[name]:.6g} {unit}{alias}")
            print(f"{args.workload} peak_rss_mb = {out['peak_rss_mb']:.6g} MB (not tracked)")
            metrics = {name: {"value": out[name], "unit": unit}
                       for name, unit in END_TO_END.items()}
            attempted, failed = out["attempted"], out["failed"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(f"{args.workload} failed_share = {failed / attempted:.6g} ratio "
          f"({failed} of {attempted}); output check {'PASSED' if correct else 'FAILED'}")
    print(result_line(correct, attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
