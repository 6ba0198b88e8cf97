"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload headline_small --seed 1 --seconds 12 --trace 0

Prints one line per metric (name, value, unit), then, as the last line
of standard output, the JSON result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end set; with ``--trace 1`` they are the
per-layer set, the spans are written to
``.perfbench_work/trace_<workload>.json`` and the metrics include the
traced run's own ``trace.ops_per_s`` / ``trace.op_geomean_s`` (tracing
overhead = traced minus untraced value).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("headline_small", "crud_api")


def metric_units(section: str) -> dict[str, str]:
    """One metric set of BENCHMARK.json (``end_to_end`` or
    ``per_layer``), name → unit, in the file's order."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    common.prepare_environment(traced)
    if args.workload == "crud_api":
        from perfbench import crud_api as mod
    else:
        from perfbench import analytics as mod
    result = mod.run(args.seed, args.seconds, traced)

    spark = result.pop("spark")
    common.shutdown(spark)
    failures = result["failures"]
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    for name, value in result["detail"].items():
        print(f"# {name} = {value:.6g}")
    print(f"# samples = {result['samples']}")

    if traced:
        per_group = common.read_event_log()
        units = metric_units("per_layer")
        measured = mod.layer_metrics(result, per_group)
        measured["trace.ops_per_s"] = result["e2e"]["ops_per_s"]
        measured["trace.op_geomean_s"] = result["e2e"]["op_geomean_s"]
        unknown = set(measured) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # layers a workload does not exercise read 0
        metrics = {name: measured.get(name, 0.0) for name in units}
        result["trace"]["tracer"].write(
            os.path.join(common.WORK, f"trace_{args.workload}.json"),
            {"event_log": per_group, "metrics": metrics, "failures": failures},
        )
    else:
        metrics, units = result["e2e"], metric_units("end_to_end")
        if set(metrics) != set(units):
            raise KeyError(f"end-to-end metrics differ from BENCHMARK.json: {sorted(metrics)}")
    common.emit(not failures, result["attempted"], len(failures), metrics, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
