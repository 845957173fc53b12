"""One command for every workload of the benchmark.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 25 --trace 0

Run from the repository root. Prints an ``env`` line, a ``workload`` line
with the workload's own metrics, and, last, the result line: with
``--trace 0`` every ``end_to_end`` metric of BENCHMARK.json, with
``--trace 1`` every ``per_layer`` metric (a layer the workload never calls
reads 0). A traced run also writes its spans, its per-layer numbers and the
event-log counters of every Spark job group to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, WORK, environment, pin_env  # noqa: E402

WORKLOADS = ("er_batch", "serve_parse")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    pin_env()
    try:
        import indian_address_parser_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout ({e})", file=sys.stderr)
        return 2

    workload = importlib.import_module(args.workload)
    res = workload.run(args.seed, args.seconds, bool(args.trace), T0)

    print(json.dumps({"env": environment()}))
    print(json.dumps({"workload": args.workload, "seed": args.seed, **res["workload"]}))
    for p in res["problems"]:
        print(f"perfbench: output check failed: {p}", file=sys.stderr)

    if args.trace:
        out = {
            m["name"]: {"value": float(res["layer"].get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {"layer": res["layer"], "groups": res.get("groups", {}), "spans": res["spans"]},
                f,
                indent=1,
            )
    else:
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in res["metrics"]]
        if missing:
            print(f"perfbench: workload did not measure {missing}", file=sys.stderr)
            return 3
        out = {
            m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
