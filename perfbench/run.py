"""Outside-in benchmark of the watermark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads and metrics are declared in
``BENCHMARK.json``; inputs are generated from ``--seed`` (cached under
``.perfbench/cache``) before Spark starts. With ``--trace 0`` the run is
timed with tracing off and reports the end-to-end metrics; with
``--trace 1`` a separate traced run reports the per-layer metrics and
writes its spans to ``.perfbench/trace/<workload>-<seed>.jsonl``. A layer
a workload does not exercise reports 0.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``;
the line before it carries diagnostics (host busy fraction, detect
canary, warm-up and correctness details). Exits non-zero without a
result when the engine package is not importable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.getcwd()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "watermark_detector_spark", "__init__.py")):
        print("perfbench: watermark_detector_spark not found in the working "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    try:
        WORKLOADS[args.workload](run)
    finally:
        run.close()
        run.mark("closed")
    wall = time.perf_counter() - t0

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        run.layer["trace.unattributed_frac"] = run.tracer.unattributed_frac(wall)
        os.makedirs(os.path.join(ROOT, ".perfbench", "trace"), exist_ok=True)
        run.tracer.write(os.path.join(
            ROOT, ".perfbench", "trace", f"{args.workload}-{args.seed}.jsonl"))
    values = run.layer if args.trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if not args.trace and missing:
        raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"diagnostics": run.diag, "wall_s": wall}, default=str))
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
