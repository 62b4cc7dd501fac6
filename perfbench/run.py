"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds every input from `--seed`, sets up
(session, warm-up), measures for `--seconds`, checks every output, and
prints a detail line followed by the result line
`{"correct", "attempted", "failed", "metrics"}`. With
`--trace 1` the metrics are the per-layer ones from the traced run.
Workloads, metrics and their meaning are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T0 = time.perf_counter()

WORKLOADS = ("corpus_sql", "corpus_ops", "stream_window", "pipeline_wire")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pipegen_spark", "__init__.py")):
        print("perfbench: pipegen_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(1, root)

    import harness

    spec = harness.load_benchmark(root)
    env = harness.Env(root, args.workload, args.seed, T0)
    try:
        if args.workload.startswith("corpus"):
            import corpus as mod
        elif args.workload == "stream_window":
            import stream as mod
        else:
            import pipeline as mod
        run = mod.run(env, args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        env.close()
    detail, final = harness.result_line(run, spec, bool(args.trace), env.memory)
    print(json.dumps(detail, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
