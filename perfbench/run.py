"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,query} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout: the engine package is imported from the
directory above this file, never from an installed copy. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"},
where metrics are the end-to-end metrics (--trace 0) or the per-layer
metrics of a traced run (--trace 1), each as {"value", "unit"}.
"""

from __future__ import annotations

import argparse
import json
import math
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "lucene_mapreduce_spark"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest", "query"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE}/ not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import lucene_mapreduce_spark

    if Path(lucene_mapreduce_spark.__file__).resolve().parent != ROOT / PACKAGE:
        print(f"{PACKAGE} imported from outside the checkout", file=sys.stderr)
        return 2

    from perfbench.env import BenchEnv
    from perfbench.workloads import WORKLOADS, Run

    with BenchEnv(ROOT, bool(args.trace)) as env:
        run = Run(env=env, seed=args.seed, seconds=args.seconds)
        res = WORKLOADS[args.workload](run)
    print(f"set-up: session {run.session_s:.3f} s, inputs {run.gen_s:.3f} s "
          f"(median of reps), engine {run.setup_engine_s:.3f} s", flush=True)
    metrics = res.layers if args.trace else res.e2e
    bad = [k for k, (v, _u) in metrics.items() if not math.isfinite(v)]
    if not metrics or bad:
        print(f"metrics missing or not finite: {bad}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": run.ops.failed == 0,
        "attempted": run.ops.attempted,
        "failed": run.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
