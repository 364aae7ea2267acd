#!/usr/bin/env python3
"""Benchmark entry point for the interval rollup engine.

    python3 perfbench/run.py --workload crawl_rollup --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a host stamp line, then one JSON
result line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones. Exits non-zero when an output check fails.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: names of perfbench.workloads.WORKLOADS, listed here so that argument
#: errors show before the engine is imported
WORKLOADS = ("crawl_rollup", "range_dedup")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True,
                    help="input seed; 9001 is held out for confirming claims")
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="length of the timed window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "intervalaverage_spark" / "__init__.py").is_file():
        print(f"error: engine package intervalaverage_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    # everything Spark and its Python workers write stays in the checkout
    tmp = ROOT / ".perfbench_work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, str(ROOT))
    from perfbench.harness import main as run_main

    return run_main(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
