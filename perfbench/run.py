"""Benchmark command for the extraction engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 10 --trace 0

Workloads: extract_mix, resumable_mix (see perfbench/BENCHMARK.md). Prints a report (host facts, input facts,
checks, every metric with unit and sample count) and, as its last line,
one JSON object with the keys correct, attempted, failed and metrics:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything it writes stays under perfbench/.work.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(root: str) -> None:
    """Keep the JVM, the Python workers and temp files inside the
    checkout, and let workers import the engine from any cwd."""
    work = os.path.join(root, "perfbench", ".work")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_mix", "resumable_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny is for the benchmark's own tests")
    args = ap.parse_args(argv)

    prepare_env(ROOT)
    import yomitoku_spark  # noqa: F401  (fail before any JVM starts)

    from perfbench import bench

    lines, result = bench.run(
        ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.size
    )
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
