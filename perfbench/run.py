"""Run one benchmark workload and print its metrics as one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tick_pipeline --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, measured with tracing off;
``--trace 1`` runs the workload with tracing on and prints the per-layer
metrics (and writes its spans to ``perfbench/.traces/``). The exit code is 0 only when
every correctness gate passed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH_ROOT = os.path.join(HERE, ".scratch")


def _environment(scratch: str) -> None:
    """Keep every file the run writes inside its scratch root, and run the
    engine with its defaults on half the visible cores: the other half is
    left to the driver-side Python, the JVM's own threads and the Python
    UDF workers, so that a run on a shared host measures the engine rather
    than the scheduler."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.pop("SPARK_DRIVER_MEMORY", None)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads  # imports the engine: fails fast outside a full checkout

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    scratch = os.path.join(SCRATCH_ROOT, f"{args.workload}-{os.getpid()}")
    _environment(scratch)
    run = workloads.Run(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), scratch=scratch)
    try:
        values = workloads.WORKLOADS[args.workload](run)
        if run.tracer.enabled:
            out_dir = os.path.join(HERE, ".traces")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        run.close()
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(SCRATCH_ROOT) and not os.listdir(SCRATCH_ROOT):
            os.rmdir(SCRATCH_ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    correct = run.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
