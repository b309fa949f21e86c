"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.perfbench_work/``, sets up, measures for ``--seconds``,
checks every output, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is the workload's own latency report. A traced run also writes
its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("pipeline", "dwrf_io", "lookup")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _remove(work: str) -> None:
    """Delete the run's work dir, and its parent once no run uses it."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run's dir is still there
        pass


def main(argv=None) -> int:
    args = parse_args(argv)
    # import from the checkout, never from this directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    from perfbench.common import adopt_orphans, stop_children

    # every process the run starts, and every process those start, has
    # ended before this one exits
    adopt_orphans()
    try:
        return _main(args)
    finally:
        stop_children()


def _main(args) -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the program's compiled-helper cache, kept in the checkout across runs
    os.environ["XDG_CACHE_HOME"] = os.path.join(ROOT, ".perfbench_cache")
    try:
        import hive_dwrf_spark  # noqa: F401
    except ImportError as e:
        _remove(work)
        print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
        return 2

    from perfbench.common import END_TO_END, PER_LAYER, Run, peak_rss_mb
    from perfbench.tracing import Tracer

    run = Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        root=ROOT,
        work=work,
        tracer=Tracer() if args.trace else None,
    )
    module = importlib.import_module(f"perfbench.{args.workload}")
    try:
        module.main(run)
    finally:
        if run.tracer is not None:
            run.tracer.restore()
        _remove(work)

    run.report["failed_op_ratio"] = run.failed / max(run.attempted, 1)
    run.report["failures"] = run.failures
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": run.report}))
    if args.trace:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.dump(os.path.join(out, f"spans_{args.workload}_seed{args.seed}.json"))
        metrics = {
            name: {"value": float(run.layers.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER
        }
    else:
        values = {"setup_s": run.setup_s, "peak_rss_mb": peak_rss_mb(), **run.e2e}
        metrics = {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit, _better, _bound in END_TO_END
        }
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
