"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload point_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the engine is imported from the package
next to this directory, never from an installed copy. Inputs, the index and
the Spark event log live under ``.perfbench_work/run-<pid>/`` and are removed
when the run ends; a traced run keeps its spans in
``.perfbench_work/traces/``.

Output: one line per metric (``name value unit  note``), then, as the last
line, one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Exit code 0 only when the run completed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

# One BLAS thread in this process and in the Python workers it starts (they
# inherit the environment): the oracle's numpy calls otherwise leave an
# OpenBLAS thread spinning beside the engine for most of each operation, and a
# Spark task gets one core. Set before numpy is first imported.
os.environ["OPENBLAS_NUM_THREADS"] = "1"
os.environ["OMP_NUM_THREADS"] = "1"

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "distributed_vector_database_spark"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_engine() -> None:
    """Import the engine from this checkout, or exit with a message."""
    sys.path.insert(0, ROOT)
    try:
        engine = __import__(ENGINE)
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import {ENGINE} from {ROOT}: {exc}")
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: {ENGINE} was imported from {engine.__file__}, not {ROOT}")


def fmt(v: float) -> str:
    return "n/a" if v is None or (isinstance(v, float) and math.isnan(v)) else f"{v:.6g}"


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    import_engine()
    from perfbench.inputs import FULL
    from perfbench.workloads import Run

    work_root = os.path.join(ROOT, ".perfbench_work")
    workdir = os.path.join(work_root, f"run-{os.getpid()}")
    os.makedirs(workdir)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), FULL, workdir)
    try:
        try:
            run.start()
            run.build()
            run.loop()
        finally:
            run.stop()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        if args.trace:
            report_trace(run, metrics, work_root, args)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    s = run.sizes
    print(
        f"info workload={run.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} master={run.master} nproc={run.nproc} "
        f"corpus={s.corpus}x{s.dim} clusters={s.clusters} shards={s.shards} "
        f"collections={s.collections} k={s.k} nprobe={s.nprobe} batch_queries={s.batch_queries} "
        f"ingest_rows={s.ingest_rows}"
    )
    for name, value, unit, note in run.named_metrics():
        print(f"{name} {fmt(value)} {unit}  {note}".rstrip())
    for failure in run.failures[:20]:
        print(f"failure {failure}", file=sys.stderr)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def report_trace(run, metrics: dict, work_root: str, args: argparse.Namespace) -> None:
    """Print where the traced operation's time went, and keep the spans."""
    op_s = [x for x in run.series["op_traced"] if math.isfinite(x)]
    mean_op = sum(op_s) / len(op_s) if op_s else float("nan")
    shares = []
    for layer in ("bench", "ivf", "topk"):
        v = metrics[f"{layer}.self_s_per_op"][0]
        shares.append(f"{layer}={v:.4f}s ({100 * v / mean_op:.0f}%)")
    print(f"trace self time per traced op of {mean_op:.4f}s: " + " ".join(shares))
    print(f"trace overhead {metrics['trace.overhead_s'][0]:+.4f}s per op "
          "(traced minus untraced median, interleaved)")
    for name, (value, unit) in metrics.items():
        print(f"layer {name} {fmt(value)} {unit}")
    traces = os.path.join(work_root, "traces")
    os.makedirs(traces, exist_ok=True)
    run.tracer.dump(
        os.path.join(traces, f"{run.workload}-seed{args.seed}.json"),
        {
            "workload": run.workload,
            "seed": args.seed,
            "master": run.master,
            "nproc": run.nproc,
            "per_layer": {k: v for k, (v, _) in metrics.items()},
            "self_times": run.tracer.self_times(),
            "job_counts": getattr(run, "job_counts", {}),
        },
    )


if __name__ == "__main__":
    sys.exit(main())
