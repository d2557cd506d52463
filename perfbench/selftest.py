"""Self-tests of the benchmark: smoke runs, oracle rejection, seed determinism.

    python3 perfbench/selftest.py

Runs each workload at the tiny size for about a second, checks that the
oracle rejects a swapped id, a dropped row, a wrong vector from ``get`` and a
row in the wrong shard, and that one seed gives one query stream and one
recall. Exit code 0 when every check passed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402
from perfbench.inputs import TINY, Inputs  # noqa: E402
from perfbench.workloads import WORKLOADS, Run  # noqa: E402

failures: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}")
    if not cond:
        failures.append(what)


def new_run(workload: str, seed: int, trace: bool) -> Run:
    workdir = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    return Run(workload, seed, 1.0, trace, TINY, workdir)


def finish(run: Run) -> None:
    run.stop()
    shutil.rmtree(run.workdir, ignore_errors=True)


def smoke(workload: str, trace: bool) -> None:
    """A short run of one workload: no failed operation, every metric named
    in BENCHMARK.json reported."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    run = new_run(workload, 11, trace)
    try:
        run.start()
        run.build()
        run.loop()
    finally:
        run.stop()
    try:
        reported = {"end_to_end": run.end_to_end()}
        if trace:
            reported["per_layer"] = run.per_layer()
    finally:
        shutil.rmtree(run.workdir, ignore_errors=True)
    expect(not run.failures and run.attempted > 0,
           f"smoke {workload}: {run.attempted} ops, failures {run.failures[:3]}")
    for kind, metrics in reported.items():
        wanted = sorted(m["name"] for m in bench[kind])
        expect(sorted(metrics) == wanted, f"smoke {workload}: reports every {kind} metric")


def oracle_rejects_corruption() -> None:
    """Take real answers from the engine, then corrupt them."""
    run = new_run("point_search", 5, False)
    try:
        run.start()
        run.build()
        s, col = run.sizes, run.collections[1]
        layout = col.layout
        qv = col.inputs.query(1)
        rows = col.index.search(qv.tolist(), k=s.k, nprobe=s.nprobe).collect()
        probed = oracle.probe_shards(qv, col.centroids, s.nprobe)
        mask = np.isin(layout.shards, probed)
        cand_ids, cand_scores = layout.ids[mask], layout.cosine(qv)[mask]
        got = [(int(r["vec_id"]), float(r["score"])) for r in rows]
        expect(oracle.check_topk(got, cand_ids, cand_scores, s.k) is None,
               "oracle accepts the engine's answer")

        outsider = next(int(i) for i in cand_ids if int(i) not in {g for g, _ in got})
        swapped = [(outsider, got[0][1])] + got[1:]
        expect(oracle.check_topk(swapped, cand_ids, cand_scores, s.k) is not None,
               "oracle rejects a swapped id")
        reordered = [got[1], got[0]] + got[2:]
        expect(oracle.check_topk(reordered, cand_ids, cand_scores, s.k) is not None,
               "oracle rejects two rows out of order")
        expect(oracle.check_topk(got[:-1], cand_ids, cand_scores, s.k) is not None,
               "oracle rejects a dropped row")

        vid = int(layout.ids[0])
        hit = run.open_store(col).get(vid).collect()
        expect(oracle.check_get(hit, vid, layout.vectors[0]) is None,
               "oracle accepts the vector get returns")
        expect(oracle.check_get(hit, vid, layout.vectors[1]) is not None,
               "oracle rejects a wrong vector from get")
        expect(oracle.check_get([], vid, layout.vectors[0]) is not None,
               "oracle rejects a get that finds nothing")

        moved = layout.shards.copy()
        moved[0] = (moved[0] + 1) % s.shards
        layout.shards, kept = moved, layout.shards
        expect(oracle.check_layout(layout, col.ids, col.vectors, col.centroids) is not None,
               "oracle rejects a row in the wrong shard")
        layout.shards = kept
        expect(oracle.check_layout(layout, col.ids[1:], col.vectors[1:], col.centroids) is not None,
               "oracle rejects a per-shard total that differs from the rows written")

        # the run counts a wrong answer as a failed operation and drops its latency
        # (point 1 goes to collection 1 of the two)
        search = col.index.search
        col.index.search = lambda q, k, nprobe: search(q, k=k, nprobe=nprobe).limit(k - 1)
        before = (run.attempted, len(run.failures))
        latency = run.point(1, traced=False, measured=True)
        expect(latency is None and (run.attempted, len(run.failures)) == (before[0] + 1, before[1] + 1),
               "a run counts a dropped row as one failed operation")
    finally:
        finish(run)


def same_seed_same_answers() -> None:
    """Two runs of one seed: identical query stream and identical recall."""
    a, b, c = Inputs(3, TINY), Inputs(3, TINY), Inputs(4, TINY)
    expect(all(np.array_equal(a.query(i), b.query(i)) for i in range(5))
           and np.array_equal(a.query_batch(1), b.query_batch(1))
           and np.array_equal(a.ingest_batch(2)[1], b.ingest_batch(2)[1])
           and np.array_equal(a.corpus, b.corpus),
           "one seed gives one corpus, query stream and ingest stream")
    expect(not np.array_equal(a.query(1), c.query(1)),
           "another seed gives another query stream")
    recalls, answers = [], []
    for _ in range(2):
        run = new_run("point_search", 3, False)
        try:
            run.start()
            run.build()
            for i in range(1, 6):
                run.point(i, traced=False, measured=True)
            recalls.append(list(run.stats["recall"]))
            col = run.collections[0]
            answers.append([
                [tuple(r) for r in col.index.search(col.inputs.query(i).tolist(), k=10, nprobe=4).collect()]
                for i in range(1, 6)
            ])
        finally:
            finish(run)
    expect(recalls[0] == recalls[1], f"one seed gives one recall: {recalls[0]}")
    expect(answers[0] == answers[1], "one seed gives the same search answers")


def main() -> int:
    oracle_rejects_corruption()
    same_seed_same_answers()
    for workload in WORKLOADS:
        smoke(workload, trace=workload != "point_search")
    print(f"{len(failures)} failed" if failures else "all self-tests passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
