"""The workloads, their shared set-up, and the metrics they report.

Every run indexes ``collections`` independent seeded corpora (one IVF index
each), checks them, then runs a closed loop with one client (the next
operation starts when the previous one returned) until ``seconds`` have
passed, rotating over the collections. Rotating averages the run over
several KMeans layouts: how many rows a query scans depends on how KMeans
happened to group the clusters, and one layout per run would make that the
largest source of run-to-run spread.

The engine is driven only through its public API: ``get_session``,
``fit_centroids``, ``IVFIndex.write/load/search/search_batch``,
``nearest_shards`` and ``VectorStore.get``.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import tempfile
import time
from collections import defaultdict

import numpy as np

from perfbench import oracle, tracing
from perfbench.inputs import Inputs, Sizes, write_vectors

# point_search and batch_search are the gated workloads (BENCHMARK.json);
# ingest_mixed runs the same way but is not gated, see README.md.
WORKLOADS = ("point_search", "batch_search", "ingest_mixed")

# The operation each workload repeats; op_p50_s and the per-op Spark figures
# are about this operation.
OP_KIND = {
    "point_search": "search",
    "batch_search": "search_batch",
    "ingest_mixed": "cycle",  # append, then gets of new ids, then one search
}

# A failed operation misses every latency limit: it enters the latency
# series as +inf, and a percentile that lands on it is reported as this.
FAILED_LATENCY_S = 1.0e9

perf = time.perf_counter


# Spark task slots. Two, not one per CPU: the driver JVM, the Python driver
# and the Python workers of search_batch need the other CPUs. On a 4-CPU host
# a busy neighbour slowed a 256-query batch 1.9-fold with local[4] and
# 1.2-1.4-fold with local[2] (perfbench/README.md, Spark settings).
TASK_SLOTS = 2

# Driver JVM settings that make a run's timing repeatable: a fixed 1 GB heap
# (the collections hold about 6 MB of vectors; a heap that grows on demand
# makes GC timing differ from run to run) and GC and JIT thread pools sized to
# the task slots instead of the host.
DRIVER_MEMORY = "1g"
DRIVER_JAVA_OPTIONS = (
    "-Xms1g -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2"
)

# Untimed operations before the measured loop, so the JIT has compiled the
# operation's hot paths (a single search takes about twice as long on its
# first call as on its fourth).
WARMUP_S = 2.0

# items_per_s is the median of the rates of this many consecutive groups of
# measured operations, so one stalled stretch of a run does not set it.
RATE_GROUPS = 5


def master_and_nproc() -> tuple[str, int]:
    """A fixed local master no wider than the CPUs this process may use."""
    nproc = len(os.sched_getaffinity(0))
    return f"local[{min(TASK_SLOTS, nproc)}]", nproc


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median_rate(latencies: list[float], items: list[int]) -> float:
    """Items per second of operation time: the median over ``RATE_GROUPS``
    consecutive groups of operations of (items done ÷ summed latency). A
    failed operation (latency +inf) does no items and adds no time."""
    done = [(n, x) for n, x in zip(items, latencies) if math.isfinite(x)]
    groups = np.array_split(np.arange(len(done)), min(RATE_GROUPS, len(done)) or 1)
    rates = [
        sum(done[j][0] for j in g) / max(sum(done[j][1] for j in g), 1e-9)
        for g in groups
    ]
    return median(rates)


def tail(xs: list[float]) -> tuple[float, float] | None:
    """(q, value) at the highest percentile with at least ten samples beyond
    it, or None when fewer than twenty samples leave nothing above the median."""
    n = len(xs)
    if n < 20:
        return None
    q = min(0.99, math.floor(100 * (n - 10) / n) / 100)
    return q, percentile(xs, q)


class Collection:
    """One seeded corpus, its index, and the layout as last read back."""

    def __init__(self, inputs: Inputs, path: str):
        self.inputs = inputs
        self.path = path
        self.index = None
        self.centroids: np.ndarray | None = None
        self.layout: oracle.Layout | None = None
        # every row written so far, in write order: what the layout must hold
        self.ids = inputs.corpus_ids
        self.vectors = inputs.corpus


class Run:
    """One benchmark run: a Spark session, its collections, what was measured."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 sizes: Sizes, workdir: str):
        self.workload = workload
        self.seconds = seconds
        self.trace = trace
        self.sizes = sizes
        self.workdir = workdir
        self.collections = [
            Collection(Inputs(seed, sizes, c), os.path.join(workdir, f"index{c}"))
            for c in range(sizes.collections)
        ]
        self.master, self.nproc = master_and_nproc()
        self.tracer = tracing.Tracer()
        self.series: dict[str, list[float]] = defaultdict(list)
        self.stats: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.jvm_pid: int | None = None
        self.rss_mb = float("nan")
        self.rows_written = 0
        self.write_s = 0.0

    # ---- bookkeeping ------------------------------------------------------

    def outcome(self, kind: str, error: str | None) -> bool:
        self.attempted += 1
        if error is not None:
            self.failures.append(f"{kind}: {error}")
        return error is None

    def attempt(self, kind: str, fn):
        """Run ``fn``; an exception is recorded as a failed operation."""
        try:
            return fn()
        except Exception as exc:  # the loop must go on; the failure is counted
            self.outcome(kind, f"{type(exc).__name__}: {exc}")
            return None

    def latency(self, name: str, seconds: float | None) -> None:
        self.series[name].append(math.inf if seconds is None else seconds)

    # ---- set-up -----------------------------------------------------------

    def start(self) -> None:
        from pyspark import SparkContext

        from distributed_vector_database_spark.session import get_session

        # Spark's block manager, pyspark's temp files, the JVM (snappy
        # extracts its native library there) and py4j's connection file all
        # default to /tmp; keep them inside the run's directory instead.
        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {DRIVER_JAVA_OPTIONS}",
        }
        if self.trace:
            self.event_dir = os.path.join(self.workdir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(tracing.event_log_conf(self.event_dir))
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        t0 = perf()
        with self.tracer.span("session.get_session", op_id=-1):
            self.spark = get_session(
                app_name="perfbench", master=self.master, extra_conf=conf
            )
        self.session_s = perf() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.trace:
            self.tracer.sc = self.spark.sparkContext

    def build(self) -> None:
        """Index every collection, then check each layout and a few lookups.

        ``setup_s`` is the session start plus the median build time (corpus
        read, fit_centroids, write, load) over the collections."""
        builds = [self.build_one(c, col) for c, col in enumerate(self.collections)]
        self.setup_s = self.session_s + median(builds)
        for c, col in enumerate(self.collections):
            self.check_layout(col, "write")
            sizes = col.layout.shard_sizes(self.sizes.shards)
            self.stats["shard_size_max_over_mean"].append(sizes.max() / sizes.mean())
            ids = col.inputs.lookup_ids(0, col.ids, self.sizes.verify_gets)
            self.lookups(col, ids, self.open_store(col), "get_setup")

    def build_one(self, c: int, col: Collection) -> float:
        from distributed_vector_database_spark.operators.ivf import (
            IVFIndex,
            fit_centroids,
        )

        corpus_path = os.path.join(self.workdir, f"corpus{c}.parquet")
        write_vectors(corpus_path, col.ids, col.vectors)
        with self.tracer.op(-2 - c, "setup"):
            t0 = perf()
            df = self.spark.read.parquet(corpus_path)
            with self.tracer.span("ivf.fit_centroids"):
                centroids = fit_centroids(df, self.sizes.shards)
            t1 = perf()
            idx = IVFIndex(self.spark, centroids, path=col.path)
            with self.tracer.span("ivf.write"):
                idx.write(df)
            t2 = perf()
            with self.tracer.span("ivf.load"):
                col.index = IVFIndex.load(self.spark, col.path)
            t3 = perf()
        self.stats["fit_s"].append(t1 - t0)
        self.stats["write_s"].append(t2 - t1)
        self.stats["load_s"].append(t3 - t2)
        self.rows_written += len(col.ids)
        self.write_s += t2 - t1
        col.centroids = np.asarray(col.index.centroids, dtype=np.float64)
        return t3 - t0

    def check_layout(self, col: Collection, kind: str) -> None:
        """Read the layout back and check it holds exactly the rows written."""
        col.layout = oracle.Layout(col.path)
        self.outcome(
            kind, oracle.check_layout(col.layout, col.ids, col.vectors, col.centroids)
        )

    def open_store(self, col: Collection):
        from distributed_vector_database_spark.sources.vector_store import (
            VectorStore,
        )

        with self.tracer.span("vector_store.read"):
            return VectorStore.read(self.spark, col.path)

    # ---- operations -------------------------------------------------------

    def lookups(self, col: Collection, ids: np.ndarray, store, series: str) -> None:
        """``VectorStore.get(id).collect()`` for each id, checked."""
        pos = {int(i): j for j, i in enumerate(col.ids)}
        for vid in ids:
            t0 = perf()
            with self.tracer.span("vector_store.get"):
                rows = self.attempt("get", lambda: store.get(int(vid)).collect())
            elapsed = perf() - t0
            ok = rows is not None and self.outcome(
                "get", oracle.check_get(rows, int(vid), col.vectors[pos[int(vid)]])
            )
            self.latency(series, elapsed if ok else None)

    def route(self, col: Collection, q: list[float], op_id: int) -> tuple[list[int], str | None]:
        """Time the engine's driver-side routing and check it against numpy."""
        from distributed_vector_database_spark.operators.ivf import nearest_shards

        t0 = perf()
        with self.tracer.span("ivf.nearest_shards", op_id=op_id):
            probed = nearest_shards(q, col.index.centroids, self.sizes.nprobe)
        self.stats["nearest_shards_s"].append(perf() - t0)
        want = oracle.probe_shards(np.asarray(q), col.centroids, self.sizes.nprobe)
        return probed, None if probed == want else f"routed to {probed}, numpy {want}"

    def search_call(self, col: Collection, q: list[float]):
        """``IVFIndex.search(...).collect()``: (rows or None, build s, collect s)."""
        s = self.sizes
        t0 = perf()
        with self.tracer.span("ivf.search"):
            frame = self.attempt(
                "search", lambda: col.index.search(q, k=s.k, nprobe=s.nprobe)
            )
        t1 = perf()
        rows = None
        if frame is not None:
            with self.tracer.span("topk.collect"):
                rows = self.attempt("search", frame.collect)
        return rows, t1 - t0, perf() - t1

    def search_check(self, col: Collection, i: int, qv: np.ndarray, rows,
                     build_s: float, collect_s: float, measured: bool) -> bool:
        """Check one search answer against the oracle; record its layer split."""
        s, layout = self.sizes, col.layout
        probed, err = self.route(col, qv.tolist(), i)
        mask = np.isin(layout.shards, probed)
        scores = layout.cosine(qv)
        got = [(int(r["vec_id"]), float(r["score"])) for r in rows]
        err = err or oracle.check_topk(got, layout.ids[mask], scores[mask], s.k)
        if measured:
            self.stats["search_build_s"].append(build_s)
            self.stats["collect_s"].append(collect_s)
            self.stats["shards_probed"].append(len(probed))
            self.stats["rows_scanned_per_result"].append(mask.sum() / s.k)
            self.stats["recall"].append(
                oracle.recall_at_k([g for g, _ in got], scores, layout.ids, s.k)
            )
        return self.outcome("search", err)

    def point(self, i: int, traced: bool, measured: bool) -> float | None:
        """One single-query search; its latency, or None if it failed."""
        col = self.collections[i % len(self.collections)]
        qv = col.inputs.query(i)
        q = qv.tolist()
        t0 = perf()
        with self.tracer.op(i, "search", traced):
            rows, build_s, collect_s = self.search_call(col, q)
        elapsed = perf() - t0
        if rows is None:
            return None
        ok = self.search_check(col, i, qv, rows, build_s, collect_s, measured)
        return elapsed if ok else None

    def batch(self, i: int, traced: bool, measured: bool) -> float | None:
        """One ``search_batch`` call over ``batch_queries`` queries."""
        s = self.sizes
        col = self.collections[i % len(self.collections)]
        layout = col.layout
        Q = col.inputs.query_batch(i)
        qlist = Q.tolist()
        qdf = self.spark.createDataFrame(
            list(enumerate(qlist)), "query_id long, query_vector array<double>"
        )
        t0 = perf()
        with self.tracer.op(i, "search_batch", traced):
            with self.tracer.span("ivf.search_batch"):
                frame = self.attempt(
                    "search_batch",
                    lambda: col.index.search_batch(qdf, k=s.k, nprobe=s.nprobe),
                )
            t1 = perf()
            rows = None
            if frame is not None:
                with self.tracer.span("topk.batch_collect"):
                    rows = self.attempt("search_batch", frame.collect)
            t2 = perf()
        elapsed = perf() - t0
        if rows is None:
            return None
        by_query = defaultdict(list)
        for r in rows:
            by_query[int(r["query_id"])].append(
                (int(r["rank"]), int(r["vec_id"]), float(r["score"]))
            )
        errors, recalls, union = [], [], set()
        all_scores = layout.cosine_many(Q)  # rows x queries
        for j, q in enumerate(qlist):
            probed, err = self.route(col, q, i)
            union.update(probed)
            mask = np.isin(layout.shards, probed)
            scores = all_scores[:, j]
            got = [(vid, sc) for _, vid, sc in sorted(by_query.get(j, []))]
            err = err or oracle.check_topk(got, layout.ids[mask], scores[mask], s.k)
            if err:
                errors.append(f"query {j}: {err}")
            recalls.append(
                oracle.recall_at_k([g for g, _ in got], scores, layout.ids, s.k)
            )
        if measured:
            self.stats["search_build_s"].append(t1 - t0)
            self.stats["collect_s"].append(t2 - t1)
            self.stats["shards_probed"].append(s.nprobe)
            scanned = np.isin(layout.shards, sorted(union)).sum()
            self.stats["rows_scanned_per_result"].append(scanned / (len(Q) * s.k))
            self.stats["recall"].extend(recalls)
        ok = self.outcome("search_batch", errors[0] if errors else None)
        return elapsed if ok else None

    def cycle(self, c: int, traced: bool, measured: bool) -> float | None:
        """Append a batch of new ids to the first collection, read some of
        them back, run one search there."""
        s = self.sizes
        col = self.collections[0]
        ids, vecs = col.inputs.ingest_batch(c)
        batch_path = os.path.join(self.workdir, f"ingest{c}.parquet")
        write_vectors(batch_path, ids, vecs)
        col.ids = np.concatenate([col.ids, ids])
        col.vectors = np.concatenate([col.vectors, vecs])
        qv = col.inputs.query(c)
        n_failed = len(self.failures)
        t0 = perf()
        with self.tracer.op(c, "cycle", traced):
            with self.tracer.span("ivf.append"):
                self.attempt(
                    "append",
                    lambda: col.index.write(
                        self.spark.read.parquet(batch_path), mode="append"
                    ),
                )
            append_s = perf() - t0
            store = self.open_store(col)
            self.lookups(col, col.inputs.lookup_ids(c + 1, ids, s.gets_per_cycle), store, "get")
            t_search = perf()
            rows, build_s, collect_s = self.search_call(col, qv.tolist())
        elapsed = perf() - t0
        self.rows_written += len(ids)
        self.write_s += append_s
        self.check_layout(col, "append")
        ok = rows is not None and self.search_check(
            col, c, qv, rows, build_s, collect_s, measured
        )
        self.latency("search", elapsed - (t_search - t0) if ok else None)
        if measured:
            self.latency("append", append_s)
            self.stats["append_rows"].append(len(ids))
        return elapsed if len(self.failures) == n_failed else None

    # ---- the loop ---------------------------------------------------------

    def loop(self) -> None:
        """Warm up for ``WARMUP_S``, then repeat the workload's operation
        until the time is up. In a traced run every other operation is
        traced, so the tracing overhead is traced minus untraced latency,
        interleaved."""
        op = {
            "point_search": self.point,
            "batch_search": self.batch,
            "ingest_mixed": self.cycle,
        }[self.workload]
        warm = self.batch if self.workload == "batch_search" else self.point
        t0, w = perf(), 0
        while w == 0 or perf() - t0 < WARMUP_S:
            # warm-up inputs come from indices the measured loop never reaches
            warm(1_000_000 + w, traced=False, measured=False)
            w += 1
        t0 = perf()
        i = 1
        while perf() - t0 < self.seconds:
            traced = self.trace and i % 2 == 1
            lat = op(i, traced=traced, measured=True)
            self.latency("op", lat)
            self.latency("op_traced" if traced else "op_untraced", lat)
            if self.workload == "point_search":
                self.latency("search", lat)
            i += 1

    def stop(self) -> None:
        """Stop Spark and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        if self.jvm_pid is not None:
            self.rss_mb = tracing.peak_rss_mb([os.getpid(), self.jvm_pid])
        if self.trace and self.tracer.ops:
            self.job_counts = self.tracer.job_counts()
            self.app_id = self.spark.sparkContext.applicationId
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # ---- results ----------------------------------------------------------

    def _p50(self, *names: str) -> float:
        v = median([x for n in names for x in self.series[n]])
        return FAILED_LATENCY_S if math.isinf(v) else v

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        s = self.sizes
        if self.workload == "ingest_mixed":
            rate = median_rate(self.series["append"], self.stats["append_rows"])
        else:
            ops = self.series["op"]
            per_op = s.batch_queries if self.workload == "batch_search" else 1
            rate = median_rate(ops, [per_op] * len(ops))
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (self._p50("op"), "s"),
            "items_per_s": (rate, "items/s"),
            "recall_at_10": (float(np.mean(self.stats["recall"])), "ratio"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        st = self.stats
        kind = OP_KIND[self.workload]
        traced_ops = [op for op, k in self.tracer.ops.items() if k == kind]
        n = max(len(traced_ops), 1)
        counts = getattr(self, "job_counts", {})
        task = tracing.event_log_task_metrics(self.event_dir, self.app_id) if traced_ops else {}
        selfs = self.tracer.self_times()

        def per_op(get) -> float:
            return sum(get(op) for op in traced_ops) / n

        layouts = [col.layout for col in self.collections]
        user_bytes = sum(len(lay.ids) for lay in layouts) * self.sizes.dim * 4
        out = {
            "session.get_session_s": (self.session_s, "s"),
            "ivf.fit_centroids_s": (median(st["fit_s"]), "s"),
            "ivf.write_s": (median(st["write_s"]), "s"),
            "ivf.write_rows_per_s": (self.rows_written / self.write_s, "rows/s"),
            "ivf.load_s": (median(st["load_s"]), "s"),
            "ivf.nearest_shards_us": (median(st["nearest_shards_s"]) * 1e6, "us"),
            "ivf.search_build_s": (median(st["search_build_s"]), "s"),
            "topk.collect_s": (median(st["collect_s"]), "s"),
            "ivf.shards_probed_per_query": (float(np.mean(st["shards_probed"])), "count"),
            "ivf.rows_scanned_per_result": (float(np.mean(st["rows_scanned_per_result"])), "ratio"),
            "ivf.shard_size_max_over_mean": (median(st["shard_size_max_over_mean"]), "ratio"),
            "vector_store.get_s": (self._p50("get_setup", "get"), "s"),
            "layout.files": (sum(len(lay.files) for lay in layouts) / len(layouts), "count"),
            "layout.bytes_per_user_byte": (sum(lay.bytes for lay in layouts) / user_bytes, "ratio"),
        }
        for key in ("jobs", "stages", "tasks"):
            out[f"spark.{key}_per_op"] = (
                per_op(lambda op: counts.get(op, {}).get(key, 0)),
                "count",
            )
        for key, unit in (
            ("executor_run_s", "s"),
            ("executor_cpu_s", "s"),
            ("jvm_gc_s", "s"),
            ("input_bytes", "B"),
            ("shuffle_write_bytes", "B"),
        ):
            out[f"spark.{key}_per_op"] = (
                per_op(lambda op: task.get(f"op{op}", {}).get(key, 0.0)),
                unit,
            )
        for layer in ("bench", "ivf", "topk"):
            out[f"{layer}.self_s_per_op"] = (
                per_op(lambda op: selfs.get(op, {}).get(layer, 0.0)),
                "s",
            )
        out["trace.overhead_s"] = (
            median(self.series["op_traced"]) - median(self.series["op_untraced"]),
            "s",
        )
        out["bench.failed_ops_frac"] = (len(self.failures) / self.attempted, "ratio")
        # peak RSS moves by more than a tenth between runs of one seed (JVM
        # heap growth follows GC timing), so it is reported here, ungated
        out["process.peak_rss_mb"] = (self.rss_mb, "MB")
        return out

    def named_metrics(self) -> list[tuple[str, float | None, str, str]]:
        """The workload's metrics under their user-facing names:
        (name, value or None when the sample cannot support it, unit, note)."""
        w, s = self.workload, self.sizes
        e2e = self.end_to_end()
        out = [("setup_s", self.setup_s, "s",
                f"session + median of {s.collections} collection builds")]
        search = self.series["search"]
        if w in ("point_search", "ingest_mixed"):
            out.append(("search_p50_s", self._p50("search"), "s", f"n={len(search)}"))
        if w == "point_search":
            out.append((
                "search_p90_s",
                percentile(search, 0.9) if len(search) >= 100 else None,
                "s",
                f"n={len(search)}; p90 needs 100 samples",
            ))
            t = tail(search)
            if t is not None:
                out.append((f"search_p{round(100 * t[0])}_s", t[1], "s",
                            "highest percentile with 10 samples beyond it"))
        if w in ("point_search", "batch_search"):
            out.append(("search_recall_at_10", e2e["recall_at_10"][0], "ratio",
                        f"n={len(self.stats['recall'])} queries"))
        if w == "batch_search":
            out.append(("batch_qps", e2e["items_per_s"][0], "queries/s", ""))
            out.append(("batch_p50_s", self._p50("op"), "s",
                        f"n={len(self.series['op'])} calls of {s.batch_queries}"))
        if w == "ingest_mixed":
            out.append(("ingest_vps", e2e["items_per_s"][0], "vectors/s", ""))
            out.append(("ingest_batch_p50_s", self._p50("append"), "s",
                        f"n={len(self.series['append'])} appends of {s.ingest_rows}"))
            out.append(("lookup_p50_s", self._p50("get"), "s",
                        f"n={len(self.series['get'])}"))
        out.append(("failed_ops_frac", len(self.failures) / max(self.attempted, 1),
                    "ratio", f"{len(self.failures)} of {self.attempted}"))
        out.append(("peak_rss_mb", self.rss_mb, "MB", "driver Python + JVM"))
        return out
