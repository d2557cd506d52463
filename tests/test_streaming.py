"""Structured Streaming correctness: the streaming tumbling-window counts
must converge to exactly the batch result over the same events."""

import os

import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.streaming.events import (
    read_event_stream,
    run_stream_to_batch,
    stateful_user_totals,
    tumbling_counts,
)
from distributed_vector_database_spark.queries import _read
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Re-write the smoke events as micro-timestamped parquet files (3 files
    -> 3 micro-batches with maxFilesPerTrigger=1)."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = _read(spark, SF_SMOKE, "events")
    ev.repartition(3).write.mode("overwrite").parquet(d)
    return d


def test_stream_tumbling_equals_batch(spark, events_dir):
    stream = read_event_stream(spark, events_dir)
    assert stream.isStreaming
    agg = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("SELECT * FROM tumbling_test").collect()
        }
    finally:
        q.stop()

    batch = tumbling_counts(_read(spark, SF_SMOKE, "events"), window="1 hour")
    exp = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == exp
    assert len(exp) > 0


def test_stateful_totals_accumulate_across_batches(spark, events_dir):
    """applyInPandasWithState carries per-user state across the 3
    micro-batches; the final emission per user must equal the batch
    groupBy over all events."""
    stream = read_event_stream(spark, events_dir)
    final = run_stream_to_batch(
        stateful_user_totals(stream),
        final_keys=["user_id"],
        latest_by="n_events",
    )
    got = {
        r["user_id"]: (r["n_events"], r["total_cents"]) for r in final.collect()
    }

    ev = _read(spark, SF_SMOKE, "events")
    exp = {
        r["user_id"]: (r["n"], r["cents"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert got == exp
    # state genuinely crossed batches: users appear in >1 of the 3 files,
    # so at least one user's final count must exceed any single batch size
    assert len(got) > 0


def test_stream_ingest_matches_batch_index(spark, tmp_path):
    """Vectors streamed through foreachBatch ingest land in the same
    partitioned layout — and answer searches identically — as a one-shot
    batch build over the same data."""
    from distributed_vector_database_spark.operators.ivf import IVFIndex
    from distributed_vector_database_spark.streaming.ingest import stream_ingest

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]

    src_dir = str(tmp_path / "vec_stream_src")
    emb.repartition(3).write.mode("overwrite").parquet(src_dir)

    stream_path = str(tmp_path / "ivf_streamed")
    idx = IVFIndex(spark, cents, path=stream_path)
    idx.save_centroids()
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_ingest(idx, stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_path = str(tmp_path / "ivf_batch")
    batch_idx = IVFIndex(spark, cents, path=batch_path)
    batch_idx.write(emb)

    assert idx.df.count() == batch_idx.df.count() == emb.count()
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 9).head()["embedding"]]
    a = [tuple(r) for r in IVFIndex.load(spark, stream_path).search(qv, k=5, nprobe=4).collect()]
    b = [tuple(r) for r in batch_idx.search(qv, k=5, nprobe=4).collect()]
    assert a == b and len(a) == 5


def test_compact_after_stream_ingest(spark, tmp_path):
    """Compaction shrinks the streamed layout's file count without changing
    its contents or its saved centroids."""
    import glob

    from distributed_vector_database_spark.operators.ivf import IVFIndex
    from distributed_vector_database_spark.streaming.ingest import stream_ingest

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()
    ]
    src = str(tmp_path / "src")
    emb.repartition(4).write.mode("overwrite").parquet(src)
    path = str(tmp_path / "idx")
    idx = IVFIndex(spark, cents, path=path)
    idx.save_centroids()
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_ingest(idx, stream, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def data_files():
        return glob.glob(f"{path}/shard_id=*/*.parquet")

    before_files = len(data_files())
    before_ids = sorted(r["vec_id"] for r in idx.df.select("vec_id").collect())
    idx.compact()
    after_files = len(data_files())
    reopened = IVFIndex.load(spark, path)
    after_ids = sorted(r["vec_id"] for r in reopened.df.select("vec_id").collect())
    assert after_ids == before_ids
    assert after_files < before_files
    assert reopened.centroids == idx.centroids


def test_stream_ingest_invalidates_persisted_recall_curve(spark, tmp_path):
    """Streamed rows change the corpus a tuned curve was measured on, so
    stream ingest drops the curve exactly as an appending ``write`` does:
    a reloaded index has no curve and refuses autotuned search."""
    from distributed_vector_database_spark.operators.ivf import IVFIndex
    from distributed_vector_database_spark.streaming.ingest import stream_ingest

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    path = str(tmp_path / "tuned_then_streamed")
    idx = IVFIndex(spark, cents, path=path)
    idx.write(emb.filter(F.col("vec_id") % 2 == 0))
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    idx.tune(queries, k=5, nprobes=(1, 4))
    assert IVFIndex.load(spark, path).recall_curve is not None

    src = str(tmp_path / "odd_rows")
    emb.filter(F.col("vec_id") % 2 == 1).write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).parquet(src)
    q = stream_ingest(idx, stream, str(tmp_path / "ckpt_tuned"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert idx.df.count() == emb.count()
    reopened = IVFIndex.load(spark, path)
    assert reopened.recall_curve is None
    with pytest.raises(ValueError, match="measured recall_curve"):
        reopened.search(cents[0], k=5, target_recall=0.9)


def test_stream_stream_join_equals_batch(spark, events_dir):
    """Inner stream-stream interval join (no watermark, exact replay) must
    equal the same join run as one batch job."""
    from distributed_vector_database_spark.streaming.events import (
        join_event_streams,
    )

    def sides(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "view"),
        )

    sc, sv = sides(read_event_stream(spark, events_dir))
    streamed = run_stream_to_batch(
        join_event_streams(sc, sv, within="30 minutes"),
        output_mode="append",
    )
    bc, bv = sides(_read(spark, SF_SMOKE, "events"))
    batch = join_event_streams(bc, bv, within="30 minutes")
    key = lambda r: (r["user_id"], r["left_id"], r["right_id"])
    got = sorted(map(key, streamed.collect()))
    exp = sorted(map(key, batch.collect()))
    assert got == exp and len(got) > 0


def test_stream_stream_join_watermarked_runs(spark, events_dir):
    """Watermarked form (bounded state, live-feed config) starts, runs to
    completion, and emits a subset of the exact pairs."""
    from distributed_vector_database_spark.streaming.events import (
        join_event_streams,
    )

    sc = read_event_stream(spark, events_dir).filter(
        F.col("event_type") == "click"
    )
    sv = read_event_stream(spark, events_dir).filter(
        F.col("event_type") == "view"
    )
    streamed = run_stream_to_batch(
        join_event_streams(sc, sv, within="30 minutes", watermark="10 years"),
        output_mode="append",
    )
    bc = _read(spark, SF_SMOKE, "events").filter(F.col("event_type") == "click")
    bv = _read(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
    exact = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in join_event_streams(bc, bv, within="30 minutes").collect()
    }
    got = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in streamed.collect()
    }
    assert got <= exact


def test_stream_upsert_matches_eager_merge(spark, tmp_path):
    """Micro-batch upserts streamed into a MorStore produce the same merged
    view as eager batch-by-batch upsert_keep_latest; compaction afterwards
    preserves it and clears the deltas."""
    from distributed_vector_database_spark.sources.mor import MorStore
    from distributed_vector_database_spark.sources.vector_store import (
        upsert_keep_latest,
    )
    from distributed_vector_database_spark.streaming.ingest import (
        stream_upsert,
    )

    base_rows = [(i, f"v0_{i}") for i in range(10)]
    batches = [
        [(2, "b0_2"), (11, "b0_11")],
        [(2, "b1_2"), (5, "b1_5")],
        [(11, "b2_11")],
    ]
    base = spark.createDataFrame(base_rows, "id long, payload string")

    src_dir = str(tmp_path / "upsert_src")
    # one file per micro-batch, in order (file mtime ordering drives the
    # maxFilesPerTrigger=1 replay; write sequentially)
    import time as _t

    for i, b in enumerate(batches):
        spark.createDataFrame(b, "id long, payload string").coalesce(
            1
        ).write.mode("append").parquet(src_dir)
        _t.sleep(1.1)  # distinct mtimes -> deterministic file order

    store = MorStore(spark, str(tmp_path / "mor"), id_col="id")
    store.write_base(base)
    stream = (
        spark.readStream.schema("id long, payload string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_upsert(store, stream, str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    eager = base
    for b in batches:
        eager = upsert_keep_latest(
            eager, spark.createDataFrame(b, "id long, payload string")
        )
    want = {r["id"]: r["payload"] for r in eager.collect()}
    got = {r["id"]: r["payload"] for r in store.read().collect()}
    # batch ORDER between overlapping upserts is what matters: ids touched
    # once must match; ids touched twice must reflect the later batch
    assert got.keys() == want.keys()
    assert got[5] == "b1_5" and got[2] == "b1_2" and got[11] == "b2_11"
    assert all(got[i] == f"v0_{i}" for i in range(10) if i not in (2, 5))

    before = dict(got)
    store.compact()
    assert store._delta_dirs() == []
    after = {r["id"]: r["payload"] for r in store.read().collect()}
    assert after == before


def test_stream_ingest_ivfpq_matches_batch_build(spark, tmp_path):
    """Vectors streamed through the residual-PQ encode path answer ADC
    searches identically to a one-shot batch IVFPQIndex over the same
    data (fixed centroids + codebooks)."""
    from distributed_vector_database_spark.operators.ivfpq import IVFPQIndex
    from distributed_vector_database_spark.operators.pq import (
        codebooks_from_rows,
    )
    from distributed_vector_database_spark.operators.pq import residual_col
    from distributed_vector_database_spark.operators.ivf import assign_shards
    from distributed_vector_database_spark.streaming.ingest import (
        stream_ingest_ivfpq,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    res_rows = (
        assign_shards(emb.filter(F.col("vec_id") < 16), cents)
        .select(
            "vec_id",
            residual_col("embedding", "shard_id", cents).alias("r"),
        )
        .orderBy("vec_id")
        .collect()
    )
    books = codebooks_from_rows(
        [[float(x) for x in r["r"]] for r in res_rows], m=8
    )

    src_dir = str(tmp_path / "pq_stream_src")
    emb.repartition(3).write.mode("overwrite").parquet(src_dir)

    stream_path = str(tmp_path / "ivfpq_streamed")
    idx = IVFPQIndex(spark, cents, books, path=stream_path)
    # persist metadata first so load() works on the streamed layout
    idx.write(emb.limit(0))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = stream_ingest_ivfpq(idx, stream, str(tmp_path / "ckpt_pq"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch = IVFPQIndex(
        spark, cents, books, path=str(tmp_path / "ivfpq_batch")
    )
    batch.write(emb)
    assert idx.df.count() == batch.df.count() == emb.count()
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 9).head()["embedding"]
    ]
    a = [
        (r["vec_id"], r["adc_dist"])
        for r in IVFPQIndex.load(spark, stream_path)
        .search(qv, 5, nprobe=2)
        .collect()
    ]
    b = [
        (r["vec_id"], r["adc_dist"])
        for r in batch.search(qv, 5, nprobe=2).collect()
    ]
    assert a == b and len(a) == 5


# ---------------------------------------------------------------------------
# Streaming Markov transition counts (events.stream_event_transitions)
# ---------------------------------------------------------------------------


def _transitions_events(spark):
    from datetime import datetime

    rows = []
    types = ["a", "b", "c"]
    eid = 0
    for u in range(6):
        for i in range(7):
            rows.append(
                (
                    eid,
                    datetime(2026, 1, 1, 0, i, u),
                    u,
                    types[(u + 3 * i) % 3],
                    1.0,
                    "{}",
                )
            )
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


def _write_time_chunks(ev, n_chunks, directory):
    import os
    import time as _time

    from pyspark.sql import functions as F

    ids = sorted(r[0] for r in ev.select("event_id").collect())
    bounds = [
        ids[min(len(ids) - 1, (i + 1) * len(ids) // n_chunks - 1)]
        for i in range(n_chunks)
    ]
    now, written, lo = _time.time(), set(), None
    for i, hi in enumerate(bounds):
        chunk = ev.filter(F.col("event_id") <= hi)
        if lo is not None:
            chunk = chunk.filter(F.col("event_id") > lo)
        chunk.coalesce(1).write.mode("append").parquet(directory)
        newly = {
            f
            for f in os.listdir(directory)
            if f.endswith(".parquet") and f not in written
        }
        for f in newly:
            os.utime(
                os.path.join(directory, f), (now + 10 * i, now + 10 * i)
            )
        written |= newly
        lo = hi


def _batch_transition_counts(ev):
    from distributed_vector_database_spark.operators.analytics import (
        event_transition_matrix,
    )

    return {
        (r["from_type"], r["to_type"]): r["n"]
        for r in event_transition_matrix(ev).collect()
    }


@pytest.mark.parametrize("n_chunks", [1, 3])
def test_stream_transitions_equal_batch(spark, tmp_path, n_chunks):
    """Accumulated counts == the batch operator under any time-ordered
    chunking — the boundary transitions are exactly what a naive
    per-batch window would drop."""
    import os

    from distributed_vector_database_spark.streaming.events import (
        stream_event_transitions,
    )

    ev = _transitions_events(spark)
    # the synthetic stream is event_id == time ordered BY CONSTRUCTION,
    # so an id split is a time split (the wrinkle: ts ties across users
    # stay within one chunk's worth of each other)
    d = str(tmp_path / f"in{n_chunks}")
    os.makedirs(d)
    _write_time_chunks(ev, n_chunks, d)
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in stream_event_transitions(
            read_event_stream(spark, d, max_files_per_trigger=1),
            str(tmp_path / f"st{n_chunks}"),
        ).collect()
    }
    assert got == _batch_transition_counts(ev)
    # every user contributes exactly 6 pairs — with n_chunks > 1 some of
    # them straddle a boundary, so dropping the stitching would lose counts
    assert sum(got.values()) == 6 * (7 - 1)


def test_stream_transitions_redelivered_state_absorbed(spark, tmp_path):
    """A duplicated last-event append (at-least-once) must not change the
    read: the max-per-user merge and the _sbatch < batch filter absorb it."""
    import os

    from distributed_vector_database_spark.streaming.events import (
        read_transition_counts,
        stream_event_transitions,
    )

    ev = _transitions_events(spark)
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_time_chunks(ev, 3, d)
    state = str(tmp_path / "st")
    before = dict(
        (
            (r["from_type"], r["to_type"]),
            r["n"],
        )
        for r in stream_event_transitions(
            read_event_stream(spark, d, max_files_per_trigger=1), state
        ).collect()
    )
    # redeliver one batch's last-event rows verbatim
    raw = spark.read.parquet(os.path.join(state, "last_events"))
    raw.filter("_sbatch = 1").write.mode("append").parquet(
        os.path.join(state, "last_events")
    )
    after = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in read_transition_counts(spark, state).collect()
    }
    assert after == before


def test_read_transition_counts_empty_state(spark, tmp_path):
    from distributed_vector_database_spark.streaming.events import (
        read_transition_counts,
    )

    assert read_transition_counts(spark, str(tmp_path / "nope")).count() == 0


def test_stream_transitions_refuses_state_without_checkpoint(
    spark, tmp_path
):
    """ADVICE r9: restarting against accumulated state with a FRESH
    checkpoint would reset batch ids to 0, ignore all persisted
    last-events and overwrite transitions/batch=0 — the stream must
    refuse that signature at startup instead of corrupting counts."""
    import os
    import shutil

    from distributed_vector_database_spark.streaming.events import (
        stream_event_transitions,
    )

    ev = _transitions_events(spark)
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_time_chunks(ev, 2, d)
    state = str(tmp_path / "st")
    stream_event_transitions(
        read_event_stream(spark, d, max_files_per_trigger=1), state
    ).collect()
    shutil.rmtree(os.path.join(state, "_checkpoint"))
    with pytest.raises(ValueError, match="checkpoint"):
        stream_event_transitions(
            read_event_stream(spark, d, max_files_per_trigger=1), state
        )


def test_stream_transitions_refuses_partial_state_without_checkpoint(
    spark, tmp_path
):
    """ADVICE r10: a partial manual cleanup that removed last_events/ but
    left transitions/ is the SAME corruption signature — a fresh
    checkpoint would restart batch ids at 0 and silently overwrite
    transitions/batch=0. Either accumulated dir must trigger the
    refusal."""
    import os
    import shutil

    from distributed_vector_database_spark.streaming.events import (
        stream_event_transitions,
    )

    ev = _transitions_events(spark)
    d = str(tmp_path / "in")
    os.makedirs(d)
    _write_time_chunks(ev, 2, d)
    state = str(tmp_path / "st")
    stream_event_transitions(
        read_event_stream(spark, d, max_files_per_trigger=1), state
    ).collect()
    shutil.rmtree(os.path.join(state, "_checkpoint"))
    shutil.rmtree(os.path.join(state, "last_events"))
    assert os.path.exists(os.path.join(state, "transitions"))
    with pytest.raises(ValueError, match="checkpoint"):
        stream_event_transitions(
            read_event_stream(spark, d, max_files_per_trigger=1), state
        )
