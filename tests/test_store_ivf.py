"""IVF index lifecycle (MLlib KMeans fit -> partitioned write -> pruned
search) and VectorStore record ops, including physical-plan assertions."""

import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.ivf import (
    IVFIndex,
    fit_centroids,
    nearest_shards,
)
from distributed_vector_database_spark.operators.topk import topk
from distributed_vector_database_spark.sources.vector_store import (
    VectorStore,
    upsert_keep_latest,
)
from distributed_vector_database_spark.plans import (
    assert_partition_pruned,
    assert_filter_pushdown,
)


@pytest.fixture(scope="module")
def index(spark, embeddings, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    cents = fit_centroids(
        embeddings, num_shards=8, sample_fraction=0.5, seed=42
    )
    idx = IVFIndex(spark, cents, path=path)
    idx.write(embeddings)
    return idx


def test_kmeans_fit_shape(embeddings):
    cents = fit_centroids(embeddings, num_shards=4, sample_fraction=0.5)
    assert len(cents) == 4
    assert all(len(c) == 64 for c in cents)


def test_index_layout_and_describe(index, embeddings):
    desc = index.describe().collect()
    assert len(desc) == 8
    assert sum(r["num_vectors"] for r in desc) == embeddings.count()
    # every shard got a real centroid
    assert all(len(r["centroid"]) == 64 for r in desc)


def test_probe_is_partition_pruned(index):
    """The nprobe filter must be DIRECTORY pruning, not a full scan."""
    q = [0.1] * 64
    probe = index.probe(q, nprobe=2)
    assert_partition_pruned(probe, "shard_id")


def test_exact_equals_bruteforce(index, embeddings):
    q_row = embeddings.filter(F.col("vec_id") == 7).head()
    q = list(q_row["embedding"])
    exact = index.exact_search(q, k=5).collect()
    brute = topk(embeddings, q, k=5).collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in brute]


def test_pruned_subset_of_probed(index):
    """nprobe<N results == brute force over exactly the probed shards."""
    q = [0.05 * i for i in range(64)]
    shards = nearest_shards(q, index.centroids, nprobe=2)
    res = index.search(q, k=5, nprobe=2).collect()
    cand = index.df.filter(F.col("shard_id").isin(shards))
    exp = topk(cand, q, k=5).collect()
    assert [tuple(r) for r in res] == [tuple(r) for r in exp]


def test_search_batch(index, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    out = index.search_batch(queries, k=4, nprobe=8).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [
            1,
            2,
            3,
            4,
        ]
        best = min(rows, key=lambda r: r["rank"])
        assert best["vec_id"] == qid  # nprobe=all -> self-match at rank 1
        assert best["score"] == pytest.approx(1.0, abs=1e-6)


def test_search_batch_plan_no_cross_product(index, embeddings):
    """search_batch must route through the Arrow partition kernel: the only
    exchange input is <= num_partitions*k rows per query, never the
    |pruned|×|Q| cross product (VERDICT r1 #4). Plan evidence: a MapInPandas
    reduce and NO cartesian/nested-loop join."""
    from distributed_vector_database_spark.plans.inspect import plan_text

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    out = index.search_batch(queries, k=4, nprobe=2)
    txt = plan_text(out)
    assert "MapInPandas" in txt
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt


def test_search_batch_probed_equals_crossjoin_reference(index, embeddings):
    """Probe-masked Arrow kernel == the naive broadcast-crossJoin + window
    formulation on the same probed (nprobe < N) batch."""
    from distributed_vector_database_spark.operators.topk import batch_topk

    queries = embeddings.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    out = index.search_batch(queries, k=4, nprobe=2).collect()
    probe_map = {
        int(r[0]): nearest_shards(r[1], index.centroids, 2)
        for r in queries.collect()
    }
    union = sorted({s for ss in probe_map.values() for s in ss})
    pruned = index.df.filter(F.col("shard_id").isin(union))
    exp = batch_topk(
        pruned,
        queries,
        4,
        use_arrow=False,
        allowed_shards=probe_map,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, exp))


def test_set_centroids_changes_routing(spark, embeddings):
    idx = IVFIndex(spark, [[0.0] * 64, [1.0] * 64])
    a = idx.assign(embeddings.limit(10)).select("vec_id", "shard_id").collect()
    idx.set_centroids([[1.0] * 64, [0.0] * 64])
    b = idx.assign(embeddings.limit(10)).select("vec_id", "shard_id").collect()
    assert {r["vec_id"]: r["shard_id"] for r in a} == {
        r["vec_id"]: 1 - r["shard_id"] for r in b
    }


# ---- VectorStore record ops ----------------------------------------------


def test_point_lookup_pushdown(embeddings):
    store = VectorStore(embeddings)
    hit = store.get(42)
    assert_filter_pushdown(hit, "vec_id")
    assert hit.count() == 1


def test_upsert_last_write_wins(spark):
    base = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, vector array<double>"
    )
    upd = spark.createDataFrame(
        [(2, [9.0, 9.0]), (3, [5.0, 5.0])], "id long, vector array<double>"
    )
    merged = {
        r["id"]: list(r["vector"])
        for r in upsert_keep_latest(base, upd, id_col="id").collect()
    }
    assert merged == {1: [1.0, 0.0], 2: [9.0, 9.0], 3: [5.0, 5.0]}


def test_list_ids_and_counts(index):
    store = VectorStore(index.df)
    ids = store.list_ids()
    assert set(ids.columns) == {"vec_id", "shard_id"}
    counts = store.count_per_shard().collect()
    assert sum(r["num_vectors"] for r in counts) == ids.count()


def test_duplicate_id_lowest_shard_wins(spark):
    """SURVEY.md §1.3 quirk: same id on two shards -> first (lowest) shard."""
    df = spark.createDataFrame(
        [(1, [1.0], 5), (1, [2.0], 2)],
        "vec_id long, embedding array<double>, shard_id int",
    )
    row = VectorStore(df).get(1).head()
    assert row["shard_id"] == 2


def test_index_save_load_roundtrip(spark, embeddings, tmp_path):
    """A persisted index reopens with identical centroids and identical
    search results (the reference loses centroids on router restart)."""
    from distributed_vector_database_spark.operators.ivf import IVFIndex

    cents = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    path = str(tmp_path / "ivf_store")
    idx = IVFIndex(spark, cents, path=path)
    idx.write(embeddings)

    reopened = IVFIndex.load(spark, path)
    assert reopened.centroids == idx.centroids
    q = [float(x) for x in embeddings.filter(F.col("vec_id") == 7).head()["embedding"]]
    a = [(r["vec_id"], r["score"]) for r in idx.search(q, k=5, nprobe=4).collect()]
    b = [(r["vec_id"], r["score"]) for r in reopened.search(q, k=5, nprobe=4).collect()]
    assert a == b and len(a) == 5

    # sidecars are written driver-side: saving them starts no Spark job
    from distributed_vector_database_spark.operators.pq import (
        codebooks_from_rows,
        load_codebooks,
        save_codebooks,
    )
    from tests.conftest import spark_jobs_started

    books = codebooks_from_rows(cents, m=4)
    _, cent_jobs = spark_jobs_started(spark, idx.save_centroids)
    _, book_jobs = spark_jobs_started(
        spark, lambda: save_codebooks(spark, books, path)
    )
    assert (cent_jobs, book_jobs) == (0, 0)
    assert load_codebooks(spark, path) == books


def test_tune_persists_curve_and_loaded_index_autotunes_without_jobs(
    spark, embeddings, tmp_path, monkeypatch
):
    """VERDICT r10 item 5: `tune()` measures the recall curve ONCE and
    persists it with the layout; `load()` restores it; autotuned search
    on the reloaded index picks the same nprobe and returns the same
    rows as the in-memory autotuned search — with ZERO curve jobs on the
    loaded path (the reference's shards_to_search knob as a durable,
    evidence-backed index property, reference: src/compute_server.py:60-63)."""
    import os

    from distributed_vector_database_spark.operators import eval as eval_mod
    from distributed_vector_database_spark.operators.ivf import (
        IVFIndex,
        pick_nprobe,
    )

    path = str(tmp_path / "tuned_ivf")
    cents = fit_centroids(
        embeddings, num_shards=8, sample_fraction=0.5, seed=42
    )
    idx = IVFIndex(spark, cents, path=path)
    idx.write(embeddings)

    queries = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    curve = idx.tune(queries, k=5, nprobes=(1, 2, 4, 8))
    assert [p["nprobe"] for p in curve] == [1, 2, 4, 8]
    assert curve[-1]["mean_recall"] == 1.0  # nprobe=all is exact
    assert all(p["k"] == 5 and p["n_queries"] == 8 for p in curve)
    assert os.path.isdir(os.path.join(path, "_recall_curve"))

    q = [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    mem = [
        (r["vec_id"], r["score"])
        for r in idx.search(q, k=5, target_recall=0.9).collect()
    ]

    reopened = IVFIndex.load(spark, path)
    assert reopened.recall_curve == curve
    # the loaded path must never re-measure: any curve job is a bug
    monkeypatch.setattr(
        eval_mod,
        "ivf_recall_curve_df",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("loaded autotuned search re-measured the curve")
        ),
    )
    loaded = [
        (r["vec_id"], r["score"])
        for r in reopened.search(q, k=5, target_recall=0.9).collect()
    ]
    assert loaded == mem and len(loaded) == 5
    assert pick_nprobe(curve, 0.9) == pick_nprobe(
        reopened.recall_curve, 0.9
    )


def test_set_centroids_invalidates_persisted_curve(
    spark, embeddings, tmp_path
):
    """The tuning artifact is evidence about ONE routing table: replacing
    the centroids drops the in-memory curve, the next save_centroids
    removes the persisted one, and a reloaded index refuses autotuned
    search instead of serving from stale evidence."""
    import os

    from distributed_vector_database_spark.operators.ivf import IVFIndex

    path = str(tmp_path / "retuned_ivf")
    cents = fit_centroids(
        embeddings, num_shards=4, sample_fraction=0.5, seed=42
    )
    idx = IVFIndex(spark, cents, path=path)
    idx.write(embeddings)
    queries = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    idx.tune(queries, k=5, nprobes=(1, 4))
    assert os.path.isdir(os.path.join(path, "_recall_curve"))

    new_cents = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .collect()
    ]
    idx.set_centroids(new_cents)
    assert idx.recall_curve is None
    idx.write(embeddings)  # re-shard under the new routing table
    assert not os.path.isdir(os.path.join(path, "_recall_curve"))

    reopened = IVFIndex.load(spark, path)
    assert reopened.recall_curve is None
    q = new_cents[0]
    with pytest.raises(ValueError, match="measured recall_curve"):
        reopened.search(q, k=5, target_recall=0.9)


def test_write_invalidates_curve_but_compact_preserves_it(
    spark, embeddings, tmp_path
):
    """ADVICE r11: the curve is evidence about (centroids, corpus), so
    re-indexing ANY corpus through write() — overwrite or append, even
    with unchanged centroids — drops the in-memory curve and removes the
    persisted one; a cold load then refuses autotuned search instead of
    tuning nprobe against data the index no longer holds. Compaction is
    the one rewrite that must NOT invalidate: it rewrites the identical
    rows, so the curve survives it on the instance and on disk."""
    import os

    from distributed_vector_database_spark.operators.ivf import IVFIndex

    path = str(tmp_path / "rewritten_ivf")
    cents = fit_centroids(
        embeddings, num_shards=4, sample_fraction=0.5, seed=42
    )
    idx = IVFIndex(spark, cents, path=path)
    idx.write(embeddings)
    queries = embeddings.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    curve = idx.tune(queries, k=5, nprobes=(1, 4))
    assert os.path.isdir(os.path.join(path, "_recall_curve"))

    # content-identical rewrite: curve survives compact, in memory + disk
    idx.compact()
    assert idx.recall_curve == curve
    assert IVFIndex.load(spark, path).recall_curve == curve

    # corpus-changing rewrite: same centroids, different data -> the
    # curve is stale evidence and must go, everywhere
    half = embeddings.filter(F.col("vec_id") % 2 == 0)
    idx.write(half)
    assert idx.recall_curve is None
    assert not os.path.isdir(os.path.join(path, "_recall_curve"))
    reopened = IVFIndex.load(spark, path)
    assert reopened.recall_curve is None
    q = [float(x) for x in embeddings.head()["embedding"]]
    with pytest.raises(ValueError, match="measured recall_curve"):
        reopened.search(q, k=5, target_recall=0.9)

    # attach() rebinds the corpus too — same invalidation
    idx2 = IVFIndex.load(spark, path)
    idx2.recall_curve = [{"nprobe": 1, "mean_recall": 1.0}]
    idx2.attach(embeddings)
    assert idx2.recall_curve is None


def test_file_uri_index_root_loads_and_invalidates_curve(
    spark, embeddings, tmp_path
):
    """ADVICE r12: `write`/`save_centroids` persist via Spark to any
    Hadoop FS, but `load` read the sidecars with os.listdir/open and
    `save_centroids` invalidated the curve with shutil.rmtree — on a
    non-plain-local root (file:, hdfs://, s3a://) load failed with a
    misleading "no centroids found" and the curve removal was a silent
    no-op. Exercised here with a `file:` URI (the Hadoop LocalFileSystem
    path that os.path cannot parse)."""
    cents = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .collect()
    ]
    path = "file:" + str(tmp_path / "ivf_uri_store")
    idx = IVFIndex(spark, cents, path=path)
    idx.write(embeddings)

    reopened = IVFIndex.load(spark, path)  # Hadoop-FS sidecar fallback
    assert reopened.centroids == idx.centroids
    q = [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == 7).head()["embedding"]
    ]
    a = [(r["vec_id"], r["score"]) for r in idx.search(q, k=5, nprobe=4).collect()]
    b = [
        (r["vec_id"], r["score"])
        for r in reopened.search(q, k=5, nprobe=4).collect()
    ]
    assert a == b and len(a) == 5

    # curve persisted on the file: root, restored by load
    queries = embeddings.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    curve = idx.tune(queries, k=5, nprobes=(1, 4))
    assert IVFIndex.load(spark, path).recall_curve == curve

    # corpus rewrite must remove the persisted curve on the file: root
    # too (the rmtree no-op bug): a cold load may not resurrect it
    idx.write(embeddings.filter(F.col("vec_id") % 2 == 0))
    assert idx.recall_curve is None
    assert IVFIndex.load(spark, path).recall_curve is None


def test_index_layout_owns_the_on_disk_layout():
    """The IVF layout (FileSystem handle, sidecar I/O, shard-partitioned
    write) is decided in ``sources/index_layout.py`` only; the modules
    that persist or compact an index go through it."""
    from pathlib import Path

    import distributed_vector_database_spark as pkg

    root = Path(pkg.__file__).parent
    modules = [
        "operators/ivf.py",
        "operators/ivfpq.py",
        "operators/pq.py",
        "streaming/ingest.py",
        "sources/compaction.py",
        "sources/vector_store.py",
    ]
    banned = ("hadoop.fs.Path(", "getFileSystem(", '.partitionBy("shard_id")')
    found = [
        (m, b)
        for m in modules
        for b in banned
        if b in (root / m).read_text()
    ]
    assert found == []
