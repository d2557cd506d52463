"""IVFPQIndex: the composed, persisted IVF + residual-PQ index."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_vector_database_spark.operators.ivfpq import IVFPQIndex
from distributed_vector_database_spark.operators.topk import topk
from distributed_vector_database_spark.plans.inspect import (
    assert_partition_pruned,
    read_schema_columns,
)


@pytest.fixture(scope="module")
def idx(spark, embeddings, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    return IVFPQIndex.build(
        embeddings, 8, m=8, k=16, path=path, sample_fraction=0.5
    )


def _qv(embeddings, vid):
    return [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == vid)
        .select("embedding")
        .head()[0]
    ]


def test_full_probe_full_rerank_is_exact(spark, embeddings, idx):
    """§5.3 invariant, composed: nprobe=all + rerank=corpus == exact."""
    qv = _qv(embeddings, 42)
    n = embeddings.count()
    got = [
        (r["vec_id"], r["score"])
        for r in idx.search(
            qv, 10, nprobe=idx.num_shards(), rerank=n
        ).collect()
    ]
    exp = [
        (r["vec_id"], r["score"])
        for r in topk(embeddings, qv, 10, metric="cosine").collect()
    ]
    assert got == exp


def test_load_roundtrip_same_results(spark, embeddings, idx):
    from tests.conftest import spark_jobs_started

    qv = _qv(embeddings, 3)
    a = [(r["vec_id"], r["adc_dist"]) for r in idx.search(qv, 10).collect()]
    for root in (idx.path, "file:" + idx.path):
        loaded, n_jobs = spark_jobs_started(
            spark, lambda: IVFPQIndex.load(spark, root)
        )
        assert n_jobs == 0  # sidecars are read driver-side
        assert loaded.centroids == idx.centroids
        assert loaded.codebooks == idx.codebooks
        b = [(r["vec_id"], r["adc_dist"]) for r in loaded.search(qv, 10).collect()]
        assert a == b and len(a) == 10


def test_load_reads_sidecars_written_by_spark_json(spark, idx, tmp_path):
    """Indexes whose sidecars were written with ``coalesce(1).write.json``
    (``_SUCCESS`` and ``.crc`` files beside the part file) still load,
    with bit-identical centroids, codebooks and recall curve."""
    from distributed_vector_database_spark.operators.ivf import IVFIndex

    root = str(tmp_path / "spark_json_sidecars")
    curve = [
        {"nprobe": 1, "mean_recall": 0.1 + 0.2, "n_queries": 3, "k": 5},
        {"nprobe": 8, "mean_recall": 1.0, "n_queries": 3, "k": 5},
    ]
    sidecars = {
        "_centroids": (
            [(i, c) for i, c in enumerate(idx.centroids)],
            "shard_id int, centroid array<double>",
        ),
        "_pq_codebooks": (
            [
                (j, c, word)
                for j, book in enumerate(idx.codebooks)
                for c, word in enumerate(book)
            ],
            "subspace int, code int, codeword array<double>",
        ),
        "_recall_curve": (
            [tuple(p.values()) for p in curve],
            "nprobe int, mean_recall double, n_queries int, k int",
        ),
    }
    for name, (rows, schema) in sidecars.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.json(
            f"{root}/{name}"
        )
    assert (tmp_path / "spark_json_sidecars" / "_centroids" / "_SUCCESS").exists()

    pq = IVFPQIndex.load(spark, root)
    assert pq.centroids == idx.centroids
    assert pq.codebooks == idx.codebooks
    ivf = IVFIndex.load(spark, root)
    assert ivf.centroids == idx.centroids
    assert ivf.recall_curve == curve


def test_search_batch_consistent_with_single(spark, embeddings, idx):
    qs = [(7, _qv(embeddings, 7)), (9, _qv(embeddings, 9))]
    batch = idx.search_batch(qs, 10, nprobe=2).collect()
    for qid, qv in qs:
        single = [
            r["vec_id"]
            for r in idx.search(qv, 10, nprobe=2).collect()
        ]
        got = [
            r["vec_id"]
            for r in sorted(
                (r for r in batch if r["query_id"] == qid),
                key=lambda r: r["rank"],
            )
        ]
        assert got == single


def test_probe_prunes_partitions_and_rerank_improves(
    spark, embeddings, idx
):
    qv = _qv(embeddings, 11)
    pruned = idx.df.filter(
        F.col("shard_id").isin(
            __import__(
                "distributed_vector_database_spark.operators.ivf",
                fromlist=["nearest_shards"],
            ).nearest_shards(qv, idx.centroids, nprobe=2)
        )
    )
    assert_partition_pruned(pruned, "shard_id")
    # ADC-only search must not need the float vector column
    adc = idx.search(qv, 10, nprobe=2)
    cols = {c for scan in read_schema_columns(adc) for c in scan}
    assert "codes" in cols
    # recall with exact re-rank >= ADC-only recall (both vs exact truth)
    truth = {
        r["vec_id"] for r in topk(embeddings, qv, 10, metric="cosine").collect()
    }
    adc_ids = {r["vec_id"] for r in idx.search(qv, 10, nprobe=8).collect()}
    rr_ids = {
        r["vec_id"]
        for r in idx.search(qv, 10, nprobe=8, rerank=50).collect()
    }
    assert len(rr_ids & truth) >= len(adc_ids & truth)


def test_codes_smaller_than_vectors(spark, embeddings, idx):
    """The compression argument: m int8-range codes vs dim doubles. The
    layout stores codes as array<int> for portability; the information
    content is m log2(k) bits = 8*4 = 4 bytes/row vs 512 bytes of float64."""
    row = idx.df.select("codes").head()
    assert len(row["codes"]) == 8
    assert all(0 <= c < 16 for c in row["codes"])


def test_filtered_search_prefilters_not_truncates(spark, embeddings, idx):
    """where= must restrict the CANDIDATE set (pre-filter): top-k over
    even ids only == brute-force ADC over even ids only; k results even
    when the unfiltered top-k would be dominated by odd ids."""
    qv = _qv(embeddings, 5)
    got = idx.search(
        qv, 10, nprobe=idx.num_shards(),
        where=F.col("vec_id") % 2 == 0,
    ).collect()
    assert len(got) == 10
    assert all(r["vec_id"] % 2 == 0 for r in got)
    unfiltered = idx.search(qv, 10, nprobe=idx.num_shards()).collect()
    # subset relation: every filtered hit scores no better than the
    # unfiltered winner at the same rank
    assert got[0]["adc_dist"] >= unfiltered[0]["adc_dist"]


def test_delete_ids_hides_rows_and_rewrite_erases(
    spark, embeddings, tmp_path
):
    """Segment-store deletes: marked ids vanish from searches at once;
    rewrite() removes them physically and clears the sidecar; results
    equal an index built WITHOUT the deleted rows."""
    path = str(tmp_path / "del_idx")
    idx = IVFPQIndex.build(
        embeddings, 8, m=8, k=16, path=path, sample_fraction=0.5
    )
    qv = _qv(embeddings, 3)
    before = [r["vec_id"] for r in idx.search(qv, 10, nprobe=8).collect()]
    victims = before[:3]
    idx.delete_ids(victims)
    after = [r["vec_id"] for r in idx.search(qv, 10, nprobe=8).collect()]
    assert not (set(victims) & set(after)) and len(after) == 10
    # batch search excludes them too
    batch = idx.search_batch([(0, qv)], 10, nprobe=8).collect()
    assert not (set(victims) & {r["vec_id"] for r in batch})
    # physical rewrite erases the rows and clears the sidecar
    n = idx.rewrite()
    assert n == 3
    assert idx.deleted_ids() is None
    raw_ids = {r["vec_id"] for r in idx.df.select("vec_id").collect()}
    assert not (set(victims) & raw_ids)
    post = [r["vec_id"] for r in idx.search(qv, 10, nprobe=8).collect()]
    assert post == after


def test_apply_changes_replays_mor_cdc_into_index(
    spark, embeddings, tmp_path
):
    """End-to-end derived-index maintenance: a MoR store takes upserts +
    deletes; its CDC feed replayed into the index makes every search
    equal one from an index built fresh on the store's merged view."""
    from distributed_vector_database_spark.sources.mor import MorStore

    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    store = MorStore(spark, str(tmp_path / "mor"), id_col="vec_id")
    store.write_base(emb)

    idx = IVFPQIndex.build(
        emb, 8, m=8, k=16, path=str(tmp_path / "idx"), sample_fraction=0.5
    )

    # upsert: scale 20 vectors; delete: 10 others
    upd = emb.filter(F.col("vec_id") < 20).select(
        "vec_id",
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    b1 = store.append(upd)
    store.delete([r["vec_id"] for r in
                  emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 50))
                  .select("vec_id").collect()])
    info = idx.apply_changes(store.changes(0))
    assert info["upserted"] == 20 and info["deleted"] == 30
    assert b1 >= 1

    fresh = IVFPQIndex(
        spark, idx.centroids, idx.codebooks, path=str(tmp_path / "fresh")
    )
    fresh.write(store.read())

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 5)
          .head()["embedding"]]
    a = [(r["vec_id"], r["adc_dist"])
         for r in idx.search(qv, 10, nprobe=8).collect()]
    b = [(r["vec_id"], r["adc_dist"])
         for r in fresh.search(qv, 10, nprobe=8).collect()]
    assert a == b and len(a) == 10
    # deleted ids absent, updated vectors present under their new codes
    assert not any(40 <= v < 50 for v, _ in a)


def test_compact_shrinks_streamed_files_and_preserves_search(
    spark, embeddings, tmp_path
):
    import glob

    emb = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    idx = IVFPQIndex.build(
        emb.filter(F.col("vec_id") < 50), 4, m=8, k=16,
        path=str(tmp_path / "cidx"), sample_fraction=1.0,
    )
    for lo in range(50, 250, 50):  # 4 small append generations
        idx.append_batch(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 50))
        )
    files_before = len(
        glob.glob(f"{idx.path}/shard_id=*/*.parquet")
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 7)
          .head()["embedding"]]
    before = [(r["vec_id"], r["adc_dist"])
              for r in idx.search(qv, 10, nprobe=4).collect()]
    info = idx.compact()
    files_after = len(glob.glob(f"{idx.path}/shard_id=*/*.parquet"))
    assert files_after < files_before and info["files_after"] < info["files_before"]
    after = [(r["vec_id"], r["adc_dist"])
             for r in idx.search(qv, 10, nprobe=4).collect()]
    assert after == before
    # generations survive compaction -> scoped deletes still correct
    idx.delete_ids([before[0][0]])
    post = [r["vec_id"] for r in idx.search(qv, 10, nprobe=4).collect()]
    assert before[0][0] not in post
