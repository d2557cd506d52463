"""IVFPQIndex — the composed IVF + residual-PQ index, persisted.

The production 100 TB read path, assembled from the oracle-checked
pieces (`operators/ivf.py`, `operators/pq.py`):

  build:   fit centroids (MLlib on a sample) → assign shards → fit PQ
           codebooks on the CENTROID RESIDUALS → Arrow-GEMM encode →
           write ``partitionBy(shard_id)`` parquet carrying
           (id, vector, codes); centroids, codebooks and the generation
           watermark persist INSIDE the layout as ``_``-prefixed
           sidecars, written and read driver-side with no Spark job —
           the layout ``IVFIndex`` shares, owned by
           ``sources/index_layout.py``.
  search:  probe nprobe cells (directory-level partition pruning — the
           unprobed shards' files are never opened), numpy-gather ADC
           over the probed CODES column only (column pruning: the float
           vectors aren't read), optional exact re-rank of the top-R
           shortlist against the true vectors.
  delete:  immutable parquet segments can't be edited in place, so
           deletes follow the segment-store convention (public
           technique — Lucene liveDocs, Milvus/Delta delete bitmaps):
           deleted ids append to a ``_deletes`` sidecar inside the
           layout and every search anti-joins the (tiny, broadcast)
           delete set; ``rewrite()`` applies them physically.
  update:  delete entries are GENERATION-scoped — rows carry ``_gen``
           (0 at build, incremented per ``append_batch``) and a delete
           entry ``(id, gen)`` hides only rows with ``_gen <= gen`` —
           so an upsert is the classic segment-store two-step
           (scope-delete the old row, append the new one into a fresh
           generation) and ``apply_changes`` can replay a MoR CDC feed
           (``MorStore.changes``) straight into the index.

Why this shape at 100 TB: raw float32 768-d vectors are ~3 KB/row; m=96
codes are 96 B. A search reads nprobe/N of the corpus × 1/32 of the
bytes, then touches ≤ R true vectors. The reference's architecture
(`reference: src/compute_server.py:107-138`) does the first half
(IVF prune) but scans raw JSON floats inside each shard; its report
cites IVF [2] without the PQ half (report p.2).

Accuracy contract: with ``nprobe == num_shards`` and ``rerank >=
corpus``, search degrades to EXACT top-k (tested) — the same §5.3
invariant the IVF index keeps.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ivf import assign_shards, fit_centroids, nearest_shards
from .pq import (
    fit_pq_codebooks,
    ivfpq_residual_batch_topk,
    load_codebooks,
    pq_encode_arrow,
    residual_col,
    save_codebooks,
)
from ..sources import index_layout
from ..sources.compaction import compact_layout
from .topk import topk

__all__ = ["IVFPQIndex"]


class IVFPQIndex:
    """Persisted IVF + residual-PQ index (see module doc)."""

    def __init__(
        self,
        spark: SparkSession,
        centroids: Sequence[Sequence[float]],
        codebooks: Sequence[Sequence[Sequence[float]]],
        *,
        path: str | None = None,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
    ):
        self.spark = spark
        self.centroids = [list(map(float, c)) for c in centroids]
        self.codebooks = codebooks
        self.path = path
        self.vector_col = vector_col
        self.id_col = id_col
        self._df: DataFrame | None = None

    # ---- build ------------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        num_shards: int,
        *,
        m: int = 8,
        k: int = 16,
        path: str | None = None,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
        sample_fraction: float = 0.1,
        sample_n: int = 4096,
        iters: int = 10,
        seed: int = 42,
    ) -> "IVFPQIndex":
        """Fit centroids + residual codebooks and index ``df`` in one shot.

        Both fits are sample-based (the index-build pattern of
        `reference: src/cluster.py:28-33`); the corpus-wide work is one
        narrow assign+encode projection and one ``partitionBy`` write —
        no extra shuffles beyond the layout write itself.
        """
        spark = df.sparkSession
        cents = fit_centroids(
            df,
            num_shards,
            vector_col=vector_col,
            sample_fraction=sample_fraction,
            seed=seed,
        )
        assigned = assign_shards(df, cents, vector_col=vector_col)
        books = fit_pq_codebooks(
            assigned.select(
                id_col,
                residual_col(vector_col, "shard_id", cents).alias(vector_col),
            ),
            vector_col=vector_col,
            m=m,
            k=k,
            sample_n=sample_n,
            iters=iters,
            seed=seed,
            id_col=id_col,
        )
        idx = cls(
            spark, cents, books, path=path, vector_col=vector_col, id_col=id_col
        )
        idx.write(df)
        return idx

    def _encode(self, df: DataFrame) -> DataFrame:
        """(id, vector, shard_id, codes): assign + residual-encode — one
        Arrow pass, partition layout preserved."""
        assigned = assign_shards(df, self.centroids, vector_col=self.vector_col)
        with_res = assigned.withColumn(
            "_res", residual_col(self.vector_col, "shard_id", self.centroids)
        )
        enc = pq_encode_arrow(
            with_res,
            self.codebooks,
            vector_col="_res",
            id_col=self.id_col,
            keep_cols=(self.vector_col, "shard_id"),
        )
        return enc.drop("_res")

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        """Encode and persist partitioned by shard_id (or cache when
        path-less); centroids + codebooks ride inside the layout. Rows
        are stamped generation 0; ``append_batch`` adds later
        generations."""
        enc = self._encode(df).withColumn("_gen", F.lit(0).cast("long"))
        if self.path is None:
            self._df = enc.repartition("shard_id").cache()
            self._df.count()
            return
        index_layout.write_shards(enc, self.path, mode)
        self._write_gen(0)
        index_layout.write_centroids(self.spark, self.path, self.centroids)
        save_codebooks(self.spark, self.codebooks, self.path)
        self._df = None

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        vector_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> "IVFPQIndex":
        """Open a persisted index: layout + centroids + codebooks. The
        sidecars are read driver-side, so a load starts no Spark job."""
        cents = index_layout.read_centroids(spark, path)
        books = load_codebooks(spark, path)
        return cls(
            spark, cents, books, path=path, vector_col=vector_col, id_col=id_col
        )

    # ---- read -------------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        if self._df is not None:
            return self._df
        if self.path is None:
            raise ValueError("index has no data: call write() or build()")
        return self.spark.read.parquet(self.path)

    def num_shards(self) -> int:
        return len(self.centroids)

    # ---- generations + deletes (segment-store delete bitmap) --------------

    def _read_gen(self) -> int:
        return index_layout.read_generation(self.spark, self.path)

    def _write_gen(self, n: int) -> None:
        index_layout.write_generation(self.spark, self.path, n)

    def append_batch(self, df: DataFrame) -> int:
        """Encode and append ``df`` as a NEW generation; returns its
        generation number. Pair with a same-watermark ``delete_ids`` for
        upsert semantics (see ``apply_changes``)."""
        if self.path is None:
            raise ValueError("append_batch requires a path-backed index")
        gen = self._read_gen() + 1
        enc = self._encode(df).withColumn("_gen", F.lit(gen).cast("long"))
        index_layout.write_shards(enc, self.path, "append")
        self._write_gen(gen)
        return gen

    def delete_ids(self, ids, *, before_gen: int | None = None) -> None:
        """Mark ids deleted for every row with ``_gen <= before_gen``
        (default: the current watermark — i.e. everything so far).
        O(|ids|) sidecar write, no segment touched; searches exclude
        matching rows immediately, ``rewrite()`` erases physically."""
        if self.path is None:
            raise ValueError("delete_ids requires a path-backed index")
        gen = self._read_gen() if before_gen is None else int(before_gen)
        if isinstance(ids, DataFrame):
            keys = ids.select(self.id_col).distinct()
        else:
            keys = self.spark.createDataFrame(
                [(v,) for v in ids], [self.id_col]
            ).distinct()
        keys.withColumn("_dgen", F.lit(gen).cast("long")).write.mode(
            "append"
        ).json(f"{self.path}/_deletes")

    def deleted_ids(self) -> DataFrame | None:
        """(id, _dgen) delete entries, or None when empty/absent."""
        if self.path is None:
            return None
        try:
            df = self.spark.read.schema(
                f"{self.id_col} long, _dgen long"
            ).json(f"{self.path}/_deletes")
            return df if df.limit(1).count() > 0 else None
        except Exception:
            return None

    def _live(self, df: DataFrame) -> DataFrame:
        dels = self.deleted_ids()
        if dels is None:
            return df
        dmax = dels.groupBy(self.id_col).agg(F.max("_dgen").alias("_dmax"))
        gen_col = (
            F.col("_gen") if "_gen" in df.columns else F.lit(0).cast("long")
        )
        return (
            df.withColumn("_rowgen", gen_col)
            .join(F.broadcast(dmax), self.id_col, "left")
            .filter(F.col("_dmax").isNull() | (F.col("_rowgen") > F.col("_dmax")))
            .drop("_dmax", "_rowgen")
        )

    def apply_changes(self, changes: DataFrame) -> dict:
        """Replay a CDC batch (``MorStore.changes`` shape: row columns +
        ``change_type``) into the index: every changed id is
        scope-deleted at the CURRENT watermark, then upserted rows append
        as a new generation — so the new version survives its own
        tombstone and searches see exactly the post-change corpus.
        Returns {deleted, upserted, generation}."""
        ch = changes.cache()
        try:
            up = ch.filter(F.col("change_type") == "upsert").select(
                self.id_col, self.vector_col
            )
            keys = ch.select(self.id_col).distinct()
            self.delete_ids(keys)  # scoped at the pre-append watermark
            n_up = up.count()
            gen = self.append_batch(up) if n_up else self._read_gen()
            return {
                "deleted": keys.count(),
                "upserted": n_up,
                "generation": gen,
            }
        finally:
            ch.unpersist()

    def compact(self, *, target_file_bytes: int = 128 * 1024 * 1024) -> dict:
        """Coalesce the small files streaming ingest accumulates — codes,
        generations and sidecars all preserved (no re-encode; pure
        file-level rewrite via ``sources.compaction.compact_layout``).
        Use ``rewrite()`` instead when deletes should be applied
        physically."""
        if self.path is None:
            raise ValueError("compact requires a path-backed index")
        return compact_layout(
            self.spark, self.path, target_file_bytes=target_file_bytes
        )

    def rewrite(self) -> int:
        """Apply the delete sidecar physically: rewrite the layout without
        deleted rows (staging dir + swap) and clear the sidecar. Returns
        the number of ids applied. The maintenance-window companion of
        ``delete_ids`` — after it, the bytes are gone (erasure)."""
        if self.path is None:
            raise ValueError("rewrite requires a path-backed index")
        dels = self.deleted_ids()
        if dels is None:
            return 0
        n = dels.count()
        live = self._live(
            self.spark.read.parquet(self.path).drop("shard_id")
        ).drop("_gen")
        staging = f"{self.path}__rewriting"
        saved, self.path = self.path, staging
        try:
            self.write(live.select(self.id_col, self.vector_col))
        finally:
            self.path = saved
        index_layout.replace_dir(self.spark, staging, self.path)
        return n

    def search(
        self,
        query_vector: Sequence[float],
        k: int = 5,
        *,
        nprobe: int = 2,
        rerank: int | None = None,
        where=None,
    ) -> DataFrame:
        """ADC top-k over the probed cells' codes; with ``rerank=R`` the
        top-R ADC shortlist is re-scored EXACTLY (cosine) against the true
        vectors — the two-stage retrieval that recovers most quantization
        loss for the cost of R float rows. ``where`` (a Column predicate)
        makes it a FILTERED ANN search: the predicate is applied before
        ADC scoring (pushed into the scan), so top-k is over matching
        rows only — pre-filtering, not post-filter truncation.

        Returns (id, adc_dist) — or (id, score) after re-rank — in
        deterministic order. Only the probed partitions' files are opened
        (PartitionFilters), and the no-rerank path reads only the codes
        column.
        """
        probed = nearest_shards(query_vector, self.centroids, nprobe=nprobe)
        pruned = self._live(self.df.filter(F.col("shard_id").isin(probed)))
        if where is not None:
            # filtered ANN: the predicate lands BEFORE the ADC scan, so it
            # pushes into the parquet read alongside the partition filter
            pruned = pruned.filter(where)
        shortlist_k = max(k, rerank or 0)
        adc = ivfpq_residual_batch_topk(
            pruned,
            self.centroids,
            self.codebooks,
            [(0, query_vector)],
            shortlist_k,
            nprobe=self.num_shards(),  # pruning already applied to the scan
            codes_col="codes",
            id_col=self.id_col,
            shard_col="shard_id",
        ).select(self.id_col, "adc_dist")
        if rerank is None:
            return adc.orderBy(F.asc("adc_dist"), F.asc(self.id_col)).limit(k)
        short_ids = adc.select(self.id_col)
        cand = pruned.join(F.broadcast(short_ids), self.id_col)
        return topk(
            cand,
            query_vector,
            k,
            vector_col=self.vector_col,
            id_col=self.id_col,
            metric="cosine",
        )

    def search_batch(
        self,
        queries: Sequence[tuple[int, Sequence[float]]],
        k: int = 5,
        *,
        nprobe: int = 2,
    ) -> DataFrame:
        """Batched ADC search: ONE job for all queries — per-query probe
        masks inside the gather kernel, scan pruned to the UNION of probed
        cells. Returns (query_id, id, adc_dist, rank)."""
        union_probe: set[int] = set()
        for _, vec in queries:
            union_probe.update(
                nearest_shards(vec, self.centroids, nprobe=nprobe)
            )
        pruned = self._live(
            self.df.filter(F.col("shard_id").isin(sorted(union_probe)))
        )
        return ivfpq_residual_batch_topk(
            pruned,
            self.centroids,
            self.codebooks,
            queries,
            k,
            nprobe=nprobe,
            codes_col="codes",
            id_col=self.id_col,
            shard_col="shard_id",
        )
