"""Seeded inputs: a clustered float32 corpus, a query stream and ingest batches.

Everything derives from one integer seed through ``numpy.random.SeedSequence``
children, one per input family, so the same seed gives the same corpus, the
same queries and the same ingest batches whatever order they are drawn in.
The engine only ever sees the generated vectors (as parquet files or plain
lists); the cluster labels stay here.
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclasses.dataclass(frozen=True)
class Sizes:
    corpus: int  # rows in the bulk-loaded corpus
    dim: int  # vector width
    clusters: int  # Gaussian clusters the corpus and queries are drawn from
    shards: int  # KMeans centroids = IVF shards
    k: int
    nprobe: int
    batch_queries: int  # queries per search_batch call
    ingest_rows: int  # vectors per append
    gets_per_cycle: int  # VectorStore.get calls per ingest cycle
    collections: int  # independent corpora indexed per run; queries rotate over them
    verify_gets: int  # VectorStore.get checks per collection after set-up


FULL = Sizes(
    corpus=4_000,
    dim=128,
    clusters=64,
    shards=16,
    k=10,
    nprobe=4,
    batch_queries=256,
    ingest_rows=5_000,
    gets_per_cycle=3,
    collections=3,
    verify_gets=2,
)

# Self-test size: the same code paths, small enough to finish in seconds.
TINY = dataclasses.replace(
    FULL, corpus=1_500, batch_queries=16, ingest_rows=300, collections=2
)

CENTER_SCALE = 1.0  # per-dimension std of cluster centres
NOISE_SCALE = 0.8  # per-dimension std of points around their centre
ZIPF_EXPONENT = 0.8  # cluster weight of rank r is proportional to r ** -0.8


class Inputs:
    """The seeded input family of one collection of one run.

    Each collection of a run draws its own cluster mixture, corpus and query
    stream from ``(seed, collection)``, so a run averages over several
    independent KMeans layouts instead of depending on one."""

    def __init__(self, seed: int, sizes: Sizes, collection: int = 0):
        self.seed = seed
        self.sizes = sizes
        root = np.random.SeedSequence([seed, collection])
        mix, corpus, queries, batches, ingest = root.spawn(5)
        rng = np.random.default_rng(mix)
        self.centers = (
            rng.standard_normal((sizes.clusters, sizes.dim)) * CENTER_SCALE
        ).astype(np.float32)
        # Zipf-like weights, a few heavy clusters and many light ones, so the
        # KMeans shards come out unequal in size. The weights are the same
        # for every seed; the seed only decides which cluster gets which.
        zipf = 1.0 / np.arange(1, sizes.clusters + 1) ** ZIPF_EXPONENT
        self.weights = rng.permutation(zipf / zipf.sum())
        self._queries = queries
        self._batches = batches
        self._ingest = ingest
        self.corpus = self._draw(np.random.default_rng(corpus), sizes.corpus)
        self.corpus_ids = np.arange(sizes.corpus, dtype=np.int64)

    def _draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        labels = rng.choice(len(self.weights), size=n, p=self.weights)
        noise = rng.standard_normal((n, self.sizes.dim)) * NOISE_SCALE
        return (self.centers[labels] + noise).astype(np.float32)

    def _child(self, seq: np.random.SeedSequence, i: int) -> np.random.Generator:
        return np.random.default_rng([*seq.generate_state(2), i])

    def query(self, i: int) -> np.ndarray:
        """The i-th single query (1 x dim), drawn from the corpus mix."""
        return self._draw(self._child(self._queries, i), 1)[0]

    def query_batch(self, i: int) -> np.ndarray:
        """The i-th search_batch input (batch_queries x dim)."""
        return self._draw(self._child(self._batches, i), self.sizes.batch_queries)

    def ingest_batch(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """The i-th append: ids continue after the corpus and never repeat."""
        n = self.sizes.ingest_rows
        first = self.sizes.corpus + i * n
        ids = np.arange(first, first + n, dtype=np.int64)
        return ids, self._draw(self._child(self._ingest, i), n)

    def lookup_ids(self, i: int, ids: np.ndarray, n: int) -> np.ndarray:
        """n distinct ids from ``ids`` for the i-th round of point lookups."""
        rng = self._child(self._ingest, 1_000_000 + i)
        return rng.choice(ids, size=min(n, len(ids)), replace=False)


def write_vectors(path: str, ids: np.ndarray, vectors: np.ndarray) -> None:
    """Write (vec_id long, embedding array<float>) rows as one parquet file."""
    flat = pa.array(vectors.reshape(-1), type=pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, vectors.shape[1], dtype=np.int32)),
        flat,
    )
    pq.write_table(pa.table({"vec_id": pa.array(ids), "embedding": emb}), path)
