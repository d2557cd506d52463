"""Independent numpy oracle for every answer the benchmark checks.

Nothing here calls the engine: shard ids come from the written layout read
back with pyarrow, routing and cosine scores are recomputed in float64
numpy. Each check returns ``None`` when the answer is right, else a short
reason that the run records as a failed operation.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

# Scores are compared at 6 decimals (the engine rounds them there); one step
# of slack absorbs a half-ulp rounding split between the two summation orders.
SCORE_TOL = 1.0e-6 + 1.0e-9


class Layout:
    """The index layout as written: ids, vectors and shard ids, id-sorted."""

    def __init__(self, path: str):
        part = ds.partitioning(pa.schema([("shard_id", pa.int32())]), flavor="hive")
        table = ds.dataset(path, format="parquet", partitioning=part).to_table(
            columns=["vec_id", "embedding", "shard_id"]
        )
        ids = table.column("vec_id").to_numpy()
        emb = table.column("embedding").combine_chunks()
        dim = len(emb[0]) if len(emb) else 0
        vecs = emb.flatten().to_numpy().astype(np.float32).reshape(-1, dim)
        order = np.argsort(ids, kind="stable")
        self.ids = ids[order]
        self.vectors = vecs[order]
        self.shards = table.column("shard_id").to_numpy()[order]
        self.files = sorted(glob.glob(os.path.join(path, "shard_id=*", "*.parquet")))
        self.bytes = sum(os.path.getsize(f) for f in self.files)
        norms = np.linalg.norm(self.vectors.astype(np.float64), axis=1)
        self._unit = self.vectors.astype(np.float64) / np.where(norms == 0, 1, norms)[:, None]
        self._zero = norms == 0

    def shard_sizes(self, num_shards: int) -> np.ndarray:
        return np.bincount(self.shards, minlength=num_shards)

    def cosine(self, query: np.ndarray) -> np.ndarray:
        """float64 cosine of every row against ``query`` (0 for zero norms)."""
        return self.cosine_many(np.asarray(query)[None, :])[:, 0]

    def cosine_many(self, queries: np.ndarray) -> np.ndarray:
        """rows x queries float64 cosine matrix (0 where either norm is 0)."""
        q = np.asarray(queries, dtype=np.float64)
        qn = np.linalg.norm(q, axis=1)
        scores = self._unit @ (q / np.where(qn == 0, 1, qn)[:, None]).T
        scores[self._zero, :] = 0.0
        scores[:, qn == 0] = 0.0
        return scores


def probe_shards(query: np.ndarray, centroids: np.ndarray, nprobe: int) -> list[int]:
    """The nprobe nearest centroids by Euclidean distance, ties to lower id."""
    d = ((centroids - np.asarray(query, dtype=np.float64)) ** 2).sum(axis=1)
    return [int(s) for s in np.argsort(d, kind="stable")[:nprobe]]


def check_layout(
    layout: Layout,
    ids: np.ndarray,
    vectors: np.ndarray,
    centroids: np.ndarray,
) -> str | None:
    """The layout holds exactly the rows written, each in its nearest shard."""
    if len(layout.ids) != len(ids):
        return f"layout holds {len(layout.ids)} rows, {len(ids)} written"
    order = np.argsort(ids, kind="stable")
    if not np.array_equal(layout.ids, ids[order]):
        return "layout ids differ from the ids written"
    if not np.array_equal(layout.vectors, vectors[order]):
        return "layout vectors differ from the vectors written"
    v = layout.vectors.astype(np.float64)
    d = (
        (v * v).sum(1)[:, None]
        - 2.0 * v @ centroids.T
        + (centroids * centroids).sum(1)[None, :]
    )
    nearest = np.argmin(d, axis=1)
    if not np.array_equal(nearest, layout.shards):
        bad = int((nearest != layout.shards).sum())
        return f"{bad} rows sit in a shard that is not their nearest centroid"
    return None


def check_topk(
    got: list[tuple[int, float]],
    cand_ids: np.ndarray,
    cand_scores: np.ndarray,
    k: int,
) -> str | None:
    """``got`` is a correct top-k by (score DESC, id ASC) over the candidates.

    Every returned id must be a candidate with the returned score, the order
    must hold on the rounded scores, and no candidate left out may score
    above the k-th returned score. A tie at the k-th score passes either way.
    """
    want = min(k, len(cand_ids))
    if len(got) != want:
        return f"returned {len(got)} rows, expected {want}"
    pos = {int(i): j for j, i in enumerate(cand_ids)}
    ids = [int(i) for i, _ in got]
    if len(set(ids)) != len(ids):
        return "duplicate ids in the answer"
    for i, s in got:
        j = pos.get(int(i))
        if j is None:
            return f"id {i} is not in the probed shards"
        if abs(float(s) - cand_scores[j]) > SCORE_TOL:
            return f"id {i} scored {s}, oracle {cand_scores[j]:.6f}"
    for (i0, s0), (i1, s1) in zip(got, got[1:]):
        if round(s0, 6) < round(s1, 6) or (
            round(s0, 6) == round(s1, 6) and i0 > i1
        ):
            return f"order broken between ids {i0} and {i1}"
    if want:
        kth = round(float(got[-1][1]), 6)
        left_out = np.ones(len(cand_ids), dtype=bool)
        left_out[[pos[i] for i in ids]] = False
        if left_out.any() and cand_scores[left_out].max() > kth + SCORE_TOL:
            return "a better-scoring candidate was left out"
    return None


def recall_at_k(got_ids: list[int], scores: np.ndarray, ids: np.ndarray, k: int) -> float:
    """|returned ∩ exact top-k over every row| / k."""
    # lexsort only the rows that can reach the top k (ties kept whole)
    near = np.round(scores, 6) >= np.round(np.partition(scores, -k)[-k], 6)
    r = np.round(scores[near], 6)
    exact = ids[near][np.lexsort((ids[near], -r))[:k]]
    return len(set(int(i) for i in got_ids) & set(int(i) for i in exact)) / k


def check_get(rows: list, want_id: int, want_vector: np.ndarray) -> str | None:
    """A point lookup returned exactly the row that was written."""
    if len(rows) != 1:
        return f"get({want_id}) returned {len(rows)} rows"
    row = rows[0]
    if int(row["vec_id"]) != want_id:
        return f"get({want_id}) returned id {row['vec_id']}"
    if not np.array_equal(np.asarray(row["embedding"], dtype=np.float32), want_vector):
        return f"get({want_id}) returned a different vector"
    return None
