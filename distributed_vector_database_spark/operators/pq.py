"""Product quantization (PQ) — compressed-domain vector search.

Beyond-reference surface (BASELINE.json north star). The reference stores
every vector as raw float64 JSON text and scores candidates one HTTP GET at
a time (`reference: src/storage_server.py:43-46`,
`reference: src/compute_server.py:118-127`); its report cites IVF (report
p.2) but not the PQ half of the classic IVF-PQ pairing (Jégou et al., "
Product Quantization for Nearest Neighbor Search", TPAMI 2011). At 100 TB
PQ is what makes an ANN index *resident*: a 768-d float32 vector is 3 KB,
its m=96 / k=256 PQ code is 96 bytes — a 32× compression that turns a
100 TB corpus into a ~3 TB scannable code table.

Spark-first design:

  - **Codebooks are tiny, data is huge** → codebooks travel as plan
    literals (same broadcast-literal pattern as IVF centroids,
    operators/ivf.py); encoding is a narrow projection — no shuffle.
  - **Encode** has two physical paths with identical semantics:
    ``pq_encode`` (pure Catalyst higher-order functions — whole-stage
    codegen, best ≤ ~128-d) and ``pq_encode_arrow`` (mapInPandas GEMM:
    ``||x-c||² = ||x||² - 2x·c + ||c||²`` per subspace — best at high
    dims / large k where an m·k expression tree gets unwieldy).
  - **Search (ADC)**: the query is NOT encoded; per subspace a k-entry
    lookup table of query-to-codeword distances is computed once on the
    driver and injected as a literal, so scoring a candidate is m array
    lookups + a sum — O(m) per row instead of O(dim), JVM-side, no UDF.
  - **Tie-breaks** are deterministic everywhere (first minimal codeword
    index; ``(score, id)`` result order) so a SQL oracle can reproduce
    encode and search bit-for-bit.

Compose with IVF for the full IVF-PQ plan: route/prune by centroid
(`operators/ivf.py`), then ADC-scan only the probed shards' codes.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources import index_layout

__all__ = [
    "fit_pq_codebooks",
    "pq_encode",
    "pq_encode_arrow",
    "pq_decode",
    "pq_adc_lut",
    "pq_adc_score",
    "pq_adc_topk",
    "pq_adc_batch_topk",
    "codebooks_from_rows",
    "save_codebooks",
    "load_codebooks",
    "residual_col",
    "ivfpq_residual_luts",
    "pq_adc_score_by_shard",
    "ivfpq_residual_topk",
    "fit_opq_rotation",
    "rotate_col",
    "householder_rotation",
    "ivfpq_residual_batch_topk",
]

Codebooks = Sequence[Sequence[Sequence[float]]]  # [m][k][dim/m]


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _check(codebooks: Codebooks) -> tuple[int, int, int]:
    """Return (m, k, sub_dim); validate rectangular shape."""
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must have at least one subspace")
    k = len(codebooks[0])
    sub = len(codebooks[0][0])
    for book in codebooks:
        if len(book) != k or any(len(c) != sub for c in book):
            raise ValueError("codebooks must be rectangular [m][k][sub_dim]")
    return m, k, sub


def codebooks_from_rows(
    vectors: Sequence[Sequence[float]], m: int
) -> list[list[list[float]]]:
    """Deterministic codebooks from explicit vectors (k = len(vectors)):
    codeword c of subspace j is the j-th slice of ``vectors[c]``.

    The PQ analogue of the reference's ``POST /set_centroids`` override
    (`reference: src/compute_server.py:67-71`) — lets tests and the DuckDB
    oracle derive the exact same codebooks from table rows.
    """
    dim = len(vectors[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    return [
        [[float(x) for x in v[j * sub : (j + 1) * sub]] for v in vectors]
        for j in range(m)
    ]


def fit_pq_codebooks(
    df: DataFrame,
    *,
    vector_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_n: int = 4096,
    iters: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means on a deterministic hash-ordered sample.

    Index-build step (runs once, driver-side numpy on ≤ ``sample_n`` rows —
    the same sample-then-fit shape as the reference's KMeans,
    `reference: src/test.py:41-42`, `reference: src/cluster.py:28-33`).
    Deterministic: sample = first ``sample_n`` rows by ``xxhash64(id, seed)``,
    init = k evenly spaced sample rows; empty clusters re-seeded from the
    worst-fit point.
    """
    import numpy as np

    rows = (
        df.select(_c(vector_col).cast("array<double>").alias("v"), id_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if n < k:
        raise ValueError(f"sample of {n} rows < k={k}")
    sub = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        C = S[np.linspace(0, n - 1, k).astype(int)].copy()
        for _ in range(iters):
            # GEMM distance: argmin_c ||s||^2 - 2 s.c + ||c||^2
            d2 = (
                (S * S).sum(1)[:, None]
                - 2.0 * (S @ C.T)
                + (C * C).sum(1)[None, :]
            )
            assign = d2.argmin(1)
            for c in range(k):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(0)
                else:  # re-seed dead codeword from the worst-fit point
                    C[c] = S[d2.min(1).argmax()]
        books.append([[float(x) for x in row] for row in C])
    return books


def _book_lit(book: Sequence[Sequence[float]]) -> Column:
    return F.array(
        *[
            F.array(*[F.lit(float(x)) for x in code]).cast("array<double>")
            for code in book
        ]
    )


def _sq_dist(a: Column, b: Column) -> Column:
    """Sequential left-to-right sum of squared differences (float64) —
    accumulation order mirrored exactly by the DuckDB oracle's
    ``list_reduce`` so argmin tie behavior matches across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    vector_col: str | Column, codebooks: Codebooks
) -> Column:
    """``array<int>`` of m codes: per subspace, the index (0-based) of the
    nearest codeword by squared L2; ties → lowest index.

    Pure Catalyst (slice + transform + aggregate) — no Python, no shuffle;
    suitable while m·k stays modest (≤ ~2048 inner expressions).
    """
    m, k, sub = _check(codebooks)
    v = _c(vector_col).cast("array<double>")

    def _dist_to(s):
        # single-arg lambda: PySpark reads lambda arity, and a 2-arg
        # (c, s=s) form would be mis-bound as (element, index)
        return lambda c: _sq_dist(s, c)

    codes = []
    for j in range(m):
        s = F.slice(v, j * sub + 1, sub)
        dists = F.transform(_book_lit(codebooks[j]), _dist_to(s))
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_encode_arrow(
    df: DataFrame,
    codebooks: Codebooks,
    *,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    codes_col: str = "codes",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Arrow-batched GEMM encode: same semantics as :func:`pq_encode`
    (squared-L2 argmin, lowest index on ties), vectorized per batch.

    The scale path for high dims / large k: one ``(batch × k)`` matmul per
    subspace instead of an m·k-term expression tree. Narrow map — partition
    layout is preserved; codebooks ship once per task via closure.
    ``keep_cols`` pass through untouched (e.g. ``shard_id`` when encoding
    an IVF-assigned frame).
    """
    import numpy as np
    import pandas as pd

    m, k, sub = _check(codebooks)
    C = [np.asarray(book, dtype=np.float64) for book in codebooks]
    cn2 = [(c * c).sum(1) for c in C]
    cols = [id_col, vector_col, *keep_cols]
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*cols).schema.fields
    )
    schema = f"{out_fields}, {codes_col} array<int>"
    id_c, vec_c = id_col, vector_col

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_c]]
            )
            if len(X) == 0:
                yield pdf.assign(**{codes_col: []})
                continue
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * sub : (j + 1) * sub]
                d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ C[j].T) + cn2[j][None, :]
                codes[:, j] = d2.argmin(1)  # numpy argmin: first min index
            out = {id_c: pdf[id_c], vec_c: pdf[vec_c]}
            for c in keep_cols:
                out[c] = pdf[c]
            out[codes_col] = list(codes)
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(encode, schema)


def pq_decode(codes_col: str | Column, codebooks: Codebooks) -> Column:
    """Reconstruct an ``array<double>`` by concatenating each subspace's
    codeword — the lossy inverse of :func:`pq_encode`."""
    _check(codebooks)
    cb = F.array(*[_book_lit(book) for book in codebooks])
    return F.flatten(
        F.zip_with(
            _c(codes_col),
            cb,
            lambda c, book: F.element_at(book, c.cast("int") + 1),
        )
    )


def pq_adc_lut(
    query_vector: Sequence[float], codebooks: Codebooks
) -> list[list[float]]:
    """Asymmetric-distance lookup table: ``lut[j][c] = ||q_j - cb[j][c]||²``
    (float64, sequential accumulation — oracle-reproducible)."""
    m, k, sub = _check(codebooks)
    q = [float(x) for x in query_vector]
    if len(q) != m * sub:
        raise ValueError(f"query dim {len(q)} != {m * sub}")
    lut = []
    for j in range(m):
        qj = q[j * sub : (j + 1) * sub]
        row = []
        for code in codebooks[j]:
            acc = 0.0
            for x, y in zip(qj, code):
                acc += (x - y) * (x - y)
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_score(codes_col: str | Column, lut: Sequence[Sequence[float]]) -> Column:
    """Approximate squared L2 distance from the codes alone: m table
    lookups + a sum. O(m) per row, JVM-side, no vector column needed."""
    lut_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row]).cast("array<double>")
            for row in lut
        ]
    )
    return F.aggregate(
        F.zip_with(
            _c(codes_col),
            lut_lit,
            lambda c, row: F.element_at(row, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: Codebooks,
    query_vector: Sequence[float],
    k: int = 5,
    *,
    codes_col: str = "codes",
    id_col: str = "vec_id",
    method: str = "expr",
) -> DataFrame:
    """Compressed-domain top-k: ADC distance over PQ codes, ascending,
    deterministic ``(adc_dist, id)`` order. Reads only the code column —
    at 100 TB raw this scans ~3 TB and never touches floats.

    ``method='expr'``: pure Catalyst (LUT literal + m lookups per row),
    TakeOrderedAndProject plan — zero Python. ``method='gather'``: route
    through the numpy-gather batch kernel (``pq_adc_batch_topk`` with one
    query) — ~3x faster at large m since the LUT literal's m·k plan
    constants are gathered vectorized instead of per row; identical
    results (same j-sequential accumulation order).

    Compose with IVF pruning for IVF-PQ: pass
    ``encoded.filter(col("shard_id").isin(probed))``.
    """
    if method == "gather":
        out = pq_adc_batch_topk(
            encoded,
            codebooks,
            [(0, query_vector)],
            k,
            codes_col=codes_col,
            id_col=id_col,
        )
        return out.select(id_col, "adc_dist").orderBy(
            F.asc("adc_dist"), F.asc(id_col)
        )
    if method != "expr":
        raise ValueError(f"method must be 'expr' or 'gather', got {method!r}")
    lut = pq_adc_lut(query_vector, codebooks)
    return (
        encoded.select(
            id_col,
            F.round(pq_adc_score(codes_col, lut), 6).alias("adc_dist"),
        )
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def pq_adc_batch_topk(
    encoded: DataFrame,
    codebooks: Codebooks,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int = 5,
    *,
    codes_col: str = "codes",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k for a BATCH of queries in one job over PQ codes only.

    Physical plan mirrors ``operators/topk.batch_topk``: the per-query LUT
    tensor (|Q| × m × k_codes float64, tiny) ships in the task closure;
    each partition scores its code rows against every query with numpy
    gathers (m adds per row per query — no float vectors touched), keeps
    the k best per query, and the final window ranks the
    ``partitions × k × |Q|`` survivors. Returns
    (query_id, id_col, adc_dist, rank), rank 1..k, ordered by
    (adc_dist ASC, id ASC) per query — deterministic and
    oracle-comparable.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    m, kc, sub = _check(codebooks)
    q_ids = [int(q[0]) for q in queries]
    # lut[qi][j][c] via the same sequential accumulation as pq_adc_lut
    lut = np.asarray(
        [pq_adc_lut(vec, codebooks) for _, vec in queries], dtype=np.float64
    )  # |Q| x m x kc
    nq = len(q_ids)
    schema = f"query_id long, {id_col} long, adc_dist double"

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf[codes_col]]
            )  # n x m
            ids = pdf[id_col].to_numpy()
            total = np.zeros((nq, n), dtype=np.float64)
            for j in range(m):
                # lut[:, j, codes[:, j]] -> (nq, n) gather, m adds total
                total += lut[:, j, codes[:, j]]
            top = min(k, n)
            out_q, out_i, out_d = [], [], []
            for qi in range(nq):
                d = total[qi]
                part = np.argpartition(d, top - 1)[:top]
                out_q.extend([q_ids[qi]] * top)
                out_i.extend(ids[part])
                out_d.extend(d[part])
            yield pd.DataFrame(
                {"query_id": out_q, id_col: out_i, "adc_dist": out_d}
            )

    reduced = encoded.select(id_col, codes_col).mapInPandas(part_topk, schema)
    reduced = reduced.withColumn("adc_dist", F.round("adc_dist", 6))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc(id_col)
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adc_dist", "rank")
    )


def residual_col(
    vector_col: str | Column,
    shard_col: str | Column,
    centroids: Sequence[Sequence[float]],
) -> Column:
    """``array<double>`` residual ``vector - centroids[shard_id]`` — the
    IVFADC transform (Jégou et al. 2011 §IV): PQ-encoding residuals against
    the routing centroid concentrates the quantizer's dynamic range on the
    within-cell displacement, improving recall at equal code bits.

    Pure Catalyst: centroid matrix as a plan literal, one ``element_at`` by
    shard id, one ``zip_with`` subtract — narrow projection, no shuffle.
    """
    cents = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in c]).cast("array<double>")
            for c in centroids
        ]
    )
    cent = F.element_at(cents, _c(shard_col).cast("int") + 1)
    return F.zip_with(
        _c(vector_col).cast("array<double>"), cent, lambda x, c: x - c
    )


def ivfpq_residual_luts(
    query_vector: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
) -> list[list[list[float]]]:
    """Per-shard ADC lookup tables for residual IVF-PQ:
    ``luts[s][j][c] = ||(q - centroid_s)_j - cb[j][c]||²``.

    Because codes are residuals against their own shard's centroid, the
    query must be re-expressed per probed shard — the classic IVFADC
    per-cell LUT. Tiny (n_shards × m × k float64) — travels as a literal.
    """
    q = [float(x) for x in query_vector]
    return [
        pq_adc_lut([a - float(b) for a, b in zip(q, cent)], codebooks)
        for cent in centroids
    ]


def pq_adc_score_by_shard(
    codes_col: str | Column,
    shard_col: str | Column,
    luts: Sequence[Sequence[Sequence[float]]],
) -> Column:
    """ADC distance where each row's LUT is selected by its shard id —
    the scoring half of residual IVF-PQ. Still O(m) lookups + sum per
    row, JVM-side; the 3-level LUT tensor is a plan literal."""
    luts_lit = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(float(x)) for x in row]).cast(
                        "array<double>"
                    )
                    for row in lut
                ]
            )
            for lut in luts
        ]
    )
    lut_for_row = F.element_at(luts_lit, _c(shard_col).cast("int") + 1)
    return F.aggregate(
        F.zip_with(
            _c(codes_col),
            lut_for_row,
            lambda c, row: F.element_at(row, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivfpq_residual_topk(
    encoded: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    query_vector: Sequence[float],
    k: int = 5,
    *,
    nprobe: int = 2,
    codes_col: str = "codes",
    id_col: str = "vec_id",
    shard_col: str = "shard_id",
    method: str = "expr",
) -> DataFrame:
    """Residual IVF-PQ search (IVFADC proper): probe the ``nprobe``
    nearest cells, ADC-score each cell's residual codes against that
    cell's own query LUT, global top-k by (adc_dist ASC, id ASC).

    ``method='expr'``: pure Catalyst — the S × m × k LUT tensor enters
    the plan as a literal and each row does m lookups + a sum. Zero
    Python, but the literal tree grows with S·m·k; best for small
    tensors. ``method='gather'``: numpy-gather batch kernel
    (:func:`ivfpq_residual_batch_topk` with one query) — same results,
    ~10× faster once S·m·k reaches thousands of entries.

    ``encoded`` must carry (id, shard_id, codes) where codes encode the
    RESIDUAL ``vector - centroid[shard_id]`` (see :func:`residual_col`).
    At scale the shard filter is partition pruning over a
    ``partitionBy(shard_id)`` layout — only probed cells' code files are
    read, and only the code column is scanned.
    """
    from .ivf import nearest_shards

    if method == "gather":
        out = ivfpq_residual_batch_topk(
            encoded,
            centroids,
            codebooks,
            [(0, query_vector)],
            k,
            nprobe=nprobe,
            codes_col=codes_col,
            id_col=id_col,
            shard_col=shard_col,
        )
        return out.select(id_col, "adc_dist").orderBy(
            F.asc("adc_dist"), F.asc(id_col)
        )
    if method != "expr":
        raise ValueError(f"method must be 'expr' or 'gather', got {method!r}")
    probed = nearest_shards(query_vector, centroids, nprobe=nprobe)
    luts = ivfpq_residual_luts(query_vector, centroids, codebooks)
    return (
        encoded.filter(_c(shard_col).isin(probed))
        .select(
            id_col,
            F.round(
                pq_adc_score_by_shard(codes_col, shard_col, luts), 6
            ).alias("adc_dist"),
        )
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_residual_batch_topk(
    encoded: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    queries: Sequence[tuple[int, Sequence[float]]],
    k: int = 5,
    *,
    nprobe: int = 2,
    codes_col: str = "codes",
    id_col: str = "vec_id",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Residual IVF-PQ ADC for a BATCH of queries in one job — the scale
    path (same physical shape as :func:`pq_adc_batch_topk`): the per-query
    per-cell LUT tensor (|Q| × S × m × k, tiny) and per-query probe masks
    ship in the task closure; each partition numpy-gathers
    ``lut[q, shard_of_row, j, code_j]`` for its probed rows, keeps k per
    query, and one window ranks the ``partitions × k × |Q|`` survivors.
    Identical j-sequential accumulation to the expression path (tested
    equal). Returns (query_id, id, adc_dist, rank), rank 1..k.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    from .ivf import nearest_shards

    m, kc, sub = _check(codebooks)
    S = len(centroids)
    q_ids = [int(q[0]) for q in queries]
    nq = len(q_ids)
    luts = np.asarray(
        [ivfpq_residual_luts(vec, centroids, codebooks) for _, vec in queries],
        dtype=np.float64,
    )  # nq x S x m x kc
    probe = np.zeros((nq, S), dtype=bool)
    for qi, (_, vec) in enumerate(queries):
        probe[qi, nearest_shards(vec, centroids, nprobe=nprobe)] = True
    schema = f"query_id long, {id_col} long, adc_dist double"

    def part_topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            codes = np.asarray(
                [np.asarray(c, dtype=np.int64) for c in pdf[codes_col]]
            )  # n x m
            shards = pdf[shard_col].to_numpy().astype(np.int64)
            ids = pdf[id_col].to_numpy()
            out_q, out_i, out_d = [], [], []
            for qi in range(nq):
                rows = np.nonzero(probe[qi, shards])[0]
                if rows.size == 0:
                    continue
                rs, rc = shards[rows], codes[rows]
                total = np.zeros(rows.size, dtype=np.float64)
                for j in range(m):
                    total += luts[qi, rs, j, rc[:, j]]
                top = min(k, rows.size)
                part = np.argpartition(total, top - 1)[:top]
                out_q.extend([q_ids[qi]] * top)
                out_i.extend(ids[rows[part]])
                out_d.extend(total[part])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, id_col: out_i, "adc_dist": out_d}
                )

    reduced = (
        encoded.select(id_col, shard_col, codes_col)
        .mapInPandas(part_topk, schema)
        .withColumn("adc_dist", F.round("adc_dist", 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc(id_col))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adc_dist", "rank")
    )


def fit_opq_rotation(
    df: DataFrame,
    *,
    vector_col: str = "embedding",
    m: int = 8,
    sample_n: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
) -> list[list[float]]:
    """OPQ-style rotation (Ge et al., "Optimized Product Quantization",
    CVPR 2013 — the non-parametric init): PCA on a deterministic sample,
    then EIGENVALUE ALLOCATION — assign principal dimensions, in
    descending-variance order, to the subspace with the smallest variance
    product — so every subquantizer carries comparable energy.

    Index-build step: driver-side numpy on ≤ ``sample_n`` rows (the same
    sample-then-fit shape as centroid fitting,
    `reference: src/cluster.py:28-33`). Returns an orthogonal row-matrix
    ``R`` (dim × dim, ``y = R @ x``); deterministic — eigenvector signs
    are fixed so each row's largest-|component| is positive.
    """
    import numpy as np

    rows = (
        df.select(_c(vector_col).cast("array<double>").alias("v"), id_col)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)), F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    n, dim = X.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    Xc = X - X.mean(0)
    cov = (Xc.T @ Xc) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    # deterministic sign: largest-|component| of each eigenvector positive
    for i in range(dim):
        j = np.abs(evecs[:, i]).argmax()
        if evecs[j, i] < 0:
            evecs[:, i] = -evecs[:, i]
    # eigenvalue allocation: greedy round-robin into m buckets by smallest
    # log-variance product, keeping each bucket at dim/m dimensions
    sub = dim // m
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = np.log(np.maximum(evals, 1e-12))
    prods = np.zeros(m)
    for i in range(dim):
        open_b = [b for b in range(m) if len(buckets[b]) < sub]
        b = min(open_b, key=lambda b: (prods[b], b))
        buckets[b].append(i)
        prods[b] += logs[i]
    perm = [i for b in buckets for i in b]
    R = evecs[:, perm].T  # rows = principal axes in allocated order
    return [[float(x) for x in row] for row in R]


def rotate_col(
    vector_col: str | Column, rotation: Sequence[Sequence[float]]
) -> Column:
    """``y = R @ x`` as a pure Catalyst expression: the rotation matrix is
    a plan literal; each output element is a sequential zip_with dot
    product. Narrow projection — no shuffle; pairs with :func:`pq_encode`
    for OPQ (rotate → PQ in the rotated basis)."""
    R_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in row]).cast("array<double>")
            for row in rotation
        ]
    )
    v = _c(vector_col).cast("array<double>")
    return F.transform(
        R_lit,
        lambda row: F.aggregate(
            F.zip_with(row, v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )


def householder_rotation(dim: int) -> list[list[float]]:
    """The Householder reflection ``H = I - (2/dim)·11ᵀ`` — a fixed,
    data-independent orthogonal matrix whose action collapses to
    ``H·x = x - (2/dim)·sum(x)`` — exactly reproducible in ANSI SQL, so
    oracle queries can verify the rotate→encode→ADC pipeline end to end
    (the PCA rotation itself is verified against numpy in unit tests)."""
    f = 2.0 / dim
    return [
        [(1.0 if i == j else 0.0) - f for j in range(dim)]
        for i in range(dim)
    ]


def save_codebooks(
    spark, codebooks: Codebooks, path: str, *, subdir: str = "_pq_codebooks"
) -> None:
    """Persist codebooks INSIDE an index layout as a ``_``-prefixed
    sidecar (hidden to parquet readers), written driver-side with no
    Spark job — the ``sources/index_layout.py`` convention the IVF
    centroids share. One row per (subspace, code) keeps the file schema
    flat and readable by any engine."""
    m, k, sub = _check(codebooks)
    rows = [
        {"subspace": j, "code": c, "codeword": [float(x) for x in codebooks[j][c]]}
        for j in range(m)
        for c in range(k)
    ]
    index_layout.write_sidecar(spark, path, subdir, rows)


def load_codebooks(
    spark, path: str, *, subdir: str = "_pq_codebooks"
) -> list[list[list[float]]]:
    """Inverse of :func:`save_codebooks` (driver-side, no Spark job);
    validates rectangular shape."""
    rows = index_layout.read_sidecar(spark, path, subdir)
    if not rows:
        raise ValueError(f"no codebooks found under {path}/{subdir}")
    rows.sort(key=lambda r: (int(r["subspace"]), int(r["code"])))
    books: list[list[list[float]]] = []
    for r in rows:
        while len(books) <= r["subspace"]:
            books.append([])
        books[r["subspace"]].append([float(x) for x in r["codeword"]])
    _check(books)
    return books
