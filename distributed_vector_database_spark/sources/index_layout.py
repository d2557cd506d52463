"""On-disk layout of the IVF index family (``IVFIndex``, ``IVFPQIndex``).

The paper's storage tier is one store per shard plus a routing table of
centroids (`reference: src/compute_server.py:23-26`, one SQLite file per
storage server). Here that is one parquet directory per shard —
``partitionBy("shard_id")``, so a probe of nprobe shards is directory
pruning — plus small ``_``-prefixed sidecars inside the same root, which
parquet readers treat as hidden (like ``_SUCCESS``):

  ``_centroids``       routing table, one JSON line per shard
  ``_recall_curve``    measured recall-vs-nprobe curve (``IVFIndex.tune``)
  ``_pq_codebooks``    residual PQ codebooks (``IVFPQIndex``)
  ``_gen_watermark``   text integer: the last appended generation

A sidecar is a directory of ``part-*`` JSON-lines files — the shape
``coalesce(1).write.json`` produces, so layouts written that way still
load. Sidecars are a handful of lines, so they are read and written on
the driver through the Hadoop FileSystem API: no Spark job, no
hidden-path warning from ``spark.read``, and the same FileSystem the
parquet write used (plain paths, ``file:``, ``hdfs://``, ``s3a://``).

This module is the only place that touches the layout's FileSystem or
does the shard-partitioned write; the index classes and
``sources.compaction`` go through it.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "filesystem",
    "hadoop_path",
    "write_shards",
    "read_sidecar",
    "write_sidecar",
    "read_centroids",
    "write_centroids",
    "read_generation",
    "write_generation",
    "replace_dir",
]


def hadoop_path(spark: SparkSession, path: str):
    """A JVM ``org.apache.hadoop.fs.Path`` for ``path``."""
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def filesystem(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``: ``LocalFileSystem`` for
    plain paths and ``file:`` URIs, the scheme's FS otherwise."""
    hpath = hadoop_path(spark, path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def write_shards(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist ``df`` partitioned by ``shard_id``. The repartition puts
    each shard in one task, so a write adds one file per shard instead
    of one per (input partition, shard)."""
    (
        df.repartition("shard_id")
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(path)
    )


def _read_file(spark: SparkSession, fs, hpath) -> str:
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _write_file(fs, hpath, text: str) -> None:
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_sidecar(spark: SparkSession, root: str, name: str) -> list[dict]:
    """Rows of sidecar ``root/name`` in part-file order; [] when absent."""
    fs, hdir = filesystem(spark, f"{root}/{name}")
    if not fs.exists(hdir):
        return []
    parts = sorted(
        (st.getPath() for st in fs.listStatus(hdir)),
        key=lambda hp: hp.getName(),
    )
    return [
        json.loads(line)
        for hp in parts
        if hp.getName().startswith("part-")
        for line in _read_file(spark, fs, hp).splitlines()
        if line.strip()
    ]


def write_sidecar(
    spark: SparkSession, root: str, name: str, rows: list[dict]
) -> None:
    """Replace sidecar ``root/name`` with ``rows`` as one JSON-lines part
    file. No rows removes the sidecar."""
    fs, hdir = filesystem(spark, f"{root}/{name}")
    fs.delete(hdir, True)
    if rows:
        text = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
        _write_file(fs, hadoop_path(spark, f"{root}/{name}/part-00000.json"), text)


def read_centroids(spark: SparkSession, root: str) -> list[list[float]]:
    """The ``_centroids`` routing table, ordered by shard id."""
    rows = read_sidecar(spark, root, "_centroids")
    if not rows:
        raise ValueError(f"no centroids found under {root}/_centroids")
    rows.sort(key=lambda r: int(r["shard_id"]))
    return [list(map(float, r["centroid"])) for r in rows]


def write_centroids(spark: SparkSession, root: str, centroids) -> None:
    """One ``{"shard_id", "centroid"}`` line per shard."""
    write_sidecar(
        spark,
        root,
        "_centroids",
        [{"shard_id": i, "centroid": c} for i, c in enumerate(centroids)],
    )


def read_generation(spark: SparkSession, root: str) -> int:
    """The ``_gen_watermark`` integer; 0 when absent."""
    fs, hpath = filesystem(spark, f"{root}/_gen_watermark")
    if not fs.exists(hpath):
        return 0
    return int(_read_file(spark, fs, hpath).strip() or 0)


def write_generation(spark: SparkSession, root: str, gen: int) -> None:
    fs, hpath = filesystem(spark, f"{root}/_gen_watermark")
    _write_file(fs, hpath, str(gen))


def replace_dir(spark: SparkSession, staging: str, path: str) -> None:
    """Swap the fully written ``staging`` directory into ``path``. Both
    steps are checked: a failed delete leaves ``path`` as it was, and a
    failed rename leaves the new layout whole under ``staging``."""
    fs, hpath = filesystem(spark, path)
    if not fs.delete(hpath, True):
        raise IOError(f"could not delete {path}; new layout kept at {staging}")
    if not fs.rename(hadoop_path(spark, staging), hpath):
        raise IOError(f"could not rename {staging} to {path}")
