"""Small-file compaction for partitioned parquet layouts (ROADMAP #4).

Streaming ingest (`streaming/ingest.stream_ingest`) appends O(num_shards)
files per micro-batch; after thousands of batches each hive partition holds
thousands of tiny files, and scan cost becomes dominated by file-open
overhead + task scheduling instead of bytes read. The fix is the same
OPTIMIZE/compaction pattern every lakehouse format applies (public
technique — Delta OPTIMIZE, Iceberg rewrite_data_files): periodically
rewrite each partition's files into ``ceil(bytes / target_file_bytes)``
right-sized files.

The reference has no comparable story — its per-shard state is one SQLite
file that every request reopens (`reference: src/storage_server.py:39-49`).

Scale notes (100 TB): compaction is per-partition-parallel and
embarrassingly so — each partition is rewritten by an independent Spark
job reading only that directory, so a 64-shard layout compacts as 64
small jobs (or one job per *skewed* partition only, via the
``min_files`` gate). The rewrite is a narrow coalesce — no shuffle.
Crash-safety: new files are written to a temp dir, staged INTO the
partition under dot-prefixed names (invisible to readers), and only then
are the originals moved to a trash dir, the staged files un-dotted, and
the trash deleted — every rename's return value is checked, and any
failure aborts with originals intact (or restorable from
``_compaction_trash``/dotted names; a crash mid-swap can require that
manual promotion, but never loses row data).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from .index_layout import filesystem, hadoop_path

__all__ = ["layout_file_stats", "compact_layout"]


def _list_partition_dirs(spark: SparkSession, root: str) -> list[str]:
    fs, hroot = filesystem(spark, root)
    out = []
    for st in fs.listStatus(hroot):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name and not name.startswith("_"):
            out.append(st.getPath().toString())
    return sorted(out)


def _data_files(spark: SparkSession, fs, dir_path: str):
    """(path, length) of committed parquet data files directly under dir."""
    files = []
    for st in fs.listStatus(hadoop_path(spark, dir_path)):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            files.append((st.getPath(), int(st.getLen())))
    return files


def layout_file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-hive-partition (partition, n_files, total_bytes) of a layout —
    the audit that decides which partitions need compaction."""
    fs, _ = filesystem(spark, path)
    rows = []
    for d in _list_partition_dirs(spark, path):
        files = _data_files(spark, fs, d)
        rows.append(
            (d.rsplit("/", 1)[-1], len(files), sum(n for _, n in files))
        )
    return spark.createDataFrame(
        rows, "partition string, n_files long, total_bytes long"
    ).orderBy("partition")


def compact_layout(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict:
    """Rewrite every hive partition of ``path`` that has more than
    ``max(min_files, ideal)`` data files down to
    ``ideal = ceil(total_bytes / target_file_bytes)`` files.

    A FLAT directory (no ``key=value`` subdirs, data files at the root —
    the shape of the streaming owner-state appends: gram_owners,
    chunk_owners, minhash owners) is treated as a single partition, so
    the periodic-compaction story those modules promise applies to them
    too (round 9; previously the flat root was silently skipped).

    Row-preserving (verified in tests): the rewrite is read -> coalesce ->
    write of the same rows; partition-column values are carried by the
    directory name, untouched. Returns a summary dict
    ``{partitions_compacted, files_before, files_after}``.
    """
    fs, hroot = filesystem(spark, path)
    compacted = files_before = files_after = 0

    dirs = _list_partition_dirs(spark, path)
    if not dirs and _data_files(spark, fs, path):
        dirs = [hroot.toString()]

    for d in dirs:
        files = _data_files(spark, fs, d)
        total = sum(n for _, n in files)
        ideal = max(1, math.ceil(total / target_file_bytes))
        files_before += len(files)
        if len(files) <= max(min_files, ideal):
            files_after += len(files)
            continue

        tmp = f"{path.rstrip('/')}/_compaction_tmp/{d.rsplit('/', 1)[-1]}"
        # read ONLY this partition dir (no partition discovery => the
        # partition column is not in the data files, matching originals)
        spark.read.parquet(d).coalesce(ideal).write.mode("overwrite").parquet(tmp)

        new_files = _data_files(spark, fs, tmp)

        # clear dotted residue a previously crashed run may have left
        # (renames below fail if the destination exists)
        for st in fs.listStatus(hadoop_path(spark, d)):
            nm = st.getPath().getName()
            if st.isFile() and nm.startswith(".") and nm.endswith(".compacting"):
                fs.delete(st.getPath(), False)

        # 1. stage new files INSIDE the partition under dot-prefixed names
        #    (parquet readers skip dotfiles); abort with originals intact
        #    if any rename fails.
        staged: list = []
        failed = None
        for p, _n in new_files:
            dst = hadoop_path(spark, d + "/." + p.getName() + ".compacting")
            if fs.rename(p, dst):
                staged.append((dst, hadoop_path(spark, d + "/" + p.getName())))
            else:
                failed = p
                break
        if failed is not None:
            for dst, _f in staged:
                fs.delete(dst, False)
            raise RuntimeError(
                f"compaction aborted: staging {failed} into {d} failed; "
                f"originals untouched, new files remain under {tmp}"
            )

        # 2. move originals to a trash dir; roll back fully on failure
        trash = f"{path.rstrip('/')}/_compaction_trash/{d.rsplit('/', 1)[-1]}"
        fs.mkdirs(hadoop_path(spark, trash))
        trashed: list = []
        for p, _n in files:
            tdst = hadoop_path(spark, trash + "/" + p.getName())
            if fs.rename(p, tdst):
                trashed.append((p, tdst))
            else:
                for orig, tdst2 in trashed:
                    fs.rename(tdst2, orig)
                for dst, _f in staged:
                    fs.delete(dst, False)
                raise RuntimeError(
                    f"compaction aborted: could not move original {p} "
                    f"aside; partition {d} restored"
                )

        # 3. un-dot the staged files (same-directory renames); originals
        #    still exist in trash until this completes
        for dst, final in staged:
            if not fs.rename(dst, final):
                raise RuntimeError(
                    f"compaction: promoting {dst} -> {final} failed; rows "
                    f"preserved under the dotted name and in {trash} — "
                    f"manual promotion required"
                )

        # 4. cleanup, only after every promote succeeded
        fs.delete(hadoop_path(spark, f"{path.rstrip('/')}/_compaction_trash"), True)
        fs.delete(hadoop_path(spark, f"{path.rstrip('/')}/_compaction_tmp"), True)
        compacted += 1
        files_after += len(new_files)

    return {
        "partitions_compacted": compacted,
        "files_before": files_before,
        "files_after": files_after,
    }
