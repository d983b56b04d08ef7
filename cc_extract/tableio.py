"""Iceberg-emulation table layer (SURVEY.md §0.3 consequence 2).

No Iceberg runtime jar exists in this sandbox [E: probe], so tables are
plain Parquet directories plus explicit atomic manifest files.  The mapping
to the real Iceberg API is 1:1 and isolated here, so production is a config
switch, not a rewrite:

| here                                   | Iceberg                           |
| -------------------------------------- | --------------------------------- |
| ``write_partitioned(df, path, bucket)`` | ``df.writeTo(tbl).overwritePartitions()`` |
| ``atomic_write_json`` manifest per bucket | manifest entries in a snapshot commit |
| driver-side completed-bucket filter     | partition pruning on the bucket transform |
| ``read(path)``                          | ``spark.read.format("iceberg").load`` |

Atomicity: JSON manifests are written to a temp name then ``os.rename``d —
atomic on POSIX — so a killed job never leaves a half manifest (the resume
contract, SURVEY.md M1/M2).
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import unquote, urlparse


def local_path(uri: str) -> str | None:
    """Filesystem path of a local ``file:`` URI (as ``df.inputFiles()``
    returns them), or None for any other scheme.  URIs are
    percent-encoded (a space is ``%20``), so the path is decoded."""
    if not uri.startswith("file:"):
        return None
    return unquote(urlparse(uri).path)


def local_files_bytes(files: list[str]) -> int | None:
    """Total size in bytes of a scan's input files (``df.inputFiles()``
    URIs), or None when there are none or any is not a local ``file:``
    URI."""
    paths = [local_path(f) for f in files]
    if not paths or None in paths:
        return None
    return sum(os.path.getsize(p) for p in paths)


def atomic_write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def read_json_dir(dirpath: str, prefix: str) -> list[dict]:
    if not os.path.isdir(dirpath):
        return []
    out = []
    for name in sorted(os.listdir(dirpath)):
        if name.startswith(prefix) and name.endswith(".json"):
            with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                out.append(json.load(f))
    return out


def write_partitioned(df, path: str, partition_col: str = "bucket") -> None:
    """Dynamic-overwrite partitioned write: only the bucket directories
    present in *df* are replaced — reruns of incomplete buckets replace,
    never duplicate (M2 idempotence).

    ``partitionOverwriteMode`` is pinned HERE, per write, not inherited
    from the session: with Spark's default *static* mode an overwrite
    deletes ALL partition directories — including completed buckets — so
    a resumed run driven from any session that leaves the default would
    silently destroy finished work."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed(df, table_name: str, n_buckets: int, key: str = "url") -> None:
    """Bucketed-table write: hash-bucket + sort by *key* so subsequent
    equi-joins/aggregations on *key* between co-bucketed tables need NO
    shuffle (Spark reads matching buckets pairwise — the co-located join
    the 100 TB design leans on for url-keyed enrichment joins).

    Iceberg mapping: ``bucket(n, key)`` partition transform +
    ``sortedBy(key)`` write order; here it is Spark's native bucketing
    via ``saveAsTable`` (bucket metadata needs a catalog entry — a plain
    ``.parquet(path)`` write silently drops it).  Verified shuffle-free
    in tests/test_tableio.py::test_bucketed_join_is_shuffle_free.

    Orphaned-location guard: with the default in-memory catalog a table's
    warehouse directory can outlive its catalog entry (killed process,
    fresh session), and ``saveAsTable`` then fails LOCATION_ALREADY_EXISTS
    even in overwrite mode.  A location with no catalog entry is dead
    state from an aborted run, so it is removed before the write."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table_name):
        import shutil

        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        shutil.rmtree(os.path.join(warehouse, table_name.lower()),
                      ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)  # default warehouse location
    )
