"""Iceberg-readiness contract (round-2 verdict #7): the emulation in
tableio.py claims real Iceberg is a one-line config switch.  These tests
pin the two commit semantics that claim rests on, so the mapping table in
tableio.py's docstring is *verified*, not asserted:

1. ``write_partitioned`` == Iceberg ``overwritePartitions()``
   (replacePartitions): only partitions present in the incoming frame are
   replaced; untouched partitions stay byte-identical on disk, and a
   replaced partition is REPLACED (no merge/duplicate rows, no leftover
   files from its previous write).
2. ``atomic_write_json`` == snapshot commit: a commit is all-or-nothing
   and readers never observe intermediates — a crashed writer leaves only
   an invisible temp file that the reader listing ignores; the committed
   file appears atomically under its final name.

Switch checklist (production): replace write_partitioned with
``df.writeTo(tbl).overwritePartitions()``, completed-bucket JSON with the
table's snapshot/manifest list, and the driver-side ``~isin`` resume
filter becomes partition pruning on Iceberg's bucket transform — each
line of that checklist corresponds to one assertion below.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from cc_extract.tableio import atomic_write_json, read_json_dir, write_partitioned


def _bucket_files(path: str, bucket: int) -> dict[str, tuple[float, int]]:
    files = glob.glob(os.path.join(path, f"bucket={bucket}", "*.parquet"))
    return {f: (os.path.getmtime(f), os.path.getsize(f)) for f in files}


def test_tableio_iceberg_semantics(spark, tmp_path):
    path = str(tmp_path / "tbl")

    # initial commit: buckets 0,1,2 with two rows each
    df0 = spark.createDataFrame(
        [(b, i, f"v{b}_{i}") for b in (0, 1, 2) for i in range(2)],
        "bucket int, id int, val string",
    )
    write_partitioned(df0, path, "bucket")

    before_0 = _bucket_files(path, 0)
    before_1 = _bucket_files(path, 1)
    before_2 = _bucket_files(path, 2)
    assert before_0 and before_1 and before_2

    # replacePartitions: a second commit carrying ONLY bucket 1
    df1 = spark.createDataFrame(
        [(1, 99, "replaced")], "bucket int, id int, val string"
    )
    write_partitioned(df1, path, "bucket")

    # untouched partitions byte-identical (same files, same mtime+size)
    assert _bucket_files(path, 0) == before_0
    assert _bucket_files(path, 2) == before_2
    # replaced partition holds ONLY the new commit's files — no merge,
    # no duplicate rows, no leftovers from its previous write
    after_1 = _bucket_files(path, 1)
    assert not set(after_1) & set(before_1)

    out = spark.read.parquet(path)
    assert out.filter(F.col("bucket") == 1).count() == 1
    rows = {(r["bucket"], r["id"], r["val"]) for r in out.collect()}
    assert rows == {
        (0, 0, "v0_0"), (0, 1, "v0_1"),
        (2, 0, "v2_0"), (2, 1, "v2_1"),
        (1, 99, "replaced"),
    }


def test_tableio_snapshot_commit_atomicity(tmp_path):
    d = str(tmp_path / "manifest")
    os.makedirs(d)

    # committed snapshot appears atomically under its final name
    atomic_write_json(os.path.join(d, "bucket_000001.json"), {"bucket": 1})
    assert read_json_dir(d, "bucket_") == [{"bucket": 1}]
    # no temp residue after a successful commit
    assert not glob.glob(os.path.join(d, "*.tmp.*"))

    # a crashed writer (died before rename) leaves only a temp file ...
    crash = os.path.join(d, "bucket_000002.json.tmp.deadbeef")
    with open(crash, "w") as f:
        f.write(json.dumps({"bucket": 2})[:7])  # half-written JSON
    # ... which readers never observe: the half commit is invisible
    assert read_json_dir(d, "bucket_") == [{"bucket": 1}]

    # re-commit of the same snapshot id is idempotent (rename overwrite),
    # mirroring Iceberg's retry-safe commit of a new snapshot version
    atomic_write_json(os.path.join(d, "bucket_000001.json"), {"bucket": 1, "v": 2})
    assert read_json_dir(d, "bucket_") == [{"bucket": 1, "v": 2}]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-bucketed tables joined on the bucket key must produce a plan
    with ZERO Exchange operators — the co-located join that avoids
    shuffling the 100 TB fact side for url-keyed enrichment.  (Iceberg
    twin: bucket(n, url) partition transform.)"""
    import contextlib
    import io as _io

    from cc_extract.tableio import write_bucketed

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 2000).selectExpr(
            "concat('https://e/', id) AS url", "id AS a_val"
        )
        b = spark.range(0, 2000, 2).selectExpr(
            "concat('https://e/', id) AS url", "id * 10 AS b_val"
        )
        write_bucketed(a, "bkt_a", 8, "url")
        write_bucketed(b, "bkt_b", 8, "url")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "url")

        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_local_files_bytes_decodes_percent_encoded_paths(spark, tmp_path):
    """Spark lists input files as percent-encoded URIs; sizing must
    decode them, or a directory name with a space is not found."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cc_extract.tableio import local_files_bytes
    from cc_extract.textops import _train_set_partitions

    d = tmp_path / "dir with space"
    d.mkdir()
    path = d / "part.parquet"
    pq.write_table(pa.table({"x": list(range(100))}), str(path))
    df = spark.read.parquet(str(d))
    files = df.inputFiles()
    assert len(files) == 1 and "%20" in files[0], files
    assert local_files_bytes(files) == os.path.getsize(path)
    assert _train_set_partitions(df) == 1
    assert local_files_bytes(["hdfs://nn/x.parquet"]) is None
    assert local_files_bytes([]) is None
