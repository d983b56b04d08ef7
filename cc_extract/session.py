"""SparkSession factory with the pipeline's tuned physical configs
(SURVEY.md §4.2/§4.3).

Every config here exists for the 100 TB design point and is annotated;
the same settings are correct (just bigger numbers) on a 1000-executor
cluster.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# arrow.maxRecordsPerBatch: measured sweet spot.  256-row batches cost ~8x
# in JVM->Python transport (per-batch flush overhead dominates); the
# 10k-row default risks multi-GiB batches when a salted partition holds
# giants (SURVEY.md §4.2 "Arrow batch sizing") — 1024 x ~1 MiB worst-case
# giants ~= 1 GiB/batch, safe under useLargeVarTypes with headroom.
ARROW_BATCH = 1024


def build_session(
    cpus: int | None = None,
    app_name: str = "cc_extract",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local session for tests/bench; on a cluster only master() changes.

    - ``useLargeVarTypes``: 64-bit offsets for binary/string arrays so a
      single batch of fat payloads can't overflow 32-bit offsets.
    - AQE on: runtime coalescing + skew-join backstop; our explicit
      size-aware salting handles the UDF-stage skew AQE can't see.
    - ``parquet.compression=zstd``: text output compresses ~3-4x, and at
      100 TB the write/read volume matters more than the cpu.
    - The session fits its host: the driver heap (``-Xmx``) is the
      smaller of 24 GiB and half the host's physical RAM, and
      shuffle/spill files go to ``spark-local`` under
      ``tempfile.gettempdir()`` (disk, not RAM-backed ``/dev/shm``);
      ``SPARK_LOCAL_DIRS``, when set, takes precedence over that dir.
    """
    import os
    import tempfile

    master = f"local[{cpus}]" if cpus else "local[*]"
    n_shuffle = shuffle_partitions or (cpus * 4 if cpus else 32)
    ram_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    heap = f"{min(24 << 10, ram_mib // 2)}m"
    local_dir = os.path.join(tempfile.gettempdir(), "spark-local")
    # Workers fork from cc_extract.pydaemon, so they must import
    # cc_extract before any task: hand them the directory that holds it,
    # which a driver may know only through its own sys.path
    extra_conf = dict(extra_conf or {})
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_path = extra_conf.get("spark.executorEnv.PYTHONPATH")
    extra_conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [pkg_parent] + ([worker_path] if worker_path else []))
    # ... and keep the driver's working directory off the workers'
    # sys.path: ``python -m cc_extract.pydaemon`` would put it first, so
    # a cc_extract there would win over the one above (Python >= 3.11)
    extra_conf["spark.executorEnv.PYTHONSAFEPATH"] = "1"
    builder = SparkSession.builder
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return (
        builder.master(master)
        .config("spark.local.dir", local_dir)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Round 6: InferFiltersFromGenerate turns every explode(arr) into
        # an inferred `isnotnull(arr) AND size(arr) > 0` filter, and
        # predicate pushdown then drags that filter — containing the FULL
        # array-building expression (tokenize + per-window md5 for the
        # shingle/segment relations) — below the fan-out exchange, where
        # it re-runs single-threaded in the scan task and duplicates the
        # projection's work (measured: the (doc, segment) explode went
        # 5.6 s -> 1.3 s at sf1.0 with the rule off).  The inferred
        # filter is semantically redundant (Generate already skips
        # null/empty arrays), so excluding the rule cannot change any
        # result; our corpora have no empty-array-heavy tail for it to
        # prune — at any scale the duplicated generator evaluation costs
        # more than the rows it would skip.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # 32 MB scan splits: the batch pipeline extracts small docs IN
        # scan partitions, so scan granularity = extraction task
        # granularity; at sf-small the corpus files are ~17 MB and the
        # default 128 MB would pack them into too few tasks for 32 cores.
        # Production at 100 TB raises this back to 128-256 MB.
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # never pack multiple files into one scan split: extraction
        # parallelism rides the scan in the batch plan, and packed
        # 3 MB fixture files would starve 32 cores
        .config("spark.sql.files.openCostInBytes", "33554432")
        # list partition directories on the driver: the sessions are
        # always local, so listing tasks run in this same JVM and only
        # add scheduling — reading back job.run's 64 bucket= dirs ran a
        # 64-task listing job, 0.97 s of its 1.30 s task time executor
        # deserialization (default threshold 32 dirs)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "4096")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # Python workers fork from cc_extract.pydaemon, pyspark.daemon
        # with zipimport's cache invalidation made lazy.  Each Python
        # task calls importlib.invalidate_caches(), which on CPython 3.11
        # re-reads the whole zip directory of the Spark core jar (~5.4k
        # entries) and of pyspark.zip (~1.3k, once per imported
        # subpackage): measured 0.14-0.44 s per task before its first
        # row on 4 cores, a 16-partition RDD map 1.3-1.5 s -> 0.4 s.
        # Safe because an archive whose (mtime, size) changed is still
        # re-read, so --py-files added mid-application import as before.
        # Needs cc_extract importable by the workers' interpreter before
        # any task runs: spark.executorEnv.PYTHONPATH above in local
        # mode (README, "Running", for spark-submit --py-files).
        .config("spark.python.daemon.module", "cc_extract.pydaemon")
        .getOrCreate()
    )
