"""SparkSession factory with the pipeline's tuned physical configs
(SURVEY.md §4.2/§4.3).

Every config here exists for the 100 TB design point and is annotated;
the same settings are correct (just bigger numbers) on a 1000-executor
cluster.

Local file writes fork no process.  Hadoop's ``RawLocalFileSystem``
without ``libhadoop`` (the pip-installed pyspark has none) sets every
permission by spawning ``/bin/chmod``: one per file, ``.crc`` sidecar
and directory it creates.  A logging ``chmod`` first on the driver's
``PATH`` counted 403 spawns for one ``job.run`` over 64 buckets, about
200 for each of its two tables: per bucket a part file, its ``.crc``
and its ``bucket=`` directory, plus the staging and attempt
directories.  So ``build_session`` compiles
``jvm/NoForkLocalFileSystem.java`` (a ``LocalFileSystem`` whose
``setPermission`` calls ``java.nio.file.Files.setPosixFilePermissions``;
same bits, same files) once per temp dir with the JDK's ``javac``, puts
the jar on the driver's classpath and makes it the ``file:``
FileSystem.  Without ``javac`` the session is built as before and
Hadoop forks ``chmod``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings
import zipfile

from pyspark.sql import SparkSession

# arrow.maxRecordsPerBatch: measured sweet spot.  256-row batches cost ~8x
# in JVM->Python transport (per-batch flush overhead dominates); the
# 10k-row default risks multi-GiB batches when a salted partition holds
# giants (SURVEY.md §4.2 "Arrow batch sizing") — 1024 x ~1 MiB worst-case
# giants ~= 1 GiB/batch, safe under useLargeVarTypes with headroom.
ARROW_BATCH = 1024

NOFORK_FS = "cc_extract.NoForkLocalFileSystem"
NOFORK_FS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "jvm", "NoForkLocalFileSystem.java")


def nofork_fs_jar() -> str | None:
    """Path of a jar holding ``NOFORK_FS``, compiled against the Hadoop
    client jar that pyspark launches with; None when there is no
    ``javac``, no such jar or no source file (a zipped package), or the
    compile fails.

    The jar is cached under ``tempfile.gettempdir()/cc_extract-jvm``,
    named by the sha256 of the source and the Hadoop jar's name, so a
    cold compile (about 1 s) runs once per temp dir.  It is packed with
    ``zipfile`` (no ``jar`` tool needed), written to a temp name and
    ``os.replace``d into place, so concurrent drivers never read half a
    jar.  A jar, not a class directory: a directory on the classpath is
    probed on every class load."""
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    hadoop = sorted(glob.glob(os.path.join(
        _find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not hadoop or not os.path.isfile(NOFORK_FS_SRC):
        return None
    with open(NOFORK_FS_SRC, "rb") as f:
        src = f.read()
    key = hashlib.sha256(
        src + b"\0" + os.path.basename(hadoop[-1]).encode()).hexdigest()
    cache = os.path.join(tempfile.gettempdir(), "cc_extract-jvm")
    os.makedirs(cache, mode=0o700, exist_ok=True)
    st = os.stat(cache)
    if st.st_uid != os.getuid() or st.st_mode & 0o022:
        # a jar there runs in the driver: trust only a dir no one else
        # can write
        warnings.warn(f"{cache} is not private, local writes fork chmod")
        return None
    jar = os.path.join(cache, f"{key[:32]}.jar")
    if os.path.isfile(jar):
        return jar
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        done = subprocess.run(
            [javac, "--release", "17", "-cp", hadoop[-1], "-d", classes,
             NOFORK_FS_SRC], capture_output=True, text=True)
        if done.returncode:
            warnings.warn(f"javac failed, local writes fork chmod: "
                          f"{done.stderr.strip()[-2000:]}")
            return None
        part = os.path.join(tmp, "part.jar")
        with zipfile.ZipFile(part, "w") as zf:
            for path in sorted(glob.glob(
                    os.path.join(classes, "**", "*.class"), recursive=True)):
                zf.write(path, os.path.relpath(path, classes))
        os.replace(part, jar)
    return jar


def _running_jvm_lacks(cls: str) -> bool:
    """True when this process already runs a Spark JVM (an earlier
    session's, whose classpath is fixed) that cannot load *cls*: naming
    it as a FileSystem there fails every file access."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    if SparkContext._jvm is None:
        return False
    try:
        SparkContext._jvm.java.lang.Class.forName(cls)
    except Py4JError:
        return True
    return False


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
    - The ``file:`` FileSystem is ``NOFORK_FS`` when ``nofork_fs_jar``
      finds ``javac`` (module docstring); its jar goes first on
      ``spark.driver.extraClassPath``, before a value passed in
      ``extra_conf``.  The sessions are ``local[N]``, so the driver JVM
      is the only JVM.
    """
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
    jar = None if _running_jvm_lacks(NOFORK_FS) else nofork_fs_jar()
    if jar:
        class_path = extra_conf.get("spark.driver.extraClassPath")
        extra_conf["spark.driver.extraClassPath"] = os.pathsep.join(
            [jar] + ([class_path] if class_path else []))
        extra_conf["spark.hadoop.fs.file.impl"] = NOFORK_FS
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
