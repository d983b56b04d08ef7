"""cc_extract.session: the local FileSystem of a build_session session
sets permissions without forking chmod."""

from __future__ import annotations

import glob
import os
import shutil
import stat
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import SparkSession

from cc_extract import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_job_run_writes_without_forking_chmod(tmp_path):
    """A driver with a logging chmod first on its PATH runs job.run to
    the end and spawns no chmod (Hadoop's RawLocalFileSystem without
    libhadoop spawns one per file, checksum file and directory); the
    files and directories get the bits Hadoop sets under its 022 umask."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "chmod.log"
    fake = bin_dir / "chmod"
    fake.write_text(f'#!/bin/sh\necho "$@" >> {str(log)!r}\n'
                    f'exec {shutil.which("chmod")} "$@"\n')
    fake.chmod(0o755)
    out_dir = tmp_path / "out"
    script = tmp_path / "driver.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from cc_extract import job as J\n"
        "from cc_extract.corpusgen import corpus_df\n"
        "from cc_extract.session import build_session\n"
        "spark = build_session(cpus=2)\n"
        "docs = corpus_df(spark, 200, partitions=2)\n"
        f"J.run(spark, docs, {str(out_dir)!r}, n_buckets=16,"
        " resume=False)\n"
        "print('DONE')\n"
        "spark.stop()\n")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PATH"] = str(bin_dir) + os.pathsep + env.get("PATH", "")
    out = subprocess.run([sys.executable, str(script)], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "DONE" in out.stdout, out.stdout[-2000:]
    spawned = log.read_text().splitlines() if log.exists() else []
    assert spawned == [], f"{len(spawned)} chmod spawns, first: {spawned[:3]}"

    for table in ("extracted", "metrics"):
        dirs = glob.glob(str(out_dir / table / "bucket=*"))
        files = glob.glob(str(out_dir / table / "bucket=*" / "*.parquet"))
        assert len(dirs) == 16 and files, table
        assert {_mode(d) for d in dirs} == {0o755}, table
        assert {_mode(f) for f in files} == {0o644}, table


def test_local_filesystem_sets_exact_permissions(spark, tmp_path):
    """The session's FileSystem.getLocal is the no-fork one, sets rwx
    bits exactly, and leaves a sticky bit to Hadoop's chmod."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == session.NOFORK_FS
    f = tmp_path / "f"
    f.write_bytes(b"x")
    d = tmp_path / "d"
    d.mkdir()
    for path, mode in ((f, 0o600), (d, 0o750), (d, 0o1777)):
        os.chmod(path, 0o777)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        assert _mode(path) == mode, (path, oct(mode))


def _session_options(monkeypatch, extra_conf: dict) -> dict:
    """The options build_session hands the builder, without building."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    return session.build_session(cpus=1, extra_conf=extra_conf)


def test_without_javac_the_session_keeps_hadoops_filesystem(monkeypatch):
    """With javac the jar goes first on the driver's classpath, before a
    caller's entry; without it build_session sets neither key."""
    caller = {"spark.driver.extraClassPath": "lib/caller.jar"}
    jar = session.nofork_fs_jar()
    assert jar and os.path.isfile(jar)
    opts = _session_options(monkeypatch, caller)
    assert opts["spark.hadoop.fs.file.impl"] == session.NOFORK_FS
    assert opts["spark.driver.extraClassPath"] == (
        jar + os.pathsep + "lib/caller.jar")

    monkeypatch.setattr(shutil, "which", lambda *a, **k: None)
    assert session.nofork_fs_jar() is None
    opts = _session_options(monkeypatch, caller)
    assert "spark.hadoop.fs.file.impl" not in opts
    assert opts["spark.driver.extraClassPath"] == "lib/caller.jar"


def test_running_jvm_without_the_class_keeps_hadoops_filesystem(
        spark, monkeypatch):
    """A JVM launched earlier in the process keeps its classpath: when it
    cannot load the class, naming it as the FileSystem would fail every
    file access, so build_session leaves Hadoop's."""
    monkeypatch.setattr(session, "NOFORK_FS", "cc_extract.NoSuchFileSystem")
    opts = _session_options(monkeypatch, {})
    assert "spark.hadoop.fs.file.impl" not in opts
    assert "spark.driver.extraClassPath" not in opts


def test_jar_cache_others_can_write_is_not_used(monkeypatch, tmp_path):
    """The jar joins the driver's classpath, so a cache directory that
    another user could write is refused."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    (tmp_path / "cc_extract-jvm").mkdir()
    os.chmod(tmp_path / "cc_extract-jvm", 0o777)
    with pytest.warns(UserWarning, match="not private"):
        assert session.nofork_fs_jar() is None
    os.chmod(tmp_path / "cc_extract-jvm", 0o700)
    jar = session.nofork_fs_jar()
    assert jar and os.path.dirname(jar) == str(tmp_path / "cc_extract-jvm")
