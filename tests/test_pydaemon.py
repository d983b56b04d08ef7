"""cc_extract.pydaemon: a Python worker re-reads a zip archive's
directory only when the archive changed."""

from __future__ import annotations

import importlib.util
import os
import zipfile
import zipimport

from cc_extract import pydaemon


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _import(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_zip_keeps_its_directory(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    pydaemon.invalidate_caches(importer)  # first call reads and stamps
    files = importer._files
    for _ in range(3):
        pydaemon.invalidate_caches(importer)
        assert importer._files is files
    # a second importer of the archive shares the cached directory
    other = zipimport.zipimporter(path)
    pydaemon.invalidate_caches(other)
    assert other._files is files


def test_rewritten_zip_is_reread(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    pydaemon.invalidate_caches(importer)
    files = importer._files
    assert _import(importer, "mod_b") is None

    # new size: a module added to the archive becomes importable
    _write_zip(path, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    pydaemon.invalidate_caches(importer)
    assert importer._files is not files
    assert _import(importer, "mod_b").Y == 2

    # same size, new mtime: re-read as well
    files = importer._files
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    pydaemon.invalidate_caches(importer)
    assert importer._files is not files
    assert importer._files == files

    # a removed archive empties the directory, as zipimport does
    os.remove(path)
    pydaemon.invalidate_caches(importer)
    assert importer._files == {}


def test_session_workers_keep_pyspark_zip_directory(spark):
    """In a build_session session every task on one Python worker sees
    the same directory object for pyspark.zip: the per-task
    ``importlib.invalidate_caches()`` no longer re-reads it."""

    def probe(_):
        import os
        import sys
        import zipimport

        files = [f._files for f in list(sys.path_importer_cache.values())
                 if isinstance(f, zipimport.zipimporter) and not f.prefix
                 and os.path.basename(f.archive) == "pyspark.zip"]
        # held for the worker's life, so no id is reused by a new dict
        sys.__dict__.setdefault("_pydaemon_test_held", []).extend(files)
        yield os.getpid(), tuple(id(f) for f in files)

    rows = (spark.sparkContext.parallelize(range(16), 16)
            .mapPartitions(probe).collect())
    by_pid: dict[int, set] = {}
    for pid, ids in rows:
        assert ids, "no pyspark.zip importer on the worker path"
        by_pid.setdefault(pid, set()).add(ids)
    assert any(n > 1 for n in
               (sum(p == pid for p, _ in rows) for pid in by_pid)), rows
    assert all(len(ids) == 1 for ids in by_pid.values()), by_pid


def test_driver_outside_checkout_runs_python_tasks(tmp_path):
    """A driver that finds cc_extract only through its own sys.path (a
    script run from another directory) still runs Python tasks:
    build_session hands the checkout to the workers, which fork from
    cc_extract.pydaemon and must import it before any task."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from cc_extract.session import build_session\n"
        "spark = build_session(cpus=2)\n"
        "print('COUNT', spark.range(100).rdd.map(lambda x: x).count())\n"
        "spark.stop()\n")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run([sys.executable, str(script)], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "COUNT 100" in out.stdout, out.stdout[-2000:]


def test_worker_ignores_cc_extract_in_driver_cwd(tmp_path):
    """A driver whose working directory holds another cc_extract, and
    which puts the checkout first on its own sys.path, runs the checkout
    in its Python workers too: the daemon is started with ``python -m``
    in that directory, which would otherwise import the one there."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    decoy = tmp_path / "cc_extract"
    decoy.mkdir()
    (decoy / "__init__.py").write_text("")
    (decoy / "pydaemon.py").write_text(
        "if __name__ == '__main__':\n"
        "    from pyspark.daemon import manager\n"
        "    manager()\n")
    script = tmp_path / "driver.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "import cc_extract\n"
        "from cc_extract.session import build_session\n"
        "spark = build_session(cpus=1)\n"
        "def where(_):\n"
        "    import cc_extract\n"
        "    return cc_extract.__file__\n"
        "print('DRIVER', cc_extract.__file__)\n"
        "print('WORKER', spark.sparkContext.parallelize([0], 1)"
        ".map(where).first())\n"
        "spark.stop()\n")
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run([sys.executable, str(script)], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    where = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                 if line.startswith(("DRIVER ", "WORKER ")))
    want = os.path.join(os.path.realpath(repo), "cc_extract", "__init__.py")
    assert {k: os.path.realpath(v) for k, v in where.items()} == {
        "DRIVER": want, "WORKER": want}, out.stdout[-2000:]


def test_checkout_imports_only_itself(spark):
    """cc_extract and __spark_entry__ import from the checkout that holds
    this test's tests/ directory, on the driver and in a Python worker:
    tier-1 run in a second clone tests that clone, not another tree."""
    import __spark_entry__
    import cc_extract
    from cc_extract.job import rows_df

    def where(_):
        import __spark_entry__
        import cc_extract

        return {"pkg": cc_extract.__file__, "entry": __spark_entry__.__file__}

    worker = rows_df(spark.range(1), ("id",), ("id",), where,
                     "pkg string, entry string").first()
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    for pkg, entry in ((cc_extract.__file__, __spark_entry__.__file__),
                       (worker["pkg"], worker["entry"])):
        assert os.path.realpath(pkg) == os.path.join(
            root, "cc_extract", "__init__.py")
        assert os.path.realpath(entry) == os.path.join(root, "__spark_entry__.py")
