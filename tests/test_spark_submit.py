"""Deployment-path test: the package must run via
``spark-submit --py-files cc_extract.zip`` with NOTHING importable from the
working directory — exactly how it ships to a real cluster
[D: BASELINE.json north_rule "run via spark-submit --py-files"]."""

from __future__ import annotations

import os
import subprocess
import sys

SPARK_SUBMIT = "/opt/spark/bin/spark-submit"

DRIVER = """
import sys
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from cc_extract.corpusgen import corpus_df     # resolves from the zip
from cc_extract.job import pipeline_df

docs = corpus_df(spark, 300, partitions=4)
n_urls = docs.select("url").distinct().count()
res = pipeline_df(docs, n_buckets=8)
row = res.agg(F.count("*").alias("n"),
              F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok")).collect()[0]
print(f"SUBMIT_RESULT n={row['n']} n_urls={n_urls} ok={row['ok']}")
spark.stop()
"""


def test_spark_submit_with_py_files(tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from scripts.package import build

    zip_path = build(str(tmp_path / "cc_extract.zip"))
    driver_path = tmp_path / "driver.py"
    driver_path.write_text(DRIVER)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]", "--py-files", zip_path,
         str(driver_path)],
        cwd=str(tmp_path),  # repo NOT importable from here
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    marker = [l for l in out.stdout.splitlines() if l.startswith("SUBMIT_RESULT")]
    assert marker, out.stdout[-2000:]
    # post-dedup rows == distinct raw urls (decorated dup urls are
    # raw-distinct by design — see corpusgen._decorate_url)
    m = dict(kv.split("=") for kv in marker[0].split()[1:])
    assert m["n"] == m["n_urls"] and int(m["n"]) >= 300, marker[0]
