"""cc_extract benchmark: two seeded, closed-loop workloads on one
``local[4]`` Spark session, end to end and (with ``--trace 1``) per layer.

    python3 perfbench/run.py --workload warc_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One process drives one session and runs
one job at a time: set-up (session build, open inputs, WARMUP_PASSES
untimed passes, the first of them cold), then timed warm passes until
``--seconds`` of passes have run (at least MIN_PASSES).  Every timed pass
is checked against the seed's reference.  The last line of stdout is the result JSON; the line before it
annotates the run (per-pass wall and CPU steal, CPU-capacity probe).
See perfbench/README.md for the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
CORES = 4
# The first pass after the cold one still runs 10-20 % slower than the
# next (JIT, worker warm-up), so set-up runs two.  A run pays 30-55 s of
# set-up on 4 cores, so the run budget leaves room for one timed pass
# (--seconds 5 in BENCHMARK.json; a pass of either workload is longer).
WARMUP_PASSES = 2
MIN_PASSES = 1
WORKLOADS = ("warc_mixed", "curate_funnel")
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def metric_units(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if trace else "end_to_end"]}
    for name, unit in units.items():
        if not METRIC_NAME.fullmatch(name) or not unit:
            raise ValueError(f"metric {name!r} has a bad name or no unit")
    return units


def isolate() -> None:
    """Keep every file Spark, the JVM and Python write inside CACHE.
    Must run before pyspark is imported and the JVM is launched."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env_path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "TMPDIR": tmp,
        # takes precedence over the session's spark.local.dir (/dev/shm)
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        # Python workers import cc_extract from this checkout
        "PYTHONPATH": ROOT + (os.pathsep + env_path if env_path else ""),
        # no __pycache__ inside the checkout; installed packages still
        # load their existing bytecode
        "PYTHONDONTWRITEBYTECODE": "1",
        # both JVMs spark-submit starts (launcher and driver): temp files
        # here, no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.dont_write_bytecode = True
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_spark(trace_dir: str | None):
    from cc_extract.session import build_session

    conf = {"spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse")}
    if trace_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.rolling.enabled": "false",
            # Spark 4 defaults to zstd, which Python's stdlib cannot read
            "spark.eventLog.compress": "false",
        })
    spark = build_session(cpus=CORES, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (the JVM leaves when the pipe to its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


# ------------------------------------------------------------ workloads

class Extraction:
    """``job.run`` over a directory of WARC segments."""

    def __init__(self, spark, prep: dict, out_dir: str):
        from cc_extract import job, warc

        self.job, self.spark, self.prep = job, spark, prep
        self.out = out_dir
        self.docs = warc.read_warc_dir(spark, prep["input"])
        self.token = f"warc|{prep['input']}"

    def run(self) -> None:
        self.job.run(self.spark, self.docs, self.out, resume=False,
                     input_token=self.token)

    def check(self) -> tuple[int, int, dict]:
        """(attempted, failed, output stats) for the table just written."""
        import pyarrow.parquet as pq

        path = os.path.join(self.out, "extracted")
        t = pq.read_table(path, columns=["url", "fmt", "status",
                                         "text_sha256", "extract_ms"])
        cols = t.to_pydict()
        ref = self.prep["reference"]
        seen: set[str] = set()
        failed = 0
        for url, status, sha in zip(cols["url"], cols["status"],
                                    cols["text_sha256"]):
            if url in seen or ref.get(url) != (status, sha):
                failed += 1  # duplicate, unexpected or wrong row
            seen.add(url)
        failed += sum(1 for u in ref if u not in seen)
        files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                 if f.endswith(".parquet")]
        stats = {
            "fmt": cols["fmt"], "status": cols["status"],
            "extract_ms": cols["extract_ms"], "files": len(files),
            "output_mb": sum(os.path.getsize(f) for f in files) / 1e6,
        }
        return len(ref), min(failed, len(ref)), stats


class Funnel:
    """``textops.curation_funnel`` over the seed's documents table."""

    def __init__(self, spark, prep: dict, out_dir: str):
        self.spark, self.prep = spark, prep
        self.rows = None

    def run(self) -> None:
        from cc_extract import textops

        self.rows = textops.curation_funnel(
            self.spark, self.prep["input"]).collect()

    def check(self) -> tuple[int, int, dict]:
        got = sorted([int(r["stage"]), r["stage_name"], int(r["n_docs"]),
                      int(r["n_tokens"])] for r in self.rows)
        return 1, int(got != self.prep["reference"]), {}


KINDS = {"warc_mixed": Extraction, "curate_funnel": Funnel}


# ----------------------------------------------------------------- runs

def run_pass(spark, work, label: str, tracer) -> dict:
    from host import cpu_jiffies, steal_frac

    spark.sparkContext.setJobGroup(label, label)
    j0 = cpu_jiffies()
    start = time.time()
    t0 = time.perf_counter()
    error = None
    try:
        if tracer:
            with tracer.span(f"pass.{label}"):
                work.run()
        else:
            work.run()
    except Exception:  # a failed pass is counted, the run goes on
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    wall = time.perf_counter() - t0
    rec = {"label": label, "start": start, "end": time.time(), "wall_s": wall,
           "steal_frac": steal_frac(j0, cpu_jiffies()), "error": error}
    spark.sparkContext.setJobGroup("perfbench-idle", "perfbench-idle")
    return rec


def checked(work, rec: dict, n_docs: int) -> dict:
    if rec["error"]:
        rec.update(attempted=n_docs, failed=n_docs, stats={})
        return rec
    try:
        attempted, failed, stats = work.check()
    except Exception:  # unreadable output counts as all documents failed
        print(traceback.format_exc(), file=sys.stderr)
        attempted, failed, stats = n_docs, n_docs, {}
    rec.update(attempted=attempted, failed=failed, stats=stats)
    return rec


def measure(args, names) -> tuple[dict, dict]:
    import host
    import inputs

    t_proc = host.process_start()
    prep = inputs.prepare(args.workload, args.seed,
                          os.path.join(CACHE, "inputs"), ROOT)
    problems = []
    if prep.get("golden_mismatches"):
        problems.append(f"reference differs from the 20k golden on "
                        f"{prep['golden_mismatches']} urls")

    tracer = trace_dir = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()
        trace_dir = os.path.join(CACHE, "eventlog")
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)

    out_dir = os.path.join(CACHE, "out", args.workload)
    t_build = time.perf_counter()
    spark = build_spark(trace_dir)
    build_s = time.perf_counter() - t_build
    try:
        work = KINDS[args.workload](spark, prep, out_dir)
        if tracer:
            selfcheck_jobs = selfcheck_query(spark)
        warmup = [run_pass(spark, work, f"warmup{k}", tracer)
                  for k in range(WARMUP_PASSES)]
        cold = warmup[0]
        if any(w["error"] for w in warmup):
            problems.append("a warm-up pass raised")
        setup_s = time.time() - t_proc - prep["prep_s"]
        passes = []
        window0 = time.perf_counter()
        while (len(passes) < MIN_PASSES
               or time.perf_counter() - window0 < args.seconds):
            rec = run_pass(spark, work, f"p{len(passes)}", tracer)
            passes.append(checked(work, rec, prep["n_docs"]))
        if tracer:
            tracker = spark.sparkContext.statusTracker()
            spark_jobs = {p["label"]: len(tracker.getJobIdsForGroup(p["label"]))
                          for p in warmup + passes}
            spark_jobs["selfcheck"] = selfcheck_jobs
        peaks = host.descendant_peaks()
    finally:
        stop_spark(spark)
    if tracer:
        tracer.uninstall()
    probe = {"width1_s": host.cpu_probe(1), f"width{CORES}_s": host.cpu_probe(CORES)}

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    ok = [p for p in passes if not p["error"]]

    def rate(amount: float) -> float:
        return statistics.median(amount / p["wall_s"] for p in ok) if ok else 0.0

    end_to_end = {
        "setup_s": setup_s,
        "docs_per_s": rate(prep["n_docs"]),
        "mb_per_s": rate(prep["payload_mb"]),
        "correct_share": 1.0 - failed / attempted,
    }
    run = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "prep_s": prep["prep_s"], "build_s": build_s,
        "warmup": [{k: w[k] for k in ("label", "wall_s", "steal_frac")}
                   for w in warmup],
        "passes": [{k: p[k] for k in ("label", "wall_s", "steal_frac",
                                      "attempted", "failed")}
                   for p in passes],
        "cpu_probe_s": probe, "problems": problems,
        "attempted": attempted, "failed": failed,
    }
    if tracer:
        import layers

        tracer.dump(os.path.join(CACHE, f"spans-{args.workload}.json"))
        per_layer = layers.per_layer(
            args.workload, prep, tracer.spans, trace_dir, cold, passes,
            spark_jobs, build_s, peaks, probe, CORES, names)
        problems.extend(per_layer.pop("_problems"))
        run["wall_split"] = per_layer.pop("_wall_split")
        return run, per_layer
    return run, end_to_end


def selfcheck_query(spark) -> int:
    """A tiny fixed query under its own job group; returns how many jobs
    Spark's status tracker saw, which the event-log parser must match."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobGroup("selfcheck", "selfcheck")
    (spark.range(0, 1000, 1, CORES)
     .groupBy((F.col("id") % 7).alias("k")).count().collect())
    sc.setJobGroup("perfbench-idle", "perfbench-idle")
    return len(sc.statusTracker().getJobIdsForGroup("selfcheck"))


def result_json(run: dict, metrics: dict, units: dict) -> str:
    if set(metrics) != set(units):
        raise ValueError(f"measured metrics {sorted(set(metrics) ^ set(units))} "
                         "do not match BENCHMARK.json")
    out = {name: {"value": metrics[name], "unit": unit}
           for name, unit in units.items()}
    correct = run["failed"] == 0 and not run["problems"]
    return json.dumps({"correct": correct, "attempted": run["attempted"],
                       "failed": run["failed"], "metrics": out})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cc_extract", "job.py")):
        print(f"no cc_extract package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    isolate()
    units = metric_units(args.trace)
    run, metrics = measure(args, list(units))
    print(json.dumps({"annotations": run}))
    print(result_json(run, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
