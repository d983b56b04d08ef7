"""Per-layer metrics of a traced run, from the spans recorded around
cc_extract's public calls, Spark's event log and the written output.

Every metric is a per-pass value reduced by the median over the timed
passes.  Names are ``<module>.<metric>``; a layer a workload does not run
reads 0.  BENCHMARK.json lists every name.
"""

from __future__ import annotations

import math
import statistics

from tracing import clip, plan_nodes, read_event_log, union_s

FORMATS = ("html", "pdf", "image", "eml", "docx", "other")
STATUSES = ("ok", "ok_ocr", "needs_ocr", "error", "unsupported",
            "unsupported_legacy")

def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, max(0, math.ceil(len(v) * q / 100) - 1))]


def extractor_metrics(stats: dict) -> dict:
    """From the written table's fmt, status and extract_ms columns."""
    out = {}
    by_fmt: dict[str, list[float]] = {f: [] for f in FORMATS}
    for fmt, ms in zip(stats["fmt"], stats["extract_ms"]):
        by_fmt[fmt if fmt in by_fmt else "other"].append(ms)
    for f, ms in by_fmt.items():
        out[f"extractors.{f}.docs"] = len(ms)
        out[f"extractors.{f}.ms_sum"] = sum(ms)
        out[f"extractors.{f}.ms_p50"] = _pct(ms, 50)
        out[f"extractors.{f}.ms_p99"] = _pct(ms, 99)
    out["extractors.ms_p99_95"] = _pct(list(stats["extract_ms"]), 99.95)
    for s in STATUSES:
        out[f"extractors.status.{s}"] = sum(1 for x in stats["status"] if x == s)
    return out


class PassView:
    """One pass's jobs, stages, tasks and spans."""

    def __init__(self, ev: dict, spans: list[dict], p: dict):
        self.p, self.ev = p, ev
        self.lo, self.hi = p["start"], p["end"]
        self.jobs = [j for j in ev["jobs"].values() if j["label"] == p["label"]]
        self.stages = [ev["stages"][s] for j in self.jobs for s in j["stages"]
                       if "start" in ev["stages"].get(s, {})]
        self.tasks = [t for s in self.stages for t in s["tasks"]]
        self.spans = [s for s in spans
                      if s["start"] >= self.lo and s["end"] <= self.hi]

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def node_metric(self, node: str, metric: str) -> int:
        """Sum of task updates of one SQL metric of all *node* operators."""
        ids = {a for a, (n, m) in self.ev["acc_node"].items()
               if n == node and m == metric}
        return sum(v for t in self.tasks for a, v in t["acc"].items() if a in ids)

    def job_intervals(self, inside=None, outside=()) -> list[tuple]:
        out = []
        for j in self.jobs:
            if inside and not _within(j, inside):
                continue
            if any(_within(j, o) for o in outside):
                continue
            out.append((j["start"], j["end"]))
        return clip(out, self.lo, self.hi)


def _within(job: dict, span: dict) -> bool:
    return span["start"] <= job["start"] <= span["end"]


def iv(stages: list[dict]) -> list[tuple[float, float]]:
    return [(s["start"], s["end"]) for s in stages]


def _stages_in(view: PassView, span: dict) -> list[dict]:
    ids = {s for j in view.jobs if _within(j, span) for s in j["stages"]}
    return [view.ev["stages"][s] for s in ids
            if "start" in view.ev["stages"].get(s, {})]


def extraction_pass(view: PassView, cores: int) -> tuple[dict, list]:
    """Metrics of one job.run pass, and its layers for the wall split."""
    writes = sorted(view.named("job.write_partitioned"), key=lambda s: s["start"])
    if len(writes) != 2:
        raise ValueError(f"expected 2 writes in {view.p['label']}, got {len(writes)}")
    extract, metrics = writes
    ext_stages = _stages_in(view, extract)
    udf = [s for s in ext_stages if "ArrowEvalPython" in s["scopes"]]
    dedup = [s for s in ext_stages if "Window" in s["scopes"]]
    write = [s for s in ext_stages if "WriteFiles" in s["scopes"]]
    giants = [s for s in ext_stages if s not in udf + dedup + write]
    udf_tasks = [t["run_s"] for s in udf for t in s["tasks"]]
    udf_task_s = sum(udf_tasks)
    udf_stage_s = union_s(iv(udf))
    extract_ms = sum(view.p["stats"].get("extract_ms", []))
    ext_jobs = [j for j in view.jobs if _within(j, extract)]
    last_job_end = max((j["end"] for j in ext_jobs), default=extract["end"])
    sql_ids = {j["sql"] for j in ext_jobs if j["sql"] is not None}
    scans = sum(1 for i in sql_ids for n in plan_nodes(view.ev["sql_plans"][int(i)])
                if n["nodeName"].startswith("Scan "))
    manifest = [s for s in view.spans if s["name"].startswith("manifest.")]
    metric_tasks = sum(s["n_tasks"] for s in _stages_in(view, metrics)
                       if "WriteFiles" in s["scopes"])
    runs = view.named("job.run")
    stats_iv = view.job_intervals(inside=runs[0], outside=(extract, metrics))
    out = {
        # one binaryFile row per segment file read
        "warc.segment_reads": view.node_metric("Scan binaryFile", "number of output rows"),
        # the giants branch parses every segment and extracts nothing
        # else, so its task time is the cost of one parse pass
        "warc.parse_s": sum(t["run_s"] for s in giants
                            if "MapInPandas" in s["scopes"] for t in s["tasks"]),
        "warc.records": view.node_metric("MapInPandas", "number of output rows"),
        "job.input_scans": scans,
        "job.udf_stage_s": udf_stage_s,
        "job.udf_task_s": udf_task_s,
        "job.udf_core_busy": udf_task_s / (cores * udf_stage_s) if udf_stage_s else 0.0,
        "job.udf_task_skew": (max(udf_tasks) / statistics.median(udf_tasks)
                              if udf_tasks and statistics.median(udf_tasks) else 0.0),
        "job.udf_overhead_frac": 1.0 - extract_ms / 1e3 / udf_task_s if udf_task_s else 0.0,
        "job.arrow_mb_sent": view.node_metric("ArrowEvalPython", "data sent to Python workers") / 1e6,
        "job.arrow_mb_received": view.node_metric("ArrowEvalPython", "data returned from Python workers") / 1e6,
        "job.giants_branch_s": union_s(iv(giants)),
        "job.dedup_s": union_s(iv(dedup)),
        "job.shuffle_mb": sum(t["shuffle_write"] for t in view.tasks) / 1e6,
        "job.spill_mb": sum(t["spill"] for t in view.tasks) / 1e6,
        "job.stats_s": union_s(stats_iv),
        "job.metrics_write_s": metrics["end"] - metrics["start"],
        "job.metrics_write_tasks": metric_tasks,
        "tableio.write_s": union_s(iv(write)) + max(0.0, extract["end"] - last_job_end),
        "tableio.files": view.p["stats"].get("files", 0),
        "tableio.output_mb": view.p["stats"].get("output_mb", 0.0),
        "manifest.writes": len(view.named("manifest.write_bucket_manifest")),
        "manifest.s": sum(s["end"] - s["start"] for s in manifest),
    }
    if view.p["stats"]:
        out.update(extractor_metrics(view.p["stats"]))
    # Wall split: every instant of the pass goes to the first layer that
    # covers it; what no layer covers is the unattributed remainder.
    layers = [
        ("manifest", [(s["start"], s["end"]) for s in manifest]),
        ("metrics_write", [(metrics["start"], metrics["end"])]),
        ("udf", iv(udf)), ("dedup", iv(dedup)), ("write", iv(write)),
        ("giants", iv(giants)),
        ("extract_write", [(extract["start"], extract["end"])]),
        ("stats", stats_iv),
    ]
    return out, layers


def funnel_pass(view: PassView, cores: int) -> tuple[dict, list]:
    """Metrics of one curation_funnel pass, and its layers."""
    durations = [j["end"] - j["start"] for j in view.jobs]
    wall = view.hi - view.lo
    out = {
        "textops.jobs_per_pass": len(view.jobs),
        "textops.stages_per_pass": len(view.stages),
        "textops.tasks_per_pass": len(view.tasks),
        "textops.core_busy": sum(t["run_s"] for t in view.tasks) / (cores * wall),
        "textops.shuffle_mb": sum(t["shuffle_write"] for t in view.tasks) / 1e6,
        "textops.job_s_p50": statistics.median(durations) if durations else 0.0,
    }
    layers = [
        ("textops_jobs", view.job_intervals()),
        ("textops_plan", [(s["start"], s["end"])
                          for s in view.named("textops.curation_funnel")]),
    ]
    return out, layers


def wall_split(lo: float, hi: float, layers) -> dict[str, float]:
    """Seconds of [lo, hi] credited to each layer, first match wins."""
    points = sorted({lo, hi} | {t for _, iv in layers for s, e in iv
                                for t in (s, e) if lo < t < hi})
    split = {name: 0.0 for name, _ in layers}
    split["unattributed"] = 0.0
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        name = next((n for n, iv in layers
                     if any(s <= mid < e for s, e in iv)), "unattributed")
        split[name] += b - a
    return split


def per_layer(workload: str, prep: dict, spans: list[dict], log_dir: str,
              cold: dict, passes: list[dict], spark_jobs: dict[str, int],
              build_s: float, peaks: dict, probe: dict, cores: int,
              names: list[str]) -> dict:
    ev = read_event_log(log_dir)
    problems = []
    for label, n in spark_jobs.items():
        parsed = sum(1 for j in ev["jobs"].values() if j["label"] == label)
        if parsed != n:
            problems.append(f"event log has {parsed} jobs for {label}, "
                            f"Spark's status tracker {n}")
    rows = []
    splits = []
    for p in passes:
        if p["error"]:
            continue  # counted as failed; its layers are incomplete
        view = PassView(ev, spans, p)
        fn = funnel_pass if workload == "curate_funnel" else extraction_pass
        m, layers = fn(view, cores)
        wall = p["end"] - p["start"]
        split = wall_split(p["start"], p["end"], layers)
        splits.append({"label": p["label"], "wall_s": wall, **split})
        m.update({
            "spark.jobs_per_pass": len(view.jobs),
            "spark.driver_gap_s": wall - union_s(view.job_intervals()),
            "spark.core_idle_s": cores * wall - sum(
                t["finish"] - t["launch"] for t in view.tasks),
            "trace.pass_s": p["wall_s"],
            "trace.docs_per_s": prep["n_docs"] / p["wall_s"],
            "trace.unattributed_s": split["unattributed"],
            "trace.attributed_frac": 1.0 - split["unattributed"] / wall,
            "host.steal_frac": p["steal_frac"],
        })
        rows.append(m)
    metrics = {name: 0.0 for name in names}
    for name in {k for r in rows for k in r}:
        if name not in metrics:
            problems.append(f"{name} is measured but not in BENCHMARK.json")
            continue
        metrics[name] = statistics.median(r[name] for r in rows if name in r)
    metrics.update({
        "session.build_s": build_s,
        "session.cold_pass_s": cold["wall_s"],
        "session.jvm_rss_peak_mb": peaks["java"],
        "job.worker_rss_peak_mb": peaks["python"],
        "host.cpu_probe_1_s": probe["width1_s"],
        "host.cpu_probe_4_s": probe[f"width{cores}_s"],
    })
    metrics["_problems"] = problems
    metrics["_wall_split"] = splits
    return metrics
