"""Tracing for the benchmark's traced run: spans recorded around calls
into cc_extract's public functions, and Spark's own event log read back
after the session stops.  Nothing here changes cc_extract; the wrappers
are installed on the module attributes the pipeline looks up.

A span is ``(name, start, end, parent)`` with epoch-second times, so it
lines up with the event log's epoch-millisecond job and stage times.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

# (module, attribute) pairs wrapped in the traced run.  ``job.py``
# imports write_partitioned by name, so it is wrapped in the job
# namespace, where job.run looks it up.
WRAPPED = (
    ("cc_extract.job", "run"),
    ("cc_extract.job", "write_partitioned"),
    ("cc_extract.manifest", "input_snapshot_id"),
    ("cc_extract.manifest", "completed_buckets"),
    ("cc_extract.manifest", "write_bucket_manifest"),
    ("cc_extract.warc", "read_warc_dir"),
    ("cc_extract.textops", "curation_funnel"),
)


class Tracer:
    """In-memory span recorder; ``dump`` writes the spans out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._restore: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str) -> None:
        fn = getattr(module, attr)
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, fn))

    def install(self) -> None:
        import importlib

        for mod, attr in WRAPPED:
            self.wrap(importlib.import_module(mod), attr)

    def uninstall(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> dict:
    """Jobs, stages, tasks and SQL plan metrics from an uncompressed,
    non-rolling Spark event log directory (one application)."""
    names = sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    acc_node: dict[int, tuple[str, str]] = {}
    sql_plans: dict[int, dict] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"] / 1000.0, "end": None,
                    "label": props.get("spark.jobGroup.id"),
                    "sql": props.get("spark.sql.execution.id"),
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                s = e["Stage Info"]
                if "Submission Time" not in s:
                    continue  # skipped stage: its shuffle output was reused
                scopes = {json.loads(r["Scope"])["name"].strip()
                          for r in s["RDD Info"] if r.get("Scope")}
                stages.setdefault(s["Stage ID"], {"tasks": []}).update(
                    start=s["Submission Time"] / 1000.0,
                    end=s["Completion Time"] / 1000.0,
                    n_tasks=s["Number of Tasks"], scopes=scopes)
            elif kind == "SparkListenerTaskEnd":
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                stages.setdefault(e["Stage ID"], {"tasks": []})
                stages[e["Stage ID"]]["tasks"].append({
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "acc": {a["ID"]: int(a["Update"])
                            for a in info.get("Accumulables", [])
                            if str(a.get("Update", "")).lstrip("-").isdigit()},
                })
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                plan = e["sparkPlanInfo"]
                sql_plans[e["executionId"]] = plan
                _index_metrics(plan, acc_node)
    for s in stages.values():
        s.setdefault("scopes", set())
    return {"jobs": jobs, "stages": stages, "acc_node": acc_node,
            "sql_plans": sql_plans}


def _index_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"].strip(), m["name"])
    for child in plan.get("children", []):
        _index_metrics(child, out)


def plan_nodes(plan: dict) -> list[dict]:
    out = [plan]
    for child in plan.get("children", []):
        out.extend(plan_nodes(child))
    return out


def union_s(intervals) -> float:
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if e > lo and s < hi]
