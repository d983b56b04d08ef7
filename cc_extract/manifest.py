"""M1–M4 — per-bucket completion manifests, idempotent resume, lineage,
failure metrics (SURVEY.md §2.6).

The reference had no resume: a failed Lambda invocation was re-driven
manually by the invoker loop [R: ⚠, SURVEY.md §3.3].  The north rule makes
checkpointed resume a requirement [D: BASELINE.json north_rule "resumable
from checkpoint with per-partition lineage + metrics"].

Unit of resume = *bucket* (``pmod(xxhash64(url), n_buckets)``): content-
addressed, independent of execution parallelism, stable across reruns.
One JSON manifest per completed bucket, written atomically AFTER the
bucket's parquet partition committed; a rerun collects completed bucket
ids driver-side and filters them with a static ``~isin`` predicate so the
skip is a Catalyst filter (and, on real Iceberg with bucket-transform
partitioning, straight partition pruning), never a join (SURVEY.md §4.2).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from . import __version__
from .tableio import atomic_write_json, local_path, read_json_dir

MANIFEST_DIR = "manifest"


def job_id(config: dict) -> str:
    """Lineage id (M4): content-hash of config + code version — every
    output row traces to (job_id, bucket)."""
    payload = json.dumps(config, sort_keys=True) + f"|cc_extract=={__version__}"
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def input_snapshot_id(docs, inline_token: str | None = None) -> str:
    """M4 input lineage: identity of the input table *version* the job
    read, so every output row traces to (job_id, snapshot_id, bucket).

    File-based inputs (the production shape): hash of the sorted file
    listing plus per-file sizes — the emulation of an Iceberg snapshot id
    (on real Iceberg this is ``table.currentSnapshot().snapshotId()``; the
    file listing IS what that snapshot pins).  Non-file inputs (inline
    DataFrames, the synthetic generator) have no durable version to point
    at, so the id hashes the schema plus *inline_token* — a caller-supplied
    identity for the generated content (e.g. ``f"{n_docs}|{seed}"``).
    Without a token, two different inline corpora with the same schema
    share an id and the resume-refusal guard cannot tell them apart; pass
    one whenever the generator takes parameters."""
    files = sorted(docs.inputFiles())
    if not files:
        sig = docs.schema.simpleString() + "|" + (inline_token or "")
        return "inline:" + hashlib.sha256(sig.encode()).hexdigest()[:12]
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        local = local_path(f)
        if local is not None:
            h.update(str(os.path.getsize(local)).encode())
    return h.hexdigest()[:16]


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, MANIFEST_DIR)


def completed_buckets(out_dir: str) -> dict[int, dict]:
    """bucket id -> manifest row, for all completed buckets."""
    rows = read_json_dir(manifest_path(out_dir), "bucket_")
    return {int(r["bucket"]): r for r in rows}


def write_bucket_manifest(out_dir: str, row: dict) -> None:
    d = manifest_path(out_dir)
    os.makedirs(d, exist_ok=True)
    row = dict(row)
    row.setdefault("completed_at", time.time())
    atomic_write_json(os.path.join(d, f"bucket_{int(row['bucket']):06d}.json"), row)

