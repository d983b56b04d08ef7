"""Distributed HTTP fetch source — SURVEY §2 S3 (the reference's
``uri_read`` handles ``http(s)://`` document URIs; here the fetch is a
first-class distributed source instead of a per-Lambda download).

Spark-first shape:

- The url list is a DataFrame; the fetch itself is ONE Arrow-batched
  ``mapInPandas`` pass — no driver-side loop, no collect.
- **Politeness by construction**: urls are repartitioned on
  ``domain`` so every url of a host lands in exactly one partition,
  then sorted within partitions — a per-domain ``per_domain_delay`` is
  enforced with purely partition-local state (a last-hit clock per
  domain).  No cluster-wide coordination is needed because the
  domain→partition mapping IS the mutual exclusion.
- **Bounded everything**: connect/read timeout, byte cap (oversized
  bodies are truncated and flagged, never ballooned into memory),
  and every failure mode lands in an (status, error) row — the fetch
  NEVER raises, mirroring the extractors' D4 contract.

At 100 TB scale this is the frontier-fetch stage of a crawler: the
repartition is the only shuffle (url strings, not payloads), fetches
stream out of each partition at the politeness rate, and the result
lands directly in the binary ``payload`` column the extraction
pipeline consumes (cc_extract.job.pipeline_df).

No external network is assumed anywhere in the tests: the contract is
pinned against a loopback ``http.server`` fixture (tests/test_fetch.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

FETCH_SCHEMA = (
    "url string, domain string, status int, payload binary, "
    "n_bytes long, truncated boolean, error string"
)

DEFAULT_TIMEOUT = 10.0
DEFAULT_MAX_BYTES = 16 * 1024 * 1024


def fetch_one(url: str, timeout: float = DEFAULT_TIMEOUT,
              max_bytes: int = DEFAULT_MAX_BYTES) -> dict:
    """Normative single-url fetch: returns a FETCH_SCHEMA-shaped dict,
    never raises.  Body reads are capped at max_bytes (+1 probe byte to
    detect truncation) so a hostile endpoint cannot balloon executor
    memory."""
    import socket
    import urllib.error
    import urllib.request

    out = {"url": url, "status": None, "payload": None, "n_bytes": 0,
           "truncated": False, "error": None}
    # Scheme allowlist (round-6 advice, medium): a frontier consumes
    # UNTRUSTED url lists — without this, a file:// entry reads local
    # files into the payload column and ftp:// reaches arbitrary ports.
    # Only http(s) is a crawl fetch; anything else is an error ROW (the
    # never-raises D4 contract), not a request.
    scheme = url.split(":", 1)[0].lower() if ":" in url else ""
    if scheme not in ("http", "https"):
        out["error"] = "scheme_not_allowed"
        return out
    try:
        req = urllib.request.Request(
            url, headers={"User-Agent": "cc-extract-fetch/1.0"})
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            body = resp.read(max_bytes + 1)
            if len(body) > max_bytes:
                body = body[:max_bytes]
                out["truncated"] = True
            out["status"] = int(resp.status)
            out["payload"] = body
            out["n_bytes"] = len(body)
    except urllib.error.HTTPError as e:  # non-2xx IS a result, not a crash
        out["status"] = int(e.code)
        out["error"] = f"http_{e.code}"
    except (urllib.error.URLError, socket.timeout, TimeoutError) as e:
        out["error"] = f"unreachable: {getattr(e, 'reason', e)}"[:200]
    except Exception as e:  # noqa: BLE001 — D4: a fetch source never raises
        out["error"] = f"{type(e).__name__}: {e}"[:200]
    return out


def domain_col(url_col="url"):
    """Host part of the url, native (no UDF): scheme://HOST[:port]/..."""
    return F.lower(F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/:]+)", 1))


def fetch_df(
    spark,
    urls: DataFrame,
    timeout: float = DEFAULT_TIMEOUT,
    max_bytes: int = DEFAULT_MAX_BYTES,
    per_domain_delay: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """urls(url string, ...) -> FETCH_SCHEMA rows, one per input url.

    The repartition on ``domain`` gives each host a single partition
    (politeness without coordination); within a partition urls fetch in
    sorted order with ``per_domain_delay`` seconds enforced between
    same-domain hits.  Payload bytes are born IN the fetch partition —
    they never shuffle; downstream extraction (job.extract_df) moves
    only the giants."""
    n = partitions or spark.sparkContext.defaultParallelism
    with_dom = urls.select("url").withColumn("domain", domain_col())
    placed = with_dom.repartition(n, "domain").sortWithinPartitions(
        "domain", "url")

    def fetch_batches(batches):
        import pandas as pd

        last_hit: dict[str, float] = {}
        for pdf in batches:
            rows = []
            for url, dom in zip(pdf["url"], pdf["domain"]):
                if per_domain_delay > 0:
                    prev = last_hit.get(dom)
                    now = time.monotonic()
                    if prev is not None and now - prev < per_domain_delay:
                        time.sleep(per_domain_delay - (now - prev))
                    last_hit[dom] = time.monotonic()
                r = fetch_one(url, timeout=timeout, max_bytes=max_bytes)
                r["domain"] = dom
                rows.append(r)
            yield pd.DataFrame(
                rows, columns=["url", "domain", "status", "payload",
                               "n_bytes", "truncated", "error"])

    return placed.mapInPandas(fetch_batches, FETCH_SCHEMA)
