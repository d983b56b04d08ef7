"""WARC/1.0 container support — the actual Common Crawl interchange
format (ISO 28500).  The reference pipeline consumes documents the crawl
already unpacked; this module closes the loop upstream of it: write and
read real ``.warc.gz`` segments so the engine can ingest a crawl drop
directly instead of requiring a pre-exploded table.

Format notes (all from the public ISO 28500 spec + the Common Crawl
convention, NOT from any reference code):

- A ``.warc.gz`` file is a sequence of INDEPENDENT gzip members, one per
  WARC record — that is what makes the format splittable-ish at scale:
  a reader can start at any member boundary without history.  We honor
  it on both sides (one ``gzip.compress`` per record; the reader walks
  members with ``zlib.decompressobj(wbits=31)`` and ``unused_data``).
- A record is ``WARC/1.0 CRLF (header CRLF)* CRLF block CRLF CRLF``
  where ``Content-Length`` gives the exact block byte length.
- ``WARC-Type: response`` records carry a full HTTP/1.1 message as the
  block (status line, headers, CRLF CRLF, body); the page bytes are the
  HTTP body.  ``warcinfo`` / ``request`` / ``metadata`` records are
  structural and skipped by extraction (but counted).

Scale shape: one WARC segment ≈ 1 GB in a real crawl, so the Spark
operator maps ONE segment per input row through ``job.rows_df`` (the
one Python row pass, a single ``mapInPandas``) — per-segment
imperative parsing is the honest grain (gzip members are a sequential
chain within a segment), and parallelism comes from the
number of segments (tens of thousands per crawl), not from splitting a
member chain.  All outputs are plain columns; nothing leaves the
executor except the parsed rows.
"""

from __future__ import annotations

import gzip
import hashlib
import zlib
from datetime import datetime, timezone
from typing import Iterator

CRLF = b"\r\n"
_DATE_FMT = "%Y-%m-%dT%H:%M:%SZ"


# ------------------------------------------------------------------ writer

def _warc_date(dt: datetime) -> str:
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt.strftime(_DATE_FMT)


def _record_id(seed: str) -> str:
    """Deterministic record id (sha1 of *seed*), so corpus generation
    stays a pure function and cross-references are real."""
    return "<urn:uuid:" + hashlib.sha1(seed.encode("utf-8")).hexdigest() + ">"


def _frame(fields: list[tuple[str, str]], block: bytes) -> bytes:
    """The one WARC/1.0 record framer (spec §4): version line, the
    ordered named fields, ``Content-Length``, then CRLF CRLF block
    CRLF CRLF."""
    lines = [b"WARC/1.0"]
    lines += [f"{k}: {v}".encode("utf-8") for k, v in fields]
    lines.append(b"Content-Length: " + str(len(block)).encode("ascii"))
    return CRLF.join(lines) + CRLF + CRLF + block + CRLF + CRLF


def _segment(segment: str, records) -> bytes:
    """The one segment writer: the warcinfo record, then the uncompressed
    *records*, each as its own gzip member (the Common Crawl layout;
    mtime=0 keeps the bytes deterministic)."""
    out = [gzip.compress(build_warcinfo_record(segment), mtime=0)]
    out += [gzip.compress(rec, mtime=0) for rec in records]
    return b"".join(out)


def build_response_record(url: str, dt: datetime, payload: bytes,
                          content_type: str = "application/octet-stream") -> bytes:
    """One uncompressed WARC/1.0 response record (spec §4): the block is
    a full HTTP/1.1 response message whose body is *payload*."""
    http = (
        b"HTTP/1.1 200 OK" + CRLF
        + b"Content-Type: " + content_type.encode("ascii") + CRLF
        + b"Content-Length: " + str(len(payload)).encode("ascii") + CRLF
        + CRLF
        + payload
    )
    return _frame([
        ("WARC-Type", "response"),
        ("WARC-Record-ID", _record_id(url + _warc_date(dt))),
        ("WARC-Date", _warc_date(dt)),
        ("WARC-Target-URI", url),
        ("Content-Type", "application/http; msgtype=response"),
    ], http)


def build_conversion_record(url: str, dt: datetime, text: str) -> bytes:
    """One uncompressed WARC/1.0 *conversion* record — the record type
    WET files carry (spec §6.8: content converted from another record,
    here extracted plain text).  Block is the utf-8 text, Content-Type
    text/plain."""
    return _frame([
        ("WARC-Type", "conversion"),
        ("WARC-Record-ID", _record_id("conversion:" + url + _warc_date(dt))),
        ("WARC-Date", _warc_date(dt)),
        ("WARC-Target-URI", url),
        ("Content-Type", "text/plain; charset=utf-8"),
    ], text.encode("utf-8"))


def build_wat_json(url: str, dt: datetime, payload: bytes) -> str:
    """The deterministic JSON block of one WAT *metadata* record — the
    per-page metadata sidecar Common Crawl publishes next to its WARC
    segments (Envelope / WARC-Header-Metadata / Payload-Metadata shape,
    hyphenated keys per that public convention).  For html-routed pages
    the HTTP-Response-Metadata carries ``HTML-Metadata`` with the five
    head fields (html_meta, nulls omitted) and the full document-order
    ``Links`` list (html_links) — so BOTH page-metadata surfaces ride
    the same artifact.  Non-html payloads get the envelope only.

    Key order is sorted and separators are minimal, so the string — and
    therefore the record bytes and the segment digest — is a pure
    function of (url, dt, payload)."""
    import json

    from .extractors.html import html_links, html_meta

    env: dict = {
        "Format": "WARC",
        "WARC-Header-Metadata": {
            "WARC-Date": _warc_date(dt),
            "WARC-Target-URI": url,
            "WARC-Type": "response",
        },
        "Payload-Metadata": {
            "Actual-Content-Length": len(payload),
            "Block-Digest": "sha256:" + hashlib.sha256(payload).hexdigest(),
        },
    }
    links = html_links(payload, url)
    if links is not None:
        meta = html_meta(payload, url) or {}
        head = {k: v for k, v in meta.items() if v is not None}
        env["Payload-Metadata"]["HTTP-Response-Metadata"] = {
            "HTML-Metadata": {
                "Head": head,
                "Links": [{"path": "A@/href", "url": u} for u in links],
            }
        }
    return json.dumps({"Envelope": env}, sort_keys=True,
                      separators=(",", ":"), ensure_ascii=False)


def build_metadata_record(url: str, dt: datetime, wat_json: str) -> bytes:
    """One uncompressed WARC/1.0 *metadata* record (spec §6.9) carrying a
    WAT JSON block.  ``WARC-Refers-To`` is the id of the response record
    the metadata describes."""
    return _frame([
        ("WARC-Type", "metadata"),
        ("WARC-Record-ID", _record_id("metadata:" + url + _warc_date(dt))),
        ("WARC-Refers-To", _record_id(url + _warc_date(dt))),
        ("WARC-Date", _warc_date(dt)),
        ("WARC-Target-URI", url),
        ("Content-Type", "application/json"),
    ], wat_json.encode("utf-8"))


def build_warcinfo_record(segment: str) -> bytes:
    """The leading warcinfo record every Common Crawl segment carries."""
    body = (
        b"software: cc-extract-corpusgen" + CRLF
        + b"format: WARC File Format 1.0" + CRLF
        + b"description: deterministic synthetic segment " + segment.encode("ascii") + CRLF
    )
    return _frame([
        ("WARC-Type", "warcinfo"),
        ("WARC-Record-ID", _record_id("warcinfo:" + segment)),
        ("WARC-Date", "2025-01-01T00:00:00Z"),
        ("Content-Type", "application/warc-fields"),
    ], body)


def build_revisit_record(url: str, dt: datetime, digest_hex: str) -> bytes:
    """One uncompressed WARC/1.0 *revisit* record (spec §6.7.2,
    ``identical-payload-digest`` profile) — what a crawler writes instead
    of re-storing an unchanged page: no payload, just the digest of the
    content it re-observed plus the uri it refers back to.  Block is
    empty; the digest rides ``WARC-Payload-Digest`` (sha256, labeled)."""
    return _frame([
        ("WARC-Type", "revisit"),
        ("WARC-Record-ID", _record_id("revisit:" + url + _warc_date(dt))),
        ("WARC-Profile", "http://netpreserve.org/warc/1.0/revisit/"
                         "identical-payload-digest"),
        ("WARC-Refers-To-Target-URI", url),
        ("WARC-Payload-Digest", "sha256:" + digest_hex),
        ("WARC-Date", _warc_date(dt)),
        ("WARC-Target-URI", url),
    ], b"")


def write_warc_gz(records, segment: str = "seg0") -> bytes:
    """Serialize (url, datetime, payload) triples as a ``.warc.gz``
    segment: a warcinfo member followed by one gzip member PER response
    record."""
    return _segment(segment, (build_response_record(url, dt, payload)
                              for url, dt, payload in records))


def write_wet_gz(records, segment: str = "seg0") -> bytes:
    """Serialize (url, datetime, text) triples as a ``.wet.gz`` segment —
    one conversion record per triple, the layout Common Crawl publishes
    its extracted-text sidecar files in."""
    return _segment(segment, (build_conversion_record(url, dt, text)
                              for url, dt, text in records))


def write_wat_gz(records, segment: str = "seg0") -> bytes:
    """Serialize (url, datetime, wat_json) triples as a ``.wat.gz``
    segment — one metadata record per triple, the layout Common Crawl
    publishes its metadata sidecar files in."""
    return _segment(segment, (build_metadata_record(url, dt, wat_json)
                              for url, dt, wat_json in records))


def write_warc_gz_dedup(records, segment: str = "seg0") -> bytes:
    """Storage-deduplicating twin of write_warc_gz: the FIRST occurrence
    of each (url, payload-digest) pair in *records* order becomes a full
    response record; every later identical re-crawl of the same url
    becomes a revisit record (spec §6.7.2) — the crawl-time dedup real
    archives use so an unchanged page costs ~300 bytes instead of its
    full body on every visit.  Dedup scope is the segment, which is the
    honest boundary: segments are independent gzip chains, and the
    caller's url-hash segmenting puts all crawls of a url in one
    segment.  Caller supplies records in (url, ts) order so "first"
    means earliest crawl."""
    def recs():
        seen: set[tuple[str, str]] = set()
        for url, dt, payload in records:
            digest = hashlib.sha256(payload).hexdigest()
            if (url, digest) in seen:
                yield build_revisit_record(url, dt, digest)
            else:
                seen.add((url, digest))
                yield build_response_record(url, dt, payload)

    return _segment(segment, recs())


# ------------------------------------------------------------------ reader

class WarcError(ValueError):
    pass


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress a concatenation of gzip members one member at a time.
    Raises WarcError on a corrupt/truncated member (the caller decides
    how much of the segment survives)."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data[pos:])
        except zlib.error as e:
            raise WarcError(f"corrupt gzip member at offset {pos}: {e}") from e
        if not d.eof:
            raise WarcError(f"truncated gzip member at offset {pos}")
        yield chunk
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:  # defensive: zero-length member cannot happen in gzip
            raise WarcError(f"non-advancing gzip member at offset {pos}")
        pos += consumed


def _parse_record(raw: bytes) -> dict:
    """Parse one uncompressed WARC record into header dict + block."""
    sep = raw.find(CRLF + CRLF)
    if sep < 0:
        raise WarcError("no header/block separator")
    head_lines = raw[:sep].split(CRLF)
    if not head_lines or not head_lines[0].startswith(b"WARC/"):
        raise WarcError("missing WARC/ version line")
    headers: dict[str, str] = {}
    for line in head_lines[1:]:
        k, _, v = line.partition(b":")
        if not _:
            raise WarcError(f"malformed header line {line[:40]!r}")
        headers[k.strip().decode("ascii", "replace").lower()] = (
            v.strip().decode("utf-8", "replace")
        )
    try:
        clen = int(headers["content-length"])
    except (KeyError, ValueError) as e:
        raise WarcError("bad or missing Content-Length") from e
    block = raw[sep + 4 : sep + 4 + clen]
    if len(block) != clen:
        raise WarcError("block shorter than Content-Length")
    return {"headers": headers, "block": block}


def _parse_http_response(block: bytes) -> tuple[int, bytes]:
    """Split an HTTP/1.1 response message into (status, body)."""
    sep = block.find(CRLF + CRLF)
    if sep < 0:
        raise WarcError("http message without header terminator")
    lines = block[:sep].split(CRLF)
    parts = lines[0].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise WarcError("bad http status line")
    try:
        status = int(parts[1])
    except ValueError as e:
        raise WarcError("bad http status code") from e
    return status, block[sep + 4 :]


def _rec_row(rec_type, url=None, warc_ts=None, payload=None,
             http_status=None, error=None, payload_digest=None) -> dict:
    """Uniform record-row shape shared by every iter_warc_gz yield."""
    return {"rec_type": rec_type, "url": url, "warc_ts": warc_ts,
            "payload": payload, "http_status": http_status,
            "error": error, "payload_digest": payload_digest}


def iter_warc_gz(data: bytes):
    """Yield one dict per WARC record in a ``.warc.gz`` segment:
    ``{'rec_type', 'url', 'warc_ts', 'payload', 'http_status', 'error',
    'payload_digest'}``.  metadata/conversion records carry the block as
    payload; revisit records carry no payload but their
    ``WARC-Payload-Digest`` (sha256 label stripped) — the pointer a
    resolution join dereferences.  Other non-response records yield with
    payload=None; a corrupt member or record yields a single
    ``rec_type='corrupt'`` row carrying the error and STOPS (members
    form a byte chain — after a corrupt member the next boundary is
    unknowable), which matches how a crawl reader quarantines a bad
    segment tail."""
    try:
        for raw in _gzip_members(data):
            try:
                rec = _parse_record(raw)
            except WarcError as e:
                yield _rec_row("corrupt", error=str(e))
                return
            h = rec["headers"]
            rtype = h.get("warc-type", "unknown")
            uri = h.get("warc-target-uri")
            if rtype in ("metadata", "conversion", "revisit") and uri:
                # WAT / WET / revisit: the block IS the payload (no HTTP
                # message; empty for revisit).  Target-less ones stay
                # structural via the generic branch below.
                try:
                    ts = datetime.strptime(h.get("warc-date", ""), _DATE_FMT)
                except ValueError as e:
                    yield _rec_row("corrupt", url=uri, error=str(e))
                    continue
                digest = h.get("warc-payload-digest")
                if digest and digest.startswith("sha256:"):
                    digest = digest[len("sha256:"):]
                yield _rec_row(
                    rtype, url=uri, warc_ts=ts,
                    payload=None if rtype == "revisit" else rec["block"],
                    payload_digest=digest,
                )
                continue
            if rtype != "response":
                yield _rec_row(rtype, url=uri)
                continue
            try:
                ts = datetime.strptime(h.get("warc-date", ""), _DATE_FMT)
                status, body = _parse_http_response(rec["block"])
            except (WarcError, ValueError) as e:
                yield _rec_row("corrupt", url=uri, error=str(e))
                continue
            yield _rec_row("response", url=uri, warc_ts=ts, payload=body,
                           http_status=status)
    except WarcError as e:
        yield _rec_row("corrupt", error=str(e))


# ------------------------------------------------------------- Spark side

def read_warc_dir(spark, path: str):
    """Load a directory/glob of ``.warc.gz`` segment files as a documents
    DataFrame ``(url, warc_ts, html)`` — the pipeline's input contract —
    via Spark's binaryFile source (one row per segment file, which is the
    correct indivisible unit; see records_df)."""
    return _segment_documents(spark.read.format("binaryFile").load(path))


def read_warc_stream(spark, path: str):
    """Streaming twin of read_warc_dir: a crawl-drop directory watched as
    a Structured Streaming file source (``readStream.format("binaryFile")``)
    — new ``.warc.gz`` segments appearing in *path* flow through the SAME
    _segment_documents reader into the pipeline's (url, warc_ts, html)
    contract.  Per-segment grain is unchanged: each micro-batch holds
    whole segments, so exactly-once at the file level comes from the file
    source's own checkpointed file index."""
    return _segment_documents(
        spark.readStream.format("binaryFile")
        # streaming file sources require an explicit schema; binaryFile's
        # is fixed by the format
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", "*.warc.gz")
        .load(path)
    )


def _segment_documents(files):
    """binaryFile rows ``(path, content)``, one per segment, -> documents
    ``(url, warc_ts, html)``.  Filters to response records:
    warcinfo/request/metadata are structural, and corrupt rows are
    dropped here because the pipeline quarantines per-document, not
    per-container (a corrupt segment tail has no url to key on — its
    count is observable via records_df directly)."""
    from pyspark.sql import functions as F

    seg = files.select(
        F.xxhash64("path").alias("seg_id"),
        F.col("content").alias("warc"),
    )
    return (
        records_df(seg).filter(F.col("rec_type") == "response")
        .select("url", "warc_ts", F.col("payload").alias("html"))
    )


_RECORD_DDL = (
    "rec_type string, url string, warc_ts timestamp, payload binary, "
    "http_status int, error string, payload_digest string"
)
RECORDS_SCHEMA = "seg_id long, " + _RECORD_DDL


def records_df(seg_df):
    """Explode a DataFrame of ``(seg_id long, warc binary)`` segments into
    per-record rows (RECORDS_SCHEMA): ``iter_warc_gz`` over each segment
    in ``job.rows_df``, the one Python row pass.  The per-SEGMENT grain
    is the scale contract: a real crawl has O(10^4-10^5) segments of
    ~1 GB, so partition count tracks segment count and no executor ever
    holds more than a segment."""
    from .job import rows_df

    return rows_df(seg_df, ("seg_id",), ("warc",), iter_warc_gz, _RECORD_DDL)


def segment_stats(blob: bytes) -> dict:
    """Per-segment storage accounting — the row a crawl's storage
    planner reads per ``.warc.gz`` artifact: record counts by type,
    compressed segment size, recovered payload bytes, and the revisit
    savings the §6.7.2 dedup bought.  Normative implementation shared
    by the Spark path and the oracle table (same pattern as the mm row
    rules), so writer bytes, reader walk and dedup policy are all
    pinned by one hash row per segment."""
    n_response = n_revisit = n_other = 0
    payload_bytes = 0
    for r in iter_warc_gz(blob):
        t = r["rec_type"]
        if t == "response":
            n_response += 1
            payload_bytes += len(r["payload"] or b"")
        elif t == "revisit":
            n_revisit += 1
        else:
            n_other += 1
    seg_bytes = len(blob)
    return {
        "n_response": n_response,
        "n_revisit": n_revisit,
        "n_other": n_other,
        "seg_bytes": seg_bytes,
        "payload_bytes": payload_bytes,
        "compression_ratio": round(payload_bytes / seg_bytes, 6)
        if seg_bytes else None,
    }
