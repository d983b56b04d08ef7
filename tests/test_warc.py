"""WARC/1.0 container tests (cc_extract/warc.py).

The contract query cc_warc_roundtrip proves writer->reader losslessness
against the generator-direct oracle; these tests pin each side
INDEPENDENTLY so a shared writer/reader quirk cannot hide: the reader is
fed hand-transcribed spec bytes (ISO 28500 §4 record grammar, Common
Crawl member layout) that the writer never produced, and the writer's
exact output bytes are asserted against the grammar, not just re-parsed.
"""

from __future__ import annotations

import gzip
from datetime import datetime

import pytest

from cc_extract import warc as W

# --- a hand-transcribed response record (NOT produced by the writer) ----
# Grammar from ISO 28500: version line, named fields, CRLF CRLF, block of
# exactly Content-Length bytes, CRLF CRLF.  The block is an HTTP/1.1
# response whose body is b"hello warc\n" (11 bytes); HTTP head is
# "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" = 45 bytes.
_BODY = b"hello warc\n"
_HTTP = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + _BODY
_HAND_RECORD = (
    b"WARC/1.0\r\n"
    b"WARC-Type: response\r\n"
    b"WARC-Date: 2017-03-06T04:03:53Z\r\n"
    b"WARC-Record-ID: <urn:uuid:aa0c8b0e-37e9-4528-9292-7d25b04e7a48>\r\n"
    b"WARC-Target-URI: http://example.com/a\r\n"
    b"Content-Type: application/http; msgtype=response\r\n"
    + b"Content-Length: " + str(len(_HTTP)).encode() + b"\r\n"
    b"\r\n" + _HTTP + b"\r\n\r\n"
)


def test_hand_transcribed_record_parses():
    out = list(W.iter_warc_gz(gzip.compress(_HAND_RECORD)))
    assert len(out) == 1
    r = out[0]
    assert r["rec_type"] == "response"
    assert r["url"] == "http://example.com/a"
    assert r["warc_ts"] == datetime(2017, 3, 6, 4, 3, 53)
    assert r["http_status"] == 200
    assert r["payload"] == _BODY


def test_multi_member_chain_and_type_skip():
    """warcinfo + request + response members: only response carries a
    payload, all are yielded with their types."""
    req = _HAND_RECORD.replace(b"WARC-Type: response", b"WARC-Type: request")
    blob = (
        gzip.compress(W.build_warcinfo_record("s"))
        + gzip.compress(req)
        + gzip.compress(_HAND_RECORD)
    )
    out = list(W.iter_warc_gz(blob))
    assert [r["rec_type"] for r in out] == ["warcinfo", "request", "response"]
    assert out[1]["payload"] is None
    assert out[2]["payload"] == _BODY


def test_writer_bytes_follow_grammar():
    """Writer-side spec pin: parse the writer's raw (uncompressed) record
    with local logic transcribed from the grammar, not with the module's
    own reader."""
    rec = W.build_response_record(
        "https://x.example/p", datetime(2025, 2, 3, 4, 5, 6), b"\x00\xffbin"
    )
    head, sep, rest = rec.partition(b"\r\n\r\n")
    assert sep
    lines = head.split(b"\r\n")
    assert lines[0] == b"WARC/1.0"
    fields = dict(l.split(b": ", 1) for l in lines[1:])
    assert fields[b"WARC-Type"] == b"response"
    assert fields[b"WARC-Date"] == b"2025-02-03T04:05:06Z"
    assert fields[b"WARC-Target-URI"] == b"https://x.example/p"
    clen = int(fields[b"Content-Length"])
    block, tail = rest[:clen], rest[clen:]
    assert tail == b"\r\n\r\n"  # record terminator, nothing extra
    assert block.endswith(b"\x00\xffbin")
    assert block.startswith(b"HTTP/1.1 200 OK\r\n")


def test_segment_is_one_gzip_member_per_record():
    blob = W.write_warc_gz(
        [("u1", datetime(2025, 1, 1), b"a"), ("u2", datetime(2025, 1, 2), b"b")],
        segment="s",
    )
    # count gzip magic at member boundaries by walking the chain
    members = list(W._gzip_members(blob))
    assert len(members) == 3  # warcinfo + 2 records
    assert members[1].startswith(b"WARC/1.0\r\n")


def test_binary_payload_roundtrip_all_byte_values():
    payload = bytes(range(256)) * 5 + b"\r\n\r\nWARC/1.0\r\n"  # hostile body
    blob = W.write_warc_gz([("u", datetime(2025, 1, 1), payload)])
    out = [r for r in W.iter_warc_gz(blob) if r["rec_type"] == "response"]
    assert out[0]["payload"] == payload


@pytest.mark.parametrize("case,mangle", [
    ("truncated_member", lambda b: b[:-20]),
    ("garbage_tail", lambda b: b + b"\x1f\x8b\x00garbage"),
    ("not_gzip", lambda b: b"plain bytes, no gzip"),
])
def test_corrupt_segment_quarantines(case, mangle):
    blob = mangle(W.write_warc_gz([("u", datetime(2025, 1, 1), b"x" * 50)]))
    out = list(W.iter_warc_gz(blob))
    assert out, case
    assert out[-1]["rec_type"] == "corrupt"
    assert out[-1]["error"]


def test_corrupt_record_inside_valid_member():
    bad = _HAND_RECORD.replace(b"Content-Length: " + str(len(_HTTP)).encode(),
                               b"Content-Length: 99999")
    out = list(W.iter_warc_gz(gzip.compress(bad)))
    assert out[0]["rec_type"] == "corrupt"
    assert "Content-Length" in out[0]["error"] or "shorter" in out[0]["error"]


def test_corrupt_member_stops_chain():
    """After a corrupt gzip member the next boundary is unknowable: the
    reader must quarantine the tail, not resync on garbage."""
    good = gzip.compress(_HAND_RECORD)
    blob = good + good[: len(good) // 2] + good
    out = list(W.iter_warc_gz(blob))
    assert out[0]["rec_type"] == "response"
    assert out[-1]["rec_type"] == "corrupt"
    assert len(out) == 2


def test_corpus_zip_bytes_deterministic_across_processes():
    """Regression: OOXML/ODT payloads embedded wall-clock zip mtimes, so
    corpus BYTES (not text) differed between processes — caught by the
    WARC round-trip oracle, invisible to every text-level check."""
    import hashlib
    import os
    import subprocess
    import sys

    from cc_extract.corpusgen import gen_corpus

    local = hashlib.sha256(
        b"".join(r["html"] for r in gen_corpus(60))
    ).hexdigest()
    code = (
        "import hashlib\nfrom cc_extract.corpusgen import gen_corpus\n"
        "print(hashlib.sha256(b''.join(r['html'] for r in gen_corpus(60))).hexdigest())"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sub = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, cwd=repo, check=True)
    assert sub.stdout.strip() == local


def test_warc_ingest_pipeline_equals_table_ingest(spark, tmp_path):
    """Spark e2e: the SAME documents fed once as .warc.gz segment files
    (binaryFile -> member walk -> record parse) and once as the in-memory
    table must extract to identical per-url text hashes through the full
    pipeline."""
    import os
    from collections import defaultdict

    from pyspark.sql import functions as F

    from cc_extract.corpusgen import corpus_df, gen_corpus
    from cc_extract.job import pipeline_df
    from cc_extract.warc import read_warc_dir

    n = 200
    rows = gen_corpus(n)
    segs = defaultdict(list)
    for r in rows:
        segs[hash(r["url"]) % 4].append((r["url"], r["warc_ts"], r["html"]))
    for k, recs in segs.items():
        with open(os.path.join(tmp_path, f"seg{k}.warc.gz"), "wb") as f:
            f.write(W.write_warc_gz(recs, segment=f"seg{k}"))

    via_warc = pipeline_df(read_warc_dir(spark, str(tmp_path)), n_buckets=8)
    via_table = pipeline_df(
        corpus_df(spark, n, partitions=4).select("url", "warc_ts", "html"),
        n_buckets=8,
    )
    h = lambda df: {  # noqa: E731
        r["url"]: (r["status"], r["sha"])
        for r in df.select(
            "url", "status", F.sha2("text_out", 256).alias("sha")
        ).collect()
    }
    a, b = h(via_warc), h(via_table)
    assert a == b
    assert len(a) > 0


def test_warc_stream_ingest_equals_batch(spark, tmp_path):
    """R17 x S1: a watched crawl-drop directory (readStream binaryFile ->
    WARC records) processed with availableNow yields exactly the batch
    reader's rows — including a segment that arrives between triggers."""
    import os

    from pyspark.sql import functions as F

    from cc_extract.corpusgen import gen_corpus
    from cc_extract.warc import read_warc_dir, read_warc_stream

    drop = tmp_path / "drop"
    drop.mkdir()
    rows = gen_corpus(120)
    half = len(rows) // 2
    def write_seg(name, recs):
        with open(drop / name, "wb") as f:
            f.write(W.write_warc_gz(
                [(r["url"], r["warc_ts"], r["html"]) for r in recs], name))
    write_seg("seg0.warc.gz", rows[:half])

    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    def drain():
        q = (
            read_warc_stream(spark, str(drop))
            .select("url", F.sha2("html", 256).alias("sha"))
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    write_seg("seg1.warc.gz", rows[half:])  # late-arriving segment
    drain()

    got = {
        (r["url"], r["sha"])
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    want = {
        (r["url"], r["sha"])
        for r in read_warc_dir(spark, str(drop))
        .select("url", F.sha2("html", 256).alias("sha")).collect()
    }
    assert got == want
    assert len(got) == len(rows)


# -------------------------------------------------- WET conversion records

def test_conversion_record_spec_fixture_parses():
    """Reader independence for WET: a hand-transcribed conversion record
    (ISO 28500 §6.8 layout, not produced by our writer) must parse with
    the block as payload and no HTTP split."""
    import gzip as _gzip

    from cc_extract import warc as W

    body = "héllo wet\n".encode("utf-8")
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Record-ID: <urn:uuid:deadbeef>\r\n"
        b"WARC-Date: 2025-03-04T05:06:07Z\r\n"
        b"WARC-Target-URI: https://ex.org/a\r\n"
        b"Content-Type: text/plain; charset=utf-8\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )
    out = list(W.iter_warc_gz(_gzip.compress(rec, mtime=0)))
    assert len(out) == 1
    r = out[0]
    assert r["rec_type"] == "conversion"
    assert r["url"] == "https://ex.org/a"
    assert r["warc_ts"].isoformat() == "2025-03-04T05:06:07"
    assert bytes(r["payload"]) == body
    assert r["http_status"] is None


def test_wet_writer_reader_roundtrip_including_empty_and_unicode():
    from datetime import datetime

    from cc_extract import warc as W

    rows = [
        ("https://ex.org/a", datetime(2025, 1, 2, 3, 4, 5), "plain text"),
        ("https://ex.org/b", datetime(2025, 1, 2, 3, 4, 6), ""),
        ("https://ex.org/c", datetime(2025, 1, 2, 3, 4, 7), "данные 処理 ß"),
    ]
    blob = W.write_wet_gz(iter(rows), segment="segX")
    got = [r for r in W.iter_warc_gz(blob) if r["rec_type"] == "conversion"]
    assert [(r["url"], r["warc_ts"], bytes(r["payload"]).decode("utf-8"))
            for r in got] == rows
    # leading warcinfo member still present and typed
    first = next(iter(W.iter_warc_gz(blob)))
    assert first["rec_type"] == "warcinfo"
    # determinism: same input -> same bytes
    assert blob == W.write_wet_gz(iter(rows), segment="segX")


def test_metadata_record_spec_fixture_parses():
    """Reader independence for WAT: a hand-transcribed metadata record
    (ISO 28500 §6.9 layout, not produced by our writer) must parse with
    the JSON block as payload and no HTTP split; a target-less metadata
    record stays structural (payload None)."""
    import gzip as _gzip

    from cc_extract import warc as W

    body = b'{"Envelope":{"Format":"WARC"}}'
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        b"WARC-Record-ID: <urn:uuid:feedface>\r\n"
        b"WARC-Refers-To: <urn:uuid:deadbeef>\r\n"
        b"WARC-Date: 2025-03-04T05:06:07Z\r\n"
        b"WARC-Target-URI: https://ex.org/a\r\n"
        b"Content-Type: application/json\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )
    out = list(W.iter_warc_gz(_gzip.compress(rec, mtime=0)))
    assert len(out) == 1
    r = out[0]
    assert r["rec_type"] == "metadata"
    assert r["url"] == "https://ex.org/a"
    assert r["warc_ts"].isoformat() == "2025-03-04T05:06:07"
    assert bytes(r["payload"]) == body
    assert r["http_status"] is None

    # target-less metadata (e.g. crawl-level metadata) stays structural
    rec2 = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        b"WARC-Record-ID: <urn:uuid:feedface>\r\n"
        b"WARC-Date: 2025-03-04T05:06:07Z\r\n"
        b"Content-Type: application/warc-fields\r\n"
        b"Content-Length: 0\r\n"
        b"\r\n\r\n\r\n"
    )
    out2 = list(W.iter_warc_gz(_gzip.compress(rec2, mtime=0)))
    assert len(out2) == 1 and out2[0]["rec_type"] == "metadata"
    assert out2[0]["payload"] is None


def test_wat_json_shape_and_roundtrip():
    """build_wat_json over real corpus rows: JSON is deterministic and
    loads back; html-routed pages carry Head (= html_meta non-nulls) and
    document-order Links (= html_links); non-html pages carry the
    envelope only; the .wat.gz round-trip recovers every block
    byte-for-byte."""
    import hashlib
    import json

    from cc_extract import warc as W
    from cc_extract.corpusgen import gen_corpus
    from cc_extract.extractors.html import html_links, html_meta

    rows = list(gen_corpus(40))
    trip = [(r["url"], r["warc_ts"],
             W.build_wat_json(r["url"], r["warc_ts"], bytes(r["html"])))
            for r in rows]
    saw_html = saw_other = False
    for r, (_, _, wat) in zip(rows, trip):
        assert wat == W.build_wat_json(r["url"], r["warc_ts"],
                                       bytes(r["html"]))  # deterministic
        j = json.loads(wat)
        env = j["Envelope"]
        assert env["WARC-Header-Metadata"]["WARC-Target-URI"] == r["url"]
        pm = env["Payload-Metadata"]
        assert pm["Actual-Content-Length"] == len(r["html"])
        assert pm["Block-Digest"] == (
            "sha256:" + hashlib.sha256(bytes(r["html"])).hexdigest())
        links = html_links(bytes(r["html"]), r["url"])
        if links is None:
            saw_other = True
            assert "HTTP-Response-Metadata" not in pm
        else:
            saw_html = True
            hm = pm["HTTP-Response-Metadata"]["HTML-Metadata"]
            assert [e["url"] for e in hm["Links"]] == links
            meta = html_meta(bytes(r["html"]), r["url"])
            assert hm["Head"] == {k: v for k, v in meta.items()
                                  if v is not None}
    assert saw_html and saw_other  # corpus exercises both branches

    blob = W.write_wat_gz(iter(trip), segment="segW")
    assert blob == W.write_wat_gz(iter(trip), segment="segW")
    got = [r for r in W.iter_warc_gz(blob) if r["rec_type"] == "metadata"]
    assert [(r["url"], bytes(r["payload"]).decode("utf-8")) for r in got] \
        == [(u, w) for u, _, w in trip]


def test_html_links_conventions():
    """html_links row semantics: quote styles, charref decode, first
    href per tag, empties skipped, duplicates kept in document order;
    non-html -> None; html without anchors -> []."""
    from cc_extract.extractors.html import html_links

    doc = (b"<html><body>"
           b'<a href="/a">x</a>'
           b"<a href='/b&amp;c'>y</a>"
           b"<a id=z href=/bare>w</a>"
           b'<a href="">empty</a>'
           b"<a>none</a>"
           b'<a href="/a">dup</a>'
           b"</body></html>")
    assert html_links(doc, "https://e.x/p.html") == \
        ["/a", "/b&c", "/bare", "/a"]
    assert html_links(b"\x89PNG\r\n\x1a\n", "https://e.x/i.png") is None
    assert html_links(b"<html><body><p>t</p></body></html>",
                      "https://e.x/p.html") == []


def test_revisit_record_spec_fixture_parses():
    """Reader independence for revisit: a hand-transcribed §6.7.2 record
    (identical-payload-digest profile, not produced by our writer) must
    parse with no payload and the labeled digest stripped to hex."""
    import gzip as _gzip

    from cc_extract import warc as W

    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: revisit\r\n"
        b"WARC-Record-ID: <urn:uuid:cafebabe>\r\n"
        b"WARC-Profile: http://netpreserve.org/warc/1.0/revisit/"
        b"identical-payload-digest\r\n"
        b"WARC-Refers-To-Target-URI: https://ex.org/a\r\n"
        b"WARC-Payload-Digest: sha256:" + b"ab" * 32 + b"\r\n"
        b"WARC-Date: 2025-03-04T05:06:07Z\r\n"
        b"WARC-Target-URI: https://ex.org/a\r\n"
        b"Content-Length: 0\r\n"
        b"\r\n\r\n\r\n"
    )
    out = list(W.iter_warc_gz(_gzip.compress(rec, mtime=0)))
    assert len(out) == 1
    r = out[0]
    assert r["rec_type"] == "revisit"
    assert r["url"] == "https://ex.org/a"
    assert r["warc_ts"].isoformat() == "2025-03-04T05:06:07"
    assert r["payload"] is None
    assert r["payload_digest"] == "ab" * 32


def test_dedup_writer_revisits_and_resolution_is_lossless():
    """write_warc_gz_dedup: first (url, digest) stored as response, later
    identical re-crawls become revisits; the segment shrinks; resolving
    each revisit's digest against the stored responses recovers the FULL
    logical record list, byte-for-byte."""
    import hashlib
    from datetime import datetime, timedelta

    from cc_extract import warc as W

    t0 = datetime(2025, 2, 1, 0, 0, 0)
    # page-sized incompressible payloads: a revisit record must beat
    # re-storing the body (it would NOT beat a 4-byte toy payload —
    # its digest+profile headers alone are ~300 bytes)
    pa_ = hashlib.sha256(b"A").digest() * 120
    pb_ = hashlib.sha256(b"B").digest() * 120
    pc_ = hashlib.sha256(b"C").digest() * 120
    rows = [
        ("https://ex.org/a", t0, pa_),
        ("https://ex.org/a", t0 + timedelta(days=9), pa_),   # same -> revisit
        ("https://ex.org/a", t0 + timedelta(days=30), pc_),  # changed
        ("https://ex.org/b", t0, pb_),
        ("https://ex.org/c", t0 + timedelta(days=1), pa_),   # other url, same bytes: stored
        ("https://ex.org/a", t0 + timedelta(days=40), pa_),  # back to v1 -> revisit
    ]
    blob = W.write_warc_gz_dedup(iter(rows), segment="segR")
    assert blob == W.write_warc_gz_dedup(iter(rows), segment="segR")
    recs = list(W.iter_warc_gz(blob))
    resp = [r for r in recs if r["rec_type"] == "response"]
    rev = [r for r in recs if r["rec_type"] == "revisit"]
    assert len(resp) == 4 and len(rev) == 2
    assert all(r["payload"] is None for r in rev)
    # the dedup segment is smaller than the naive one
    assert len(blob) < len(W.write_warc_gz(iter(rows), segment="segR"))
    # resolution: (url, digest) -> stored payload recovers every row
    stored = {(r["url"], hashlib.sha256(bytes(r["payload"])).hexdigest()):
              bytes(r["payload"]) for r in resp}
    logical = []
    for r in recs:
        if r["rec_type"] == "response":
            logical.append((r["url"], r["warc_ts"], bytes(r["payload"])))
        elif r["rec_type"] == "revisit":
            logical.append((r["url"], r["warc_ts"],
                            stored[(r["url"], r["payload_digest"])]))
    assert sorted(logical) == sorted(rows)
