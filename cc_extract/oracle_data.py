"""Single-process materialization of oracle-side parquet tables for the
driver contract (SURVEY.md §5.3 applied to the extraction pipeline).

The extraction/multimodal queries run over corpora that exist only as
deterministic generator functions, so DuckDB cannot see them as
pre-registered views.  This module closes that gap the same way the
pytest golden does: the ORACLE side is the single-process normative code
path (gen_doc -> extract_document per row; gen_media -> parse_media_meta),
written to parquet that the oracle SQL reads with ``read_parquet``.  The
SQL then independently re-expresses the *relational* semantics under test
— keep-newest dedup, grouping, filtering, norms — so the DuckDB check
verifies the Spark pipeline (Arrow transport, shuffle policy, window
dedup, aggregation), exactly like the golden diff verifies byte identity.

Files regenerate once per process (memoized) so a stale file from an older
code version can never silently pass.
"""

from __future__ import annotations

import hashlib
import os
import uuid

_ORACLE_DIR = "/tmp/cc_extract_oracle"
_memo: dict[str, str] = {}


def _atomic_write_table(table, path: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def extraction_table(n_docs: int = 1200) -> str:
    """Per-INPUT-ROW extraction results (pre-dedup: duplicate urls keep
    both crawls so the SQL side performs the keep-newest window itself).
    Returns the parquet path."""
    key = f"extraction:{n_docs}"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import gen_corpus
    from .extractors import extract_document
    from .textops import zlib_len

    urls, tss, fmts, statuses, errors = [], [], [], [], []
    texts, shas, nbytes, enc_kinds, wrap_kinds, zlens = [], [], [], [], [], []
    for r in gen_corpus(n_docs):
        res = extract_document(r["html"], r["url"])
        urls.append(r["url"])
        tss.append(r["warc_ts"])
        fmts.append(res["fmt"])
        statuses.append(res["status"])
        errors.append(res["error"])
        texts.append(res["text"])
        shas.append(hashlib.sha256(res["text"].encode("utf-8")).hexdigest())
        nbytes.append(len(r["html"]))
        zlens.append(zlib_len(res["text"]))
        # standard-security-handler generation, sniffed from the RAW
        # payload (gzip-wrapped PDFs sniff NULL on both engines — the
        # Spark side applies the same raw-byte rule natively)
        h = bytes(r["html"])
        if b"/Encrypt" not in h:
            enc_kinds.append(None)
        else:
            enc_kinds.append("aesv3" if b"/AESV3" in h
                             else "aesv2" if b"/AESV2" in h else "rc4")
        # compression-wrapper kind, sniffed from the RAW payload with the
        # same pure magic-prefix rule the Spark side applies natively
        # (substring comparisons — see __spark_entry__._cc_archive_stats)
        if h[:2] == b"\x1f\x8b":
            wrap_kinds.append("gzip")
        elif h[:6] == b"\xfd7zXZ\x00":
            wrap_kinds.append("xz")
        elif h[:3] == b"BZh" and h[4:10] == b"\x31\x41\x59\x26\x53\x59":
            wrap_kinds.append("bz2")
        else:
            wrap_kinds.append(None)
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(tss, pa.timestamp("us")),
        "fmt": pa.array(fmts, pa.string()),
        "status": pa.array(statuses, pa.string()),
        "error": pa.array(errors, pa.string()),
        "text_out": pa.array(texts, pa.string()),
        "text_sha256": pa.array(shas, pa.string()),
        "n_bytes_in": pa.array(nbytes, pa.int32()),
        "enc_kind": pa.array(enc_kinds, pa.string()),
        "wrap_kind": pa.array(wrap_kinds, pa.string()),
        "z_len": pa.array(zlens, pa.int64()),
    })
    path = os.path.join(_ORACLE_DIR, f"extracted_{n_docs}.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def corpus_table(n_docs: int = 1200) -> str:
    """Per-INPUT-ROW corpus identity (url, crawl ts, payload digest/size)
    straight from the generator — the oracle side of the WARC round-trip
    check: if the Spark path (segment assembly -> .warc.gz bytes ->
    member walk -> record parse -> HTTP split) is lossless, its
    per-record output equals this table exactly."""
    key = f"corpus:{n_docs}"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import gen_corpus

    urls, tss, shas, nbytes = [], [], [], []
    for r in gen_corpus(n_docs):
        urls.append(r["url"])
        tss.append(r["warc_ts"])
        shas.append(hashlib.sha256(r["html"]).hexdigest())
        nbytes.append(len(r["html"]))
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(tss, pa.timestamp("us")),
        "payload_sha256": pa.array(shas, pa.string()),
        "n_bytes": pa.array(nbytes, pa.int64()),
    })
    path = os.path.join(_ORACLE_DIR, f"corpus_{n_docs}.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def media_table(n: int = 400) -> str:
    """Per-media-row container metadata + byte-histogram feature, the
    single-process twin of multimodal.media_metadata/media_features."""
    key = f"media:{n}"
    if key in _memo:
        return _memo[key]
    import numpy as np
    import pyarrow as pa

    from .multimodal import (FEATURE_DIM, audio_activity_stats,
                             audio_row_stats, gen_media,
                             image_row_stats, parse_mp4_meta,
                             afp64, parse_exif, parse_media_meta,
                             phash64, video_row_stats)

    rows = [gen_media(i) for i in range(n)]
    metas = [parse_media_meta(r["payload"]) for r in rows]
    # decode columns for image rows (multimodal.image_row_stats is the
    # single normative implementation used by both engines)
    decs = [image_row_stats(r["payload"]) if r["kind"] == "image" else None
            for r in rows]
    auds = [audio_row_stats(r["payload"]) if r["kind"] == "audio" else None
            for r in rows]
    acts = [audio_activity_stats(r["payload"]) if r["kind"] == "audio"
            else None for r in rows]
    vids = [video_row_stats(r["payload"]) if r["kind"] == "video" else None
            for r in rows]
    mp4s = [parse_mp4_meta(r["payload"])
            if r["kind"] == "video" and r["payload"][4:8] == b"ftyp" else None
            for r in rows]
    phashes = [phash64(r["payload"]) if r["kind"] == "image" else None
               for r in rows]
    exifs = [parse_exif(r["payload"]) if r["kind"] == "image" else None
             for r in rows]
    afps = [afp64(r["payload"]) if r["kind"] == "audio" else None
            for r in rows]
    feats = []
    for r in rows:
        arr = np.frombuffer(r["payload"], dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float64)
        total = hist.sum() or 1.0
        # float32 then widen — the exact values Spark's array<float> cast
        # to double produces on the pipeline side
        feats.append([float(x) for x in (hist / total).astype(np.float32)])
    table = pa.table({
        "media_id": pa.array([r["media_id"] for r in rows], pa.int64()),
        "kind": pa.array([r["kind"] for r in rows], pa.string()),
        "container": pa.array([m["container"] for m in metas], pa.string()),
        "width": pa.array([m["width"] for m in metas], pa.int32()),
        "height": pa.array([m["height"] for m in metas], pa.int32()),
        "sample_rate": pa.array([m["sample_rate"] for m in metas], pa.int32()),
        "n_bytes": pa.array([len(r["payload"]) for r in rows], pa.int64()),
        "parse_ok": pa.array([m["parse_ok"] for m in metas], pa.bool_()),
        "feature": pa.array(feats, pa.list_(pa.float64())),
        "phash": pa.array(phashes, pa.int64()),
        "afp": pa.array(afps, pa.int64()),
        "img_container": pa.array(
            [d["container"] if d else None for d in decs], pa.string()),
        "dec_ok": pa.array(
            [d["dec_ok"] if d else None for d in decs], pa.bool_()),
        "dec_w": pa.array(
            [d["dec_w"] if d else None for d in decs], pa.int32()),
        "dec_h": pa.array(
            [d["dec_h"] if d else None for d in decs], pa.int32()),
        "dec_mean_luma": pa.array(
            [d["dec_mean_luma"] if d else None for d in decs], pa.float64()),
        "dec_ink_frac": pa.array(
            [d["dec_ink_frac"] if d else None for d in decs], pa.float64()),
        "aud_ok": pa.array(
            [a["aud_ok"] if a else None for a in auds], pa.bool_()),
        "aud_rate": pa.array(
            [a["aud_rate"] if a else None for a in auds], pa.int32()),
        "aud_n_samples": pa.array(
            [a["aud_n_samples"] if a else None for a in auds], pa.int32()),
        "aud_duration_s": pa.array(
            [a["aud_duration_s"] if a else None for a in auds], pa.float64()),
        "aud_rms": pa.array(
            [a["aud_rms"] if a else None for a in auds], pa.float64()),
        "act_n_windows": pa.array(
            [a["act_n_windows"] if a else None for a in acts], pa.int32()),
        "act_n_active": pa.array(
            [a["act_n_active"] if a else None for a in acts], pa.int32()),
        "act_frac": pa.array(
            [a["act_frac"] if a else None for a in acts], pa.float64()),
        "vid_ok": pa.array(
            [v["vid_ok"] if v else None for v in vids], pa.bool_()),
        "vid_n_frames": pa.array(
            [v["vid_n_frames"] if v else None for v in vids], pa.int32()),
        "vid_avg_frame_luma": pa.array(
            [v["vid_avg_frame_luma"] if v else None for v in vids], pa.float64()),
        "vid_mean_frame_delta": pa.array(
            [v["vid_mean_frame_delta"] if v else None for v in vids], pa.float64()),
        "vid_n_cuts": pa.array(
            [v["vid_n_cuts"] if v else None for v in vids], pa.int32()),
        "vid_n_scenes": pa.array(
            [v["vid_n_scenes"] if v else None for v in vids], pa.int32()),
        "mp4_ok": pa.array(
            [m["mp4_ok"] if m else None for m in mp4s], pa.bool_()),
        "mp4_brand": pa.array(
            [m["mp4_brand"] if m else None for m in mp4s], pa.string()),
        "mp4_duration_s": pa.array(
            [m["mp4_duration_s"] if m else None for m in mp4s], pa.float64()),
        "mp4_n_tracks": pa.array(
            [m["mp4_n_tracks"] if m else None for m in mp4s], pa.int32()),
        "mp4_codec": pa.array(
            [m["mp4_codec"] if m else None for m in mp4s], pa.string()),
        "mp4_w": pa.array(
            [m["mp4_w"] if m else None for m in mp4s], pa.int32()),
        "mp4_h": pa.array(
            [m["mp4_h"] if m else None for m in mp4s], pa.int32()),
        "mp4_n_frames": pa.array(
            [m["mp4_n_frames"] if m else None for m in mp4s], pa.int32()),
        "mp4_profile": pa.array(
            [m["mp4_profile"] if m else None for m in mp4s], pa.int32()),
        "mp4_level": pa.array(
            [m["mp4_level"] if m else None for m in mp4s], pa.int32()),
        "mp4_sps_w": pa.array(
            [m["mp4_sps_w"] if m else None for m in mp4s], pa.int32()),
        "mp4_sps_h": pa.array(
            [m["mp4_sps_h"] if m else None for m in mp4s], pa.int32()),
        "has_exif": pa.array(
            [e["has_exif"] if e else None for e in exifs], pa.bool_()),
        "exif_ok": pa.array(
            [e["exif_ok"] if e else None for e in exifs], pa.bool_()),
        "exif_orientation": pa.array(
            [e["exif_orientation"] if e else None for e in exifs],
            pa.int32()),
        "exif_make": pa.array(
            [e["exif_make"] if e else None for e in exifs], pa.string()),
        "exif_dt": pa.array(
            [e["exif_dt"] if e else None for e in exifs], pa.string()),
        "exif_w": pa.array(
            [e["exif_w"] if e else None for e in exifs], pa.int32()),
        "exif_h": pa.array(
            [e["exif_h"] if e else None for e in exifs], pa.int32()),
    })
    path = os.path.join(_ORACLE_DIR, f"media_{n}.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def keyframes_table(n: int = 400) -> str:
    """Per-scene keyframe rows, the single-process twin of
    multimodal.keyframe_rows (same normative scene_keyframes rule)."""
    key = f"keyframes:{n}"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .multimodal import gen_media, scene_keyframes

    mids, scenes, fidx, ws, hs, sigs = [], [], [], [], [], []
    for i in range(n):
        r = gen_media(i)
        if r["kind"] != "video":
            continue
        for scene, k, w, h, sig in scene_keyframes(r["payload"]):
            mids.append(r["media_id"])
            scenes.append(scene)
            fidx.append(k)
            ws.append(w)
            hs.append(h)
            sigs.append(sig)
    table = pa.table({
        "media_id": pa.array(mids, pa.int64()),
        "scene_idx": pa.array(scenes, pa.int32()),
        "frame_idx": pa.array(fidx, pa.int32()),
        "w": pa.array(ws, pa.int32()),
        "h": pa.array(hs, pa.int32()),
        "frame_md5": pa.array(sigs, pa.string()),
    })
    path = os.path.join(_ORACLE_DIR, f"keyframes_{n}.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def warc_segments_table(n_docs: int = 1200, n_segs: int = 16) -> str:
    """Per-segment storage stats, the single-process twin of the Spark
    side's md5-sharded write_warc_gz_dedup + warc.segment_stats pass.
    The shard key is md5-derived (int(md5(url)[:4], 16) % n_segs) so
    Python, Spark and any SQL engine agree without xxhash64."""
    key = f"warcsegs:{n_docs}:{n_segs}"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import gen_corpus
    from .warc import segment_stats, write_warc_gz_dedup

    segs: dict[int, list] = {}
    for r in gen_corpus(n_docs):
        sid = int(hashlib.md5(r["url"].encode("utf-8")).hexdigest()[:4],
                  16) % n_segs
        segs.setdefault(sid, []).append(
            (r["url"], r["warc_ts"], bytes(r["html"])))
    rows = []
    for sid in sorted(segs):
        recs = sorted(segs[sid], key=lambda t: (t[0], t[1]))
        blob = write_warc_gz_dedup(iter(recs), segment=f"seg{sid}")
        rows.append({"seg_id": sid, **segment_stats(blob)})
    cols = ["seg_id", "n_response", "n_revisit", "n_other", "seg_bytes",
            "payload_bytes", "compression_ratio"]
    table = pa.table({
        c: pa.array([r[c] for r in rows],
                    pa.float64() if c == "compression_ratio"
                    else pa.int64())
        for c in cols
    })
    path = os.path.join(_ORACLE_DIR, f"warcsegs_{n_docs}.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def links_table(n_docs: int = 1200) -> str:
    """Per-LINK rows (url, warc_ts, src_domain, dst_domain) extracted from
    every corpus crawl row — the oracle side of the link-graph queries.

    Link spec (shared with the Spark side, independently transcribed
    there over decode(payload,'ISO-8859-1')): a row contributes links iff
    its payload starts with b'<!DOCTYPE html' (plain HTML — gzip-wrapped
    bodies are excluded by construction); links are the absolute
    ``<a href="https://...">anchor</a>`` elements; domains are the
    lowercased host up to the first of ``/:?#``.  Rows for ALL crawls are
    emitted — the SQL performs the keep-newest-crawl dedup itself,
    mirroring the pipeline."""
    key = f"links:{n_docs}"
    if key in _memo:
        return _memo[key]
    import re

    import pyarrow as pa

    from .corpusgen import gen_corpus

    href_rx = re.compile(rb'href="(https://[^"]+)">([^<]*)</a>')
    host_rx = re.compile(r"^https://([^/:?#]+)")
    urls, tss, srcs, dsts, anchors = [], [], [], [], []
    for r in gen_corpus(n_docs):
        if not r["html"] or not bytes(r["html"]).startswith(b"<!DOCTYPE html"):
            continue
        src = host_rx.match(r["url"]).group(1).lower()
        for m in href_rx.finditer(bytes(r["html"])):
            link = m.group(1).decode("latin-1")
            dst = host_rx.match(link)
            if not dst:
                continue
            urls.append(r["url"])
            tss.append(r["warc_ts"])
            srcs.append(src)
            dsts.append(dst.group(1).lower())
            anchors.append(m.group(2).decode("latin-1"))
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(tss, pa.timestamp("us")),
        "src_domain": pa.array(srcs, pa.string()),
        "dst_domain": pa.array(dsts, pa.string()),
        "anchor": pa.array(anchors, pa.string()),
    })
    path = os.path.join(_ORACLE_DIR, f"links_{n_docs}.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def _parse_robots_rules(text: str) -> list[tuple[str, bool]]:
    """Independent transcription of the pinned robots.txt grammar (shared
    spec with __spark_entry__._cc_robots_filter's in-row HOF parser —
    written as a plain Python loop so a transcription slip on either side
    fails the contract instead of hiding):

    - lines split on \\n, trailing \\r stripped with other edge blanks
    - '#' starts a comment to end of line
    - directive = text before the first ':' (lowercased), value after it,
      both space/tab-trimmed; colon-less lines are noise
    - a run of consecutive User-agent lines opens a group; the group
      applies iff ANY of them is '*' (RFC 9309 group semantics)
    - Allow/Disallow lines in an applying group with a NON-EMPTY value
      contribute (pattern, is_allow); every other directive is ignored
      but ends the User-agent run
    - blank lines change nothing (RFC 9309: groups end only at the next
      User-agent run)
    """
    rules: list[tuple[str, bool]] = []
    in_ua, applies = False, False
    for raw in text.split("\n"):
        line = raw.split("#", 1)[0].strip(" \t\r")
        if not line:
            continue
        if ":" not in line:
            in_ua = False
            continue
        key, val = line.split(":", 1)
        key, val = key.strip(" \t").lower(), val.strip(" \t")
        if key == "user-agent":
            applies = (applies if in_ua else False) or val == "*"
            in_ua = True
            continue
        in_ua = False
        if key in ("disallow", "allow") and applies and val:
            rules.append((val, key == "allow"))
    return rules


def robots_rules_table(seed: int | None = None) -> str:
    """Per-RULE rows (domain, pattern, allow) for the ``User-agent: *``
    group of every corpus domain's robots.txt — the oracle side of
    cc_robots_filter.  Domains without a robots file (or without an
    applying group) contribute no rows; the SQL's LEFT JOIN makes those
    urls allowed."""
    key = "robots"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import SEED, robots_rows

    doms, pats, allows = [], [], []
    for domain, text in robots_rows(seed if seed is not None else SEED):
        if text is None:
            continue
        for pat, allow in _parse_robots_rules(text):
            doms.append(domain)
            pats.append(pat)
            allows.append(allow)
    table = pa.table({
        "domain": pa.array(doms, pa.string()),
        "pattern": pa.array(pats, pa.string()),
        "allow": pa.array(allows, pa.bool_()),
    })
    path = os.path.join(_ORACLE_DIR, "robots_rules.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def _html_rows_table(name: str, n_docs: int, row_fn, fields) -> str:
    """Per-INPUT-ROW rows of *row_fn* for html-routed documents
    (pre-dedup; the SQL side performs the keep-newest window itself).

    The row semantics live in ONE shared function of
    ``cc_extract.extractors.html``, called here per row single-process
    and per element of the Spark batch by ``job._html_rows_df``; only
    the relational layer (keep-newest dedup + projection) is
    independently expressed on each side, exactly the extraction_table
    pattern.  *row_fn* returns None (no rows), one dict or a list of
    dicts; *fields* are the ``(name, pyarrow type)`` row columns written
    after ``url`` and ``warc_ts``."""
    key = f"{name}:{n_docs}"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import gen_corpus

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us")), *fields])
    cols: dict[str, list] = {c: [] for c in schema.names}
    for r in gen_corpus(n_docs):
        out = row_fn(r["html"], r["url"])
        if out is None:
            continue
        for d in ([out] if isinstance(out, dict) else out):
            cols["url"].append(r["url"])
            cols["warc_ts"].append(r["warc_ts"])
            for k in schema.names[2:]:
                cols[k].append(d[k])
    path = os.path.join(_ORACLE_DIR, f"{name}_{n_docs}.parquet")
    _atomic_write_table(pa.Table.from_pydict(cols, schema=schema), path)
    _memo[key] = path
    return path


def html_spans_table(n_docs: int = 1200) -> str:
    """Span-provenance stats (extractors.html.html_span_stats)."""
    import pyarrow as pa

    from .extractors.html import html_span_stats

    i32, i64 = pa.int32(), pa.int64()
    return _html_rows_table("html_spans", n_docs, html_span_stats, [
        ("n_blocks", i32), ("n_kept", i32), ("kept_chars", i64),
        ("span_chars", i64), ("doc_chars", i64),
        ("first_kept_start", i64), ("last_kept_end", i64)])


def html_meta_table(n_docs: int = 1200) -> str:
    """Head metadata (extractors.html.html_meta)."""
    import pyarrow as pa

    from .extractors.html import META_COLS, html_meta

    return _html_rows_table("html_meta", n_docs, html_meta,
                            [(k, pa.string()) for k in META_COLS])


def robots_meta_table(n_docs: int = 1200) -> str:
    """Page-level robots directives (extractors.html.html_robots)."""
    import pyarrow as pa

    from .extractors.html import html_robots

    b, i32 = pa.bool_(), pa.int32()
    return _html_rows_table("robots_meta", n_docs, html_robots, [
        ("noindex", b), ("nofollow", b), ("n_robots_metas", i32),
        ("n_anchors", i32), ("n_nofollow_anchors", i32)])


def jsonld_table(n_docs: int = 1200) -> str:
    """JSON-LD structured data (extractors.html.html_jsonld)."""
    import pyarrow as pa

    from .extractors.html import html_jsonld

    i32, s = pa.int32(), pa.string()
    return _html_rows_table("jsonld", n_docs, html_jsonld, [
        ("ld_blocks", i32), ("ld_valid", i32), ("ld_types", s),
        ("ld_headline", s), ("ld_breadcrumbs", i32)])


def html_blocks_table(n_docs: int = 1200) -> str:
    """Per-BLOCK span rows: one row per (url, warc_ts, block_idx) with
    the block's [start, end) span, keep decision, char count and text
    md5 pin (extractors.html.html_block_rows)."""
    import pyarrow as pa

    from .extractors.html import html_block_rows

    i32, i64 = pa.int32(), pa.int64()
    return _html_rows_table("html_blocks", n_docs, html_block_rows, [
        ("block_idx", i32), ("span_start", i64), ("span_end", i64),
        ("kept", i32), ("n_chars", i64), ("text_md5", pa.string())])


def tables_table(n_docs: int = 1200) -> str:
    """Table cells (extractors.html.html_tables)."""
    import pyarrow as pa

    from .extractors.html import html_tables

    i32, s = pa.int32(), pa.string()
    return _html_rows_table("tables", n_docs, html_tables, [
        ("table_idx", i32), ("caption", s), ("row_idx", i32),
        ("col_idx", i32), ("is_header", i32), ("cell", s)])


def headings_table(n_docs: int = 1200) -> str:
    """h1-h6 outline rows (extractors.html.html_headings)."""
    import pyarrow as pa

    from .extractors.html import html_headings

    i32 = pa.int32()
    return _html_rows_table("headings", n_docs, html_headings, [
        ("heading_idx", i32), ("level", i32), ("heading", pa.string())])


def wat_table(n_docs: int = 1200) -> str:
    """Per-INPUT-ROW WAT metadata — the oracle side of the WAT sidecar
    round-trip.  The JSON block is the ONE shared row-semantics function
    (cc_extract.warc.build_wat_json: envelope + html_meta Head +
    html_links Links), sha-pinned here straight from the generator row;
    n_links/title are derived DIRECTLY from html_links/html_meta (not by
    re-parsing the JSON), so the Spark side's native JSON-path extraction
    over the RECOVERED block is an independent derivation route."""
    key = f"wat:{n_docs}"
    if key in _memo:
        return _memo[key]
    import hashlib as _hashlib

    import pyarrow as pa

    from .corpusgen import gen_corpus
    from .extractors.html import html_links, html_meta
    from .warc import build_wat_json

    urls, tss, shas, nlinks, titles = [], [], [], [], []
    for r in gen_corpus(n_docs):
        payload = bytes(r["html"])
        wat = build_wat_json(r["url"], r["warc_ts"], payload)
        links = html_links(payload, r["url"])
        meta = html_meta(payload, r["url"]) if links is not None else None
        urls.append(r["url"])
        tss.append(r["warc_ts"])
        shas.append(_hashlib.sha256(wat.encode("utf-8")).hexdigest())
        nlinks.append(len(links) if links is not None else None)
        titles.append(meta["title"] if meta is not None else None)
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(tss, pa.timestamp("us")),
        "wat_sha256": pa.array(shas, pa.string()),
        "n_links": pa.array(nlinks, pa.int64()),
        "title": pa.array(titles, pa.string()),
    })
    path = os.path.join(_ORACLE_DIR, f"wat_{n_docs}.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def robots_table() -> str:
    """RAW per-domain robots.txt dimension (domain, robots text or NULL)
    straight from the generator — the oracle side of cc_crawl_policy
    parses it with DuckDB's OWN string/list functions, so the two
    engines' policy derivations share no parsing code at all."""
    key = "robots_raw"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import robots_rows

    rows = robots_rows()
    table = pa.table({
        "domain": pa.array([d for d, _ in rows], pa.string()),
        "robots": pa.array([t for _, t in rows], pa.string()),
    })
    path = os.path.join(_ORACLE_DIR, "robots_raw.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def sitemaps_table() -> str:
    """RAW per-domain sitemap.xml dimension (domain, xml text or NULL)
    straight from the generator — the oracle side of cc_sitemap_urls
    parses it with DuckDB's OWN regexp/list functions (no shared code
    with the Spark side)."""
    key = "sitemaps_raw"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import sitemap_rows

    rows = sitemap_rows()
    table = pa.table({
        "domain": pa.array([d for d, _ in rows], pa.string()),
        "sitemap": pa.array([t for _, t in rows], pa.string()),
    })
    path = os.path.join(_ORACLE_DIR, "sitemaps_raw.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path


def feeds_table() -> str:
    """RAW per-domain syndication-feed dimension (domain, RSS/Atom xml
    text or NULL) straight from the generator — the oracle side of
    cc_feed_urls parses it with DuckDB's OWN regexp/list functions (no
    shared code with the Spark side)."""
    key = "feeds_raw"
    if key in _memo:
        return _memo[key]
    import pyarrow as pa

    from .corpusgen import feed_rows

    rows = feed_rows()
    table = pa.table({
        "domain": pa.array([d for d, _ in rows], pa.string()),
        "feed": pa.array([t for _, t in rows], pa.string()),
    })
    path = os.path.join(_ORACLE_DIR, "feeds_raw.parquet")
    _atomic_write_table(table, path)
    _memo[key] = path
    return path
