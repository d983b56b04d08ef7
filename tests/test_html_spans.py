"""X1 span provenance (extract_html_blocks / html_span_stats) — the
"text/spans" half of the north rule's per-document match [D: BASELINE.json
north_rule "matching the reference's extracted text/spans per document"].

Invariants pinned here:

1. byte-identity by construction: joining the kept blocks reproduces
   extract_html exactly (same state machine, so this can never drift);
2. spans are strictly increasing, non-overlapping, in-bounds;
3. self-containment: re-scanning doc[start:end] alone reproduces the
   block's visible text (no block-tag event can occur inside a span —
   it would have flushed — so a span is a closed visible-text region);
4. the stats row both engines share (html_span_stats) never raises, and
   every html row function is gzip/bz2/xz transfer-encoding transparent;
5. the output schemas of the seven html operators (cc_extract.job) and of
   their oracle tables (cc_extract.oracle_data) are pinned literally.
"""

from __future__ import annotations

import bz2
import gzip
import lzma

import pytest
from hypothesis import given, settings, strategies as st

from cc_extract.corpusgen import gen_corpus
from cc_extract.extractors.charset import decode_bytes
from cc_extract.extractors.html import (
    _META_CHARSET,
    _scan_blocks,
    extract_html,
    extract_html_blocks,
    html_span_stats,
)
from cc_extract.extractors.normalize import normalize_text
from cc_extract.sniff import sniff_format
from tests.html_reference import as_document, unicode_fragment


def _html_corpus(n_docs: int = 400) -> list[bytes]:
    out = []
    for r in gen_corpus(n_docs):
        p = bytes(r["html"])
        if sniff_format(p, r["url"]) == "html":
            out.append(p)
    return out


CORPUS_HTML = _html_corpus()


def _decoded(payload: bytes) -> str:
    m = _META_CHARSET.search(payload[:4096])
    declared = m.group(1).decode("ascii", "ignore") if m else None
    return decode_bytes(payload, declared)


def test_corpus_exercises_the_html_route():
    assert len(CORPUS_HTML) > 50


def test_kept_blocks_join_to_extract_html_byte_identically():
    for p in CORPUS_HTML:
        blocks = extract_html_blocks(p)
        joined = normalize_text(
            "\n".join(b["text"] for b in blocks if b["kept"])
        )
        assert joined == extract_html(p)


def test_spans_monotonic_nonoverlapping_inbounds():
    for p in CORPUS_HTML:
        doc_len = len(_decoded(p))
        prev_end = 0
        for b in extract_html_blocks(p):
            assert 0 <= b["span_start"] < b["span_end"] <= doc_len
            assert b["span_start"] >= prev_end
            prev_end = b["span_end"]


def test_span_rescan_reproduces_block_text():
    """Invariant 3: each span slice is self-contained — scanning it in
    isolation yields exactly the block's visible text (density stats may
    differ: an <a>/<b> opened before the span is outside the slice)."""
    for p in CORPUS_HTML[:120]:
        doc = _decoded(p)
        for b in extract_html_blocks(p):
            sub = doc[b["span_start"]:b["span_end"]]
            texts = [t for (t, _a, _n) in _scan_blocks(sub)[0]]
            assert texts == [b["text"]], (b, sub[:200])


# Structured random markup (tests/html_reference.py): the block/span
# invariants must hold on arbitrary nesting, charrefs, self-closing forms
# and non-ASCII text.
@settings(max_examples=120, deadline=None)
@given(st.lists(unicode_fragment(), max_size=6))
def test_block_span_invariants_on_random_markup(frags):
    doc = as_document(frags)
    payload = doc.encode("utf-8")
    blocks = extract_html_blocks(payload)
    joined = normalize_text(
        "\n".join(b["text"] for b in blocks if b["kept"])
    )
    assert joined == extract_html(payload)
    prev_end = 0
    decoded = _decoded(payload)
    for b in blocks:
        assert 0 <= b["span_start"] < b["span_end"] <= len(decoded)
        assert b["span_start"] >= prev_end
        prev_end = b["span_end"]
        sub = decoded[b["span_start"]:b["span_end"]]
        assert [t for (t, _a, _n) in _scan_blocks(sub)[0]] == [b["text"]]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_span_stats_never_raises_on_arbitrary_bytes(payload):
    s = html_span_stats(payload)
    if s is not None:
        assert 0 <= s["n_kept"] <= s["n_blocks"]
        assert s["span_chars"] >= 0 and s["kept_chars"] >= 0
        if s["n_kept"]:
            assert 0 <= s["first_kept_start"] < s["last_kept_end"]
            assert s["last_kept_end"] <= s["doc_chars"]
        else:
            assert s["first_kept_start"] is None
            assert s["last_kept_end"] is None


HTML_ROW_FNS = ("html_span_stats", "html_meta", "html_links", "html_robots",
                "html_jsonld", "html_block_rows", "html_tables",
                "html_headings")
WRAPPERS = {
    "gzip": lambda b: gzip.compress(b, compresslevel=6, mtime=0),
    "bz2": lambda b: bz2.compress(b, compresslevel=6),
    "xz": lambda b: lzma.compress(b, format=lzma.FORMAT_XZ, preset=6),
}


@pytest.mark.parametrize("wrapper", sorted(WRAPPERS))
def test_html_rows_are_wrapper_transparent(wrapper):
    """Every html row function routes like extract_document: a page stored
    gzip/bz2/xz transfer-encoded yields the rows of the bare page."""
    from cc_extract.extractors import html

    for p in CORPUS_HTML[:40]:
        wrapped = WRAPPERS[wrapper](p)
        for name in HTML_ROW_FNS:
            fn = getattr(html, name)
            bare = fn(p)
            assert bare is not None, name
            assert fn(wrapped) == bare, name


@pytest.mark.parametrize("codec", ["undefined", "punycode"])
def test_raising_declared_charset_decodes_like_unknown_one(codec):
    """A ``<meta charset>`` naming a codec that raises plain UnicodeError
    on the page (``undefined`` always, ``punycode`` on this ASCII page)
    decodes through the utf-8/cp1252/latin-1 cascade exactly like an
    unknown codec name of the same length: extract_document says ok and
    every html row function returns the same rows."""
    from cc_extract.extractors import extract_document, html

    def page(charset):
        return (f'<html><head><meta charset="{charset}"><title>Notes, '
                f'part one</title></head><body><p>'
                + "Plain prose, long enough to keep as a content block. " * 3
                + "</p></body></html>").encode("ascii")

    raising, unknown = page(codec), page("x" * len(codec))
    r = extract_document(raising, "http://example.com/a.html")
    assert (r["status"], r["text"]) == (
        "ok", extract_document(unknown, "http://example.com/a.html")["text"])
    for name in HTML_ROW_FNS:
        fn = getattr(html, name)
        assert fn(raising) is not None, name
        assert fn(raising) == fn(unknown), name


def test_block_rows_pin_blocks_exactly():
    import hashlib

    from cc_extract.extractors.html import html_block_rows

    hits = 0
    for p in CORPUS_HTML[:60]:
        rows = html_block_rows(p)
        if rows is None:
            continue
        hits += 1
        blocks = extract_html_blocks(p)
        assert len(rows) == len(blocks)
        for r, b in zip(rows, blocks):
            assert r["block_idx"] == b["block_idx"]
            assert (r["span_start"], r["span_end"]) == (
                b["span_start"], b["span_end"])
            assert r["kept"] == int(b["kept"])
            assert r["n_chars"] == len(b["text"])
            assert r["text_md5"] == hashlib.md5(
                b["text"].encode("utf-8")).hexdigest()
    assert hits > 20


# ------------------------------------------------------- head metadata

def test_html_meta_fields_and_first_wins():
    from cc_extract.extractors.html import html_meta

    doc = (b"<html lang='EN-us'><head>"
           b"<title> Hello &amp;\n World </title>"
           b'<meta name="Description" content="first &lt;desc&gt;">'
           b'<meta name="description" content="second (must lose)">'
           b"<meta property='og:title' content='OG title'>"
           b"<link rel=canonical href=https://ex.org/c>"
           b"</head><body><p>hi</p></body></html>")
    m = html_meta(doc, "https://x/a.html")
    assert m == {
        "title": "Hello & World",
        "meta_description": "first <desc>",
        "og_title": "OG title",
        "canonical": "https://ex.org/c",
        "lang": "en-us",
    }


def test_html_meta_missing_and_empty_fields_are_null():
    from cc_extract.extractors.html import html_meta

    m = html_meta(b"<html><head><title></title>"
                  b'<meta name="description" content="">'
                  b"</head><body><p>x</p></body></html>", "https://x/a.html")
    assert m == {"title": None, "meta_description": None, "og_title": None,
                 "canonical": None, "lang": None}


def test_html_meta_body_meta_counts_and_routing_parity():
    from cc_extract.extractors.html import html_meta

    # unclosed-head leakage: a meta in body still counts (first-wins)
    m = html_meta(b"<html><body><p>text</p>"
                  b'<meta property="og:title" content="late">'
                  b"</body></html>", "https://x/a.html")
    assert m["og_title"] == "late"
    # non-html payloads return None (routing parity with extract_document)
    assert html_meta(b"%PDF-1.4 whatever", "https://x/a.pdf") is None
    assert html_meta(b"", "https://x/a.html") is None
    # gzip transfer-encoding unwraps
    z = gzip.compress(b"<html lang=de><head><title>T</title></head>"
                      b"<body><p>x</p></body></html>", mtime=0)
    assert html_meta(z, "https://x/a.html")["lang"] == "de"


def test_html_meta_populated_on_corpus():
    from cc_extract.extractors.html import html_meta

    n = have_all = 0
    for p in CORPUS_HTML[:80]:
        m = html_meta(p)
        if m is None:
            continue
        n += 1
        if all(m[k] for k in m):
            have_all += 1
            assert m["og_title"] == m["title"]
            assert m["canonical"].startswith("/canonical/")
    assert n > 20 and have_all > 20


def test_html_robots_directive_union_and_case():
    from cc_extract.extractors.html import html_robots

    # two robots metas combine restrictively; attr case/quote/order and
    # token whitespace/case are all normalized; positive tokens no-op
    doc = (b"<html><head>"
           b"<meta NAME='ROBOTS' CONTENT=' NoIndex , index '>"
           b'<meta content="follow, NOFOLLOW" name=robots>'
           b'<meta name="viewport" content="width=device-width">'
           b"</head><body><p>hi</p></body></html>")
    m = html_robots(doc, "https://x/a.html")
    assert m["noindex"] is True and m["nofollow"] is True
    assert m["n_robots_metas"] == 2
    # 'none' implies both restrictions in a single tag
    m = html_robots(b"<html><head><meta name=robots content=none>"
                    b"</head><body><p>x</p></body></html>", "https://x/a.html")
    assert m["noindex"] is True and m["nofollow"] is True
    assert m["n_robots_metas"] == 1
    # per-crawler names (googlebot) are out of scope — NOT counted
    m = html_robots(b'<html><head><meta name="googlebot" content="noindex">'
                    b"</head><body><p>x</p></body></html>", "https://x/a.html")
    assert m == {"noindex": False, "nofollow": False, "n_robots_metas": 0,
                 "n_anchors": 0, "n_nofollow_anchors": 0}


def test_html_robots_anchor_rel_counting():
    from cc_extract.extractors.html import html_robots

    doc = (b"<html><body>"
           b'<a href="/a" rel="external NOFOLLOW">one</a>'   # counted
           b"<a rel=nofollow href=/b>two</a>"                # bare attrs
           b'<a href="/c" rel="noopener">three</a>'          # rel, no nofollow
           b'<a href="/d">four</a>'                          # no rel
           b'<a name="anchor-only">five</a>'                 # no href: not an edge
           b'<a href="" rel=nofollow>six</a>'                # empty href: not an edge
           b"<p>text</p></body></html>")
    m = html_robots(doc, "https://x/a.html")
    assert m["n_anchors"] == 4
    assert m["n_nofollow_anchors"] == 2
    # 'nofollow' must be a whole rel token, not a substring
    m = html_robots(b'<html><body><a href="/x" rel="nofollowish">t</a>'
                    b"<p>x</p></body></html>", "https://x/a.html")
    assert m["n_anchors"] == 1 and m["n_nofollow_anchors"] == 0


def test_html_robots_routing_parity_and_corpus():
    from cc_extract.extractors.html import html_robots

    assert html_robots(b"%PDF-1.4 whatever", "https://x/a.pdf") is None
    assert html_robots(b"", "https://x/a.html") is None
    z = gzip.compress(b"<html><head><meta name=robots content=noindex>"
                      b"</head><body><p>x</p></body></html>", mtime=0)
    assert html_robots(z, "https://x/a.html")["noindex"] is True
    # corpus population: directives, nofollow edges and plain pages all occur
    n = with_meta = with_nf = 0
    for p in CORPUS_HTML[:120]:
        m = html_robots(p)
        if m is None:
            continue
        n += 1
        assert m["n_nofollow_anchors"] <= m["n_anchors"]
        if m["n_robots_metas"]:
            with_meta += 1
        if m["n_nofollow_anchors"]:
            with_nf += 1
    assert n > 60 and with_meta > 5 and with_nf > 10
    assert with_meta < n  # plain pages remain the majority


def test_html_jsonld_variants_and_flattening():
    from cc_extract.extractors.html import html_jsonld

    # top-level array, list-valued @type
    m = html_jsonld(b"<html><head><script type='application/ld+json'>"
                    b'[{"@type":["A","B"]},3]</script></head>'
                    b"<body><p>x</p></body></html>", "https://x/a.html")
    assert m["ld_blocks"] == 1 and m["ld_valid"] == 1
    assert m["ld_types"] == "A+B"
    # @graph flattening + case-insensitive type attr + Article headline
    m = html_jsonld(b'<html><script TYPE="APPLICATION/LD+JSON">'
                    b'{"@graph":[{"@type":"Article","headline":"h"},'
                    b'{"@type":"WebSite","name":"n"}]}</script>'
                    b"<body><p>x</p></body></html>", "https://x/a.html")
    assert m["ld_types"] == "Article,WebSite"
    assert m["ld_headline"] == "h"
    # bare attr + malformed JSON counts the block, not the entity
    m = html_jsonld(b"<html><script type=application/ld+json>{bad}"
                    b"</script><body><p>x</p></body></html>",
                    "https://x/a.html")
    assert m == {"ld_blocks": 1, "ld_valid": 0, "ld_types": None,
                 "ld_headline": None, "ld_breadcrumbs": 0}
    # breadcrumbs total across entities; plain js scripts are ignored
    m = html_jsonld(b"<html><script>var x=1;</script>"
                    b'<script type="application/ld+json">'
                    b'{"@type":"BreadcrumbList","itemListElement":[1,2,3]}'
                    b"</script><body><p>x</p></body></html>",
                    "https://x/a.html")
    assert m["ld_blocks"] == 1 and m["ld_breadcrumbs"] == 3


def test_html_jsonld_routing_parity_and_gzip():
    from cc_extract.extractors.html import html_jsonld

    assert html_jsonld(b"%PDF-1.4 whatever", "https://x/a.pdf") is None
    assert html_jsonld(b"", "https://x/a.html") is None
    z = gzip.compress(b'<html><script type="application/ld+json">'
                      b'{"@type":"Thing"}</script>'
                      b"<body><p>x</p></body></html>", mtime=0)
    assert html_jsonld(z, "https://x/a.html")["ld_types"] == "Thing"


def test_html_jsonld_populated_on_corpus():
    from cc_extract.extractors.html import html_jsonld

    n = with_blocks = invalid = crumbs = graphs = zero = 0
    for p in CORPUS_HTML[:200]:
        m = html_jsonld(p)
        if m is None:
            continue
        n += 1
        if m["ld_blocks"] == 0:
            zero += 1
            continue
        with_blocks += 1
        if m["ld_valid"] < m["ld_blocks"]:
            invalid += 1
        if m["ld_breadcrumbs"]:
            crumbs += 1
            assert "BreadcrumbList" in m["ld_types"]
        if m["ld_types"] and "WebSite" in m["ld_types"]:
            graphs += 1
        if m["ld_headline"] is not None:
            assert "Article" in m["ld_types"]
    # every generator variant class is populated in a 200-doc window
    assert n > 100 and with_blocks > 80
    assert invalid > 3 and crumbs > 10 and graphs > 3 and zero > 3


def test_html_tables_geometry_and_text_rules():
    from cc_extract.extractors.html import html_tables

    doc = (b"<html><body><p>prose</p>"
           b"<table><caption>C &amp; cap</caption>"
           b"<tr><th>h1</th> <th>h2</th></tr>"
           b"<tr><td><b>bold</b> text</td><td></td></tr>"
           b"<tr><td>42</td></tr>"
           b"</table>"
           b"<table><tr><td>t2</td></tr></table>"
           b"</body></html>")
    rows = html_tables(doc, "https://x/a.html")
    # geometry: 2 tables, positional indices, ragged rows allowed
    assert [(r["table_idx"], r["row_idx"], r["col_idx"]) for r in rows] == [
        (0, 0, 0), (0, 0, 1), (0, 1, 0), (0, 1, 1), (0, 2, 0), (1, 0, 0)]
    assert [r["is_header"] for r in rows] == [1, 1, 0, 0, 0, 0]
    # caption repeats per row of ITS table only; charrefs decode
    assert rows[0]["caption"] == "C & cap" and rows[5]["caption"] is None
    # inner tags strip to spaces; empty cell is NULL not ''
    assert rows[2]["cell"] == "bold text"
    assert rows[3]["cell"] is None
    assert rows[4]["cell"] == "42"
    # routing parity + never-raises on weird markup
    assert html_tables(b"%PDF-1.4 x", "https://x/a.pdf") is None
    assert html_tables(b"<html><body><p>no tables</p></body></html>",
                       "https://x/a.html") == []
    assert html_tables(b"<html><table><tr><td>open",
                       "https://x/a.html") == []


def test_html_tables_populated_on_corpus():
    from cc_extract.extractors.html import html_tables

    docs_with = headers = captions = numeric = 0
    for p in CORPUS_HTML[:120]:
        rows = html_tables(p)
        if not rows:
            continue
        docs_with += 1
        assert all(r["table_idx"] == 0 for r in rows)  # one table per doc
        hdr = [r for r in rows if r["is_header"]]
        assert hdr and all(r["row_idx"] == 0 for r in hdr)
        headers += 1
        if rows[0]["caption"]:
            captions += 1
        if any(r["cell"] and r["cell"].isdigit() for r in rows):
            numeric += 1
        # rectangular within this corpus: every body row has the header width
        ncols = len(hdr)
        bydrow: dict = {}
        for r in rows:
            bydrow.setdefault(r["row_idx"], []).append(r["col_idx"])
        assert all(v == list(range(ncols)) for v in bydrow.values())
    assert docs_with > 50 and captions > 5 and numeric > 40


def test_html_headings_outline_and_text_rules():
    from cc_extract.extractors.html import html_headings

    doc = (b"<html><body>"
           b"<h1 class=\"t\">Top &amp; <em>emph</em> title</h1>"
           b"<p>prose</p>"
           b"<h2>Section</h2><h3>Sub \xe2\x80\x94 part</h3>"
           b"<h4></h4>"               # empty heading: row kept, text NULL
           b"<h5>&lt;b&gt;literal&lt;/b&gt;</h5>"  # entity markup is TEXT
           b"<h2>Second</h2>"
           b"<h6>deep</h6>"
           b"<h2>unclosed"            # no close tag: emits nothing
           b"</body></html>")
    rows = html_headings(doc, "https://x/a.html")
    assert [(r["heading_idx"], r["level"], r["heading"]) for r in rows] == [
        (0, 1, "Top & emph title"),
        (1, 2, "Section"),
        (2, 3, "Sub — part"),
        (3, 4, None),
        (4, 5, "<b>literal</b>"),
        (5, 2, "Second"),
        (6, 6, "deep"),
    ]
    # mismatched nesting never matches; routing parity; never raises
    assert html_headings(b"<html><body><h2>x</h3></body></html>",
                         "https://x/a.html") == []
    assert html_headings(b"%PDF-1.4 x", "https://x/a.pdf") is None
    assert html_headings(b"<html><body><p>none</p></body></html>",
                         "https://x/a.html") == []


def test_html_headings_populated_on_corpus():
    from cc_extract.extractors.html import html_headings

    docs_with = h1s = charref = 0
    for p in CORPUS_HTML[:120]:
        rows = html_headings(p)
        if not rows:
            continue
        docs_with += 1
        levels = [r["level"] for r in rows]
        # classic corpus docs: one h1 first, then an h2 later
        if levels and levels[0] == 1:
            h1s += 1
            assert rows[0]["heading"]  # title-derived, never empty
        if any(r["heading"] and ("&" in r["heading"] or
                                 "—" in r["heading"]) for r in rows):
            charref += 1
        assert [r["heading_idx"] for r in rows] == list(range(len(rows)))
    assert docs_with > 50 and h1s > 50 and charref > 40


# Output schemas of the seven html operators and of their oracle tables,
# pinned as literals.  The Spark-vs-DuckDB contract check sorts columns
# and compares values as strings, so a reordered column or an int -> bigint
# drift would show only here.
OPERATOR_SCHEMAS = {
    "html_spans_df": "struct<url:string,n_blocks:int,n_kept:int,"
    "kept_chars:bigint,span_chars:bigint,doc_chars:bigint,"
    "first_kept_start:bigint,last_kept_end:bigint>",
    "html_meta_df": "struct<url:string,title:string,"
    "meta_description:string,og_title:string,canonical:string,lang:string>",
    "html_robots_df": "struct<url:string,noindex:boolean,nofollow:boolean,"
    "n_robots_metas:int,n_anchors:int,n_nofollow_anchors:int>",
    "html_jsonld_df": "struct<url:string,ld_blocks:int,ld_valid:int,"
    "ld_types:string,ld_headline:string,ld_breadcrumbs:int>",
    "html_blocks_df": "struct<url:string,block_idx:int,span_start:bigint,"
    "span_end:bigint,kept:int,n_chars:bigint,text_md5:string>",
    "html_tables_df": "struct<url:string,table_idx:int,caption:string,"
    "row_idx:int,col_idx:int,is_header:int,cell:string>",
    "html_headings_df": "struct<url:string,heading_idx:int,level:int,"
    "heading:string>",
}

_KEYS = [("url", "string"), ("warc_ts", "timestamp[us]")]
ORACLE_TABLE_SCHEMAS = {
    "html_spans_table": _KEYS + [
        ("n_blocks", "int32"), ("n_kept", "int32"), ("kept_chars", "int64"),
        ("span_chars", "int64"), ("doc_chars", "int64"),
        ("first_kept_start", "int64"), ("last_kept_end", "int64")],
    "html_meta_table": _KEYS + [
        ("title", "string"), ("meta_description", "string"),
        ("og_title", "string"), ("canonical", "string"), ("lang", "string")],
    "robots_meta_table": _KEYS + [
        ("noindex", "bool"), ("nofollow", "bool"),
        ("n_robots_metas", "int32"), ("n_anchors", "int32"),
        ("n_nofollow_anchors", "int32")],
    "jsonld_table": _KEYS + [
        ("ld_blocks", "int32"), ("ld_valid", "int32"),
        ("ld_types", "string"), ("ld_headline", "string"),
        ("ld_breadcrumbs", "int32")],
    "html_blocks_table": _KEYS + [
        ("block_idx", "int32"), ("span_start", "int64"),
        ("span_end", "int64"), ("kept", "int32"), ("n_chars", "int64"),
        ("text_md5", "string")],
    "tables_table": _KEYS + [
        ("table_idx", "int32"), ("caption", "string"), ("row_idx", "int32"),
        ("col_idx", "int32"), ("is_header", "int32"), ("cell", "string")],
    "headings_table": _KEYS + [
        ("heading_idx", "int32"), ("level", "int32"), ("heading", "string")],
}


def test_html_operator_schemas_are_pinned(spark):
    from cc_extract import job

    docs = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary")
    for name, want in OPERATOR_SCHEMAS.items():
        got = getattr(job, name)(docs).schema.simpleString()
        assert got == want, name
    assert job.html_blocks_df(docs, ordered=False).schema.simpleString() \
        == OPERATOR_SCHEMAS["html_blocks_df"]


def test_html_operators_on_batches_without_html(spark):
    """A row pass whose batch holds no html page yields no rows; it
    must not fail the task (a frame built from empty lists has float64
    columns, which Arrow cannot convert to string)."""
    import datetime

    from cc_extract import job

    docs = spark.createDataFrame(
        [("http://example.com/a.pdf", datetime.datetime(2025, 1, 1),
          b"%PDF-1.4 not html")],
        "url string, warc_ts timestamp, html binary")
    for name in OPERATOR_SCHEMAS:
        assert getattr(job, name)(docs).collect() == [], name


def test_html_oracle_table_schemas_are_pinned(tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    from cc_extract import oracle_data

    monkeypatch.setattr(oracle_data, "_ORACLE_DIR", str(tmp_path))
    monkeypatch.setattr(oracle_data, "_memo", {})
    for name, want in ORACLE_TABLE_SCHEMAS.items():
        schema = pq.read_schema(getattr(oracle_data, name)(40))
        assert [(f.name, str(f.type)) for f in schema] == want, name
