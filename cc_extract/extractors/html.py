"""X1 — HTML main-content extraction (SURVEY.md §2.4.1, normative).

Reference analogue: the html branch of ``lambda-text-extractor``'s simple
Lambda — BeautifulSoup/lxml DOM walk dropping script/style, emitting visible
text [R: functions/simple/main.py ⚠] — upgraded per the north rule with
boilerplate-strip heuristics (tag-blacklist pruning, link-density and
text-density block filtering) [D: BASELINE.json north_star].

Implementation: two passes, no DOM library (none exists in this
environment, SURVEY.md §0.3):

pass 1 — ``_scan_blocks``, one hand-written streaming scanner, turns the
decoded document into a list of *blocks*, where a block is the visible
text between block-level tag boundaries, annotated with
``(text, anchor_chars, n_tags)`` and, on request, its ``[start, end)``
span in the document;
pass 2 — drop a block iff::

    link_density = anchor_chars / total_chars          > 0.5
    OR (text_density = total_chars / (1 + n_tags) < 8  AND total_chars < 40)

Kept blocks join with ``\\n``; result goes through normalize_text (X17).
No DOM is retained — O(document) streaming, which is what lets the pandas
UDF process multi-MB pages without quadratic blowup.
"""

from __future__ import annotations

import re

from ..sniff import sniff_payload
from .charset import decode_bytes
from .normalize import normalize_text

# Subtrees rooted at these tags are dropped entirely (§2.4.1 rule 1).
BLACKLIST_TAGS = frozenset(
    "script style noscript template svg head iframe object embed form "
    "nav aside footer header button select option".split()
)

# These emit block boundaries (§2.4.1 rule 2).
BLOCK_TAGS = frozenset(
    "p div h1 h2 h3 h4 h5 h6 li tr br article section pre blockquote "
    "table ul ol".split()
)

LINK_DENSITY_MAX = 0.5
TEXT_DENSITY_MIN = 8.0
SHORT_BLOCK_CHARS = 40

_WS = re.compile(r"\s+")
_META_CHARSET = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([a-zA-Z0-9_\-]+)", re.IGNORECASE
)


# The scanner reads the same (lowercased start/end tag, charref-decoded
# data) events stdlib html.parser would report, without html.parser's
# per-char position bookkeeping (which was ~47% of total extraction CPU).
# Attributes are skipped quote-aware (a '>' inside a quoted attribute
# value does not end the tag); <script>/<style> bodies are raw text until
# the matching close tag, exactly like html.parser's
# CDATA_CONTENT_ELEMENTS.  tests/html_reference.py rebuilds blocks and
# spans from html.parser events; the differential tests hold the two
# equal.  One documented divergence on GARBAGE markup only: a tag that
# never terminates or has a non-alpha name falls back to text here (the
# WHATWG-shaped choice), where stdlib's tolerant tagfind invents names
# like `b'<`; real extraction output is unaffected (both routes strip
# such fragments as low-density noise) and the never-raises fuzz
# invariants cover the tag-soup space.

_TAGNAME_RX = re.compile(r"[a-zA-Z][a-zA-Z0-9.:_\-]*")
_ATTR_CHUNK_RX = re.compile(r"""[^>"']*""")
_ENDTAG_RX = re.compile(r"</\s*([a-zA-Z][a-zA-Z0-9.:_\-]*)[^>]*>")


def _skip_attrs(doc: str, pos: int, n: int) -> int:
    """Advance past the attribute section to just after '>', honoring
    quoted values (a '>' inside quotes does not end the tag).  Strictly
    linear — an alternation regex here is an exponential-backtracking
    trap on quote-heavy garbage (found by the fuzz suite).  Returns -1
    for an unterminated tag."""
    while pos < n:
        pos = _ATTR_CHUNK_RX.match(doc, pos).end()
        if pos >= n:
            return -1
        c = doc[pos]
        if c == ">":
            return pos + 1
        end = doc.find(c, pos + 1)  # c is ' or "
        if end == -1:
            return -1
        pos = end + 1
    return -1


_RAWTEXT_CLOSE = {
    "script": re.compile(r"</script", re.IGNORECASE),
    "style": re.compile(r"</style", re.IGNORECASE),
}
# a trailing "/" that is part of an UNQUOTED attribute value (…=1/>) does
# NOT make the tag self-closing — html.parser's attrfind absorbs it into
# the value; a "/" after a name, quote, or whitespace does (<br/>, x="y"/>)
_SELFCLOSE_VETO = re.compile(r"""=\s*[^\s"'>]*/$""")


def _scan_blocks(
    doc: str, want_spans: bool = False
) -> tuple[list[tuple[str, int, int]], list[tuple[int, int]]]:
    """Scan *doc* into blocks ``[(text, anchor_chars, n_tags)]``.

    With *want_spans*, also record per block the ``[start, end)`` char
    span (pre-``unescape`` offsets — a charref lives wholly inside one
    data segment) covering every visible (non-whitespace) data segment
    that contributed to it.  Spans are strictly increasing and
    non-overlapping, and each is self-contained: a block tag always
    flushes, so none occurs inside a span (the rescan test in
    tests/test_html_spans.py).

    Blocks and spans are pinned against the stdlib html.parser reference
    in tests/html_reference.py over the corpus, hand-written and
    per-tag edge cases and random markup (test_extractors.py::
    test_html_fast_scanner_*, test_properties.py::
    test_scan_blocks_differential).  The state machine lives in local
    variables (per-event method dispatch cost ~40% of an event-driven
    walker), and the common no-quote attribute tail is two C-level
    ``str.find`` probes instead of the chunk-regex loop.

    Returns ``(blocks, spans)``; ``spans`` is ``[]`` unless *want_spans*.
    """
    from html import unescape

    n = len(doc)
    pos = 0
    blocks: list[tuple[str, int, int]] = []
    spans: list[tuple[int, int]] = []
    parts: list[str] = []
    anchor_chars = 0
    n_tags = 0
    skip = 0
    adepth = 0
    lo: int | None = None
    hi: int | None = None
    find = doc.find
    sub_ws = _WS.sub

    def flush() -> None:
        nonlocal parts, anchor_chars, n_tags, lo, hi
        text = sub_ws(" ", "".join(parts)).strip()
        if text:
            blocks.append((text, anchor_chars, n_tags))
            if want_spans:
                spans.append((lo, hi))
        parts = []
        anchor_chars = 0
        n_tags = 0
        lo = None
        hi = None

    def emit(seg: str, s: int, e: int) -> None:
        # rare-path data event (literal '<', EOF flush of broken markup);
        # the hot text-segment path is inlined in the loop below
        nonlocal anchor_chars, lo, hi
        if skip or not seg:
            return
        parts.append(seg)
        if adepth:
            anchor_chars += len(sub_ws(" ", seg).strip())
        if want_spans and not seg.isspace():
            if lo is None:
                lo = s
            hi = e

    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            seg = doc[pos:]
            if not skip:
                if "&" in seg:
                    seg = unescape(seg)
                if seg:
                    parts.append(seg)
                    if adepth:
                        anchor_chars += len(sub_ws(" ", seg).strip())
                    if want_spans and not seg.isspace():
                        if lo is None:
                            lo = pos
                        hi = n
            break
        if lt > pos:
            # hot path: text segment between tags
            if not skip:
                seg = doc[pos:lt]
                if "&" in seg:
                    seg = unescape(seg)
                if seg:
                    parts.append(seg)
                    if adepth:
                        anchor_chars += len(sub_ws(" ", seg).strip())
                    if want_spans and not seg.isspace():
                        if lo is None:
                            lo = pos
                        hi = lt
        nxt = doc[lt + 1 : lt + 2]
        if nxt == "!":
            if doc.startswith("<!--", lt):
                end_ = find("-->", lt + 4)
                if end_ == -1:
                    seg = doc[lt:]
                    emit(unescape(seg) if "&" in seg else seg, lt, n)
                    pos = n
                else:
                    pos = end_ + 3
            else:
                end_ = find(">", lt + 2)
                if end_ == -1:
                    seg = doc[lt:]
                    emit(unescape(seg) if "&" in seg else seg, lt, n)
                    pos = n
                else:
                    pos = end_ + 1
            continue
        if nxt == "?":
            end_ = find(">", lt + 2)
            if end_ == -1:
                seg = doc[lt:]
                emit(unescape(seg) if "&" in seg else seg, lt, n)
                pos = n
            else:
                pos = end_ + 1
            continue
        if nxt == "/":
            m = _ENDTAG_RX.match(doc, lt)
            if m:
                tag = m.group(1).lower()
                pos = m.end()
                # end(tag), inlined
                if tag in BLACKLIST_TAGS:
                    if skip:
                        skip -= 1
                elif not skip:
                    if tag == "a" and adepth:
                        adepth -= 1
                    if tag in BLOCK_TAGS and (parts or n_tags):
                        flush()
            else:  # malformed </...: skip to '>' like html.parser's bailout
                end_ = find(">", lt + 2)
                if end_ == -1:
                    seg = doc[lt:]
                    emit(unescape(seg) if "&" in seg else seg, lt, n)
                    pos = n
                else:
                    pos = end_ + 1
            continue
        m = _TAGNAME_RX.match(doc, lt + 1)
        if not m:
            # literal '<' in text
            emit("<", lt, lt + 1)
            pos = lt + 1
            continue
        tag = m.group(0).lower()
        ae = m.end()
        # attribute tail: no-quote fast path (first '>' precedes any
        # quote char ⇒ identical to the chunk-loop answer)
        gt = find(">", ae)
        if gt == -1:
            tag_end = _skip_attrs(doc, ae, n)
        elif find('"', ae, gt) == -1 and find("'", ae, gt) == -1:
            tag_end = gt + 1
        else:
            tag_end = _skip_attrs(doc, ae, n)
        if tag_end == -1:
            seg = doc[lt:]  # unterminated tag at EOF
            emit(unescape(seg) if "&" in seg else seg, lt, n)
            pos = n
            continue
        pos = tag_end
        self_closing = doc[tag_end - 2 : tag_end - 1] == "/" and not (
            _SELFCLOSE_VETO.search(doc, ae, tag_end - 1)
        )
        # start(tag) [+ end(tag) when self-closing], inlined
        if tag in BLACKLIST_TAGS:
            if self_closing:
                pass  # start += 1 then end -= 1: net zero
            elif tag in ("script", "style"):
                # raw-text element: content never emits data; only the
                # cursor (and, on a found close, the net-zero depth) move
                mclose = _RAWTEXT_CLOSE[tag].search(doc, pos)
                if mclose is None:
                    skip += 1  # unterminated: stay skipped to EOF
                    pos = n
                else:
                    gt2 = find(">", mclose.start())
                    pos = n if gt2 == -1 else gt2 + 1
            else:
                skip += 1
            continue
        if not skip:
            if tag in BLOCK_TAGS:
                if parts or n_tags:
                    flush()
            else:
                n_tags += 1
            if tag == "a":
                adepth += 1
        if self_closing and not skip:
            if tag == "a" and adepth:
                adepth -= 1
            if tag in BLOCK_TAGS and (parts or n_tags):
                flush()
    flush()
    return blocks, spans


def _keep_block(text: str, anchor_chars: int, n_tags: int) -> bool:
    total = len(text)
    if total == 0:
        return False
    if anchor_chars / total > LINK_DENSITY_MAX:
        return False
    if total / (1.0 + n_tags) < TEXT_DENSITY_MIN and total < SHORT_BLOCK_CHARS:
        return False
    return True


def _decode_html(payload: bytes) -> str:
    """bytes -> document text, honoring a ``<meta charset>`` declared in
    the first 4 KiB (charset.decode_bytes cascade otherwise)."""
    m = _META_CHARSET.search(payload[:4096])
    return decode_bytes(payload,
                        m.group(1).decode("ascii", "ignore") if m else None)


def extract_html(payload: bytes) -> str:
    """bytes -> main-content plain text per the normative spec above."""
    blocks, _ = _scan_blocks(_decode_html(payload))
    kept = [t for (t, a, n) in blocks if _keep_block(t, a, n)]
    return normalize_text("\n".join(kept))


# ------------------------------------------------- span provenance (X1+)

def extract_html_blocks(payload: bytes) -> list[dict]:
    """X1 with span provenance — the "spans" half of the north rule's
    per-document match [D: BASELINE.json north_rule]: the same decode ->
    scan -> block walk as extract_html, returning every block with its
    [start, end) char span in the decoded document plus the density
    stats the keep rule uses.  Invariants (tests/test_html_spans.py):

    - normalize_text("\\n".join(kept texts)) == extract_html(payload)
      — byte-identity by construction (same state machine);
    - spans strictly increasing, non-overlapping, in-bounds;
    - re-scanning doc[start:end] alone reproduces the block's text.
    """
    return blocks_of_doc(_decode_html(payload))


def blocks_of_doc(doc: str) -> list[dict]:
    """extract_html_blocks over an already-decoded document string."""
    blocks, spans = _scan_blocks(doc, want_spans=True)
    out = []
    for i, ((text, anchor, n_tags), (lo, hi)) in enumerate(
            zip(blocks, spans)):
        out.append({
            "block_idx": i,
            "text": text,
            "span_start": lo,
            "span_end": hi,
            "anchor_chars": anchor,
            "n_tags": n_tags,
            "kept": _keep_block(text, anchor, n_tags),
        })
    return out


def _resolve_html_doc(payload: bytes, url: str | None = None) -> str | None:
    """The decoded document if *payload* routes to the html extractor in
    extract_document (same sniff and depth-1 gzip/bz2/xz unwrap,
    sniff.sniff_payload), else None."""
    if not payload:
        return None
    fmt, payload, _ = sniff_payload(bytes(payload), url)
    return _decode_html(payload) if fmt == "html" else None


def html_block_rows(payload: bytes, url: str | None = None) -> list[dict] | None:
    """Per-BLOCK span rows for the ``cc_html_blocks`` contract query —
    the literal per-block "spans match" surface: one row per block with
    its [start, end) offsets, keep decision, char count and an md5 pin
    of the exact block text.  Shared by the Spark mapInPandas batch fn
    and the oracle table builder (single row-semantics implementation);
    returns None for non-html documents."""
    import hashlib

    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None
    try:
        blocks = blocks_of_doc(doc)
    except Exception:  # noqa: BLE001 — quarantine parity
        return None
    return [
        {
            "block_idx": b["block_idx"],
            "span_start": b["span_start"],
            "span_end": b["span_end"],
            "kept": int(b["kept"]),
            "n_chars": len(b["text"]),
            "text_md5": hashlib.md5(b["text"].encode("utf-8")).hexdigest(),
        }
        for b in blocks
    ]


_TITLE_RX = re.compile(r"<title[^>]*>(.*?)</title", re.IGNORECASE | re.DOTALL)
_HEADTAG_RX = re.compile(r"<(meta|link|html)\b([^>]*?)/?>", re.IGNORECASE | re.DOTALL)
_ATTR_RX = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9:_\-]*)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'>]+))"""
)

META_COLS = ("title", "meta_description", "og_title", "canonical", "lang")


def html_meta(payload: bytes, url: str | None = None) -> dict | None:
    """Head-metadata extraction — the page-metadata surface every real
    extraction stack ships next to main content (trafilatura/newspaper
    expose the same five fields): first ``<title>``, first
    ``<meta name=description>``, first ``<meta property=og:title>``,
    first ``<link rel=canonical>``, and the ``<html lang>`` attribute.

    Normative spec (shared row code between the Spark ``mapInPandas``
    batch fn and the DuckDB oracle table builder, the html_span_stats
    pattern):

    - routing parity with extract_document (``_resolve_html_doc``: the
      shared sniff + depth-1 gzip/bz2/xz unwrap, then the charset
      decode; non-html -> None);
    - FIRST occurrence wins for each field, scanning the whole document
      in order (the WHATWG-shaped simplification: a meta in <body> still
      counts — real crawl HTML routinely leaks head tags past an
      unclosed head, and first-wins is what browsers' speculative
      parsers do);
    - attribute values may be double-quoted, single-quoted or bare;
      charrefs decode; title/content whitespace collapses; empty values
      are NULL, never '';
    - a '>' inside a quoted attribute value terminates the tag match (a
      documented divergence from the block scanner's quote-aware skip —
      acceptable here because both engines share this exact code, and
      the field regexes re-anchor at the next tag).
    """
    from html import unescape

    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None
    out: dict[str, str | None] = {c: None for c in META_COLS}
    m = _TITLE_RX.search(doc)
    if m:
        out["title"] = _WS.sub(" ", unescape(m.group(1))).strip() or None
    for tm in _HEADTAG_RX.finditer(doc):
        tag = tm.group(1).lower()
        attrs: dict[str, str] = {}
        for am in _ATTR_RX.finditer(tm.group(2)):
            aname = am.group(1).lower()
            if aname not in attrs:
                raw = next(g for g in am.groups()[1:] if g is not None)
                attrs[aname] = unescape(raw)
        if tag == "html":
            if out["lang"] is None and attrs.get("lang", "").strip():
                out["lang"] = attrs["lang"].strip().lower()
        elif tag == "meta":
            content = _WS.sub(" ", attrs.get("content", "")).strip()
            if not content:
                continue
            name = attrs.get("name", "").strip().lower()
            prop = attrs.get("property", "").strip().lower()
            if name == "description" and out["meta_description"] is None:
                out["meta_description"] = content
            elif prop == "og:title" and out["og_title"] is None:
                out["og_title"] = content
        elif tag == "link":
            rel = attrs.get("rel", "").strip().lower()
            href = attrs.get("href", "").strip()
            if rel == "canonical" and href and out["canonical"] is None:
                out["canonical"] = href
        if all(out[c] is not None for c in META_COLS):
            break
    return out


_A_TAG_RX = re.compile(r"<a\b([^>]*?)/?>", re.IGNORECASE | re.DOTALL)


def html_links(payload: bytes, url: str | None = None) -> list[str] | None:
    """All ``<a href>`` targets of an html-routed document, in document
    order — the link inventory a WAT metadata sidecar publishes per page
    (Common Crawl's ``HTML-Metadata.Links`` list).

    Normative spec (shared row code between the Spark segment writer in
    ``cc_wat_roundtrip`` and the DuckDB oracle table builder, the
    html_meta pattern):

    - routing parity with extract_document (``_resolve_html_doc``,
      gzip/bz2/xz-wrapped pages included; non-html -> None, html with
      zero anchors -> ``[]``);
    - an anchor is any ``<a ...>`` start tag carrying an ``href``
      attribute (double-quoted, single-quoted or bare, first href wins
      within a tag — the html_meta attribute convention); charrefs
      decode; whitespace inside the value is preserved (urls are not
      prose); empty hrefs are skipped;
    - duplicates are KEPT (document order, one entry per anchor) — the
      consumer decides about dedup, the sidecar records the page.
    """
    from html import unescape

    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None
    out: list[str] = []
    for tm in _A_TAG_RX.finditer(doc):
        for am in _ATTR_RX.finditer(tm.group(1)):
            if am.group(1).lower() == "href":
                raw = next(g for g in am.groups()[1:] if g is not None)
                href = unescape(raw)
                if href:
                    out.append(href)
                break
    return out


def html_robots(payload: bytes, url: str | None = None) -> dict | None:
    """Page-level robots directives — the in-page half of the Robots
    Exclusion Protocol that ``cc_robots_filter`` (RFC 9309 robots.txt)
    does not cover: the ``<meta name=robots>`` tag and the
    ``rel=nofollow`` anchor microformat.  A polite corpus builder drops
    noindex pages and a ranker drops nofollow edges; this row function
    surfaces both signals.

    Normative spec (shared row code between the Spark ``mapInPandas``
    batch fn and the DuckDB oracle table builder, the html_meta
    pattern):

    - routing parity with extract_document (``_resolve_html_doc``,
      gzip/bz2/xz-wrapped pages included; non-html -> None);
    - a robots meta is any ``<meta>`` whose ``name`` equals ``robots``
      case-insensitively (generic only — per-crawler names like
      ``googlebot`` are a documented out-of-scope simplification);
      its ``content`` is a comma-separated directive list, tokens
      lowercased/stripped; ``none`` means ``noindex`` + ``nofollow``;
      positive tokens (``all``/``index``/``follow``) are no-ops;
      MULTIPLE robots metas combine restrictively (union of
      restrictions — the documented crawler convention);
    - an anchor is an ``<a>`` start tag carrying a non-empty ``href``
      (the ``html_links`` population, so n_nofollow_anchors/n_anchors
      is a well-defined edge fraction); its ``rel`` is a
      space-separated token list (HTML spec), counted nofollow iff any
      token equals ``nofollow`` case-insensitively;
    - attribute conventions (quote styles, bare values, first-wins
      within a tag, charref decode) are the html_meta conventions.
    """
    from html import unescape

    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None
    noindex = nofollow = False
    n_metas = 0
    for tm in _HEADTAG_RX.finditer(doc):
        if tm.group(1).lower() != "meta":
            continue
        attrs: dict[str, str] = {}
        for am in _ATTR_RX.finditer(tm.group(2)):
            aname = am.group(1).lower()
            if aname not in attrs:
                raw = next(g for g in am.groups()[1:] if g is not None)
                attrs[aname] = unescape(raw)
        if attrs.get("name", "").strip().lower() != "robots":
            continue
        n_metas += 1
        tokens = {t.strip().lower()
                  for t in attrs.get("content", "").split(",")}
        if "noindex" in tokens or "none" in tokens:
            noindex = True
        if "nofollow" in tokens or "none" in tokens:
            nofollow = True
    n_anchors = n_nofollow = 0
    for tm in _A_TAG_RX.finditer(doc):
        attrs = {}
        for am in _ATTR_RX.finditer(tm.group(1)):
            aname = am.group(1).lower()
            if aname not in attrs:
                raw = next(g for g in am.groups()[1:] if g is not None)
                attrs[aname] = unescape(raw)
        if not attrs.get("href", ""):
            continue
        n_anchors += 1
        rel_tokens = {t.lower() for t in attrs.get("rel", "").split()}
        if "nofollow" in rel_tokens:
            n_nofollow += 1
    return {"noindex": noindex, "nofollow": nofollow,
            "n_robots_metas": n_metas, "n_anchors": n_anchors,
            "n_nofollow_anchors": n_nofollow}


_SCRIPT_RX = re.compile(r"<script\b([^>]*)>(.*?)</script\s*>",
                        re.IGNORECASE | re.DOTALL)



def html_jsonld(payload: bytes, url: str | None = None) -> dict | None:
    """Schema.org JSON-LD structured-data extraction — the machine-
    readable page-semantics surface real extraction stacks publish next
    to main content and head metadata (Common Crawl's WAT captures the
    same script blocks; trafilatura/extruct expose the parsed entities).

    Normative spec (shared row code between the Spark ``mapInPandas``
    batch fn and the DuckDB oracle table builder, the html_meta
    pattern):

    - routing parity with extract_document (``_resolve_html_doc``,
      gzip/bz2/xz-wrapped pages included; non-html -> None);
    - a JSON-LD block is any ``<script>`` element whose ``type``
      attribute equals ``application/ld+json`` case-insensitively
      (quote styles and attribute-name case per the html_meta
      convention); ``ld_blocks`` counts them in document order;
    - each block body parses with a strict JSON parser; parse failures
      count toward ``ld_blocks`` but not ``ld_valid`` (real crawl
      JSON-LD is routinely malformed — never raise);
    - top-level entities are the parsed value itself (object), its
      ``@graph`` array members (object with ``@graph``), or the array
      members (top-level array) — in document order;
    - ``ld_types``: comma-joined ``@type`` of every entity in order
      (a list-valued ``@type`` joins its members with ``+``); NULL when
      no valid entity declares one (empty-is-NULL, never '');
    - ``ld_headline``: first ``headline`` string of an Article-typed
      entity; ``ld_breadcrumbs``: total ``itemListElement`` length over
      BreadcrumbList-typed entities.
    """
    import json as _json

    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None
    n_blocks = n_valid = n_crumbs = 0
    types: list[str] = []
    headline: str | None = None
    for sm in _SCRIPT_RX.finditer(doc):
        attrs: dict[str, str] = {}
        for am in _ATTR_RX.finditer(sm.group(1)):
            aname = am.group(1).lower()
            if aname not in attrs:
                raw = next(g for g in am.groups()[1:] if g is not None)
                attrs[aname] = raw
        if attrs.get("type", "").strip().lower() != "application/ld+json":
            continue
        n_blocks += 1
        try:
            val = _json.loads(sm.group(2))
        except ValueError:
            continue
        n_valid += 1
        if isinstance(val, dict) and isinstance(val.get("@graph"), list):
            entities = val["@graph"]
        elif isinstance(val, list):
            entities = val
        else:
            entities = [val]
        for ent in entities:
            if not isinstance(ent, dict):
                continue
            t = ent.get("@type")
            if isinstance(t, list):
                t = "+".join(str(x) for x in t)
            if t is not None:
                types.append(str(t))
            if t == "Article" and headline is None and \
                    isinstance(ent.get("headline"), str):
                headline = ent["headline"]
            if t == "BreadcrumbList" and \
                    isinstance(ent.get("itemListElement"), list):
                n_crumbs += len(ent["itemListElement"])
    return {
        "ld_blocks": n_blocks,
        "ld_valid": n_valid,
        "ld_types": ",".join(types) or None,
        "ld_headline": headline,
        "ld_breadcrumbs": n_crumbs,
    }


_TABLE_RX = re.compile(r"<table\b[^>]*>(.*?)</table\s*>",
                       re.IGNORECASE | re.DOTALL)
_TR_RX = re.compile(r"<tr\b[^>]*>(.*?)</tr\s*>", re.IGNORECASE | re.DOTALL)
_CELL_RX = re.compile(r"<(t[dh])\b[^>]*>(.*?)</t[dh]\s*>",
                      re.IGNORECASE | re.DOTALL)
_CAPTION_RX = re.compile(r"<caption\b[^>]*>(.*?)</caption\s*>",
                         re.IGNORECASE | re.DOTALL)
_ANYTAG_RX = re.compile(r"<[^>]*>")



def html_tables(payload: bytes, url: str | None = None) -> list[dict] | None:
    """Structured TABLE extraction — the tabular-data surface a
    training-data pipeline harvests separately from prose (the block
    scanner deliberately drops most table rows as boilerplate: low text
    density, not prose — tables belong in structured rows, the
    trafilatura/table-corpus split).

    Normative spec (shared row code between the Spark ``mapInPandas``
    batch fn and the DuckDB oracle table builder, the html_meta
    pattern):

    - routing parity with extract_document (``_resolve_html_doc``,
      gzip/bz2/xz-wrapped pages included; non-html -> None, html with
      zero tables -> ``[]``);
    - one output row per CELL: (table_idx, caption, row_idx, col_idx,
      is_header, cell) — document-order indices, ``col_idx`` positional
      (rowspan/colspan geometry is out of scope, a documented
      simplification), ``is_header`` = the cell is ``<th>``;
    - cell text: inner tags stripped to spaces, charrefs decoded,
      whitespace collapsed; EMPTY cells keep their position with
      ``cell`` NULL (empty-is-NULL, never '');
    - ``caption``: the table's first <caption>, same text rules, NULL
      when absent; repeated on each of the table's rows;
    - nested tables are out of scope (non-greedy innermost match; the
      corpus emits none) and a row with zero cells emits nothing —
      never raises on arbitrary markup.
    """
    from html import unescape

    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None

    def txt(raw: str) -> str | None:
        return _WS.sub(" ", unescape(_ANYTAG_RX.sub(" ", raw))).strip() \
            or None

    out: list[dict] = []
    for ti, tm in enumerate(_TABLE_RX.finditer(doc)):
        body = tm.group(1)
        cm = _CAPTION_RX.search(body)
        caption = txt(cm.group(1)) if cm else None
        for ri, rm in enumerate(_TR_RX.finditer(body)):
            for ci, cellm in enumerate(_CELL_RX.finditer(rm.group(1))):
                out.append({
                    "table_idx": ti,
                    "caption": caption,
                    "row_idx": ri,
                    "col_idx": ci,
                    "is_header": int(cellm.group(1).lower() == "th"),
                    "cell": txt(cellm.group(2)),
                })
    return out


_HEADING_RX = re.compile(r"<h([1-6])\b[^>]*>(.*?)</h\1\s*>",
                         re.IGNORECASE | re.DOTALL)


def html_headings(payload: bytes, url: str | None = None) -> list[dict] | None:
    """Document-OUTLINE extraction — the heading hierarchy surface a
    training-data pipeline harvests for structure-aware chunking and
    section-title metadata (readability/trafilatura expose the same
    h1-h6 ladder next to main content).

    Normative spec (shared row code between the Spark ``mapInPandas``
    batch fn and the DuckDB oracle table builder, the html_meta
    pattern):

    - routing parity with extract_document (``_resolve_html_doc``,
      gzip/bz2/xz-wrapped pages included; non-html -> None, html with
      zero headings -> ``[]``);
    - one output row per CLOSED ``<hN>...</hN>`` pair in document order:
      (heading_idx, level, heading) — an unclosed heading emits nothing
      (the scanner cannot know where it ends; a documented convention);
    - heading text: inner tags stripped to spaces, charrefs decoded
      AFTER the strip (entity-encoded markup is text, not markup),
      whitespace collapsed; an all-markup/empty heading keeps its
      position with ``heading`` NULL (the empty-is-NULL cell
      convention);
    - mismatched nesting (``<h2>..</h3>``) never matches — the close
      tag must echo the open level; never raises on arbitrary markup.
    """
    from html import unescape

    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None
    out: list[dict] = []
    for m in _HEADING_RX.finditer(doc):
        text = _WS.sub(" ", unescape(_ANYTAG_RX.sub(" ", m.group(2)))).strip()
        out.append({
            "heading_idx": len(out),
            "level": int(m.group(1)),
            "heading": text or None,
        })
    return out


def html_span_stats(payload: bytes, url: str | None = None) -> dict | None:
    """Per-document span-provenance stats for the ``cc_html_spans``
    contract query — the SINGLE row-semantics implementation both the
    Spark ``mapInPandas`` batch fn and the DuckDB oracle table builder
    call (the extraction_table pattern: shared row code, independently
    expressed relational layer).  Routing is extract_document's own
    (sniff + depth-1 gzip/bz2/xz unwrap, ``_resolve_html_doc``); returns
    None for documents that do not route to the html extractor, and —
    matching extract_document's never-raises quarantine — for the rare
    payload the extractor would reject."""
    doc = _resolve_html_doc(payload, url)
    if doc is None:
        return None
    try:
        doc_chars = len(doc)
        blocks = blocks_of_doc(doc)
    except Exception:  # noqa: BLE001 — quarantine parity with extract_document
        return None
    kept = [b for b in blocks if b["kept"]]
    return {
        "n_blocks": len(blocks),
        "n_kept": len(kept),
        "kept_chars": sum(len(b["text"]) for b in kept),
        "span_chars": sum(b["span_end"] - b["span_start"] for b in kept),
        "doc_chars": doc_chars,
        "first_kept_start": kept[0]["span_start"] if kept else None,
        "last_kept_end": kept[-1]["span_end"] if kept else None,
    }
