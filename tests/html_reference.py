"""Stdlib ``html.parser`` reference for the X1 block scanner.

``cc_extract.extractors.html._scan_blocks`` is the one production
scanner.  This module re-derives its output — blocks AND spans — from
the events of the standard-library parser, so the differential tests
can pin both against an implementation that shares no scanning code
with it (only the tag sets and the whitespace rule, which are the spec).

Positions: ``HTMLParser.getpos()`` (line, column) is converted to a
character offset at every event.  A data segment starts where its
``handle_data`` event is reported and ends where the next event (tag,
comment, declaration, PI or further data) begins, or at ``len(doc)``
after ``close()``.  Offsets index the raw document, before charref
decoding, exactly like the production scanner's spans.

The differential inputs live here too: the hand-written ``EDGE_CASES``,
``tag_edge_cases()`` generated from the tag sets, and two hypothesis
fragment strategies.
"""

from __future__ import annotations

from html.parser import HTMLParser

from hypothesis import strategies as st

from cc_extract.extractors.html import _WS, BLACKLIST_TAGS, BLOCK_TAGS


class _BlockState:
    """Tag/data events -> blocks ``[(text, anchor_chars, n_tags)]`` plus,
    per block, the ``[start, end)`` span covering every visible
    (non-whitespace) data segment that contributed to it."""

    def __init__(self) -> None:
        self.blocks: list[tuple[str, int, int]] = []
        self.spans: list[tuple[int, int]] = []
        self._parts: list[str] = []
        self._anchor_chars = 0
        self._n_tags = 0
        self._skip_depth = 0
        self._anchor_depth = 0
        self._lo: int | None = None
        self._hi: int | None = None

    def _flush(self) -> None:
        text = _WS.sub(" ", "".join(self._parts)).strip()
        if text:
            self.blocks.append((text, self._anchor_chars, self._n_tags))
            self.spans.append((self._lo, self._hi))
        self._parts = []
        self._anchor_chars = 0
        self._n_tags = 0
        self._lo = None
        self._hi = None

    def start(self, tag: str) -> None:
        if tag in BLACKLIST_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag in BLOCK_TAGS:
            self._flush()
        else:
            self._n_tags += 1
        if tag == "a":
            self._anchor_depth += 1

    def end(self, tag: str) -> None:
        if tag in BLACKLIST_TAGS:
            if self._skip_depth:
                self._skip_depth -= 1
            return
        if self._skip_depth:
            return
        if tag == "a" and self._anchor_depth:
            self._anchor_depth -= 1
        if tag in BLOCK_TAGS:
            self._flush()

    def data(self, data: str, start: int, end: int) -> None:
        if self._skip_depth or not data:
            return
        self._parts.append(data)
        if self._anchor_depth:
            self._anchor_chars += len(_WS.sub(" ", data).strip())
        if not data.isspace():
            if self._lo is None:
                self._lo = start
            self._hi = end

    def finish(self) -> None:
        self._flush()


class _BlockWalkerStdlib(HTMLParser):
    """Feeds stdlib parser events, with character offsets, into
    ``_BlockState``.  A data event is held until the next event so its
    end offset is known; the state cannot change in between, because
    every state change is itself an event."""

    def __init__(self, doc: str) -> None:
        super().__init__(convert_charrefs=True)
        self.state = _BlockState()
        self._n = len(doc)
        # html.parser counts lines on "\n" only
        self._line_starts = [0] + [
            i + 1 for i, c in enumerate(doc) if c == "\n"]
        self._pending: tuple[str, int] | None = None

    def _offset(self) -> int:
        line, col = self.getpos()
        return self._line_starts[line - 1] + col

    def _end_pending(self, end: int) -> None:
        if self._pending is not None:
            data, start = self._pending
            self._pending = None
            self.state.data(data, start, end)

    def _event(self) -> None:
        self._end_pending(self._offset())

    def handle_starttag(self, tag, attrs):
        self._event()
        self.state.start(tag)

    def handle_endtag(self, tag):
        self._event()
        self.state.end(tag)

    def handle_data(self, data):
        self._event()
        self._pending = (data, self._offset())

    def handle_comment(self, data):
        self._event()

    def handle_decl(self, decl):
        self._event()

    def handle_pi(self, data):
        self._event()

    def unknown_decl(self, data):
        self._event()

    def close(self) -> None:
        super().close()
        self._end_pending(self._n)
        self.state.finish()


def reference_scan(
    doc: str,
) -> tuple[list[tuple[str, int, int]], list[tuple[int, int]]]:
    """``(blocks, spans)`` from the stdlib parser, in the shape of
    ``_scan_blocks(doc, want_spans=True)``."""
    w = _BlockWalkerStdlib(doc)
    w.feed(doc)
    w.close()
    return w.state.blocks, w.state.spans


# Hand-written constructs the scanner must get right.
EDGE_CASES = [
    # comment containing tags
    "<p>keep</p><!-- <div>not a tag</div> --><p>also</p>",
    # script with markup inside a string (raw-text element)
    '<p>a</p><script>var s = "</p><div>";</script><p>b</p>',
    "<p>a</p><style>p > a { color: red }</style><p>b</p>",
    # quoted '>' inside an attribute value
    '<p><a href="x>y">link text here</a> plus trailing words</p>',
    # self-closing, uppercase, literal '<' in text, entities
    "<P>One<BR/>Two &amp; 3 < 4</P>",
    # malformed end tag, unterminated tag at EOF
    "<p>ok</p></ huh><div>tail",
    "<p>ok</p><a href=",
    # doctype + processing instruction
    "<!DOCTYPE html><?xml version='1'?><p>body text</p>",
    # self-closing blacklisted tag (net-zero skip depth)
    "<p>a</p><nav/><p>b still visible</p>",
    # nav subtree skipped, anchors inside and out
    '<nav><a href="/">home</a></nav><p><a href="x">in</a> out</p>',
    # script without a close tag: skipped to EOF
    "<p>seen</p><script>var x = 1; // no close",
    "<p>seen</p><script>var x = 1;</script",
    # unterminated comment / PI / start tag: rest flushed as data
    "<p>a</p><!-- never closed <p>gone",
    "<p>a</p><?php echo; no close",
    '<p>a</p><div class="x',
    # unquoted-attr trailing slash is NOT self-closing (veto)
    "<p>x<div data-r=1/>y</p>",
    # charrefs split across segments by inline tags
    "<p>&lt;tag&gt; one<b>&amp;</b> two&#33;</p>",
    # block tag storm (empty-state flush guard)
    "<table><tr><td></td></tr><tr></tr></table><p>t</p>",
    # whitespace-only segments must not open a span
    "<p>  \n\t  <b>word</b>  </p>",
]


def tag_edge_cases() -> list[str]:
    """One small document per construct for EVERY tag in ``BLOCK_TAGS``
    and ``BLACKLIST_TAGS`` (plus ``a``): open/close, self-closing,
    upper-case, an anchor inside, and the tag nested inside each
    blacklisted subtree — so a tag added to either set is exercised
    without editing any test."""
    out = []
    for tag in sorted(BLOCK_TAGS | BLACKLIST_TAGS | {"a"}):
        up = tag.upper()
        out += [
            f"<p>lead text</p><{tag}>inner words\nhere</{tag}>tail words",
            f"<p>lead <{tag}/> after the tag</p>",
            f"<div>lead <{tag} /> after\n the tag</div>",
            f"<{up} class='c'>Upper Inner</{up}>trailing &amp; more",
            f"<p>x<{up}/>y</p>",
            f'<{tag}><a href="/l">link words</a> prose words</{tag}>z',
        ]
        for root in sorted(BLACKLIST_TAGS):
            out.append(
                f"<p>seen</p><{root}><{tag}>hidden</{tag}> text</{root}>"
                f"<p>after {root}</p>")
    return out


# Structured random markup for the hypothesis differential.  Text
# alphabets exclude '<': a raw '<' creates unterminated tag soup, where
# the two parsers legitimately diverge (the divergence note in html.py);
# the never-raises fuzz tests cover that space instead.
_MARKUP_TAGS = ["p", "div", "span", "a", "li", "nav", "script", "style",
                "br", "b"]
_markup_texts = st.text(alphabet="ab &;x#3-'\"", min_size=0, max_size=20)


@st.composite
def markup_fragment(draw, depth=0):
    """Comments, raw-text bodies hiding close tags, mixed-case tags and
    quote/charref-heavy ASCII text."""
    kind = draw(st.integers(0, 5 if depth < 3 else 1))
    if kind <= 1:
        return draw(_markup_texts)
    if kind == 2:
        return f"<!-- {draw(_markup_texts)} -->"
    tag = draw(st.sampled_from(_MARKUP_TAGS))
    attr = draw(st.sampled_from(["", ' href="x>y"', " id='a'", " data-x=1"]))
    if kind == 3:
        return f"<{tag}{attr}/>"
    if tag in ("script", "style"):
        return f"<{tag}{attr}>var x = '</div>';</{tag}>"
    inner = "".join(draw(st.lists(markup_fragment(depth + 1), max_size=3)))
    open_tag = tag.upper() if draw(st.booleans()) else tag
    return f"<{open_tag}{attr}>{inner}</{tag}>"


_UNICODE_TAGS = ["p", "div", "span", "b", "a", "li", "td", "em", "h2",
                 "script"]
_unicode_texts = st.text(
    alphabet=st.characters(blacklist_characters="<>&", max_codepoint=0x2FF),
    max_size=24,
)


@st.composite
def unicode_fragment(draw, depth=0):
    """Non-ASCII text (including line breaks), leading charrefs and
    nested inline/block tags."""
    kind = draw(st.integers(0, 5 if depth < 3 else 1))
    if kind <= 1:
        return draw(_unicode_texts)
    if kind == 2:
        return "&amp;" + draw(_unicode_texts)
    tag = draw(st.sampled_from(_UNICODE_TAGS))
    attr = draw(st.sampled_from(["", ' href="x>y"', " id='a'", " data-x=1"]))
    if kind == 3:
        return f"<{tag}{attr}/>"
    inner = "".join(draw(st.lists(unicode_fragment(depth + 1), max_size=3)))
    return f"<{tag}{attr}>{inner}</{tag}>"


def as_document(frags: list[str]) -> str:
    return "<html><body>" + "".join(frags) + "</body></html>"
