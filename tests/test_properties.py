"""Property-based tests (hypothesis) for the extractor surface — the
§5.3-item-4 robustness strategy upgraded from seeded-random loops to real
shrinking property tests now that hypothesis ships in the environment.

Invariants: the dispatcher NEVER raises (poison doc -> error row, §2.7);
normalization is idempotent and always NFC; extraction is deterministic;
magic-byte prefixes always dispatch to their format."""

from __future__ import annotations

import unicodedata

from hypothesis import given, settings, strategies as st

from cc_extract.extractors import extract_document
from cc_extract.extractors.normalize import normalize_text
from tests.html_reference import (
    as_document, markup_fragment, reference_scan, unicode_fragment,
)

MAGICS = [
    b"%PDF-1.4\n", b"PK\x03\x04", b"{\\rtf1", b"<html>", b"%!PS",
    b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff\xe0", b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1",
]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_dispatch_never_raises_on_arbitrary_bytes(payload):
    res = extract_document(payload, "https://fuzz.example/doc")
    assert res["status"] in (
        "ok", "ok_ocr", "needs_ocr", "error", "unsupported", "unsupported_legacy"
    )
    assert isinstance(res["text"], str)


@settings(max_examples=100, deadline=None)
@given(st.sampled_from(MAGICS), st.binary(max_size=2048))
def test_dispatch_never_raises_on_magic_prefixed_garbage(magic, tail):
    """Valid magic + garbage body: the adversarial half of the corpus —
    must quarantine or error, never throw, and must sniff consistently."""
    res = extract_document(magic + tail, "https://fuzz.example/doc.bin")
    assert res["status"] in (
        "ok", "ok_ocr", "needs_ocr", "error", "unsupported", "unsupported_legacy"
    )


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=2000))
def test_normalize_idempotent_and_nfc(s):
    once = normalize_text(s)
    assert normalize_text(once) == once
    assert unicodedata.is_normalized("NFC", once)
    # pinned invariants from §2.4.6
    assert "\r" not in once
    assert "\n\n\n" not in once
    assert once == once.strip()
    # spec step 2 strips trailing SPACES/TABS only — exotic trailing
    # whitespace (NBSP etc.) is content and survives, so assert exactly
    # the pinned invariant, not str.isspace()'s wider class (a hypothesis
    # run found '0\xa0\r0' falsifying the over-strict version)
    assert all(not ln.endswith((" ", "\t")) for ln in once.split("\n"))


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=4096))
def test_extraction_deterministic(payload):
    a = extract_document(payload, "https://fuzz.example/d")
    b = extract_document(payload, "https://fuzz.example/d")
    assert a == b


# ----------------------- fast HTML scanner vs stdlib (differential fuzz)

@settings(max_examples=300, deadline=None)
@given(st.one_of(
    st.lists(markup_fragment(), max_size=6),
    st.lists(unicode_fragment(), max_size=6),
))
def test_scan_blocks_differential(frags):
    """Structured random HTML: the production scanner must be block- and
    span-identical to the stdlib html.parser reference."""
    from cc_extract.extractors.html import _scan_blocks

    doc = as_document(frags)
    assert _scan_blocks(doc, want_spans=True) == reference_scan(doc)
