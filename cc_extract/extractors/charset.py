"""X16 — shared charset detection/decoding (SURVEY.md §2.3 X16).

Reference analogue: ``chardet.detect(b)['encoding']`` used by the txt/html/
csv/eml branches [R: functions/simple/main.py ⚠].  Ours is a deterministic
cascade (no ML detector in the hot path — it would dominate UDF time at
10^12-doc scale): BOM → utf-8 → cp1252 → latin-1 (never fails).

The fixture corpus (FIXTURES.md §1) emits utf-8 / utf-8-BOM / cp1252 /
latin-1 payloads plus HTML in declared legacy charsets (Shift_JIS, GBK,
EUC-KR, windows-1251, ISO-8859-7) — those route through the *declared*
branch below, exactly how real CC pages in multibyte encodings survive;
for wild data latin-1 is the lossless last resort (every byte maps).
"""

from __future__ import annotations

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)

# cp1252 can't decode these bytes; their presence forces latin-1.
_CP1252_HOLES = frozenset(b"\x81\x8d\x8f\x90\x9d")


def decode_bytes(b: bytes, declared: str | None = None) -> str:
    """Deterministically decode *b* to str.  Never raises."""
    if not b:
        return ""
    for bom, enc in _BOMS:
        if b.startswith(bom):
            try:
                return b.decode(enc)
            except UnicodeError:
                break
    if declared:
        # UnicodeError, not just UnicodeDecodeError: some codecs raise
        # the base class (``undefined`` always, ``punycode`` on bad input)
        try:
            return b.decode(declared)
        except (UnicodeError, LookupError):
            pass
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        pass
    if not _CP1252_HOLES.intersection(b):
        try:
            return b.decode("cp1252")
        except UnicodeDecodeError:
            pass
    return b.decode("latin-1")
