"""D2 — MIME / magic-byte format sniffing (SURVEY.md §2.2).

Reference analogue: the extension-based dispatch in the simple Lambda's
handler (``ext -> extract_fn`` if/elif) [R: functions/simple/main.py ⚠],
upgraded to content sniffing per the north rule ("dispatch on sniffed
MIME/magic-bytes" [D: BASELINE.json north_star]) because Common-Crawl URLs
lie about extensions.  Extension is kept only as a tiebreaker (csv vs txt).

One sniff stage (§2.2 D2), ``sniff_format()`` inside the vectorized UDF:
the zip central-directory probe that distinguishes docx/pptx/xlsx/odt
needs to open the archive, which only the Python side does.
``sniff_payload()`` adds the depth-1 transfer-encoding unwrap; every
consumer that routes a payload (``extract_document`` and the html row
functions) goes through it, so they cannot disagree on what a payload is.
"""

from __future__ import annotations

import bz2
import gzip
import io
import lzma
import re
import zipfile

FORMATS = (
    "html pdf txt docx pptx xlsx odt ods odp epub rtf xml json eml csv image "
    "doc xls ppt msg ole zip tar ps unknown".split()
)

# transport/compression wrappers sniff_payload unwraps (depth 1) before
# re-sniffing the inner content, each with its decompressor; all three
# appear as stored transfer-encodings in real CC-style corpora
WRAPPER_FORMATS = {
    "gzip": gzip.decompress,
    "bz2": bz2.decompress,
    "xz": lambda b: lzma.decompress(b, format=lzma.FORMAT_XZ),
}

_EML_HEADER = re.compile(
    rb"^(Received|From|To|Subject|Date|Return-Path|MIME-Version|"
    rb"Message-ID|Delivered-To):", re.IGNORECASE | re.MULTILINE
)
_HTML_HINT = re.compile(rb"<\s*(!doctype\s+html|html|head|body|div|p|h1|a|title)\b", re.IGNORECASE)
_XML_DECL = re.compile(rb"^\s*<\?xml", re.IGNORECASE)


def _sniff_zip(payload: bytes) -> str:
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            names = set(zf.namelist())
            if "word/document.xml" in names:
                return "docx"
            if "ppt/presentation.xml" in names:
                return "pptx"
            if "xl/workbook.xml" in names:
                return "xlsx"
            if "mimetype" in names:
                try:
                    mt = zf.read("mimetype")
                except (KeyError, OSError):
                    mt = b""
                if b"epub+zip" in mt:
                    return "epub"
                if b"opendocument.spreadsheet" in mt:
                    return "ods"
                if b"opendocument.presentation" in mt:
                    return "odp"
                if b"opendocument" in mt:
                    return "odt"
            if "META-INF/container.xml" in names:
                return "epub"  # OCF container with a lost/garbled mimetype
            if "content.xml" in names:
                return "odt"
            # a readable zip matching no known container layout is a
            # plain BUNDLE of files: each member re-dispatches (depth 1)
            return "zip"
    except (zipfile.BadZipFile, OSError, EOFError, NotImplementedError):
        pass
    return "unknown"


def _looks_like_tar(payload: bytes) -> bool:
    """POSIX ustar detection: magic at header offset 257 ('ustar\\0' POSIX
    or 'ustar  ' GNU) AND a valid first-header checksum (octal sum of the
    512-byte header with the chksum field read as spaces) — the magic
    alone is 5 mid-file bytes that prose or markup can collide with, the
    checksum pin cannot.  Pre-POSIX v7 tar has no magic and stays
    whatever the body sniffs as."""
    if len(payload) < 512 or payload[257:262] != b"ustar":
        return False
    hdr = payload[:512]
    try:
        stored = int(bytes(hdr[148:156]).split(b"\x00")[0].strip() or b"0", 8)
    except ValueError:
        return False
    calc = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
    return stored == calc


def sniff_format(payload: bytes, url: str | None = None) -> str:
    """Exact content sniff; pure function of (payload head, url extension)."""
    if not payload:
        return "unknown"
    head = payload[:4096]
    if head.startswith(b"\x1f\x8b"):
        return "gzip"  # transport encoding: dispatcher decompresses + re-sniffs
    if head.startswith(b"\xfd7zXZ\x00"):
        return "xz"  # .xz stream header magic (xz file format §2.1.1.1)
    if (head.startswith(b"BZh") and head[4:10] == b"\x31\x41\x59\x26\x53\x59"):
        # 'BZh' + level + the compressed-block magic (BCD pi): the 3-byte
        # prefix alone is guessable text, the 10-byte pin is not
        return "bz2"
    if head.startswith(b"%PDF"):
        return "pdf"
    if head.startswith(b"%!"):
        return "ps"  # PostScript (DSC header %!PS-Adobe or bare %!)
    if head.startswith(b"PK\x03\x04"):
        return _sniff_zip(payload)
    if head.startswith(b"{\\rtf"):
        return "rtf"
    if head.startswith(b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"):
        # legacy OLE compound file: the application is in the CFB
        # directory's stream names, not the magic (doc/xls/ppt/ole)
        from .extractors.doc import ole_subtype

        return ole_subtype(payload)
    # function-level: the extractors package imports this module
    from .extractors.image import image_container

    if image_container(payload) is not None:
        return "image"
    if _looks_like_tar(payload):
        return "tar"
    stripped = head.lstrip(b" \t\r\n\xef\xbb\xbf")
    if _XML_DECL.match(stripped):
        return "html" if b"<html" in head.lower() else "xml"
    if stripped.startswith(b"<"):
        if _HTML_HINT.match(stripped):
            return "html"
        return "xml"
    if stripped.startswith((b"{", b"[")):
        return "json"
    if _EML_HEADER.search(head[:512]):
        return "eml"
    if url and url.lower().rsplit("?", 1)[0].endswith(".csv"):
        return "csv"
    return "txt"


def sniff_payload(payload: bytes, url: str | None = None) -> tuple[str, bytes, str]:
    """Sniff, unwrap one gzip/bz2/xz transfer encoding, re-sniff.

    Returns ``(fmt, content, error)``.  CC stores often hold
    transfer-encoded bodies (gzip the common case, bz2/xz the long tail),
    so a wrapped payload is decompressed and ``fmt`` is its content's
    format.  The unwrap is depth 1: a corrupt wrapper, or a wrapper inside
    a wrapper, returns the outer wrapper as ``fmt`` with the reason in
    ``error`` (never raises)."""
    fmt = sniff_format(payload, url)
    if fmt not in WRAPPER_FORMATS:
        return fmt, payload, ""
    try:
        inner = WRAPPER_FORMATS[fmt](payload)
    except Exception as e:  # noqa: BLE001 — corrupt stream -> error row
        return fmt, payload, repr(e)[:200]
    inner_fmt = sniff_format(inner, url)
    if inner_fmt in WRAPPER_FORMATS:
        return fmt, payload, f"nested {inner_fmt} in {fmt}"
    return inner_fmt, inner, ""
