"""Shared extractor dispatch (SURVEY.md §2.3/§2.4).

``extract_document`` is THE normative document→text function: the
single-process pytest oracle calls it directly, and the Spark pandas UDF
(cc_extract.job) calls it per element inside Arrow batches — one shared
implementation, so the byte-identity invariant [D: BASELINE.json
north_rule] holds by construction and pytest verifies the *pipeline*
(Arrow transport, partitioning, resume), not two parallel codebases.

Error semantics (SURVEY.md §2.7): never raises — a poison document in a
10^12-doc stage must produce a ``status='error'`` row, not a task failure.
This mirrors the reference's per-document try/except reporting failures in
the Lambda result JSON [R: functions/simple/main.py ⚠].
"""

from __future__ import annotations

from ..sniff import sniff_payload
from .archive import extract_tar, extract_zip
from .doc import extract_doc
from .epub import extract_epub
from .msg import extract_msg
from .ppt import extract_ppt
from .xls import extract_xls
from .html import extract_html
from .normalize import normalize_text
from .odt import extract_odp, extract_ods, extract_odt
from .ooxml import extract_docx, extract_pptx, extract_xlsx
from .pdf import extract_pdf
from .ps import extract_ps
from .rtf import extract_rtf
from .textlike import (
    extract_csv,
    extract_eml,
    extract_json,
    extract_txt,
    extract_xml,
)

__all__ = [
    "EXTRACTORS",
    "extract_document",
    "extract_html", "extract_pdf", "extract_ps", "extract_docx",
    "extract_pptx", "extract_epub",
    "extract_xlsx", "extract_odt", "extract_rtf", "extract_txt", "extract_doc",
    "extract_xls", "extract_ppt", "extract_msg", "extract_zip", "extract_tar",
    "extract_ods", "extract_odp",
    "extract_csv", "extract_xml", "extract_json", "extract_eml",
    "normalize_text",
]

# fmt -> scalar bytes->str extractor (X1..X13)
EXTRACTORS = {
    "html": extract_html,
    "pdf": extract_pdf,
    "ps": extract_ps,
    "doc": extract_doc,
    "xls": extract_xls,
    "ppt": extract_ppt,
    "msg": extract_msg,
    "docx": extract_docx,
    "pptx": extract_pptx,
    "xlsx": extract_xlsx,
    "odt": extract_odt,
    "ods": extract_ods,
    "odp": extract_odp,
    "epub": extract_epub,
    "rtf": extract_rtf,
    "txt": extract_txt,
    "csv": extract_csv,
    "xml": extract_xml,
    "json": extract_json,
    "eml": extract_eml,
    "zip": extract_zip,
    "tar": extract_tar,
}

# statuses: ok | ok_ocr | needs_ocr | error | unsupported | unsupported_legacy
STATUS_OK = "ok"
STATUS_OK_OCR = "ok_ocr"  # text produced by the executed OCR-lite route
STATUS_NEEDS_OCR = "needs_ocr"
STATUS_ERROR = "error"
STATUS_UNSUPPORTED = "unsupported"
STATUS_UNSUPPORTED_LEGACY = "unsupported_legacy"


def extract_document(payload: bytes | None, url: str | None = None,
                     pdf_passwords: tuple[str, ...] | None = None,
                     _depth: int = 0) -> dict:
    """Normative per-document extraction. Returns
    ``{fmt, status, text, error}``; never raises.

    ``pdf_passwords``: candidate passwords for encrypted PDFs (None ->
    pdf.DEFAULT_PASSWORDS, the curation-side sidecar list; the job CLI
    overrides via --pdf-passwords).

    Routing (SURVEY.md §2.2 D2–D4, §2.4.3 D3):
    - gzip/bz2/xz   -> unwrapped once and routed on the content
                       (sniff.sniff_payload); a corrupt or nested wrapper
                       -> error
    - images        -> OCR-lite (ocr.py, decoders from the image-container
                       table in image.py): decodable rasters are
                       recognized to real text (status=ok_ocr); payloads
                       OCR-lite can't decode (arithmetic JPEG, corrupt
                       containers) land in the needs_ocr quarantine with
                       the reason in `error`
                       (reference's ocr Lambda [R: functions/ocr/main.py ⚠])
    - pdf w/ empty text layer -> OCR-lite over its page-image XObjects
                       (scanned-PDF shape); no recognizable raster ->
                       needs_ocr (D3)
    - legacy OLE    -> routed by CFB directory stream names: .doc (Word97
                       piece table, doc.py), .xls (BIFF8 Workbook, xls.py),
                       .ppt (text atoms, ppt.py), .msg (MAPI property
                       streams, msg.py); an OLE container with none of
                       those streams (e.g. MSI, Visio) ->
                       status=unsupported_legacy
    - unknown fmt   -> unsupported
    - extractor exception -> error (message truncated to 200 chars)
    """
    if not payload:
        return {"fmt": "unknown", "status": STATUS_ERROR,
                "text": "", "error": "empty payload"}
    payload = bytes(payload)
    fmt, payload, unwrap_error = sniff_payload(payload, url)
    if unwrap_error:
        return {"fmt": fmt, "status": STATUS_ERROR, "text": "",
                "error": unwrap_error}
    if _depth > 0 and fmt in ("zip", "tar"):
        # archive member that is itself an archive: bundles are depth-1
        # by contract; refuse BEFORE recursing (a zip-in-gzip-in-zip
        # chain must not walk the stack)
        return {"fmt": fmt, "status": STATUS_UNSUPPORTED, "text": "",
                "error": "nested archive (bundles are depth-1)"}
    if fmt == "image":
        from .ocr import extract_image_ocr
        try:
            text = extract_image_ocr(payload)
        except Exception as e:  # noqa: BLE001 — quarantine, never raise
            return {"fmt": fmt, "status": STATUS_NEEDS_OCR, "text": "",
                    "error": repr(e)[:200]}
        if not text.strip():
            return {"fmt": fmt, "status": STATUS_NEEDS_OCR, "text": "",
                    "error": "blank raster"}
        return {"fmt": fmt, "status": STATUS_OK_OCR, "text": text, "error": ""}
    if fmt == "ole":
        return {"fmt": fmt, "status": STATUS_UNSUPPORTED_LEGACY, "text": "",
                "error": "unknown OLE compound document "
                         "(no Word/Excel/PowerPoint stream)"}
    fn = EXTRACTORS.get(fmt)
    if fn is None:
        return {"fmt": fmt, "status": STATUS_UNSUPPORTED,
                "text": "", "error": f"no extractor for format {fmt!r}"}
    try:
        if fmt == "pdf":
            text = fn(payload, passwords=pdf_passwords)
        else:
            text = fn(payload)
    except Exception as e:  # noqa: BLE001 — per-row capture is the contract
        return {"fmt": fmt, "status": STATUS_ERROR, "text": "",
                "error": repr(e)[:200]}
    if fmt == "pdf" and not text.strip():
        # D3: empty text layer -> the OCR route.  Scanned-style PDFs carry
        # the page raster as an image XObject; recognize it directly.
        from .ocr import ocr_pdf_rasters
        try:
            ocr_text = ocr_pdf_rasters(payload, pdf_passwords)
        except Exception:  # noqa: BLE001
            ocr_text = ""
        if ocr_text.strip():
            return {"fmt": fmt, "status": STATUS_OK_OCR, "text": ocr_text,
                    "error": ""}
        return {"fmt": fmt, "status": STATUS_NEEDS_OCR, "text": "", "error": ""}
    return {"fmt": fmt, "status": STATUS_OK, "text": text, "error": ""}
