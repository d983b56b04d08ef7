"""X14 — executed OCR-lite (SURVEY.md §2.4.3 upgraded from "modeled").

Reference analogue: the ``ocr`` Lambda — ghostscript rasterizes pages,
Tesseract recognizes each raster [R: functions/ocr/main.py ⚠].  Here the
raster arrives two ways, exactly like real scanned inputs do:

- a standalone image document in any container of the image-container
  table (extractors/image.py), decoded by the from-scratch codecs;
- a scanned-style PDF: an empty text layer whose pages carry the page
  raster as a ``/Subtype /Image`` FlateDecode grayscale XObject — the
  shape a real scanner-produced PDF has; we pull the raster instead of
  re-rasterizing.

Recognition is exact glyph matching against the shared 5x7 font
(cc_extract.glyphs) — an OCR model "trained" on the one font the corpus
renders, honest about every other container/encoding by raising (the
dispatcher routes those to the needs_ocr quarantine, the reference's
behavior for OCR failures).
"""

from __future__ import annotations

from ..glyphs import ocr_raster
from .normalize import normalize_text


class OcrError(ValueError):
    pass


def extract_image_ocr(payload: bytes) -> str:
    """Image document -> recognized text.  Raises OcrError for containers
    OCR-lite cannot decode (arithmetic JPEG, corrupt payloads) — the
    dispatcher turns that into the needs_ocr quarantine row.  Decoders
    come from the image-container table (extractors/image.py): PNG,
    baseline and progressive JPEG, TIFF (every page of a multi-page
    scan), GIF and BMP."""
    # function-level: image.py and the codecs import OcrError from here
    from .image import decode_gray, image_container
    from .tiff import decode_tiff_pages

    if image_container(payload) == "tiff":
        pages = decode_tiff_pages(payload)
    else:
        pages = [decode_gray(payload)]
    texts = [ocr_raster(w, h, raster) for w, h, raster in pages]
    return normalize_text("\n\n".join(t for t in texts if t.strip()))


def ocr_pdf_rasters(payload: bytes, passwords=None) -> str:
    """Scanned-style PDF -> recognized text from its page-image XObjects
    (FlateDecode 8-bit DeviceGray), pages joined with a blank line.
    Returns '' when the PDF carries no recognizable rasters."""
    from .pdf import pdf_scan_rasters

    texts = []
    for w, h, raster in pdf_scan_rasters(payload, passwords):
        t = ocr_raster(w, h, raster)
        if t.strip():
            texts.append(t)
    return normalize_text("\n\n".join(texts))
