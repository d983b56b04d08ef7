"""The one image-container table (SURVEY.md §2.2 D2, §2.4.3 X14).

Each row maps a container's magic bytes, which its codec module owns, to
the container tag and the codec's gray-raster decoder.  The sniffer's
image test (``sniff.sniff_format``), the OCR route
(``ocr.extract_image_ocr``) and multimodal's pixel decode
(``multimodal.decode_image``) all dispatch through this table, so a
payload that sniffs as an image is one both decode routes read the same
way, and a new container is one more row.
"""

from __future__ import annotations

from .bmp import BMP_MAGIC, BmpError, decode_bmp, looks_like_bmp
from .gif import GIF_MAGICS, decode_gif_gray
from .jpeg import JPEG_MAGIC, decode_jpeg_gray
from .ocr import OcrError
from .png import MAGIC as PNG_MAGIC, PngError, decode_png
from .tiff import TIFF_MAGICS, decode_tiff_gray

# (magic prefixes, container tag, first-raster decoder -> (w, h, gray))
IMAGE_CONTAINERS = (
    ((PNG_MAGIC,), "png", decode_png),
    # SOI, then the 0xFF of the first marker: SOI alone is 2 guessable bytes
    ((JPEG_MAGIC + b"\xff",), "jpeg", decode_jpeg_gray),
    (TIFF_MAGICS, "tiff", decode_tiff_gray),
    (GIF_MAGICS, "gif", decode_gif_gray),
    ((BMP_MAGIC,), "bmp", decode_bmp),
)
_DECODERS = {tag: decode for _, tag, decode in IMAGE_CONTAINERS}


def image_container(payload: bytes) -> str | None:
    """Container tag of an image payload (png/jpeg/tiff/gif/bmp), else None."""
    for magics, tag, _ in IMAGE_CONTAINERS:
        if payload.startswith(magics):
            # 'BM' is a weak 2-byte magic (text can start with it): a bmp
            # also needs a known DIB header size and a sane bit depth
            if tag == "bmp" and not looks_like_bmp(payload):
                return None
            return tag
    return None


def decode_gray(payload: bytes) -> tuple[int, int, bytearray]:
    """First raster of an image payload (a TIFF's first page, a GIF's
    first frame) as (width, height, 8-bit gray raster).  Raises OcrError
    for a payload no row claims and for every codec's format errors."""
    tag = image_container(payload)
    if tag is None:
        raise OcrError("no decoder for this image container "
                       "(OCR-lite reads PNG/JPEG/TIFF/GIF/BMP)")
    try:
        return _DECODERS[tag](payload)
    except (PngError, BmpError) as e:
        raise OcrError(str(e)) from e
