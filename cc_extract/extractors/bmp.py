"""BMP (Windows DIB) decoder — from scratch — producing an 8-bit luma
raster for the OCR-lite route.

Coverage, all from the public Windows bitmap format documentation:
- BITMAPINFOHEADER (40) and the V4/V5 extensions (108/124) plus the
  rarely-seen 52/56-byte variants
- 8-bit palettized, 24-bit BGR, 32-bit BGRX/BGRA
- BI_RGB (0) and BI_BITFIELDS (3) with arbitrary contiguous masks
  (the masks follow a 40-byte header or sit inside V3/V4/V5 headers);
  an alpha mask (V3+) composites over white like the PNG decoder
- bottom-up (positive height) and top-down (negative height) row order,
  rows padded to 4-byte boundaries

Same integer luma as the PNG decoder ((77R+150G+29B)>>8 — exact for
gray pixels), same 2^26 pixel cap against header-declared bombs.
"""

from __future__ import annotations

import struct

BMP_MAGIC = b"BM"
MAX_PIXELS = 1 << 26


class BmpError(ValueError):
    pass


_DIB_SIZES = (40, 52, 56, 108, 124)


def looks_like_bmp(payload: bytes) -> bool:
    """Cheap plausibility probe for the sniffer: 'BM' alone is a weak
    2-byte magic (plain text can start with it), so require the fixed
    file header plus a known DIB header size and a sane bit depth."""
    if len(payload) < 54 or not payload.startswith(BMP_MAGIC):
        return False
    (dib,) = struct.unpack_from("<I", payload, 14)
    if dib not in _DIB_SIZES:
        return False
    (bpp,) = struct.unpack_from("<H", payload, 28)
    return bpp in (1, 4, 8, 16, 24, 32)


def _mask_shift(mask: int) -> tuple[int, int]:
    """(shift, width) of a contiguous bit mask; (0, 0) for an empty mask."""
    if mask == 0:
        return 0, 0
    shift = 0
    while not (mask >> shift) & 1:
        shift += 1
    width = 0
    while (mask >> (shift + width)) & 1:
        width += 1
    if mask >> (shift + width):
        raise BmpError("non-contiguous channel mask")
    return shift, width


def _chan(v: int, shift: int, width: int) -> int:
    if width == 0:
        return 0
    x = (v >> shift) & ((1 << width) - 1)
    if width == 8:
        return x
    # scale to 8 bits by bit replication (what GDI does)
    out = 0
    bits = 0
    while bits < 8:
        out = (out << width) | x
        bits += width
    return (out >> (bits - 8)) & 0xFF


def decode_bmp(payload: bytes) -> tuple[int, int, bytearray]:
    """BMP decode -> (width, height, 8-bit luma raster, top-down)."""
    if len(payload) < 54 or not payload.startswith(BMP_MAGIC):
        raise BmpError("not a BMP")
    (_fsize, _res, off_bits) = struct.unpack_from("<III", payload, 2)
    (dib,) = struct.unpack_from("<I", payload, 14)
    if dib not in _DIB_SIZES:
        raise BmpError(f"unsupported DIB header size {dib}")
    if len(payload) < 14 + dib:
        raise BmpError("truncated DIB header")
    w, h_raw, planes, bpp, comp, _isz, _xp, _yp, clr_used, _clr_imp = (
        struct.unpack_from("<iiHHIIiiII", payload, 18)
    )
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    if w <= 0 or h <= 0:
        raise BmpError("bad dimensions")
    if w * h > MAX_PIXELS:
        raise BmpError("bmp: raster too large")
    if planes != 1:
        raise BmpError(f"bad planes {planes}")
    if bpp not in (8, 24, 32):
        raise BmpError(f"unsupported bit depth {bpp}")
    if comp not in (0, 3):
        raise BmpError(f"unsupported compression {comp}")

    # channel masks: BI_BITFIELDS after a 40-byte header, in-header for
    # the larger variants; defaults for BI_RGB
    palette_off = 14 + dib
    am = 0
    if comp == 3:
        if bpp not in (16, 32):
            raise BmpError("BI_BITFIELDS requires 16/32 bpp")
        if dib == 40:
            if len(payload) < 14 + 40 + 12:
                raise BmpError("missing bitfields masks")
            rm, gm, bm = struct.unpack_from("<III", payload, 54)
            palette_off = 14 + 40 + 12
        else:
            rm, gm, bm = struct.unpack_from("<III", payload, 54)
            if dib >= 56:  # V3+ carry an alpha mask after the RGB masks
                (am,) = struct.unpack_from("<I", payload, 66)
    elif bpp == 32:
        rm, gm, bm = 0x00FF0000, 0x0000FF00, 0x000000FF
    else:
        rm = gm = bm = 0

    palette = None
    if bpp == 8:
        n_colors = clr_used or 256
        if n_colors > 256:
            raise BmpError("bad palette size")
        end = palette_off + 4 * n_colors
        if len(payload) < end:
            raise BmpError("truncated palette")
        palette = [
            (payload[o + 2], payload[o + 1], payload[o])  # stored BGRX
            for o in range(palette_off, end, 4)
        ]

    stride = (w * (bpp // 8) + 3) & ~3
    if len(payload) < off_bits + stride * h:
        raise BmpError("truncated pixel data")
    luma = bytearray(w * h)
    shifts = None
    if bpp == 32:
        shifts = (_mask_shift(rm), _mask_shift(gm), _mask_shift(bm),
                  _mask_shift(am))
    for row in range(h):
        src_y = row if top_down else h - 1 - row
        base = off_bits + src_y * stride
        dst = row * w
        if bpp == 8:
            for x in range(w):
                idx = payload[base + x]
                try:
                    r, g, b = palette[idx]
                except IndexError:
                    raise BmpError("palette index out of range")
                luma[dst + x] = (77 * r + 150 * g + 29 * b) >> 8
        elif bpp == 24:
            for x in range(w):
                o = base + 3 * x
                bb, gg, rr = payload[o], payload[o + 1], payload[o + 2]
                luma[dst + x] = (77 * rr + 150 * gg + 29 * bb) >> 8
        else:  # 32
            (rs, rw), (gs, gw), (bs, bw), (as_, aw) = shifts
            for x in range(w):
                (v,) = struct.unpack_from("<I", payload, base + 4 * x)
                rr = _chan(v, rs, rw)
                gg = _chan(v, gs, gw)
                bb = _chan(v, bs, bw)
                y8 = (77 * rr + 150 * gg + 29 * bb) >> 8
                if aw:
                    a = _chan(v, as_, aw)
                    y8 = (y8 * a + 255 * (255 - a) + 127) // 255
                luma[dst + x] = y8
    return w, h, luma
