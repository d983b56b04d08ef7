"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

Every media operator has one shape: a JVM ``kind`` filter when it reads
one kind (so other kinds' payloads never cross to Python), one
``job.rows_df`` row pass over a normative per-row function that the
oracle table (``oracle_data.media_table``) calls too, and a JVM rollup.
Which container a payload is gets decided once, by ``media_container``:
the image-container table's tag, else avi/wav/mp4.

What's REAL here (and tested): the Spark-side plumbing — schemas, the
deterministic synthetic media generator, container-header metadata parsing
(PNG IHDR, JPEG SOF, BMP DIB, WAV fmt — pure byte arithmetic), batch shapes, a
deterministic feature extractor (byte-histogram embedding) that stands in
for a model forward pass, and — since round 4 — ACTUAL pixel decode:
``decode_image`` (``extractors.image.decode_gray``) dispatches through
the image-container table to the repo's own from-scratch
PNG/JPEG/TIFF/GIF/BMP decoders (the container ships no imaging libs, so
the engine brings its own), and the media generator emits real decodable
images alongside header-only stubs so the decoded and quarantined paths
are both exercised.

Audio is real too (``decode_audio``: RIFF/WAVE PCM 16-bit samples), and
video frames decode for animated GIF (``decode_gif_frames`` via
extractors/gif.py) and MJPEG-in-AVI (``decode_avi_frames``: a RIFF walk
over '00dc' chunks, each an independent baseline JPEG through the
repo's own T.81 decoder); ``frame_sample`` counts frames from container
structure (GIF blocks / AVI strh / MP4 stsz) without decoding.  The one
remaining honest stub: MP4/H.264 frame decode — those payloads are
counted undecodable, never hidden.
"""

from __future__ import annotations

import hashlib
import random
import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .extractors.image import decode_gray as decode_image, image_container
from .job import rows_df
from .textops import banded_hamming_pairs

MEDIA_SCHEMA = "media_id long, kind string, payload binary"
FEATURE_DIM = 16


# ----------------------------------------------------------- generation

def _mp4_box(typ: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + typ + body


class _SpsBitWriter:
    """MSB-first bit writer with H.264 Exp-Golomb codes (spec 9.1) —
    generator-side twin of the parser's `_SpsBits` (independent
    implementations, the repo's codec-pair stance)."""

    def __init__(self) -> None:
        self._bits: list[int] = []

    def u(self, val: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self._bits.append((val >> k) & 1)

    def ue(self, v: int) -> None:
        code = v + 1
        n = code.bit_length()
        self.u(0, n - 1)
        self.u(code, n)

    def rbsp(self) -> bytes:
        """rbsp_trailing_bits (stop bit + pad) then emulation-prevention
        escaping: any 00 00 0x with x<=3 gets a 03 inserted (7.4.1.1)."""
        bits = self._bits + [1]
        while len(bits) % 8:
            bits.append(0)
        raw = bytes(
            int("".join(map(str, bits[i:i + 8])), 2)
            for i in range(0, len(bits), 8))
        out = bytearray()
        zeros = 0
        for b in raw:
            if zeros >= 2 and b <= 3:
                out.append(3)
                zeros = 0
            out.append(b)
            zeros = zeros + 1 if b == 0 else 0
        return bytes(out)


def _avcc_box(w: int, h: int, profile: int, level: int) -> bytes:
    """Real AVCDecoderConfigurationRecord (ISO 14496-15 §5.2.4) carrying
    a from-scratch SPS NAL that encodes the TRUE coded dimensions —
    pic_width_in_mbs / pic_height_in_map_units with frame cropping when
    w or h is not a macroblock multiple — plus a minimal PPS.  The
    bitstream of the coded pictures stays out of scope; the parameter
    sets are what a container-level pipeline actually reads."""
    if w % 2 or h % 2:
        raise ValueError("avcc: dimensions must be even (4:2:0 crop units)")
    sps = _SpsBitWriter()
    sps.u(profile, 8)
    sps.u(0, 8)                       # constraint flags + reserved
    sps.u(level, 8)
    sps.ue(0)                         # seq_parameter_set_id
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128):
        sps.ue(1)                     # chroma_format_idc: 4:2:0
        sps.ue(0)                     # bit_depth_luma_minus8
        sps.ue(0)                     # bit_depth_chroma_minus8
        sps.u(0, 1)                   # qpprime_y_zero_transform_bypass
        sps.u(0, 1)                   # seq_scaling_matrix_present
    sps.ue(0)                         # log2_max_frame_num_minus4
    sps.ue(0)                         # pic_order_cnt_type = 0
    sps.ue(2)                         # log2_max_pic_order_cnt_lsb_minus4
    sps.ue(1)                         # max_num_ref_frames
    sps.u(0, 1)                       # gaps_in_frame_num_allowed
    mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
    sps.ue(mb_w - 1)                  # pic_width_in_mbs_minus1
    sps.ue(mb_h - 1)                  # pic_height_in_map_units_minus1
    sps.u(1, 1)                       # frame_mbs_only_flag
    sps.u(1, 1)                       # direct_8x8_inference_flag
    crop_r, crop_b = (mb_w * 16 - w) // 2, (mb_h * 16 - h) // 2
    if crop_r or crop_b:
        sps.u(1, 1)                   # frame_cropping_flag
        sps.ue(0)
        sps.ue(crop_r)                # units of 2 luma px (4:2:0)
        sps.ue(0)
        sps.ue(crop_b)
    else:
        sps.u(0, 1)
    sps.u(0, 1)                       # vui_parameters_present_flag
    sps_nal = b"\x67" + sps.rbsp()
    pps = _SpsBitWriter()
    pps.ue(0)                         # pic_parameter_set_id
    pps.ue(0)                         # seq_parameter_set_id
    pps.u(0, 1)                       # entropy_coding_mode (CAVLC)
    pps.u(0, 1)                       # bottom_field_pic_order_present
    pps.ue(0)                         # num_slice_groups_minus1
    pps.ue(0)                         # num_ref_idx_l0_default_active_minus1
    pps.ue(0)                         # num_ref_idx_l1_default_active_minus1
    pps.u(0, 1)                       # weighted_pred_flag
    pps.u(0, 2)                       # weighted_bipred_idc
    pps.ue(0)                         # pic_init_qp_minus26 (se(0) == ue(0))
    pps.ue(0)                         # pic_init_qs_minus26
    pps.ue(0)                         # chroma_qp_index_offset
    pps.u(1, 1)                       # deblocking_filter_control_present
    pps.u(0, 1)                       # constrained_intra_pred_flag
    pps.u(0, 1)                       # redundant_pic_cnt_present_flag
    pps_nal = b"\x68" + pps.rbsp()
    rec = (bytes([1, profile, 0, level, 0xFF, 0xE1])
           + struct.pack(">H", len(sps_nal)) + sps_nal
           + b"\x01" + struct.pack(">H", len(pps_nal)) + pps_nal)
    return _mp4_box(b"avcC", rec)


def _avc1_ipcm_sample(w: int, h: int, luma: bytes) -> bytes:
    """One length-prefixed avc1 video sample: the grayscale frame padded
    (edge-replicated) to the macroblock grid, encoded as an I_PCM IDR
    slice with neutral 4:2:0 chroma (Cb=Cr=128, the colorimetric truth
    of a grayscale source), behind the 4-byte NAL length that
    lengthSizeMinusOne=3 in `_avcc_box` declares."""
    mb_w, mb_h = (w + 15) // 16, (h + 15) // 16
    cw, ch = mb_w * 16, mb_h * 16
    y = np.frombuffer(luma, np.uint8).reshape(h, w)
    y = np.pad(y, ((0, ch - h), (0, cw - w)), mode="edge")
    neutral = bytes([128]) * ((cw // 2) * (ch // 2))
    nal = _h264_ipcm_idr(y.tobytes(), neutral, neutral, mb_w, mb_h)
    return struct.pack(">I", len(nal)) + nal


def _mp4_container(rng: random.Random, n_frames: int, w: int, h: int,
                   with_audio: bool = False,
                   ipcm_frames: list | None = None) -> bytes:
    """Minimal-but-valid ISO BMFF (MP4) container: ftyp + moov with a
    real box tree (mvhd, trak/tkhd/mdia/mdhd/hdlr/minf/stbl with
    stsd/stts/stsc/stsz/stco) + mdat.  With *ipcm_frames* (list of
    (w, h, luma) rasters) the video samples are REAL H.264: one I_PCM
    IDR slice per frame that `decode_mp4_frames` round-trips exactly,
    and stco carries the true mdat offset (two-pass build, like the
    MJPEG writer).  Without it the samples are noise bytes — the
    structural-only corpus variant whose frame decode honestly
    quarantines (compressed-H.264 stand-in); container structure is
    readable either way: frame counts, durations, codec, dimensions."""
    timescale = 600
    fps = rng.choice([12, 24, 30])
    frame_dur = timescale // fps
    if ipcm_frames is not None:
        w, h = ipcm_frames[0][0], ipcm_frames[0][1]
        if any((fw, fh) != (w, h) for fw, fh, _ in ipcm_frames):
            raise ValueError("ipcm frames must share dimensions")
        vid_samples = [_avc1_ipcm_sample(fw, fh, bytes(fl))
                       for fw, fh, fl in ipcm_frames]
        n_frames = len(vid_samples)
        sizes = [len(s) for s in vid_samples]
        vid_bytes = b"".join(vid_samples)
    else:
        sizes = [rng.randint(120, 600) for _ in range(n_frames)]
        vid_bytes = bytes(rng.randrange(256) for _ in range(sum(sizes)))
    duration = n_frames * frame_dur
    mdat = _mp4_box(b"mdat", vid_bytes)

    def full(typ, body, version=0, flags=0):
        return _mp4_box(typ, struct.pack(">B3s", version,
                                         flags.to_bytes(3, "big")) + body)

    matrix = struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                         0x40000000)
    mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, timescale, duration)
                + struct.pack(">iH", 0x00010000, 0x0100) + bytes(10)
                + matrix + bytes(24) + struct.pack(">I", 3))

    def trak(track_id, handler, stsd_entry, media_timescale, media_dur,
             counts_durs, sample_sizes, chunk_offset=0):
        tkhd = full(b"tkhd", struct.pack(">IIII", 0, 0, track_id, 0)
                    + struct.pack(">I", duration) + bytes(8)
                    + struct.pack(">HHHH", 0, 0,
                                  0x0100 if handler == b"soun" else 0, 0)
                    + matrix
                    + struct.pack(">II", w << 16 if handler == b"vide" else 0,
                                  h << 16 if handler == b"vide" else 0),
                    flags=7)
        mdhd = full(b"mdhd", struct.pack(">IIIIHH", 0, 0, media_timescale,
                                         media_dur, 0x55C4, 0))
        hdlr = full(b"hdlr", struct.pack(">I4s", 0, handler) + bytes(12)
                    + b"SyntheticHandler\x00")
        stsd = full(b"stsd", struct.pack(">I", 1) + stsd_entry)
        stts = full(b"stts", struct.pack(">I", len(counts_durs))
                    + b"".join(struct.pack(">II", c, d)
                               for c, d in counts_durs))
        stsc = full(b"stsc", struct.pack(">IIII", 1, 1, len(sample_sizes), 1))
        stsz = full(b"stsz", struct.pack(">II", 0, len(sample_sizes))
                    + b"".join(struct.pack(">I", s) for s in sample_sizes))
        stco = full(b"stco", struct.pack(">II", 1, chunk_offset))
        stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
        mhd = (full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
               if handler == b"vide"
               else full(b"smhd", struct.pack(">HH", 0, 0)))
        dinf = _mp4_box(b"dinf", full(b"dref", struct.pack(">I", 1)
                                      + full(b"url ", b"", flags=1)))
        minf = _mp4_box(b"minf", mhd + dinf + stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        return _mp4_box(b"trak", tkhd + mdia)

    profile = rng.choice([66, 77, 100])      # Baseline / Main / High
    level = rng.choice([30, 31, 40, 41])
    avc1 = _mp4_box(b"avc1", bytes(6) + struct.pack(">H", 1) + bytes(16)
                    + struct.pack(">HH", w, h)
                    + struct.pack(">IIIH", 0x00480000, 0x00480000, 0, 1)
                    + bytes(32) + struct.pack(">Hh", 24, -1)
                    + _avcc_box(w, h, profile, level))
    if with_audio:
        rate = rng.choice([22050, 44100])
        n_aud = n_frames * 2
        aud_sizes = [rng.randint(40, 200) for _ in range(n_aud)]
        mp4a = _mp4_box(b"mp4a", bytes(6) + struct.pack(">H", 1) + bytes(8)
                        + struct.pack(">HHHHI", 2, 16, 0, 0, rate << 16))

    def build_moov(chunk_offset: int) -> bytes:
        traks = trak(1, b"vide", avc1, timescale, duration,
                     [(n_frames, frame_dur)], sizes, chunk_offset)
        if with_audio:
            traks += trak(2, b"soun", mp4a, rate,
                          n_aud * (rate // (fps * 2)),
                          [(n_aud, rate // (fps * 2))], aud_sizes)
        return _mp4_box(b"moov", mvhd + traks)

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512)
                    + b"isomiso2avc1mp41")
    # two-pass: stco's width doesn't depend on its value, so the second
    # build patches the true mdat-body offset without changing sizes
    header_len = len(ftyp) + len(build_moov(0))
    moov = build_moov(header_len + 8)
    return ftyp + moov + mdat


def _mp4_mjpeg_container(jpeg_frames: list[bytes], w: int, h: int,
                         fps: int = 12) -> bytes:
    """MJPEG-in-MP4 writer: a spec-shaped ISO BMFF file whose single
    video track carries a QuickTime 'jpeg' visual sample entry and whose
    mdat holds one independent baseline JPEG per sample — so MP4 video
    becomes genuinely frame-decodable through the repo's own T.81
    decoder, the same narrowing AVI got.  Real stsz sizes and a real
    stco chunk offset (the moov is built twice: the second pass patches
    the offset once the header length is known — stco's width doesn't
    depend on its value, so sizes are stable)."""
    timescale = 600
    frame_dur = timescale // fps
    n = len(jpeg_frames)
    duration = n * frame_dur
    sizes = [len(f) for f in jpeg_frames]

    def full(typ, body, version=0, flags=0):
        return _mp4_box(typ, struct.pack(">B3s", version,
                                         flags.to_bytes(3, "big")) + body)

    matrix = struct.pack(">9i", 0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0,
                         0x40000000)

    def build_moov(chunk_offset: int) -> bytes:
        mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, timescale, duration)
                    + struct.pack(">iH", 0x00010000, 0x0100) + bytes(10)
                    + matrix + bytes(24) + struct.pack(">I", 2))
        tkhd = full(b"tkhd", struct.pack(">IIII", 0, 0, 1, 0)
                    + struct.pack(">I", duration) + bytes(8)
                    + struct.pack(">HHHH", 0, 0, 0, 0) + matrix
                    + struct.pack(">II", w << 16, h << 16), flags=7)
        mdhd = full(b"mdhd", struct.pack(">IIIIHH", 0, 0, timescale,
                                         duration, 0x55C4, 0))
        hdlr = full(b"hdlr", struct.pack(">I4s", 0, b"vide") + bytes(12)
                    + b"SyntheticHandler\x00")
        jpeg_entry = _mp4_box(b"jpeg", bytes(6) + struct.pack(">H", 1)
                              + bytes(16) + struct.pack(">HH", w, h)
                              + struct.pack(">IIIH", 0x00480000, 0x00480000,
                                            0, 1)
                              + bytes(32) + struct.pack(">Hh", 24, -1))
        stsd = full(b"stsd", struct.pack(">I", 1) + jpeg_entry)
        stts = full(b"stts", struct.pack(">I", 1)
                    + struct.pack(">II", n, frame_dur))
        stsc = full(b"stsc", struct.pack(">IIII", 1, 1, n, 1))
        if len(set(sizes)) == 1:
            # uniform samples use the fixed sample_size form with NO
            # entry table (ISO 14496-12 §8.7.3.2) — exercises the
            # decoder's fixed-size branch whenever frames coincide
            stsz = full(b"stsz", struct.pack(">II", sizes[0], n))
        else:
            stsz = full(b"stsz", struct.pack(">II", 0, n)
                        + b"".join(struct.pack(">I", sz) for sz in sizes))
        stco = full(b"stco", struct.pack(">II", 1, chunk_offset))
        stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
        vmhd = full(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
        dinf = _mp4_box(b"dinf", full(b"dref", struct.pack(">I", 1)
                                      + full(b"url ", b"", flags=1)))
        minf = _mp4_box(b"minf", vmhd + dinf + stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        trak = _mp4_box(b"trak", tkhd + mdia)
        return _mp4_box(b"moov", mvhd + trak)

    ftyp = _mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512)
                    + b"isomiso2mp41")
    header_len = len(ftyp) + len(build_moov(0))
    moov = build_moov(header_len + 8)  # mdat body starts after its header
    mdat = _mp4_box(b"mdat", b"".join(jpeg_frames))
    return ftyp + moov + mdat


_MP4_MAX_FRAMES = 4096


def decode_mp4_frames(payload: bytes) -> list:
    """Decode every frame of an MP4 video track: read the track's stsz
    sizes and stco chunk offset, slice the samples out of mdat, and
    decode each — 'jpeg' sample entries through the from-scratch T.81
    decoder, 'avc1'/'avc3' through the from-scratch H.264 I_PCM slice
    decoder (round 5; compressed H.264 macroblocks remain the honest
    refusal — CAVLC/CABAC entropy decode is out of scope and such
    samples raise).  Raises on non-MP4, other codecs, or malformed
    sample tables — callers quarantine, the same contract as
    decode_avi_frames / decode_gif_frames."""
    from .extractors.jpeg import decode_jpeg_gray

    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an MP4 payload")
    moov = _mp4_find(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("no moov box")
    for t, s, e in _mp4_boxes(payload, moov[0], moov[1]):
        if t != b"trak":
            continue
        mdia = _mp4_find(payload, s, e, b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_find(payload, mdia[0], mdia[1], b"hdlr")
        if hdlr is None or payload[hdlr[0] + 8: hdlr[0] + 12] != b"vide":
            continue
        minf = _mp4_find(payload, mdia[0], mdia[1], b"minf")
        stbl = minf and _mp4_find(payload, minf[0], minf[1], b"stbl")
        if not stbl:
            raise ValueError("video trak without stbl")
        stsd = _mp4_find(payload, stbl[0], stbl[1], b"stsd")
        entry = stsd and next(
            iter(_mp4_boxes(payload, stsd[0] + 8, stsd[1])), None)
        if entry is None:
            raise ValueError("video trak without stsd entry")
        if entry[0] in (b"avc1", b"avc3"):
            sps, pps, length_size = _parse_avcc_cfg(payload, entry[1],
                                                    entry[2])
            dec = lambda b: _decode_avc1_sample(b, sps, pps, length_size)  # noqa: E731
        elif entry[0] == b"jpeg":
            dec = decode_jpeg_gray
        else:
            raise ValueError(
                f"unsupported MP4 codec {entry[0].decode('latin-1')!r}")
        stsz = _mp4_find(payload, stbl[0], stbl[1], b"stsz")
        stco = _mp4_find(payload, stbl[0], stbl[1], b"stco")
        if stsz is None or stco is None:
            raise ValueError("jpeg trak without stsz/stco")
        fixed_size, n = struct.unpack_from(">II", payload, stsz[0] + 4)
        if not 1 <= n <= _MP4_MAX_FRAMES:
            raise ValueError(f"implausible sample count {n}")
        if fixed_size:
            # uniform-size stsz carries NO entry table (ISO 14496-12
            # §8.7.3.2) — reading one would slice adjacent box bytes
            sizes = [fixed_size] * n
        else:
            sizes = [struct.unpack_from(">I", payload, stsz[0] + 12 + 4 * k)[0]
                     for k in range(n)]
        n_chunks, = struct.unpack_from(">I", payload, stco[0] + 4)
        if n_chunks < 1:
            raise ValueError("empty stco")
        pos, = struct.unpack_from(">I", payload, stco[0] + 8)
        frames = []
        for sz in sizes:
            if pos + sz > len(payload) or sz < 4:
                raise ValueError("sample overruns file")
            frames.append(dec(payload[pos:pos + sz]))
            pos += sz
        return frames
    raise ValueError("no video track")


# ------------------------------------------------------------ AVI/MJPEG

def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(data)) + data + (
        b"\x00" if len(data) % 2 else b"")


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def _avi_container(jpeg_frames: list[bytes], w: int, h: int,
                   fps: int) -> bytes:
    """MJPEG-in-AVI writer: the classic RIFF layout (hdrl with
    avih + one 'vids'/'MJPG' strl, movi with one '00dc' chunk per
    baseline-JPEG frame, idx1 keyframe index).  Every frame is an
    independent JPEG from the repo's own encoder, so AVI frame decode
    reuses the differentially-tested T.81 decoder — the container adds
    only the RIFF walk."""
    n = len(jpeg_frames)
    avih = _riff_chunk(b"avih", struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0, w, h, 0, 0, 0, 0))
    strh = _riff_chunk(b"strh", struct.pack(
        "<4s4sIHHIIIIIIII4H", b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, n,
        max(len(f) for f in jpeg_frames), 10_000, 0, 0, 0, w, h))
    strf = _riff_chunk(b"strf", struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0))
    hdrl = _riff_list(b"hdrl", avih + _riff_list(b"strl", strh + strf))
    chunks, idx, off = [], [], 4
    for f in jpeg_frames:
        c = _riff_chunk(b"00dc", f)
        chunks.append(c)
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(f)))
        off += len(c)
    movi = _riff_list(b"movi", b"".join(chunks))
    idx1 = _riff_chunk(b"idx1", b"".join(idx))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


_AVI_MAX_CHUNKS = 4096


def parse_avi_meta(payload: bytes) -> dict:
    """Defensive RIFF/AVI header walk — codec fourcc, dims, fps, frame
    count from strh/strf/avih, plus the movi extent for the frame
    decoder.  Crafted sizes terminate (chunk-count cap, extent checks)
    instead of spinning; no frame is decoded here."""
    out = {"avi_ok": False, "avi_codec": None, "avi_w": None,
           "avi_h": None, "avi_fps": None, "avi_n_frames": None,
           "_movi": None}
    if len(payload) < 12 or payload[:4] != b"RIFF" or \
            payload[8:12] != b"AVI ":
        return out

    def walk(start: int, end: int):
        pos, seen = start, 0
        while pos + 8 <= end and seen < _AVI_MAX_CHUNKS:
            seen += 1
            fourcc = payload[pos:pos + 4]
            (size,) = struct.unpack_from("<I", payload, pos + 4)
            body_end = pos + 8 + size
            if body_end > end:
                return
            yield fourcc, pos + 8, body_end
            pos = body_end + (size & 1)

    try:
        n_frames_avih = w = h = fps = None
        for cc, b0, b1 in walk(12, len(payload)):
            if cc != b"LIST":
                continue
            ltype = payload[b0:b0 + 4]
            if ltype == b"movi":
                out["_movi"] = (b0 + 4, b1)
            elif ltype == b"hdrl":
                for c2, c0, c1 in walk(b0 + 4, b1):
                    if c2 == b"avih" and c1 - c0 >= 40:
                        us, _, _, _, n_frames_avih, _, _, _, w, h = \
                            struct.unpack_from("<10I", payload, c0)
                        fps = round(1_000_000 / us, 3) if us else None
                    elif c2 == b"LIST" and payload[c0:c0 + 4] == b"strl":
                        for c3, d0, d1 in walk(c0 + 4, c1):
                            if c3 == b"strh" and d1 - d0 >= 40 and \
                                    payload[d0:d0 + 4] == b"vids":
                                out["avi_codec"] = payload[d0 + 4:d0 + 8] \
                                    .decode("latin-1")
                                (out["avi_n_frames"],) = struct.unpack_from(
                                    "<I", payload, d0 + 32)
        if out["avi_codec"] is not None and w is not None:
            out.update(avi_ok=out["_movi"] is not None, avi_w=w, avi_h=h,
                       avi_fps=fps)
            if out["avi_n_frames"] is None:
                out["avi_n_frames"] = n_frames_avih
    except (struct.error, IndexError, UnicodeDecodeError):
        pass
    return out


def decode_avi_frames(payload: bytes) -> list:
    """Decode every MJPEG frame of an AVI: walk the movi list's
    '00dc'/'00db' chunks and hand each to the from-scratch T.81 decoder.
    Raises on non-AVI / non-MJPEG / undecodable frames (callers
    quarantine, same contract as decode_gif_frames)."""
    from .extractors.jpeg import decode_jpeg_gray

    meta = parse_avi_meta(payload)
    if not meta["avi_ok"]:
        raise ValueError("not a parseable AVI")
    if meta["avi_codec"] != "MJPG":
        raise ValueError(f"unsupported AVI codec {meta['avi_codec']!r}")
    b0, b1 = meta["_movi"]
    frames, pos, seen = [], b0, 0
    while pos + 8 <= b1 and seen < _AVI_MAX_CHUNKS:
        seen += 1
        fourcc = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        if pos + 8 + size > b1:
            raise ValueError("movi chunk overruns list")
        if fourcc[2:4] in (b"dc", b"db"):
            frames.append(decode_jpeg_gray(payload[pos + 8:pos + 8 + size]))
        pos += 8 + size + (size & 1)
    if not frames:
        raise ValueError("no video chunks in movi")
    return frames


def _scene_len(i: int) -> int:
    """Per-clip scene run-length (1-3 frames), md5-derived so adding
    scene structure consumed ZERO extra rng draws (the per-frame draws
    below still happen in the original order; in-scene frames just
    reuse the scene-start text) — the corpus-stability discipline every
    generator change follows."""
    return 1 + int(hashlib.md5(f"scenes:{i}".encode()).hexdigest()[:2],
                   16) % 3


def gen_media(i: int, seed: int = 42) -> dict:
    """Deterministic synthetic media row: valid PNG / WAV / JPEG-stub
    containers with known header metadata, noise payloads."""
    rng = random.Random((seed << 22) ^ i)
    kind = ("image", "image", "audio", "video")[rng.randrange(4)]
    if kind == "audio":
        rate = rng.choice([8000, 16000, 44100])
        n_samples = rng.randint(100, 2000)
        akind = rng.choice(["pcm16", "pcm16", "pcm8", "stereo16",
                            "ulaw", "alaw", "ima"])
        # ~40% are CLIP renders: the same deterministic structured
        # waveform re-encoded across codecs/rows — the planted audio
        # near-duplicates afp_near_dups exists to find (the audio twin
        # of the image SCENE planting)
        clip = rng.randrange(12) if rng.random() < 0.4 else None
        if akind == "ima":
            # IMA ADPCM (tag 0x11): whole blocks through the repo's own
            # encoder; spec-correct fmt chunk with the cbSize=2
            # samples-per-block extension
            ba = rng.choice([128, 256])
            spb = ima_samples_per_block(ba)
            nblk = rng.randint(1, 3)
            if clip is not None:
                wave = _tone_wave(clip, nblk * spb)
            else:
                wave = np.frombuffer(
                    bytes(rng.randrange(256) for _ in range(2 * nblk * spb)),
                    dtype="<i2")
            data = _ima_encode(wave.astype(np.int16), ba)
            payload = (
                b"RIFF" + struct.pack("<I", 40 + len(data)) + b"WAVEfmt "
                + struct.pack("<IHHIIHHHH", 20, 17, 1, rate,
                              rate * ba // spb, ba, 4, 2, spb)
                + b"data" + struct.pack("<I", len(data)) + data
            )
            return {"media_id": i, "kind": kind, "payload": payload}
        tone = _tone_wave(clip, n_samples) if clip is not None else None
        if akind in ("ulaw", "alaw"):
            # deterministic int16 waveform compressed through the
            # repo's own G.711 coder — decode_audio expands it back
            if tone is not None:
                wave = tone
            else:
                wave = np.frombuffer(
                    bytes(rng.randrange(256) for _ in range(2 * n_samples)),
                    dtype="<i2")
            comp = _ulaw_compress if akind == "ulaw" else _alaw_compress
            data = comp(wave).tobytes()
            fmt_tag, ch, bits = (7 if akind == "ulaw" else 6), 1, 8
        elif akind == "pcm8":
            if tone is not None:
                data = ((tone.astype(np.int32) >> 8) + 128).astype(
                    np.uint8).tobytes()
            else:
                data = bytes(rng.randrange(256) for _ in range(n_samples))
            fmt_tag, ch, bits = 1, 1, 8
        elif akind == "stereo16":
            if tone is not None:
                data = np.repeat(tone, 2).astype("<i2").tobytes()
            else:
                data = bytes(rng.randrange(256) for _ in range(4 * n_samples))
            fmt_tag, ch, bits = 1, 2, 16
        else:
            if tone is not None:
                data = tone.astype("<i2").tobytes()
            else:
                data = bytes(rng.randrange(256) for _ in range(2 * n_samples))
            fmt_tag, ch, bits = 1, 1, 16
        block = ch * (bits // 8)
        payload = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, fmt_tag, ch, rate, rate * block,
                          block, bits)
            + b"data" + struct.pack("<I", len(data)) + data
        )
    elif kind == "video":
        vpick = rng.random()
        if vpick < 0.35:
            # REAL video container (round 4): animated GIF89a whose
            # frames decode_gif_frames/frame_sample actually read
            from .glyphs import render_raster

            from . import corpusgen as cg

            n_frames = rng.randint(2, 4)
            L, frames, cur = _scene_len(i), [], None
            for k in range(n_frames):
                q = rng.randint(0, 99)  # draw consumed every frame
                if k % L == 0:
                    cur = f"CLIP {i} FRAME {k} {q}"
                frames.append(render_raster(cur))
            w, h, raster = frames[0]
            payload = cg._gif_gray(
                w, h, bytes(raster),
                extra_frames=[(fw, fh, bytes(fr)) for fw, fh, fr in frames[1:]])
        elif vpick < 0.6:
            # REAL MJPEG-in-AVI (round 4, this session): every '00dc'
            # chunk is an independent baseline JPEG from the repo's own
            # encoder — fixed-length captions keep frame dims constant,
            # as the single-geometry AVI header requires
            from .glyphs import render_raster

            from . import corpusgen as cg

            n_frames = rng.randint(2, 5)
            jf = []
            w = h = None
            L, cur = _scene_len(i), None
            for k in range(n_frames):
                q = rng.randint(10, 99)  # draw consumed every frame
                if k % L == 0:
                    cur = f"CLIP {i:06d} F{k} Q{q}"
                fw, fh, raster = render_raster(cur)
                w, h = fw, fh
                jf.append(cg._jpeg_gray(fw, fh, bytes(raster)))
            payload = _avi_container(jf, w, h,
                                     fps=rng.choice([10, 15, 24]))
        elif vpick < 0.78:
            # REAL MJPEG-in-MP4 (round 4, continued): 'jpeg' visual
            # sample entry, one baseline JPEG per sample in mdat, real
            # stsz/stco tables — MP4 video frames genuinely decode
            from .glyphs import render_raster

            from . import corpusgen as cg

            n_frames = rng.randint(2, 5)
            jf = []
            w = h = None
            L, cur = _scene_len(i), None
            for k in range(n_frames):
                q = rng.randint(10, 99)  # draw consumed every frame
                if k % L == 0:
                    cur = f"MP4C {i:06d} F{k} Q{q}"
                fw, fh, raster = render_raster(cur)
                w, h = fw, fh
                jf.append(cg._jpeg_gray(fw, fh, bytes(raster)))
            payload = _mp4_mjpeg_container(jf, w, h,
                                           fps=rng.choice([10, 12, 24]))
        elif vpick < 0.86:
            # REAL H.264-in-MP4 (round 5): avc1 samples are I_PCM IDR
            # slices — spec-conformant uncompressed H.264 that
            # decode_mp4_frames round-trips exactly; rendered rasters
            # (fixed-length captions keep dims constant across frames,
            # padded to even for 4:2:0 crop units)
            from .glyphs import render_raster

            n_frames = rng.randint(2, 4)
            ipcm = []
            L, cur = _scene_len(i), None
            for k in range(n_frames):
                q = rng.randint(10, 99)  # draw consumed every frame
                if k % L == 0:
                    cur = f"AVC {i:06d} F{k} Q{q}"
                fw, fh, raster = render_raster(cur)
                arr = np.frombuffer(bytes(raster), np.uint8).reshape(fh, fw)
                arr = np.pad(arr, ((0, fh % 2), (0, fw % 2)), mode="edge")
                ipcm.append((arr.shape[1], arr.shape[0], arr.tobytes()))
            payload = _mp4_container(rng, n_frames=0, w=0, h=0,
                                     with_audio=rng.random() < 0.4,
                                     ipcm_frames=ipcm)
        elif vpick < 0.92:
            # structural-only MP4 (round 4): full ISO BMFF box tree —
            # structure (frame count, duration, codec, dims incl. the
            # 1080 SPS-crop case) is readable; samples are noise, the
            # stand-in for compressed H.264 bitstreams, which frame
            # decode honestly refuses (quarantined, counted)
            dims = rng.choice([(320, 240), (640, 480), (1280, 720),
                               (1920, 1080)])  # 1080: SPS frame cropping
            payload = _mp4_container(
                rng, n_frames=rng.randint(5, 48), w=dims[0], h=dims[1],
                with_audio=rng.random() < 0.4)
        else:
            # truncated MP4 stub: ftyp only, noise tail -> quarantined
            payload = (struct.pack(">I", 20) + b"ftypisom"
                       + bytes(rng.randrange(256) for _ in range(64)))
    elif rng.random() < 0.5:
        # REAL decodable image (round 4): a rendered raster through one
        # of the repo's own writers — decode_image round-trips these.
        # ~40% are SCENE images: the same rendered content re-encoded
        # under different containers / small brightness shifts across
        # rows, planting the cross-codec perceptual near-duplicates
        # phash_near_dups exists to find.
        from .glyphs import render_raster

        from . import corpusgen as cg

        if rng.random() < 0.4:
            text = f"SCENE {rng.randrange(24)} STOCK PHOTO"
            delta = rng.choice([-8, -4, 0, 4, 8])
        else:
            text = f"MEDIA {i} SAMPLE {rng.randint(0, 999)}"
            delta = 0
        w, h, raster = render_raster(text)
        if delta:
            raster = bytes(
                np.clip(
                    np.frombuffer(bytes(raster), np.uint8).astype(np.int16)
                    + delta,
                    0, 255,
                ).astype(np.uint8)
            )
        pick = rng.random()
        if pick < 0.3:
            payload = cg._png_gray(w, h, bytes(raster))
        elif pick < 0.5:
            # camera-style JPEGs carry EXIF (md5-derived — no rng draw)
            payload = _with_exif(cg._jpeg_gray(w, h, bytes(raster)), i, w, h)
        elif pick < 0.65:
            payload = _with_exif(
                cg._jpeg_progressive(w, h, bytes(raster)), i, w, h)
        elif pick < 0.8:
            payload = cg._tiff_gray(w, h, bytes(raster), lzw=True, predictor=2)
        elif pick < 0.9:
            payload = cg._tiff_gray(w, h, bytes(raster), g4=True)
        else:
            payload = cg._gif_gray(w, h, bytes(raster), color=True)
    elif rng.random() < 0.6:
        # header-only stub: valid IHDR, noise body -> the quarantined path
        w, h = rng.randint(1, 4096), rng.randint(1, 4096)
        ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        chunk = b"IHDR" + ihdr
        payload = (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + chunk + struct.pack(">I", zlib.crc32(chunk))
            + bytes(rng.randrange(256) for _ in range(rng.randint(16, 256)))
        )
    else:
        w, h = rng.randint(1, 65000), rng.randint(1, 65000)
        # SOI + APP0/JFIF + SOF0 with dims
        payload = (
            b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
            + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
            + bytes(rng.randrange(256) for _ in range(rng.randint(16, 128)))
        )
    return {"media_id": i, "kind": kind, "payload": payload}


def media_df(spark, n: int, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed generation — same spark.range->mapInPandas pattern as
    the document corpus (no driver materialization)."""
    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([gen_media(int(i), seed) for i in pdf["id"]])

    rng_df = spark.range(0, n, numPartitions=partitions or 8)
    return rng_df.mapInPandas(gen, schema=MEDIA_SCHEMA)


# ------------------------------------------------------- metadata parse

def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for the sibling boxes in
    [start, end).  Defensive: 64-bit largesize handled, zero/short sizes
    and out-of-range extents terminate the walk instead of looping — a
    crafted header cannot spin or allocate."""
    pos = start
    n = 0
    while pos + 8 <= end and n < 4096:
        size, typ = struct.unpack_from(">I4s", data, pos)
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                return
            size = struct.unpack_from(">Q", data, pos + 8)[0]
            hdr = 16
        elif size == 0:  # "to end of file"
            size = end - pos
        if size < hdr or pos + size > end:
            return
        yield typ, pos + hdr, pos + size
        pos += size
        n += 1


def _mp4_find(data: bytes, start: int, end: int, typ: bytes):
    for t, s, e in _mp4_boxes(data, start, end):
        if t == typ:
            return s, e
    return None


class _SpsBits:
    """MSB-first bit reader with H.264 Exp-Golomb decode (spec 9.1) —
    parser-side twin of the generator's `_SpsBitWriter`."""

    def __init__(self, data: bytes) -> None:
        self.data, self.pos = data, 0

    def u(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v

    def ue(self) -> int:
        zeros = 0
        while self.u(1) == 0:
            zeros += 1
            if zeros > 32:
                raise ValueError("sps: runaway exp-golomb")
        return (1 << zeros) - 1 + (self.u(zeros) if zeros else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k & 1 else -(k // 2)


_HIGH_PROFILES = frozenset(
    (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135))


def _unescape_rbsp(body: bytes) -> bytes:
    """Strip H.264 emulation-prevention bytes (7.4.1.1): every
    00 00 03 becomes 00 00 with the 03 consumed."""
    rbsp = bytearray()
    zeros = 0
    for b in body:
        if zeros >= 2 and b == 3:
            zeros = 0
            continue
        rbsp.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(rbsp)


def _parse_sps(nal: bytes) -> dict:
    """H.264 SPS parse (spec 7.3.2.1.1) for the fields a container-level
    pipeline needs: profile_idc, level_idc and the TRUE coded dimensions
    (macroblock grid minus frame cropping).  *nal* includes the NAL
    header byte; emulation-prevention 00 00 03 sequences are unescaped
    first (7.4.1.1).  Raises ValueError on anything malformed."""
    if not nal or nal[0] & 0x1F != 7:
        raise ValueError("sps: not an SPS NAL")
    bits = _SpsBits(_unescape_rbsp(nal[1:]))
    profile = bits.u(8)
    bits.u(8)                               # constraint flags + reserved
    level = bits.u(8)
    bits.ue()                               # seq_parameter_set_id
    chroma = 1
    if profile in _HIGH_PROFILES:
        chroma = bits.ue()
        if chroma > 3:
            raise ValueError("sps: bad chroma_format_idc")
        if chroma == 3 and bits.u(1):       # separate_colour_plane_flag
            chroma = 0                      # ChromaArrayType = 0
        bits.ue()                           # bit_depth_luma_minus8
        bits.ue()                           # bit_depth_chroma_minus8
        bits.u(1)                           # qpprime_y_zero_bypass
        if bits.u(1):                       # seq_scaling_matrix_present
            raise ValueError("sps: scaling matrices unsupported")
    log2_max_frame_num = bits.ue() + 4
    poc_type = bits.ue()
    log2_max_poc_lsb = 0
    if poc_type == 0:
        log2_max_poc_lsb = bits.ue() + 4
    elif poc_type == 1:
        bits.u(1)
        bits.se()
        bits.se()
        for _ in range(bits.ue()):
            bits.se()
    bits.ue()                               # max_num_ref_frames
    bits.u(1)                               # gaps_in_frame_num_allowed
    mb_w = bits.ue() + 1
    map_h = bits.ue() + 1
    frame_mbs_only = bits.u(1)
    if not frame_mbs_only:
        bits.u(1)                           # mb_adaptive_frame_field
    bits.u(1)                               # direct_8x8_inference
    crop_l = crop_r = crop_t = crop_b = 0
    if bits.u(1):                           # frame_cropping_flag
        crop_l, crop_r = bits.ue(), bits.ue()
        crop_t, crop_b = bits.ue(), bits.ue()
    # crop units (Table 6-1 via SubWidthC/SubHeightC; ChromaArrayType 0
    # crops in luma samples): x = SubWidthC, y = SubHeightC*(2-fmo)
    unit_x = {0: 1, 1: 2, 2: 2, 3: 1}[chroma]
    unit_y = {0: 1, 1: 2, 2: 1, 3: 1}[chroma] * (2 - frame_mbs_only)
    w = mb_w * 16 - (crop_l + crop_r) * unit_x
    h = (2 - frame_mbs_only) * map_h * 16 - (crop_t + crop_b) * unit_y
    if w <= 0 or h <= 0:
        raise ValueError("sps: crop exceeds coded size")
    return {"profile": profile, "level": level, "w": w, "h": h,
            # slice-decode fields (round 5, I_PCM frame decode)
            "chroma": chroma, "log2_max_frame_num": log2_max_frame_num,
            "poc_type": poc_type, "log2_max_poc_lsb": log2_max_poc_lsb,
            "mb_w": mb_w, "map_h": map_h, "frame_mbs_only": frame_mbs_only,
            "crop_l": crop_l, "crop_r": crop_r, "crop_t": crop_t,
            "crop_b": crop_b, "unit_x": unit_x, "unit_y": unit_y}


def _parse_pps(nal: bytes) -> dict:
    """H.264 PPS parse (spec 7.3.2.2) of the fields the slice-header /
    slice-data walk depends on.  Raises ValueError on malformed input."""
    if not nal or nal[0] & 0x1F != 8:
        raise ValueError("pps: not a PPS NAL")
    bits = _SpsBits(_unescape_rbsp(nal[1:]))
    try:
        bits.ue()                           # pic_parameter_set_id
        bits.ue()                           # seq_parameter_set_id
        entropy = bits.u(1)                 # entropy_coding_mode_flag
        bottom_field = bits.u(1)            # bottom_field_pic_order_present
        n_groups = bits.ue() + 1            # num_slice_groups
        if n_groups > 1:
            raise ValueError("pps: slice groups unsupported")
        bits.ue()                           # num_ref_idx_l0_default
        bits.ue()                           # num_ref_idx_l1_default
        bits.u(1)                           # weighted_pred_flag
        bits.u(2)                           # weighted_bipred_idc
        bits.se()                           # pic_init_qp_minus26
        bits.se()                           # pic_init_qs_minus26
        bits.se()                           # chroma_qp_index_offset
        deblock = bits.u(1)                 # deblocking_filter_control
        bits.u(1)                           # constrained_intra_pred
        redundant = bits.u(1)               # redundant_pic_cnt_present
    except IndexError:
        raise ValueError("pps: truncated") from None
    return {"entropy_coding_mode": entropy,
            "bottom_field_pic_order_present": bottom_field,
            "deblocking_filter_control_present": deblock,
            "redundant_pic_cnt_present": redundant}


def _decode_ipcm_slice(nal: bytes, sps: dict, pps: dict):
    """Decode one H.264 I slice whose macroblocks are all I_PCM
    (spec 7.3.5: mb_type 25 in I slices, Table 7-11) — raw uncompressed
    samples, the one conformant H.264 coding mode that needs no
    CAVLC/CABAC entropy decode or prediction.  Returns
    (luma, cb, cr) planes at CODED dimensions (mb grid x 16); the
    caller applies SPS frame cropping.  Anything the repo's generator
    does not emit — CABAC, compressed macroblocks, multi-slice
    pictures, fields, non-4:2:0 — raises ValueError (honest refusal:
    callers quarantine, same contract as every other codec here)."""
    nal_type = nal[0] & 0x1F
    if nal_type not in (1, 5):
        raise ValueError("h264: not a coded-slice NAL")
    if sps["chroma"] != 1:
        raise ValueError("h264: only 4:2:0 I_PCM supported")
    if not sps["frame_mbs_only"]:
        raise ValueError("h264: field coding unsupported")
    if pps["entropy_coding_mode"]:
        raise ValueError("h264: CABAC slice data unsupported")
    bits = _SpsBits(_unescape_rbsp(nal[1:]))
    try:
        if bits.ue():                       # first_mb_in_slice
            raise ValueError("h264: multi-slice pictures unsupported")
        slice_type = bits.ue()
        if slice_type % 5 != 2:
            raise ValueError("h264: non-I slice unsupported")
        bits.ue()                           # pic_parameter_set_id
        bits.u(sps["log2_max_frame_num"])   # frame_num
        if nal_type == 5:
            bits.ue()                       # idr_pic_id
        if sps["poc_type"] == 0:
            bits.u(sps["log2_max_poc_lsb"])
            if pps["bottom_field_pic_order_present"]:
                bits.se()
        elif sps["poc_type"] == 1:
            raise ValueError("h264: poc_type 1 slice header unsupported")
        if pps["redundant_pic_cnt_present"]:
            bits.ue()
        if (nal[0] >> 5) & 3:               # dec_ref_pic_marking
            if nal_type == 5:
                bits.u(1)                   # no_output_of_prior_pics
                bits.u(1)                   # long_term_reference_flag
            elif bits.u(1):
                raise ValueError("h264: adaptive ref-pic marking unsupported")
        bits.se()                           # slice_qp_delta
        if pps["deblocking_filter_control_present"]:
            if bits.ue() != 1:              # disable_deblocking_filter_idc
                bits.se()
                bits.se()
        mb_w, mb_h = sps["mb_w"], sps["map_h"]
        cw, ch = mb_w * 16, mb_h * 16
        luma = bytearray(cw * ch)
        cb = bytearray((cw // 2) * (ch // 2))
        cr = bytearray((cw // 2) * (ch // 2))
        for mb in range(mb_w * mb_h):
            if bits.ue() != 25:             # mb_type: I_PCM in I slices
                raise ValueError(
                    "h264: compressed macroblocks unsupported (I_PCM only)")
            while bits.pos & 7:             # pcm_alignment_zero_bit
                if bits.u(1):
                    raise ValueError("h264: nonzero pcm alignment bit")
            mx, my = (mb % mb_w) * 16, (mb // mb_w) * 16
            for ry in range(16):            # pcm_sample_luma, raster order
                base = (my + ry) * cw + mx
                for rx in range(16):
                    luma[base + rx] = bits.u(8)
            for plane in (cb, cr):          # pcm_sample_chroma: Cb then Cr
                for ry in range(8):
                    base = (my // 2 + ry) * (cw // 2) + mx // 2
                    for rx in range(8):
                        plane[base + rx] = bits.u(8)
    except IndexError:
        raise ValueError("h264: truncated slice") from None
    return bytes(luma), bytes(cb), bytes(cr)


def _h264_ipcm_idr(luma: bytes, cb: bytes, cr: bytes,
                   mb_w: int, mb_h: int) -> bytes:
    """Encode one IDR picture as a single I slice of I_PCM macroblocks
    (spec 7.3.3 slice header + 7.3.5 slice data) — the encoder twin of
    `_decode_ipcm_slice`.  Planes are at coded dimensions (luma
    mb_w*16 x mb_h*16, chroma half each way).  Field values mirror the
    parameter sets `_avcc_box` writes (poc_type 0, log2 maxima 4/6,
    CAVLC, deblocking-control present)."""
    w = _SpsBitWriter()
    w.ue(0)                                 # first_mb_in_slice
    w.ue(7)                                 # slice_type: I (all slices I)
    w.ue(0)                                 # pic_parameter_set_id
    w.u(0, 4)                               # frame_num (log2_max 4)
    w.ue(0)                                 # idr_pic_id
    w.u(0, 6)                               # pic_order_cnt_lsb (log2_max 6)
    w.u(0, 1)                               # no_output_of_prior_pics
    w.u(0, 1)                               # long_term_reference_flag
    w.ue(0)                                 # slice_qp_delta (se(0))
    w.ue(1)                                 # disable_deblocking_filter_idc=1
    cw = mb_w * 16
    for mb in range(mb_w * mb_h):
        w.ue(25)                            # mb_type I_PCM
        while len(w._bits) % 8:
            w.u(0, 1)                       # pcm_alignment_zero_bit
        mx, my = (mb % mb_w) * 16, (mb // mb_w) * 16
        for ry in range(16):
            base = (my + ry) * cw + mx
            for rx in range(16):
                w.u(luma[base + rx], 8)
        for plane in (cb, cr):
            for ry in range(8):
                base = (my // 2 + ry) * (cw // 2) + mx // 2
                for rx in range(8):
                    w.u(plane[base + rx], 8)
    return b"\x65" + w.rbsp()               # nal_ref_idc=3, type 5 (IDR)


def _parse_avcc(payload: bytes, entry_s: int, entry_e: int) -> dict | None:
    """AVCDecoderConfigurationRecord inside an avc1/avc3 visual sample
    entry (ISO 14496-15 §5.2.4): child boxes start after the 78-byte
    VisualSampleEntry fields; the first SPS carries profile/level and
    the authoritative coded dimensions."""
    avcc = _mp4_find(payload, entry_s + 78, entry_e, b"avcC")
    if avcc is None:
        return None
    s, e = avcc
    if e - s < 8 or payload[s] != 1:        # configurationVersion
        return None
    n_sps = payload[s + 5] & 0x1F
    if n_sps < 1:
        return None
    ln, = struct.unpack_from(">H", payload, s + 6)
    if s + 8 + ln > e:
        return None
    try:
        return _parse_sps(payload[s + 8: s + 8 + ln])
    except (ValueError, IndexError):
        return None


def _parse_avcc_cfg(payload: bytes, entry_s: int, entry_e: int) -> tuple:
    """Full AVCDecoderConfigurationRecord read for the frame-decode path:
    (sps dict, pps dict, NAL length-prefix size).  Unlike `_parse_avcc`
    (metadata path, returns None on problems) this RAISES ValueError —
    a sample marked avc1 that cannot be configured must quarantine."""
    avcc = _mp4_find(payload, entry_s + 78, entry_e, b"avcC")
    if avcc is None:
        raise ValueError("avc1 entry without avcC box")
    s, e = avcc
    if e - s < 8 or payload[s] != 1:
        raise ValueError("malformed avcC record")
    length_size = (payload[s + 4] & 3) + 1
    if payload[s + 5] & 0x1F < 1:
        raise ValueError("avcC without SPS")
    ln, = struct.unpack_from(">H", payload, s + 6)
    if s + 8 + ln > e:
        raise ValueError("avcC SPS overruns box")
    sps = _parse_sps(payload[s + 8: s + 8 + ln])
    p = s + 8 + ln
    if p >= e or payload[p] < 1:
        raise ValueError("avcC without PPS")
    pln, = struct.unpack_from(">H", payload, p + 1)
    if p + 3 + pln > e:
        raise ValueError("avcC PPS overruns box")
    pps = _parse_pps(payload[p + 3: p + 3 + pln])
    return sps, pps, length_size


def _decode_avc1_sample(sample: bytes, sps: dict, pps: dict,
                        length_size: int) -> tuple:
    """One avc1 sample -> (w, h, luma bytes) at SPS-cropped dimensions:
    walk the length-prefixed NAL units, decode the coded slice (I_PCM
    only — see `_decode_ipcm_slice`), skip SEI/parameter-set NALs."""
    pos, n = 0, len(sample)
    while pos + length_size <= n:
        ln = int.from_bytes(sample[pos:pos + length_size], "big")
        pos += length_size
        if ln < 1 or pos + ln > n:
            raise ValueError("h264: NAL overruns sample")
        nal = sample[pos:pos + ln]
        pos += ln
        if nal[0] & 0x1F in (1, 5):
            luma, _cb, _cr = _decode_ipcm_slice(nal, sps, pps)
            cw = sps["mb_w"] * 16
            x0 = sps["crop_l"] * sps["unit_x"]
            y0 = sps["crop_t"] * sps["unit_y"]
            w, h = sps["w"], sps["h"]
            out = bytearray(w * h)
            for ry in range(h):
                base = (y0 + ry) * cw + x0
                out[ry * w:(ry + 1) * w] = luma[base:base + w]
            return w, h, bytes(out)
    raise ValueError("h264: no coded slice in sample")


def parse_mp4_meta(payload: bytes) -> dict:
    """ISO BMFF structural parse — the real MP4 metadata a video pipeline
    reads before any frame decode: brand, movie duration, track count,
    and for the first video track its codec fourcc, dimensions and frame
    count (stsz entry count, cross-checkable against the stts sum);
    for avc1/avc3 entries, H.264 profile/level and the SPS-authoritative
    coded dimensions parsed from the avcC parameter sets (round 5) —
    the sample-entry w/h is advisory, the SPS is normative."""
    out = {"mp4_ok": False, "mp4_brand": None, "mp4_duration_s": None,
           "mp4_n_tracks": None, "mp4_codec": None, "mp4_w": None,
           "mp4_h": None, "mp4_n_frames": None, "mp4_profile": None,
           "mp4_level": None, "mp4_sps_w": None, "mp4_sps_h": None}
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        return out
    try:
        out["mp4_brand"] = payload[8:12].decode("latin-1")
        moov = _mp4_find(payload, 0, len(payload), b"moov")
        if moov is None:
            return out
        ms, me = moov
        mvhd = _mp4_find(payload, ms, me, b"mvhd")
        if mvhd is None:
            return out
        vs = payload[mvhd[0]]
        off = mvhd[0] + 4 + (16 if vs == 1 else 8)
        if vs == 1:
            timescale, = struct.unpack_from(">I", payload, off)
            duration, = struct.unpack_from(">Q", payload, off + 4)
        else:
            timescale, duration = struct.unpack_from(">II", payload, off)
        out["mp4_duration_s"] = round(duration / timescale, 4) if timescale else None
        n_tracks = 0
        for t, s, e in _mp4_boxes(payload, ms, me):
            if t != b"trak":
                continue
            n_tracks += 1
            mdia = _mp4_find(payload, s, e, b"mdia")
            if mdia is None:
                continue
            hdlr = _mp4_find(payload, mdia[0], mdia[1], b"hdlr")
            if hdlr is None or payload[hdlr[0] + 8: hdlr[0] + 12] != b"vide":
                continue
            if out["mp4_codec"] is not None:
                continue  # first video track only
            minf = _mp4_find(payload, mdia[0], mdia[1], b"minf")
            stbl = minf and _mp4_find(payload, minf[0], minf[1], b"stbl")
            if not stbl:
                continue
            stsd = _mp4_find(payload, stbl[0], stbl[1], b"stsd")
            if stsd and struct.unpack_from(">I", payload, stsd[0] + 4)[0] >= 1:
                entry = next(iter(_mp4_boxes(payload, stsd[0] + 8, stsd[1])),
                             None)
                if entry:
                    out["mp4_codec"] = entry[0].decode("latin-1")
                    # visual sample entry: 6 reserved + dref(2) + 16
                    # predefined/reserved, then width/height
                    w, h = struct.unpack_from(">HH", payload, entry[1] + 24)
                    out["mp4_w"], out["mp4_h"] = w, h
                    if entry[0] in (b"avc1", b"avc3"):
                        sps = _parse_avcc(payload, entry[1], entry[2])
                        if sps:
                            out["mp4_profile"] = sps["profile"]
                            out["mp4_level"] = sps["level"]
                            out["mp4_sps_w"] = sps["w"]
                            out["mp4_sps_h"] = sps["h"]
            stsz = _mp4_find(payload, stbl[0], stbl[1], b"stsz")
            if stsz:
                out["mp4_n_frames"] = struct.unpack_from(
                    ">I", payload, stsz[0] + 8)[0]
            elif (stts := _mp4_find(payload, stbl[0], stbl[1], b"stts")):
                cnt, = struct.unpack_from(">I", payload, stts[0] + 4)
                out["mp4_n_frames"] = sum(
                    struct.unpack_from(">I", payload, stts[0] + 8 + 8 * k)[0]
                    for k in range(min(cnt, 1024)))
        out["mp4_n_tracks"] = n_tracks
        out["mp4_ok"] = out["mp4_codec"] is not None
    except (struct.error, IndexError, UnicodeDecodeError):
        pass
    return out


_RIFF_FORMS = {b"AVI ": "avi", b"WAVE": "wav"}


def media_container(payload: bytes) -> str | None:
    """The one container decision for a media payload: the image table's
    tag (extractors.image.image_container: png/jpeg/tiff/gif/bmp), else
    ``avi``/``wav`` by the RIFF form type, else ``mp4`` when the first
    box's type (bytes 4-8) is ``ftyp``, else None.  The mp4 test needs
    only that 8-byte box header: a shorter-than-16-byte ftyp box is an
    mp4 whose parse fails (parse_mp4_meta and decode_mp4_frames check
    the 16-byte ftyp body themselves) — counted, not hidden."""
    tag = image_container(payload)
    if tag is not None:
        return tag
    if payload[:4] == b"RIFF" and payload[8:12] in _RIFF_FORMS:
        return _RIFF_FORMS[payload[8:12]]
    if payload[4:8] == b"ftyp":
        return "mp4"
    return None


def parse_media_meta(payload: bytes) -> dict:
    """Container-header metadata by byte arithmetic — no decode libs."""
    out = {"container": "unknown", "width": None, "height": None,
           "sample_rate": None, "parse_ok": False}
    tag = media_container(payload)
    try:
        if tag == "png" and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            out.update(container="png", width=w, height=h, parse_ok=True)
        elif tag == "jpeg":
            pos = 2
            while pos + 4 < len(payload):
                if payload[pos] != 0xFF:
                    break
                marker = payload[pos + 1]
                seglen = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
                    out.update(container="jpeg", width=w, height=h, parse_ok=True)
                    break
                pos += 2 + seglen
            else:
                out.update(container="jpeg")
        elif tag == "tiff":
            e = "<" if payload[:2] == b"II" else ">"
            (ifd,) = struct.unpack_from(e + "I", payload, 4)
            (n_tags,) = struct.unpack_from(e + "H", payload, ifd)
            w = h = None
            for t in range(n_tags):
                tag, typ, _cnt, val = struct.unpack_from(
                    e + "HHII", payload, ifd + 2 + t * 12)
                if typ == 3:  # SHORT lives in the value field's first half
                    val = (val & 0xFFFF) if e == "<" else (val >> 16)
                if tag == 256:
                    w = val
                elif tag == 257:
                    h = val
            out.update(container="tiff", width=w, height=h,
                       parse_ok=w is not None and h is not None)
        elif tag == "gif":
            w, h = struct.unpack_from("<HH", payload, 6)
            out.update(container="gif", width=w, height=h, parse_ok=True)
        elif tag == "bmp":
            # every DIB header image_container admits (>= 40 bytes) starts
            # int32 width, int32 height (negative: top-down rows)
            w, h = struct.unpack_from("<ii", payload, 18)
            out.update(container="bmp")
            if w > 0 and 0 < abs(h) < 1 << 31:
                out.update(width=w, height=abs(h), parse_ok=True)
        elif tag == "avi":
            m = parse_avi_meta(payload)
            out.update(container="avi", width=m["avi_w"],
                       height=m["avi_h"], parse_ok=m["avi_ok"])
        elif tag == "wav":
            rate = struct.unpack("<I", payload[24:28])[0]
            out.update(container="wav", sample_rate=rate, parse_ok=True)
        elif tag == "mp4":
            m = parse_mp4_meta(payload)
            out.update(container="mp4", width=m["mp4_w"],
                       height=m["mp4_h"], parse_ok=m["mp4_ok"])
    except (struct.error, IndexError):
        pass
    # the int columns of media_metadata hold [0, 2^31); a header's uint32
    # claim beyond that is a parse failure, not a failed task
    for k in ("width", "height", "sample_rate"):
        if out[k] is not None and not 0 <= out[k] < 1 << 31:
            out.update({k: None, "parse_ok": False})
    return out


def media_metadata(df: DataFrame) -> DataFrame:
    """binary -> typed metadata (parse_media_meta), one row per media row."""
    return rows_df(
        df, ("media_id", "kind"), ("payload",),
        lambda p: dict(parse_media_meta(p), n_bytes=len(p)),
        "container string, width int, height int, sample_rate int, "
        "n_bytes long, parse_ok boolean")


# ------------------------------------------------------------- EXIF

# Exif 2.x APP1 over the TIFF 6.0 IFD structure (public specs: JEITA
# CP-3451 / TIFF 6.0).  The corpus's camera-style JPEGs carry a real
# APP1 block — both byte orders, Orientation/Make/DateTime in IFD0 and
# PixelX/YDimension in the Exif sub-IFD — because EXIF-vs-decoded-dims
# and orientation handling are the classic multimodal-ingest traps
# (rotated rasters, post-resize stale dimension claims).

EXIF_MAKES = ["CamCo", "PixelWorks", "Shutterline", "OptiMax"]


def _exif_app1(orientation: int, dt: str, make: str, px_w: int, px_h: int,
               big_endian: bool) -> bytes:
    """Serialize one Exif APP1 segment: IFD0 (Make 0x010F, Orientation
    0x0112, DateTime 0x0132, ExifIFDPointer 0x8769) + Exif sub-IFD
    (PixelXDimension 0xA002, PixelYDimension 0xA003).  SHORT values sit
    in the first two bytes of the 4-byte slot in file byte order;
    ASCII values beyond 4 bytes live at explicit offsets."""
    E = ">" if big_endian else "<"
    make_b = make.encode("ascii") + b"\x00"
    dt_b = dt.encode("ascii") + b"\x00"
    dt_off = 8 + 2 + 4 * 12 + 4          # header + IFD0(4 entries)
    make_off = dt_off + len(dt_b)
    exif_off = make_off + len(make_b)
    if exif_off % 2:
        exif_off += 1                    # TIFF values are word-aligned

    def entry(tag: int, typ: int, cnt: int, val4: bytes) -> bytes:
        return struct.pack(E + "HHI", tag, typ, cnt) + val4

    ifd0 = struct.pack(E + "H", 4)
    ifd0 += entry(0x010F, 2, len(make_b), struct.pack(E + "I", make_off))
    ifd0 += entry(0x0112, 3, 1, struct.pack(E + "HH", orientation, 0))
    ifd0 += entry(0x0132, 2, len(dt_b), struct.pack(E + "I", dt_off))
    ifd0 += entry(0x8769, 4, 1, struct.pack(E + "I", exif_off))
    ifd0 += struct.pack(E + "I", 0)
    exif_ifd = struct.pack(E + "H", 2)
    exif_ifd += entry(0xA002, 4, 1, struct.pack(E + "I", px_w))
    exif_ifd += entry(0xA003, 4, 1, struct.pack(E + "I", px_h))
    exif_ifd += struct.pack(E + "I", 0)
    hdr = (b"MM\x00\x2a" if big_endian else b"II\x2a\x00") \
        + struct.pack(E + "I", 8)
    body = hdr + ifd0 + dt_b + make_b
    body += b"\x00" * (exif_off - len(body))
    body += exif_ifd
    blob = b"Exif\x00\x00" + body
    return struct.pack(">BBH", 0xFF, 0xE1, len(blob) + 2) + blob


def _with_exif(payload: bytes, i: int, w: int, h: int) -> bytes:
    """Corpus-side EXIF attachment for JPEG payloads, derived entirely
    from md5(f"exif|{i}") — ZERO rng-stream consumption (the
    scene-cuts/jsonld protocol), so every other media draw is untouched.
    ~70% of camera-style JPEGs carry EXIF; among those: both byte
    orders, orientation mix incl. the >=5 display-swap class, ~19% a
    stale 2x dimension claim (the post-resize trap), ~6% a truncated
    TIFF body (parse must fail HONESTLY, not crash)."""
    hx = hashlib.md5(f"exif|{i}".encode()).hexdigest()
    if int(hx[0], 16) >= 11:             # ~31%: no EXIF at all
        return payload
    orientation = [1, 1, 1, 3, 6, 6, 8, 5][int(hx[1], 16) % 8]
    make = EXIF_MAKES[int(hx[2], 16) % 4]
    stale = int(hx[3], 16) < 3           # ~19%: dims claim 2x the raster
    px_w, px_h = (2 * w, 2 * h) if stale else (w, h)
    big_endian = int(hx[4], 16) % 2 == 1
    dt = (f"20{15 + int(hx[5], 16) % 10}:{1 + int(hx[6], 16) % 12:02d}:"
          f"{1 + int(hx[7], 16) % 28:02d} {int(hx[8], 16) % 24:02d}:"
          f"{int(hx[9], 16) % 60:02d}:{int(hx[10], 16) % 60:02d}")
    app1 = _exif_app1(orientation, dt, make, px_w, px_h, big_endian)
    if int(hx[11], 16) == 0:             # ~6%: truncated TIFF body
        cut = len(app1) - 12
        app1 = struct.pack(">BBH", 0xFF, 0xE1, cut - 2) + app1[4:cut]
    return payload[:2] + app1 + payload[2:]   # APP1 right after SOI


def _parse_exif_tiff(b: bytes) -> dict:
    """Walk the TIFF structure inside an Exif APP1 body (after the
    'Exif\\0\\0' id): returns the tag subset the audit reads.  Raises on
    any malformation — the caller converts that to exif_ok=False."""
    if b[:4] == b"II\x2a\x00":
        E = "<"
    elif b[:4] == b"MM\x00\x2a":
        E = ">"
    else:
        raise ValueError("bad TIFF header in Exif")
    (ifd,) = struct.unpack_from(E + "I", b, 4)

    def read_ifd(off: int) -> dict:
        (n,) = struct.unpack_from(E + "H", b, off)
        ents = {}
        for t in range(n):
            tag, typ, cnt = struct.unpack_from(E + "HHI", b, off + 2 + t * 12)
            ents[tag] = (typ, cnt, off + 2 + t * 12 + 8)
        return ents

    def val(ent):
        typ, cnt, voff = ent
        if typ == 3:                     # SHORT: first 2 bytes of the slot
            return struct.unpack_from(E + "H", b, voff)[0]
        if typ == 4:                     # LONG
            return struct.unpack_from(E + "I", b, voff)[0]
        if typ == 2:                     # ASCII (NUL-terminated, cnt bytes)
            if cnt <= 4:
                raw = b[voff:voff + cnt]
            else:
                (o,) = struct.unpack_from(E + "I", b, voff)
                raw = b[o:o + cnt]
                if len(raw) < cnt:
                    raise ValueError("truncated ASCII value")
            return raw.rstrip(b"\x00").decode("ascii")
        raise ValueError(f"unsupported EXIF type {typ}")

    ifd0 = read_ifd(ifd)
    out = {}
    if 0x0112 in ifd0:
        out["exif_orientation"] = int(val(ifd0[0x0112]))
    if 0x010F in ifd0:
        out["exif_make"] = val(ifd0[0x010F])
    if 0x0132 in ifd0:
        out["exif_dt"] = val(ifd0[0x0132])
    if 0x8769 in ifd0:
        sub = read_ifd(int(val(ifd0[0x8769])))
        if 0xA002 in sub:
            out["exif_w"] = int(val(sub[0xA002]))
        if 0xA003 in sub:
            out["exif_h"] = int(val(sub[0xA003]))
    return out


def parse_exif(payload: bytes) -> dict:
    """Normative per-row EXIF read (shared by the Spark path and the
    oracle table): locate the APP1/Exif segment in a JPEG's marker
    stream (never raises — has_exif=False when absent, exif_ok=False
    when present but malformed)."""
    out = {"has_exif": False, "exif_ok": None, "exif_orientation": None,
           "exif_make": None, "exif_dt": None, "exif_w": None,
           "exif_h": None}
    if image_container(payload) != "jpeg":
        return out
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            break
        marker = payload[pos + 1]
        if marker in (0xD9, 0xDA):       # image data: EXIF precedes it
            break
        seglen = int.from_bytes(payload[pos + 2:pos + 4], "big")
        if seglen < 2:
            break
        seg = payload[pos + 4:pos + 2 + seglen]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            out["has_exif"] = True
            try:
                out.update(_parse_exif_tiff(seg[6:]))
                out["exif_ok"] = True
            except Exception:
                out["exif_ok"] = False
            return out
        pos += 2 + seglen
    return out


def exif_stats(df: DataFrame) -> DataFrame:
    """EXIF audit rollup over the image payloads — the ingest table a
    multimodal pipeline reads before trusting camera metadata: per
    (make, orientation), how many images parse, how many dimension
    claims match the actually-decoded raster (stale post-resize claims
    are the classic trap), how many need a display-axis swap
    (orientation >= 5), and the capture-date range.

    Scale shape: ONE row pass over the image payloads (parse_exif +
    decode_image per payload), then a partial-aggregable groupBy on
    O(makes x 8) keys.  Conditional counts are sum(CAST(cond AS BIGINT))
    on both engines (trap-81 null semantics)."""
    def exif_row(payload):
        e = parse_exif(payload)
        return dict(e, **image_row_stats(payload)) if e["has_exif"] else None

    per = rows_df(
        df.filter(F.col("kind") == "image"), ("media_id",), ("payload",),
        exif_row,
        "exif_ok boolean, exif_orientation int, exif_make string, "
        "exif_dt string, exif_w int, exif_h int, dec_w int, dec_h int")
    dims_match = (F.col("exif_w") == F.col("dec_w")) \
        & (F.col("exif_h") == F.col("dec_h"))
    # NULL-condition rows (failed parse -> missing dims/orientation)
    # count as 0, never NULL: keeps every count column non-null BIGINT
    # so pandas dtypes agree across engines (int64, no float widening).
    count_if = lambda c: F.sum(  # noqa: E731
        F.coalesce(c.cast("bigint"), F.lit(0)))
    return (
        per.groupBy("exif_make", "exif_orientation")
        .agg(
            F.count("*").alias("n_images"),
            count_if(F.col("exif_ok")).alias("n_parse_ok"),
            count_if(dims_match).alias("n_dims_match"),
            count_if(F.col("exif_orientation") >= 5)
            .alias("n_display_swap"),
            F.min("exif_dt").alias("min_dt"),
            F.max("exif_dt").alias("max_dt"),
        )
        .orderBy("exif_make", "exif_orientation")
    )


# ------------------------------------------------------------- features

def image_row_stats(payload: bytes) -> dict:
    """Per-row decode outcome + raster statistics — the single normative
    implementation both the Spark mapInPandas path and the single-process
    oracle table call."""
    out = {"container": image_container(payload) or "other", "dec_ok": False,
           "dec_w": None, "dec_h": None, "dec_mean_luma": None,
           "dec_ink_frac": None}
    try:
        w, h, raster = decode_image(payload)
    except Exception:
        return out
    arr = np.frombuffer(bytes(raster), dtype=np.uint8)
    out.update(
        dec_ok=True, dec_w=w, dec_h=h,
        dec_mean_luma=float(arr.mean()) if arr.size else 0.0,
        dec_ink_frac=float((arr < 128).mean()) if arr.size else 0.0,
    )
    return out


def _ulaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """G.711 μ-law expansion (vectorized).  Inverse-pinned by the
    all-256-codes compress(expand(code)) == code identity test."""
    u = (~codes) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant.astype(np.int32) << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def _ulaw_compress(samples: "np.ndarray") -> "np.ndarray":
    """G.711 μ-law compression (vectorized) — the writer side of the
    pair; shares only the published constants with the expander."""
    x = samples.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = (np.floor(np.log2(mag)).astype(np.int32) - 7).clip(0, 7)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def _alaw_expand(codes: "np.ndarray") -> "np.ndarray":
    """G.711 A-law expansion (vectorized), even-bit-inverted codes."""
    a = codes ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = (a & 0x0F).astype(np.int32)
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(sign, -mag, mag).astype(np.int16)


def _alaw_compress(samples: "np.ndarray") -> "np.ndarray":
    x = samples.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32767)
    exp = np.where(mag < 256, 0,
                   (np.floor(np.log2(np.maximum(mag, 1))).astype(np.int32)
                    - 7).clip(0, 7))
    mant = np.where(exp == 0, mag >> 4, (mag >> (exp + 3)) & 0x0F)
    return (((sign | (exp << 4) | mant) ^ 0x55) & 0xFF).astype(np.uint8)


# IMA/DVI ADPCM (WAVE format tag 0x11) — published constants from the
# IMA Digital Audio Pack recommendation; CPython's audioop module ships
# an independent C implementation of the same codec, and the tests
# differential-pin BOTH directions against it (decoder: identical
# samples for arbitrary nibble streams; encoder: audioop decodes our
# nibbles to exactly what our decoder produces), so a misremembered
# table entry cannot hide behind a shared writer/reader quirk.
_IMA_INDEX_TBL = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int32)
_IMA_STEP_TBL = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767],
    dtype=np.int32)


def _ima_decode_nibbles(codes: "np.ndarray", pred: "np.ndarray",
                        index: "np.ndarray") -> "np.ndarray":
    """Core IMA ADPCM nibble expansion, vectorized ACROSS blocks: *codes*
    is (n_blocks, n_nibbles), *pred*/*index* are per-block initial state.
    The loop runs over nibble POSITIONS (a per-block constant, ~500 for
    256-byte blocks), not over samples — decode cost is O(block size)
    numpy passes regardless of audio length."""
    nb, nn = codes.shape
    out = np.empty((nb, nn), dtype=np.int16)
    pred = pred.astype(np.int32).copy()
    index = np.clip(index.astype(np.int32), 0, 88)
    step = _IMA_STEP_TBL[index]
    for k in range(nn):
        n4 = codes[:, k].astype(np.int32)
        diff = (step >> 3) + np.where(n4 & 1, step >> 2, 0) \
            + np.where(n4 & 2, step >> 1, 0) + np.where(n4 & 4, step, 0)
        pred = np.clip(np.where(n4 & 8, pred - diff, pred + diff),
                       -32768, 32767)
        out[:, k] = pred
        index = np.clip(index + _IMA_INDEX_TBL[n4], 0, 88)
        step = _IMA_STEP_TBL[index]
    return out


def _ima_decode(data: "np.ndarray", block_align: int) -> "np.ndarray":
    """WAV IMA ADPCM data chunk -> int16 samples.  Mono block layout
    (Microsoft WAVE tag 0x11): 4-byte header (<i2 predictor, u8 step
    index, u8 reserved) then (block_align-4) code bytes, LOW nibble
    first; the header predictor is itself the block's first sample.  A
    trailing partial block decodes its present bytes; a fragment shorter
    than a header is ignored."""
    if block_align < 5:
        raise ValueError(f"ima adpcm: bad block_align {block_align}")
    n = len(data)
    nb = (n + block_align - 1) // block_align
    last_bytes = n - (nb - 1) * block_align
    if last_bytes < 4:  # header-less fragment: drop it
        nb -= 1
        last_bytes = block_align
    if nb <= 0:
        return np.zeros(0, dtype=np.int16)
    padded = np.zeros(nb * block_align, dtype=np.uint8)
    padded[:n] = data[: nb * block_align]
    blocks = padded.reshape(nb, block_align)
    pred = blocks[:, 0:2].copy().view("<i2")[:, 0]
    index = blocks[:, 2]
    body = blocks[:, 4:]
    codes = np.empty((nb, body.shape[1] * 2), dtype=np.uint8)
    codes[:, 0::2] = body & 0x0F
    codes[:, 1::2] = body >> 4
    decoded = _ima_decode_nibbles(codes, pred, index)
    full = np.concatenate(
        [pred[:-1, None].astype(np.int16), decoded[:-1]], axis=1).ravel() \
        if nb > 1 else np.zeros(0, dtype=np.int16)
    last_n = 1 + 2 * (last_bytes - 4)
    last = np.concatenate([pred[-1:].astype(np.int16),
                           decoded[-1, : last_n - 1]])
    return np.concatenate([full, last])


def ima_samples_per_block(block_align: int) -> int:
    return 1 + 2 * (block_align - 4)


def _ima_encode(x: "np.ndarray", block_align: int = 256) -> bytes:
    """int16 mono samples -> WAV IMA ADPCM data-chunk bytes (the writer
    half of the pair).  Requires a whole number of blocks
    (len(x) % ima_samples_per_block == 0); each block restarts at step
    index 0 with its first sample as the header predictor, so blocks are
    independently decodable (the seek property real WAV readers rely
    on).  Vectorized across blocks like the decoder."""
    spb = ima_samples_per_block(block_align)
    if x.size == 0 or x.size % spb:
        raise ValueError(f"ima adpcm: need a multiple of {spb} samples")
    nb = x.size // spb
    bx = x.reshape(nb, spb).astype(np.int32)
    pred = bx[:, 0].copy()
    index = np.zeros(nb, dtype=np.int32)
    codes = np.empty((nb, spb - 1), dtype=np.uint8)
    for k in range(1, spb):
        step = _IMA_STEP_TBL[index]
        delta = bx[:, k] - pred
        sign = delta < 0
        mag = np.abs(delta)
        c4 = mag >= step
        mag = mag - c4 * step
        half = step >> 1
        c2 = mag >= half
        mag = mag - c2 * half
        c1 = mag >= (step >> 2)
        code = c4 * 4 + c2 * 2 + c1 * 1 + sign * 8
        codes[:, k - 1] = code
        diff = (step >> 3) + c1 * (step >> 2) + c2 * half + c4 * step
        pred = np.clip(np.where(sign, pred - diff, pred + diff),
                       -32768, 32767)
        index = np.clip(index + _IMA_INDEX_TBL[code], 0, 88)
    body = (codes[:, 0::2] | (codes[:, 1::2] << 4)).astype(np.uint8)
    header = np.zeros((nb, 4), dtype=np.uint8)
    header[:, 0:2] = bx[:, 0].astype("<i2")[:, None].view(np.uint8)
    out = np.concatenate([header, body], axis=1)
    return out.tobytes()


def decode_audio(payload: bytes) -> tuple[int, "np.ndarray"]:
    """REAL audio sample decode (round 4): RIFF/WAVE chunk walk covering
    PCM 16-bit, PCM 8-bit (unsigned, rescaled (b-128)<<8), G.711
    μ-law / A-law (from-scratch vectorized expanders), and mono IMA
    ADPCM (tag 0x11, block codec differential-pinned against CPython's
    audioop), mono or stereo (stereo downmixed by integer-floor channel
    mean) -> (sample_rate, int16 mono sample array).  Raises for
    non-WAV, unsupported format tags, or malformed payloads."""
    if not (payload.startswith(b"RIFF") and payload[8:12] == b"WAVE"):
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = channels = bits = rate = None
    block_align = 0
    data = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0] if len(body) >= 16 else 0
            block_align = (
                struct.unpack("<H", body[12:14])[0] if len(body) >= 14 else 0)
            if (fmt, bits) not in ((1, 16), (1, 8), (7, 8), (6, 8), (17, 4)) \
                    or not 1 <= channels <= 2 or (fmt == 17 and channels != 1):
                raise ValueError(
                    f"unsupported WAV format tag={fmt} bits={bits} "
                    f"channels={channels}")
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if fmt == 1 and bits == 16:
        x = np.frombuffer(data[: len(data) & ~1], dtype="<i2")
    elif fmt == 17:
        x = _ima_decode(np.frombuffer(data, dtype=np.uint8), block_align)
    else:
        raw = np.frombuffer(data, dtype=np.uint8)
        if fmt == 1:  # unsigned 8-bit PCM
            x = ((raw.astype(np.int32) - 128) << 8).astype(np.int16)
        elif fmt == 7:
            x = _ulaw_expand(raw)
        else:
            x = _alaw_expand(raw)
    if channels == 2:
        x = x[: (x.size // 2) * 2].reshape(-1, 2)
        x = (x.astype(np.int32).sum(axis=1) // 2).astype(np.int16)
    return rate, x


def audio_row_stats(payload: bytes) -> dict:
    """Per-row audio decode outcome — the normative implementation shared
    by the Spark path and the oracle."""
    out = {"aud_ok": False, "aud_rate": None, "aud_n_samples": None,
           "aud_duration_s": None, "aud_rms": None}
    try:
        rate, samples = decode_audio(payload)
    except Exception:
        return out
    x = samples.astype(np.float64) / 32768.0
    out.update(
        aud_ok=True, aud_rate=rate, aud_n_samples=int(samples.size),
        aud_duration_s=float(samples.size / rate) if rate else 0.0,
        aud_rms=float(np.sqrt(np.mean(x * x))) if samples.size else 0.0,
    )
    return out


ACT_WIN_FRAC = 100   # 10 ms activity windows (rate // 100 samples)
ACT_THRESHOLD = 0.1  # window is active at >= 10% of the clip's peak RMS


def audio_activity_stats(payload: bytes) -> dict:
    """Windowed activity detection (round 5) — the silence-trimming
    screen an audio-curation pipeline runs before training (mostly-
    silent clips waste tokens; the active fraction is the keep/trim
    dial).  10 ms RMS windows; a window counts active at >= 10% of the
    clip's own peak window RMS (relative threshold, level-invariant).
    Normative implementation shared verbatim by the Spark path and the
    oracle table, like every other mm row rule."""
    out = {"act_n_windows": None, "act_n_active": None, "act_frac": None}
    try:
        rate, samples = decode_audio(payload)
    except Exception:
        return out
    if not rate or samples.size == 0:
        return out
    x = samples.astype(np.float64) / 32768.0
    win = max(1, rate // ACT_WIN_FRAC)
    n_win = max(1, int(x.size // win))
    r = x[: n_win * win].reshape(n_win, -1)
    rms = np.sqrt((r * r).mean(axis=1))
    peak = float(rms.max())
    n_active = int((rms >= ACT_THRESHOLD * peak).sum()) if peak > 0 else 0
    out.update(
        act_n_windows=n_win, act_n_active=n_active,
        act_frac=round(n_active / n_win, 6),
    )
    return out


def audio_activity(df: DataFrame) -> DataFrame:
    """Per-clip activity relation over every decodable audio row — one
    row pass, O(clips) skinny rows out."""
    def act_row(payload):
        s = audio_activity_stats(payload)
        return None if s["act_n_windows"] is None else s

    return rows_df(
        df.filter(F.col("kind") == "audio"), ("media_id",), ("payload",),
        act_row, "act_n_windows int, act_n_active int, act_frac double",
    ).orderBy("media_id")


def audio_decode_stats(df: DataFrame) -> DataFrame:
    """Decode every audio payload (audio_row_stats): per sample-rate
    decode rate, mean clip duration and mean RMS level — the
    loudness/duration screens an audio-pretraining pipeline runs."""
    per = rows_df(
        df.filter(F.col("kind") == "audio"), ("media_id",), ("payload",),
        audio_row_stats,
        "aud_ok boolean, aud_rate int, aud_n_samples int, "
        "aud_duration_s double, aud_rms double")
    return (
        per.groupBy("aud_rate")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.col("aud_ok").cast("long")).alias("n_decoded"),
            F.round(F.avg("aud_duration_s"), 4).alias("avg_duration_s"),
            F.round(F.avg("aud_rms"), 4).alias("avg_rms"),
        )
        .orderBy("aud_rate")
    )


def image_decode_stats(df: DataFrame) -> DataFrame:
    """Decode every image payload (image_row_stats) and roll up per
    container: decode rate + raster statistics over the decoded subset.
    The undecodable rows (header-only stubs, corrupt) are counted, not
    hidden."""
    per = rows_df(
        df.filter(F.col("kind") == "image"), ("media_id",), ("payload",),
        image_row_stats,
        "container string, dec_ok boolean, dec_w int, dec_h int, "
        "dec_mean_luma double, dec_ink_frac double")
    return (
        per.groupBy("container")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.col("dec_ok").cast("long")).alias("n_decoded"),
            F.round(F.avg(F.when(F.col("dec_ok"), F.col("dec_w"))), 4).alias("avg_width"),
            F.round(F.avg(F.when(F.col("dec_ok"), F.col("dec_h"))), 4).alias("avg_height"),
            F.round(F.avg(F.when(F.col("dec_ok"), F.col("dec_mean_luma"))), 4).alias("avg_mean_luma"),
            F.round(F.avg(F.when(F.col("dec_ok"), F.col("dec_ink_frac"))), 4).alias("avg_ink_frac"),
        )
        .orderBy("container")
    )


def media_features(df: DataFrame) -> DataFrame:
    """Deterministic stand-in feature extractor: 16-bin normalized byte
    histogram as float32 vector, one row per media row — the row shape a
    Pandas-UDF model forward pass would use."""
    def feature_row(payload):
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype(np.float64)
        return {"feature": (hist / (hist.sum() or 1.0)).astype(np.float32)}

    return rows_df(df, ("media_id", "kind"), ("payload",), feature_row,
                   "feature array<float>")


def _decode_video(payload: bytes):
    """Shared container-dispatch frame decode: (w, h, raster) frames for
    animated GIF / MJPEG-AVI / MJPEG-or-I_PCM MP4, None for anything
    undecodable (unknown container, compressed H.264 stand-ins,
    corruption) — the single route video_row_stats and scene_keyframes
    both ride so their decode outcomes can never disagree."""
    from .extractors.gif import decode_gif_frames

    decode = {"gif": decode_gif_frames, "avi": decode_avi_frames,
              "mp4": decode_mp4_frames}.get(media_container(payload))
    if decode is None:
        return None
    try:
        return decode(payload)
    except Exception:
        return None


def scene_keyframes(payload: bytes) -> list:
    """Normative per-row keyframe rule (shared by the Spark path and the
    oracle table): decode the clip, segment by the raster-md5 boundary
    (same rule as video_row_stats), and emit each scene's FIRST frame —
    (scene_idx, frame_idx, w, h, frame_md5) tuples.  Empty list when the
    clip doesn't decode."""
    frames = _decode_video(payload)
    if frames is None:
        return []
    rows, prev, scene = [], None, -1
    for k, (w, h, r) in enumerate(frames):
        sig = hashlib.md5(bytes(r)).hexdigest()
        if sig != prev:
            scene += 1
            rows.append((scene, k, int(w), int(h), sig))
        prev = sig
    return rows


def video_row_stats(payload: bytes) -> dict:
    """Per-row video decode outcome (animated GIF, MJPEG-AVI, and
    MJPEG-MP4 are the real containers; MP4/H.264 stays the honest stub)
    — the normative implementation shared by the Spark path and the
    oracle."""
    out = {"vid_ok": False, "vid_n_frames": None,
           "vid_avg_frame_luma": None, "vid_mean_frame_delta": None,
           "vid_n_cuts": None, "vid_n_scenes": None}
    frames = _decode_video(payload)
    if frames is None:
        return out
    means = [float(np.frombuffer(bytes(r), dtype=np.uint8).mean())
             for _w, _h, r in frames]
    deltas = [abs(b - a) for a, b in zip(means, means[1:])]
    # scene segmentation: a cut is any change in the decoded raster
    # (byte-exact md5 — the corpus's in-scene frames round-trip
    # identically through every codec pair, so equality is the honest
    # boundary signal; real footage would threshold a pixel delta here,
    # same plan shape)
    sigs = [hashlib.md5(bytes(r)).hexdigest() for _w, _h, r in frames]
    n_cuts = sum(1 for a, b in zip(sigs, sigs[1:]) if a != b)
    out.update(
        vid_ok=True, vid_n_frames=len(frames),
        vid_avg_frame_luma=float(np.mean(means)),
        vid_mean_frame_delta=float(np.mean(deltas)) if deltas else 0.0,
        vid_n_cuts=n_cuts, vid_n_scenes=n_cuts + 1,
    )
    return out


def video_decode_stats(df: DataFrame) -> DataFrame:
    """Decode every video payload's frames (video_row_stats): decode
    rate, frame counts, per-clip luma statistics and the mean
    inter-frame luma delta — the static-clip screen a video-pretraining
    pipeline runs.  MP4 stubs are counted undecodable, not hidden."""
    per = rows_df(
        df.filter(F.col("kind") == "video"), ("media_id",), ("payload",),
        lambda p: dict(video_row_stats(p),
                       container=media_container(p) or "unknown"),
        "container string, vid_ok boolean, vid_n_frames int, "
        "vid_avg_frame_luma double, vid_mean_frame_delta double")
    return (
        per.groupBy("container", "vid_ok")
        .agg(
            F.count("*").alias("n_videos"),
            F.round(F.avg("vid_n_frames"), 4).alias("avg_n_frames"),
            F.round(F.avg("vid_avg_frame_luma"), 4).alias("avg_frame_luma"),
            F.round(F.avg("vid_mean_frame_delta"), 4).alias("avg_frame_delta"),
        )
        .orderBy("container", "vid_ok")
    )


def scene_cut_stats(df: DataFrame) -> DataFrame:
    """Per-clip scene segmentation (round 5): frame-change cuts and
    scene counts over every decodable video — the table a video-curation
    pipeline reads to pick one-keyframe-per-scene samples instead of
    blind every-Nth-frame strides (static clips waste sample budget,
    fast-cut clips get under-sampled).  The per-row rule is
    video_row_stats' raster-md5 boundary (normative, shared with the
    oracle); this surface is the per-clip relation, vid_ok rows only.

    Scale shape: ONE row pass over the video payloads (same grain as
    video_decode_stats; the output is O(clips) skinny rows), then a pure
    projection.  The scenes/frames ratio is one division of two exact
    ints."""
    def cut_row(payload):
        v = video_row_stats(payload)
        return v if v["vid_ok"] else None

    per = rows_df(
        df.filter(F.col("kind") == "video"), ("media_id",), ("payload",),
        cut_row, "vid_n_frames int, vid_n_cuts int, vid_n_scenes int")
    return per.select(
        "media_id", "vid_n_frames", "vid_n_cuts", "vid_n_scenes",
        F.round(F.col("vid_n_scenes") / F.col("vid_n_frames"), 6)
        .alias("scene_density"),
    ).orderBy("media_id")


def keyframe_rows(df: DataFrame) -> DataFrame:
    """One keyframe per scene for every decodable video — the
    scene-aware sampling consumer of scene_cut_stats (a static clip
    yields ONE training frame instead of every-Nth copies of the same
    image; a fast-cut clip yields every distinct scene).  Same row-pass
    grain as the other media operators; output is O(scenes) skinny
    rows."""
    cols = ("scene_idx", "frame_idx", "w", "h", "frame_md5")
    return rows_df(
        df.filter(F.col("kind") == "video"), ("media_id",), ("payload",),
        lambda p: [dict(zip(cols, kf)) for kf in scene_keyframes(p)],
        "scene_idx int, frame_idx int, w int, h int, frame_md5 string",
    ).orderBy("media_id", "scene_idx")


def video_frame_count(payload: bytes) -> int | None:
    """Frame count from container structure alone (gif_frame_count walks
    image blocks without LZW-decoding them; AVI reads its header, MP4
    the stsz sample table) — the cheap header pass a sampler runs before
    deciding what to decode.  None for a non-video or corrupt container."""
    from .extractors.gif import gif_frame_count

    tag = media_container(payload)
    if tag == "gif":
        try:
            return gif_frame_count(payload)
        except Exception:
            return None
    if tag == "avi":
        m = parse_avi_meta(payload)
        return m["avi_n_frames"] if m["avi_ok"] else None
    if tag == "mp4":
        m = parse_mp4_meta(payload)
        return m["mp4_n_frames"] if m["mp4_ok"] else None
    return None


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling — REAL since round 4: every *every_n*-th
    frame index of each video, counted from container structure
    (video_frame_count).  Truncated/corrupt containers emit no rows."""
    return rows_df(
        df.filter(F.col("kind") == "video"), ("media_id",), ("payload",),
        lambda p: [{"frame_idx": fi}
                   for fi in range(0, video_frame_count(p) or 0, every_n)],
        "frame_idx int")


def mp4_structure_stats(df: DataFrame) -> DataFrame:
    """MP4 container structure over the binary video column
    (parse_mp4_meta): per (brand, codec) clip counts, parse rate, mean
    duration / frame count / dimensions — the container-level triage a
    video-pretraining pipeline runs before shipping clips to a GPU
    decoder.  Truncated ftyp-only stubs land in the NULL-codec bucket,
    counted not hidden."""
    per = rows_df(
        df.filter(F.col("kind") == "video"), ("media_id",), ("payload",),
        lambda p: parse_mp4_meta(p) if media_container(p) == "mp4" else None,
        "mp4_ok boolean, mp4_brand string, mp4_duration_s double, "
        "mp4_n_tracks int, mp4_codec string, mp4_w int, mp4_h int, "
        "mp4_n_frames int, mp4_profile int, mp4_level int, mp4_sps_w int, "
        "mp4_sps_h int")
    sps_match = ((F.col("mp4_sps_w") == F.col("mp4_w"))
                 & (F.col("mp4_sps_h") == F.col("mp4_h")))
    return (
        per.groupBy("mp4_brand", "mp4_codec")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.col("mp4_ok").cast("long")).alias("n_parsed"),
            F.round(F.avg("mp4_duration_s"), 4).alias("avg_duration_s"),
            F.round(F.avg("mp4_n_frames"), 4).alias("avg_n_frames"),
            F.round(F.avg("mp4_w"), 4).alias("avg_width"),
            F.round(F.avg("mp4_n_tracks"), 4).alias("avg_n_tracks"),
            F.round(F.avg("mp4_profile"), 4).alias("avg_profile"),
            F.max("mp4_level").alias("max_level"),
            F.sum(sps_match.cast("long")).alias("n_sps_dim_match"),
        )
        .orderBy("mp4_brand", "mp4_codec")
    )


def avc1_decode_stats(df: DataFrame) -> DataFrame:
    """Per-H.264-profile avc1 frame-decode outcomes (round 5): now that
    I_PCM clips decode for real, split the avc1 population by SPS
    profile_idc into decoded (n frames, mean luma from actual pixel
    reads) vs refused (compressed-bitstream stand-ins, the honest
    quarantine) — the codec-capability triage a video pipeline runs to
    size its GPU-decoder fleet.  Shares the normative parse_mp4_meta +
    video_row_stats row implementations with the oracle."""
    def avc1_row(payload):
        if media_container(payload) != "mp4":
            return None
        meta = parse_mp4_meta(payload)
        if meta["mp4_codec"] != "avc1":
            return None
        return dict(meta, **video_row_stats(payload))

    per = rows_df(
        df.filter(F.col("kind") == "video"), ("media_id",), ("payload",),
        avc1_row,
        "mp4_profile int, mp4_sps_w int, mp4_sps_h int, vid_ok boolean, "
        "vid_n_frames int, vid_avg_frame_luma double")
    return (
        per.groupBy("mp4_profile")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.col("vid_ok").cast("long")).alias("n_decoded"),
            F.round(F.avg(F.when(F.col("vid_ok"), F.col("vid_n_frames"))),
                    4).alias("avg_n_frames"),
            F.round(F.avg(F.when(F.col("vid_ok"),
                                 F.col("vid_avg_frame_luma"))),
                    4).alias("avg_frame_luma"),
            F.round(F.avg("mp4_sps_w"), 4).alias("avg_sps_w"),
            F.round(F.avg("mp4_sps_h"), 4).alias("avg_sps_h"),
        )
        .orderBy("mp4_profile")
    )


# ----------------------------------------------------------- perceptual hash

PHASH_BANDS = 4          # 4 x 16-bit bands over the 63-coefficient signature
PHASH_MAX_HAMMING = 3    # pigeonhole-complete: <=3 flips leave a band intact

_DCT_CACHE: dict[int, "np.ndarray"] = {}


def _dct_mat(n: int) -> "np.ndarray":
    """Orthonormal DCT-II matrix (the image-hash standard transform)."""
    m = _DCT_CACHE.get(n)
    if m is None:
        k = np.arange(n, dtype=np.float64)[:, None]
        x = np.arange(n, dtype=np.float64)[None, :]
        m = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        m[0] *= 1.0 / np.sqrt(2.0)
        _DCT_CACHE[n] = m
    return m


def _block_mean(arr: "np.ndarray", n: int) -> "np.ndarray":
    """Deterministic n x n block-mean downscale of a (h, w) float array.
    Inputs smaller than n upsample by integer repeat first, so every
    block is non-empty; boundaries are integer bin edges (no float
    resampling kernel — identical everywhere by construction)."""
    h, w = arr.shape
    if h < n:
        arr = np.repeat(arr, -(-n // h), axis=0)
        h = arr.shape[0]
    if w < n:
        arr = np.repeat(arr, -(-n // w), axis=1)
        w = arr.shape[1]
    rb = (np.arange(n + 1) * h) // n
    cb = (np.arange(n + 1) * w) // n
    # two-stage binned mean via cumulative sums: exact same float64 adds
    # in row-major order on every host
    cs = np.cumsum(np.cumsum(arr, axis=0), axis=1)
    cs = np.pad(cs, ((1, 0), (1, 0)))
    s = (cs[rb[1:], :][:, cb[1:]] - cs[rb[:-1], :][:, cb[1:]]
         - cs[rb[1:], :][:, cb[:-1]] + cs[rb[:-1], :][:, cb[:-1]])
    area = ((rb[1:] - rb[:-1])[:, None] * (cb[1:] - cb[:-1])[None, :])
    return s / area


def phash64(payload: bytes) -> int | None:
    """64-bit perceptual hash (pHash, DCT variant): decode -> 32x32
    block-mean -> 2-D DCT-II -> keep the 8x8 low-frequency block -> bit j
    = (coefficient j > median of the 63 non-DC coefficients).  Bit 63 is
    always 0 (the DC slot), so the value is a non-negative int64 and
    bit-shift banding needs no two's-complement care in either engine.
    Returns None when the payload doesn't decode (stubs, corrupt).

    The single normative implementation: the Spark mapInPandas path and
    the single-process oracle table both call THIS function — the
    contract query then independently re-derives the banded join in
    SQL, so what's cross-checked is the candidate-generation plumbing
    (codec correctness is pinned separately by the javax.imageio
    differential suite)."""
    try:
        w, h, raster = decode_image(payload)
    except Exception:
        return None
    if w <= 0 or h <= 0:
        return None
    arr = np.frombuffer(bytes(raster), dtype=np.uint8).astype(np.float64)
    arr = arr.reshape(h, w)
    g = _block_mean(arr, 32)
    d = _dct_mat(32)
    coef = (d @ g @ d.T)[:8, :8].ravel()[1:]  # drop DC, 63 coefficients
    med = float(np.median(coef))
    bits = 0
    for j, c in enumerate(coef):
        if c > med:
            bits |= 1 << j
    return bits


def image_phash(df: DataFrame) -> DataFrame:
    """(media_id, phash) for every decodable image payload — the
    signature relation perceptual dedup joins on (one row pass, same
    shape as image_decode_stats)."""
    return rows_df(
        df.filter(F.col("kind") == "image"), ("media_id",), ("payload",),
        lambda p: None if (h := phash64(p)) is None else {"phash": h},
        "phash long")


def phash_near_dups(df: DataFrame) -> DataFrame:
    """Perceptual near-duplicate image pairs — the image twin of the
    SimHash text dedup (banding scheme per Manku et al., WWW'07): split
    the 64-bit pHash into 4 bands of 16 bits, equi-join on (band, bits),
    verify ``bit_count(a ^ b) <= 3`` on candidates only.  Pigeonhole-
    complete for Hamming <= 3: 3 flipped bits touch at most 3 of the 4
    bands.  Measured on the demo corpus: every same-scene re-encode
    lands at Hamming <= 2; the radius-3 gate keeps them all.  This is the cross-codec image dedup a multimodal training
    pipeline runs: the same scene re-encoded (PNG vs lossy JPEG vs
    palette GIF, small brightness shifts) hashes within a few bits.

    Scale shape: signatures are computed once and localCheckpointed (the
    production artifact is a stored index); the band join moves 8
    constant-size rows per image; verification is a projection on
    candidates.  16-bit bands give 65,536 buckets per band — at 10^9+
    images the same plan widens the signature to 256 bits, exactly the
    simhash_near_dups discussion."""
    sig = image_phash(df).localCheckpoint()
    return banded_hamming_pairs(
        sig, "media_id", "phash", ("media_a", "media_b"), PHASH_BANDS,
        PHASH_MAX_HAMMING).orderBy("media_a", "media_b")


# ------------------------------------------------------ audio fingerprint

def _tone_wave(clip: int, n: int) -> "np.ndarray":
    """Deterministic structured audio clip (int16): a sinusoid carrier
    under a slow sinusoidal amplitude envelope, both pure functions of
    the clip id.  The envelope is defined in NORMALIZED time, so the
    same clip rendered at different lengths (different codecs' block
    constraints) keeps the same fingerprint."""
    t = np.arange(n, dtype=np.float64)
    f = 0.02 + 0.015 * (clip % 5)
    g = (clip % 7 + 2) / n
    env = 0.55 + 0.45 * np.sin(2 * np.pi * g * t + clip)
    return np.round(env * np.sin(2 * np.pi * f * t) * 12000).astype(np.int16)


def afp64(payload: bytes) -> int | None:
    """64-bit audio fingerprint: decode -> |samples| energy envelope
    binned to 64 equal time slices (exact cumsum arithmetic) -> bit j =
    (bin j+1 > median of bins 1..63).  Bit 63 stays clear, same
    sign-safety contract as phash64.  Level-vs-median thresholding (not
    adjacent deltas) survives G.711/ADPCM/8-bit quantization: measured
    Hamming <= 2 for every clip re-encoded through all five WAV codecs.
    Returns None when the payload doesn't decode.  The single normative
    implementation shared by the Spark path and the oracle table."""
    try:
        _, samples = decode_audio(payload)
    except Exception:
        return None
    if samples.size == 0:
        return None
    a = np.abs(samples.astype(np.float64))
    if a.size < 64:
        a = np.repeat(a, -(-64 // a.size))
    bb = (np.arange(65) * a.size) // 64
    cs = np.concatenate([[0.0], np.cumsum(a)])
    env = (cs[bb[1:]] - cs[bb[:-1]]) / (bb[1:] - bb[:-1])
    vals = env[1:]
    med = float(np.median(vals))
    bits = 0
    for j, v in enumerate(vals):
        if v > med:
            bits |= 1 << j
    return bits


def audio_afp(df: DataFrame) -> DataFrame:
    """(media_id, afp) for every decodable audio payload."""
    return rows_df(
        df.filter(F.col("kind") == "audio"), ("media_id",), ("payload",),
        lambda p: None if (h := afp64(p)) is None else {"afp": h},
        "afp long")


def afp_near_dups(df: DataFrame) -> DataFrame:
    """Audio near-duplicate pairs — the audio twin of phash_near_dups:
    the same clip re-encoded across WAV codecs (PCM16/PCM8/stereo,
    G.711 mu/A-law, IMA ADPCM) fingerprints within Hamming 2; the banded
    join (shared plan: banded_hamming_pairs) finds the pairs without an
    all-pairs scan.  Same scale shape as the image path."""
    sig = audio_afp(df).localCheckpoint()
    return banded_hamming_pairs(
        sig, "media_id", "afp", ("media_a", "media_b"), PHASH_BANDS,
        PHASH_MAX_HAMMING).orderBy("media_a", "media_b")
