"""Multimodal plumbing tests: metadata parse correctness against known
generated headers, feature batch shapes, decode-seam gating."""

from __future__ import annotations

import numpy as np
import pytest

from cc_extract import multimodal as mm


def test_gen_media_deterministic():
    a = [mm.gen_media(i) for i in range(50)]
    b = [mm.gen_media(i) for i in range(50)]
    assert a == b
    kinds = {r["kind"] for r in a}
    assert kinds <= {"image", "audio", "video"}


def test_parse_png_dims():
    row = next(r for i in range(200) if (r := mm.gen_media(i))["kind"] == "image"
               and r["payload"].startswith(b"\x89PNG"))
    meta = mm.parse_media_meta(row["payload"])
    assert meta["container"] == "png" and meta["parse_ok"]
    assert 1 <= meta["width"] <= 4096 and 1 <= meta["height"] <= 4096


def test_parse_jpeg_dims():
    row = next(r for i in range(200) if (r := mm.gen_media(i))["kind"] == "image"
               and r["payload"].startswith(b"\xff\xd8"))
    meta = mm.parse_media_meta(row["payload"])
    assert meta["container"] == "jpeg" and meta["parse_ok"]
    assert meta["width"] >= 1 and meta["height"] >= 1


def test_parse_wav_rate():
    row = next(r for i in range(200) if (r := mm.gen_media(i))["kind"] == "audio")
    meta = mm.parse_media_meta(row["payload"])
    assert meta["container"] == "wav" and meta["parse_ok"]
    assert meta["sample_rate"] in (8000, 16000, 44100)


def test_parse_garbage_never_raises():
    assert mm.parse_media_meta(b"")["parse_ok"] is False
    assert mm.parse_media_meta(b"\xff\xd8\x00")["parse_ok"] is False
    assert mm.parse_media_meta(b"RIFFxxxx")["parse_ok"] is False


def test_decode_image_is_real():
    """Round 4: the decode seam is no longer a stub — the repo's own
    codecs decode every corpusgen image writer's payload (PNG, baseline
    and progressive JPEG, LZW and G4 TIFF, GIF, BMP) to the raster the
    OCR route reads: extract_document recognizes exactly the text of
    decode_image's raster.  Undecodable payloads raise OcrError (counted
    as quarantine, never hidden)."""
    import random

    from cc_extract.corpusgen import (_bmp_gray, _gif_gray, _jpeg_gray,
                                      _jpeg_progressive, _png_gray,
                                      _tiff_gray)
    from cc_extract.extractors import extract_document
    from cc_extract.extractors.normalize import normalize_text
    from cc_extract.extractors.ocr import OcrError
    from cc_extract.glyphs import ocr_raster, render_raster

    w, h, raster = render_raster("DECODE SEAM 42")
    encoders = {
        "png": lambda: _png_gray(w, h, bytes(raster)),
        "jpeg": lambda: _jpeg_gray(w, h, bytes(raster)),
        "jpeg-progressive": lambda: _jpeg_progressive(w, h, bytes(raster)),
        "tiff-lzw": lambda: _tiff_gray(w, h, bytes(raster), lzw=True,
                                       predictor=2),
        "tiff-g4": lambda: _tiff_gray(w, h, bytes(raster), g4=True),
        "gif": lambda: _gif_gray(w, h, bytes(raster), color=True),
        "bmp": lambda: _bmp_gray(w, h, bytes(raster), random.Random(7)),
    }
    for name, enc in encoders.items():
        payload = enc()
        dw, dh, dec = mm.decode_image(payload)
        assert (dw, dh) == (w, h), name
        assert mm.image_row_stats(payload)["container"] == name.split("-")[0]
        res = extract_document(payload)
        assert res["status"] == "ok_ocr", (name, res)
        assert res["text"] == normalize_text(ocr_raster(dw, dh, dec)), name
        assert res["text"] == "DECODE SEAM 42", name
    with pytest.raises(OcrError):
        mm.decode_image(b"\x89PNG\r\n\x1a\n" + b"junk")
    with pytest.raises(OcrError):
        mm.decode_image(b"RIFF....WAVE")


def test_media_pipeline_on_spark(spark):
    df = mm.media_df(spark, 200, partitions=4)
    meta = mm.media_metadata(df).collect()
    assert len(meta) == 200
    ok = [r for r in meta if r["parse_ok"]]
    assert len(ok) > 150  # jpeg SOF is always parseable in our generator
    by_kind = {r["kind"] for r in meta}
    assert by_kind == {"image", "audio", "video"}
    # metadata fields typed correctly per container
    for r in meta:
        if r["container"] == "png" and r["parse_ok"]:
            assert r["width"] is not None and r["sample_rate"] is None
        if r["container"] == "wav" and r["parse_ok"]:
            assert r["sample_rate"] is not None and r["width"] is None

    feats = mm.media_features(df).collect()
    assert len(feats) == 200
    for r in feats[:20]:
        assert len(r["feature"]) == mm.FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-3  # normalized histogram

    frames = mm.frame_sample(df).collect()
    assert all(r["frame_idx"] % 10 == 0 for r in frames)
    vids = sum(1 for r in meta if r["kind"] == "video")
    assert len({r["media_id"] for r in frames}) <= vids


MEDIA_OPERATOR_SCHEMAS = {
    "media_metadata": "struct<media_id:bigint,kind:string,container:string,"
                      "width:int,height:int,sample_rate:int,n_bytes:bigint,"
                      "parse_ok:boolean>",
    "media_features": "struct<media_id:bigint,kind:string,"
                      "feature:array<float>>",
    "exif_stats": "struct<exif_make:string,exif_orientation:int,"
                  "n_images:bigint,n_parse_ok:bigint,n_dims_match:bigint,"
                  "n_display_swap:bigint,min_dt:string,max_dt:string>",
    "image_decode_stats": "struct<container:string,n_images:bigint,"
                          "n_decoded:bigint,avg_width:double,"
                          "avg_height:double,avg_mean_luma:double,"
                          "avg_ink_frac:double>",
    "audio_decode_stats": "struct<aud_rate:int,n_clips:bigint,"
                          "n_decoded:bigint,avg_duration_s:double,"
                          "avg_rms:double>",
    "audio_activity": "struct<media_id:bigint,act_n_windows:int,"
                      "act_n_active:int,act_frac:double>",
    "video_decode_stats": "struct<container:string,vid_ok:boolean,"
                          "n_videos:bigint,avg_n_frames:double,"
                          "avg_frame_luma:double,avg_frame_delta:double>",
    "scene_cut_stats": "struct<media_id:bigint,vid_n_frames:int,"
                       "vid_n_cuts:int,vid_n_scenes:int,"
                       "scene_density:double>",
    "keyframe_rows": "struct<media_id:bigint,scene_idx:int,frame_idx:int,"
                     "w:int,h:int,frame_md5:string>",
    "frame_sample": "struct<media_id:bigint,frame_idx:int>",
    "mp4_structure_stats": "struct<mp4_brand:string,mp4_codec:string,"
                           "n_clips:bigint,n_parsed:bigint,"
                           "avg_duration_s:double,avg_n_frames:double,"
                           "avg_width:double,avg_n_tracks:double,"
                           "avg_profile:double,max_level:int,"
                           "n_sps_dim_match:bigint>",
    "avc1_decode_stats": "struct<mp4_profile:int,n_clips:bigint,"
                         "n_decoded:bigint,avg_n_frames:double,"
                         "avg_frame_luma:double,avg_sps_w:double,"
                         "avg_sps_h:double>",
    "image_phash": "struct<media_id:bigint,phash:bigint>",
    "audio_afp": "struct<media_id:bigint,afp:bigint>",
}

# the payload kind each operator reads; None: every media row
MEDIA_OPERATOR_KINDS = {
    "media_metadata": None, "media_features": None,
    "exif_stats": "image", "image_decode_stats": "image",
    "image_phash": "image", "audio_decode_stats": "audio",
    "audio_activity": "audio", "audio_afp": "audio",
    "video_decode_stats": "video", "scene_cut_stats": "video",
    "keyframe_rows": "video", "frame_sample": "video",
    "mp4_structure_stats": "video", "avc1_decode_stats": "video",
}


def test_media_operator_schemas_are_pinned(spark):
    empty = spark.createDataFrame([], mm.MEDIA_SCHEMA)
    assert MEDIA_OPERATOR_SCHEMAS.keys() == MEDIA_OPERATOR_KINDS.keys()
    for name, want in MEDIA_OPERATOR_SCHEMAS.items():
        got = getattr(mm, name)(empty).schema.simpleString()
        assert got == want, name


def test_media_operators_on_undecodable_payloads(spark):
    """Batches whose payloads yield no rows (nothing decodes, no EXIF, no
    frames) come back as empty results, never as failed tasks."""
    df = spark.createDataFrame(
        [(i, kind, b"junk") for i, kind in enumerate(("image", "audio",
                                                      "video"))],
        mm.MEDIA_SCHEMA)
    for name in ("exif_stats", "audio_activity", "scene_cut_stats",
                 "keyframe_rows", "frame_sample", "mp4_structure_stats",
                 "avc1_decode_stats", "image_phash", "audio_afp"):
        assert getattr(mm, name)(df).collect() == [], name


def test_media_operators_filter_kind_in_jvm_below_one_row_pass(spark):
    """Each media operator makes ONE Python row pass (MapInPandas), and a
    kind-filtered one drops the other kinds in a JVM Filter below it, so
    their payloads never cross to Python."""
    import re

    from tests.plan_check import formatted_plan

    df = spark.createDataFrame([mm.gen_media(i) for i in range(6)],
                               mm.MEDIA_SCHEMA)
    for name, kind in MEDIA_OPERATOR_KINDS.items():
        plan = formatted_plan(getattr(mm, name)(df))
        tree = plan.split("\n\n")[0]
        nodes = re.findall(r"(\w[\w ]*?) \((\d+)\)$", tree, re.M)
        names = [n for n, _ in nodes]
        assert names.count("MapInPandas") == 1, (name, names)
        below = nodes[names.index("MapInPandas") + 1:]
        conds = [re.search(rf"^\({i}\) Filter\b.*?^Condition : ([^\n]*)",
                           plan, re.M | re.S).group(1)
                 for n, i in below if n == "Filter"]
        if kind is None:
            assert conds == [], (name, conds)
        else:
            assert any(re.search(rf"\bkind#\d+ = {kind}\)", c)
                       for c in conds), (name, names, conds)


def test_bmp_metadata_agrees_with_decode(spark):
    """media_metadata reads a BMP's dimensions from its DIB header, and
    they agree with image_row_stats' decode (bottom-up and top-down)."""
    import random

    from cc_extract.corpusgen import _bmp_gray
    from cc_extract.glyphs import render_raster

    w, h, raster = render_raster("BMP META")
    payloads = [_bmp_gray(w, h, bytes(raster), random.Random(seed))
                for seed in (1, 2)]  # seed 2 writes a top-down raster
    df = spark.createDataFrame(
        [(i, "image", p) for i, p in enumerate(payloads)], mm.MEDIA_SCHEMA)
    rows = sorted(mm.media_metadata(df).collect())
    assert len(rows) == 2
    for r, p in zip(rows, payloads):
        d = mm.image_row_stats(p)
        assert d["dec_ok"]
        assert (r["container"], r["width"], r["height"], r["parse_ok"]) == (
            d["container"], d["dec_w"], d["dec_h"], True)
        assert mm.parse_media_meta(p) == {
            "container": "bmp", "width": w, "height": h,
            "sample_rate": None, "parse_ok": True}


def test_mp4_container_roundtrip():
    """Writer/parser pair over the ISO BMFF structure: frame counts,
    duration, codec fourcc, dims, track count — plus the largesize and
    size=0 edge encodings a real mux can emit."""
    import random
    import struct

    rng = random.Random(11)
    p = mm._mp4_container(rng, n_frames=30, w=1280, h=720, with_audio=True)
    m = mm.parse_mp4_meta(p)
    assert m["mp4_ok"] and m["mp4_codec"] == "avc1"
    assert (m["mp4_n_frames"], m["mp4_w"], m["mp4_h"]) == (30, 1280, 720)
    assert m["mp4_n_tracks"] == 2 and m["mp4_brand"] == "isom"
    assert m["mp4_duration_s"] > 0
    # video-only variant
    p2 = mm._mp4_container(random.Random(12), n_frames=5, w=320, h=240)
    m2 = mm.parse_mp4_meta(p2)
    assert m2["mp4_n_tracks"] == 1 and m2["mp4_n_frames"] == 5
    # 64-bit largesize encoding of the mdat box parses identically
    idx = p2.rfind(b"mdat")
    assert idx > 0
    size32 = struct.unpack(">I", p2[idx - 4: idx])[0]
    p3 = (p2[: idx - 4] + struct.pack(">I", 1) + b"mdat"
          + struct.pack(">Q", size32 + 8) + p2[idx + 4:])
    assert mm.parse_mp4_meta(p3)["mp4_n_frames"] == 5
    # size=0 ("to end of file") on the trailing mdat
    p4 = p2[: idx - 4] + struct.pack(">I", 0) + p2[idx:]
    assert mm.parse_mp4_meta(p4)["mp4_n_frames"] == 5


def test_mp4_hostile_headers_never_spin():
    """Crafted sizes (overflowing, tiny, cyclic) terminate the walk and
    come back unparsed instead of looping or raising."""
    import struct

    base = b"\x00\x00\x00\x14ftypisom\x00\x00\x02\x00isom"
    hostile = [
        base + struct.pack(">I", 0xFFFFFFF0) + b"moov" + b"\x00" * 32,
        base + struct.pack(">I", 3) + b"moov",          # size < header
        base + (struct.pack(">I", 8) + b"free") * 9000,  # box-count bomb
        base + struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 2**63),
        b"\x00" * 64,
    ]
    for p in hostile:
        m = mm.parse_mp4_meta(p)
        assert m["mp4_ok"] is False
    res = mm.parse_media_meta(hostile[0])
    assert res["container"] == "mp4" and res["parse_ok"] is False


def test_mp4_in_media_sweep():
    """gen_media emits parseable MP4s alongside truncated stubs; the
    normative row stats agree between direct calls and the metadata
    path."""
    ok = bad = 0
    for i in range(400):
        r = mm.gen_media(i)
        if r["kind"] != "video" or r["payload"][4:8] != b"ftyp":
            continue
        m = mm.parse_mp4_meta(r["payload"])
        meta = mm.parse_media_meta(r["payload"])
        assert meta["container"] == "mp4"
        assert meta["parse_ok"] == m["mp4_ok"]
        if m["mp4_ok"]:
            ok += 1
            assert m["mp4_codec"] in ("avc1", "jpeg")
            if m["mp4_codec"] == "avc1":
                # I_PCM clips carry 2-4 frames, structural-only 5-48
                assert 2 <= m["mp4_n_frames"] <= 48
            else:
                assert 2 <= m["mp4_n_frames"] <= 5
            assert meta["width"] == m["mp4_w"]
        else:
            bad += 1
    assert ok >= 10 and bad >= 2, (ok, bad)


def test_avi_mjpeg_roundtrip_and_meta():
    """MJPEG-AVI: the container walk must yield exactly the per-chunk
    JPEG decodes (the codec layer is differentially tested elsewhere;
    this pins the RIFF plumbing), and the header walk reports the
    codec/dims/fps/frame-count the writer embedded."""
    from cc_extract import corpusgen as cg
    from cc_extract.extractors.jpeg import decode_jpeg_gray
    from cc_extract.glyphs import render_raster

    frames = [render_raster(f"CLIP 000001 F{k} Q42") for k in range(3)]
    w, h, _ = frames[0]
    jf = [cg._jpeg_gray(fw, fh, bytes(r)) for fw, fh, r in frames]
    avi = mm._avi_container(jf, w, h, fps=15)

    meta = mm.parse_avi_meta(avi)
    assert (meta["avi_ok"], meta["avi_codec"], meta["avi_w"],
            meta["avi_h"], meta["avi_fps"], meta["avi_n_frames"]) == \
        (True, "MJPG", w, h, 15.0, 3)
    assert mm.decode_avi_frames(avi) == [decode_jpeg_gray(f) for f in jf]

    s = mm.video_row_stats(avi)
    assert s["vid_ok"] and s["vid_n_frames"] == 3


def test_avi_hostile_bytes_never_raise():
    """Truncations and byte flips of a valid AVI must quarantine
    (vid_ok False or a clean decode), never escape as exceptions."""
    import random

    from cc_extract import corpusgen as cg
    from cc_extract.glyphs import render_raster

    fw, fh, r = render_raster("CLIP 000002 F0 Q10")
    avi = mm._avi_container([cg._jpeg_gray(fw, fh, bytes(r))] * 2, fw, fh,
                            fps=10)
    for cut in range(0, len(avi), 61):
        mm.parse_avi_meta(avi[:cut])
        mm.video_row_stats(avi[:cut])
    rng = random.Random(7)
    for _ in range(300):
        b = bytearray(avi)
        b[rng.randrange(len(b))] ^= 0xFF
        mm.parse_avi_meta(bytes(b))
        mm.video_row_stats(bytes(b))


def test_avi_in_media_sweep():
    """gen_media emits decodable MJPEG-AVIs; every one decodes with
    frame count matching its header and parse_media_meta agrees."""
    n = 0
    for i in range(400):
        r = mm.gen_media(i)
        p = r["payload"]
        if r["kind"] != "video" or p[:4] != b"RIFF":
            continue
        n += 1
        meta = mm.parse_avi_meta(p)
        s = mm.video_row_stats(p)
        assert s["vid_ok"] and s["vid_n_frames"] == meta["avi_n_frames"]
        pm = mm.parse_media_meta(p)
        assert pm["container"] == "avi" and pm["parse_ok"]
        assert pm["width"] == meta["avi_w"]
    assert n >= 10, n


def test_g711_codec_pair_identity_and_bounds():
    """G.711 μ-law / A-law: compress(expand(code)) == code over all 256
    code words (μ-law's negative zero 0x7F maps to positive zero 0xFF —
    the standard two-zeros collapse), the well-known 0 <-> 0xFF μ-law
    anchor holds, and expand(compress(x)) stays within the top-segment
    quantization step over the full int16 range."""
    import numpy as np

    codes = np.arange(256, dtype=np.uint8)
    back_u = mm._ulaw_compress(mm._ulaw_expand(codes))
    ok = (back_u == codes) | ((codes == 0x7F) & (back_u == 0xFF))
    assert ok.all()
    assert (mm._alaw_compress(mm._alaw_expand(codes)) == codes).all()
    assert mm._ulaw_compress(np.array([0], np.int16))[0] == 0xFF
    assert mm._ulaw_expand(np.array([0xFF], np.uint8))[0] == 0

    x = np.arange(-32768, 32768, dtype=np.int16)
    for comp, exp, clip in ((mm._ulaw_compress, mm._ulaw_expand, 32635),
                            (mm._alaw_compress, mm._alaw_expand, 32767)):
        err = np.abs(exp(comp(x)).astype(np.int32)
                     - np.clip(x.astype(np.int32), -clip, clip))
        assert err.max() <= 512


def test_wav_variants_decode_in_media_sweep():
    """Every generated audio payload (PCM16 mono/stereo, PCM8, μ-law,
    A-law) decodes; stereo downmix halves the sample count vs the
    data-chunk byte budget."""
    import struct as st

    seen = set()
    for i in range(600):
        r = mm.gen_media(i)
        if r["kind"] != "audio":
            continue
        s = mm.audio_row_stats(r["payload"])
        assert s["aud_ok"], i
        tag, ch, _rate = st.unpack("<HHI", r["payload"][20:28])
        seen.add((tag, ch))
    assert {(1, 1), (1, 2), (6, 1), (7, 1), (17, 1)} <= seen


def test_ima_adpcm_decoder_matches_audioop():
    """IMA ADPCM nibble core differentially pinned against CPython's
    audioop (an independent C implementation of the same published
    codec): identical int16 output for random nibble streams from
    arbitrary (predictor, step-index) initial states.  This breaks the
    shared-table closed loop — a wrong step/index table entry here
    cannot also live in audioop."""
    import random

    import numpy as np

    audioop = pytest.importorskip("audioop")
    rng = random.Random(20260817)
    for _ in range(6):
        codes = np.array([rng.randrange(16) for _ in range(500)],
                         dtype=np.uint8)
        pred0 = rng.randrange(-32768, 32768)
        idx0 = rng.randrange(0, 89)
        mine = mm._ima_decode_nibbles(
            codes[None, :], np.array([pred0]), np.array([idx0]))[0]
        packed = bytes((int(codes[i]) << 4) | int(codes[i + 1])
                       for i in range(0, codes.size, 2))
        ref = np.frombuffer(
            audioop.adpcm2lin(packed, 2, (pred0, idx0))[0], dtype="<i2")
        assert np.array_equal(mine, ref)


def test_ima_adpcm_encoder_externally_consumable():
    """The encoder's nibble stream must decode to the SAME samples under
    audioop as under our decoder (external consumability — the property
    the r3 GIF-LZW quirk violated), and a smooth waveform round-trips
    within ADPCM's adaptation error."""
    import numpy as np

    audioop = pytest.importorskip("audioop")
    ba = 256
    spb = mm.ima_samples_per_block(ba)
    t = np.arange(3 * spb)
    x = (8000 * np.sin(t / 20.0)).astype(np.int16)
    enc = np.frombuffer(mm._ima_encode(x, ba), dtype=np.uint8)
    dec = mm._ima_decode(enc, ba)
    assert dec.size == x.size
    err = np.abs(dec.astype(np.int32) - x.astype(np.int32))
    assert err.max() <= 2048 and float(err.mean()) < 200
    blocks = enc.reshape(3, ba)
    for b in range(3):
        pred0 = int(blocks[b, 0:2].copy().view("<i2")[0])
        idx0 = int(blocks[b, 2])
        body = blocks[b, 4:]
        codes = np.empty(body.size * 2, dtype=np.uint8)
        codes[0::2] = body & 0x0F
        codes[1::2] = body >> 4
        packed = bytes((int(codes[i]) << 4) | int(codes[i + 1])
                       for i in range(0, codes.size, 2))
        ref = np.frombuffer(
            audioop.adpcm2lin(packed, 2, (pred0, idx0))[0], dtype="<i2")
        blk = dec[b * spb : (b + 1) * spb]
        assert blk[0] == pred0 and np.array_equal(ref, blk[1:])


def test_ima_adpcm_wav_level_and_ragged_tail():
    """WAV plumbing: tag-0x11 payloads from gen_media decode with the
    advertised sample count; a mid-block truncation decodes the present
    nibbles; a header-less fragment is dropped; stereo ADPCM and garbage
    block_align are rejected not crashed."""
    import struct as st

    import numpy as np

    spb = mm.ima_samples_per_block(128)
    x = (np.arange(spb) % 256 * 100 - 12800).astype(np.int16)
    data = mm._ima_encode(x, 128)
    wav = (b"RIFF" + st.pack("<I", 40 + len(data)) + b"WAVEfmt "
           + st.pack("<IHHIIHHHH", 20, 17, 1, 8000, 8000 * 128 // spb,
                     128, 4, 2, spb)
           + b"data" + st.pack("<I", len(data)) + data)
    rate, samples = mm.decode_audio(wav)
    assert rate == 8000 and samples.size == spb
    assert np.array_equal(samples, mm._ima_decode(
        np.frombuffer(data, dtype=np.uint8), 128))
    # truncated: 10 data bytes = header + 6 code bytes -> 13 samples
    wav_trunc = wav[: len(wav) - len(data) + 10]
    wav_trunc = (wav_trunc[:4] + st.pack("<I", 40 + 10) + wav_trunc[8:40]
                 + b"data" + st.pack("<I", 10) + data[:10])
    _, s2 = mm.decode_audio(wav_trunc)
    assert s2.size == 1 + 2 * 6
    # header-less fragment (3 bytes) -> zero samples, no crash
    wav_frag = (wav[:40] + b"data" + st.pack("<I", 3) + data[:3])
    _, s3 = mm.decode_audio(wav_frag)
    assert s3.size == 0
    with pytest.raises(ValueError):
        bad = (b"RIFF" + st.pack("<I", 36) + b"WAVEfmt "
               + st.pack("<IHHIIHH", 16, 17, 2, 8000, 8000, 256, 4)
               + b"data" + st.pack("<I", 0))
        mm.decode_audio(bad)


def test_phash_cross_codec_invariance():
    """The same raster encoded as PNG, lossy JPEG, LZW TIFF, and color
    GIF must hash within the near-dup radius; a different scene must
    not.  Brightness shifts (+-8) stay within radius too."""
    from cc_extract import corpusgen as cg
    from cc_extract.glyphs import render_raster

    w, h, raster = render_raster("SCENE 5 STOCK PHOTO")
    base = bytes(raster)
    encodings = [
        cg._png_gray(w, h, base),
        cg._jpeg_gray(w, h, base),
        cg._tiff_gray(w, h, base, lzw=True, predictor=2),
        cg._gif_gray(w, h, base, color=True),
    ]
    shifted = bytes(np.clip(
        np.frombuffer(base, np.uint8).astype(np.int16) + 8, 0, 255
    ).astype(np.uint8))
    encodings.append(cg._jpeg_gray(w, h, shifted))
    hashes = [mm.phash64(p) for p in encodings]
    assert all(hx is not None for hx in hashes)
    ref = hashes[0]
    for hx in hashes[1:]:
        assert bin(ref ^ hx).count("1") <= mm.PHASH_MAX_HAMMING
    w2, h2, r2 = render_raster("COMPLETELY DIFFERENT LONGER TEXT BLOCK "
                               "WITH MANY MORE LINES OF GLYPHS 12345")
    other = mm.phash64(cg._png_gray(w2, h2, bytes(r2)))
    assert bin(ref ^ other).count("1") > mm.PHASH_MAX_HAMMING


def test_phash_undecodable_is_none_and_bit63_clear():
    assert mm.phash64(b"\x89PNG\r\n\x1a\nnot really") is None
    assert mm.phash64(b"") is None
    # every decodable media image yields a sign-safe 63-bit value
    seen = 0
    for i in range(120):
        r = mm.gen_media(i)
        if r["kind"] != "image":
            continue
        ph = mm.phash64(r["payload"])
        if ph is not None:
            seen += 1
            assert 0 <= ph < (1 << 63)
    assert seen > 5


def test_phash_near_dups_finds_planted_scenes(spark):
    """The banded Spark operator must agree exactly with a brute-force
    all-pairs Hamming scan (completeness: radius 3 <= bands 4 - 1), and
    the planted same-scene re-encodes must be among the pairs."""
    df = mm.media_df(spark, 200, partitions=4)
    got = {(r.media_a, r.media_b): r.hamming
           for r in mm.phash_near_dups(df).collect()}
    sigs = {}
    for i in range(200):
        r = mm.gen_media(i)
        if r["kind"] == "image":
            ph = mm.phash64(r["payload"])
            if ph is not None:
                sigs[r["media_id"]] = ph
    ids = sorted(sigs)
    want = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            hd = bin(sigs[ids[x]] ^ sigs[ids[y]]).count("1")
            if hd <= mm.PHASH_MAX_HAMMING:
                want[(ids[x], ids[y])] = hd
    assert got == want
    assert len(want) > 0


def test_afp_cross_codec_invariance():
    """The same clip encoded as PCM16, stereo PCM16, PCM8, mu-law,
    A-law, and IMA ADPCM must fingerprint within the near-dup radius;
    a different clip must not."""
    import struct as st

    spb = mm.ima_samples_per_block(256)
    n = 2 * spb
    w = mm._tone_wave(3, n)

    def wav(fmt_tag, ch, bits, data):
        block = ch * (bits // 8)
        return (b"RIFF" + st.pack("<I", 36 + len(data)) + b"WAVEfmt "
                + st.pack("<IHHIIHH", 16, fmt_tag, ch, 8000, 8000 * block,
                          block, bits)
                + b"data" + st.pack("<I", len(data)) + data)

    ima_data = mm._ima_encode(w, 256)
    ima = (b"RIFF" + st.pack("<I", 40 + len(ima_data)) + b"WAVEfmt "
           + st.pack("<IHHIIHHHH", 20, 17, 1, 8000, 8000 * 256 // spb,
                     256, 4, 2, spb)
           + b"data" + st.pack("<I", len(ima_data)) + ima_data)
    payloads = [
        wav(1, 1, 16, w.astype("<i2").tobytes()),
        wav(1, 2, 16, np.repeat(w, 2).astype("<i2").tobytes()),
        wav(1, 1, 8, ((w.astype(np.int32) >> 8) + 128)
            .astype(np.uint8).tobytes()),
        wav(7, 1, 8, mm._ulaw_compress(w).tobytes()),
        wav(6, 1, 8, mm._alaw_compress(w).tobytes()),
        ima,
    ]
    hashes = [mm.afp64(p) for p in payloads]
    assert all(hx is not None for hx in hashes)
    ref = hashes[0]
    for hx in hashes[1:]:
        assert bin(ref ^ hx).count("1") <= mm.PHASH_MAX_HAMMING
    # different clip id, same codec: far away
    other = mm.afp64(wav(1, 1, 16, mm._tone_wave(7, n).astype("<i2").tobytes()))
    assert bin(ref ^ other).count("1") > mm.PHASH_MAX_HAMMING
    # length invariance: the envelope is normalized-time, so the same
    # clip at a different duration stays within radius
    n2 = 3 * spb
    longer = mm.afp64(wav(1, 1, 16, mm._tone_wave(3, n2).astype("<i2").tobytes()))
    assert bin(ref ^ longer).count("1") <= mm.PHASH_MAX_HAMMING


def test_afp_near_dups_matches_bruteforce(spark):
    df = mm.media_df(spark, 200, partitions=4)
    got = {(r.media_a, r.media_b): r.hamming
           for r in mm.afp_near_dups(df).collect()}
    sigs = {}
    for i in range(200):
        r = mm.gen_media(i)
        if r["kind"] == "audio":
            fp = mm.afp64(r["payload"])
            if fp is not None:
                sigs[r["media_id"]] = fp
    ids = sorted(sigs)
    want = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            hd = bin(sigs[ids[x]] ^ sigs[ids[y]]).count("1")
            if hd <= mm.PHASH_MAX_HAMMING:
                want[(ids[x], ids[y])] = hd
    assert got == want
    assert len(want) > 0


def test_mp4_mjpeg_roundtrip_and_meta():
    """MJPEG-in-MP4: the writer's structure parses (codec 'jpeg', real
    frame count/dims) and every frame decodes pixel-exactly through the
    T.81 decoder."""
    from cc_extract import corpusgen as cg
    from cc_extract.glyphs import render_raster

    rasters, jf = [], []
    w = h = None
    for k in range(4):
        fw, fh, r = render_raster(f"MP4 RT F{k} XY")
        w, h = fw, fh
        rasters.append(bytes(r))
        jf.append(cg._jpeg_gray(fw, fh, bytes(r)))
    p = mm._mp4_mjpeg_container(jf, w, h, fps=12)
    meta = mm.parse_mp4_meta(p)
    assert meta["mp4_ok"] and meta["mp4_codec"] == "jpeg"
    assert meta["mp4_n_frames"] == 4 and (meta["mp4_w"], meta["mp4_h"]) == (w, h)
    frames = mm.decode_mp4_frames(p)
    assert len(frames) == 4
    for (fw, fh, dec), orig in zip(frames, rasters):
        assert (fw, fh) == (w, h)
        # baseline JPEG of a glyph raster reconstructs near-exactly; the
        # decoded raster must OCR back to the same thresholded content
        a = np.frombuffer(bytes(dec), np.uint8).astype(np.int16)
        b = np.frombuffer(orig, np.uint8).astype(np.int16)
        assert np.abs(a - b).max() <= 64 and ((a < 128) == (b < 128)).mean() > 0.99
    stats = mm.video_row_stats(p)
    assert stats["vid_ok"] and stats["vid_n_frames"] == 4


def test_mp4_mjpeg_hostile_bytes_never_raise_in_stats():
    """Truncations / flips on an MJPEG MP4 must land in vid_ok=False via
    video_row_stats, never escape; avc1 MP4s stay honestly undecodable."""
    import random

    from cc_extract import corpusgen as cg
    from cc_extract.glyphs import render_raster

    fw, fh, r = render_raster("HOSTILE MP4")
    p = mm._mp4_mjpeg_container([cg._jpeg_gray(fw, fh, bytes(r))], fw, fh)
    rng = random.Random(7)
    for t in range(80):
        b = bytearray(p)
        if t % 2:
            b = b[: rng.randrange(len(b))]
        else:
            for _ in range(5):
                b[rng.randrange(len(b))] = rng.randrange(256)
        out = mm.video_row_stats(bytes(b))
        assert isinstance(out["vid_ok"], bool)
    # an avc1-codec MP4 (H.264 stub) must refuse frame decode
    rng2 = random.Random(3)
    avc = mm._mp4_container(rng2, n_frames=6, w=320, h=240)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        mm.decode_mp4_frames(avc)
    assert mm.video_row_stats(avc)["vid_ok"] is False


def test_mp4_mjpeg_in_media_sweep(spark):
    """gen_media emits MJPEG MP4s and the distributed decode path sees
    them: container mp4 rows now split into decodable and stub."""
    df = mm.media_df(spark, 400, partitions=8)
    rows = mm.video_decode_stats(df).collect()
    by = {(r["container"], r["vid_ok"]): r["n_videos"] for r in rows}
    assert by.get(("mp4", True), 0) > 0, by
    assert by.get(("mp4", False), 0) > 0, by  # avc1 + stubs stay honest


def test_mp4_uniform_stsz_fixed_size_form():
    """A uniform-size stsz (sample_size != 0, no entry table — ISO
    14496-12 §8.7.3.2) must decode via the fixed-size branch; the
    writer emits that form whenever every frame coincides, so this
    pins both directions of the convention."""
    from cc_extract import corpusgen as cg
    from cc_extract.glyphs import render_raster
    import struct as _struct

    fw, fh, r = render_raster("UNIFORM STSZ")
    jf = cg._jpeg_gray(fw, fh, bytes(r))
    p = mm._mp4_mjpeg_container([jf, jf, jf], fw, fh)
    # the writer must have chosen the fixed form: sample_size == len(jf)
    moov = mm._mp4_find(p, 0, len(p), b"moov")
    stsz = None
    stack = [moov]
    while stack:
        s, e = stack.pop()
        for t, bs, be in mm._mp4_boxes(p, s, e):
            if t == b"stsz":
                stsz = (bs, be)
            elif t in (b"trak", b"mdia", b"minf", b"stbl"):
                stack.append((bs, be))
    assert stsz is not None
    fixed, n = _struct.unpack_from(">II", p, stsz[0] + 4)
    assert fixed == len(jf) and n == 3
    assert stsz[1] - stsz[0] == 12  # version/flags + two fields, NO table
    meta = mm.parse_mp4_meta(p)
    assert meta["mp4_ok"] and meta["mp4_n_frames"] == 3
    frames = mm.decode_mp4_frames(p)
    assert len(frames) == 3
    for fw2, fh2, _ in frames:
        assert (fw2, fh2) == (fw, fh)


def test_avcc_sps_parse():
    """Round 5: avc1 sample entries carry a real avcC
    (AVCDecoderConfigurationRecord) whose SPS encodes the TRUE coded
    dimensions — parse_mp4_meta reports profile/level and the
    SPS-authoritative w/h, including the frame-cropping form (1080 =
    68 MBs * 16 - 8) and the Exp-Golomb high-profile chroma block."""
    import random
    import struct as _struct

    # writer->parser round-trip across profiles, crop and no-crop dims
    for (w, h) in [(320, 240), (1280, 720), (1920, 1080), (638, 354)]:
        for profile in (66, 77, 100):
            box = mm._avcc_box(w, h, profile, 41)
            fake = b"\x00" * 78 + box
            got = mm._parse_avcc(fake, 0, len(fake))
            # subset: _parse_sps also returns slice-decode fields (r5)
            assert {k: got[k] for k in ("profile", "level", "w", "h")} \
                == {"profile": profile, "level": 41, "w": w, "h": h}
    # end to end through the container generator + structural parser
    p = mm._mp4_container(random.Random(11), n_frames=8, w=1920, h=1080)
    meta = mm.parse_mp4_meta(p)
    assert meta["mp4_codec"] == "avc1"
    assert (meta["mp4_sps_w"], meta["mp4_sps_h"]) == (1920, 1080)
    assert meta["mp4_profile"] in (66, 77, 100)
    assert meta["mp4_level"] in (30, 31, 40, 41)
    # emulation-prevention: the escape path must invert exactly
    wtr = mm._SpsBitWriter()
    wtr.u(0x67, 8)
    wtr.u(0, 24)  # three zero bytes force a 00 00 03 escape
    wtr.u(1, 8)
    esc = wtr.rbsp()
    assert b"\x00\x00\x03" in esc
    # a truncated avcC yields None, never raises
    assert mm._parse_avcc(b"\x00" * 78 + b"\x00\x00\x00\x09avcC\x01", 0, 87) is None
    # non-SPS NAL type refuses
    try:
        mm._parse_sps(b"\x68\x00")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_h264_ipcm_roundtrip():
    """Round 5: avc1 MP4 samples are real H.264 — I_PCM IDR slices
    (spec 7.3.5, mb_type 25: the uncompressed coding mode) that
    decode_mp4_frames round-trips EXACTLY, including SPS frame cropping
    and emulation-prevention over zero-heavy PCM bytes."""
    import random

    import numpy as np

    rng = random.Random(5)
    w, h = 70, 34                      # non-MB-multiple -> crop path
    f0 = bytes((np.arange(w * h) * 37 % 256).astype(np.uint8))
    f1 = bytes(w * h)                  # all-zero: maximal escape pressure
    p = mm._mp4_container(rng, 0, 0, 0, with_audio=True,
                          ipcm_frames=[(w, h, f0), (w, h, f1)])
    frames = mm.decode_mp4_frames(p)
    assert [(fw, fh) for fw, fh, _ in frames] == [(w, h), (w, h)]
    assert frames[0][2] == f0 and frames[1][2] == f1
    meta = mm.parse_mp4_meta(p)
    assert (meta["mp4_codec"], meta["mp4_sps_w"], meta["mp4_sps_h"],
            meta["mp4_n_frames"]) == ("avc1", w, h, 2)
    v = mm.video_row_stats(p)
    assert v["vid_ok"] and v["vid_n_frames"] == 2

    # chroma planes round-trip through the slice codec (corpus uses
    # neutral 128 for grayscale truth; arbitrary planes must survive)
    mbw, mbh = 2, 2
    y = (np.arange(mbw * 16 * mbh * 16) % 251).astype(np.uint8).tobytes()
    cb = (np.arange(mbw * 8 * mbh * 8) % 241).astype(np.uint8).tobytes()
    cr = (np.arange(mbw * 8 * mbh * 8) * 3 % 239).astype(np.uint8).tobytes()
    nal = mm._h264_ipcm_idr(y, cb, cr, mbw, mbh)
    sps = {"chroma": 1, "frame_mbs_only": 1, "log2_max_frame_num": 4,
           "poc_type": 0, "log2_max_poc_lsb": 6, "mb_w": mbw, "map_h": mbh}
    pps = {"entropy_coding_mode": 0, "bottom_field_pic_order_present": 0,
           "deblocking_filter_control_present": 1,
           "redundant_pic_cnt_present": 0}
    assert mm._decode_ipcm_slice(nal, sps, pps) == (y, cb, cr)

    # honest refusals: CABAC PPS, compressed mb_type, noise samples
    for bad_sps, bad_pps, msg in [
            (sps, dict(pps, entropy_coding_mode=1), "CABAC"),
            (dict(sps, chroma=2), pps, "4:2:0"),
            (dict(sps, frame_mbs_only=0), pps, "field"),
    ]:
        try:
            mm._decode_ipcm_slice(nal, bad_sps, bad_pps)
            raise AssertionError(f"expected refusal: {msg}")
        except ValueError as e:
            assert msg in str(e)
    # a non-I_PCM mb_type (ue(0) = I_4x4) must refuse, not mis-decode
    wtr = mm._SpsBitWriter()
    for ue_val, bits_n in [(0, None), (7, None), (0, None), (0, 4),
                           (0, None), (0, 6), (0, 1), (0, 1),
                           (0, None), (1, None)]:
        (wtr.u(ue_val, bits_n) if bits_n else wtr.ue(ue_val))
    wtr.ue(0)                          # mb_type 0 = I_4x4 (compressed)
    bad = b"\x65" + wtr.rbsp()
    try:
        mm._decode_ipcm_slice(bad, sps, pps)
        raise AssertionError("expected I_PCM-only refusal")
    except ValueError as e:
        assert "I_PCM" in str(e)
    # structural-only corpus MP4s (noise samples) still quarantine
    p2 = mm._mp4_container(random.Random(9), n_frames=6, w=640, h=480)
    try:
        mm.decode_mp4_frames(p2)
        raise AssertionError("noise samples must not decode")
    except ValueError:
        pass


def test_scene_cuts_recover_planted_runs():
    """Every decodable corpus clip carries md5-derived scene runs of
    _scene_len(i) identical frames; the raster-md5 boundary rule in
    video_row_stats must recover exactly the planted cut positions
    across all four codec pairs (GIF, MJPEG-AVI, MJPEG-MP4, I_PCM)."""
    import cc_extract.multimodal as mm

    seen_cut_counts = set()
    n_checked = 0
    for i in range(400):
        r = mm.gen_media(i)
        if r["kind"] != "video":
            continue
        s = mm.video_row_stats(r["payload"])
        if not s["vid_ok"]:
            continue
        L = mm._scene_len(i)
        expected = sum(1 for k in range(1, s["vid_n_frames"]) if k % L == 0)
        assert s["vid_n_cuts"] == expected, (i, L, s)
        assert s["vid_n_scenes"] == expected + 1
        seen_cut_counts.add(s["vid_n_cuts"])
        n_checked += 1
    assert n_checked >= 50
    # the contract corpus populates static clips AND multi-cut clips
    assert 0 in seen_cut_counts and max(seen_cut_counts) >= 2


def test_exif_corpus_classes_all_populated():
    """The md5-derived EXIF attachment must populate every audit class:
    no-EXIF JPEGs, both byte orders, orientations incl. >=5, stale 2x
    dimension claims, and truncated-TIFF parse failures — and the
    normative parse_exif must read back exactly what _with_exif wrote."""
    import hashlib
    import struct

    n_jpeg = n_exif = n_ok = n_bad = n_stale = n_swap = 0
    orders = set()
    for i in range(400):
        r = mm.gen_media(i)
        if r["kind"] != "image" or not r["payload"].startswith(b"\xff\xd8"):
            continue
        if not mm.image_row_stats(r["payload"])["dec_ok"]:
            continue                      # header-only JPEG stubs: no EXIF
        n_jpeg += 1
        e = mm.parse_exif(r["payload"])
        hx = hashlib.md5(f"exif|{i}".encode()).hexdigest()
        if int(hx[0], 16) >= 11:
            assert not e["has_exif"], i
            continue
        assert e["has_exif"], i
        n_exif += 1
        if int(hx[11], 16) == 0:
            # truncated TIFF body: honest parse failure, never a crash
            assert e["exif_ok"] is False, i
            n_bad += 1
            continue
        assert e["exif_ok"] is True, i
        n_ok += 1
        want_or = [1, 1, 1, 3, 6, 6, 8, 5][int(hx[1], 16) % 8]
        assert e["exif_orientation"] == want_or, i
        assert e["exif_make"] == mm.EXIF_MAKES[int(hx[2], 16) % 4], i
        assert len(e["exif_dt"]) == 19 and e["exif_dt"][4] == ":", i
        d = mm.image_row_stats(r["payload"])
        if int(hx[3], 16) < 3:
            assert (e["exif_w"], e["exif_h"]) == (2 * d["dec_w"],
                                                  2 * d["dec_h"]), i
            n_stale += 1
        else:
            assert (e["exif_w"], e["exif_h"]) == (d["dec_w"], d["dec_h"]), i
        if want_or >= 5:
            n_swap += 1
        # APP1 sits right after SOI: FFE1 len "Exif\0\0" then TIFF hdr
        orders.add(r["payload"][12:14] == b"MM")
    assert n_exif >= 20 and n_ok >= 18
    assert n_bad >= 1 and n_stale >= 2 and n_swap >= 3
    assert n_jpeg - n_exif >= 8           # the no-EXIF class exists
    assert orders == {True, False}        # both byte orders present


def test_exif_attachment_preserves_decode():
    """Attaching APP1 must not change the decoded raster or dims —
    decoders skip unknown APPn segments (trap: marker-scan confusion)."""
    for i in range(400):
        r = mm.gen_media(i)
        if r["kind"] != "image" or not r["payload"].startswith(b"\xff\xd8"):
            continue
        if not mm.parse_exif(r["payload"])["has_exif"]:
            continue
        d = mm.image_row_stats(r["payload"])
        assert d["dec_ok"], i
        break
    else:
        raise AssertionError("no EXIF JPEG found")


def test_exif_hostile_bytes_never_raise():
    """parse_exif over arbitrary/hostile bytes: never raises, flags
    malformation honestly."""
    cases = [
        b"", b"\xff\xd8", b"\xff\xd8\xff\xe1\x00\x04ab",
        b"\xff\xd8\xff\xe1\x00\x10Exif\x00\x00garbage!",
        b"\xff\xd8\xff\xe1\x00\x0aExif\x00\x00II",
        b"not a jpeg at all",
        b"\xff\xd8\xff\xe1\x00\x14Exif\x00\x00II\x2a\x00\xff\xff\xff\xff"
        b"\x00\x00",
    ]
    for c in cases:
        out = mm.parse_exif(c)
        if out["has_exif"]:
            assert out["exif_ok"] is False, c


def test_media_metadata_nulls_header_dims_beyond_int32(spark):
    """A header whose uint32 width claim does not fit media_metadata's
    int columns is a parse failure of that row, not a failed task."""
    import struct

    tiff = (b"II*\x00" + struct.pack("<IH", 8, 2)
            + struct.pack("<HHII", 256, 4, 1, 3_000_000_000)
            + struct.pack("<HHII", 257, 4, 1, 5))
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 0xFFFFFFFF, 7) + b"\x08\x00\x00\x00\x00")
    df = spark.createDataFrame([(0, "image", tiff), (1, "image", png)],
                               mm.MEDIA_SCHEMA)
    rows = sorted(mm.media_metadata(df).collect())
    assert [(r["container"], r["width"], r["height"], r["parse_ok"])
            for r in rows] == [("tiff", None, 5, False),
                               ("png", None, 7, False)]
