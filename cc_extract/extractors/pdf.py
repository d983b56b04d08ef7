"""X2 — PDF text-layer extraction (SURVEY.md §2.4.2, normative).

Reference analogue: the pdf branch of the simple Lambda — poppler
``pdftotext`` CLI (bundled static binary) with an OCR-fallback route when
the text layer is empty [R: functions/simple/main.py ⚠;
bin-linux_x64/pdftotext ⚠] [D: BASELINE.json north_star
"pdfminer.six-style layout parser reproducing its PDF/OCR-fallback branch"].

Ours is a pure-Python (stdlib ``zlib`` + ``re``) text-layer parser:

1. scan ``N G obj … endobj`` spans into an object map (no xref trust —
   brute scan is robust to truncated files), then expand PDF 1.5+
   ``/ObjStm`` object streams so compressed catalogs/page trees resolve
   (xref-stream files need no xref decoding under a brute scan: the
   ``/Root`` entry rides in the XRef stream's uncompressed dict);
2. resolve trailer ``/Root`` → catalog ``/Pages`` → depth-first ``/Kids``
   walk for document page order; fall back to object-number order over all
   text-bearing streams when the tree is unresolvable;
3. inflate ``FlateDecode`` content streams, tokenize, and assemble text:
   ``Tj '``  emit string operands, ``"`` emits newline + string, ``TJ``
   emits array elements joining kern gaps < -100/1000 em as a space,
   ``Td TD T*`` emit ``\\n``; literal-string escapes ``\\( \\) \\\\ \\n \\r
   \\t \\b \\f \\ooo`` and hex strings handled; bytes map through latin-1
   (WinAnsi/PDFDocEncoding subset, sufficient for the synthetic corpus —
   we own the writer, SURVEY.md §5.2);
4. pages join with a blank line; empty/whitespace-only total text ⇒ the
   caller routes ``status='needs_ocr'`` (D3, the reference's second
   Lambda [R: functions/ocr/main.py ⚠]).
"""

from __future__ import annotations

import re
import zlib

from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
from cryptography.hazmat.primitives.ciphers import Cipher

from .normalize import normalize_text

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_ROOT_RE = re.compile(rb"/Root\s+(\d+)\s+\d+\s+R")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_STREAM_RE = re.compile(rb"\s*stream\r?\n")
_KERN_SPACE_THRESHOLD = -100.0

_ESCAPES = {
    ord("n"): "\n", ord("r"): "\r", ord("t"): "\t",
    ord("b"): "\b", ord("f"): "\f",
    ord("("): "(", ord(")"): ")", ord("\\"): "\\",
}

_WS_BYTES = b"\x00\t\n\x0c\r "
_DELIM_BYTES = b"()<>[]{}/%"


class _PdfError(ValueError):
    pass


# ---------------------------------------------------------------- objects

def _parse_object(data: bytes, pos: int):
    """Recursive-descent parse of one PDF object starting at *pos*.

    Returns (value, new_pos).  Refs are returned as ('ref', num).
    """
    n = len(data)
    while pos < n and data[pos] in _WS_BYTES:
        pos += 1
    if pos >= n:
        raise _PdfError("eof")
    c = data[pos]
    if data.startswith(b"<<", pos):
        pos += 2
        d = {}
        while True:
            while pos < n and data[pos] in _WS_BYTES:
                pos += 1
            if data.startswith(b">>", pos):
                return d, pos + 2
            if pos >= n:
                raise _PdfError("unterminated dict")
            key, pos = _parse_object(data, pos)
            val, pos = _parse_object(data, pos)
            if isinstance(key, str):
                d[key] = val
    if c == ord("["):
        pos += 1
        arr = []
        while True:
            while pos < n and data[pos] in _WS_BYTES:
                pos += 1
            if pos >= n:
                raise _PdfError("unterminated array")
            if data[pos] == ord("]"):
                return arr, pos + 1
            val, pos = _parse_object(data, pos)
            arr.append(val)
    if c == ord("/"):
        pos += 1
        start = pos
        while pos < n and data[pos] not in _WS_BYTES and data[pos] not in _DELIM_BYTES:
            pos += 1
        return data[start:pos].decode("latin-1"), pos
    if c == ord("("):
        s, pos = _parse_literal_string(data, pos)
        return ("str", s), pos
    if c == ord("<"):
        end = data.index(b">", pos)
        hexs = re.sub(rb"\s", b"", data[pos + 1 : end])
        if len(hexs) % 2:
            hexs += b"0"
        return ("str", bytes.fromhex(hexs.decode("ascii")).decode("latin-1")), end + 1
    m = _REF_RE.match(data, pos, pos + 32)
    if m:
        return ("ref", int(m.group(1))), m.end()
    m = _NUM_RE.match(data, pos, pos + 32)
    if m:
        tok = m.group(0)
        val = float(tok) if b"." in tok else int(tok)
        return val, m.end()
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data.startswith(lit, pos):
            return val, pos + len(lit)
    raise _PdfError(f"unparseable object at {pos}")


_STR_SPECIAL = re.compile(rb"[\\()]")


def _parse_literal_string(data: bytes, pos: int) -> tuple[str, int]:
    """Parse a ``(...)`` literal string; *pos* points at '('.

    Fast path: the overwhelmingly common escape-free, non-nested string is
    a single slice+decode (identical semantics — any backslash or nested
    paren before the first ')' falls through to the full parser, which
    itself bulk-copies between special characters instead of walking
    byte-at-a-time; this function was 24% of extraction CPU)."""
    assert data[pos] == ord("(")
    end = data.find(b")", pos + 1)
    if end != -1:
        seg = data[pos + 1 : end]
        if b"\\" not in seg and b"(" not in seg:
            return seg.decode("latin-1"), end + 1
    pos += 1
    out: list[str] = []
    depth = 1
    n = len(data)
    while pos < n:
        m = _STR_SPECIAL.search(data, pos)
        if not m:
            break
        if m.start() > pos:  # bulk-copy the unremarkable span
            out.append(data[pos : m.start()].decode("latin-1"))
            pos = m.start()
        b = data[pos]
        if b == ord("\\"):
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                pos += 1
            elif ord("0") <= e <= ord("7"):
                oct_digits = chr(e)
                pos += 1
                while pos < n and len(oct_digits) < 3 and ord("0") <= data[pos] <= ord("7"):
                    oct_digits += chr(data[pos])
                    pos += 1
                out.append(chr(int(oct_digits, 8) & 0xFF))
            elif e in (0x0A, 0x0D):  # line continuation
                pos += 1
                if e == 0x0D and pos < n and data[pos] == 0x0A:
                    pos += 1
            else:
                out.append(chr(e))
                pos += 1
        elif b == ord("("):
            depth += 1
            out.append("(")
            pos += 1
        elif b == ord(")"):
            depth -= 1
            if depth == 0:
                return "".join(out), pos + 1
            out.append(")")
            pos += 1
        else:
            out.append(chr(b))
            pos += 1
    raise _PdfError("unterminated literal string")


# ---------------------------------------------------------------- doc scan

def _expand_object_streams(objects: dict[int, tuple[dict, bytes | None]]) -> None:
    """PDF 1.5+ object streams (``/Type /ObjStm``): non-stream objects —
    typically the whole catalog/pages/page-dict tree — are packed inside a
    FlateDecode stream the brute scan can't see through.  Expand each one:
    the stream starts with ``2*N`` integers (object number, offset relative
    to /First) followed by the serialized objects.  Direct objects win on
    number collision (setdefault): the brute scan already honors the
    file's last definition, and an ObjStm can never redefine a
    stream-bearing object (streams are forbidden inside ObjStm)."""
    for num in list(objects):
        obj_dict, stream = objects[num]
        if obj_dict.get("Type") != "ObjStm" or stream is None:
            continue
        data = _decode_stream(obj_dict, stream)
        if data is None:
            continue
        n_objs, first = obj_dict.get("N"), obj_dict.get("First")
        if not (isinstance(n_objs, int) and isinstance(first, int)):
            continue
        if not (0 < first <= len(data)):
            continue
        try:
            nums = [int(x) for x in data[:first].split()]
        except ValueError:
            continue
        for i in range(min(n_objs, len(nums) // 2)):
            onum, off = nums[2 * i], nums[2 * i + 1]
            if off < 0 or first + off >= len(data):
                continue
            try:
                val, _ = _parse_object(data, first + off)
            except (_PdfError, ValueError, IndexError):
                continue
            objects.setdefault(onum, (val if isinstance(val, dict) else {}, None))


# ------------------------------------------- standard security handler

# the 32-byte padding string of the PDF standard security handler
# (ISO 32000-1 7.6.3.3, public constant)
_PW_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])

# Curation-side password sidecar: a crawl pipeline carries a short list of
# publisher-disclosed passwords (press-kit PDFs, gated datasheets shipped
# with their password in the landing page).  Each candidate is tried as
# the USER then the OWNER password after the empty password; a document
# matching neither quarantines.  The job overrides via --pdf-passwords.
# ASCII-only by convention: R<=4 interprets passwords as PDFDocEncoding
# bytes and R6 as UTF-8, which agree on ASCII.
DEFAULT_PASSWORDS = ("crawl-sidecar-2026", "publica")


# the key widths OpenSSL's ARC4 accepts
_ARC4_BITS = frozenset({40, 56, 64, 80, 128, 160, 192, 256})


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 for the PDF standard security handler: OpenSSL where ARC4
    accepts the key width, else the plain KSA + PRGA loop — a valid
    /Length 48-120 file derives object keys of other widths (11 bytes
    at /Length 48), and this loop is their only route."""
    if len(key) * 8 in _ARC4_BITS:
        return Cipher(ARC4(key), mode=None).encryptor().update(data)
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _str_bytes(v) -> bytes | None:
    if isinstance(v, tuple) and len(v) == 2 and v[0] == "str":
        return v[1].encode("latin-1")
    return None


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B — the R6 password hash: SHA-256 seeded,
    then an iterated AES-128-CBC round whose output picks the next digest
    (SHA-256/384/512 by sum-mod-3) until round >= 64 and the last byte of
    the encrypted block is <= round - 32."""
    import hashlib

    from . import aes as _aes

    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _aes.cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _decrypt_objects(data: bytes, objects, passwords=None) -> None:
    """Standard security handler.  Three generations are handled:

    - V1/V2, R2/R3 — RC4: file key per Algorithm 2, verified against /U
      (Algorithms 4/5), per-object keys per Algorithm 1.
    - V4, R4 — crypt filters: /StdCF with /CFM /V2 (RC4) or /AESV2
      (AES-128-CBC, leading IV, PKCS#7, the "sAlT" per-object suffix).
    - V5, R5/R6 — /AESV3: AES-256 with the file key used directly; R6
      validates via Algorithm 2.B, the key unwraps from /UE, and /Perms
      is decrypted and its 'adb' sentinel checked.

    Password model: the EMPTY user password is tried first (the
    overwhelmingly common restrictions-only case in a crawl), then each
    candidate from ``passwords`` (default DEFAULT_PASSWORDS) as the USER
    password, then each as the OWNER password — Algorithm 7 decrypts /O
    back to the padded user password for R<=4; for R5/R6 the owner hash
    validates against /O (udata = /U[:48]) and the file key unwraps from
    /OE.  A document matching no candidate in either role, public-key
    handlers and unknown CFMs raise — the dispatcher turns that into the
    honest error row."""
    import hashlib
    import struct as _s

    from . import aes as _aes

    if passwords is None:
        passwords = DEFAULT_PASSWORDS
    cand = [b""] + [pw.encode("utf-8") for pw in passwords]

    m = re.search(rb"/Encrypt\s+(\d+)\s+\d+\s+R", data)
    if not m:
        return
    enc_num = int(m.group(1))
    entry = objects.get(enc_num)
    if entry is None:
        raise _PdfError("encrypted: /Encrypt dict not found")
    ed = entry[0]
    if ed.get("Filter") != "Standard":
        raise _PdfError("encrypted: unsupported security handler")
    v = ed.get("V", 0)
    r = ed.get("R", 2)
    o = _str_bytes(ed.get("O"))
    u = _str_bytes(ed.get("U"))
    p = ed.get("P")
    if o is None or u is None or not isinstance(p, int):
        raise _PdfError("encrypted: malformed /Encrypt dict")

    method = "rc4"  # how streams are decrypted: rc4 | aesv2 | aesv3
    key = None
    n = 5
    if v in (1, 2) or (v == 4 and r == 4):
        if v in (1, 2) and r not in (2, 3):
            raise _PdfError(f"encrypted: unsupported V={v} R={r}")
        if v == 4:
            # crypt-filter indirection: only /StdCF on streams is in scope
            cf = ed.get("CF")
            stmf = ed.get("StmF", "Identity")
            stdcf = cf.get("StdCF") if isinstance(cf, dict) else None
            if stmf != "StdCF" or not isinstance(stdcf, dict):
                raise _PdfError("encrypted: unsupported crypt filter routing")
            cfm = stdcf.get("CFM")
            if cfm == "AESV2":
                method = "aesv2"
            elif cfm != "V2":
                raise _PdfError(f"encrypted: unsupported CFM {cfm}")
        if r == 2:
            n = 5
        else:
            n = ed.get("Length", 40) // 8
        if method == "aesv2":
            n = 16
        if not (5 <= n <= 16):
            raise _PdfError("encrypted: bad key length")
        idm = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>", data)
        id0 = b""
        if idm:
            id0 = bytes.fromhex(
                re.sub(rb"\s", b"", idm.group(1)).decode("ascii"))

        def _file_key(padded: bytes) -> bytes:
            # Algorithm 2 from the 32-byte padded user password
            seed = padded + o[:32] + _s.pack("<i", p) + id0
            if r == 4 and ed.get("EncryptMetadata") is False:
                seed += b"\xff\xff\xff\xff"
            digest = hashlib.md5(seed).digest()
            if r >= 3:
                for _ in range(50):
                    digest = hashlib.md5(digest[:n]).digest()
                return digest[:n]
            return digest[:5]

        def _check_user(k: bytes) -> bool:
            # Algorithms 4/5 — /U always encrypts the padding constant,
            # whatever the password, so only the key varies
            if r == 2:
                return _rc4(k, _PW_PAD) == u[:32]
            x = _rc4(k, hashlib.md5(_PW_PAD + id0).digest())
            for i in range(1, 20):
                x = _rc4(bytes(b ^ i for b in k), x)
            return x == u[:16]

        for pwd in cand:  # as USER password (empty first)
            k = _file_key((pwd + _PW_PAD)[:32])
            if _check_user(k):
                key = k
                break
        if key is None:
            # Algorithm 7: candidate as OWNER password — Algorithm 3's
            # RC4 key decrypts /O back to the padded user password
            for pwd in cand:
                digest = hashlib.md5((pwd + _PW_PAD)[:32]).digest()
                if r >= 3:
                    for _ in range(50):
                        digest = hashlib.md5(digest).digest()
                okey = digest[:n]
                if r == 2:
                    recovered = _rc4(okey, o[:32])
                else:
                    recovered = o[:32]
                    for i in range(19, -1, -1):
                        recovered = _rc4(
                            bytes(b ^ i for b in okey), recovered)
                k = _file_key(recovered[:32])
                if _check_user(k):
                    key = k
                    break
        if key is None:
            raise _PdfError("encrypted: password not in candidate list")
    elif v == 5 and r in (5, 6):
        method = "aesv3"
        ue = _str_bytes(ed.get("UE"))
        if len(u) < 48 or ue is None or len(ue) < 32:
            raise _PdfError("encrypted: malformed V5 /U or /UE")
        def _v5_hash(pwd: bytes, salt: bytes, udata: bytes) -> bytes:
            pwd = pwd[:127]  # ISO 32000-2 7.6.4.3.3: truncate to 127 bytes
            if r == 6:
                return _hash_2b(pwd, salt, udata)
            # R5: the deprecated single-SHA-256 draft
            return hashlib.sha256(pwd + salt + udata).digest()

        # the key hash (key salt) is derived LAZILY, only after the
        # validation hash matches: on R6 each hash is a full Algorithm
        # 2.B KDF (~10^4 AES blocks), and misses dominate a candidate
        # sweep — eager pairing doubled the KDF cost of every miss
        for pwd in cand:  # as USER password (empty first)
            if _v5_hash(pwd, u[32:40], b"") == u[:32]:
                hk = _v5_hash(pwd, u[40:48], b"")
                key = _aes.cbc_decrypt(hk, b"\x00" * 16, ue[:32])
                break
        if key is None:
            # as OWNER password: validation/key salts live in /O[32:48],
            # udata is /U[:48], the file key unwraps from /OE
            oe = _str_bytes(ed.get("OE"))
            if oe is not None and len(oe) >= 32 and len(o) >= 48:
                for pwd in cand:
                    if _v5_hash(pwd, o[32:40], u[:48]) == o[:32]:
                        hk = _v5_hash(pwd, o[40:48], u[:48])
                        key = _aes.cbc_decrypt(hk, b"\x00" * 16, oe[:32])
                        break
        if key is None:
            raise _PdfError("encrypted: password not in candidate list")
        perms = _str_bytes(ed.get("Perms"))
        if perms is not None and len(perms) >= 16:
            pt = _aes.ecb_decrypt(key, perms[:16])
            if pt[9:12] != b"adb":
                raise _PdfError("encrypted: /Perms sentinel mismatch")
    else:
        raise _PdfError(f"encrypted: unsupported V={v} R={r}")

    for num, (od, stream) in list(objects.items()):
        if stream is None or num == enc_num or od.get("Type") == "XRef":
            continue  # xref streams are never encrypted
        try:
            if method == "rc4":
                objkey = hashlib.md5(
                    key + _s.pack("<I", num)[:3] + b"\x00\x00"
                ).digest()[: min(n + 5, 16)]
                dec = _rc4(objkey, stream)
            else:
                if method == "aesv2":
                    objkey = hashlib.md5(
                        key + _s.pack("<I", num)[:3] + b"\x00\x00sAlT"
                    ).digest()[:16]
                else:
                    objkey = key  # V5: the file key, no per-object derivation
                if len(stream) < 32:
                    raise ValueError("AES stream too short")
                dec = _aes.pkcs7_unpad(
                    _aes.cbc_decrypt(objkey, stream[:16], stream[16:]))
        except ValueError as exc:
            raise _PdfError(f"encrypted: stream decrypt failed ({exc})")
        objects[num] = (od, dec)


def _scan_objects(
    data: bytes, passwords=None,
) -> dict[int, tuple[dict, bytes | None]]:
    """Map obj number -> (dict, stream_bytes|None) by brute scan, then
    expand PDF 1.5+ object streams so compressed catalogs/page trees
    resolve like direct ones.

    Two passes so an indirect ``/Length N 0 R`` (what many real writers
    emit) resolves through the integer object — even a forward reference
    — instead of falling to the ``endstream`` search, which can truncate
    a stream whose compressed bytes happen to contain ``endstream``.
    (An int object packed inside an ObjStm is still out of reach at this
    point; those streams keep the search fallback.)"""
    objects: dict[int, tuple[dict, bytes | None]] = {}
    scalars: dict[int, int] = {}
    pending: list[tuple[int, dict, int]] = []
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        body_start = m.end()
        try:
            val, pos = _parse_object(data, body_start)
        except (_PdfError, ValueError, IndexError):
            continue
        if isinstance(val, int):
            scalars[num] = val
        obj_dict = val if isinstance(val, dict) else {}
        stream: bytes | None = None
        sm = _STREAM_RE.match(data, pos, pos + 16)
        if sm:
            sstart = sm.end()
            length = obj_dict.get("Length")
            if isinstance(length, tuple) and length[0] == "ref":
                pending.append((num, obj_dict, sstart))
                continue
            if isinstance(length, int) and data.startswith(
                b"endstream", _skip_eol(data, sstart + length)
            ):
                stream = data[sstart : sstart + length]
            else:
                send = data.find(b"endstream", sstart)
                if send == -1:
                    continue
                stream = data[sstart:send].rstrip(b"\r\n")
        objects[num] = (obj_dict, stream)
    for num, obj_dict, sstart in pending:
        lv = scalars.get(obj_dict["Length"][1])
        if isinstance(lv, int) and data.startswith(
            b"endstream", _skip_eol(data, sstart + lv)
        ):
            stream = data[sstart : sstart + lv]
        else:
            send = data.find(b"endstream", sstart)
            if send == -1:
                continue
            stream = data[sstart:send].rstrip(b"\r\n")
        objects[num] = (obj_dict, stream)
    _decrypt_objects(data, objects, passwords)  # before ObjStm expansion: those
    _expand_object_streams(objects)  # streams are themselves encrypted
    return objects


def _skip_eol(data: bytes, pos: int) -> int:
    while pos < len(data) and data[pos] in (0x0A, 0x0D):
        pos += 1
    return pos


def _deref(objects, val):
    if isinstance(val, tuple) and len(val) == 2 and val[0] == "ref":
        entry = objects.get(val[1])
        return entry[0] if entry else None
    return val


def _ascii85_decode(data: bytes) -> bytes:
    """PDF ASCII85Decode (ISO 32000 7.4.3): base-85 groups, 'z' for an
    all-zero group, '~>' EOD, partial final group padded with 'u'."""
    end = data.find(b"~>")
    if end != -1:
        data = data[:end]
    data = re.sub(rb"\s", b"", data)
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        if data[i] == 0x7A:  # 'z'
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        grp = data[i: i + 5]
        i += len(grp)
        pad = 5 - len(grp)
        if pad == 4:
            raise ValueError("a85: lone final digit")
        val = 0
        for ch in grp + b"u" * pad:
            d = ch - 33
            if not 0 <= d <= 84:
                raise ValueError("a85: bad digit")
            val = val * 85 + d
        if val > 0xFFFFFFFF:
            raise ValueError("a85: group overflow")
        out += val.to_bytes(4, "big")[: 4 - pad]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """PDF RunLengthDecode (7.4.5): length byte 0-127 copies L+1
    literals, 129-255 repeats the next byte 257-L times, 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            chunk = data[i: i + length + 1]
            if len(chunk) != length + 1:
                raise ValueError("rle: truncated literal run")
            out += chunk
            i += length + 1
        else:
            if i >= n:
                raise ValueError("rle: truncated repeat run")
            out += bytes([data[i]]) * (257 - length)
            i += 1
    return bytes(out)


def _decode_stream(obj_dict: dict, stream: bytes) -> bytes | None:
    """Apply the stream's filter chain in array order.  Covered: Flate,
    LZW (TIFF-convention MSB-first codes with the spec-default
    EarlyChange=1 — the decoder is shared with extractors/tiff.py),
    ASCIIHex, ASCII85, RunLength, and chains thereof.  Predictors,
    EarlyChange=0 and anything else return None — the stream is then
    not a text source and the document degrades honestly."""
    filt = obj_dict.get("Filter")
    filters = filt if isinstance(filt, list) else ([filt] if filt else [])
    parms = obj_dict.get("DecodeParms", obj_dict.get("DP"))
    parms_list = parms if isinstance(parms, list) else [parms]
    data = stream
    for i, f in enumerate(filters):
        pm = parms_list[i] if i < len(parms_list) else None
        pm = pm if isinstance(pm, dict) else {}
        try:
            if f == "FlateDecode":
                if pm.get("Predictor", 1) != 1:
                    return None
                data = zlib.decompress(data)
            elif f == "LZWDecode":
                if pm.get("Predictor", 1) != 1 or pm.get("EarlyChange", 1) != 1:
                    return None
                from .ocr import OcrError
                from .tiff import _lzw_decode_tiff

                try:
                    data = _lzw_decode_tiff(data, 1 << 24)
                except OcrError:
                    return None
            elif f == "ASCIIHexDecode":
                hexs = re.sub(rb"\s", b"", data.split(b">")[0])
                if len(hexs) % 2:
                    hexs += b"0"
                data = bytes.fromhex(hexs.decode("ascii"))
            elif f == "ASCII85Decode":
                data = _ascii85_decode(data)
            elif f == "RunLengthDecode":
                data = _runlength_decode(data)
            elif f is None:
                continue
            else:
                return None  # unsupported filter -> not a text source
        except (zlib.error, ValueError, UnicodeDecodeError):
            return None
    return data


def _page_content_streams(data: bytes, objects) -> list[tuple[bytes, dict]]:
    """(content stream, page font ToUnicode maps) in document page order;
    [] if tree unresolvable."""
    m = None
    for m in _ROOT_RE.finditer(data):
        pass  # keep the last trailer's /Root (incremental updates)
    if not m:
        return []
    root_entry = objects.get(int(m.group(1)))
    if not root_entry:
        return []
    pages_ref = root_entry[0].get("Pages")
    pages_node = _deref(objects, pages_ref)
    if not isinstance(pages_node, dict):
        return []

    ordered: list[tuple[bytes, dict]] = []
    seen: set[int] = set()

    def walk(node: dict) -> None:
        ntype = node.get("Type")
        if ntype == "Pages" or (ntype is None and "Kids" in node):
            kids = node.get("Kids") or []
            for kid in kids:
                if isinstance(kid, tuple) and kid[0] == "ref":
                    if kid[1] in seen:
                        continue
                    seen.add(kid[1])
                    child = _deref(objects, kid)
                    if isinstance(child, dict):
                        walk(child)
        elif ntype == "Page":
            contents = node.get("Contents")
            refs = contents if isinstance(contents, list) else [contents]
            page_data = []
            for ref in refs:
                if not (isinstance(ref, tuple) and ref[0] == "ref"):
                    continue
                entry = objects.get(ref[1])
                if not entry or entry[1] is None:
                    continue
                decoded = _decode_stream(entry[0], entry[1])
                if decoded is not None:
                    page_data.append(decoded)
            ordered.append((b"\n".join(page_data), _page_fonts(objects, node)))

    walk(pages_node)
    return ordered


# ------------------------------------------------------- ToUnicode CMaps

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f]+)>")


def _utf16be_str(hexs: bytes) -> str:
    raw = bytes.fromhex(hexs.decode("ascii"))
    return raw.decode("utf-16-be", "replace")


def _parse_tounicode(cmap: bytes) -> dict[int, str]:
    """/ToUnicode CMap -> {CID code: unicode string}.  Handles the two
    mapping forms real PDF writers emit: ``bfchar`` (<src> <dst> pairs)
    and ``bfrange`` (<lo> <hi> <dst_lo>, consecutive increments on the
    LAST UTF-16 code unit per the CMap spec; the array-destination form
    <lo> <hi> [<d0> <d1> ...] is also read)."""
    out: dict[int, str] = {}
    for m in _BFCHAR_RE.finditer(cmap):
        toks = _HEXTOK_RE.findall(m.group(1))
        for i in range(0, len(toks) - 1, 2):
            out[int(toks[i], 16)] = _utf16be_str(toks[i + 1])
    for m in _BFRANGE_RE.finditer(cmap):
        body = m.group(1)
        # array form: <lo> <hi> [<d0> <d1> ...]
        pos = 0
        while True:
            mh = _HEXTOK_RE.search(body, pos)
            if not mh:
                break
            lo = int(mh.group(1), 16)
            mh2 = _HEXTOK_RE.search(body, mh.end())
            if not mh2:
                break
            hi = int(mh2.group(1), 16)
            pos = mh2.end()
            # what follows: '[' (array form) or a single hex dst
            nxt = body[pos:pos + 16].lstrip()
            if nxt.startswith(b"["):
                arr_end = body.find(b"]", pos)
                if arr_end == -1:
                    break
                dsts = _HEXTOK_RE.findall(body[pos:arr_end])
                for k, d in enumerate(dsts):
                    if lo + k <= hi:
                        out[lo + k] = _utf16be_str(d)
                pos = arr_end + 1
            else:
                mh3 = _HEXTOK_RE.search(body, pos)
                if not mh3:
                    break
                base = _utf16be_str(mh3.group(1))
                for k in range(hi - lo + 1):
                    # increment the last code unit (CMap spec behavior); a
                    # hostile range near the top of the plane can push the
                    # increment past 0x10FFFF — degrade that destination to
                    # U+FFFD instead of erroring the whole document
                    if base:
                        cp = ord(base[-1]) + k
                        bad = cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF
                        last = "�" if bad else chr(cp)
                        out[lo + k] = base[:-1] + last
                    else:
                        out[lo + k] = ""
                pos = mh3.end()
    return out


# Adobe Glyph List subset: the names a CC-corpus simple font's /Encoding
# /Differences realistically remaps (ASCII + Latin-1 Supplement + the
# common typographic extras).  Letters and digits are generated; the rest
# is hand-tabled.  Unknown names fall back to the code's latin-1 char.
_GLYPH_NAMES: dict[str, str] = {
    **{c: c for c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"},
    **dict(zip(
        ["zero", "one", "two", "three", "four",
         "five", "six", "seven", "eight", "nine"], "0123456789")),
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/", "colon": ":",
    "semicolon": ";", "less": "<", "equal": "=", "greater": ">",
    "question": "?", "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~",
    "exclamdown": "¡", "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "brokenbar": "¦", "section": "§", "dieresis": "¨",
    "copyright": "©", "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯", "degree": "°",
    "plusminus": "±", "acute": "´", "mu": "µ", "paragraph": "¶",
    "periodcentered": "·", "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â", "Atilde": "Ã",
    "Adieresis": "Ä", "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î", "Idieresis": "Ï",
    "Eth": "Ð", "Ntilde": "Ñ", "Ograve": "Ò", "Oacute": "Ó",
    "Ocircumflex": "Ô", "Otilde": "Õ", "Odieresis": "Ö", "multiply": "×",
    "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
    "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ", "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â", "atilde": "ã",
    "adieresis": "ä", "aring": "å", "ae": "æ", "ccedilla": "ç",
    "egrave": "è", "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î", "idieresis": "ï",
    "eth": "ð", "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö", "divide": "÷",
    "oslash": "ø", "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
    "udieresis": "ü", "yacute": "ý", "thorn": "þ", "ydieresis": "ÿ",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "florin": "ƒ", "fraction": "⁄", "trademark": "™",
    "fi": "ﬁ", "fl": "ﬂ", "OE": "Œ", "oe": "œ",
    "Scaron": "Š", "scaron": "š", "Ydieresis": "Ÿ",
    "Zcaron": "Ž", "zcaron": "ž", "Euro": "€",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "circumflex": "ˆ", "tilde": "˜",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "ogonek": "˛", "hungarumlaut": "˝", "caron": "ˇ",
    "dotlessi": "ı", "Lslash": "Ł", "lslash": "ł",
}


def _glyph_to_char(name: str, code: int) -> str:
    """AGL name -> char; ``uniXXXX``/``uXXXX`` handled programmatically;
    unknown names degrade to the code's latin-1 char (never an error)."""
    ch = _GLYPH_NAMES.get(name)
    if ch is not None:
        return ch
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            pass
    elif name.startswith("u") and 5 <= len(name) <= 7:
        try:
            cp = int(name[1:], 16)
            if cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                return chr(cp)
        except ValueError:
            pass
    return chr(code)


# font map kinds for _map_string
_KIND_CID = "cid"        # 2-byte codes through a ToUnicode CMap
_KIND_SIMPLE = "simple"  # 1-byte codes through /Encoding /Differences


def _page_fonts(objects, page_node: dict) -> dict[str, tuple[str, dict[int, str]]]:
    """Page /Resources /Font -> {font name: (kind, code map)}:

    - composite/Identity-H fonts with /ToUnicode -> 2-byte CID maps;
    - simple fonts with /Encoding << /Differences [...] >> -> 1-byte
      override maps (PDF 32000-1 §9.6.6: the array alternates a start
      code with glyph names for consecutive codes);
    - simple fonts without either keep the latin-1 path (no entry)."""
    res = _deref(objects, page_node.get("Resources"))
    if not isinstance(res, dict):
        return {}
    fonts = _deref(objects, res.get("Font"))
    if not isinstance(fonts, dict):
        return {}
    out: dict[str, tuple[str, dict[int, str]]] = {}
    for name, ref in fonts.items():
        fdict = _deref(objects, ref)
        if not isinstance(fdict, dict):
            continue
        tu = fdict.get("ToUnicode")
        if isinstance(tu, tuple) and tu[0] == "ref":
            entry = objects.get(tu[1])
            if entry and entry[1] is not None:
                cmap_data = _decode_stream(entry[0], entry[1])
                if cmap_data is not None:
                    cm = _parse_tounicode(cmap_data)
                    if cm:
                        out[name] = (_KIND_CID, cm)
                        continue
        enc = _deref(objects, fdict.get("Encoding"))
        if isinstance(enc, dict):
            diffs = _deref(objects, enc.get("Differences"))
            if isinstance(diffs, list):
                dm: dict[int, str] = {}
                code = 0
                for item in diffs:
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, str):
                        if 0 <= code <= 255:
                            dm[code] = _glyph_to_char(item, code)
                        code += 1
                if dm:
                    out[name] = (_KIND_SIMPLE, dm)
    return out


# ------------------------------------------------------------ content text

_CONTENT_TOKEN = re.compile(
    rb"""(?P<sstr>\((?P<sbody>[^()\\]*)\))   # escape-free literal string (fast path)
      | (?P<str>\()             # literal string with escapes/nesting
      | (?P<shex><(?!<)(?P<hbody>[0-9A-Fa-f\s]*)>)  # well-formed hex string
      | (?P<hex><(?!<))         # malformed hex start (fallback)
      | (?P<arr>\[|\])
      | (?P<dict><<|>>)
      | (?P<num>[+-]?(?:\d+\.?\d*|\.\d+))
      | (?P<name>/[^\s()<>\[\]{}/%]*)
      | (?P<op>[A-Za-z'"*]+)
    """,
    re.VERBOSE,
)


def _map_string(s: str, fontmap: tuple[str, dict[int, str]] | None) -> str:
    """Decode one content-stream string operand: latin-1 passthrough for
    plain simple fonts; 1-byte codes through /Encoding /Differences
    overrides; 2-byte big-endian CIDs through the current font's
    ToUnicode map for composite (Identity-H) fonts."""
    if fontmap is None:
        return s
    kind, cmap = fontmap
    raw = s.encode("latin-1")  # lossless: s was decoded latin-1 from bytes
    if kind == _KIND_SIMPLE:
        return "".join(cmap.get(b) or chr(b) for b in raw)
    out = []
    for i in range(0, len(raw) - 1, 2):
        out.append(cmap.get((raw[i] << 8) | raw[i + 1], "�"))
    if len(raw) % 2:
        out.append("�")
    return "".join(out)


def _content_to_text(content: bytes, fonts: dict[str, dict[int, str]] | None = None) -> str:
    fonts = fonts or {}
    cur_map: tuple[str, dict[int, str]] | None = None
    out: list[str] = []
    stack: list = []
    in_array: list | None = None
    pos, n = 0, len(content)
    while pos < n:
        m = _CONTENT_TOKEN.search(content, pos)
        if not m:
            break
        pos = m.start()
        g = m.lastgroup
        if g == "sstr":  # escape-free string: one regex group, one decode
            (in_array if in_array is not None else stack).append(
                ("str", m.group("sbody").decode("latin-1"))
            )
            pos = m.end()
            continue
        if g == "str":
            try:
                s, pos = _parse_literal_string(content, pos)
            except _PdfError:
                break
            (in_array if in_array is not None else stack).append(("str", s))
            continue
        if g == "shex":
            hexs = m.group("hbody")
            if b" " in hexs or b"\n" in hexs or b"\r" in hexs or b"\t" in hexs:
                hexs = re.sub(rb"\s", b"", hexs)
            if len(hexs) % 2:
                hexs += b"0"
            (in_array if in_array is not None else stack).append(
                ("str", bytes.fromhex(hexs.decode("ascii")).decode("latin-1"))
            )
            pos = m.end()
            continue
        if g == "hex":
            end = content.find(b">", pos)
            if end == -1:
                break
            hexs = re.sub(rb"\s", b"", content[pos + 1 : end])
            if len(hexs) % 2:
                hexs += b"0"
            try:
                s = bytes.fromhex(hexs.decode("ascii")).decode("latin-1")
            except ValueError:
                s = ""
            (in_array if in_array is not None else stack).append(("str", s))
            pos = end + 1
            continue
        pos = m.end()
        if m.lastgroup == "arr":
            if m.group(0) == b"[":
                in_array = []
            else:
                if in_array is not None:
                    stack.append(("arr", in_array))
                in_array = None
            continue
        if m.lastgroup == "dict":
            continue
        if m.lastgroup == "num":
            tok = m.group(0)
            val = float(tok) if b"." in tok else int(tok)
            (in_array if in_array is not None else stack).append(("num", val))
            continue
        if m.lastgroup == "name":
            stack.append(("name", m.group(0)))
            continue
        # operator
        op = m.group(0)
        if op == b"Tj" and stack and stack[-1][0] == "str":
            out.append(_map_string(stack[-1][1], cur_map))
        elif op == b"'" and stack and stack[-1][0] == "str":
            out.append("\n")
            out.append(_map_string(stack[-1][1], cur_map))
        elif op == b'"' and stack and stack[-1][0] == "str":
            out.append("\n")
            out.append(_map_string(stack[-1][1], cur_map))
        elif op == b"TJ" and stack and stack[-1][0] == "arr":
            for kind, val in stack[-1][1]:
                if kind == "str":
                    out.append(_map_string(val, cur_map))
                elif kind == "num" and val < _KERN_SPACE_THRESHOLD:
                    out.append(" ")
        elif op in (b"Td", b"TD", b"T*"):
            out.append("\n")
        elif op == b"Tf":
            # font select: operands are (name, size); the name decides
            # whether strings are CIDs (ToUnicode map) or latin-1 bytes
            names = [v for k, v in stack if k == "name"]
            if names:
                cur_map = fonts.get(names[-1].decode("latin-1").lstrip("/"))
        stack.clear()
    return "".join(out)


# ----------------------------------------------------------------- public

def pdf_scan_rasters(
    payload: bytes, passwords=None,
) -> list[tuple[int, int, bytes]]:
    """Page-image rasters of a scanned-style PDF, in object order:
    ``/Subtype /Image`` XObjects with 8-bit /DeviceGray samples under
    /FlateDecode, or JPEG scans under /DCTDecode (decoded by the
    from-scratch baseline-JFIF reader — what a real scanner embeds).
    Used by the OCR-lite route (X14) instead of re-rasterizing pages;
    anything these can't express (CMYK, 1-bit, progressive JPEG) yields
    nothing and the document stays in the needs_ocr quarantine."""
    if not payload.startswith(b"%PDF"):
        return []
    out: list[tuple[int, int, bytes]] = []
    objects = _scan_objects(payload, passwords)
    for num in sorted(objects):
        obj_dict, stream = objects[num]
        if obj_dict.get("Subtype") != "Image" or stream is None:
            continue
        w, h = obj_dict.get("Width"), obj_dict.get("Height")
        if not (isinstance(w, int) and isinstance(h, int) and w > 0 and h > 0):
            continue
        if obj_dict.get("ColorSpace") != "DeviceGray":
            continue
        filt = obj_dict.get("Filter")
        if filt == "CCITTFaxDecode" or (
            isinstance(filt, list) and filt[-1:] == ["CCITTFaxDecode"]
        ):
            # fax-in-PDF, what most real scanned PDFs embed: K < 0 pure
            # G4 (T.6); K = 0 pure 1-D G3; K > 0 mixed 1-D/2-D G3 (T.4),
            # honoring /EndOfLine (PDF default false: rows packed with no
            # EOL codes) and /EncodedByteAlign (rows start byte-aligned).
            # BlackIs1 only flips the 1-bit representation — the decoder
            # emits 8-bit BlackIsZero pixels directly, so both settings
            # land on the same raster.
            parms = obj_dict.get("DecodeParms") or {}
            if isinstance(parms, list):
                parms = parms[-1] if parms and isinstance(parms[-1], dict) else {}
            if not isinstance(parms, dict):
                continue
            if obj_dict.get("BitsPerComponent", 1) != 1:
                continue
            if parms.get("Columns", 1728) != w:
                continue
            if w * h > 1 << 26:  # crafted dims: T.4/T.6 expand ~w*h/8 bits
                continue
            k = parms.get("K", 0)
            eol = parms.get("EndOfLine", False) is True
            byte_align = parms.get("EncodedByteAlign", False) is True
            from .ccitt import g3_decode, g4_decode
            from .ocr import OcrError

            try:
                if not isinstance(k, int):
                    raise OcrError("ccitt: bad K")
                if k < 0:
                    if byte_align:  # aligned G4: no writer we accept emits it
                        raise OcrError("ccitt: byte-aligned G4")
                    raster = g4_decode(bytes(stream), w, h)
                else:
                    raster = g3_decode(bytes(stream), w, h, two_d=k > 0,
                                       eol=eol, byte_align=byte_align)
            except OcrError:
                continue
            out.append((w, h, bytes(raster)))
            continue
        if obj_dict.get("BitsPerComponent") != 8:
            continue
        if filt == "DCTDecode" or (isinstance(filt, list) and filt[-1:] == ["DCTDecode"]):
            from .jpeg import decode_jpeg_gray
            from .ocr import OcrError

            try:
                jw, jh, raster = decode_jpeg_gray(bytes(stream))
            except OcrError:
                continue  # undecodable JPEG flavor -> not a raster source
            if (jw, jh) == (w, h):
                out.append((jw, jh, bytes(raster)))
            continue
        raw = _decode_stream(obj_dict, stream)
        if raw is None or len(raw) < w * h:
            continue
        out.append((w, h, raw[: w * h]))
    return out


def extract_pdf(payload: bytes, passwords=None) -> str:
    """bytes -> text layer.  Empty result means the caller routes needs_ocr.

    ``passwords``: candidate user/owner passwords for encrypted documents
    (None -> DEFAULT_PASSWORDS; see _decrypt_objects)."""
    if not payload.startswith(b"%PDF"):
        raise _PdfError("not a PDF (missing %PDF header)")
    objects = _scan_objects(payload, passwords)
    if not objects:
        raise _PdfError("no parseable objects")
    pages = _page_content_streams(payload, objects)
    if not pages:
        # fallback: object-number order over text-bearing streams
        # (no page dicts resolved -> no font resources -> latin-1 path)
        pages = []
        for num in sorted(objects):
            obj_dict, stream = objects[num]
            if stream is None or obj_dict.get("Type") in ("XObject", "Font"):
                continue
            decoded = _decode_stream(obj_dict, stream)
            if decoded is not None and b"BT" in decoded:
                pages.append((decoded, {}))
    page_texts = [_content_to_text(p, fonts) for p, fonts in pages]
    return normalize_text("\n\n".join(t for t in page_texts if t.strip()))
