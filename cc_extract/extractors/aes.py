"""AES (FIPS-197) from scratch — the block cipher behind PDF /AESV2 and
/AESV3 crypt filters (ISO 32000 7.6.2: AES-128/256 in CBC with a leading
IV and PKCS#7 padding) and the R6 password-validation hash (Algorithm 2.B).

Everything here is the published standard: the S-box is *generated* from
the GF(2^8) multiplicative inverse + affine map rather than pasted, the
round function uses the classic four T-tables (one table lookup per state
byte per round — the fastest shape pure Python can take), and the
decryption schedule is the equivalent-inverse-cipher construction
(InvMixColumns folded into the round keys).  Test vectors from FIPS-197
Appendix C and NIST SP 800-38A pin correctness in tests/test_aes.py.

This implementation needs no crypto library: it is the reference
oracle, and the fallback when the OpenSSL-backed fast path below is not
importable.
"""
from __future__ import annotations


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x11B) & 0xFF if a & 0x100 else a


def _gf_mul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xtime(a)
        b >>= 1
    return out


def _build_sbox() -> tuple[bytes, bytes]:
    # multiplicative inverse via exponentiation (a^254 = a^-1 in GF(2^8))
    inv = [0] * 256
    for a in range(1, 256):
        x, r = a, 1
        for _ in range(7):  # a^(2+4+...+128+... ) -> a^254
            x = _gf_mul(x, x)
            r = _gf_mul(r, x)
        inv[a] = r
    sbox = bytearray(256)
    for a in range(256):
        b = inv[a]
        s = b
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            s ^= b
        sbox[a] = s ^ 0x63
    inv_sbox = bytearray(256)
    for i, v in enumerate(sbox):
        inv_sbox[v] = i
    return bytes(sbox), bytes(inv_sbox)


SBOX, INV_SBOX = _build_sbox()

# --- T-tables: column-mixed S-box outputs as big-endian 32-bit words ---
_TE0 = [0] * 256
_TE1 = [0] * 256
_TE2 = [0] * 256
_TE3 = [0] * 256
_TD0 = [0] * 256
_TD1 = [0] * 256
_TD2 = [0] * 256
_TD3 = [0] * 256
for _x in range(256):
    _s = SBOX[_x]
    _w = (_gf_mul(_s, 2) << 24) | (_s << 16) | (_s << 8) | _gf_mul(_s, 3)
    _TE0[_x] = _w
    _TE1[_x] = ((_w >> 8) | (_w << 24)) & 0xFFFFFFFF
    _TE2[_x] = ((_w >> 16) | (_w << 16)) & 0xFFFFFFFF
    _TE3[_x] = ((_w >> 24) | (_w << 8)) & 0xFFFFFFFF
    _t = INV_SBOX[_x]
    _w = ((_gf_mul(_t, 14) << 24) | (_gf_mul(_t, 9) << 16)
          | (_gf_mul(_t, 13) << 8) | _gf_mul(_t, 11))
    _TD0[_x] = _w
    _TD1[_x] = ((_w >> 8) | (_w << 24)) & 0xFFFFFFFF
    _TD2[_x] = ((_w >> 16) | (_w << 16)) & 0xFFFFFFFF
    _TD3[_x] = ((_w >> 24) | (_w << 8)) & 0xFFFFFFFF

_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
         0x6C, 0xD8, 0xAB, 0x4D]


def _sub_word(w: int) -> int:
    return ((SBOX[(w >> 24) & 0xFF] << 24) | (SBOX[(w >> 16) & 0xFF] << 16)
            | (SBOX[(w >> 8) & 0xFF] << 8) | SBOX[w & 0xFF])


class AES:
    """One expanded key, reusable across blocks (the per-object PDF keys
    each get their own instance; CBC state lives in the mode functions)."""

    def __init__(self, key: bytes):
        nk = len(key) // 4
        if len(key) not in (16, 24, 32):
            raise ValueError("AES key must be 16/24/32 bytes")
        self.rounds = nk + 6
        ek = [int.from_bytes(key[4 * i: 4 * i + 4], "big") for i in range(nk)]
        for i in range(nk, 4 * (self.rounds + 1)):
            t = ek[i - 1]
            if i % nk == 0:
                t = _sub_word(((t << 8) | (t >> 24)) & 0xFFFFFFFF) \
                    ^ (_RCON[i // nk - 1] << 24)
            elif nk > 6 and i % nk == 4:
                t = _sub_word(t)
            ek.append(ek[i - nk] ^ t)
        self._ek = ek
        # equivalent inverse cipher: reversed round-key groups, middle
        # keys passed through InvMixColumns (Td∘S cancels the S-box)
        groups = [ek[4 * r: 4 * r + 4] for r in range(self.rounds + 1)]
        dk = [w for grp in reversed(groups) for w in grp]
        for i in range(4, 4 * self.rounds):
            w = dk[i]
            dk[i] = (_TD0[SBOX[(w >> 24) & 0xFF]] ^ _TD1[SBOX[(w >> 16) & 0xFF]]
                     ^ _TD2[SBOX[(w >> 8) & 0xFF]] ^ _TD3[SBOX[w & 0xFF]])
        self._dk = dk

    def encrypt_block(self, b: bytes) -> bytes:
        ek = self._ek
        s0 = int.from_bytes(b[0:4], "big") ^ ek[0]
        s1 = int.from_bytes(b[4:8], "big") ^ ek[1]
        s2 = int.from_bytes(b[8:12], "big") ^ ek[2]
        s3 = int.from_bytes(b[12:16], "big") ^ ek[3]
        k = 4
        for _ in range(self.rounds - 1):
            t0 = (_TE0[s0 >> 24] ^ _TE1[(s1 >> 16) & 0xFF]
                  ^ _TE2[(s2 >> 8) & 0xFF] ^ _TE3[s3 & 0xFF] ^ ek[k])
            t1 = (_TE0[s1 >> 24] ^ _TE1[(s2 >> 16) & 0xFF]
                  ^ _TE2[(s3 >> 8) & 0xFF] ^ _TE3[s0 & 0xFF] ^ ek[k + 1])
            t2 = (_TE0[s2 >> 24] ^ _TE1[(s3 >> 16) & 0xFF]
                  ^ _TE2[(s0 >> 8) & 0xFF] ^ _TE3[s1 & 0xFF] ^ ek[k + 2])
            t3 = (_TE0[s3 >> 24] ^ _TE1[(s0 >> 16) & 0xFF]
                  ^ _TE2[(s1 >> 8) & 0xFF] ^ _TE3[s2 & 0xFF] ^ ek[k + 3])
            s0, s1, s2, s3 = t0, t1, t2, t3
            k += 4
        out = bytearray(16)
        for i, (a, b_, c, d) in enumerate(((s0, s1, s2, s3), (s1, s2, s3, s0),
                                           (s2, s3, s0, s1), (s3, s0, s1, s2))):
            w = ((SBOX[a >> 24] << 24) | (SBOX[(b_ >> 16) & 0xFF] << 16)
                 | (SBOX[(c >> 8) & 0xFF] << 8) | SBOX[d & 0xFF]) ^ ek[k + i]
            out[4 * i: 4 * i + 4] = w.to_bytes(4, "big")
        return bytes(out)

    def decrypt_block(self, b: bytes) -> bytes:
        dk = self._dk
        s0 = int.from_bytes(b[0:4], "big") ^ dk[0]
        s1 = int.from_bytes(b[4:8], "big") ^ dk[1]
        s2 = int.from_bytes(b[8:12], "big") ^ dk[2]
        s3 = int.from_bytes(b[12:16], "big") ^ dk[3]
        k = 4
        for _ in range(self.rounds - 1):
            t0 = (_TD0[s0 >> 24] ^ _TD1[(s3 >> 16) & 0xFF]
                  ^ _TD2[(s2 >> 8) & 0xFF] ^ _TD3[s1 & 0xFF] ^ dk[k])
            t1 = (_TD0[s1 >> 24] ^ _TD1[(s0 >> 16) & 0xFF]
                  ^ _TD2[(s3 >> 8) & 0xFF] ^ _TD3[s2 & 0xFF] ^ dk[k + 1])
            t2 = (_TD0[s2 >> 24] ^ _TD1[(s1 >> 16) & 0xFF]
                  ^ _TD2[(s0 >> 8) & 0xFF] ^ _TD3[s3 & 0xFF] ^ dk[k + 2])
            t3 = (_TD0[s3 >> 24] ^ _TD1[(s2 >> 16) & 0xFF]
                  ^ _TD2[(s1 >> 8) & 0xFF] ^ _TD3[s0 & 0xFF] ^ dk[k + 3])
            s0, s1, s2, s3 = t0, t1, t2, t3
            k += 4
        out = bytearray(16)
        for i, (a, b_, c, d) in enumerate(((s0, s3, s2, s1), (s1, s0, s3, s2),
                                           (s2, s1, s0, s3), (s3, s2, s1, s0))):
            w = ((INV_SBOX[a >> 24] << 24) | (INV_SBOX[(b_ >> 16) & 0xFF] << 16)
                 | (INV_SBOX[(c >> 8) & 0xFF] << 8) | INV_SBOX[d & 0xFF]) \
                ^ dk[k + i]
            out[4 * i: 4 * i + 4] = w.to_bytes(4, "big")
        return bytes(out)


try:
    import numpy as _np

    _TD_NP = _np.array([_TD0, _TD1, _TD2, _TD3], dtype=_np.uint32)
    _ISBOX_NP = _np.frombuffer(INV_SBOX, dtype=_np.uint8).astype(_np.uint32)
except ImportError:  # pragma: no cover - numpy is baked into the sandbox
    _np = None

# Optional OpenSSL-backed fast path (round 6, guide §4.2 "do the heavy
# lifting in native code"): the R6 password KDF (pdf._hash_2b) burns ~10^4
# CBC block encryptions per verification, which profiled as ~70% of ALL
# extraction cpu on an encrypted-PDF-bearing corpus — 6.2 s of a 9.2 s
# PDF pass went to the pure-Python T-table loop.  When the public
# ``cryptography`` package (OpenSSL) is importable we route the *mode*
# functions through EVP AES; the from-scratch implementation above stays
# the reference oracle (FIPS-197/SP 800-38A vectors in tests/test_aes.py
# plus a cross-backend differential test) and the fallback everywhere
# else.  Outputs are bit-identical by construction — AES is AES.
try:  # pragma: no cover - exercised via the differential test
    from cryptography.hazmat.primitives.ciphers import (
        Cipher as _OsslCipher,
        algorithms as _ossl_alg,
        modes as _ossl_modes,
    )
except ImportError:  # pragma: no cover
    _OsslCipher = None


def _ecb_decrypt_np(aes: "AES", data: bytes) -> bytes:
    """All-blocks-at-once inverse cipher: unlike CBC *encryption*, CBC
    *decryption* has no inter-block dependency, so the reader's hot path
    runs each round as a handful of numpy gathers over every block of the
    stream simultaneously (~30x the scalar loop on multi-KB streams)."""
    dk = aes._dk
    u32 = _np.frombuffer(data, dtype=">u4").reshape(-1, 4).astype(_np.uint32)
    s0 = u32[:, 0] ^ _np.uint32(dk[0])
    s1 = u32[:, 1] ^ _np.uint32(dk[1])
    s2 = u32[:, 2] ^ _np.uint32(dk[2])
    s3 = u32[:, 3] ^ _np.uint32(dk[3])
    td0, td1, td2, td3 = _TD_NP
    k = 4
    for _ in range(aes.rounds - 1):
        t0 = (td0[s0 >> 24] ^ td1[(s3 >> 16) & 0xFF]
              ^ td2[(s2 >> 8) & 0xFF] ^ td3[s1 & 0xFF] ^ _np.uint32(dk[k]))
        t1 = (td0[s1 >> 24] ^ td1[(s0 >> 16) & 0xFF]
              ^ td2[(s3 >> 8) & 0xFF] ^ td3[s2 & 0xFF] ^ _np.uint32(dk[k + 1]))
        t2 = (td0[s2 >> 24] ^ td1[(s1 >> 16) & 0xFF]
              ^ td2[(s0 >> 8) & 0xFF] ^ td3[s3 & 0xFF] ^ _np.uint32(dk[k + 2]))
        t3 = (td0[s3 >> 24] ^ td1[(s2 >> 16) & 0xFF]
              ^ td2[(s1 >> 8) & 0xFF] ^ td3[s0 & 0xFF] ^ _np.uint32(dk[k + 3]))
        s0, s1, s2, s3 = t0, t1, t2, t3
        k += 4
    sb = _ISBOX_NP
    w0 = ((sb[s0 >> 24] << 24) | (sb[(s3 >> 16) & 0xFF] << 16)
          | (sb[(s2 >> 8) & 0xFF] << 8) | sb[s1 & 0xFF]) ^ _np.uint32(dk[k])
    w1 = ((sb[s1 >> 24] << 24) | (sb[(s0 >> 16) & 0xFF] << 16)
          | (sb[(s3 >> 8) & 0xFF] << 8) | sb[s2 & 0xFF]) ^ _np.uint32(dk[k + 1])
    w2 = ((sb[s2 >> 24] << 24) | (sb[(s1 >> 16) & 0xFF] << 16)
          | (sb[(s0 >> 8) & 0xFF] << 8) | sb[s3 & 0xFF]) ^ _np.uint32(dk[k + 2])
    w3 = ((sb[s3 >> 24] << 24) | (sb[(s2 >> 16) & 0xFF] << 16)
          | (sb[(s1 >> 8) & 0xFF] << 8) | sb[s0 & 0xFF]) ^ _np.uint32(dk[k + 3])
    return _np.stack([w0, w1, w2, w3], axis=1).astype(">u4").tobytes()


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC decrypt (no padding removal — callers strip PKCS#7 where
    the format mandates it; /UE //OE wrapping in AESV3 has none)."""
    if len(data) % 16:
        raise ValueError("CBC ciphertext not block-aligned")
    if _OsslCipher is not None:
        d = _OsslCipher(_ossl_alg.AES(key), _ossl_modes.CBC(iv)).decryptor()
        return d.update(data) + d.finalize()
    return _cbc_decrypt_py(key, iv, data)


def _cbc_decrypt_py(key: bytes, iv: bytes, data: bytes) -> bytes:
    """The from-scratch path (numpy all-blocks inverse cipher when
    available, scalar chain otherwise) — kept as the reference oracle the
    cross-backend differential test pins the OpenSSL route against."""
    aes = AES(key)
    if _np is not None and len(data) >= 64:
        ecb = _ecb_decrypt_np(aes, data)
        chain = _np.frombuffer(iv + data[:-16], dtype=_np.uint8)
        return (_np.frombuffer(ecb, dtype=_np.uint8) ^ chain).tobytes()
    out = bytearray(len(data))
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i: i + 16]
        pt = aes.decrypt_block(blk)
        out[i: i + 16] = bytes(a ^ b for a, b in zip(pt, prev))
        prev = blk
    return bytes(out)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC encrypt — inherently sequential (each block chains on the
    last), so unlike cbc_decrypt it cannot be numpy-vectorized.  Instead
    the whole message runs in one int-domain loop: unpack once, chain as
    32-bit words, pack once — ~4x the naive per-block path, which matters
    because the R6 password KDF (pdf._hash_2b) deliberately burns ~10^4
    block encryptions per verification."""
    if len(data) % 16:
        raise ValueError("CBC plaintext not block-aligned")
    if _OsslCipher is not None:
        e = _OsslCipher(_ossl_alg.AES(key), _ossl_modes.CBC(iv)).encryptor()
        return e.update(data) + e.finalize()
    return _cbc_encrypt_py(key, iv, data)


def _cbc_encrypt_py(key: bytes, iv: bytes, data: bytes) -> bytes:
    """The from-scratch int-domain T-table chain — reference oracle for
    the differential test, fallback when OpenSSL is absent."""
    import struct as _s

    aes = AES(key)
    ek = aes._ek
    nr1 = aes.rounds - 1
    te0, te1, te2, te3 = _TE0, _TE1, _TE2, _TE3
    sb = SBOX
    k0, k1, k2, k3 = ek[0], ek[1], ek[2], ek[3]
    nw = len(data) // 4
    words = _s.unpack(">%dI" % nw, data)
    p0, p1, p2, p3 = _s.unpack(">4I", iv)
    out = [0] * nw
    for i in range(0, nw, 4):
        s0 = words[i] ^ p0 ^ k0
        s1 = words[i + 1] ^ p1 ^ k1
        s2 = words[i + 2] ^ p2 ^ k2
        s3 = words[i + 3] ^ p3 ^ k3
        k = 4
        for _ in range(nr1):
            t0 = (te0[s0 >> 24] ^ te1[(s1 >> 16) & 0xFF]
                  ^ te2[(s2 >> 8) & 0xFF] ^ te3[s3 & 0xFF] ^ ek[k])
            t1 = (te0[s1 >> 24] ^ te1[(s2 >> 16) & 0xFF]
                  ^ te2[(s3 >> 8) & 0xFF] ^ te3[s0 & 0xFF] ^ ek[k + 1])
            t2 = (te0[s2 >> 24] ^ te1[(s3 >> 16) & 0xFF]
                  ^ te2[(s0 >> 8) & 0xFF] ^ te3[s1 & 0xFF] ^ ek[k + 2])
            t3 = (te0[s3 >> 24] ^ te1[(s0 >> 16) & 0xFF]
                  ^ te2[(s1 >> 8) & 0xFF] ^ te3[s2 & 0xFF] ^ ek[k + 3])
            s0, s1, s2, s3 = t0, t1, t2, t3
            k += 4
        p0 = ((sb[s0 >> 24] << 24) | (sb[(s1 >> 16) & 0xFF] << 16)
              | (sb[(s2 >> 8) & 0xFF] << 8) | sb[s3 & 0xFF]) ^ ek[k]
        p1 = ((sb[s1 >> 24] << 24) | (sb[(s2 >> 16) & 0xFF] << 16)
              | (sb[(s3 >> 8) & 0xFF] << 8) | sb[s0 & 0xFF]) ^ ek[k + 1]
        p2 = ((sb[s2 >> 24] << 24) | (sb[(s3 >> 16) & 0xFF] << 16)
              | (sb[(s0 >> 8) & 0xFF] << 8) | sb[s1 & 0xFF]) ^ ek[k + 2]
        p3 = ((sb[s3 >> 24] << 24) | (sb[(s0 >> 16) & 0xFF] << 16)
              | (sb[(s1 >> 8) & 0xFF] << 8) | sb[s2 & 0xFF]) ^ ek[k + 3]
        out[i] = p0
        out[i + 1] = p1
        out[i + 2] = p2
        out[i + 3] = p3
    return _s.pack(">%dI" % nw, *out)


def ecb_decrypt(key: bytes, data: bytes) -> bytes:
    if _OsslCipher is not None and len(data) % 16 == 0:
        d = _OsslCipher(_ossl_alg.AES(key), _ossl_modes.ECB()).decryptor()
        return d.update(data) + d.finalize()
    aes = AES(key)
    return b"".join(aes.decrypt_block(data[i: i + 16])
                    for i in range(0, len(data), 16))


def ecb_encrypt(key: bytes, data: bytes) -> bytes:
    if _OsslCipher is not None and len(data) % 16 == 0:
        e = _OsslCipher(_ossl_alg.AES(key), _ossl_modes.ECB()).encryptor()
        return e.update(data) + e.finalize()
    aes = AES(key)
    return b"".join(aes.encrypt_block(data[i: i + 16])
                    for i in range(0, len(data), 16))


def pkcs7_pad(data: bytes) -> bytes:
    n = 16 - len(data) % 16
    return data + bytes([n]) * n


def pkcs7_unpad(data: bytes) -> bytes:
    if not data or len(data) % 16:
        raise ValueError("bad PKCS#7 length")
    n = data[-1]
    if not 1 <= n <= 16 or data[-n:] != bytes([n]) * n:
        raise ValueError("bad PKCS#7 padding")
    return data[:-n]
