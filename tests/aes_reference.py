"""FIPS-197 AES written from the standard — the oracle for
``cc_extract.extractors.aes`` (OpenSSL EVP through ``cryptography``).

Shares no code with the product path: the S-box is *generated* from the
GF(2^8) multiplicative inverse and the affine map, the key expansion is
FIPS-197 §5.2, and each block runs the textbook rounds over a 16-byte
column-major state (SubBytes, ShiftRows, MixColumns, AddRoundKey and
their inverses, §5.1 and §5.3).  The mode loops are plain SP 800-38A
CBC and ECB.  Written for clarity, not speed.
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
    sbox = bytearray(256)
    for a in range(256):
        b = 0  # a^254 = a^-1 in GF(2^8); 0 maps to 0
        if a:
            b = 1
            for _ in range(254):
                b = _gf_mul(b, a)
        s = b
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            s ^= b
        sbox[a] = s ^ 0x63
    inv = bytearray(256)
    for i, v in enumerate(sbox):
        inv[v] = i
    return bytes(sbox), bytes(inv)


SBOX, INV_SBOX = _build_sbox()


def expand_key(key: bytes) -> list[bytes]:
    """FIPS-197 §5.2: the Nr+1 16-byte round keys."""
    if len(key) not in (16, 24, 32):
        raise ValueError("AES key must be 16/24/32 bytes")
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i: 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [SBOX[b] for b in t[1:] + t[:1]]
            t[0] ^= rcon
            rcon = _xtime(rcon)
        elif nk > 6 and i % nk == 4:
            t = [SBOX[b] for b in t]
        w.append([x ^ y for x, y in zip(w[i - nk], t)])
    return [bytes(sum(w[4 * r: 4 * r + 4], [])) for r in range(nr + 1)]


def _add(s: list[int], k: bytes) -> list[int]:
    return [a ^ b for a, b in zip(s, k)]


def _shift_rows(s: list[int], sign: int) -> list[int]:
    # state byte (row r, column c) sits at index 4c + r
    return [s[4 * ((c + sign * r) % 4) + r] for c in range(4) for r in range(4)]


def _mix_columns(s: list[int], m: tuple[int, int, int, int]) -> list[int]:
    out = []
    for c in range(4):
        col = s[4 * c: 4 * c + 4]
        for r in range(4):
            v = 0
            for j in range(4):
                v ^= _gf_mul(col[j], m[(j - r) % 4])
            out.append(v)
    return out


def encrypt_block(round_keys: list[bytes], block: bytes) -> bytes:
    s = _add(list(block), round_keys[0])
    for r in range(1, len(round_keys)):
        s = _shift_rows([SBOX[b] for b in s], 1)
        if r < len(round_keys) - 1:
            s = _mix_columns(s, (2, 3, 1, 1))
        s = _add(s, round_keys[r])
    return bytes(s)


def decrypt_block(round_keys: list[bytes], block: bytes) -> bytes:
    s = _add(list(block), round_keys[-1])
    for r in range(len(round_keys) - 2, -1, -1):
        s = [INV_SBOX[b] for b in _shift_rows(s, -1)]
        s = _add(s, round_keys[r])
        if r:
            s = _mix_columns(s, (14, 11, 13, 9))
    return bytes(s)


def _blocks(data: bytes):
    if len(data) % 16:
        raise ValueError("AES input not block-aligned")
    return (data[i: i + 16] for i in range(0, len(data), 16))


def ecb_encrypt(key: bytes, data: bytes) -> bytes:
    rk = expand_key(key)
    return b"".join(encrypt_block(rk, b) for b in _blocks(data))


def ecb_decrypt(key: bytes, data: bytes) -> bytes:
    rk = expand_key(key)
    return b"".join(decrypt_block(rk, b) for b in _blocks(data))


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rk, prev, out = expand_key(key), iv, []
    for b in _blocks(data):
        prev = encrypt_block(rk, bytes(x ^ y for x, y in zip(b, prev)))
        out.append(prev)
    return b"".join(out)


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rk, prev, out = expand_key(key), iv, []
    for b in _blocks(data):
        out.append(bytes(x ^ y for x, y in zip(decrypt_block(rk, b), prev)))
        prev = b
    return b"".join(out)
