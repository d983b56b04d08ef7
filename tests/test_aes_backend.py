"""Product-vs-reference differential: the OpenSSL-backed AES mode
functions in cc_extract.extractors.aes must agree bit-for-bit with the
from-scratch FIPS-197 cipher in tests/aes_reference.py on random sizes,
keys and IVs, and the PDF handler's RC4 with a plain KSA + PRGA loop on
every key width it derives."""
import random

from cc_extract.extractors import aes
from cc_extract.extractors.pdf import _rc4
from tests import aes_reference as ref


def _rc4_py(key: bytes, data: bytes) -> bytes:
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


def test_cbc_backends_agree():
    rng = random.Random(6)
    for klen in (16, 24, 32):
        for nblocks in (1, 2, 3, 4, 5, 7, 17, 64, 128):
            key = bytes(rng.randrange(256) for _ in range(klen))
            iv = bytes(rng.randrange(256) for _ in range(16))
            pt = bytes(rng.randrange(256) for _ in range(16 * nblocks))
            ct = aes.cbc_encrypt(key, iv, pt)
            assert ct == ref.cbc_encrypt(key, iv, pt)
            assert aes.cbc_decrypt(key, iv, ct) == pt
            assert ref.cbc_decrypt(key, iv, ct) == pt


def test_ecb_backends_agree():
    rng = random.Random(7)
    for klen in (16, 24, 32):
        key = bytes(rng.randrange(256) for _ in range(klen))
        pt = bytes(rng.randrange(256) for _ in range(16 * 9))
        ct = ref.ecb_encrypt(key, pt)
        assert aes.ecb_encrypt(key, pt) == ct
        assert aes.ecb_decrypt(key, ct) == pt == ref.ecb_decrypt(key, ct)


def test_rc4_backends_agree():
    rng = random.Random(8)
    for klen in (5, 6, 7, 10, 16):  # 6/7/10 bytes run the pure loop
        key = bytes(rng.randrange(256) for _ in range(klen))
        data = bytes(rng.randrange(256) for _ in range(777))
        assert _rc4(key, data) == _rc4_py(key, data)
