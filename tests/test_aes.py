"""AES pinned to published vectors — FIPS-197 Appendix C block vectors
and NIST SP 800-38A CBC vectors — on both the product mode functions
(OpenSSL) and the from-scratch reference in tests/aes_reference.py, so
the PDF /AESV2 and /AESV3 writer/reader pair shares only a
provably-correct primitive and cannot hide a quirk inside it (the
GIF-LZW lesson applied to crypto)."""
import os

import pytest

from cc_extract.extractors import aes
from tests import aes_reference as ref


FIPS_BLOCKS = [
    # (key hex, plaintext hex, ciphertext hex) — FIPS-197 C.1/C.2/C.3
    ("000102030405060708090a0b0c0d0e0f",
     "00112233445566778899aabbccddeeff",
     "69c4e0d86a7b0430d8cdb78070b4c55a"),
    ("000102030405060708090a0b0c0d0e0f1011121314151617",
     "00112233445566778899aabbccddeeff",
     "dda97ca4864cdfe06eaf70a0ec0d7191"),
    ("000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f",
     "00112233445566778899aabbccddeeff",
     "8ea2b7ca516745bfeafc49904b496089"),
]


@pytest.mark.parametrize("key,pt,ct", FIPS_BLOCKS)
def test_fips197_block_vectors(key, pt, ct):
    k, p, c = bytes.fromhex(key), bytes.fromhex(pt), bytes.fromhex(ct)
    rk = ref.expand_key(k)
    assert ref.encrypt_block(rk, p) == c and ref.decrypt_block(rk, c) == p
    assert aes.ecb_encrypt(k, p) == c and aes.ecb_decrypt(k, c) == p


SP800_38A_PT = (
    "6bc1bee22e409f96e93d7e117393172aae2d8a571e03ac9c9eb76fac45af8e51"
    "30c81c46a35ce411e5fbc1191a0a52eff69f2445df4f9b17ad2b417be66c3710")
SP800_38A_IV = "000102030405060708090a0b0c0d0e0f"
SP800_38A_CBC = [
    ("2b7e151628aed2a6abf7158809cf4f3c",
     "7649abac8119b246cee98e9b12e9197d5086cb9b507219ee95db113a917678b2"
     "73bed6b8e3c1743b7116e69e222295163ff1caa1681fac09120eca307586e1a7"),
    ("603deb1015ca71be2b73aef0857d77811f352c073b6108d72d9810a30914dff4",
     "f58c4c04d6e5f1ba779eabfb5f7bfbd69cfc4e967edb808d679f777bc6702c7d"
     "39f23369a9d9bacfa530e26304231461b2eb05e2c39be9fcda6c19078c6a9d1b"),
]


@pytest.mark.parametrize("key,ct", SP800_38A_CBC)
def test_sp800_38a_cbc_vectors(key, ct):
    k, iv = bytes.fromhex(key), bytes.fromhex(SP800_38A_IV)
    pt = bytes.fromhex(SP800_38A_PT)
    for impl in (aes, ref):
        assert impl.cbc_encrypt(k, iv, pt).hex() == ct
        assert impl.cbc_decrypt(k, iv, bytes.fromhex(ct)) == pt


def test_cbc_numpy_path_matches_scalar():
    """The all-blocks-at-once product decrypt must agree bit-for-bit with
    a scalar block-by-block chain on every size and key width."""
    rng = __import__("random").Random(9)
    for klen in (16, 24, 32):
        for nblk in (1, 2, 3, 4, 5, 17, 64):
            key = bytes(rng.randrange(256) for _ in range(klen))
            iv = bytes(rng.randrange(256) for _ in range(16))
            data = bytes(rng.randrange(256) for _ in range(16 * nblk))
            ct = aes.cbc_encrypt(key, iv, data)
            # scalar chain over the reference block cipher, independent
            # of both modules' CBC helpers
            rk = ref.expand_key(key)
            out, prev = bytearray(), iv
            for i in range(0, len(ct), 16):
                blk = ct[i:i + 16]
                out += bytes(x ^ y
                             for x, y in zip(ref.decrypt_block(rk, blk), prev))
                prev = blk
            assert aes.cbc_decrypt(key, iv, ct) == bytes(out) == data


def test_misaligned_input_raises():
    key, iv = bytes(16), bytes(16)
    for n in (1, 15, 17, 33):
        data = bytes(n)
        for call in (lambda: aes.cbc_encrypt(key, iv, data),
                     lambda: aes.cbc_decrypt(key, iv, data),
                     lambda: aes.ecb_encrypt(key, data),
                     lambda: aes.ecb_decrypt(key, data)):
            with pytest.raises(ValueError, match="not block-aligned"):
                call()


def test_pkcs7_roundtrip_and_rejects():
    for n in range(0, 33):
        data = os.urandom(n)
        padded = aes.pkcs7_pad(data)
        assert len(padded) % 16 == 0 and aes.pkcs7_unpad(padded) == data
    with pytest.raises(ValueError):
        aes.pkcs7_unpad(b"")
    with pytest.raises(ValueError):
        aes.pkcs7_unpad(b"\x00" * 16)  # 0 is not a valid pad count
    with pytest.raises(ValueError):
        aes.pkcs7_unpad(b"\x01" * 15 + b"\x05")  # wrong fill bytes


def test_hash_2b_writer_reader_transcriptions_agree():
    """Algorithm 2.B (R6 password hash) is transcribed independently on
    the writer (corpusgen) and reader (pdf extractor) sides; they share
    only the vector-pinned AES core.  Agreement across salts/udata is the
    cross-check that neither transcription slipped."""
    from cc_extract.corpusgen import _hash_2b_cg
    from cc_extract.extractors.pdf import _hash_2b

    rng = __import__("random").Random(4)
    for _ in range(3):
        salt = bytes(rng.randrange(256) for _ in range(8))
        udata = bytes(rng.randrange(256) for _ in range(48))
        assert _hash_2b(b"", salt, b"") == _hash_2b_cg(b"", salt, b"")
        assert _hash_2b(b"", salt, udata) == _hash_2b_cg(b"", salt, udata)
        h = _hash_2b(b"", salt, b"")
        assert len(h) == 32 and h != _hash_2b(b"", salt[::-1] + b"x", b"")
