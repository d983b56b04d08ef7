"""AES mode functions behind the PDF /AESV2 and /AESV3 crypt filters
(ISO 32000 7.6.2: AES-128/256 in CBC with a leading IV and PKCS#7
padding) and the R6 password-validation hash (Algorithm 2.B), on
OpenSSL's EVP AES through the ``cryptography`` package.

The R6 KDF (pdf._hash_2b) burns ~10^4 CBC block encryptions per
password check, so the cipher runs in native code.  The from-scratch
FIPS-197 cipher in tests/aes_reference.py is the oracle these functions
are checked against (FIPS-197 Appendix C and NIST SP 800-38A vectors in
tests/test_aes.py, product-vs-reference in tests/test_aes_backend.py).
"""
from __future__ import annotations

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes


def _crypt(key: bytes, iv: bytes | None, data: bytes, decrypt: bool) -> bytes:
    """CBC under *iv*, ECB when *iv* is None; misaligned input raises
    before the key and IV are checked."""
    if len(data) % 16:
        raise ValueError(f"{'ECB' if iv is None else 'CBC'} "
                         f"{'ciphertext' if decrypt else 'plaintext'} "
                         "not block-aligned")
    c = Cipher(algorithms.AES(key), modes.ECB() if iv is None else modes.CBC(iv))
    ctx = c.decryptor() if decrypt else c.encryptor()
    return ctx.update(data) + ctx.finalize()


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC decrypt (no padding removal — callers strip PKCS#7 where
    the format mandates it; /UE //OE wrapping in AESV3 has none)."""
    return _crypt(key, iv, data, True)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    return _crypt(key, iv, data, False)


def ecb_decrypt(key: bytes, data: bytes) -> bytes:
    return _crypt(key, None, data, True)


def ecb_encrypt(key: bytes, data: bytes) -> bytes:
    return _crypt(key, None, data, False)


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
