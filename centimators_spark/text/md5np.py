"""Vectorized MD5-60 — numpy-batched single-block MD5 producing the
exact portable hash value ``int(md5(msg).hexdigest()[:15], 16)`` the
engine's hash-proven kernels use (text/portable.py's md5_long /
sql_md5_long family), for batches of SHORT messages.

Motivation (guide §4.2 — do the heavy lifting in vectorized native
code): the Arrow partial-aggregation kernels (ml/bootstrap.py) spend
most of their Python time in per-message ``hashlib.md5`` calls
(~1.1 µs each, measured 70% of the Poisson kernel). A message of ≤ 55 bytes pads to exactly
ONE 64-byte MD5 block, so the whole digest is one 64-round
compression — expressible as ~7 uint32 numpy ops per round over the
entire batch at once. Measured 5-8x over the hashlib loop on the
bootstrap id chains.

Correctness: this is bit-for-bit MD5 (RFC 1321 constants, verified
against hashlib on random inputs by tests/test_md5np.py); callers
fall back to hashlib for messages that are non-ASCII or longer than
55 bytes, so values NEVER depend on which path ran.
"""

from __future__ import annotations

import math

import numpy as np

_S = np.array(
    [7, 12, 17, 22] * 4
    + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4
    + [6, 10, 15, 21] * 4,
    dtype=np.uint32,
)
# K[i] = floor(|sin(i+1)| * 2^32) — the RFC 1321 sine table
_K = np.array(
    [int(abs(math.sin(i + 1)) * 2**32) & 0xFFFFFFFF for i in range(64)],
    dtype=np.uint32,
)
_G = np.array(
    list(range(16))
    + [(5 * i + 1) % 16 for i in range(16)]
    + [(3 * i + 5) % 16 for i in range(16)]
    + [(7 * i) % 16 for i in range(16)],
    dtype=np.int64,
)
_A0, _B0, _C0, _D0 = 0x67452301, 0xEFCDAB89, 0x98BADCFE, 0x10325476

# one message + 0x80 marker must fit below the 8-byte length field
MAX_MSG = 55


def _rotl(x: np.ndarray, s: int) -> np.ndarray:
    return (x << np.uint32(s)) | (x >> np.uint32(32 - s))


def md5_60_block(M: np.ndarray) -> np.ndarray:
    """(N, 16) uint32 little-endian padded single blocks -> (N,) int64
    of the top 60 digest bits (== int(md5_hex[:15], 16))."""
    n = M.shape[0]
    a = np.full(n, _A0, dtype=np.uint32)
    b = np.full(n, _B0, dtype=np.uint32)
    c = np.full(n, _C0, dtype=np.uint32)
    d = np.full(n, _D0, dtype=np.uint32)
    for i in range(64):
        if i < 16:
            f = (b & c) | (~b & d)
        elif i < 32:
            f = (d & b) | (~d & c)
        elif i < 48:
            f = b ^ c ^ d
        else:
            f = c ^ (b | ~d)
        tmp = d
        d = c
        c = b
        b = b + _rotl(a + f + _K[i] + M[:, _G[i]], int(_S[i]))
        a = tmp
    # digest bytes 0-7 are LE(a'), LE(b'); the portable value reads
    # them big-endian and keeps the top 60 bits
    a = (a + np.uint32(_A0)).byteswap()
    b = (b + np.uint32(_B0)).byteswap()
    return (
        ((a.astype(np.uint64) << np.uint64(32)) | b.astype(np.uint64))
        >> np.uint64(4)
    ).astype(np.int64)


def pack_base(
    ids: np.ndarray, prefix: bytes = b"", reserve: int = 0
):
    """Pack an object array of strings into reusable MD5 block
    templates: returns (base_blocks (N, 64) uint8, message_lens) with
    ``prefix + id`` written and padding/length fields left for
    :func:`finish_blocks`, or None when the batch is ineligible for
    the vectorized path (non-ASCII, or some prefix+id+reserve would
    exceed 55 bytes — callers then use hashlib).

    ``reserve``: bytes the caller will append per message (suffixes),
    counted against the single-block limit up front."""
    n = len(ids)
    if n == 0:
        return None
    try:
        s = ids.astype("S")  # C-level ASCII encode; raises on non-ASCII
    except (UnicodeEncodeError, UnicodeDecodeError, ValueError):
        return None
    blens = np.char.str_len(s).astype(np.int64)
    # trailing-NUL guard: S-dtype length would under-count an id that
    # ends in NUL bytes; cross-check against true character lengths
    # (== byte lengths for ASCII)
    clens = np.fromiter((len(x) for x in ids), dtype=np.int64, count=n)
    if not (blens == clens).all():
        return None
    p = len(prefix)
    if int(blens.max()) + p + reserve > MAX_MSG:
        return None
    w = s.dtype.itemsize
    base = np.zeros((n, 64), dtype=np.uint8)
    if p:
        base[:, :p] = np.frombuffer(prefix, dtype=np.uint8)
    base[:, p : p + w] = np.frombuffer(s.tobytes(), dtype=np.uint8).reshape(
        n, w
    )
    return base, blens + p


def finish_blocks(
    base: np.ndarray, lens: np.ndarray, suffix: bytes = b""
) -> np.ndarray:
    """Append ``suffix`` to every template message, apply MD5 padding
    (0x80 marker + little-endian bit length) and run the compression.
    The template is not modified (the copy doubles as the padding
    scratch), so one ``pack_base`` serves many suffixes."""
    n = len(lens)
    blocks = base.copy()
    idx = np.arange(n)
    for k, byte in enumerate(suffix):
        blocks[idx, lens + k] = byte
    tl = lens + len(suffix)
    blocks[idx, tl] = 0x80
    blocks[:, 56:64] = (tl * 8).astype("<u8").view(np.uint8).reshape(n, 8)
    return md5_60_block(blocks.view("<u4"))
