"""Property tests pinning the vectorized MD5-60 kernel
(text/md5np.py) bit-for-bit to hashlib — the portable hash family the
DuckDB oracle mirrors. Any drift here would silently break every
hash-proven kernel that adopts the vectorized path."""

from __future__ import annotations

import hashlib

import numpy as np

from centimators_spark.text.md5np import finish_blocks, pack_base


def _ref(msg: bytes) -> int:
    return int(hashlib.md5(msg).hexdigest()[:15], 16)


def test_pack_base_suffix_matches_hashlib():
    ids = np.array([f"{i * 7919 % 100000}:{i % 7}" for i in range(3000)], dtype=object)
    packed = pack_base(ids, reserve=3)
    assert packed is not None
    base, lens = packed
    for i in (0, 3, 10):
        suf = f":{i}".encode()
        got = finish_blocks(base, lens, suf)
        ref = np.array([_ref((s + suf.decode()).encode()) for s in ids], dtype=np.int64)
        assert (got == ref).all(), suf


def test_pack_base_prefix_matches_hashlib():
    ids = np.array([str(i * 31) for i in range(2000)], dtype=object)
    packed = pack_base(ids, prefix=b"perm:")
    assert packed is not None
    got = finish_blocks(*packed)
    ref = np.array([_ref(b"perm:" + s.encode()) for s in ids], dtype=np.int64)
    assert (got == ref).all()


def test_pack_base_rejects_ineligible():
    assert pack_base(np.array(["héllo"], dtype=object)) is None
    assert pack_base(np.array(["x" * 56], dtype=object)) is None
    assert pack_base(np.array(["x" * 53], dtype=object), reserve=3) is None
    assert pack_base(np.array(["nul\x00"], dtype=object)) is None
    assert pack_base(np.array([], dtype=object)) is None
