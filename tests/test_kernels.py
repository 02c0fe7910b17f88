"""Unit tests for the numpy hash/indexing kernels.

Golden values are cross-checked against an independent pure-python-int
implementation of the same published algorithms (murmur3 finalizer, splitmix64,
Lemire reduction), which catches any numpy wraparound/casting bug.
"""

import math

import numpy as np
import pytest

from xorf_spark import kernels as K

M64 = (1 << 64) - 1


def py_mix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & M64
    k ^= k >> 33
    return k


def py_splitmix64(state: int):
    state = (state + 0x9E3779B97F4A7C15) & M64
    z = state
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & M64
    return state, z ^ (z >> 31)


def test_splitmix64_schedule():
    # the seed schedule all constructors use starts from state=1
    # (reference src/prelude/xor.rs:91, src/prelude/bfuse.rs:145)
    s_np, s_py = 1, 1
    for _ in range(10):
        s_np, v_np = K.splitmix64(s_np)
        s_py, v_py = py_splitmix64(s_py)
        assert v_np == v_py
        assert s_np == s_py


def test_mix64_matches_python_ints():
    rng = np.random.default_rng(1)
    ks = rng.integers(0, 2**64, 1000, dtype=np.uint64)
    got = K.mix64(ks)
    want = np.array([py_mix64(int(k)) for k in ks], dtype=np.uint64)
    np.testing.assert_array_equal(got, want)


def test_mix_wrapping_add():
    # mix(key, seed) = mix64(key wrapping_add seed) (src/prelude/mod.rs:34-37)
    keys = np.array([M64, 1, 0], dtype=np.uint64)
    seed = 2
    got = K.mix(keys, seed)
    want = np.array([py_mix64(1), py_mix64(3), py_mix64(2)], dtype=np.uint64)
    np.testing.assert_array_equal(got, want)


def test_rotl64():
    rng = np.random.default_rng(2)
    xs = rng.integers(0, 2**64, 100, dtype=np.uint64)
    for c in (0, 1, 21, 42, 63, 64):
        got = K.rotl64(xs, c)
        want = np.array(
            [((int(x) << (c % 64)) | (int(x) >> ((-c) % 64))) & M64 for x in xs],
            dtype=np.uint64)
        np.testing.assert_array_equal(got, want)


def test_reduce32_lemire():
    rng = np.random.default_rng(3)
    hs = rng.integers(0, 2**32, 1000, dtype=np.uint64)
    n = 12345
    got = K.reduce32(hs, n)
    want = np.array([(int(h) * n) >> 32 for h in hs], dtype=np.uint64)
    np.testing.assert_array_equal(got, want)
    assert got.max() < n


def test_xor_h012_in_range():
    rng = np.random.default_rng(4)
    hs = rng.integers(0, 2**64, 10000, dtype=np.uint64)
    bl = 54321
    g0, g1, g2 = K.xor_h012(hs, bl)
    assert g0.max() < bl
    assert bl <= g1.min() and g1.max() < 2 * bl
    assert 2 * bl <= g2.min() and g2.max() < 3 * bl


def test_bfuse_hash_of_hash_128bit_emulation():
    rng = np.random.default_rng(5)
    hs = rng.integers(0, 2**64, 10000, dtype=np.uint64)
    sl, scl = 1 << 12, 37 * (1 << 12)
    slm = sl - 1
    h0, h1, h2 = K.bfuse_hash_of_hash(hs, sl, slm, scl)
    for h, g0, g1, g2 in zip(hs[:500], h0[:500], h1[:500], h2[:500]):
        hi = (int(h) * scl) >> 64  # true 128-bit product
        w0 = hi & 0xFFFFFFFF
        w1 = ((w0 + sl) ^ ((int(h) >> 18) & slm)) & 0xFFFFFFFF
        w2 = ((w0 + 2 * sl) ^ (int(h) & slm)) & 0xFFFFFFFF
        assert (int(g0), int(g1), int(g2)) == (w0, w1, w2)
    assert h2.max() < scl + 2 * sl  # indices stay inside the array


def test_bfuse_hash_of_hash_128bit_property():
    """Hypothesis sweep of the hi/lo 128-bit emulation against Python
    bigint math at adversarial extremes (r4 verdict optional item 9):
    all-ones / near-2^64 hashes, hashes straddling the 32-bit split, and
    every plausible layout size up to the reference's segment_length cap
    (262144) and 16M-key shard capacity — the one kernel whose Rust twin
    uses genuine u128."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    edge_hashes = st.sampled_from(
        [0, 1, 0xFFFFFFFF, 0x100000000, 0xFFFFFFFF00000000,
         0xFFFFFFFFFFFFFFFF, 0x8000000000000000, 0x00000000FFFFFFFF,
         0xFFFFFFFE00000001])
    any_hash = st.integers(min_value=0, max_value=(1 << 64) - 1)

    @settings(max_examples=300, deadline=None)
    @given(h=st.one_of(edge_hashes, any_hash),
           log_sl=st.integers(min_value=2, max_value=18),
           segs=st.integers(min_value=1, max_value=512))
    def check(h, log_sl, segs):
        sl = 1 << log_sl          # reference caps segment_length at 2^18
        scl = segs * sl           # segment_count_length
        g0, g1, g2 = K.bfuse_hash_of_hash(
            np.array([h], dtype=np.uint64), sl, sl - 1, scl)
        hi = (h * scl) >> 64      # true 128-bit product, Python bigint
        w0 = hi & 0xFFFFFFFF
        w1 = ((w0 + sl) ^ ((h >> 18) & (sl - 1))) & 0xFFFFFFFF
        w2 = ((w0 + 2 * sl) ^ (h & (sl - 1))) & 0xFFFFFFFF
        assert (int(g0[0]), int(g1[0]), int(g2[0])) == (w0, w1, w2)
        assert int(g2[0]) < scl + 2 * sl  # in-array invariant

    check()


def test_bfuse_sizing_reference_values():
    # segment_length: 1 << floor(log(size)/log(3.33)+2.25)  (src/prelude/bfuse.rs:15-25)
    assert K.bfuse_segment_length(3, 0) == 4
    assert K.bfuse_segment_length(3, 1_000_000) == 1 << int(
        math.floor(math.log(1e6) / math.log(3.33) + 2.25))
    # size_factor floor 1.125 at large sizes (src/prelude/bfuse.rs:28-37)
    assert K.bfuse_size_factor(3, 10**9) == 1.125
    lay = K.bfuse_layout(1_000_000)
    assert lay["array_len"] % lay["segment_length"] == 0
    assert lay["segment_count_length"] == lay["segment_count"] * lay["segment_length"]
    # bits/entry for bfuse8 at 1e6 must sit under the reference doc bound 9.1
    assert lay["array_len"] * 8 / 1_000_000 < 9.1
    # single-key edge (reference src/bfuse8.rs:228-233 regression)
    lay1 = K.bfuse_layout(1)
    assert lay1["array_len"] == 12 and lay1["segment_length"] == 4


def test_xor_layout():
    # capacity = (1.23*n + 32) rounded down to multiple of 3 (src/prelude/xor.rs:72-75)
    lay = K.xor_layout(1_000_000)
    assert lay["capacity"] == (int(1.23 * 1_000_000) + 32) // 3 * 3
    assert lay["capacity"] % 3 == 0
    assert lay["block_length"] * 3 == lay["capacity"]
    assert lay["capacity"] * 8 / 1_000_000 < 10  # Xor8 doc bound (src/xor8.rs:40)


def test_fuse_layout():
    lay = K.fuse_layout(1_000_000)
    assert lay["capacity"] % K.FUSE_SLOTS == 0
    assert lay["capacity"] * 8 / 1_000_000 < 9.101  # Fuse8 bound (src/fuse8.rs:157)


def test_fingerprint_truncation():
    h = np.array([0x1234567890ABCDEF], dtype=np.uint64)
    full = int(h[0]) ^ (int(h[0]) >> 32)
    assert K.fingerprint(h, np.uint8)[0] == full & 0xFF
    assert K.fingerprint(h, np.uint16)[0] == full & 0xFFFF
    assert K.fingerprint(h, np.uint32)[0] == full & 0xFFFFFFFF
