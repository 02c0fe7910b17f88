"""Bit-exact numpy kernels for the xorf filter family.

These reproduce, on uint64 numpy arrays, the hash and indexing primitives of
the reference Rust crate (ayazhafiz/xorf):

- ``mix64``       — murmur3 finalizer            (reference src/murmur3.rs:30-37)
- ``splitmix64``  — deterministic seed schedule  (reference src/splitmix64.rs:12-18)
- ``mix``         — mix64(key + seed)            (reference src/prelude/mod.rs:34-37)
- ``fingerprint`` — hash ^ (hash >> 32)          (reference src/prelude/mod.rs:42-46)
- ``rotl64``      — rotate-left                  (reference src/prelude/mod.rs:51-55)
- ``reduce32``    — Lemire multiply-shift range  (reference src/prelude/mod.rs:57-64)
- ``xor_h``       — xor-filter block index       (reference src/prelude/xor.rs:21-28)
- ``fuse_h012``   — fuse segment index           (reference src/prelude/fuse.rs:23-42)
- ``bfuse_hash_of_hash`` — binary fuse index     (reference src/prelude/bfuse.rs:40-53)
- sizing math for binary fuse                    (reference src/prelude/bfuse.rs:15-37)

All arithmetic is wrapping-uint64, matching Rust ``overflowing_*`` semantics.
Everything here is vectorized over numpy arrays — there is no per-key Python in
any hot path.
"""

from __future__ import annotations

import math

import numpy as np

U64 = np.uint64
U32 = np.uint32
MASK64 = (1 << 64) - 1

#: Fingerprint dtype per width in bits: the little-endian DMA layout of
#: the fingerprint bytes (reference src/lib.rs:139-154).
_FP_DTYPES = {8: np.dtype("<u1"), 16: np.dtype("<u2"), 32: np.dtype("<u4")}


# murmur3 finalizer multipliers (reference src/murmur3.rs:32-34)
_M1 = U64(0xFF51AFD7ED558CCD)
_M2 = U64(0xC4CEB9FE1A85EC53)

# splitmix64 constants (reference src/splitmix64.rs:13-16)
_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_A = 0xBF58476D1CE4E5B9
_SM_B = 0x94D049BB133111EB

# fuse family constants (reference src/prelude/fuse.rs:3-7)
FUSE_H3 = U64(0xBF58476D1CE4E5B9)
FUSE_SEGMENT_COUNT = 100
FUSE_SLOTS = FUSE_SEGMENT_COUNT + 3 - 1  # 102
FUSE_OVERHEAD = 1.0 / 0.879


def splitmix64(state: int) -> tuple[int, int]:
    """One step of splitmix64. Returns ``(new_state, value)`` as python ints.

    Mirrors reference src/splitmix64.rs:12-18; all constructors start the
    schedule from ``state = 1`` (reference src/prelude/xor.rs:91,
    src/prelude/bfuse.rs:145).
    """
    state = (state + _SM_GAMMA) & MASK64
    z = state
    z = ((z ^ (z >> 30)) * _SM_A) & MASK64
    z = ((z ^ (z >> 27)) * _SM_B) & MASK64
    return state, z ^ (z >> 31)


def mix64(k: np.ndarray) -> np.ndarray:
    """Murmur3 avalanche finalizer over a uint64 array (src/murmur3.rs:30-37)."""
    with np.errstate(over="ignore"):
        k = k ^ (k >> U64(33))
        k = k * _M1
        k = k ^ (k >> U64(33))
        k = k * _M2
        k = k ^ (k >> U64(33))
    return k


def mix(keys: np.ndarray, seed: int) -> np.ndarray:
    """``mix64(key.wrapping_add(seed))`` (reference src/prelude/mod.rs:34-37)."""
    with np.errstate(over="ignore"):
        return mix64(keys.astype(U64, copy=False) + U64(seed & MASK64))


def fingerprint(h: np.ndarray, fp_dtype) -> np.ndarray:
    """``hash ^ (hash >> 32)`` truncated to the fingerprint width
    (reference src/prelude/mod.rs:42-46)."""
    return (h ^ (h >> U64(32))).astype(fp_dtype)


def rotl64(x: np.ndarray, c: int) -> np.ndarray:
    """Rotate-left with ``&63`` masking (reference src/prelude/mod.rs:51-55)."""
    c_l = U64(c & 63)
    c_r = U64((-c) & 63)
    if int(c_l) == 0:
        # Rust's expression is (x << 0) | (x >> 0) == x when c ≡ 0 (mod 64).
        return x.copy()
    return (x << c_l) | (x >> c_r)


def reduce32(h32: np.ndarray, n: int) -> np.ndarray:
    """Lemire multiply-shift: ``(h32 as u64 * n) >> 32``
    (reference src/prelude/mod.rs:57-64). ``h32`` must hold values < 2**32."""
    with np.errstate(over="ignore"):
        return (h32.astype(U64, copy=False) * U64(n)) >> U64(32)


def xor_h(h: np.ndarray, i: int, block_length: int) -> np.ndarray:
    """Block index for xor filters: ``reduce(rotl64(hash, 21*i) as u32, bl)``
    (reference src/prelude/xor.rs:21-28)."""
    rot = rotl64(h, 21 * i) & U64(0xFFFFFFFF)
    return reduce32(rot, block_length)


def xor_h012(h: np.ndarray, block_length: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Global (3-block concatenated) slot indices for the xor family
    (reference src/prelude/xor.rs:4-16, block offsets per src/prelude/xor.rs:41-47).

    Returns int64 views (indices < 3*block_length < 2**63) — zero-copy and
    faster for fancy indexing than uint64.
    """
    bl = U64(block_length)
    g0 = xor_h(h, 0, block_length)
    g1 = xor_h(h, 1, block_length) + bl
    g2 = xor_h(h, 2, block_length) + bl + bl
    return g0.view(np.int64), g1.view(np.int64), g2.view(np.int64)


def fuse_h012(h: np.ndarray, segment_length: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fuse (deprecated family) segment-striped indices
    (reference src/prelude/fuse.rs:23-42)."""
    m32 = U64(0xFFFFFFFF)
    r0 = h & m32
    r1 = rotl64(h, 21) & m32
    r2 = rotl64(h, 42) & m32
    with np.errstate(over="ignore"):
        r3 = ((FUSE_H3 * h) >> U64(32)) & m32
    seg = reduce32(r0, FUSE_SEGMENT_COUNT)
    sl = U64(segment_length)
    g0 = seg * sl + reduce32(r1, segment_length)
    g1 = (seg + U64(1)) * sl + reduce32(r2, segment_length)
    g2 = (seg + U64(2)) * sl + reduce32(r3, segment_length)
    return g0.view(np.int64), g1.view(np.int64), g2.view(np.int64)


def bfuse_hash_of_hash(
    h: np.ndarray,
    segment_length: int,
    segment_length_mask: int,
    segment_count_length: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Binary fuse indices (reference src/prelude/bfuse.rs:40-53).

    The Rust code computes ``hi = (hash as u128 * scl) >> 64``; we emulate the
    128-bit product with a hi/lo 32-bit split (exact, wrapping-free by range).
    """
    scl = U64(segment_count_length)
    a = h >> U64(32)
    b = h & U64(0xFFFFFFFF)
    with np.errstate(over="ignore"):
        a *= scl
        b *= scl
        b >>= U64(32)
        a += b
        h0 = a
        h0 >>= U64(32)  # == full (h*scl)>>64, always < scl ≤ 2^32
        sl = U64(segment_length)
        mask = U64(segment_length_mask)
        t1 = h0 + sl
        t2 = t1 + sl
        h1 = t1
        h1 ^= (h >> U64(18)) & mask
        h2 = t2
        h2 ^= h & mask
    return h0.view(np.int64), h1.view(np.int64), h2.view(np.int64)


def bfuse_segment_length(arity: int, size: int) -> int:
    """reference src/prelude/bfuse.rs:15-25 (call sites cap at 262144)."""
    if size == 0:
        return 4
    if arity == 3:
        return 1 << int(math.floor(math.log(size) / math.log(3.33) + 2.25))
    if arity == 4:
        return 1 << int(math.floor(math.log(size) / math.log(2.91) - 0.5))
    return 65536


def bfuse_size_factor(arity: int, size: int) -> float:
    """reference src/prelude/bfuse.rs:28-37. Callers guard ``size > 1``."""
    if arity == 3:
        return max(1.125, 0.875 + 0.25 * math.log(1_000_000.0) / math.log(size))
    if arity == 4:
        return max(1.075, 0.77 + 0.305 * math.log(600_000.0) / math.log(size))
    return 2.0


def bfuse_layout(size: int) -> dict:
    """Array sizing for a binary fuse filter (reference src/prelude/bfuse.rs:119-165).

    Returns segment_length, segment_length_mask, segment_count,
    segment_count_length, array_len and block_bits for ``size`` distinct keys.
    """
    arity = 3
    segment_length = min(bfuse_segment_length(arity, size), 262144)
    segment_length_mask = segment_length - 1
    if size > 1:
        capacity = int(round(size * bfuse_size_factor(arity, size)))
    else:
        capacity = 0
    init_segment_count = -(-capacity // segment_length)  # div_ceil
    array_len = init_segment_count * segment_length
    proposed = -(-array_len // segment_length)
    segment_count = 1 if proposed < arity else proposed - (arity - 1)
    array_len = (segment_count + arity - 1) * segment_length
    segment_count_length = segment_count * segment_length
    block_bits = 1
    while (1 << block_bits) < segment_count:
        block_bits += 1
    return {
        "segment_length": segment_length,
        "segment_length_mask": segment_length_mask,
        "segment_count": segment_count,
        "segment_count_length": segment_count_length,
        "array_len": int(array_len),
        "block_bits": block_bits,
    }


def xor_layout(size: int) -> dict:
    """Capacity math for the xor family (reference src/prelude/xor.rs:72-75)."""
    capacity = int(1.23 * size) + 32
    capacity = capacity // 3 * 3
    return {"capacity": capacity, "block_length": capacity // 3}


def fuse_layout(size: int) -> dict:
    """Capacity math for the deprecated fuse family
    (reference src/prelude/fuse.rs:89-92)."""
    capacity = int(FUSE_OVERHEAD * size)
    capacity = capacity // FUSE_SLOTS * FUSE_SLOTS
    return {"capacity": capacity, "segment_length": capacity // FUSE_SLOTS}

