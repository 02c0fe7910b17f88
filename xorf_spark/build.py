"""Single-node (per-shard) filter constructors and probes, pure numpy.

These re-express the reference's construction algorithms (ayazhafiz/xorf) as
**vectorized round-based peeling** instead of the Rust sequential queue peel:

- reference xor construction:   src/prelude/xor.rs:54-180  (Algorithm 3+4)
- reference fuse construction:  src/prelude/fuse.rs:68-180 (deprecated family)
- reference bfuse construction: src/prelude/bfuse.rs:99-316

Peelability of the underlying 3-uniform hypergraph is order-independent, so a
round-based peel (each round removes every currently-singleton key at once)
accepts exactly the same (key set, seed) pairs as the reference's sequential
peel: the seed schedule (splitmix64 from state 1, reference
src/prelude/xor.rs:91) and retry counts are therefore identical. The
fingerprint array contents may differ from the Rust output (any valid peel
order yields a valid filter), but every array produced here satisfies the same
``contains`` contract and is DMA-interchangeable with the reference.

These kernels are what runs inside ``applyInArrow`` per shard on the Spark
side — this module itself has no Spark dependency.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from . import kernels as K
from .kernels import _FP_DTYPES


def _count3(capacity: int, j0: np.ndarray, j1: np.ndarray, j2: np.ndarray
            ) -> np.ndarray:
    c = np.bincount(j0, minlength=capacity)
    c += np.bincount(j1, minlength=capacity)
    c += np.bincount(j2, minlength=capacity)
    # int32 halves the peel phase's memory traffic (counts stay < 64 by the
    # overflow-retry rule mirroring the reference's packed u8 counters)
    return c.astype(np.int32)


def _sort_by_low32(h: np.ndarray) -> np.ndarray:
    """Order hashes by their low 32 bits — the block/segment selector for the
    xor (src/prelude/xor.rs:21-28) and fuse (src/prelude/fuse.rs:29-33)
    families — so population scatters walk the arrays near-sequentially.

    This is the vectorized analog of the reference's counting-sort of keys by
    segment (src/prelude/bfuse.rs:170-182): same cache-locality trick, and it
    changes nothing semantically (peeling is set-based).
    Implemented as rotl(h,32) → sort → rotl(h,32): one cheap bijection makes
    the low 32 bits the primary sort key.
    """
    h = K.rotl64(h, 32)
    h.sort()
    return K.rotl64(h, 32)


def _peel(counts: np.ndarray, hxor: np.ndarray, idx3_fn, n: int,
          posxor: np.ndarray | None = None):
    """Frontier-based vectorized peel of the 3-uniform hypergraph.

    Each round removes *every* currently-singleton key at once; only slots
    touched by a removal can become singletons, so after the initial full scan
    the work per round is proportional to the frontier, giving O(n) total peel
    work. Accepts exactly the same (keys, seed) pairs as the reference's
    sequential queue peel (peelability is order-independent), so the seed/retry
    schedule matches the reference bit-for-bit.

    Returns (rounds, total) where rounds is a list of
    (hashes, selected_slot, found_code|None, j0, j1, j2) batches in peel
    order — the three slot-index arrays are carried so the fingerprint
    assignment phase never re-derives them.
    """
    rounds = []
    total = 0
    frontier = np.flatnonzero(counts == 1)
    while frontier.size:
        hs = hxor[frontier]
        # Dedup a key that is currently singleton in SEVERAL of its slots
        # (it must be peeled once): keep only the entry whose frontier slot
        # is the key's numerically SMALLEST currently-singleton slot —
        # byte-identical selection to the old ``np.unique(hs)`` first-
        # occurrence over the ascending frontier, but in O(m) vector ops
        # instead of a per-round FULL SORT (profiled at m=20k: 1.4ms of a
        # 3.6ms round; BENCH/ROUND6_NOTES.md). Every currently-singleton
        # slot is in the frontier (slots enter it the round they become
        # singleton), so ``counts[j]==1`` identifies the sibling entries.
        j0a, j1a, j2a = idx3_fn(hs)
        big = np.iinfo(np.int64).max
        minslot = np.where(counts[j0a] == 1, j0a, big)
        np.minimum(minslot, np.where(counts[j1a] == 1, j1a, big),
                   out=minslot)
        np.minimum(minslot, np.where(counts[j2a] == 1, j2a, big),
                   out=minslot)
        keep = frontier == minslot
        if not keep.all():
            uh = hs[keep]
            sel = frontier[keep]
            j0, j1, j2 = j0a[keep], j1a[keep], j2a[keep]
        else:
            uh, sel, j0, j1, j2 = hs, frontier, j0a, j1a, j2a
        fnd = posxor[sel] if posxor is not None else None
        # (j0, j1, j2) ride along so the assignment phase reuses them
        # instead of re-deriving idx3 over every key a second time
        rounds.append((uh, sel, fnd, j0, j1, j2))
        total += int(uh.size)
        m = int(uh.size)
        # Packed sort + segmented xor/count reductions instead of six
        # ufunc.at scatters: pack (slot_index << rowbits | source_row)
        # into a uint64, np.sort it (2-3x faster than argsort's
        # indirection), reduce per-slot duplicates with
        # bitwise_xor.reduceat. Interleaved A/B at 8M keys: xor peel
        # 6.06s vs 6.71s scatter, bfuse 4.19s vs 4.59s; bfuse8 builds at
        # 1M keys 947 vs 1135 ms, at 124K 108 vs 116 ms, identical bytes.
        # The sequential sort also degrades less under DRAM contention
        # than random scatters. Profile: scripts/xor_scaling_probe.py at
        # commit 2f8c669.
        rowbits = max((3 * m - 1).bit_length(), 1)
        idx = np.concatenate((j0, j1, j2)).astype(np.uint64, copy=False)
        packed = (idx << np.uint64(rowbits)) | np.arange(
            3 * m, dtype=np.uint64)
        packed.sort()
        sidx = packed >> np.uint64(rowbits)
        rows = (packed & np.uint64((1 << rowbits) - 1)).astype(np.int64)
        starts = np.flatnonzero(
            np.concatenate(([True], sidx[1:] != sidx[:-1])))
        uidx = sidx[starts]
        hxor[uidx] ^= np.bitwise_xor.reduceat(uh[rows % m], starts)
        slot_n = np.diff(np.append(starts, sidx.size)).astype(counts.dtype)
        counts[uidx] -= slot_n
        if posxor is not None:
            # source code (0 for j0, 1 for j1, 2 for j2) = row's third
            posxor[uidx] ^= np.bitwise_xor.reduceat(
                (rows // m).astype(np.uint8), starts)
        frontier = uidx[counts[uidx] == 1]
    return rounds, total


@dataclass
class BuildResult:
    seed: int
    fingerprints: np.ndarray  # flat fp array, dtype uint8/16/32
    params: dict              # the family's descriptor (filters.*.PARAMS)
    metrics: dict = field(default_factory=dict)


def _check_distinct(keys: np.ndarray) -> None:
    # Mirrors the reference debug-assert (src/prelude/mod.rs:128-131,
    # src/xor8.rs:159-166): xor construction requires all-distinct keys.
    if keys.size and np.unique(keys).size != keys.size:
        raise ValueError(
            "xor filters must be constructed from a collection of distinct keys"
        )


# ---------------------------------------------------------------------------
# Xor8/16/32 (reference src/prelude/xor.rs:54-180; infallible, retries forever)
# ---------------------------------------------------------------------------

def build_xor(keys: np.ndarray, fp_bits: int = 8, max_iter: int | None = None,
              check_distinct: bool = True) -> BuildResult:
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    if check_distinct:
        _check_distinct(keys)
    n = int(keys.size)
    layout = K.xor_layout(n)
    capacity, bl = layout["capacity"], layout["block_length"]
    fp_dtype = _FP_DTYPES[fp_bits]

    rng_state = 1
    rng_state, seed = K.splitmix64(rng_state)
    retries = 0
    while True:
        hashes = _sort_by_low32(K.mix(keys, seed))
        g0, g1, g2 = K.xor_h012(hashes, bl)
        counts = _count3(capacity, g0, g1, g2)
        masks = np.zeros(capacity, dtype=np.uint64)
        np.bitwise_xor.at(masks, g0, hashes)
        np.bitwise_xor.at(masks, g1, hashes)
        np.bitwise_xor.at(masks, g2, hashes)

        rounds, total = _peel(counts, masks, lambda uh: K.xor_h012(uh, bl), n)
        if total == n:
            break
        retries += 1
        if max_iter is not None and retries >= max_iter:
            raise RuntimeError("failed to construct xor filter within max_iter seeds")
        rng_state, seed = K.splitmix64(rng_state)

    # Algorithm 4, batched in reverse round order. Zero-init fingerprints:
    # the xor family uses make_block! (zeros), not make_fp_block!
    # (reference src/prelude/xor.rs:163-171).
    B = np.zeros(capacity, dtype=fp_dtype)
    for uh, sel, _fnd, j0, j1, j2 in reversed(rounds):
        B[sel] = K.fingerprint(uh, fp_dtype) ^ B[j0] ^ B[j1] ^ B[j2]

    return BuildResult(
        seed=int(seed),
        fingerprints=B,
        params={"block_length": bl},
        metrics={"retries": retries, "n_keys": n, "rounds": len(rounds),
                 "duplicates": 0},
    )


def contains_xor(keys: np.ndarray, seed: int, block_length: int,
                 fingerprints: np.ndarray) -> np.ndarray:
    """Vectorized probe (reference src/prelude/xor.rs:33-49)."""
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    h = K.mix(keys, seed)
    g0, g1, g2 = K.xor_h012(h, block_length)
    fp = K.fingerprint(h, fingerprints.dtype)
    return fp == (fingerprints[g0] ^ fingerprints[g1] ^ fingerprints[g2])


# ---------------------------------------------------------------------------
# BinaryFuse8/16/32 (reference src/prelude/bfuse.rs:99-316; ≤1000 seed retries)
# ---------------------------------------------------------------------------

def build_binary_fuse(keys: np.ndarray, fp_bits: int = 8, max_iter: int = 1000,
                      uniform_random: bool = True,
                      fp_seed: int = 0xC0FFEE) -> BuildResult:
    """Binary fuse construction.

    Duplicate keys are dropped up front (the reference detects-and-drops them
    during population, src/prelude/bfuse.rs:200-215; success there requires
    ``stack_size + duplicates == size``, :269-273 — identical semantics).

    ``uniform_random`` mirrors the default ``uniform-random`` cargo feature
    (unused fingerprint slots random, reference src/prelude/mod.rs:78-110);
    unlike the reference's thread_rng we seed deterministically per build for
    resumability (documented deviation).
    """
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    n_total = int(keys.size)
    # Sizing uses the raw count including duplicates, exactly like the
    # reference (`size = keys.len()`, src/prelude/bfuse.rs:113).
    layout = K.bfuse_layout(n_total)
    sl = layout["segment_length"]
    slm = layout["segment_length_mask"]
    scl = layout["segment_count_length"]
    array_len = layout["array_len"]
    fp_dtype = _FP_DTYPES[fp_bits]

    rng_state = 1
    rng_state, seed = K.splitmix64(rng_state)
    retries = 0
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    done = False
    duplicates = 0
    n = n_total
    for _ in range(max_iter):
        # Sorting the hashes is the vectorized analog of the reference's
        # counting-sort by segment (src/prelude/bfuse.rs:170-182): h0 is a
        # monotone multiply-shift of the hash, so sorted hashes scatter
        # near-sequentially into the construction arrays (cache-local), and
        # duplicate hashes (duplicate keys, or astronomically-rare mix
        # collisions) become adjacent — dropping them reproduces the
        # reference's detect-and-drop path (src/prelude/bfuse.rs:200-215).
        hashes = np.sort(K.mix(keys, seed))
        if n_total and hashes.size:
            dup_mask = hashes[1:] == hashes[:-1]
            if dup_mask.any():
                hashes = hashes[np.concatenate(([True], ~dup_mask))]
        duplicates = n_total - int(hashes.size)
        n = int(hashes.size)
        i0, i1, i2 = K.bfuse_hash_of_hash(hashes, sl, slm, scl)
        counts = _count3(array_len, i0, i1, i2)
        if counts.size and counts.max(initial=0) >= 64:
            # Mirrors the packed-u8 counter overflow error branch
            # (reference src/prelude/bfuse.rs:218-221): retry with a new seed.
            retries += 1
            rng_state, seed = K.splitmix64(rng_state)
            continue
        hxor = np.zeros(array_len, dtype=np.uint64)
        np.bitwise_xor.at(hxor, i0, hashes)
        np.bitwise_xor.at(hxor, i1, hashes)
        np.bitwise_xor.at(hxor, i2, hashes)
        # posxor = xor of position codes (0 for h0, 1 for h1, 2 for h2) of all
        # keys in the slot; equals the lone key's code when count==1
        # (packed t2count low bits in the reference, src/prelude/bfuse.rs:190-215).
        posxor = np.zeros(array_len, dtype=np.uint8)
        np.bitwise_xor.at(posxor, i1, np.uint8(1))
        np.bitwise_xor.at(posxor, i2, np.uint8(2))

        rounds, total = _peel(
            counts, hxor, lambda uh: K.bfuse_hash_of_hash(uh, sl, slm, scl),
            n, posxor=posxor)
        if total == n:
            done = True
            break
        retries += 1
        rng_state, seed = K.splitmix64(rng_state)
    if not done:
        raise RuntimeError("Failed to construct binary fuse filter.")

    if uniform_random:
        F = np.random.default_rng(fp_seed).integers(
            0, 1 << fp_bits, size=array_len, dtype=fp_dtype)
    else:
        F = np.zeros(array_len, dtype=fp_dtype)
    for uh, _sel, fnd, j0, j1, j2 in reversed(rounds):
        h012 = np.stack((j0, j1, j2, j0, j1))  # (5, m): h012 table per
        # reference src/prelude/bfuse.rs:296-305
        cols5 = np.arange(uh.size)
        fnd64 = fnd.astype(np.int64)
        assigned = h012[fnd64, cols5]
        o1 = h012[fnd64 + 1, cols5]
        o2 = h012[fnd64 + 2, cols5]
        F[assigned] = K.fingerprint(uh, fp_dtype) ^ F[o1] ^ F[o2]

    return BuildResult(
        seed=int(seed),
        fingerprints=F,
        params={"segment_length": sl, "segment_length_mask": slm,
                "segment_count_length": scl},
        metrics={"retries": retries, "n_keys": n, "rounds": len(rounds),
                 "duplicates": duplicates},
    )


def contains_binary_fuse(keys: np.ndarray, seed: int, segment_length: int,
                         segment_length_mask: int, segment_count_length: int,
                         fingerprints: np.ndarray) -> np.ndarray:
    """Vectorized probe (reference src/prelude/bfuse.rs:321-340)."""
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    h = K.mix(keys, seed)
    fp = K.fingerprint(h, fingerprints.dtype)
    h0, h1, h2 = K.bfuse_hash_of_hash(
        h, segment_length, segment_length_mask, segment_count_length)
    f = fp ^ fingerprints[h0] ^ fingerprints[h1] ^ fingerprints[h2]
    return f == 0


# ---------------------------------------------------------------------------
# Fuse8/16/32 (deprecated family; reference src/prelude/fuse.rs:68-180)
# ---------------------------------------------------------------------------

def build_fuse(keys: np.ndarray, fp_bits: int = 8, max_iter: int = 1000,
               uniform_random: bool = True, fp_seed: int = 0xC0FFEE,
               check_distinct: bool = True) -> BuildResult:
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    if check_distinct:
        _check_distinct(keys)
    n = int(keys.size)
    layout = K.fuse_layout(n)
    capacity, sl = layout["capacity"], layout["segment_length"]
    if sl == 0:
        raise ValueError(
            "fuse filters (deprecated family) need enough keys for ≥1 slot per "
            "segment; use binary fuse for small key sets")
    fp_dtype = _FP_DTYPES[fp_bits]

    rng_state = 1
    rng_state, seed = K.splitmix64(rng_state)
    retries = 0
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    done = False
    for _ in range(max_iter):
        hashes = _sort_by_low32(K.mix(keys, seed))
        g0, g1, g2 = K.fuse_h012(hashes, sl)
        counts = _count3(capacity, g0, g1, g2)
        masks = np.zeros(capacity, dtype=np.uint64)
        np.bitwise_xor.at(masks, g0, hashes)
        np.bitwise_xor.at(masks, g1, hashes)
        np.bitwise_xor.at(masks, g2, hashes)

        rounds, total = _peel(counts, masks, lambda uh: K.fuse_h012(uh, sl), n)
        if total == n:
            done = True
            break
        retries += 1
        rng_state, seed = K.splitmix64(rng_state)
    if not done:
        raise RuntimeError(
            f"Failed to construct fuse filter: {n} keys did not peel in "
            f"max_iter={max_iter} attempts. The fuse family rarely peels "
            f"below ~200K keys; build binary fuse (bfuse) for smaller "
            f"shards, or use fewer shards.")

    if uniform_random:
        B = np.random.default_rng(fp_seed).integers(
            0, 1 << fp_bits, size=capacity, dtype=fp_dtype)
    else:
        B = np.zeros(capacity, dtype=fp_dtype)
    for uh, sel, _fnd, j0, j1, j2 in reversed(rounds):
        fp = K.fingerprint(uh, fp_dtype)
        # assignment excludes the key's own slot (reference src/prelude/fuse.rs:163-171)
        others = np.where(sel == j0, B[j1] ^ B[j2],
                          np.where(sel == j1, B[j0] ^ B[j2], B[j0] ^ B[j1]))
        B[sel] = fp ^ others

    return BuildResult(
        seed=int(seed),
        fingerprints=B,
        params={"segment_length": sl},
        metrics={"retries": retries, "n_keys": n, "rounds": len(rounds),
                 "duplicates": 0},
    )


def contains_fuse(keys: np.ndarray, seed: int, segment_length: int,
                  fingerprints: np.ndarray) -> np.ndarray:
    """Vectorized probe (reference src/prelude/fuse.rs:47-63)."""
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    h = K.mix(keys, seed)
    g0, g1, g2 = K.fuse_h012(h, segment_length)
    fp = K.fingerprint(h, fingerprints.dtype)
    return fp == (fingerprints[g0] ^ fingerprints[g1] ^ fingerprints[g2])
