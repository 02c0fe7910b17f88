"""Filter objects: the Python-side equivalent of the reference structs.

Each class wraps ``(descriptor params, fingerprints ndarray)`` and exposes a
**vectorized** ``contains`` over numpy arrays (there is no per-key Python probe
in any hot path; scalar probes are convenience only).

Serialization:
- ``to_dma() / from_dma()`` on the BinaryFuse family is byte-compatible with the
  reference DMA format: 20-byte little-endian descriptor
  ``(seed u64, segment_length u32, segment_length_mask u32, segment_count_length
  u32)`` + raw little-endian fingerprint bytes (reference src/lib.rs:139-154,
  src/prelude/bfuse.rs:64-94, alignment rules src/bfuse8.rs:159-168).
- Xor/Fuse get an analogous ``to_dma`` (16-byte descriptor: seed u64 +
  block/segment length u64) — an extension; the reference only implements
  DmaSerializable for BinaryFuse.
"""

from __future__ import annotations

import struct

import numpy as np

from . import build as B
from . import kernels as K
from .kernels import _FP_DTYPES


def _as_u64_array(keys) -> np.ndarray:
    a = np.asarray(keys)
    if a.dtype == np.int64:
        a = a.view(np.uint64)  # two's-complement reinterpret (Spark longs)
    return np.ascontiguousarray(a, dtype=np.uint64)


class _Base:
    """Shared surface mirroring the reference ``Filter`` trait
    (contains/len, src/lib.rs:116-125)."""

    KIND: str = ""
    FP_BITS: int = 8

    def __init__(self, fingerprints: np.ndarray, n_keys: int = 0):
        self.fingerprints = fingerprints
        self.n_keys = n_keys

    def __len__(self) -> int:
        # number of fingerprint slots, as in the reference (src/lib.rs:123-124)
        return int(self.fingerprints.size)

    def __contains__(self, key: int) -> bool:
        return bool(self.contains(np.array([key], dtype=np.uint64))[0])

    def contains(self, keys) -> np.ndarray:
        raise NotImplementedError

    @property
    def bits_per_entry(self) -> float:
        if not self.n_keys:
            return float("inf")
        return len(self) * self.FP_BITS / self.n_keys


class _XorBase(_Base):
    def __init__(self, seed: int, block_length: int, fingerprints: np.ndarray,
                 n_keys: int = 0, metrics: dict | None = None):
        super().__init__(fingerprints, n_keys)
        self.seed = seed
        self.block_length = block_length
        self.metrics = metrics or {}

    @classmethod
    def from_keys(cls, keys, **kw):
        keys = _as_u64_array(keys)
        r = B.build_xor(keys, fp_bits=cls.FP_BITS, **kw)
        return cls(r.seed, r.params["block_length"], r.fingerprints,
                   n_keys=r.metrics["n_keys"], metrics=r.metrics)

    def contains(self, keys) -> np.ndarray:
        return B.contains_xor(_as_u64_array(keys), self.seed,
                              self.block_length, self.fingerprints)

    def to_dma(self) -> tuple[bytes, bytes]:
        desc = struct.pack("<QQ", self.seed, self.block_length)
        return desc, self.fingerprints.astype(_FP_DTYPES[self.FP_BITS], copy=False).tobytes()

    @classmethod
    def from_dma(cls, descriptor: bytes, fingerprints: bytes, n_keys: int = 0):
        if len(descriptor) < 16:
            raise ValueError(
                f"xor descriptor too short: {len(descriptor)} < 16 bytes")
        seed, bl = struct.unpack("<QQ", descriptor[:16])
        fps = np.frombuffer(fingerprints, dtype=_FP_DTYPES[cls.FP_BITS])
        # probe indices span [0, 3*block_length); a corrupt descriptor
        # would otherwise turn contains() into out-of-bounds IndexErrors
        if bl < 1 or fps.size < 3 * bl:
            raise ValueError(
                f"corrupt xor DMA: block_length={bl} needs >= {3 * bl} "
                f"fingerprint slots, got {fps.size}")
        return cls(seed, bl, fps, n_keys=n_keys)


class Xor8(_XorBase):
    KIND, FP_BITS = "xor8", 8


class Xor16(_XorBase):
    KIND, FP_BITS = "xor16", 16


class Xor32(_XorBase):
    KIND, FP_BITS = "xor32", 32


class _BinaryFuseBase(_Base):
    DESCRIPTOR_LEN = 20  # reference src/prelude/bfuse.rs:75

    def __init__(self, seed: int, segment_length: int, segment_length_mask: int,
                 segment_count_length: int, fingerprints: np.ndarray,
                 n_keys: int = 0, metrics: dict | None = None):
        super().__init__(fingerprints, n_keys)
        self.seed = seed
        self.segment_length = segment_length
        self.segment_length_mask = segment_length_mask
        self.segment_count_length = segment_count_length
        self.metrics = metrics or {}

    @classmethod
    def from_keys(cls, keys, **kw):
        keys = _as_u64_array(keys)
        r = B.build_binary_fuse(keys, fp_bits=cls.FP_BITS, **kw)
        return cls(r.seed, r.params["segment_length"],
                   r.params["segment_length_mask"],
                   r.params["segment_count_length"], r.fingerprints,
                   n_keys=r.metrics["n_keys"], metrics=r.metrics)

    def contains(self, keys) -> np.ndarray:
        return B.contains_binary_fuse(
            _as_u64_array(keys), self.seed, self.segment_length,
            self.segment_length_mask, self.segment_count_length,
            self.fingerprints)

    def to_dma(self) -> tuple[bytes, bytes]:
        """Byte-compatible with reference serialize_bfuse_descriptor
        (src/prelude/bfuse.rs:88-94) + dma_fingerprints (little-endian)."""
        desc = struct.pack("<QIII", self.seed, self.segment_length,
                           self.segment_length_mask, self.segment_count_length)
        return desc, self.fingerprints.astype(_FP_DTYPES[self.FP_BITS], copy=False).tobytes()

    @classmethod
    def from_dma(cls, descriptor: bytes, fingerprints: bytes, n_keys: int = 0):
        """Zero-copy probe view (reference BinaryFuseNRef::from_dma,
        src/bfuse8.rs:159-168; parse_bfuse_descriptor src/prelude/bfuse.rs:79-86)."""
        if len(descriptor) < 20:
            raise ValueError(
                f"bfuse descriptor too short: {len(descriptor)} < 20 bytes")
        seed, sl, slm, scl = struct.unpack("<QIII", descriptor[:20])
        fps = np.frombuffer(fingerprints, dtype=_FP_DTYPES[cls.FP_BITS])
        # probe indices span [0, scl + 2*sl) (= array_len) and the mask
        # must cover exactly the segment; reject corrupt layouts up front
        # instead of letting contains() raise out-of-bounds IndexErrors
        if sl < 1 or slm != sl - 1 or fps.size < scl + 2 * sl:
            raise ValueError(
                f"corrupt bfuse DMA: segment_length={sl} mask={slm} "
                f"segment_count_length={scl} needs >= {scl + 2 * sl} "
                f"fingerprint slots, got {fps.size}")
        return cls(seed, sl, slm, scl, fps, n_keys=n_keys)


class BinaryFuse8(_BinaryFuseBase):
    KIND, FP_BITS = "bfuse8", 8


class BinaryFuse16(_BinaryFuseBase):
    KIND, FP_BITS = "bfuse16", 16


class BinaryFuse32(_BinaryFuseBase):
    KIND, FP_BITS = "bfuse32", 32


class _FuseBase(_Base):
    """Deprecated family, kept for parity (reference src/fuse8.rs, marked
    deprecated in favor of BinaryFuse, src/lib.rs:104-109)."""

    def __init__(self, seed: int, segment_length: int, fingerprints: np.ndarray,
                 n_keys: int = 0, metrics: dict | None = None):
        super().__init__(fingerprints, n_keys)
        self.seed = seed
        self.segment_length = segment_length
        self.metrics = metrics or {}

    @classmethod
    def from_keys(cls, keys, **kw):
        keys = _as_u64_array(keys)
        r = B.build_fuse(keys, fp_bits=cls.FP_BITS, **kw)
        return cls(r.seed, r.params["segment_length"], r.fingerprints,
                   n_keys=r.metrics["n_keys"], metrics=r.metrics)

    def contains(self, keys) -> np.ndarray:
        return B.contains_fuse(_as_u64_array(keys), self.seed,
                               self.segment_length, self.fingerprints)

    def to_dma(self) -> tuple[bytes, bytes]:
        desc = struct.pack("<QQ", self.seed, self.segment_length)
        return desc, self.fingerprints.astype(_FP_DTYPES[self.FP_BITS], copy=False).tobytes()

    @classmethod
    def from_dma(cls, descriptor: bytes, fingerprints: bytes, n_keys: int = 0):
        if len(descriptor) < 16:
            raise ValueError(
                f"fuse descriptor too short: {len(descriptor)} < 16 bytes")
        seed, sl = struct.unpack("<QQ", descriptor[:16])
        fps = np.frombuffer(fingerprints, dtype=_FP_DTYPES[cls.FP_BITS])
        # probe indices span [0, (FUSE_SEGMENT_COUNT + 2) * sl)
        need = (K.FUSE_SEGMENT_COUNT + 2) * sl
        if sl < 1 or fps.size < need:
            raise ValueError(
                f"corrupt fuse DMA: segment_length={sl} needs >= {need} "
                f"fingerprint slots, got {fps.size}")
        return cls(seed, sl, fps, n_keys=n_keys)


class Fuse8(_FuseBase):
    KIND, FP_BITS = "fuse8", 8


class Fuse16(_FuseBase):
    KIND, FP_BITS = "fuse16", 16


class Fuse32(_FuseBase):
    KIND, FP_BITS = "fuse32", 32


FILTER_CLASSES = {c.KIND: c for c in
                  (Xor8, Xor16, Xor32,
                   BinaryFuse8, BinaryFuse16, BinaryFuse32,
                   Fuse8, Fuse16, Fuse32)}


def filter_to_json(filt) -> str:
    """Whole-struct serialization, the role of the reference's ``serde``
    feature (Serialize/Deserialize derives + serde_bytes fingerprints,
    e.g. src/bfuse8.rs:65-73): kind + DMA descriptor + base64 fingerprint
    bytes in one self-describing document."""
    import base64
    import json

    desc, fps = filt.to_dma()
    return json.dumps({
        "kind": filt.KIND,
        "n_keys": int(getattr(filt, "n_keys", 0)),
        "descriptor": desc.hex(),
        "fingerprints": base64.b64encode(fps).decode("ascii"),
    })


def filter_from_json(doc: str):
    import base64
    import json

    d = json.loads(doc)
    cls = FILTER_CLASSES[d["kind"]]
    return cls.from_dma(bytes.fromhex(d["descriptor"]),
                        base64.b64decode(d["fingerprints"]),
                        n_keys=d.get("n_keys", 0))


def _default_hash64(values) -> np.ndarray:
    """Deterministic 64-bit hash of arbitrary python values (strings/bytes),
    vectorized batch-wise. Plays the reference Hasher role in HashProxy
    (src/hash_proxy.rs:88-138); any stable 64-bit hash is admissible there
    since the proxy just adapts arbitrary keys to the u64 filter domain."""
    import hashlib

    out = np.empty(len(values), dtype=np.uint64)
    for i, v in enumerate(values):
        if isinstance(v, str):
            v = v.encode("utf-8")
        elif not isinstance(v, (bytes, bytearray)):
            v = repr(v).encode("utf-8")
        out[i] = int.from_bytes(hashlib.blake2b(v, digest_size=8).digest(), "little")
    return out


class HashProxy:
    """Arbitrary-key adapter over any u64 filter
    (reference src/hash_proxy.rs:88-138)."""

    def __init__(self, inner: _Base, hash_fn=_default_hash64):
        self.inner = inner
        self.hash_fn = hash_fn

    @classmethod
    def from_keys(cls, keys, filter_cls=BinaryFuse8, hash_fn=_default_hash64, **kw):
        hashed = hash_fn(list(keys))
        hashed = np.unique(hashed)  # dedup precondition (src/lib.rs:42-44)
        return cls(filter_cls.from_keys(hashed, **kw), hash_fn)

    def contains(self, keys) -> np.ndarray:
        return self.inner.contains(self.hash_fn(list(keys)))

    def __contains__(self, key) -> bool:
        return bool(self.contains([key])[0])

    def __len__(self) -> int:
        return len(self.inner)
