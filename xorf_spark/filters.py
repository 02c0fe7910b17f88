"""Filter families: the one table of what each filter family is.

A family (xor, binary fuse, fuse) declares its descriptor ``PARAMS`` (the
``SHARD_SCHEMA`` descriptor columns and the ``BuildResult.params`` keys),
its DMA ``struct`` format, its build and probe kernels from :mod:`build`,
the fingerprint slots its probe indices span and its shard-build keywords;
:class:`_Filter` writes the rest once, mirroring the reference ``Filter``
trait (contains/len, src/lib.rs:116-125). :func:`filter_class` looks a
class up by kind, and the shard-row codec (``dataflow._build_shard_row`` /
``_filter_from_row``) builds and decodes through it. ``contains`` is
vectorized over numpy arrays; scalar probes are convenience only.

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


class _Filter:
    """One filter: ``seed``, one attribute per name in ``PARAMS`` and the
    ``fingerprints`` array, built as ``cls(seed, *params, fingerprints)``.
    A family adds ``_build`` / ``_probe`` (its kernels), ``_span(*params)``
    (the slots its probe indices span, < 1 for no valid layout) and
    ``_distinct_kw(fp_seed)`` (build keywords for distinct keys)."""

    KIND: str = ""
    FP_BITS: int = 8
    #: descriptor fields after the seed, in DMA order
    PARAMS: tuple[str, ...] = ()
    #: little-endian DMA descriptor: the u64 seed, then ``PARAMS``
    DMA: str = ""

    def __init__(self, seed: int, *layout, n_keys: int = 0,
                 metrics: dict | None = None):
        *params, self.fingerprints = layout
        self.seed = seed
        for name, value in zip(self.PARAMS, params, strict=True):
            setattr(self, name, value)
        self.n_keys = n_keys
        self.metrics = metrics or {}

    @property
    def params(self) -> tuple[int, ...]:
        return tuple(getattr(self, p) for p in self.PARAMS)

    def __len__(self) -> int:
        # number of fingerprint slots, as in the reference (src/lib.rs:123-124)
        return int(self.fingerprints.size)

    def __contains__(self, key: int) -> bool:
        return bool(self.contains(np.array([key], dtype=np.uint64))[0])

    def contains(self, keys) -> np.ndarray:
        return self._probe(_as_u64_array(keys), self.seed, *self.params,
                           self.fingerprints)

    @property
    def bits_per_entry(self) -> float:
        if not self.n_keys:
            return float("inf")
        return len(self) * self.FP_BITS / self.n_keys

    @classmethod
    def from_keys(cls, keys, **kw):
        r = cls._build(_as_u64_array(keys), fp_bits=cls.FP_BITS, **kw)
        return cls(r.seed, *(r.params[p] for p in cls.PARAMS), r.fingerprints,
                   n_keys=r.metrics["n_keys"], metrics=r.metrics)

    @classmethod
    def from_distinct_keys(cls, keys, fp_seed: int):
        """Build over keys already known distinct (a shard build dedups
        first), seeding the unused slots with ``fp_seed`` where the
        family fills them at random."""
        return cls.from_keys(keys, **cls._distinct_kw(fp_seed))

    def to_dma(self) -> tuple[bytes, bytes]:
        return (struct.pack(self.DMA, self.seed, *self.params),
                self.fingerprints.astype(_FP_DTYPES[self.FP_BITS],
                                         copy=False).tobytes())

    @classmethod
    def from_dma(cls, descriptor: bytes, fingerprints: bytes, n_keys: int = 0):
        """Zero-copy probe view (reference BinaryFuseNRef::from_dma,
        src/bfuse8.rs:159-168; parse_bfuse_descriptor
        src/prelude/bfuse.rs:79-86)."""
        size = struct.calcsize(cls.DMA)
        if len(descriptor) < size:
            raise ValueError(f"{cls.KIND} descriptor too short: "
                             f"{len(descriptor)} < {size} bytes")
        seed, *params = struct.unpack(cls.DMA, descriptor[:size])
        return cls.from_layout(seed, params, fingerprints, n_keys)

    @classmethod
    def from_layout(cls, seed: int, params, fingerprints, n_keys: int = 0):
        """The checked constructor of both decoders, DMA bytes
        (:meth:`from_dma`) and shard rows (``dataflow._filter_from_row``):
        ``fingerprints`` is any buffer (bytes, a memmap), viewed without a
        copy. A layout whose probe indices would run past the fingerprint
        slots raises ``ValueError`` here instead of ``IndexError`` in
        ``contains``."""
        fps = np.frombuffer(fingerprints, dtype=_FP_DTYPES[cls.FP_BITS])
        need = cls._span(*params)
        if need < 1 or fps.size < need:
            raise ValueError(
                f"corrupt {cls.KIND} layout {dict(zip(cls.PARAMS, params))} "
                f"for {fps.size} fingerprint slots")
        return cls(seed, *params, fps, n_keys=n_keys)


class _XorFamily(_Filter):
    PARAMS = ("block_length",)
    DMA = "<QQ"
    _build = staticmethod(B.build_xor)
    _probe = staticmethod(B.contains_xor)

    @staticmethod
    def _span(block_length: int) -> int:
        return 3 * block_length  # probe indices span [0, 3*block_length)

    @staticmethod
    def _distinct_kw(fp_seed: int) -> dict:
        return {"check_distinct": False}  # zero-filled: no fp-init seed


class Xor8(_XorFamily):
    KIND, FP_BITS = "xor8", 8


class Xor16(_XorFamily):
    KIND, FP_BITS = "xor16", 16


class Xor32(_XorFamily):
    KIND, FP_BITS = "xor32", 32


class _BinaryFuseFamily(_Filter):
    PARAMS = ("segment_length", "segment_length_mask", "segment_count_length")
    DMA = "<QIII"  # DMA_LEN = 20 (reference src/prelude/bfuse.rs:75)
    _build = staticmethod(B.build_binary_fuse)
    _probe = staticmethod(B.contains_binary_fuse)

    @staticmethod
    def _span(segment_length: int, segment_length_mask: int,
              segment_count_length: int) -> int:
        # probe indices span [0, scl + 2*sl) (= array_len), and the mask
        # must cover exactly the segment
        if segment_length < 1 or segment_length_mask != segment_length - 1:
            return 0
        return segment_count_length + 2 * segment_length

    @staticmethod
    def _distinct_kw(fp_seed: int) -> dict:
        return {"fp_seed": fp_seed}  # drops duplicates itself


class BinaryFuse8(_BinaryFuseFamily):
    KIND, FP_BITS = "bfuse8", 8


class BinaryFuse16(_BinaryFuseFamily):
    KIND, FP_BITS = "bfuse16", 16


class BinaryFuse32(_BinaryFuseFamily):
    KIND, FP_BITS = "bfuse32", 32


class _FuseFamily(_Filter):
    """Deprecated family, kept for parity (reference src/fuse8.rs, marked
    deprecated in favor of BinaryFuse, src/lib.rs:104-109)."""

    PARAMS = ("segment_length",)
    DMA = "<QQ"
    _build = staticmethod(B.build_fuse)
    _probe = staticmethod(B.contains_fuse)

    @staticmethod
    def _span(segment_length: int) -> int:
        # probe indices span [0, (FUSE_SEGMENT_COUNT + 2) * sl)
        return (K.FUSE_SEGMENT_COUNT + 2) * segment_length

    @staticmethod
    def _distinct_kw(fp_seed: int) -> dict:
        return {"check_distinct": False, "fp_seed": fp_seed}


class Fuse8(_FuseFamily):
    KIND, FP_BITS = "fuse8", 8


class Fuse16(_FuseFamily):
    KIND, FP_BITS = "fuse16", 16


class Fuse32(_FuseFamily):
    KIND, FP_BITS = "fuse32", 32


FILTER_CLASSES = {c.KIND: c for c in
                  (Xor8, Xor16, Xor32,
                   BinaryFuse8, BinaryFuse16, BinaryFuse32,
                   Fuse8, Fuse16, Fuse32)}


def filter_class(kind: str) -> type[_Filter]:
    """The class of filter kind ``kind`` ("xor8", …, "fuse32"); an unknown
    kind raises ``ValueError``."""
    try:
        return FILTER_CLASSES[kind]
    except KeyError:
        raise ValueError(f"unknown filter kind {kind!r}; one of "
                         f"{tuple(FILTER_CLASSES)}") from None


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
    cls = filter_class(d["kind"])
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

    def __init__(self, inner: _Filter, hash_fn=_default_hash64):
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
