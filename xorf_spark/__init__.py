"""xorf_spark — a PySpark-native distributed probabilistic-membership engine.

From-scratch rebuild of the capabilities of the reference crate ayazhafiz/xorf
(Xor8/16/32, Fuse8/16/32, BinaryFuse8/16/32 static membership filters) as
mergeable, shardable Spark dataflows: DataFrame key derivation → exact dedup →
hash-prefix sharding → per-shard Arrow-batched construction → broadcast probe,
plus the surrounding large-scale training-data pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing).
"""

from ._zipcache import install as _install_zipcache
from .filters import (  # noqa: F401
    BinaryFuse8,
    BinaryFuse16,
    BinaryFuse32,
    Fuse8,
    Fuse16,
    Fuse32,
    HashProxy,
    Xor8,
    Xor16,
    Xor32,
)

__version__ = "0.1.0"

_install_zipcache()
