"""The Arrow-feed runtime default applied by ``ship_package`` (r6): Spark
4.x's per-appended-row ``ArrowWriter.sizeInBytes()`` byte-cap accounting
costs ~5μs/row on every JVM→python feed; the runner skips it only at the
Int.MaxValue sentinel. ``ship_package`` must pin the sentinel over the
Spark default but never override an explicit user setting."""

from xorf_spark.dataflow import (
    _ARROW_MAX_BYTES_DEFAULT,
    _ARROW_MAX_BYTES_KEY,
    _ARROW_MAX_BYTES_SENTINEL,
    _byte_count,
    ship_package,
)


def test_ship_package_pins_arrow_byte_cap_sentinel(spark):
    try:
        for default in ("67108864b", "64m", "64MB", "67108864"):
            spark.conf.set(_ARROW_MAX_BYTES_KEY, default)
            ship_package(spark)
            assert spark.conf.get(_ARROW_MAX_BYTES_KEY) == \
                _ARROW_MAX_BYTES_SENTINEL, default
    finally:
        spark.conf.set(_ARROW_MAX_BYTES_KEY, _ARROW_MAX_BYTES_SENTINEL)


def test_ship_package_respects_explicit_byte_cap(spark):
    spark.conf.set(_ARROW_MAX_BYTES_KEY, "33554432b")  # user chose 32 MiB
    try:
        ship_package(spark)
        assert spark.conf.get(_ARROW_MAX_BYTES_KEY) == "33554432b"
    finally:
        spark.conf.set(_ARROW_MAX_BYTES_KEY, _ARROW_MAX_BYTES_SENTINEL)


def test_byte_count_normalizes_size_strings():
    for default in ("64m", "64MB", "67108864", "67108864b", " 64M "):
        assert _byte_count(default) == _ARROW_MAX_BYTES_DEFAULT, default
    assert _byte_count("32m") == 32 << 20
    assert _byte_count("1g") == 1 << 30
    assert _byte_count("lots") is None
