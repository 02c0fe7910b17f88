"""Custom stateful streaming operator: exact first-occurrence dedup with
``applyInPandasWithState`` (arbitrary stateful processing).

Composes with the membership filter: ``stream_dedup_filter`` (approximate,
stateless, zero state) in front of this exact operator shrinks the state
store to only keys the history filter *accepted* — the standard
filter-then-exact cascade, now in streaming form.

State model: one state entry per key-prefix group (``n_buckets`` groups),
each holding the set of 64-bit keys already seen in that bucket (stored as a
packed little-endian binary blob, decoded to a numpy array per micro-batch —
no per-row Python). Grouping by key prefix bounds the per-group state and
spreads it across partitions exactly like the build-side sharding.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

_STATE_SCHEMA = StructType([StructField("seen", BinaryType(), True)])
_OUT_SCHEMA = StructType([
    StructField("key", LongType(), False),
    StructField("bucket", LongType(), False),
])


def _make_dedup_fn(retention, horizon_ms: int | None = None):
    def dedup(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
              ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        event_time = horizon_ms is not None
        if state.exists:
            (blob,) = state.get
            arr = np.frombuffer(blob, dtype=np.int64) if blob else \
                np.empty(0, dtype=np.int64)
        else:
            arr = np.empty(0, dtype=np.int64)
        if event_time:
            # blob layout: [n keys][n first-seen-ts-ms], halves aligned
            half = arr.size // 2
            seen, seen_ts = arr[:half], arr[half:]
            # in-function expiry against the WATERMARK: a group that
            # receives data never gets the hasTimedOut call (timeouts fire
            # only for data-less groups), so forgetting must happen here —
            # a key is remembered until the watermark passes its
            # first-seen event time + horizon (the
            # dropDuplicatesWithinWatermark contract)
            wm = state.getCurrentWatermarkMs()
            live = seen_ts + horizon_ms > wm
            expired_any = not bool(live.all())
            seen, seen_ts = seen[live], seen_ts[live]
        else:
            seen, seen_ts = arr, None
            expired_any = False
        out = []
        any_fresh = False
        for pdf in pdfs:
            keys = pdf["key"].to_numpy(np.int64)
            # first occurrence within the batch AND not in state
            uniq, first_idx = np.unique(keys, return_index=True)
            fresh_mask = ~np.isin(uniq, seen, assume_unique=False)
            fresh = uniq[fresh_mask]
            if fresh.size:
                any_fresh = True
                out.append(pd.DataFrame({
                    "key": fresh,
                    "bucket": np.full(fresh.size, key[0], dtype=np.int64),
                }))
                seen = np.concatenate([seen, fresh])
                if event_time:
                    # ts_ms is computed JVM-side (unix_millis) so it is
                    # true UTC epoch ms regardless of the session
                    # timezone — pandas-side datetime decoding would be
                    # session-tz-naive and skew the horizon by the
                    # offset vs getCurrentWatermarkMs (which is UTC)
                    ts = pdf["ts_ms"].to_numpy(np.int64)
                    seen_ts = np.concatenate(
                        [seen_ts, ts[first_idx[fresh_mask]]])
        # only rewrite the blob when the batch changed it — an
        # all-duplicate micro-batch must not pay O(|state|) store I/O
        if any_fresh or expired_any or not state.exists:
            if event_time:
                order = np.argsort(seen, kind="stable")
                state.update((np.concatenate(
                    [seen[order], seen_ts[order]]).tobytes(),))
            else:
                state.update((np.sort(seen).tobytes(),))
        if event_time:
            # idle-bucket cleanup: fires only when a batch brings this
            # bucket no data AND the watermark passed its whole memory
            wm = state.getCurrentWatermarkMs()
            target = (int(seen_ts.max()) + horizon_ms) if seen_ts.size \
                else wm + horizon_ms
            state.setTimeoutTimestamp(max(target, wm + 1))
        elif retention is not None:
            state.setTimeoutDuration(retention)
        if out:
            yield from out

    return dedup


def stream_exact_dedup(stream_df: DataFrame, key_col: str = "key",
                       n_buckets: int = 64,
                       retention: str | int | None = None,
                       ts_col: str = "ts",
                       watermark: str | None = None,
                       horizon: str | None = None) -> DataFrame:
    """Emit each distinct key exactly once across the whole stream
    (first occurrence wins), spread over ``n_buckets`` state entries by
    uniform hash prefix.

    State growth law: total state is 8 bytes × (distinct keys so far),
    split evenly across buckets (uniform prefixes), and a bucket's blob is
    rewritten only on micro-batches that add fresh keys to it. Size
    ``n_buckets`` ≈ expected_distinct_keys × 8B / 64MB so each entry stays
    well under the state-store value limit; for truly unbounded key streams
    set ``retention`` (processing-time TTL per bucket, e.g. ``"24 hours"``)
    to trade exactness-forever for bounded state, or put
    ``stream_dedup_filter`` in front to shrink what reaches this operator.
    At cluster scale, run on a RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass``) so state spills off
    heap.

    Event-time mode (production semantics, mutually exclusive with
    ``retention``): pass ``watermark`` (lateness allowance on ``ts_col``)
    AND ``horizon`` (how long a key is remembered, in EVENT time). Rows
    later than the watermark are dropped before the state function, and a
    bucket's key set is evicted once the watermark passes its newest
    event + horizon — so a key reappearing after ``horizon`` of event
    time counts as new, and state size tracks the horizon, not the wall
    clock (the dropDuplicatesWithinWatermark trade, with this operator's
    packed-blob state and bucket sharding).
    """
    if (watermark is None) != (horizon is None):
        raise ValueError("event-time mode needs BOTH watermark and horizon")
    if retention is not None and watermark is not None:
        raise ValueError("pass either retention (processing-time TTL) or "
                         "watermark+horizon (event-time), not both")
    p = n_buckets.bit_length() - 1
    if 1 << p != n_buckets:
        raise ValueError("n_buckets must be a power of two")
    src = stream_df
    if watermark is not None:
        src = src.withWatermark(ts_col, watermark)
    # NULL keys are dropped stream-side: they identify nothing, and a
    # null-bearing long batch reaches pandas as float64, corrupting every
    # 64-bit key in it
    # p == 0 must short-circuit: Java shifts mask the distance mod 64,
    # so shiftrightunsigned(key, 64) is the IDENTITY — every distinct
    # key would become its own state entry (defeating the bounded-bucket
    # sizing law) and the bucket column would carry raw keys (same guard
    # as dataflow.shard_id_col)
    bucket = (F.lit(0).cast("long") if p == 0 else
              F.shiftrightunsigned(F.col(key_col), 64 - p).cast("long"))
    cols = [F.col(key_col).alias("key"), bucket.alias("bucket")]
    horizon_ms = None
    if watermark is not None:
        # the event-time attribute must reach the stateful operator's
        # input for Spark's late-row filter to apply; ts_ms carries the
        # UTC epoch millis alongside it (JVM-derived, timezone-proof)
        cols.append(F.col(ts_col).alias("ts"))
        cols.append(F.unix_millis(F.col(ts_col)).alias("ts_ms"))
        from .sketch_window import _interval_ms
        horizon_ms = _interval_ms(horizon)
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = (GroupStateTimeout.ProcessingTimeTimeout
                   if retention is not None else GroupStateTimeout.NoTimeout)
    bucketed = src.where(F.col(key_col).isNotNull()).select(*cols)
    return (bucketed.groupBy("bucket")
            .applyInPandasWithState(
                _make_dedup_fn(retention, horizon_ms), _OUT_SCHEMA,
                _STATE_SCHEMA,
                outputMode="append",
                timeoutConf=timeout))
