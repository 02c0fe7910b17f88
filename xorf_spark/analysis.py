"""Filter-quality analysis: fingerprint zero-density.

Port of the reference's analysis tooling (analysis/src/zeroes.rs:15-39 +
analysis/plot_zeroes): sliding-window density of zero fingerprints across the
array. Uniformly-random-looking fingerprints (low, flat zero density ≈ 1/2^w
for width w) indicate a healthy build; spikes reveal clustering. Runs
distributed over the shard table (one Arrow batch per shard row).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from .filters import filter_class
from .kernels import _FP_DTYPES

ZERO_DENSITY_SCHEMA = ("shard_id int, kind string, num_slots long, "
                       "n_zero long, zero_frac double, "
                       "win_zero_min double, win_zero_max double")
_PA_ZERO_DENSITY = pa.schema([
    ("shard_id", pa.int32()), ("kind", pa.string()),
    ("num_slots", pa.int64()), ("n_zero", pa.int64()),
    ("zero_frac", pa.float64()), ("win_zero_min", pa.float64()),
    ("win_zero_max", pa.float64())])


def _per_shard(shard_df: DataFrame, stats, schema: str,
               pa_schema: pa.Schema) -> DataFrame:
    """``mapInArrow`` of ``stats(shard_id, kind, fps)`` over each shard
    row, ``fps`` the row's fingerprints as an array of the kind's width;
    ``stats`` returns the output row, or None to skip the shard."""

    def run(batches):
        for batch in batches:
            out = []
            for sid, kind, raw in zip(*(batch.column(c).to_pylist() for c in
                                        ("shard_id", "kind", "fingerprints"))):
                fps = np.frombuffer(
                    raw, dtype=_FP_DTYPES[filter_class(kind).FP_BITS])
                row = stats(sid, kind, fps)
                if row is not None:
                    out.append(row)
            yield pa.RecordBatch.from_pylist(out, schema=pa_schema)

    return (shard_df.select("shard_id", "kind", "fingerprints")
            .mapInArrow(run, schema))


def fingerprint_zero_density(shard_df: DataFrame,
                             window: int = 4096) -> DataFrame:
    """Per-shard zero-fingerprint statistics: global zero fraction and the
    min/max zero fraction over sliding windows of ``window`` slots
    (stride = window; mirrors the reference's windowed scan)."""

    def stats(sid, kind, fps):
        n = fps.size
        if n == 0:
            return None
        zeros = fps == 0
        w = min(window, n)
        n_win = n // w
        frac = zeros[: n_win * w].reshape(n_win, w).mean(axis=1)
        return {"shard_id": sid, "kind": kind, "num_slots": n,
                "n_zero": int(zeros.sum()), "zero_frac": float(zeros.mean()),
                "win_zero_min": float(frac.min()),
                "win_zero_max": float(frac.max())}

    return _per_shard(shard_df, stats, ZERO_DENSITY_SCHEMA, _PA_ZERO_DENSITY)


ZERO_SERIES_SCHEMA = ("shard_id int, kind string, "
                      "series array<int>")
_PA_ZERO_SERIES = pa.schema([("shard_id", pa.int32()), ("kind", pa.string()),
                             ("series", pa.list_(pa.int32()))])


def zero_density_series(shard_df: DataFrame, window: int = 2000,
                        stride: int = 333) -> DataFrame:
    """The reference's zeroes.txt series, distributed: sliding-window count
    of zero fingerprints (window ``window``, sampled every ``stride`` slots —
    analysis/src/zeroes.rs:24-36), one downsampled series per shard.
    Zero-slot shards (no keys) have no series and are skipped."""

    def stats(sid, kind, fps):
        if not fps.size:
            return None
        cs = np.concatenate(([0], np.cumsum(fps == 0, dtype=np.int64)))
        idx = np.arange(window, fps.size, stride)
        series = (cs[idx + 1] - cs[idx + 1 - window]).astype(np.int32)
        return {"shard_id": sid, "kind": kind, "series": series.tolist()}

    return _per_shard(shard_df, stats, ZERO_SERIES_SCHEMA, _PA_ZERO_SERIES)


def plot_zero_density(shard_df: DataFrame, path: str, window: int = 2000,
                      stride: int = 333, width_px: int = 900,
                      height_px: int = 300) -> str:
    """Dependency-free counterpart of the reference's analysis/plot_zeroes
    (matplotlib is not available in this container): renders the sliding
    zero-count series as a self-contained SVG line chart, one polyline per
    shard, and writes it to ``path``. Returns the path."""
    rows = sorted(zero_density_series(shard_df, window, stride).collect(),
                  key=lambda r: r["shard_id"])
    all_vals = [v for r in rows for v in r["series"]]
    y_max = max(all_vals or [1]) * 1.1
    n_max = max((len(r["series"]) for r in rows), default=1)
    pad = 40
    pw, ph = width_px - 2 * pad, height_px - 2 * pad
    palette = ["#4477aa", "#ee6677", "#228833", "#ccbb44",
               "#66ccee", "#aa3377", "#bbbbbb", "#000000"]
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width_px}" '
        f'height="{height_px}" viewBox="0 0 {width_px} {height_px}">',
        f'<rect width="{width_px}" height="{height_px}" fill="white"/>',
        f'<line x1="{pad}" y1="{height_px - pad}" x2="{width_px - pad}" '
        f'y2="{height_px - pad}" stroke="#333"/>',
        f'<line x1="{pad}" y1="{pad}" x2="{pad}" '
        f'y2="{height_px - pad}" stroke="#333"/>',
        f'<text x="{width_px // 2}" y="{height_px - 8}" font-size="12" '
        f'text-anchor="middle">sample (stride {stride})</text>',
        f'<text x="14" y="{height_px // 2}" font-size="12" '
        f'text-anchor="middle" transform="rotate(-90 14 {height_px // 2})">'
        f'zeroes in {window}-slot window</text>',
    ]
    for r in rows:
        s = r["series"]
        if not s:
            continue
        color = palette[r["shard_id"] % len(palette)]
        pts = " ".join(
            f"{pad + pw * i / max(n_max - 1, 1):.1f},"
            f"{pad + ph * (1 - v / y_max):.1f}"
            for i, v in enumerate(s))
        parts.append(f'<polyline points="{pts}" fill="none" '
                     f'stroke="{color}" stroke-width="1"/>')
    parts.append("</svg>")
    svg = "\n".join(parts)
    with open(path, "w") as fh:
        fh.write(svg)
    return path
