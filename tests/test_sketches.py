"""Mergeable sketch library: kernel bounds, merge laws, serde, and the
distributed UDAF dataflow (north-rule requirement: HLL / Count-Min /
t-digest / KLL / Bloom as mergeable aggregations matching the published
error bounds, with merge associativity and checkpoint-resume)."""

from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xorf_spark.kernels import mix64
from xorf_spark.sketches import (
    KLL,
    Bloom,
    CountMin,
    HyperLogLog,
    MisraGries,
    TDigest,
    Theta,
    build_sketch_table,
    grouped_sketch,
    sketch_agg,
    sketch_from_bytes,
    sketch_from_table,
)


def _hashes(n: int, seed: int = 7) -> np.ndarray:
    """~n distinct uniform u64 hashes. NOTE: no slicing after np.unique —
    unique sorts, and truncating a sorted array clips the top hash range,
    which would starve the high HLL registers (index = top p bits)."""
    rng = np.random.default_rng(seed)
    raw = rng.integers(0, 2**63, n, dtype=np.int64).view(np.uint64)
    return np.unique(mix64(raw))


# ---------------------------------------------------------------------------
# Kernel bounds (published error guarantees)
# ---------------------------------------------------------------------------

def test_hll_estimate_within_bound():
    keys = _hashes(250_000)
    h = HyperLogLog(p=12).add_hashes(keys)
    est = h.estimate()
    # standard error 1.04/sqrt(m); allow 4 sigma on a fixed seed
    assert abs(est - keys.size) / keys.size < 4 * h.rel_error()


def test_hll_merge_is_exact_max_and_order_free():
    keys = _hashes(120_000)
    whole = HyperLogLog(p=12).add_hashes(keys)
    a = HyperLogLog(p=12).add_hashes(keys[:40_000])
    b = HyperLogLog(p=12).add_hashes(keys[40_000:90_000])
    c = HyperLogLog(p=12).add_hashes(keys[90_000:])
    ab_c = HyperLogLog(p=12).merge(a).merge(b).merge(c)
    c_ba = HyperLogLog(p=12).merge(c).merge(b).merge(a)
    assert np.array_equal(ab_c.registers, whole.registers)
    assert ab_c.to_bytes() == c_ba.to_bytes() == whole.to_bytes()


def test_cms_never_underestimates_and_within_eps():
    rng = np.random.default_rng(3)
    z = rng.zipf(1.3, 400_000)
    z = z[z < 100_000].astype(np.int64)
    keys = mix64(z.view(np.uint64))
    cms = CountMin(width=8192, depth=5).add_hashes(keys)
    vals, true = np.unique(z, return_counts=True)
    top = np.argsort(true)[-50:]
    est = cms.estimate_hashes(mix64(vals[top].view(np.uint64)))
    err = est - true[top]
    assert (err >= 0).all()                      # CMS law: never under
    assert (err <= cms.eps() * cms.total).all()  # w.p. 1-e^-5 per query


def test_cms_merge_is_exact_sum():
    keys = _hashes(100_000)
    w = np.ones(keys.size, dtype=np.int64)
    whole = CountMin(width=2048, depth=4).add_hashes(keys, w)
    a = CountMin(width=2048, depth=4).add_hashes(keys[:30_000])
    b = CountMin(width=2048, depth=4).add_hashes(keys[30_000:])
    assert b.merge(a).to_bytes() == whole.to_bytes()


def test_bloom_zero_false_negatives_and_fpp():
    keys = _hashes(200_000)
    bl = Bloom.for_capacity(keys.size, fpp=0.01).add_hashes(keys)
    assert bl.contains_hashes(keys).all()
    fresh = _hashes(200_000, seed=99)
    fpp = float(bl.contains_hashes(fresh).mean())
    assert fpp < 0.02  # 2x the design target on a fixed seed


def test_bloom_merge_is_exact_or():
    keys = _hashes(50_000)
    whole = Bloom(n_bits=1 << 20, k=7).add_hashes(keys)
    a = Bloom(n_bits=1 << 20, k=7).add_hashes(keys[:20_000])
    b = Bloom(n_bits=1 << 20, k=7).add_hashes(keys[20_000:])
    assert a.merge(b).to_bytes() == whole.to_bytes()


def test_kll_rank_error_and_merge_bound():
    rng = np.random.default_rng(11)
    vals = rng.lognormal(0, 1, 200_000)
    kl = KLL(k=400).add(vals)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        v = kl.quantiles([q])[0]
        assert abs((vals <= v).mean() - q) < 0.01
    parts = [KLL(k=400).add(vals[i::8]) for i in range(8)]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert merged.n == vals.size
    v = merged.quantiles([0.5])[0]
    assert abs((vals <= v).mean() - 0.5) < 0.015


def test_tdigest_rank_error_tails_and_merge():
    rng = np.random.default_rng(5)
    vals = rng.normal(0, 1, 200_000)
    td = TDigest(delta=300).add(vals)
    for q, bound in ((0.001, 0.001), (0.01, 0.002), (0.5, 0.005),
                     (0.99, 0.002), (0.999, 0.001)):
        v = td.quantile(q)
        assert abs((vals <= v).mean() - q) < bound
    parts = [TDigest(delta=300).add(vals[i::16]) for i in range(16)]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.merge(p)
    assert abs((vals <= merged.quantile(0.99)).mean() - 0.99) < 0.003
    # sketch stays small: that's the whole point
    assert merged.means.size < 3 * merged.delta


def test_serde_roundtrip_all_kinds():
    keys = _hashes(10_000)
    vals = np.linspace(0, 1, 10_000)
    for sk in (HyperLogLog(p=10).add_hashes(keys),
               CountMin(width=512, depth=3).add_hashes(keys),
               Bloom(n_bits=1 << 16, k=5).add_hashes(keys),
               KLL(k=128).add(vals),
               TDigest(delta=100).add(vals),
               MisraGries(k=64).add_hashes(keys[:1000]),
               Theta(k=256).add_hashes(keys)):
        back = sketch_from_bytes(sk.to_bytes())
        assert back.to_bytes() == sk.to_bytes()
        assert type(back) is type(sk)


def test_keyed_merge_laws_property():
    """Property: for ANY split of a key set into parts and ANY merge order,
    HLL/CMS/Bloom state is byte-identical to the whole-set build."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    keys = _hashes(20_000)

    @settings(max_examples=15, deadline=None)
    @given(cuts=st.lists(st.integers(1, keys.size - 1), min_size=1,
                         max_size=5, unique=True),
           order_seed=st.integers(0, 2**31))
    def check(cuts, order_seed):
        parts = np.split(keys, sorted(cuts))
        order = np.random.default_rng(order_seed).permutation(len(parts))
        for make in (lambda: HyperLogLog(p=10),
                     lambda: CountMin(width=256, depth=3),
                     lambda: Bloom(n_bits=1 << 18, k=5),
                     lambda: Theta(k=512)):
            whole = make()
            whole.add_hashes(keys)
            merged = make()
            for i in order:
                merged.merge(make().add_hashes(parts[i]))
            assert merged.to_bytes() == whole.to_bytes()

    check()


def test_valued_merge_bound_property():
    """Property: KLL/t-digest merged over ANY split keep their rank-error
    guarantee (the 'within published bound' half of the merge law)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rng = np.random.default_rng(21)
    vals = rng.lognormal(0, 1.5, 60_000)

    @settings(max_examples=8, deadline=None)
    @given(cuts=st.lists(st.integers(1, vals.size - 1), min_size=1,
                         max_size=6, unique=True))
    def check(cuts):
        parts = np.split(vals, sorted(cuts))
        kll, td = KLL(k=400), TDigest(delta=300)
        for p in parts:
            kll.merge(KLL(k=400).add(p))
            td.merge(TDigest(delta=300).add(p))
        assert kll.n == vals.size and abs(td.n - vals.size) < 1e-6
        for q in (0.05, 0.5, 0.95):
            assert abs((vals <= kll.quantiles([q])[0]).mean() - q) < 0.02
            assert abs((vals <= td.quantile(q)).mean() - q) < 0.01

    check()


def test_geometry_mismatch_rejected():
    with pytest.raises(ValueError):
        HyperLogLog(p=10).merge(HyperLogLog(p=12))
    with pytest.raises(ValueError):
        CountMin(width=512, depth=3).merge(CountMin(width=256, depth=3))
    with pytest.raises(ValueError):
        Bloom(n_bits=128, k=3).merge(Bloom(n_bits=256, k=3))
    with pytest.raises(ValueError):
        MisraGries(k=64).merge(MisraGries(k=128))


def _zipf_stream(n_draws: int = 1_500_000, seed: int = 11) -> np.ndarray:
    rng = np.random.default_rng(seed)
    raw = rng.zipf(1.3, n_draws)
    return raw[raw < 200_000].astype(np.int64)


def test_mg_bounds_on_skewed_stream():
    """Misra-Gries published guarantees on a zipf stream with far more
    distinct keys than capacity: counter ≤ true ≤ counter + dsub for every
    key, dsub ≤ n/(k+1), and zero false-negative heavy hitters above the
    1/(k+1) frequency threshold."""
    stream = _zipf_stream()
    mg = MisraGries(k=512)
    for lo in range(0, stream.size, 200_000):   # batched adds → compactions
        mg.add_hashes(stream[lo:lo + 200_000])
    assert mg.n == stream.size
    assert mg.keys.size <= 512
    assert mg.dsub <= mg.error_bound()
    uk, uc = np.unique(stream, return_counts=True)
    est = mg.estimate_hashes(uk)
    assert (est <= uc).all()
    assert (uc <= est + mg.dsub).all()
    heavy = uk[uc > stream.size / (mg.k + 1)]
    assert heavy.size > 0
    assert (mg.estimate_hashes(heavy) > 0).all()
    # absent keys estimate 0
    assert (mg.estimate_hashes(np.array([10**12, -5], dtype=np.int64)) == 0).all()


def test_mg_exact_below_capacity_and_weighted():
    """With ≤ k distinct keys no compaction runs: exact counts, dsub = 0.
    Weighted adds count total weight."""
    keys = np.arange(40, dtype=np.int64)
    w = (np.arange(40) + 1).astype(np.int64)
    mg = MisraGries(k=64).add_hashes(keys, weights=w)
    assert mg.dsub == 0 and mg.n == int(w.sum())
    assert (mg.estimate_hashes(keys) == w).all()
    ks, lo, hi = mg.topk(3)
    assert list(ks) == [39, 38, 37] and (lo == hi).all()


def test_mg_merge_any_split_keeps_bounds():
    """Property: merging per-part MG summaries in ANY order keeps the
    published bounds vs the exact counts (merge is bound-associative, not
    byte-exact — compaction points depend on order)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    stream = _zipf_stream(600_000, seed=3)
    uk, uc = np.unique(stream, return_counts=True)

    @settings(max_examples=10, deadline=None)
    @given(cuts=st.lists(st.integers(1, stream.size - 1), min_size=1,
                         max_size=5, unique=True),
           order_seed=st.integers(0, 2**31))
    def check(cuts, order_seed):
        parts = np.split(stream, sorted(cuts))
        order = np.random.default_rng(order_seed).permutation(len(parts))
        merged = MisraGries(k=256)
        for i in order:
            merged.merge(MisraGries(k=256).add_hashes(parts[i]))
        assert merged.n == stream.size
        assert merged.dsub <= merged.error_bound()
        est = merged.estimate_hashes(uk)
        assert (est <= uc).all() and (uc <= est + merged.dsub).all()

    check()


# ---------------------------------------------------------------------------
# Distributed dataflow
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def keyed_df(spark):
    return (spark.range(150_000, numPartitions=16)
            .select(F.xxhash64("id").alias("key"),
                    (F.col("id") % 997).cast("double").alias("v"),
                    F.pmod("id", F.lit(4)).alias("grp"))
            .cache())


def _local_hll(df, p):
    arr = np.array([r.key for r in df.select("key").collect()],
                   dtype=np.int64).view(np.uint64)
    return HyperLogLog(p=p).add_hashes(arr)


def test_distributed_keyed_state_equals_local(spark, keyed_df):
    """Partitioning/merge order must not change HLL state at all — the
    bit-exact mergeability law that makes the UDAF correct at any scale."""
    dist = sketch_agg(keyed_df, "key", "hll", {"p": 12})
    assert dist.to_bytes() == _local_hll(keyed_df, 12).to_bytes()


def test_distributed_tree_merge_fanout_invariance(spark, keyed_df,
                                                  monkeypatch):
    """A fanout-2 merge tree over 17 partials (levels of 9, 5, 3, 2 and 1
    groups) and ``sketch_agg`` past its driver-merge limit both give the
    driver merge's state, byte for byte."""
    from xorf_spark.sketches import dataflow as SD
    from xorf_spark.sketches import partial_sketches, tree_merge

    params = {"width": 2048, "depth": 4}
    want = sketch_agg(keyed_df.repartition(5), "key", "cms", params)
    parts = keyed_df.repartition(17)
    tree = tree_merge(partial_sketches(parts, "key", "cms", params), 17,
                      fanout=2).collect()
    assert len(tree) == 1
    assert sketch_from_bytes(tree[0].payload).to_bytes() == want.to_bytes()
    monkeypatch.setattr(SD, "DRIVER_MERGE_MAX_PARTIALS", 4)
    got = sketch_agg(parts, "key", "cms", params)
    assert got.to_bytes() == want.to_bytes()


def test_distributed_valued_sketches_within_bound(spark, keyed_df):
    n = keyed_df.count()
    td = sketch_agg(keyed_df, "v", "tdigest", {"delta": 300})
    kll = sketch_agg(keyed_df, "v", "kll", {"k": 400})
    assert abs(td.n - n) < 1e-9
    assert kll.n == n
    for q in (0.1, 0.5, 0.9):
        for est in (td.quantile(q), float(kll.quantiles([q])[0])):
            exact_rank = keyed_df.where(F.col("v") <= est).count() / n
            assert abs(exact_rank - q) < 0.015


def test_distributed_mg_bounds_and_udf(spark, keyed_df):
    """sketch_agg('mg') over a 50-distinct long column with k=16 (forces
    compaction): published bounds hold vs exact groupBy counts, and the
    probe UDF returns the tracked estimates (NULL keys stay NULL)."""
    from xorf_spark.sketches import mg_estimate_udf

    skewed = keyed_df.select(F.pmod("key", F.lit(50)).alias("item"))
    mg = sketch_agg(skewed, "item", "mg", {"k": 16})
    assert mg.n == keyed_df.count()
    assert mg.dsub <= mg.error_bound()
    exact = {r["item"]: r["n"] for r in
             skewed.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    est = mg.estimate_hashes(
        np.array(sorted(exact), dtype=np.int64))
    for item, e in zip(sorted(exact), est):
        assert e <= exact[item] <= e + mg.dsub
    udf = mg_estimate_udf(spark, mg)
    probed = (skewed.distinct().withColumn("est", udf("item"))
              .union(spark.sql("SELECT CAST(NULL AS LONG) item, "
                               "CAST(NULL AS LONG) est"))
              .collect())
    for r in probed:
        if r["item"] is None:
            assert r["est"] is None
        else:
            assert r["est"] == int(mg.estimate_hashes(
                np.array([r["item"]], dtype=np.int64))[0])


def test_grouped_hll_estimates(spark, keyed_df):
    rows = grouped_sketch(keyed_df, ["grp"], "key", "hll", {"p": 12}).collect()
    exact = {r.grp: r.c for r in keyed_df.groupBy("grp")
             .agg(F.countDistinct("key").alias("c")).collect()}
    assert len(rows) == 4
    for r in rows:
        assert abs(r.estimate - exact[r.grp]) / exact[r.grp] < 4 * 1.04 / 64


def test_grouped_theta_estimates(spark, keyed_df):
    """r4 review regression: the batch _headline must know theta (it
    crashed with AttributeError when only the streaming twin was
    extended — the two now share one definition)."""
    rows = grouped_sketch(keyed_df, ["grp"], "key", "theta",
                          {"k": 2048}).collect()
    exact = {r.grp: r.c for r in keyed_df.groupBy("grp")
             .agg(F.countDistinct("key").alias("c")).collect()}
    assert len(rows) == 4
    for r in rows:
        bound = 4 / (2048 - 2) ** 0.5 * exact[r.grp] + 3
        assert abs(r.estimate - exact[r.grp]) <= bound


def test_grouped_sketch_folds_a_group_across_many_arrow_batches(spark):
    """grouped_sketch folds a group batch by batch, so a group larger than
    ``maxRecordsPerBatch`` never materializes whole. Keyed kinds whose
    merge is max/sum/or/bottom-k (hll, cms, bloom, theta) must give the
    payload of one local feed of the group's keys; mg below capacity is
    exact; kll and t-digest stay within their bounds. ``n_rows`` is exact
    for every kind."""
    from xorf_spark.sketches import make_sketch

    df = (spark.range(12_050, numPartitions=4)
          .select(F.xxhash64("id").alias("key"),
                  F.xxhash64(F.col("id") % 40).alias("item"),
                  (F.col("id") % 997).cast("double").alias("v"),
                  F.when(F.col("id") < 12_000, 0).otherwise(1).alias("grp")))
    rows = {g: [r for r in df.collect() if r.grp == g] for g in (0, 1)}
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1000")
    try:
        def n_batches(key: Tuple[pa.Scalar, ...],
                      batches: Iterator[pa.RecordBatch]
                      ) -> Iterator[pa.RecordBatch]:
            yield pa.RecordBatch.from_pydict(
                {"grp": [key[0].as_py()], "n": [sum(1 for _ in batches)]})

        seen = {r.grp: r.n for r in df.groupBy("grp").applyInArrow(
            n_batches, "grp long, n long").collect()}
        assert seen[0] >= 12 and seen[1] == 1, seen
        for kind, params in (("hll", {"p": 12}),
                             ("cms", {"width": 1024, "depth": 4}),
                             ("bloom", {"n_bits": 1 << 16, "k": 5}),
                             ("theta", {"k": 1024})):
            out = {r.grp: r for r in grouped_sketch(
                df, ["grp"], "key", kind, params).collect()}
            for g, rs in rows.items():
                keys = np.array([r.key for r in rs],
                                dtype=np.int64).view(np.uint64)
                local = make_sketch(kind, **params).add_hashes(keys)
                assert out[g].n_rows == len(rs), (kind, g)
                assert bytes(out[g].payload) == local.to_bytes(), (kind, g)

        out = {r.grp: r for r in grouped_sketch(
            df, ["grp"], "item", "mg", {"k": 64}).collect()}
        for g, rs in rows.items():
            mg = sketch_from_bytes(out[g].payload)
            items, counts = np.unique(np.array([r.item for r in rs]),
                                      return_counts=True)
            assert out[g].n_rows == mg.n == len(rs) and mg.dsub == 0
            assert (mg.estimate_hashes(items) == counts).all(), g

        for kind, params in (("kll", {"k": 400}), ("tdigest", {"delta": 300})):
            out = {r.grp: r for r in grouped_sketch(
                df, ["grp"], "v", kind, params).collect()}
            for g, rs in rows.items():
                vals = np.array([r.v for r in rs])
                sk = sketch_from_bytes(out[g].payload)
                assert out[g].n_rows == len(rs) and sk.n == len(rs)
                for q in (0.1, 0.5, 0.9):
                    est = (float(sk.quantiles([q])[0]) if kind == "kll"
                           else sk.quantile(q))
                    assert abs((vals <= est).mean() - q) < 0.015, (kind, g, q)
    finally:
        spark.conf.set(conf, old)


def test_bloom_udf_zero_fn_in_where_clause(spark, keyed_df):
    from xorf_spark.sketches import bloom_contains_udf

    bl = sketch_agg(keyed_df, "key", "bloom",
                    {"n_bits": 1 << 21, "k": 7})
    udf = bloom_contains_udf(spark, bl)
    assert keyed_df.where(udf("key")).count() == keyed_df.count()


def test_tdigest_cdf_udf_quantile_filter(spark, keyed_df):
    """The quantile-filter primitive: keep rows between p10 and p90 of a
    t-digest trained on the column — selected fraction ≈ 0.8 and every kept
    value sits inside the exact decile values."""
    from xorf_spark.sketches import tdigest_cdf_udf

    td = sketch_agg(keyed_df, "v", "tdigest", {"delta": 300})
    udf = tdigest_cdf_udf(spark, td)
    n = keyed_df.count()
    kept = keyed_df.where((udf("v") >= 0.1) & (udf("v") <= 0.9))
    frac = kept.count() / n
    assert abs(frac - 0.8) < 0.02
    lo, hi = td.quantiles([0.08, 0.92])
    mn, mx = kept.agg(F.min("v"), F.max("v")).collect()[0]
    assert mn >= lo and mx <= hi


def test_cms_udf_never_under(spark, keyed_df):
    from xorf_spark.sketches import cms_estimate_udf

    # key column with duplicates: hash of grp
    dup = keyed_df.select(F.xxhash64("grp").alias("key"))
    cms = sketch_agg(dup, "key", "cms", {"width": 4096, "depth": 5})
    udf = cms_estimate_udf(spark, cms)
    rows = (dup.groupBy("key").agg(F.count("*").alias("true_n"))
            .withColumn("est", udf("key")).collect())
    assert rows and all(r.est >= r.true_n for r in rows)


def test_sketch_table_checkpoint_resume(spark, keyed_df, tmp_path):
    """Interrupted build (half the buckets committed) + resume == clean
    build, byte-identical final state."""
    path = str(tmp_path / "hll_partials")
    # simulate a first run that only committed buckets 0-3
    first = keyed_df.where(
        F.shiftrightunsigned("key", 64 - 3).cast("int") < 4)
    build_sketch_table(first, "key", "hll", path, {"p": 12}, n_buckets=8)
    assert spark.read.parquet(path).count() == 4
    # resumed run: builds only the missing buckets
    build_sketch_table(keyed_df, "key", "hll", path, {"p": 12}, n_buckets=8)
    tbl = spark.read.parquet(path)
    assert tbl.count() == 8
    assert tbl.select("part_id").distinct().count() == 8
    merged = sketch_from_table(spark, path)
    assert merged.to_bytes() == _local_hll(keyed_df, 12).to_bytes()


def test_sketch_table_duplicate_partials_not_double_counted(spark, tmp_path):
    """r3 verdict: a crashed-and-replayed append can leave duplicate
    ``part_id`` rows in the lineage table. CMS merges are ADDITIVE, so
    merging duplicates would double every count — ``sketch_from_table``
    must keep one row per part_id."""
    from xorf_spark.sketches.dataflow import sketch_from_bytes

    df = (spark.range(2000)
          .select(F.pmod(F.xxhash64("id"), F.lit(50)).alias("v")))
    path = str(tmp_path / "cms_partials")
    build_sketch_table(df, "v", "cms", path,
                       {"width": 2048, "depth": 5}, n_buckets=8)
    clean = sketch_from_table(spark, path)
    # replayed append: every partial row lands a second time
    tbl = spark.read.parquet(path)
    tbl.write.mode("append").parquet(path)
    assert spark.read.parquet(path).count() == 2 * tbl.count()
    deduped = sketch_from_table(spark, path)
    assert deduped.to_bytes() == clean.to_bytes()
    # and the raw double-merge really WOULD have doubled mass (guards the
    # test itself against a vacuous pass)
    rows = sorted(spark.read.parquet(path).collect(), key=lambda r: r.part_id)
    raw = None
    for r in rows:
        s = sketch_from_bytes(r.payload)
        raw = s if raw is None else raw.merge(s)
    assert raw.total == 2 * deduped.total
    import numpy as np
    v = np.array([0], dtype=np.int64)
    assert raw.estimate_hashes(v)[0] >= 2 * deduped.estimate_hashes(v)[0]


def test_sketch_table_wiring_stamp_guard(spark, keyed_df, tmp_path):
    """r4 verdict item 8: the sketch lineage table carries the same
    resume-under-changed-derivation hazard as the filter table — a resume
    with a different key_def merges two key universes; a different
    n_buckets reinterprets committed part_ids; different params break the
    merge law. The _XORF_KEYDEF wiring stamp refuses all three; legacy
    unstamped tables refuse every append."""
    import pytest

    path = str(tmp_path / "stamped")
    build_sketch_table(keyed_df, "key", "hll", path, {"p": 12},
                       n_buckets=8, key_def="shingle/v2/k=8")
    # same wiring resumes cleanly (no new rows — all buckets committed)
    build_sketch_table(keyed_df, "key", "hll", path, {"p": 12},
                       n_buckets=8, key_def="shingle/v2/k=8")
    assert spark.read.parquet(path).count() == 8
    # changed derivation / wiring: loud refusal
    for kw in ({"key_def": "shingle/v2/k=5"}, {"params": {"p": 14}},
               {"n_buckets": 16}):
        args = {"params": {"p": 12}, "n_buckets": 8,
                "key_def": "shingle/v2/k=8", **kw}
        with pytest.raises(ValueError, match="wiring mismatch"):
            build_sketch_table(keyed_df, "key", "hll", path,
                               args["params"], n_buckets=args["n_buckets"],
                               key_def=args["key_def"])

    # legacy (pre-stamp) table simulation: data without a sidecar.
    # Unlike the filter table (whose stamp covers ONLY an optional
    # key_def), the sketch wiring — kind/params/n_buckets — is always
    # declared, so there is no "declared nothing, nothing to check"
    # case: ANY append to an unverifiable table refuses, key_def or not
    # (an unstamped table could hold any n_buckets; appending under a
    # different one silently corrupts the merged estimate).
    legacy = str(tmp_path / "legacy")
    build_sketch_table(keyed_df, "key", "hll", legacy, {"p": 12},
                       n_buckets=8)
    from xorf_spark.dataflow import _keydef_io
    fsys, p = _keydef_io(legacy)
    fsys.delete_file(p)  # strip the stamp -> pre-versioning table
    with pytest.raises(ValueError, match="no wiring stamp"):
        build_sketch_table(keyed_df, "key", "hll", legacy, {"p": 12},
                           n_buckets=8, key_def="shingle/v2/k=8")
    with pytest.raises(ValueError, match="no wiring stamp"):
        build_sketch_table(keyed_df, "key", "hll", legacy, {"p": 12},
                           n_buckets=8)  # key_def=None is NOT an opt-out
    from xorf_spark.dataflow import _read_keydef
    assert _read_keydef(legacy) is None  # refusal did not retro-stamp


def test_sketch_table_resume_propagates_real_errors(spark, tmp_path,
                                                    monkeypatch):
    """A transient FS error during the resume listing must raise, not be
    read as 'no table yet' (which would rebuild + append every bucket and
    double-count the additive sketches)."""
    import pytest
    from pyspark.sql.readwriter import DataFrameReader

    df = spark.range(100).select(F.xxhash64("id").alias("key"))

    def boom(self, *a, **k):
        raise IOError("simulated transient FS failure")

    monkeypatch.setattr(DataFrameReader, "parquet", boom)
    with pytest.raises(IOError, match="transient FS failure"):
        build_sketch_table(df, "key", "hll",
                           str(tmp_path / "t"), {"p": 10}, n_buckets=4)


def test_empty_input(spark):
    empty = spark.range(0).select(F.xxhash64("id").alias("key"))
    sk = sketch_agg(empty, "key", "hll", {"p": 10})
    assert sk.estimate() == 0.0


def test_streaming_windowed_hll(spark, tmp_path):
    """Streaming HLL per (group, window): the running estimate after all
    micro-batches must equal a batch HLL over the same rows (byte-level
    mergeability makes fold order irrelevant), and sit within the bound of
    the exact distinct count."""
    from xorf_spark.streaming import stream_windowed_hll

    src = str(tmp_path / "hll_stream")
    base = spark.range(40_000).select(
        F.xxhash64("id").alias("key"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("grp"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
         + F.make_interval(mins=(F.col("id") % 180).cast("int"))).alias("ts"))
    # two micro-batches with overlap
    base.where(F.col("id") < 25_000).write.parquet(src + "/b1")
    base.where(F.col("id") >= 15_000).write.parquet(src + "/b2")

    stream = spark.readStream.schema("key long, grp string, ts timestamp") \
        .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    out = stream_windowed_hll(stream, "key", "grp", "ts",
                              window="1 hour", p=12)
    q = (out.writeStream.format("memory").queryName("hll_win")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    # final running estimate per (group, window): estimates are monotone
    # under max-merge, so the max update is the last one (memory-sink row
    # order is not guaranteed)
    final: dict = {}
    for r in spark.sql("select * from hll_win").collect():
        k = (r.group, r.window_start)
        final[k] = max(final.get(k, 0.0), r.distinct_est)
    exact = {(r.grp, r.ws): r.d for r in
             (base.groupBy("grp", F.unix_timestamp(
                 F.window("ts", "1 hour").start).alias("ws"))
              .agg(F.countDistinct("key").alias("d")).collect())}
    assert set(final) == set(exact)
    for k, est in final.items():
        assert abs(est - exact[k]) / exact[k] < 4 * 1.04 / 64


def test_partial_stage_is_shuffle_free(spark, keyed_df):
    """The map-side combine law: folding partitions into partials must not
    shuffle the input — only the KB-sized partial rows move afterwards."""
    from xorf_spark.plans.inspect import count_exchanges
    from xorf_spark.sketches import partial_sketches

    partials = partial_sketches(keyed_df, "key", "hll", {"p": 12})
    assert count_exchanges(partials) == 0


def test_sql_registered_sketch_udfs(spark, keyed_df):
    from xorf_spark.functions import register_sketch_udfs
    from xorf_spark.sketches import sketch_agg

    bl = sketch_agg(keyed_df, "key", "bloom", {"n_bits": 1 << 21, "k": 7})
    dup = keyed_df.select(F.xxhash64("grp").alias("key"))
    cm = sketch_agg(dup, "key", "cms", {"width": 4096, "depth": 5})
    register_sketch_udfs(spark, bloom=bl, cms=cm, prefix="t_sketch")
    keyed_df.createOrReplaceTempView("t_keys")
    dup.createOrReplaceTempView("t_dups")
    n = spark.sql(
        "SELECT count(*) AS n FROM t_keys "
        "WHERE t_sketch_bloom_contains(key)").collect()[0].n
    assert n == keyed_df.count()
    rows = spark.sql(
        "SELECT key, count(*) AS true_n, t_sketch_cms_count(key) AS est "
        "FROM t_dups GROUP BY key").collect()
    assert rows and all(r.est >= r.true_n for r in rows)


def test_sql_registered_tdigest_udf(spark, keyed_df):
    """The tdigest branch of register_sketch_udfs must be SQL-callable
    (regression: it used to register the Column-level null-safe wrapper,
    which crashed with AttributeError at call time) and NULL-safe."""
    from xorf_spark.functions import register_sketch_udfs
    from xorf_spark.sketches import sketch_agg

    td = sketch_agg(keyed_df, "v", "tdigest", {"delta": 300})
    register_sketch_udfs(spark, tdigest=td, prefix="t_td")
    keyed_df.createOrReplaceTempView("t_td_vals")
    rows = spark.sql(
        "SELECT v, t_td_tdigest_cdf(v) AS cdf FROM t_td_vals "
        "WHERE v IN (0.0, 500.0, 996.0)").collect()
    assert rows
    for r in rows:
        # v is uniform on [0, 997): cdf must track v/997 closely
        assert abs(r.cdf - r.v / 997.0) < 0.05
    # SQL null semantics: f(NULL) IS NULL, not NaN / key-0's verdict
    null_row = spark.sql(
        "SELECT t_td_tdigest_cdf(CAST(NULL AS DOUBLE)) AS cdf").collect()[0]
    assert null_row.cdf is None


def test_null_keys_ignored_and_probe_nulls(spark, keyed_df):
    """SQL null semantics end-to-end: null keys are dropped from keyed-sketch
    builds (never coerced through float64, which loses 64-bit precision) and
    probe UDFs return NULL — not key-0's verdict — for NULL inputs."""
    from xorf_spark.sketches import bloom_contains_udf, cms_estimate_udf

    with_nulls = keyed_df.select(
        F.when(F.col("key") % 10 == 0, None).otherwise(F.col("key"))
        .alias("key"))
    clean = with_nulls.where(F.col("key").isNotNull())
    g_nulls = grouped_sketch(with_nulls.withColumn("g", F.lit(1)),
                             ["g"], "key", "hll", {"p": 12}).collect()[0]
    g_clean = grouped_sketch(clean.withColumn("g", F.lit(1)),
                             ["g"], "key", "hll", {"p": 12}).collect()[0]
    assert bytes(g_nulls["payload"]) == bytes(g_clean["payload"])
    assert g_nulls["n_rows"] == clean.count()

    bl = sketch_agg(clean, "key", "bloom", {"n_bits": 1 << 21, "k": 7})
    budf = bloom_contains_udf(spark, bl)
    probe = with_nulls.withColumn("m", budf("key"))
    assert probe.where(F.col("key").isNull()
                       & F.col("m").isNotNull()).count() == 0
    assert probe.where(F.col("key").isNotNull() & ~F.col("m")).count() == 0

    cms = sketch_agg(clean, "key", "cms", {"width": 4096, "depth": 5})
    cudf = cms_estimate_udf(spark, cms)
    est = with_nulls.withColumn("e", cudf("key"))
    assert est.where(F.col("key").isNull()
                     & F.col("e").isNotNull()).count() == 0


def test_filter_probe_null_semantics(spark, keyed_df):
    from xorf_spark import dataflow as D

    shard_df = D.build_filter_df(keyed_df.select("key"), kind="bfuse8",
                                 n_shards=4)
    table = D.FilterTable.from_df(shard_df)
    with_nulls = keyed_df.select(
        F.when(F.col("key") % 10 == 0, None).otherwise(F.col("key"))
        .alias("key"))
    udf = table.contains_udf(spark)
    probe = with_nulls.withColumn("m", udf("key"))
    # Collect WITHOUT a key-null predicate in the plan: a filter like
    # key IS NOT NULL gets pushed BELOW the UDF, handing it null-free
    # int64 batches — which masked the float64 batch-corruption bug for a
    # whole round. Evaluate over the null-bearing batches, check in python.
    rows = probe.collect()
    assert any(r["key"] is None for r in rows)
    for r in rows:
        if r["key"] is None:
            assert r["m"] is None          # NULL key -> NULL verdict
        else:
            assert r["m"] is True, r       # zero FN, even in null batches


def test_kll_weight_conservation():
    """Canonical odd-size compaction rule: total retained weight must equal
    n exactly after arbitrary adds and merges (no per-compaction drift)."""
    from xorf_spark.sketches import KLL

    rng = np.random.default_rng(11)
    sk = KLL(k=128)
    for _ in range(40):
        sk.add(rng.standard_normal(50_000))
    merged = KLL(k=128).add(rng.standard_normal(123_457)).merge(sk)
    for s in (sk, merged):
        total = sum((1 << h) * a.size for h, a in enumerate(s.levels))
        assert total == s.n


def test_streaming_windowed_cms_and_bloom(spark, tmp_path):
    """Generic streaming windowed sketch: CMS total weight equals the exact
    row count per (group, window), and Bloom state has zero FN over every
    streamed key — merge-law invariance across micro-batch folds."""
    from xorf_spark.sketches import sketch_from_bytes
    from xorf_spark.streaming import stream_windowed_sketch

    src = str(tmp_path / "sk_stream")
    base = spark.range(30_000).select(
        F.xxhash64("id").alias("key"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("grp"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"))
    base.where(F.col("id") < 20_000).write.parquet(src + "/b1")
    base.where(F.col("id") >= 20_000).write.parquet(src + "/b2")
    stream = spark.readStream.schema("key long, grp string, ts timestamp") \
        .option("maxFilesPerTrigger", "1").parquet(src + "/*")

    out = stream_windowed_sketch(stream, "key", "grp", "cms",
                                 {"width": 2048, "depth": 4})
    q = (out.writeStream.format("memory").queryName("cms_win")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    final: dict = {}
    for r in spark.sql("select * from cms_win").collect():
        final[r.group] = max(final.get(r.group, 0.0), r.distinct_est)
    exact = {r.grp: r.n for r in
             base.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert {g: int(v) for g, v in final.items()} == exact

    out = stream_windowed_sketch(stream, "key", "grp", "bloom",
                                 {"n_bits": 1 << 20, "k": 7})
    q = (out.writeStream.format("memory").queryName("bloom_win")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    n_added = {}
    for r in spark.sql("select * from bloom_win").collect():
        n_added[r.group] = max(n_added.get(r.group, 0.0), r.distinct_est)
    assert {g: int(v) for g, v in n_added.items()} == exact

    # mg: headline is total folded weight; running state stays a valid
    # MG summary across micro-batch folds (bounds vs exact stream counts)
    out = stream_windowed_sketch(stream, "key", "grp", "mg", {"k": 64})
    q = (out.writeStream.format("memory").queryName("mg_win")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    folded = {}
    for r in spark.sql("select * from mg_win").collect():
        folded[r.group] = max(folded.get(r.group, 0.0), r.distinct_est)
    assert {g: int(v) for g, v in folded.items()} == exact

    # theta: headline is the distinct estimate; with k above the per-group
    # cardinality the sketch is in its exact regime, so the streamed fold
    # must land exactly on the batch distinct counts
    out = stream_windowed_sketch(stream, "key", "grp", "theta",
                                 {"k": 32_768})
    q = (out.writeStream.format("memory").queryName("theta_win")
         .outputMode("update").start())
    q.processAllAvailable()
    q.stop()
    th = {}
    for r in spark.sql("select * from theta_win").collect():
        th[r.group] = max(th.get(r.group, 0.0), r.distinct_est)
    assert {g: int(v) for g, v in th.items()} == exact


def test_hll_union_and_intersection_estimate():
    """union is lossless (== build over concatenation, byte-exact and
    non-mutating); inclusion-exclusion intersection lands within
    4σ·(|A|+|B|+|A∪B|) of the truth on a planted 30% overlap."""
    a_keys = _hashes(120_000, seed=1)
    b_keys = np.concatenate([a_keys[:40_000], _hashes(90_000, seed=2)])
    a = HyperLogLog(p=13).add_hashes(a_keys)
    b = HyperLogLog(p=13).add_hashes(b_keys)
    a_bytes = a.to_bytes()
    u = a.union(b)
    assert a.to_bytes() == a_bytes  # non-mutating
    whole = HyperLogLog(p=13).add_hashes(np.concatenate([a_keys, b_keys]))
    assert u.to_bytes() == whole.to_bytes()
    true_i = np.intersect1d(a_keys, b_keys).size
    est_i = HyperLogLog.intersection_estimate(a, b)
    slack = 4 * a.rel_error() * (a_keys.size + b_keys.size
                                 + np.union1d(a_keys, b_keys).size)
    assert abs(est_i - true_i) <= slack
    with pytest.raises(ValueError):
        a.union(HyperLogLog(p=11))


def test_negative_weights_rejected():
    """CMS ("never under") and MG (n/(k+1) decrement bound) both assume
    cash-register (non-negative) updates — negative weights must raise,
    not silently void the published law."""
    keys = np.arange(5, dtype=np.int64)
    with pytest.raises(ValueError):
        CountMin(width=64, depth=2).add_hashes(
            keys, np.array([1, -1, 1, 1, 1]))
    with pytest.raises(ValueError):
        MisraGries(k=8).add_hashes(keys, np.array([1, 1, -2, 1, 1]))


def test_tdigest_cdf_udf_fractional_and_null(spark):
    """The t-digest probe keeps FRACTIONAL values intact through the
    null-safe wrapper (regression: the keyed wrapper's long cast would
    truncate 0.5 → 0) and maps NULL → NULL."""
    import numpy as np

    from xorf_spark.sketches import TDigest, tdigest_cdf_udf

    td = TDigest(delta=200).add(np.linspace(0.0, 1.0, 10_001))
    udf = tdigest_cdf_udf(spark, td)
    rows = (spark.createDataFrame([(0.5,), (0.25,), (None,)], "v double")
            .withColumn("r", udf("v")).collect())
    got = {r["v"]: r["r"] for r in rows}
    assert got[None] is None
    assert abs(got[0.5] - 0.5) < 0.01      # a long cast would give cdf(0)
    assert abs(got[0.25] - 0.25) < 0.01


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Event-time watermark mode: rows arriving later than the watermark
    are DROPPED before the state function (a straggler cannot skew a
    closed window), while on-time windows keep folding. Batches are fed
    incrementally so the watermark advances deterministically."""
    from xorf_spark.streaming import stream_windowed_sketch

    src = str(tmp_path / "wm_stream")

    def batch(lo, hi, ts):
        return spark.range(lo, hi).select(
            F.xxhash64("id").alias("key"), F.lit("a").alias("grp"),
            F.to_timestamp(F.lit(ts)).alias("ts"))

    batch(0, 1000, "2026-01-01 00:10:00").write.parquet(src + "/b1")
    stream = spark.readStream.schema("key long, grp string, ts timestamp") \
        .option("maxFilesPerTrigger", "1").parquet(src + "/*")
    out = stream_windowed_sketch(stream, "key", "grp", "hll", {"p": 13},
                                 window="1 hour", watermark="30 minutes")
    q = (out.writeStream.format("memory").queryName("wm_win")
         .outputMode("update").start())
    q.processAllAvailable()
    # advance the watermark far past window 0's end + lateness allowance
    batch(5000, 5200, "2026-01-01 03:00:00").write.parquet(src + "/b2")
    q.processAllAvailable()
    # straggler: 1000 NEW keys stamped inside window 0, arriving after the
    # watermark passed — must be dropped, not folded
    batch(10_000, 11_000, "2026-01-01 00:20:00").write.parquet(src + "/b3")
    q.processAllAvailable()
    q.stop()

    ws0 = int(spark.sql(
        "select unix_timestamp(timestamp '2026-01-01 00:00:00')"
    ).collect()[0][0])
    final: dict = {}
    for r in spark.sql("select * from wm_win").collect():
        k = (r.group, r.window_start)
        final[k] = max(final.get(k, 0.0), r.distinct_est)
    est0 = final[("a", ws0)]
    # 1000 on-time keys only; folding the 1000 late keys would read ~2000
    assert abs(est0 - 1000) / 1000 < 4 * 1.04 / (2 ** 6.5), est0
    assert ("a", ws0 + 3 * 3600) in final  # on-time window 3 present


def test_streaming_watermark_and_retention_exclusive(spark):
    import pytest

    from xorf_spark.streaming import stream_windowed_sketch

    with pytest.raises(ValueError, match="not both"):
        stream_windowed_sketch(
            spark.readStream.format("rate").load()
            .selectExpr("value as key", "'g' as grp", "timestamp as ts"),
            "key", "grp", "hll", {"p": 12},
            retention="1 hour", watermark="10 minutes")


def test_hll_shingle_distinct_query(spark):
    """q_hll_shingle_distinct left the gate registry in round 3 (duplicate
    HLL law); keep its query-level behavior pinned here: the HLL estimate
    over derived shingle keys sits within bound of the exact distinct."""
    from xorf_spark.sketch_queries import q_hll_shingle_distinct

    row = q_hll_shingle_distinct(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.within_bound
    assert row.n_distinct_shingles > 0


def test_sketch_agg_staged_matches_one_shot(spark, keyed_df, tmp_path):
    """Staged sketch aggregation (parquet spill + file-reading python
    tasks, no Arrow feed) must produce byte-identical state to the
    one-shot path for keyed sketches (merge law), handle nulls the same,
    and keep valued sketches inside their published bounds."""
    from xorf_spark.sketches import sketch_agg, sketch_agg_staged

    with_nulls = keyed_df.select(
        F.when(F.col("key") % 13 == 0, None).otherwise(F.col("key"))
        .alias("key"), "v")
    for kind, params in (("hll", {"p": 12}),
                         ("cms", {"width": 2048, "depth": 4}),
                         ("bloom", {"n_bits": 1 << 20, "k": 7})):
        one = sketch_agg(with_nulls, "key", kind, params)
        staged = sketch_agg_staged(
            with_nulls, "key", kind, str(tmp_path / f"st_{kind}"), params)
        assert staged.to_bytes() == one.to_bytes(), kind

    td = sketch_agg_staged(keyed_df, "v", "tdigest",
                           str(tmp_path / "st_td"), {"delta": 300})
    # v uniform on [0, 997): rank of the median must be ~0.5
    assert abs(td.cdf(np.array([498.5]))[0] - 0.5) < 0.01

    # empty input → empty sketch, not a crash
    empty = sketch_agg_staged(
        keyed_df.where(F.lit(False)), "key", "hll",
        str(tmp_path / "st_empty"), {"p": 12})
    assert empty.estimate() == 0.0


def test_sketch_agg_staged_null_weights_match_one_shot(spark, tmp_path):
    """Rows with NULL weights are dropped identically on both paths —
    the staged path must not let a nullable weight column reach the
    worker as float64-with-NaN."""
    from xorf_spark.sketches import sketch_agg, sketch_agg_staged

    df = (spark.range(50_000)
          .select(F.xxhash64("id").alias("key"),
                  F.when(F.col("id") % 7 == 0, None)
                  .otherwise((F.col("id") % 5) + 1).alias("w")))
    one = sketch_agg(df, "key", "cms", {"width": 1024, "depth": 3},
                     weight_col="w")
    staged = sketch_agg_staged(df, "key", "cms", str(tmp_path / "st_w"),
                               {"width": 1024, "depth": 3}, weight_col="w")
    assert staged.to_bytes() == one.to_bytes()


def test_theta_estimate_and_exact_below_k():
    keys = _hashes(300_000)
    th = Theta(k=1024).add_hashes(keys)
    assert abs(th.estimate() - keys.size) / keys.size < 4 * th.rel_error()
    small = Theta(k=1024).add_hashes(keys[:500])
    assert small.estimate() == 500.0          # below k: exact
    # state is a pure function of the key set: duplicates are no-ops
    dup = Theta(k=1024).add_hashes(np.concatenate([keys, keys[:50_000]]))
    assert dup.to_bytes() == th.to_bytes()


def test_theta_intersection_tighter_than_union_scale():
    """The reason theta exists next to HLL: intersection error scales with
    the intersection, not the union. Two 200k sets overlapping in 5k —
    the estimate must land within theta's own sampling bound
    (4·sqrt(n∩/θ)), which is far below the HLL inclusion-exclusion bound
    of 4σ·(|A|+|B|+|A∪B|) on the same shapes."""
    # NOTE: never slice the sorted output of _hashes (that takes the
    # smallest hashes and breaks uniformity — the KMV estimator's whole
    # premise); pick the planted overlap by random index instead
    a_keys = _hashes(200_000, seed=1)
    b_new = _hashes(195_000, seed=2)
    rng = np.random.default_rng(3)
    overlap = a_keys[rng.choice(a_keys.size, 5_000, replace=False)]
    b_keys = np.unique(np.concatenate([b_new, overlap]))
    a = Theta(k=4096).add_hashes(a_keys)
    b = Theta(k=4096).add_hashes(b_keys)
    n_int = np.intersect1d(a_keys, b_keys).size
    est = Theta.intersection_estimate(a, b)
    theta = min(a._theta(), b._theta())
    bound = 4 * (n_int / theta) ** 0.5 + 3
    assert abs(est - n_int) <= bound
    # and that bound really is far tighter than the HLL-style union-scale
    # bound for this shape (guards the test against vacuity)
    hll_style = 4 * (1.04 / 4096 ** 0.5) * (a_keys.size + b_keys.size
                                            + len(np.union1d(a_keys, b_keys)))
    assert bound < hll_style
    # union law: merge of the two equals the build over the union
    u = a.union(b)
    whole = Theta(k=4096).add_hashes(np.concatenate([a_keys, b_keys]))
    assert u.to_bytes() == whole.to_bytes()


def test_distributed_theta_state_equals_local(spark, keyed_df):
    """Same bit-exact distributed-state law as HLL: any partitioning and
    fold order produces the identical retained set."""
    dist = sketch_agg(keyed_df, "key", "theta", {"k": 512})
    local = Theta(k=512)
    arr = np.array([r.key for r in keyed_df.collect()],
                   dtype=np.int64).view(np.uint64)
    local.add_hashes(arr)
    assert dist.to_bytes() == local.to_bytes()
    assert abs(dist.estimate() - np.unique(arr).size) \
        <= 4 * dist.rel_error() * np.unique(arr).size + 3


def test_sketch_from_bytes_corruption_fuzz_contract():
    """Serde error contract (same protocol as the codec/DMA fuzzes): a
    corrupted/truncated state blob either parses (entropy changed) or
    refuses with ValueError — never escapes raw struct.error/KeyError/
    IndexError from the per-kind parsers, the classes a 10.5k-trial
    fuzz surfaced before the sketch_from_bytes boundary wrap."""
    import numpy as np

    from xorf_spark.sketches.kernels import (KEYED_KINDS, SKETCH_KINDS,
                                             make_sketch, sketch_from_bytes)

    rng = np.random.default_rng(4)
    keys = rng.integers(0, 2**63, 2000, dtype=np.int64).view(np.uint64)
    vals = rng.normal(500, 100, 2000)
    defaults = {"bloom": {"n_bits": 1 << 14, "k": 7},
                "cms": {"width": 512, "depth": 5}, "mg": {"k": 64},
                "hll": {"p": 12}, "theta": {"k": 1024},
                "kll": {"k": 200}, "tdigest": {"delta": 200}}
    for kind in SKETCH_KINDS:
        s = make_sketch(kind, **defaults.get(kind, {}))
        if kind in KEYED_KINDS:
            s.add_hashes(keys)
        else:
            try:
                s.add_values(vals)
            except AttributeError:
                s.add(vals)
        blob = s.to_bytes()
        for trial in range(250):
            p = bytearray(blob)
            op = trial % 3
            if op == 0:
                p = p[:int(rng.integers(0, len(p)))]
            elif op == 1:
                p[int(rng.integers(0, len(p)))] = int(rng.integers(0, 256))
            else:
                i = int(rng.integers(0, max(1, len(p) - 1)))
                del p[i:i + int(rng.integers(1, 16))]
            try:
                s2 = sketch_from_bytes(bytes(p))
                if hasattr(s2, "estimate"):
                    s2.estimate()
                elif hasattr(s2, "quantile"):
                    s2.quantile(0.5)
            except (ValueError, NotImplementedError):
                pass


_KEYED_PARAMS = {"hll": {"p": 10}, "cms": {"width": 256, "depth": 3},
                 "bloom": {"n_bits": 4096, "k": 3}, "mg": {"k": 512},
                 "theta": {"k": 512}}
_INT_BITS = {"byte": 8, "short": 16, "int": 32, "long": 64}


def _sketch_bytes(spark, df, kind, stage):
    """The sketch state each keyed entry point builds over ``df.key``:
    one-shot, staged, grouped (one group) and the bucket lineage table
    (per-bucket payloads, so the bucket of every key shows)."""
    from xorf_spark.sketches import sketch_agg_staged

    params = _KEYED_PARAMS[kind]
    grouped = grouped_sketch(df.withColumn("g", F.lit(0)), ["g"], "key",
                             kind, params).collect()
    build_sketch_table(df, "key", kind, f"{stage}/table", params,
                       n_buckets=8)
    return {
        "agg": sketch_agg(df, "key", kind, params).to_bytes(),
        "staged": sketch_agg_staged(df, "key", kind, f"{stage}/spill",
                                    params).to_bytes(),
        "grouped": [bytes(r["payload"]) for r in grouped],
        "table": {r["part_id"]: bytes(r["payload"]) for r in
                  spark.read.parquet(f"{stage}/table").collect()},
    }


@st.composite
def _typed_sketch_input(draw):
    """A keyed kind, an integer Spark type and values spanning the type's
    whole range, negatives included."""
    kind = draw(st.sampled_from(sorted(_KEYED_PARAMS)))
    name = draw(st.sampled_from(sorted(_INT_BITS)))
    half = 1 << (_INT_BITS[name] - 1)
    vals = draw(st.lists(st.integers(-half, half - 1), min_size=1,
                         max_size=200))
    return kind, name, vals


@settings(max_examples=6, deadline=None)
@given(case=_typed_sketch_input())
@example(case=("hll", "int", [-(1 << 31), -5, 7, (1 << 28) + 3,
                              (1 << 31) - 1]))
def test_sketch_key_types_widen_to_long(spark, tmp_path_factory, case):
    """byte, short and int key columns give every keyed sketch entry
    point the bytes of the same keys as long. The lineage table's bucket
    shifted an int column by (64 - p) mod 32, so its buckets differed."""
    kind, name, vals = case
    rows = [(v,) for v in vals]
    typed = _sketch_bytes(spark, spark.createDataFrame(rows, f"key {name}"),
                          kind, str(tmp_path_factory.mktemp("typed")))
    want = _sketch_bytes(spark, spark.createDataFrame(rows, "key long"),
                         kind, str(tmp_path_factory.mktemp("long")))
    assert typed == want


@pytest.mark.parametrize("cast", ["double", "float", "decimal(20,0)",
                                  "string"])
def test_keyed_sketches_refuse_non_integer_keys(spark, tmp_path, cast):
    """A keyed sketch of a float, decimal or string column raises before
    any Spark job, naming the column. The staged fold truncated doubles
    to int64, the one-shot fold cast them to uint64."""
    from xorf_spark.sketches import partial_sketches, sketch_agg_staged

    df = spark.range(100).select(F.col("id").cast(cast).alias("key"))
    for kind, params in _KEYED_PARAMS.items():
        for build in (
                lambda: partial_sketches(df, "key", kind, params),
                lambda: sketch_agg(df, "key", kind, params),
                lambda: sketch_agg_staged(df, "key", kind,
                                          str(tmp_path / "st"), params),
                lambda: grouped_sketch(df, [], "key", kind, params),
                lambda: build_sketch_table(df, "key", kind,
                                           str(tmp_path / "t"), params)):
            with pytest.raises(TypeError, match="key column 'key'"):
                build()
    assert not (tmp_path / "t").exists()  # refused before any write
