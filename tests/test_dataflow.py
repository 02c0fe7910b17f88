"""End-to-end Spark tests: token table → keys → dedup → sharded build →
broadcast/cogrouped probe → semi/anti joins → checkpoint resume.

These are the distributed counterparts of the reference's in-memory contract
(zero false negatives src/lib.rs:117-119, FPP bounds src/bfuse8.rs:203-217)
plus the north-rule requirements: merge associativity, skew defusal,
checkpoint-resumable builds with per-shard lineage metrics.
"""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from xorf_spark import dataflow as D
from xorf_spark.filters import FILTER_CLASSES, filter_class
from xorf_spark.sources import docs_tokens

N_DOCS = 5_000


@pytest.fixture(scope="module")
def token_df(spark):
    df = docs_tokens(spark, N_DOCS).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def built(spark, token_df):
    keys = D.doc_keys(token_df).select("key")
    shard_df = D.build_filter_df(keys, kind="bfuse8", n_shards=8).cache()
    table = D.FilterTable.from_df(shard_df)
    return shard_df, table


def test_token_table_shape_and_determinism(spark, token_df):
    assert token_df.columns == ["doc_id", "tokens", "n_tok", "source"]
    # per-row invariant: n_tok == size(tokens) always (BASELINE.json input_hint)
    bad = token_df.where(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0
    # deterministic regeneration: token-array equality per row
    again = docs_tokens(spark, N_DOCS)
    diff = token_df.join(again, "doc_id").where(
        token_df["tokens"] != again["tokens"]).count()
    assert diff == 0
    # skewed source distribution present
    srcs = dict(token_df.groupBy("source").count().collect())
    assert srcs["web"] > srcs["books"] > srcs["code"]


def test_sharded_build_and_probe(spark, token_df, built):
    shard_df, table = built
    rows = shard_df.collect()
    assert 0 < len(rows) <= 8
    n_distinct = D.doc_keys(token_df).select("key").distinct().count()
    assert sum(r["n_keys"] for r in rows) == n_distinct
    # lineage/metrics present per shard (north star)
    for r in rows:
        assert r["retries"] >= 0 and r["build_secs"] > 0 and r["peel_rounds"] > 0
    # bits/entry within the BinaryFuse8 doc bound at aggregate level
    # (small shards carry fixed overhead; allow the documented small-n factor)
    assert table.bits_per_entry() < 13.0
    # zero false negatives through the full distributed path
    keys = np.array([r["key"] for r in
                     D.doc_keys(token_df).select("key").collect()],
                    dtype=np.int64)
    assert table.contains_np(keys).all()
    # FPP on fresh keys
    fresh = np.random.default_rng(5).integers(0, 2**64, 200_000, dtype=np.uint64)
    fpp = table.contains_np(fresh).mean()
    assert fpp < 0.406e-2 * 1.5


def test_contains_udf_in_where_clause(spark, token_df, built):
    _, table = built
    keyed = D.doc_keys(token_df)
    kept = table.where_member(keyed, "key")
    assert kept.count() == token_df.count()  # zero FN: every real key passes


def test_merge_associativity(spark, token_df):
    """Build at 4 shards vs 16 shards → identical membership verdicts
    (north_rule merge criterion: shards are disjoint hash ranges)."""
    keys = D.doc_keys(token_df).select("key")
    t4 = D.FilterTable.from_df(
        D.build_filter_df(keys, kind="bfuse8", n_shards=4))
    t16 = D.FilterTable.from_df(
        D.build_filter_df(keys, kind="bfuse8", n_shards=16))
    member = np.array([r["key"] for r in keys.distinct().collect()], dtype=np.int64)
    assert t4.contains_np(member).all()
    assert t16.contains_np(member).all()
    # both reject (almost) everything fresh; exact FPP differs per shard seed
    fresh = np.random.default_rng(6).integers(0, 2**64, 100_000, dtype=np.uint64)
    assert t4.contains_np(fresh).mean() < 0.01
    assert t16.contains_np(fresh).mean() < 0.01


def _probe_with_null_keys(spark, token_df):
    probe = token_df.limit(2000).select("doc_id", "tokens")
    nulls = spark.createDataFrame([("null-1", None), ("null-2", None)],
                                  probe.schema)
    return probe.unionByName(nulls)


def test_filter_semi_join_equals_exact(spark, token_df):
    probe = _probe_with_null_keys(spark, token_df)
    build = token_df.where(F.col("source") == "books").select("tokens")
    got = [r["doc_id"] for r in D.filter_semi_join(
        probe, build, "tokens", "tokens").select("doc_id").collect()]
    want = probe.join(build.distinct(),
                      on=probe["tokens"] == build["tokens"],
                      how="left_semi").count()
    assert len(got) == want
    # NULL probe keys never match (checked in python, not by a predicate
    # that could be pushed below the probe)
    assert not {"null-1", "null-2"} & set(got)


def test_filter_anti_join_equals_exact(spark, token_df, monkeypatch):
    probe = _probe_with_null_keys(spark, token_df)
    build = token_df.where(F.col("source") == "books").select("tokens")
    want = probe.join(build.distinct(),
                      on=probe["tokens"] == build["tokens"],
                      how="left_anti").count()
    # one left_anti with a broadcast backstop, then with a shuffled one
    for max_keys in (D.BROADCAST_JOIN_MAX_KEYS, 0):
        monkeypatch.setattr(D, "BROADCAST_JOIN_MAX_KEYS", max_keys)
        got = [r["doc_id"] for r in D.filter_anti_join(
            probe, build, "tokens", "tokens").select("doc_id").collect()]
        assert len(got) == want
        assert {"null-1", "null-2"} <= set(got)  # NULL keys survive


def test_probe_state_made_once_per_broadcast(spark, monkeypatch):
    """Worker-side probe state lives on its broadcast: ``make`` runs once
    per broadcast however many batches it serves, and a second broadcast
    of the same value gets its own object. The filter UDF bodies build one
    table per broadcast over either transport, and a sketch UDF body
    deserializes its sketch once; they run here, in-process, as a reused
    worker runs them."""
    from xorf_spark.sketches import cms_estimate_udf
    from xorf_spark.sketches import dataflow as SD
    from xorf_spark.sketches.kernels import CountMin

    sc = spark.sparkContext
    made = []

    def make(value):
        made.append(value)
        return object()

    first, second = sc.broadcast("v"), sc.broadcast("v")
    obj = D._on_broadcast(first, make)
    assert D._on_broadcast(first, make) is obj and made == ["v"]
    assert D._on_broadcast(second, make) is not obj and made == ["v", "v"]

    keys = spark.range(3000).select(F.xxhash64("id").alias("key"))
    # an int64 Arrow array, as the worker receives it
    member = pa.array(keys.toPandas()["key"], pa.int64())
    table = D.FilterTable.from_df(
        D.build_filter_df(keys, kind="bfuse8", n_shards=2))
    tables = []
    init = D.FilterTable.__init__

    def spy(self, *args):
        tables.append(self)
        init(self, *args)

    for limit in (D.MAX_BROADCAST_FP_BYTES, 0):
        monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", limit)
        udf = table.contains_udf(spark).func
        monkeypatch.setattr(D.FilterTable, "__init__", spy)
        for _ in range(3):
            assert udf(member).to_numpy(zero_copy_only=False).all()
        monkeypatch.setattr(D.FilterTable, "__init__", init)
    assert len(tables) == 2
    assert not any("__file" in r for r in tables[0].rows.values())
    assert all("__file" in r for r in tables[1].rows.values())  # mmap path

    cms = CountMin(width=1 << 12, depth=4).add_hashes(
        np.asarray(member).view(np.uint64))
    loads, load = [], SD.sketch_from_bytes
    monkeypatch.setattr(SD, "sketch_from_bytes",
                        lambda b: loads.append(b) or load(b))
    udf = cms_estimate_udf(spark, cms).func
    for _ in range(3):
        assert (udf(member).to_numpy() >= 1).all()
    assert len(loads) == 1


def test_arrow_probe_udfs_exact_64bit_keys_and_nulls(spark, monkeypatch):
    """The keyed UDF bodies (``.func``), called in-process on one int64
    Arrow batch holding NULLs and keys above 2**53: each verdict equals the
    kernel's on the exact key, and NULL keys give NULL. ``to_numpy`` of a
    null-bearing int64 array returns float64, which rounds such keys and
    turns members into false negatives; this pins that trap. No Spark job
    runs: the filter shards and sketches are built here."""
    from xorf_spark.sketches import bloom_contains_udf, cms_estimate_udf
    from xorf_spark.sketches.kernels import Bloom, CountMin

    rng = np.random.default_rng(11)

    def big_keys(n):  # |key| >= 2**60, both signs: both shards
        mag = rng.integers(1 << 60, 1 << 63, n, dtype=np.int64)
        return (mag * rng.choice([-1, 1], n)).view(np.uint64)

    members, strangers = big_keys(4000), big_keys(4000)
    rows = {}
    for sid in (0, 1):
        mine = members[(members >> np.uint64(63)) == sid]
        rows[sid] = D._build_shard_row("bfuse8", sid, mine)
    table = D.FilterTable(rows, n_shards=2)
    bloom = Bloom(n_bits=1 << 18, k=7).add_hashes(members)
    cms = CountMin(width=1 << 14, depth=5).add_hashes(np.repeat(members, 3))

    keys = np.concatenate([members, strangers]).view(np.int64)
    rng.shuffle(keys)
    null = np.zeros(keys.size, dtype=bool)
    null[::7] = True
    batch = pa.array(keys, pa.int64(), mask=null)
    assert (np.abs(keys[~null]) > 2 ** 53).all()

    is_member = np.isin(keys.view(np.uint64), members)[~null]
    broadcast_udf = table.contains_udf(spark)
    monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", 0)
    cases = [  # (udf, kernel, what every member's verdict must satisfy)
        (broadcast_udf, table.contains_np, lambda v: v),
        (table.contains_udf(spark), table.contains_np, lambda v: v),
        (bloom_contains_udf(spark, bloom), bloom.contains_hashes,
         lambda v: v),
        (cms_estimate_udf(spark, cms), cms.estimate_hashes,
         lambda v: v >= 3),
    ]
    for udf, kernel, member_ok in cases:
        got = udf.func(batch)
        assert len(got) == keys.size
        assert got.is_null().to_pylist() == null.tolist()
        got = got.drop_null().to_numpy(zero_copy_only=False)
        np.testing.assert_array_equal(got, kernel(keys[~null]))
        assert member_ok(got[is_member]).all()  # zero false negatives


def test_probe_state_dies_with_its_broadcast(spark, monkeypatch):
    """In reused python workers, probe state lives as long as its
    broadcast, no longer. After 6 table generations probed through the
    mmap path and 6 sketch UDFs, a python task that uses none of their
    broadcasts (so its worker drops them) finds no live ``FilterTable``
    and no live sketch in its worker."""
    from xorf_spark.sketches import cms_estimate_udf
    from xorf_spark.sketches.kernels import CountMin

    monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", 0)
    keys = spark.range(3000).select(F.xxhash64("id").alias("key"))
    shard_df = D.build_filter_df(keys, kind="bfuse8", n_shards=2).cache()
    cms = CountMin(width=1 << 12, depth=4).add_hashes(
        keys.toArrow().column("key").to_numpy().view(np.uint64))
    for _ in range(6):
        table = D.FilterTable.from_df(shard_df)
        member = table.contains_udf(spark)
        count = cms_estimate_udf(spark, cms)
        assert keys.where(member("key") & (count("key") >= 1)).count() == 3000
        assert table._shipped  # the mmap path ran
    shard_df.unpersist()

    @F.pandas_udf("string")
    def live(x: pd.Series) -> pd.Series:
        import gc
        import os

        from xorf_spark.dataflow import FilterTable
        from xorf_spark.sketches import kernels

        gc.collect()
        objs = gc.get_objects()
        n_tables = sum(isinstance(o, FilterTable) for o in objs)
        n_sketches = sum(isinstance(o, kernels.CountMin) for o in objs)
        return pd.Series([f"{os.getpid()} {n_tables} {n_sketches}"] * len(x))

    seen = {r[0] for r in spark.range(0, 64, numPartitions=16)
            .select(live("id")).distinct().collect()}
    assert seen and all(s.endswith(" 0 0") for s in seen), seen


def test_inline_semijoin_shards_by_default(spark, token_df, monkeypatch):
    """Scale-safety of the convenience path: with a small
    ``DEFAULT_TARGET_KEYS_PER_SHARD`` the inline build must produce >1 shard
    (the old default funneled everything into n_shards=1)."""
    seen = {}
    orig = D.build_filter_df

    def spy(keys_df, **kw):
        seen["n_shards"] = kw.get("n_shards")
        return orig(keys_df, **kw)

    monkeypatch.setattr(D, "build_filter_df", spy)
    monkeypatch.setattr(D, "DEFAULT_TARGET_KEYS_PER_SHARD", 64)
    probe = token_df.limit(500).select("doc_id", "tokens")
    build = token_df.where(F.col("source") == "books").select("tokens")
    got = D.filter_semi_join(probe, build, "tokens", "tokens").count()
    want = probe.join(build.distinct(), on=probe["tokens"] == build["tokens"],
                      how="left_semi").count()
    assert got == want
    assert seen["n_shards"] is not None and seen["n_shards"] > 1


def test_inline_semijoin_cogrouped_above_collect_cap(spark, token_df,
                                                     monkeypatch):
    """Above the collect cap (``spark.driver.maxResultSize``) the inline
    path must NEVER collect the shard table to the driver — probes route
    through ``probe_cogrouped``."""
    def boom(*a, **kw):
        raise AssertionError("driver collect of fingerprints on the big path")

    monkeypatch.setattr(D.FilterTable, "from_df", classmethod(
        lambda cls, *a, **kw: boom()))
    monkeypatch.setattr(D, "_collect_cap", lambda spark: 0)
    probe = token_df.limit(1000).select("doc_id", "tokens")
    build = token_df.where(F.col("source") == "books").select("tokens")
    got = D.filter_semi_join(probe, build, "tokens", "tokens").count()
    want = probe.join(build.distinct(), on=probe["tokens"] == build["tokens"],
                      how="left_semi").count()
    assert got == want
    got_anti = D.filter_anti_join(probe, build, "tokens", "tokens").count()
    assert got_anti == probe.count() - want


def test_from_df_load_refuse_oversize_driver_collect(spark, token_df,
                                                     tmp_path):
    """r4 verdict finding #2: the PUBLIC FilterTable.load/from_df on a
    shard table above Spark's ``spark.driver.maxResultSize`` must refuse
    loudly: Spark aborts the one collect, and ``from_df`` raises that as
    a ValueError that points at the distributed probe paths."""
    keys = D.doc_keys(token_df).select("key")
    path = str(tmp_path / "ftable")
    D.build_filter_table(keys, path, kind="bfuse8", n_shards=4)
    # a cap far below the table's ~6 KiB of fingerprints; the live conf
    # is read by the next job's task set, so it must be restored
    conf = spark.sparkContext._jsc.sc().conf()
    prev = conf.getOption("spark.driver.maxResultSize")
    conf.set("spark.driver.maxResultSize", "2k")
    try:
        with pytest.raises(ValueError, match="probe_cogrouped"):
            D.FilterTable.load(spark, path)
        with pytest.raises(ValueError, match="maxResultSize"):
            D.FilterTable.from_df(spark.read.parquet(path))
    finally:
        if prev.isDefined():
            conf.set("spark.driver.maxResultSize", prev.get())
        else:
            conf.remove("spark.driver.maxResultSize")
    # the session's cap (1 GiB) admits the small table; probes still work
    t = D.FilterTable.load(spark, path)
    assert t.where_member(keys, "key").count() == keys.count()


def test_load_collects_the_table_in_one_job(spark, tmp_path):
    """``FilterTable.load`` of a stored table runs the parquet schema
    inference and the one collect: two jobs. A pre-scan that summed
    ``num_slots`` before collecting added a job per load (an aggregate
    with its shuffle stage), and re-ran the whole build over a build
    plan."""
    sc = spark.sparkContext
    keys = spark.range(5000).select(F.xxhash64("id").alias("key"))
    path = str(tmp_path / "t")
    D.build_filter_table(keys, path, n_shards=4)
    group = "filter-table-load"
    sc.setJobGroup(group, group)
    try:
        table = D.FilterTable.load(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert table.n_shards == 4
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 2, sorted(jobs)


def test_from_df_reads_the_shard_count_off_the_rows(spark, tmp_path):
    """``from_df`` takes the shard count from the rows, which every build
    path writes one per shard id. Keys whose top bit is clear fill only
    the low half of 16 shards; guessing the count from the highest
    non-empty id probed them with fewer prefix bits and missed some. A
    table with a shard id missing, or one whose ids disagree with a
    passed ``n_shards``, raises instead of answering False."""
    import pytest

    keys = spark.range(5000).select(
        F.shiftrightunsigned(F.xxhash64("id"), 1).alias("key"))
    want = keys.toArrow().column("key").to_numpy()
    table = D.FilterTable.from_df(D.build_filter_df(keys, n_shards=16))
    assert table.n_shards == 16 and sorted(table.rows) == list(range(16))
    assert table.contains_np(want).all()
    path = str(tmp_path / "t")
    D.build_filter_df(keys, n_shards=16).write.parquet(path)
    with pytest.raises(ValueError, match="range"):
        D.FilterTable.from_df(spark.read.parquet(path).where("shard_id != 3"))
    with pytest.raises(ValueError, match="n_shards=8"):
        D.FilterTable.from_df(spark.read.parquet(path), n_shards=8)
    assert D.FilterTable.from_df(spark.read.parquet(path),
                                 n_shards=16).n_shards == 16


def test_probe_cogrouped_refuses_a_wrong_shard_count(spark):
    """Every build writes one row per shard id, so the cogrouped probe
    can tell a wrong ``n_shards`` inside its tasks: a 16-shard table
    probed as 8 has rows for shards 8-15 (it marked 353 of 5000 inserted
    keys as members, with no error), an 8-shard one probed as 16 has no
    row for the probes routed to shards 8-15."""
    from pyspark.errors import PythonException

    keys = spark.range(5000).select(F.xxhash64("id").alias("key"))
    for built, passed in ((16, 8), (8, 16)):
        shard_df = D.build_filter_df(keys, n_shards=built)
        with pytest.raises(PythonException,
                           match=f"ValueError: .*n_shards={passed}"):
            D.probe_cogrouped(keys, shard_df, n_shards=passed).collect()
    shard_df = D.build_filter_df(keys, n_shards=16)
    got = D.probe_cogrouped(keys, shard_df, n_shards=16)
    assert got.where("member").count() == 5000


def test_collect_cap_is_max_result_size(spark):
    """The driver-collect cap is Spark's own ``spark.driver.maxResultSize``
    (1 GiB by default), not a second, looser copy of it."""
    conf = spark.sparkContext.getConf().get("spark.driver.maxResultSize",
                                             "1g")
    assert D._collect_cap(spark) == D._byte_count(conf) == 1 << 30


def test_semijoin_backstop_broadcasts_small_build_side(spark, token_df):
    from xorf_spark.plans.inspect import explain_str
    probe = token_df.limit(500).select("doc_id", "tokens")
    build = token_df.where(F.col("source") == "books").select("tokens")
    plan = explain_str(
        D.filter_semi_join(probe, build, "tokens", "tokens"), "formatted")
    assert "BroadcastHashJoin" in plan, plan


def test_shingle_keys(spark, token_df):
    sk = D.shingle_keys(token_df, k=8)
    # every doc with ≥8 tokens yields size-k+... n-k+1 shingles
    want = token_df.where(F.size("tokens") >= 8).select(
        F.sum(F.size("tokens") - 8 + 1)).collect()[0][0]
    assert sk.count() == want
    # shingle keys are long-typed and deduplicable
    assert sk.select("key").distinct().count() > 0


def test_shingle_keys_match_the_transform_form(spark):
    """Both exploded shingle-key streams (``explode_shingles``) return the
    rows of the exploded ``transform`` array they replace, value for value
    and in order, so ``shingle_key_def`` stays v2 and stored tables and
    oracle answers are unchanged. Docs of length 0, k-1, k and k+5, one
    with a NULL token, and one whose token array is NULL."""
    from xorf_spark.functions import shingle_hashes_sql
    from xorf_spark.operators import decontam

    k = 8
    rows = [(i, [j * 7 + i for j in range(n)])
            for i, n in enumerate((0, k - 1, k, k + 5))]
    rows += [(4, [1, 2, None, 4, 5, 6, 7, 8, 9]), (5, None)]
    tok = spark.createDataFrame(rows, "doc_id long, tokens array<long>") \
        .coalesce(1)
    want = tok.select("doc_id", F.explode(
        F.expr(shingle_hashes_sql("tokens", k))).alias("key")).collect()
    got = D.shingle_keys(tok, k=k).select("doc_id", "key").collect()
    assert len(want) == 1 + 6 + 2
    assert got == want

    words = tok.select("doc_id", F.concat_ws(
        " ", F.col("tokens").cast("array<string>")).alias("text"))
    words = words.withColumn(
        "text", F.when(F.col("doc_id") == 5, None).otherwise(F.col("text")))
    want = (words.withColumn("__w", F.split("text", " "))
            .select("doc_id", F.explode(F.expr(
                shingle_hashes_sql("__w", k))).alias("key")).collect())
    got = decontam.shingle_keys(words, n=k).collect()
    assert len(want) == 1 + 6 + 1
    assert got == want


def test_cogrouped_probe_matches_broadcast(spark, token_df, built):
    shard_df, table = built
    keyed = (D.doc_keys(token_df).limit(3000)
             .select("doc_id", F.when(F.xxhash64("doc_id") % 10 == 0, None)
                     .otherwise(F.col("key")).alias("key")))
    got = D.probe_cogrouped(keyed, shard_df, n_shards=8)
    # NULL keys are verdicted inside the cogroup: probe_df is scanned once,
    # with no NULL-row branch unioned back in (the only Union is the build
    # plan's, which gives every shard id a row)
    def unions(df):
        return df._jdf.queryExecution().optimizedPlan().toString().count(
            "Union")

    assert unions(got) == unions(shard_df)
    # collected and checked in python: a key-null predicate would be
    # pushed below the probe and hide the NULL rows from it
    rows = got.collect()
    assert len(rows) == 3000
    nulls = [r for r in rows if r["key"] is None]
    assert nulls and all(r["member"] is None for r in nulls)
    rows = [r for r in rows if r["key"] is not None]
    keys = np.array([r["key"] for r in rows], dtype=np.int64)
    want = table.contains_np(keys)
    np.testing.assert_array_equal(np.array([r["member"] for r in rows]), want)
    assert all(r["member"] for r in rows)  # all inserted → all true


def test_checkpoint_resume(spark, token_df, tmp_path):
    """Interrupted build resumes to a byte-identical shard table."""
    path_full = os.path.join(str(tmp_path), "full")
    path_resume = os.path.join(str(tmp_path), "resumed")
    keys = D.doc_keys(token_df).select("key")
    D.build_filter_table(keys, path_full, kind="bfuse8", n_shards=8)

    # simulate a killed job: only shards 0..2 committed
    partial = spark.read.parquet(path_full).where(F.col("shard_id") < 3)
    partial.write.parquet(path_resume)
    D.build_filter_table(keys, path_resume, kind="bfuse8", n_shards=8)

    full = {r["shard_id"]: r for r in spark.read.parquet(path_full).collect()}
    res = {r["shard_id"]: r for r in spark.read.parquet(path_resume).collect()}
    assert set(full) == set(res)
    for sid in full:
        assert full[sid]["seed"] == res[sid]["seed"]
        assert full[sid]["fingerprints"] == res[sid]["fingerprints"]


def test_build_filter_table_keydef_guard(spark, token_df, tmp_path):
    """r4 review finding: a resumed table built under an OLD key
    definition must not silently mix with shards built under a new one
    (probes derive the current definition and would miss the old shards
    — silent false negatives). The _XORF_KEYDEF stamp fails the resume
    loudly on mismatch, and refuses to resume an unverifiable legacy
    (unstamped) table under an explicit key_def."""
    import pytest

    keys = D.doc_keys(token_df).select("key")
    tag8 = D.shingle_key_def(8)

    # stamped build + same-tag resume: fine (resume appends nothing new)
    p1 = os.path.join(str(tmp_path), "stamped")
    D.build_filter_table(keys, p1, kind="bfuse8", n_shards=4, key_def=tag8)
    D.build_filter_table(keys, p1, kind="bfuse8", n_shards=4, key_def=tag8)

    # definition changed (k=8 -> k=5): resume must raise, not mix
    with pytest.raises(ValueError, match="key-definition mismatch"):
        D.build_filter_table(keys, p1, kind="bfuse8", n_shards=4,
                             key_def=D.shingle_key_def(5))
    assert D._read_keydef(p1) == tag8  # sidecar NOT overwritten

    # legacy table (no stamp) + explicit key_def: unverifiable -> raise
    p2 = os.path.join(str(tmp_path), "legacy")
    D.build_filter_table(keys, p2, kind="bfuse8", n_shards=4)
    with pytest.raises(ValueError, match="no key-definition stamp"):
        D.build_filter_table(keys, p2, kind="bfuse8", n_shards=4,
                             key_def=tag8)
    # legacy + key_def=None keeps working (both unversioned)
    D.build_filter_table(keys, p2, kind="bfuse8", n_shards=4)


def test_skew_defusal_plan(spark, token_df):
    """Doc-length/source skew cannot reach the build: sharding is on the
    hashed key, which is uniform — assert shard sizes are balanced even
    though doc lengths and sources are heavily skewed."""
    keys = D.doc_keys(token_df).select("key").distinct()
    sizes = (keys.withColumn("shard_id", D.shard_id_col("key", 8))
             .groupBy("shard_id").count().collect())
    counts = np.array([r["count"] for r in sizes], dtype=float)
    assert counts.size == 8
    assert counts.max() / counts.min() < 1.3  # near-uniform


def test_staged_build_equals_oneshot(spark, token_df, tmp_path):
    """build_filter_df_staged (JVM shuffle→parquet stage + file-reading
    python stage) must produce byte-identical shards to the one-shot build
    (same seed schedule, same per-shard key sets)."""
    keys = D.doc_keys(token_df).select("key")
    one = {r["shard_id"]: (r["seed"], r["n_keys"], bytes(r["fingerprints"]))
           for r in D.build_filter_df(
               keys, kind="bfuse8", n_shards=4).collect()}
    staged = {r["shard_id"]: (r["seed"], r["n_keys"], bytes(r["fingerprints"]))
              for r in D.build_filter_df_staged(
                  keys, str(tmp_path / "stage"), kind="bfuse8",
                  n_shards=4).collect()}
    assert staged == one


@pytest.mark.parametrize("n", [4, 16, 64])
def test_one_row_per_task(spark, n):
    """Staged build/probe/sketch task frames put exactly one row in each
    partition; a hash repartition of small ints left tasks empty and
    others holding up to 4 shards."""
    ids = list(range(n))
    frame = D._one_row_per_task(spark, shard_id=ids,
                                path=[f"p{i}" for i in ids])
    parts = frame.rdd.glom().map(
        lambda rows: [(r.shard_id, r.path) for r in rows]).collect()
    assert parts == [[(i, f"p{i}")] for i in ids]


def test_staged_build_one_shard_per_task(spark, tmp_path):
    keys = spark.range(40_000).select(F.xxhash64("id").alias("key"))
    shards = D.build_filter_df_staged(keys, str(tmp_path / "stage"),
                                      kind="bfuse8", n_shards=16)
    per_task = shards.rdd.glom().map(
        lambda rows: [r.shard_id for r in rows]).collect()
    assert all(len(t) == 1 for t in per_task), per_task
    assert sorted(t[0] for t in per_task) == list(range(16))


def test_probe_staged_counts_and_members(spark, tmp_path):
    """Staged probe (probe-side twin of the staged build): per-shard counts
    equal the broadcast-UDF verdicts — zero FN on inserted keys, FPP-level
    acceptance on held-out keys — and members_dir materializes exactly the
    passing keys."""
    import pyspark.sql.functions as F

    from xorf_spark import dataflow as D

    keys = spark.range(60_000).select(F.xxhash64("id").alias("key"))
    shard_df = D.build_filter_df(keys, kind="bfuse8", n_shards=4)
    table = D.FilterTable.from_df(shard_df)

    # all inserted keys must pass (zero FN), counts must cover every probe
    res = D.probe_staged(keys, table, str(tmp_path / "st1")).collect()
    assert sum(r["n_probes"] for r in res) == 60_000
    assert sum(r["n_members"] for r in res) == 60_000

    # held-out keys: acceptance ~ FPP; members_dir holds exactly the passers
    fresh = spark.range(60_000).select(
        F.xxhash64(F.col("id") + 777_000_000).alias("key"))
    mdir = str(tmp_path / "members")
    res2 = D.probe_staged(fresh, table, str(tmp_path / "st2"),
                          members_dir=mdir)
    n_mem = sum(r["n_members"] for r in res2.collect())
    assert n_mem < 60_000 * 0.02  # bfuse8 FPP ≈ 0.39%
    written = spark.read.parquet(mdir)
    assert written.count() == n_mem
    # every materialized key re-probes TRUE through the UDF path
    udf = table.contains_udf(spark)
    assert written.where(~udf("key")).count() == 0

    # null keys are excluded JVM-side, empty probe set yields empty result
    with_null = keys.union(spark.sql("SELECT CAST(NULL AS LONG) AS key"))
    res3 = D.probe_staged(with_null, table, str(tmp_path / "st3")).collect()
    assert sum(r["n_probes"] for r in res3) == 60_000
    empty = D.probe_staged(keys.where("key IS NULL AND key IS NOT NULL"),
                           table, str(tmp_path / "st4"))
    assert empty.count() == 0


def test_probe_staged_member_commit_portable(spark, tmp_path):
    """r4 verdict finding #3: the members_dir task commit must not be
    POSIX-only. The pyarrow.fs committer is retry-idempotent: a re-run of
    the same probe over the same members_dir leaves exactly one committed
    file per shard with identical content, and on rename-REFUSING
    filesystems (HDFS semantics) a second attempt keeps the committed twin
    and discards its temp instead of crashing."""
    import numpy as np
    import pyarrow as pa
    import pyspark.sql.functions as F

    from xorf_spark import dataflow as D

    keys = spark.range(30_000).select(F.xxhash64("id").alias("key"))
    shard_df = D.build_filter_df(keys, kind="bfuse8", n_shards=4)
    table = D.FilterTable.from_df(shard_df)
    mdir = str(tmp_path / "members")
    D.probe_staged(keys, table, str(tmp_path / "sa"),
                   members_dir=mdir).collect()
    first = sorted(r["key"] for r in spark.read.parquet(mdir).collect())
    # retried task / full job re-run: same dir, same content, no dup files
    D.probe_staged(keys, table, str(tmp_path / "sb"),
                   members_dir=mdir).collect()
    again = sorted(r["key"] for r in spark.read.parquet(mdir).collect())
    assert again == first
    import glob
    for d in glob.glob(f"{mdir}/shard_id=*"):
        visible = [p for p in glob.glob(f"{d}/*")
                   if not p.rsplit("/", 1)[1].startswith(".")]
        assert len(visible) == 1, visible

    # rename-refusing filesystem: commit the same shard twice through a
    # wrapped fs — second attempt must keep the committed file and clean
    # its temp (driver-side direct drive of the worker committer)
    from pyarrow import fs as pafs

    from tests.test_operators import _RenameRefusingFS

    real_from_uri = pafs.FileSystem.from_uri
    fs2 = _RenameRefusingFS()

    class _ShimFS:  # pyarrow's FileSystem type is immutable; shim the
        @staticmethod  # MODULE attribute the committer resolves through
        def from_uri(uri):
            return fs2, real_from_uri(uri)[1]

    tbl = pa.table({"key": np.arange(5, dtype=np.int64)})
    hdir = str(tmp_path / "hdfsish")
    orig_fs_cls = pafs.FileSystem
    pafs.FileSystem = _ShimFS  # scoped: restore before any parquet read
    try:
        final = D._commit_members(hdir, 0, tbl)
        final2 = D._commit_members(hdir, 0, tbl)  # the "speculative twin"
    finally:
        pafs.FileSystem = orig_fs_cls
    assert final == final2
    import pyarrow.parquet as pq
    got = pq.read_table(final, filesystem=pafs.LocalFileSystem())
    assert got.column("key").to_pylist() == [0, 1, 2, 3, 4]
    import os
    # listdir (not glob: it hides dotfiles) — temps cleaned, one file
    assert os.listdir(f"{hdir}/shard_id=0") == ["part-0.parquet"]


def test_shipped_files_live_in_the_context_temp_dir(spark, tmp_path,
                                                    monkeypatch):
    """The mmap transport's fingerprint files are written under the
    SparkContext's own temp dir, which Spark deletes at shutdown: an
    mmap-path probe and a ``probe_staged`` leave no new ``xorf_fps_*``
    entry in the system temp dir."""
    import glob
    import tempfile

    def fps_dirs():
        return {n for n in os.listdir(tempfile.gettempdir())
                if n.startswith("xorf_fps_")}

    monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", 0)
    before = fps_dirs()
    keys = spark.range(5000).select(F.xxhash64("id").alias("key"))
    shard_df = D.build_filter_df(keys, n_shards=2).cache()
    # a fresh table per probe: each ships its own files
    table = D.FilterTable.from_df(shard_df)
    assert table.where_member(keys).count() == 5000
    table = D.FilterTable.from_df(shard_df)
    res = D.probe_staged(keys, table, str(tmp_path / "st")).collect()
    assert sum(r["n_members"] for r in res) == 5000
    shard_df.unpersist()
    assert fps_dirs() == before
    ctx_dir = spark.sparkContext._temp_dir
    assert len(glob.glob(os.path.join(ctx_dir, "xorf_fps_*"))) >= 2


def test_where_member_null_semantics_and_members(spark):
    """where_member over a null-bearing probe column: NULL keys are
    excluded for both member and negate, and membership stays exact — an
    absolute member-count bound guards the float64 batch-corruption
    regression (null-bearing batches once silently lost every member:
    892 of ~79.9k found)."""
    import pyspark.sql.functions as F

    from xorf_spark import dataflow as D

    keys = spark.range(80_000).select(F.xxhash64("id").alias("key"))
    table = D.FilterTable.from_df(
        D.build_filter_df(keys, kind="bfuse8", n_shards=4))
    probes = (spark.range(100_000)
              .select(F.when(F.col("id") % 777 == 0, None)
                      .otherwise(F.xxhash64("id")).alias("key")))
    members = {r["key"] for r in table.where_member(probes).collect()}
    non_members = {r["key"] for r in
                   table.where_member(probes, negate=True).collect()}
    assert None not in members and None not in non_members
    assert len(members) > 79_000            # ids < 80k are all members
    assert not (members & non_members)
    n_null = probes.where("key is null").count()
    assert len(members) + len(non_members) + n_null \
        == probes.select("key").distinct().count() + n_null - 1  # None once
    # wide frames keep all columns through the probe
    wide = probes.withColumn("payload", F.lit("x"))
    out = table.where_member(wide, "key")
    assert out.columns == ["key", "payload"]
    assert out.count() == len(members)



def test_where_member_accepts_narrow_int_keys(spark):
    """Integer key columns narrower than long (int32) widen losslessly
    through the probe (regression: the float64 guard once rejected them)."""
    import pyspark.sql.functions as F

    from xorf_spark import dataflow as D

    keys = spark.range(5_000).select(
        F.col("id").cast("int").alias("key"))
    table = D.FilterTable.from_df(
        D.build_filter_df(keys.select(F.col("key").cast("long")
                                      .alias("key")),
                          kind="bfuse8", n_shards=1), n_shards=1)
    assert table.where_member(keys, "key").count() == 5_000


_INT_KEY_BITS = {"byte": 8, "short": 16, "int": 32, "long": 64}


@st.composite
def _typed_keys(draw):
    """An integer Spark type and distinct values spanning its whole range,
    negatives included (they widen to the top shards)."""
    name = draw(st.sampled_from(sorted(_INT_KEY_BITS)))
    half = 1 << (_INT_KEY_BITS[name] - 1)
    vals = draw(st.lists(st.integers(-half, half - 1), min_size=1,
                         max_size=300, unique=True))
    return name, vals


@settings(max_examples=8, deadline=None)
@given(typed=_typed_keys())
def test_build_key_types_widen_to_long(spark, tmp_path_factory, typed):
    """byte, short and int key columns build the filter of the same keys
    as long: the same shard placement and fingerprint bytes, one-shot and
    staged, and zero false negatives. A narrower Arrow buffer viewed as
    uint64 would pair keys into one."""
    name, vals = typed

    def shards(rows):
        return {r["shard_id"]: (r["n_keys"], r["seed"],
                                bytes(r["fingerprints"])) for r in rows}

    typed_df = spark.createDataFrame([(v,) for v in vals], f"key {name}")
    long_df = spark.createDataFrame([(v,) for v in vals], "key long")
    want = shards(D.build_filter_df(long_df, n_shards=4).collect())
    got = D.build_filter_df(typed_df, n_shards=4).collect()
    assert shards(got) == want
    stage = str(tmp_path_factory.mktemp("stage"))
    staged = shards(D.build_filter_df_staged(typed_df, stage,
                                             n_shards=4).collect())
    assert staged == want
    table = D.FilterTable({r["shard_id"]: r.asDict() for r in got}, 4)
    assert table.contains_np(np.array(vals, dtype=np.int64)).all()


@pytest.mark.parametrize("cast", ["double", "float", "decimal(20,0)",
                                  "string"])
def test_build_refuses_non_integer_keys(spark, tmp_path, cast):
    keys = spark.range(100).select(F.col("id").cast(cast).alias("key"))
    for build in (
            lambda: D.build_filter_df(keys, n_shards=4),
            lambda: D.build_filter_df_staged(keys, str(tmp_path / "st"),
                                             n_shards=4),
            lambda: D.build_filter_table(keys, str(tmp_path / "t"),
                                         n_shards=4)):
        with pytest.raises(TypeError, match="key column 'key'"):
            build()


@pytest.mark.parametrize("kind", ["bfuse8", "xor8", "fuse8"])
def test_stored_table_carries_its_shard_count(spark, tmp_path, kind,
                                              monkeypatch):
    """A stored table whose top shards hold no key loads with the shard
    count it was built with: every shard gets a row, an empty one a
    zero-slot row (the fuse family cannot build an empty filter).
    Inferring the count from the highest non-empty shard id probed
    16-shard keys with a 2-shard prefix and missed half of them."""
    # keys in shards 0 and 1 of 16 only, ~250K each: fuse peels reliably
    # only from ~200K keys
    df = spark.range(500_000).select(
        F.shiftrightunsigned(F.xxhash64("id"), 3).alias("key"))
    keys = df.toArrow().column("key").to_numpy()
    path = str(tmp_path / "t")
    D.build_filter_table(df, path, kind=kind, n_shards=16)
    table = D.FilterTable.load(spark, path)
    assert table.n_shards == 16 and sorted(table.rows) == list(range(16))
    assert {s for s, r in table.rows.items() if r["num_slots"]} == {0, 1}
    assert table.contains_np(keys).all()
    strangers = spark.range(2000).select(
        F.xxhash64("id").alias("key"))  # every shard, mostly empty ones
    for limit in (D.MAX_BROADCAST_FP_BYTES, 0):
        monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", limit)
        udf = table.contains_udf(spark)
        assert df.where(udf("key")).count() == keys.size
        assert strangers.where(udf("key")).count() < 2000 * 0.02


def test_fresh_table_builds_run_no_read_back(spark, tmp_path):
    """A fresh stored build runs only its write: the filter table's one
    shuffle stage and write (two jobs under AQE), the sketch table's
    likewise. Returning ``spark.read.parquet(path)`` added a schema
    inference job that callers paid for even when they dropped it."""
    from xorf_spark.sketches import build_sketch_table

    sc = spark.sparkContext
    keys = spark.range(5000).select(F.xxhash64("id").alias("key"))
    builds = {
        "filter": lambda: D.build_filter_table(
            keys, str(tmp_path / "f"), n_shards=4),
        "sketch": lambda: build_sketch_table(
            keys, "key", "hll", str(tmp_path / "s"), {"p": 10},
            n_buckets=4),
    }
    for name, build in builds.items():
        group = f"fresh-build-{name}"
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 2, (name, sorted(jobs))
        assert out is None


def test_dataflow_modules_keep_an_arrow_boundary():
    """The filter and sketch dataflows cross the python boundary in Arrow
    only: a pandas stage turns a null-bearing long column into float64,
    which rounds 64-bit keys (silent false negatives, diverged sketch
    state)."""
    import inspect

    from xorf_spark import analysis
    from xorf_spark.sketches import dataflow as SD

    for mod in (D, SD, analysis):
        src = inspect.getsource(mod)
        for api in ("applyInPandas", "mapInPandas", "pandas_udf"):
            assert api not in src, (mod.__name__, api)


@pytest.mark.parametrize("kind", ["bfuse8", "xor8"])
def test_every_build_path_dedups_once(spark, tmp_path, kind):
    """Every build path drops duplicate keys once per shard, in
    ``_build_shard_row``: over input with ~25% exact copies, each shard's
    ``(seed, n_keys, fingerprints)`` equals a build over the distinct
    keys, and its ``duplicates`` counts the copies it dropped. The stream
    re-delivers the copies in its second batch. (bfuse sizes by the count
    it is handed, so a raw-count build differs in bytes.)"""
    from xorf_spark.streaming import latest_version, stream_filter_refresh

    n_shards = 4
    distinct = spark.range(20_000).select(F.xxhash64("id").alias("key"))
    copies = distinct.where(F.col("key") % 3 == 0)
    raw = distinct.unionByName(copies)
    keys = np.array(raw.toPandas()["key"], dtype=np.int64).view(np.uint64)

    def per_shard(k):
        return np.bincount((k >> np.uint64(62)).astype(np.int64),
                           minlength=n_shards)

    dups = per_shard(keys) - per_shard(np.unique(keys))
    assert 0.2 < dups.sum() / keys.size < 0.3 and (dups > 0).all()

    src, table_path = str(tmp_path / "in"), str(tmp_path / "stream")
    stream = None
    for name, batch in (("b1", distinct), ("b2", copies)):
        batch.coalesce(1).write.parquet(f"{src}/{name}")
        if stream is None:
            stream = (stream_filter_refresh(
                spark.readStream.schema("key long")
                .option("maxFilesPerTrigger", "1").parquet(src + "/*"),
                table_path, kind=kind, n_shards=n_shards, refresh_every=2)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .start())
        stream.processAllAvailable()
    stream.stop()

    D.build_filter_table(raw, str(tmp_path / "table"), kind, n_shards)
    got = {
        "one-shot": D.build_filter_df(raw, kind, n_shards).collect(),
        "staged": D.build_filter_df_staged(
            raw, str(tmp_path / "stage"), kind, n_shards).collect(),
        "table": spark.read.parquet(str(tmp_path / "table")).collect(),
        "stream": spark.read.parquet(os.path.join(
            table_path, latest_version(table_path))).collect(),
    }
    want = {r["shard_id"]: r
            for r in D.build_filter_df(distinct, kind, n_shards).collect()}
    assert set(want) == set(range(n_shards))
    assert all(r["duplicates"] == 0 for r in want.values())
    for path, rows in got.items():
        rows = {r["shard_id"]: r for r in rows}
        assert set(rows) == set(want), path
        for sid, r in rows.items():
            for col in ("seed", "n_keys", "fingerprints"):
                assert r[col] == want[sid][col], (path, sid, col)
            assert r["duplicates"] == dups[sid], (path, sid)


@pytest.mark.parametrize("kind", sorted(FILTER_CLASSES))
def test_every_kind_round_trips_the_shard_codec(spark, monkeypatch, kind):
    """Every kind goes through the shard-row codec: a row's fingerprints
    are the family's own ``to_dma`` bytes for that shard's keys, and the
    decoded table has zero false negatives through the broadcast and the
    mmap transports of ``where_member`` and through ``probe_cogrouped``.
    The fuse family needs ~200K keys per shard to peel."""
    cls = filter_class(kind)
    fuse = kind.startswith("fuse")
    n, n_shards = (500_000, 2) if fuse else (20_000, 4)
    keys = spark.range(n).select(F.xxhash64("id").alias("key"))
    shard_df = D.build_filter_df(keys, kind, n_shards).cache()
    table = D.FilterTable.from_df(shard_df)
    want = keys.toArrow().column("key").to_numpy().view(np.uint64)
    sids = want >> np.uint64(64 - int(np.log2(n_shards)))
    for sid, row in table.rows.items():
        kw = {} if kind.startswith("xor") else {"fp_seed": 0xC0FFEE ^ sid}
        mine = cls.from_keys(want[sids == sid], **kw)
        assert row["fingerprints"] == mine.to_dma()[1], sid
        assert row["num_slots"] == len(mine) and row["kind"] == kind
    for limit in (D.MAX_BROADCAST_FP_BYTES, 0):
        monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", limit)
        assert D.FilterTable.from_df(shard_df).where_member(
            keys, "key").count() == n, limit
    flagged = D.probe_cogrouped(keys, shard_df, n_shards)
    assert flagged.where(F.col("member")).count() == n
    shard_df.unpersist()


@pytest.mark.parametrize("kind,n", [("bfuse8", 20_000), ("xor8", 20_000),
                                    ("fuse8", 250_000), ("bfuse16", 20_000)])
def test_truncated_shard_row_is_refused(kind, n):
    """A shard row whose fingerprints cannot hold its descriptor's layout
    is refused with ``ValueError`` when decoded, as ``from_dma`` refuses
    such DMA bytes; decoding it unchecked failed inside the probe with
    ``IndexError`` for some keys and answered the rest. A row with keys
    but no fingerprints is not an empty shard either."""
    keys = (np.arange(1, n + 1, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15))
    row = D._build_shard_row(kind, 0, keys)
    assert D._filter_from_row(row)(keys).all()
    for fps in (row["fingerprints"][:len(row["fingerprints"]) // 2], b""):
        with pytest.raises(ValueError, match=f"corrupt {kind} layout"):
            D._filter_from_row(dict(row, fingerprints=fps))
    empty = D._build_shard_row(kind, 0, np.empty(0, dtype=np.uint64))
    assert not D._filter_from_row(empty)(keys).any()


def test_family_params_are_shard_columns():
    """Each family's descriptor names are ``SHARD_SCHEMA`` columns (the
    codec reads and writes them by name), and ``filter_class`` refuses a
    kind it does not know."""
    cols = set(D.SHARD_SCHEMA.fieldNames())
    for kind, cls in FILTER_CLASSES.items():
        assert filter_class(kind) is cls
        assert cls.PARAMS and set(cls.PARAMS) <= cols, kind
    with pytest.raises(ValueError, match="bfuse7"):
        filter_class("bfuse7")


def test_unknown_kind_is_refused_before_any_job(spark, tmp_path):
    """An unknown ``kind`` raises ``ValueError`` on the driver before any
    Spark job runs. It used to pass every driver-side step and fail in a
    worker task, after the build-side count and more had already run."""
    from xorf_spark.streaming import stream_filter_refresh

    sc = spark.sparkContext
    keys = spark.range(5000).select(F.xxhash64("id").alias("key"))
    stream = spark.readStream.format("rate").load().select(
        F.col("value").alias("key"))
    calls = {
        "build_filter_df": lambda: D.build_filter_df(keys, kind="bfuse7"),
        "build_filter_df_staged": lambda: D.build_filter_df_staged(
            keys, str(tmp_path / "stage"), kind="bfuse7"),
        "build_filter_table": lambda: D.build_filter_table(
            keys, str(tmp_path / "table"), kind="bfuse7"),
        "filter_semi_join": lambda: D.filter_semi_join(
            keys, keys, "key", "key", kind="bfuse7"),
        "filter_anti_join": lambda: D.filter_anti_join(
            keys, keys, "key", "key", kind="bfuse7"),
        "stream_filter_refresh": lambda: stream_filter_refresh(
            stream, str(tmp_path / "stream"), kind="bfuse7"),
    }
    for name, call in calls.items():
        group = f"unknown-kind-{name}"
        sc.setJobGroup(group, group)
        try:
            with pytest.raises(ValueError, match="bfuse7"):
                call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert not sc.statusTracker().getJobIdsForGroup(group), name
