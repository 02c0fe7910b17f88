"""Plan-shape regression tests: the properties that matter at 100 TB."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from xorf_spark import dataflow as D
from xorf_spark.functions import md5long, register_sql_udfs
from xorf_spark.plans import assert_single_shuffle, explain_str
from xorf_spark.plans.inspect import pushed_filters
from xorf_spark.sources import docs_tokens


def test_build_plan_single_shuffle(spark):
    keys = spark.range(10_000).select(F.xxhash64("id").alias("key"))
    df = D.build_filter_df(keys, kind="bfuse8", n_shards=4)
    assert_single_shuffle(df)


def test_key_derivation_stays_jvm(spark):
    tok = docs_tokens(spark, 100)
    keyed = D.doc_keys(tok)
    plan = explain_str(keyed)
    # no python evaluation nodes in the key derivation
    assert "Python" not in plan and "Arrow" not in plan.replace(
        "ArrowEvalPython", "Python")


def test_shingle_keys_plan_is_codegen(spark, tmp_path):
    """Shingle keys come from a compiled ``explode(sequence)`` plus one
    projection: no interpreted ``transform`` lambda (``ArrayTransform`` is
    a ``CodegenFallback``) in the executed plan, and the ``Generate`` sits
    inside a whole-stage-codegen stage. Over a projected ``split``
    (``decontam.shingle_keys``) each document is split once: a
    ``where(size(arr) >= n)`` guard was pushed below the projection and
    split every document a second time."""
    from xorf_spark.operators.decontam import shingle_keys as text_shingles

    docs_tokens(spark, 200).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    text = docs.select("doc_id", F.array_join("tokens", " ").alias("text"))
    text.write.parquet(str(tmp_path / "text"))
    for keys, n_split in (
            (D.shingle_keys(docs).select("key"), 0),
            (text_shingles(spark.read.parquet(str(tmp_path / "text"))), 1)):
        plan = keys._jdf.queryExecution().executedPlan().toString()
        assert "lambdafunction" not in plan, plan
        assert re.search(r"\*\(\d+\) Generate ", plan), plan
        assert plan.count("split(") == n_split, plan


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_orderkey") == 7).select("l_orderkey", "l_quantity")
    pf = pushed_filters(q)
    assert "l_orderkey" in pf            # predicate pushed to the scan
    assert "l_extendedprice" not in pf   # column pruning effective


def test_sql_registered_udf(spark):
    keys = spark.range(5_000).select(F.xxhash64("id").alias("key"))
    table = D.FilterTable.from_df(
        D.build_filter_df(keys, kind="bfuse8", n_shards=2))
    register_sql_udfs(spark, table, name="xorf_contains_test")
    keys.createOrReplaceTempView("xorf_keys_test")
    n = spark.sql("SELECT count(*) AS n FROM xorf_keys_test "
                  "WHERE xorf_contains_test(key)").collect()[0]["n"]
    assert n == 5_000  # zero FN through the SQL surface


def test_md5long_matches_duckdb(spark):
    import duckdb
    vals = ["alpha", "beta", "γδ"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", md5long("s").alias("h")).collect()}
    for v in vals:
        want = duckdb.sql(
            "select ('0x' || substr(md5(?), 1, 15))::BIGINT", params=[v]
        ).fetchone()[0]
        assert got[v] == want, v


def test_ngram_jaccard_hot_shingles_capped(spark, sf_dir):
    """The inverted-index self-join must be preceded by the broadcast
    anti-join that drops document-frequency > NGRAM_MAX_DF shingles — the
    structural guard against the k² posting-list blowup at corpus scale."""
    from xorf_spark.queries import q_ngram_jaccard_pairs

    plan = explain_str(q_ngram_jaccard_pairs(spark, sf_dir), "formatted")
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_plot_zero_density_svg(spark, tmp_path):
    """plot_zeroes counterpart: sliding zero-count series rendered as a
    dependency-free SVG (reference analysis/src/zeroes.rs:24-36 +
    analysis/plot_zeroes)."""
    from xorf_spark.analysis import plot_zero_density, zero_density_series

    keys = (spark.range(300_000)
            .select(F.xxhash64("id").alias("key")))
    shard_df = D.build_filter_df(keys, kind="bfuse8", n_shards=2)
    series = {r["shard_id"]: r["series"]
              for r in zero_density_series(shard_df).collect()}
    assert len(series) == 2
    for s in series.values():
        assert len(s) > 10
        assert all(0 <= v <= 2000 for v in s)
    out = plot_zero_density(shard_df, str(tmp_path / "zeroes.svg"))
    svg = open(out).read()
    assert svg.startswith("<svg") and svg.count("<polyline") == 2


def test_load_table_paths_and_catalog(spark, sf_dir):
    from xorf_spark.sources.tables import iceberg_available, load_table

    df = load_table(spark, f"{sf_dir}/documents.parquet")
    assert df.count() > 0
    # catalog refs route through read.table (temp view stands in)
    df.createOrReplaceTempView("xorf_docs_view")
    assert load_table(spark, "xorf_docs_view").count() == df.count()
    # honest gating: no Iceberg runtime in this sandbox
    assert iceberg_available(spark) is False
    with pytest.raises((RuntimeError, ValueError)):
        load_table(spark, "cat.db.tbl", snapshot_id=3)
    with pytest.raises(ValueError):
        load_table(spark, f"{sf_dir}/documents.parquet", snapshot_id=3)


# NOTE on the ngram posting-list plan: both consumers of the
# groupBy(shingle) aggregate (sizes + pair expansion) are written off one
# shared DataFrame so AQE's ReuseExchange can share the corpus shuffle;
# this was verified in the EXECUTED adaptive plan of a dedicated session
# (ReusedExchange present). It is not asserted here because the logical
# plan legitimately duplicates the subtree (dedup happens at physical
# exchange-reuse time) and the adaptive decision is environment-dependent
# — a plan-string test on it is flaky by construction.


def test_tfidf_df_join_is_broadcast(spark, sf_dir):
    """The vocab-sized document-frequency table must reach the tf table as
    a broadcast, never a shuffled join (the 100 TB plan shape)."""
    from xorf_spark.operators.text import tf_idf_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = tf_idf_terms(docs)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in executed
    assert "SortMergeJoin" not in executed


def test_asof_join_single_window_no_range_join(spark, sf_dir):
    """asof_join must stay a single running window — no cartesian/range
    join anywhere in the plan."""
    from xorf_spark.operators.events import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.where("event_type='click'").select("event_id", "user_id",
                                                   "ts")
    views = ev.where("event_type='view'").select("user_id", "ts",
                                                 "event_id", "value")
    out = asof_join(clicks, views)
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints the final plan plus an "== Initial Plan ==" echo — count
    # nodes only in the final section
    final = executed.split("== Initial Plan ==")[0]
    assert final.count("Window") == 1
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin"):
        assert bad not in executed, bad


def test_exact_dedup_partial_agg_no_window(spark, sf_dir):
    """exact_dedup's skew contract (r3 verdict): duplicates must collapse
    map-side. The plan must be a hash aggregate WITH a partial min_by
    stage and NO window (row_number over a hash-partition has no partial
    combine — one 10⁹-fold duplicated key = one straggler task)."""
    from xorf_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = exact_dedup(docs, "text", "doc_id")
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "partial_min_by" in final         # map-side combine present
    assert final.count("Exchange") == 1      # one shuffle, of candidates only
    # (Spark picks SortAggregate here — the min_by buffer holds a string
    # struct, beyond HashAggregate's fixed-width buffers — but the sort is
    # per-input-partition and uniformly parallel; the skew guarantee comes
    # from the partial combine, not the aggregate's physical flavor.)


def test_exact_dedup_planted_skew_correct(spark):
    """A single key duplicated 200k× (vs 1k distinct) still dedups to the
    min-id row — the planted-skew shape of the straggler scenario."""
    from xorf_spark.operators.dedup import exact_dedup

    skew = spark.range(200_000).select(
        F.lit("hot doc").alias("text"),
        (F.col("id") + 10).alias("doc_id"))
    tail = spark.range(1_000).select(
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        F.col("id").alias("doc_id"))
    out = exact_dedup(skew.unionByName(tail), "text", "doc_id").cache()
    try:
        assert out.count() == 1_001
        hot = out.where(F.col("text") == "hot doc").collect()
        assert len(hot) == 1 and hot[0].doc_id == 10  # min id wins
    finally:
        out.unpersist()


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """The 100 TB co-location story engine-side: two tables bucketed by the
    join key (saveAsTable + bucketBy) join with ZERO Exchange in the final
    plan — the shuffle is paid once at write time, then every future join
    on that key is free. (repartition_by_quantiles gives the same property
    for range work; this covers the hash-bucket case.)"""
    import uuid

    db = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {db}")
    try:
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
         .saveAsTable(f"{db}.orders_b"))
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
         .saveAsTable(f"{db}.lineitem_b"))
        # disable auto-broadcast so the shuffle-join path is exercised —
        # that's the case bucketing exists to accelerate (at real scale
        # neither fact table broadcasts)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = (spark.table(f"{db}.orders_b")
                      .join(spark.table(f"{db}.lineitem_b"),
                            F.col("o_orderkey") == F.col("l_orderkey"))
                      .groupBy("o_orderpriority")
                      .agg(F.count(F.lit(1)).alias("n")))
            rows = joined.collect()
            final = (joined._jdf.queryExecution().executedPlan().toString()
                     .split("== Initial Plan ==")[0])
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert len(rows) > 0
        assert "SortMergeJoin" in final
        assert final.count("Bucketed: true") == 2
        # no exchange on either JOIN key — the only shuffle allowed is the
        # post-join groupBy on o_orderpriority
        assert "hashpartitioning(o_orderkey" not in final
        assert "hashpartitioning(l_orderkey" not in final
        # exact parity with the unbucketed join
        plain = (orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
                 .groupBy("o_orderpriority")
                 .agg(F.count(F.lit(1)).alias("n")))
        assert sorted((r["o_orderpriority"], r["n"]) for r in rows) == \
            sorted((r["o_orderpriority"], r["n"]) for r in plain.collect())
    finally:
        spark.sql(f"DROP DATABASE {db} CASCADE")


def test_sql_registered_udf_null_safe(spark):
    """The SQL surface goes through a SQL-function wrapper with the same
    NULL guard as the python wrapper: f(NULL) IS NULL, and non-null keys
    in null-bearing columns keep zero FN (float64-corruption regression,
    SQL flavor)."""
    keys = spark.range(20_000).select(F.xxhash64("id").alias("key"))
    table = D.FilterTable.from_df(
        D.build_filter_df(keys, kind="bfuse8", n_shards=2))
    register_sql_udfs(spark, table, name="xorf_contains_nulltest")
    (keys.select(F.when(F.col("key") % 7 == 0, None)
                 .otherwise(F.col("key")).alias("key"))
     .createOrReplaceTempView("xorf_nullable_keys"))
    rows = spark.sql(
        "SELECT key, xorf_contains_nulltest(key) AS m "
        "FROM xorf_nullable_keys").collect()
    assert any(r["key"] is None for r in rows)
    for r in rows:
        assert (r["m"] is None) == (r["key"] is None)
        if r["key"] is not None:
            assert r["m"] is True


def test_ngram_edges_plan_fanout_and_broadcast_cap(spark):
    """Scale guards for the ngram Jaccard pipeline, pinned at plan level:
    the pre-explode fan-out repartition survives (AQE coalesced a
    count-less repartition back to one task in round 3) and the
    hot-shingle cap is applied via a BROADCAST anti-join, not a shuffled
    one."""
    from xorf_spark.queries import _ngram_jaccard_edges

    df = _ngram_jaccard_edges(spark, "/root/testdata/sf0.001")
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]
    # the explicit-count repartition on doc_id before the shingle explode
    # (formatted mode puts Exchange arguments on their own detail line)
    assert re.search(r"hashpartitioning\(doc_id", plan), plan[:2000]



def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Storage-layout contract: two tables bucketed on the join key with
    equal bucket counts sort-merge-join with ZERO Exchange, while the
    identical join over plain parquet frames shuffles both sides — and
    both plans return identical values."""
    from xorf_spark.operators.bucketing import (
        bucketed_join, drop_bucketed, is_shuffle_free, write_bucketed)
    from xorf_spark.plans.inspect import count_exchanges

    left = spark.range(5_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    right = spark.range(0, 10_000, 2).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("w"))
    try:
        bl = write_bucketed(left, "t_bkt_l", "k", 4, str(tmp_path / "l"))
        br = write_bucketed(right, "t_bkt_r", "k", 4, str(tmp_path / "r"))
        j = bucketed_join(bl, br, "k", require_shuffle_free=True)
        assert is_shuffle_free(j)
        plain = left.hint("merge").join(right, "k")
        assert count_exchanges(plain) >= 2
        assert sorted(map(tuple, j.collect())) == \
            sorted(map(tuple, plain.collect()))
        # one file per bucket: the pre-write repartition aligned writer
        # tasks with buckets (tasks x buckets small-file blowup guard)
        import glob
        assert len(glob.glob(str(tmp_path / "l" / "*.parquet"))) == 4
    finally:
        drop_bucketed(spark, "t_bkt_l", "t_bkt_r")


def test_bucketed_join_mismatch_raises(spark, tmp_path):
    """require_shuffle_free refuses to silently pay the shuffle when the
    bucket counts differ (the layout contract is broken, not degraded)."""
    from xorf_spark.operators.bucketing import (
        bucketed_join, drop_bucketed, write_bucketed)

    left = spark.range(1_000).select(F.col("id").alias("k"))
    right = spark.range(1_000).select(F.col("id").alias("k"))
    try:
        bl = write_bucketed(left, "t_bkt_m4", "k", 4, str(tmp_path / "m4"))
        br = write_bucketed(right, "t_bkt_m3", "k", 3, str(tmp_path / "m3"))
        with pytest.raises(AssertionError, match="Exchange"):
            bucketed_join(bl, br, "k", require_shuffle_free=True)
    finally:
        drop_bucketed(spark, "t_bkt_m4", "t_bkt_m3")


def _executed_nodes(df):
    """Run ``df``; yield every node of its final executed plan (adaptive
    and query-stage wrappers unwrapped)."""
    df.collect()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))


def _python_evals(df) -> tuple[int, int, int]:
    """Run ``df``; count ``ArrowEvalPython`` nodes in its final executed
    plan: (whole plan, probe side of its one join, build side)."""
    agg = df.groupBy().count()
    joins = [n for n in _executed_nodes(agg)
             if "Join" in n.getClass().getSimpleName()]
    assert len(joins) == 1, [j.nodeName() for j in joins]
    final = agg._jdf.queryExecution().executedPlan().toString()
    probe, build = (joins[0].children().apply(i).toString() for i in (0, 1))
    return (final.split("== Initial Plan ==")[0].count("ArrowEvalPython"),
            probe.count("ArrowEvalPython"), build.count("ArrowEvalPython"))


def _join_inputs(spark):
    build = spark.range(0, 20_000, 3).select(F.col("id").alias("bk"))
    probe = spark.range(30_000).select(F.col("id").alias("pk"))
    table = D.FilterTable.from_df(D.build_filter_df(
        D.doc_keys(build, "bk"), kind="bfuse8", n_shards=2))
    return probe, build, table


@pytest.mark.parametrize("limit", [D.MAX_BROADCAST_FP_BYTES, 0],
                         ids=["broadcast", "mmap"])
@pytest.mark.parametrize("join", ["semi", "anti"])
def test_filter_join_one_probe_eval_none_on_build(spark, monkeypatch, join,
                                                  limit):
    """The filter runs once per probe row: one ArrowEvalPython in the
    executed plan, on the probe side of the backstop join, and none on
    the build side (Catalyst must not copy the probe filter across the
    join equality). Both UDF distribution paths."""
    monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", limit)
    probe, build, table = _join_inputs(spark)
    fn = D.filter_semi_join if join == "semi" else D.filter_anti_join
    df = fn(probe, build, "pk", "bk", table=table)
    assert _python_evals(df) == (1, 1, 0)
    assert bool(table._shipped) == (limit == 0)  # the mmap path really ran
    n_member = len(range(0, 20_000, 3))
    assert df.count() == (n_member if join == "semi" else 30_000 - n_member)


def test_filter_anti_join_shuffled_backstop_one_eval(spark, monkeypatch):
    """Above BROADCAST_JOIN_MAX_KEYS the anti-join is the same single
    ``left_anti``, shuffled: the filter still runs once per probe row, and
    never on the build side."""
    monkeypatch.setattr(D, "BROADCAST_JOIN_MAX_KEYS", 0)
    probe, build, table = _join_inputs(spark)
    df = D.filter_anti_join(probe, build, "pk", "bk", table=table)
    assert _python_evals(df) == (1, 1, 0)
    assert df.count() == 30_000 - len(range(0, 20_000, 3))


@pytest.mark.parametrize("join", ["semi", "anti"])
def test_filter_join_output_predicate_stays_above_probe(spark, join):
    """The cost of the nondeterministic probe, kept on purpose: a predicate
    on the join's output is not pushed below the python evaluation, which
    therefore sees every probe row (the docstrings say to filter the probe
    side first)."""
    probe, build, table = _join_inputs(spark)
    fn = D.filter_semi_join if join == "semi" else D.filter_anti_join
    df = fn(probe, build, "pk", "bk", table=table).where(F.col("pk") >= 15_000)
    nodes = list(_executed_nodes(df.groupBy().count()))
    evals = [n.toString() for n in nodes
             if n.getClass().getSimpleName() == "ArrowEvalPythonExec"]
    assert len(evals) == 1
    assert " >= 15000)" not in evals[0]  # nothing filters below the probe
    assert any(" >= 15000)" in n.toString() for n in nodes)  # but above it
    n_member = len(range(15_000, 20_000, 3)) if join == "semi" else \
        15_000 - len(range(15_000, 20_000, 3))
    assert df.count() == n_member


@pytest.mark.parametrize("group_cols", [["grp"], ["grp", "key"]],
                         ids=["col_not_grouped", "col_grouped"])
def test_grouped_sketch_feeds_only_its_columns(spark, group_cols):
    """grouped_sketch's Arrow feed holds the group columns and the sketched
    one, each once: a wide column the fold never reads stays on the JVM
    side of ``FlatMapGroupsInArrow``. Payloads are those of one local feed
    of each group's keys, whether or not the sketched column is also a
    group column."""
    from xorf_spark.sketches import grouped_sketch, make_sketch

    df = spark.range(600).select(
        F.xxhash64("id").alias("key"), (F.col("id") % 3).alias("grp"),
        F.repeat(F.lit("x"), 1000).alias("body"))
    out = grouped_sketch(df, group_cols, "key", "hll", {"p": 10})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    node = [ln for ln in plan.splitlines() if "FlatMapGroupsInArrow" in ln]
    assert len(node) == 1, plan
    args = re.search(r"build\(([^)]*)\)", node[0])[1].split(", ")
    assert sorted(a.split("#")[0] for a in args) == sorted(
        {*group_cols, "key"}), node

    groups = {}
    for r in df.select("key", "grp").collect():
        groups.setdefault(tuple(r[c] for c in group_cols), []).append(r.key)
    got = {tuple(r[c] for c in group_cols): r for r in out.collect()}
    assert got.keys() == groups.keys()
    for g, keys in groups.items():
        local = make_sketch("hll", p=10).add_hashes(
            np.array(keys, dtype=np.int64).view(np.uint64))
        assert got[g].n_rows == len(keys)
        assert bytes(got[g].payload) == local.to_bytes(), g
