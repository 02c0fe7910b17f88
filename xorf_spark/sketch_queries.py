"""Driver-contract queries for the mergeable sketch library.

Oracle pattern for approximate operators: the Spark query computes BOTH the
sketch estimate AND the exact answer (exact part reproducible in ANSI SQL),
then emits the exact values plus boolean ``*_ok`` columns asserting the
sketch's published error law. The DuckDB oracle returns the exact values and
literal TRUEs — so a sketch drifting out of its guarantee hash-mismatches,
while legitimate approximation noise does not. The laws checked:

- HLL:      |est - d| ≤ 4·1.04/√m · d        (Flajolet et al. 2007)
- CMS:      true ≤ est ≤ true + (e/w)·N       (Cormode-Muthukrishnan 2005)
- Bloom:    zero false negatives; measured FPP ≤ 2× design target
- t-digest: |rank(est_q) - q| ≤ 0.01          (Dunning-Ertl, δ=300)
- KLL:      |rank(est_q) - q| ≤ 0.025         (Karnin-Lang-Liberty, k=400)
- MG:       est ≤ true ≤ est + dsub, dsub ≤ n/(k+1)  (Misra-Gries 1982;
            mergeable form per Agarwal et al. 2013)
- merge:    HLL/CMS/Bloom state is byte-identical across partitionings and
            merge orders (exact associativity/commutativity)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sketches as S
from .functions import explode_shingles


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def q_hll_distinct(spark, sf_dir):
    """HLL(p=12) distinct customers over orders vs exact countDistinct."""
    orders = _load(spark, sf_dir, "orders")
    keyed = orders.select(F.xxhash64("o_custkey").alias("key"))
    hll = S.sketch_agg(keyed, "key", "hll", {"p": 12})
    exact = keyed.distinct().count()
    ok = abs(hll.estimate() - exact) <= 4 * hll.rel_error() * exact
    return spark.createDataFrame([(exact, bool(ok))],
                                 "exact_distinct bigint, within_bound boolean")


ORACLE_HLL_DISTINCT = ("SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS "
                       "exact_distinct, TRUE AS within_bound FROM orders")


def q_hll_group_distinct(spark, sf_dir):
    """Grouped HLL (sketch-per-key applyInArrow): distinct customers per
    order priority, each within the HLL bound of the exact count."""
    orders = _load(spark, sf_dir, "orders")
    keyed = orders.select("o_orderpriority",
                          F.xxhash64("o_custkey").alias("key"))
    est = S.grouped_sketch(keyed, ["o_orderpriority"], "key", "hll",
                           {"p": 12})
    exact = keyed.groupBy("o_orderpriority").agg(
        F.countDistinct("key").alias("exact_distinct"))
    bound = 4 * 1.04 / math.sqrt(1 << 12)
    return (est.join(exact, "o_orderpriority")
            .select("o_orderpriority",
                    F.col("exact_distinct").cast("long"),
                    (F.abs(F.col("estimate") - F.col("exact_distinct"))
                     <= F.lit(bound) * F.col("exact_distinct"))
                    .alias("within_bound"))
            .orderBy("o_orderpriority"))


ORACLE_HLL_GROUP_DISTINCT = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
       TRUE AS within_bound
FROM orders GROUP BY 1 ORDER BY 1
"""


def q_hll_shingle_distinct(spark, sf_dir):
    """North-star input shape: HLL(p=14) over the 8-token shingle keys of the
    derived token table (the same key-derivation path the filters build on),
    vs the exact distinct-shingle count — the canonical 'how many unique
    n-grams are in the corpus' question at 10^12-sequence scale, where exact
    distinct is a full shuffle and the HLL partial is shuffle-free."""
    from .dataflow import shingle_keys
    from .sources import tokens_from_documents

    docs = _load(spark, sf_dir, "documents")
    keyed = shingle_keys(tokens_from_documents(docs), k=8)
    hll = S.sketch_agg(keyed, "key", "hll", {"p": 14})
    exact = keyed.select("key").distinct().count()
    ok = abs(hll.estimate() - exact) <= 4 * hll.rel_error() * exact
    return spark.createDataFrame(
        [(exact, bool(ok))],
        "n_distinct_shingles bigint, within_bound boolean")


# word-level distinct equals key-level distinct (xxhash64 collision-free on
# this corpus — the same equivalence the shingle_key_dedup oracle relies on)
ORACLE_HLL_SHINGLE_DISTINCT = """
WITH words AS (SELECT string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT array_to_string(w[i:i+7], ' ') AS shingle
  FROM words, LATERAL unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
)
SELECT CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct_shingles,
       TRUE AS within_bound
FROM sh
"""


def q_cms_counts(spark, sf_dir):
    """Count-Min point queries on every l_linenumber value: never under the
    exact count and within eps·N over it."""
    li = _load(spark, sf_dir, "lineitem")
    keyed = li.select(F.xxhash64("l_linenumber").alias("key"),
                      "l_linenumber")
    cms = S.sketch_agg(keyed, "key", "cms", {"width": 8192, "depth": 5})
    udf = S.cms_estimate_udf(spark, cms)
    slack = int(math.ceil(cms.eps() * cms.total))
    return (keyed.groupBy("l_linenumber")
            .agg(F.count(F.lit(1)).alias("true_count"))
            .withColumn("est", udf(F.xxhash64("l_linenumber")))
            .select("l_linenumber", "true_count",
                    ((F.col("est") >= F.col("true_count"))
                     & (F.col("est") <= F.col("true_count") + slack))
                    .alias("cms_ok"))
            .orderBy("l_linenumber"))


ORACLE_CMS_COUNTS = """
SELECT l_linenumber, CAST(count(*) AS BIGINT) AS true_count, TRUE AS cms_ok
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q_bloom_zero_fn(spark, sf_dir):
    """Bloom over order keys: every inserted key probes true (zero FN — the
    same contract as the reference filters, src/lib.rs:117-120), and measured
    FPP on 1M held-out keys stays ≤ 2× the design target."""
    orders = _load(spark, sf_dir, "orders")
    keyed = orders.select(F.xxhash64("o_orderkey").alias("key"))
    n = keyed.count()
    bloom = S.sketch_agg(keyed, "key", "bloom",
                         {"n_bits": S.Bloom.for_capacity(n, 0.01).n_bits,
                          "k": S.Bloom.for_capacity(n, 0.01).k})
    udf = S.bloom_contains_udf(spark, bloom)
    n_true = keyed.where(udf("key")).count()
    fresh = spark.range(1_000_000).select(
        F.xxhash64(F.col("id") + 555_000_000).alias("key"))
    fpp = fresh.where(udf("key")).count() / 1_000_000
    return spark.createDataFrame(
        [(n, n_true, bool(fpp <= 0.02))],
        "n_rows bigint, n_true bigint, fpp_ok boolean")


ORACLE_BLOOM_ZERO_FN = ("SELECT CAST(count(*) AS BIGINT) AS n_rows, "
                        "CAST(count(*) AS BIGINT) AS n_true, "
                        "TRUE AS fpp_ok FROM orders")

_QS = (0.01, 0.25, 0.5, 0.75, 0.99)


def _rank_ok_df(spark, df, col, ests, bound):
    """One pass over the table computing the exact rank of each estimated
    quantile value, then |rank - q| ≤ bound per q."""
    n = df.count()
    agg = df.agg(*[
        F.sum(F.when(F.col(col) <= float(v), 1).otherwise(0)).alias(f"c{i}")
        for i, v in enumerate(ests)]).collect()[0]
    rows = [(float(q), bool(abs(agg[f"c{i}"] / n - q) <= bound))
            for i, q in enumerate(_QS)]
    return spark.createDataFrame(rows, "q double, rank_ok boolean")


def q_tdigest_quantiles(spark, sf_dir):
    """t-digest(δ=300) quantiles of l_extendedprice: each estimate's exact
    rank within 0.01 of its target (tails are far tighter in practice)."""
    li = _load(spark, sf_dir, "lineitem")
    td = S.sketch_agg(li, "l_extendedprice", "tdigest", {"delta": 300})
    return _rank_ok_df(spark, li, "l_extendedprice",
                       td.quantiles(list(_QS)), 0.01)


def q_kll_quantiles(spark, sf_dir):
    """KLL(k=400) quantiles of document length (n_chars): exact rank within
    0.025 of target (k=400 ⇒ ~0.8% rank error plus tie mass on the discrete
    length distribution)."""
    docs = _load(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").cast("double").alias("v"))
    kll = S.sketch_agg(vals, "v", "kll", {"k": 400})
    return _rank_ok_df(spark, vals, "v", kll.quantiles(list(_QS)), 0.025)


_ORACLE_QUANTILES = ("SELECT CAST(q AS DOUBLE) AS q, rank_ok FROM (VALUES "
                     + ", ".join(f"({q}, TRUE)" for q in _QS)
                     + ") AS t(q, rank_ok) ORDER BY q")


def q_tdigest_group_quantiles(spark, sf_dir):
    """Grouped valued sketch: one t-digest per source over document length;
    each group's estimated median must sit within 0.02 rank of the exact
    per-group median (the per-source length-distribution question a
    training-data pipeline asks before filtering)."""
    docs = _load(spark, sf_dir, "documents")
    vals = docs.select("source", F.col("n_chars").cast("double").alias("v"))
    g = S.grouped_sketch(vals, ["source"], "v", "tdigest", {"delta": 300})
    from .sketches import sketch_from_bytes
    ests = [(r.source, float(sketch_from_bytes(r.payload).quantile(0.5)))
            for r in g.collect()]
    est_df = spark.createDataFrame(ests, "source string, p50 double")
    ranked = (vals.join(F.broadcast(est_df), "source")
              .groupBy("source")
              .agg((F.sum(F.when(F.col("v") <= F.col("p50"), 1).otherwise(0))
                    / F.count(F.lit(1))).alias("rank"),
                   F.count(F.lit(1)).alias("n")))
    # bound = sketch error + rank granularity of a small discrete group
    # (at sf0.01 a source has only ~30 docs, so ranks move in 1/n steps)
    return (ranked.select("source",
                          (F.abs(F.col("rank") - 0.5)
                           <= 0.02 + 2.0 / F.col("n")).alias("rank_ok"))
            .orderBy("source"))


ORACLE_TDIGEST_GROUP_QUANTILES = ("SELECT source, TRUE AS rank_ok "
                                  "FROM documents GROUP BY source "
                                  "ORDER BY source")


def _src01_shingle_sets(spark, sf_dir):
    """Shared slice for the two set-operation queries (hll_set_ops /
    theta_set_ops, which also share their oracle text): the 4-word
    shingle stream of src0 vs src1 (cached — each query runs two sketch
    passes plus the exact aggregate over it), the xxhash64-keyed frame,
    and the exact-cardinality aggregate. ONE definition keeps both
    queries and the shared SQL oracle in lockstep."""
    docs = _load(spark, sf_dir, "documents")
    words = (docs.where(F.col("source").isin("src0", "src1"))
             .select("source", F.split("text", " ").alias("__w")))
    sh = (explode_shingles(words, "__w", 4, "shingle", sep=" ")
          .select("source", "shingle").cache())
    keyed = sh.select("source", F.xxhash64("shingle").alias("key"))
    exact = (sh.groupBy().agg(
        F.countDistinct(F.when(F.col("source") == "src0",
                               F.col("shingle"))).alias("n_a"),
        F.countDistinct(F.when(F.col("source") == "src1",
                               F.col("shingle"))).alias("n_b"),
        F.countDistinct("shingle").alias("n_union")))
    return keyed, exact


def q_hll_set_ops(spark, sf_dir):
    """HLL set algebra across two corpus slices: distinct 4-word shingle
    sets of src0 vs src1, union via the lossless register-max merge and
    intersection via inclusion-exclusion. Emits the exact cardinalities
    (SQL-reproducible) plus booleans asserting the published laws:
    union within 4σ (σ = 1.04/√m), intersection within 4σ·(|A|+|B|+|A∪B|)
    — the additive-error caveat documented on
    HyperLogLog.intersection_estimate."""
    keyed, exact = _src01_shingle_sets(spark, sf_dir)
    ha = S.sketch_agg(keyed.where(F.col("source") == "src0"), "key", "hll",
                      {"p": 14})
    hb = S.sketch_agg(keyed.where(F.col("source") == "src1"), "key", "hll",
                      {"p": 14})
    u = ha.union(hb)
    est_u = u.estimate()
    est_i = ha.estimate() + hb.estimate() - est_u
    rel4 = 4 * ha.rel_error()
    return exact.select(
        "n_a", "n_b", "n_union",
        (F.col("n_a") + F.col("n_b") - F.col("n_union")).alias("n_intersect"),
        (F.abs(F.lit(est_u) - F.col("n_union"))
         <= rel4 * F.col("n_union") + 3).alias("union_ok"),
        (F.abs(F.lit(est_i)
               - (F.col("n_a") + F.col("n_b") - F.col("n_union")))
         <= rel4 * (F.col("n_a") + F.col("n_b") + F.col("n_union")) + 3)
        .alias("intersect_ok"))


ORACLE_HLL_SET_OPS = """
WITH sh AS (
  SELECT source, array_to_string(w[i:i+3], ' ') AS shingle
  FROM (SELECT source, string_split(text, ' ') AS w FROM documents
        WHERE source IN ('src0', 'src1')),
       LATERAL unnest(generate_series(1, greatest(len(w) - 3, 0))) AS t(i)
)
SELECT CAST(count(DISTINCT CASE WHEN source = 'src0' THEN shingle END)
            AS BIGINT) AS n_a,
       CAST(count(DISTINCT CASE WHEN source = 'src1' THEN shingle END)
            AS BIGINT) AS n_b,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_union,
       CAST(count(DISTINCT CASE WHEN source = 'src0' THEN shingle END)
            + count(DISTINCT CASE WHEN source = 'src1' THEN shingle END)
            - count(DISTINCT shingle) AS BIGINT) AS n_intersect,
       TRUE AS union_ok, TRUE AS intersect_ok
FROM sh
"""


def q_theta_set_ops(spark, sf_dir):
    """Theta (bottom-k/KMV) set algebra over the same two corpus slices as
    hll_set_ops — the set-operation twin that exists for exactly this
    data shape: the true src0∩src1 shingle overlap is TINY (2–206 across
    the SFs) while the union is thousands, so HLL inclusion-exclusion
    error (scales with |A|+|B|+|A∪B|) would drown it, whereas theta's
    direct sample-overlap estimate carries the sampling bound
    4·sqrt(n∩/θ) + 3 — scaling with the intersection itself. Emits the
    exact cardinalities (SQL-reproducible, same oracle text as
    hll_set_ops) plus booleans asserting the union 4σ law
    (σ = 1/sqrt(k-2)) and the intersection sampling bound."""
    keyed, exact = _src01_shingle_sets(spark, sf_dir)
    ta = S.sketch_agg(keyed.where(F.col("source") == "src0"), "key",
                      "theta", {"k": 1024})
    tb = S.sketch_agg(keyed.where(F.col("source") == "src1"), "key",
                      "theta", {"k": 1024})
    est_u = ta.union(tb).estimate()
    est_i = S.Theta.intersection_estimate(ta, tb)
    theta = min(ta.theta(), tb.theta())
    rel4 = 4 * ta.rel_error()
    n_int = F.col("n_a") + F.col("n_b") - F.col("n_union")
    return exact.select(
        "n_a", "n_b", "n_union", n_int.alias("n_intersect"),
        (F.abs(F.lit(est_u) - F.col("n_union"))
         <= rel4 * F.col("n_union") + 3).alias("union_ok"),
        (F.abs(F.lit(est_i) - n_int)
         <= 4 * F.sqrt(n_int / F.lit(theta)) + 3).alias("intersect_ok"))


def q_mg_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters over corpus words, keyed by the portable
    md5-derived word hash (bit-identical in Spark and DuckDB). The Spark
    side computes the exact per-word counts AND probes the broadcast MG
    summary with a pandas UDF, asserting the published law per word:
    ``est ≤ true ≤ est + dsub`` with ``dsub ≤ n/(k+1)``. On this corpus the
    distinct-word count is below k, so the law collapses to exact equality
    (dsub = 0, every word retained); the over-capacity compaction regime is
    pytest-covered on a planted zipf stream with 200k distinct keys
    (tests/test_sketches.py::test_mg_bounds_on_skewed_stream)."""
    from .functions.registry import md5long

    docs = _load(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .withColumn("key", md5long("word")))
    mg = S.sketch_agg(words, "key", "mg", {"k": 256})
    law_ok = mg.dsub <= mg.error_bound()
    est = S.mg_estimate_udf(spark, mg)
    return (words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("n"), F.first("key").alias("key"))
            .withColumn("est", est("key"))
            .select("word", "n",
                    ((F.col("est") <= F.col("n"))
                     & (F.col("n") <= F.col("est") + F.lit(int(mg.dsub)))
                     & F.lit(law_ok)).alias("mg_ok"),
                    (F.col("est") > 0).alias("retained"))
            .orderBy("word"))


ORACLE_MG_HEAVY_HITTERS = """
WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word)
SELECT word, n, TRUE AS mg_ok, TRUE AS retained FROM c ORDER BY word
"""


def q_mg_group_top_word(spark, sf_dir):
    """Per-source top word via grouped Misra-Gries (one MG summary per
    source through grouped_sketch): k=256 exceeds the corpus vocabulary,
    so every per-source summary is provably exact (dsub = 0, asserted)
    and the argmax hash-matches the oracle's SQL argmax. Ties break on
    (count desc, word asc) — applied on the decoded exact counts, not on
    hash order.

    Decode is DISTRIBUTED: only the per-group MG summaries (groups x k
    rows, KB-sized by the operator's contract) come to the driver; the
    key->word mapping stays a distributed join — the tiny summary frame
    is broadcast against the full (key, word) vocabulary table, so the
    pattern survives a real vocabulary (no collect() of the vocab)."""
    from pyspark.sql import Window

    from .functions.registry import md5long

    docs = _load(spark, sf_dir, "documents")
    words = (docs.select("source",
                         F.explode(F.split("text", " ")).alias("word"))
             .withColumn("key", md5long("word")))
    g = S.grouped_sketch(words, ["source"], "key", "mg", {"k": 256})
    entries = []
    for r in g.collect():
        sk = S.sketch_from_bytes(r["payload"])
        if sk.dsub != 0:   # vocabulary exceeded k — law still holds but
            raise AssertionError("grouped MG expected exact on this corpus")
        entries += [(r["source"], int(k), int(c))
                    for k, c in zip(sk.keys.view("int64"), sk.counts)]
    est = spark.createDataFrame(entries,
                                "source string, key bigint, est bigint")
    vocab = words.select("key", "word").distinct()
    decoded = vocab.join(F.broadcast(est), "key")
    w = Window.partitionBy("source").orderBy(F.desc("est"), F.asc("word"))
    return (decoded.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("source", F.col("word").alias("top_word"),
                    F.col("est").cast("long").alias("n_top"))
            .orderBy("source"))


ORACLE_MG_GROUP_TOP_WORD = """
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
),
c AS (SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2),
r AS (
  SELECT source, word, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, word) AS rk
  FROM c
)
SELECT source, word AS top_word, CAST(n AS BIGINT) AS n_top
FROM r WHERE rk = 1 ORDER BY source
"""


def q_sketch_merge_assoc(spark, sf_dir):
    """Merge associativity/commutativity, byte-exact: for each keyed sketch,
    aggregate the same keys under different partitionings AND merge orders
    (driver merge of 4 partials, fanout-2 merge tree of 17) — final state
    must be identical (the law behind shard-parallel sketch builds)."""
    li = _load(spark, sf_dir, "lineitem")
    keyed = (li.select(F.xxhash64("l_orderkey", "l_linenumber").alias("key"))
             .cache())
    params = {"hll": {"p": 12},
              "cms": {"width": 4096, "depth": 4},
              "bloom": {"n_bits": 1 << 21, "k": 7}}
    rows = []
    for kind in sorted(params):
        a = S.sketch_agg(keyed.repartition(4), "key", kind, params[kind])
        partials = S.partial_sketches(keyed.repartition(17), "key", kind,
                                      params[kind])
        (b,) = S.tree_merge(partials, 17, fanout=2).collect()
        rows.append((kind, a.to_bytes() == b["payload"]))
    keyed.unpersist()
    return spark.createDataFrame(rows, "kind string, state_identical boolean")


ORACLE_SKETCH_MERGE_ASSOC = (
    "SELECT kind, TRUE AS state_identical FROM (VALUES "
    "('bloom'), ('cms'), ('hll')) AS t(kind) ORDER BY kind")


def registry() -> dict[str, tuple]:
    return {
        "hll_distinct": (q_hll_distinct, ORACLE_HLL_DISTINCT),
        # hll_shingle_distinct lives in the registry TAIL (same HLL law as
        # hll_distinct on the shingle key set): past the driver's ~50-query
        # window but oracle-checked tri-scale by run_full_check (r4 advice:
        # excluded queries stay in the registry, exclusion recorded in
        # GATE_ORDER.md, not silently curated away).
        "hll_shingle_distinct": (q_hll_shingle_distinct,
                                 ORACLE_HLL_SHINGLE_DISTINCT),
        "hll_group_distinct": (q_hll_group_distinct,
                               ORACLE_HLL_GROUP_DISTINCT),
        "cms_counts": (q_cms_counts, ORACLE_CMS_COUNTS),
        "bloom_zero_fn": (q_bloom_zero_fn, ORACLE_BLOOM_ZERO_FN),
        "tdigest_quantiles": (q_tdigest_quantiles, _ORACLE_QUANTILES),
        "tdigest_group_quantiles": (q_tdigest_group_quantiles,
                                    ORACLE_TDIGEST_GROUP_QUANTILES),
        "kll_quantiles": (q_kll_quantiles, _ORACLE_QUANTILES),
        "mg_heavy_hitters": (q_mg_heavy_hitters, ORACLE_MG_HEAVY_HITTERS),
        "hll_set_ops": (q_hll_set_ops, ORACLE_HLL_SET_OPS),
        # same exact-cardinality columns + literal booleans, so the oracle
        # text is shared; the booleans assert theta's own (tighter) laws
        "theta_set_ops": (q_theta_set_ops, ORACLE_HLL_SET_OPS),
        "mg_group_top_word": (q_mg_group_top_word, ORACLE_MG_GROUP_TOP_WORD),
        "sketch_merge_assoc": (q_sketch_merge_assoc,
                               ORACLE_SKETCH_MERGE_ASSOC),
    }
