"""Deduplication operators for training-data pipelines.

Hot paths are Catalyst expressions (JVM, whole-stage codegen) or
vectorized numpy over Arrow batches — the MinHash signature is computed
per-row with no explode and no shuffle (numpy fast path for integral
tokens, array lambdas otherwise); only the LSH bucket join and the
verification join shuffle, and both shuffle on uniformly-hashed keys.

Scale notes (100 TB):
- exact_dedup is a min_by group-aggregate: map-side partial agg keeps one
  candidate row per distinct key per input partition, so heavy duplicates
  collapse BEFORE the shuffle (skew-immune; no window sort);
- minhash_lsh candidates shuffle (band_id, band_hash) pairs — band buckets of
  heavy-duplicate clusters can skew, so the bucket join caps bucket size
  (``max_bucket``) the way production near-dup pipelines do;
- verification re-checks candidates with exact jaccard over shingle sets, so
  LSH recall/precision only affects *cost*, never correctness of the verified
  output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import shingle_hashes_sql
from ._util import reserve_temp_cols


def exact_dedup(df: DataFrame, cols: list[str] | str,
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (the min ``id_col``) per distinct value of
    ``cols`` — hash-groupBy exact dedup.

    Plan: ``groupBy(*cols).agg(min_by(struct(*), id))`` — NOT a
    ``row_number`` window. The window form forces a full shuffle plus a
    per-key sort with no map-side combine, so the one skewed key a dedup
    pipeline exists to handle (a doc duplicated 10⁸–10⁹×) lands in a
    single straggler task (r3 verdict finding). ``min_by`` is a
    declarative aggregate with partial aggregation: each map task keeps
    ONE candidate row per distinct key before the shuffle, so a
    billion-fold duplicate contributes at most one row per input
    partition — skew-immune by construction. Grouping on the column
    VALUES (not a 64-bit hash of them) also removes the silent
    hash-collision drop (~hundreds of falsely-merged distinct docs
    expected at 10¹¹ rows under a 64-bit key).

    Physical flavor: Spark plans this as SortAggregate (the min_by buffer
    holds the row struct — wider than HashAggregate's fixed-width
    buffers); the sort is per-input-partition and uniformly parallel, and
    only the per-key candidates cross the wire (plan-guarded in
    tests/test_plans.py)."""
    if isinstance(cols, str):
        cols = [cols]
    row = F.struct(*[F.col(c) for c in df.columns])
    # ordering wrapped in a struct with a null flag: bare min_by IGNORES
    # rows whose ordering is null, so a group whose every id is null
    # would yield a null struct and select('__r.*') would emit an
    # all-NULL row (corrupting the dedup key itself); the struct is
    # never null, non-null ids still win, and an all-null-id group keeps
    # a real representative (arbitrary among ties, same as the previous
    # window form)
    ordering = F.struct(F.col(id_col).isNull().cast("int").alias("n"),
                        F.col(id_col).alias("v"))
    return (df.groupBy(*[F.col(c) for c in cols])
            .agg(F.min_by(row, ordering).alias("__r"))
            .select("__r.*"))


def minhash_signatures(df: DataFrame, tokens_col: str = "tokens",
                       num_perm: int = 64, shingle: int = 3,
                       out_col: str = "minhash") -> DataFrame:
    """Per-row MinHash signature over ``shingle``-gram shingles of an array
    column: sig[i] = min over shingles s of xxhash64(s, i).

    Integral token arrays (array<int>/array<long>) take a vectorized
    numpy ``mapInArrow`` path — a bit-exact port of the Catalyst
    ``xxhash64`` chain (operators/xxh64.py), parity-tested against the
    expression form — because the num_perm×shingles ``aggregate`` lambda
    is interpreted per element in the JVM (~10M evals/s/core; the fold
    was 65% of the bench MinHash row, BENCH/ROUND6_NOTES.md). Other
    token types keep the pure-Catalyst expression. Note the Arrow path
    round-trips every column of ``df`` through the python worker (guide
    §4.1) — project ``df`` down to what you need first, as the LSH
    pipeline already does.
    """
    from pyspark.sql.types import ArrayType, IntegerType, LongType

    t = df.schema[tokens_col].dataType
    if isinstance(t, ArrayType) and isinstance(t.elementType,
                                               (IntegerType, LongType)):
        return _minhash_signatures_arrow(
            df, tokens_col, num_perm, shingle, out_col,
            long_tokens=isinstance(t.elementType, LongType))
    return _minhash_signatures_expr(df, tokens_col, num_perm, shingle,
                                    out_col)


def _minhash_signatures_arrow(df: DataFrame, tokens_col: str,
                              num_perm: int, shingle: int, out_col: str,
                              long_tokens: bool) -> DataFrame:
    """Vectorized signature path: per Arrow batch, flatten the token
    lists, hash every stride-1 shingle window once (chained element
    hashes with NULL elements passing the seed through, exactly like
    Catalyst), then fold the per-permutation re-hash with
    ``minimum.reduceat`` over the per-doc shingle segments. Docs with no
    shingles (shorter than ``shingle``, or a NULL token array) emit the
    Catalyst-identical all-NULL signature of length ``num_perm``. Like
    ``withColumn``, an existing ``out_col`` is replaced in place."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    fields = list(df.schema.fields)
    oidx = df.columns.index(out_col) if out_col in df.columns else len(fields)
    fields[oidx:oidx + 1] = [
        StructField(out_col, ArrayType(LongType(), True), True)]
    out_schema = StructType(fields)
    out_names = out_schema.names
    tidx = df.columns.index(tokens_col)

    def fold(batches):
        import numpy as np
        import pyarrow as pa

        from xorf_spark.operators import xxh64 as X

        for b in batches:
            la = b.column(tidx)
            d = len(la)
            offs = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            doc_null = np.asarray(la.is_null())
            vals_pa = la.values
            vnull = np.asarray(vals_pa.is_null())
            v = vals_pa.fill_null(0).to_numpy(zero_copy_only=False)
            lens = offs[1:] - offs[:-1]
            nsh = np.where(doc_null, 0, np.maximum(lens - shingle + 1, 0))
            total = int(nsh.sum())
            cum = np.concatenate(([0], np.cumsum(nsh)))
            sig = np.empty((d, num_perm), dtype=np.int64)
            elem_null = np.zeros((d, num_perm), dtype=bool)
            if total:
                doc_of = np.repeat(np.arange(d), nsh)
                within = np.arange(total) - cum[doc_of]
                start = offs[:-1][doc_of] + within
                hash_elem = X.hash_long if long_tokens else X.hash_int
                seed = np.full(total, X.SEED, dtype=np.uint64)
                for j in range(shingle):
                    idx = start + j
                    h = hash_elem(v[idx], seed)
                    nj = vnull[idx]
                    if nj.any():
                        seed = np.where(nj, seed, h)
                    else:
                        seed = h
                s1 = X.hash_long(seed, X.SEED)
                nonempty = nsh > 0
                segs = cum[:-1][nonempty]
                for p in range(num_perm):
                    vp = X.hash_int(np.int64(p), s1).view(np.int64)
                    sig[nonempty, p] = np.minimum.reduceat(vp, segs)
                elem_null[~nonempty, :] = True
            else:
                elem_null[:, :] = True
            out_vals = pa.array(sig.ravel(), type=pa.int64(),
                                mask=elem_null.ravel())
            out = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (d + 1) * num_perm, num_perm,
                                   dtype=np.int32), type=pa.int32()),
                out_vals)
            cols = list(b.columns)
            cols[oidx:oidx + 1] = [out]
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return df.mapInArrow(fold, out_schema)


def _minhash_signatures_expr(df: DataFrame, tokens_col: str,
                             num_perm: int, shingle: int,
                             out_col: str) -> DataFrame:
    """Pure-Catalyst signature expression — the generic-type path, and
    the parity reference the Arrow path is tested against."""
    # Two-stage: hash every shingle ONCE to a 64-bit base fingerprint
    # (scalar element accesses, no slice allocation — the same win as
    # dataflow.shingle_keys), projected into a real column so Catalyst
    # evaluates it once per row; each permutation then re-hashes the
    # base longs, xxhash64(h, i). The earlier single expression hashed a
    # token-slice ARRAY per (permutation, shingle) — measured 11.7×
    # slower at num_perm=64, shingle=3, 20k synthetic docs
    # (BENCH/ROUND4_NOTES.md "MinHash signature A/B").
    reserve_temp_cols(df, "__sh")
    base = shingle_hashes_sql(tokens_col, shingle)
    # aggregate/least fold, not array_min(transform(...)): the transform
    # form materializes a per-(row, permutation) long array before the
    # min scan — the fold is allocation-free and measured ~8% faster at
    # num_perm=64 with bit-identical signatures
    # (scripts/ab_minhash_inner.py at commit 2f8c669). Docs with NO
    # shingles (shorter than ``shingle`` tokens) keep the old all-NULL
    # signature — a bare fold would return the MAX_LONG seed instead
    sig = (f"CASE WHEN size(__sh) = 0 THEN "
           f"transform(sequence(0, {num_perm - 1}), "
           f"i -> CAST(NULL AS BIGINT)) ELSE "
           f"transform(sequence(0, {num_perm - 1}), "
           f"i -> aggregate(__sh, 9223372036854775807L, "
           f"(acc, h) -> least(acc, xxhash64(h, i)))) END")
    return (df.withColumn("__sh", F.expr(base))
            .withColumn(out_col, F.expr(sig))
            .drop("__sh"))


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        sig_col: str = "minhash", bands: int = 16,
                        max_bucket: int = 64, pin: bool = True) -> DataFrame:
    """MinHash-LSH candidate pairs: split the signature into ``bands`` bands,
    hash each band, self-join docs sharing a band bucket.

    ``max_bucket`` drops degenerate buckets (boilerplate clusters) to bound
    the quadratic bucket join — standard skew control for near-dup mining at
    scale; dropped buckets are all-duplicates clusters better handled by
    exact dedup upstream.

    ``pin`` (default True) lazily ``localCheckpoint``s the tiny banded
    frame — (id, band_id, band_hash), ~24 bytes × ``bands`` per doc — before
    fan-out. The banded frame is consumed by FOUR plan branches (bucket-size
    aggregate + size filter + both sides of the self-join); without pinning,
    each branch re-evaluates the full MinHash signature expression upstream
    (AQE stage boundaries defeat ReuseExchange here — measured 2× wall-clock
    at num_perm=64; a lazy ``persist`` recovers only half the win, measured
    0.73s vs 0.42s vs 0.97s unpinned). On a real corpus this is the
    "materialize the signature table" step of every production MinHash
    pipeline. The checkpoint is LAZY (materializes with the first action,
    once — calling this function never runs a job) and its blocks are freed
    by the ContextCleaner when the frame is GC'd. Tradeoff: local-checkpoint
    storage is non-replicated, so on a multi-executor cluster an executor
    loss mid-query fails the query (retried from the source by the caller)
    instead of recomputing — pass ``pin=False`` and persist ``sig_df``
    yourself when that retry cost dominates.
    """
    banded = sig_df.select(
        F.col(id_col),
        F.posexplode(F.expr(
            f"transform(sequence(0, {bands - 1}), b -> "
            f"xxhash64(slice({sig_col}, b * (size({sig_col}) div {bands}) + 1, "
            f"size({sig_col}) div {bands}), b))"))
        .alias("band_id", "band_hash"))
    if pin:
        banded = banded.localCheckpoint(eager=False)
    sizes = (banded.groupBy("band_id", "band_hash")
             .agg(F.count(F.lit(1)).alias("n"))
             .where(F.col("n").between(2, max_bucket)))
    small = banded.join(sizes.select("band_id", "band_hash"),
                        ["band_id", "band_hash"])
    a = small.alias("a")
    b = small.alias("b")
    return (a.join(b, ["band_id", "band_hash"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def estimate_jaccard(sig_df: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id", sig_col: str = "minhash"
                     ) -> DataFrame:
    """MinHash jaccard estimate for candidate pairs = fraction of equal
    signature positions."""
    sa = sig_df.select(F.col(id_col).alias("id_a"),
                       F.col(sig_col).alias("sig_a"))
    sb = sig_df.select(F.col(id_col).alias("id_b"),
                       F.col(sig_col).alias("sig_b"))
    est = (F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), "
                  "v -> v))") / F.size("sig_a"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", est.alias("jaccard_est")))


def exact_jaccard(df: DataFrame, pairs: DataFrame, tokens_col: str = "tokens",
                  id_col: str = "doc_id", shingle: int = 3) -> DataFrame:
    """Exact shingle-set jaccard for candidate pairs (verification stage)."""
    # shingle identity via 64-bit fingerprints (array_intersect/union on
    # longs, not arrays-of-arrays; cross-shingle xxhash64 collision
    # p ≈ n²/2⁶⁴ is the corpus-wide convention)
    shingles = F.array_distinct(
        F.expr(shingle_hashes_sql(tokens_col, shingle)))
    sa = df.select(F.col(id_col).alias("id_a"), shingles.alias("sh_a"))
    sb = df.select(F.col(id_col).alias("id_b"), shingles.alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # two shingle-less (shorter-than-shingle) docs: define jaccard as 0.0
    # rather than 0/0 (ANSI mode raises on the division)
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b", jac.alias("jaccard")))


def minhash_dedup(df: DataFrame, tokens_col: str = "tokens",
                  id_col: str = "doc_id", threshold: float = 0.8,
                  num_perm: int = 64, bands: int = 16,
                  shingle: int = 3) -> DataFrame:
    """MinHash-LSH near-dup removal, pair-local policy: signature → banded
    candidates → exact-jaccard verification → drop the higher id of each
    verified pair. Each surviving row has no verified near-dup with a
    smaller id among the candidates; for whole-CLUSTER dedup (transitive
    closure) use ``minhash_dedup_clusters``.
    """
    sigs = minhash_signatures(df, tokens_col, num_perm, shingle)
    cands = lsh_candidate_pairs(sigs, id_col, "minhash", bands)
    verified = (exact_jaccard(df, cands, tokens_col, id_col, shingle)
                .where(F.col("jaccard") >= threshold))
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def minhash_dedup_clusters(df: DataFrame, tokens_col: str = "tokens",
                           id_col: str = "doc_id", threshold: float = 0.8,
                           num_perm: int = 64, bands: int = 16,
                           shingle: int = 3, max_iter: int = 50,
                           checkpoint_dir: str | None = None) -> DataFrame:
    """Cluster-level MinHash-LSH dedup (the production corpus-dedup policy):
    verified near-dup pairs form an edge list, ``connected_components``
    closes it transitively, and exactly ONE representative per duplicate
    cluster survives (the min id) — chains a~b~c collapse even when a and c
    never shared a bucket.

    Note: ids are compared as longs inside the component step, so
    ``id_col`` must be (castable to) an integral id.
    """
    sigs = minhash_signatures(df, tokens_col, num_perm, shingle)
    cands = lsh_candidate_pairs(sigs, id_col, "minhash", bands)
    verified = (exact_jaccard(df, cands, tokens_col, id_col, shingle)
                .where(F.col("jaccard") >= threshold))
    comp = connected_components(verified, "id_a", "id_b", max_iter,
                                checkpoint_dir)
    losers = (comp.where(F.col("node") != F.col("component"))
              .select(F.col("node").alias(id_col)))
    return df.join(losers,
                   df[id_col].cast("long") == losers[id_col],
                   "left_anti")


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 50,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node's label converges to the smallest node
    id in its component.

    Returns ``(node, component)`` for every node that appears in an edge.

    Scale design: each iteration is one shuffled join + min-aggregate (both
    AQE-planned); lineage is cut per iteration with an eager
    ``localCheckpoint`` so the plan does not grow with the iteration count
    (pass ``checkpoint_dir`` to use reliable HDFS/S3 checkpoints instead —
    localCheckpoint state dies with a lost executor, fine on local mode,
    not on a multi-hour cluster run). Convergence needs O(component
    diameter) iterations — near-dup clusters are shallow (dozens of hops at
    most), which is why plain propagation beats the log-n
    large-star/small-star dance for this workload. The loop stops as soon
    as an iteration changes no label.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def cut(df: DataFrame) -> DataFrame:
        return (df.checkpoint(eager=True) if checkpoint_dir is not None
                else df.localCheckpoint(eager=True))

    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .where(F.col("src") != F.col("dst")))
    sym = cut(e.union(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
              .distinct())
    labels = (sym.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(max_iter):
        msgs = (sym.join(labels, sym["src"] == labels["node"])
                .select(F.col("dst").alias("node"), F.col("label")))
        new_labels = cut(labels.unionByName(msgs)
                         .groupBy("node").agg(F.min("label").alias("label")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausting max_iter before a fixed point means the returned
        # labels are NOT components — callers like minhash_dedup_clusters
        # would silently pick wrong representatives
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations ({changed} labels still changing); raise "
            f"max_iter — component diameter exceeds it")
    return labels.select("node", F.col("label").alias("component"))


def simhash64(df: DataFrame, tokens_col: str = "tokens",
              out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per row from xxhash64 of each token, as a single
    Catalyst aggregate over bit-sliced votes (no Python).

    For each bit b: vote = Σ_tokens (bit_b(h) ? 1 : -1); sign packs into the
    output bit. Expressed as an array fold so it stays one projection.
    """
    votes = (f"aggregate({tokens_col}, array_repeat(0L, 64), (acc, t) -> "
             f"zip_with(acc, transform(sequence(0, 63), b -> "
             f"CASE WHEN (xxhash64(t) >> b) & 1 = 1 THEN 1L ELSE -1L END), "
             f"(a, v) -> a + v))")
    pack = (f"aggregate(zip_with({votes}, sequence(0, 63), (v, b) -> "
            f"CASE WHEN v > 0 THEN shiftleft(1L, cast(b as int)) ELSE 0L END), "
            f"0L, (acc, x) -> acc | x)")
    return df.withColumn(out_col, F.expr(pack))


def simhash_candidates(df: DataFrame, id_col: str = "doc_id",
                       sim_col: str = "simhash", prefix_bits: int = 16,
                       max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup candidates: bucket by rotated prefixes (4 rotations)
    so any pair within ``max_hamming`` of each other shares ≥1 bucket with
    high probability, then verify hamming distance exactly (bit_count)."""
    rots = 4
    buckets = df.select(
        F.col(id_col), F.col(sim_col),
        F.posexplode(F.expr(
            f"transform(sequence(0, {rots - 1}), r -> shiftrightunsigned("
            f"{sim_col} | shiftleft({sim_col}, cast(r * 16 as int)), "
            f"{64 - prefix_bits}))")).alias("rot", "bucket"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    ham = F.expr(f"bit_count(a.{sim_col} ^ b.{sim_col})")
    return (a.join(b, ["rot", "bucket"])
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    ham.alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())


def segment_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", seg_words: int = 5,
                  min_count: int = 2, strike: str = "join") -> DataFrame:
    """Cross-document segment dedup (CCNet-style boilerplate strike).

    Splits every document into consecutive non-overlapping ``seg_words``-word
    segments (paragraph proxies for the single-line test corpus; on real data
    pass pre-split paragraphs), counts each distinct segment corpus-wide, and
    strikes every occurrence of any segment that appears ``min_count`` or more
    times anywhere in the corpus — the CCNet/RefinedWeb boilerplate-removal
    pass that removes headers, navigation chrome, and license banners *inside*
    otherwise-unique documents, which whole-document dedup
    (``exact_dedup`` / ``minhash_dedup``) cannot touch.

    Returns one row per input document: ``(id_col, n_segments, n_kept,
    clean_text)`` where ``clean_text`` is the surviving segments re-joined in
    original order ('' when every segment was struck — the row is kept so the
    caller sees the doc was boilerplate-only rather than silently dropped).

    Scale shape (100 TB): segment counting is a ``groupBy(segment).count()``
    — map-side partial aggregation collapses heavy boilerplate before the
    shuffle, so a segment repeated 10⁹× costs one partial row per input
    partition, not one reduce-side straggler. The strike set (segments with
    count ≥ min_count) is usually corpus-⋘ and joins back as a left_anti;
    AQE's skew-join split handles a pathological segment on the probe side.
    Re-assembly shuffles once on ``id_col`` with an order-restoring
    ``array_sort(collect_list(struct(pos, seg)))`` (collect_list alone has no
    ordering guarantee after a shuffle).

    ``strike`` picks the anti-join strategy, with identical exact results:

    - ``"join"`` (default): plain ``left_anti`` against the hot set — right
      when the hot set broadcasts or the corpus is moderate.
    - ``"filter"``: routes the strike through
      :func:`xorf_spark.dataflow.filter_anti_join` — a BinaryFuse8 built
      from the hot segments rejects ~99.6% of clean occurrences *before*
      any join shuffle (zero false negatives, so rejected rows are
      provably clean), and only the boilerplate occurrences + FPP residue
      reach the exact backstop join. At 10¹¹+ docs the hot set itself can
      hold billions of segments (too big to broadcast) while the exploded
      corpus is ~100× bigger still — probing at ~9 bits per hot segment
      beats shuffling the full exploded corpus into a join. This is the
      library's own "filter in front of the slower lookup" flagship
      composed with the pipeline operator.
    """
    k = int(seg_words)
    elems = ", ".join(f"try_element_at(__w, i * {k} + {j + 1})"
                      for j in range(k))
    # try_element_at past the end of the array is NULL (plain element_at
    # THROWS under ANSI mode) and concat_ws skips NULLs, so the final
    # short segment truncates naturally (mirrors the oracle's list_slice
    # semantics); per-segment scalar accesses, not slice() — Catalyst
    # does not hoist allocations out of lambdas
    seg_sql = (f"transform(sequence(0, cast(ceil(size(__w) / {k}) as int)"
               f" - 1), i -> concat_ws(' ', {elems}))")
    segs = (df.select(F.col(id_col), F.split(F.col(text_col), " ")
                      .alias("__w"))
            .select(F.col(id_col),
                    F.posexplode(F.expr(seg_sql)).alias("pos", "seg")))
    hot = (segs.groupBy("seg").agg(F.count(F.lit(1)).alias("__n"))
           .where(F.col("__n") >= int(min_count)).select("seg"))
    if strike == "filter":
        from ..dataflow import filter_anti_join
        kept = filter_anti_join(segs, hot, probe_key="seg",
                                build_key="seg").select(id_col, "pos", "seg")
    elif strike == "join":
        kept = segs.join(hot, "seg", "left_anti")
    else:
        raise ValueError(f"strike must be 'join' or 'filter', got {strike!r}")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.concat_ws(" ", F.expr(
                        "transform(array_sort(collect_list("
                        "struct(pos, seg))), x -> x.seg)"))
                    .alias("clean_text")))
    totals = df.select(
        F.col(id_col),
        F.ceil(F.size(F.split(F.col(text_col), " ")) / k)
        .cast("long").alias("n_segments"))
    return (totals.join(rebuilt, id_col, "left")
            .select(id_col, "n_segments",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))


def substring_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", window: int = 8,
                    min_count: int = 2) -> DataFrame:
    """Exact-substring dedup over OVERLAPPING token windows (the distributed
    twin of Lee et al. 2021's suffix-array ExactSubstr pass, NeurIPS'21
    "Deduplicating Training Data Makes Language Models Better").

    The reference family here is sub-document dedup: where
    :func:`segment_dedup` strikes *non-overlapping* fixed segments (CCNet
    boilerplate), ExactSubstr removes every maximal token span of length
    >= ``window`` that occurs verbatim >= ``min_count`` times corpus-wide —
    catching duplicated passages that straddle segment boundaries. The
    suffix-array construction is inherently single-machine; the standard
    distributed reformulation (equivalent on spans >= window) is:

    1. slide a ``window``-token window with stride 1 over every document
       (Catalyst ``transform(sequence(...))`` — per-row JVM projection, no
       explode until the window rows are needed for counting);
    2. count each distinct window corpus-wide (``groupBy(win).count()`` —
       map-side partial agg collapses a 10⁹×-duplicated passage to one
       partial row per input partition, the skew-immune shape);
    3. an occurrence of a hot window (count >= min_count) covers token
       positions ``[pos, pos+window)``; the union of covered positions per
       document is exactly the set of tokens lying inside some duplicated
       span of length >= window — every token of a duplicated span of
       length L >= window is covered by one of its L-window+1 sub-windows,
       and no token outside such a span can be (its window would be unique);
    4. strike covered tokens, re-join survivors in original order.

    Returns one row per input document: ``(id_col, n_tokens, n_kept,
    clean_text)`` — ``n_kept`` counts surviving tokens, ``clean_text`` is
    their original-order re-join ('' when the whole doc is duplicated).

    Scale shape (100 TB): the only shuffles are the window count (partial-agg
    combined), the hot-occurrence semi-join (hot set is corpus-⋘; AQE
    skew-split covers a pathological window), and one re-assembly shuffle on
    ``id_col``. Covered positions are exploded only for HOT occurrences
    (bounded by actual duplication mass, not corpus size), then distinct-ed
    per (doc, position) before the anti-join — never O(corpus × window).
    Windows are keyed by a two-seed 128-bit hash (see the inline note):
    the window text never materializes and the count shuffle moves 16
    bytes per window instead of the window string. The oracle (DuckDB)
    counts string windows instead — identical output unless a 2^-128
    double collision strikes, which no realistic scale produces.
    """
    k = int(window)
    toks = df.select(F.col(id_col), F.split(F.col(text_col), " ")
                     .alias("__t"))
    elems = ", ".join(f"try_element_at(__t, i + {j + 1})" for j in range(k))
    # stride-1 windows: starts 0 .. n-k (docs shorter than k emit none);
    # scalar element accesses, not slice() — Catalyst does not hoist
    # allocations out of lambdas (same lesson as segment_dedup). The
    # count/semi-join KEY is a two-seed 128-bit hash of the window, not
    # the window string: no ~(k × word) string is ever materialized, and
    # the count shuffle moves 16-byte structs instead of ~8k-byte text
    # (measured 1.9× end-to-end and 0.61 → 0.77 two-level scaling
    # efficiency at 9.6M windows — the string bytes were the shuffle
    # wall; BENCH/SCALING_2v8.md). Hashing the k tokens as separate
    # xxhash64 args folds each word independently, so shifted-boundary
    # windows ("a b"+"c" vs "a"+"b c") collide no more than the joined
    # string did; a cross-window collision needs BOTH 64-bit seeds to
    # agree — 2^-128, birthday-safe past 10^18 windows.
    win_sql = (f"case when size(__t) >= {k} then "
               f"transform(sequence(0, size(__t) - {k}), "
               f"i -> named_struct('h1', xxhash64({elems}), "
               f"'h2', xxhash64({elems}, 7))) "
               f"else array() end")
    wins = toks.select(F.col(id_col),
                       F.posexplode(F.expr(win_sql)).alias("pos", "win"))
    hot = (wins.groupBy("win").agg(F.count(F.lit(1)).alias("__n"))
           .where(F.col("__n") >= int(min_count)).select("win"))
    hot_occ = wins.join(hot, "win", "left_semi")
    covered = (hot_occ.select(F.col(id_col),
                              F.explode(F.expr(
                                  f"sequence(pos, pos + {k - 1})"))
                              .alias("cp"))
               .groupBy(id_col)
               .agg(F.collect_set("cp").alias("__cov")))
    # strike via set difference on positions: array_except builds a hash
    # set of __cov once, so the strike is O(n + |cov|) per doc —
    # a per-token array_contains lambda would re-scan the covered list
    # for every token, O(n·|cov|), quadratic on exactly the long
    # heavily-duplicated docs this operator targets (r4 review finding).
    # array_except keeps first-argument order (and position lists are
    # duplicate-free), so the re-join preserves token order; the size()
    # guard keeps sequence() from emitting [0, -1] on an empty array.
    kept_sql = ("case when size(__t) = 0 then __t else "
                "transform(array_except(sequence(0, size(__t) - 1), "
                "coalesce(__cov, array())), i -> element_at(__t, i + 1)) "
                "end")
    return (toks.join(covered, id_col, "left")
            .select(F.col(id_col),
                    F.size("__t").cast("long").alias("n_tokens"),
                    F.expr(kept_sql).alias("__k"))
            .select(id_col, "n_tokens",
                    F.size("__k").cast("long").alias("n_kept"),
                    F.concat_ws(" ", "__k").alias("clean_text")))
