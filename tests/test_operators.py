"""Tests for the training-data pipeline operators (dedup, similarity, text,
multimodal) and the streaming membership filter."""

import glob

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from xorf_spark import dataflow as D
from xorf_spark.operators import dedup, multimodal, similarity, text
from xorf_spark.sources import docs_tokens, tokens_from_documents


@pytest.fixture(scope="module")
def token_df(spark):
    df = docs_tokens(spark, 2_000).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def docs_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# --- dedup ----------------------------------------------------------------

def test_exact_dedup(spark, token_df):
    dup = token_df.unionByName(token_df.limit(100))  # inject exact dupes
    out = dedup.exact_dedup(dup.withColumn("doc_id", F.col("doc_id")),
                            cols="tokens")
    assert out.count() == token_df.select("tokens").distinct().count()


def test_exact_dedup_all_null_ids_keep_real_row(spark):
    """A group whose every id is NULL must still keep a real
    representative row (bare min_by ignores null orderings and would
    emit an all-NULL row, corrupting the dedup key itself)."""
    df = spark.createDataFrame(
        [("x", None), ("x", None), ("y", 7), ("y", None)],
        "text string, doc_id long")
    got = {r.text: r.doc_id
           for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert set(got) == {"x", "y"}   # the key survives, no NULL-text row
    assert got["x"] is None
    assert got["y"] == 7            # non-null id still wins its group


def test_minhash_signatures_arrow_matches_catalyst(spark):
    """r6: the vectorized numpy signature path (operators/xxh64.py
    xxhash64 port) must be BIT-IDENTICAL to the Catalyst expression on
    every edge: short/empty/NULL token arrays, NULL elements, extreme
    int values, long-typed tokens, and several (num_perm, shingle)."""
    from xorf_spark.operators.dedup import (_minhash_signatures_expr,
                                            minhash_signatures)

    rows = [("a", [1, 2, 3, 4, 5]), ("b", [7, 8]), ("c", []),
            ("d", None), ("e", [1, None, 3, 4]),
            ("f", [-2, -1, 0, 2**31 - 1, -2**31]),
            ("g", list(range(100)))]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    for np_, sh in ((4, 3), (8, 2), (64, 3)):
        a = minhash_signatures(df, num_perm=np_, shingle=sh) \
            .orderBy("doc_id").collect()
        e = _minhash_signatures_expr(df, "tokens", np_, sh, "minhash") \
            .orderBy("doc_id").collect()
        assert all(ra["minhash"] == re["minhash"] for ra, re in zip(a, e))
    dfl = spark.createDataFrame(
        [("a", [1, 2, 3, 4, 5]), ("b", [2**62, -2**62, 0, 7]),
         ("c", [9, None, 11, 12, 13])],
        "doc_id string, tokens array<long>")
    a = minhash_signatures(dfl, num_perm=8, shingle=3) \
        .orderBy("doc_id").collect()
    e = _minhash_signatures_expr(dfl, "tokens", 8, 3, "minhash") \
        .orderBy("doc_id").collect()
    assert all(ra["minhash"] == re["minhash"] for ra, re in zip(a, e))
    # non-integral tokens route to the expression path and still work
    dfs = spark.createDataFrame([("a", ["x", "y", "z", "w"])],
                                "doc_id string, tokens array<string>")
    assert len(minhash_signatures(dfs, num_perm=4, shingle=3)
               .first()["minhash"]) == 4


def test_minhash_signatures_replace_existing_column(spark):
    """Both signature paths replace an existing ``out_col`` in place
    (``withColumn`` semantics) instead of appending a second one."""
    from xorf_spark.operators.dedup import (_minhash_signatures_expr,
                                            minhash_signatures)

    rows = [(1, [1, 2, 3, 4], [0]), (2, [5, 6, 7], None)]
    for typ in ("int", "string"):
        df = spark.createDataFrame(
            [(i, [t if typ == "int" else str(t) for t in toks], old)
             for i, toks, old in rows],
            f"id int, tokens array<{typ}>, minhash array<long>")
        a = minhash_signatures(df, num_perm=4, shingle=3)
        e = _minhash_signatures_expr(df, "tokens", 4, 3, "minhash")
        assert a.columns == e.columns == ["id", "tokens", "minhash"]
        got = {r["id"]: r["minhash"] for r in a.collect()}
        assert got == {r["id"]: r["minhash"] for r in e.collect()}
        assert all(len(v) == 4 for v in got.values())


def test_minhash_signature_properties(spark, token_df):
    sigs = dedup.minhash_signatures(token_df, num_perm=16, shingle=3)
    row = sigs.select("doc_id", "minhash").first()
    assert len(row["minhash"]) == 16
    # identical docs get identical signatures
    twin = token_df.limit(50)
    s1 = dedup.minhash_signatures(twin, num_perm=16, shingle=3) \
        .select("doc_id", "minhash")
    s2 = dedup.minhash_signatures(twin, num_perm=16, shingle=3) \
        .select("doc_id", F.col("minhash").alias("m2"))
    joined = s1.join(s2, "doc_id")
    assert joined.where(F.col("minhash") != F.col("m2")).count() == 0


def test_minhash_lsh_finds_planted_neardups(spark, token_df):
    """Plant near-duplicates (append 1 token to an existing doc) and check
    LSH+verify recovers them."""
    base = token_df.limit(20)
    mutated = base.select(
        F.concat(F.col("doc_id"), F.lit("-dup")).alias("doc_id"),
        F.concat(F.col("tokens"), F.array(F.lit(999))).alias("tokens"),
        (F.col("n_tok") + 1).alias("n_tok"), "source")
    planted = token_df.unionByName(mutated)
    out = dedup.minhash_dedup(planted, threshold=0.7, num_perm=32, bands=16)
    # every planted near-dup pair loses exactly its higher id (the "-dup" one)
    kept_ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    originals = {r["doc_id"] for r in base.select("doc_id").collect()}
    recovered = sum(1 for d in originals if d + "-dup" not in kept_ids)
    assert recovered >= 18  # LSH recall at jaccard≈0.99 with 16 bands ~ 1.0
    assert originals <= kept_ids  # originals (smaller ids) always survive


def test_simhash64_and_candidates(spark, token_df):
    sim = dedup.simhash64(token_df.limit(200))
    vals = [r["simhash"] for r in sim.select("simhash").collect()]
    assert len(set(vals)) > 150  # distinct docs → mostly distinct simhashes
    # identical rows → identical simhash and hamming 0 candidates
    twin = sim.limit(5).select(
        F.concat(F.col("doc_id"), F.lit("-t")).alias("doc_id"), "simhash")
    both = sim.select("doc_id", "simhash").unionByName(twin)
    cands = dedup.simhash_candidates(both, max_hamming=0)
    found = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    for r in twin.collect():
        orig = r["doc_id"][:-2]
        assert (orig, r["doc_id"]) in found or (r["doc_id"], orig) in found


# --- similarity -------------------------------------------------------------

def test_brute_force_topk_matches_numpy(spark, emb_df):
    qs = emb_df.where(F.col("vec_id") < 3)
    got = similarity.brute_force_topk(emb_df, qs, k=5).collect()
    # numpy oracle
    rows = emb_df.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    for qid in range(3):
        qv = M[ids == qid][0]
        sims = M @ qv
        order = np.lexsort((ids, -sims))
        want = [int(ids[i]) for i in order if ids[i] != qid][:5]
        have = [r["nid"] for r in sorted(
            (x for x in got if x["qid"] == qid), key=lambda x: x["rank"])]
        assert have == want


def test_lsh_topk_finds_planted_neighbors(spark, emb_df):
    """Random-hyperplane LSH recalls *near* neighbors (small angle), which is
    its actual contract — top-k of uniformly random vectors (cosine ≈ 0.3-0.5,
    angle ≈ 60-70°) is the brute-force path's job. Plant ε-perturbed copies
    as queries and require their originals back."""
    rows = emb_df.limit(20).collect()
    rng = np.random.default_rng(3)
    planted = []
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        v = v + rng.standard_normal(v.size) * 0.02 * np.linalg.norm(v) / np.sqrt(v.size)
        planted.append(Row(vec_id=int(r["vec_id"]) + 50_000,
                           embedding=[float(x) for x in v], label=r["label"]))
    qs = spark.createDataFrame(planted, emb_df.schema)
    approx = similarity.lsh_topk(emb_df, qs, k=3, n_planes=10, n_tables=6)
    got = approx.collect()
    hit = sum(1 for r in got
              if r["rank"] == 1 and r["nid"] == r["qid"] - 50_000)
    assert hit >= 16, f"LSH recovered only {hit}/20 planted neighbors"
    assert all(r["rank"] <= 3 for r in got)


def test_embedding_neardup_pairs_verified(spark, emb_df):
    # plant an exact duplicate vector → cosine 1.0 must be found
    dup = emb_df.limit(1).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label")
    planted = emb_df.unionByName(dup)
    pairs = similarity.embedding_neardup_pairs(planted, threshold=0.999)
    got = pairs.collect()
    assert any(r["id_b"] == 10_000 + 0 or r["id_a"] == 0 for r in got)
    assert all(r["cosine"] >= 0.999 for r in got)


def test_embedding_neardup_single_bucket_join(spark, emb_df):
    """Candidate generation must be ONE self-join on the exploded bucket
    key, not one join per LSH table (the r3 form ran n_tables separate
    shuffling self-joins unioned together)."""
    pairs = similarity.embedding_neardup_pairs(emb_df, threshold=0.9,
                                               n_tables=8)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    # the keyed frame appears ≤4× (bucket-size count + a/b join sides, each
    # rebuilding the explode) — with 8 tables, a per-table form would show
    # 8 unioned branches instead
    assert plan.count("Generate explode") <= 4
    assert "Union" not in plan


def test_embedding_neardup_max_bucket_drops_degenerate(spark):
    """A >max_bucket cluster of identical vectors is dropped from the
    bucket join (declared skew control), while normal-size near-dup
    groups survive."""
    base = [0.1 * (i + 1) for i in range(8)]
    clone = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(x) for x in base]).alias("embedding"))
    pair = spark.range(2).select(
        (F.col("id") + 1000).alias("vec_id"),
        F.array(*[F.lit(-x) for x in base]).alias("embedding"))
    df = clone.unionByName(pair)
    got = similarity.embedding_neardup_pairs(
        df, threshold=0.999, n_planes=4, n_tables=4, max_bucket=10).collect()
    ids = {i for r in got for i in (r["id_a"], r["id_b"])}
    assert 1000 in ids and 1001 in ids     # small group found
    assert not any(i < 50 for i in ids)    # degenerate cluster dropped


# --- text -------------------------------------------------------------------

def test_language_id_deterministic(spark, docs_df):
    out = text.language_id(docs_df)
    assert out.where(F.col("lang_pred").isNull()).count() == 0
    # heuristic must at least fire on stopword-bearing docs
    assert out.where(F.col("lang_pred") != "und").count() > 0


def test_lm_quality_flags_gibberish(spark):
    """Unigram-LM scoring (CCNet-style): a gibberish doc must score a
    higher mean -log2 p and OOV fraction than docs made of the corpus'
    common words."""
    common = [(i, "the cat sat on the mat and the dog ran")
              for i in range(50)]
    rows = common + [(99, "zxqv wvutk jjkqp mmznx bbvcx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab, oov = text.unigram_logprob_table(df, top_k=8)
    scored = {r.doc_id: r for r in
              text.lm_quality_score(df, vocab, oov).collect()}
    assert scored[99].oov_frac == 1.0
    assert scored[0].oov_frac < 0.5
    assert scored[99].avg_neg_logp > scored[0].avg_neg_logp
    # vocab is capped and carries positive surprisal
    assert vocab.count() <= 8
    assert all(r.neg_logp > 0 for r in vocab.collect())


def test_mixture_sample_hits_target_mix(spark):
    """Domain-mix resampling: skewed input (src a 8k, b 8k, c 1k) toward a
    dyadic 0.5/0.25/0.25 target — the binding source keeps every row,
    others downsample; achieved mixture lands near the target and the
    selection is deterministic."""
    rows = ([("a", i) for i in range(8000)]
            + [("b", 10_000 + i) for i in range(8000)]
            + [("c", 20_000 + i) for i in range(1000)]
            + [("drop_me", 30_000 + i) for i in range(500)])
    df = spark.createDataFrame(rows, "source string, doc_id long")
    weights = {"a": 0.5, "b": 0.25, "c": 0.25}
    out = text.mixture_sample(df, weights, salt="t")
    got = {r.source: r.n for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "drop_me" not in got
    # binding source: c (1000/0.25 = 4000 is the cap) keeps all rows
    assert got["c"] == 1000
    total = sum(got.values())
    for s, w in weights.items():
        assert abs(got[s] / total - w) < 0.03, (s, got)
    # deterministic: identical selection on re-run
    again = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert again == sorted(r.doc_id for r in
                           text.mixture_sample(df, weights, salt="t")
                           .select("doc_id").collect())


def test_quality_score_bounds(spark, docs_df):
    out = text.quality_score(docs_df)
    bad = out.where((F.col("quality") < 0) | (F.col("quality") > 1)).count()
    assert bad == 0
    assert out.select(F.countDistinct("quality")).first()[0] > 1


def test_token_counts(spark, docs_df):
    out = text.token_counts(docs_df)
    row = out.select(F.min("n_ws_tokens"), F.max("n_bpe_ish_tokens")).first()
    assert row[0] >= 1 and row[1] >= 1


def test_doc_fingerprint_identity(spark, docs_df):
    fp = text.doc_fingerprint(docs_df)
    a = fp.select("doc_id", "fingerprint")
    b = text.doc_fingerprint(docs_df).select(
        "doc_id", F.col("fingerprint").alias("fp2"))
    assert a.join(b, "doc_id").where(
        F.col("fingerprint") != F.col("fp2")).count() == 0


# --- multimodal ---------------------------------------------------------------

def test_multimodal_feature_plumbing(spark, docs_df):
    media = multimodal.media_from_documents(docs_df)
    assert [f.name for f in media.schema.fields] == \
        ["media_id", "kind", "payload", "meta"]
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs_df.count()
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: same payload → same features
    again = {r["media_id"]: r["features"]
             for r in multimodal.extract_features(media).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["features"]


def test_multimodal_unsupported_format_is_marked(spark, docs_df):
    """Payloads that are not a stdlib-decodable format (here: raw text bytes
    posing as images) must fail loudly at the sniff point in real mode."""
    media = multimodal.media_from_documents(docs_df)
    with pytest.raises(Exception) as exc_info:
        multimodal.extract_features(media, fake=False).collect()
    assert "NotImplementedError" in str(exc_info.value) or \
        isinstance(exc_info.value, NotImplementedError)


def test_multimodal_real_decode_png_wav(spark, docs_df):
    """REAL decode end-to-end in Spark: synthesized PNG and WAV payloads run
    through extract_features(fake=False) and yield finite deterministic
    features; stats queries reconstruct exact closed-form values."""
    docs = docs_df.limit(40)
    imgs = multimodal.synth_images(docs).withColumnRenamed("doc_id", "media_id") \
        .withColumn("media_id", F.col("media_id").cast("string"))
    auds = multimodal.synth_audio(docs).withColumnRenamed("doc_id", "media_id") \
        .withColumn("media_id", F.col("media_id").cast("string"))
    media = imgs.unionByName(auds)
    rows = multimodal.extract_features(media, fake=False).collect()
    assert len(rows) == 80
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in rows)
    assert all(np.isfinite(r["features"]).all() for r in rows)
    # exact stats vs closed forms
    for r in multimodal.image_stats(multimodal.synth_images(docs)).collect():
        h, w, c1, c2, _ = multimodal._image_params(r["doc_id"])
        assert (r["width"], r["height"]) == (w, h)
        assert r["mean_val"] == pytest.approx(
            (c1 * (h // 2) + c2 * (h - h // 2)) / h, abs=1e-9)
    for r in multimodal.audio_stats(multimodal.synth_audio(docs)).collect():
        amp, period, n, sr = multimodal._audio_params(r["doc_id"])
        assert r["n_samples"] == n and r["sample_rate"] == sr
        assert r["rms"] == pytest.approx(amp / 32768.0, abs=1e-12)
        assert r["n_sign_changes"] == 2 * n // period - 1


def test_codecs_roundtrip():
    from xorf_spark.operators import codecs

    rng = np.random.default_rng(7)
    for shape in [(16, 16), (17, 23), (9, 31, 3), (12, 8, 4), (5, 5, 2)]:
        arr = rng.integers(0, 256, shape, dtype=np.uint8)
        for ft in range(5):  # every PNG filter type
            assert np.array_equal(
                codecs.decode_png(codecs.encode_png(arr, ft)), arr)
    x = rng.integers(-32768, 32768, 4444, dtype=np.int16)
    y, sr = codecs.decode_wav(codecs.encode_wav(x, 16000))
    assert sr == 16000 and np.array_equal(x, y)
    # JPEG is decoded for REAL since r5 (operators/jpeg.py): the sniff
    # routes it, garbage after SOI fails loudly, a real payload decodes
    with pytest.raises(ValueError, match="truncated JPEG"):
        codecs.decode_image(b"\xff\xd8\xff\xaa")
    from xorf_spark.operators.jpeg import encode_jpeg
    img = np.full((8, 8), 42, dtype=np.uint8)
    assert (codecs.decode_image(encode_jpeg(img, quality=75)) == img).all()
    with pytest.raises(NotImplementedError):  # MP4 stays honestly absent
        codecs.decode_image(b"\x00\x00\x00\x18ftypmp42")


def test_frame_sample_stub(spark, docs_df):
    media = multimodal.media_from_documents(docs_df.limit(10), kind="video")
    frames = multimodal.frame_sample(media, every_n=7)
    rows = frames.collect()
    assert len(rows) >= 10
    assert all(r["frame_idx"] % 7 == 0 for r in rows)


# --- streaming ---------------------------------------------------------------

@pytest.mark.parametrize("limit", [D.MAX_BROADCAST_FP_BYTES, 0],
                         ids=["broadcast", "mmap"])
def test_streaming_membership(spark, token_df, tmp_path, monkeypatch, limit):
    """Structured Streaming probe: build filter from history, filter a stream
    (file source → memory sink), one file per micro-batch so one probe UDF
    serves several micro-batches; over both fingerprint transports."""
    from xorf_spark.streaming import stream_dedup_filter, stream_membership

    monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", limit)
    hist = D.doc_keys(token_df).select("key")
    table = D.FilterTable.from_df(
        D.build_filter_df(hist, kind="bfuse8", n_shards=4))

    # stream input: half historical keys, half fresh, in 4 files
    fresh = spark.range(500).select(
        F.xxhash64(F.col("id") + 123_456_789).alias("key"))
    stream_src = str(tmp_path / "stream_in")
    hist.limit(500).unionByName(fresh).repartition(4).write.parquet(
        stream_src)
    assert len(glob.glob(f"{stream_src}/*.parquet")) >= 2

    def stream():
        return (spark.readStream.schema("key long")
                .option("maxFilesPerTrigger", 1).parquet(stream_src))

    annotated = stream_membership(stream(), table, "key")
    q = (annotated.writeStream.format("memory")
         .queryName(f"members_{limit}").outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    assert len(q.recentProgress) >= 2  # several micro-batches
    assert bool(table._shipped) == (limit == 0)
    out = spark.sql(f"select * from members_{limit}").collect()
    assert len(out) == 1000
    # zero FN on the historical half
    hist_keys = {r["key"] for r in hist.collect()}
    for r in out:
        if r["key"] in hist_keys:
            assert r["member"]

    deduped = stream_dedup_filter(stream(), table, "key")
    q2 = (deduped.writeStream.format("memory")
          .queryName(f"deduped_{limit}").outputMode("append").start())
    q2.processAllAvailable()
    q2.stop()
    survivors = {r["key"] for r in
                 spark.sql(f"select * from deduped_{limit}").collect()}
    assert not (survivors & hist_keys)  # no historical key survives


def test_streaming_stateful_exact_dedup(spark, tmp_path):
    """applyInPandasWithState exact dedup: each key emitted once across
    micro-batches (first occurrence wins)."""
    from pyspark.sql import functions as F
    from xorf_spark.streaming.stateful_dedup import stream_exact_dedup

    src = str(tmp_path / "dedup_in")
    # batch 1: keys 0..999 (each duplicated), batch 2: 500..1499
    b1 = spark.range(1000).select(F.col("id").alias("key"))
    b1.unionByName(b1).write.mode("overwrite").parquet(src + "/b1")
    spark.range(500, 1500).select(F.col("id").alias("key")) \
        .write.mode("overwrite").parquet(src + "/b2")

    stream = spark.readStream.schema("key long").option(
        "maxFilesPerTrigger", "1").parquet(src + "/*")
    out = stream_exact_dedup(stream, "key", n_buckets=4)
    q = (out.writeStream.format("memory").queryName("exact_dedup")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select key from exact_dedup").collect()
    keys = [r["key"] for r in rows]
    assert len(keys) == len(set(keys)) == 1500  # 0..1499 exactly once


def test_streaming_stateful_dedup_single_bucket(spark, tmp_path):
    """r4 review finding: Java shifts mask the distance mod 64, so
    n_buckets=1 made shiftrightunsigned(key, 64) the IDENTITY — every
    distinct key its own state entry and raw keys in the bucket column.
    With the p==0 guard the single bucket must be literally 0 and dedup
    must still hold."""
    from pyspark.sql import functions as F
    from xorf_spark.streaming.stateful_dedup import stream_exact_dedup

    src = str(tmp_path / "in")
    b = spark.range(200).select(F.xxhash64("id").alias("key"))
    b.unionByName(b).write.mode("overwrite").parquet(src + "/b1")
    stream = spark.readStream.schema("key long").parquet(src + "/*")
    out = stream_exact_dedup(stream, "key", n_buckets=1)
    q = (out.writeStream.format("memory").queryName("dedup_b1")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select key, bucket from dedup_b1").collect()
    assert len(rows) == 200
    assert {r["bucket"] for r in rows} == {0}


def test_stream_windowed_sketch_null_ts_and_kind_validation(spark, tmp_path):
    """r4 review findings: (a) a NULL event time must be dropped
    stream-side — in retention mode it previously became a (group, None)
    state key whose int(None) poison-pilled every replay; (b) a valued /
    unknown kind must fail at WIRING time, not executor-side."""
    import pytest
    from pyspark.sql import functions as F
    from xorf_spark.streaming.sketch_window import stream_windowed_sketch

    src = str(tmp_path / "in")
    good = spark.range(100).select(
        F.xxhash64("id").alias("k"), F.lit("g").alias("grp"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"))
    bad = spark.sql("select cast(1 as bigint) k, 'g' grp, "
                    "cast(null as timestamp) ts")
    good.unionByName(bad).write.mode("overwrite").parquet(src + "/b1")
    stream = spark.readStream.schema(
        "k long, grp string, ts timestamp").parquet(src + "/*")
    out = stream_windowed_sketch(stream, "k", "grp", kind="hll",
                                 retention="1 hour", window="1 hour")
    # poll the sink, do NOT processAllAvailable/awaitTermination: with
    # ProcessingTimeTimeout the engine keeps scheduling (empty) batches
    # to fire future timeouts, so the TTL-mode query never goes idle
    q = (out.writeStream.format("memory").queryName("swsk_null")
         .outputMode("update").start())
    import time as _time
    n = None
    for _ in range(120):
        if q.exception() is not None:
            break
        got = spark.sql(
            "select sum(n_rows) n from swsk_null").collect()[0]["n"]
        if got:
            n = got
            break
        _time.sleep(1)
    assert q.exception() is None            # null ts did not poison it
    q.stop()
    assert n == 100                          # the null-ts row was dropped

    for kind in ("kll", "tdigest", "hllx"):
        with pytest.raises(ValueError):
            stream_windowed_sketch(stream, "k", "grp", kind=kind)


def test_stream_delivery_wiring_mismatch_refused(spark, tmp_path):
    """r4 review finding: restarting the delivery stream with a changed
    seed would re-fingerprint a genuine replay as a new lineage and
    silently append the batch twice; changed n_shards would mix two
    assignment functions. Both must refuse loudly."""
    import pytest
    from pyspark.sql import functions as F
    from xorf_spark.streaming.delivery import make_batch_processor

    out = str(tmp_path / "out")
    df = spark.range(50).select(
        F.format_string("k%d", "id").alias("key"), F.col("id").alias("v"))
    make_batch_processor(out, 4, ["key", "v"], key_col="key", seed=17)(df, 0)
    for kwargs in ({"seed": 42}, {}, {"key_col": None}):
        n_shards = 8 if not kwargs else 4
        p = make_batch_processor(out, n_shards, ["key", "v"],
                                 **({"key_col": "key", "seed": 17}
                                    | kwargs))
        with pytest.raises(ValueError, match="wired with"):
            p(df, 1)


def test_connected_components_planted_clusters(spark):
    """Planted topology: a 5-chain, a 4-ring, a 2-pair, and a star — labels
    must converge to the min node id of each component, covering multi-hop
    propagation (chain diameter 4 needs >1 iteration)."""
    edges = [(1, 2), (2, 3), (3, 4), (4, 5),          # chain  -> comp 1
             (10, 11), (11, 12), (12, 13), (13, 10),  # ring   -> comp 10
             (20, 21),                                # pair   -> comp 20
             (30, 31), (30, 32), (30, 33)]            # star   -> comp 30
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(df).collect()}
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
            10: 10, 11: 10, 12: 10, 13: 10,
            20: 20, 21: 20,
            30: 30, 31: 30, 32: 30, 33: 30}
    assert got == want


def test_connected_components_merges_via_late_edge(spark):
    """Two clusters bridged by one edge collapse to one component (the
    transitive-closure property pair-local dedup lacks)."""
    edges = [(2, 3), (3, 4), (7, 8), (8, 9), (4, 7)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    comps = {r["component"] for r in dedup.connected_components(df).collect()}
    assert comps == {2}


class _FakeGroupState:
    def __init__(self):
        self._v = None
        self.n_updates = 0
        self.exists = False
        self.hasTimedOut = False
        self.removed = False
        self.timeout_set = None

    @property
    def get(self):
        return (self._v,)

    def update(self, tup):
        self._v = tup[0]
        self.n_updates += 1
        self.exists = True

    def remove(self):
        self.removed = True
        self.exists = False

    def setTimeoutDuration(self, d):
        self.timeout_set = d


def test_stateful_dedup_skips_state_rewrite_on_stale_batch():
    """An all-duplicate micro-batch must not rewrite the (potentially large)
    state blob — O(|state|) store I/O for zero new information."""
    import pandas as pd
    from xorf_spark.streaming.stateful_dedup import _make_dedup_fn

    fn = _make_dedup_fn(None)
    st = _FakeGroupState()
    batch = [pd.DataFrame({"key": [1, 2, 3]})]
    out = list(fn((0,), iter(batch), st))
    assert st.n_updates == 1 and len(out) == 1
    # same keys again: no fresh keys -> no state rewrite, no output
    out2 = list(fn((0,), iter(batch), st))
    assert st.n_updates == 1 and out2 == []
    # fresh key arrives -> exactly one more rewrite
    out3 = list(fn((0,), iter([pd.DataFrame({"key": [3, 9]})]), st))
    assert st.n_updates == 2 and out3[0]["key"].tolist() == [9]


def test_stateful_dedup_retention_ttl():
    import pandas as pd
    from xorf_spark.streaming.stateful_dedup import _make_dedup_fn

    fn = _make_dedup_fn("1 hour")
    st = _FakeGroupState()
    list(fn((0,), iter([pd.DataFrame({"key": [5]})]), st))
    assert st.timeout_set == "1 hour"
    st.hasTimedOut = True
    assert list(fn((0,), iter([]), st)) == []
    assert st.removed


def test_ivf_topk_exact_at_full_probe(spark, emb_df):
    """nprobe == n_lists degenerates IVF to exact brute force — results must
    match brute_force_topk row for row."""
    cent = similarity.ivf_train(emb_df, n_lists=8, sample_size=500, seed=13)
    qs = emb_df.where(F.col("vec_id") < 3)
    got = {(r["qid"], r["rank"]): r["nid"]
           for r in similarity.ivf_topk(emb_df, qs, cent, k=5, nprobe=8)
           .collect()}
    want = {(r["qid"], r["rank"]): r["nid"]
            for r in similarity.brute_force_topk(emb_df, qs, k=5).collect()}
    assert got == want


def test_ivf_topk_recall_on_planted_neighbors(spark, emb_df):
    rows = emb_df.limit(20).collect()
    rng = np.random.default_rng(3)
    planted = []
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        v = v + rng.standard_normal(v.size) * 0.02 * np.linalg.norm(v) / np.sqrt(v.size)
        planted.append(Row(vec_id=int(r["vec_id"]) + 50_000,
                           embedding=[float(x) for x in v], label=r["label"]))
    qs = spark.createDataFrame(planted, emb_df.schema)
    cent = similarity.ivf_train(emb_df, n_lists=8, sample_size=1000, seed=13)
    got = similarity.ivf_topk(emb_df, qs, cent, k=3, nprobe=3).collect()
    hit = sum(1 for r in got
              if r["rank"] == 1 and r["nid"] == r["qid"] - 50_000)
    assert hit >= 18, f"IVF recovered only {hit}/20 planted neighbors"


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    edges = [(1, 2), (2, 3), (7, 8)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in dedup.connected_components(
               df, checkpoint_dir=str(tmp_path / "cc")).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_minhash_dedup_clusters_transitive(spark):
    """Cluster dedup vs pair-local dedup on a planted 'hub' topology:
    A~C and B~C are near-dups but A~B is below threshold. Pair-local keeps
    B (its only verified pair has a larger id); cluster dedup collapses the
    whole component to A."""
    base = list(range(200))
    mk = lambda repl: [t if not (100 <= i < 100 + len(repl)) else repl[i - 100]
                       for i, t in enumerate(base)]
    A = base
    C = mk([10_000 + i for i in range(15)])             # half the block
    B = mk([10_000 + i for i in range(15)] + [20_000 + i for i in range(15)])
    df = spark.createDataFrame(
        [(1, A), (2, B), (3, C)], "doc_id long, tokens array<int>")

    th = 0.75
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.exact_jaccard(
               df, spark.createDataFrame(
                   [(1, 3), (2, 3), (1, 2)], "id_a long, id_b long"),
               shingle=3).collect()}
    # planted topology really holds (self-validating)
    assert jac[(1, 3)] >= th and jac[(2, 3)] >= th and jac[(1, 2)] < th, jac

    pair_kept = {r["doc_id"] for r in dedup.minhash_dedup(
        df, threshold=th, num_perm=64, bands=32).collect()}
    cluster_kept = {r["doc_id"] for r in dedup.minhash_dedup_clusters(
        df, threshold=th, num_perm=64, bands=32).collect()}
    assert cluster_kept == {1}
    assert pair_kept == {1, 2}  # pair-local misses the transitive dup


def test_gopher_rules_synthetic(spark):
    """Gopher rules on synthetic docs exercising every feature (the test
    corpus has no newlines/bullets/symbols): a clean doc passes, a looping
    doc trips the dup-ngram rules, a bullet list trips bullet_line_frac,
    a symbol-heavy doc trips symbol_word_ratio."""
    docs = [
        (1, "the quick brown fox jumps over a lazy dog near the river bank"),
        (2, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (3, "- one thing\n- two thing\n- three thing\n- four thing"),
        (4, "# # # # price ## cost # # # # # # # value # # # # # #"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.gopher_rules(df).collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["dup_2gram_frac"] > 0.8 and out[2]["gopher_pass"] is False
    assert out[3]["bullet_line_frac"] == 1.0 and out[3]["gopher_pass"] is False
    assert out[4]["symbol_word_ratio"] > 0.5 and out[4]["gopher_pass"] is False
    # ellipsis lines
    e = spark.createDataFrame(
        [(5, "read more...\nand then...\nthe end...")],
        "doc_id long, text string")
    r5 = text.gopher_rules(e).collect()[0]
    assert r5["ellipsis_line_frac"] == 1.0 and r5["gopher_pass"] is False


def test_redact_pii_synthetic(spark):
    docs = [
        (1, "contact me at jane.doe+spam@example.co.uk for details"),
        (2, "call +1 (415) 555-1234 or 020 7946 0958 today"),
        (3, "card 4111 1111 1111 1111 was charged"),
        (4, "no sensitive content here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert out[1]["n_emails"] == 1 and "<EMAIL>" in out[1]["text_redacted"]
    assert "jane" not in out[1]["text_redacted"]
    assert out[2]["n_phones"] >= 2 and "<PHONE>" in out[2]["text_redacted"]
    assert not any(ch.isdigit() for ch in out[2]["text_redacted"])
    assert out[3]["n_cards"] == 1 and "<CARD>" in out[3]["text_redacted"]
    assert "4111" not in out[3]["text_redacted"]
    assert out[4]["text_redacted"] == docs[3][1]
    assert (out[4]["n_emails"], out[4]["n_cards"], out[4]["n_phones"]) == (0, 0, 0)


def test_deterministic_sample_properties(spark, docs_df):
    s1 = {r["doc_id"] for r in
          text.deterministic_sample(docs_df, 0.3, "doc_id").collect()}
    s2 = {r["doc_id"] for r in
          text.deterministic_sample(docs_df, 0.3, "doc_id").collect()}
    assert s1 == s2  # exactly repeatable
    n = docs_df.count()
    assert abs(len(s1) / n - 0.3) < 0.08
    # stability under growth: verdicts on the original rows never change
    grown = docs_df.unionByName(docs_df.withColumn(
        "doc_id", F.col("doc_id") + 1_000_000))
    s3 = {r["doc_id"] for r in
          text.deterministic_sample(grown, 0.3, "doc_id").collect()
          if r["doc_id"] < 1_000_000}
    assert s3 == s1
    # nested: a 0.1 sample is a subset of the 0.3 sample (same salt)
    s_small = {r["doc_id"] for r in
               text.deterministic_sample(docs_df, 0.1, "doc_id").collect()}
    assert s_small <= s1


def test_sessionize_native_agrees(spark, sf_dir):
    """Spark's Catalyst-native session_window and the portable lag/cumsum
    formulation must carve identical sessions on the events table."""
    from xorf_spark.operators.events import session_stats, sessionize_native

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = {(r["user_id"], r["start_epoch"]): (r["n_events"], r["end_epoch"])
         for r in session_stats(ev, gap_minutes=30).collect()}
    b = {(r["user_id"], r["start_epoch"]): (r["n_events"], r["end_epoch"])
         for r in sessionize_native(ev, gap_minutes=30).collect()}
    assert a == b
    assert len(a) > 10


def test_edge_cases_empty_and_tiny_inputs(spark, tmp_path):
    """Empty/degenerate inputs across the round-2 operators: empty staged
    build (a zero-slot row per shard id), empty/self-loop component edges, fraction-0/1 samples, and
    sub-n-word docs through the gopher n-gram rules (Spark's sequence(1,0)
    is DESCENDING — the CASE guard must keep gram lists empty)."""
    empty = spark.range(0).select(F.xxhash64("id").alias("key"))
    shards = D.build_filter_df_staged(
        empty, str(tmp_path / "st"), n_shards=4).collect()
    assert sorted(r["shard_id"] for r in shards) == [0, 1, 2, 3]
    assert all(r["num_slots"] == 0 for r in shards)
    e = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(e).count() == 0
    assert dedup.connected_components(
        spark.createDataFrame([(5, 5)], "id_a long, id_b long")).count() == 0
    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    assert text.deterministic_sample(docs, 0.0).count() == 0
    assert text.deterministic_sample(docs, 1.0).count() == 100
    tiny = spark.createDataFrame([(1, "word"), (2, "")],
                                 "doc_id long, text string")
    rows = {r["doc_id"]: r for r in text.gopher_rules(tiny).collect()}
    assert rows[1]["dup_2gram_frac"] == 0.0
    assert rows[2]["dup_3gram_frac"] == 0.0


def test_pack_sequences_properties(spark):
    """Packing invariants at multiple partition counts: offsets are a
    permutation-contiguous layout (sorted offsets tile the total token
    stream with no gaps/overlaps), pack ids match offsets, and the layout
    is IDENTICAL regardless of partitioning (cluster-size invariance)."""
    from xorf_spark.operators.packing import pack_sequences

    docs = spark.range(1, 501).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(90)) + 10).alias("n_tok"))
    layouts = []
    for nparts in (2, 7):
        out = pack_sequences(docs, 128, num_partitions=nparts).collect()
        rows = sorted(out, key=lambda r: r["start_offset"])
        pos = 0
        for r in rows:
            assert r["start_offset"] == pos  # contiguous, no gaps
            assert r["start_pack"] == r["start_offset"] // 128
            assert r["end_pack"] == (r["start_offset"] + r["n_tok"] - 1) // 128
            assert r["pack_pos"] == r["start_offset"] % 128
            pos += r["n_tok"]
        layouts.append({r["doc_id"]: r["start_offset"] for r in out})
    assert layouts[0] == layouts[1]  # partitioning-invariant

    # scale guard: the partition offsets arrive via a broadcast hash join
    # of a tiny (__pid, offset) frame, not the old O(P)-per-row
    # coalesce(when(__pid==0,...)...) expression chain
    from xorf_spark.plans.inspect import explain_str
    plan = explain_str(pack_sequences(docs, 128, num_partitions=4))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "coalesce(CASE WHEN" not in plan


def test_range_partitioning_boundaries_and_buckets(spark):
    """Sketch-driven range partitioning: boundaries are monotone, both
    bucket-assignment paths (Catalyst fold vs binary-search UDF) agree
    exactly, NULLs land in bucket -1, and bucket masses on a skewed
    distribution are near-equal within the KLL rank-error bound."""
    from xorf_spark.operators.partitioning import (
        bucket_expr, bucket_udf, quantile_boundaries,
        repartition_by_quantiles, with_range_bucket)

    n, n_buckets = 120_000, 8
    vals = spark.range(n).select(
        (F.exp(F.xxhash64("id") % 1000 / 250.0)).alias("v"))  # heavy tail
    bounds = quantile_boundaries(vals, "v", n_buckets, kind="kll")
    assert 1 <= len(bounds) <= n_buckets - 1
    assert bounds == sorted(bounds)

    both = (vals.withColumn("b_cat", bucket_expr("v", bounds))
            .withColumn("b_udf",
                        bucket_udf(spark, bounds)(F.col("v").cast("double"))))
    assert both.where(F.col("b_cat") != F.col("b_udf")).count() == 0

    # mass balance: each bucket within 1/B ± 2*rank_err (KLL k=400 → 0.025)
    sizes = {r["b"]: r["n"] for r in
             with_range_bucket(vals, "v", bounds, "b")
             .groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(sizes) <= set(range(len(bounds) + 1))
    for b, cnt in sizes.items():
        assert abs(cnt / n - 1 / n_buckets) < 2 * 0.025 + 0.01, (b, cnt)

    # NULL → bucket -1; physical partitioning is by value range
    with_null = vals.union(spark.sql("SELECT CAST(NULL AS DOUBLE) v"))
    tagged = with_range_bucket(with_null, "v", bounds, "b")
    assert tagged.where(F.col("v").isNull()).select("b").first()["b"] == -1
    parted = repartition_by_quantiles(vals, "v", n_buckets, bounds=bounds)
    assert parted.rdd.getNumPartitions() == len(bounds) + 1
    # partitions hold contiguous, NON-OVERLAPPING bucket ranges (the
    # range-clustered property sorted writes / co-range joins rely on)
    rng = (parted.withColumn("pid", F.spark_partition_id())
           .groupBy("pid").agg(F.min("bucket").alias("lo"),
                               F.max("bucket").alias("hi"))
           .orderBy("pid").collect())
    for prev, cur in zip(rng, rng[1:]):
        assert prev["hi"] <= cur["lo"]


def test_range_partitioning_cross_table_determinism(spark):
    """The same boundary list buckets a SECOND table identically — the
    co-partitioned range-join property the native sampling-based
    repartitionByRange cannot provide."""
    from xorf_spark.operators.partitioning import (
        quantile_boundaries, with_range_bucket)

    a = spark.range(50_000).select((F.col("id") % 1000).cast("double")
                                   .alias("v"))
    bounds = quantile_boundaries(a, "v", 4)
    b = spark.range(777).select((F.col("id") % 1000).cast("double")
                                .alias("v"))
    ba = {r["v"]: r["bk"] for r in
          with_range_bucket(a, "v", bounds, "bk").distinct().collect()}
    bb = {r["v"]: r["bk"] for r in
          with_range_bucket(b, "v", bounds, "bk").distinct().collect()}
    for v, bk in bb.items():
        assert ba[v] == bk


def test_asof_join_directions_tolerance_and_ties(spark):
    """asof_join on a handcrafted frame: backward picks the latest right at
    or before each left ts (equal ts matches), forward the earliest at or
    after, tolerance nulls far matches, unmatched rows keep NULLs, and
    keys never cross `by` groups."""
    from xorf_spark.operators.events import asof_join

    def ts(s):
        return f"2026-01-01 00:00:{s:02d}"

    left = spark.createDataFrame(
        [(1, 100, ts(10)), (2, 100, ts(20)), (3, 200, ts(5)),
         (4, 300, ts(30))],
        "lid long, user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(11, 100, ts(10)), (12, 100, ts(15)), (13, 200, ts(8)),
         (14, 200, ts(40))],
        "rid long, user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts"))

    back = {r["lid"]: r["rid_r"] for r in
            asof_join(left, right, by="user_id").collect()}
    assert back == {1: 11,   # equal ts matches
                    2: 12,   # latest <= 20s is 15s
                    3: None,  # earliest right for user 200 is later
                    4: None}  # user 300 has no right rows

    fwd = {r["lid"]: r["rid_r"] for r in
           asof_join(left, right, by="user_id",
                     direction="forward").collect()}
    assert fwd == {1: 11, 2: None, 3: 13, 4: None}

    tol = {r["lid"]: r["rid_r"] for r in
           asof_join(left, right, by="user_id",
                     tolerance_seconds=3).collect()}
    assert tol == {1: 11, 2: None, 3: None, 4: None}  # 20s-15s > 3s horizon

    with pytest.raises(ValueError):
        asof_join(left, right, direction="sideways")


def test_tfidf_top_terms_exact(spark):
    """tf-idf ranks a term that is frequent in one doc but rare across the
    corpus above globally-common terms; scores match a python recompute."""
    import math

    from xorf_spark.operators.text import tf_idf_terms

    docs = spark.createDataFrame(
        [(1, "apple apple apple common common"),
         (2, "common banana common cherry"),
         (3, "common cherry cherry date")],
        "doc_id long, text string")
    out = tf_idf_terms(docs, k_top=2).collect()
    top = {r["doc_id"]: r["term"] for r in out if r["rank"] == 1}
    # doc 3: date (tf=1, df=1, score ln 3 ≈ 1.10) outranks cherry
    # (tf=2, df=2, score 2·ln 1.5 ≈ 0.81)
    assert top == {1: "apple", 2: "banana", 3: "date"}
    for r in out:
        want = math.floor(1e6 * r["tf"] * math.log(3.0 / r["df"]))
        assert r["score_micro"] == want


def test_decontaminate_planted_overlap(spark):
    """A train doc embedding an eval 8-gram verbatim is dropped (or
    flagged); disjoint docs survive; short docs (< n words) never match."""
    from xorf_spark.operators.decontam import decontaminate, shingle_keys

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "prefix words the quick brown fox jumps over the lazy dog and more"),
         (2, "completely different content with no overlap at all here okay"),
         (3, "tiny doc")],
        "doc_id long, text string")
    clean = decontaminate(train, ev, n=8).select("doc_id").collect()
    assert {r["doc_id"] for r in clean} == {2, 3}
    flagged = {r["doc_id"]: r["contaminated"] for r in
               decontaminate(train, ev, n=8, mode="flag").collect()}
    assert flagged == {1: True, 2: False, 3: False}
    # short docs emit zero shingles
    assert shingle_keys(train.where("doc_id = 3"), n=8).count() == 0
    with pytest.raises(ValueError):
        decontaminate(train, ev, mode="purge")


def test_shingle_ops_tolerate_short_docs(spark):
    """Docs shorter than the shingle width emit zero shingles everywhere
    (regression: sequence(1,0) is DESCENDING in Spark, so the old
    greatest() clamp crashed slice() with start=0 on short inputs)."""
    from xorf_spark.operators.decontam import shingle_keys

    tiny = spark.createDataFrame([(1, "a b"), (2, "one")],
                                 "doc_id long, text string")
    assert shingle_keys(tiny, n=8).count() == 0
    tok = spark.createDataFrame([(1, [1, 2]), (2, [7])],
                                "doc_id long, tokens array<int>")
    sigs = dedup.minhash_signatures(tok, num_perm=4, shingle=3).collect()
    assert all(r["minhash"] == [None] * 4 or r["minhash"] is None
               for r in sigs)  # empty shingle set -> null mins
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    jac = dedup.exact_jaccard(tok, pairs, shingle=3).collect()
    assert len(jac) == 1


def test_salted_skew_ops_exact_on_hot_keys(spark):
    """Salted distinct-count and salted join are bit-identical to the
    unsalted plans on a pathologically hot key (90% of rows share one
    key), at several salt widths; invalid join types are rejected."""
    from xorf_spark.operators.skew import salted_distinct_count, salted_join

    n = 40_000
    left = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id"))
        .alias("k"),
        (F.col("id") % 997).alias("v"))
    exact = {r["k"]: r["d"] for r in
             left.groupBy("k").agg(F.countDistinct("v").alias("d"))
             .collect()}
    for n_salt in (2, 64):
        got = {r["k"]: r["n_distinct_v"] for r in
               salted_distinct_count(left, ["k"], "v", n_salt).collect()}
        assert got == exact

    right = spark.range(5000).select(F.col("id").alias("k"),
                                     (F.col("id") * 3).alias("payload"))
    plain = sorted((r["k"], r["v"], r["payload"]) for r in
                   left.join(right, "k").collect())
    for how in ("inner", "left"):
        salted = sorted(
            (r["k"], r["v"], r["payload"]) for r in
            salted_join(left, right, "k", n_salt=8, how=how).collect()
            if r["payload"] is not None)
        assert salted == plain
    # left join keeps unmatched rows exactly once
    lo = salted_join(left, right.where("k < 0"), "k", n_salt=4, how="left")
    assert lo.count() == n
    with pytest.raises(ValueError):
        salted_join(left, right, "k", how="full_outer")


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join agrees with pandas.merge_asof on random frames for both
    directions, with and without a tolerance horizon (right timestamps
    unique per key so ties between right rows cannot make either side
    ambiguous)."""
    import pandas as pd

    from xorf_spark.operators.events import asof_join

    rng = np.random.default_rng(42)
    n_l, n_r = 300, 200
    left = pd.DataFrame({
        "lid": np.arange(n_l),
        "user_id": rng.integers(0, 8, n_l),
        "ts": pd.to_datetime(rng.integers(0, 10_000, n_l), unit="s"),
    })
    right = pd.DataFrame({
        "rid": np.arange(n_r) + 1000,
        "user_id": rng.integers(0, 8, n_r),
        "ts": pd.to_datetime(rng.integers(0, 10_000, n_r), unit="s"),
    }).drop_duplicates(["user_id", "ts"])
    sl = spark.createDataFrame(left)
    sr = spark.createDataFrame(right)
    for direction in ("backward", "forward"):
        for tol in (None, 60):
            got = {r["lid"]: r["rid_r"] for r in
                   asof_join(sl, sr, direction=direction,
                             tolerance_seconds=tol).collect()}
            want_df = pd.merge_asof(
                left.sort_values(["ts", "lid"]), right.sort_values("ts"),
                on="ts", by="user_id", direction=direction,
                tolerance=pd.Timedelta(seconds=tol) if tol else None)
            want = {int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
                    for r in want_df.itertuples()}
            assert got == want, (direction, tol)


def test_stratified_take_quota_and_determinism(spark):
    """Exactly n per stratum (fewer when the stratum is smaller), identical
    across partitionings, disjoint membership changes only via its own
    stratum, and the sample is always a subset of the input."""
    from xorf_spark.operators.text import stratified_take

    docs = spark.range(1, 301).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), F.pmod("id", F.lit(4))).alias("source"))
    small = docs.where("doc_id <= 2")  # stratum s1/s2 nearly empty
    base = docs.unionByName(small.limit(0))
    got = stratified_take(base, ["source"], 10).groupBy("source") \
        .agg(F.count(F.lit(1)).alias("n")).collect()
    assert all(r["n"] == 10 for r in got)
    a = {(r["source"], r["doc_id"]) for r in
         stratified_take(base, ["source"], 10).collect()}
    b = {(r["source"], r["doc_id"]) for r in
         stratified_take(base.repartition(13), ["source"], 10).collect()}
    assert a == b
    tiny = stratified_take(docs.where("doc_id <= 3"), ["source"], 10)
    assert tiny.count() == 3  # strata smaller than n yield all their rows


def test_compact_parquet_rows_files_and_clustering(spark, tmp_path):
    """Compaction preserves rows exactly, collapses a 64-file dataset to
    the planned count, and with sort_cols produces range-clustered files
    (every output file's min/max key range is disjoint — what footer
    pruning needs)."""
    import pyarrow.parquet as pq

    from xorf_spark.operators.maintenance import (compact_parquet,
                                                  plan_file_count)

    src, dst, dst2 = (str(tmp_path / d) for d in ("src", "dst", "dst2"))
    df = spark.range(200_000).select(
        F.col("id").alias("k"), F.xxhash64("id").alias("v"))
    df.repartition(64).write.parquet(src)
    assert len(spark.read.parquet(src).inputFiles()) == 64

    m = compact_parquet(spark, src, dst, target_file_mb=1)
    assert m["files_before"] == 64
    assert m["files_after"] == m["n_files_planned"] < 64
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    m2 = compact_parquet(spark, src, dst2, target_file_mb=1,
                         sort_cols=["k"])
    ranges = []
    for f in spark.read.parquet(dst2).inputFiles():
        md = pq.read_metadata(f.replace("file:", ""))
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)   # k is column 0
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2   # disjoint key ranges across files
    assert m2["files_after"] == m2["n_files_planned"]

    assert plan_file_count(0) == 1
    assert plan_file_count(300 << 20, 256) == 2


def test_range_bucket_nan_and_null_agree_across_paths(spark):
    """NaN and NULL both land in bucket -1 on BOTH assignment paths (the
    Catalyst fold would otherwise rank NaN above every bound while the
    UDF conflates it with NULL — regression for the path divergence)."""
    from xorf_spark.operators.partitioning import bucket_expr, bucket_udf

    bounds = [10.0, 20.0]
    df = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0), (4, None), (5, float("nan"))],
        "id long, v double")
    got_expr = {r["id"]: r["b"] for r in
                df.withColumn("b", bucket_expr("v", bounds)).collect()}
    got_udf = {r["id"]: r["b"] for r in
               df.withColumn("b", bucket_udf(spark, bounds)(
                   F.col("v"))).collect()}
    want = {1: 0, 2: 1, 3: 2, 4: -1, 5: -1}
    assert got_expr == want
    assert got_udf == want


def test_decontaminate_property_planted_overlaps(spark):
    """Property: for random corpora and random planted 8-gram overlaps,
    decontaminate drops EXACTLY the train docs sharing a shingle with the
    eval set (computed independently in python)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from xorf_spark.operators.decontam import decontaminate

    vocab = [f"w{i}" for i in range(40)]

    @settings(max_examples=5, deadline=None)
    @given(seed=st.integers(0, 2**31))
    def check(seed):
        rng = np.random.default_rng(seed)
        ev_texts = [" ".join(rng.choice(vocab, 12)) for _ in range(3)]
        train = []
        for i in range(12):
            words = list(rng.choice(vocab, 15))
            if rng.random() < 0.5:   # plant a verbatim eval 8-gram
                src = ev_texts[rng.integers(0, 3)].split()
                start = rng.integers(0, len(src) - 7)
                pos = rng.integers(0, 8)
                words[pos:pos + 8] = src[start:start + 8]
            train.append((i, " ".join(words)))
        ev_df = spark.createDataFrame(
            [(100 + j, t) for j, t in enumerate(ev_texts)],
            "doc_id long, text string")
        tr_df = spark.createDataFrame(train, "doc_id long, text string")

        def shingles(text):
            w = text.split()
            return {" ".join(w[i:i + 8]) for i in range(len(w) - 7)}

        ev_sh = set().union(*(shingles(t) for t in ev_texts))
        want_clean = {i for i, t in train if not (shingles(t) & ev_sh)}
        got_clean = {r["doc_id"] for r in
                     decontaminate(tr_df, ev_df, n=8).collect()}
        assert got_clean == want_clean, seed

    check()


def test_connected_components_raises_on_nonconvergence(spark):
    """Exhausting max_iter before the fixed point must be loud — silent
    unconverged labels would give wrong cluster representatives."""
    import pytest

    from xorf_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    # and a sufficient budget still converges to one component
    labels = connected_components(chain, max_iter=30).collect()
    assert {r.component for r in labels} == {0}


def test_streaming_dedup_event_time_horizon(spark, tmp_path):
    """Event-time mode of stream_exact_dedup: late rows (behind the
    watermark) are dropped, and a key reappearing after `horizon` of
    EVENT time — once the watermark evicted its bucket — is emitted
    again. Batches are fed incrementally so the watermark advances
    deterministically."""
    from pyspark.sql import functions as F
    from xorf_spark.streaming.stateful_dedup import stream_exact_dedup

    src = str(tmp_path / "wm_dedup_in")

    def batch(name, lo, hi, ts):
        (spark.range(lo, hi).select(
            F.col("id").alias("key"),
            F.to_timestamp(F.lit(ts)).alias("ts"))
         .write.parquet(f"{src}/{name}"))

    batch("b1", 0, 100, "2026-01-01 00:10:00")
    stream = spark.readStream.schema("key long, ts timestamp").option(
        "maxFilesPerTrigger", "1").parquet(src + "/*")
    # non-UTC session: first-seen timestamps must still be true UTC
    # epoch ms (JVM-derived), or the horizon skews by the tz offset;
    # try/finally so a failure cannot leak the tz into the shared
    # session fixture
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        out = stream_exact_dedup(stream, "key", n_buckets=4,
                                 watermark="30 minutes", horizon="1 hour")
        q = (out.writeStream.format("memory").queryName("wm_dedup")
             .outputMode("append").start())
        q.processAllAvailable()
        # advance watermark to 02:30 — past every b1 bucket's
        # newest-event (00:10) + horizon (1h) eviction point
        batch("b2", 10_000, 10_010, "2026-01-01 03:00:00")
        q.processAllAvailable()
        # same keys reappear AFTER the horizon, on time → emitted again
        batch("b3", 0, 100, "2026-01-01 03:05:00")
        q.processAllAvailable()
        # straggler behind the watermark with NEW keys → dropped entirely
        batch("b4", 20_000, 20_050, "2026-01-01 01:00:00")
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    keys = [r["key"] for r in spark.sql("select key from wm_dedup").collect()]
    from collections import Counter
    c = Counter(keys)
    assert all(c[k] == 2 for k in range(100)), c.most_common(3)
    assert all(c[k] == 1 for k in range(10_000, 10_010))
    assert not any(20_000 <= k < 20_050 for k in keys)  # late rows dropped


def test_contamination_report_planted_pairs(spark):
    """Planted overlap: train doc 1 shares its full 8-gram with eval doc
    100 (two distinct shingles via a 9-word overlap), train doc 2 is
    clean. The report must list exactly the contaminated pair with the
    right distinct-shingle count."""
    from xorf_spark.operators.decontam import contamination_report

    overlap = "a b c d e f g h i"          # 9 words -> two 8-gram shingles
    train = spark.createDataFrame(
        [(1, overlap + " tail1 tail2"),
         (2, "totally unrelated words " * 5)],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "prefix0 " + overlap)], "doc_id long, text string")
    rows = contamination_report(train, ev, n=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.train_doc_id, r.eval_doc_id, r.n_shared) == (1, 100, 2)


# --- one-pass table profile --------------------------------------------------

def test_profile_table_exact_fields_and_bounds(spark):
    from xorf_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(float(i % 100), "v%d" % (i % 7) if i % 10 else None)
         for i in range(10_000)],
        "x double, s string").repartition(8)
    prof = {r.column: r for r in profile_table(df).collect()}
    # exact fields are exact
    assert prof["x"].n_vals == 10_000 and prof["x"].n_nulls == 0
    assert prof["s"].n_nulls == 1_000 and prof["s"].n_vals == 9_000
    assert prof["x"].vmin == 0.0 and prof["x"].vmax == 99.0
    assert prof["s"].vmin is None and prof["s"].p50 is None
    # sketched fields within bounds
    assert abs(prof["x"].distinct_est - 100) <= 4 * 1.04 / 90.5 * 100 + 3
    assert abs(prof["s"].distinct_est - 7) <= 3
    assert abs(prof["x"].p50 - 49.0) <= 3.0
    # MG top-value estimate obeys est <= true (law) on the 7-value column
    true_top = 9_000 - 6 * 1_286  # value v0 hit most often
    assert prof["s"].top_value_est <= max(true_top, 9_000 / 7 + 1)


def test_profile_table_partitioning_invariant(spark):
    """Exact fields and HLL state are partitioning-independent; the
    profile of the same data under different partitionings agrees on
    every exact field and keeps sketch fields within bound."""
    from xorf_spark.operators.profile import profile_table

    base = spark.range(5_000).select(
        (F.col("id") % 500).cast("double").alias("x"))
    a = {r.column: r for r in profile_table(base.repartition(2)).collect()}
    b = {r.column: r for r in profile_table(base.repartition(16)).collect()}
    assert (a["x"].n_vals, a["x"].n_nulls, a["x"].vmin, a["x"].vmax) == \
        (b["x"].n_vals, b["x"].n_nulls, b["x"].vmin, b["x"].vmax)
    # HLL merge law: identical estimate (byte-identical state) either way
    assert a["x"].distinct_est == b["x"].distinct_est


def test_profile_table_empty_frame(spark):
    from xorf_spark.operators.profile import profile_table

    empty = spark.range(0).select(F.col("id").cast("double").alias("x"))
    rows = profile_table(empty).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_vals == 0 and r.n_nulls == 0 and r.distinct_est == 0.0
    assert r.p50 is None and r.vmin is None


def test_profile_table_nan_and_bigint_semantics(spark):
    """r4 review regressions: (a) NaN counts as a value but never
    poisons min/max or quantiles (and an all-NaN column yields None, not
    NaN); (b) int64 min/max beyond double's 2^53 integer range stay
    exact in the ivmin/ivmax fields."""
    import math

    from xorf_spark.operators.profile import profile_table

    nan = float("nan")
    df = spark.createDataFrame(
        [(1.0, nan), (nan, nan), (5.0, nan), (2.0, nan)],
        "x double, allnan double")
    prof = {r.column: r for r in profile_table(df).collect()}
    assert prof["x"].vmin == 1.0 and prof["x"].vmax == 5.0
    assert prof["x"].n_vals == 4          # NaN is a value for counts
    assert prof["x"].p50 is not None and not math.isnan(prof["x"].p50)
    assert prof["allnan"].p50 is None     # None convention, not NaN
    assert prof["allnan"].vmin is None
    assert prof["allnan"].n_vals == 4

    big = 1 << 53
    dfi = spark.createDataFrame([(big,), (big + 1,)], "k long")
    p = {r.column: r for r in profile_table(dfi).collect()}["k"]
    assert p.ivmin == big and p.ivmax == big + 1   # exact, not rounded
    assert p.n_vals == 2

    # an ALL-NULL partition emits a partial row with ivmin/ivmax = NULL;
    # a pandas-based merge would coerce the whole int64 column to
    # float64 and round the exact values (r4 review finding #2) — the
    # Arrow merge must keep them exact
    dfn = spark.createDataFrame(
        spark.sparkContext.parallelize([(big,), (big + 1,), (None,)], 3),
        "k long")
    assert dfn.rdd.getNumPartitions() == 3
    pn = {r.column: r for r in profile_table(dfn).collect()}["k"]
    assert pn.ivmin == big and pn.ivmax == big + 1
    assert pn.n_vals == 2 and pn.n_nulls == 1


def test_segment_dedup_strikes_planted_boilerplate(spark):
    """CCNet-style segment strike: a 5-word banner shared by three docs is
    removed from each; unique segments survive in original order; a
    boilerplate-only doc stays present with empty clean_text."""
    banner = "subscribe to our daily newsletter"
    docs = spark.createDataFrame([
        Row(doc_id=0, text=banner + " alpha beta gamma delta epsilon"),
        Row(doc_id=1, text="zeta eta theta iota kappa " + banner),
        Row(doc_id=2, text=banner),                      # boilerplate-only
        Row(doc_id=3, text="lam mu nu xi omicron pi rho sigma tau upsilon"),
    ])
    out = {r["doc_id"]: r for r in dedup.segment_dedup(
        docs, seg_words=5, min_count=2).collect()}
    assert len(out) == 4
    assert out[0]["clean_text"] == "alpha beta gamma delta epsilon"
    assert out[1]["clean_text"] == "zeta eta theta iota kappa"
    assert (out[2]["clean_text"], out[2]["n_kept"],
            out[2]["n_segments"]) == ("", 0, 1)
    # doc 3: two unique segments kept, re-joined in original order
    assert out[3]["clean_text"] == (
        "lam mu nu xi omicron pi rho sigma tau upsilon")
    assert out[3]["n_kept"] == 2 and out[3]["n_segments"] == 2


def test_segment_dedup_tail_truncation_and_within_doc_repeat(spark):
    """A short tail segment participates like any other; a segment repeated
    within ONE doc counts toward min_count (occurrence-, not doc-, level —
    matching the oracle SQL)."""
    seg = "a b c"
    docs = spark.createDataFrame([
        Row(doc_id=0, text=seg + " " + seg + " tail"),   # 'a b c' twice + tail
        Row(doc_id=1, text="unique words only here"),
    ])
    out = {r["doc_id"]: r for r in dedup.segment_dedup(
        docs, seg_words=3, min_count=2).collect()}
    # both 'a b c' occurrences struck, 1-word tail kept
    assert out[0]["clean_text"] == "tail"
    assert out[0]["n_segments"] == 3 and out[0]["n_kept"] == 1
    assert out[1]["clean_text"] == "unique words only here"


def test_segment_dedup_count_has_partial_aggregation(spark):
    """The corpus-wide segment count must be a partial-agg groupBy (skew-
    immune), never a window: the plan contains a partial HashAggregate
    before the exchange feeding the final count."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="w x y z q") for i in range(8)])
    plan = dedup.segment_dedup(docs)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "Window" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_minhash_signature_short_doc_is_all_null(spark):
    """A doc shorter than the shingle width has NO shingles: its signature
    stays all-NULL (the pre-fold semantics — the aggregate fold must not
    leak its MAX_LONG seed as a fake minimum)."""
    df = spark.createDataFrame([Row(doc_id="d0", tokens=[1, 2])])
    sig = dedup.minhash_signatures(df, num_perm=8, shingle=3) \
        .collect()[0]["minhash"]
    assert len(sig) == 8 and all(v is None for v in sig)


def _ref_segment_dedup(texts: dict, k: int, min_count: int) -> dict:
    """Pure-python reference for segment_dedup (same semantics, no Spark)."""
    segs = {}
    for did, text in texts.items():
        words = text.split(" ")
        segs[did] = [" ".join(words[i:i + k])
                     for i in range(0, len(words), k)]
    counts: dict = {}
    for lst in segs.values():
        for s in lst:
            counts[s] = counts.get(s, 0) + 1
    out = {}
    for did, lst in segs.items():
        kept = [s for s in lst if counts[s] < min_count]
        out[did] = (len(lst), len(kept), " ".join(kept))
    return out


@pytest.mark.parametrize("seed", [7, 21, 63])
def test_segment_dedup_matches_python_reference(spark, seed):
    """Randomized corpora (tiny vocab => heavy segment collisions) against a
    pure-python reference: n_segments, n_kept and the re-assembled text
    must agree exactly for every doc."""
    import random
    rng = random.Random(seed)
    vocab = ["a", "b", "c", "d"]
    texts = {f"d{i}": " ".join(rng.choice(vocab)
                               for _ in range(rng.randint(1, 23)))
             for i in range(40)}
    k, mc = rng.choice([(2, 2), (3, 2), (3, 3), (5, 2)])
    expect = _ref_segment_dedup(texts, k, mc)
    df = spark.createDataFrame(
        [Row(doc_id=did, text=t) for did, t in texts.items()])
    got = {r["doc_id"]: (r["n_segments"], r["n_kept"], r["clean_text"])
           for r in dedup.segment_dedup(
               df, seg_words=k, min_count=mc).collect()}
    assert got == expect


def test_segment_dedup_filter_strike_equals_join_strike(spark):
    """strike='filter' (BinaryFuse8 pre-pass + exact backstop via
    filter_anti_join) must produce bit-identical results to the plain
    left_anti strike — including the empty-hot-set corpus (no boilerplate
    anywhere) and a boilerplate-heavy one."""
    import random
    rng = random.Random(11)
    vocab = ["a", "b", "c", "d", "e"]
    heavy = {f"h{i}": " ".join(rng.choice(vocab) for _ in range(12))
             for i in range(30)}
    # all-unique corpus: every segment distinct => hot set is EMPTY
    unique = {f"u{i}": " ".join(f"w{i}_{j}" for j in range(7))
              for i in range(10)}
    for texts in (heavy, unique):
        df = spark.createDataFrame(
            [Row(doc_id=d, text=t) for d, t in texts.items()])
        a = {r["doc_id"]: (r["n_segments"], r["n_kept"], r["clean_text"])
             for r in dedup.segment_dedup(
                 df, seg_words=3, min_count=2, strike="join").collect()}
        b = {r["doc_id"]: (r["n_segments"], r["n_kept"], r["clean_text"])
             for r in dedup.segment_dedup(
                 df, seg_words=3, min_count=2, strike="filter").collect()}
        assert a == b


def test_substring_dedup_strikes_straddling_span(spark):
    """ExactSubstr strike: a 9-token passage shared by two docs is removed
    from both even though it straddles any fixed segment boundary (the case
    segment_dedup structurally misses); unique docs pass through; a doc
    shorter than the window is untouched; a fully-duplicated doc keeps its
    row with empty clean_text."""
    span = "one two three four five six seven eight nine"
    docs = spark.createDataFrame([
        Row(doc_id=0, text="prefix0 pA pB " + span + " sufX sufY"),
        Row(doc_id=1, text="lead1 " + span + " tail1 tail2 tail3"),
        Row(doc_id=2, text=span),                       # fully duplicated
        Row(doc_id=3, text="totally unique words that appear once only "
                           "in this corpus here now"),
        Row(doc_id=4, text="short doc"),                # < window tokens
    ])
    out = {r["doc_id"]: r for r in dedup.substring_dedup(
        docs, window=8, min_count=2).collect()}
    assert len(out) == 5
    assert out[0]["clean_text"] == "prefix0 pA pB sufX sufY"
    assert out[1]["clean_text"] == "lead1 tail1 tail2 tail3"
    assert (out[2]["clean_text"], out[2]["n_kept"],
            out[2]["n_tokens"]) == ("", 0, 9)
    assert out[3]["n_kept"] == out[3]["n_tokens"]
    assert (out[4]["clean_text"], out[4]["n_tokens"]) == ("short doc", 2)


def test_substring_dedup_plan_is_partial_agg(spark):
    """The corpus-wide window count must be a partial-agg groupBy (skew-
    immune) — no Window operator anywhere in the physical plan."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="w x y z q r s t u v") for i in range(8)])
    plan = dedup.substring_dedup(docs, window=4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "partial_count" in plan or "partial" in plan.lower()


def _ref_substring_dedup(texts: dict, k: int, min_count: int) -> dict:
    """Pure-python reference for substring_dedup (same semantics, no
    Spark): stride-1 window counts, per-doc union of hot-window coverage."""
    wins = {}
    for did, text in texts.items():
        toks = text.split(" ")
        wins[did] = ([" ".join(toks[i:i + k])
                      for i in range(len(toks) - k + 1)]
                     if len(toks) >= k else [])
    counts: dict = {}
    for lst in wins.values():
        for w in lst:
            counts[w] = counts.get(w, 0) + 1
    out = {}
    for did, text in texts.items():
        toks = text.split(" ")
        cov: set = set()
        for i, w in enumerate(wins[did]):
            if counts[w] >= min_count:
                cov.update(range(i, i + k))
        kept = [t for j, t in enumerate(toks) if j not in cov]
        out[did] = (len(toks), len(kept), " ".join(kept))
    return out


@pytest.mark.parametrize("seed", [5, 19, 77])
def test_substring_dedup_matches_python_reference(spark, seed):
    """Randomized corpora (tiny vocab => heavy window collisions, including
    within-doc repeats and overlapping hot windows) against a pure-python
    reference: n_tokens, n_kept and the re-assembled text must agree
    exactly for every doc."""
    import random
    rng = random.Random(seed)
    vocab = ["a", "b", "c"]
    texts = {f"d{i}": " ".join(rng.choice(vocab)
                               for _ in range(rng.randint(1, 25)))
             for i in range(40)}
    k, mc = rng.choice([(3, 2), (4, 2), (4, 3), (6, 2)])
    expect = _ref_substring_dedup(texts, k, mc)
    df = spark.createDataFrame(
        [Row(doc_id=did, text=t) for did, t in texts.items()])
    got = {r["doc_id"]: (r["n_tokens"], r["n_kept"], r["clean_text"])
           for r in dedup.substring_dedup(
               df, window=k, min_count=mc).collect()}
    assert got == expect


def test_training_shards_roundtrip_and_determinism(spark, tmp_path):
    """Write → verify ok; rewriting the same data (different input
    partitioning) reproduces identical shard membership and checksums."""
    from xorf_spark.operators import sink
    df = spark.range(2000).select(
        F.col("id"), F.format_string("doc-%d", "id").alias("text"))
    m1 = sink.write_training_shards(df, str(tmp_path / "d1"),
                                    rows_per_shard=300)
    assert m1["n_shards"] == 7 and sum(
        s["rows"] for s in m1["shards"].values()) == 2000
    v = sink.verify_training_shards(spark, str(tmp_path / "d1"))
    assert v["ok"] and not v["mismatched_shards"]
    m2 = sink.write_training_shards(df.repartition(13),
                                    str(tmp_path / "d2"), rows_per_shard=300)
    assert m1["shards"] == m2["shards"]


def test_training_shards_detect_tamper(spark, tmp_path):
    """Deleting one shard's files flips verification for that shard only."""
    import glob
    import os
    from xorf_spark.operators import sink
    df = spark.range(500).select(F.col("id"),
                                 (F.col("id") * 2).alias("v"))
    sink.write_training_shards(df, str(tmp_path / "d"), rows_per_shard=100)
    victim = glob.glob(str(tmp_path / "d" / "__xorf_shard=2" / "*.parquet"))
    assert victim
    for f in victim:
        os.remove(f)
    v = sink.verify_training_shards(spark, str(tmp_path / "d"))
    assert not v["ok"] and v["mismatched_shards"] == ["2"]


def test_training_shards_null_mask_disambiguates(spark, tmp_path):
    """Rows differing only in WHICH column is NULL must not share a row
    hash (xxhash64 skips NULL args): swapping the nulls between two rows
    changes the delivered bytes and must flip verification."""
    from xorf_spark.operators import sink
    a = spark.createDataFrame([(1, None), (None, 1)], "x int, y int")
    b = spark.createDataFrame([(None, 1), (1, None)], "x int, y int")
    ma = sink.write_training_shards(a, str(tmp_path / "a"), rows_per_shard=10)
    # same multiset under null-skipping, different under the mask: the
    # per-row hashes (and so the shard sum64s) must differ
    mb = sink.write_training_shards(b, str(tmp_path / "b"), rows_per_shard=10)
    assert ma["shards"] == mb["shards"]  # same DATA multiset => same manifest
    one = spark.createDataFrame([(1, None), (1, None)], "x int, y int")
    mc = sink.write_training_shards(one, str(tmp_path / "c"),
                                    rows_per_shard=10)
    assert mc["shards"] != ma["shards"]


def test_training_shards_empty_delivery(spark, tmp_path):
    from xorf_spark.operators import sink
    df = spark.range(5).where(F.col("id") < 0)
    m = sink.write_training_shards(df, str(tmp_path / "e"))
    assert m["n_rows"] == 0 and m["shards"] == {}
    assert sink.verify_training_shards(spark, str(tmp_path / "e"))["ok"]


def test_end_to_end_delivery_pipeline(spark, tmp_path):
    """The full delivery story: synthesize docs → segment-strike boilerplate
    → exact dedup → pack offsets → write verified training shards. Every
    doc surviving curation appears in exactly one shard; verification
    passes; manifest row count equals the curated count."""
    from xorf_spark.operators import sink
    from xorf_spark.operators.packing import pack_sequences
    docs = spark.createDataFrame(
        [Row(doc_id=f"d{i}",
             text=("shared banner line one two " if i % 4 == 0 else "")
             + f"u{i} v{i} w{i} x{i} y{i} z{i}")
         for i in range(40)])
    clean = dedup.segment_dedup(docs, seg_words=5, min_count=2) \
        .where(F.col("n_kept") > 0) \
        .select("doc_id", F.col("clean_text").alias("text"))
    deduped = dedup.exact_dedup(clean, "text", id_col="doc_id")
    staged = (deduped
              .withColumn("n_tok", F.size(F.split("text", " "))))
    packed = pack_sequences(staged, seq_len=8)
    m = sink.write_training_shards(packed, str(tmp_path / "out"),
                                   rows_per_shard=16, key_col="doc_id")
    assert m["n_rows"] == deduped.count()
    v = sink.verify_training_shards(spark, str(tmp_path / "out"))
    assert v["ok"]
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.select("doc_id").distinct().count() == m["n_rows"]


def test_diff_training_shards_localizes_changes(spark, tmp_path):
    """An edit touching two keys flags only the affected shards; the
    row-level diff recovers exactly the changed rows from those shards."""
    from xorf_spark.operators import sink
    base = spark.range(1000).select(
        F.format_string("k%d", "id").alias("key"),
        (F.col("id") * 3).alias("v"))
    edited = base.withColumn(
        "v", F.when(F.col("key").isin("k7", "k500"), F.lit(-1))
        .otherwise(F.col("v")))
    sink.write_training_shards(base, str(tmp_path / "old"),
                               rows_per_shard=100, key_col="key")
    sink.write_training_shards(edited, str(tmp_path / "new"),
                               rows_per_shard=100, key_col="key")
    d = sink.diff_training_shards(spark, str(tmp_path / "old"),
                                  str(tmp_path / "new"))
    assert not d["added_shards"] and not d["removed_shards"]
    # key_col assignment: the two edited keys live in <= 2 shards, and
    # only those read as changed
    assert 1 <= len(d["changed_shards"]) <= 2
    added = {(r["key"], r["v"]) for r in d["added_rows"].collect()}
    removed = {(r["key"], r["v"]) for r in d["removed_rows"].collect()}
    assert added == {("k7", -1), ("k500", -1)}
    assert removed == {("k7", 21), ("k500", 1500)}


def test_diff_training_shards_multiplicity_changes(spark, tmp_path):
    """The row diff is a MULTISET diff (r4 review finding #3): old holds
    row X twice, new holds it once — one removed X must be reported
    (a set anti-join would report the shard changed with zero rows);
    symmetrically a row going 1 → 3 copies reports two added copies."""
    from xorf_spark.operators import sink
    old = spark.createDataFrame(
        [("x", 1), ("x", 1), ("y", 2), ("z", 3)], "key string, v int")
    new = spark.createDataFrame(
        [("x", 1), ("y", 2), ("y", 2), ("y", 2), ("z", 3)],
        "key string, v int")
    sink.write_training_shards(old, str(tmp_path / "old"),
                               rows_per_shard=100, key_col="key")
    sink.write_training_shards(new, str(tmp_path / "new"),
                               rows_per_shard=100, key_col="key")
    d = sink.diff_training_shards(spark, str(tmp_path / "old"),
                                  str(tmp_path / "new"))
    added = sorted((r["key"], r["v"]) for r in d["added_rows"].collect())
    removed = sorted((r["key"], r["v"]) for r in d["removed_rows"].collect())
    assert added == [("y", 2), ("y", 2)]
    assert removed == [("x", 1)]


def test_diff_training_shards_param_mismatch_raises(spark, tmp_path):
    from xorf_spark.operators import sink
    df = spark.range(10).select(F.col("id"), F.lit("x").alias("t"))
    sink.write_training_shards(df, str(tmp_path / "a"), rows_per_shard=5,
                               seed=17)
    sink.write_training_shards(df, str(tmp_path / "b"), rows_per_shard=5,
                               seed=18)
    with pytest.raises(ValueError, match="seed"):
        sink.diff_training_shards(spark, str(tmp_path / "a"),
                                  str(tmp_path / "b"))


def test_diff_training_shards_empty_old_delivery(spark, tmp_path):
    """Diffing against an empty first delivery reports every new shard as
    added and streams all rows as added_rows."""
    from xorf_spark.operators import sink
    empty = spark.range(1).where(F.col("id") < 0) \
        .select(F.col("id"), F.lit("x").alias("t"))
    full = spark.range(20).select(F.col("id"), F.lit("x").alias("t"))
    sink.write_training_shards(empty, str(tmp_path / "old"), rows_per_shard=8)
    sink.write_training_shards(full, str(tmp_path / "new"), rows_per_shard=8)
    d = sink.diff_training_shards(spark, str(tmp_path / "old"),
                                  str(tmp_path / "new"))
    assert d["removed_shards"] == [] and d["changed_shards"] == []
    assert len(d["added_shards"]) == 3
    assert d["added_rows"].count() == 20 and d["removed_rows"].count() == 0


def test_stream_training_shards_delivery_and_replay(spark, tmp_path):
    """File-fed stream delivered as sharded per-batch dirs: counts and
    checksums verify; a replay of a committed batch id is a manifest
    no-op; a crashed replay (batch dir rewritten, manifest already
    committed) stays consistent because the dir is overwritten, never
    appended."""
    import json as _json
    from xorf_spark.streaming.delivery import (
        make_batch_processor, read_stream_manifest, stream_training_shards,
        verify_streamed_delivery)
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    b1 = spark.range(300).select(
        F.format_string("k%d", "id").alias("key"),
        (F.col("id") * 7).alias("v"))
    b2 = spark.range(300, 500).select(
        F.format_string("k%d", "id").alias("key"),
        (F.col("id") * 7).alias("v"))
    b1.repartition(1).write.mode("overwrite").parquet(src + "/b1")
    b2.repartition(1).write.mode("overwrite").parquet(src + "/b2")
    stream = spark.readStream.schema("key string, v long").option(
        "maxFilesPerTrigger", "1").parquet(src + "/*")
    q = (stream_training_shards(stream, out, n_shards=4, key_col="key")
         .option("checkpointLocation", ck).start())
    q.processAllAvailable()
    q.stop()
    m = read_stream_manifest(out)
    assert m["n_rows"] == 500 and len(m["batches"]) == 2
    assert sum(s["rows"] for s in m["shards"].values()) == 500
    assert verify_streamed_delivery(spark, out)["ok"]

    # drive the callback directly with an already-committed batch (same
    # id AND same content — the fingerprint guard requires replaying the
    # batch that actually carried these rows): manifest must be
    # byte-identical afterwards (exactly-once)
    process = make_batch_processor(out, 4, ["key", "v"], key_col="key")
    before = _json.dumps(m, sort_keys=True)
    b1_entry = next(b for b in m["batches"] if b["rows"] == 300)
    process(spark.read.parquet(src + "/b1"), b1_entry["batch_id"])
    assert _json.dumps(read_stream_manifest(out), sort_keys=True) == before

    # crashed replay: the batch dir was rewritten but the manifest commit
    # never happened (already present) — verification still passes
    sb = spark.read.parquet(src + "/b1")
    (sb.withColumn("__xorf_shard",
                   F.pmod(F.xxhash64("key", F.lit(17)), F.lit(4)))
     .repartition(4, "__xorf_shard").write.mode("overwrite")
     .partitionBy("__xorf_shard")
     .parquet(out + f"/batches/{b1_entry['dir']}"))
    assert verify_streamed_delivery(spark, out)["ok"]


def test_stream_delivery_checkpoint_lineage_reset(spark, tmp_path):
    """A fresh checkpoint restarts batch ids at 0 with NEW data. Keying
    the replay guard on the bare id would silently drop it (filter_refresh
    stale-identity bug class, r3 advice #1); the fingerprinted guard must
    bump the generation and APPEND the new lineage instead."""
    import json as _json
    from xorf_spark.streaming.delivery import (
        make_batch_processor, read_stream_manifest, verify_streamed_delivery)
    out = str(tmp_path / "out")
    a = spark.range(100).select(
        F.format_string("a%d", "id").alias("key"), F.col("id").alias("v"))
    b = spark.range(100).select(
        F.format_string("b%d", "id").alias("key"), F.col("id").alias("v"))
    process = make_batch_processor(out, 4, ["key", "v"], key_col="key")
    process(a, 0)                       # lineage 1 commits batch 0
    m1 = read_stream_manifest(out)
    assert m1["n_rows"] == 100 and m1["generation"] == 0

    process(b, 0)                       # fresh checkpoint: id 0, NEW rows
    m2 = read_stream_manifest(out)
    assert m2["n_rows"] == 200 and m2["generation"] == 1
    assert {e["dir"] for e in m2["batches"]} == {"b0", "b0g1"}
    assert verify_streamed_delivery(spark, out)["ok"]

    # replay of the new lineage's batch 0 is a no-op (same fingerprint)
    before = _json.dumps(m2, sort_keys=True)
    process(b, 0)
    assert _json.dumps(read_stream_manifest(out), sort_keys=True) == before

    # the new lineage continues past the collision without fingerprinting
    c = spark.range(50).select(
        F.format_string("c%d", "id").alias("key"), F.col("id").alias("v"))
    process(c, 1)
    m3 = read_stream_manifest(out)
    assert m3["n_rows"] == 250 and m3["generation"] == 1
    assert verify_streamed_delivery(spark, out)["ok"]

    # crash-before-manifest-commit during a lineage bump heals on replay:
    # rewind the manifest to m1 (data dirs for the bump remain on disk)
    fsys_path = tmp_path / "out" / "_MANIFEST.json"
    fsys_path.write_text(_json.dumps(m1, indent=1, sort_keys=True))
    process(b, 0)                       # recomputes the same b0g1 dir
    m4 = read_stream_manifest(out)
    assert m4["n_rows"] == 200 and m4["generation"] == 1
    assert verify_streamed_delivery(spark, out)["ok"]


def test_stream_delivery_duplicate_pair_lineage_not_cancelled(spark,
                                                              tmp_path):
    """r4 review finding: a bit-XOR fingerprint folds every
    even-multiplicity row to 0, so two entirely different duplicate-pair
    batches share fingerprint (2N, 0) — a lineage reset delivering new
    duplicate pairs under a replayed batch id would be misread as a
    committed replay and silently dropped. The sum64 fingerprint must
    distinguish them and append the new lineage."""
    from xorf_spark.streaming.delivery import (
        make_batch_processor, read_stream_manifest, verify_streamed_delivery)
    out = str(tmp_path / "out")
    # every row appears exactly twice in each batch; contents differ
    a1 = spark.range(50).select(
        F.format_string("x%d", "id").alias("key"), F.lit(1).alias("v"))
    a = a1.unionAll(a1)
    b1 = spark.range(50).select(
        F.format_string("y%d", "id").alias("key"), F.lit(1).alias("v"))
    b = b1.unionAll(b1)
    process = make_batch_processor(out, 4, ["key", "v"], key_col="key")
    process(a, 0)
    process(b, 0)                       # lineage reset, new duplicate pairs
    m = read_stream_manifest(out)
    assert m["n_rows"] == 200 and m["generation"] == 1
    assert verify_streamed_delivery(spark, out)["ok"]


def test_stream_delivery_empty_batch_commit_and_verify(spark, tmp_path):
    """An upstream-filtered trigger commits an EMPTY batch (rows=0, dir
    holds only _SUCCESS). The verifier must skip it — not crash on
    schema inference (r4 review finding) — and still certify the
    delivery; an all-empty delivery verifies too."""
    from xorf_spark.streaming.delivery import (
        make_batch_processor, read_stream_manifest, verify_streamed_delivery)
    out = str(tmp_path / "out")
    empty = spark.range(0).select(
        F.format_string("e%d", "id").alias("key"), F.col("id").alias("v"))
    rows = spark.range(40).select(
        F.format_string("r%d", "id").alias("key"), F.col("id").alias("v"))
    process = make_batch_processor(out, 4, ["key", "v"], key_col="key")
    process(empty, 0)
    m = read_stream_manifest(out)
    assert m["n_rows"] == 0 and m["batches"][0]["rows"] == 0
    assert verify_streamed_delivery(spark, out)["ok"]   # all-empty delivery
    process(rows, 1)
    process(empty, 2)
    m = read_stream_manifest(out)
    assert m["n_rows"] == 40 and len(m["batches"]) == 3
    assert verify_streamed_delivery(spark, out)["ok"]


def test_operators_reject_reserved_temp_columns(spark):
    """r4 review finding: operators project '__'-prefixed scratch columns
    onto the caller frame and drop them on the way out — a caller column
    with the same name was silently overwritten AND removed. The reserved
    namespace now fails loudly."""
    import pytest
    from xorf_spark.operators.dedup import minhash_signatures
    from xorf_spark.operators.text import (doc_fingerprint, gopher_rules,
                                           stratified_take)

    base = spark.createDataFrame(
        [("d1", "some text here", ["some", "text", "here"])],
        "doc_id string, text string, tokens array<string>")
    for df, call in [
        (base.withColumn("__sh", F.lit(1)),
         lambda d: minhash_signatures(d, num_perm=4)),
        (base.withColumn("__w", F.lit(1)), gopher_rules),
        (base.withColumn("__fw", F.lit(1)), doc_fingerprint),
        (base.withColumn("__rk", F.lit(1)),
         lambda d: stratified_take(d, ["text"], 1)),
    ]:
        with pytest.raises(ValueError, match="reserved temp column"):
            call(df)


def test_read_documents_jsonl_good_and_corrupt(spark, tmp_path):
    """Explicit-schema JSONL ingest: parsed rows carry the document schema,
    unparseable lines land in the corrupt quarantine frame, and a
    missing field is data (null), not corruption. Also exercises .gz
    (codec from extension)."""
    import gzip
    from xorf_spark.sources.jsonl import read_documents_jsonl
    lines = [
        '{"doc_id": "a", "text": "hello world", "lang": "en", '
        '"source": "web", "n_chars": 11}',
        '{"doc_id": "b", "text": "zweite zeile", "lang": "de", '
        '"source": "books"}',          # n_chars missing -> null, NOT corrupt
        '{"doc_id": "c", "text": "broken',   # unparseable
        'null',                        # bare JSON null: data-free -> corrupt
    ]
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(lines) + "\n")
    pg = tmp_path / "docs2.jsonl.gz"
    with gzip.open(pg, "wt") as fh:
        fh.write("\n".join(lines) + "\n")
    for src in (str(p), str(pg)):
        good, corrupt = read_documents_jsonl(spark, src)
        rows = {r["doc_id"]: r for r in good.collect()}
        assert set(rows) == {"a", "b"}
        assert rows["a"]["n_chars"] == 11 and rows["b"]["n_chars"] is None
        bad = sorted(r["raw_line"] for r in corrupt.collect())
        assert len(bad) == 2
        assert "broken" in bad[1] and bad[1].startswith("{")
        assert bad[0] == "null"

def test_embedding_neardup_ivf_finds_planted_pairs(spark, emb_df):
    """SemDeDup-style IVF near-dup: planted epsilon-perturbed twins are
    recovered (tight pairs land in the same spherical-k-means list);
    all reported cosines are exact and above threshold; at nprobe =
    n_lists every vector shares a list with every other, so the result
    equals the brute-force pair set."""
    rows = emb_df.limit(25).collect()
    rng = np.random.default_rng(5)
    twins = []
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        v = v + rng.standard_normal(v.size) * 0.01 * np.linalg.norm(v) \
            / np.sqrt(v.size)
        twins.append(Row(vec_id=int(r["vec_id"]) + 50_000,
                         embedding=[float(x) for x in v], label=r["label"]))
    corpus = emb_df.unionByName(spark.createDataFrame(twins, emb_df.schema))
    cent = similarity.ivf_train(corpus, n_lists=8)
    got = similarity.embedding_neardup_ivf(corpus, cent, threshold=0.95)
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    planted = {(int(r["vec_id"]), int(r["vec_id"]) + 50_000) for r in rows}
    assert planted <= pairs          # every twin recovered at nprobe=1
    # exhaustive regime: nprobe == n_lists reproduces brute force
    ex = similarity.embedding_neardup_ivf(corpus, cent, threshold=0.95,
                                          nprobe=cent.shape[0])
    ids = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in corpus.collect()}
    brute = set()
    ks = sorted(ids)
    for i, aid in enumerate(ks):
        for bid in ks[i + 1:]:
            va, vb = ids[aid], ids[bid]
            cos = va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))
            if cos >= 0.95:
                brute.add((aid, bid))
    assert {(r["id_a"], r["id_b"]) for r in ex.collect()} == brute


def test_embedding_neardup_ivf_oversize_list_refuses(spark, emb_df):
    cent = similarity.ivf_train(emb_df, n_lists=2)
    with pytest.raises(ValueError, match="max_list"):
        similarity.embedding_neardup_ivf(emb_df, cent, max_list=3)


def test_embedding_neardup_ivf_pin_optout(spark, emb_df):
    """r4 advice #4: embedding_neardup_ivf exposes the same pin=False
    opt-out as its sibling operators (caller already persisted, or cannot
    accept non-replicated localCheckpoint storage); results are identical
    either way."""
    corpus = emb_df.limit(60)
    cent = similarity.ivf_train(corpus, n_lists=4)
    pinned = similarity.embedding_neardup_ivf(corpus, cent, threshold=0.9)
    free = similarity.embedding_neardup_ivf(corpus, cent, threshold=0.9,
                                            pin=False)
    key = lambda r: (r["id_a"], r["id_b"], round(r["cosine"], 12))
    assert sorted(map(key, pinned.collect())) == \
        sorted(map(key, free.collect()))


# --- crash-safe replace-rename + manifest format guards (r4 advice) -------

class _RenameRefusingFS:
    """LocalFileSystem wrapper that refuses move() onto an existing
    destination, like HDFS rename — forcing _move_replace's fallback.
    ``die_after_aside=True`` simulates a crash between the rename-aside
    and the final move (the window the r4 delete-then-move bug lost)."""

    def __init__(self, die_after_aside=False):
        from pyarrow import fs as pafs
        self._fs = pafs.LocalFileSystem()
        self._die_after_aside = die_after_aside
        self._moves = 0

    def move(self, src, dst):
        from pyarrow import fs as pafs
        if self._fs.get_file_info(dst).type != pafs.FileType.NotFound:
            raise OSError(f"rename refused: destination exists: {dst}")
        self._moves += 1
        # only non-refused moves count: inside the fallback, move #1 is
        # the rename-aside (dst -> dst.old) and move #2 is src -> dst —
        # dying before #2 lands exactly in the crash window under test
        if self._die_after_aside and self._moves == 2:
            raise RuntimeError("simulated crash after rename-aside")
        return self._fs.move(src, dst)

    def __getattr__(self, name):  # delegate everything else
        return getattr(self._fs, name)


def test_move_replace_rename_aside(tmp_path):
    """On rename-refusing filesystems the fallback must never leave a
    window with NO committed value: it renames the old destination aside
    and readers fall back to it (r4 advice #1 — delete-then-move lost the
    manifest permanently on a crash between the two calls)."""
    from xorf_spark.operators.sink import _move_replace, _read_with_fallback

    # happy path: dst replaced, aside cleaned up
    fs = _RenameRefusingFS()
    dst = str(tmp_path / "POINTER")
    (tmp_path / "POINTER").write_text("old")
    (tmp_path / "new1").write_text("new1")
    _move_replace(fs, str(tmp_path / "new1"), dst)
    assert (tmp_path / "POINTER").read_text() == "new1"
    assert not (tmp_path / "POINTER.old").exists()
    assert _read_with_fallback(fs, dst) == b"new1"

    # crash between rename-aside and the final move: dst missing, but the
    # aside copy still holds the previous committed value and the reader
    # recovers it — nothing was lost
    fs2 = _RenameRefusingFS(die_after_aside=True)
    (tmp_path / "new2").write_text("new2")
    with pytest.raises(RuntimeError, match="simulated crash"):
        _move_replace(fs2, str(tmp_path / "new2"), dst)
    assert not (tmp_path / "POINTER").exists()
    assert (tmp_path / "POINTER.old").read_text() == "new1"
    assert _read_with_fallback(fs2, dst) == b"new1"

    # the healing retry (replayed batch rewrites src and swaps again)
    # succeeds from that state: dst is absent so the plain move lands,
    # and the stale aside is ignored while dst exists
    (tmp_path / "new3").write_text("new3")
    fs3 = _RenameRefusingFS()
    _move_replace(fs3, str(tmp_path / "new3"), dst)
    assert _read_with_fallback(fs3, dst) == b"new3"


def test_stream_manifest_fallback_recovers_committed_batches(spark, tmp_path):
    """A crashed manifest swap that left only _MANIFEST.json.old must NOT
    be read as 'no manifest' (which would start a FRESH manifest and
    orphan every committed batch, then verify the truncation as ok)."""
    import json as _json
    from xorf_spark.streaming.delivery import (
        make_batch_processor, read_stream_manifest, verify_streamed_delivery)
    out = str(tmp_path / "out")
    a = spark.range(100).select(
        F.format_string("a%d", "id").alias("key"), F.col("id").alias("v"))
    process = make_batch_processor(out, 4, ["key", "v"], key_col="key")
    process(a, 0)
    m = read_stream_manifest(out)
    # simulate the crash window: manifest renamed aside, dst missing
    (tmp_path / "out" / "_MANIFEST.json").rename(
        tmp_path / "out" / "_MANIFEST.json.old")
    got = read_stream_manifest(out)
    assert got == m                      # recovered, not None
    assert verify_streamed_delivery(spark, out)["ok"]
    # the replay extends the RECOVERED manifest (no orphaned batches)
    b = spark.range(50).select(
        F.format_string("b%d", "id").alias("key"), F.col("id").alias("v"))
    process(b, 1)
    m2 = read_stream_manifest(out)
    assert m2["n_rows"] == 150 and len(m2["batches"]) == 2
    assert verify_streamed_delivery(spark, out)["ok"]


def test_stream_manifest_legacy_and_future_formats_refused(spark, tmp_path):
    """r4 advice #3: a pre-v2 manifest (bare-int batches / xor64 shard
    checksums) or an unknown future format must fail LOUDLY with guidance,
    not crash with TypeError deep inside replay accounting."""
    import json as _json
    from xorf_spark.streaming.delivery import (
        make_batch_processor, read_stream_manifest)
    out = tmp_path / "legacy"
    out.mkdir()
    legacy = {"n_rows": 5, "n_shards": 2, "seed": 17, "key_col": "key",
              "columns": ["key"], "batches": [0, 1],
              "shards": {"0": {"rows": 5, "xor64": 123}}}
    (out / "_MANIFEST.json").write_text(_json.dumps(legacy))
    with pytest.raises(ValueError, match="legacy pre-v2 layout"):
        read_stream_manifest(str(out))
    # the foreachBatch callback refuses before touching any data
    df = spark.range(3).select(F.col("id").cast("string").alias("key"))
    process = make_batch_processor(str(out), 2, ["key"], key_col="key")
    with pytest.raises(ValueError, match="legacy pre-v2 layout"):
        process(df, 0)

    future = {"format": 99, "n_rows": 0, "n_shards": 2, "seed": 17,
              "key_col": "key", "columns": ["key"], "generation": 0,
              "batches": [], "shards": {}}
    (out / "_MANIFEST.json").write_text(_json.dumps(future))
    with pytest.raises(ValueError, match="has format 99"):
        read_stream_manifest(str(out))

    # an EMPTY pre-v2 manifest has no batches/xor64 entries for the shape
    # detection to fire on — the missing "format" key alone must mark it
    # legacy (r5 advice #4), not let it be adopted and extended as v2
    empty_legacy = {"n_rows": 0, "n_shards": 2, "seed": 17,
                    "key_col": "key", "columns": ["key"],
                    "batches": [], "shards": {}}
    (out / "_MANIFEST.json").write_text(_json.dumps(empty_legacy))
    with pytest.raises(ValueError, match="legacy pre-v2 layout"):
        read_stream_manifest(str(out))


def test_stream_delivery_key_def_wiring_guard(spark, tmp_path):
    """r4 verdict item 8: a restarted delivery whose upstream key
    derivation changed must refuse, not silently append rows of a
    different universe; format-2 manifests written without a key_def
    stay extendable by key_def=None wiring only."""
    from xorf_spark.streaming.delivery import (
        make_batch_processor, read_stream_manifest)
    out = str(tmp_path / "out")
    df = spark.range(50).select(
        F.format_string("k%d", "id").alias("key"), F.col("id").alias("v"))
    process = make_batch_processor(out, 4, ["key", "v"], key_col="key",
                                   key_def="shingle/v2/k=8")
    process(df, 0)
    assert read_stream_manifest(out)["key_def"] == "shingle/v2/k=8"
    # changed derivation: loud refusal before any data lands
    p2 = make_batch_processor(out, 4, ["key", "v"], key_col="key",
                              key_def="shingle/v2/k=5")
    with pytest.raises(ValueError, match="key_def"):
        p2(df, 1)
    # dropping the tag is also a mismatch (None != stamped value)
    p3 = make_batch_processor(out, 4, ["key", "v"], key_col="key")
    with pytest.raises(ValueError, match="key_def"):
        p3(df, 1)
    # pre-key_def manifest (no field at all): None wiring still extends it
    import json as _json
    m = read_stream_manifest(out)
    del m["key_def"]
    (tmp_path / "out" / "_MANIFEST.json").write_text(_json.dumps(m))
    p4 = make_batch_processor(out, 4, ["key", "v"], key_col="key")
    b2 = spark.range(50, 80).select(
        F.format_string("k%d", "id").alias("key"), F.col("id").alias("v"))
    p4(b2, 1)
    assert read_stream_manifest(out)["n_rows"] == 80


def test_read_with_fallback_propagates_real_io_errors(tmp_path):
    """Only not-found means "missing": a genuine I/O failure (auth,
    throttling) must PROPAGATE — swallowing it would make the callers
    reinitialize over committed state (fresh manifest over a delivered
    one; pointer-less refresh pruning live version dirs)."""
    from pyarrow import fs as pafs

    from xorf_spark.operators.sink import _read_with_fallback

    target = tmp_path / "POINTER"
    target.write_text("committed")

    class _ThrottlingFS:
        def __init__(self):
            self._fs = pafs.LocalFileSystem()

        def open_input_stream(self, path):
            raise OSError("AWS Error SLOW_DOWN (503) during GetObject")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    with pytest.raises(OSError, match="SLOW_DOWN"):
        _read_with_fallback(_ThrottlingFS(), str(target))

    class _VanishingFS:
        """Both candidates stat as present but every open races away:
        stat proved a committed value existed moments ago, so reporting
        'missing' (→ reinitialize over committed state) must not happen
        — the exhausted retry raises instead."""

        def __init__(self):
            self._fs = pafs.LocalFileSystem()

        def get_file_info(self, path):
            return self._fs.get_file_info(str(target))  # always "exists"

        def open_input_stream(self, path):
            raise FileNotFoundError(path)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    with pytest.raises(OSError, match="refusing to report it missing"):
        _read_with_fallback(_VanishingFS(), str(target))

    class _AbsentFS:
        """Nothing exists: 'missing' is the honest answer, and the
        reader must not burn a second stat pass discovering it."""

        def __init__(self):
            self._fs = pafs.LocalFileSystem()
            self.stats = 0

        def get_file_info(self, path):
            self.stats += 1
            return self._fs.get_file_info(str(target) + ".nope")

        def __getattr__(self, name):
            return getattr(self._fs, name)

    absent = _AbsentFS()
    assert _read_with_fallback(absent, str(target)) is None
    assert absent.stats == 2  # one pass over (path, path.old), no retry


def test_codecs_corruption_fuzz_contract():
    """Decode error contract under corruption for the stdlib codecs
    (same protocol as test_jpeg_corruption_fuzz): truncations, byte
    flips and slice deletions either decode or refuse with ValueError/
    NotImplementedError — never escape zlib.error / struct.error /
    wave.Error / EOFError / bare RuntimeError (stdlib wave's corrupt-
    chunk seek) / IndexError, the classes a 9000-trial fuzz surfaced
    before the _decode_boundary wrap."""
    import numpy as np

    from xorf_spark.operators import codecs as C

    rng = np.random.default_rng(9)
    gray = rng.integers(0, 256, (24, 32), dtype=np.uint8)
    rgb = rng.integers(0, 256, (16, 20, 3), dtype=np.uint8)
    samples = rng.integers(-30000, 30000, 1024).astype(np.int16)
    bmp_ppm = [
        # minimal valid BMP/PPM built by the synthetic media table path
        b"P6 4 3 255\n" + bytes(range(36)),
    ]
    payloads = [bytearray(C.encode_png(gray)),
                bytearray(C.encode_png(rgb, filter_type=4)),
                bytearray(C.encode_wav(samples, 16000)),
                bytearray(bmp_ppm[0])]
    for trial in range(800):
        p = bytearray(payloads[trial % len(payloads)])
        op = trial % 3
        if op == 0:
            p = p[:int(rng.integers(2, len(p)))]
        elif op == 1:
            p[int(rng.integers(0, len(p)))] = int(rng.integers(0, 256))
        else:
            i = int(rng.integers(0, len(p) - 1))
            del p[i:i + int(rng.integers(1, 16))]
        try:
            if p[:4] == b"RIFF":
                C.decode_wav(bytes(p))
            else:
                C.decode_image(bytes(p))
        except (ValueError, NotImplementedError):
            pass
