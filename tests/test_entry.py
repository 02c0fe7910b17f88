"""Driver-contract smoke tests: entry(), queries()/oracle_sql() integrity."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E


def test_entry_runs(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"l_returnflag", "n_rows", "sum_qty"}


def test_registry_integrity(spark):
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 28
    assert set(oracles) <= set(qs)
    # every callable takes (spark, sf_dir)
    import inspect
    for name, fn in qs.items():
        assert len(inspect.signature(fn).parameters) == 2, name


def test_gate_window_covers_every_family():
    """The driver runs the registry in order and historically caps at ~50
    queries (CORRECTNESS_r02 recorded 50/64, dropping the sketch family
    from the official record). Guard: every operator family has a
    representative row inside the first 50 names."""
    names = list(E.queries())
    window = set(names[:50])
    representatives = {
        # filter family
        "xor_zero_fn", "bfuse_zero_fn", "fuse_zero_fn", "doc_keys_zero_fn",
        "bfuse8_semijoin", "build_metrics", "fpp_measure", "zero_density",
        # sketch family (the north-rule core)
        "hll_distinct", "hll_group_distinct", "cms_counts", "bloom_zero_fn",
        "tdigest_quantiles", "kll_quantiles", "mg_heavy_hitters",
        "hll_set_ops", "sketch_merge_assoc",
        # pipeline / similarity / events / multimodal
        "dedup_exact", "minhash_signatures", "decontaminate",
        "pack_sequences", "curation_pipeline", "ann_cosine_topk",
        "ann_ivf_recall", "sessionize", "asof_join", "media_decode_image",
        # storage-layout family
        "bucketed_join",
    }
    missing = representatives - window
    assert not missing, f"families pushed out of the 50-query gate: {missing}"
def test_py_files_packaged_boundary(tmp_path):
    """North-rule deployment contract: the library runs from the packaged
    zip ALONE (spark-submit --py-files simulation). The subprocess runs
    from a neutral cwd with no repo on sys.path: driver imports from the
    zip, executors receive it via addPyFile, and a sharded build + probe
    round-trips with zero false negatives. Afterwards, every reused worker
    that imported the library has ``zipimporter.invalidate_caches``
    wrapped (xorf_spark/_zipcache.py; CPython < 3.12 only)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "xorf_spark.zip")  # keeps dist/ untouched
    subprocess.run(["bash", f"{repo}/scripts/make_pyfiles.sh", zip_path],
                   cwd=repo, check=True, capture_output=True)
    prog = """
import sys
zip_path = sys.argv[1]
sys.path.insert(0, zip_path)          # driver-side import: zip ONLY
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.addPyFile(zip_path)   # executor side
from xorf_spark import dataflow as D
keys = spark.range(20000).select(F.xxhash64("id").alias("key"))
shards = D.build_filter_df(keys, kind="bfuse8", n_shards=4)
t = D.FilterTable.from_df(shards)
n = t.where_member(keys, "key").count()
assert n == 20000, n

def report(batches):
    import os, sys, zipimport
    import pandas as pd
    for _ in batches:
        pass
    fn = zipimport.zipimporter.invalidate_caches
    yield pd.DataFrame({"pid": [os.getpid()],
                        "lib": ["xorf_spark" in sys.modules],
                        "wrapped": [fn.__module__ == "xorf_spark._zipcache"]})

rows = spark.range(0, 8, 1, 8).mapInPandas(
    report, "pid long, lib boolean, wrapped boolean").collect()
if sys.version_info < (3, 12):
    # reused workers that imported the library skip zip re-reads
    assert any(r.wrapped for r in rows), rows
    assert all(r.wrapped == r.lib for r in rows), rows
print("PYFILES_OK")
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "-c", prog, zip_path],
                       env=env, cwd=str(tmp_path),
                       capture_output=True, text=True, timeout=300)
    assert "PYFILES_OK" in r.stdout, (r.stdout[-2000:], r.stderr[-2000:])



def test_packaged_zip_mirrors_package():
    """The tracked ``dist/xorf_spark.zip`` (spark-submit ``--py-files``)
    holds exactly the package's ``.py`` files, byte for byte. Regenerate
    it with ``scripts/make_pyfiles.sh`` after changing the library."""
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tree = {}
    for root, _dirs, files in os.walk(os.path.join(repo, "xorf_spark")):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    tree[os.path.relpath(p, repo)] = fh.read()
    with zipfile.ZipFile(os.path.join(repo, "dist", "xorf_spark.zip")) as z:
        packed = {n: z.read(n) for n in z.namelist()}
    stale = sorted(n for n in set(tree) | set(packed)
                   if tree.get(n) != packed.get(n))
    assert not stale, f"dist/xorf_spark.zip differs from the tree: {stale}"
