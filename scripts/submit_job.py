"""End-to-end ``spark-submit --py-files`` job — the north-rule deployment
mode, run literally (not simulated through ``sc.addPyFile``):

    ./scripts/make_pyfiles.sh
    spark-submit --master "local[8]" \
        --py-files dist/xorf_spark.zip scripts/submit_job.py [sf_dir]

The driver imports ``xorf_spark`` ONLY from the zip spark-submit shipped
(the job refuses to run if the import resolves anywhere else), builds a
sharded bfuse8 filter over the documents' shingle keys, probes every key
back (zero-false-negative contract) plus a disjoint alien set (FPP
sanity), and runs one sketch aggregation — exercising the JVM→Python
worker boundary, which is where a broken --py-files deployment actually
fails. Exit code 0 == all contracts held; prints one JSON line.
"""

import json
import os
import sys


def main() -> None:
    import xorf_spark

    pkg_path = os.path.abspath(xorf_spark.__file__)
    if ".zip" not in pkg_path:
        raise SystemExit(
            f"xorf_spark imported from {pkg_path}, not the --py-files zip "
            f"— this run would not prove the packaged deployment")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from xorf_spark import dataflow as D
    from xorf_spark import sketches as S

    spark = SparkSession.builder.appName("xorf-submit-demo").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from xorf_spark.sources import tokens_from_documents

    keyed = (D.shingle_keys(tokens_from_documents(docs), k=8)
             .select("key").cache())  # five actions below reuse it
    table = D.FilterTable.from_df(
        D.build_filter_df(keyed, kind="bfuse8", n_shards=4))

    n_keys = keyed.distinct().count()
    n_rows = keyed.count()
    n_member = table.where_member(keyed, "key").count()
    if n_member != n_rows:
        raise SystemExit(f"FALSE NEGATIVES: {n_rows - n_member}")

    alien = spark.range(200_000).select(
        F.xxhash64(F.col("id") + (1 << 40)).alias("key"))
    fp = table.where_member(alien, "key").count()
    fpp = fp / 200_000
    # published bfuse8 bound 0.00406 + sampling slack (stderr at 200k
    # probes ≈ 4% relative)
    if fpp > 0.00406 * 1.25:
        raise SystemExit(f"FPP out of bound: {fpp}")

    hll = S.sketch_agg(keyed, "key", "hll", {"p": 14})
    est = hll.estimate()
    if abs(est - n_keys) > 4 * hll.rel_error() * n_keys:
        raise SystemExit(f"HLL estimate {est} outside bound of {n_keys}")

    print(json.dumps({
        "py_files_import": pkg_path,
        "distinct_shingle_keys": n_keys,
        "zero_false_negatives": True,
        "alien_fpp": round(fpp, 6),
        "hll_estimate": round(est),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
