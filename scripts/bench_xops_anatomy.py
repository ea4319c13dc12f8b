"""Stage-by-stage anatomy of the three heaviest x-operators at scale.

x_simhash_dedup / x_minhash_dedup / x_text_quality were the top absolute
spark costs in the r12 sf10 pair (4.67 / 3.66 / 4.56 s — 40% of the
total). Before touching them, decompose where the seconds go (guide §1:
measure first). Each stage is noop-sink timed, best-of-3 warm after a
cold run, with the same per-statement tuning the inventory entries use.

Usage: python scripts/bench_xops_anatomy.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def timed(spark, name, df, out):
    spark.sparkContext.setJobDescription(name)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    cold = time.perf_counter() - t0
    best = cold
    for _ in range(2):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    out[name] = {"warm": round(best, 3), "cold": round(cold, 3)}
    print(f"{name:40s} warm {best:7.3f}  cold {cold:7.3f}", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "data/sf10"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/xops_anatomy.json"

    from duckdb_psql_spark.session import default_spark, tune_for_input
    from duckdb_psql_spark.operators import dedup as dd
    from duckdb_psql_spark.operators.text import quality_score

    spark = default_spark(app_name="xops-anatomy")
    tune_for_input(spark, sf_dir)
    res: dict = {"sf_dir": sf_dir}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # --- common: scan + tokenize ------------------------------------
    timed(spark, "scan_text", docs.select("doc_id", "text"), res)
    toks = F.split(F.lower(F.col("text")), r"\s+")
    timed(spark, "tokenize_size", docs.select("doc_id", F.size(toks).alias("n")), res)

    # --- simhash ----------------------------------------------------
    timed(
        spark, "simhash_explode_hash",
        docs.select("doc_id", F.explode_outer(toks).alias("__t"))
            .select("doc_id", F.xxhash64(F.col("__t")).alias("__h")),
        res,
    )
    sigs = dd.simhash_signatures(docs, id_col="doc_id", text_col="text")
    timed(spark, "simhash_signatures", sigs, res)
    full = dd.simhash_dup_pairs(docs, id_col="doc_id", text_col="text", max_hamming=3)
    timed(spark, "simhash_pairs_full", full, res)

    # --- minhash ----------------------------------------------------
    timed(
        spark, "minhash_shingle_explode",
        docs.select(
            "doc_id",
            F.explode_outer(dd._shingle_hashes("text", 3)).alias("__h"),
        ),
        res,
    )
    msigs = dd.minhash_signatures(
        docs, id_col="doc_id", text_col="text", num_perm=64, shingle_k=3
    )
    timed(spark, "minhash_signatures", msigs, res)
    mfull = dd.minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=64, bands=16,
        shingle_k=3, threshold=0.4,
    )
    timed(spark, "minhash_pairs_full", mfull, res)

    # --- text quality ----------------------------------------------
    t = F.col("text")
    from duckdb_psql_spark.operators.text import _ALPHA, _DIGIT, _count_of

    timed(spark, "tq_translate_only",
          docs.select("doc_id", _count_of(t, _ALPHA).alias("a"),
                      _count_of(t, _DIGIT).alias("d")), res)
    timed(spark, "tq_distinct_only",
          docs.select("doc_id", F.size(F.array_distinct(toks)).alias("u")), res)
    tq = quality_score(docs).select(
        "doc_id", "n_words",
        F.round(F.col("lexical_diversity") * 10000, 0).cast("bigint").alias("lex_bp"),
        F.round(F.col("alpha_ratio") * 10000, 0).cast("bigint").alias("alpha_bp"),
        F.round(F.col("quality_score") * 10000, 0).cast("bigint").alias("quality_bp"),
    ).orderBy("doc_id")
    timed(spark, "text_quality_full", tq, res)

    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
