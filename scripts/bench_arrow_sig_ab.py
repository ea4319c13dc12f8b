"""Round-14 A/B + value-parity for the Arrow signature kernels
(VERDICT r13 items #1/#3).

For minhash and simhash at the given SF dir:
  1. value parity: exceptAll both ways == 0 between the JVM and Arrow
     signature stages AND between the full dup-pairs outputs;
  2. timing: noop-sink best-of-3 (plus cold) for the signature stage and
     the full pipeline, JVM vs Arrow.

Usage: SPARK_GRAFT_SF_DIR=data/sf10 python scripts/bench_arrow_sig_ab.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_psql_spark.session import default_spark  # noqa: E402


def sym_diff(x, y) -> int:
    """Rows of the symmetric multiset difference of two DataFrames.
    (exceptAll trips a Spark 4.1 analyzer bug — ATTRIBUTE_NOT_FOUND —
    on the simhash pair plan, so diff via union + signed counts.)"""
    from pyspark.sql import functions as F

    u = x.withColumn("__w", F.lit(1)).unionAll(y.withColumn("__w", F.lit(-1)))
    return (
        u.groupBy(*[c for c in x.columns])
        .agg(F.sum("__w").alias("__d"))
        .filter("__d != 0")
        .count()
    )


def timeit(df, n=3):
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    spark = default_spark(app_name="arrow-sig-ab")
    spark.sparkContext.setLogLevel("ERROR")
    from duckdb_psql_spark.operators import dedup as D

    path = f"{sf_dir}/documents.parquet"
    sz = (
        os.path.getsize(path)
        if os.path.isfile(path)
        else sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        )
    )
    docs = spark.read.parquet(path)
    res: dict = {"sf_dir": sf_dir, "input_bytes": sz}

    if os.environ.get("SKIP_PARITY") == "1":
        return _timing(spark, docs, D, res, out_path)

    # ---- parity ----
    sig_j = D.minhash_signatures(
        docs, id_col="doc_id", text_col="text", num_perm=64, shingle_k=3
    )
    sig_a = D.minhash_signatures(
        docs, id_col="doc_id", text_col="text", num_perm=64, shingle_k=3,
        unique_ids=True,
    )
    d = sym_diff(sig_j, sig_a)
    res["minhash_sig_diff"] = d
    print(f"minhash signature sym-diff rows: {d}")
    assert d == 0

    pairs_j = D.minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=64, bands=16,
        shingle_k=3, threshold=0.4,
    )
    pairs_a = D.minhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", num_perm=64, bands=16,
        shingle_k=3, threshold=0.4, unique_ids=True,
    )
    d = sym_diff(pairs_j, pairs_a)
    res["minhash_pairs_diff"] = d
    print(f"minhash pairs sym-diff rows: {d}")
    assert d == 0

    ssig_j = D.simhash_signatures(docs, id_col="doc_id", text_col="text")
    ssig_a = D.simhash_signatures(
        docs, id_col="doc_id", text_col="text", unique_ids=True
    )
    d = sym_diff(ssig_j, ssig_a)
    res["simhash_sig_diff"] = d
    print(f"simhash signature sym-diff rows: {d}")
    assert d == 0

    spairs_j = D.simhash_dup_pairs(docs, id_col="doc_id", text_col="text", max_hamming=3)
    spairs_a = D.simhash_dup_pairs(
        docs, id_col="doc_id", text_col="text", max_hamming=3, unique_ids=True
    )
    d = sym_diff(spairs_j, spairs_a)
    res["simhash_pairs_diff"] = d
    print(f"simhash pairs sym-diff rows: {d}")
    assert d == 0

    return _timing(spark, docs, D, res, out_path)


def _timing(spark, docs, D, res, out_path):
    import json

    # ---- timing (noop sink; fresh DataFrames so persists don't leak) ----
    def mh_sig(unique):
        return D.minhash_signatures(
            docs, id_col="doc_id", text_col="text", num_perm=64, shingle_k=3,
            unique_ids=unique,
        )

    def mh_pairs(unique):
        return D.minhash_dup_pairs(
            docs, id_col="doc_id", text_col="text", num_perm=64, bands=16,
            shingle_k=3, threshold=0.4, unique_ids=unique,
        )

    def sh_pairs(unique):
        return D.simhash_dup_pairs(
            docs, id_col="doc_id", text_col="text", max_hamming=3,
            unique_ids=unique,
        )

    # clearCache before each variant: Spark's CacheManager matches logical
    # plans, so the parity phase's (and the other variant's) persisted
    # intermediates would otherwise serve cached data and fake the timing.
    # Within a variant the 3 runs keep the pipeline's own persists warm —
    # the same methodology bench.py uses (cold first run recorded).
    for name, mk in [
        ("minhash_sig", mh_sig),
        ("minhash_pairs", mh_pairs),
        ("simhash_pairs", sh_pairs),
    ]:
        for label, unique in [("jvm", False), ("arrow", True)]:
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name}:{label}")
            res[f"{name}_{label}"] = timeit(mk(unique))
            print(name, label, res[f"{name}_{label}"])
    spark.sparkContext.setJobDescription(None)

    if out_path:
        with open(out_path, "w") as f:
            json.dump(res, f, indent=1)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
