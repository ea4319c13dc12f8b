"""A/B candidate rewrites of the minhash hot path, value-checked.

V0: current _shingle_hashes (transform + (k-1) zip_with interpreted
    passes) and zip_with/filter/size jaccard estimate.
V1: single-pass transform with element_at lookups for the shingle
    hashes; explicit 64-term element_at equality sum for the estimate.

Both must produce IDENTICAL rows (exceptAll both ways == 0) — the
inventory entries' outputs may not change. Timing: noop sink, best-of-3
after cold, interleaved V0/V1.

Usage: python scripts/bench_minhash_variants.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from duckdb_psql_spark.operators.dedup import _PRIME


def shingle_hashes_v1(text_col: str, k: int) -> F.Column:
    """Same values as dedup._shingle_hashes, one interpreted pass.

    th = pmod(xxhash64(token), P) per token (1 transform), then ONE
    transform over positions computes the k-token polynomial hash with
    element_at lookups instead of (k-1) zip_with array passes.
    """
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    th = F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(_PRIME)))
    sz = F.size(th)
    if k == 1:
        return th

    def shingle_at(i):
        acc = F.element_at(th, i)
        for j in range(1, k):
            acc = F.pmod(acc * F.lit(1000003) + F.element_at(th, i + j), F.lit(_PRIME))
        return acc

    n = sz - (k - 1)
    return F.when(sz >= k, F.transform(F.sequence(F.lit(1), n), shingle_at)).otherwise(
        F.array(F.pmod(F.xxhash64(F.lower(F.col(text_col))), F.lit(_PRIME)))
    )


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
    print(f"{name:32s} warm {best:7.3f}  cold {cold:7.3f}", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "data/sf10"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/minhash_variants.json"
    check_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from duckdb_psql_spark.session import default_spark, tune_for_input
    from duckdb_psql_spark.operators import dedup as dd

    spark = default_spark(app_name="minhash-variants")
    tune_for_input(spark, sf_dir)
    res: dict = {"sf_dir": sf_dir}

    # --- value check at check_dir (small, exact) --------------------
    cdocs = spark.read.parquet(f"{check_dir}/documents.parquet")
    v0 = cdocs.select("doc_id", dd._shingle_hashes("text", 3).alias("h"))
    v1 = cdocs.select("doc_id", shingle_hashes_v1("text", 3).alias("h"))
    d01 = v0.exceptAll(v1).count()
    d10 = v1.exceptAll(v0).count()
    res["shingle_value_check"] = {"v0_minus_v1": d01, "v1_minus_v0": d10}
    assert d01 == 0 and d10 == 0, f"shingle hash mismatch: {d01}/{d10}"
    print("shingle value check: identical", file=sys.stderr)

    # est formulations over a forced candidate set: every adjacent doc pair
    sigs_small = dd.minhash_signatures(
        cdocs, id_col="doc_id", text_col="text", num_perm=64, shingle_k=3
    )
    a = sigs_small.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("sa"))
    b = sigs_small.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("sb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    est0 = (
        F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m))
        / F.lit(64.0)
    )
    matches = None
    for i in range(1, 65):
        term = (F.element_at("sa", i) == F.element_at("sb", i)).cast("int")
        matches = term if matches is None else matches + term
    est1 = matches / F.lit(64.0)
    e0 = pairs.select("id_a", "id_b", F.round(est0, 4).alias("e"))
    e1 = pairs.select("id_a", "id_b", F.round(est1, 4).alias("e"))
    d01 = e0.exceptAll(e1).count()
    d10 = e1.exceptAll(e0).count()
    res["est_value_check"] = {"v0_minus_v1": d01, "v1_minus_v0": d10}
    assert d01 == 0 and d10 == 0, f"est mismatch: {d01}/{d10}"
    print("est value check: identical", file=sys.stderr)

    # --- timing at sf_dir, interleaved ------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    import random as _random

    rng = _random.Random(42)
    perms = [(rng.randrange(1, _PRIME), rng.randrange(0, _PRIME)) for _ in range(64)]

    def sig_df(shingle_col):
        exploded = docs.select(
            "doc_id", F.explode_outer(shingle_col).alias("__h")
        )
        mins = [
            F.min(F.pmod(F.col("__h") * F.lit(p_a) + F.lit(p_b), F.lit(_PRIME))).alias(f"__m{i}")
            for i, (p_a, p_b) in enumerate(perms)
        ]
        return (
            exploded.groupBy("doc_id").agg(*mins)
            .select(
                "doc_id",
                F.array(*[F.col(f"__m{i}") for i in range(64)]).alias("signature"),
            )
        )

    for rep in (1, 2):
        timed(spark, f"sig_v0_rep{rep}", sig_df(dd._shingle_hashes("text", 3)), res)
        timed(spark, f"sig_v1_rep{rep}", sig_df(shingle_hashes_v1("text", 3)), res)

    # est timing: candidate pairs from the real banded path are data-
    # dependent; approximate the load with the adjacent-pair join at sf_dir
    sigs_big = sig_df(shingle_hashes_v1("text", 3))
    from duckdb_psql_spark.operators.dedup import _persist, _release_list

    pins: list = []
    sigs_big = _persist(sigs_big, pins)
    ab = sigs_big.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("sa")).join(
        sigs_big.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("sb")),
        F.col("id_b") == F.col("id_a") + 1,
    )
    for rep in (1, 2):
        timed(spark, f"est_v0_rep{rep}", ab.select("id_a", "id_b", F.round(est0, 4).alias("e")), res)
        timed(spark, f"est_v1_rep{rep}", ab.select("id_a", "id_b", F.round(est1, 4).alias("e")), res)
    _release_list(pins)

    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
