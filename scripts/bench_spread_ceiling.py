"""Time the MinHash and SimHash signature passes over one generated parquet
corpus with the small-input spread forced on and off (operators/spread.py).

The corpus is one file of ``docs`` rows (60 words each) written with
``parquet.block.size = row_group_mb``, so the same bytes can be laid out as
one row group (the scan reads it in one task) or as several (the scan
already gives a task per core). Each kernel runs ``reps + 1`` times per
side in alternating order to a noop sink; the first round warms the Python
workers and is dropped.

Usage: python scripts/bench_spread_ceiling.py DOCS ROW_GROUP_MB [REPS]
  e.g. 120000 512 (25 MB, one row group), 120000 4, 500000 16
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_psql_spark.operators import spread  # noqa: E402
from duckdb_psql_spark.operators.dedup import (  # noqa: E402
    minhash_signatures,
    simhash_signatures,
)
from duckdb_psql_spark.session import default_spark  # noqa: E402


def main() -> None:
    docs, row_group_mb = int(sys.argv[1]), int(sys.argv[2])
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = default_spark(cpus=4)
    tmp = tempfile.mkdtemp(prefix="spread_ceiling_")
    try:
        path = os.path.join(tmp, "docs.parquet")
        spark.range(docs).selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(1, 60), i -> "
            "concat('w', CAST(pmod(xxhash64(id, i), 3000) AS STRING)))) AS text",
        ).coalesce(1).write.option("parquet.block.size", row_group_mb << 20).parquet(path)
        df = spark.read.parquet(path)
        estimated = spread._estimated_bytes
        print(f"estimate {estimated(df):,} bytes, scan partitions {df.rdd.getNumPartitions()}")
        kernels = {
            "minhash": lambda d: minhash_signatures(
                d, id_col="doc_id", text_col="text", num_perm=64, shingle_k=3, unique_ids=True),
            "simhash": lambda d: simhash_signatures(
                d, id_col="doc_id", text_col="text", unique_ids=True),
        }
        # a stubbed estimate forces the decision: 0 never spreads, 4 x the
        # floor spreads over min(cores, 4) tasks
        sides = {"plain": 0, "spread": 4 * spread.MIN_TASK_BYTES}
        for name, kernel in kernels.items():
            times: dict[str, list[float]] = {side: [] for side in sides}
            for rep in range(reps + 1):
                for side, stub in sides.items():
                    spread._estimated_bytes = lambda _df, b=stub: b
                    try:
                        sig = kernel(df)
                    finally:
                        spread._estimated_bytes = estimated
                    t0 = time.perf_counter()
                    sig.write.format("noop").mode("overwrite").save()
                    if rep:
                        times[side].append(time.perf_counter() - t0)
            print(name + ": " + ", ".join(
                f"{side} median {statistics.median(v):.2f} s {[round(x, 2) for x in v]}"
                for side, v in times.items()))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
