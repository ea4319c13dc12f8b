"""Spread a small input over every core before a per-row kernel.

A parquet file smaller than ``spark.sql.files.maxPartitionBytes`` scans as
one split, and the tiny-input profile (``shuffle.partitions=1``) keeps the
stages after it at one task too. A per-row kernel over such a file — the
MinHash and SimHash Arrow passes, the text-stats projection — then runs in
one task while the other cores sit idle. ``spread_over_cores`` puts one
hash exchange in front of the kernel so each core gets a share of the rows.

It is the one place the dedup and text operators repartition
(tests/test_confs.py guards this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Smallest estimated input per task worth a spread. Measured on
# perfbench's dedup_docs corpora on a 4-core host (steady state, pairs
# statement exec, medians of 12, spread forced on and off alternately):
# at the 1k-doc warm-up corpus (estimate 128 KB) a 4-way spread loses,
# MinHash 0.27 -> 0.32 s and SimHash 0.19 -> 0.27 s; at 10k docs
# (estimate 1.28 MB) it wins. 256 KB spreads the 10k corpus over 4
# tasks and leaves the warm-up corpus in one, so no extra Python workers
# are forked during set-up (without the floor, setup_s rose ~1 s per run,
# measured before pyworker's zip stat check cut each Python task's cost).
#
# The ceiling, cores x maxPartitionBytes (512 MB on 4 cores), is where a
# parquet file written with Spark's default 128 MB row groups holds one row
# group per core. Below it the scan may cut a split per core (splits are
# min(maxPartitionBytes, max(openCostInBytes, bytes / cores))) yet read
# every row in one task, because a split without a row group's midpoint
# reads nothing. Measured with scripts/bench_spread_ceiling.py on a
# 4-core host (signature pass alone, medians of 3): at 25 MB in one row
# group (4 splits, one task reading) the spread wins, MinHash 5.76 ->
# 2.64 s and SimHash 3.71 -> 2.22 s; at 25 MB in 4 MB row groups it is
# even (2.40 vs 2.31 s, 1.74 vs 1.72 s), and at 104 MB in 16 MB row
# groups too (9.06 vs 8.41 s, 5.86 vs 5.83 s): where the scan already
# spreads, the shuffle's cost does not show. 104-512 MB is not measured.
MIN_TASK_BYTES = 256 * 1024


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _ordered(plan) -> bool:
    """A Sort reached from the root of ``plan`` through single-child nodes
    (Project, Filter, Limit, ...): the rows come out in an order that an
    exchange above them would drop (Spark also removes a Sort under a
    repartition)."""
    while plan.nodeName() != "Sort":
        children = plan.children()
        if children.size() != 1:
            return False
        plan = children.head()
    return True


def spread_over_cores(df: DataFrame, key: str) -> DataFrame:
    """``df`` hash-repartitioned on ``key`` over ``min(cores, est //
    MIN_TASK_BYTES)`` partitions when that is more than one and the scan
    may hold fewer row groups than cores (``est < cores × maxPartitionBytes``);
    ``df`` itself otherwise, and always for a streaming or an ordered
    ``df``. Hash, not round-robin: round-robin repartitioning adds a local
    sort to stay deterministic."""
    if df.isStreaming:
        # a streaming plan has no batch size estimate (optimizing it
        # raises); each micro-batch is planned on its own
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    est = _estimated_bytes(df)
    n = min(cores, est // MIN_TASK_BYTES)
    if n <= 1:
        return df
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if est >= cores * split:
        return df
    if _ordered(df._jdf.queryExecution().optimizedPlan()):
        return df
    return df.repartition(n, key)
