"""Physical-plan assertions: the properties that make queries scale.

Correctness says the answer is right; these tests say the PLAN is right —
filters reach the parquet scan, projection prunes columns, small dims
broadcast, and operators don't introduce avoidable shuffles. A regression
here is a 100×-at-scale problem even when results stay correct.
"""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_pushdown_and_column_pruning(psql, sf):
    df = psql.sql(
        f"from '{sf}/lineitem.parquet' |> where l_quantity > 45 |> "
        "select l_orderkey, l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    # ReadSchema carries only the 2 projected columns
    assert "l_extendedprice" not in plan and "l_comment" not in plan


def test_partial_aggregation(psql, sf):
    df = psql.sql(
        f"from '{sf}/lineitem.parquet' |> "
        "select l_returnflag, sum(l_quantity) as s group by l_returnflag"
    )
    plan = _plan(df)
    # map-side combine: partial then final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_small_dim_broadcasts(psql, sf):
    df = psql.sql(
        f"from '{sf}/nation.parquet' |> "
        f"as n join '{sf}/region.parquet' as r on n.n_regionkey = r.r_regionkey |> "
        "select n_name, r_name"
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_fuses_to_take_ordered(psql, sf):
    df = psql.sql(
        f"from '{sf}/orders.parquet' |> order by o_totalprice desc |> limit 5"
    )
    assert "TakeOrderedAndProject" in _plan(df)


def test_semi_join_strategy(psql, sf):
    df = psql.sql(
        f"from '{sf}/customer.parquet' |> "
        f"as c semi join '{sf}/orders.parquet' as o on c.c_custkey = o.o_custkey"
    )
    assert "LeftSemi" in _plan(df)


def test_asof_join_single_shuffle(spark, sf):
    from duckdb_psql_spark.operators.asof import asof_join
    from duckdb_psql_spark.sources.resolver import SourceResolver

    ev = SourceResolver(spark).resolve(f"{sf}/events.parquet")
    left = ev.filter("event_type = 'view'").select("user_id", "event_id", "ts", "value")
    right = ev.filter("event_type = 'purchase'").select("user_id", "ts", "value")
    out = asof_join(
        left, right, on_text="v.user_id = p.user_id and v.ts >= p.ts",
        left_alias="v", right_alias="p",
    )
    plan = _plan(out)
    # union + window: exactly ONE hash exchange (the window partitioning);
    # no join node at all
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_no_python_udf(spark, sf):
    from duckdb_psql_spark.operators.dedup import minhash_dup_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = minhash_dup_pairs(docs, id_col="doc_id", text_col="text")
    plan = _plan(pairs)
    # hot path stays JVM-side: no Python evaluation nodes anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # signature aggregation is a codegen'd hash aggregate
    assert "HashAggregate" in plan


def test_metadata_stats_skips_payload(spark):
    import tempfile

    from duckdb_psql_spark.operators.multimodal import metadata_stats, synthetic_media

    path = tempfile.mkdtemp(prefix="psql_media_") + "/media.parquet"
    synthetic_media(spark, 16).write.mode("overwrite").parquet(path)
    stats = metadata_stats(spark.read.parquet(path))
    plan = _plan(stats)
    # payload column never read: parquet ReadSchema excludes `content`
    assert "content" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_sliding_window_partial_agg(spark, sf):
    from duckdb_psql_spark.sources.resolver import SourceResolver
    from duckdb_psql_spark.streaming import stream_sliding_counts

    ev = SourceResolver(spark).resolve(f"{sf}/events.parquet")
    out = stream_sliding_counts(ev, window="1 hour", slide="15 minutes")
    plan = _plan(out)
    # window expansion happens below the aggregation: partial (map-side)
    # HashAggregate before the single exchange, final after it
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_summarize_single_pass(spark, psql):
    d = psql.sql("summarize '/root/testdata/sf0.001/orders.parquet'")
    plan = _plan(d)
    # one aggregation pass over the scan (partial+final, possibly with an
    # objectagg pair for percentile buffers), one scan of the file
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_reused_cte_block_materialized_once(psql, sf):
    # `with s as (| … |)` referenced twice (join input + scalar subquery):
    # DuckDB materializes such CTEs once; without persist the whole
    # aggregation sub-plan would re-execute per reference.
    stmt = (
        f"with s as (| from '{sf}/lineitem.parquet' |> "
        "select l_suppkey, sum(l_quantity) as total_q group by l_suppkey |) "
        "from s |> where total_q = (select max(total_q) from s) |> "
        "select l_suppkey, total_q"
    )
    # tiny-input gate (r8): below blockPersist.minBytes the persist must
    # NOT fire — page cache already holds the source, and an unpersisted
    # statement stays compose-cacheable (q_asof sf0.1 0.72→0.41s A/B)
    assert "InMemoryTableScan" not in _plan(psql.sql(stmt))
    psql.spark.conf.set("spark.psql.blockPersist.minBytes", "0")
    try:
        df = psql.sql(stmt)
        plan = _plan(df)
        assert "InMemoryTableScan" in plan
        rows = df.collect()
        assert len(rows) >= 1
        # single-use blocks stay unpersisted (no cache churn)
        df2 = psql.sql(
            f"with s as (| from '{sf}/region.parquet' |> select r_name |) "
            "from s"
        )
        assert "InMemoryTableScan" not in _plan(df2)
    finally:
        psql.spark.conf.set(
            "spark.psql.blockPersist.minBytes", str(64 * 1024 * 1024)
        )


def test_repeated_scan_reused_and_pruned(psql, sf):
    # q21-class shape: the same file referenced by the base join AND two
    # correlated EXISTS branches. The scan-reuse pass must serve all
    # branches from ONE persisted base pruned to the union of Catalyst's
    # per-scan ReadSchemas (not all 16 lineitem columns).
    # Round 10: the EXISTS→window rewrite now claims this exact shape
    # (one scan + Window beats persist + three probe scans — A/B'd);
    # pin the rewrite OFF here so the scan-reuse machinery stays
    # covered for the shapes the rewrite does not take.
    psql.spark.conf.set("spark.psql.existsWindowRewrite", "false")
    stmt = (
        f"from '{sf}/lineitem.parquet' |> "
        "select l_orderkey as ok, l_suppkey as sk, l_shipdate |> "
        f"where exists (select 1 from '{sf}/lineitem.parquet' l2 "
        "              where l2.l_orderkey = ok and l2.l_suppkey <> sk) |> "
        f"where not exists (select 1 from '{sf}/lineitem.parquet' l3 "
        "              where l3.l_orderkey = ok and l3.l_tax > 0.07) |> "
        "select count() as n"
    )
    # tiny-input gate (r5 q21 sf0.1 regression): at the default
    # scanReuse.minBytes (64 MB) the test fixture is far below the
    # threshold, so the pass must NOT fire — persist overhead beats the
    # reuse win on inputs the OS page cache already holds.
    assert "InMemoryTableScan" not in _plan(psql.sql(stmt))
    # drop the tiny gate so the pass fires on the test fixture
    psql.spark.conf.set("spark.psql.scanReuse.minBytes", "0")
    try:
        df = psql.sql(stmt)
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 3
        # pruned persist: the cached base carries only the referenced columns
        comp = psql._compiler
        cached = [d for d in comp._persisted_blocks if "l_orderkey" in d.columns]
        assert cached, "expected a persisted scan-reuse base"
        assert set(cached[0].columns) == {"l_orderkey", "l_suppkey", "l_shipdate", "l_tax"}
        n = df.collect()[0][0]
        assert n >= 0

        # single mention → no reuse pass, plan stays a pure scan
        df2 = psql.sql(f"from '{sf}/region.parquet' |> select r_name")
        assert "InMemoryTableScan" not in _plan(df2)
    finally:
        psql.spark.conf.unset("spark.psql.scanReuse.minBytes")

    # conf off-switch restores the pure-scan plan for repeated mentions
    psql.spark.conf.set("spark.psql.scanReuse.maxBytes", "0")
    try:
        df3 = psql.sql(
            f"from '{sf}/orders.parquet' |> select o_orderkey as ok |> "
            f"where exists (select 1 from '{sf}/orders.parquet' o2 "
            "              where o2.o_orderkey = ok)"
        )
        assert "InMemoryTableScan" not in _plan(df3)
    finally:
        psql.spark.conf.unset("spark.psql.scanReuse.maxBytes")
        psql.spark.conf.set("spark.psql.existsWindowRewrite", "true")


def test_exists_window_rewrite_claims_self_probe(psql, sf):
    # Round 10: the no-join self-probe shape needs NO declared keys
    # (the head is trivially complete) — the rewrite turns three
    # lineitem scans into ONE scan + Window, and the values match the
    # probe semantics (tests/test_constraints.py value-checks vs
    # DuckDB; here the PLAN is pinned).
    stmt = (
        f"from '{sf}/lineitem.parquet' |> "
        "select l_orderkey as ok, l_suppkey as sk, l_shipdate |> "
        f"where exists (select 1 from '{sf}/lineitem.parquet' l2 "
        "              where l2.l_orderkey = ok and l2.l_suppkey <> sk) |> "
        f"where not exists (select 1 from '{sf}/lineitem.parquet' l3 "
        "              where l3.l_orderkey = ok and l3.l_tax > 0.07) |> "
        "select count() as n"
    )
    df = psql.sql(stmt)
    assert len(psql._compiler.last_window_rewrites) == 2
    plan = _plan(df)
    assert "Window" in plan
    assert plan.count("lineitem") <= 2  # single scan of the fact
    assert df.collect()[0][0] >= 0


def test_scan_reuse_copartitioned_persist(psql, sf):
    # q21-class statements shuffle the reused base on the same key in
    # every branch (base join + semi + anti). The re-cluster pass must
    # persist the base repartitioned on that key (REPARTITION_BY_COL in
    # the cached plan) so downstream exchanges drain balanced cache
    # partitions instead of fat scan splits — and must not fire when
    # switched off, or when no repeated single-key exchange exists.
    import re as _re

    stmt = (
        f"from '{sf}/lineitem.parquet' |> "
        "select l_orderkey as ok, l_suppkey as sk |> "
        f"where exists (select 1 from '{sf}/lineitem.parquet' l2 "
        "              where l2.l_orderkey = ok and l2.l_suppkey <> sk) |> "
        f"where not exists (select 1 from '{sf}/lineitem.parquet' l3 "
        "              where l3.l_orderkey = ok and l3.l_tax > 0.07) |> "
        "select count() as n"
    )
    recluster = _re.compile(
        r"Exchange hashpartitioning\(l_orderkey#\d+L?, \d+\), REPARTITION_BY_COL"
    )
    # tiny SF broadcasts every join (no exchanges → the pass is a no-op),
    # so force the shuffle shape the pass targets at real scale, and drop
    # the size gate so it fires on the test fixture; pin the parallelism
    # too (partitions=1 would collapse the asserted hashpartitioning
    # exchange)
    psql.spark.conf.set("spark.sql.shuffle.partitions", "4")
    psql.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    psql.spark.conf.set("spark.psql.scanReuse.minBytes", "0")
    psql.spark.conf.set("spark.psql.scanReuse.copartitionMinBytes", "0")
    # round 10: keep the scan-reuse machinery under test — the
    # EXISTS→window rewrite would otherwise claim this shape
    psql.spark.conf.set("spark.psql.existsWindowRewrite", "false")
    try:
        df = psql.sql(stmt)
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") >= 3
        assert recluster.search(plan), "expected re-clustered persisted base"
        assert df.collect()[0][0] >= 0
        psql.spark.catalog.clearCache()

        # off-switch: plain (unpartitioned) persist
        psql.spark.conf.set("spark.psql.scanReuse.copartition", "false")
        plan2 = _plan(psql.sql(stmt))
        assert "InMemoryTableScan" in plan2 and not recluster.search(plan2)
        psql.spark.catalog.clearCache()
    finally:
        psql.spark.conf.unset("spark.sql.shuffle.partitions")
        psql.spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        psql.spark.conf.unset("spark.psql.scanReuse.copartition")
        psql.spark.conf.unset("spark.psql.scanReuse.copartitionMinBytes")
        psql.spark.conf.unset("spark.psql.scanReuse.minBytes")

    # size gate restored + broadcast plans: the re-cluster must not fire
    try:
        df3 = psql.sql(stmt)
        assert not recluster.search(_plan(df3))
    finally:
        psql.spark.conf.set("spark.psql.existsWindowRewrite", "true")
    psql.spark.catalog.clearCache()


def test_ivf_sample_fit_end_to_end(spark, sf, tmp_path):
    """The 100 TB IVF path: k-means fit on a SAMPLE, full-corpus
    assignment, index written partitionBy(__bucket), and the probe scan
    reads only the nprobe probed buckets (PartitionFilters, not data
    filters)."""
    from duckdb_psql_spark.operators.similarity import (
        ivf_assign, ivf_index_read, ivf_index_write, ivf_topk,
    )

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    assigned, cents = ivf_assign(
        emb, id_col="vec_id", vec_col="embedding",
        n_centroids=8, sample_fraction=0.3,
    )
    assert len(cents) == 8
    path = str(tmp_path / "ivf_index.parquet")
    ivf_index_write(assigned, path)

    index = ivf_index_read(spark, path)
    qvec = [float(x) for x in emb.filter("vec_id = 1").first()["embedding"]]
    top = ivf_topk(index, cents, qvec, id_col="vec_id",
                   vec_col="embedding", k=5, nprobe=3)
    plan = _plan(top)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "__bucket" in pf and " in " in pf.lower()
    rows = top.collect()
    # the query vector's own bucket is always probed → self is rank 1
    assert rows and rows[0]["vec_id"] == 1 and rows[0]["cosine"] == 1.0
    with pytest.raises(ValueError, match="sample_fraction"):
        ivf_assign(emb, id_col="vec_id", vec_col="embedding", sample_fraction=1.5)


def test_tpch_shape_plans(psql, sf):
    from duckdb_psql_spark.inventory import PAIRS

    # Q21: EXISTS/NOT EXISTS decorrelate to semi/anti joins — never a
    # correlated per-row subquery — and stay JVM-side
    q21 = PAIRS["q21_waiting_supplier"][0].replace("$SF", sf)
    plan = _plan(psql.sql(q21))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # Q8: the five-way join broadcasts every dimension side (lineitem is
    # the only fact-sized input at any SF)
    q08 = PAIRS["q08_market_share"][0].replace("$SF", sf)
    plan = _plan(psql.sql(q08))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_embedding_dedup_compose_runs_no_job(spark, sf):
    """Composing embedding_dup_pairs must not submit a Spark job.

    The dim probe used to call .first() at plan-build time; dim is now a
    required compose-time input (infer_vec_dim is the explicit opt-in job).
    """
    import pytest as _pytest

    from duckdb_psql_spark.operators.dedup import embedding_dup_pairs

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    pairs = embedding_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.9, planes=4, dim=64
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "plan composition submitted a Spark job"
    assert "cosine" in pairs.columns  # still a real plan
    with _pytest.raises(ValueError, match="dim"):
        embedding_dup_pairs(emb, id_col="vec_id", vec_col="embedding")


def test_ivf_bucket_partition_pruning(spark, sf):
    """Writing the IVF-assigned corpus partitionBy(bucket) makes the probe
    phase partition-pruned: the scan's PartitionFilters carry the bucket
    predicate, so non-probed buckets are never read — the claim behind
    'partition-prunable if written partitionBy(__bucket)'."""
    import tempfile

    from duckdb_psql_spark.operators.similarity import nearest_centroid_fixed

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    rows = emb.filter("vec_id < 4").orderBy("vec_id").collect()
    cents = [[float(x) for x in r["embedding"]] for r in rows]
    assigned = emb.join(
        nearest_centroid_fixed(emb, cents, id_col="vec_id", vec_col="embedding"),
        "vec_id",
    )
    path = tempfile.mkdtemp(prefix="psql_ivf_") + "/index.parquet"
    assigned.write.mode("overwrite").partitionBy("bucket").parquet(path)

    probed = spark.read.parquet(path).filter("bucket in (0, 2)")
    plan = _plan(probed)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "bucket" in pf and ("in (0, 2)" in pf.lower() or "IN (0,2)" in pf or "in (0,2)" in pf.lower())
    # the payload predicate does NOT appear as a data filter: pruning is
    # at the directory level
    assert probed.count() > 0


def test_q21_window_formulation_single_fact_shuffle(spark, sf):
    """The q21_window_fast formulation (inventory.py): both collect_set
    windows share ONE Window node over ONE hashpartitioning(l_orderkey)
    exchange of lineitem — versus three l_orderkey shuffles (base + semi
    probe + anti probe) in the EXISTS formulation. No semi/anti joins,
    and lineitem is scanned exactly once."""
    import __spark_entry__ as entry

    df = entry.queries()["q21_window_fast"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert plan.count("Window ") == 1
    assert plan.count("lineitem.parquet") == 1


def test_dup_spans_plan_no_udfs_no_cartesian(spark, sf):
    """duplicate_spans: pure codegen (no Python/UDF nodes), no cartesian
    product, and the dup-gram join is keyed on the hash (both sides
    hash-partitionable at any scale)."""
    from duckdb_psql_spark.operators.text import duplicate_spans

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    plan = (
        duplicate_spans(docs, gram_k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_plan_ratio_side_broadcast(spark, sf):
    """dsir_weights: the log-ratio table (<= buckets rows) reaches the
    corpus join as a broadcast — the corpus side never shuffles gram
    strings, only (id, bucket) partial-agg rows."""
    from duckdb_psql_spark.operators.text import dsir_weights

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    tgt = docs.limit(20)
    plan = (
        dsir_weights(docs, tgt, buckets=256)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pairwise_scoped_to_cluster(spark, sf):
    """semdedup's quadratic is cluster-scoped: the self-join condition
    carries the cluster equality (an equi-join on cluster_id, never a
    cartesian product over the corpus)."""
    from duckdb_psql_spark.operators.dedup import semdedup
    from duckdb_psql_spark.operators.similarity import random_planes

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    plan = (
        semdedup(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.5,
            centroids=random_planes(8, 64, 3),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cluster_id" in plan


def test_align_exists_probes_reuses_exchange(psql, spark, sf_dir):
    """Round-10 (VERDICT r9 #2): EXISTS(C) beside NOT EXISTS(C AND D)
    over the same source narrows to EXISTS(C AND NOT coalesce(D,false))
    — pure logic, no FD/FK assumptions — so both probes scan identical
    columns and Spark's ReuseExchange builds the probe relation once."""
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderkey as ok, o_custkey as ck, o_orderdate as od |> "
        f"where exists (select 1 from '{sf_dir}/lineitem.parquet' l2 "
        "where l2.l_orderkey = ok and l2.l_linenumber <> 1) |> "
        f"where not exists (select 1 from '{sf_dir}/lineitem.parquet' l3 "
        "where l3.l_orderkey = ok and l3.l_linenumber <> 1 "
        "and l3.l_shipdate > od + interval 60 day) |> "
        "select count() as n"
    )
    # an unexecuted adaptive plan (AdaptiveSparkPlan isFinalPlan=false)
    # shows no ReusedExchange: assert on the static plan
    aqe = "spark.sql.adaptive.enabled"
    prev_aqe = psql.spark.conf.get(aqe)
    psql.spark.conf.set(aqe, "false")
    try:
        df = psql.sql(q)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
        n_on = df.collect()[0].n
        # the off-switch applies from the next compose on
        psql.spark.conf.set("spark.psql.alignExistsProbes", "false")
        df_off = psql.sql(q)
        assert "ReusedExchange" not in (
            df_off._jdf.queryExecution().executedPlan().toString()
        )
        assert df_off.collect()[0].n == n_on
    finally:
        psql.spark.conf.unset("spark.psql.alignExistsProbes")
        psql.spark.conf.set(aqe, prev_aqe)


def test_align_exists_probes_leaves_nonmatching(psql, sf_dir):
    """The alignment must NOT fire for different sources or non-subset
    conjuncts — and never change values when it does fire."""
    # different sources: untouched (no ReusedExchange requirement, just
    # correct values)
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderkey as ok |> "
        f"where exists (select 1 from '{sf_dir}/lineitem.parquet' l2 "
        "where l2.l_orderkey = ok) |> "
        f"where not exists (select 1 from '{sf_dir}/customer.parquet' c "
        "where c.c_custkey = ok and c.c_acctbal < 0) |> "
        "select count() as n"
    )
    n = psql.sql(q).collect()[0].n
    assert n > 0
    # non-subset conjuncts (disjoint predicates): values still correct
    q2 = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderkey as ok |> "
        f"where exists (select 1 from '{sf_dir}/lineitem.parquet' l2 "
        "where l2.l_orderkey = ok and l2.l_quantity > 30) |> "
        f"where not exists (select 1 from '{sf_dir}/lineitem.parquet' l3 "
        "where l3.l_orderkey = ok and l3.l_quantity < 2) |> "
        "select count() as n"
    )
    import duckdb
    d = duckdb.sql(
        f"select count(*) from '{sf_dir}/orders.parquet' o "
        f"where exists (select 1 from '{sf_dir}/lineitem.parquet' l2 "
        "where l2.l_orderkey = o.o_orderkey and l2.l_quantity > 30) "
        f"and not exists (select 1 from '{sf_dir}/lineitem.parquet' l3 "
        "where l3.l_orderkey = o.o_orderkey and l3.l_quantity < 2)"
    ).fetchone()[0]
    assert psql.sql(q2).collect()[0].n == d
