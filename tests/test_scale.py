"""Scale-toolkit tests: bucketed joins skip their shuffle; salting keeps
results identical while scattering hot keys."""

import pytest

from duckdb_psql_spark import compiler


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_pair(spark, sf_dir):
    from duckdb_psql_spark.operators.scale import write_bucketed

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bc = write_bucketed(cust, "b_customer", keys=["c_custkey"], buckets=4)
    bo = write_bucketed(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        "b_orders", keys=["c_custkey"], buckets=4,
    )
    yield bc, bo
    spark.sql("DROP TABLE IF EXISTS b_customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_bucketed_join_no_shuffle(spark, bucketed_pair):
    bc, bo = bucketed_pair
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = bc.join(bo, "c_custkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located buckets: zero shuffles
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_agg_no_shuffle(spark, bucketed_pair):
    from pyspark.sql import functions as F

    _, bo = bucketed_pair
    agg = bo.groupBy("c_custkey").agg(F.count("*").alias("n"))
    assert "Exchange" not in _plan(agg)


def test_shuffled_hash_default_degrades_to_smj(spark, sf_dir):
    """Adversarial check on the session default
    ``preferSortMergeJoin=false`` (session.py): with a build side too big
    for a local hash map the planner must FALL BACK to sort-merge — the
    preference is a hint, not a correctness cliff. A comfortably small
    build side should still pick shuffled-hash (the 1.8-1.9x sf10 win),
    and both shapes must agree with each other."""
    from pyspark.sql import functions as F

    old = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    try:
        # small positive threshold: below every side here (no broadcast
        # escape hatch) but nonzero so canBuildLocalHashMap — which is
        # threshold × shuffle partitions — can still admit a SMALL build
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        # hot build: 50% of rows share key 0, fat payload → per-partition
        # build size far above the local-hash-map budget
        n = 400_000
        build = (
            spark.range(n)
            .withColumn(
                "k",
                F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(F.col("id") % 500),
            )
            .withColumn("pay", F.concat(F.lit("x" * 400), F.col("id").cast("string")))
        )
        probe = spark.range(50_000).withColumn("k", F.col("id") % 500)
        j = probe.join(build, "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan and "ShuffledHashJoin" not in plan, (
            "oversized hot build side must degrade to sort-merge"
        )
        smj_count = j.count()

        # small build side: the preference applies → shuffled-hash
        small_build = spark.range(2_000).withColumn("k", F.col("id") % 500)
        j2 = probe.join(small_build, "k")
        plan2 = _plan(j2)
        assert "ShuffledHashJoin" in plan2, "small build side should hash-join"

        # equality of the two physical shapes on the same logical join
        forced = spark.conf.get("spark.sql.join.preferSortMergeJoin")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        try:
            assert probe.join(build, "k").count() == smj_count
        finally:
            spark.conf.set("spark.sql.join.preferSortMergeJoin", forced)
    finally:
        for key, val in old.items():
            spark.conf.set(key, val)


def test_salted_join_matches_plain(spark, sf_dir):
    from duckdb_psql_spark.operators.scale import salted_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey", "c_name")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_custkey as c_custkey", "o_orderkey"
    )
    plain = orders.join(cust, "c_custkey").count()
    salted = salted_join(orders, cust, ["c_custkey"], salt=8)
    assert salted.count() == plain
    left_only = salted_join(
        cust, orders, ["c_custkey"], how="left", salt=4
    ).count()
    assert left_only == cust.join(orders, "c_custkey", "left").count()


def test_cluster_verb_and_bucketed_twins(psql, sf_dir):
    """Engine-level bucketed path (VERDICT r5 item 5): `cluster by`
    materializes a bucketed twin of a scanned path; later statements
    that shuffle that path on the bucket key are transparently
    recompiled against the twin and the join's exchanges disappear."""
    spark = psql.spark
    stmt = (
        f"from '{sf_dir}/lineitem.parquet' |> as l "
        f"join '{sf_dir}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |> "
        "select o_orderpriority, "
        "cast(round(sum(l_extendedprice), 2) as double) as rev, "
        "count() as n group by o_orderpriority |> order by o_orderpriority"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the engine's size-aware broadcast hint would bypass the forced -1
    # threshold on the tiny fixture; pin it off to keep the shuffle shape
    spark.conf.set("spark.psql.broadcastHint.maxBytes", "0")
    try:
        base = psql.sql(stmt)
        base_rows = [tuple(r) for r in base.collect()]
        base_plan = base._jdf.queryExecution().executedPlan().toString()
        assert base_plan.count("Exchange hashpartitioning") >= 3

        psql.sql(f"from '{sf_dir}/lineitem.parquet' |> cluster by l_orderkey buckets=4")
        psql.sql(f"from '{sf_dir}/orders.parquet' |> cluster by o_orderkey buckets=4")
        tw = psql.sql(stmt)
        tw_plan = tw._jdf.queryExecution().executedPlan().toString()
        # both sides read co-located buckets: the join's two exchanges are
        # gone; only the group-by/sort repartition remains
        assert "Bucketed: true" in tw_plan
        assert tw_plan.count("Exchange hashpartitioning") <= base_plan.count(
            "Exchange hashpartitioning"
        ) - 2
        assert [tuple(r) for r in tw.collect()] == base_rows

        # statements that do NOT shuffle on the bucket key keep the raw
        # path (no unconditional substitution — file-order semantics stay)
        scan = psql.sql(f"from '{sf_dir}/lineitem.parquet' |> select l_orderkey |> limit 5")
        assert "Bucketed: true" not in scan._jdf.queryExecution().executedPlan().toString()

        # off-switch restores the raw-path plan
        spark.conf.set("spark.psql.bucketedTwins", "false")
        off = psql.sql(stmt)
        assert "Bucketed: true" not in off._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.psql.broadcastHint.maxBytes")
        spark.conf.unset("spark.psql.bucketedTwins")
        res = psql._compiler.resolver
        twins = [
            ent[0] for layouts in res.bucketed_twins.values() for ent in layouts
        ]
        res.bucketed_twins.clear()
        for t in twins:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_twin_staleness(psql, sf_dir, tmp_path):
    """A twin whose source file changed after materialization is dropped,
    not served stale."""
    import shutil

    spark = psql.spark
    src = str(tmp_path / "r.parquet")
    shutil.copyfile(f"{sf_dir}/region.parquet", src)
    psql.sql(f"from '{src}' |> cluster by r_regionkey buckets=2 name=r_twin_stale")
    res = psql._compiler.resolver
    assert res.bucketed_twin(src) is not None
    # rewrite the source: fingerprint (bytes, mtime) changes
    spark.read.parquet(f"{sf_dir}/region.parquet").limit(2).write.mode(
        "overwrite"
    ).parquet(src)
    assert res.bucketed_twin(src) is None
    assert src not in res.bucketed_twins
    spark.sql("DROP TABLE IF EXISTS r_twin_stale")


def test_twin_skipped_for_order_sensitive_statements(psql, sf_dir):
    """ADVICE r6 (high): a statement that positional-joins a twinned path
    AND shuffles it on the bucket key downstream must NOT see the twin —
    the twin's bucketed row order differs from file order, so positional
    semantics would silently change."""
    spark = psql.spark
    # r_name must survive to the output: it's NULL except on the first
    # len(region) file-order rows of nation, so any reorder of the
    # nation scan visibly changes which nations carry a region name
    stmt = (
        f"from '{sf_dir}/nation.parquet' |> as n "
        f"positional join '{sf_dir}/region.parquet' as r |> "
        "select n_nationkey, r_name |> "
        "as z select n_nationkey, max(r_name) as rname group by n_nationkey "
        "|> order by n_nationkey"
    )
    try:
        base = [tuple(r) for r in psql.sql(stmt).collect()]
        psql.sql(
            f"from '{sf_dir}/nation.parquet' |> cluster by n_nationkey buckets=4 "
            "name=nation_ordersense_twin"
        )
        tw = psql.sql(stmt)
        # the twin (a bucketed catalog table) must not replace the
        # file-order scan — detect by table name, not "Bucketed: true":
        # order-insensitive consumers read twins with bucketing disabled
        assert "nation_ordersense_twin" not in _plan(tw)
        assert [tuple(r) for r in tw.collect()] == base
    finally:
        psql._compiler.resolver.bucketed_twins.clear()
        spark.sql("DROP TABLE IF EXISTS nation_ordersense_twin")


def _force_deferral(monkeypatch):
    """Byte gates that defer every dimension of the tiny fixture."""
    monkeypatch.setattr(compiler, "DEFER_SMALL_BYTES", 10**9)
    monkeypatch.setattr(compiler, "DEFER_BIG_BYTES", 1)


def test_defer_dim_joins_matches_plain(psql, spark, sf_dir, monkeypatch):
    """Deferred dim-join pass: a small⋈big pure inner join swaps so the
    big scan becomes the pipe and the dims re-attach at the first stage
    needing their columns — identical rows AND identical column order to
    the non-deferred plan (forced thresholds make the pass fire on the
    tiny fixture)."""
    q = (
        f"from '{sf_dir}/region.parquet' |> "
        f"as r join '{sf_dir}/nation.parquet' as n on r.r_regionkey = n.n_regionkey |> "
        f"as rn join '{sf_dir}/supplier.parquet' as s on rn.n_nationkey = s.s_nationkey |> "
        f"as rns join '{sf_dir}/lineitem.parquet' as l on rns.s_suppkey = l.l_suppkey |> "
        f"as rnsl join '{sf_dir}/orders.parquet' as o on rnsl.l_orderkey = o.o_orderkey |> "
        "select r_name, n_name, count() as n_items group by r_name, n_name |> "
        "order by n_items desc, n_name"
    )
    bare = (
        f"from '{sf_dir}/region.parquet' |> "
        f"as r join '{sf_dir}/nation.parquet' as n on r.r_regionkey = n.n_regionkey |> "
        f"as rn join '{sf_dir}/orders.parquet' as o on rn.n_nationkey = o.o_custkey % 5"
    )
    try:
        spark.conf.set("spark.psql.deferDimJoins", "false")
        base = [tuple(r) for r in psql.sql(q).collect()]
        base_cols = psql.sql(bare).columns
        spark.conf.set("spark.psql.deferDimJoins", "true")
        _force_deferral(monkeypatch)
        got_df = psql.sql(q)
        assert [tuple(r) for r in got_df.collect()] == base
        # the pass actually fired: the optimized plan differs from the
        # text join order (dims join sits ABOVE the fact-fact join)
        spark.conf.set("spark.psql.deferDimJoins", "false")
        off_plan = psql.sql(q)._jdf.queryExecution().optimizedPlan().toString()
        spark.conf.set("spark.psql.deferDimJoins", "true")
        on_plan = got_df._jdf.queryExecution().optimizedPlan().toString()
        assert on_plan != off_plan
        # a bare-join tail (implicit SELECT *) keeps the dims-first order
        assert psql.sql(bare).columns == base_cols
    finally:
        spark.conf.set("spark.psql.deferDimJoins", "true")


def test_defer_dims_flushes_on_dim_column_reference(psql, spark, sf_dir, monkeypatch):
    """A later ON referencing a deferred dims column forces the flush —
    results stay identical to the non-deferred compile."""
    q = (
        f"from '{sf_dir}/region.parquet' |> "
        f"as r join '{sf_dir}/supplier.parquet' as s on r.r_regionkey = s.s_nationkey % 5 |> "
        f"as rs join '{sf_dir}/lineitem.parquet' as l on rs.s_suppkey = l.l_suppkey |> "
        f"as rsl join '{sf_dir}/nation.parquet' as n on rsl.s_nationkey = n.n_nationkey |> "
        "select n_name, count() as n group by n_name |> order by n_name"
    )
    try:
        spark.conf.set("spark.psql.deferDimJoins", "false")
        base = [tuple(r) for r in psql.sql(q).collect()]
        spark.conf.set("spark.psql.deferDimJoins", "true")
        _force_deferral(monkeypatch)
        assert [tuple(r) for r in psql.sql(q).collect()] == base
    finally:
        spark.conf.set("spark.psql.deferDimJoins", "true")


def test_defer_dims_skips_eager_agg_until_flush(psql, spark, sf_dir, monkeypatch):
    """With a deferred dims join pending, the eager-agg (join, agg) pair
    rewrite must NOT fire — it would aggregate away the dims join
    columns before the flush (caught live: count-by-dim-column over a
    transparent middle join)."""
    import duckdb

    q = (
        f"from '{sf_dir}/region.parquet' |> "
        f"as r join '{sf_dir}/nation.parquet' as n on r.r_regionkey = n.n_regionkey |> "
        f"as rn join '{sf_dir}/lineitem.parquet' as l on rn.n_nationkey = l.l_suppkey |> "
        "select n_name, count() as cnt group by n_name |> order by n_name"
    )
    want = duckdb.sql(
        f"select n_name, count(*) as cnt from '{sf_dir}/region.parquet' r "
        f"join '{sf_dir}/nation.parquet' n on r.r_regionkey = n.n_regionkey "
        f"join '{sf_dir}/lineitem.parquet' l on n.n_nationkey = l.l_suppkey "
        "group by n_name order by n_name"
    ).fetchall()
    _force_deferral(monkeypatch)
    assert [tuple(r) for r in psql.sql(q).collect()] == want

