"""CLUSTER DECLARED KEYS — the engine-driven co-location statement
(VERDICT r11 item 1): from the declared FK graph, materialize bucketed
twins of each large join edge's endpoints so later statements compile
to co-located (exchange-free) joins, with values identical to the
raw-path plan. A path may carry several layouts on different keys
(round 12): the substitution pass picks the layout whose key the plan
actually shuffles on, and the count-distribution fold consumes a
group-key layout directly."""

from __future__ import annotations

import re

import pytest

from duckdb_psql_spark import compiler


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def clustered(spark, sf_dir):
    from duckdb_psql_spark import PsqlSession

    p = PsqlSession(spark)  # fresh session: constraints/twins isolated
    for t, k in [("orders", "o_orderkey"), ("customer", "c_custkey")]:
        p.sql(f"declare primary key on '{sf_dir}/{t}.parquet' ({k})")
    for t, c, rt, rk in [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
    ]:
        p.sql(
            f"declare foreign key on '{sf_dir}/{t}.parquet' ({c}) "
            f"references '{sf_dir}/{rt}.parquet' ({rk})"
        )
    yield p
    res = p._compiler.resolver
    twins = [ent[0] for layouts in res.bucketed_twins.values() for ent in layouts]
    res.bucketed_twins.clear()
    for t in twins:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cluster_declared_materializes_edge_endpoints(clustered, sf_dir):
    rows = clustered.sql("cluster declared keys minbytes=0 buckets=4").collect()
    made = {(r.source, r.keys) for r in rows}
    # biggest edge (lineitem->orders) claims both endpoints on its join
    # keys; the orders->customer edge then adds a SECOND orders layout
    # on o_custkey (projection-style) plus customer on its key
    assert made == {
        (f"{sf_dir}/lineitem.parquet", "l_orderkey"),
        (f"{sf_dir}/orders.parquet", "o_orderkey"),
        (f"{sf_dir}/orders.parquet", "o_custkey"),
        (f"{sf_dir}/customer.parquet", "c_custkey"),
    }
    assert all(r.buckets == 4 for r in rows)
    layouts = clustered._compiler.resolver.bucketed_twin_layouts(
        f"{sf_dir}/orders.parquet"
    )
    # priority order = edge-size order: the o_orderkey layout first
    assert [keys for _, keys in layouts] == [("o_orderkey",), ("o_custkey",)]


def test_cluster_declared_minbytes_floor_skips_all(clustered):
    # default floor is 64 MB; every sf0.001 table is far below it
    assert clustered.sql("cluster declared keys").count() == 0
    assert not clustered._compiler.resolver.bucketed_twins


def test_cluster_declared_unknown_option(clustered):
    from duckdb_psql_spark.errors import PsqlCompileError

    with pytest.raises(PsqlCompileError, match="unknown option"):
        clustered.sql("cluster declared keys shards=3")


def test_cluster_declared_join_goes_exchange_free(clustered, sf_dir):
    """After CLUSTER DECLARED KEYS, the q03-class fact join compiles
    against both twins and the join-side exchanges disappear; values
    match the raw-path plan exactly."""
    spark = clustered.spark
    stmt = (
        f"from '{sf_dir}/lineitem.parquet' |> as l "
        f"join '{sf_dir}/orders.parquet' as o on l.l_orderkey = o.o_orderkey "
        "|> select o_orderpriority, "
        "cast(round(sum(l_extendedprice), 2) as double) as rev, "
        "count() as n group by o_orderpriority |> order by o_orderpriority"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.psql.broadcastHint.maxBytes", "0")
    try:
        base = clustered.sql(stmt)
        base_rows = [tuple(r) for r in base.collect()]
        base_ex = _plan(base).count("Exchange hashpartitioning")
        assert base_ex >= 3
        clustered.sql("cluster declared keys minbytes=0 buckets=4")
        tw = clustered.sql(stmt)
        tw_plan = _plan(tw)
        assert "Bucketed: true" in tw_plan
        assert tw_plan.count("Exchange hashpartitioning") <= base_ex - 2
        assert [tuple(r) for r in tw.collect()] == base_rows
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.psql.broadcastHint.maxBytes")


def test_fold_consumes_group_key_layout(clustered, sf_dir):
    """The q13 count-distribution fold reads the o_custkey layout when
    one exists: its pre-aggregation then groups co-located buckets with
    ZERO exchange on the group key, and values still match DuckDB's
    full-join evaluation order (the differential entry's oracle)."""
    q13 = f"""
    from '{sf_dir}/customer.parquet' |>
    as c left join '{sf_dir}/orders.parquet' as o
      on c.c_custkey = o.o_custkey and o.o_orderpriority <> '1-URGENT' |>
    select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
    select c_count, count() as custdist group by c_count |>
    order by custdist desc, c_count desc
    """
    base_rows = [tuple(r) for r in clustered.sql(q13).collect()]
    clustered.sql("cluster declared keys minbytes=0 buckets=4")
    df = clustered.sql(q13)
    plan = _plan(df)
    assert "Bucketed: true" in plan
    assert not re.search(
        r"Exchange hashpartitioning\([^)]*(__cd_k|o_custkey)", plan
    ), "fold pre-aggregation still shuffles despite the co-located layout"
    assert [tuple(r) for r in df.collect()] == base_rows


def test_cluster_declared_idempotent(clustered):
    first = clustered.sql("cluster declared keys minbytes=0 buckets=4")
    assert first.count() == 4
    # second invocation: every (path, keys) already claimed
    assert clustered.sql("cluster declared keys minbytes=0").count() == 0


def test_cluster_declared_default_buckets_are_bytes_derived(
    clustered, spark, monkeypatch
):
    """The bucket default must come from endpoint bytes, never from
    spark.sql.shuffle.partitions: that conf is re-tuned per statement
    from the statement's own path literals, and CLUSTER DECLARED KEYS
    has none — it inherits whatever the previous statement set.
    Reproduced at sf10: a tiny preceding DECLARE left partitions=1, the
    old max(partitions, 8) default wrote 8-bucket twins of a 1.4 GB
    fact, and the first co-located join OOM'd its per-task hash build
    ("Can't acquire 536870912 bytes")."""
    spark.conf.set("spark.sql.shuffle.partitions", "1")  # tiny-band relic
    # 1-byte target makes the (tiny) endpoint bytes dominate, and the
    # cap clamps to a checkable value; under the old partitions-derived
    # default this comes out 8, not 16
    monkeypatch.setattr(compiler, "BUCKET_TARGET_BYTES", 1)
    monkeypatch.setattr(compiler, "MAX_BUCKETS", 16)
    try:
        rows = clustered.sql("cluster declared keys minbytes=0").collect()
        assert rows and all(r.buckets == 16 for r in rows)
    finally:
        spark.conf.unset("spark.sql.shuffle.partitions")


def test_twin_names_disambiguate_same_basename(spark, sf_dir, tmp_path):
    """ADVICE r12 (medium): two declared datasets whose files share a
    basename and key column (sf1/orders.parquet and sf10/orders.parquet
    in one session) must get DISTINCT twin tables — the old
    stem-plus-keys name collided, so the second CLUSTER DECLARED KEYS
    overwrote the first's table while both paths stayed registered
    against it, silently serving the wrong dataset's rows."""
    import shutil

    from duckdb_psql_spark import PsqlSession

    a_dir, b_dir = tmp_path / "a", tmp_path / "b"
    a_dir.mkdir(); b_dir.mkdir()
    shutil.copyfile(f"{sf_dir}/region.parquet", a_dir / "region.parquet")
    # dataset B: same basename, DIFFERENT rows (2-row prefix)
    spark.read.parquet(f"{sf_dir}/region.parquet").orderBy(
        "r_regionkey"
    ).limit(2).write.mode("overwrite").parquet(str(b_dir / "region.parquet"))
    shutil.copyfile(f"{sf_dir}/nation.parquet", a_dir / "nation.parquet")
    shutil.copyfile(f"{sf_dir}/nation.parquet", b_dir / "nation.parquet")
    p = PsqlSession(spark)
    twins = []
    try:
        for d in (a_dir, b_dir):
            p.sql(
                f"declare foreign key on '{d}/nation.parquet' (n_regionkey) "
                f"references '{d}/region.parquet' (r_regionkey)"
            )
        rows = p.sql("cluster declared keys minbytes=0 buckets=2").collect()
        twins = [r.twin for r in rows]
        by_src = {r.source: r.twin for r in rows}
        ta = by_src[f"{a_dir}/region.parquet"]
        tb = by_src[f"{b_dir}/region.parquet"]
        assert ta != tb, "same-basename twins must not share a table"
        assert spark.table(ta).count() == 5
        assert spark.table(tb).count() == 2
    finally:
        p._compiler.resolver.bucketed_twins.clear()
        for t in twins:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cluster_rerun_rematerializes_stale_layout(spark, sf_dir, tmp_path):
    """ADVICE r12 (medium) + VERDICT r12 #3: after the source parquet is
    rewritten, re-running CLUSTER DECLARED KEYS must re-materialize the
    now-stale layout in ONE run (the old pre-claim read the raw registry
    without the staleness check, so the stale entry blocked the rebuild
    and co-location was silently lost until a third run)."""
    import shutil

    from duckdb_psql_spark import PsqlSession

    src = str(tmp_path / "nation.parquet")
    ref = str(tmp_path / "region.parquet")
    shutil.copyfile(f"{sf_dir}/nation.parquet", src)
    shutil.copyfile(f"{sf_dir}/region.parquet", ref)
    p = PsqlSession(spark)
    twins = []
    try:
        p.sql(
            f"declare foreign key on '{src}' (n_regionkey) "
            f"references '{ref}' (r_regionkey)"
        )
        first = p.sql("cluster declared keys minbytes=0 buckets=2").collect()
        twins = [r.twin for r in first]
        assert {r.source for r in first} == {src, ref}
        # idempotent while fresh
        assert p.sql("cluster declared keys minbytes=0").count() == 0
        # rewrite ONE source: its layout goes stale
        spark.read.parquet(f"{sf_dir}/nation.parquet").limit(3).write.mode(
            "overwrite"
        ).parquet(src)
        redo = p.sql("cluster declared keys minbytes=0 buckets=2").collect()
        assert [r.source for r in redo] == [src], (
            "re-run must rebuild exactly the stale layout"
        )
        twins.extend(r.twin for r in redo)
        assert spark.table(redo[0].twin).count() == 3
        # and the fresh layout is registered again
        res = p._compiler.resolver
        assert res.bucketed_twin(src) is not None
    finally:
        p._compiler.resolver.bucketed_twins.clear()
        for t in set(twins):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cluster_declared_bad_minbytes_value(clustered):
    from duckdb_psql_spark.errors import PsqlCompileError

    with pytest.raises(PsqlCompileError, match="minbytes"):
        clustered.sql("cluster declared keys minbytes=64MB")


def test_cluster_declared_catalog_table_endpoints(spark, sf_dir):
    """Round 13 (VERDICT r12 #1): CLUSTER DECLARED KEYS serves CATALOG
    endpoints — saved tables — not just path scans: the FK walk sizes
    them from their input files, materializes bucketed twins, and the
    substitution pass recompiles a later name-referencing join against
    the twins so its fact exchanges disappear; INSERT into the source
    table makes the layout stale (visible via SHOW CLUSTER LAYOUTS) and
    a re-run rebuilds exactly that layout."""
    from duckdb_psql_spark import PsqlSession

    p = PsqlSession(spark)
    stmt = (
        "from cd_orders_t |> as o join cd_customer_t as c "
        "on o.o_custkey = c.c_custkey |> "
        "select c_mktsegment, count() as n group by c_mktsegment "
        "|> order by c_mktsegment"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.psql.broadcastHint.maxBytes", "0")
    twins = []
    try:
        p.sql(f"create table cd_orders_t as (| from '{sf_dir}/orders.parquet' |)")
        p.sql(f"create table cd_customer_t as (| from '{sf_dir}/customer.parquet' |)")
        p.sql(
            "declare foreign key on cd_orders_t (o_custkey) "
            "references cd_customer_t (c_custkey)"
        )
        base_rows = [tuple(r) for r in p.sql(stmt).collect()]
        made = p.sql("cluster declared keys minbytes=0 buckets=4").collect()
        twins = [r.twin for r in made]
        assert {r.source for r in made} == {"cd_orders_t", "cd_customer_t"}
        tw = p.sql(stmt)
        plan = _plan(tw)
        assert "Bucketed: true" in plan
        assert not re.search(
            r"Exchange hashpartitioning\([^)]*\b(o_custkey|c_custkey)#", plan
        ), "catalog-endpoint join still shuffles on the FK key"
        assert [tuple(r) for r in tw.collect()] == base_rows
        # idempotent while fresh
        assert p.sql("cluster declared keys minbytes=0").count() == 0
        # mutate the source table: layout stale, visibly
        p.sql(f"insert into cd_orders_t (| from '{sf_dir}/orders.parquet' |> limit 7 |)")
        status = {
            (r.source, r.status)
            for r in p.sql("show cluster layouts").collect()
        }
        assert ("cd_orders_t", "stale") in status
        assert ("cd_customer_t", "fresh") in status
        redo = p.sql("cluster declared keys minbytes=0 buckets=4").collect()
        assert [r.source for r in redo] == ["cd_orders_t"]
        twins.extend(r.twin for r in redo)
        again = p.sql(stmt)
        assert "Bucketed: true" in _plan(again)
        # twin reflects the post-insert rows
        n_base = [tuple(r) for r in p.sql(stmt).collect()]
        assert sum(r[1] for r in n_base) == sum(r[1] for r in base_rows) + 7
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.psql.broadcastHint.maxBytes")
        p._compiler.resolver.table_twins.clear()
        for t in set(twins) | {"cd_orders_t", "cd_customer_t"}:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cluster_declared_view_endpoint_and_redefinition(spark, sf_dir):
    """View endpoints cluster too, and the plan-signature half of the
    fingerprint catches a view REDEFINED over the same input files (a
    different filter): the stale twin is never substituted — the
    redefined view's own values come back — and SHOW CLUSTER LAYOUTS
    says stale."""
    from duckdb_psql_spark import PsqlSession

    p = PsqlSession(spark)
    stmt = (
        "from cd_ov |> as o join cd_cv as c on o.o_custkey = c.c_custkey |> "
        "select c_mktsegment, count() as n group by c_mktsegment "
        "|> order by c_mktsegment"
    )
    twins = []
    try:
        p.sql(
            f"create view cd_ov as (| from '{sf_dir}/orders.parquet' "
            f"|> where o_orderstatus = 'O' |)"
        )
        p.sql(f"create view cd_cv as (| from '{sf_dir}/customer.parquet' |)")
        p.sql(
            "declare foreign key on cd_ov (o_custkey) "
            "references cd_cv (c_custkey)"
        )
        made = p.sql("cluster declared keys minbytes=0 buckets=4").collect()
        twins = [r.twin for r in made]
        assert {r.source for r in made} == {"cd_ov", "cd_cv"}
        r1 = [tuple(r) for r in p.sql(stmt).collect()]
        p.sql(
            f"create or replace view cd_ov as (| from '{sf_dir}/orders.parquet' "
            f"|> where o_orderstatus = 'F' |)"
        )
        status = dict(
            (r.source, r.status)
            for r in p.sql("show cluster layouts").collect()
        )
        assert status["cd_ov"] == "stale"
        r2 = [tuple(r) for r in p.sql(stmt).collect()]
        # the redefined view's values, NOT the stale twin's snapshot
        oracle = [
            tuple(r)
            for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
            .filter("o_orderstatus = 'F'")
            .join(
                spark.read.parquet(f"{sf_dir}/customer.parquet"),
                on=[F_col("o_custkey") == F_col("c_custkey")],
            )
            .groupBy("c_mktsegment")
            .count()
            .orderBy("c_mktsegment")
            .collect()
        ]
        assert r2 == oracle
        assert r1 != r2
    finally:
        p._compiler.resolver.table_twins.clear()
        spark.catalog.dropTempView("cd_ov")
        spark.catalog.dropTempView("cd_cv")
        for t in set(twins):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


from pyspark.sql.functions import col as F_col  # noqa: E402


def test_twin_substitution_fires_for_relative_paths(clustered, sf_dir):
    """Layouts register under the resolved absolute path; a statement
    written with a cwd-relative path to the same files must still find
    them (round 13: the lookup fell through and the session silently
    lost co-location — the silent-2x class VERDICT r12 #3 flagged)."""
    import os

    rel = os.path.relpath(sf_dir)
    assert not os.path.isabs(rel)
    spark = clustered.spark
    stmt = (
        f"from '{rel}/lineitem.parquet' |> as l "
        f"join '{rel}/orders.parquet' as o on l.l_orderkey = o.o_orderkey "
        "|> select o_orderpriority, "
        "cast(round(sum(l_extendedprice), 2) as double) as rev, "
        "count() as n group by o_orderpriority |> order by o_orderpriority"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.psql.broadcastHint.maxBytes", "0")
    try:
        base = clustered.sql(stmt)
        base_rows = [tuple(r) for r in base.collect()]
        clustered.sql("cluster declared keys minbytes=0 buckets=4")
        tw = clustered.sql(stmt)
        tw_plan = _plan(tw)
        assert "Bucketed: true" in tw_plan
        assert [tuple(r) for r in tw.collect()] == base_rows
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.psql.broadcastHint.maxBytes")


def test_relative_cluster_by_found_by_absolute_query(spark, sf_dir):
    """Mirror of the relative-path lookup fix (ADVICE r13): `cluster by`
    registered through a RELATIVE path must be found by a query written
    with the absolute path — the registry key is abspath-normalized, so
    both registration flows and both statement spellings converge."""
    import os

    from duckdb_psql_spark import PsqlSession

    rel = os.path.relpath(sf_dir)
    assert not os.path.isabs(rel)
    p = PsqlSession(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.psql.broadcastHint.maxBytes", "0")
    try:
        p.sql(
            f"from '{rel}/lineitem.parquet' |> cluster by l_orderkey "
            "buckets=4 name=rel_li_twin"
        )
        p.sql(
            f"from '{rel}/orders.parquet' |> cluster by o_orderkey "
            "buckets=4 name=rel_o_twin"
        )
        stmt = (
            f"from '{sf_dir}/lineitem.parquet' |> as l "
            f"join '{sf_dir}/orders.parquet' as o on l.l_orderkey = o.o_orderkey "
            "|> select o_orderpriority, count() as n group by o_orderpriority "
            "|> order by o_orderpriority"
        )
        tw = p.sql(stmt)
        assert "Bucketed: true" in tw._jdf.queryExecution().executedPlan().toString()
        raw = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .join(
                spark.read.parquet(f"{sf_dir}/orders.parquet"),
                on=[F_col("l_orderkey") == F_col("o_orderkey")],
            )
            .groupBy("o_orderpriority")
            .count()
            .orderBy("o_orderpriority")
        )
        assert [tuple(r) for r in tw.collect()] == [tuple(r) for r in raw.collect()]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.psql.broadcastHint.maxBytes")
        for t in ("rel_li_twin", "rel_o_twin"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


class _NoAddNoteError(OSError):
    """An error without ``add_note``, as every exception is on Python 3.10."""

    def __getattribute__(self, name):
        if name == "add_note":
            raise AttributeError(name)
        return super().__getattribute__(name)


@pytest.mark.parametrize("error", [OSError, _NoAddNoteError])
def test_failed_twin_writes_are_all_reported(spark, sf_dir, monkeypatch, error):
    """Two of three twin writes fail: the twin that landed still
    registers, and the raised error, of the type the write raised,
    names both failed twins."""
    from duckdb_psql_spark import PsqlSession
    from duckdb_psql_spark.operators import scale

    real = scale.write_bucketed

    def flaky(df, name, **kw):
        if name.startswith(("customer_", "supplier_")):
            raise error("disk full")
        return real(df, name, **kw)

    monkeypatch.setattr(scale, "write_bucketed", flaky)
    p = PsqlSession(spark)
    nation = f"{sf_dir}/nation.parquet"
    p.sql(f"declare primary key on '{nation}' (n_nationkey)")
    for t, c in [("customer", "c_nationkey"), ("supplier", "s_nationkey")]:
        p.sql(
            f"declare foreign key on '{sf_dir}/{t}.parquet' ({c}) "
            f"references '{nation}' (n_nationkey)"
        )
    res = p._compiler.resolver
    try:
        with pytest.raises(error, match="disk full") as ei:
            p.sql("cluster declared keys minbytes=0 buckets=2")
        assert type(ei.value) is error
        assert [keys for _, keys in res.bucketed_twin_layouts(nation)] == [
            ("n_nationkey",)
        ]
        notes = "\n".join(ei.value.__notes__)
        assert re.search(r"twin customer_by_c_nationkey_\w+", notes)
        assert re.search(r"twin supplier_by_s_nationkey_\w+", notes)
        assert f"{error.__name__}: disk full" in notes
    finally:
        twins = [e[0] for layouts in res.bucketed_twins.values() for e in layouts]
        res.bucketed_twins.clear()
        for t in twins:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
