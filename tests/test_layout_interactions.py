"""Probe batch 10 (VERDICT r12 #6): the layout interaction matrix.

CLUSTER-materialized layouts (path twins and round-13 catalog twins)
composed with the OTHER statement classes that can mutate or consume
their sources: COPY TO over a twinned path, MERGE into a twin-backed
table, unrelated catalog DDL (DROP MACRO, ATTACH), the count-
distribution fold, and the scan-reuse pass. Every scenario checks the
two properties a 100 TB deployment needs: a mutated source NEVER serves
its stale twin (values always match the fresh raw path), and an
UNRELATED mutation never invalidates a layout (co-location is not lost
to noise)."""

from __future__ import annotations

import re
import shutil

import pytest

from duckdb_psql_spark import compiler


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def psql2(spark):
    from duckdb_psql_spark import PsqlSession

    p = PsqlSession(spark)
    yield p
    res = p._compiler.resolver
    twins = [ent[0] for layouts in res.bucketed_twins.values() for ent in layouts]
    twins += [ent[0] for layouts in res.table_twins.values() for ent in layouts]
    res.bucketed_twins.clear()
    res.table_twins.clear()
    for t in set(twins):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_copy_to_twinned_path_invalidates(psql2, spark, sf_dir, tmp_path):
    """COPY ... TO a path that carries a bucketed twin rewrites the file:
    the fingerprint must invalidate the twin, and the next shuffling
    statement must read the NEW rows from the raw path."""
    src = str(tmp_path / "nation.parquet")
    shutil.copyfile(f"{sf_dir}/nation.parquet", src)
    psql2.sql(f"from '{src}' |> cluster by n_regionkey buckets=2 name=li_copy_twin")
    res = psql2._compiler.resolver
    assert res.bucketed_twin(src) is not None
    # rewrite the twinned path through the engine's own COPY TO
    psql2.sql(
        f"copy (| from '{sf_dir}/nation.parquet' |> where n_regionkey = 0 |) "
        f"to '{src}' (format parquet)"
    )
    agg = psql2.sql(
        f"from '{src}' |> select n_regionkey, count() as n group by n_regionkey"
    )
    assert "li_copy_twin" not in _plan(agg)
    rows = [tuple(r) for r in agg.collect()]
    assert rows == [(0, 5)]
    assert res.bucketed_twin(src) is None
    spark.sql("DROP TABLE IF EXISTS li_copy_twin")


def test_merge_into_twin_backed_table(psql2, spark, sf_dir):
    """MERGE INTO a catalog table that carries a bucketed twin: the
    twin goes stale (visible), the post-merge join serves the MERGED
    rows, and a CLUSTER re-run rebuilds only that layout."""
    psql2.sql("drop table if exists li_m_orders")
    psql2.sql("drop table if exists li_m_customer")
    psql2.sql(
        f"create table li_m_orders as "
        f"(| from '{sf_dir}/orders.parquet' |> limit 500 |)"
    )
    psql2.sql(
        f"create table li_m_customer as (| from '{sf_dir}/customer.parquet' |)"
    )
    psql2.sql(
        "declare foreign key on li_m_orders (o_custkey) "
        "references li_m_customer (c_custkey)"
    )
    made = psql2.sql("cluster declared keys minbytes=0 buckets=2").collect()
    assert {r.source for r in made} == {"li_m_orders", "li_m_customer"}
    stmt = (
        "from li_m_orders |> as o join li_m_customer as c "
        "on o.o_custkey = c.c_custkey |> "
        "select count() as n, cast(sum(cast(o_totalprice * 100 as bigint)) "
        "as bigint) as p"
    )
    before = psql2.sql(stmt).collect()[0]
    # MERGE: bump every totalprice by 1.0 for half the orders
    psql2.sql(
        "merge into li_m_orders as t using "
        "(| from li_m_orders |> where o_orderkey % 2 = 0 |) as s "
        "on t.o_orderkey = s.o_orderkey "
        "when matched then update set o_totalprice = t.o_totalprice + 1.0"
    )
    status = dict(
        (r.source, r.status)
        for r in psql2.sql("show cluster layouts").collect()
    )
    assert status["li_m_orders"] == "stale"
    assert status["li_m_customer"] == "fresh"
    after = psql2.sql(stmt).collect()[0]
    assert after.n == before.n
    assert after.p > before.p  # merged values, not the stale twin snapshot
    redo = psql2.sql("cluster declared keys minbytes=0 buckets=2").collect()
    assert [r.source for r in redo] == ["li_m_orders"]
    assert psql2.sql(stmt).collect()[0].p == after.p
    spark.sql("DROP TABLE IF EXISTS li_m_orders")
    spark.sql("DROP TABLE IF EXISTS li_m_customer")


def test_unrelated_ddl_keeps_layouts_fresh(psql2, spark, sf_dir, tmp_path):
    """DROP MACRO / ATTACH / CREATE VIEW touching OTHER objects must not
    invalidate existing layouts — losing co-location to unrelated DDL
    would silently re-shuffle every fact join after any catalog churn."""
    src = str(tmp_path / "orders.parquet")
    ref = str(tmp_path / "customer.parquet")
    shutil.copyfile(f"{sf_dir}/orders.parquet", src)
    shutil.copyfile(f"{sf_dir}/customer.parquet", ref)
    psql2.sql(
        f"declare foreign key on '{src}' (o_custkey) "
        f"references '{ref}' (c_custkey)"
    )
    psql2.sql("drop table if exists li_ddl_t")
    psql2.sql(f"create table li_ddl_t as (| from '{sf_dir}/nation.parquet' |)")
    psql2.sql("declare primary key on li_ddl_t (n_nationkey)")
    psql2.sql(
        "declare foreign key on li_ddl_t (n_regionkey) references li_ddl_t "
        "(n_nationkey)"
    )  # self-edge: gives the catalog side a twin too
    psql2.sql("cluster declared keys minbytes=0 buckets=2")
    fresh0 = {
        (r.source, r.status)
        for r in psql2.sql("show cluster layouts").collect()
    }
    assert all(s == "fresh" for _, s in fresh0)
    # unrelated catalog churn
    psql2.sql("create macro li_mac(x) as x + 1")
    psql2.sql("drop macro li_mac")
    att = tmp_path / "attdir"
    att.mkdir()
    shutil.copyfile(f"{sf_dir}/region.parquet", att / "region.parquet")
    psql2.sql(f"attach '{att}' as li_att")
    psql2.sql("detach li_att")
    psql2.sql(f"create view li_unrel_v as (| from '{sf_dir}/region.parquet' |)")
    fresh1 = {
        (r.source, r.status)
        for r in psql2.sql("show cluster layouts").collect()
    }
    assert fresh1 == fresh0, "unrelated DDL invalidated a layout"
    # and a re-run materializes nothing
    assert psql2.sql("cluster declared keys minbytes=0").count() == 0
    spark.catalog.dropTempView("li_unrel_v")
    spark.sql("DROP TABLE IF EXISTS li_ddl_t")


def test_fold_over_twin_with_scan_reuse_active(psql2, spark, sf_dir, monkeypatch):
    """The q13 count-distribution fold consuming a group-key layout
    while the scan-reuse pass is enabled at a 0-byte floor (so BOTH
    passes are live on the same statement): values must match the
    plain evaluation exactly (the ADVICE r12 #3 interaction class)."""
    q13 = f"""
    from '{sf_dir}/customer.parquet' |>
    as c left join '{sf_dir}/orders.parquet' as o
      on c.c_custkey = o.o_custkey and o.o_orderpriority <> '1-URGENT' |>
    select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
    select c_count, count() as custdist group by c_count |>
    order by custdist desc, c_count desc
    """
    base = [tuple(r) for r in psql2.sql(q13).collect()]
    for t, k in [("orders", "o_orderkey"), ("customer", "c_custkey")]:
        psql2.sql(f"declare primary key on '{sf_dir}/{t}.parquet' ({k})")
    psql2.sql(
        f"declare foreign key on '{sf_dir}/orders.parquet' (o_custkey) "
        f"references '{sf_dir}/customer.parquet' (c_custkey)"
    )
    psql2.sql("cluster declared keys minbytes=0 buckets=2")
    monkeypatch.setattr(compiler, "TINY_INPUT_BYTES", 0)
    df = psql2.sql(q13)
    assert [tuple(r) for r in df.collect()] == base
    assert "Bucketed: true" in _plan(df)


def test_repeated_path_statement_over_twin(psql2, spark, sf_dir, monkeypatch):
    """q21-class statement (same path referenced twice: correlated
    EXISTS) over a twinned path with scan reuse forced on — the twin
    substitution and the scan-reuse persist pass compose without
    changing values."""
    stmt = f"""
    from '{sf_dir}/orders.parquet' |> as o1
    where o_orderpriority = '1-URGENT' and exists (
      select 1 from '{sf_dir}/orders.parquet' o2
      where o2.o_custkey = o1.o_custkey and o2.o_orderpriority = '5-LOW')
    |> select count() as n
    """
    base = [tuple(r) for r in psql2.sql(stmt).collect()]
    psql2.sql(
        f"from '{sf_dir}/orders.parquet' |> cluster by o_custkey buckets=2 "
        f"name=li_rep_twin"
    )
    monkeypatch.setattr(compiler, "TINY_INPUT_BYTES", 0)
    assert [tuple(r) for r in psql2.sql(stmt).collect()] == base
    spark.sql("DROP TABLE IF EXISTS li_rep_twin")


def test_insert_into_twinned_path_backed_view(psql2, spark, sf_dir, tmp_path):
    """A VIEW twin whose underlying FILE is rewritten out-of-band (not
    through any engine statement) goes stale via the input-files half
    of the fingerprint, and the view query returns the new rows."""
    src = str(tmp_path / "n.parquet")
    shutil.copyfile(f"{sf_dir}/nation.parquet", src)
    psql2.sql(f"create view li_nv as (| from '{src}' |)")
    psql2.sql(f"create view li_rv as (| from '{sf_dir}/region.parquet' |)")
    psql2.sql(
        "declare foreign key on li_nv (n_regionkey) references li_rv "
        "(r_regionkey)"
    )
    psql2.sql("cluster declared keys minbytes=0 buckets=2")
    assert all(
        r.status == "fresh"
        for r in psql2.sql("show cluster layouts").collect()
    )
    # rewrite src IN PLACE as a flat file (same layout the view was
    # defined over): write elsewhere, copy the part file over src
    import glob as _glob

    staging = str(tmp_path / "staging")
    spark.read.parquet(f"{sf_dir}/nation.parquet").limit(4).coalesce(
        1
    ).write.mode("overwrite").parquet(staging)
    part = _glob.glob(f"{staging}/part-*.parquet")[0]
    shutil.copyfile(part, src)
    status = dict(
        (r.source, r.status)
        for r in psql2.sql("show cluster layouts").collect()
    )
    assert status["li_nv"] == "stale"
    # the temp view's analyzed plan pins the OLD file index — Spark
    # semantics for views over replaced files; the user-visible refresh
    # is refreshByPath (direct path reads need none: the resolver's
    # fingerprint-keyed cache re-resolves them)
    spark.catalog.refreshByPath(src)
    got = psql2.sql("from li_nv |> select count() as n").collect()[0].n
    assert got == 4
    spark.catalog.dropTempView("li_nv")
    spark.catalog.dropTempView("li_rv")
