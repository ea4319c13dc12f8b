"""Declared informational key constraints (constraints.py) and the
FK-join elimination pre-pass (compiler._eliminate_fk_joins).

The reference delegates key declarations to DuckDB's own table
constraints; file scans can't carry DDL in either engine, so the
session-level DECLARE surface is the Spark-side analogue. Elimination
semantics: an inner join on a declared-complete FK to a declared-unique
key, whose right side contributes nothing downstream, is a per-row
no-op — removing it must be value-invisible and scan-invisible."""

import pytest

from tests.conftest import SF_DIR

Q05 = f"""
from '{SF_DIR}/region.parquet' |>
as r join '{SF_DIR}/nation.parquet' as n on r.r_regionkey = n.n_regionkey |>
as rn join '{SF_DIR}/supplier.parquet' as s on rn.n_nationkey = s.s_nationkey |>
as rns join '{SF_DIR}/lineitem.parquet' as l on rns.s_suppkey = l.l_suppkey |>
as rnsl join '{SF_DIR}/orders.parquet' as o on rnsl.l_orderkey = o.o_orderkey |>
select r_name, n_name,
  sum(cast(round(l_extendedprice * (1 - l_discount) * 10000, 0) as bigint)) as revenue,
  count() as n_items group by r_name, n_name |>
order by revenue desc, n_name
"""


@pytest.fixture()
def keyed(psql):
    """Declare the TPC-H orders/lineitem key pair (VERIFY on the tiny
    SF proves the testdata actually satisfies it), yield, then reset."""
    psql.sql(
        f"declare primary key on '{SF_DIR}/orders.parquet' (o_orderkey) verify"
    )
    psql.sql(
        f"declare foreign key on '{SF_DIR}/lineitem.parquet' (l_orderkey) "
        f"references '{SF_DIR}/orders.parquet' (o_orderkey) verify"
    )
    yield psql
    psql._compiler.constraints.uniques.clear()
    psql._compiler.constraints.fks.clear()


def _plan(psql, q):
    return psql.sql(q)._jdf.queryExecution().executedPlan().toString()


def test_fk_join_eliminated_value_parity(psql, keyed):
    import duckdb

    assert "orders.parquet" not in _plan(psql, Q05)
    assert psql._compiler.last_eliminated_joins
    got = [tuple(r) for r in psql.sql(Q05).collect()]
    want = duckdb.sql(
        f"""
        SELECT r_name, n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0) AS BIGINT)) AS BIGINT) AS revenue,
               count(*) AS n_items
        FROM '{SF_DIR}/region.parquet' r
        JOIN '{SF_DIR}/nation.parquet' n ON r_regionkey = n_regionkey
        JOIN '{SF_DIR}/supplier.parquet' s ON n_nationkey = s_nationkey
        JOIN '{SF_DIR}/lineitem.parquet' l ON s_suppkey = l_suppkey
        JOIN '{SF_DIR}/orders.parquet' o ON l_orderkey = o_orderkey
        GROUP BY r_name, n_name ORDER BY revenue DESC, n_name
        """
    ).fetchall()
    assert got == want


def test_no_declaration_no_elimination(psql):
    assert "orders.parquet" in _plan(psql, Q05)
    assert not psql._compiler.last_eliminated_joins


def test_downstream_reference_blocks(psql, keyed):
    q = f"""
    from '{SF_DIR}/lineitem.parquet' |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    select o_orderdate, count() as n group by o_orderdate |> order by n desc |> limit 3
    """
    assert "orders.parquet" in _plan(psql, q)


def test_star_projection_blocks(psql, keyed):
    q = f"""
    from '{SF_DIR}/lineitem.parquet' |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    select * |> order by l_orderkey, l_linenumber |> limit 3
    """
    assert "orders.parquet" in _plan(psql, q)


def test_left_join_blocks(psql, keyed):
    q = f"""
    from '{SF_DIR}/lineitem.parquet' |>
    as l left join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    select l_orderkey, count() as n group by l_orderkey |> order by l_orderkey |> limit 3
    """
    assert "orders.parquet" in _plan(psql, q)


def test_computed_fk_blocks_rename_passes(psql, keyed):
    computed = f"""
    from '{SF_DIR}/lineitem.parquet' |>
    select l_orderkey + 0 as l_orderkey, l_quantity |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    select sum(l_quantity) as q
    """
    assert "orders.parquet" in _plan(psql, computed)
    renamed = f"""
    from '{SF_DIR}/lineitem.parquet' |>
    select l_orderkey as ok, l_quantity |>
    as l join '{SF_DIR}/orders.parquet' as o on l.ok = o.o_orderkey |>
    select sum(l_quantity) as q
    """
    assert "orders.parquet" not in _plan(psql, renamed)
    got = psql.sql(renamed).collect()[0][0]
    import duckdb

    want = duckdb.sql(
        f"select sum(l_quantity) from '{SF_DIR}/lineitem.parquet'"
    ).fetchone()[0]
    assert float(got) == float(want)


def test_filter_before_join_still_eliminates(psql, keyed):
    q = f"""
    from '{SF_DIR}/lineitem.parquet' |>
    where l_quantity > 40 |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    select count() as n
    """
    assert "orders.parquet" not in _plan(psql, q)
    import duckdb

    want = duckdb.sql(
        f"select count(*) from '{SF_DIR}/lineitem.parquet' l join "
        f"'{SF_DIR}/orders.parquet' o on l_orderkey = o_orderkey "
        f"where l_quantity > 40"
    ).fetchone()[0]
    assert psql.sql(q).collect()[0][0] == want


def test_off_switch(psql, keyed):
    psql.spark.conf.set("spark.psql.keyJoinElimination", "false")
    try:
        assert "orders.parquet" in _plan(psql, Q05)
    finally:
        psql.spark.conf.set("spark.psql.keyJoinElimination", "true")


def test_verify_catches_violations(psql):
    from duckdb_psql_spark.errors import PsqlCompileError

    # lineitem.l_orderkey is NOT unique (multi-line orders)
    with pytest.raises(PsqlCompileError, match="not unique"):
        psql.sql(
            f"declare primary key on '{SF_DIR}/lineitem.parquet' "
            f"(l_orderkey) verify"
        )
    # orders.o_custkey does NOT reference supplier keys — dangling
    with pytest.raises(PsqlCompileError, match="dangling|no match"):
        psql.sql(
            f"declare foreign key on '{SF_DIR}/orders.parquet' (o_orderkey) "
            f"references '{SF_DIR}/supplier.parquet' (s_suppkey) verify"
        )
    # unverified trusted declarations still validate column existence
    with pytest.raises(PsqlCompileError, match="not in"):
        psql.sql(
            f"declare primary key on '{SF_DIR}/orders.parquet' (nope_col)"
        )
    with pytest.raises(PsqlCompileError, match="DECLARE"):
        psql.sql("declare primary key banana")


def test_declaration_applies_to_next_statement(psql):
    q = f"""
    from '{SF_DIR}/lineitem.parquet' |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    select count() as n
    """
    assert "orders.parquet" in _plan(psql, q)
    psql.sql(f"declare primary key on '{SF_DIR}/orders.parquet' (o_orderkey)")
    psql.sql(
        f"declare foreign key on '{SF_DIR}/lineitem.parquet' (l_orderkey) "
        f"references '{SF_DIR}/orders.parquet' (o_orderkey)"
    )
    try:
        assert "orders.parquet" not in _plan(psql, q)
    finally:
        psql._compiler.constraints.uniques.clear()
        psql._compiler.constraints.fks.clear()


Q21 = f"""
from '{SF_DIR}/supplier.parquet' |>
as s join '{SF_DIR}/lineitem.parquet' as l1 on s.s_suppkey = l1.l_suppkey |>
as sl join '{SF_DIR}/orders.parquet' as o on sl.l_orderkey = o.o_orderkey |>
where o_orderstatus = 'F' and l_shipdate > o_orderdate + interval 30 day |>
select s_name, l_orderkey as ok, l_suppkey as sk, o_orderdate as od |>
where exists (select 1 from '{SF_DIR}/lineitem.parquet' l2
              where l2.l_orderkey = ok and l2.l_suppkey <> sk) |>
where not exists (select 1 from '{SF_DIR}/lineitem.parquet' l3
                  where l3.l_orderkey = ok and l3.l_suppkey <> sk
                    and l3.l_shipdate > od + interval 30 day) |>
select s_name, count() as numwait group by s_name |>
order by numwait desc, s_name |> limit 25
"""

Q21_ORACLE = f"""
SELECT s_name, count(*) AS numwait FROM (
  SELECT s_name, l_orderkey AS ok, l_suppkey AS sk, o_orderdate AS od
  FROM '{SF_DIR}/supplier.parquet' s
  JOIN '{SF_DIR}/lineitem.parquet' l1 ON s.s_suppkey = l1.l_suppkey
  JOIN '{SF_DIR}/orders.parquet' o ON l1.l_orderkey = o.o_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
WHERE EXISTS (SELECT 1 FROM '{SF_DIR}/lineitem.parquet' l2
              WHERE l2.l_orderkey = ok AND l2.l_suppkey <> sk)
  AND NOT EXISTS (SELECT 1 FROM '{SF_DIR}/lineitem.parquet' l3
                  WHERE l3.l_orderkey = ok AND l3.l_suppkey <> sk
                    AND l3.l_shipdate > od + interval 30 day)
GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25
"""


@pytest.fixture()
def q21_keys(psql):
    """The four declarations the q21 window rewrite needs."""
    psql.sql(f"declare primary key on '{SF_DIR}/orders.parquet' (o_orderkey)")
    psql.sql(
        f"declare primary key on '{SF_DIR}/supplier.parquet' (s_suppkey)"
    )
    psql.sql(
        f"declare foreign key on '{SF_DIR}/lineitem.parquet' (l_orderkey) "
        f"references '{SF_DIR}/orders.parquet' (o_orderkey)"
    )
    psql.sql(
        f"declare foreign key on '{SF_DIR}/lineitem.parquet' (l_suppkey) "
        f"references '{SF_DIR}/supplier.parquet' (s_suppkey)"
    )
    yield psql
    psql._compiler.constraints.uniques.clear()
    psql._compiler.constraints.fks.clear()


def test_exists_window_rewrite_q21(psql, q21_keys):
    """Both q21 probes collapse into window aggregates: ONE lineitem
    scan (was three), values identical to DuckDB's EXISTS evaluation."""
    import duckdb

    df = psql.sql(Q21)
    assert len(psql._compiler.last_window_rewrites) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem") <= 2  # one scan (name appears ~once)
    assert "Window" in plan
    got = [tuple(r) for r in df.collect()]
    want = duckdb.sql(Q21_ORACLE).fetchall()
    assert got == want


def test_exists_window_rewrite_gates(psql, q21_keys):
    """Negative gates: shadowed bare names stay inner-scope (no
    rewrite), a probe with no later explicit projection stays native
    (synthetic columns must not leak), and the off-switch works."""
    import duckdb

    # shadowed correlation: bare l_orderkey resolves to the PROBE table
    q = f"""from '{SF_DIR}/lineitem.parquet' |>
    where l_quantity > 30 |>
    where exists (select 1 from '{SF_DIR}/lineitem.parquet' l2
                  where l2.l_orderkey = l_orderkey and l2.l_suppkey <> l_suppkey) |>
    select count() as n"""
    got = psql.sql(q).collect()[0][0]
    assert not psql._compiler.last_window_rewrites
    want = duckdb.sql(
        f"""select count(*) from (select * from '{SF_DIR}/lineitem.parquet'
        where l_quantity > 30) t
        where exists (select 1 from '{SF_DIR}/lineitem.parquet' l2
          where l2.l_orderkey = l2.l_orderkey and l2.l_suppkey <> l2.l_suppkey)"""
    ).fetchone()[0]
    assert got == want
    # no dropper select after the probe: stays native
    q2 = f"""from '{SF_DIR}/lineitem.parquet' |>
    select l_orderkey as ok, l_suppkey as sk |>
    where exists (select 1 from '{SF_DIR}/lineitem.parquet' l2
                  where l2.l_orderkey = ok and l2.l_suppkey <> sk) |>
    order by ok, sk |> limit 5"""
    cols = psql.sql(q2).columns
    assert not psql._compiler.last_window_rewrites
    assert cols == ["ok", "sk"]
    # off-switch
    psql.spark.conf.set("spark.psql.existsWindowRewrite", "false")
    try:
        psql.sql(Q21)
        assert not psql._compiler.last_window_rewrites
    finally:
        psql.spark.conf.set("spark.psql.existsWindowRewrite", "true")


def test_exists_window_completeness_gate(psql, keyed):
    """A probe over a source whose rows a flipped-direction join may
    have DROPPED must not rewrite (orders on the left of
    orders⋈lineitem loses childless orders)."""
    psql.sql(
        f"declare primary key on '{SF_DIR}/customer.parquet' (c_custkey)"
    )
    psql.sql(
        f"declare foreign key on '{SF_DIR}/orders.parquet' (o_custkey) "
        f"references '{SF_DIR}/customer.parquet' (c_custkey)"
    )
    q = f"""from '{SF_DIR}/orders.parquet' |>
    as o join '{SF_DIR}/lineitem.parquet' as l on o.o_orderkey = l.l_orderkey |>
    select o_custkey as ck, o_totalprice as tp |>
    where not exists (select 1 from '{SF_DIR}/orders.parquet' o2
                      where o2.o_custkey = ck and o2.o_totalprice > tp) |>
    select count() as n"""
    psql.sql(q)
    assert not psql._compiler.last_window_rewrites


def test_exists_window_no_leak_through_distinct_star(psql, q21_keys):
    """A SELECT DISTINCT * between the probe and the final projection
    would fold the synthetic window columns into its multiplicity —
    the rewrite must decline (values must match the native path)."""
    import duckdb

    q = f"""from '{SF_DIR}/lineitem.parquet' |>
    select l_orderkey as ok, l_suppkey as sk |>
    where exists (select 1 from '{SF_DIR}/lineitem.parquet' l2
                  where l2.l_orderkey = ok and l2.l_suppkey <> sk) |>
    select distinct * |>
    select count() as n"""
    got = psql.sql(q).collect()[0][0]
    assert not psql._compiler.last_window_rewrites
    want = duckdb.sql(
        f"""select count(*) from (select distinct * from
        (select l_orderkey ok, l_suppkey sk from '{SF_DIR}/lineitem.parquet') t
        where exists (select 1 from '{SF_DIR}/lineitem.parquet' l2
          where l2.l_orderkey = t.ok and l2.l_suppkey <> t.sk)) u"""
    ).fetchone()[0]
    assert got == want
    # an EXPLICIT distinct select drops the synthetic columns — valid
    # dropper, rewrite proceeds, same values
    q2 = f"""from '{SF_DIR}/lineitem.parquet' |>
    select l_orderkey as ok, l_suppkey as sk |>
    where exists (select 1 from '{SF_DIR}/lineitem.parquet' l2
                  where l2.l_orderkey = ok and l2.l_suppkey <> sk) |>
    select distinct ok, sk |>
    select count() as n"""
    got2 = psql.sql(q2).collect()[0][0]
    assert len(psql._compiler.last_window_rewrites) == 1
    assert got2 == want  # distinct over (ok, sk) = distinct over *


def test_elimination_requires_schema_dropper(psql, keyed):
    """Self-review find: with no downstream projection the pipe emits
    EVERY column, so eliminating the join would silently drop the right
    side's columns from the output schema — the gate must decline."""
    q = f"""from '{SF_DIR}/lineitem.parquet' |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    where l_quantity > 49 |> limit 3"""
    df = psql.sql(q)
    assert not psql._compiler.last_eliminated_joins
    assert "o_orderdate" in df.columns
    # with a star-free projection the join IS eliminated and the
    # output schema is identical either way
    q2 = f"""from '{SF_DIR}/lineitem.parquet' |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    where l_quantity > 49 |> select l_orderkey, l_quantity |> limit 3"""
    df2 = psql.sql(q2)
    assert psql._compiler.last_eliminated_joins
    assert df2.columns == ["l_orderkey", "l_quantity"]


def test_temp_table_pk_feeds_elimination(psql):
    """Column-def PRIMARY KEY of CREATE TEMP TABLE (engine-enforced on
    insert) counts as the declared-unique side — a declared FK onto it
    eliminates the payload-free join."""
    psql.sql(
        "create temp table dim_po (o_orderkey int primary key, flag varchar)"
    )
    psql.sql(
        f"insert into dim_po select o_orderkey, o_orderstatus "
        f"from '{SF_DIR}/orders.parquet'"
    )
    psql.sql(
        f"declare foreign key on '{SF_DIR}/lineitem.parquet' (l_orderkey) "
        f"references dim_po (o_orderkey)"
    )
    try:
        q = f"""from '{SF_DIR}/lineitem.parquet' |>
        as l join dim_po as o on l.l_orderkey = o.o_orderkey |>
        select count() as n"""
        import duckdb

        got = psql.sql(q).collect()[0][0]
        assert psql._compiler.last_eliminated_joins
        want = duckdb.sql(
            f"select count(*) from '{SF_DIR}/lineitem.parquet'"
        ).fetchone()[0]
        assert got == want
    finally:
        psql._compiler.constraints.fks.clear()
        psql.spark.catalog.dropTempView("dim_po")
