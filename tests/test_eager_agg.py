"""Eager aggregation below a join (operators/eager_agg.py).

Every test compares the rewritten plan's rows against the SAME statement
compiled with the pass disabled (spark.psql.eagerAgg=false) — the
unrewritten pipeline is the in-repo oracle — and one test asserts the
plan shape actually changed (pre-aggregation below the join).
"""

import pytest

from tests.conftest import SF_DIR

CUST = f"{SF_DIR}/customer.parquet"
ORD = f"{SF_DIR}/orders.parquet"
NATION = f"{SF_DIR}/nation.parquet"

Q13 = (
    f"from '{CUST}' |> as c left join '{ORD}' as o "
    "on c.c_custkey = o.o_custkey and o.o_orderpriority <> '1-URGENT' |> "
    "select c_custkey, count(o_orderkey) as c_count group by c_custkey |> "
    "order by c_count desc, c_custkey |> limit 40"
)


def _both(psql, stmt):
    psql.spark.conf.set("spark.psql.eagerAgg", "false")
    try:
        want = [tuple(r) for r in psql.sql(stmt).collect()]
    finally:
        psql.spark.conf.set("spark.psql.eagerAgg", "true")
    got = [tuple(r) for r in psql.sql(stmt).collect()]
    return got, want


def _same(got, want):
    """Row-wise compare; doubles get a 1e-9 relative tolerance (sum
    association differs between the rewritten and original plans, like
    any repartitioning — the same boundary posture as the differential
    harness)."""
    import math

    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def test_q13_shape_matches_unrewritten(psql):
    got, want = _both(psql, Q13)
    assert got == want and len(got) == 40


def test_plan_prefolds_right_side(psql):
    plan = (
        psql.sql(Q13)._jdf.queryExecution().executedPlan().toString()
    )
    # the pre-aggregation keyed by the right join key sits below the join
    assert "__ea_key" in plan
    join_at = plan.index("Join")
    assert "o_custkey" in plan[join_at:]


def test_set_uppercase_true_keeps_rewrite(psql):
    # Spark stores `SET k = TRUE` verbatim; booleans parse
    # case-insensitively, so the pass stays on
    psql.sql("SET spark.psql.eagerAgg = TRUE")
    try:
        plan = psql.sql(Q13)._jdf.queryExecution().executedPlan().toString()
        assert "__ea_key" in plan
    finally:
        psql.spark.conf.unset("spark.psql.eagerAgg")


def test_inner_join_count_star_sum_min_max(psql):
    stmt = (
        f"from '{CUST}' |> as c join '{ORD}' as o on c.c_custkey = o.o_custkey |> "
        "select c_nationkey, count() as n, sum(o_totalprice) as tot, "
        "min(o_orderdate) as first_dt, max(o_totalprice) as biggest "
        "group by c_nationkey |> order by c_nationkey"
    )
    got, want = _both(psql, stmt)
    assert _same(got, want) and len(got) == 25


def test_left_dup_keys_multiply(psql):
    # duplicate LEFT keys: each dup row re-counts the same right group —
    # the identity Σ coalesce(cnt,0) must reproduce d·cnt per group
    psql.sql(
        f"create or replace temp view ea_dup as (| from '{NATION}' |> "
        "select n_regionkey as rk |)"
    )
    stmt = (
        f"from ea_dup |> as d left join '{NATION}' as n "
        "on d.rk = n.n_nationkey |> "
        "select rk, count(n_name) as cnt group by rk |> "
        "order by rk"
    )
    got, want = _both(psql, stmt)
    assert got == want


def test_unmatched_left_rows_count_zero(psql):
    stmt = (
        f"from '{NATION}' |> as n left join '{ORD}' as o "
        "on n.n_nationkey = o.o_custkey and o.o_totalprice < 0 |> "
        "select n_nationkey, count(o_orderkey) as cnt, count() as all_rows "
        "group by n_nationkey |> order by n_nationkey"
    )
    got, want = _both(psql, stmt)
    assert got == want
    # nothing matches (price < 0): counts 0, count(*) one row per left row
    assert all(r[1] == 0 and r[2] == 1 for r in got)


def test_expression_aggs_rewrite(psql):
    # expression aggregates over right-only columns DO match (q03 shape);
    # the sum is pushed below the join and values survive
    stmt = (
        f"from '{CUST}' |> as c join '{ORD}' as o on c.c_custkey = o.o_custkey |> "
        "select c_nationkey, sum(o_totalprice * 2) as t group by c_nationkey |> "
        "order by c_nationkey"
    )
    plan = psql.sql(stmt)._jdf.queryExecution().executedPlan().toString()
    assert "__ea_key" in plan
    got, want = _both(psql, stmt)
    assert _same(got, want)


def test_join_key_as_group_key_cost_gated(psql):
    # the RIGHT equi column as a group key (q03 shape) is COST-GATED out:
    # pre-agg granularity would equal the final agg's (measured 2.4x
    # slower at sf10) — both paths must compile identically
    stmt = (
        f"from '{CUST}' |> as c join '{ORD}' as o on c.c_custkey = o.o_custkey |> "
        "select o_custkey, c_mktsegment, "
        "sum(cast(round(o_totalprice * 100, 0) as bigint)) as cents "
        "group by o_custkey, c_mktsegment |> order by o_custkey |> limit 50"
    )
    plan = psql.sql(stmt)._jdf.queryExecution().executedPlan().toString()
    assert "__ea_key" not in plan
    got, want = _both(psql, stmt)
    assert got == want and len(got) == 50


def test_mixed_side_expression_falls_back(psql):
    # an aggregate mixing LEFT and RIGHT columns must not match
    stmt = (
        f"from '{CUST}' |> as c join '{ORD}' as o on c.c_custkey = o.o_custkey |> "
        "select c_nationkey, sum(o_totalprice + c_acctbal) as t "
        "group by c_nationkey |> order by c_nationkey"
    )
    plan = psql.sql(stmt)._jdf.queryExecution().executedPlan().toString()
    assert "__ea_key" not in plan
    got, want = _both(psql, stmt)
    assert _same(got, want)


def test_distinct_and_left_col_aggs_fall_back(psql):
    for stmt in (
        # count(distinct …) is not decomposable this way
        f"from '{CUST}' |> as c join '{ORD}' as o on c.c_custkey = o.o_custkey |> "
        "select c_nationkey, count(distinct o_orderpriority) as n "
        "group by c_nationkey |> order by c_nationkey",
        # aggregate over a LEFT column
        f"from '{CUST}' |> as c join '{ORD}' as o on c.c_custkey = o.o_custkey |> "
        "select c_nationkey, max(c_acctbal) as m group by c_nationkey |> "
        "order by c_nationkey",
    ):
        plan = psql.sql(stmt)._jdf.queryExecution().executedPlan().toString()
        assert "__ea_key" not in plan
        got, want = _both(psql, stmt)
        assert got == want
