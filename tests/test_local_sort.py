"""The terminal-ORDER-BY local-sort pass (round 13, guide §2.4).

A global Sort over an aggregated/windowed result plans as
``Exchange rangepartitioning(n)`` — a range-bounds sampling job plus an
extra stage, pure scheduler overhead for few-row results. In the
tiny/small statement bands the compiler rewrites the analyzed root to a
single-partition local sort (same total order, no exchange). These
tests pin: the rewrite fires (no range exchange), values are identical
to the unrewritten plan, narrow pipelines are left alone (scan
parallelism preserved), and the off-switch works.
"""

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _off(psql, text):
    """Compile ``text`` with the pass switched off."""
    psql.spark.conf.set("spark.psql.localSortSmall", "false")
    try:
        return psql.sql(text)
    finally:
        psql.spark.conf.unset("spark.psql.localSortSmall")


def test_agg_order_by_drops_range_exchange(psql, sf_dir):
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderstatus, count() as n group by o_orderstatus |> "
        "order by n desc, o_orderstatus"
    )
    df = psql.sql(q)
    plan = _plan(df)
    assert "rangepartitioning" not in plan
    # the local sort sits over a 1-partition coalesce, not an exchange
    assert "Coalesce" in plan or "Repartition" in plan


def test_rewrite_values_identical(psql, sf_dir):
    q = (
        f"from '{sf_dir}/lineitem.parquet' |> "
        "select l_returnflag, l_linestatus, sum(l_quantity) as s, count() as n "
        "group by l_returnflag, l_linestatus |> "
        "order by l_returnflag, l_linestatus"
    )
    expected = _off(psql, q).collect()
    got = psql.sql(q).collect()
    assert got == expected


def test_narrow_pipeline_keeps_parallel_sort(psql, sf_dir):
    # no Aggregate/Window below the sort: the rewrite must NOT fire —
    # coalescing would serialize the scan stage
    q = (
        f"from '{sf_dir}/customer.parquet' |> "
        "select c_custkey, length(c_name) as n |> order by c_custkey"
    )
    plan = _plan(psql.sql(q))
    assert "rangepartitioning" in plan


def test_order_by_limit_untouched(psql, sf_dir):
    # ORDER BY + LIMIT already fuses to TakeOrderedAndProject; the pass
    # must leave it alone
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderstatus, count() as n group by o_orderstatus |> "
        "order by n desc |> limit 2"
    )
    plan = _plan(psql.sql(q))
    assert "TakeOrderedAndProject" in plan


def test_off_switch(psql, sf_dir):
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderstatus, count() as n group by o_orderstatus |> "
        "order by n desc, o_orderstatus"
    )
    assert "rangepartitioning" in _plan(_off(psql, q))


def test_conf_flip_after_cached_compose(psql, sf_dir):
    # turning the pass off after a compose it fired on must give the
    # next compose of the same text the range-sort plan
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_orderpriority, count() as n group by o_orderpriority |> "
        "order by n desc, o_orderpriority"
    )
    on = psql.sql(q)
    assert "rangepartitioning" not in _plan(on)
    psql.spark.conf.set("spark.psql.localSortSmall", "false")
    try:
        assert "rangepartitioning" in _plan(psql.sql(q))
    finally:
        psql.spark.conf.unset("spark.psql.localSortSmall")


def test_order_by_non_projected_column(psql, sf_dir):
    # ORDER BY a column the SELECT drops: Spark wraps the Sort in a
    # Project; the pass rebuilds that wrapper — values must match the
    # unrewritten plan and the range exchange must still disappear
    q = (
        f"from '{sf_dir}/orders.parquet' |> "
        "select o_custkey, max(o_totalprice) as m group by o_custkey |> "
        "select o_custkey |> order by o_custkey"
    )
    expected = _off(psql, q).collect()
    df = psql.sql(q)
    assert psql.sql(q).collect() == expected
