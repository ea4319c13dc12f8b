"""Keyed GROUP-BY elimination (compiler._try_keyed_groupby).

A group-by whose keys cover a declared unique key of a multiplicity-
clean stream has exactly one row per group: the aggregation collapses
to a projection (the exchange + hash-agg disappear). Same three-way
discipline as the round's other declared-key passes: eliminated /
conf-off / DuckDB oracle on the same data.
"""

from __future__ import annotations

import os

import duckdb
import pytest


@pytest.fixture(scope="module")
def kg_env(spark, tmp_path_factory):
    from duckdb_psql_spark import PsqlSession

    base = tmp_path_factory.mktemp("kgelim")
    kpath = os.path.join(str(base), "k.parquet")
    mpath = os.path.join(str(base), "m.parquet")
    spark.createDataFrame(
        [
            (i, i % 3, float(i) if i % 4 else None, i * 10, f"n{i}")
            for i in range(1, 25)
        ],
        "pk bigint, fk bigint, val double, iv int, name string",
    ).write.mode("overwrite").parquet(kpath)
    spark.createDataFrame(
        [(i % 5 + 1, i) for i in range(30)], "mk bigint, mv bigint"
    ).write.mode("overwrite").parquet(mpath)
    p = PsqlSession(spark)
    p.sql(f"declare primary key on '{kpath}' (pk)")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW k AS SELECT * FROM '{kpath}/*.parquet'")
    con.execute(f"CREATE VIEW m AS SELECT * FROM '{mpath}/*.parquet'")
    return p, con, kpath, mpath


def _three_way(env, pipe, oracle, expect):
    p, con, *_ = env
    duck = sorted(con.execute(oracle).fetchall())
    got = sorted(tuple(r) for r in p.sql(pipe).collect())
    fired = p._compiler.last_keyed_groupby_elim
    p.spark.conf.set("spark.psql.keyedGroupByElimination", "false")
    try:
        plain = sorted(tuple(r) for r in p.sql(pipe).collect())
    finally:
        p.spark.conf.set("spark.psql.keyedGroupByElimination", "true")
    assert fired == expect, f"fired={fired}, expected {expect}"
    assert got == duck, f"elim vs duck: {got[:3]} vs {duck[:3]}"
    assert plain == duck, f"plain vs duck: {plain[:3]} vs {duck[:3]}"


def test_kg_every_supported_aggregate(kg_env):
    """count(*)/count(x)/sum/min/max/avg/first over single-row groups,
    incl. NULL args (count 0, sum/avg NULL) and Spark's own widening
    (sum(int) is bigint — types come from the analyzed original)."""
    _, _, kpath, _ = kg_env
    _three_way(
        kg_env,
        f"""from '{kpath}' |>
            select pk, count() as n, count(val) as nv, sum(val) as s,
                   sum(iv) as si, min(name) as mn, max(fk) as mx,
                   avg(val) as a, first(name) as fst
              group by pk |> order by pk""",
        """SELECT pk, count(*) AS n, count(val) AS nv, sum(val) AS s,
                  sum(iv) AS si, min(name) AS mn, max(fk) AS mx,
                  avg(val) AS a, first(name) AS fst
           FROM k GROUP BY pk ORDER BY pk""",
        True,
    )


def test_kg_where_multikey_exprs(kg_env):
    """Pre-filter + extra group keys beyond the declared key + an
    expression argument + count(distinct x) (over one row = count(x))."""
    _, _, kpath, _ = kg_env
    _three_way(
        kg_env,
        f"""from '{kpath}' |> where fk <> 1 |>
            select pk, fk, sum(val * 2 + 1) as s2,
                   count(distinct name) as cd
              group by pk, fk |> order by pk""",
        """SELECT pk, fk, sum(val * 2 + 1) AS s2,
                  count(DISTINCT name) AS cd
           FROM k WHERE fk <> 1 GROUP BY pk, fk ORDER BY pk""",
        True,
    )


def test_kg_gates(kg_env):
    """Shapes that must NOT collapse: non-covering keys, a duplicating
    join upstream, HAVING, and an unsupported aggregate."""
    _, _, kpath, mpath = kg_env
    _three_way(
        kg_env,
        f"from '{kpath}' |> select fk, count() as n group by fk |> order by fk",
        "SELECT fk, count(*) AS n FROM k GROUP BY fk ORDER BY fk",
        False,
    )
    _three_way(
        kg_env,
        f"""from '{kpath}' |>
            as a join '{mpath}' as b on a.pk = b.mk |>
            select pk, count() as n group by pk |> order by pk""",
        """SELECT pk, count(*) AS n FROM k JOIN m ON k.pk = m.mk
           GROUP BY pk ORDER BY pk""",
        False,
    )
    _three_way(
        kg_env,
        f"""from '{kpath}' |>
            select pk, count(val) as nv group by pk having count(val) > 0 |>
            order by pk""",
        """SELECT pk, count(val) AS nv FROM k GROUP BY pk
           HAVING count(val) > 0 ORDER BY pk""",
        False,
    )
    _three_way(
        kg_env,
        f"""from '{kpath}' |>
            select pk, stddev_pop(val) as sd group by pk |> order by pk""",
        "SELECT pk, stddev_pop(val) AS sd FROM k GROUP BY pk ORDER BY pk",
        False,
    )


def test_kg_deletes_the_aggregate(kg_env):
    p, _, kpath, _ = kg_env
    df = p.sql(
        f"from '{kpath}' |> select pk, count() as n, sum(val) as s group by pk"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    p.spark.conf.set("spark.psql.keyedGroupByElimination", "false")
    try:
        df2 = p.sql(
            f"from '{kpath}' |> select pk, count() as n, sum(val) as s group by pk"
        )
        assert "Aggregate" in df2._jdf.queryExecution().optimizedPlan().toString()
    finally:
        p.spark.conf.set("spark.psql.keyedGroupByElimination", "true")


def test_kg_schema_parity_with_original(kg_env):
    """Output names AND dtypes must be bit-identical to the unrewritten
    aggregation (incl. Spark's generated names for unaliased aggs)."""
    p, _, kpath, _ = kg_env
    q = (
        f"from '{kpath}' |> "
        "select pk, count(val) as nv, sum(iv) as si, avg(val) as a group by pk"
    )
    elim = p.sql(q)
    assert p._compiler.last_keyed_groupby_elim
    p.spark.conf.set("spark.psql.keyedGroupByElimination", "false")
    try:
        orig = p.sql(q)
    finally:
        p.spark.conf.set("spark.psql.keyedGroupByElimination", "true")
    assert elim.schema == orig.schema


def test_kg_order_limit_null_semantics(kg_env):
    """Round-11 review finds #1/#3 (live-reproduced): same-stage ORDER
    BY + LIMIT must keep DuckDB's NULLS-LAST semantics under the
    rewrite (order-PRESERVING comparison — no sorting), and an ORDER BY
    key invisible after the aggregation must error exactly like the
    unrewritten path."""
    p, con, kpath, _ = kg_env
    # SAME-stage order/limit — the reproduced shape (a separate |>
    # order stage always compiled through the normal machinery)
    q = (
        f"from '{kpath}' |> "
        "select pk, sum(val) as s group by pk order by s limit 4"
    )
    duck = con.execute(
        "SELECT pk, sum(val) AS s FROM k GROUP BY pk ORDER BY s LIMIT 4"
    ).fetchall()
    got = [tuple(r) for r in p.sql(q).collect()]
    assert p._compiler.last_keyed_groupby_elim
    p.spark.conf.set("spark.psql.keyedGroupByElimination", "false")
    try:
        plain = [tuple(r) for r in p.sql(q).collect()]
    finally:
        p.spark.conf.set("spark.psql.keyedGroupByElimination", "true")
    assert got == duck == plain  # ORDER PRESERVED, NULLs last
    # invisible order key: loud both ways
    bad = (
        f"from '{kpath}' |> "
        "select pk, sum(val) as s group by pk order by fk"
    )
    with pytest.raises(Exception):
        p.sql(bad).collect()


def test_kg_multi_arg_count(kg_env):
    """Round-11 review find #2 (live-reproduced): count(a, b) counts
    rows where EVERY argument is non-null — a row-constructor NULL
    check would always pass."""
    _, _, kpath, _ = kg_env
    _three_way(
        kg_env,
        f"""from '{kpath}' |>
            select pk, count(val, name) as c2 group by pk |> order by pk""",
        """SELECT pk, count(*) FILTER (val IS NOT NULL AND name IS NOT NULL)
             AS c2 FROM k GROUP BY pk ORDER BY pk""",
        True,
    )
