"""Declared-key count-distribution fold (compiler._count_distribution_fold).

The q13 idiom — LEFT JOIN key-side→fact, count per key, distribution of
counts — folds into a fact-side-only aggregation plus a patch bucket
when DECLAREd keys certify it (see the method docstring for the
soundness chain). Every test here runs THREE ways where applicable:
folded (keys declared), unfolded (fold conf off), and the DuckDB oracle
on the same data — the same gating discipline the round-10 EXISTS→window
rewrite got.
"""

from __future__ import annotations

import os
import random

import duckdb
import pytest


@pytest.fixture(scope="module")
def fold_env(spark, tmp_path_factory):
    """Writes a small customer/orders pair with every edge the fold must
    survive: customers with no orders, NULL fk rows, a nullable counted
    column with all-NULL groups, and a residual filter that removes ALL
    of some customers' orders."""
    from duckdb_psql_spark import PsqlSession

    rng = random.Random(411)
    base = tmp_path_factory.mktemp("cdfold")
    cust = [(k, f"name{k}", k % 5) for k in range(1, 61)]
    orders = []
    oid = 1000
    for k in range(1, 61):
        n = rng.choice([0, 0, 1, 2, 3, 8])
        for _ in range(n):
            prio = rng.choice(["1-URGENT", "2-HIGH", "3-LOW"])
            # nullable counted column: some customers all-NULL
            val = None if (k % 7 == 0 or rng.random() < 0.2) else rng.randint(1, 9)
            orders.append((oid, k, prio, val))
            oid += 1
    # NULL fk rows: never match any customer in the original join
    for _ in range(5):
        orders.append((oid, None, "2-HIGH", 3))
        oid += 1
    cpath = os.path.join(str(base), "cust.parquet")
    opath = os.path.join(str(base), "ords.parquet")
    spark.createDataFrame(
        cust, "c_custkey bigint, c_name string, c_seg int"
    ).coalesce(2).write.mode("overwrite").parquet(cpath)
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_prio string, o_val int"
    ).coalesce(2).write.mode("overwrite").parquet(opath)
    p = PsqlSession(spark)
    p.sql(f"declare primary key on '{cpath}' (c_custkey)")
    p.sql(
        f"declare foreign key on '{opath}' (o_custkey) "
        f"references '{cpath}' (c_custkey)"
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW cust AS SELECT * FROM '{cpath}/*.parquet'")
    con.execute(f"CREATE VIEW ords AS SELECT * FROM '{opath}/*.parquet'")
    return p, con, cpath, opath


def _three_way(fold_env, pipe: str, oracle: str, expect_fold: bool = True):
    p, con, _, _ = fold_env
    duck = con.execute(oracle).fetchall()
    folded = [tuple(r) for r in p.sql(pipe).collect()]
    fired = p._compiler.last_count_dist_fold
    p.spark.conf.set("spark.psql.countDistFold", "false")
    try:
        plain = [tuple(r) for r in p.sql(pipe).collect()]
    finally:
        p.spark.conf.set("spark.psql.countDistFold", "true")
    assert fired == expect_fold, f"fold fired={fired}, expected {expect_fold}"
    assert folded == duck, f"folded vs duck: {folded[:4]} vs {duck[:4]}"
    assert plain == duck, f"plain vs duck: {plain[:4]} vs {duck[:4]}"


def test_fold_basic_q13_shape(fold_env):
    _, _, cpath, opath = fold_env
    _three_way(
        fold_env,
        f"""from '{cpath}' |>
            as c left join '{opath}' as o
              on c.c_custkey = o.o_custkey and o.o_prio <> '1-URGENT' |>
            select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
            select c_count, count() as custdist group by c_count |>
            order by custdist desc, c_count desc""",
        """SELECT c_count, count(*) AS custdist FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM cust c LEFT JOIN ords o
               ON c.c_custkey = o.o_custkey AND o.o_prio <> '1-URGENT'
             GROUP BY c_custkey)
           GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    )


def test_fold_nullable_counted_column(fold_env):
    """count(o_val) groups where every o_val is NULL produce a GENUINE
    0 bucket that must merge with the patch bucket."""
    _, _, cpath, opath = fold_env
    _three_way(
        fold_env,
        f"""from '{cpath}' |>
            as c left join '{opath}' as o on c.c_custkey = o.o_custkey |>
            select c_custkey, count(o_val) as nv group by c_custkey |>
            select nv, count() as n group by nv |>
            order by nv""",
        """SELECT nv, count(*) AS n FROM (
             SELECT c_custkey, count(o_val) AS nv
             FROM cust c LEFT JOIN ords o ON c.c_custkey = o.o_custkey
             GROUP BY c_custkey)
           GROUP BY nv ORDER BY nv""",
    )


def test_fold_count_star_and_multi(fold_env):
    """count(*) (unmatched left row counts as ONE joined row), two
    stage-2 counts, stage-3 key aliased, limit applied after."""
    _, _, cpath, opath = fold_env
    _three_way(
        fold_env,
        f"""from '{cpath}' |>
            as c left join '{opath}' as o on c.c_custkey = o.o_custkey |>
            select c_custkey, count(o_orderkey) as c_count,
                   count(o_val) as nv group by c_custkey |>
            select c_count as cc, count() as n group by c_count |>
            order by cc limit 5""",
        """SELECT c_count AS cc, count(*) AS n FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count, count(o_val) AS nv
             FROM cust c LEFT JOIN ords o ON c.c_custkey = o.o_custkey
             GROUP BY c_custkey)
           GROUP BY c_count ORDER BY cc LIMIT 5""",
    )


def test_fold_gates(fold_env):
    """Shapes that MUST NOT fold (each breaks one soundness link), and
    must still be answer-correct through the normal compile."""
    _, _, cpath, opath = fold_env
    # inner join: unmatched customers vanish — |L| certificate useless
    _three_way(
        fold_env,
        f"""from '{cpath}' |>
            as c join '{opath}' as o on c.c_custkey = o.o_custkey |>
            select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
            select c_count, count() as n group by c_count |> order by c_count""",
        """SELECT c_count, count(*) AS n FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM cust c JOIN ords o ON c.c_custkey = o.o_custkey
             GROUP BY c_custkey) GROUP BY c_count ORDER BY c_count""",
        expect_fold=False,
    )
    # head filter: |L| from footers would be the UNFILTERED count
    _three_way(
        fold_env,
        f"""from '{cpath}' |> where c_seg <> 2 |>
            as c left join '{opath}' as o on c.c_custkey = o.o_custkey |>
            select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
            select c_count, count() as n group by c_count |> order by c_count""",
        """SELECT c_count, count(*) AS n FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM (SELECT * FROM cust WHERE c_seg <> 2) c
             LEFT JOIN ords o ON c.c_custkey = o.o_custkey
             GROUP BY c_custkey) GROUP BY c_count ORDER BY c_count""",
        expect_fold=False,
    )
    # sum aggregate: unmatched value is NULL, not 0 — patch bucket wrong
    _three_way(
        fold_env,
        f"""from '{cpath}' |>
            as c left join '{opath}' as o on c.c_custkey = o.o_custkey |>
            select c_custkey, sum(o_val) as sv group by c_custkey |>
            select sv, count() as n group by sv |> order by sv nulls first""",
        """SELECT sv, count(*) AS n FROM (
             SELECT c_custkey, sum(o_val) AS sv
             FROM cust c LEFT JOIN ords o ON c.c_custkey = o.o_custkey
             GROUP BY c_custkey) GROUP BY sv ORDER BY sv NULLS FIRST""",
        expect_fold=False,
    )
    # stage-3 groups by the PK itself: left columns observed downstream
    _three_way(
        fold_env,
        f"""from '{cpath}' |>
            as c left join '{opath}' as o on c.c_custkey = o.o_custkey |>
            select c_custkey, count(o_orderkey) as c_count group by c_custkey |>
            select c_custkey, count() as n group by c_custkey |>
            order by c_custkey limit 4""",
        """SELECT c_custkey, count(*) AS n FROM (
             SELECT c_custkey, count(o_orderkey) AS c_count
             FROM cust c LEFT JOIN ords o ON c.c_custkey = o.o_custkey
             GROUP BY c_custkey) GROUP BY c_custkey ORDER BY c_custkey LIMIT 4""",
        expect_fold=False,
    )


def test_fold_requires_declared_keys(spark, tmp_path):
    """Same shape, NO declarations: must not fold, must stay correct."""
    from duckdb_psql_spark import PsqlSession

    cpath = os.path.join(str(tmp_path), "c.parquet")
    opath = os.path.join(str(tmp_path), "o.parquet")
    spark.createDataFrame(
        [(1,), (2,), (3,)], "k bigint"
    ).write.mode("overwrite").parquet(cpath)
    spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "oid bigint, fk bigint"
    ).write.mode("overwrite").parquet(opath)
    p = PsqlSession(spark)
    rows = p.sql(
        f"""from '{cpath}' |>
            as c left join '{opath}' as o on c.k = o.fk |>
            select k, count(oid) as n group by k |>
            select n, count() as d group by n |> order by n"""
    ).collect()
    assert p._compiler.last_count_dist_fold is False
    assert [(r.n, r.d) for r in rows] == [(0, 1), (1, 1), (2, 1)]


def test_fold_fuzz_three_way(fold_env):
    """Randomized three-way parity sweep over the fold's input space:
    random residuals, counted columns, stage-3 orderings."""
    _, _, cpath, opath = fold_env
    rng = random.Random(1103)
    residuals = [
        "", " and o.o_prio <> '1-URGENT'", " and o.o_val > 3",
        " and o.o_prio like '2%'",
        # filters EVERYTHING: the patch bucket must still be the full |L|
        " and o.o_val > 100",
    ]
    counted = ["o_orderkey", "o_val", "*"]
    for i in range(14):
        res = rng.choice(residuals)
        cnt = rng.choice(counted)
        cnt_pipe = "count()" if cnt == "*" else f"count({cnt})"
        cnt_sql = "count(*)" if cnt == "*" else f"count({cnt})"
        order = rng.choice(["c_count", "custdist desc, c_count desc"])
        _three_way(
            fold_env,
            f"""from '{cpath}' |>
                as c left join '{opath}' as o
                  on c.c_custkey = o.o_custkey{res} |>
                select c_custkey, {cnt_pipe} as c_count group by c_custkey |>
                select c_count, count() as custdist group by c_count |>
                order by {order}""",
            f"""SELECT c_count, count(*) AS custdist FROM (
                 SELECT c_custkey, {cnt_sql} AS c_count
                 FROM cust c LEFT JOIN ords o
                   ON c.c_custkey = o.o_custkey{res}
                 GROUP BY c_custkey)
               GROUP BY c_count ORDER BY {order}""",
        )


def test_skip_partial_preagg_formula():
    from duckdb_psql_spark.compiler import Compiler

    # q13 at sf10: 15M fact rows, 1.5M-key bound, 64 partitions → skip
    assert Compiler._skip_partial_preagg(15_000_000, 1_500_000, 64) is True
    # 25-key dim: partial agg reduces ~9000x → keep
    assert Compiler._skip_partial_preagg(15_000_000, 25, 64) is False
    # degenerate inputs never skip
    assert Compiler._skip_partial_preagg(0, 100, 8) is False
    assert Compiler._skip_partial_preagg(100, 0, 8) is False


def test_fold_multi_key_grouping(fold_env):
    """Stage 3 groups by TWO stage-2 count outputs — the patch bucket is
    the (count(x)=0, count(*)=1) vector, exercised with and without a
    residual."""
    _, _, cpath, opath = fold_env
    for res in ("", " and o.o_prio <> '1-URGENT'"):
        _three_way(
            fold_env,
            f"""from '{cpath}' |>
                as c left join '{opath}' as o
                  on c.c_custkey = o.o_custkey{res} |>
                select c_custkey, count(o_val) as nv, count() as nr
                  group by c_custkey |>
                select nv, nr, count() as n group by nv, nr |>
                order by nv, nr""",
            f"""SELECT nv, nr, count(*) AS n FROM (
                 SELECT c_custkey, count(o_val) AS nv, count(*) AS nr
                 FROM cust c LEFT JOIN ords o
                   ON c.c_custkey = o.o_custkey{res}
                 GROUP BY c_custkey)
               GROUP BY nv, nr ORDER BY nv, nr""",
        )
