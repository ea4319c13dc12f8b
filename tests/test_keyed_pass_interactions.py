"""Combined-pass interaction fuzz (VERDICT r11 item 8).

Round 11 shipped five declared-key passes; each is three-way gated in
isolation (its own test file). This suite composes them ON THE SAME
STATEMENT — fold after a DISTINCT stage, keyed GROUP-BY over a
DISTINCT-eliminated stream, re-aggregation of a keyed-eliminated
group-by, FK-join elimination feeding all of the above — and checks
every composition three ways: all passes on, all passes off, DuckDB.
A pass that mis-chains its multiplicity certificate across stages
produces silent wrong values exactly here, not in the per-pass suites.
"""

from __future__ import annotations

import os
import random

import duckdb
import pytest

PASS_CONFS = (
    "spark.psql.countDistFold",
    "spark.psql.distinctElimination",
    "spark.psql.keyedGroupByElimination",
    "spark.psql.keyJoinElimination",
)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    from duckdb_psql_spark import PsqlSession

    rng = random.Random(1205)
    base = tmp_path_factory.mktemp("keyedmix")
    cust = [(k, f"name{k}", k % 5) for k in range(1, 41)]
    orders = []
    oid = 500
    for k in range(1, 41):
        for _ in range(rng.choice([0, 0, 1, 2, 5])):
            orders.append(
                (oid, k, rng.choice(["A", "B", "C"]),
                 None if rng.random() < 0.2 else rng.randint(1, 9))
            )
            oid += 1
    cpath = os.path.join(str(base), "cust.parquet")
    opath = os.path.join(str(base), "ords.parquet")
    spark.createDataFrame(
        cust, "c_custkey bigint, c_name string, c_seg int"
    ).coalesce(2).write.mode("overwrite").parquet(cpath)
    spark.createDataFrame(
        orders, "o_orderkey bigint, o_custkey bigint, o_cls string, o_val int"
    ).coalesce(2).write.mode("overwrite").parquet(opath)
    p = PsqlSession(spark)
    p.sql(f"declare primary key on '{cpath}' (c_custkey)")
    p.sql(f"declare primary key on '{opath}' (o_orderkey)")
    p.sql(
        f"declare foreign key on '{opath}' (o_custkey) "
        f"references '{cpath}' (c_custkey)"
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW cust AS SELECT * FROM '{cpath}/*.parquet'")
    con.execute(f"CREATE VIEW ords AS SELECT * FROM '{opath}/*.parquet'")
    return p, con, cpath, opath


def _three_way(env, pipe, oracle):
    p, con, _, _ = env
    duck = sorted(map(tuple, con.execute(oracle).fetchall()))
    on = sorted(tuple(r) for r in p.sql(pipe).collect())
    for c in PASS_CONFS:
        p.spark.conf.set(c, "false")
    try:
        off = sorted(tuple(r) for r in p.sql(pipe).collect())
    finally:
        for c in PASS_CONFS:
            p.spark.conf.unset(c)
    assert on == duck, f"passes-on vs duck:\n{on[:4]}\n{duck[:4]}\n{pipe}"
    assert off == duck, f"passes-off vs duck:\n{off[:4]}\n{duck[:4]}\n{pipe}"


def test_distinct_then_keyed_groupby(env):
    _, _, cpath, opath = env
    # DISTINCT over a declared-unique stream is eliminated; the keyed
    # GROUP-BY over its output must still see a valid certificate
    _three_way(
        env,
        f"from '{cpath}' |> select distinct c_custkey, c_seg "
        "|> select c_custkey, count(*) as n, sum(c_seg) as s "
        "group by c_custkey |> order by c_custkey",
        "SELECT c_custkey, count(*) n, sum(c_seg) s FROM "
        "(SELECT DISTINCT c_custkey, c_seg FROM cust) "
        "GROUP BY c_custkey ORDER BY c_custkey",
    )


def test_join_elim_then_distinct_then_groupby(env):
    _, _, cpath, opath = env
    # payload-free FK join (eliminable) -> DISTINCT -> keyed GROUP-BY
    _three_way(
        env,
        f"from '{opath}' |> as o join '{cpath}' as c "
        "on o.o_custkey = c.c_custkey "
        "|> select distinct o_orderkey, o_cls "
        "|> select o_orderkey, count(o_cls) as n group by o_orderkey "
        "|> order by o_orderkey |> limit 10",
        "SELECT o_orderkey, count(o_cls) n FROM "
        "(SELECT DISTINCT o_orderkey, o_cls FROM ords o JOIN cust c "
        "ON o.o_custkey = c.c_custkey) GROUP BY o_orderkey "
        "ORDER BY o_orderkey LIMIT 10",
    )


def test_fold_after_distinct_head_is_gated(env):
    p, con, cpath, opath = env
    # the fold requires a PRISTINE single-source head: a distinct stage
    # between head and join must gate it (values must still match)
    pipe = (
        f"from '{cpath}' |> select distinct c_custkey "
        f"|> as c left join '{opath}' as o on c.c_custkey = o.o_custkey "
        "|> select c_custkey, count(o_orderkey) as cnt group by c_custkey "
        "|> select cnt, count() as d group by cnt |> order by cnt"
    )
    oracle = (
        "SELECT cnt, count(*) d FROM (SELECT c_custkey, count(o_orderkey) "
        "cnt FROM (SELECT DISTINCT c_custkey FROM cust) c LEFT JOIN ords o "
        "ON c.c_custkey = o.o_custkey GROUP BY c_custkey) "
        "GROUP BY cnt ORDER BY cnt"
    )
    _three_way(env, pipe, oracle)
    assert not p._compiler.last_count_dist_fold


def test_keyed_groupby_then_reaggregate(env):
    _, _, cpath, _ = env
    # keyed GROUP-BY collapses to a projection; the NEXT stage
    # re-aggregates its output on a non-key column
    _three_way(
        env,
        f"from '{cpath}' |> select c_custkey, max(c_seg) as seg, "
        "count(*) as n group by c_custkey "
        "|> select seg, count() as k, sum(n) as sn group by seg "
        "|> order by seg",
        "SELECT seg, count(*) k, sum(n) sn FROM (SELECT c_custkey, "
        "max(c_seg) seg, count(*) n FROM cust GROUP BY c_custkey) "
        "GROUP BY seg ORDER BY seg",
    )


def test_fold_then_keyed_groupby_downstream(env):
    _, _, cpath, opath = env
    # the FULL q13 fold with a further aggregation over its output
    _three_way(
        env,
        f"from '{cpath}' |> as c left join '{opath}' as o "
        "on c.c_custkey = o.o_custkey "
        "|> select c_custkey, count(o_orderkey) as cnt group by c_custkey "
        "|> select cnt, count() as d group by cnt "
        "|> select sum(cnt * d) as total_orders, sum(d) as total_cust",
        "SELECT sum(cnt * d) total_orders, sum(d) total_cust FROM ("
        "SELECT cnt, count(*) d FROM (SELECT c_custkey, "
        "count(o_orderkey) cnt FROM cust c LEFT JOIN ords o "
        "ON c.c_custkey = o.o_custkey GROUP BY c_custkey) GROUP BY cnt)",
    )


def test_interaction_fuzz(env):
    """Seeded compositional fuzz: random chains of the pass-triggering
    stage shapes, each checked three ways. 24 pipelines."""
    rng = random.Random(77)
    _, _, cpath, opath = env
    head_join = (
        f"from '{opath}' |> as o join '{cpath}' as c "
        "on o.o_custkey = c.c_custkey ",
        "FROM ords o JOIN cust c ON o.o_custkey = c.c_custkey",
    )
    head_plain = (f"from '{opath}' ", "FROM ords")
    for trial in range(24):
        head, dhead = rng.choice([head_join, head_plain])
        stages, dsql = [], f"SELECT * {dhead}"
        if rng.random() < 0.6:
            stages.append("|> select distinct o_orderkey, o_cls, o_val ")
            dsql = f"SELECT DISTINCT o_orderkey, o_cls, o_val FROM ({dsql})"
        if rng.random() < 0.7:
            stages.append(
                "|> select o_orderkey, count(o_val) as nv, "
                "max(o_cls) as mc group by o_orderkey "
            )
            dsql = (
                "SELECT o_orderkey, count(o_val) nv, max(o_cls) mc "
                f"FROM ({dsql}) GROUP BY o_orderkey"
            )
            if rng.random() < 0.5:
                stages.append("|> select mc, sum(nv) as s group by mc ")
                dsql = f"SELECT mc, sum(s2.nv) s FROM ({dsql}) s2 GROUP BY mc"
        else:
            stages.append("|> select distinct o_cls ")
            dsql = f"SELECT DISTINCT o_cls FROM ({dsql})"
        pipe = head + "".join(stages)
        _three_way(env, pipe, dsql)
