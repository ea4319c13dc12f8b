"""Declared-key DISTINCT elimination (compiler._eliminate_distinct).

``select distinct`` covering a declared unique key of a multiplicity-
clean stream is a no-op shuffle and is deleted; every soundness gate is
exercised with the same three-way discipline as the count-distribution
fold (eliminated / conf-off / DuckDB oracle on the same data)."""

from __future__ import annotations

import os

import duckdb
import pytest


@pytest.fixture(scope="module")
def de_env(spark, tmp_path_factory):
    from duckdb_psql_spark import PsqlSession

    base = tmp_path_factory.mktemp("distelim")
    kpath = os.path.join(str(base), "k.parquet")      # unique pk
    dpath = os.path.join(str(base), "d.parquet")      # dim, unique dk
    mpath = os.path.join(str(base), "m.parquet")      # many rows per fk
    spark.createDataFrame(
        [(i, i % 3, f"n{i}") for i in range(1, 21)],
        "pk bigint, fk bigint, name string",
    ).write.mode("overwrite").parquet(kpath)
    spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "dk bigint, dv string"
    ).write.mode("overwrite").parquet(dpath)
    spark.createDataFrame(
        [(i % 7 + 1, i) for i in range(50)], "mk bigint, mv bigint"
    ).write.mode("overwrite").parquet(mpath)
    p = PsqlSession(spark)
    p.sql(f"declare primary key on '{kpath}' (pk)")
    p.sql(f"declare primary key on '{dpath}' (dk)")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW k AS SELECT * FROM '{kpath}/*.parquet'")
    con.execute(f"CREATE VIEW d AS SELECT * FROM '{dpath}/*.parquet'")
    con.execute(f"CREATE VIEW m AS SELECT * FROM '{mpath}/*.parquet'")
    return p, con, kpath, dpath, mpath


def _three_way(env, pipe, oracle, expect_elim):
    p, con, *_ = env
    duck = sorted(con.execute(oracle).fetchall())
    got = sorted(tuple(r) for r in p.sql(pipe).collect())
    fired = p._compiler.last_distinct_elim
    p.spark.conf.set("spark.psql.distinctElimination", "false")
    try:
        plain = sorted(tuple(r) for r in p.sql(pipe).collect())
    finally:
        p.spark.conf.set("spark.psql.distinctElimination", "true")
    assert fired == expect_elim, f"elim fired={fired}, expected {expect_elim}"
    assert got == duck and plain == duck


def test_distinct_elim_bare_scan(de_env):
    _, _, kpath, _, _ = de_env
    _three_way(
        de_env,
        f"from '{kpath}' |> select distinct pk, name |> order by pk",
        "SELECT DISTINCT pk, name FROM k ORDER BY pk",
        True,
    )
    # aliased key still covers the declared set
    _three_way(
        de_env,
        f"from '{kpath}' |> where fk <> 1 |> select distinct pk as id, fk",
        "SELECT DISTINCT pk AS id, fk FROM k WHERE fk <> 1",
        True,
    )


def test_distinct_elim_through_unique_dim_join(de_env):
    """An inner equi join onto the dim's OWN declared unique key keeps
    the stream at <=1 row per source row: still eliminated."""
    _, _, kpath, dpath, _ = de_env
    _three_way(
        de_env,
        f"""from '{kpath}' |>
            as a join '{dpath}' as b on a.fk = b.dk |>
            select distinct pk, dv |> order by pk""",
        "SELECT DISTINCT pk, dv FROM k JOIN d ON k.fk = d.dk ORDER BY pk",
        True,
    )


def test_distinct_elim_gates(de_env):
    """Streams that CAN hold duplicates keep their DISTINCT."""
    _, _, kpath, dpath, mpath = de_env
    # join onto a NON-unique key duplicates pipe rows
    _three_way(
        de_env,
        f"""from '{kpath}' |>
            as a join '{mpath}' as b on a.pk = b.mk |>
            select distinct pk, name""",
        "SELECT DISTINCT pk, name FROM k JOIN m ON k.pk = m.mk",
        False,
    )
    # projected columns do NOT cover the declared key
    _three_way(
        de_env,
        f"from '{kpath}' |> select distinct fk, name",
        "SELECT DISTINCT fk, name FROM k",
        False,
    )
    # group-by clears the certificate (keys change meaning)
    _three_way(
        de_env,
        f"""from '{kpath}' |>
            select fk, count() as n group by fk |>
            select distinct fk, n""",
        "SELECT DISTINCT fk, n FROM "
        "(SELECT fk, count(*) AS n FROM k GROUP BY fk)",
        False,
    )
    # no declared key on the source at all
    _three_way(
        de_env,
        f"""from '{mpath}' |> select distinct mk""",
        "SELECT DISTINCT mk FROM m",
        False,
    )


def test_distinct_on_never_touched(de_env):
    p, con, kpath, _, _ = de_env
    got = sorted(
        tuple(r)
        for r in p.sql(
            f"from '{kpath}' |> select distinct on (fk) fk, pk "
            f"|> order by fk, pk"
        ).collect()
    )
    assert p._compiler.last_distinct_elim is False
    duck = sorted(con.execute(
        "SELECT DISTINCT ON (fk) fk, pk FROM (SELECT * FROM k ORDER BY fk, pk)"
    ).fetchall())
    assert {g[0] for g in got} == {d[0] for d in duck}


def test_distinct_elim_deletes_the_exchange(de_env):
    """The point of the pass: the eliminated plan has no dedup
    aggregate/exchange for the distinct."""
    p, _, kpath, _, _ = de_env
    df = p.sql(f"from '{kpath}' |> select distinct pk, name")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in plan and "Aggregate" not in plan
    p.spark.conf.set("spark.psql.distinctElimination", "false")
    try:
        df2 = p.sql(f"from '{kpath}' |> select distinct pk, name")
        plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
        assert "Deduplicate" in plan2 or "Aggregate" in plan2
    finally:
        p.spark.conf.set("spark.psql.distinctElimination", "true")


def test_distinct_elim_same_stage_join_gate(de_env):
    """Round-11 review find #1: a duplicating join in the SAME stage as
    the distinct select executes before it — the certificate must
    advance past the join before the check."""
    _, _, kpath, _, mpath = de_env
    _three_way(
        de_env,
        f"""from '{kpath}' |>
            as a join '{mpath}' as b on a.pk = b.mk
            select distinct pk, name |> order by pk""",
        "SELECT DISTINCT pk, name FROM k JOIN m ON k.pk = m.mk ORDER BY pk",
        False,
    )
    # and a same-stage 1:1 join still eliminates
    _, _, _, dpath, _ = de_env
    _three_way(
        de_env,
        f"""from '{kpath}' |>
            as a join '{dpath}' as b on a.fk = b.dk
            select distinct pk, dv |> order by pk""",
        "SELECT DISTINCT pk, dv FROM k JOIN d ON k.fk = d.dk ORDER BY pk",
        True,
    )


def test_distinct_elim_generator_gate(de_env):
    """Round-11 review find #2: explode in an upstream (or the same)
    select multiplies rows — the certificate must clear."""
    _, _, kpath, _, _ = de_env
    _three_way(
        de_env,
        f"""from '{kpath}' |>
            select pk, name, explode(array(1, 2)) as v |>
            select distinct pk, name |> order by pk""",
        "SELECT DISTINCT pk, name FROM "
        "(SELECT pk, name, unnest([1, 2]) AS v FROM k) ORDER BY pk",
        False,
    )
    # generator directly under the distinct: also never eliminated
    _three_way(
        de_env,
        f"""from '{kpath}' |> where pk <= 2 |>
            select distinct pk, explode(array(1, 1)) as v |>
            order by pk, v""",
        "SELECT DISTINCT pk, unnest([1, 1]) AS v FROM k WHERE pk <= 2 "
        "ORDER BY pk, v",
        False,
    )
