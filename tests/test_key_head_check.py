"""The declared-key passes' shared head check (compiler._key_head).

FK-join elimination, DISTINCT elimination, the count-distribution fold
and the EXISTS→window rewrite reason about the head's source only when it
is a bare path or table: a glob or a ``read_parquet('…', …)`` head
declines, because per-file key identity is unknown and reader options
may change the rows. Keys are declared on the head's exact source text in
every case, so the head check alone decides; the same query over the
plain path fires the pass. Rows always equal the pass-off run."""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def head_env(spark, tmp_path_factory):
    """A key side k (pk unique, some keys without facts) and a fact side
    f (fk → k.pk, several rows per key), each a directory of two parquet
    files so a ``*.parquet`` glob matches them."""
    base = str(tmp_path_factory.mktemp("keyhead"))
    kpath, fpath = os.path.join(base, "k"), os.path.join(base, "f")
    spark.createDataFrame(
        [(i, f"n{i % 4}") for i in range(1, 13)], "pk bigint, name string"
    ).repartition(2).write.mode("overwrite").parquet(kpath)
    spark.createDataFrame(
        [(i, i % 9 + 1, i * 10) for i in range(1, 41)],
        "id bigint, fk bigint, v bigint",
    ).repartition(2).write.mode("overwrite").parquet(fpath)
    return kpath, fpath


def _head(form: str, path: str) -> tuple[str, str]:
    """(the FROM text of the head, the source text its keys are declared on)."""
    if form == "glob":
        return f"'{path}/*.parquet'", f"'{path}/*.parquet'"
    if form == "read_parquet":
        return f"read_parquet('{path}', union_by_name=true)", f"'{path}'"
    return f"'{path}'", f"'{path}'"


def _fk_elim(p, form, kpath, fpath):
    head, src = _head(form, fpath)
    p.sql(f"declare primary key on '{kpath}' (pk)")
    p.sql(f"declare foreign key on {src} (fk) references '{kpath}' (pk)")
    q = (f"from {head} |> as f join '{kpath}' as k on f.fk = k.pk |> "
         "select id, v")
    return q, lambda c: bool(c.last_eliminated_joins)


def _distinct_elim(p, form, kpath, fpath):
    head, src = _head(form, kpath)
    p.sql(f"declare primary key on {src} (pk)")
    q = f"from {head} |> select distinct pk, name"
    return q, lambda c: c.last_distinct_elim


def _count_fold(p, form, kpath, fpath):
    head, src = _head(form, kpath)
    p.sql(f"declare primary key on {src} (pk)")
    p.sql(f"declare foreign key on '{fpath}' (fk) references {src} (pk)")
    q = (f"from {head} |> as k left join '{fpath}' as o on k.pk = o.fk |> "
         "select pk, count(id) as c group by pk |> "
         "select c, count() as d group by c")
    return q, lambda c: c.last_count_dist_fold


def _exists_rewrite(p, form, kpath, fpath):
    # a self-probe: the probe scans the head's own source (renamed
    # outer columns, so the correlation is not shadowed by f2's own)
    head, src = _head(form, fpath)
    p.sql(f"declare primary key on {src} (id)")
    q = (f"from {head} |> select id as i, fk as g |> "
         f"where exists (select 1 from {src} f2 "
         "where f2.fk = g and f2.id <> i) |> select i")
    return q, lambda c: bool(c.last_window_rewrites)


PASSES = {
    "keyJoinElimination": _fk_elim,
    "distinctElimination": _distinct_elim,
    "countDistFold": _count_fold,
    "existsWindowRewrite": _exists_rewrite,
}


@pytest.mark.parametrize("form", ["glob", "read_parquet", "plain"])
@pytest.mark.parametrize("conf", list(PASSES))
def test_head_check(spark, head_env, conf, form):
    from duckdb_psql_spark import PsqlSession

    kpath, fpath = head_env
    p = PsqlSession(spark)
    q, fired = PASSES[conf](p, form, kpath, fpath)
    got = sorted(tuple(r) for r in p.sql(q).collect())
    assert fired(p._compiler) == (form == "plain")
    spark.conf.set(f"spark.psql.{conf}", "false")
    try:
        plain = sorted(tuple(r) for r in p.sql(q).collect())
    finally:
        spark.conf.unset(f"spark.psql.{conf}")
    assert got == plain
    assert got
