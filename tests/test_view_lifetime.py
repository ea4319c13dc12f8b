"""One view lifetime: the compiler names each DataFrame it splices into
SQL once per statement (``Compiler._bind``), CTEs bind under the user's
name over a stash of the view they shadow, and the statement end drops
every name through the session catalog. Composing a statement therefore
leaves the catalog and the cache as it found them."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def _catalog(spark) -> set[tuple[str, bool]]:
    return {(t.name, t.isTemporary) for t in spark.catalog.listTables()}


def test_cached_table_survives_piped_read(psql):
    spark = psql.spark
    spark.range(100).createOrReplaceTempView("vl_cached")
    try:
        spark.sql("CACHE TABLE vl_cached")
        assert spark.catalog.isCached("vl_cached")
        n = psql.sql("from vl_cached |> where id > 5 |> select count() as n")
        assert n.collect()[0].n == 94
        assert spark.catalog.isCached("vl_cached")
    finally:
        spark.catalog.dropTempView("vl_cached")


def test_cte_keeps_user_view_of_same_name(psql):
    spark = psql.spark
    spark.createDataFrame([(7,), (8,)], "x int").createOrReplaceTempView("vl_a")
    try:
        spark.sql("CACHE TABLE vl_a")
        out = psql.sql("with vl_a as (select 1 as y) from vl_a |> select y")
        assert [r.y for r in out.collect()] == [1]
        assert sorted(r.x for r in spark.table("vl_a").collect()) == [7, 8]
        assert spark.catalog.isCached("vl_a")
    finally:
        spark.catalog.dropTempView("vl_a")


def test_cte_stash_restored_after_failed_statement(psql):
    spark = psql.spark
    spark.createDataFrame([(7,)], "x int").createOrReplaceTempView("vl_b")
    try:
        with pytest.raises(AnalysisException):
            psql.sql("with vl_b as (select 1 as y) from vl_b |> select nope")
        assert [r.x for r in spark.table("vl_b").collect()] == [7]
    finally:
        spark.catalog.dropTempView("vl_b")


def test_created_view_outlives_same_name_cte(psql):
    spark = psql.spark
    try:
        psql.sql(
            "create or replace temp view vl_c as "
            "with vl_c as (| select 6 as z |) from vl_c |> select z"
        )
        assert [r.z for r in spark.table("vl_c").collect()] == [6]
        psql.sql("select 1 as one").collect()  # a next statement
        assert [r.z for r in spark.table("vl_c").collect()] == [6]
    finally:
        spark.catalog.dropTempView("vl_c")


PIPED_JOIN = (
    "from t1 |> as a join t1 as b on a.i = b.i "
    "|> select count() as n"
)
REPEATED_BLOCK = (
    "with x as (| from t1 |> where i is not null |> select i |) "
    "from x |> as a join x as y on a.i = y.i |> select count() as n"
)
RECURSIVE = (
    "with recursive r(n) as (select 1 union select n + 1 from r where n < 5) "
    "from r |> select count() as c"
)


@pytest.mark.parametrize("stmt,want", [
    (PIPED_JOIN, 3),
    (REPEATED_BLOCK, 3),
    (RECURSIVE, 5),
], ids=["piped_join", "repeated_block", "recursive_cte"])
def test_compose_leaves_catalog_unchanged(psql, stmt, want):
    spark = psql.spark
    spark.conf.set("spark.psql.blockPersist.minBytes", "0")
    try:
        before = _catalog(spark)
        df = psql.sql(stmt)
        assert _catalog(spark) == before
        if stmt is REPEATED_BLOCK:
            # the block is persisted, and its view is gone all the same
            assert psql._compiler._persisted_blocks
        assert df.collect()[0][0] == want
        assert _catalog(spark) == before
    finally:
        spark.conf.unset("spark.psql.blockPersist.minBytes")


def test_failed_statement_leaves_catalog_unchanged(psql):
    spark = psql.spark
    before = _catalog(spark)
    with pytest.raises(AnalysisException):
        psql.sql(
            "with w as (| from t1 |> select i |) "
            "from w |> join t1 on w.i = t1.i |> select no_such_col"
        )
    assert _catalog(spark) == before


def test_brace_literal_round_trips(psql, sf_dir):
    plain = psql.sql("select '{x}' as s, '}{' as u").collect()[0]
    assert (plain.s, plain.u) == ("{x}", "}{")
    # plain SQL over a path literal splices a bound DataFrame
    path = psql.sql(
        f"select '{{x}}' as s, r_regionkey from '{sf_dir}/region.parquet' "
        "order by r_regionkey limit 1"
    ).collect()[0]
    assert path.s == "{x}"
    piped = psql.sql(
        "from t1 |> where i = 1 |> select '{x}' as s, '{{y}}' as u"
    ).collect()[0]
    assert (piped.s, piped.u) == ("{x}", "{{y}}")
