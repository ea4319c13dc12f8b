"""Every statement is composed afresh from its text.

The engine keeps no text → DataFrame cache, so a repeated statement must
see whatever changed since its last run: data on disk, files matched by a
glob, replaced views, session confs set through the API, key
declarations, sequence state and new random draws. Introspection such as
``last_eliminated_joins`` must describe the statement composed last.
"""

import datetime
import os
import shutil

import pytest

from tests.conftest import SF_DIR

LINEITEM = f"{SF_DIR}/lineitem.parquet"
REGION = f"{SF_DIR}/region.parquet"

Q = (
    f"from '{LINEITEM}' |> where l_quantity > 45 "
    "|> select l_orderkey, l_quantity "
    "|> order by l_quantity desc, l_orderkey |> limit 5"
)


def test_session_time_zone_change_applies(psql, tmp_path):
    # Catalyst binds the session time zone into the analyzed plan, so a
    # plan kept from the first run would render the old wall-clock time
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "ts.parquet")
    ts = datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc)
    pq.write_table(
        pa.table({"ts": pa.array([ts], pa.timestamp("us", tz="UTC"))}), src
    )
    stmt = f"from '{src}' |> select cast(ts as string) as s"
    key = "spark.sql.session.timeZone"
    old = psql.spark.conf.get(key)
    psql.spark.conf.set(key, "UTC")
    try:
        assert psql.sql(stmt).collect()[0].s == "2024-01-01 12:00:00"
        psql.spark.conf.set(key, "America/New_York")
        assert psql.sql(stmt).collect()[0].s == "2024-01-01 07:00:00"
    finally:
        psql.spark.conf.set(key, old)


def test_eliminated_joins_describe_last_statement(psql):
    fk_join = f"""
    from '{LINEITEM}' |>
    as l join '{SF_DIR}/orders.parquet' as o on l.l_orderkey = o.o_orderkey |>
    select count() as n
    """
    other = f"""
    from '{REGION}' |>
    as r join '{SF_DIR}/nation.parquet' as n on r.r_regionkey = n.n_regionkey |>
    select count() as n
    """
    comp = psql._compiler
    psql.sql(f"declare primary key on '{SF_DIR}/orders.parquet' (o_orderkey)")
    psql.sql(
        f"declare foreign key on '{LINEITEM}' (l_orderkey) "
        f"references '{SF_DIR}/orders.parquet' (o_orderkey)"
    )
    try:
        psql.sql(fk_join)
        assert comp.last_eliminated_joins
        psql.sql(other)
        assert not comp.last_eliminated_joins
        psql.sql(fk_join)
        assert comp.last_eliminated_joins
    finally:
        comp.constraints.uniques.clear()
        comp.constraints.fks.clear()


def test_replaced_view_rows_come_back(psql):
    stmt = "from _fresh_named |> order by k"
    psql.spark.createDataFrame([(1,), (2,)], "k int").createOrReplaceTempView(
        "_fresh_named"
    )
    try:
        assert [r.k for r in psql.sql(stmt).collect()] == [1, 2]
        psql.spark.createDataFrame(
            [(7,), (8,), (9,)], "k int"
        ).createOrReplaceTempView("_fresh_named")
        assert [r.k for r in psql.sql(stmt).collect()] == [7, 8, 9]
    finally:
        psql.spark.catalog.dropTempView("_fresh_named")


def test_recursive_cte_cap_applies_to_next_statement(psql):
    from duckdb_psql_spark.errors import PsqlCompileError

    q = (
        "with recursive r(n) as (select 1 union select n+1 from r "
        "where n < 5) select * from r"
    )
    assert sorted(r.n for r in psql.sql(q).collect()) == [1, 2, 3, 4, 5]
    psql.spark.conf.set("spark.psql.recursiveCte.maxIterations", "2")
    try:
        with pytest.raises(PsqlCompileError, match="no fixpoint after 2"):
            psql.sql(q)
    finally:
        psql.spark.conf.unset("spark.psql.recursiveCte.maxIterations")


def test_data_change_is_read(psql, tmp_path):
    src = str(tmp_path / "d.parquet")
    psql.spark.range(3).write.mode("overwrite").parquet(src)
    stmt = f"from '{src}' |> select count() as n"
    assert psql.sql(stmt).collect()[0][0] == 3
    psql.spark.range(5).write.mode("overwrite").parquet(src)
    assert psql.sql(stmt).collect()[0][0] == 5


def test_sequence_advances(psql):
    psql.sql("create sequence _fresh_seq")
    a = psql.sql("select nextval('_fresh_seq') as v").collect()[0][0]
    b = psql.sql("select nextval('_fresh_seq') as v").collect()[0][0]
    assert (a, b) == (1, 2)


def test_nondeterministic_fresh_draws(psql):
    # Spark fixes rand/uuid seeds at analysis time; each statement is
    # analyzed afresh, so repeats draw new values as DuckDB's do
    stmt = f"from '{REGION}' |> select r_regionkey, random() as r |> limit 3"
    va = sorted(r["r"] for r in psql.sql(stmt).collect())
    vb = sorted(r["r"] for r in psql.sql(stmt).collect())
    assert va != vb
    u = "select uuid() as u"
    assert psql.sql(u).collect()[0].u != psql.sql(u).collect()[0].u


def test_glob_source_sees_new_files(psql, tmp_path):
    d = tmp_path / "glob_src"
    d.mkdir()
    psql.spark.range(3).write.parquet(str(d / "a.parquet"))
    stmt = f"from '{d}/*.parquet' |> select count() as n"
    assert psql.sql(stmt).collect()[0][0] == 3
    psql.spark.range(4).write.parquet(str(d / "b.parquet"))
    assert psql.sql(stmt).collect()[0][0] == 7


def test_nested_partition_file_change_is_read(psql, tmp_path):
    # replacing a file inside a partition subdir leaves the top dir's
    # mtime as it was; the next statement must still read the new rows
    import pyspark.sql.functions as F

    src = str(tmp_path / "part_src")
    psql.spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(src)
    stmt = f"from '{src}' |> select count() as n"
    assert psql.sql(stmt).collect()[0][0] == 4
    top_stat = os.stat(src)
    psql.spark.range(10).withColumn("p", F.lit(0)).write.mode(
        "overwrite"
    ).partitionBy("p").parquet(src + "_tmp")
    # overwrite ONLY the p=0 subdir in place, preserving top-level mtime
    shutil.rmtree(f"{src}/p=0")
    shutil.copytree(f"{src}_tmp/p=0", f"{src}/p=0")
    os.utime(src, (top_stat.st_atime, top_stat.st_mtime))
    assert psql.sql(stmt).collect()[0][0] == 12


def test_next_statement_releases_prior_persisted_blocks(psql):
    comp = psql._compiler
    marker = psql.spark.range(2).persist()
    marker.count()
    comp._persisted_blocks.append(marker)
    psql.sql(Q)
    assert not comp._persisted_blocks
    assert marker.storageLevel.useMemory is False
