"""Compose/plan cache (compiler._plan_cache).

Compose cost is Python + ~400 py4j round-trips per statement (profiled:
2.0s of the 6.5s sf0.1 interleaved suite). Repeated pure-query
statements must return the SAME DataFrame (skipping compose) while every
invalidation class — DDL/DML epoch, planning-conf change, on-disk data
change, named-table sources, sequence access — forces a fresh compile.
"""

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


def test_pure_query_hit_returns_same_dataframe(psql):
    a = psql.sql(Q)
    b = psql.sql(Q)
    assert a is b
    assert [tuple(r) for r in b.collect()] == [tuple(r) for r in a.collect()]


def test_ddl_flushes_cache(psql):
    a = psql.sql(Q)
    psql.sql(
        f"create or replace temp view _pc_v as (| from '{REGION}' |> "
        "select r_regionkey |)"
    )
    assert psql.sql(Q) is not a


def test_named_source_not_cached(psql):
    psql.sql(
        f"create or replace temp view _pc_named as (| from '{REGION}' |> "
        "select r_regionkey |)"
    )
    a = psql.sql("from _pc_named |> order by r_regionkey |> limit 2")
    b = psql.sql("from _pc_named |> order by r_regionkey |> limit 2")
    assert a is not b


# a second value for each Spark planning conf; the test picks whichever
# differs from the session's current one
_PLANNING_ALT = {
    "spark.sql.autoBroadcastJoinThreshold": ("-1", "1048576"),
    "spark.sql.shuffle.partitions": ("3", "5"),
    "spark.sql.adaptive.enabled": ("true", "false"),
    "spark.sql.files.maxPartitionBytes": ("3145728", "4194304"),
}


def _non_default(key: str, default) -> str:
    if isinstance(default, bool):
        return str(not default).lower()
    if isinstance(default, int):
        return str(default + 1)
    if default is None:
        return "16"
    return "snappy"  # the one string conf is the twin codec


def test_planning_conf_change_misses(psql, monkeypatch):
    """Every conf in the table, flipped after a cached compose, must make
    the next compose miss. The statement tuner is stubbed out so it
    cannot reset the Spark planning confs the test sets."""
    import duckdb_psql_spark.session as S
    from duckdb_psql_spark import confs

    monkeypatch.setattr(S, "tune_for_statement", lambda spark, n: None)
    monkeypatch.setattr(S, "restore_dataset_profile", lambda spark: False)
    spark = psql.spark
    hits = []
    for key, default in confs.PSQL.items():
        a = psql.sql(Q)
        assert psql.sql(Q) is a, key
        spark.conf.set(key, _non_default(key, default))
        try:
            if psql.sql(Q) is a:
                hits.append(key)
        finally:
            spark.conf.unset(key)
    for key in confs.PLANNING:
        a = psql.sql(Q)
        old = spark.conf.get(key)
        spark.conf.set(key, next(v for v in _PLANNING_ALT[key] if v != old))
        try:
            if psql.sql(Q) is a:
                hits.append(key)
        finally:
            spark.conf.set(key, old)
    assert hits == []
    assert len(confs.PSQL) == 28 and len(confs.PLANNING) == 4


def test_recursive_cte_cap_applies_after_cached_compose(psql):
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


def test_data_change_self_invalidates(psql, tmp_path):
    src = str(tmp_path / "d.parquet")
    psql.spark.range(3).write.mode("overwrite").parquet(src)
    stmt = f"from '{src}' |> select count() as n"
    assert psql.sql(stmt).collect()[0][0] == 3
    psql.spark.range(5).write.mode("overwrite").parquet(src)
    # dir mtime changed -> key differs -> fresh compile sees new data
    assert psql.sql(stmt).collect()[0][0] == 5


def test_sequence_statements_never_cached(psql):
    psql.sql("create sequence _pc_seq")
    a = psql.sql("select nextval('_pc_seq') as v").collect()[0][0]
    b = psql.sql("select nextval('_pc_seq') as v").collect()[0][0]
    assert (a, b) == (1, 2)


def test_off_switch(psql):
    psql.spark.conf.set("spark.psql.planCache", "false")
    try:
        assert psql.sql(Q) is not psql.sql(Q)
    finally:
        psql.spark.conf.set("spark.psql.planCache", "true")


def test_nondeterministic_statements_never_cached(psql):
    # Spark fixes rand/uuid seeds at analysis time: a cache hit would
    # replay identical "random" values forever (ADVICE r8). Fresh
    # compile per statement restores DuckDB's fresh-draw behavior.
    stmt = f"from '{REGION}' |> select r_regionkey, random() as r |> limit 3"
    a = psql.sql(stmt)
    b = psql.sql(stmt)
    assert a is not b
    va = sorted(r["r"] for r in a.collect())
    vb = sorted(r["r"] for r in b.collect())
    assert va != vb
    assert psql.sql("select uuid() as u") is not psql.sql("select uuid() as u")


def test_glob_source_never_cached(psql, tmp_path):
    # 'dir/*.parquet' expands to a file LIST that changes without any
    # literal path's stat changing — must stay uncacheable
    d = tmp_path / "glob_src"
    d.mkdir()
    psql.spark.range(3).write.parquet(str(d / "a.parquet"))
    stmt = f"from '{d}/*.parquet' |> select count() as n"
    assert psql.sql(stmt) is not psql.sql(stmt)
    assert psql.sql(stmt).collect()[0][0] == 3
    psql.spark.range(4).write.parquet(str(d / "b.parquet"))
    assert psql.sql(stmt).collect()[0][0] == 7


def test_nested_partition_file_change_invalidates(psql, tmp_path):
    # replacing a file inside a partition SUBDIR doesn't bump the top
    # dir's mtime — the key must fingerprint recursively (ADVICE r8)
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


def test_cache_hit_releases_prior_persisted_blocks(psql):
    # a run of cache-hit statements after a persist-heavy one must not
    # pin the prior statement's blocks indefinitely (ADVICE r8)
    comp = psql._compiler
    marker = psql.spark.range(2).persist()
    marker.count()
    comp._persisted_blocks.append(marker)
    psql.sql(Q)  # warm (or hit) the cache
    psql.sql(Q)  # hit path must run the release loop
    assert not comp._persisted_blocks
    assert marker.storageLevel.useMemory is False
