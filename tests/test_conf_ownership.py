"""Spark confs belong to the user and to ``tune_for_input``.

Composing a statement reads the session's confs and writes none of them,
so a user's ``SET`` holds, and a composed statement plans under the confs
that stand when it runs, not under ones a later compose chose. Every test
here restores the confs it changes.
"""

import os
import re
import threading

import pytest

from duckdb_psql_spark.inventory import PAIRS
from duckdb_psql_spark.session import tune_for_input


@pytest.fixture(autouse=True)
def _restore_confs(spark):
    before = spark.conf.getAll
    yield
    after = spark.conf.getAll
    for k in after.keys() - before.keys():
        spark.conf.unset(k)
    for k, v in before.items():
        if after.get(k) != v:
            spark.conf.set(k, v)


@pytest.fixture
def view(spark):
    spark.range(5).createOrReplaceTempView("conf_owner_v")
    yield "conf_owner_v"
    spark.catalog.dropTempView("conf_owner_v")


def test_user_set_survives_a_path_statement(psql, spark, sf_dir):
    psql.sql("set spark.sql.shuffle.partitions = 7")
    psql.sql("set spark.sql.adaptive.enabled = true")
    psql.sql("set spark.sql.files.maxPartitionBytes = 3000000")
    df = psql.sql(f"from '{sf_dir}/region.parquet' |> select count() as n")
    assert df.collect()[0].n == 5
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == "3000000"


def test_broadcast_threshold_survives_a_view_statement(psql, spark, sf_dir,
                                                       view):
    tune_for_input(spark, sf_dir)
    psql.sql("set spark.sql.autoBroadcastJoinThreshold = -1")
    assert psql.sql(f"from {view} |> select count() as n").collect()[0].n == 5
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"


def test_statement_plans_under_the_confs_at_its_run(psql, spark, sf_dir):
    psql.sql("set spark.sql.shuffle.partitions = 5")
    a = psql.sql(
        f"from '{sf_dir}/lineitem.parquet' "
        "|> select l_returnflag, count() as n group by l_returnflag"
    )
    psql.sql(f"from '{sf_dir}/region.parquet' |> select count() as n")
    assert len(a.collect()) == 3
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"hashpartitioning\(l_returnflag#\d+, 5\)", plan), plan


def _path_stmt(psql, spark, sf_dir, view):
    psql.sql(
        f"from '{sf_dir}/lineitem.parquet' |> where l_quantity > 10 "
        "|> select count() as n"
    )


def _view_stmt(psql, spark, sf_dir, view):
    psql.sql(f"from {view} |> select count() as n")


def _minhash_entry(psql, spark, sf_dir, view):
    PAIRS["x_minhash_dedup"][0](spark, sf_dir)


@pytest.mark.parametrize("compose", [_path_stmt, _view_stmt, _minhash_entry])
def test_compose_leaves_every_conf_unchanged(psql, spark, sf_dir, view,
                                             compose):
    tune_for_input(spark, sf_dir)
    # user values unlike any profile the engine could choose
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "3000000")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    before = spark.conf.getAll
    compose(psql, spark, sf_dir, view)
    assert spark.conf.getAll == before


def test_concurrent_composes_measure_their_own_sources(psql, sf_dir,
                                                       monkeypatch):
    """Two threads composing on one session each see their own
    statement's source bytes: the per-statement snapshot is taken under
    the compiler lock."""
    comp = psql._compiler
    lock = comp._lock
    waiting = threading.Semaphore(0)

    class _Gate:
        # the compiler's lock, announcing each thread that reaches it
        def __enter__(self):
            waiting.release()
            return lock.__enter__()

        def __exit__(self, *exc):
            return lock.__exit__(*exc)

    seen: dict[str, int] = {}
    inner = comp._compile_statement_locked

    def record(text):
        seen[text] = comp._stmt_source_bytes
        return inner(text)

    monkeypatch.setattr(comp, "_lock", _Gate())
    monkeypatch.setattr(comp, "_compile_statement_locked", record)
    want = {}
    for table in ("region", "lineitem"):
        path = f"{sf_dir}/{table}.parquet"
        want[f"from '{path}' |> select count() as n"] = os.path.getsize(path)
    errors: list[Exception] = []

    def compose(text):
        try:
            psql.sql(text)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=compose, args=(t,)) for t in want]
    with lock:
        for t in threads:
            t.start()
            assert waiting.acquire(timeout=60)
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert not errors, errors
    assert seen == want
