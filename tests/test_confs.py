"""The conf table (duckdb_psql_spark/confs.py): one declaration per
``spark.psql.*`` key, one boolean parser, and a drift guard over the
package sources."""

import pathlib
import re

import pytest

from duckdb_psql_spark import confs
from duckdb_psql_spark.errors import PsqlCompileError

PKG = pathlib.Path(confs.__file__).parent

# deployment settings, plus the Arrow signature kernels' JVM fallback
ALLOWED_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_DRIVER_JAVA_OPTIONS",
    "SPARK_GRAFT_NO_ARROW_SIG",
}


def _literals(pattern: str) -> dict[str, set[str]]:
    found: dict[str, set[str]] = {}
    for path in PKG.rglob("*.py"):
        if path.name == "confs.py":
            continue
        for m in re.finditer(pattern, path.read_text()):
            found.setdefault(m.group(1), set()).add(path.name)
    return found


def test_every_psql_conf_literal_is_declared():
    used = _literals(r"""["'](spark\.psql\.[\w.]+)["']""")
    assert set(used) - set(confs.PSQL) == set(), used
    # and every declared key has a reader
    assert set(confs.PSQL) - set(used) == set()


def test_only_deployment_env_switches():
    used = _literals(r"""["'](SPARK_GRAFT_\w+)["']""")
    assert set(used) - ALLOWED_ENV == set(), used


def test_byte_floors_match_session_constant():
    from duckdb_psql_spark.session import TINY_INPUT_BYTES

    assert confs.PSQL["spark.psql.scanReuse.minBytes"] == TINY_INPUT_BYTES
    assert confs.PSQL["spark.psql.blockPersist.minBytes"] == TINY_INPUT_BYTES


@pytest.mark.parametrize(
    "raw,want", [("true", True), ("TRUE", True), (" False ", False)]
)
def test_parse_bool_case_insensitive(raw, want):
    assert confs.parse_bool("spark.psql.eagerAgg", raw) is want


def test_invalid_value_names_the_key(psql):
    for key, bad in (("spark.psql.eagerAgg", "yes"),
                     ("spark.psql.insertView.maxRows", "lots")):
        psql.spark.conf.set(key, bad)
        try:
            with pytest.raises(PsqlCompileError, match=re.escape(key)):
                psql.sql("select 1 as x")
        finally:
            psql.spark.conf.unset(key)


def test_snapshot_reads_session_values(spark):
    spark.conf.set("spark.psql.cluster.codec", "snappy")
    spark.conf.set("spark.psql.cluster.buckets", "12")
    try:
        snap = confs.read(spark)
    finally:
        spark.conf.unset("spark.psql.cluster.codec")
        spark.conf.unset("spark.psql.cluster.buckets")
    assert snap["spark.psql.cluster.codec"] == "snappy"
    assert snap["spark.psql.cluster.buckets"] == 12
    assert snap["spark.psql.stmtTune"] is True
