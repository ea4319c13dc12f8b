"""The conf table (duckdb_psql_spark/confs.py): one declaration per
``spark.psql.*`` key, one boolean parser, and a drift guard over the
package sources."""

import ast
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


# the only code that writes Spark confs: the session's dialect settings,
# the explicit input sizing call, the pin job's constraint-propagation
# flip and the resolver's TIMESTAMP(NANOS) read setting
CONF_WRITERS = {
    ("session.py", "PsqlSession.__init__"),
    ("session.py", "tune_for_input"),
    ("compiler.py", "Compiler._pin"),
    ("resolver.py", "spark.sql.legacy.parquet.nanosAsLong"),
}


def _conf_writes(path: pathlib.Path) -> set[tuple[str, str]]:
    """(file, enclosing def) of every ``….conf.set/unset`` call; the
    resolver's writes are named by their key instead."""
    found = set()

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            elif (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and re.search(r"(^|\.)_?j?conf$", ast.unparse(child.func.value))
            ):
                key = child.args[0] if child.args else None
                if path.name == "resolver.py" and isinstance(key, ast.Constant):
                    found.add((path.name, key.value))
                else:
                    found.add((path.name, scope))
            visit(child, inner)

    visit(ast.parse(path.read_text()), "")
    return found


def test_confs_written_only_at_allowed_sites():
    """Composing a statement must not write Spark confs (they would land
    on whichever statement runs next, over the user's SET)."""
    sites = set()
    for path in PKG.rglob("*.py"):
        sites |= _conf_writes(path)
    assert sites == CONF_WRITERS


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
    assert snap["spark.psql.localSortSmall"] is True
