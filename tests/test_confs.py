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


def _scoped_calls(path: pathlib.Path):
    """(enclosing def, call node) for every call in ``path``."""

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.ClassDef, ast.FunctionDef,
                                  ast.AsyncFunctionDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            elif isinstance(child, ast.Call):
                yield scope, child
            yield from visit(child, inner)

    yield from visit(ast.parse(path.read_text()), "")


def _method_calls(path: pathlib.Path, *names: str):
    for scope, call in _scoped_calls(path):
        if isinstance(call.func, ast.Attribute) and call.func.attr in names:
            yield scope, call


def _conf_writes(path: pathlib.Path) -> set[tuple[str, str]]:
    """(file, enclosing def) of every ``….conf.set/unset`` call; the
    resolver's writes are named by their key instead."""
    found = set()
    for scope, call in _method_calls(path, "set", "unset"):
        if not re.search(r"(^|\.)_?j?conf$", ast.unparse(call.func.value)):
            continue
        key = call.args[0] if call.args else None
        if path.name == "resolver.py" and isinstance(key, ast.Constant):
            found.add((path.name, key.value))
        else:
            found.add((path.name, scope))
    return found


def test_confs_written_only_at_allowed_sites():
    """Composing a statement must not write Spark confs (they would land
    on whichever statement runs next, over the user's SET)."""
    sites = set()
    for path in PKG.rglob("*.py"):
        sites |= _conf_writes(path)
    assert sites == CONF_WRITERS


# the compiler's temp-view registrations: the per-statement binder, the
# CTE binder and the statement end restoring what a CTE shadowed, and the
# DDL/DML statements that (re)define a user-named view
VIEW_WRITERS = {
    "Compiler._bind",
    "Compiler._bind_cte",
    "Compiler._end_statement",
    "Compiler._compile_statement_locked",
    "Compiler._run_mutation",
    "Compiler._run_update_from",
    "Compiler._run_merge",
    "Compiler._run_alter",
    "Compiler._parse_export_import",
    "Compiler._append_to",
}


def test_views_registered_only_at_allowed_sites():
    """Composing a statement leaves the catalog as it found it: every
    DataFrame spliced into SQL goes through ``Compiler._bind`` (never
    PySpark's ``spark.sql(text, **kwargs)`` formatter, whose per-call
    views uncache on drop), and no other compiler site makes a view."""
    for path in PKG.rglob("*.py"):
        for scope, call in _method_calls(path, "sql"):
            assert not any(k.arg is None for k in call.keywords), (
                f"{path.name}:{call.lineno} ({scope}) passes **kwargs to sql()"
            )
    sites = {
        scope for scope, _ in _method_calls(
            PKG / "compiler.py", "createOrReplaceTempView", "createTempView"
        )
    }
    assert sites == VIEW_WRITERS


def test_text_kernels_repartition_only_through_the_spread():
    """The dedup and text operators change their input's partitioning in
    one place, ``spread_over_cores``, so the rule for when a per-row
    kernel gets an exchange lives in one function."""
    ops = PKG / "operators"
    sites = {
        (path.name, scope)
        for path in (ops / "dedup.py", ops / "text.py", ops / "spread.py")
        for scope, _ in _method_calls(path, "repartition")
    }
    assert sites == {("spread.py", "spread_over_cores")}


def test_one_conf_per_pass():
    """One conf per compiler pass plus the two safety caps; a threshold
    that only tunes a pass is a constant in compiler.py, so a new conf
    needs an edit here."""
    assert set(confs.PSQL) == {
        "spark.psql.localSortSmall",
        "spark.psql.keyJoinElimination",
        "spark.psql.distinctElimination",
        "spark.psql.keyedGroupByElimination",
        "spark.psql.countDistFold",
        "spark.psql.existsWindowRewrite",
        "spark.psql.alignExistsProbes",
        "spark.psql.eagerAgg",
        "spark.psql.deferDimJoins",
        "spark.psql.bucketedTwins",
        "spark.psql.broadcastHint.maxBytes",
        "spark.psql.scanReuse.maxBytes",
        "spark.psql.blockPersist.minBytes",
        "spark.psql.insertView.maxRows",
        "spark.psql.recursiveCte.maxIterations",
    }


def test_byte_floors_match_session_constant():
    from duckdb_psql_spark.compiler import TINY_INPUT_BYTES

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
    spark.conf.set("spark.psql.eagerAgg", "FALSE")
    spark.conf.set("spark.psql.insertView.maxRows", "12")
    try:
        snap = confs.read(spark)
    finally:
        spark.conf.unset("spark.psql.eagerAgg")
        spark.conf.unset("spark.psql.insertView.maxRows")
    assert snap["spark.psql.eagerAgg"] is False
    assert snap["spark.psql.insertView.maxRows"] == 12
    assert snap["spark.psql.localSortSmall"] is True
