"""Every ``spark.psql.*`` conf the engine reads, declared once.

Modelled on Catalyst's ``SQLConf`` (Spark SQL, SIGMOD 2015): each conf is
declared once with its default, and all reads go through one accessor.
``compile_statement`` takes a ``read`` snapshot once per statement, and
every pass gate of that statement reads the snapshot.

There is one conf per compiler pass (its off-switch; for a byte-gated
pass, the gate itself), plus two safety caps. Thresholds that only tune
a pass are module constants at the top of ``compiler.py``.

A conf's type follows its default: booleans parse case-insensitively
(Spark stores ``SET k = TRUE`` verbatim), integers as plain integers.
An invalid value raises ``PsqlCompileError`` naming the key.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .errors import PsqlCompileError

MB = 1024 * 1024

PSQL: dict[str, bool | int] = {
    # terminal ORDER BY over a reduced result → one-partition local sort
    "spark.psql.localSortSmall": True,
    # declared-key passes
    "spark.psql.keyJoinElimination": True,
    "spark.psql.distinctElimination": True,
    "spark.psql.keyedGroupByElimination": True,
    "spark.psql.countDistFold": True,
    # EXISTS rewrites
    "spark.psql.existsWindowRewrite": True,
    "spark.psql.alignExistsProbes": True,
    # join-order passes
    "spark.psql.eagerAgg": True,
    "spark.psql.deferDimJoins": True,
    # 0 disables
    "spark.psql.broadcastHint.maxBytes": 20 * MB,
    # substitution of bucketed twins for their source paths
    "spark.psql.bucketedTwins": True,
    # persisted scan reuse across self-join branches; 0 disables
    "spark.psql.scanReuse.maxBytes": 4096 * MB,
    # repeated (| … |) blocks persist only above this statement size;
    # equal to compiler.TINY_INPUT_BYTES (tests/test_confs.py checks it;
    # importing it here would cycle through compiler → confs)
    "spark.psql.blockPersist.minBytes": 64 * MB,
    # row cap on INSERT into a temp view; 0 disables
    "spark.psql.insertView.maxRows": 50_000_000,
    "spark.psql.recursiveCte.maxIterations": 1000,
}

_SEP = "\u0001"


def parse_bool(key: str, value: str) -> bool:
    v = value.strip().lower()
    if v in ("true", "false"):
        return v == "true"
    raise PsqlCompileError(f"{key}: expected true or false, got {value!r}")


def _parse(key: str, value: str) -> bool | int:
    if isinstance(PSQL[key], bool):
        return parse_bool(key, value)
    try:
        return int(value)
    except ValueError:
        raise PsqlCompileError(
            f"{key}: expected an integer, got {value!r}"
        ) from None


def _session_confs(spark: SparkSession) -> dict[str, str]:
    """Every conf set on the session, in one py4j round trip instead of
    one per key."""
    text = spark.conf._jconf.getAll().mkString(_SEP)
    out = {}
    for entry in text.split(_SEP):
        k, sep, v = entry.partition(" -> ")
        if sep:
            out[k] = v
    return out


def read(spark: SparkSession) -> dict[str, bool | int]:
    """Snapshot of every ``PSQL`` conf: the session's value, parsed, or
    the declared default when unset."""
    raw = _session_confs(spark)
    return {
        k: _parse(k, raw[k]) if k in raw else d for k, d in PSQL.items()
    }

