"""User-facing entry point: ``PsqlSession(spark).sql(text) -> DataFrame``.

The Spark analogue of the reference's extension registration
(``/root/reference/src/psql_extension.cpp:17-25,129-132``): where the
reference hooks DuckDB's parser/binder, we wrap a ``SparkSession`` and
compile PSQL text to DataFrames. Non-PSQL statements pass through to
Spark SQL (with path-literal and FROM-first convenience resolution),
matching the reference's pass-through behavior
(``/root/reference/test/sql/psql.test:5-12``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .compiler import Compiler, _path_bytes


class PsqlSession:
    """A PSQL compiler bound to a SparkSession."""

    def __init__(self, spark: SparkSession, *, materialize_tables: bool = False):
        self.spark = spark
        # DuckDB (standard SQL) treats backslashes in string literals
        # literally; Spark's default parser treats them as escapes, so
        # '\w' would silently become 'w' in regexp patterns. Flip the
        # session to standard literal semantics for dialect parity.
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
        # DuckDB's map_concat overwrites earlier keys with later ones
        # (probe: map_concat(map([1],['a']), map([1],['c'])) = {1:'c'});
        # Spark errors on duplicate keys unless LAST_WIN — same winner.
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # DuckDB-named similarity functions Spark lacks (damerau_levenshtein,
        # jaro[_winkler]_similarity) — Arrow-batched pandas UDFs
        from .functions.pyfuncs import (
            register_math_udfs,
            register_similarity_udfs,
            register_textops_udfs,
            register_unicode_udfs,
        )

        register_similarity_udfs(spark)
        register_unicode_udfs(spark)
        register_math_udfs(spark)
        register_textops_udfs(spark)
        self._compiler = Compiler(spark, materialize_tables=materialize_tables)

    def sql(self, text: str) -> DataFrame:
        """Compile a PSQL (or plain SQL) statement to a DataFrame."""
        return self._compiler.compile_statement(text)

    def explain(self, text: str, mode: str = "formatted") -> None:
        """Explain the physical plan Catalyst chose for a PSQL statement."""
        self.sql(text).explain(mode)


def _local_scratch_dir() -> str:
    """Scratch dir for shuffle/spill files: tmpfs if present, else /tmp.

    Overridable via SPARK_GRAFT_LOCAL_DIR (e.g. to force disk when RAM
    is tight — tmpfs spill consumes memory)."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        path = os.path.join(shm, "spark-graft-local")
        try:
            os.makedirs(path, exist_ok=True)
            return path
        except OSError:
            pass
    return "/tmp"


def _driver_java_options() -> str:
    """Driver JVM flags: user-supplied (env) + version-gated GC-log silence."""
    user = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTIONS", "").strip()
    major = 0
    try:
        with open(os.path.join(os.environ.get("JAVA_HOME", "/nonexistent"), "release")) as f:
            import re as _re

            m = _re.search(r'JAVA_VERSION="(\d+)', f.read())
            if m:
                major = int(m.group(1))
    except OSError:
        pass
    silencer = "-Xlog:gc+alloc=off" if major >= 9 else ""
    return f"{user} {silencer}".strip()


# Below this total input size, per-stage scheduling overhead (~85 ms/job
# measured on local[32]) dominates actual data processing, and Spark's
# cluster-sized defaults (AQE stage-wave re-planning, wide shuffles,
# 128 MB scan splits) actively hurt. Single-node engines size their
# parallelism to the data; this is the Spark-session equivalent.
# 64 MB boundary: the single-reduce-partition tiny profile measured a
# clear win at 17 MB (sf0.1) but serializes the reduce side badly at
# 170 MB (sf1: q21 12.6s tiny vs ~3s scale profile) — the crossover
# sits between, and 64 MB keeps both committed scale points on their
# measured-best profile.
TINY_INPUT_BYTES = 64 * 1024 * 1024

# Above this, reduce parallelism doubles (see tune_for_input).
LARGE_INPUT_BYTES = 1024 * 1024 * 1024

_SCALE_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
}

_TINY_DEFAULTS = {
    # One planning wave: AQE's per-exchange materialize/re-plan barriers
    # cost more than they save when every shuffle is < a few MB.
    "spark.sql.adaptive.enabled": "false",
    # ONE reduce task moves tens of MB fine; more just multiplies
    # task-launch overhead, and a single-partition agg output lets global
    # sorts skip the range-exchange sampling pass entirely. Sweep
    # evidence: scripts/bench_warmup_sweep.py at commit 597de90 (p=1
    # beat p=4 in both interleaved reps). (At >= TINY_INPUT_BYTES AQE
    # coalesces at runtime instead.)
    "spark.sql.shuffle.partitions": "1",
    # Broadcast every dimension (all < 8 MB at tiny SF) so join plans are
    # shuffle-free; keep the fact table itself out of broadcast range.
    "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
    # Split the fact-table scan so all cores participate (an 11 MB file
    # is a single 128 MB-split task otherwise).
    "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
}


def tune_for_input(spark: SparkSession, data_dir: str) -> int:
    """Size runtime session confs to the actual input footprint.

    Measures ``data_dir`` once (local filesystem walk) and sets the
    runtime-settable parallelism confs: the tiny-input profile when the
    whole dataset is smaller than ``TINY_INPUT_BYTES``, the scale profile
    (AQE on — measured faster at sf1+, see BENCH_sf1/sf10.json)
    otherwise. Config sweep evidence: scripts/bench_tiny_sf.py /
    bench_tiny_sf2.py — the tiny profile takes the sf0.1 headline total
    from ~8.6s to ~6s; each knob was measured individually and jointly.

    This is the engine's one sizing call, and the caller makes it
    explicitly, once. Composing a statement never changes a Spark conf:
    every statement plans under the session's confs as they stand when
    it runs, so a later ``SET`` by the user wins. Returns the measured
    byte total.
    """
    total = _path_bytes(data_dir)
    if total < TINY_INPUT_BYTES:
        profile = dict(_TINY_DEFAULTS)
    else:
        profile = dict(_SCALE_DEFAULTS)
        # reduce-partition count scales with the data, and the two
        # committed sweeps go OPPOSITE ways: at sf1 (~170 MB) cores-sized
        # beats 2x cores 5.5/6.8s vs 8.5/8.8s, at sf10 (~2.3 GB) 2x cores
        # beats cores-sized 23.0/25.8s vs 25.1/35.0s (interleaved A/Bs,
        # scripts/bench_shuffle_conf.py). 1 GiB is the boundary between
        # the two measured points.
        cores = spark.sparkContext.defaultParallelism
        big = total >= LARGE_INPUT_BYTES
        profile["spark.sql.shuffle.partitions"] = str(
            max((2 * cores) if big else cores, 4)
        )
    for k, v in profile.items():
        spark.conf.set(k, v)
    return total


def default_spark(app_name: str = "duckdb-psql-spark", cpus: int | None = None) -> SparkSession:
    """A SparkSession tuned for this engine's workloads.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    same configs apply per-executor. AQE handles runtime coalescing and
    skew joins; shuffle partitions default to the core count locally (at
    cluster scale, AQE coalesces from a deliberately high initial value).
    These confs stay as they are for every statement unless the caller
    sizes them with ``tune_for_input`` or changes them with ``SET``.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # cores-sized by default; tune_for_input re-sizes by measured
        # input footprint (1 tiny / cores medium / 2x cores large —
        # the sf1 vs sf10 sweeps go opposite ways, see tune_for_input)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash over sort-merge: skips both sort passes.
        # Safe at scale: the planner only picks SHJ when one side's
        # per-partition build fits a local hash map (else it still sort-
        # merges), and AQE skew splitting bounds partition size. Measured
        # 1.8-1.9x on the sf10 TPC-H join shapes (q03/q05).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # shuffle/spill files on tmpfs when available: measured ~10% on
        # sf10 shuffle-heavy joins (q05 6.5->5.8s). Local-mode tuning
        # only — resource managers (YARN/K8s) override local dirs with
        # their own, so this is inert on a real cluster.
        .config("spark.local.dir", _local_scratch_dir())
        # GCLocker retry warnings print to STDOUT under memory pressure and
        # corrupt machine-read output (bench JSON lines); silence that one
        # unified-logging tag, keep everything else. Version-gated (-Xlog
        # is JDK9+ unified logging; a Java 8 JVM refuses to start on it)
        # and appended to caller-supplied options, not clobbering them.
        .config("spark.driver.extraJavaOptions", _driver_java_options())
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
