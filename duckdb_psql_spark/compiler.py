"""PSQL → DataFrame compiler.

Where the reference rewrites ``A |> B |> C`` into nested ``FROM ( … )``
SQL text and hands it to DuckDB (``/root/reference/src/psql_extension.cpp:28-49``,
``README.md:68-87``), we compile each stage into one DataFrame
transformation and hand the chain to Catalyst (SURVEY.md §3.4): SQL
text ``SELECT … FROM {__pipe} …`` whose placeholders ``Compiler._bind``
names as per-statement temp views, all dropped at statement end through
the session catalog (analysis is eager; no cache entry is touched), so
composing leaves the catalog and the cache as it found them. Catalyst's
CollapseProject / PushDownPredicates / ColumnPruning flatten the chain
exactly as DuckDB's optimizer flattens the reference's nested FROMs
(SURVEY.md §4.2).

Statement forms (conformance surface, SURVEY.md §2.B):

* pure pipelines ``from t1 |> order by i``  (psql.test:19),
* ``(| … |)`` blocks in ``CREATE VIEW`` / ``CREATE TABLE AS`` / CTEs
  (README.md:59-65, psql.test:41-45),
* FROM-first statements and bare ``UNION`` between them (psql.test:45),
* pass-through of everything else to ``spark.sql`` (psql.test:5-12).
"""

from __future__ import annotations

import collections
import hashlib
import itertools
import math
import os
import re
import string
import threading
import uuid
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import confs as confs_mod
from . import constraints as constraints_mod
from . import enums as enums_mod
from . import macros as macros_mod
from . import prepared as prepared_mod
from . import introspection as introspection_mod
from . import sequences as sequences_mod
from .operators import merge_into as merge_mod
from .errors import PsqlCompileError, PsqlParseError
from .functions.shims import _NONDET_FNS, _match_paren_tok, _split_args, apply_shims
from .lexer import Token, depth_map, strip_comments, tokenize

from .scanner import find_blocks, first_statement, has_psql_tokens, split_stages
from .sources.resolver import SourceResolver
from .stages import Head, Stage, parse_head, parse_stage

_JOIN_WORDS = {"join", "inner", "left", "right", "full", "outer", "cross",
               "natural", "semi", "anti", "asof", "positional", "lateral"}

_DEDUP_ARGS = re.compile(
    r"^by\s+([\w\s,\"`]+?)(?:\s+keep\s+(\w+))?$", re.IGNORECASE | re.DOTALL
)

MB = 1024 * 1024

# Below this total input size, per-stage scheduling overhead (~85 ms/job
# measured on local[32]) dominates actual data processing, and Spark's
# cluster-sized defaults (AQE stage-wave re-planning, wide shuffles,
# 128 MB scan splits) actively hurt. Single-node engines size their
# parallelism to the data; this is the Spark-session equivalent.
# 64 MB boundary: the single-reduce-partition tiny profile measured a
# clear win at 17 MB (sf0.1) but serializes the reduce side badly at
# 170 MB (sf1: q21 12.6s tiny vs ~3s scale profile) — the crossover
# sits between, and 64 MB keeps both committed scale points on their
# measured-best profile. Also the floor of the local-sort gate, of scan
# reuse and of CLUSTER DECLARED KEYS' default ``minbytes``.
TINY_INPUT_BYTES = 64 * MB

# deferred dim joins (_defer_conf): a dimension side up to SMALL bytes is
# deferred past a fact side of at least BIG bytes
DEFER_SMALL_BYTES = 32 * MB
DEFER_BIG_BYTES = 256 * MB

# scan reuse (_with_scan_reuse): at and above this file size the persisted
# base is repartitioned on its repeated exchange key
SCAN_REUSE_COPARTITION_BYTES = 256 * MB

# bucketed-twin writes (CLUSTER DECLARED KEYS, `|> cluster by`): the
# bytes-derived bucket count targets this much source parquet per bucket,
# capped at MAX_BUCKETS, and every twin is written with one codec
BUCKET_TARGET_BYTES = 32 * MB
MAX_BUCKETS = 65536
TWIN_CODEC = "zstd"


def _parse_star_modifiers(
    sel: str,
) -> tuple[str, list[str], list[tuple[str, str]], str] | None:
    """Detect DuckDB star modifiers: ``[DISTINCT] * EXCLUDE/REPLACE/RENAME``.

    DuckDB extends the star with EXCLUDE/REPLACE/RENAME clauses
    (delegated-dialect surface, SURVEY.md §2.C); Spark has no equivalent,
    so the compiler expands them against the stage's input schema.
    RENAME items are folded into the replace list as identity expressions
    with a new output name. Returns (distinct_prefix, exclude_cols,
    [(expr, col)], rest_after_comma) or None when the select list has no
    star modifier.
    """
    toks = tokenize(sel)
    i = 0
    distinct = ""
    if toks and toks[0].kind == "word" and toks[0].lower == "distinct":
        if len(toks) > 1 and toks[1].kind == "word" and toks[1].lower == "on":
            return None  # DISTINCT ON has its own rewrite
        distinct = "DISTINCT "
        i = 1
    if i >= len(toks) or not (toks[i].kind == "op" and toks[i].text == "*"):
        return None
    i += 1
    exclude: list[str] = []
    replace: list[tuple[str, str]] = []
    found = False
    rename: list[tuple[str, str]] = []
    while (
        i < len(toks)
        and toks[i].kind == "word"
        and toks[i].lower in ("exclude", "replace", "rename")
    ):
        kind = toks[i].lower
        if i + 1 < len(toks) and toks[i + 1].kind == "lparen":
            close = _match_paren_tok(toks, i + 1)
            items = _split_args(sel[toks[i + 1].end : toks[close].start])
            i = close + 1
        elif kind == "exclude" and i + 1 < len(toks) and toks[i + 1].kind in (
            "word",
            "qident",
        ):
            items = [toks[i + 1].text]
            i += 2
        else:
            return None
        if kind == "exclude":
            exclude += [x.strip().strip('"').strip("`") for x in items]
        else:
            for x in items:
                m = re.match(r'(?is)^(.*\S)\s+as\s+([\w"`]+)\s*$', x.strip())
                if m is None:
                    return None
                pair = (m.group(1), m.group(2).strip().strip('"').strip("`"))
                (replace if kind == "replace" else rename).append(pair)
        found = True
    if not found:
        return None
    rest = ""
    if i < len(toks):
        if toks[i].kind != "comma":
            return None
        rest = sel[toks[i].end :]
    # RENAME (old AS new) ≡ REPLACE with an identity expression that also
    # changes the output name
    replace = replace + [(f"`{old.strip().strip(chr(34)).strip('`')}`", new)
                         for old, new in rename]
    rename_src = {old.strip().strip('"').strip("`") for old, _ in rename}
    return distinct, exclude, replace, rest, rename_src


_COLUMNS_CALL = re.compile(r"(?is)\bcolumns\s*\(")


def _expand_columns_calls(sel: str, cols: list[str]) -> str | None:
    """Expand DuckDB ``COLUMNS('regex')`` / ``COLUMNS(*)`` select items.

    DuckDB replicates the whole containing expression once per matched
    column and names each replica after the column (verified against
    DuckDB: even ``min(COLUMNS(*))`` yields outputs named ``i, j, …``).
    Returns the rewritten select list, or None when no COLUMNS call is
    present.
    """
    if not _COLUMNS_CALL.search(sel):
        return None
    toks = tokenize(sel)
    items: list[tuple[int, int]] = []  # [start, end) char spans of items
    depth = 0
    start = 0
    for t in toks:
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif t.kind == "comma" and depth == 0:
            items.append((start, t.start))
            start = t.end
    items.append((start, len(sel)))
    out_items: list[str] = []
    for s, e in items:
        item = sel[s:e]
        itoks = tokenize(item)
        call = None
        for k, t in enumerate(itoks):
            if (
                t.kind == "word"
                and t.lower == "columns"
                and k + 1 < len(itoks)
                and itoks[k + 1].kind == "lparen"
            ):
                close = _match_paren_tok(itoks, k + 1)
                if call is not None:
                    raise PsqlCompileError(
                        "multiple COLUMNS() calls in one select item are not supported"
                    )
                call = (t.start, itoks[close].end, itoks[k + 1].end, itoks[close].start)
        if call is None:
            out_items.append(item)
            continue
        cstart, cend, istart, iend = call
        inner = item[istart:iend].strip()
        if inner == "*":
            matched = list(cols)
        elif (
            mex := re.fullmatch(
                r"(?is)\*\s+exclude\s*\(([^)]*)\)", inner
            )
        ) is not None:
            # columns(* EXCLUDE (a, b)): all columns minus the listed
            dropped = {
                p.strip().strip("'\"`").lower()
                for p in mex.group(1).split(",")
                if p.strip()
            }
            unknown = dropped - {c.lower() for c in cols}
            if unknown:
                raise PsqlCompileError(
                    f'column "{sorted(unknown)[0]}" in COLUMNS EXCLUDE '
                    "not found"
                )
            matched = [c for c in cols if c.lower() not in dropped]
        elif len(inner) >= 2 and inner[0] in "'\"" and inner[-1] == inner[0]:
            pat = re.compile(inner[1:-1])
            matched = [c for c in cols if pat.search(c)]
        elif inner.startswith("["):
            # columns(['a','b']): exact names, list order kept, unknown
            # name errors like DuckDB
            names = [
                p.strip().strip("'\"")
                for p in inner.strip("[]").split(",")
                if p.strip()
            ]
            lc = {c.lower(): c for c in cols}
            missing = [x for x in names if x.lower() not in lc]
            if missing:
                raise PsqlCompileError(
                    f'column "{missing[0]}" in COLUMNS list not found'
                )
            matched = [lc[x.lower()] for x in names]
        elif (
            lam := re.fullmatch(
                r"(?is)(\w+)\s*->\s*\1\s+(not\s+)?(i?like)\s+'([^']*)'",
                inner,
            )
        ) is not None:
            # columns(c -> c like 'pat'): the simple lambda-filter form
            neg, op, pat_txt = lam.group(2), lam.group(3).lower(), lam.group(4)
            rx = re.compile(
                "^"
                + re.escape(pat_txt).replace("%", ".*").replace("_", ".")
                + "$",
                re.IGNORECASE if op == "ilike" else 0,
            )
            matched = [c for c in cols if bool(rx.match(c)) != bool(neg)]
        else:
            raise PsqlCompileError(
                f"unsupported COLUMNS() argument: {inner!r} "
                "(use *, a regex string, a ['name', …] list, or a "
                "c -> c LIKE 'pat' lambda)"
            )
        if not matched:
            raise PsqlCompileError(f"COLUMNS({inner}) matched no columns")
        bare = item.strip() == item[cstart:cend].strip()
        for c in matched:
            repl = item[:cstart] + f"`{c}`" + item[cend:]
            out_items.append(repl if bare else f"{repl} AS `{c}`")
    return ", ".join(x.strip() for x in out_items)


def _block_cte_name(stmt: str, blk_start: int) -> str | None:
    """The CTE name binding a block: ``with <name> as (| … |)`` — scan the
    tokens before the block for ``<name> as`` (an optional column list
    between them is tolerated)."""
    toks = [t for t in tokenize(stmt[:blk_start])]
    j = len(toks) - 1
    if j >= 0 and toks[j].kind == "rparen":
        # skip a column list `(c1, c2)` between name and AS? not legal for
        # DuckDB CTE-with-block; bail
        return None
    if j >= 0 and toks[j].kind == "word" and toks[j].lower == "as":
        j -= 1
        if j >= 0 and toks[j].kind in ("word", "qident"):
            return toks[j].text.strip('"')
    return None


def _twin_table_name(path: str, keys: tuple[str, ...] | list[str]) -> str:
    """Default catalog name for a bucketed twin of ``path`` on ``keys``.

    The name folds in a short hash of the ABSOLUTE source path: twin
    names derived only from the basename collide across datasets whose
    files share a stem (ADVICE r12 — data/sf1/orders.parquet and
    data/sf10/orders.parquet declared in one session would overwrite
    each other's twin table while both paths stayed registered against
    it, and the staleness fingerprint stats the SOURCE path, so the
    wrong dataset's rows would be served silently). Catalog endpoints
    pass a ``table:<name>`` identifier — hashed as-is (no abspath: a
    table's identity is cwd-independent)."""
    if path.startswith("table:"):
        ident = path
        stem = re.sub(r"\W+", "_", path.split(":", 1)[1])
    else:
        ident = os.path.abspath(path)
        stem = re.sub(r"\W+", "_", os.path.splitext(os.path.basename(path))[0])
    h = hashlib.sha1(ident.encode()).hexdigest()[:6]
    return f"{stem}_by_{'_'.join(keys)}_{h}"


def _esc(text: str) -> str:
    """Escape braces so user text survives ``Compiler._run_sql``."""
    return text.replace("{", "{{").replace("}", "}}")


@dataclass
class _JoinSpec:
    how_words: str            # e.g. "left outer join"
    source_kind: str          # "path" | "table" | "sql"
    source_text: str
    alias: str | None
    on_text: str | None
    using_text: str | None    # inner text of USING (…)


@dataclass
class _DeferredDimJoin:
    """A small⋈big inner join swapped by the deferred-dims pass: the big
    side became the pipe; this records how to re-attach the dims side."""

    dims: DataFrame
    dims_alias: str           # the stage alias naming the dims side in ON
    fact_alias: str           # the join alias naming the big side in ON
    on_text: str
    expected_prefix: list     # dims columns, restored to the front on flush
    dims_bytes: int


# generator functions that MULTIPLY rows when they appear in a select
# list (the DISTINCT-elimination multiplicity certificate must clear)
_SELECT_GENERATOR_RE = re.compile(
    r"(?i)\b(explode|explode_outer|posexplode|posexplode_outer|inline|"
    r"inline_outer|stack|unnest)\s*\("
)


class Compiler:
    def __init__(self, spark: SparkSession, *, materialize_tables: bool = False):
        self.spark = spark
        self.resolver = SourceResolver(spark)
        self.materialize_tables = materialize_tables
        self._ids = itertools.count()
        # distinct per compiler: two sessions sharing one SparkSession
        # share the temp-view catalog, so generated names must not collide
        self._tag = uuid.uuid4().hex[:8]
        self._lock = threading.Lock()
        # the statement's view names (_bind: id → (df, name), holding df
        # so its id is not reused; _bind_cte: CTE name → the temp view it
        # shadows, or None), dropped by _end_statement once the plan is
        # built: later stages may still use a CTE (`… from a |> join b`)
        self._bound: dict[int, tuple[DataFrame, str]] = {}
        self._view_ids = itertools.count()  # _ids also numbers plan aliases
        self._stashed_views: dict[str, object] = {}
        # looked up once: the session catalog (its dropTempView only
        # removes the entry; spark.catalog.dropTempView uncaches every
        # same-result plan), the local-sort gate's reduction patterns and
        # the plan nodes its rewrite builds (py4j resolves a dotted JVM
        # name one round trip per segment)
        self._jcatalog = spark._jsparkSession.sessionState().catalog()
        jsql = spark._jvm.org.apache.spark.sql
        patterns = jsql.catalyst.trees.TreePattern
        self._reductions = (patterns.AGGREGATE(), patterns.WINDOW())
        logical = jsql.catalyst.plans.logical
        self._local_sort_nodes = (logical.Repartition, logical.Sort, logical.Project)
        self._of_rows = jsql.classic.Dataset.ofRows
        # Running base-bytes estimate of the CURRENT pipe chain's inputs
        # (sum of the head path + every joined path), used by the
        # size-aware broadcast hint in _apply_stage_sql. None = unknown
        # (non-path head, subquery join side, set ops, special joins).
        self._pipe_bytes: int | None = None
        # block DataFrames persisted because their CTE name is referenced
        # more than once (DuckDB materializes such CTEs; without this the
        # whole sub-plan — scans and aggregations included — executes once
        # per reference). Unpersisted at the NEXT statement compile, or
        # at the end of a statement that fails: unpersist only drops the
        # cache, never correctness.
        self._persisted_blocks: list[DataFrame] = []
        # re-entrancy guard for the scan-reuse recompile pass
        self._in_scan_reuse = False
        # session-scoped DuckDB-style macros (name → Macro); expanded as
        # compile-time text rewrites so Catalyst sees flat expressions
        self._macros: dict[str, "macros_mod.Macro"] = {}
        self._enums: dict[str, "enums_mod.EnumType"] = {}
        # prepared statements (name → raw statement text with ?/$N/$name
        # placeholders); bound and compiled at EXECUTE time
        self._prepared: dict[str, str] = {}
        # session sequences (name → Sequence); nextval/currval rewrite at
        # compile time, advancement by eager result count (sequences.py)
        self._sequences: dict[str, "sequences_mod.Sequence"] = {}
        # PRIMARY KEY / UNIQUE columns declared by column-def CREATE TEMP
        # TABLE (name → key cols). Spark has no constraints, so these are
        # the engine's own bookkeeping: plain INSERT enforces uniqueness,
        # ON CONFLICT resolves its implicit conflict target from them
        self._table_keys: dict[str, list[str]] = {}
        self._pending_table_keys: tuple[str, list[str]] | None = None
        # COMMENT ON text, surfaced through duckdb_tables()/duckdb_columns()
        self._comments: dict[tuple[str, str], str] = {}
        # SET VARIABLE session variables; getvariable() splices literals
        self._variables: dict[str, object] = {}
        # declared informational key constraints (DECLARE PRIMARY KEY /
        # FOREIGN KEY … — constraints.py); trusted metadata feeding the
        # FK-join elimination pre-pass
        self.constraints = constraints_mod.KeyConstraints()
        # join stages dropped by _eliminate_fk_joins for the LAST
        # compiled pipeline (introspection for tests/EXPLAIN)
        self.last_eliminated_joins: list[str] = []
        # spark.psql.* snapshot of the statement being compiled
        # (confs.read); compile_statement refreshes it once per statement
        self.confs = dict(confs_mod.PSQL)
        # summed bytes of the statement's path literals, -1 when it has
        # none (_statement_source_bytes); read by the local-sort and
        # block-persist gates
        self._stmt_source_bytes = -1
        self.last_count_dist_fold = False
        self.last_distinct_elim = False
        self.last_keyed_groupby_elim = False

    def _pin(self, df: DataFrame) -> DataFrame:
        """``localCheckpoint(eager=True)`` with constraint propagation
        disabled for the duration of the materialization.

        Spark's ``Dataset.checkpoint`` records the origin plan's
        constraints on the new LogicalRDD; constraints of a Project
        reference PRE-projection attributes (the scan's, not the
        aliases'), which the later stats/constraints rewrite cannot map
        — any re-checkpoint or re-instancing of a view over such a node
        dies with ``NoSuchElementException: key not found: <col>#N``
        (hit by INSERT ON CONFLICT / MERGE / UPDATE over a seeded temp
        table). Empty origin constraints sidestep the rewrite entirely;
        the cost is constraint-based optimization of this one pin job —
        irrelevant for interactive-scale DML batches."""
        conf = self.spark.conf
        key = "spark.sql.constraintPropagation.enabled"
        prev = conf.get(key, "true")
        conf.set(key, "false")
        try:
            return df.localCheckpoint(eager=True)
        finally:
            conf.set(key, prev)

    # ------------------------------------------------------------------
    # statement level
    # ------------------------------------------------------------------

    def compile_statement(self, text: str) -> DataFrame:
        # compilation mutates per-statement state (the bound view names);
        # one statement at a time per compiler
        text = strip_comments(text)
        with self._lock:
            self.confs = confs_mod.read(self.spark)
            self._stmt_source_bytes = _statement_source_bytes(text)
            self._release_persisted_state()
            try:
                return self._local_sort_small_result(
                    self._compile_statement_locked(text))
            except BaseException:
                self._release_persisted_state()
                raise
            finally:
                self._end_statement()

    def _bind(self, df: DataFrame) -> str:
        """``df``'s temp-view name for this statement, registered once."""
        hit = self._bound.get(id(df))
        if hit is not None:
            return hit[1]
        name = f"__psql_{self._tag}_{next(self._view_ids)}"
        df.createOrReplaceTempView(name)
        self._bound[id(df)] = (df, name)
        return name

    def _bind_cte(self, name: str, df: DataFrame) -> None:
        """Register a CTE under the user's ``name`` for this statement,
        stashing the temp view it shadows for ``_end_statement``. The old
        entry leaves first: a replace over another plan uncaches it."""
        if name not in self._stashed_views:
            raw = self._jcatalog.getRawTempView(name)
            self._stashed_views[name] = raw.get() if raw.isDefined() else None
        self._jcatalog.dropTempView(name)
        df.createOrReplaceTempView(name)

    def _end_statement(self) -> None:
        """Drop the statement's names; restore what its CTEs shadowed."""
        for _, name in self._bound.values():
            self._jcatalog.dropTempView(name)
        for name, raw in self._stashed_views.items():
            self._jcatalog.dropTempView(name)
            if raw is not None:
                self._jcatalog.createTempView(name, raw, True)
        self._bound.clear()
        self._stashed_views.clear()

    def _local_sort_small_result(self, df: DataFrame) -> DataFrame:
        """Terminal global ORDER BY over a reduced result → one-partition
        local sort (optimization guide §2.4: remove shuffles outright).

        A global Sort plans as ``Exchange rangepartitioning(n)``, which
        costs a range-bounds SAMPLING JOB plus an extra multi-task stage
        — pure scheduler overhead when the sorted result is the output
        of an aggregation/window that already reduced the data to a
        handful of rows (measured floor at sf0.1: ~40 ms/job +
        ~82 ms/extra stage, BENCH_FLOOR_DECOMP). Rewriting the analyzed
        plan's root ``Sort(order, global=true, child)`` into
        ``Sort(order, global=false, Repartition(1, shuffle=false,
        child))`` is value-identical — a single-partition local sort IS
        a total order over the same analyzer-resolved sort keys — and
        deletes the exchange, the sampling job, and merges the final
        stage into one task.

        Gates (all must hold):
        * the statement's summed source bytes are known and under
          ``TINY_INPUT_BYTES`` (64 MB) — above it the parallel range sort
          is the right plan and the coalesce would serialize real work;
        * the analyzed root is a global Sort (optionally under a bare
          Project, which Spark adds when ORDER BY references columns
          the SELECT dropped);
        * the subtree below the Sort contains an Aggregate or Window —
          i.e. there is a reduction (and its exchange) below, so
          Repartition(1, false) collapses only the tiny post-exchange
          stages, never a parallel scan (narrow pipelines like
          ``from docs |> select regex… |> order by`` keep their
          parallel scan + range sort).

        Off-switch: spark.psql.localSortSmall=false.
        """
        try:
            if not self.confs["spark.psql.localSortSmall"]:
                return df
            if not (0 <= self._stmt_source_bytes < TINY_INPUT_BYTES):
                return df
            root = df._jdf.queryExecution().analyzed()
            wrap_project = None
            if root.getClass().getSimpleName() == "Project":
                wrap_project = root
                root = root.child()
            if root.getClass().getSimpleName() != "Sort":
                return df
            if not getattr(root, "global")():
                return df
            child = root.child()
            # reduction check on the plan's tree-pattern bits (subquery
            # plans included): one py4j call per pattern, no plan string
            if not any(child.containsPattern(p) for p in self._reductions):
                return df
            repartition, sort, project = self._local_sort_nodes
            repart = repartition(1, False, child)
            new_root = sort(root.order(), False, repart, root.hint())
            if wrap_project is not None:
                new_root = project(wrap_project.projectList(), new_root)
            ds = self._of_rows(self.spark._jsparkSession, new_root)
            return DataFrame(ds, df.sparkSession)
        except Exception:  # noqa: BLE001 — a failed rewrite keeps the plan
            return df

    def _release_persisted_state(self) -> None:
        """Unpin the previous statement's persisted blocks."""
        for old in self._persisted_blocks:
            try:
                old.unpersist()
            except Exception:  # noqa: BLE001 — session may be stopping
                pass
        self._persisted_blocks.clear()

    def _compile_statement_locked(self, text: str) -> DataFrame:
        stmt = first_statement(text)
        if not stmt:
            raise PsqlParseError('syntax error at or near ""')
        if "current_query" in stmt.lower():
            # current_query() → the statement's own text as a literal
            # (DuckDB semantics; spliced before any other rewrite so the
            # literal carries the ORIGINAL spelling)
            lit = "'" + stmt.replace("'", "''") + "'"
            out, pos, toks = [], 0, tokenize(stmt)
            for i, t in enumerate(toks):
                if (
                    t.kind == "word"
                    and t.lower == "current_query"
                    and i + 2 < len(toks)
                    and toks[i + 1].kind == "lparen"
                    and toks[i + 2].kind == "rparen"
                ):
                    out.append(stmt[pos : t.start])
                    out.append(lit)
                    pos = toks[i + 2].end
            if out:
                out.append(stmt[pos:])
                stmt = "".join(out)
        head = tokenize(stmt)
        if head and head[0].kind == "word" and head[0].lower == "summarize":
            # DuckDB `SUMMARIZE <table|'path'|query>` statement
            from .operators.profile import summarize

            rest = stmt[head[0].end :].strip().rstrip(";")
            if not rest:
                raise PsqlParseError('syntax error at or near ""')
            first = tokenize(rest)[0]
            if not (
                first.kind == "word"
                and first.lower in ("select", "from", "with", "values")
            ):
                # bare table name or 'path' literal → FROM-first form
                rest = "from " + rest
            return summarize(self._compile_statement_locked(rest))
        if head and head[0].kind == "word" and head[0].lower == "describe":
            # DuckDB `DESCRIBE <table|'path'|query>`: bare catalog names
            # keep Spark's native DESCRIBE; pipes and path literals compile
            # the source and report (column_name, column_type)
            rest = stmt[head[0].end :].strip().rstrip(";")
            rtoks = tokenize(rest) if rest else []
            if rtoks and not (
                len(rtoks) == 1 and rtoks[0].kind in ("word", "qident")
            ):
                if rtoks[0].kind == "string" or (
                    rtoks[0].kind == "word"
                    and rtoks[0].lower not in ("select", "from", "with", "values")
                ):
                    rest = "from " + rest
                inner = self._compile_statement_locked(rest)
                # DuckDB's 6-column DESCRIBE shape with DuckDB type names
                return self.spark.createDataFrame(
                    [
                        (
                            f.name,
                            introspection_mod.duck_type(
                                f.dataType.simpleString()
                            ),
                            # DuckDB reports YES for every query-derived
                            # column (constraints live on base tables)
                            "YES",
                            None,
                            None,
                            None,
                        )
                        for f in inner.schema
                    ],
                    "column_name string, column_type string, `null` string, "
                    "`key` string, `default` string, extra string",
                )
        if head and head[0].kind == "word" and head[0].lower == "explain":
            # DuckDB `EXPLAIN [ANALYZE] <stmt>` over piped statements:
            # compile the inner statement and return its physical plan
            # (ANALYZE additionally executes it so AQE finalizes)
            rest = stmt[head[0].end :].strip()
            analyze = False
            rtoks = tokenize(rest)
            if rtoks and rtoks[0].kind == "word" and rtoks[0].lower == "analyze":
                analyze = True
                rest = rest[rtoks[0].end :].strip()
            if not rest:
                raise PsqlParseError('syntax error at or near ""')
            inner = self._compile_statement_locked(rest)
            if analyze:
                inner.write.format("noop").mode("overwrite").save()
            plan = inner._jdf.queryExecution().executedPlan().toString()
            return self.spark.createDataFrame(
                [(line,) for line in plan.splitlines()], "plan string"
            )
        if head and head[0].kind == "word" and head[0].lower in ("install", "load"):
            # DuckDB extension management (reference test exercises
            # `INSTALL/LOAD httpfs`, /root/reference/test/sql/psql.test:48-51).
            # Our source resolver needs no extensions — accept as a no-op,
            # matching the observable `statement ok`.
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        if head and head[0].kind == "word" and head[0].lower in (
            "begin", "commit", "rollback", "abort", "checkpoint",
            "vacuum", "analyze",
        ):
            # DuckDB transaction control / checkpointing / maintenance.
            # Spark is autocommit with no WAL: a single-statement
            # transaction is the only transaction; VACUUM/ANALYZE touch
            # storage Spark doesn't own. Observable no-ops (same
            # `statement ok` contract as INSTALL/LOAD).
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        if (
            head
            and head[0].kind == "word"
            and head[0].lower == "use"
            and len(head) >= 2
            and head[1].kind in ("word", "qident")
            and head[1].text.strip('"`').lower() in ("memory", "main")
        ):
            # USE memory[.main] — DuckDB's default in-memory catalog IS
            # this session's default namespace; accept as a no-op
            # (non-default names still resolve as Spark databases below)
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        if (
            head
            and len(head) >= 3
            and head[0].kind == "word"
            and head[0].lower == "show"
            and head[1].kind == "word" and head[1].lower == "all"
            and head[2].kind == "word" and head[2].lower == "tables"
        ):
            return introspection_mod.show_all_tables(self.spark)
        if head and head[0].kind == "word" and head[0].lower == "call":
            # CALL f(...) — DuckDB's table-function invocation statement
            return self._compile_statement_locked(
                "select * from " + stmt[head[0].end :].strip().rstrip(";")
            )
        if head and head[0].kind == "word" and head[0].lower == "comment":
            cm = re.match(
                r"(?is)^\s*comment\s+on\s+(table|view|column)\s+"
                r"([\w.\"`]+)\s+is\s+(?:'((?:[^']|'')*)'|(null))\s*;?\s*$",
                stmt,
            )
            if cm is not None:
                kind = "table" if cm.group(1).lower() == "view" else cm.group(1).lower()
                obj = cm.group(2).strip('"`')
                if cm.group(4):
                    self._comments.pop((kind, obj), None)
                else:
                    self._comments[(kind, obj)] = cm.group(3).replace("''", "'")
                return self.spark.range(0).select(F.lit("ok").alias("status"))
        if (
            head
            and len(head) >= 2
            and head[0].kind == "word"
            and head[0].lower in ("set", "reset")
            and head[1].kind == "word"
            and head[1].lower == "variable"
        ):
            # DuckDB 1.1 session variables: SET VARIABLE name = expr /
            # RESET VARIABLE name; getvariable('name') splices the value
            # as a literal at compile time (like DuckDB's binder does)
            m = re.match(
                r"(?is)^\s*set\s+variable\s+([\w\"`]+)\s*=\s*(.+?);?\s*$", stmt
            ) if head[0].lower == "set" else None
            if m is not None:
                val = self._run_sql(
                    f"SELECT {self._frag(m.group(2), {})}", {}
                ).first()[0]
                self._variables[m.group(1).strip('"`').lower()] = val
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            mr = re.match(
                r"(?is)^\s*reset\s+variable\s+([\w\"`]+)\s*;?\s*$", stmt
            )
            if mr is not None:
                self._variables.pop(mr.group(1).strip('"`').lower(), None)
                return self.spark.range(0).select(F.lit("ok").alias("status"))
        if head and head[0].kind == "word" and head[0].lower == "pragma":
            # PRAGMA version/other introspection → empty ok-result (the
            # queryable pragmas have Spark-native SET/SHOW equivalents)
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        if head and head[0].kind == "word" and head[0].lower in ("create", "drop"):
            # DuckDB CREATE/DROP SEQUENCE (delegated dialect; sequences.py)
            seq_created = sequences_mod.parse_create_sequence(stmt)
            if seq_created is not None:
                seq, replace, if_not_exists = seq_created
                if seq.name in self._sequences and not (replace or if_not_exists):
                    raise PsqlCompileError(
                        f"sequence {seq.name!r} already exists "
                        "(use CREATE OR REPLACE SEQUENCE)"
                    )
                if seq.name not in self._sequences or replace:
                    self._sequences[seq.name] = seq
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            seq_dropped = sequences_mod.parse_drop_sequence(stmt)
            if seq_dropped is not None:
                name, if_exists = seq_dropped
                if name not in self._sequences and not if_exists:
                    raise PsqlCompileError(f"sequence {name!r} does not exist")
                self._sequences.pop(name, None)
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            # DuckDB CREATE/DROP TYPE … AS ENUM (delegated dialect;
            # enums.py): session type registry + compile-time rewrite
            type_created = enums_mod.parse_create_type(stmt)
            if type_created is not None:
                etype, replace = type_created
                if etype.name in self._enums and not replace:
                    raise PsqlCompileError(
                        f"type {etype.name!r} already exists "
                        "(use CREATE OR REPLACE TYPE)"
                    )
                self._enums[etype.name] = etype
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            type_dropped = enums_mod.parse_drop_type(stmt)
            if type_dropped is not None:
                name, if_exists = type_dropped
                if name not in self._enums and not if_exists:
                    raise PsqlCompileError(
                        f"Catalog Error: Type with name {name} does not exist!"
                    )
                self._enums.pop(name, None)
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            # DuckDB CREATE/DROP MACRO (delegated dialect). Handled before
            # expansion so the definition's own parameter list and body are
            # never rewritten; bodies expand lazily at call time (DuckDB's
            # late binding: a macro may call macros defined after it).
            created = macros_mod.parse_create_macro(stmt)
            if created is not None:
                macro, replace = created
                if macro.name in self._macros and not replace:
                    raise PsqlCompileError(
                        f"macro {macro.name!r} already exists "
                        "(use CREATE OR REPLACE MACRO)"
                    )
                self._macros[macro.name] = macro
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            dropped = macros_mod.parse_drop_macro(stmt)
            if dropped is not None:
                name, if_exists = dropped
                if name not in self._macros and not if_exists:
                    raise PsqlCompileError(f"macro {name!r} does not exist")
                self._macros.pop(name, None)
                return self.spark.range(0).select(F.lit("ok").alias("status"))
        if head and head[0].kind == "word" and head[0].lower in (
            "prepare", "execute", "deallocate",
        ):
            # DuckDB prepared statements (prepared.py): stored as raw text,
            # bound by compile-time splice at EXECUTE — Catalyst plans the
            # bound statement exactly as if written literally
            prep = prepared_mod.parse_prepare(stmt)
            if prep is not None:
                name, body = prep
                self._prepared[name] = body
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            execd = prepared_mod.parse_execute(stmt)
            if execd is not None:
                name, pos_args, named = execd
                if name not in self._prepared:
                    raise PsqlCompileError(f"prepared statement {name!r} does not exist")
                bound = prepared_mod.bind(name, self._prepared[name], pos_args, named)
                return self._compile_statement_locked(bound)
            dealloc = prepared_mod.parse_deallocate(stmt)
            if dealloc is not None:
                if dealloc not in self._prepared:
                    raise PsqlCompileError(
                        f"prepared statement {dealloc!r} does not exist"
                    )
                del self._prepared[dealloc]
                return self.spark.range(0).select(F.lit("ok").alias("status"))
        if head and head[0].kind == "word" and head[0].lower in (
            "attach", "detach", "use",
        ):
            att = self._run_attach(stmt, head)
            if att is not None:
                return att
        if head and head[0].kind == "word" and head[0].lower == "declare":
            dec = self._run_declare(stmt)
            if dec is not None:
                return dec
        if head and head[0].kind == "word" and head[0].lower == "cluster":
            cl = self._run_cluster_declared(stmt)
            if cl is not None:
                return cl
        if head and head[0].kind == "word" and head[0].lower == "show":
            sh = self._run_show_cluster(stmt)
            if sh is not None:
                return sh
        if head and head[0].kind == "word" and head[0].lower in ("export", "import"):
            exp = self._parse_export_import(stmt)
            if exp is not None:
                return exp
        if self._macros:
            stmt = macros_mod.expand_macros(stmt, self._macros)
        if enums_mod.has_enum_tokens(stmt, self._enums):
            # ENUM expressions → plain Spark SQL (enums.py): casts
            # validate, enum_* functions fold, positional contexts
            # (enum-enum comparisons / ORDER BY / min-max) rewrite
            stmt = enums_mod.rewrite_enums(stmt, self._enums)
        if sequences_mod.has_sequence_calls(stmt):
            rewritten, counts = sequences_mod.rewrite_sequence_calls(
                stmt, self._sequences
            )
            if rewritten != stmt:
                df = self._compile_statement_locked(rewritten)
                if counts:
                    # one eager count job advances the session counters so
                    # the NEXT statement continues where this one stopped
                    n = df.count()
                    for sname, c in counts.items():
                        sequences_mod.advance(self._sequences[sname], n * c)
                return df
        had_psql = has_psql_tokens(stmt)
        if had_psql:
            stmt = self._substitute_blocks(stmt)
        copy_from = self._parse_copy_from(stmt)
        if copy_from is not None:
            return self._run_copy_from(*copy_from)
        dml = self._parse_mutation(stmt)
        if dml is not None:
            return self._run_mutation(*dml)
        mi = merge_mod.parse_merge(stmt)
        if mi is not None:
            return self._run_merge(mi)
        alt = self._run_alter(stmt)
        if alt is not None:
            return alt
        copy = self._parse_copy(stmt)
        if copy is not None:
            return self._run_copy(*copy)
        ins = self._parse_insert(stmt)
        if ins is not None:
            return self._run_insert(*ins)
        if not had_psql:
            # Pass-through (cpp:76-79) — but still resolve path literals
            # and FROM-first forms so plain DuckDB-style SQL keeps working.
            # Exception: CREATE [OR REPLACE] TEMP TABLE … AS has no
            # Spark-parsable spelling, and CREATE OR REPLACE TABLE AS
            # on the v1 catalog raises UNSUPPORTED_FEATURE once the
            # table exists (round-9 probe find) — both take the DDL
            # path below (read-then-overwrite saveAsTable).
            ddl = self._parse_create(stmt)
            if ddl is None or not (
                (ddl[4] or ddl[2]) and ddl[0] == "table"
            ):
                return self._with_scale_passes(
                    stmt, self._compile_query_expr(stmt)
                )
        else:
            ddl = self._parse_create(stmt)
        if ddl is not None:
            kind, name, replace, body, temp = ddl
            pending, self._pending_table_keys = self._pending_table_keys, None
            df = self._compile_query_expr(body)
            # the target outlives the statement even where a CTE bound its name
            self._stashed_views.pop(name, None)
            if kind == "view":
                df.createOrReplaceTempView(name)
            elif temp:
                # DuckDB CTAS materializes at creation; a temp TABLE is
                # session-local, so pin rows behind a temp view (the
                # same contract INSERT/UPDATE/DELETE mutate in place)
                if not replace and any(
                    t.name == name for t in self.spark.catalog.listTables()
                ):
                    raise PsqlCompileError(
                        f"table {name!r} already exists "
                        "(use CREATE OR REPLACE)"
                    )
                pinned = self._pin(df)
                pinned.createOrReplaceTempView(name)
                df = pinned
            elif self.materialize_tables:
                df.write.mode("overwrite" if replace else "errorifexists").saveAsTable(name)
            else:
                df.createOrReplaceTempView(name)
            # (re)creation succeeded: replace drops prior constraints,
            # a column-def form registers its declared keys
            self._table_keys.pop(name, None)
            if pending is not None and pending[0] == name and pending[1]:
                self._table_keys[name] = pending[1]
            return df
        return self._with_scale_passes(stmt, self._compile_query_expr(stmt))

    # ------------------------------------------------------------------
    # statement-scoped scale passes (bucketed twins, scan reuse)
    # ------------------------------------------------------------------

    def _with_scale_passes(self, stmt: str, df: DataFrame) -> DataFrame:
        """Statement-level physical rewrites, tried in order: share one
        persisted scan across repeated path references (q21-class — wins
        even over a bucketed read, which repeated branches would re-scan
        in full), else substitute registered bucketed twins (q03/q05-class
        single-mention join shapes, where the bucketed read removes the
        exchange outright)."""
        if re.search(r"\bcluster\s+by\b", stmt, re.IGNORECASE):
            # the cluster verb materializes a table — recompiling the
            # statement would run the write twice
            return df
        out = self._with_scan_reuse(stmt, df)
        if out is not df:
            return out
        return self._with_bucketed_twins(stmt, df)

    def _with_bucketed_twins(self, stmt: str, df: DataFrame) -> DataFrame:
        """Recompile against bucketed twins when the plan shuffles a
        twinned path on its bucket key.

        The ``cluster by`` verb materializes a path's rows as a bucketed
        catalog table (write-time pre-shuffle). This pass detects, from
        the compiled physical plan, that a statement (a) scans such a
        path and (b) has an ``Exchange hashpartitioning`` on one of that
        twin's bucket keys — the q03/q05-class join/agg shape — and
        recompiles with the twin substituted, so the bucketed read
        satisfies the join's distribution requirement and the exchange
        disappears (the 100 TB lever: co-located joins, zero shuffle of
        the fact table). Statements that don't shuffle on the bucket key
        (plain scans) keep the raw path — substitution is gated on the
        shuffle, not unconditional. The shuffle gate alone is NOT enough
        for file-order-sensitive constructs: a statement can zip a
        twinned path by row position (``positional join``, empty-OVER
        windows) AND also shuffle it on the bucket key downstream — the
        twin's bucketed row order differs from file order, so such
        statements skip substitution entirely. Staleness is checked
        per-use via the twin's (bytes, mtime) fingerprint.
        Off-switch: ``spark.psql.bucketedTwins=false``.
        """
        if self._in_scan_reuse or df.isStreaming:
            return df
        if _order_sensitive_stmt(stmt):
            return df
        if not self.resolver.bucketed_twins and not self.resolver.table_twins:
            return df
        if not self.confs["spark.psql.bucketedTwins"]:
            return df
        toks = tokenize(stmt)
        paths = {
            t.text[1:-1]
            for t in toks
            if t.kind == "string" and ("/" in t.text or "\\" in t.text)
        }
        # the twin registry key is abspath-normalized inside the resolver
        # (round 14, ADVICE r13), so one lookup finds layouts regardless
        # of how either the registration or this statement spelled the
        # path. Overrides stay keyed by the literal statement text, which
        # is what the recompile consults.
        cand = {}
        for p in paths:
            tw = self.resolver.bucketed_twin_layouts(p)
            if tw:
                cand[p] = tw
        # catalog endpoints (round 13): any word token naming a
        # registered (fresh) table twin is a candidate; the key-shuffle
        # gate below does the real work, and a false hit (the name used
        # as a column, not a source) just recompiles to the identical
        # plan — the override is never consulted
        names = {
            t.lower
            for t in toks
            if t.kind == "word" and t.lower in self.resolver.table_twins
        }
        tcand = {
            n: tw for n in names
            if (tw := self.resolver.table_twin_layouts(n))
        }
        if not cand and not tcand:
            return df
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:
            return df
        overrides: dict[str, DataFrame] = {}
        toverrides: dict[str, DataFrame] = {}
        for p, layouts in cand.items():
            # the executed plan prints absolute file: URIs, so a relative
            # statement path must be resolved before the scan-gate match
            plan_key = p if os.path.isabs(p) else os.path.abspath(p)
            if not _scan_read_schemas(plan, plan_key):
                continue  # path string present but not scanned (e.g. literal)
            # several layouts may exist (round 12: orders by o_orderkey
            # AND by o_custkey); take the first — registration order is
            # edge-size priority — whose bucket key the plan shuffles on
            for table, keys in layouts:
                if any(
                    re.search(
                        rf"Exchange hashpartitioning\([^)]*\b{re.escape(k)}#",
                        plan,
                    )
                    for k in keys
                ):
                    overrides[p] = self.spark.table(table)
                    break
        for n, layouts in tcand.items():
            for table, keys in layouts:
                if any(
                    re.search(
                        rf"Exchange hashpartitioning\([^)]*\b{re.escape(k)}#",
                        plan,
                    )
                    for k in keys
                ):
                    toverrides[n] = self.spark.table(table)
                    break
        if not overrides and not toverrides:
            return df
        try:
            self._in_scan_reuse = True
            self.resolver.overrides.update(overrides)
            self.resolver.table_overrides.update(toverrides)
            return self._compile_query_expr(stmt)
        except Exception:
            return df
        finally:
            self._in_scan_reuse = False
            for p in overrides:
                self.resolver.overrides.pop(p, None)
            for n in toverrides:
                self.resolver.table_overrides.pop(n, None)

    def _with_scan_reuse(self, stmt: str, df: DataFrame) -> DataFrame:
        """Share one scan across repeated references to the same file.

        A statement that mentions the same path N>=2 times (q21-class
        correlated EXISTS / NOT EXISTS, self-joins) compiles to N
        independent FileScans — Spark reuses exchanges, not scans. This
        pass reads Catalyst's own column-pruning decision out of the
        compiled physical plan (each FileScan's ReadSchema), persists ONE
        base relation pruned to the union of those columns, and recompiles
        the statement against it, so all branches read the cached columnar
        relation instead of re-decoding parquet per branch.

        Scale guard: only fires when the file's on-disk size is under
        ``spark.psql.scanReuse.maxBytes`` (0 disables) — at 100 TB the
        plan stays pure-scan and this pass is a no-op. Tiny guard: also
        skips below ``TINY_INPUT_BYTES`` — at sf0.1 the persist +
        recompile overhead exceeds the reuse win (q21 r5: 0.99s -> 1.46s
        with reuse on at 17 MB input; re-scanning tiny parquet is free).
        Both guards run before the plan is fetched, so a statement with
        no candidate in range never plans during compose.
        Safety: any parse/analysis hiccup (truncated plan strings, arity-
        sensitive star expansion) falls back to the original DataFrame —
        the pass can lose the optimization, never correctness.
        """
        if self._in_scan_reuse or df.isStreaming:
            return df
        max_bytes = self.confs["spark.psql.scanReuse.maxBytes"]
        if max_bytes <= 0:
            return df
        counts = collections.Counter(
            t.text[1:-1] for t in tokenize(stmt) if t.kind == "string"
        )
        cand = {}
        for p, n in counts.items():
            if n >= 2 and ("/" in p or "\\" in p) and os.path.exists(p):
                size = _path_bytes(p)
                if TINY_INPUT_BYTES <= size <= max_bytes:
                    cand[p] = size
        if not cand:
            return df
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:
            return df
        overrides: dict[str, DataFrame] = {}
        for p, size in cand.items():
            schemas = _scan_read_schemas(plan, p)
            if len(schemas) < 2:
                continue
            base = self.resolver.resolve(p)
            if any(s is None for s in schemas):
                cols = list(base.columns)  # truncated plan string → no pruning
            else:
                # Catalyst's pruned sets cover what the RESULT needs; the
                # recompile re-analyzes the TEXT, which may also name
                # columns Catalyst later prunes (select a, b |> select
                # count()). Keep those too or analysis fails.
                used = set().union(*schemas)
                named = {
                    t.lower for t in tokenize(stmt) if t.kind in ("word", "qident")
                }
                cols = [
                    c for c in base.columns if c in used or c.lower() in named
                ]
            ov = base.select(*cols) if 0 < len(cols) < len(base.columns) else base
            # re-cluster the persisted base on the column the statement
            # repeatedly shuffles on (q21-class). Under AQE the cached
            # plan's partitioning can't satisfy downstream distributions
            # (AdaptiveSparkPlan hides/coalesces it — verified on 4.1),
            # so the exchanges stay; the measured win is balance: the
            # raw cache inherits scan-split partitions (few, fat,
            # compression-skewed), and every downstream exchange drains
            # them with that skew. One even repartition at materialization
            # fixes the map-side parallelism of all N downstream shuffles
            # (q21 sf10 warm: 11.7s -> 6.1s, interleaved A/B in
            # scripts/bench_q21_copart.py as of commit b35fc93; result in
            # BENCH_Q21_SHAPES.json).
            # size-gated: below SCAN_REUSE_COPARTITION_BYTES the
            # repartition's fixed cost outweighs the balance win (sf0.1
            # interleaved A/B: on 1.11-2.03s vs off 1.04-1.20s; at sf10 on
            # wins 2x), so smaller inputs keep the plain persist.
            if (
                size >= SCAN_REUSE_COPARTITION_BYTES
                and not _order_sensitive_stmt(stmt)
            ):
                part_col = _repeated_exchange_col(plan, list(ov.columns))
                if part_col is not None:
                    ov = ov.repartition(F.col(part_col))
            overrides[p] = ov
        if not overrides:
            return df
        try:
            self._in_scan_reuse = True
            self.resolver.overrides.update(overrides)
            out = self._compile_query_expr(stmt)
            for ov in overrides.values():
                self._persisted_blocks.append(ov.persist())
            return out
        except Exception:
            return df
        finally:
            self._in_scan_reuse = False
            for p in overrides:
                self.resolver.overrides.pop(p, None)

    def _substitute_blocks(self, stmt: str) -> str:
        """Compile each ``(| … |)`` block and splice in a temp-view subquery.

        Mirrors the reference's block pass (cpp:55-73): the block body is
        pipe-rewritten and re-emitted parenthesized. We compile the body to
        a DataFrame and substitute ``(select * from <tempview>)``; the view
        is bound (``_bind``) and dropped after the statement's plan is
        built (analysis is eager, so dropping is safe).
        """
        blocks = list(find_blocks(stmt))
        # text outside the blocks — where CTE names can be referenced
        outside = []
        last = 0
        for blk in blocks:
            outside.append(stmt[last : blk.start])
            last = blk.end
        outside.append(stmt[last:])
        outside_text = " ".join(outside)

        out: list[str] = []
        pos = 0
        for blk in blocks:
            df = self._compile_query_expr(blk.body.strip())
            cte = _block_cte_name(stmt, blk.start)
            if (
                cte is not None
                and len(
                    re.findall(rf"(?i)\b{re.escape(cte)}\b", outside_text)
                )
                >= 3
                and not (
                    0 <= self._stmt_source_bytes
                    < self.confs["spark.psql.blockPersist.minBytes"]
                )
            ):
                # name appears in its `<name> as` binding plus ≥2 uses →
                # materialize once instead of re-running the sub-plan.
                # Tiny-input gate: below the threshold the OS page cache
                # already holds the source and the persist job costs more
                # than the re-run saves.
                self._persisted_blocks.append(df.persist())
            out.append(stmt[pos : blk.start])
            out.append(f"(select * from {self._bind(df)})")
            pos = blk.end
        out.append(stmt[pos:])
        return "".join(out)

    def _parse_copy(self, stmt: str) -> tuple[str, str, dict[str, str]] | None:
        """Detect ``COPY (query)|table TO 'path' [(options)]`` (DuckDB sink
        form, /root/reference delegated dialect). Returns (source_text,
        path, options)."""
        toks = tokenize(stmt)
        if not toks or toks[0].kind != "word" or toks[0].lower != "copy":
            return None
        i = 1
        if i < len(toks) and toks[i].kind == "lparen":
            close = _match_paren(toks, i)
            source = stmt[toks[i].end : toks[close].start]
            i = close + 1
        elif i < len(toks) and toks[i].kind in ("word", "qident"):
            source = f"from {toks[i].text}"
            i += 1
        else:
            return None
        if i >= len(toks) or toks[i].kind != "word" or toks[i].lower != "to":
            return None
        i += 1
        if i >= len(toks) or toks[i].kind != "string":
            raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
        path = toks[i].text[1:-1].replace("''", "'")
        i += 1
        opts: dict[str, str] = {}
        if i < len(toks) and toks[i].kind == "lparen":
            close = _match_paren(toks, i)
            # top-level commas only: PARTITION_BY (a, b) is one option
            for part in _split_top_commas(stmt[toks[i].end : toks[close].start]):
                kv = part.strip().split(None, 1)
                if kv:
                    v = kv[1].strip().strip("'\"") if len(kv) > 1 else "true"
                    if v.startswith("(") and v.endswith(")"):
                        v = v[1:-1].strip()
                    opts[kv[0].lower()] = v
            i = close + 1
        return source, path, opts

    @staticmethod
    def _split_dml_tail(rest: str, keywords: tuple[str, ...]) -> dict:
        """Split a DML tail at top-level KEYWORDS (in any order of
        appearance). Returns {"" : leading text, kw: text-after-kw}."""
        rtoks = tokenize(rest)
        depth = 0
        marks: list[tuple[str, int, int]] = []
        for t in rtoks:
            if t.kind in ("lparen", "block_open"):
                depth += 1
            elif t.kind in ("rparen", "block_close"):
                depth -= 1
            elif depth == 0 and t.kind == "word" and t.lower in keywords:
                marks.append((t.lower, t.start, t.end))
        out: dict = {}
        prev_key, prev_end = "", 0
        for kw, s, e in marks:
            out[prev_key] = rest[prev_end:s].strip().rstrip(";")
            prev_key, prev_end = kw, e
        out[prev_key] = rest[prev_end:].strip().rstrip(";")
        return out

    def _parse_mutation(
        self, stmt: str
    ) -> (
        tuple[str, str, str | None, str | None, str | None, str | None]
        | None
    ):
        """Detect DuckDB row DML: ``DELETE FROM t [USING u] [WHERE p]
        [RETURNING …]``, ``UPDATE t SET a = e[, …] [FROM u] [WHERE p]
        [RETURNING …]``, ``TRUNCATE [TABLE] t``. Returns (kind, name,
        set_text, where_text, using_text, returning_text)."""
        toks = tokenize(stmt)
        if not toks or toks[0].kind != "word":
            return None
        head = toks[0].lower
        if head == "truncate":
            i = 1
            if i < len(toks) and toks[i].kind == "word" and toks[i].lower == "table":
                i += 1
            if i < len(toks) and toks[i].kind in ("word", "qident"):
                return ("truncate", toks[i].text.strip('"`'), None, None, None, None)
            return None
        if head == "delete":
            if (
                len(toks) >= 3
                and toks[1].kind == "word"
                and toks[1].lower == "from"
                and toks[2].kind in ("word", "qident")
            ):
                name = toks[2].text.strip('"`')
                parts = self._split_dml_tail(
                    stmt[toks[2].end :], ("using", "where", "returning")
                )
                if parts.get("", ""):
                    return None  # unparsed text between table and clauses
                return (
                    "delete",
                    name,
                    None,
                    parts.get("where"),
                    parts.get("using"),
                    parts.get("returning"),
                )
            return None
        if head == "update":
            if len(toks) < 4 or toks[1].kind not in ("word", "qident"):
                return None
            if not (toks[2].kind == "word" and toks[2].lower == "set"):
                return None
            name = toks[1].text.strip('"`')
            parts = self._split_dml_tail(
                stmt[toks[2].end :], ("from", "where", "returning")
            )
            set_text = parts.get("", "")
            if not set_text:
                return None
            return (
                "update",
                name,
                set_text,
                parts.get("where"),
                parts.get("from"),
                parts.get("returning"),
            )
        return None

    def _resolve_dml_source(self, text: str) -> tuple[DataFrame, str]:
        """Resolve a DELETE USING / UPDATE FROM source: a table/view name
        or a quoted path, with an optional alias. Returns (df, alias)."""
        stoks = tokenize(text)
        if not stoks:
            raise PsqlCompileError(f"DML source: cannot parse {text!r}")
        t0 = stoks[0]
        if t0.kind == "string":
            p = t0.text[1:-1].replace("''", "'")
            df = self.resolver.resolve(p)
            alias = os.path.splitext(os.path.basename(p.rstrip("/")))[0]
        elif t0.kind in ("word", "qident"):
            df = self.resolver.table(t0.text.strip('"`'))
            alias = t0.text.strip('"`')
        else:
            raise PsqlCompileError(f"DML source: cannot parse {text!r}")
        j = 1
        if j < len(stoks) and stoks[j].kind == "word" and stoks[j].lower == "as":
            j += 1
        if j < len(stoks) and stoks[j].kind in ("word", "qident"):
            alias = stoks[j].text.strip('"`')
            j += 1
        if j < len(stoks):
            # Silently dropping the tail (`FROM u, w`, `USING u JOIN v ON …`)
            # would compile against `u` alone and return wrong rows.
            raise PsqlCompileError(
                "DML source: only a single table/path with an optional alias "
                f"is supported; unexpected trailing tokens in {text!r} "
                f"(starting at {stoks[j].text!r})"
            )
        return df, alias

    def _run_mutation(
        self,
        kind: str,
        name: str,
        set_text: str | None,
        where: str | None,
        using: str | None = None,
        returning: str | None = None,
    ) -> DataFrame:
        """Copy-on-write row DML over tables and temp views.

        Spark storage is immutable, so DELETE/UPDATE/TRUNCATE rewrite:
        temp views are re-pointed at the mutated relation (rows pinned
        eagerly, like INSERT INTO); catalog tables are overwritten through
        an eager checkpoint (read-then-overwrite needs the rows
        materialized first). This is inherent to copy-on-write without a
        lakehouse table format — a WHERE-less UPDATE of a 100 TB table is
        a full rewrite in any engine without deletion vectors. Returns
        the DuckDB-style affected-row Count, or the RETURNING projection
        (DELETE: the deleted rows' old image; UPDATE: the updated rows'
        post-image).

        ``DELETE … USING u WHERE cond`` keeps rows with no match —
        compiled as NOT EXISTS, exact under source-duplicate rows.
        ``UPDATE … FROM u WHERE cond`` joins one matching source row per
        target row (multi-match pick is arbitrary, as in DuckDB; here
        deterministic: first by the join's row_number)."""
        catalog = self.spark.catalog
        is_view = any(
            t.name == name and t.tableType in ("TEMPORARY", "VIEW")
            for t in catalog.listTables()
            if t.name == name
        )
        if not is_view and not catalog.tableExists(name):
            raise PsqlCompileError(
                f"{kind.upper()}: table or view {name!r} not found"
            )
        target = self.spark.table(name)
        params: dict = {"__t": target}
        ret_df: DataFrame | None = None
        if kind == "truncate":
            affected = target.count()
            new = target.limit(0)
        elif kind == "delete" and using is not None:
            u_df, u_alias = self._resolve_dml_source(using)
            params["__u"] = u_df
            cond = self._frag(where, params) if where else "true"
            exists = (
                f"EXISTS (SELECT 1 FROM {{__u}} AS `{u_alias}` WHERE {cond})"
            )
            base = f"FROM {{__t}} AS `{name}`"
            affected = self._run_sql(
                f"SELECT count(*) {base} WHERE {exists}", params
            ).first()[0]
            if returning:
                ret_df = self._run_sql(
                    f"SELECT {self._frag(returning, params)} {base}"
                    f" WHERE {exists}",
                    params,
                )
            new = self._run_sql(
                f"SELECT * {base} WHERE NOT {exists}", params
            )
        elif kind == "delete":
            if where is None:
                affected = target.count()
                if returning:
                    ret_df = self._run_sql(
                        f"SELECT {self._frag(returning, params)} FROM {{__t}}",
                        params,
                    )
                new = target.limit(0)
            else:
                cond = self._frag(where, params)
                affected = self._run_sql(
                    f"SELECT count(*) FROM {{__t}} WHERE {cond}", params
                ).first()[0]
                if returning:
                    ret_df = self._run_sql(
                        f"SELECT {self._frag(returning, params)} FROM {{__t}}"
                        f" WHERE coalesce({cond}, false)",
                        params,
                    )
                new = self._run_sql(
                    f"SELECT * FROM {{__t}} WHERE NOT coalesce({cond}, false)",
                    params,
                )
        elif kind == "update" and using is not None:
            return self._run_update_from(
                name, target, is_view, set_text, where, using, returning
            )
        else:  # update
            assignments = []
            for part in _split_top_commas(set_text or ""):
                lhs, _, rhs = part.partition("=")
                lhs = lhs.strip().strip('"`')
                if not lhs or not rhs.strip():
                    raise PsqlParseError("", near=part.strip()[:20])
                assignments.append((lhs, self._frag(rhs.strip(), params)))
            assigned = {c.lower() for c, _ in assignments}
            unknown = [c for c, _ in assignments if c.lower() not in
                       {col.lower() for col in target.columns}]
            if unknown:
                raise PsqlCompileError(
                    f"UPDATE: column(s) {', '.join(unknown)} not in {name!r}"
                )
            cond = self._frag(where, params) if where is not None else "true"
            affected = self._run_sql(
                f"SELECT count(*) FROM {{__t}} WHERE coalesce({cond}, false)",
                params,
            ).first()[0]
            by_lower = {c.lower(): e for c, e in assignments}
            sel = ", ".join(
                f"CASE WHEN coalesce({cond}, false) THEN ({by_lower[col.lower()]}) "
                f"ELSE `{col}` END AS `{col}`"
                if col.lower() in assigned
                else f"`{col}`"
                for col in target.columns
            )
            # __m is the match flag evaluated on the PRE-update image:
            # column refs in {cond} bind to {__t}'s FROM columns, which in
            # Spark take precedence over the CASE lateral aliases. Filtering
            # RETURNING by the post-image cond would be wrong (e.g.
            # SET v = v+1 WHERE v = 10 returns 0 rows post-image).
            new_full = self._run_sql(
                f"SELECT {sel}, coalesce({cond}, false) AS __m FROM {{__t}}",
                params,
            )
            new = new_full.drop("__m")
            if returning:
                ret_src = new_full.where("__m").drop("__m")
                ret_df = self._run_sql(
                    f"SELECT {self._frag(returning, {'__n': ret_src})}"
                    f" FROM {{__n}}",
                    {"__n": ret_src},
                )
        if ret_df is not None:
            # RETURNING must capture the pre-overwrite image before the
            # copy-on-write replaces the relation underneath it
            ret_df = self._pin(ret_df)
        if is_view:
            pinned = self._pin(new)
            pinned.createOrReplaceTempView(name)
        else:
            pinned = self._pin(new)
            pinned.write.mode("overwrite").saveAsTable(name)
        if ret_df is not None:
            return ret_df
        return self.spark.createDataFrame([(affected,)], "Count bigint")

    def _run_update_from(
        self,
        name: str,
        target: DataFrame,
        is_view: bool,
        set_text: str | None,
        where: str | None,
        using: str,
        returning: str | None,
    ) -> DataFrame:
        """``UPDATE t SET … FROM u WHERE cond``: one LEFT JOIN on the
        condition, one matching source row per target row (row_number
        over a pinned row id — DuckDB's multi-match pick is arbitrary,
        this one is at least deterministic per run), SET expressions
        evaluated in the join scope so they can reference both sides."""
        u_df, u_alias = self._resolve_dml_source(using)
        if u_alias.lower() == name.lower():
            raise PsqlCompileError(
                f"UPDATE FROM: source alias {u_alias!r} collides with target"
            )
        t_pin = self._pin(target.withColumn(
            "__rid", F.monotonically_increasing_id()
        ))
        params: dict = {
            "__t": t_pin,
            "__u": u_df.withColumn("__uflag", F.lit(True)),
        }
        assignments = []
        for part in _split_top_commas(set_text or ""):
            lhs, _, rhs = part.partition("=")
            lhs = lhs.strip().strip('"`')
            if not lhs or not rhs.strip():
                raise PsqlParseError("", near=part.strip()[:20])
            assignments.append((lhs, self._frag(rhs.strip(), params)))
        assigned = {c.lower() for c, _ in assignments}
        unknown = [
            c for c, _ in assignments
            if c.lower() not in {col.lower() for col in target.columns}
        ]
        if unknown:
            raise PsqlCompileError(
                f"UPDATE: column(s) {', '.join(unknown)} not in {name!r}"
            )
        cond = self._frag(where, params) if where else "true"
        by_lower = {c.lower(): e for c, e in assignments}
        matched = "coalesce(__uflag, false)"
        sel = ", ".join(
            f"CASE WHEN {matched} THEN ({by_lower[col.lower()]})"
            f" ELSE `{name}`.`{col}` END AS `{col}`"
            if col.lower() in assigned
            else f"`{name}`.`{col}` AS `{col}`"
            for col in target.columns
        )
        joined = (
            f"SELECT {sel}, {matched} AS __m, row_number() OVER"
            f" (PARTITION BY __rid ORDER BY {matched} DESC) AS __rn"
            f" FROM {{__t}} AS `{name}` LEFT JOIN {{__u}} AS `{u_alias}`"
            f" ON {cond}"
        )
        one = self._run_sql(joined, params).where("__rn = 1")
        affected = one.where("__m").count()
        ret_df = None
        if returning:
            ret_df = self._pin(self._run_sql(
                f"SELECT {self._frag(returning, {})} FROM {{__m}}",
                {"__m": one.where("__m").drop("__m", "__rn")},
            ))
        new = one.drop("__m", "__rn")
        pinned = self._pin(new)
        if is_view:
            pinned.createOrReplaceTempView(name)
        else:
            pinned.write.mode("overwrite").saveAsTable(name)
        if ret_df is not None:
            return ret_df
        return self.spark.createDataFrame([(affected,)], "Count bigint")

    def _run_merge(self, m: "merge_mod.MergeStmt") -> DataFrame:
        """Execute MERGE INTO as copy-on-write (see operators/merge_into.py).

        One LEFT JOIN evaluates every matched / not-matched-by-source clause
        as an indexed CASE (first clause wins); one LEFT ANTI JOIN feeds the
        insert clauses. Both are plain equi-joins to Catalyst when the ON
        condition is one — no extra shuffle beyond MERGE's own semantics.
        Returns DuckDB's ``Count`` = rows updated + deleted + inserted."""
        catalog = self.spark.catalog
        is_view = any(
            t.name == m.target and t.tableType in ("TEMPORARY", "VIEW")
            for t in catalog.listTables()
            if t.name == m.target
        )
        if not is_view and not catalog.tableExists(m.target):
            raise PsqlCompileError(
                f"MERGE INTO: table or view {m.target!r} not found"
            )
        ta, sa = m.target_alias, m.source_alias
        if ta.lower() == sa.lower():
            raise PsqlCompileError(
                f"MERGE INTO: target and source aliases collide ({ta!r})"
            )
        target = self.spark.table(m.target)
        tcols = target.columns
        dtypes = dict(target.dtypes)
        t_pin = self._pin(target.withColumn(
            "__tid", F.monotonically_increasing_id()
        ))
        s_src = (
            m.source_df
            if m.source_df is not None
            else self._compile_query_expr(f"from {m.source_text}")
        )
        s_pin = self._pin(
            s_src.withColumn("__sid", F.monotonically_increasing_id())
        )
        params: dict = {"__t": t_pin, "__s": s_pin}
        on_cond = self._frag(m.on_cond, params)

        tchain = [c for c in m.clauses if c.matched or c.by_source]
        ichain = [c for c in m.clauses if not (c.matched or c.by_source)]

        def clause_cond(cl: "merge_mod.MergeClause") -> str:
            base = (
                f"`{sa}`.__sid IS NOT NULL" if cl.matched
                else f"`{sa}`.__sid IS NULL"
            )
            if cl.cond:
                base += f" AND ({self._frag(cl.cond, params)})"
            return base

        # -- target-derived rows: one join, clause index as a CASE ---------
        act = "CASE " + " ".join(
            f"WHEN {clause_cond(cl)} THEN {k}" for k, cl in enumerate(tchain)
        ) + " ELSE -1 END" if tchain else "-1"
        proj = [f"`{ta}`.`{c}` AS `{c}`" for c in tcols]
        set_maps: list[dict[str, str]] = []
        for k, cl in enumerate(tchain):
            assigned: dict[str, str] = {}
            if cl.action == "update":
                for part in _split_top_commas(cl.set_text or ""):
                    lhs, _, rhs = part.partition("=")
                    lhs = lhs.strip().strip('"`')
                    if not lhs or not rhs.strip():
                        raise PsqlParseError("", near=part.strip()[:20])
                    if lhs.lower() not in {c.lower() for c in tcols}:
                        raise PsqlCompileError(
                            f"MERGE UPDATE: column {lhs!r} not in {m.target!r}"
                        )
                    assigned[lhs.lower()] = self._frag(rhs.strip(), params)
                for col, expr in assigned.items():
                    proj.append(f"({expr}) AS `__u{k}__{col}`")
            set_maps.append(assigned)
        # one source match per target row (first by source order) — DuckDB
        # updates/deletes a row once however many source rows match. When
        # the ON condition is a pure equi-conjunct, deduplicating the
        # (typically much smaller) SOURCE by its join-key columns gives
        # that guarantee up front; otherwise a row_number window over the
        # joined target does it — a full-target shuffle, so the equi path
        # is the one that matters at scale.
        skey = _merge_source_equi_keys(m.on_cond, ta, sa, s_pin.columns)
        if skey is not None:
            s_dedup = (
                s_pin.withColumn(
                    "__srn",
                    F.row_number().over(
                        Window.partitionBy(*skey).orderBy("__sid")
                    ),
                )
                .filter("__srn = 1")
                .drop("__srn")
            )
            params["__s"] = s_dedup
        joined = self._run_sql(
            f"SELECT {act} AS __act, `{ta}`.__tid AS __tid, "
            f"`{sa}`.__sid AS __sid, {', '.join(proj)} "
            f"FROM {{__t}} AS `{ta}` LEFT JOIN {{__s}} AS `{sa}` ON {on_cond}",
            params,
        )
        if skey is None:
            joined = (
                joined.withColumn(
                    "__rn",
                    F.row_number().over(
                        Window.partitionBy("__tid").orderBy(
                            F.col("__sid").asc_nulls_first()
                        )
                    ),
                )
                .filter("__rn = 1")
            )
        deduped = self._pin(joined)
        del_idx = [k for k, cl in enumerate(tchain) if cl.action == "delete"]
        chg_idx = del_idx + [
            k for k, cl in enumerate(tchain) if cl.action == "update"
        ]
        affected = (
            deduped.filter(F.col("__act").isin(chg_idx)).count()
            if chg_idx else 0
        )
        surv_proj = []
        for c in tcols:
            branches = "".join(
                f" WHEN {k} THEN CAST(`__u{k}__{c.lower()}` AS {dtypes[c]})"
                for k, amap in enumerate(set_maps)
                if c.lower() in amap
            )
            surv_proj.append(
                f"CASE __act{branches} ELSE `{c}` END AS `{c}`"
                if branches else f"`{c}`"
            )
        not_deleted = (
            " WHERE __act NOT IN (" + ", ".join(map(str, del_idx)) + ")"
            if del_idx else ""
        )
        new = self._run_sql(
            f"SELECT {', '.join(surv_proj)} FROM {{__d}}{not_deleted}",
            {"__d": deduped},
        )

        # RETURNING (DuckDB 1.4): collect each action's affected rows —
        # post-image for UPDATE/INSERT, pre-image for DELETE — tagged
        # with the virtual merge_action column
        ret_parts: list[DataFrame] = []
        if m.returning is not None:
            upd_idx = [
                k for k, cl in enumerate(tchain) if cl.action == "update"
            ]
            if upd_idx:
                ret_parts.append(
                    self._run_sql(
                        f"SELECT {', '.join(surv_proj)}, 'UPDATE' AS "
                        f"`__maction` FROM {{__d}} WHERE __act IN "
                        f"({', '.join(map(str, upd_idx))})",
                        {"__d": deduped},
                    )
                )
            if del_idx:
                ret_parts.append(
                    self._run_sql(
                        "SELECT "
                        + ", ".join(f"`{c}`" for c in tcols)
                        + ", 'DELETE' AS `__maction` FROM {__d} WHERE "
                        f"__act IN ({', '.join(map(str, del_idx))})",
                        {"__d": deduped},
                    )
                )

        # -- insert rows: anti join + first-matching insert clause ---------
        if ichain:
            anti = self._pin(self._run_sql(
                f"SELECT `{sa}`.* FROM {{__s}} AS `{sa}` "
                f"LEFT ANTI JOIN {{__t}} AS `{ta}` ON {on_cond}",
                params,
            ))
            scols_by_lower = {c.lower(): c for c in anti.columns}
            prior: list[str] = []
            for cl in ichain:
                cond = self._frag(cl.cond, params) if cl.cond else "true"
                gate = " AND ".join(
                    [f"({cond})"] + [f"NOT coalesce(({p}), false)" for p in prior]
                )
                prior.append(cond)
                if cl.action == "nothing":
                    continue
                if cl.insert_values is not None:
                    vals = _split_top_commas(cl.insert_values)
                    vals = [self._frag(v.strip(), params) for v in vals]
                    if cl.insert_cols is not None:
                        if len(cl.insert_cols) != len(vals):
                            raise PsqlCompileError(
                                "MERGE INSERT: column/value count mismatch"
                            )
                        vmap = {
                            c.lower(): v
                            for c, v in zip(cl.insert_cols, vals)
                        }
                    else:
                        if len(vals) != len(tcols):
                            raise PsqlCompileError(
                                "MERGE INSERT: VALUES arity must match "
                                f"{m.target!r} ({len(tcols)} columns)"
                            )
                        vmap = {
                            c.lower(): v for c, v in zip(tcols, vals)
                        }
                else:  # whole source row, by name
                    vmap = {
                        c.lower(): f"`{scols_by_lower[c.lower()]}`"
                        for c in tcols
                        if c.lower() in scols_by_lower
                    }
                ins_proj = ", ".join(
                    f"CAST(({vmap[c.lower()]}) AS {dtypes[c]}) AS `{c}`"
                    if c.lower() in vmap
                    else f"CAST(NULL AS {dtypes[c]}) AS `{c}`"
                    for c in tcols
                )
                ins = self._run_sql(
                    f"SELECT {ins_proj} FROM {{__a}} AS `{sa}` WHERE {gate}",
                    {"__a": anti},
                )
                affected += ins.count()
                new = new.unionByName(ins)
                if m.returning is not None:
                    ret_parts.append(ins.withColumn("__maction", F.lit("INSERT")))

        pinned = self._pin(new)
        if is_view:
            pinned.createOrReplaceTempView(m.target)
        else:
            pinned.write.mode("overwrite").saveAsTable(m.target)
        if m.returning is not None:
            if ret_parts:
                ret = ret_parts[0]
                for p in ret_parts[1:]:
                    ret = ret.unionByName(p)
            else:
                ret = (
                    t_pin.drop("__tid")
                    .limit(0)
                    .withColumn("__maction", F.lit(""))
                )
            items = _split_top_commas(m.returning)
            sel: list[str] = []
            for it in items:
                it = it.strip()
                if it == "*":
                    sel.extend(f"`{c}`" for c in tcols)
                    continue
                if re.fullmatch(r"(?is)merge_action(\s*\(\s*\))?", it):
                    sel.append("`__maction` AS merge_action")
                    continue
                it2 = re.sub(
                    r"(?is)\bmerge_action\s*\(\s*\)|\bmerge_action\b",
                    "`__maction`",
                    it,
                )
                sel.append(self._frag(it2, {"__r": ret}))
            return self._run_sql(
                f"SELECT {', '.join(sel)} FROM {{__r}}", {"__r": ret}
            )
        return self.spark.createDataFrame([(affected,)], "Count bigint")

    def _run_alter(self, stmt: str) -> DataFrame | None:
        """DuckDB schema evolution over session relations, copy-on-write:

        ``ALTER TABLE [IF EXISTS] t RENAME COLUMN a TO b | ADD COLUMN
        [IF NOT EXISTS] c TYPE [DEFAULT expr] | DROP COLUMN [IF EXISTS] c
        | RENAME TO t2`` re-point the temp view at the projected relation
        (same mechanism as UPDATE/DELETE; the projection is lazy — no
        data moves until the next read). ``CREATE/DROP INDEX`` are
        observable no-ops: Spark has no secondary index structures — the
        engine's answer to DuckDB's ART index is layout (``cluster by``
        bucketed twins / sort order), documented in SURVEY §8."""
        m = re.match(
            r"(?is)^\s*(create\s+(?:unique\s+)?index|drop\s+index)\b", stmt
        )
        if m is not None:
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        m = re.match(
            r"(?is)^\s*alter\s+table\s+(if\s+exists\s+)?([\w\"`]+)\s+(.*?);?\s*$",
            stmt,
        )
        if m is None:
            return None
        if_exists, name, action = bool(m.group(1)), m.group(2).strip('"`'), m.group(3)
        catalog = self.spark.catalog
        entries = [t for t in catalog.listTables() if t.name == name]
        if not entries:
            if if_exists:
                return self.spark.range(0).select(F.lit("ok").alias("status"))
            raise PsqlCompileError(f"ALTER TABLE: table {name!r} not found")
        if not (entries[0].tableType in ("TEMPORARY", "VIEW") or entries[0].isTemporary):
            return None  # catalog tables: Spark's own ALTER TABLE path
        target = self.spark.table(name)
        cols = target.columns
        low = {c.lower(): c for c in cols}

        am = re.match(r"(?is)^rename\s+(?:column\s+)?([\w\"`]+)\s+to\s+([\w\"`]+)$", action)
        if am and am.group(1).strip('"`').lower() in low:
            old, new = am.group(1).strip('"`'), am.group(2).strip('"`')
            out = target.withColumnRenamed(low[old.lower()], new)
            keys = self._table_keys.get(name)
            if keys:
                self._table_keys[name] = [
                    new if k.lower() == old.lower() else k for k in keys
                ]
        elif re.match(r"(?is)^rename\s+to\s+[\w\"`]+$", action):
            new_name = action.split()[-1].strip('"`')
            target.createOrReplaceTempView(new_name)
            catalog.dropTempView(name)
            if name in self._table_keys:
                self._table_keys[new_name] = self._table_keys.pop(name)
            if ("table", name) in self._comments:
                self._comments[("table", new_name)] = self._comments.pop(("table", name))
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        elif (am := re.match(
            r"(?is)^add\s+column\s+(if\s+not\s+exists\s+)?([\w\"`]+)\s+(\w+(?:\([\d, ]*\))?)"
            r"(?:\s+default\s+(.+))?$", action,
        )) is not None:
            cname = am.group(2).strip('"`')
            if cname.lower() in low:
                if am.group(1):
                    return self.spark.range(0).select(F.lit("ok").alias("status"))
                raise PsqlCompileError(f"ALTER TABLE: column {cname!r} already exists")
            typ = am.group(3)
            dflt = am.group(4)
            expr = (
                f"cast(({self._frag(dflt, {})}) as {typ})" if dflt
                else f"cast(null as {typ})"
            )
            out = self._run_sql(
                f"SELECT *, {apply_shims(expr)} AS `{cname}` FROM {{__t}}",
                {"__t": target},
            )
        elif (am := re.match(
            r"(?is)^drop\s+(?:column\s+)?(if\s+exists\s+)?([\w\"`]+)$", action
        )) is not None:
            cname = am.group(2).strip('"`')
            if cname.lower() not in low:
                if am.group(1):
                    return self.spark.range(0).select(F.lit("ok").alias("status"))
                raise PsqlCompileError(f"ALTER TABLE: column {cname!r} not found")
            out = target.drop(low[cname.lower()])
            keys = self._table_keys.get(name)
            if keys and any(k.lower() == cname.lower() for k in keys):
                self._table_keys.pop(name, None)
        elif re.match(r"(?is)^alter\s+column\b", action):
            # ALTER COLUMN … SET DATA TYPE
            tm = re.match(
                r"(?is)^alter\s+(?:column\s+)?([\w\"`]+)\s+(?:set\s+data\s+)?type\s+"
                r"(\w+(?:\([\d, ]*\))?)", action,
            )
            if tm is None:
                return None
            cname = tm.group(1).strip('"`')
            if cname.lower() not in low:
                raise PsqlCompileError(f"ALTER TABLE: column {cname!r} not found")
            sel = ", ".join(
                f"cast(`{c}` as {tm.group(2)}) as `{c}`"
                if c.lower() == cname.lower() else f"`{c}`"
                for c in cols
            )
            out = self._run_sql(
                f"SELECT {apply_shims(sel)} FROM {{__t}}", {"__t": target}
            )
        else:
            return None
        self._pin(out).createOrReplaceTempView(name)
        return self.spark.range(0).select(F.lit("ok").alias("status"))

    def _parse_copy_from(self, stmt: str) -> tuple[str, str, dict[str, str]] | None:
        """Detect ``COPY <table> FROM '<path>' [(options)]`` — DuckDB's
        import direction (delegated dialect). Returns (name, path, opts)."""
        toks = tokenize(stmt)
        if (
            len(toks) < 4
            or toks[0].kind != "word"
            or toks[0].lower != "copy"
            or toks[1].kind not in ("word", "qident")
            or toks[2].kind != "word"
            or toks[2].lower != "from"
            or toks[3].kind != "string"
        ):
            return None
        name = toks[1].text.strip('"`')
        path = toks[3].text[1:-1].replace("''", "'")
        opts: dict[str, str] = {}
        if len(toks) > 4 and toks[4].kind == "lparen":
            close = _match_paren(toks, 4)
            for part in stmt[toks[4].end : toks[close].start].split(","):
                kv = part.strip().split(None, 1)
                if kv:
                    opts[kv[0].lower()] = kv[1].strip().strip("'\"") if len(kv) > 1 else "true"
        return name, path, opts

    def _run_copy_from(self, name: str, path: str, opts: dict[str, str]) -> DataFrame:
        """Append a file's rows into an existing table/view (COPY … FROM).

        The TARGET's schema drives the read (DuckDB semantics: no
        re-inference — a csv column feeding an int column is parsed as
        int), so the append is positionally aligned and type-exact."""
        target = self.spark.table(name) if (
            self.spark.catalog.tableExists(name)
            or any(t.name == name for t in self.spark.catalog.listTables())
        ) else None
        if target is None:
            raise PsqlCompileError(f"COPY FROM: table or view {name!r} not found")
        fmt = opts.get("format", "").lower()
        if not fmt:
            low = path.lower()
            fmt = (
                "parquet" if low.endswith((".parquet", ".pq"))
                else "json" if low.endswith((".json", ".jsonl", ".ndjson"))
                else "csv"
            )
        if fmt == "parquet":
            src = self.spark.read.parquet(path)
        elif fmt == "json":
            src = self.spark.read.schema(target.schema).json(path)
        else:
            reader = self.spark.read.schema(target.schema).option(
                "header", opts.get("header", "true")
            )
            delim = opts.get("delim") or opts.get("delimiter") or opts.get("sep")
            if delim:
                reader = reader.option("sep", delim)
            src = reader.csv(path)
        return self._append_to(name, src, None, False, verb="COPY FROM")

    def _run_copy(self, source: str, path: str, opts: dict[str, str]) -> DataFrame:
        """Distributed write — a directory of part files, the layout a
        100 TB pipeline needs (no single-file driver funnel)."""
        df = self._compile_query_expr(source)
        fmt = opts.get("format", "").lower()
        if not fmt:
            low = path.lower()
            fmt = ("parquet" if low.endswith((".parquet", ".pq"))
                   else "json" if low.endswith((".json", ".jsonl", ".ndjson"))
                   else "csv")
        writer = df.write.mode("overwrite")
        if fmt == "csv":
            header = opts.get("header", "true").lower() not in ("false", "0")
            writer = writer.option("header", header)
            if "delimiter" in opts or "delim" in opts or "sep" in opts:
                writer = writer.option(
                    "sep", opts.get("delimiter") or opts.get("delim") or opts.get("sep")
                )
        if "compression" in opts or "codec" in opts:
            writer = writer.option(
                "compression", opts.get("compression") or opts.get("codec")
            )
        if "partition_by" in opts:
            writer = writer.partitionBy(
                *[
                    c.strip().strip('"`')
                    for c in re.split(r"[,\s]+", opts["partition_by"])
                    if c.strip()
                ]
            )
        writer.format(fmt).save(path)
        return df

    def _parse_export_import(self, stmt: str) -> DataFrame | None:
        """DuckDB ``EXPORT DATABASE '<dir>' [(FORMAT …)]`` / ``IMPORT
        DATABASE '<dir>'``.

        Export writes every user-visible catalog relation (temp views and
        tables; engine-internal ``_pyspark_*`` views excluded) as a
        directory of part files per table — the distributed layout, not
        DuckDB's single-file-per-table, because a 100 TB table cannot
        funnel through one writer — plus a ``manifest.json`` the importer
        reads back. Import re-registers every manifest table as a temp
        view. Divergence (documented): no schema.sql; the manifest +
        self-describing parquet carry the schema.
        """
        import json as _json

        toks = tokenize(stmt)
        if (
            len(toks) < 3
            or toks[1].kind != "word"
            or toks[1].lower != "database"
            or toks[2].kind != "string"
        ):
            return None
        direction = toks[0].lower
        path = toks[2].text[1:-1].replace("''", "'")
        fmt = "parquet"
        if direction == "export":
            i = 3
            if i < len(toks) and toks[i].kind == "lparen":
                close = _match_paren(toks, i)
                inner = toks[i + 1 : close]
                for j, t in enumerate(inner):
                    if t.kind == "word" and t.lower == "format" and j + 1 < len(inner):
                        fmt = inner[j + 1].lower.strip("'")
                if fmt not in ("parquet", "csv", "json"):
                    raise PsqlCompileError(f"EXPORT DATABASE: unsupported format {fmt!r}")
            names = [
                t.name
                for t in self.spark.catalog.listTables()
                if not t.name.startswith("_")
            ]
            os.makedirs(path, exist_ok=True)
            manifest = {"format": fmt, "tables": {}}
            from pyspark.sql import types as _T

            for name in names:
                out = os.path.join(path, name)
                df = self.spark.table(name)
                # text formats can't represent every type (CSV: no
                # array/map/struct; CSV/JSON: binary only lossily) —
                # such relations fall back to parquet, recorded
                # per-table in the manifest so import stays exact
                tfmt = fmt
                if fmt in ("csv", "json"):
                    complex_cols = any(
                        isinstance(f.dataType, (_T.ArrayType, _T.MapType, _T.StructType))
                        and fmt == "csv"
                        or isinstance(f.dataType, _T.BinaryType)
                        for f in df.schema.fields
                    )
                    if complex_cols:
                        tfmt = "parquet"
                def _write(d):
                    w = d.write.mode("overwrite")
                    if tfmt == "csv":
                        w = w.option("header", True)
                    w.format(tfmt).save(out)

                try:
                    _write(df)
                except Exception:  # noqa: BLE001
                    # another job rewrote this relation's files between
                    # catalog listing and read (vanished part file →
                    # FAILED_READ_FILE; at 100 TB a concurrent twin
                    # rewrite is a Tuesday). Refresh the stale file
                    # index and retry once; a second failure skips the
                    # table with a manifest note instead of failing the
                    # whole export.
                    try:
                        self.spark.catalog.refreshTable(name)
                        _write(self.spark.table(name))
                    except Exception as e2:  # noqa: BLE001
                        manifest.setdefault("skipped", {})[name] = (
                            f"{type(e2).__name__}: {str(e2)[:200]}"
                        )
                        continue
                manifest["tables"][name] = {"path": name, "format": tfmt}
            with open(os.path.join(path, "manifest.json"), "w") as f:
                _json.dump(manifest, f, indent=1)
            return self.spark.createDataFrame(
                [(n,) for n in sorted(manifest["tables"])], "exported string"
            )
        try:
            with open(os.path.join(path, "manifest.json")) as f:
                manifest = _json.load(f)
        except OSError as e:
            raise PsqlCompileError(f"IMPORT DATABASE: cannot read manifest: {e}")
        default_fmt = manifest.get("format", "parquet")
        for name, rel in manifest.get("tables", {}).items():
            # dict entries carry a per-table format (text-format export
            # falls back to parquet for complex types); plain strings are
            # the legacy single-format manifest shape
            if isinstance(rel, dict):
                tfmt, relpath = rel.get("format", default_fmt), rel["path"]
            else:
                tfmt, relpath = default_fmt, rel
            reader = self.spark.read
            if tfmt == "csv":
                reader = reader.option("header", True).option("inferSchema", True)
            df = reader.format(tfmt).load(os.path.join(path, relpath))
            df.createOrReplaceTempView(name)
        return self.spark.createDataFrame(
            [(n,) for n in sorted(manifest.get("tables", {}))], "imported string"
        )

    def _parse_insert(
        self, stmt: str
    ) -> tuple[str, list[str] | None, bool, str, tuple | None] | None:
        """Detect ``INSERT [OR REPLACE|OR IGNORE] INTO name [(cols)]
        [BY NAME] <query|VALUES …> [ON CONFLICT [(cols)] DO NOTHING |
        DO UPDATE SET … [WHERE …]]`` (DuckDB delegated-dialect DML).
        Returns (name, cols, by_name, body, conflict) where conflict is
        None | ("nothing", key_cols|None) |
        ("update", key_cols|None, set_text, where_text) |
        ("replace", None)."""
        returning: str | None = None
        rtoks = tokenize(stmt)
        depth0 = 0
        for t in rtoks:
            if t.kind in ("lparen", "block_open"):
                depth0 += 1
            elif t.kind in ("rparen", "block_close"):
                depth0 -= 1
            elif depth0 == 0 and t.kind == "word" and t.lower == "returning":
                returning = stmt[t.end :].strip().rstrip(";")
                stmt = stmt[: t.start]
                break
        toks = tokenize(stmt)
        words = [t.lower if t.kind == "word" else t.text for t in toks]
        conflict: tuple | None = None
        if words[:1] != ["insert"]:
            return None
        if words[1:3] == ["or", "replace"] and words[3:4] == ["into"]:
            conflict = ("replace", None)
            i = 4
        elif words[1:3] == ["or", "ignore"] and words[3:4] == ["into"]:
            conflict = ("nothing", None)
            i = 4
        elif words[1:2] == ["into"]:
            i = 2
        else:
            return None
        # trailing ON CONFLICT clause (depth 0) — strip before body parse
        depth = 0
        for j in range(i, len(toks)):
            t = toks[j]
            if t.kind in ("lparen", "block_open"):
                depth += 1
            elif t.kind in ("rparen", "block_close"):
                depth -= 1
            elif (
                depth == 0
                and t.kind == "word"
                and t.lower == "on"
                and j + 1 < len(toks)
                and toks[j + 1].kind == "word"
                and toks[j + 1].lower == "conflict"
            ):
                if conflict is not None:
                    raise PsqlCompileError(
                        "INSERT: OR REPLACE/IGNORE and ON CONFLICT "
                        "cannot be combined"
                    )
                conflict = self._parse_on_conflict(stmt, toks, j)
                toks = toks[:j]
                words = words[:j]
                stmt = stmt[: toks[j - 1].end] if j > 0 else ""
                break
        if i >= len(toks) or toks[i].kind not in ("word", "qident"):
            raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
        name = toks[i].text.strip('"`')
        i += 1
        cols: list[str] | None = None
        if i < len(toks) and toks[i].kind == "lparen":
            close = _match_paren(toks, i)
            inner = toks[i + 1 : close]
            # a column list is only idents and commas AND a query follows;
            # otherwise the parens are the (sub)query body itself
            is_col_list = (
                close + 1 < len(toks)
                and inner
                and all(t.kind in ("word", "qident", "comma") for t in inner)
                and not any(
                    t.kind == "word"
                    and t.lower in ("select", "from", "values", "with")
                    for t in inner
                )
            )
            if is_col_list:
                cols = [
                    c.strip().strip('"`')
                    for c in stmt[toks[i].end : toks[close].start].split(",")
                    if c.strip()
                ]
                i = close + 1
        by_name = False
        if words[i : i + 2] == ["by", "name"]:
            by_name = True
            i += 2
        elif words[i : i + 2] == ["by", "position"]:
            i += 2  # DuckDB's explicit spelling of the positional default
        if i >= len(toks):
            raise PsqlParseError('syntax error at or near ""')
        body = stmt[toks[i].start :].strip().rstrip(";")
        return name, cols, by_name, body, conflict, returning

    def _parse_on_conflict(
        self, stmt: str, toks: list[Token], j: int
    ) -> tuple:
        """Parse ``ON CONFLICT [(cols)] DO NOTHING | DO UPDATE SET …
        [WHERE …]`` starting at token ``j`` (the ON)."""
        i = j + 2
        key_cols = None
        if i < len(toks) and toks[i].kind == "lparen":
            close = _match_paren(toks, i)
            key_cols = [
                c.strip().strip('"`')
                for c in stmt[toks[i].end : toks[close].start].split(",")
                if c.strip()
            ]
            i = close + 1
        words = [t.lower if t.kind == "word" else None for t in toks]
        if words[i : i + 2] == ["do", "nothing"]:
            return ("nothing", key_cols)
        if words[i : i + 3] == ["do", "update", "set"]:
            rest = stmt[toks[i + 2].end :]
            rtoks = tokenize(rest)
            depth = 0
            where = None
            set_text = rest.strip().rstrip(";")
            for t in rtoks:
                if t.kind in ("lparen", "block_open"):
                    depth += 1
                elif t.kind in ("rparen", "block_close"):
                    depth -= 1
                elif depth == 0 and t.kind == "word" and t.lower == "where":
                    set_text = rest[: t.start].strip()
                    where = rest[t.end :].strip().rstrip(";")
                    break
            return ("update", key_cols, set_text, where)
        raise PsqlParseError(
            "", near=toks[i].text if i < len(toks) else "ON CONFLICT"
        )

    def _run_insert(
        self,
        name: str,
        cols: list[str] | None,
        by_name: bool,
        body: str,
        conflict: tuple | None = None,
        returning: str | None = None,
    ) -> DataFrame:
        """Append rows to a table or temp view; returns a 1-row Count frame.

        Catalog tables append through ``insertInto`` — the distributed
        write path (partitioned parquet under the warehouse), safe at any
        scale. Temp views are logical: the view is re-pointed at
        ``old UNION ALL new`` with the new rows pinned via an eager
        localCheckpoint — required so that (a) re-reads don't re-run the
        source query and (b) ``INSERT INTO v … FROM v`` doesn't
        self-reference the replaced view.
        """
        if re.fullmatch(r"(?is)default\s+values", body.strip()):
            # one all-defaults row. The engine records no column
            # defaults (CREATE TABLE defaults are not tracked; ALTER
            # ADD COLUMN DEFAULT back-fills at add time), so every
            # default is NULL — DuckDB's behavior for undeclared
            # defaults. A column list is ill-formed here, like DuckDB.
            if cols is not None:
                raise PsqlCompileError(
                    "INSERT … DEFAULT VALUES takes no column list"
                )
            target_schema = self.spark.table(name).schema
            src = self.spark.range(1).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in target_schema.fields
                ]
            )
        else:
            src = self._compile_query_expr(body)
        if conflict is None and name not in self._table_keys:
            return self._append_to(
                name, src, cols, by_name, verb="INSERT INTO",
                returning=returning,
            )
        return self._insert_with_keys(
            name, src, cols, by_name, conflict, returning=returning
        )

    def _insert_with_keys(
        self,
        name: str,
        src: DataFrame,
        cols: list[str] | None,
        by_name: bool,
        conflict: tuple | None,
        returning: str | None = None,
    ) -> DataFrame:
        """INSERT against a keyed table, or with an ON CONFLICT clause.

        Plain INSERT enforces the declared PRIMARY KEY/UNIQUE columns
        (DuckDB's Constraint Error); the conflict-resolving forms reuse
        the MERGE executor — ``excluded`` is the standard source alias
        for the incoming batch. Intra-batch duplicate keys are collapsed
        to one arbitrary survivor (DuckDB errors on them under DO
        UPDATE — documented divergence; DO NOTHING keeps one likewise).
        RETURNING rides the MERGE executor's tail: post-image of the
        rows actually written — inserted rows plus DO-UPDATE-hit rows;
        DO-NOTHING-skipped conflicts are excluded, like DuckDB."""
        catalog = self.spark.catalog
        is_view = any(
            t.name == name and t.tableType in ("TEMPORARY", "VIEW")
            for t in catalog.listTables()
            if t.name == name
        )
        if not is_view and not catalog.tableExists(name):
            raise PsqlCompileError(f"INSERT INTO: table or view {name!r} not found")
        target = self.spark.table(name)
        aligned = self._align_for_insert(src, target, cols, by_name)
        keys = (conflict[1] if conflict and conflict[1] else None) or \
            self._table_keys.get(name)
        if conflict is not None and not keys:
            raise PsqlCompileError(
                f"INSERT … ON CONFLICT: {name!r} has no PRIMARY KEY/UNIQUE "
                "columns and no explicit conflict target was given"
            )
        if conflict is None:
            # enforce uniqueness like DuckDB: any incoming key that already
            # exists, or repeats within the batch, is a constraint error
            pinned = self._pin(aligned)
            dup_in = (
                pinned.groupBy(*keys).count().filter("count > 1").count()
            )
            dup_vs = pinned.join(target, on=list(keys), how="semi").count()
            if dup_in or dup_vs:
                raise PsqlCompileError(
                    f"Constraint Error: duplicate key violates "
                    f"PRIMARY KEY/UNIQUE constraint on {name!r} "
                    f"({', '.join(keys)})"
                )
            return self._append_to(
                name, pinned, None, False, verb="INSERT INTO",
                returning=returning,
            )
        kind = conflict[0]
        aligned = aligned.dropDuplicates(list(keys)) if keys else aligned
        on_cond = " and ".join(
            f"`{name}`.`{k}` = `excluded`.`{k}`" for k in keys
        )
        tcols = target.columns
        if kind == "replace":
            set_text = ", ".join(
                f"`{c}` = `excluded`.`{c}`"
                for c in tcols
                if c.lower() not in {k.lower() for k in keys}
            )
            clauses = (
                [merge_mod.MergeClause(True, False, None, "update", set_text)]
                if set_text else
                [merge_mod.MergeClause(True, False, None, "nothing")]
            )
        elif kind == "update":
            clauses = [
                merge_mod.MergeClause(
                    True, False, conflict[3], "update", conflict[2]
                )
            ]
        else:  # nothing
            clauses = []
        clauses.append(merge_mod.MergeClause(False, False, None, "insert"))
        return self._run_merge(
            merge_mod.MergeStmt(
                target=name,
                target_alias=name,
                source_text="",
                source_alias="excluded",
                on_cond=on_cond,
                clauses=clauses,
                source_df=aligned,
                returning=returning,
            )
        )

    def _append_to(
        self,
        name: str,
        src: DataFrame,
        cols: list[str] | None,
        by_name: bool,
        *,
        verb: str,
        returning: str | None = None,
    ) -> DataFrame:
        catalog = self.spark.catalog
        is_view = any(
            t.name == name and t.tableType in ("TEMPORARY", "VIEW")
            for t in catalog.listTables()
            if t.name == name
        )
        if not is_view and not catalog.tableExists(name):
            raise PsqlCompileError(f"{verb}: table or view {name!r} not found")
        target = self.spark.table(name)
        aligned = self._align_for_insert(src, target, cols, by_name)
        if is_view:
            pinned = self._pin(aligned)
            n = pinned.count()
            # Temp-view inserts pin rows in executor storage (the view is
            # logical — nothing else holds the data). That is an
            # interactive-scale mechanism, not a 100 TB write path, so cap
            # it: spark.psql.insertView.maxRows (default 50M, 0 disables)
            # turns a silent cluster-memory pin into a clear error telling
            # the user to INSERT into a real table instead.
            max_rows = self.confs["spark.psql.insertView.maxRows"]
            if max_rows and n > max_rows:
                pinned.unpersist()
                raise PsqlCompileError(
                    f"{verb}: inserting {n} rows into temp view {name!r} "
                    f"exceeds spark.psql.insertView.maxRows={max_rows}; "
                    "temp-view inserts pin rows in executor memory — "
                    "use a catalog table for large appends"
                )
            # checkpoint the UNION, not union-over-checkpoints: a view
            # whose plan unions two LogicalRDD checkpoints trips a Spark
            # planning bug on any later re-checkpoint of the view
            # (DeduplicateRelations re-ids one branch's attrs but the
            # LogicalRDD's stats AttributeMap keeps the old ids —
            # "key not found: <col>#N"), which broke ON CONFLICT /
            # MERGE / UPDATE over a seeded temp table. Re-materializing
            # old rows per INSERT is the copy-on-write cost, bounded by
            # the insertView.maxRows cap above.
            combined = self._pin(target.unionAll(pinned))
            combined.createOrReplaceTempView(name)
        else:
            pinned = aligned.persist()
            n = pinned.count()
            pinned.write.insertInto(name, overwrite=False)
            if returning is None:
                pinned.unpersist()
        if returning is not None:
            # the inserted batch's projection (DuckDB RETURNING); pinned
            # already, so this never re-runs the source query. Checkpoint
            # the projection so the persist can be released now — leaving
            # pinned cached would accumulate executor storage per statement.
            ret_df = self._pin(self._run_sql(
                f"SELECT {self._frag(returning, {'__i': pinned})}"
                " FROM {__i}",
                {"__i": pinned},
            ))
            if not is_view:
                pinned.unpersist()
            return ret_df
        return self.spark.createDataFrame([(n,)], "Count bigint")

    def _align_for_insert(
        self,
        src: DataFrame,
        target: DataFrame,
        cols: list[str] | None,
        by_name: bool,
    ) -> DataFrame:
        """Project src onto the target's schema: positional by default,
        name-matched with BY NAME, or through an explicit column list
        (unlisted target columns become NULL, like DuckDB defaults)."""
        fields = target.schema.fields
        field_names = {f.name.lower() for f in fields}
        if by_name:
            have = {c.lower(): c for c in src.columns}
            # DuckDB errors on BY NAME source columns with no target match;
            # dropping them silently would lose a typo'd column's data
            unmatched = [c for c in src.columns if c.lower() not in field_names]
            if unmatched:
                raise PsqlCompileError(
                    f"INSERT INTO … BY NAME: source column(s) "
                    f"{', '.join(unmatched)} not in target schema"
                )
            sel = [
                F.col(have[f.name.lower()]).cast(f.dataType).alias(f.name)
                if f.name.lower() in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ]
            return src.select(*sel)
        if cols is not None:
            if len(cols) != len(src.columns):
                raise PsqlCompileError(
                    f"INSERT INTO: {len(cols)} target columns but source "
                    f"produces {len(src.columns)}"
                )
            unknown = [c for c in cols if c.lower() not in field_names]
            if unknown:
                raise PsqlCompileError(
                    f"INSERT INTO: listed column(s) {', '.join(unknown)} "
                    f"not in target schema"
                )
            pos = {c.lower(): i for i, c in enumerate(cols)}
            sel = [
                F.col(src.columns[pos[f.name.lower()]]).cast(f.dataType).alias(f.name)
                if f.name.lower() in pos
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in fields
            ]
            return src.select(*sel)
        if len(src.columns) != len(fields):
            raise PsqlCompileError(
                f"INSERT INTO: target has {len(fields)} columns but source "
                f"produces {len(src.columns)}"
            )
        return src.select(
            *[
                F.col(src.columns[i]).cast(f.dataType).alias(f.name)
                for i, f in enumerate(fields)
            ]
        )

    # ------------------------------------------------------------------
    # declared key constraints (constraints.py)
    # ------------------------------------------------------------------

    def _declared_unique(self, src: tuple[str, str], cols: set) -> bool:
        """Declared-unique check for the key-driven passes: the DECLARE
        registry, plus column-def PRIMARY KEY/UNIQUE of CREATE TEMP
        TABLE (_table_keys — engine-enforced on insert, so at least as
        trustworthy as a trusted declaration)."""
        if self.constraints.is_unique(src, cols):
            return True
        if src[0] == "table":
            tk = self._table_keys.get(src[1]) or self._table_keys.get(
                src[1].lower()
            )
            if tk and {c.lower() for c in tk} == {c.lower() for c in cols}:
                return True
        return False

    def _constraint_source_df(self, src: tuple[str, str]) -> DataFrame:
        kind, text = src
        if kind == "path":
            return self.resolver.resolve(text)
        return self.resolver.table(text)

    def _run_declare(self, stmt: str) -> DataFrame | None:
        """``DECLARE PRIMARY KEY / UNIQUE / FOREIGN KEY …`` — register
        informational key metadata (constraints.py) that the FK-join
        elimination pre-pass trusts. ``VERIFY`` runs the uniqueness /
        referential-completeness check eagerly and raises on violation;
        without it the declaration is trusted (the informational-
        constraint contract — a false declaration can change results).
        Column existence is always checked against the source schema."""
        parsed = constraints_mod.parse_declare(stmt)
        if parsed is None:
            return None
        kind, src, cols, ref, ref_cols, verify = parsed
        df = self._constraint_source_df(src)
        actual = {c.lower(): c for c in df.columns}
        missing = [c for c in cols if c not in actual]
        if missing:
            raise PsqlCompileError(
                f"DECLARE: column(s) {', '.join(missing)} not in {src[1]!r}"
            )
        skey = constraints_mod.source_key(*src)
        if kind == "unique":
            if verify:
                aggs = [
                    F.count(F.lit(1)).alias("__n"),
                    F.count_distinct(
                        *[F.col(actual[c]) for c in cols]
                    ).alias("__d"),
                ] + [
                    F.sum(F.col(actual[c]).isNull().cast("int")).alias(f"__z{k}")
                    for k, c in enumerate(cols)
                ]
                row = df.agg(*aggs).collect()[0]
                nulls = sum(row[f"__z{k}"] or 0 for k in range(len(cols)))
                if row["__n"] != row["__d"] or nulls:
                    raise PsqlCompileError(
                        f"DECLARE … VERIFY failed: ({', '.join(cols)}) is not "
                        f"unique/non-null in {src[1]!r} "
                        f"({row['__n']} rows, {row['__d']} distinct keys, "
                        f"{nulls} nulls)"
                    )
            self.constraints.declare_unique(skey, cols)
        else:
            rdf = self._constraint_source_df(ref)
            ractual = {c.lower(): c for c in rdf.columns}
            rmissing = [c for c in ref_cols if c not in ractual]
            if rmissing:
                raise PsqlCompileError(
                    f"DECLARE: column(s) {', '.join(rmissing)} not in {ref[1]!r}"
                )
            rkey = constraints_mod.source_key(*ref)
            if verify:
                cond = None
                for c in cols:
                    n = F.col(actual[c]).isNull()
                    cond = n if cond is None else (cond | n)
                if df.filter(cond).limit(1).count():
                    raise PsqlCompileError(
                        f"DECLARE FOREIGN KEY … VERIFY failed: NULL "
                        f"{'/'.join(cols)} in {src[1]!r}"
                    )
                left = df.select(
                    *[
                        F.col(actual[c]).alias(rc)
                        for c, rc in zip(cols, ref_cols)
                    ]
                )
                dangling = left.join(
                    rdf.select(*[F.col(ractual[rc]).alias(rc) for rc in ref_cols]),
                    on=list(ref_cols),
                    how="left_anti",
                )
                if dangling.limit(1).count():
                    raise PsqlCompileError(
                        f"DECLARE FOREIGN KEY … VERIFY failed: dangling "
                        f"{'/'.join(cols)} in {src[1]!r} (no match in {ref[1]!r})"
                    )
            self.constraints.declare_fk(skey, cols, rkey, ref_cols)
        return self.spark.range(0).select(F.lit("ok").alias("status"))

    _CLUSTER_DECLARED_RE = re.compile(
        r"(?is)^\s*cluster\s+declared\s+keys\b(?P<args>[^;]*);?\s*$"
    )
    _SHOW_CLUSTER_RE = re.compile(
        r"(?is)^\s*show\s+cluster\s+layouts\s*;?\s*$"
    )

    def _run_show_cluster(self, stmt: str) -> DataFrame | None:
        """``SHOW CLUSTER LAYOUTS`` — the visible staleness signal
        (VERDICT r12 #3): one row per registered bucketed twin, path and
        catalog endpoints both, with status ``fresh`` or ``stale``.
        Stale entries stay listed (the accessors that SERVE twins drop
        them; this report deliberately does not) so an operator can see
        that an ingest batch invalidated a layout — the silent
        alternative is a 2x join regression nobody notices — and re-run
        ``CLUSTER DECLARED KEYS`` to rebuild exactly the stale ones."""
        if self._SHOW_CLUSTER_RE.match(stmt) is None:
            return None
        rows = self.resolver.twin_status()
        return self.spark.createDataFrame(
            rows, "source string, twin string, keys string, status string"
        )

    def _run_cluster_declared(self, stmt: str) -> DataFrame | None:
        """``CLUSTER DECLARED KEYS [buckets=N] [minbytes=M]`` — the
        engine-driven co-location lever (VERDICT r11 #1): walk the
        session's declared FOREIGN KEY graph and materialize bucketed
        twins (operators/scale.py write_bucketed) for BOTH endpoints of
        each large FK join edge, bucketed on the join's own columns, so
        later statements that shuffle those paths on those keys are
        transparently recompiled against the co-located layout
        (_with_bucketed_twins) and the fact exchange disappears from the
        plan. This is the ingest-time move a 100 TB deployment makes
        once: pay one write-side shuffle per table, then every
        FK-keyed join/aggregation over it reads co-located buckets.

        Edge selection: edges rank by combined endpoint bytes
        (biggest fact joins first); each (path, key tuple) pair gets at
        most one layout, and a path may carry SEVERAL layouts on
        different keys — warehouse-style projections (orders bucketed
        by o_orderkey for the lineitem join AND by o_custkey for the
        customer join), with the later substitution pass picking the
        layout whose key the plan actually shuffles on. Endpoints below
        ``minbytes`` (default ``TINY_INPUT_BYTES``, 64 MB) are skipped — a dim below the floor is broadcast at join
        time anyway, so bucketing it buys nothing (it still CONSUMES
        the co-location of the other side if that side is twinned).
        Both endpoint kinds participate (round 13): path-backed sources
        register per path with a (bytes, mtime) staleness fingerprint;
        catalog endpoints (saved tables, views — where a 100 TB
        deployment's facts usually live) register per name with an
        (input-files, plan-signature) fingerprint, sized from their
        input files (Catalyst stats for fileless plans). Staleness is
        VISIBLE via ``SHOW CLUSTER LAYOUTS``, and a re-run rebuilds
        exactly the stale layouts (fresh ones pre-claim).

        Returns one row per materialized twin (source, twin, keys,
        buckets, bytes) — an empty result means no declared FK edge had
        a big-enough path endpoint. The reference engine's analogue is
        warehouse-side CLUSTER/partitioning DDL, outside the dialect
        (/root/reference/src/psql_extension.cpp:28-125 rewrites text
        only); this statement is the Spark-native scale surface.
        """
        m = self._CLUSTER_DECLARED_RE.match(stmt)
        if m is None:
            return None
        from .operators.scale import write_bucketed

        kv = dict(
            re.findall(r"(?is)\b(\w+)\s*=\s*([\w/.'-]+)", m.group("args"))
        )
        unknown = set(kv) - {"buckets", "minbytes"}
        if unknown:
            raise PsqlCompileError(
                f"cluster declared keys: unknown option(s) "
                f"{', '.join(sorted(unknown))}"
            )
        # Bucket count: explicit buckets= > bytes-derived default,
        # resolved AFTER the edge walk below so the default can size
        # itself from the largest participating endpoint. A pay-once
        # layout decision derives from the DATA, not from
        # spark.sql.shuffle.partitions, a runtime conf sized for query
        # execution.
        buckets: int | None = None
        explicit = kv.get("buckets")
        if explicit is not None:
            try:
                buckets = int(explicit)
            except ValueError:
                raise PsqlCompileError(
                    f"cluster declared keys: bad buckets= value {explicit!r}"
                )
        raw_minbytes = kv.get("minbytes", TINY_INPUT_BYTES)
        try:
            min_bytes = int(raw_minbytes)
        except ValueError:
            raise PsqlCompileError(
                f"cluster declared keys: bad minbytes= value "
                f"{raw_minbytes!r} (plain byte count expected)"
            )
        # Endpoint sizing: a path sizes by its on-disk fingerprint; a
        # catalog endpoint (table/view — round 13, VERDICT r12 #1: a
        # 100 TB deployment's facts typically live in the catalog) sizes
        # by its INPUT FILES, falling back to Catalyst's plan-stats
        # estimate for fileless plans. A missing endpoint sizes 0.
        def _endpoint_bytes(ep: tuple[str, str]) -> int:
            if ep[0] == "path":
                return self.resolver.path_fingerprint(ep[1])[0]
            fp = self.resolver.table_fingerprint(ep[1])
            if fp == ("missing",):
                return 0
            if fp[0][0]:
                return fp[0][0]
            try:
                return int(
                    self.resolver.table(ep[1])
                    ._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            except Exception:  # noqa: BLE001
                return 0

        # rank FK edges by combined endpoint size, biggest joins first;
        # deterministic tie-break on the endpoint identifier pair
        edges: list[
            tuple[int, tuple[str, str], tuple[str, str],
                  tuple[str, ...], tuple[str, ...]]
        ] = []
        for (src, fkcols), (ref, mapping) in self.constraints.fks.items():
            ckeys = tuple(sorted(fkcols))
            pkeys = tuple(mapping[c] for c in ckeys)
            csize = _endpoint_bytes(src)
            psize = _endpoint_bytes(ref)
            if csize == 0 and psize == 0:
                continue  # neither endpoint exists
            edges.append((csize + psize, src, ref, ckeys, pkeys))
        edges.sort(key=lambda e: (-e[0], e[1][1], e[2][1]))
        # one layout per (endpoint, key tuple): an endpoint can carry
        # SEVERAL layouts on different keys (round 12 — orders by
        # o_orderkey for the lineitem join AND by o_custkey for the
        # customer join / per-customer aggregations); re-running the
        # statement is idempotent because existing layouts are
        # pre-claimed. Only FRESH layouts pre-claim (ADVICE r12): a
        # stale entry (source rewritten since materialization) must be
        # re-materialized by the re-run, not treated as already done —
        # the layouts accessors apply the fingerprint check and drop
        # stale entries as a side effect, which is exactly the refresh
        # semantics wanted.
        claimed: set[tuple[tuple[str, str], tuple[str, ...]]] = {
            (("path", p), keys)
            for p in list(self.resolver.bucketed_twins)
            for (_t, keys) in self.resolver.bucketed_twin_layouts(p)
        } | {
            (("table", n), keys)
            for n in list(self.resolver.table_twins)
            for (_t, keys) in self.resolver.table_twin_layouts(n)
        }
        # First pass: select the (endpoint, keys) layouts to materialize.
        todo: list[tuple[tuple[str, str], tuple[str, ...], int]] = []
        eligible_bytes: list[int] = []
        seen_todo: set[tuple[tuple[str, str], tuple[str, ...]]] = set()
        for _total, csrc, psrc, ckeys, pkeys in edges:
            for ep, keys in ((csrc, ckeys), (psrc, pkeys)):
                size = _endpoint_bytes(ep)
                if size < min_bytes:
                    continue
                # every min_bytes-passing endpoint of a declared edge
                # votes on the bytes-derived default — claimed or not —
                # so re-runs over the same data derive the same count
                # and co-joined layouts stay bucket-compatible
                eligible_bytes.append(size)
                if (ep, keys) in claimed or (ep, keys) in seen_todo:
                    continue
                seen_todo.add((ep, keys))
                todo.append((ep, keys, size))
        if buckets is None:
            # size each bucket to ~BUCKET_TARGET_BYTES of source parquet
            # (32 MB: decompressed that is a low-hundreds-MB build/sort
            # per task, safe under executor memory at any concurrency),
            # floor at the session's core count so a co-located stage
            # still fills one task wave, round up to a multiple of cores
            # so the one-file-per-bucket write runs in full waves, and
            # cap at MAX_BUCKETS against runaway file counts (a 100 TB
            # deployment pins buckets= explicitly).
            cores = max(self.spark.sparkContext.defaultParallelism, 1)
            biggest = max(eligible_bytes, default=0)
            buckets = max(cores, 8, -(-biggest // BUCKET_TARGET_BYTES))
            buckets = min(MAX_BUCKETS, -(-buckets // cores) * cores)
        # round 14 (guide §6 + §2.6): twins write TWIN_CODEC (zstd) — as
        # fast to write as snappy, 26% smaller, so every later co-located
        # scan reads fewer bytes — and the per-twin writes are
        # INDEPENDENT jobs submitted from a small driver thread pool so
        # one write's straggling tail is back-filled by the next write's
        # tasks (BENCH_TWIN_WRITE_ANATOMY_sf10_r14.json: 3-twin total
        # 36.5/32.5 s sequential-snappy → 31.4/29.3 s; registration stays
        # on this thread, in todo order, after all writes land).
        # Resolve sources on THIS thread (the resolver caches are not
        # thread-safe); only the independent write jobs fan out
        prepared: list[tuple[tuple[str, str], tuple[str, ...], int, str, object]] = []
        for ep, keys, size in todo:
            kind, ident = ep
            name = _twin_table_name(
                ident if kind == "path" else f"table:{ident}", keys
            )
            df = (
                self.resolver.resolve(ident)
                if kind == "path"
                else self.resolver.table(ident)
            )
            prepared.append((ep, keys, size, name, df))

        def _materialize(job):
            _ep, keys, _size, name, df = job
            # sort within buckets on the keys: co-located sort-merge
            # joins then skip their per-task sorts too
            write_bucketed(
                df, name, keys=list(keys), buckets=buckets,
                sort_cols=list(keys), codec=TWIN_CODEC,
            )

        made: list[tuple[str, str, str, int, int]] = []
        if prepared:
            from concurrent.futures import ThreadPoolExecutor

            # Per-job failure capture: twins that DID materialize must
            # still register even when a sibling write dies (disk full,
            # task failure) — otherwise the finished tables sit orphaned
            # in the warehouse, later statements silently lose
            # co-location, and a re-run re-pays the completed writes.
            # The first failure (in todo order) re-raises after the
            # successes register, with a note naming every failed twin.
            def _safe(job):
                try:
                    _materialize(job)
                    return None
                except Exception as exc:  # noqa: BLE001 — re-raised below
                    return exc

            with ThreadPoolExecutor(max_workers=min(3, len(prepared))) as pool:
                errs = list(pool.map(_safe, prepared))
            failed = []
            for exc, (ep, keys, size, name, _df) in zip(errs, prepared):
                if exc is not None:
                    failed.append((name, exc))
                    continue
                kind, ident = ep
                if kind == "path":
                    self.resolver.register_bucketed_twin(ident, name, keys)
                else:
                    self.resolver.register_table_twin(ident, name, keys)
                claimed.add((ep, keys))
                made.append((ident, name, ",".join(keys), buckets, size))
            if failed:
                (name, first), *rest = failed
                notes = [f"twin {name} failed to write"] + [
                    f"twin {name} also failed: {type(exc).__name__}: {exc}"
                    for name, exc in rest
                ]
                # PEP 678's attribute, set directly rather than through
                # add_note (3.11+): 3.11+ tracebacks print it, 3.10
                # callers can read it, and the exception type is kept
                first.__notes__ = [*getattr(first, "__notes__", ()), *notes]
                raise first
        return self.spark.createDataFrame(
            made, "source string, twin string, keys string, "
                  "buckets int, bytes long",
        )

    def _run_attach(self, stmt: str, head: list) -> DataFrame | None:
        """DuckDB ``ATTACH '<dir>' [AS name]`` / ``DETACH name`` / ``USE name``.

        The Spark-first analogue of DuckDB database attachment: a
        directory of data files becomes a schema whose files resolve as
        ``<name>.<stem>`` (the same files-as-tables convention the
        resolver already applies to single paths; EXPORT DATABASE output
        directories re-attach naturally). A DuckDB-native ``.db`` file
        cannot be read by Spark and raises a clear error. ``USE`` makes
        an attachment the default for bare names (catalog wins on
        conflict). Registration is metadata-only — no data is read until
        a table is referenced.
        """
        kw = head[0].lower
        body = stmt[head[0].end:].strip().rstrip(";").strip()
        if kw == "use":
            name = body.strip().strip('"`').lower()
            if name not in self.resolver.attachments:
                return None  # Spark-native USE <database> passes through
            self.resolver.default_attachment = name
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        if kw == "detach":
            name = re.sub(r"(?i)^database\s+", "", body).strip().strip('"`').lower()
            if name not in self.resolver.attachments:
                raise PsqlCompileError(f"DETACH: no attached database {name!r}")
            del self.resolver.attachments[name]
            if self.resolver.default_attachment == name:
                self.resolver.default_attachment = None
            return self.spark.range(0).select(F.lit("ok").alias("status"))
        m = re.match(
            r"(?is)^(?:database\s+)?(?:if\s+not\s+exists\s+)?'((?:[^']|'')*)'"
            r"(?:\s+as\s+([\w\"`]+))?\s*(?:\((?:[^)]*)\))?$",
            body,
        )
        if m is None:
            return None  # not an attach form we recognize; fall through
        path = m.group(1).replace("''", "'")
        name = (
            m.group(2).strip('"`').lower()
            if m.group(2)
            else os.path.splitext(os.path.basename(path.rstrip("/")))[0].lower()
        )
        if path.lower().endswith((".db", ".duckdb")):
            raise PsqlCompileError(
                "ATTACH: DuckDB-native database files are not readable by "
                "Spark; attach a directory of parquet/csv/json files instead"
            )
        if not os.path.isdir(path):
            raise PsqlCompileError(f"ATTACH: {path!r} is not a directory")
        self.resolver.attachments[name] = path
        return self.spark.range(0).select(F.lit("ok").alias("status"))

    def _plain_pivot_stmt(
        self, text: str, toks: list[Token], head_word: str
    ) -> DataFrame | None:
        """DuckDB top-level statements (delegated dialect):
        ``PIVOT <src> ON col [IN (…)] [USING agg [AS name]] [GROUP BY …]``
        and ``UNPIVOT <src> ON c1, c2[, …] [INTO NAME k VALUE v]``.

        The source (table name, '<path>', or parenthesized subquery/block)
        compiles through the normal from-head machinery; PIVOT reuses
        the pipe verb's ``_dynamic_pivot`` (distinct-value enumeration —
        the two-pass plan any dynamic pivot needs), UNPIVOT lowers to
        Spark's native UNPIVOT clause (a generator, no shuffle)."""
        # find the top-level ON that separates source from spec
        depth = 0
        on_i = None
        for j, t in enumerate(toks[1:], start=1):
            if t.kind in ("lparen", "block_open"):
                depth += 1
            elif t.kind in ("rparen", "block_close"):
                depth -= 1
            elif depth == 0 and t.kind == "word" and t.lower == "on":
                on_i = j
                break
        if on_i is None or on_i == 1:
            return None
        src = text[toks[1].start : toks[on_i].start].strip()
        base = self._compile_query_expr(f"from {src}")
        if head_word == "pivot":
            return _dynamic_pivot(base, text[toks[on_i].start :].strip())
        # UNPIVOT: ON <cols> [INTO NAME <k> VALUE <v>]
        spec = text[toks[on_i].end :].strip()
        stoks = tokenize(spec)
        into_i = None
        for j, t in enumerate(stoks):
            if t.kind == "word" and t.lower == "into":
                into_i = j
                break
        name_col, value_col = "name", "value"
        cols_text = spec
        if into_i is not None:
            cols_text = spec[: stoks[into_i].start].strip()
            words = [t.lower if t.kind == "word" else None for t in stoks]
            if (
                into_i + 4 >= len(stoks)
                or words[into_i + 1] != "name"
                or words[into_i + 3] != "value"
            ):
                return None
            name_col = stoks[into_i + 2].text.strip('"`')
            value_col = stoks[into_i + 4].text.strip('"`')
        params: dict = {"__u": base}
        cols = ", ".join(
            c.strip() for c in cols_text.split(",") if c.strip()
        )
        return self._run_sql(
            f"SELECT * FROM {{__u}} UNPIVOT (`{value_col}` "
            f"FOR `{name_col}` IN ({cols}))",
            params,
        )

    def _parse_create(self, stmt: str) -> tuple[str, str, bool, str, bool] | None:
        """Detect ``CREATE [OR REPLACE] [TEMP] VIEW|TABLE name AS body``."""
        toks = tokenize(stmt)
        words = [t.lower if t.kind == "word" else t.text for t in toks]
        if not words or words[0] != "create":
            return None
        i = 1
        replace = False
        if words[i : i + 2] == ["or", "replace"]:
            replace = True
            i += 2
        temp = False
        if i < len(toks) and words[i] in ("temp", "temporary"):
            temp = True
            i += 1
        if i >= len(toks) or words[i] not in ("view", "table"):
            return None
        kind = words[i]
        i += 1
        if words[i : i + 3] == ["if", "not", "exists"]:
            i += 3
        if i >= len(toks) or toks[i].kind not in ("word", "qident"):
            return None
        name = toks[i].text.strip('"`')
        i += 1
        if (
            kind == "table"
            and temp
            and i < len(toks)
            and toks[i].kind == "lparen"
            and _match_paren(toks, i) == len(toks) - 1
        ):
            # column-def form: CREATE TEMP TABLE t (c1 T1, c2 T2, …) —
            # an empty pinned relation with that schema. PRIMARY KEY /
            # UNIQUE (inline or table-level) register in _table_keys:
            # plain INSERT enforces them, ON CONFLICT resolves against
            # them. CHECK/FOREIGN KEY are not modeled (clear error).
            defs = stmt[toks[i].end : toks[len(toks) - 1].start]
            cols: list[tuple[str, str]] = []
            keys: list[str] = []
            for part in _split_top_commas(defs):
                p = part.strip()
                low = p.lower()
                if low.startswith(("primary key", "unique")):
                    m = re.search(r"\(([^)]*)\)", p)
                    if not m:
                        raise PsqlParseError("", near=p[:20])
                    keys.extend(
                        c.strip().strip('"`') for c in m.group(1).split(",")
                    )
                    continue
                if low.startswith(("check", "foreign", "constraint")):
                    raise PsqlCompileError(
                        "CREATE TEMP TABLE: CHECK/FOREIGN KEY constraints "
                        f"are not modeled (got {p!r})"
                    )
                kv = p.split(None, 1)
                if len(kv) != 2:
                    raise PsqlParseError("", near=p[:20])
                typ = kv[1].strip()
                stripped = True
                while stripped:
                    stripped = False
                    tl = typ.lower()
                    for marker in ("primary key", "unique", "not null"):
                        if tl.endswith(marker):
                            if marker != "not null":
                                keys.append(kv[0].strip('"`'))
                            typ = typ[: -len(marker)].strip()
                            stripped = True
                            break
                cols.append((kv[0].strip('"`'), typ))
            body = "select " + ", ".join(
                f"cast(null as {t}) as `{c}`" for c, t in cols
            ) + " where false"
            self._pending_table_keys = (name, keys)
            return "table", name, replace, body, True
        if i >= len(toks) or toks[i].kind != "word" or words[i] != "as":
            return None
        body = stmt[toks[i].end :].strip()
        m = re.search(r"(?is)\s+with\s+no\s+data\s*;?\s*$", body)
        if m:
            # CTAS WITH NO DATA: the schema without the rows (standard/
            # Postgres semantics, matching newer DuckDB; the container's
            # 1.0 oracle silently IGNORES the clause and keeps the rows
            # — probe-verified parser quirk, so this stays out of the
            # oracle-checked differential)
            body = f"select * from ({body[: m.start()]}) __nodata where false"
        return kind, name, replace, body, temp

    # ------------------------------------------------------------------
    # query expressions
    # ------------------------------------------------------------------

    def _compile_query_expr(self, text: str) -> DataFrame:
        text = text.strip()
        while _is_fully_parenthesized(text):
            text = text[1:-1].strip()
        self._pipe_bytes = None  # fresh chain; pipelines re-derive below
        stages = split_stages(text)
        if len(stages) > 1:
            return self._compile_pipeline(stages)
        toks = tokenize(text)
        if not toks:
            raise PsqlParseError('syntax error at or near ""')
        head_word = toks[0].lower if toks[0].kind == "word" else None
        if head_word == "with":
            return self._compile_with(text, toks)
        setops = _split_setops(text, toks)
        if setops is not None:
            return self._combine_setops(setops)
        if head_word == "from":
            head = parse_head(text)
            params: dict = {}
            df, base_from = self._head_from_clause(head, params)
            if df is not None and head.tail_is_empty():
                return df
            if head.tail.ext_verb is not None:
                if df is None:
                    df = self._run_sql(f"SELECT * FROM {base_from}", params)
                return self._apply_ext_verb(df, head.tail.ext_verb, head.tail.ext_args or "")
            return self._apply_stage_sql(df, head.tail, base_from, params)[0]
        if head_word in ("pivot", "unpivot"):
            res = self._plain_pivot_stmt(text, toks, head_word)
            if res is not None:
                return res
        # plain (non-piped) SELECT DISTINCT ON: Spark has no DISTINCT ON,
        # so route the simple single-source form through the pipe stage
        # machinery's row_number rewrite (same code path q_distinct_on
        # exercises). Joins/group-by/subquery sources fall through to
        # Spark's own (failing) analysis, as before.
        if head_word == "select":
            pipe = _plain_distinct_on_to_pipe(text, toks)
            if pipe is not None:
                return self._compile_query_expr(pipe)
            # plain QUALIFY / star modifiers (* EXCLUDE|REPLACE|RENAME):
            # same routing through the pipe implementations Spark lacks
            pipe = _plain_select_to_pipe(text, toks)
            if pipe is not None:
                return self._compile_query_expr(pipe)
        # plain SQL: shims + path-literal resolution, straight to Catalyst
        return self._raw_sql(text)

    def _compile_with(self, text: str, toks: list[Token]) -> DataFrame:
        """Register non-recursive CTE bodies as temp views, compile the rest."""
        depths = depth_map(toks)
        i = 1
        if i < len(toks) and toks[i].kind == "word" and toks[i].lower == "recursive":
            out = self._try_recursive_union_cte(text, toks)
            if out is not None:
                return out
            # Spark 4 supports WITH RECURSIVE (UNION ALL form) natively.
            return self._raw_sql(text)
        while i < len(toks):
            if toks[i].kind not in ("word", "qident"):
                raise PsqlParseError("", near=toks[i].text)
            name = toks[i].text.strip('"`')
            i += 1
            # optional column list: `with v(a, b) as (…)` renames the
            # body's columns (round-9 probe find: it was skipped unread)
            cte_cols: list[str] | None = None
            if i < len(toks) and toks[i].kind == "lparen" and not (
                toks[i - 1].kind == "word" and toks[i - 1].lower == "as"
            ):
                cl_close = _match_paren(toks, i)
                cte_cols = [
                    c.strip().strip('"`')
                    for c in text[toks[i].end : toks[cl_close].start].split(",")
                    if c.strip()
                ]
                i = cl_close + 1
            if i >= len(toks) or toks[i].kind != "word" or toks[i].lower != "as":
                raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
            i += 1
            if i >= len(toks) or toks[i].kind not in ("lparen", "block_open"):
                raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
            close = _match_paren(toks, i)
            body = text[toks[i].end : toks[close].start]
            body_df = self._compile_query_expr(body)
            if cte_cols:
                if len(cte_cols) != len(body_df.columns):
                    raise PsqlCompileError(
                        f"CTE {name!r}: {len(cte_cols)} alias column(s) for "
                        f"{len(body_df.columns)} output column(s)"
                    )
                body_df = body_df.toDF(*cte_cols)
            # kept alive until the whole statement is compiled (see __init__)
            self._bind_cte(name, body_df)
            i = close + 1
            if i < len(toks) and toks[i].kind == "comma":
                i += 1
                continue
            break
        rest = text[toks[i].start :] if i < len(toks) else ""
        if not rest.strip():
            raise PsqlParseError('syntax error at or near ""')
        return self._compile_query_expr(rest)

    def _try_recursive_union_cte(self, text: str, toks) -> DataFrame | None:
        """``WITH RECURSIVE name[(cols)] AS (base UNION step) rest`` —
        the UNION-DISTINCT form Spark's native recursion rejects
        (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). Semi-naive fixpoint:
        the working table is the rows ADDED last round, new rows are
        step MINUS everything seen (set semantics = the cycle guard:
        `select (x % 3) + 1` terminates), each round checkpointed so
        lineage stays flat — the same iteration discipline as the
        connected-components closure (operators/graph.py). UNION ALL
        bodies return None and take Spark's native path; multi-CTE
        recursive statements likewise."""
        i = 2  # past WITH RECURSIVE
        if i >= len(toks) or toks[i].kind not in ("word", "qident"):
            return None
        name = toks[i].text.strip('"`')
        i += 1
        cte_cols: list[str] | None = None
        if i < len(toks) and toks[i].kind == "lparen":
            cl = _match_paren(toks, i)
            cte_cols = [
                c.strip().strip('"`')
                for c in text[toks[i].end : toks[cl].start].split(",")
                if c.strip()
            ]
            i = cl + 1
        if not (
            i + 1 < len(toks)
            and toks[i].kind == "word"
            and toks[i].lower == "as"
            and toks[i + 1].kind in ("lparen", "block_open")
        ):
            return None
        close = _match_paren(toks, i + 1)
        body = text[toks[i + 1].end : toks[close].start]
        j = close + 1
        if j < len(toks) and toks[j].kind == "comma":
            return None  # multiple recursive CTEs: native path
        rest = text[toks[j].start :] if j < len(toks) else ""
        if not rest.strip():
            return None
        # split the body at a depth-0 UNION not followed by ALL
        btoks = tokenize(body)
        bdepths = depth_map(btoks)
        split_at = None
        for k, bt in enumerate(btoks):
            if (
                bdepths[k] == 0
                and bt.kind == "word"
                and bt.lower == "union"
                and not (
                    k + 1 < len(btoks)
                    and btoks[k + 1].kind == "word"
                    and btoks[k + 1].lower == "all"
                )
            ):
                split_at = k
                break
        if split_at is None:
            return None
        base_txt = body[: btoks[split_at].start]
        step_txt = body[btoks[split_at].end :]
        if not re.search(rf"(?i)\b{re.escape(name)}\b", step_txt):
            return None  # not actually self-referencing
        max_iter = self.confs["spark.psql.recursiveCte.maxIterations"]

        def _named(df: DataFrame) -> DataFrame:
            if cte_cols:
                if len(cte_cols) != len(df.columns):
                    raise PsqlCompileError(
                        f"CTE {name!r}: {len(cte_cols)} alias column(s) for "
                        f"{len(df.columns)} output column(s)"
                    )
                return df.toDF(*cte_cols)
            return df

        total = self._pin(
            _named(self._compile_query_expr(base_txt)).dropDuplicates()
        )
        frontier = total
        for _ in range(max_iter):
            self._bind_cte(name, frontier)
            step_df = _named(self._compile_query_expr(step_txt))
            new = self._pin(
                step_df.dropDuplicates().subtract(total)
            )
            if new.isEmpty():
                break
            total = self._pin(total.union(new))
            frontier = new
        else:
            raise PsqlCompileError(
                f"WITH RECURSIVE {name!r}: no fixpoint after {max_iter} "
                "iterations (spark.psql.recursiveCte.maxIterations)"
            )
        self._bind_cte(name, total)
        return self._compile_query_expr(rest)

    def _combine_setops(self, parts: list[tuple[str | None, str]]) -> DataFrame:
        # trailing ORDER BY / LIMIT / OFFSET on the last operand bind to
        # the WHOLE set operation (standard SQL; DuckDB-verified:
        # `a union all b limit 2` limits the union, not branch b) — split
        # them off the last branch and apply to the merged result
        last_op, last_txt = parts[-1]
        body, tail = _split_setop_trailing(last_txt)
        parts = parts[:-1] + [(last_op, body)]
        df = self._compile_query_expr(parts[0][1])
        for op, operand in parts[1:]:
            other = self._compile_query_expr(operand)
            df = _apply_setop(df, op or "", other)
        if tail:
            params: dict = {}
            tail_sql = self._frag(tail, params)
            params["__setop"] = df
            df = self._run_sql(f"select * from {{__setop}} {tail_sql}", params)
        return df

    def _frag(self, text: str, params: dict) -> str:
        """Prepare a user SQL fragment for the parameterized spark.sql call:
        dialect shims, FROM/JOIN path-literal resolution (anywhere in the
        fragment, including inside subqueries), and brace escaping."""
        # column dtypes visible to this fragment (pipe input + join sides):
        # lets the bracket rewrite pick substring vs slice vs map access
        hint: dict[str, str] = {}
        for v in params.values():
            if isinstance(v, DataFrame):
                for f in v.schema.fields:
                    hint.setdefault(f.name.lower(), f.dataType.simpleString())
        if not hint and "'" in text:
            # plain SQL over path literals has no pipe input to hint from;
            # resolve FROM/JOIN '<path>' schemas up front (resolver-memoized)
            # so type-directed shims (decimal-cast away mode, date+interval,
            # bracket slicing) see column dtypes here too
            ptoks = tokenize(text)
            for k, pt in enumerate(ptoks):
                if (
                    pt.kind == "string"
                    and k > 0
                    and ptoks[k - 1].kind == "word"
                    and ptoks[k - 1].lower in ("from", "join")
                ):
                    try:
                        src = self.resolver.resolve(
                            pt.text[1:-1].replace("''", "'")
                        )
                    except Exception:
                        continue
                    for f in src.schema.fields:
                        hint.setdefault(
                            f.name.lower(), f.dataType.simpleString()
                        )
        if "current_setting" in text.lower():
            # current_setting('key') → the session conf value as a string
            # literal (compile-time, like DuckDB binds it)
            def _setting(m: "re.Match[str]") -> str:
                v = self.spark.conf.get(m.group(1), None)
                if v is None:
                    return "cast(null as string)"
                return "'" + str(v).strip("'").replace("'", "''") + "'"

            text = re.sub(
                r"(?is)\bcurrent_setting\s*\(\s*'([^']+)'\s*\)",
                _setting,
                text,
            )
        if "getvariable" in text.lower():
            def _getvar(m: "re.Match[str]") -> str:
                return _sql_literal(self._variables.get(m.group(1).lower()))

            text = re.sub(
                r"(?is)\bgetvariable\s*\(\s*'([^']+)'\s*\)",
                _getvar,
                text,
            )
        text = apply_shims(text, hint or None)
        toks = tokenize(text)
        out: list[str] = []
        pos = 0
        # track the enclosing call: standard-SQL forms like
        # trim(BOTH 'x' FROM 'y') / substring(s FROM 2 FOR 3) /
        # extract(epoch FROM ts) use FROM as an argument separator —
        # a string after THAT from is not a table path
        call_stack: list[str | None] = []
        skip_until = -1
        for i, t in enumerate(toks):
            if t.kind == "lparen":
                prev = toks[i - 1] if i > 0 else None
                call_stack.append(
                    prev.lower if prev is not None and prev.kind == "word" else None
                )
            elif t.kind == "rparen" and call_stack:
                call_stack.pop()
            if t.start < skip_until:
                continue
            # duckdb_tables()/duckdb_columns()/… catalog table functions in
            # FROM/JOIN position → session-catalog DataFrames
            # (introspection.py; driver-side walks, never distributed)
            if (
                t.kind == "word"
                and t.lower in introspection_mod.TABLE_FUNCS
                and i > 0
                and toks[i - 1].kind == "word"
                and toks[i - 1].lower in ("from", "join")
                and i + 1 < len(toks)
                and toks[i + 1].kind == "lparen"
            ):
                close = _match_paren_tok(toks, i + 1)
                if close is not None:
                    name = f"__cat{next(self._ids)}"
                    params[name] = introspection_mod.TABLE_FUNCS[t.lower](
                        self.spark, self
                    )
                    out.append(_esc(text[pos : t.start]))
                    out.append("{" + name + "}")
                    pos = toks[close].end
                    skip_until = pos
                    continue
            # glob('pattern') table function in FROM/JOIN position: one
            # `file` column of matching paths (DuckDB shape). A file
            # LISTING is driver-side metadata in every engine — the tiny
            # result DataFrame parallelizes fine downstream.
            if (
                t.kind == "word"
                and t.lower == "glob"
                and i > 0
                and toks[i - 1].kind == "word"
                and toks[i - 1].lower in ("from", "join")
                and i + 2 < len(toks)
                and toks[i + 1].kind == "lparen"
                and toks[i + 2].kind == "string"
            ):
                close = _match_paren_tok(toks, i + 1)
                if close is not None:
                    import glob as _glob

                    pattern = toks[i + 2].text[1:-1].replace("''", "'")
                    name = f"__glob{next(self._ids)}"
                    params[name] = self.spark.createDataFrame(
                        [(p,) for p in sorted(_glob.glob(pattern))],
                        "file string",
                    )
                    out.append(_esc(text[pos : t.start]))
                    out.append("{" + name + "}")
                    pos = toks[close].end
                    skip_until = pos
                    continue
            # information_schema.* / pg_catalog.* virtual schemas in
            # FROM/JOIN position
            if (
                t.kind == "word"
                and t.lower in ("information_schema", "pg_catalog")
                and i > 0
                and toks[i - 1].kind == "word"
                and toks[i - 1].lower in ("from", "join")
                and i + 2 < len(toks)
                and toks[i + 1].kind == "op"
                and toks[i + 1].text == "."
                and toks[i + 2].kind == "word"
                and (t.lower, toks[i + 2].lower)
                in introspection_mod.VIRTUAL_SCHEMAS
            ):
                name = f"__cat{next(self._ids)}"
                params[name] = introspection_mod.VIRTUAL_SCHEMAS[
                    (t.lower, toks[i + 2].lower)
                ](self.spark)
                out.append(_esc(text[pos : t.start]))
                out.append("{" + name + "}")
                pos = toks[i + 2].end
                skip_until = pos
                continue
            # read_parquet('p') / read_csv('p', opts) / parquet_scan(...)
            # in FROM/JOIN position of PLAIN SQL (the piped head form
            # already routes these through parse_head)
            if (
                t.kind == "word"
                and t.lower in _FRAG_READ_FUNCS
                and i > 0
                and toks[i - 1].kind == "word"
                and toks[i - 1].lower in ("from", "join")
                and i + 1 < len(toks)
                and toks[i + 1].kind == "lparen"
            ):
                close = _match_paren_tok(toks, i + 1)
                if close is not None:
                    arg_text = text[toks[i + 1].end : toks[close].start]
                    ref = _read_func_paths(arg_text)
                    if ref is not None:
                        opts = _parse_read_args(arg_text) or {}
                        if t.lower in ("read_text", "read_blob"):
                            opts["__fmt"] = t.lower[5:]
                        name = f"__src{next(self._ids)}"
                        params[name] = self.resolver.resolve(
                            ref, opts or None
                        )
                        out.append(_esc(text[pos : t.start]))
                        out.append("{" + name + "}")
                        pos = toks[close].end
                        skip_until = toks[close].end
                        continue
            if (
                t.kind == "string"
                and i > 0
                and toks[i - 1].kind == "word"
                and toks[i - 1].lower in ("from", "join")
                and not (
                    call_stack
                    and call_stack[-1]
                    in ("trim", "btrim", "substring", "substr", "overlay",
                        "position", "extract")
                )
            ):
                path = t.text[1:-1].replace("''", "'")
                name = f"__src{next(self._ids)}"
                params[name] = self.resolver.resolve(path)
                out.append(_esc(text[pos : t.start]))
                out.append("{" + name + "}")
                pos = t.end
        out.append(_esc(text[pos:]))
        return "".join(out)

    def _run_sql(self, sql_text: str, params: dict) -> DataFrame:
        """``sql_text`` with each ``{k}`` it names bound to ``params[k]``
        (``format_map`` also un-doubles ``_esc``'s ``{{ }}``)."""
        names = {f for _, f, _, _ in string.Formatter().parse(sql_text) if f}
        return self.spark.sql(
            sql_text.format_map({k: self._bind(params[k]) for k in names})
        )

    def _raw_sql(self, text: str) -> DataFrame:
        """shims + path-literal substitution → spark.sql."""
        params: dict[str, DataFrame] = {}
        sql_text = self._frag(text, params)
        return self._run_sql(sql_text, params)

    # ------------------------------------------------------------------
    # pipelines
    # ------------------------------------------------------------------

    def _compile_pipeline(self, stages: list[str]) -> DataFrame:
        # Parse every stage BEFORE compiling any: the reference re-parses the
        # whole rewritten text before binding (cpp:83-89), so a syntax error
        # in stage N surfaces even when stage 0's table doesn't exist.
        parsed = [parse_stage(s) for s in stages[1:]]
        self.last_keyed_groupby_elim = False
        self._eliminate_fk_joins(stages[0], parsed)
        new_head = self._exists_window_rewrite(stages[0], parsed)
        head_text = new_head if new_head is not None else stages[0]
        self._align_exists_probes(parsed)
        self._eliminate_distinct(head_text, parsed)
        fold = self._count_distribution_fold(head_text, parsed)
        if fold is not None:
            df, consumed = fold
            parsed = parsed[consumed:]
        else:
            df = self._compile_query_expr(head_text)
            self._pipe_bytes = _head_path_bytes(head_text)
        pending_alias: str | None = None
        deferred: list[_DeferredDimJoin] = []
        i = 0
        while i < len(parsed):
            st = parsed[i]
            # deferred dim-join pass: a small⋈big pure inner join swaps
            # sides — the BIG scan becomes the pipe and the small (dims)
            # side re-attaches after later big joins, so fact⋈fact
            # exchanges carry narrow rows (sf10 q05: 6.2→5.1 s measured)
            swapped = self._try_defer_dim_join(df, st, deferred, parsed[i + 1 :])
            if swapped is not None:
                df = swapped
                pending_alias = None
                i += 1
                continue
            if deferred and not self._deferred_transparent(st, df, deferred):
                df = self._flush_deferred(df, deferred)
            nxt = parsed[i + 1] if i + 1 < len(parsed) else None
            # eager agg consumes (join, agg) as a PAIR — with a deferred
            # dims join pending, the agg would run before the flush and
            # aggregate away the dims join columns (unresolvable flush)
            ea = (
                None
                if deferred
                else self._try_eager_agg(df, st, nxt, pending_alias)
            )
            if ea is not None:
                df = ea
                pending_alias = None
                i += 2
                continue
            kg = None if deferred else self._try_keyed_groupby(df, st)
            if kg is not None:
                df = kg
                pending_alias = None
                i += 1
                continue
            df, pending_alias = self._apply_stage(df, st, pending_alias)
            i += 1
        if deferred:
            df = self._flush_deferred(df, deferred)
        return df

    # ------------------------------------------------------------------
    # EXISTS/NOT-EXISTS probe alignment
    # ------------------------------------------------------------------

    _SUBQ_RE = re.compile(
        r"(?is)^\s*select\s+.+?\s+from\s+"
        r"(?P<src>'(?:[^']|'')*'|[\w.\"`]+)"
        r"(?:\s+as)?\s+(?P<alias>[\w\"`]+)?\s+where\s+(?P<cond>.+)$"
    )

    # ------------------------------------------------------------------
    # declared-key FK-join elimination (round 10)
    # ------------------------------------------------------------------

    def _eliminate_fk_joins(self, head_text: str, parsed: list) -> None:
        """Drop payload-free FK→PK inner joins certified by DECLAREd
        keys (constraints.py). A stage ``… join R as r on pipe.fk =
        r.pk`` is a per-row no-op when (1) the pk columns are a declared
        UNIQUE/PRIMARY key of R, (2) every fk column traces — through a
        provenance walk over the pipeline text — to one source carrying
        a declared FOREIGN KEY to exactly that key (so every pipe row
        matches exactly one R row), and (3) nothing downstream
        references ANY column of R, its alias, or a bare ``*``
        projection. The join then contributes neither columns nor
        cardinality and is removed before compilation — at 100 TB this
        deletes the single largest exchange of a star-schema FK chain
        (q05's payload-free orders⋈lineitem: a 60 M-row shuffle at sf10
        whose output is bit-identical to its input rows). DuckDB does
        the same elimination from its own declared PRIMARY KEYs; file
        scans can't carry DDL, hence the session-level DECLARE surface.
        Off: spark.psql.keyJoinElimination=false."""
        self.last_eliminated_joins = []
        if not self.constraints.fks:
            return
        if not self.confs["spark.psql.keyJoinElimination"]:
            return
        try:
            head = parse_head(head_text)
        except Exception:  # noqa: BLE001 — the normal compile reports it
            return
        if head is None or head.kind not in ("path", "table"):
            return
        if head.read_args is not None:
            return
        if head.kind == "path" and (
            "\n" in head.source or any(ch in head.source for ch in "*?[")
        ):
            return  # multi-file/glob heads: per-file key identity unknown
        prov: dict[str, tuple[tuple[str, str], str]] = {}
        try:
            src_df = (
                self.resolver.resolve(head.source)
                if head.kind == "path"
                else self.resolver.table(head.source)
            )
        except Exception:  # noqa: BLE001
            return
        hkey = constraints_mod.source_key(head.kind, head.source)
        for c in src_df.columns:
            prov[c.lower()] = (hkey, c.lower(), None)
        self._prov_stage(prov, head.tail)
        for idx, st in enumerate(parsed):
            if prov and self._keyed_join_droppable(prov, st, parsed[idx + 1 :]):
                self.last_eliminated_joins.append(st.joins)
                st.joins = None
            self._prov_stage(prov, st)

    def _prov_stage(self, prov: dict, st: Stage) -> None:
        """Advance the column-provenance map across one stage. Entries
        are ``name → (src_key, orig_col, fd)``: 'this pipe column
        carries the unmodified values of column orig_col of source
        src_key, with src_key's row subset only ever REDUCED and never
        null-extended'. ``fd`` is None, or a frozenset of (src_key,
        col) pairs naming the join key this source was attached 1:1 on
        (right side of a pure inner equi join onto a declared-unique
        key) — every column of such a source is functionally dependent
        on that key. Anything the walk can't prove clears provenance
        (conservative)."""
        if any(
            [st.pivot, st.unpivot, st.ext_verb, st.setop_tail, st.alias_cols]
        ):
            prov.clear()
            return
        if st.joins is not None:
            spec = self._parse_join(st.joins)
            if spec is None:
                prov.clear()
                return
            how = spec.how_words.lower()
            if "asof" in how or "positional" in how or "full" in how:
                prov.clear()
            elif "semi" in how or "anti" in how:
                pass  # pure row filter
            elif "right" in how:
                prov.clear()
                self._prov_add_join_source(prov, spec, st)
            elif "left" in how:
                pass  # right side is null-extended: contribute nothing
            else:  # inner / cross
                self._prov_add_join_source(prov, spec, st)
        if st.select is not None:
            body = re.sub(r"(?is)^\s*distinct\s+", "", st.select)
            new: dict[str, tuple[tuple[str, str], str]] = {}
            star = False
            for it in _split_args(body):
                s = it.strip()
                if s == "*":
                    star = True
                    continue
                m = re.fullmatch(
                    r"(?is)\s*(?:(\w+)\s*\.\s*)?(\w+)(?:\s+as\s+(\w+))?\s*", s
                )
                if m is None:
                    continue
                col = m.group(2).lower()
                name = (m.group(3) or m.group(2)).lower()
                if col in prov:
                    new[name] = prov[col]
            if star:
                merged = dict(prov)
                merged.update(new)
                new = merged
            prov.clear()
            prov.update(new)
        # where/having/qualify/group_by/order/limit/offset/sample/window:
        # row filtering or multiplicity only — provenance survives

    def _prov_add_join_source(
        self, prov: dict, spec: "_JoinSpec", st: "Stage | None" = None
    ) -> None:
        if spec.source_kind not in ("path", "table"):
            prov.clear()  # unknown columns could shadow tracked names
            return
        try:
            rcols = (
                self.resolver.resolve(spec.source_text)
                if spec.source_kind == "path"
                else self.resolver.table(spec.source_text)
            ).columns
        except Exception:  # noqa: BLE001
            prov.clear()
            return
        rkey = constraints_mod.source_key(spec.source_kind, spec.source_text)
        # fd: the right side attaches 1:1 when it is a pure inner equi
        # join onto its own declared-unique key — then every right
        # column is functionally dependent on the LEFT join columns'
        # provenance
        fd = None
        if (
            st is not None
            and st.alias
            and spec.alias
            and spec.on_text is not None
            and spec.using_text is None
            and spec.how_words.lower() in ("join", "inner join")
        ):
            pairs = self._equi_conjuncts(spec.on_text, st.alias, spec.alias)
            if pairs is not None and self._declared_unique(
                rkey, {c2.lower() for _, c2 in pairs}
            ):
                lp = [prov.get(c1.lower()) for c1, _ in pairs]
                if all(p is not None for p in lp):
                    fd = frozenset((p[0], p[1]) for p in lp)
        for c in rcols:
            cl = c.lower()
            if cl in prov:
                del prov[cl]  # name collision: ambiguous downstream
            else:
                prov[cl] = (rkey, cl, fd)

    def _keyed_join_droppable(
        self, prov: dict, st: Stage, downstream: list
    ) -> bool:
        spec = self._parse_join(st.joins) if st.joins is not None else None
        if not self._pure_inner_join_stage(st, spec):
            return False
        if spec.source_kind not in ("path", "table"):
            return False
        pairs = self._equi_conjuncts(spec.on_text, st.alias, spec.alias)
        if pairs is None:
            return False
        rkey = constraints_mod.source_key(spec.source_kind, spec.source_text)
        right_key_cols = {c2.lower() for _, c2 in pairs}
        if not self._declared_unique(rkey, right_key_cols):
            return False
        provs = [prov.get(c1.lower()) for c1, _ in pairs]
        if any(p is None for p in provs):
            return False
        if len({p[0] for p in provs}) != 1:
            return False
        tgt = self.constraints.fk_target(provs[0][0], {p[1] for p in provs})
        if tgt is None:
            return False
        ref_key, mapping = tgt
        if ref_key != rkey:
            return False
        for (c1, c2), p in zip(pairs, provs):
            if mapping.get(p[1]) != c2.lower():
                return False
        try:
            rcols = (
                self.resolver.resolve(spec.source_text)
                if spec.source_kind == "path"
                else self.resolver.table(spec.source_text)
            ).columns
        except Exception:  # noqa: BLE001
            return False
        blob_parts: list[str] = []
        for d_st in downstream:
            blob_parts.extend(_stage_texts(d_st))
        if _has_projection_star(blob_parts):
            return False
        blob = " ".join(blob_parts).lower()
        if any(
            re.search(rf"\b{re.escape(c.lower())}\b", blob) for c in rcols
        ):
            return False
        # a star-free projection must DROP the right side's columns
        # before anything (or the final output — a pipe with no select
        # emits every column) can observe their absence: without one,
        # elimination silently changes the output schema; a set-op,
        # pivot/unpivot, or extension verb reached first folds the
        # column set into its own semantics (positional UNION arity,
        # implicit pass-through)
        dropper = False
        for d_st in downstream:
            if d_st.select is not None and not _has_projection_star(
                [d_st.select]
            ):
                dropper = True
                break
            if any(
                [d_st.pivot, d_st.unpivot, d_st.ext_verb, d_st.setop_tail]
            ):
                return False
        if not dropper:
            return False
        names = {spec.alias.lower()}
        if spec.source_kind == "table":
            names.add(spec.source_text.split(".")[-1].strip('"`').lower())
        else:
            stem = os.path.splitext(
                os.path.basename(spec.source_text.rstrip("/"))
            )[0].lower()
            if stem.isidentifier():
                names.add(stem)
        if any(re.search(rf"\b{re.escape(n)}\s*\.", blob) for n in names):
            return False
        return True

    def _eliminate_distinct(self, head_text: str, parsed: list) -> None:
        """Drop DISTINCT certified a no-op by declared keys (round 11).

        ``select distinct …`` is a full exchange + hash-dedup; when the
        projected columns include every column of a declared
        UNIQUE/PRIMARY key of the pipe's source AND the stream provably
        still holds at most one row per source row, the rows are already
        distinct and the keyword (hence the exchange — at 100 TB the
        whole shuffle) is deleted. Multiplicity chain, each link
        checked: bare single-source head; every join since is row-
        reducing (semi/anti) or attaches ≤1 right row per pipe row (a
        pure inner/left equi join onto the right side's OWN declared
        unique key); pivot/unpivot/set-ops/group-by/extension verbs
        clear the certificate. The key columns must still carry the
        SOURCE's values unmodified (the same provenance walk the FK-join
        elimination uses), and a declared key is unique AND non-null
        (VERIFY checks both), so NULL-key duplicate rows cannot exist.
        DISTINCT ON is a different operator and is never touched. Off:
        spark.psql.distinctElimination=false."""
        self.last_distinct_elim = False
        if not self.constraints.uniques:
            return
        dist_on = self.confs["spark.psql.distinctElimination"]
        # the walk also feeds the keyed GROUP-BY elimination's stage
        # annotations, so it runs when EITHER pass is on
        if not dist_on and not self.confs["spark.psql.keyedGroupByElimination"]:
            return
        try:
            head = parse_head(head_text)
        except Exception:  # noqa: BLE001
            return
        if head is None or head.kind not in ("path", "table"):
            return
        if head.read_args is not None:
            return
        if head.kind == "path" and (
            "\n" in head.source or any(ch in head.source for ch in "*?[")
        ):
            return
        hkey = constraints_mod.source_key(head.kind, head.source)
        key_sets = self.constraints.uniques.get(hkey)
        if not key_sets:
            return
        try:
            src_df = (
                self.resolver.resolve(head.source)
                if head.kind == "path"
                else self.resolver.table(head.source)
            )
        except Exception:  # noqa: BLE001
            return
        prov: dict = {}
        for c in src_df.columns:
            prov[c.lower()] = (hkey, c.lower(), None)
        unique_ok = True
        for st in [head.tail, *parsed]:
            # a stage's JOIN executes before its SELECT: advance the
            # certificate and the provenance map past the join FIRST, or
            # a duplicating join in the SAME stage as the distinct would
            # be missed (round-11 review find: `as a join m … select
            # distinct pk` triplicated rows with DISTINCT deleted)
            if st.joins is not None:
                unique_ok = unique_ok and self._join_multiplicity_ok(st)
                self._prov_stage(
                    prov, Stage(alias=st.alias, joins=st.joins)
                )
                if not prov:
                    return
            if (
                dist_on
                and unique_ok
                and st.select is not None
                and re.match(r"(?is)^\s*distinct\b", st.select)
                and not re.match(r"(?is)^\s*distinct\s+on\b", st.select)
                # DISTINCT applies AFTER aggregation / generation: with
                # a group-by the prov names are pre-agg (unsound), and a
                # generator in the select multiplies rows under the
                # distinct itself
                and st.group_by is None
                and not any([st.pivot, st.unpivot, st.alias_cols])
                and not _SELECT_GENERATOR_RE.search(st.select)
            ):
                covered: set[str] = set()
                for it in _split_args(
                    re.sub(r"(?is)^\s*distinct\s+", "", st.select)
                ):
                    m = re.fullmatch(
                        r"(?is)\s*(?:(\w+)\s*\.\s*)?(\w+)"
                        r"(?:\s+as\s+\w+)?\s*",
                        it,
                    )
                    if m is None:
                        continue
                    p = prov.get(m.group(2).lower())
                    if p is not None and p[0] == hkey:
                        covered.add(p[1])
                if any(ks <= covered for ks in key_sets):
                    st.select = re.sub(
                        r"(?is)^\s*distinct\s+", "", st.select, count=1
                    )
                    self.last_distinct_elim = True
            # annotate for the keyed GROUP-BY elimination (the compile
            # loop needs the certificate + post-join provenance at the
            # stage, plus the analyzed input there — see
            # _try_keyed_groupby)
            st._unique_after_join = unique_ok  # type: ignore[attr-defined]
            st._keyed_prov = dict(prov)  # type: ignore[attr-defined]
            st._keyed_sets = (hkey, key_sets)  # type: ignore[attr-defined]
            unique_ok = unique_ok and self._rest_multiplicity_ok(st)
            self._prov_stage(prov, replace(st, joins=None))
            if not prov:
                return

    # aggregate → single-row expression, by function (x = the raw arg
    # text; every rewrite is exact over a ONE-row group)
    _KEYED_AGG_FNS = frozenset(
        ("count", "sum", "min", "max", "avg", "mean", "first", "last",
         "any_value", "arbitrary")
    )

    def _try_keyed_groupby(self, df: DataFrame, st: Stage) -> DataFrame | None:
        """Keyed GROUP-BY elimination (round 11, fifth declared-key
        pass): a group-by whose keys cover a declared UNIQUE/PRIMARY key
        of a multiplicity-clean stream has EXACTLY one row per group, so
        the aggregation (a full exchange + hash-agg at scale) collapses
        into a projection: count(*)→1, count(x)→x-is-not-null,
        sum/min/max/avg/first/last/any_value(x)→x, each cast to the type
        the REAL aggregate would produce (read from the analyzed
        original plan, so Spark's own sum/avg widening rules apply
        verbatim rather than being reimplemented). The multiplicity
        certificate and post-join provenance come from the
        _eliminate_distinct walk's stage annotations. Conservative
        bails: HAVING/QUALIFY/window/sample/joins in the stage, DISTINCT
        or FILTER inside an aggregate argument we can't prove single-row
        equivalent (DISTINCT over one row IS that row, so a bare
        `distinct ` prefix strips), any unrecognized select item. Off:
        spark.psql.keyedGroupByElimination=false."""
        if st.select is None or st.group_by is None or st.joins is not None:
            return None
        if not getattr(st, "_unique_after_join", False):
            return None
        if not self.confs["spark.psql.keyedGroupByElimination"]:
            return None
        if any(
            [st.having, st.qualify, st.window, st.sample, st.pivot,
             st.unpivot, st.ext_verb, st.setop_tail, st.alias_cols]
        ):
            return None
        if re.match(r"(?is)^\s*distinct\b", st.select):
            return None
        if _SELECT_GENERATOR_RE.search(st.select):
            return None
        prov = getattr(st, "_keyed_prov", None)
        hkey, key_sets = getattr(st, "_keyed_sets", (None, None))
        if not prov or not key_sets:
            return None
        # group keys: bare columns covering a declared unique key
        gkeys: list[str] = []
        for g in _split_args(st.group_by):
            m = re.fullmatch(r"(?is)\s*(\w+)\s*", g)
            if m is None:
                return None
            gkeys.append(m.group(1).lower())
        covered = {
            p[1]
            for g in gkeys
            if (p := prov.get(g)) is not None and p[0] == hkey
        }
        if not any(ks <= covered for ks in key_sets):
            return None
        # select items → projection expressions
        items: list[str] = []
        hints = {
            f.name.lower(): f.dataType.simpleString()
            for f in df.schema.fields
        }
        for it in _split_args(st.select):
            it = it.strip()
            m = re.fullmatch(r"(?is)(\w+)(?:\s+as\s+(\w+))?", it)
            if m is not None and m.group(1).lower() in gkeys:
                items.append(it)
                continue
            am = re.match(r"(?is)^(\w+)\s*\(", it)
            if am is None or am.group(1).lower() not in self._KEYED_AGG_FNS:
                return None
            toks = tokenize(it)
            if toks[1].kind != "lparen":
                return None
            try:
                close = _match_paren_tok(toks, 1)
            except Exception:  # noqa: BLE001
                return None
            tail = it[toks[close].end :].strip()
            alias_m = re.fullmatch(r"(?is)as\s+(\w+)", tail) if tail else None
            if tail and alias_m is None:
                return None  # OVER / FILTER / anything else: bail
            out = alias_m.group(1) if alias_m else None
            fn = am.group(1).lower()
            arg = it[toks[1].end : toks[close].start].strip()
            arg = re.sub(r"(?is)^distinct\s+", "", arg)  # 1 row: no-op
            if fn == "count":
                if arg in ("", "*"):
                    expr = "cast(1 as bigint)"
                else:
                    # count(a, b, …) counts rows where EVERY argument is
                    # non-null — a single `(a, b) is null` check would
                    # test a row-constructor struct, which is never NULL
                    # (round-11 review find #2, live-reproduced)
                    checks = " and ".join(
                        f"({apply_shims(a, hints)}) is not null"
                        for a in _split_args(arg)
                    )
                    expr = (
                        f"cast(case when {checks} then 1 else 0 end "
                        "as bigint)"
                    )
            else:
                if not arg or arg == "*" or len(_split_args(arg)) != 1:
                    return None
                expr = f"({apply_shims(arg, hints)})"
            items.append(f"{expr} as {out}" if out else expr)
        # analyzed ORIGINAL: its schema carries Spark's exact result
        # types; also defines the output names for unaliased aggregates
        saved = self._pipe_bytes
        try:
            original, _ = self._apply_stage_sql(
                df,
                replace(st, order_by=None, limit=None, offset=None),
                "{__kg}", {"__kg": df},
            )
        except Exception:  # noqa: BLE001
            self._pipe_bytes = saved
            return None
        fields = original.schema.fields
        if len(fields) != len(items):
            return None
        cast_items = []
        for f, it in zip(fields, items):
            body = re.sub(r"(?is)\s+as\s+\w+\s*$", "", it)
            if re.fullmatch(r"(?is)\w+(\s+as\s+\w+)?", it):
                cast_items.append(it)  # bare group key: type unchanged
            else:
                cast_items.append(
                    f"cast({body} as {f.dataType.simpleString()}) "
                    f"as `{f.name}`"
                )
        where = (
            " where "
            + apply_shims(" and ".join(f"({w})" for w in st.where), hints)
            if st.where
            else ""
        )
        try:
            out_df = self._run_sql(
                f"select {', '.join(cast_items)} from {{__kg}}{where}",
                {"__kg": df},
            )
            if [f.name for f in out_df.schema.fields] != [
                f.name for f in fields
            ]:
                return None
            # the residual ORDER BY/LIMIT/OFFSET compiles through the
            # NORMAL stage machinery over the projection, so DuckDB
            # NULLS-LAST ordering applies and the ORDER BY resolves
            # against the POST-aggregation schema only — an order key
            # invisible after the group-by errors exactly like the
            # unrewritten path (round-11 review finds #1 and #3, both
            # live-reproduced)
            if st.order_by or st.limit or st.offset:
                out_df, _ = self._apply_stage_sql(
                    out_df,
                    Stage(
                        order_by=st.order_by,
                        limit=st.limit,
                        offset=st.offset,
                    ),
                    "{__pipe}",
                    {"__pipe": out_df},
                )
        except Exception:  # noqa: BLE001
            return None
        self.last_keyed_groupby_elim = True
        return out_df

    def _join_multiplicity_ok(self, st: Stage) -> bool:
        """True when the stage's join cannot DUPLICATE pipe rows."""
        spec = self._parse_join(st.joins)
        if spec is None:
            return False
        how = spec.how_words.lower()
        if "semi" in how or "anti" in how:
            return True  # pure row filters
        if how not in ("join", "inner join", "left join", "left outer join"):
            return False
        if (
            spec.on_text is None
            or spec.using_text is not None
            or st.alias is None
            or spec.alias is None
            or spec.source_kind not in ("path", "table")
        ):
            return False
        pairs = self._equi_conjuncts(spec.on_text, st.alias, spec.alias)
        if pairs is None:
            return False
        rkey = constraints_mod.source_key(spec.source_kind, spec.source_text)
        return self._declared_unique(rkey, {c2.lower() for _, c2 in pairs})

    @staticmethod
    def _rest_multiplicity_ok(st: Stage) -> bool:
        """True when the stage's non-join clauses cannot DUPLICATE pipe
        rows: pivot/unpivot/set-ops/extension verbs restructure rows,
        group-by changes what a row IS, and a generator function in the
        select (explode/posexplode/inline/stack/unnest) multiplies rows
        (round-11 review find #2)."""
        if any(
            [st.pivot, st.unpivot, st.ext_verb, st.setop_tail,
             st.alias_cols]
        ) or st.group_by is not None:
            return False
        if st.select is not None and _SELECT_GENERATOR_RE.search(st.select):
            return False
        return True

    # ------------------------------------------------------------------
    # declared-key count-distribution fold (round 11)
    # ------------------------------------------------------------------

    @staticmethod
    def _parquet_rowcount(path: str) -> int | None:
        """Exact row count from parquet footers — no Spark job. None
        when the path isn't plain local parquet (glob heads and mixed
        directories bail; callers fall back to a count job or skip the
        optimization)."""
        try:
            import pyarrow.parquet as pq
        except Exception:  # noqa: BLE001
            return None
        p = os.path.abspath(os.path.expanduser(path))
        try:
            if os.path.isdir(p):
                total = 0
                for root, _dirs, files in os.walk(p):
                    for f in files:
                        if f.startswith(("_", ".")) or f.endswith(".crc"):
                            continue
                        if not f.endswith(".parquet"):
                            return None  # unknown layout
                        total += pq.ParquetFile(
                            os.path.join(root, f)
                        ).metadata.num_rows
                return total
            if os.path.isfile(p):
                return pq.ParquetFile(p).metadata.num_rows
        except Exception:  # noqa: BLE001
            return None
        return None

    @staticmethod
    def _skip_partial_preagg(n_rows: int, ndv_bound: int, partitions: int) -> bool:
        """True when map-side partial aggregation is predicted useless
        for an ``n_rows``-row group-by whose key NDV is bounded by
        ``ndv_bound`` (a declared FK target's row count — the one NDV
        certificate file scans can carry). Expected distinct keys in a
        partition of n/P uniformly-hashed rows over K keys is
        K·(1−e^(−n/(P·K))); partial agg pays a per-row hash-map probe to
        reduce n/P rows to that many, so it is only worth a dedicated
        pass when the reduction factor clears ~2×. Below that the engine
        repartitions by the key and aggregates ONCE — measured on the
        q13 preagg at sf10 (15 M orders → 1 M custkeys, 64 partitions):
        1.04 s partial+final vs 0.75 s repartition+single
        (BENCH_Q13_ANATOMY_sf10.json). At a 25-key dim the same formula
        keeps the partial pass (reduction ~9 000×)."""
        if n_rows <= 0 or ndv_bound <= 0 or partitions <= 0:
            return False
        per_part = n_rows / partitions
        expected_distinct = ndv_bound * (1.0 - math.exp(-per_part / ndv_bound))
        if expected_distinct <= 0:
            return False
        return (per_part / expected_distinct) < 2.0

    def _count_distribution_fold(
        self, head_text: str, parsed: list
    ) -> tuple[DataFrame, int] | None:
        """Fold the count-distribution idiom (TPC-H Q13) into an
        aggregation over the FACT side alone — the LEFT JOIN against the
        key side disappears entirely when declared keys certify it:

            from L |> as l left join R as r on l.pk = r.fk [and p(R)]
                   |> select pk, count(x) as c group by pk
                   |> select c, count() as d group by c

        With pk a declared PRIMARY KEY/UNIQUE of L and fk a declared
        FOREIGN KEY referencing exactly it, every pre-aggregated R group
        matches exactly one L row and every L row matches at most one
        group — so the distribution of per-key counts is the distribution
        over pre-aggregated R plus ONE patch bucket: |L| − |groups| keys
        with count 0 (L's cardinality read from parquet footers, no extra
        job). At 100 TB this deletes the plan's only wide exchange — the
        |L|-row join and its |L|-group re-aggregation are replaced by a
        tiny (≤ distinct-count-values) union. Measured at sf10: engine
        1.145 s → 0.838 s, DuckDB ratio 4.71× → 3.45×
        (BENCH_Q13_FOLD_AB_sf10.json; the committed interleaved pair
        BENCH_PAIR_INTERLEAVED_sf10_r11.json shows 2.75×; value parity
        asserted in tests/test_count_dist_fold.py).

        Soundness chain, each link checked: pristine single-source head
        (any head filter breaks the |L| certificate); the join+agg pair
        matches operators/eager_agg.py with LEFT join, group key exactly
        the left join key, all aggregates COUNTs (their unmatched value
        is 0 — sum/min/max produce NULL groups and bail); declared
        unique(L.pk) + FK(R.fk → L.pk); the third stage groups ONLY by
        stage-2 count outputs and computes ONLY count() aggregates
        (so the patch bucket is expressible as a row count); NULL fk
        rows are excluded from the pre-aggregate (they never match in
        the original join); a post-union re-aggregation merges the patch
        bucket with a genuine 0-count bucket (all-NULL count(x) groups);
        zero-member buckets are filtered (the original emits no row for
        an empty group). Downstream stages see stage 3's projection
        barrier, so no further observer check is needed. Off:
        spark.psql.countDistFold=false."""
        self.last_count_dist_fold = False
        if len(parsed) < 3 or not self.constraints.fks:
            return None
        if not self.confs["spark.psql.countDistFold"]:
            return None
        try:
            head = parse_head(head_text)
        except Exception:  # noqa: BLE001
            return None
        if head is None or head.kind not in ("path", "table"):
            return None
        if head.read_args is not None or not head.tail_is_empty():
            return None
        if head.kind == "path" and (
            "\n" in head.source or any(ch in head.source for ch in "*?[")
        ):
            return None
        st1, st2, st3 = parsed[0], parsed[1], parsed[2]
        if st1.joins is None or st2.select is None or st2.group_by is None:
            return None
        if st2.limit or st2.offset:
            return None
        spec = self._parse_join(st1.joins)
        if spec is None or spec.source_kind not in ("path", "table"):
            return None
        from .operators.eager_agg import match_eager_agg

        try:
            left = (
                self.resolver.resolve(head.source)
                if head.kind == "path"
                else self.resolver.table(head.source)
            )
            right = self._resolve_join_source(spec)
        except Exception:  # noqa: BLE001
            return None
        plan = match_eager_agg(
            st1, st2, left.columns, right.columns, spec, st1.alias
        )
        if plan is None or not plan.is_left:
            return None
        if [k.lower() for k in plan.keys] != [plan.equi_left.lower()]:
            return None
        if any(fn != "count" for fn, _ in plan.partial_specs):
            return None
        lkey = constraints_mod.source_key(head.kind, head.source)
        rkey = constraints_mod.source_key(spec.source_kind, spec.source_text)
        if not self._declared_unique(lkey, {plan.equi_left.lower()}):
            return None
        tgt = self.constraints.fk_target(rkey, {plan.equi_right.lower()})
        if tgt is None:
            return None
        ref_key, mapping = tgt
        if ref_key != lkey or (
            mapping.get(plan.equi_right.lower()) != plan.equi_left.lower()
        ):
            return None
        # stage-2 aggregate output aliases, by partial index
        agg_alias: dict[int, str] = {}
        for o in plan.outputs:
            m = re.search(r"__ea_p(\d+)", o)
            if m:
                am = re.search(r"(?is)\bas\s+(\w+)\s*$", o)
                if am is None:
                    return None
                agg_alias[int(m.group(1))] = am.group(1)
        if len(agg_alias) != len(plan.partial_specs):
            return None
        alias_arg = {
            agg_alias[i].lower(): arg
            for i, (_fn, arg) in enumerate(plan.partial_specs)
        }
        # stage 3: keys ⊆ stage-2 count outputs, aggregates count() only
        if any(
            v not in (None, [])
            for v in (st3.joins, st3.pivot, st3.unpivot, st3.having,
                      st3.qualify, st3.window, st3.sample, st3.setop_tail,
                      st3.ext_verb, st3.alias_cols)
        ) or st3.where:
            return None
        if st3.select is None or st3.group_by is None:
            return None
        if re.match(r"(?is)^\s*distinct\b", st3.select):
            return None
        from .functions.shims import _split_args

        alias_set = {a.lower() for a in agg_alias.values()}
        s3_items: list[tuple[str, str, str]] = []  # (kind, src, out)
        for item in _split_args(st3.select):
            item = item.strip()
            cm = re.fullmatch(r"(?is)count\s*\(\s*\*?\s*\)\s+as\s+(\w+)", item)
            if cm:
                s3_items.append(("cnt", "", cm.group(1)))
                continue
            km = re.fullmatch(r"(?is)(\w+)(?:\s+as\s+(\w+))?", item)
            if km and km.group(1).lower() in alias_set:
                s3_items.append(("key", km.group(1), km.group(2) or km.group(1)))
                continue
            return None
        keys3 = [s for k, s, _ in s3_items if k == "key"]
        cnts3 = [o for k, _, o in s3_items if k == "cnt"]
        if not keys3 or not cnts3:
            return None
        outs = [o.lower() for _, _, o in s3_items]
        if len(set(outs)) != len(outs):
            return None
        if len({s.lower() for s in keys3}) != len(keys3):
            return None
        gb3 = [g.strip().lower() for g in _split_args(st3.group_by)]
        if sorted(gb3) != sorted(s.lower() for s in keys3):
            return None
        # |L| — parquet footers when possible, else one bounded count
        # job. The footer shortcut must count the SAME rows the resolver
        # serves: when an override is registered for this ref (bucketed
        # twin, scan reuse, or any future redirect) the on-disk file may
        # diverge from the resolved DataFrame, so fall through to
        # counting the resolved side (round-12 advice find).
        nleft = (
            self._parquet_rowcount(head.source)
            if head.kind == "path"
            and head.source not in self.resolver.overrides
            else None
        )
        if nleft is None:
            try:
                nleft = left.count()
            except Exception:  # noqa: BLE001
                return None
        saved_bytes = self._pipe_bytes
        try:
            rhint = {
                f.name.lower(): f.dataType.simpleString()
                for f in right.schema.fields
            }
            uid = next(self._ids)
            kcol = f"__cd_k{uid}"
            # co-located layout (round 12): when the fact side carries a
            # bucketed twin keyed exactly on the fold's group column
            # (CLUSTER DECLARED KEYS registers one from the FK edge),
            # read the twin — the pre-aggregation then groups co-located
            # buckets with ZERO exchange (alias-aware output
            # partitioning carries the bucket distribution through the
            # kcol projection), deleting the fold's one remaining wide
            # shuffle. The twin freshness check is inside
            # bucketed_twin_layouts.
            fact_bucketed = False
            if spec.source_kind == "path":
                want = (plan.equi_right.lower(),)
                # registry keys are abspath-normalized in the resolver,
                # so one lookup covers both path spellings (round 14)
                for table, keys in self.resolver.bucketed_twin_layouts(
                    spec.source_text
                ):
                    if tuple(k.lower() for k in keys) == want:
                        right = self.spark.table(table)
                        fact_bucketed = True
                        break
            proj = [f"{plan.equi_right} as {kcol}"]
            aggs = []
            for idx, (_fn, arg) in enumerate(plan.partial_specs):
                # count(x) with x a declared single-column UNIQUE/PK of
                # the fact side is count(*): the DECLARE contract is
                # unique AND non-null (VERIFY checks both), so the
                # column never contributes a NULL — and dropping it
                # prunes a whole column from the scan (sf10 orders:
                # 15 M × 8 B). The patch-bucket key stays 0 (count(x)
                # over an unmatched left row is 0 — alias_arg keeps the
                # original arg).
                bare = arg.strip() if arg is not None else None
                if arg is None or (
                    bare is not None
                    and re.fullmatch(r"[A-Za-z_]\w*", bare)
                    and self._declared_unique(rkey, {bare.lower()})
                ):
                    aggs.append(F.expr("count(*)").alias(agg_alias[idx]))
                else:
                    acol = f"__cd_a{uid}_{idx}"
                    proj.append(f"({apply_shims(arg, rhint)}) as {acol}")
                    aggs.append(F.expr(f"count({acol})").alias(agg_alias[idx]))
            scol = f"__cd_s{uid}"
            where = f"{plan.equi_right} is not null"
            if plan.residual:
                where += f" and ({apply_shims(plan.residual, rhint)})"
            base = self._run_sql(
                f"select {', '.join(proj)} from {{__cd_r}} where {where}",
                {"__cd_r": right},
            )
            # NDV-bounded partial-agg skip (see _skip_partial_preagg);
            # a co-located twin already satisfies the group distribution
            nright = (
                self._parquet_rowcount(spec.source_text)
                if spec.source_kind == "path"
                and spec.source_text not in self.resolver.overrides
                and not fact_bucketed
                else None
            )
            parts = int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "200")
                or 200
            )
            if (
                not fact_bucketed
                and nright
                and self._skip_partial_preagg(nright, nleft, parts)
            ):
                base = base.repartition(parts, kcol)
            pre = base.groupBy(kcol).agg(*aggs)
            # one SENTINEL row (NULL key, flag 1) keeps `pre` non-empty:
            # Spark's GROUPING SETS emits NO grand-total row over empty
            # input (unlike a plain global aggregate), and a residual
            # that filters the whole fact table must still produce the
            # full |L| patch bucket. The sentinel forms its own NULL-key
            # row (real NULL-fk rows are filtered above), is excluded
            # from the buckets by its flag, and is subtracted from the
            # grand total. It unions in AFTER the pre-aggregation
            # (round 12): a pre-agg union would both re-aggregate one
            # constant row and DESTROY the bucketed twin's co-located
            # output partitioning, re-adding the exchange the twin
            # deletes; post-agg the union costs nothing and the flag
            # column never touches the fact-side aggregation at all.
            pre = pre.withColumn(scol, F.lit(0))
            sent = self._run_sql(
                "select "
                + ", ".join(
                    f"cast(null as {f.dataType.simpleString()}) as {f.name}"
                    if f.name == kcol
                    else (
                        f"1 as {scol}"
                        if f.name == scol
                        else f"cast(0 as {f.dataType.simpleString()}) "
                             f"as {f.name}"
                    )
                    for f in pre.schema.fields
                ),
                {},
            )
            pre = pre.unionByName(sent)
            # ONE aggregation produces the distribution AND the patch
            # bucket: GROUPING SETS ((keys, flag), ()) — the () row is
            # the grand total |groups|+1 (sentinel included), so the
            # patch bucket (|L| − |groups| left keys with no matching
            # fact rows) costs no second scan of the fact table.
            klist = ", ".join([*keys3, scol])
            gs = self._run_sql(
                f"select {klist}, count(*) as __cd_n, "
                f"grouping_id() as __cd_g from {{__cd_p}} "
                f"group by grouping sets (({klist}), ())",
                {"__cd_p": pre},
            )
            full_g = (1 << (len(keys3) + 1)) - 1
            is_total = F.col("__cd_g") == full_g
            patched = gs.filter(
                # keep the grand total and the REAL buckets; drop the
                # sentinel's own bucket (flag 1)
                is_total | (F.col(scol) == 0)
            ).select(
                # an unmatched left row still IS one row of the original
                # left join: count(*) sees it (patch key 1); count(x)
                # sees only NULLs (patch key 0) — mirrors eager_agg's
                # coalesce(p, 1) vs coalesce(p, 0) combiners
                *[
                    F.when(
                        is_total,
                        F.lit(1 if alias_arg[k.lower()] is None else 0),
                    ).otherwise(F.col(k)).cast("long").alias(k)
                    for k in keys3
                ],
                F.when(is_total, F.lit(nleft) - (F.col("__cd_n") - 1))
                .otherwise(F.col("__cd_n")).cast("long").alias("__cd_n"),
            )
            merged = (
                patched.groupBy(*keys3)
                .agg(*[F.sum("__cd_n").cast("long").alias(c) for c in cnts3])
                .filter(F.col(cnts3[0]) > 0)
            )
            items = []
            for kind, src, out in s3_items:
                if kind == "key":
                    items.append(
                        src if src.lower() == out.lower() else f"{src} as {out}"
                    )
                else:
                    items.append(out)
            tail = ""
            if st3.order_by:
                tail += f" order by {apply_shims(st3.order_by)}"
            if st3.limit:
                tail += f" limit {st3.limit}"
            if st3.offset:
                tail += f" offset {st3.offset}"
            out_df = self._run_sql(
                f"select {', '.join(items)} from {{__cd_m}}{tail}",
                {"__cd_m": merged},
            )
        except Exception:  # noqa: BLE001 — fall back to the normal compile
            self._pipe_bytes = saved_bytes
            return None
        self._pipe_bytes = None
        self.last_count_dist_fold = True
        return out_df, 3

    def _parse_exists_probe(self, pred: str):
        """Parse a WHERE predicate that is exactly ``[NOT] EXISTS
        (SELECT … FROM <src> [AS] <alias> WHERE <conjunctive cond>)``.
        Returns (negated, src_text, alias, conjuncts, subq_span) or
        None. Path sources keep their single quotes in src_text."""
        m = re.match(r"(?is)^\s*(not\s+)?exists\s*\(", pred)
        if not m:
            return None
        toks = tokenize(pred)
        op = None
        for j, t in enumerate(toks):
            if t.kind == "lparen":
                op = j
                break
        if op is None:
            return None
        try:
            cl = _match_paren_tok(toks, op)
        except Exception:  # noqa: BLE001
            return None
        if cl != len(toks) - 1:
            return None
        inner = pred[toks[op].end : toks[cl].start]
        sm = self._SUBQ_RE.match(inner)
        if sm is None:
            return None
        cond = sm.group("cond")
        # bail on anything beyond a plain conjunctive WHERE
        if re.search(
            r"(?is)\b(group\s+by|order\s+by|limit|having|union|"
            r"intersect|except|rand|random|uuid)\b",
            cond,
        ):
            return None
        conj = _split_top_and(cond)
        if not conj:
            return None
        return (
            bool(m.group(1)),
            sm.group("src").strip().strip('"`'),
            (sm.group("alias") or "").strip('"`'),
            conj,
            (toks[op].end, toks[cl].start),
        )

    # ------------------------------------------------------------------
    # declared-key EXISTS → window rewrite (round 10)
    # ------------------------------------------------------------------

    # words inside a probe condition that are SQL syntax, not columns
    _PROBE_KEYWORDS = frozenset(
        (
            "and", "or", "not", "in", "is", "null", "true", "false",
            "between", "like", "ilike", "escape", "case", "when", "then",
            "else", "end", "interval", "date", "timestamp", "time", "cast",
            "as", "distinct", "asc", "desc", "exists",
            # interval / extract units
            "year", "years", "month", "months", "day", "days", "hour",
            "hours", "minute", "minutes", "second", "seconds", "week",
            "weeks", "quarter", "quarters", "millisecond", "milliseconds",
            "microsecond", "microseconds",
            # common cast type names
            "int", "integer", "bigint", "smallint", "tinyint", "double",
            "float", "real", "decimal", "numeric", "varchar", "text",
            "string", "boolean", "bool",
        )
    )

    def _exists_window_rewrite(self, head_text: str, parsed: list) -> None:
        """Rewrite correlated ``WHERE [NOT] EXISTS(SELECT … FROM F2
        WHERE F2.k = <outer k> AND <cond2>)`` probes into window
        aggregates when declared keys certify soundness — the q21 shape
        (TPC-H's EXISTS other-supplier / NOT EXISTS other-late-supplier
        over the fact itself).

        Soundness chain, each link checked:
        * the probe source F2 IS the provenance source of the outer
          correlation column (a self-probe), correlated on ONE equality;
        * the pipe's PREFIX up to the window insert point W consists
          only of pure inner equi joins, each certified exactly-1:1 for
          the F2 rows by declared keys (FK side = the F2-carrying side,
          target = the other side's declared-unique key; the first join
          may instead bring F2 in on the RIGHT against the bare head,
          certified in the flipped direction) — so at W the pipe holds
          EVERY F2 row exactly once per partition of k, which is
          exactly the relation the probe subquery scans;
        * cond2 conjuncts translate to member-side predicates: probe-
          alias columns → F2 columns (present at W), outer references →
          either the partition key itself or columns functionally
          dependent on it (fd from the provenance walk: attached 1:1 on
          k by a declared unique key — constant within a partition, so
          the member's own copy substitutes for the outer value), plus
          at most one anti-self conjunct ``F2.c <> outer_c`` over the
          SAME column — handled by collecting the distinct c values of
          qualifying members and testing membership beyond outer_c;
        * stages between W and the probe only filter/order/project
          (window columns are appended to intermediate selects; DISTINCT
          or grouping between bails), and a later explicit projection
          drops the synthetic columns from the output.

        NULL parity with EXISTS semantics is exact: a NULL member c or
        NULL predicate is no witness (collect_set / CASE skip it), and a
        NULL outer c makes the filter lambda NULL → element dropped →
        EXISTS false, as in SQL. Replaces two fact self-joins with ONE
        window shuffle of the prefix relation — measured on q21
        (BENCH_EXISTS_WINDOW_AB_*.json). Off:
        spark.psql.existsWindowRewrite=false."""
        self.last_window_rewrites: list[str] = []
        if not self.confs["spark.psql.existsWindowRewrite"]:
            return
        if not any(
            "exists" in w.lower() for st in parsed for w in (st.where or [])
        ):
            return
        try:
            head = parse_head(head_text)
        except Exception:  # noqa: BLE001
            return
        if head is None or head.kind not in ("path", "table"):
            return
        if head.read_args is not None:
            return
        if head.kind == "path" and (
            "\n" in head.source or any(ch in head.source for ch in "*?[")
        ):
            return
        # the head tail must contribute nothing (a bare alias is fine)
        t = head.tail
        if any(
            v not in (None, [])
            for k, v in vars(t).items()
            if k != "alias"
        ):
            return
        try:
            src_df = (
                self.resolver.resolve(head.source)
                if head.kind == "path"
                else self.resolver.table(head.source)
            )
        except Exception:  # noqa: BLE001
            return
        hkey = constraints_mod.source_key(head.kind, head.source)
        prov: dict[str, tuple] = {
            c.lower(): (hkey, c.lower(), None) for c in src_df.columns
        }

        def _src_key_of(spec: "_JoinSpec"):
            return constraints_mod.source_key(
                spec.source_kind, spec.source_text
            )

        # --- certified-1:1 join prefix ---------------------------------
        # `complete` tracks sources NO row of which has been lost: the
        # head starts complete; a direction-1 join (pipe FK → right
        # unique) preserves every pipe row exactly once, so existing
        # flags survive but the right side's unmatched rows are gone; a
        # direction-2 join (right FK → left unique) brings EVERY right
        # row in — the right side is complete — but can DROP left rows
        # with no partner, clearing prior flags unless direction 1 also
        # certifies. EXISTS windows tolerate member DUPLICATION (max /
        # collect_set are idempotent) but never member LOSS, so the
        # probe source must be in `complete` at the insert point.
        W = 0
        joined_yet = False
        complete: set = {hkey}
        flip = None
        for st in parsed:
            if st.is_pure_alias():
                W += 1
                continue
            spec = self._parse_join(st.joins) if st.joins is not None else None
            if not self._pure_inner_join_stage(st, spec):
                break
            if spec.source_kind not in ("path", "table"):
                break
            pairs = self._equi_conjuncts(spec.on_text, st.alias, spec.alias)
            if pairs is None:
                break
            rkey = _src_key_of(spec)
            ok1 = False
            # direction 1: pipe side carries the FK → right side unique
            lp = [prov.get(c1.lower()) for c1, _ in pairs]
            if all(p is not None for p in lp) and len({p[0] for p in lp}) == 1:
                tgt = self.constraints.fk_target(lp[0][0], {p[1] for p in lp})
                if (
                    tgt is not None
                    and tgt[0] == rkey
                    and all(
                        tgt[1].get(p[1]) == c2.lower()
                        for (c1, c2), p in zip(pairs, lp)
                    )
                    and self._declared_unique(
                        rkey, {c2.lower() for _, c2 in pairs}
                    )
                ):
                    ok1 = True
            # direction 2 (first join only, bare head on the left): the
            # RIGHT side carries the FK → the head's declared-unique key
            ok2 = False
            if not joined_yet:
                rcolset = {c2.lower() for _, c2 in pairs}
                tgt = self.constraints.fk_target(rkey, rcolset)
                if (
                    tgt is not None
                    and tgt[0] == hkey
                    and all(
                        tgt[1].get(c2.lower()) == c1.lower()
                        for c1, c2 in pairs
                    )
                    and self._declared_unique(
                        hkey, {c1.lower() for c1, _ in pairs}
                    )
                ):
                    ok2 = True
            if not (ok1 or ok2):
                break
            if not ok1:
                complete.clear()
            if ok2:
                complete.add(rkey)
            if not joined_yet and ok2:
                # candidate for the head flip (see apply step): the
                # fact arrived on the RIGHT of the first join; the head
                # is a column-only 1:1 extension that can re-attach
                # BELOW the window instead of riding its shuffle
                flip = (st, spec, rkey)
            self._prov_stage(prov, st)
            W += 1
            joined_yet = True
        wprov = dict(prov)

        # --- scan the remainder for rewritable probes -------------------
        win_exprs: list[str] = []  # "expr as __pewN"
        rewrites: list[tuple[Stage, int, str]] = []  # (stage, where idx, new)
        carry_selects: list[Stage] = []
        pending_selects: list[Stage] = []
        prov2 = dict(prov)
        last_rewrite_pos: int | None = None
        part_keys: set = set()
        # plain filter entries seen during the scan, with the provenance
        # snapshot of their own stage — candidates for the
        # partition-constant hoist below the window
        filter_cands: list[tuple[int, Stage, int, str, dict]] = []
        for pos_i in range(W, len(parsed)):
            st = parsed[pos_i]
            for k, p in enumerate(st.where or []):
                pb = self._parse_exists_probe(p)
                if pb is None:
                    filter_cands.append((pos_i, st, k, p, dict(prov2)))
                    continue
                tr = self._translate_probe(
                    pb, wprov, prov2, len(win_exprs), complete
                )
                if tr is None:
                    continue
                exprs, repl, fk2 = tr
                part_keys.add(fk2)
                win_exprs.extend(exprs)
                rewrites.append((st, k, repl))
                carry_selects.extend(pending_selects)
                pending_selects = []
                last_rewrite_pos = pos_i
            # stage admissibility for CONTINUING the scan
            if st.joins is not None or any(
                [
                    st.pivot, st.unpivot, st.ext_verb, st.setop_tail,
                    st.group_by, st.having, st.alias_cols,
                ]
            ):
                break
            if st.select is not None:
                if re.match(r"(?is)^\s*distinct\b", st.select):
                    break
                pending_selects.append(st)
                self._prov_stage(prov2, st)
            # where/qualify/order/limit/offset/sample: transparent
        if not rewrites:
            return
        # no-leak gate: AFTER the last rewritten probe, some explicit
        # (star-free) projection — the probe stage's own select, a later
        # non-carried select, or the stage that ended the scan — must
        # drop the synthetic columns from the final output, and NOTHING
        # before that projection may OBSERVE them: a DISTINCT select, a
        # set operation, pivot/unpivot, or an extension verb would fold
        # the synthetic columns into its semantics (select distinct *
        # over extra FD-on-key columns yields MORE rows; a verb like
        # bare dedup dropDuplicates over all columns likewise). Plain
        # star-selects, filters, joins, and sorts only CARRY them.
        dropper = False
        carried = set(map(id, carry_selects))
        for pos_i in range(last_rewrite_pos, len(parsed)):
            st = parsed[pos_i]
            if (
                st.select is not None
                and id(st) not in carried
                and not _has_projection_star([st.select])
            ):
                dropper = True
                break
            if (
                any([st.pivot, st.unpivot, st.ext_verb, st.setop_tail])
                or (
                    st.select is not None
                    and re.match(r"(?is)^\s*distinct\b", st.select)
                    and _has_projection_star([st.select])
                )
            ):
                break  # observes the synthetic columns: bail
        if not dropper:
            return  # synthetic columns would leak or be observed
        # --- apply ------------------------------------------------------
        names = ", ".join(f"__pew{k}" for k in range(len(win_exprs)))
        for sel_st in carry_selects:
            sel_st.select = f"{sel_st.select}, {names}"
        for st, k, repl in rewrites:
            self.last_window_rewrites.append(st.where[k])
            st.where[k] = repl
        # partition-constant filter hoist: a plain filter conjunct
        # before the last probe whose every reference is the partition
        # key or functionally dependent on it removes WHOLE partitions —
        # applying it BELOW the window halves the window's shuffle
        # input without changing any surviving row's window values
        # (q21's o_orderstatus = 'F'; measured sf0.1 2.1 → native-parity)
        hoisted: list[str] = []
        for pos_i, st, k, p, prov_at in filter_cands:
            if pos_i > last_rewrite_pos:
                continue
            conjs = _split_top_and(p)
            keep: list[str] = []
            for c in conjs:
                ht = None
                for f2k, kc in part_keys:
                    ht2 = self._member_pred(
                        c, "\x00none", f2k, set(), kc, wprov, prov_at
                    )
                    if ht2 is None:
                        ht = None
                        break
                    ht = ht2  # same rewrite for every key or bail
                nondet = any(
                    t.kind == "word" and t.lower in _NONDET_FNS
                    for t in tokenize(c)
                )
                if ht is not None and not nondet:
                    hoisted.append(ht)
                else:
                    keep.append(c)
            if len(keep) < len(conjs):
                st.where[k] = " and ".join(keep) if keep else "true"
        # head flip: when the fact arrived on the RIGHT of the first
        # join (direction 2), the old head is a column-only 1:1
        # extension — re-root the pipe at the fact and re-attach the
        # head BELOW the window, so its payload never rides the window
        # shuffle (q21: supplier's s_name over 60 M rows at sf10).
        # Gated on: every window partitions by that same fact, no head
        # column feeds a window/hoist/later-prefix-join, and the flip
        # stage parses back to the identical ON text.
        new_head: str | None = None
        flipped = None
        if flip is not None and all(fk[0] == flip[2] for fk in part_keys):
            fst, fspec, _frk = flip
            hcols = {c.lower() for c in src_df.columns}
            blob = " ".join(win_exprs + hoisted).lower()
            ok_flip = not any(
                re.search(rf"\b{re.escape(c)}\b", blob) for c in hcols
            )
            fi = next(
                (ix for ix, s2 in enumerate(parsed) if s2 is fst), None
            )
            if not ok_flip or fi is None:
                ok_flip = False
            else:
                for s2 in parsed[fi + 1 : W]:
                    sp2 = (
                        self._parse_join(s2.joins)
                        if s2.joins is not None
                        else None
                    )
                    if sp2 is None:
                        continue  # pure alias stage
                    prs = self._equi_conjuncts(
                        sp2.on_text, s2.alias, sp2.alias
                    )
                    if prs is None or any(
                        c1.lower() in hcols for c1, _ in prs
                    ):
                        ok_flip = False
                        break
            if ok_flip:
                if fspec.source_kind == "path":
                    new_head = (
                        "from '" + fspec.source_text.replace("'", "''") + "'"
                    )
                else:
                    new_head = f"from {fspec.source_text}"
                if head.kind == "path":
                    hsrc = "'" + head.source.replace("'", "''") + "'"
                else:
                    hsrc = head.source
                try:
                    flipped = parse_stage(
                        f"as {fspec.alias} join {hsrc} as {fst.alias} "
                        f"on {fspec.on_text}"
                    )
                except Exception:  # noqa: BLE001
                    new_head, flipped = None, None
                if flipped is not None:
                    parsed.remove(fst)
                    W -= 1
        synth = parse_stage("select *, " + ", ".join(win_exprs))
        parsed.insert(W, synth)
        if hoisted:
            parsed.insert(W, parse_stage("where " + " and ".join(hoisted)))
        if flipped is not None:
            parsed.insert(W + (2 if hoisted else 1), flipped)
        return new_head

    def _translate_probe(
        self, pb, wprov: dict, prov_now: dict, base_idx: int, complete: set
    ):
        """Translate one parsed probe into window exprs + a replacement
        predicate, or None. ``wprov`` is provenance at the window insert
        point (original column names); ``prov_now`` at the probe's
        stage. Returns ([window expr 'e as __pewN', …], replacement)."""
        negated, src_text, alias, conj, _span = pb
        if not alias:
            return None
        if src_text.startswith("'"):
            f2 = constraints_mod.source_key(
                "path", src_text[1:-1].replace("''", "'")
            )
        else:
            f2 = constraints_mod.source_key("table", src_text)
        if f2 not in complete:
            return None  # F2 rows may have been lost before the insert point
        try:
            f2cols = {
                c.lower()
                for c in (
                    self.resolver.resolve(f2[1])
                    if f2[0] == "path"
                    else self.resolver.table(f2[1])
                ).columns
            }
        except Exception:  # noqa: BLE001
            return None
        al = alias.lower()
        # find the single correlation equality  A.k = outer  (either order)
        corr = None
        rest: list[str] = []
        for c in conj:
            m = re.fullmatch(
                rf"(?is)\s*{re.escape(alias)}\s*\.\s*(\w+)\s*=\s*(\w+)\s*", c
            ) or re.fullmatch(
                rf"(?is)\s*(?P<o>\w+)\s*=\s*{re.escape(alias)}\s*\.\s*(?P<c>\w+)\s*",
                c,
            )
            if m is not None and corr is None:
                g = m.groupdict() if "o" in m.groupdict() else None
                kcol = (g["c"] if g else m.group(1)).lower()
                outer = (g["o"] if g else m.group(2)).lower()
                po = prov_now.get(outer)
                if (
                    po is not None
                    and po[0] == f2
                    and po[1] == kcol
                    # a bare name F2 also carries resolves to the PROBE's
                    # own scope (SQL inner-first resolution) — then this
                    # equality is member-member, NOT a correlation
                    and outer not in f2cols
                    and wprov.get(kcol, (None,))[0] == f2
                    and wprov[kcol][1] == kcol
                ):
                    corr = (kcol, outer)
                    continue
            rest.append(c)
        if corr is None:
            return None
        kcol, _outer_k = corr
        anti: tuple[str, str] | None = None  # (member col, outer name)
        member_preds: list[str] = []
        for c in rest:
            m = re.fullmatch(
                rf"(?is)\s*{re.escape(alias)}\s*\.\s*(\w+)\s*(?:<>|!=)\s*(\w+)\s*",
                c,
            ) or re.fullmatch(
                rf"(?is)\s*(\w+)\s*(?:<>|!=)\s*{re.escape(alias)}\s*\.\s*(\w+)\s*",
                c,
            )
            if m is not None:
                a, b = m.group(1).lower(), m.group(2).lower()
                # one side is the probe column, the other the outer name
                mcol, oname = (a, b) if wprov.get(a, (None,))[0] == f2 else (b, a)
                po = prov_now.get(oname)
                if (
                    anti is None
                    and po is not None
                    and po[0] == f2
                    and po[1] == mcol
                    and wprov.get(mcol, (None,))[:2] == (f2, mcol)
                    # the outer name must NOT shadow an F2 column: a bare
                    # name that F2 also carries resolves to the PROBE's
                    # scope in SQL, making this a member-member compare
                    and oname not in f2cols
                ):
                    anti = (mcol, oname)
                    continue
            mp = self._member_pred(c, alias, f2, f2cols, kcol, wprov, prov_now)
            if mp is None:
                return None
            member_preds.append(mp)
        pred = " and ".join(f"({p})" for p in member_preds)
        n = base_idx
        if anti is not None:
            mcol, oname = anti
            inner = f"case when {pred} then {mcol} end" if pred else mcol
            expr = (
                f"collect_set({inner}) over (partition by {kcol}) as __pew{n}"
            )
            op = "=" if negated else ">"
            repl = f"size(filter(__pew{n}, __pw -> __pw <> ({oname}))) {op} 0"
            return ([expr], repl, (f2, kcol))
        inner = f"case when {pred} then 1 end" if pred else "1"
        expr = f"max({inner}) over (partition by {kcol}) as __pew{n}"
        repl = f"__pew{n} is null" if negated else f"__pew{n} = 1"
        return ([expr], repl, (f2, kcol))

    def _member_pred(
        self,
        c: str,
        alias: str,
        f2,
        f2cols: set,
        kcol: str,
        wprov: dict,
        prov_now: dict,
    ) -> str | None:
        """Rewrite one probe conjunct into a member-side predicate
        evaluable at the window insert point, or None. Probe-alias
        references become bare F2 columns; bare names resolve to F2's
        own columns (inner scope) or to outer columns that are the
        partition key / functionally dependent on it."""
        toks = tokenize(c)
        out: list[str] = []
        pos = 0
        i = 0
        n = len(toks)
        fd_key = frozenset({(f2, kcol)})
        while i < n:
            t = toks[i]
            if t.kind != "word":
                i += 1
                continue
            # alias-qualified: A.x → x (must exist at W as F2's column)
            if (
                t.lower == alias.lower()
                and i + 2 < n
                and toks[i + 1].kind == "op"
                and toks[i + 1].text == "."
                and toks[i + 2].kind == "word"
            ):
                x = toks[i + 2].lower
                if wprov.get(x, (None,))[:2] != (f2, x):
                    return None
                out.append(c[pos : t.start])
                out.append(x)
                pos = toks[i + 2].end
                i += 3
                continue
            # any OTHER qualified reference: unsupported
            if (
                i + 1 < n
                and toks[i + 1].kind == "op"
                and toks[i + 1].text == "."
            ):
                return None
            # function call: skip the name, args recurse naturally
            if i + 1 < n and toks[i + 1].kind == "lparen":
                i += 1
                continue
            if t.lower in self._PROBE_KEYWORDS:
                i += 1
                continue
            w = t.lower
            # inner scope first: any F2 column name resolves to the
            # probe's own table — and must still be addressable at W
            if w in f2cols:
                if wprov.get(w, (None,))[:2] != (f2, w):
                    return None
                i += 1
                continue
            po = prov_now.get(w)
            if po is None:
                return None
            if po[:2] == (f2, kcol):
                out.append(c[pos : t.start])
                out.append(kcol)
                pos = t.end
                i += 1
                continue
            if po[2] is not None and po[2] == fd_key:
                # FD on the partition key: the member's own copy is the
                # same value — its name at W is the original column name
                wname = po[1]
                if wprov.get(wname, (None,))[:2] != (po[0], po[1]):
                    return None
                out.append(c[pos : t.start])
                out.append(wname)
                pos = t.end
                i += 1
                continue
            return None
        out.append(c[pos:])
        return "".join(out)

    def _align_exists_probes(self, parsed: list) -> None:
        """Narrow ``where EXISTS(C)`` when a conjunctive-sibling ``where
        NOT EXISTS(C AND D)`` probes the same source:

            EXISTS(C) AND NOT EXISTS(C AND D)
              == EXISTS(C AND NOT coalesce(D, false)) AND NOT EXISTS(C AND D)

        Pure logic — no FD/FK assumptions (a C-row is either a (C AND D)
        witness, killed by the NOT EXISTS, or a surviving witness of the
        narrowed form). The point is the PLAN: both probe subqueries then
        scan the same columns of the same source with no pushed filters,
        so their exchanges canonicalize identically and Spark's
        ReuseExchange builds the probe relation ONCE (q21 at sf0.1: two
        600 k-row broadcast hash builds collapse to one, interleaved
        0.79 -> 0.68 s; values identical — scripts record in
        FLOOR_ANALYSIS round-10). Applies within runs of consecutive
        pure-WHERE stages (conjuncts of one filter over one relation,
        where the identity holds regardless of evaluation order).
        Off: spark.psql.alignExistsProbes=false."""
        if not self.confs["spark.psql.alignExistsProbes"]:
            return

        def pure_where(st) -> bool:
            return bool(st.where) and all(
                v in (None, []) for v in (
                    st.alias, st.alias_cols, st.joins, st.select, st.pivot,
                    st.unpivot, st.group_by, st.having, st.qualify,
                    st.window, st.ext_verb, st.order_by, st.limit,
                    st.offset, st.sample, st.setop_tail,
                )
            )

        parse_probe = self._parse_exists_probe

        def norm(c: str) -> str:
            return re.sub(r"\s+", " ", c.strip().lower()).strip("()")

        i = 0
        n = len(parsed)
        while i < n:
            if not pure_where(parsed[i]):
                i += 1
                continue
            j = i
            preds: list[tuple[int, int, str]] = []  # (stage, idx, pred)
            while j < n and pure_where(parsed[j]):
                for k, p in enumerate(parsed[j].where):
                    preds.append((j, k, p))
                j += 1
            ex = [(s, k, p, parse_probe(p)) for s, k, p in preds]
            pos = [(s, k, p, pb) for s, k, p, pb in ex
                   if pb is not None and not pb[0]]
            neg = [pb for _s, _k, _p, pb in ex if pb is not None and pb[0]]
            for s, k, p, pb in pos:
                _kind, src, alias, conj, span = pb
                base = {norm(c) for c in conj}
                for nkind, nsrc, nalias, nconj, _nspan in neg:
                    if nsrc != src:
                        continue
                    ren = [
                        re.sub(
                            rf"\b{re.escape(nalias)}\s*\.",
                            f"{alias}." if alias else "",
                            c,
                        ) if nalias else c
                        for c in nconj
                    ]
                    rset = {norm(c) for c in ren}
                    if not (base < rset):
                        continue
                    extra = [c for c in ren if norm(c) not in base]
                    if not extra:
                        continue
                    guard = " and ".join(f"({c.strip()})" for c in extra)
                    new_inner = (
                        p[: span[1]]
                        + f" and not coalesce(({guard}), false)"
                    )
                    parsed[s].where[k] = new_inner + p[span[1]:]
                    break
            i = j

    # ------------------------------------------------------------------
    # deferred dim joins (join-order freedom the text compiler can take)
    # ------------------------------------------------------------------

    def _defer_conf(self) -> tuple[int, int]:
        """(small_max, big_min) byte gates; (0, _) disables."""
        if not self.confs["spark.psql.deferDimJoins"]:
            return 0, 0
        return DEFER_SMALL_BYTES, DEFER_BIG_BYTES

    @staticmethod
    def _pure_inner_join_stage(st: Stage, spec: "_JoinSpec | None") -> bool:
        return (
            spec is not None
            and st.joins is not None
            and spec.on_text is not None
            and spec.using_text is None
            and spec.how_words.lower() in ("join", "inner join")
            and st.alias is not None
            and st.alias.isidentifier()
            and spec.alias is not None
            and spec.alias.isidentifier()
            and st.select is None
            and not st.where
            and all(
                v in (None, [])
                for v in (
                    st.alias_cols, st.pivot, st.unpivot, st.group_by,
                    st.having, st.qualify, st.window, st.ext_verb,
                    st.order_by, st.limit, st.offset, st.sample,
                    st.setop_tail,
                )
            )
        )

    @staticmethod
    def _equi_conjuncts(
        on_text: str, l_alias: str, r_alias: str
    ) -> list[tuple[str, str]] | None:
        """Parse ``A.x = B.y AND …`` into [(left_col, right_col)];
        None when any conjunct is not a plain two-sided equi comparison
        between exactly these two aliases."""
        out: list[tuple[str, str]] = []
        for conj in re.split(r"(?i)\band\b", on_text):
            m = re.fullmatch(
                r"\s*(\w+)\s*\.\s*(\w+)\s*=\s*(\w+)\s*\.\s*(\w+)\s*",
                conj,
            )
            if m is None:
                return None
            q1, c1, q2, c2 = m.groups()
            if q1.lower() == l_alias.lower() and q2.lower() == r_alias.lower():
                out.append((c1, c2))
            elif q1.lower() == r_alias.lower() and q2.lower() == l_alias.lower():
                out.append((c2, c1))
            else:
                return None
        return out or None

    def _try_defer_dim_join(
        self,
        df: DataFrame,
        st: Stage,
        deferred: list["_DeferredDimJoin"],
        downstream: list[Stage] | None = None,
    ) -> DataFrame | None:
        """When the accumulated pipe is a small (dims) relation and the
        incoming pure inner join brings a BIG scan, swap: the big scan
        becomes the pipe and the dims side is recorded for re-attachment
        at the first stage that needs its columns. Inner equi-joins
        commute, so deferring is semantics-preserving; the win is that
        later big-big exchanges carry rows WITHOUT the dims payload
        (the hand-plan gap VERDICT r6 measured on q05). Every gate
        below falls back to the normal stage-by-stage compile."""
        if deferred:  # after one swap the pipe is big; a second can't fire
            return None
        small_max, big_min = self._defer_conf()
        if small_max <= 0:
            return None
        left_bytes = self._pipe_bytes
        if left_bytes is None or not (0 < left_bytes <= small_max):
            return None
        spec = self._parse_join(st.joins) if st.joins is not None else None
        if not self._pure_inner_join_stage(st, spec):
            return None
        if spec.source_kind != "path":
            return None
        right_bytes = _path_bytes(spec.source_text)
        if right_bytes < big_min:
            return None
        pairs = self._equi_conjuncts(spec.on_text, st.alias, spec.alias)
        if pairs is None:
            return None
        # same-name equi keys would normally take the B11 dedup path;
        # any column overlap would change SELECT * output — skip both
        if any(c1 == c2 for c1, c2 in pairs):
            return None
        try:
            right = self._resolve_join_source(spec)
        except Exception:  # noqa: BLE001 — normal path reports the error
            return None
        if set(df.columns) & set(right.columns):
            return None
        if not all(
            c1 in df.columns and c2 in right.columns for c1, c2 in pairs
        ):
            return None
        # PAYLOAD GATE (round 8): deferral pays only when the dims side
        # carries columns that downstream big exchanges would otherwise
        # drag along. A dims side whose only referenced column is its
        # join key (q03: customer contributes just c_custkey, dropped
        # after the join — the join is a pure semi-filter) has no
        # payload to save; deferring it only ADDS a post-join broadcast
        # re-attach on the full fact⋈fact output. Measured q03 sf10:
        # defer 4.95 s vs filter-first 2.93 s. Let the normal path
        # compile it — the dims scan is ≤ small_max so the size-hint
        # broadcasts it ahead of the big join. Conservative text scan:
        # `*`-ish projections count every column as referenced.
        if downstream is not None:
            key_lc = {c1.lower() for c1, _ in pairs}
            payload_cols = [
                c for c in df.columns if c.lower() not in key_lc
            ]
            blob_parts: list[str] = []
            for d_st in downstream:
                for v in vars(d_st).values():
                    if isinstance(v, str):
                        blob_parts.append(v)
                    elif isinstance(v, list):
                        blob_parts.extend(x for x in v if isinstance(x, str))
            blob = " ".join(blob_parts).lower()
            star_ish = not blob_parts or _has_projection_star(blob_parts)
            referenced = star_ish or any(
                re.search(rf"\b{re.escape(c.lower())}\b", blob)
                for c in payload_cols
            )
            if not referenced:
                return None
        deferred.append(
            _DeferredDimJoin(
                dims=df,
                dims_alias=st.alias,
                fact_alias=spec.alias,
                on_text=spec.on_text,
                expected_prefix=list(df.columns),
                dims_bytes=left_bytes,
            )
        )
        # Sideways information passing (round 8): the deferred inner
        # join also FILTERS the fact — a dims side carrying a selective
        # WHERE (q03: c_mktsegment keeps 1/5 of customers) would have
        # semi-filtered the fact before the downstream big⋈big
        # exchange. Deferring alone loses that reduction (measured q03
        # sf10: defer-on 4.95 s vs defer-off 2.93 s — the unfiltered
        # 60 M-row join output feeds the aggregate). Pushing a
        # broadcast LEFT SEMI join on the dims' key set keeps both
        # wins: payload-free big join AND early fact reduction. For a
        # non-selective dims side the extra probe is one broadcast of
        # ≤ small_max key rows (measured q05: within noise). At cluster
        # scale this is the classic magic-sets/SIP reduction — the
        # semi build ships only the key column, never the payload.
        key_cols = [F.col(c1).alias(c2) for c1, c2 in pairs]
        keys_df = F.broadcast(df.select(*key_cols).distinct())
        right = right.join(keys_df, on=[c2 for _, c2 in pairs], how="leftsemi")
        self._pipe_bytes = right_bytes
        return right

    def _deferred_transparent(
        self, st: Stage, df: DataFrame, deferred: list["_DeferredDimJoin"]
    ) -> bool:
        """True when stage ``st`` can run on the fact-only pipe without
        the deferred dims: a pure inner equi-join whose ON references
        only fact and incoming-side columns, with no name collisions
        against the deferred dims."""
        spec = self._parse_join(st.joins) if st.joins is not None else None
        if not self._pure_inner_join_stage(st, spec):
            return False
        pairs = self._equi_conjuncts(spec.on_text, st.alias, spec.alias)
        if pairs is None:
            return False
        if any(c1 == c2 for c1, c2 in pairs):
            return False
        try:
            right = self._resolve_join_source(spec)
        except Exception:  # noqa: BLE001
            return False
        dims_cols = set().union(*(d.expected_prefix for d in deferred))
        if set(right.columns) & (set(df.columns) | dims_cols):
            return False
        return all(
            c1 in df.columns and c2 in right.columns for c1, c2 in pairs
        )

    def _flush_deferred(
        self, df: DataFrame, deferred: list["_DeferredDimJoin"]
    ) -> DataFrame:
        """Re-attach deferred dims joins and restore the column order the
        non-deferred plan would have produced (dims columns first)."""
        while deferred:
            d = deferred.pop()
            dims = d.dims
            hint_max = self.confs["spark.psql.broadcastHint.maxBytes"]
            if d.dims_bytes and 0 < d.dims_bytes <= hint_max:
                dims = F.broadcast(dims)
            params: dict = {"__pipe": df, "__dims": dims}
            on_sql = self._frag(d.on_text, params)
            out = self._run_sql(
                f"SELECT * FROM {{__dims}} AS {d.dims_alias} "
                f"JOIN {{__pipe}} AS {d.fact_alias} ON {on_sql}",
                params,
            )
            prefix = set(d.expected_prefix)
            cols = d.expected_prefix + [
                c for c in out.columns if c not in prefix
            ]
            df = out.select(*cols)
        self._pipe_bytes = None
        return df

    def _try_eager_agg(
        self,
        df: DataFrame,
        st: Stage,
        nxt: Stage | None,
        pending_alias: str | None,
    ) -> DataFrame | None:
        """Eager aggregation below a join (operators/eager_agg.py): when a
        join stage is immediately followed by a matching group-by stage,
        pre-aggregate the RIGHT side by the join key before joining —
        the join's build/shuffle input shrinks from |R| rows to
        |distinct fk| rows before any exchange (TPC-H Q13 shape: 16× at
        sf1). Conservative pattern match; any analysis surprise falls
        back to the normal stage-by-stage compile. Off-switch:
        spark.psql.eagerAgg=false."""
        if nxt is None or st.joins is None or nxt.select is None:
            return None
        if nxt.group_by is None:
            return None
        if not self.confs["spark.psql.eagerAgg"]:
            return None
        from .operators.eager_agg import match_eager_agg

        spec = self._parse_join(st.joins)
        if spec is None:
            return None
        l_alias = st.alias or pending_alias
        saved_bytes = self._pipe_bytes
        try:
            right = self._resolve_join_source(spec)
            plan = match_eager_agg(
                st, nxt, df.columns, right.columns, spec, l_alias
            )
            if plan is None:
                return None
            uid = next(self._ids)
            key = f"__ea_key{uid}"
            # aggregate-argument expressions get the same dialect shims
            # (with the RIGHT side's dtype hints) as the normal compile
            rhint = {
                f.name.lower(): f.dataType.simpleString()
                for f in right.schema.fields
            }
            partials = []
            for idx, (fn, arg) in enumerate(plan.partial_specs):
                p = f"__ea{uid}_p{idx}"
                if arg is None:
                    partials.append(f"count(*) as {p}")
                else:
                    partials.append(f"{fn}({apply_shims(arg, rhint)}) as {p}")
            outputs = [
                o.replace("__ea_p", f"__ea{uid}_p").replace("__ea_key", key)
                for o in plan.outputs
            ]
            keys = [k.replace("__ea_key", key) for k in plan.keys]
            where = (
                f" where {apply_shims(plan.residual, rhint)}"
                if plan.residual
                else ""
            )
            pre = self._run_sql(
                f"select {plan.equi_right} as {key}, {', '.join(partials)} "
                f"from {{__ea_r}}{where} group by {plan.equi_right}",
                {"__ea_r": right},
            )
            joined = df.join(
                pre,
                df[plan.equi_left] == pre[key],
                "left" if plan.is_left else "inner",
            )
            tail = ""
            if nxt.order_by:
                tail += f" order by {apply_shims(nxt.order_by)}"
            if nxt.limit:
                tail += f" limit {nxt.limit}"
            if nxt.offset:
                tail += f" offset {nxt.offset}"
            out = self._run_sql(
                f"select {', '.join(outputs)} "
                f"from {{__ea_j}} group by {', '.join(keys)}{tail}",
                {"__ea_j": joined},
            )
        except Exception:  # noqa: BLE001 — fall back to the normal compile
            self._pipe_bytes = saved_bytes
            return None
        self._pipe_bytes = None
        return out

    def _apply_stage(
        self, df: DataFrame, st: Stage, pending_alias: str | None
    ) -> tuple[DataFrame, str | None]:
        if st.ext_verb is not None:
            return self._apply_ext_verb(df, st.ext_verb, st.ext_args or ""), None
        if st.is_pure_alias():
            return df, st.alias
        if st.alias is None and pending_alias is not None:
            st.alias = pending_alias
        return self._apply_stage_sql(df, st, "{__pipe}", {"__pipe": df})

    def _apply_ext_verb(self, df: DataFrame, verb: str, args: str) -> DataFrame:
        from .operators import dedup as dedup_mod

        out = self._apply_ext_verb_inner(df, verb, args)
        # operators persist intermediates their result references twice
        # and tie their ownership to the RESULT DataFrame (dedup._PINS);
        # transfer them to STATEMENT lifetime (released when the next
        # statement compiles, like persisted blocks) instead of leaking
        # executor storage across a long session (r10 verdict finding;
        # lifecycle test in test_memory_ceilings)
        self._persisted_blocks.extend(dedup_mod.take_pins(out))
        return out

    def _apply_ext_verb_inner(self, df: DataFrame, verb: str, args: str) -> DataFrame:
        """Extended pipe-verbs: the charter's training-data operators as
        first-class pipeline stages (SURVEY.md §7.2.8).

        Grammar (all argument words optional unless noted):

        * ``dedup by c1, c2[, …] [keep col]`` — exact dedup on the listed
          columns; ``keep`` names the tie-breaking column (lowest wins;
          defaults to the first non-key column, else the first key).
        * ``minhash_dedup id=<col> text=<col> [num_perm= bands= shingle_k=
          threshold=]`` — near-dup pair mining (MinHash LSH).
        * ``simhash_dedup id=<col> text=<col> [max_hamming=]``
        * ``embedding_dedup id=<col> vec=<col> [threshold= planes=]`` —
          near-dup pairs by embedding cosine (hyperplane-LSH bucketed).
        * ``lang_id | token_count | quality_score | fingerprint |
          text_stats [col]`` — text analysis; ``col`` defaults to ``text``.
        * ``media_stats | media_features [dim=] | media_resize [width=
          height=] | frame_sample [every_ms=]`` — multimodal stages over
          the canonical media schema (opaque binary + typed metadata).
        * ``hash_split key=<col> [salt=…] [<name>=<frac> …]`` —
          deterministic md5-based split assignment (defaults
          train=0.98 val=0.01 test=0.01); adds a ``split`` column.
        * ``components [src= dst= max_iter=]`` — transitive closure of a
          duplicate-pair relation into (id, component) via alternating
          large-star/small-star (operators/graph.py).
        * ``repetition [col] [id= ngram=]`` — Gopher-style repetition
          signals: dup-line fraction + top n-gram share.
        * ``redact [col] [out=]`` — PII masking (email/IPv4/phone) with
          per-kind counts.
        * ``cap by <cols> n=<k> order=<col> [desc]`` — per-group corpus
          caps (operators/curate.py).
        * ``dedup_canonical id=<col> text=<col> [minhash params]`` —
          mine MinHash dup pairs, close them into clusters, keep the
          minimum-id row per cluster (singletons always kept).
        * ``gopher_quality [col]`` / ``c4_clean [col]`` — the published
          rule sets (Rae et al. 2021 A1.1; Raffel et al. 2020 §2.2) as
          signal columns + pass flags.
        * ``paragraph_dedup [id= col= hash=md5|xxhash64]`` — CCNet
          corpus-wide paragraph dedup, first (id, pos) survives.
        * ``vocab [col] [ngram= k=]`` / ``tfidf [id= col= k=
          idf=rational|log]`` — corpus vocabulary / per-doc top terms.
        * ``audio_decode`` / ``audio_resample [rate=]`` — REAL WAV/PCM
          decode with DSP features; linear resample re-encoded PCM-16
          (per-row error contract, operators/wav.py).
        """
        from .operators import dedup as D
        from .operators import text as T

        kv = dict(
            p.split("=", 1) for p in args.split() if "=" in p
        )
        # strip balanced outer parens from values: prepared-statement and
        # macro binding splice arguments parenthesized (`k=$1` -> `k=(5)`),
        # and numeric verb options must still parse
        for k, v in list(kv.items()):
            while len(v) >= 2 and v[0] == "(" and v[-1] == ")":
                v = v[1:-1].strip()
            kv[k] = v
        if verb == "dedup":
            m = _DEDUP_ARGS.match(args)
            if not m:
                raise PsqlCompileError(f"dedup: expected 'by col[, col…] [keep col]', got {args!r}")
            keys = [c.strip() for c in m.group(1).split(",") if c.strip()]
            if df.isStreaming:
                # window-based tie-breaking needs a bounded input; streams
                # get the watermark-evicted duplicate-delivery dedup
                from .streaming import stream_dedup

                return stream_dedup(df, keys)
            keep = m.group(2)
            if keep is None:
                non_keys = [c for c in df.columns if c not in keys]
                keep = non_keys[0] if non_keys else keys[0]
            return D.exact_dedup(df, keys, tie_breaker=keep)
        if verb == "minhash_dedup":
            return D.minhash_dup_pairs(
                df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("text", "text"),
                num_perm=int(kv.get("num_perm", 64)),
                bands=int(kv.get("bands", 16)),
                shingle_k=int(kv.get("shingle_k", 3)),
                threshold=float(kv.get("threshold", 0.5)),
            )
        if verb == "simhash_dedup":
            return D.simhash_dup_pairs(
                df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("text", "text"),
                max_hamming=int(kv.get("max_hamming", 3)),
            )
        if verb == "embedding_dedup":
            from .operators.similarity import infer_vec_dim

            vec_col = kv.get("vec", "embedding")
            # dim=<n> avoids the one-row inference job; without it we
            # sample explicitly here (interactive verb, user-initiated)
            dim = int(kv["dim"]) if "dim" in kv else infer_vec_dim(df, vec_col)
            return D.embedding_dup_pairs(
                df,
                id_col=kv.get("id", "vec_id"),
                vec_col=vec_col,
                threshold=float(kv.get("threshold", 0.95)),
                planes=int(kv.get("planes", 16)),
                dim=dim,
            )
        if verb == "pack_bins":
            from .operators.split import pack_token_bins

            key = kv.get("key")
            tokens = kv.get("tokens")
            if not key or not tokens:
                raise PsqlCompileError(
                    "pack_bins: 'key=<col>' and 'tokens=<col>' are required"
                )
            return pack_token_bins(
                df,
                key_col=key,
                token_col=tokens,
                target_tokens=int(kv.get("target", 4096)),
                out_col=kv.get("out", "bin_id"),
            )
        if verb == "hash_split":
            from .operators.split import hash_split

            key = kv.get("key")
            if not key:
                raise PsqlCompileError("hash_split: 'key=<col>' is required")
            fracs = {
                k: float(v) for k, v in kv.items() if k not in ("key", "salt")
            }
            return hash_split(
                df, key, splits=fracs or None, salt=kv.get("salt", "")
            )
        if verb == "components":
            from .operators.graph import connected_components

            return connected_components(
                df,
                kv.get("src", "id_a"),
                kv.get("dst", "id_b"),
                max_iter=int(kv.get("max_iter", 30)),
            )
        if verb == "dedup_canonical":
            from .operators.graph import dedup_canonical

            id_col = kv.get("id", "doc_id")
            pairs = D.minhash_dup_pairs(
                df,
                id_col=id_col,
                text_col=kv.get("text", "text"),
                num_perm=int(kv.get("num_perm", 64)),
                bands=int(kv.get("bands", 16)),
                shingle_k=int(kv.get("shingle_k", 3)),
                threshold=float(kv.get("threshold", 0.5)),
            )
            return dedup_canonical(df, pairs, id_col)
        if verb == "normalize":
            # |> normalize [col] [nfc= lower= punct= out=] — canonical text
            #   normalization before dedup (operators/text.py)
            from .operators.text import normalize_text

            words = [p for p in args.split() if "=" not in p]
            return normalize_text(
                df,
                words[0] if words else kv.get("col", "text"),
                nfc=kv.get("nfc", "true").lower() != "false",
                lowercase=kv.get("lower", "true").lower() != "false",
                strip_punct=kv.get("punct", "false").lower() == "true",
                out_col=kv.get("out"),
            )
        if verb == "repetition":
            # |> repetition [col] [id= ngram=] — Gopher-style repetition
            #   signals (dup-line fraction, top n-gram share)
            words = [p for p in args.split() if "=" not in p]
            return T.repetition_stats(
                df,
                words[0] if words else kv.get("col", "text"),
                id_col=kv.get("id", "doc_id"),
                ngram=int(kv.get("ngram", 2)),
            )
        if verb == "redact":
            # |> redact [col] [out=] — mask emails/IPs/phone-like runs,
            #   adding n_email/n_ip/n_phone counts
            words = [p for p in args.split() if "=" not in p]
            return T.redact_pii(
                df,
                words[0] if words else kv.get("col", "text"),
                out_col=kv.get("out"),
            )
        if verb == "vocab":
            # |> vocab [col] [id= ngram= k=] — corpus-wide top-k n-gram
            #   vocabulary with doc frequencies (operators/text.py)
            words = [p for p in args.split() if "=" not in p]
            return T.vocab_topk(
                df,
                words[0] if words else kv.get("col", "text"),
                id_col=kv.get("id", "doc_id"),
                ngram=int(kv.get("ngram", 1)),
                k=int(kv.get("k", 1000)),
            )
        if verb == "tfidf":
            # |> tfidf [id= col= k= idf=rational|log] — per-doc top-k
            #   terms by tf-idf (operators/text.py)
            return T.tfidf_topk(
                df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("col", "text"),
                k=int(kv.get("k", 5)),
                idf=kv.get("idf", "rational"),
            )
        if verb == "gopher_quality":
            # |> gopher_quality [col] — the full Gopher rule set
            #   (Rae et al. 2021 A1.1) as signal columns + gopher_pass
            words = [p for p in args.split() if "=" not in p]
            return T.gopher_quality(df, words[0] if words else kv.get("col", "text"))
        if verb == "c4_clean":
            # |> c4_clean [col] — C4 line filter + page flags
            #   (Raffel et al. 2020 §2.2); adds text_clean/c4_pass
            words = [p for p in args.split() if "=" not in p]
            return T.c4_clean(df, words[0] if words else kv.get("col", "text"))
        if verb == "paragraph_dedup":
            # |> paragraph_dedup [id=<col>] [col=<text>] [hash=md5|xxhash64]
            #   — corpus-wide CCNet paragraph dedup (operators/dedup.py)
            from .operators.dedup import paragraph_dedup

            return paragraph_dedup(
                df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("col", "text"),
                hash_fn=kv.get("hash", "md5"),
            )
        if verb == "strip_html":
            # |> strip_html [col] [out=] — HTML boilerplate → text
            #   (regex tier, whole-stage codegen; operators/text.py)
            words = [p for p in args.split() if "=" not in p]
            return T.strip_html(
                df,
                words[0] if words else kv.get("col", "text"),
                out_col=kv.get("out"),
            )
        if verb == "chunk":
            # |> chunk [col] [size= overlap= out=] — context-window
            #   chunking: word chunks with overlap (operators/text.py)
            words = [p for p in args.split() if "=" not in p]
            return T.chunk_text(
                df,
                words[0] if words else kv.get("col", "text"),
                size=int(kv.get("size", 200)),
                overlap=int(kv.get("overlap", 0)),
                out_col=kv.get("out", "chunk"),
            )
        if verb == "cap":
            # |> cap by <col>[, col…] n=<k> order=<col> [desc] — keep at
            #   most k rows per group (per-domain corpus caps)
            from .operators.curate import cap_per_group

            m = re.match(r"(?is)^by\s+([\w\s,\"`]+?)(?=$|\s+\w+=|\s+desc\b)", args.strip())
            if not m or "order" not in kv:
                raise PsqlCompileError(
                    f"cap: expected 'by col[, col…] n=<k> order=<col> [desc]', got {args!r}"
                )
            keys = [c.strip().strip('"`') for c in m.group(1).split(",") if c.strip()]
            return cap_per_group(
                df,
                keys,
                int(kv.get("n", 1)),
                kv["order"],
                descending="desc" in args.lower().split(),
            )
        if verb == "stratify":
            # |> stratify by <col>[, col…] frac=<f> id=<col> [salt=<s>] —
            #   deterministic per-group EXACT-fraction sample: keep
            #   ceil(frac·|group|) rows chosen by md5(id||salt) order
            #   (training-mix downsampling with exact proportions)
            from .operators.curate import stratified_sample

            m = re.match(
                r"(?is)^by\s+([\w\s,\"`]+?)(?=$|\s+\w+=)", args.strip()
            )
            if not m or "frac" not in kv or "id" not in kv:
                raise PsqlCompileError(
                    "stratify: expected 'by col[, col…] frac=<f> id=<col>"
                    f" [salt=<s>]', got {args!r}"
                )
            keys = [c.strip().strip('"`') for c in m.group(1).split(",") if c.strip()]
            return stratified_sample(
                df,
                keys,
                float(kv["frac"]),
                kv["id"],
                salt=kv.get("salt", ""),
            )
        if verb == "cluster":
            # |> cluster by <col>[, col…] [buckets=N] [name=<t>]
            #   [sort=c1,c2] — materialize the pipeline as a BUCKETED
            #   catalog table (operators/scale.py:write_bucketed): a
            #   one-time pre-shuffle on the bucket keys, after which every
            #   join/aggregation on those keys reads co-located buckets
            #   and skips its exchange. When the clustered input is
            #   exactly a scan of one source path, the table is also
            #   registered as that path's *bucketed twin*: later
            #   statements that shuffle the path on a bucket key are
            #   transparently recompiled against the twin
            #   (_with_bucketed_twins), with a (bytes, mtime) staleness
            #   fingerprint guarding against source rewrites.
            from .operators.scale import write_bucketed

            m = re.match(
                r"(?is)^by\s+([\w\s,\"`]+?)(?=$|\s+\w+=)", args.strip()
            )
            if not m:
                raise PsqlCompileError(
                    f"cluster: expected 'by col[, col…] [buckets=N] "
                    f"[name=<t>] [sort=c1,c2]', got {args!r}"
                )
            keys = [c.strip().strip('"`') for c in m.group(1).split(",") if c.strip()]
            # default bucket count follows the session's reduce
            # parallelism (one bucket ≈ one task of the joins the twin
            # will feed): a coarser grid concentrates each shuffled-hash
            # build into fewer, fatter tasks and can exhaust the local
            # hash-map budget at scale (observed at sf10: 32 buckets
            # under a 64-partition profile OOM'd q03's build; matching
            # the profile keeps per-task builds at the sizes the planner
            # budgeted for). Floor of 8 keeps tiny-profile sessions
            # (1 reduce partition) from degenerate single-bucket tables.
            try:
                default_buckets = max(
                    int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")),
                    8,
                )
            except ValueError:
                default_buckets = 32
            buckets = int(kv.get("buckets", default_buckets))
            src_path = self.resolver.path_of(df)
            name = kv.get("name")
            if name is None:
                if src_path is not None:
                    name = _twin_table_name(src_path, keys)
                else:
                    name = f"clustered_by_{'_'.join(keys)}"
            sort_cols = [
                c.strip() for c in kv.get("sort", "").split(",") if c.strip()
            ] or None
            # same codec as CLUSTER DECLARED KEYS (round 14): both
            # twin-writing flows must produce the same layout
            out = write_bucketed(
                df, name, keys=keys, buckets=buckets, sort_cols=sort_cols,
                codec=TWIN_CODEC,
            )
            if src_path is not None:
                self.resolver.register_bucketed_twin(src_path, name, tuple(keys))
            return out
        if verb == "contamination":
            # |> contamination '<probe source>' [id= text= probe_text=
            #   k= threshold=] — n-gram-overlap decontamination against a
            #   (small, broadcast) eval set (operators/text.py)
            from .operators.text import contamination_check

            atoks = tokenize(args)
            if not atoks or atoks[0].kind != "string":
                raise PsqlCompileError(
                    "contamination: first argument must be a quoted probe source path"
                )
            probe_df = self.resolver.resolve(
                atoks[0].text[1:-1].replace("''", "'")
            )
            return contamination_check(
                df,
                probe_df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("text", "text"),
                probe_text_col=kv.get("probe_text", kv.get("text", "text")),
                shingle_k=int(kv.get("k", 5)),
                min_overlap=float(kv.get("threshold", 0.5)),
            )
        if verb == "bm25":
            # |> bm25 terms='w1,w2,…' [id= text= k1= b=] — BM25 relevance
            #   of every piped document against a fixed query-term set
            #   (operators/text.py bm25_scores)
            from .operators.text import bm25_scores

            if "terms" not in kv:
                raise PsqlCompileError("bm25: terms='w1,w2,...' is required")
            # the generic kv parse keeps the quotes of a quoted value
            terms = [
                t.strip()
                for t in kv["terms"].strip("'\"").split(",")
                if t.strip()
            ]
            if not terms:
                raise PsqlCompileError("bm25: terms='w1,w2,...' is required")
            return bm25_scores(
                df,
                terms,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("text", "text"),
                k1=float(kv.get("k1", 1.2)),
                b=float(kv.get("b", 0.75)),
            )
        if verb == "dsir":
            # |> dsir '<target source>' [id= text= target_text= buckets=
            #   smoothing=] — DSIR importance weights against a target
            #   corpus (operators/text.py dsir_weights); select the
            #   top-weight rows downstream to perform the resampling
            from .operators.text import dsir_weights

            atoks = tokenize(args)
            if not atoks or atoks[0].kind != "string":
                raise PsqlCompileError(
                    "dsir: first argument must be a quoted target source path"
                )
            tgt_df = self.resolver.resolve(
                atoks[0].text[1:-1].replace("''", "'")
            )
            return dsir_weights(
                df,
                tgt_df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("text", "text"),
                target_text_col=kv.get("target_text"),
                buckets=int(kv.get("buckets", 4096)),
                smoothing=float(kv.get("smoothing", 1.0)),
                hash_mode=kv.get("hash", "xxhash64").strip("'\""),
            )
        if verb == "semdedup":
            # |> semdedup [id= vec= threshold= clusters= seed= sample=]
            #   — SemDeDup semantic dedup (cluster-bounded pairwise
            #   cosine, operators/dedup.py semdedup); the verb path
            #   always k-means-fits (fixed centroids are the oracle
            #   twin's API-level option)
            from .operators.dedup import semdedup

            return semdedup(
                df,
                id_col=kv.get("id", "vec_id"),
                vec_col=kv.get("vec", "embedding"),
                threshold=float(kv.get("threshold", 0.95)),
                n_clusters=int(kv.get("clusters", 16)),
                seed=int(kv.get("seed", 42)),
                sample_fraction=(
                    float(kv["sample"]) if "sample" in kv else None
                ),
            )
        if verb in ("dup_spans", "strip_dup_spans"):
            # |> dup_spans [id= text= k= min_tokens= scope=cross|all] —
            #   exact duplicated-substring spans (Lee et al. 2022), k-gram
            #   runs merged by gaps-and-islands (operators/text.py
            #   duplicate_spans); strip_dup_spans cuts them out of the
            #   token stream instead of reporting them.
            from .operators.text import duplicate_spans, strip_duplicate_spans

            fn = (
                duplicate_spans
                if verb == "dup_spans"
                else strip_duplicate_spans
            )
            return fn(
                df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("text", "text"),
                gram_k=int(kv.get("k", 8)),
                min_tokens=(
                    int(kv["min_tokens"]) if "min_tokens" in kv else None
                ),
                cross_doc_only=kv.get("scope", "cross").strip("'\"") != "all",
            )
        if verb == "lm_score":
            # |> lm_score '<reference source>' [id= text= ref_text= lam=]
            #   — bigram reference-LM quality score (CCNet-style filter,
            #   operators/text.py ngram_lm_score)
            from .operators.text import ngram_lm_score

            atoks = tokenize(args)
            if not atoks or atoks[0].kind != "string":
                raise PsqlCompileError(
                    "lm_score: first argument must be a quoted reference "
                    "source path"
                )
            ref_df = self.resolver.resolve(
                atoks[0].text[1:-1].replace("''", "'")
            )
            return ngram_lm_score(
                df,
                ref_df,
                id_col=kv.get("id", "doc_id"),
                text_col=kv.get("text", "text"),
                ref_text_col=kv.get("ref_text", kv.get("text", "text")),
                lam=float(kv.get("lam", 0.8)),
            )
        if verb == "range_join":
            # range (interval) join: |> range_join '<path>' lower=-60
            #   upper=60 [by=key[,key…]] [left_ts=ts] [right_ts=ts]
            #   [how=inner|left] — bucketized equi-join plan, never a
            #   nested loop (operators/rangejoin.py)
            from .operators.rangejoin import interval_join

            atoks = tokenize(args)
            if not atoks or atoks[0].kind != "string":
                raise PsqlCompileError(
                    "range_join: first argument must be a quoted source path"
                )
            right = self.resolver.resolve(
                atoks[0].text[1:-1].replace("''", "'")
            )
            if "lower" not in kv or "upper" not in kv:
                raise PsqlCompileError(
                    "range_join: 'lower=<sec>' and 'upper=<sec>' are required"
                )
            return interval_join(
                df,
                right,
                left_ts=kv.get("left_ts", "ts"),
                right_ts=kv.get("right_ts", "ts"),
                lower=float(kv["lower"]),
                upper=float(kv["upper"]),
                keys=[k for k in kv.get("by", "").split(",") if k],
                how=kv.get("how", "inner"),
            )
        if verb == "knn":
            from .operators.similarity import knn_topk_arrow, lsh_topk

            id_col = kv.get("id", "vec_id")
            vec_col = kv.get("vec", "embedding")
            k = int(kv.get("k", 10))
            qid = kv.get("query_id")
            qvec_text = kv.get("query_vec")
            if qvec_text is not None:
                # inline vector (`query_vec=[0.1,0.2,…]`, no spaces): the
                # hot path — NO compile-time job, the corpus is never
                # scanned to find the query row
                try:
                    qvec = [
                        float(x)
                        for x in qvec_text.strip("[]()").split(",")
                        if x.strip()
                    ]
                except ValueError:
                    raise PsqlCompileError(
                        f"knn: malformed query_vec {qvec_text!r} — expected "
                        "query_vec=[f1,f2,…] with no spaces"
                    ) from None
                if not qvec:
                    raise PsqlCompileError("knn: query_vec is empty")
                qid = qid if qid is not None else -1
            elif qid is not None:
                # one-row query-vector lookup — an interactive compile-time
                # job, same contract as embedding_dedup's dim inference. At
                # scale prefer query_vec= (no corpus scan at compose time).
                row = df.filter(F.col(id_col) == int(qid)).select(vec_col).first()
                if row is None or row[0] is None:
                    raise PsqlCompileError(f"knn: query_id {qid} not found")
                qvec = [float(x) for x in row[0]]
            else:
                raise PsqlCompileError(
                    "knn: 'query_id=<id>' or 'query_vec=[…]' is required"
                )
            if kv.get("method", "exact") == "lsh":
                return lsh_topk(
                    df, qvec, id_col=id_col, vec_col=vec_col, k=k,
                    planes=int(kv.get("planes", 10)),
                    max_hamming=int(kv.get("max_hamming", 3)),
                )
            return knn_topk_arrow(
                df, [(int(qid), qvec)],
                query_id="query_id", corpus_id=id_col, vec_col=vec_col, k=k,
            )
        if verb in (
            "media_stats", "media_features", "media_resize", "frame_sample",
            "media_decode", "audio_decode", "audio_resample", "image_stats",
        ):
            from .operators import multimodal as M

            if verb == "media_stats":
                return M.metadata_stats(df)
            if verb == "media_features":
                return M.extract_features(df, dim=int(kv.get("dim", 8)))
            if verb == "media_resize":
                return M.resize_images(
                    df, width=int(kv.get("width", 64)), height=int(kv.get("height", 64))
                )
            if verb == "media_decode":
                return M.decode_images(df)
            if verb == "image_stats":
                # |> image_stats — REAL decoded-pixel statistics: channel
                #   means, integer-BT.601 luma mean, 8-bin luma histogram
                #   (per-row error contract; multimodal.image_stats)
                return M.image_stats(df)
            if verb == "audio_decode":
                # |> audio_decode — REAL WAV/PCM decode + DSP features
                #   (RMS dBFS, peak, zero-crossing rate); per-row error
                #   contract (operators/wav.py, multimodal.decode_audio)
                return M.decode_audio(df)
            if verb == "audio_resample":
                # |> audio_resample [rate=16000] — linear resample,
                #   re-encoded PCM-16 WAV payload out
                return M.resample_audio(df, rate=int(kv.get("rate", 16000)))
            return M.sample_frames(df, every_ms=int(kv.get("every_ms", 1000)))
        if verb == "summarize":
            from .operators.profile import summarize

            return summarize(df)
        col = args.strip() or "text"
        if verb == "lang_id":
            return T.lang_id(df, col)
        if verb == "token_count":
            return T.token_count(df, col)
        if verb == "quality_score":
            return T.quality_score(df, col)
        if verb == "fingerprint":
            return T.fingerprint(df, col)
        if verb == "text_stats":
            return T.with_text_stats(df, col)
        raise PsqlCompileError(f"unknown pipe verb: {verb}")  # pragma: no cover

    def _head_from_clause(self, head: Head, params: dict) -> tuple[DataFrame | None, str]:
        """(source df, FROM-clause core text) for a head stage's source.

        Table and path heads keep their implicit DuckDB name (`from t1 |>
        where exists (… t1.i …)` — a table names itself, a file scan is
        named by its basename stem) so first-stage qualified references
        resolve. A stage alias (`as foo`) replaces it (_apply_stage_sql).
        """
        if head.kind == "path":
            df = self.resolver.resolve(head.source, options=_parse_read_args(head.read_args))
            stem = os.path.splitext(os.path.basename(head.source.rstrip("/")))[0]
            core = f"{{__pipe}} AS {stem}" if stem.isidentifier() else "{__pipe}"
            return df, core
        if head.kind == "stream":
            return self.resolver.resolve_stream(head.source), "{__pipe}"
        if head.kind == "table":
            name = head.source.split(".")[-1].strip('"`')
            core = f"{{__pipe}} AS {name}" if name.isidentifier() else "{__pipe}"
            return self.resolver.table(head.source), core
        # raw SQL source (subquery / table function) — splice, resolving any
        # path literals inside it. Shims see a synthetic FROM so
        # table-function rewrites (generate_series → exploded sequence)
        # know they are in table position.
        fragged = self._frag("from " + head.source, params)
        return None, re.sub(r"(?i)^from\s+", "", fragged, count=1)

    def _apply_stage_sql(
        self, df: DataFrame | None, st: Stage, base_from: str, params: dict
    ) -> tuple[DataFrame, str | None]:
        """Compile one stage over ``base_from`` (usually ``{__pipe}``)."""
        if st.limit is not None:
            m = re.match(r"^\s*([0-9]+(?:\.[0-9]+)?)\s*%\s*$", st.limit.strip())
            if m:
                # DuckDB `LIMIT n%`: a row-fraction limit needs the total
                # count first — two passes on any engine (floor, like DuckDB)
                import dataclasses as _dc

                out, ret_alias = self._apply_stage_sql(
                    df, _dc.replace(st, limit=None), base_from, params
                )
                n = int(out.count() * float(m.group(1)) / 100.0)
                return out.limit(n), ret_alias
        params = dict(params)
        if df is not None:
            params.setdefault("__pipe", df)
        alias = st.alias
        if alias:
            # a stage alias replaces the head's implicit table/path name
            base_from = re.sub(r"^(\{__pipe\}) AS \w+$", r"\1", base_from)
            alias_sql = alias if alias.isidentifier() else f"`{alias.replace(chr(96), chr(96) * 2)}`"
            base_from = f"{base_from} AS {alias_sql}"
            if st.alias_cols:
                base_from += f"({_esc(st.alias_cols)})"

        from_clause = base_from
        dedup_drop: list[str] = []

        if st.joins is not None:
            spec = self._parse_join(st.joins)
            if spec is None:
                jtext, jparams = self._splice_join_paths(st.joins)
                from_clause = f"{base_from} {jtext}"
                params.update(jparams)
                self._pipe_bytes = None
            else:
                how = spec.how_words.lower()
                if "asof" in how or "positional" in how:
                    self._pipe_bytes = None
                    return self._special_join(df, st, spec, alias), None
                right = self._resolve_join_source(spec)
                right, df = self._maybe_broadcast_hint(df, right, spec, how)
                if df is not None:
                    params["__pipe"] = df
                jname = f"__j{next(self._ids)}"
                on_text = spec.on_text
                if (
                    st.select is None
                    and on_text is not None
                    and alias is not None
                    and spec.alias is not None
                ):
                    # B11 ambiguity shim (SURVEY §2.B): same-name equi-join keys
                    # would make later bare references ambiguous in Spark.
                    # Rename right-side keys, join, then drop them — USING-join
                    # semantics, matching the README's observable output
                    # (/root/reference/README.md:27-53).
                    pairs = _same_name_equi_keys(on_text, alias, spec.alias)
                    if pairs is not None and all(c in right.columns for c in pairs):
                        common = [c for c in pairs if df is not None and c in df.columns]
                        if common:
                            renames = {c: f"__psql_r_{c}" for c in common}
                            right = right.withColumnsRenamed(renames)
                            on_text = _rewrite_qualified_cols(on_text, spec.alias, renames)
                            dedup_drop = list(renames.values())
                # DuckDB implicitly names a bare join source: a table/CTE by
                # its (last dotted) name, a file scan by its basename stem —
                # so `join m on t.j = m.mj` must keep `m` addressable.
                ralias_name = spec.alias
                if ralias_name is None and spec.source_kind == "table":
                    ralias_name = spec.source_text.split(".")[-1].strip('"`')
                elif ralias_name is None and spec.source_kind == "path":
                    stem = os.path.splitext(os.path.basename(spec.source_text.rstrip("/")))[0]
                    ralias_name = stem if stem.isidentifier() else None
                ralias = f" AS {ralias_name}" if ralias_name else ""
                if spec.using_text is not None:
                    tail = f" USING ({self._frag(spec.using_text, params)})"
                elif on_text is not None:
                    tail = f" ON {self._frag(on_text, params)}"
                else:
                    tail = ""
                from_clause = (
                    f"{base_from} {spec.how_words} {{{jname}}}{ralias}{tail}"
                )
                params[jname] = right

        if st.pivot is not None:
            spec = st.pivot.strip()
            if spec.lower().startswith("on "):
                # DuckDB simplified form: PIVOT ON col USING agg [GROUP BY …]
                # → df.groupBy().pivot().agg() (Spark enumerates + sorts the
                # distinct values — same ordering DuckDB produces).
                base_df = self._run_sql(f"SELECT * FROM {from_clause}", params)
                out = _dynamic_pivot(base_df, spec)
                params = {"__pipe": out}
                from_clause = "{__pipe}"
            else:
                from_clause = f"{from_clause} PIVOT {self._frag(spec, params)}"
        if st.unpivot is not None:
            from_clause = f"{from_clause} UNPIVOT {self._frag(st.unpivot.strip(), params)}"

        sel = st.select if st.select is not None else "*"

        # GROUPS window frames: Spark has no GROUPS mode. Distance in
        # GROUPS is distance in dense_rank, so a pre-projection computes
        # __drK = dense_rank() over (same partition/order) and the frame
        # becomes RANGE over __drK — exact for every bound combination.
        if (
            st.group_by is None
            and st.having is None
            and "exclude" in sel.lower()
            and re.search(r"(?is)\bover\s*\(", sel)
        ):
            # Window EXCLUDE must rewrite BEFORE the GROUPS pass below:
            # (a) EXCLUDE over a GROUPS frame — the GROUPS pass bails on
            # EXCLUDE, so without this ordering the raw GROUPS clause
            # reaches Spark's parser (opaque error); (b) min/max EXCLUDE
            # GROUP/TIES emits NEW GROUPS frames (peer-group frame split)
            # that only the pass below can translate. Idempotent: the
            # fragment-level apply_shims re-run finds no EXCLUDE left.
            from .functions.shims import _rewrite_window_exclude

            sel = _rewrite_window_exclude(sel)
        if (
            st.group_by is None
            and st.having is None
            and re.search(r"(?is)\bgroups\s+(between|\d|unbounded|current)", sel)
        ):
            gr = _rewrite_groups_frames(sel)
            if gr is not None:
                new_sel, dr_specs = gr
                base_cols = self._run_sql(
                    f"SELECT * FROM {from_clause}", dict(params)
                ).columns
                inner_parts = [
                    "SELECT "
                    + ", ".join(f"`{c}`" for c in base_cols)
                    + ", "
                    + ", ".join(
                        f"{self._frag(e, params)} AS {n}" for e, n in dr_specs
                    )
                    + f" FROM {from_clause}"
                ]
                if st.where:
                    conj = " AND ".join(
                        _paren_pred(self._frag(w, params)) for w in st.where
                    )
                    inner_parts.append(f"WHERE {conj}")
                inner_df = self._run_sql(" ".join(inner_parts), params)
                params = {"__g": inner_df}
                from_clause = "{__g}"
                sel = new_sel
                import dataclasses as _dc

                st = _dc.replace(st, where=[])

        sm = _parse_star_modifiers(sel)
        if sm is not None:
            distinct_kw, exclude, replace, rest, rename_src = sm
            # schema probe: driver-side analysis only, nothing executes
            cols = self._run_sql(f"SELECT * FROM {from_clause}", dict(params)).columns
            lc = {c.lower(): c for c in cols}
            renames = {old.lower() for old in rename_src}
            for name in exclude + list(rename_src):
                if name.lower() not in lc:
                    raise PsqlCompileError(
                        f'star modifier references unknown column "{name}"'
                    )
            drop = {c.lower() for c in exclude}
            # REPLACE keys by target column (must exist); RENAME entries key
            # by their source column and emit the new output name
            rep: dict[str, tuple[str, str]] = {}
            for e, c in replace:
                src = e.strip().strip("`") if e.strip().strip("`").lower() in renames else c
                if src.lower() not in lc:
                    raise PsqlCompileError(
                        f'star modifier references unknown column "{src}"'
                    )
                rep[src.lower()] = (e, c)
            items = []
            for c in cols:
                if c.lower() in drop:
                    continue
                if c.lower() in rep:
                    e, out_name = rep[c.lower()]
                    items.append(f"({e}) AS `{out_name}`")
                else:
                    items.append(f"`{c}`")
            sel = distinct_kw + ", ".join(items) + (", " + rest if rest.strip() else "")

        if _COLUMNS_CALL.search(sel):
            cols = self._run_sql(f"SELECT * FROM {from_clause}", dict(params)).columns
            expanded = _expand_columns_calls(sel, cols)
            if expanded is not None:
                sel = expanded

        don = _parse_distinct_on(sel)
        if don is not None:
            # DuckDB DISTINCT ON (keys) → row_number window rewrite (Spark
            # has no DISTINCT ON): first row per key group, picked by the
            # stage's ORDER BY when present (DuckDB semantics), else by the
            # keys themselves for determinism.
            keys, rest = don
            if st.group_by is not None:
                raise PsqlCompileError("DISTINCT ON cannot be combined with GROUP BY")
            pick_order = st.order_by if st.order_by is not None else keys
            inner = [
                f"SELECT *, row_number() OVER (PARTITION BY {self._frag(keys, params)} "
                f"ORDER BY {_duckdb_null_order(self._frag(pick_order, params))}) AS __psql_rn "
                f"FROM {from_clause}"
            ]
            if st.where:
                conj = " AND ".join(_paren_pred(self._frag(w, params)) for w in st.where)
                inner.append(f"WHERE {conj}")
            first = self._run_sql(" ".join(inner), params)
            oparams: dict = {"__don": first}
            outer = [
                f"SELECT {self._frag(rest, oparams)} FROM {{__don}} WHERE __psql_rn = 1"
            ]
            if st.order_by is not None:
                outer.append(
                    f"ORDER BY {_duckdb_null_order(self._frag(st.order_by, oparams))}"
                )
            if st.limit is not None:
                outer.append(f"LIMIT {_esc(st.limit)}")
            if st.offset is not None:
                outer.append(f"OFFSET {_esc(st.offset)}")
            out = self._run_sql(" ".join(outer), oparams)
            if "__psql_rn" in out.columns:
                out = out.drop("__psql_rn")
            return out, None

        if st.group_by is None:
            su = _rewrite_struct_unnest(sel, _struct_fields_hint(params))
            if su is not None:
                sel = su
            sel = _alias_bare_unnests(sel)
            pz = _rewrite_parallel_unnest(sel)
            if pz is not None:
                sel, lateral = pz
                from_clause = f"{from_clause} {self._frag(lateral, params)}"

        parts = [f"SELECT {self._frag(sel, params)} FROM {from_clause}"]
        if st.where:
            conj = " AND ".join(_paren_pred(self._frag(w, params)) for w in st.where)
            parts.append(f"WHERE {conj}")
        if st.group_by is not None:
            parts.append(f"GROUP BY {self._frag(st.group_by, params)}")
        if st.having is not None:
            parts.append(f"HAVING {self._frag(st.having, params)}")
        if st.window is not None:
            parts.append(f"WINDOW {self._frag(st.window, params)}")
        if st.order_by is not None:
            parts.append(
                f"ORDER BY {_duckdb_null_order(self._frag(st.order_by, params))}"
            )
        if st.limit is not None:
            parts.append(f"LIMIT {_esc(st.limit)}")
        if st.offset is not None:
            parts.append(f"OFFSET {_esc(st.offset)}")
        sql_text = " ".join(parts)
        out = self._run_sql(sql_text, params)

        if dedup_drop:
            out = out.drop(*dedup_drop)
        if st.qualify is not None:
            qparams: dict = {"__q": out}
            q = self._run_sql(
                "SELECT *, (" + self._frag(st.qualify, qparams) + ") AS __psql_q FROM {__q}",
                qparams,
            )
            out = q.filter("__psql_q").drop("__psql_q")
        if st.sample is not None:
            out = _apply_sample(out, st.sample)
        if st.setop_tail is not None:
            op_kw, operand = _split_setop_tail(st.setop_tail)
            other = self._compile_query_expr(operand)
            out = _apply_setop(out, op_kw, other)
        return out, None

    # -- join helpers -------------------------------------------------

    def _maybe_broadcast_hint(
        self,
        df: DataFrame | None,
        right: DataFrame,
        spec: _JoinSpec,
        how: str,
    ) -> tuple[DataFrame, DataFrame | None]:
        """Size-aware broadcast hints from the engine's own byte knowledge.

        Catalyst's static estimate for a join SUBTREE multiplies child
        sizes, so a 16 MB region⋈nation⋈supplier chain misses the 10 MB
        broadcast threshold and the planner shuffles the ENTIRE fact
        side by the dimension key — measured on sf10 q05: the engine
        plan exchanged lineitem TWICE (by l_suppkey, then l_orderkey)
        at 8.3s while the equivalent hand plan with the dims broadcast
        ran 6.0s, and DuckDB 1.16s. The engine, unlike Catalyst, knows
        the base bytes of every path it resolved: when one side's
        accumulated base bytes fit spark.psql.broadcastHint.maxBytes
        (0 disables) and the other side is bigger or unknown, mark the
        small side with F.broadcast. Base bytes are a lower bound on
        join-output size, so a subtree under the cap that explodes
        through many-to-many joins could over-broadcast — the cap is
        deliberately conservative (a few percent of executor memory)
        and the conf is the off-switch. Left-side hints only on
        preserved-side-legal join types (inner / right outer).

        Returns (right, df) with hints applied, and updates
        ``_pipe_bytes`` to the post-join estimate (None when either
        side is unknown)."""
        hint_max = self.confs["spark.psql.broadcastHint.maxBytes"]
        left_bytes = self._pipe_bytes
        right_bytes = (
            _path_bytes(spec.source_text)
            if spec.source_kind == "path"
            else None
        )
        if right_bytes is not None and right_bytes <= 0:
            right_bytes = None
        # Hint ONLY the smaller side, and only when the other side is
        # clearly bigger (2x) or unknown — hinting the larger of two
        # broadcastable sides measurably backfired (sf1 q03: broadcasting
        # the 27 MB orders over the 3 MB customer built a 1.5 M-row
        # relation serially, 0.53 -> 1.56 s). The margin came down from
        # 4x in round 9: at sf0.1 q03's customer⋈orders subtree (3.0 MB)
        # vs lineitem (10.8 MB) is 3.6x — under the old guard NEITHER
        # side was hinted and Catalyst, whose join-subtree estimate
        # multiplies child sizes, broadcast-built the 600 k-row LINEITEM
        # side instead (engine 0.60 s vs identical-shape hand plan with
        # the small side broadcast 0.27 s, interleaved same-session).
        # 2x keeps the comparable-sides band (where either choice is
        # fine) unhinted while letting the engine's real byte knowledge
        # overrule Catalyst's multiplied estimate everywhere it is
        # directionally sure.
        asym = 2.0
        left_ok = df is not None and (
            how in ("join", "inner join") or how.startswith("right")
        )
        if hint_max > 0 and "cross" not in how:
            if left_bytes is not None and right_bytes is not None:
                if (
                    left_bytes <= right_bytes
                    and left_bytes <= hint_max
                    and right_bytes >= asym * left_bytes
                    and left_ok
                ):
                    df = F.broadcast(df)
                elif (
                    right_bytes < left_bytes
                    and right_bytes <= hint_max
                    and left_bytes >= asym * right_bytes
                ):
                    right = F.broadcast(right)
            elif right_bytes is not None and right_bytes <= hint_max:
                right = F.broadcast(right)
            elif (
                right_bytes is None
                and left_bytes is not None
                and 0 < left_bytes <= hint_max
                and left_ok
            ):
                df = F.broadcast(df)
        self._pipe_bytes = (
            left_bytes + right_bytes
            if left_bytes is not None and right_bytes is not None
            else None
        )
        return right, df

    def _parse_join(self, jtext: str) -> _JoinSpec | None:
        """Parse a single-join tail; None → raw splice fallback."""
        toks = tokenize(jtext)
        i = 0
        how: list[str] = []
        while i < len(toks) and toks[i].kind == "word" and toks[i].lower in _JOIN_WORDS:
            how.append(toks[i].text)
            i += 1
            if how[-1].lower() == "join":
                break
        if not how or how[-1].lower() != "join" or i >= len(toks):
            return None
        t = toks[i]
        if t.kind == "word" and t.lower == "lateral":
            # LATERAL subqueries correlate against the left side — they must
            # be spliced into one SQL statement (Spark resolves the
            # correlation natively), not compiled as an independent source.
            return None
        if t.kind == "string":
            kind, src = "path", t.text[1:-1].replace("''", "'")
            i += 1
        elif t.kind in ("word", "qident"):
            j = i
            while (
                j + 2 < len(toks)
                and toks[j + 1].kind == "op"
                and toks[j + 1].text == "."
            ):
                j += 2
            if j + 1 < len(toks) and toks[j + 1].kind == "lparen":
                k = _match_paren(toks, j + 1)
                kind, src = "sql", jtext[t.start : toks[k].end]
                i = k + 1
            else:
                kind, src = "table", jtext[t.start : toks[j].end]
                i = j + 1
        elif t.kind == "lparen":
            k = _match_paren(toks, i)
            kind, src = "sql", jtext[t.start : toks[k].end]
            i = k + 1
        else:
            return None
        alias = None
        if i < len(toks) and toks[i].kind == "word" and toks[i].lower == "as":
            if i + 1 >= len(toks):
                return None
            alias = toks[i + 1].text.strip('"`')
            i += 2
        elif (
            i < len(toks)
            and toks[i].kind in ("word", "qident")
            and toks[i].lower not in ("on", "using")
        ):
            alias = toks[i].text.strip('"`')
            i += 1
        on_text = using_text = None
        if i < len(toks) and toks[i].kind == "word" and toks[i].lower == "on":
            on_text = jtext[toks[i].end :].strip()
            i = len(toks)
        elif i < len(toks) and toks[i].kind == "word" and toks[i].lower == "using":
            if i + 1 < len(toks) and toks[i + 1].kind == "lparen":
                k = _match_paren(toks, i + 1)
                using_text = jtext[toks[i + 1].end : toks[k].start]
                i = k + 1
        if i < len(toks) and on_text is None and using_text is None:
            return None  # trailing tokens we don't understand → raw splice
        return _JoinSpec(" ".join(how), kind, src, alias, on_text, using_text)

    def _resolve_join_source(self, spec: _JoinSpec) -> DataFrame:
        if spec.source_kind == "path":
            return self.resolver.resolve(spec.source_text)
        if spec.source_kind == "table":
            return self.resolver.table(spec.source_text)
        # a subquery side recursively compiles (and resets) the pipe-bytes
        # estimate — preserve the OUTER chain's estimate across it
        outer = self._pipe_bytes
        try:
            return self._compile_query_expr(spec.source_text)
        finally:
            self._pipe_bytes = outer

    def _splice_join_paths(self, jtext: str) -> tuple[str, dict]:
        """Raw-splice fallback: substitute path literals after FROM/JOIN."""
        params: dict[str, DataFrame] = {}
        return self._frag(jtext, params), params

    def _special_join(
        self, df: DataFrame, st: Stage, spec: _JoinSpec, alias: str | None
    ) -> DataFrame:
        from .operators.asof import asof_join
        from .operators.positional import positional_join

        right = self._resolve_join_source(spec)
        how = spec.how_words.lower()
        if "positional" in how:
            out = positional_join(df, right)
        else:
            out = asof_join(
                df, right,
                on_text=spec.on_text or "",
                left_alias=alias or "l",
                right_alias=spec.alias or "r",
                how="left" if "left" in how else "inner",
            )
        residual = Stage(
            select=st.select, where=st.where, group_by=st.group_by, having=st.having,
            qualify=st.qualify, window=st.window, order_by=st.order_by,
            limit=st.limit, offset=st.offset, sample=st.sample,
            setop_tail=st.setop_tail,
        )
        if residual == Stage():
            return out
        return self._apply_stage_sql(out, residual, "{__pipe}", {"__pipe": out})[0]


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _split_top_commas(text: str) -> list[str]:
    toks = tokenize(text)
    items: list[str] = []
    depth = 0
    start = 0
    for t in toks:
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "comma":
            items.append(text[start : t.start])
            start = t.end
    items.append(text[start:])
    return items


def _zip_field_name(expr: str, pos: int) -> str:
    """Predict arrays_zip's struct field name for one input expression:
    a bare/qualified identifier chain keeps its last segment's name,
    anything else is named by its position index."""
    toks = tokenize(expr)
    if toks and len(toks) % 2 == 1 and all(
        t.kind in ("word", "qident") if i % 2 == 0 else (t.kind == "op" and t.text == ".")
        for i, t in enumerate(toks)
    ):
        last = toks[-1].text
        if last.startswith('"'):
            return last[1:-1].replace('""', '"')
        if last.startswith("`"):
            return last[1:-1].replace("``", "`")
        return last
    return str(pos)


def _struct_expr_fields(expr: str) -> list[str] | None:
    """Field names of a syntactically-evident struct constructor.

    Handles ``{'k': v, …}`` literals, ``struct_pack(k := v)``,
    ``named_struct('k', v)``, and ``struct(v as k)``. Returns None when
    the expression's fields aren't derivable from syntax (e.g. a plain
    struct-typed column — DuckDB's unnest-struct on those stays a
    documented divergence since text rewriting can't see the schema).
    """
    e = expr.strip()

    def _top_items(body: str) -> list[str] | None:
        items, depth, cur, i, q = [], 0, [], 0, None
        while i < len(body):
            c = body[i]
            if q:
                if c == q:
                    q = None
                cur.append(c)
            elif c in "'\"":
                q = c
                cur.append(c)
            elif c in "([{":
                depth += 1
                cur.append(c)
            elif c in ")]}":
                depth -= 1
                cur.append(c)
            elif c == "," and depth == 0:
                items.append("".join(cur).strip())
                cur = []
            else:
                cur.append(c)
            i += 1
        if q or depth != 0:
            return None
        items.append("".join(cur).strip())
        return [x for x in items if x]

    if e.startswith("{") and e.endswith("}"):
        items = _top_items(e[1:-1])
        if not items:
            return None
        keys = []
        for it in items:
            m = re.match(r"^'((?:[^']|'')*)'\s*:", it)
            if not m:
                return None
            keys.append(m.group(1).replace("''", "'"))
        return keys
    m = re.match(r"(?is)^(struct_pack|named_struct|struct|row)\s*\(", e)
    if not m or not e.endswith(")"):
        return None
    head = m.group(1).lower()
    items = _top_items(e[m.end():-1])
    if not items:
        return None
    if head == "struct_pack":
        keys = []
        for it in items:
            km = re.match(r"^([A-Za-z_]\w*|\"(?:[^\"]|\"\")*\")\s*:=", it)
            if not km:
                return None
            k = km.group(1)
            keys.append(k[1:-1].replace('""', '"') if k.startswith('"') else k)
        return keys
    if head == "named_struct":
        if len(items) % 2:
            return None
        keys = []
        for it in items[0::2]:
            km = re.match(r"^'((?:[^']|'')*)'$", it.strip())
            if not km:
                return None
            keys.append(km.group(1).replace("''", "'"))
        return keys
    # struct(v as k, …) / row(v as k, …)
    keys = []
    for it in items:
        km = re.search(r"(?is)\s+as\s+([A-Za-z_]\w*|\"(?:[^\"]|\"\")*\")\s*$", it)
        if not km:
            return None
        k = km.group(1)
        keys.append(k[1:-1].replace('""', '"') if k.startswith('"') else k)
    return keys


def _struct_fields_hint(params: dict) -> dict[str, list[str]]:
    """lowercase struct-typed column name → its field names, from every
    DataFrame visible to the stage (pipe input + join sides). This is the
    driver-side schema probe that lets ``unnest(<struct COLUMN>)`` expand
    even though the text rewriter can't see types (SURVEY §8.2; same
    machinery class as the ``* EXCLUDE/COLUMNS`` expansion)."""
    from pyspark.sql import types as T

    hint: dict[str, list[str]] = {}
    for v in params.values():
        if isinstance(v, DataFrame):
            for f in v.schema.fields:
                if isinstance(f.dataType, T.StructType):
                    hint.setdefault(f.name.lower(), list(f.dataType.names))
    return hint


def _rewrite_struct_unnest(
    sel: str, schema_hint: dict[str, list[str]] | None = None
) -> str | None:
    """Expand ``unnest(<struct>)`` select items to one output column per
    field (DuckDB's struct-unnest semantics). Fires when the field names
    are syntactically evident (struct constructors) or, for a bare
    struct-typed COLUMN reference, when the input schema hint carries its
    fields; otherwise returns None and the item fails analysis exactly as
    before.
    """
    items = _split_top_commas(sel)
    changed = False
    out: list[str] = []
    for item in items:
        it = tokenize(item)
        if (
            len(it) >= 3
            and it[0].kind == "word"
            and it[0].lower == "unnest"
            and it[1].kind == "lparen"
            and _match_paren_tok(it, 1) == len(it) - 1
        ):
            expr = item[it[1].end : it[-1].start].strip()
            fields = _struct_expr_fields(expr)
            if fields is None and schema_hint:
                # bare (possibly qualified) column reference
                et = tokenize(expr)
                if et and et[-1].kind in ("word", "qident") and all(
                    t.kind in ("word", "qident") or t.text == "." for t in et
                ):
                    fields = schema_hint.get(et[-1].text.strip('"`').lower())
            if fields:
                bt = [f.replace("`", "``") for f in fields]
                out.extend(
                    f"({expr}).`{b}` AS `{b}`" for b in bt
                )
                changed = True
                continue
        out.append(item)
    return ", ".join(out) if changed else None


def _alias_bare_unnests(sel: str) -> str:
    """Alias unaliased whole-item ``unnest(expr)`` select items to
    DuckDB's output column label, ``unnest(<expr text>)`` — Spark would
    otherwise name a lone explode ``col`` and the zip rewrite would name
    by the array column (VERDICT r5 gap 4: values matched, labels
    didn't). Struct-typed unnests are already expanded to per-field
    columns before this runs (DuckDB labels those by field name)."""
    items = _split_top_commas(sel)
    changed = False
    out: list[str] = []
    for item in items:
        it = tokenize(item)
        if (
            len(it) >= 3
            and it[0].kind == "word"
            and it[0].lower == "unnest"
            and it[1].kind == "lparen"
            and _match_paren_tok(it, 1) == len(it) - 1
        ):
            expr = item[it[1].end : it[-1].start].strip()
            label = f"unnest({expr})".replace("`", "``")
            out.append(f"{item.strip()} AS `{label}`")
            changed = True
        else:
            out.append(item)
    return ", ".join(out) if changed else sel


def _rewrite_parallel_unnest(sel: str) -> tuple[str, str] | None:
    """Zip N>=2 ``unnest(expr)`` select items through one generator.

    DuckDB advances parallel unnests positionally, padding shorter arrays
    with NULLs; Spark allows one generator per SELECT. Rewrite:
    ``arrays_zip`` (which pads to the longest) + one LATERAL VIEW explode,
    each unnest item becoming a field access on the zipped struct.
    Returns (new_select_list, lateral_view_suffix), or None when the
    select has fewer than two whole-item unnests (single unnest stays the
    plain explode rename) or an unnest is embedded in a larger expression
    (left to fail analysis exactly as before).
    """
    items = _split_top_commas(sel)
    found: list[tuple[int, str, str | None]] = []  # (item idx, expr, alias)
    for idx, item in enumerate(items):
        it = tokenize(item)
        if not it or it[0].kind != "word" or it[0].lower != "unnest":
            continue
        if len(it) < 2 or it[1].kind != "lparen":
            continue
        close = _match_paren_tok(it, 1)
        if close is None:
            return None
        expr = item[it[1].end : it[close].start].strip()
        rest = it[close + 1 :]
        alias: str | None = None
        if not rest:
            pass
        elif len(rest) == 1 and rest[0].kind in ("word", "qident"):
            alias = rest[0].text
        elif (
            len(rest) == 2
            and rest[0].kind == "word"
            and rest[0].lower == "as"
            and rest[1].kind in ("word", "qident")
        ):
            alias = rest[1].text
        else:
            return None  # unnest embedded in a larger expression
        found.append((idx, expr, alias))
    if len(found) < 2:
        return None
    # dedupe identical exprs (two unnests of the same array share a field)
    uniq: dict[str, int] = {}
    zip_args: list[str] = []
    for _idx, expr, _alias in found:
        if expr not in uniq:
            uniq[expr] = len(zip_args)
            zip_args.append(expr)
    fields = {e: _zip_field_name(e, p) for e, p in uniq.items()}
    if len(set(fields.values())) != len(fields):
        # two DIFFERENT exprs predicted to the same field name (t.a vs
        # u.a) — field access would be ambiguous; keep old behavior
        return None
    out_items = list(items)
    for idx, expr, alias in found:
        f = fields[expr].replace("`", "``")
        if alias is None:
            name = fields[expr] if not fields[expr].isdigit() else f"unnest_{idx}"
            alias_sql = f"`{name.replace(chr(96), chr(96) * 2)}`"
        elif alias.startswith('"'):
            alias_sql = f"`{alias[1:-1].replace(chr(34) * 2, chr(34)).replace(chr(96), chr(96) * 2)}`"
        else:
            alias_sql = alias
        out_items[idx] = f" __psql_z.`{f}` AS {alias_sql}"
    lateral = (
        f"LATERAL VIEW explode(arrays_zip({', '.join(zip_args)})) "
        "__psql_zt AS __psql_z"
    )
    return ",".join(out_items), lateral


def _has_toplevel_comma(src: str) -> bool:
    """True when a FROM-source fragment has a depth-0 comma (comma-join
    list). Commas inside parens — VALUES rows, function args, column
    alias lists like ``t(a, b)`` — are part of ONE source."""
    depth = 0
    for t in tokenize(src):
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif t.kind == "comma" and depth == 0:
            return True
    return False


def _plain_distinct_on_to_pipe(text: str, toks: list[Token]) -> str | None:
    """Rewrite plain ``SELECT DISTINCT ON (keys) sel FROM src [WHERE w]
    [ORDER BY o] [LIMIT n] [OFFSET m]`` to the equivalent pipe form.
    None unless the statement is this simple single-source shape (no
    top-level JOIN / GROUP BY / set ops / trailing clauses we don't
    recognize)."""
    if not (
        len(toks) >= 4
        and toks[1].kind == "word"
        and toks[1].lower == "distinct"
        and toks[2].kind == "word"
        and toks[2].lower == "on"
        and toks[3].kind == "lparen"
    ):
        return None
    # top-level clause positions
    marks: dict[str, int] = {}
    depth = 0
    for j, t in enumerate(toks):
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "word" and j > 0:
            w = t.lower
            if w in ("join", "group", "union", "intersect", "except", "having",
                     "qualify", "window"):
                return None
            if w in ("from", "where", "limit", "offset") and w not in marks:
                marks[w] = j
            elif w == "order" and "order" not in marks and (
                j + 1 < len(toks)
                and toks[j + 1].kind == "word"
                and toks[j + 1].lower == "by"
            ):
                marks["order"] = j
    if "from" not in marks:
        return None
    canonical = ["from", "where", "order", "limit", "offset"]
    present = sorted(marks, key=lambda w: marks[w])
    if [w for w in canonical if w in marks] != present:
        return None
    def span(w: str) -> str:
        j = marks[w]
        nxts = [marks[x] for x in marks if marks[x] > j]
        end = toks[min(nxts)].start if nxts else len(text)
        return text[toks[j].end : end].strip().rstrip(";")
    sel = text[toks[1].start : toks[marks["from"]].start].strip()
    src = span("from")
    if not src or _has_toplevel_comma(src):  # comma-join FROM list
        return None
    parts = [f"from {src}"]
    if "where" in marks:
        parts.append(f"where {span('where')}")
    stage = f"select {sel}"
    if "order" in marks:
        ob = span("order")
        stage += f" order by {ob[2:].strip() if ob.lower().startswith('by') else ob}"
    if "limit" in marks:
        stage += f" limit {span('limit')}"
    if "offset" in marks:
        stage += f" offset {span('offset')}"
    parts.append(stage)
    return " |> ".join(parts)


_STAR_MOD_RE = re.compile(r"(?is)\*\s+(exclude|replace|rename)\s*\(")


def _plain_select_to_pipe(text: str, toks: list[Token]) -> str | None:
    """Route plain SELECTs using DuckDB-only constructs Spark lacks —
    top-level QUALIFY, star modifiers (* EXCLUDE/REPLACE/RENAME), or a
    single POSITIONAL / ASOF join (which Spark would silently misparse:
    the keyword becomes a table alias and the join degrades to a plain
    inner/cross join) — through the pipe machinery that already
    implements them. Same conservative single-source shape as
    _plain_distinct_on_to_pipe (other joins / set ops / comma FROM-lists
    fall through untouched)."""
    marks: dict[str, int] = {}
    depth = 0
    for j, t in enumerate(toks):
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "word" and j > 0:
            w = t.lower
            if w == "join":
                # part of a marked POSITIONAL/ASOF [LEFT] join is fine;
                # any other join shape falls through to Spark
                sj = marks.get("sjoin")
                if sj is None or not all(
                    toks[k].kind == "word"
                    and toks[k].lower in ("left", "join")
                    for k in range(sj + 1, j + 1)
                ):
                    return None
            elif w in ("union", "intersect", "except", "window",
                       "distinct"):
                return None
            elif w in ("positional", "asof") and "sjoin" not in marks and (
                j + 1 < len(toks)
                and toks[j + 1].kind == "word"
                and toks[j + 1].lower in ("join", "left")
            ):
                marks["sjoin"] = j
            elif w in ("from", "where", "having", "qualify", "limit",
                       "offset") and w not in marks:
                marks[w] = j
            elif w in ("group", "order") and w not in marks and (
                j + 1 < len(toks)
                and toks[j + 1].kind == "word"
                and toks[j + 1].lower == "by"
            ):
                marks[w] = j
    if "from" not in marks:
        return None
    sel = text[toks[0].end : toks[marks["from"]].start].strip()
    if (
        "qualify" not in marks
        and "sjoin" not in marks
        and not _STAR_MOD_RE.search(sel)
        and not re.search(r"(?is)\bcolumns\s*\(", sel)
        and not re.search(r"(?is)\blimit\s+[0-9.]+\s*%", text)
        and not re.search(r"(?is)\bgroups\s+(between|\d|unbounded|current)", sel)
        # window EXCLUDE: min/max EXCLUDE GROUP/TIES rewrites into NEW
        # GROUPS frames, so the statement must take the compiled path
        # where the dense-rank GROUPS pass runs after the EXCLUDE rewrite
        and not (
            re.search(r"(?is)\bexclude\b", sel)
            and re.search(r"(?is)\bover\s*\(", sel)
        )
    ):
        return None  # nothing Spark can't parse natively
    canonical = ["from", "sjoin", "where", "group", "having", "qualify",
                 "order", "limit", "offset"]
    present = sorted(marks, key=lambda w: marks[w])
    if [w for w in canonical if w in marks] != present:
        return None

    def span(w: str) -> str:
        j = marks[w]
        nxts = [marks[x] for x in marks if marks[x] > j]
        end = toks[min(nxts)].start if nxts else len(text)
        return text[toks[j].end : end].strip().rstrip(";")

    def by_span(w: str) -> str:
        s = span(w)
        return s[2:].strip() if s.lower().startswith("by") else s

    src = span("from")
    if not src or _has_toplevel_comma(src):
        return None
    parts = [f"from {src}"]
    if "sjoin" in marks:
        # the whole `positional|asof [left] join <src> [on …]` run is a
        # valid pipe join stage verbatim
        j = marks["sjoin"]
        nxts = [marks[x] for x in marks if marks[x] > j]
        end = toks[min(nxts)].start if nxts else len(text)
        parts.append(text[toks[j].start : end].strip().rstrip(";"))
    if "where" in marks:
        parts.append(f"where {span('where')}")
    stage = f"select {sel}"
    if "group" in marks:
        stage += f" group by {by_span('group')}"
    if "having" in marks:
        stage += f" having {span('having')}"
    if "qualify" in marks:
        stage += f" qualify {span('qualify')}"
    if "order" in marks:
        stage += f" order by {by_span('order')}"
    if "limit" in marks:
        stage += f" limit {span('limit')}"
    if "offset" in marks:
        stage += f" offset {span('offset')}"
    parts.append(stage)
    return " |> ".join(parts)


def _merge_source_equi_keys(
    on_cond: str, ta: str, sa: str, s_cols: list[str]
) -> list[str] | None:
    """When a MERGE ON condition is a conjunction of ``t.x = s.y``
    equalities, return the source-side bare key columns (dedup lever);
    None for anything more general."""
    s_lower = {c.lower() for c in s_cols}
    keys: list[str] = []
    for conj in re.split(r"(?is)\band\b", on_cond):
        parts = conj.split("=")
        if len(parts) != 2:
            return None
        side_cols = []
        for part in parts:
            ptoks = tokenize(part.strip())
            # accept `alias . col` or a bare `col`
            if (
                len(ptoks) == 3
                and ptoks[0].kind in ("word", "qident")
                and ptoks[1].kind == "op" and ptoks[1].text == "."
                and ptoks[2].kind in ("word", "qident")
            ):
                side_cols.append(
                    (ptoks[0].text.strip('"`').lower(),
                     ptoks[2].text.strip('"`'))
                )
            elif len(ptoks) == 1 and ptoks[0].kind in ("word", "qident"):
                side_cols.append((None, ptoks[0].text.strip('"`')))
            else:
                return None
        src = [
            c for al, c in side_cols
            if al == sa.lower()
            or (al is None and c.lower() in s_lower)
        ]
        tgt = [
            (al, c) for al, c in side_cols
            if al == ta.lower() or (al is None and c.lower() not in s_lower)
        ]
        if len(src) != 1 or len(tgt) != 1:
            return None
        keys.append(src[0])
    return keys or None


def _sql_literal(v: object) -> str:
    """A Python value as a SQL literal (getvariable / compile-time splice)."""
    import datetime
    import decimal

    if v is None:
        return "cast(null as string)"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        return str(v)
    if isinstance(v, datetime.datetime):
        return f"timestamp '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"date '{v.isoformat()}'"
    return "'" + str(v).replace("'", "''") + "'"


def _rewrite_groups_frames(
    sel: str,
) -> tuple[str, list[tuple[str, str]]] | None:
    """Rewrite ``over (partition by P order by O groups <frame>)`` into
    ``over (partition by P order by __drK range <frame>)`` plus the
    dense_rank pre-projections ``__drK = dense_rank() over (partition by
    P order by O)``. GROUPS distance IS dense_rank distance, so the
    mapping is exact for every bound combination; direction is inherited
    because __drK is computed over the original order spec. Returns None
    (caller falls through) for bare ``*`` select lists, EXCLUDE clauses,
    or GROUPS without ORDER BY."""
    toks = tokenize(sel)
    depth = 0
    for j, t in enumerate(toks):
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "op" and t.text == "*":
            prev = toks[j - 1] if j > 0 else None
            if prev is None or prev.kind == "comma":
                return None  # bare star would leak the __dr columns
    spans: list[tuple[int, int, str]] = []  # (start, end, replacement)
    dr_specs: list[tuple[str, str]] = []
    seen: dict[str, str] = {}
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        if (
            t.kind == "word" and t.lower == "over"
            and i + 1 < n and toks[i + 1].kind == "lparen"
        ):
            close = _match_paren(toks, i + 1)
            inner = toks[i + 2 : close]
            words = [
                k for k, w in enumerate(inner)
                if w.kind == "word"
            ]
            # relative depth-0 keyword positions inside the over()
            d = 0
            marks: dict[str, int] = {}
            for k, w in enumerate(inner):
                if w.kind in ("lparen", "block_open"):
                    d += 1
                elif w.kind in ("rparen", "block_close"):
                    d -= 1
                elif d == 0 and w.kind == "word":
                    lw = w.lower
                    if lw in ("partition", "order", "groups", "exclude") and \
                            lw not in marks:
                        marks[lw] = k
            if "groups" in marks:
                if "exclude" in marks or "order" not in marks:
                    return None
                base = toks[i + 1].end  # text offset of over( content start
                def span_text(frm: int, to: int | None) -> str:
                    start = inner[frm].start
                    end = inner[to].start if to is not None else toks[close].start
                    return sel[start:end].strip()

                part_text = ""
                if "partition" in marks:
                    part_text = span_text(marks["partition"], marks["order"])
                order_text = span_text(marks["order"], marks["groups"])
                frame_text = span_text(marks["groups"], None)
                frame_text = frame_text[len("groups"):].strip() \
                    if frame_text.lower().startswith("groups") else frame_text
                key = f"{part_text}|{order_text}"
                if key in seen:
                    dr = seen[key]
                else:
                    dr = f"__dr{len(dr_specs)}"
                    seen[key] = dr
                    dr_specs.append(
                        (f"dense_rank() over ({part_text} {order_text})", dr)
                    )
                repl = (
                    f"({part_text} order by {dr} range {frame_text})"
                    if part_text
                    else f"(order by {dr} range {frame_text})"
                )
                spans.append((toks[i + 1].start, toks[close].end, repl))
            i = close + 1
            continue
        i += 1
    if not spans:
        return None
    for start, end, repl in sorted(spans, reverse=True):
        sel = sel[:start] + repl + sel[end:]
    return sel, dr_specs


def _has_projection_star(texts: list[str]) -> bool:
    """A ``*`` with no primary before it projects every column (bare
    star / alias.*); ``a * b`` and count(*) do not."""
    from .functions.shims import _ends_primary as _ep

    for txt in texts:
        t2 = re.sub(r"(?is)\bcount\s*\(\s*\*\s*\)", "cnt()", txt)
        toks = tokenize(t2)
        for k, tk in enumerate(toks):
            if tk.kind == "op" and tk.text == "*" and (
                k == 0 or not _ep(toks[k - 1])
                or (toks[k - 1].kind == "op" and toks[k - 1].text == ".")
            ):
                return True
    return False


def _stage_texts(st) -> list[str]:
    """Every raw SQL text fragment a parsed Stage carries."""
    out: list[str] = []
    for v in vars(st).values():
        if isinstance(v, str):
            out.append(v)
        elif isinstance(v, list):
            out.extend(x for x in v if isinstance(x, str))
    return out


def _head_path_bytes(head_text: str) -> int | None:
    """Base bytes of a pipeline head of the simple ``from '<path>' …``
    shape (no joins in the head stage). None when the head is a table,
    subquery, or contains a join — unknown sizes poison the broadcast-
    hint estimate rather than guess."""
    toks = tokenize(head_text)
    if (
        len(toks) >= 2
        and toks[0].kind == "word"
        and toks[0].lower == "from"
        and toks[1].kind == "string"
        and not any(t.kind == "word" and t.lower == "join" for t in toks)
    ):
        b = _path_bytes(toks[1].text[1:-1].replace("''", "'"))
        return b if b > 0 else None
    return None


def _order_sensitive_stmt(stmt: str) -> bool:
    """True when a statement's semantics depend on file row order.

    ``positional join`` zips rows by position and empty-OVER windows
    (``row_number() over ()``-style) number rows in scan order — both
    change results if a scan is replaced by a re-partitioned relation
    (bucketed twin, copartitioned persist). The scale passes must keep
    the raw path for such statements even when the shuffle gate fires
    (a statement can zip a path AND shuffle it downstream)."""
    return bool(
        re.search(r"\bpositional\b|\bover\s*\(\s*\)", stmt, re.IGNORECASE)
    )


def _statement_source_bytes(text: str) -> int:
    """Summed on-disk bytes of the distinct existing path literals in a
    statement's text, or -1 when it has none (views, catalog tables,
    DDL)."""
    paths = set()
    for t in tokenize(text):
        if t.kind == "string":
            p = t.text[1:-1].replace("''", "'")
            if ("/" in p or p.endswith(".parquet")) and os.path.exists(p):
                paths.add(p)
    return sum(_path_bytes(p) for p in paths) if paths else -1


def _path_bytes(path: str) -> int:
    """Total on-disk bytes of a file or directory tree; unreadable files
    count as 0."""
    if os.path.isfile(path):
        try:
            return os.path.getsize(path)
        except OSError:
            return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                continue
    return total


def _scan_read_schemas(plan: str, path: str) -> list[set[str] | None]:
    """Per-FileScan pruned column sets for ``path`` in a physical-plan string.

    ``None`` for a scan whose ReadSchema was truncated by Spark's
    metadata-string limit (caller then keeps all columns). Complex nested
    types can confuse the split; the caller's analysis-failure fallback
    makes that a lost optimization, not a correctness risk.
    """
    out: list[set[str] | None] = []
    for line in plan.splitlines():
        if "FileScan" not in line or path not in line:
            continue
        m = re.search(r"ReadSchema: struct<(.*)", line)
        if m is None:
            out.append(None)
            continue
        body = m.group(1).strip()
        if not body.endswith(">") or "..." in body:
            out.append(None)  # truncated metadata string
            continue
        cols = {
            f.split(":", 1)[0].strip()
            for f in body[:-1].split(",")
            if ":" in f
        }
        out.append(cols or None)
    return out


_SINGLE_KEY_EXCHANGE = re.compile(
    r"Exchange hashpartitioning\((\w+)#\d+L?, \d+\)"
)


def _repeated_exchange_col(plan: str, file_cols: list[str]) -> str | None:
    """Column of ``file_cols`` that >=2 single-key hash exchanges key on.

    If the statement's plan shuffles on the same single column two or
    more times (q21-class: base join + semi probe + anti probe all
    exchange on l_orderkey), the shared persisted base is worth an even
    re-cluster on that column before caching (see the caller for why
    this wins under AQE). Name-based attribution (the column must belong
    to the reused file) is a heuristic, but a wrong pick costs one extra
    exchange on a relation the statement already scans repeatedly — a
    bounded perf risk, never correctness.
    """
    counts = collections.Counter(
        m.group(1) for m in _SINGLE_KEY_EXCHANGE.finditer(plan)
    )
    eligible = [
        (n, c) for c, n in counts.items() if n >= 2 and c in file_cols
    ]
    return max(eligible)[1] if eligible else None


def _split_top_and(text: str) -> list[str]:
    """Split a predicate on depth-0 AND (conjunction only — a depth-0
    OR makes the whole body one residual-unfriendly pred → [])."""
    toks = tokenize(text)
    depth = 0
    parts: list[str] = []
    start = 0
    for t in toks:
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "word":
            if t.lower == "and":
                parts.append(text[start : t.start])
                start = t.end
            elif t.lower in ("or", "not"):
                # top-level OR/NOT: not a plain conjunction; treat the
                # whole body as one residual predicate
                return [text]
    parts.append(text[start:])
    return [p for p in parts if p.strip()]


def _match_paren(tokens: list[Token], open_i: int) -> int:
    d = 0
    for k in range(open_i, len(tokens)):
        if tokens[k].kind in ("lparen", "block_open"):
            d += 1
        elif tokens[k].kind in ("rparen", "block_close"):
            d -= 1
            if d == 0:
                return k
    raise PsqlParseError('syntax error at or near "("')


def _is_fully_parenthesized(text: str) -> bool:
    toks = tokenize(text)
    if len(toks) < 2 or toks[0].kind != "lparen":
        return False
    return _match_paren(toks, 0) == len(toks) - 1


_QUERY_HEAD_WORDS = {"select", "from", "with", "values", "table"}


def _starts_query(toks: list[Token], i: int) -> bool:
    """True if tokens from i look like the start of a query expression."""
    if i >= len(toks):
        return False
    t = toks[i]
    if t.kind == "word":
        return t.lower in _QUERY_HEAD_WORDS
    if t.kind in ("lparen", "block_open"):
        return _starts_query(toks, i + 1)
    return False


def _split_setops(text: str, toks: list[Token]) -> list[tuple[str | None, str]] | None:
    """Split on top-level UNION/INTERSECT/EXCEPT; None if there are none.

    Guarded so ``SELECT * EXCEPT (col)`` projection syntax is not mistaken
    for a set operation: the right side must start a query expression.
    """
    depths = depth_map(toks)
    cuts: list[tuple[int, int, str]] = []  # (start, end, op words)
    i = 0
    while i < len(toks):
        t = toks[i]
        if depths[i] == 0 and t.kind == "word" and t.lower in ("union", "intersect", "except"):
            words = [t.lower]
            j = i + 1
            while j < len(toks) and toks[j].kind == "word" and toks[j].lower in ("all", "by", "name", "distinct"):
                words.append(toks[j].lower)
                j += 1
            if not _starts_query(toks, j):
                i += 1
                continue
            cuts.append((t.start, toks[j - 1].end, " ".join(words)))
            i = j
        else:
            i += 1
    if not cuts:
        return None
    parts: list[tuple[str | None, str]] = []
    pos = 0
    prev_op: str | None = None
    for s, e, op in cuts:
        parts.append((prev_op, text[pos:s].strip()))
        prev_op = op
        pos = e
    parts.append((prev_op, text[pos:].strip()))
    return parts


def _split_setop_tail(tail: str) -> tuple[str, str]:
    toks = tokenize(tail)
    words = [tail[toks[0].start : toks[0].end].lower()]
    j = 1
    while j < len(toks) and toks[j].kind == "word" and toks[j].lower in ("all", "by", "name", "distinct"):
        words.append(toks[j].lower)
        j += 1
    operand = tail[toks[j].start :] if j < len(toks) else ""
    return " ".join(words), operand


def _split_setop_trailing(text: str) -> tuple[str, str]:
    """Split a set operation's final operand into (branch body, trailing
    ORDER BY / LIMIT / OFFSET clauses). The trailing clauses bind to the
    whole set operation per standard SQL — a branch wanting its own must
    be parenthesized (and is then not at depth 0 here)."""
    toks = tokenize(text)
    depths = depth_map(toks)
    for i, t in enumerate(toks):
        if depths[i] != 0 or t.kind != "word" or i == 0:
            continue
        w = t.lower
        if w in ("limit", "offset") or (
            w == "order"
            and i + 1 < len(toks)
            and toks[i + 1].kind == "word"
            and toks[i + 1].lower == "by"
        ):
            return text[: t.start].strip(), text[t.start :].strip().rstrip(";")
    return text, ""


def _apply_setop(df: DataFrame, op: str, other: DataFrame) -> DataFrame:
    op = op.lower().replace("distinct", "").strip()
    if op.startswith("union"):
        by_name = "by name" in op
        all_ = "all" in op
        merged = df.unionByName(other, allowMissingColumns=by_name) if by_name else df.union(other)
        return merged if all_ else merged.dropDuplicates()
    if op.startswith("intersect"):
        return df.intersectAll(other) if "all" in op else df.intersect(other)
    if op.startswith("except"):
        return df.exceptAll(other) if "all" in op else df.subtract(other)
    raise PsqlCompileError(f"unsupported set operation: {op}")


def _paren_pred(frag: str) -> str:
    """Parenthesize a WHERE conjunct — except a lone identifier.

    Spark 4.1's analyzer mis-resolves ``WHERE (x)`` for a bare boolean
    column as a parenthesized subquery and fails with
    ASSIGNMENT_ARITY_MISMATCH (the view's column aliases vs one "source
    expression"). A single identifier needs no precedence protection, so
    emit it bare; everything else keeps the protective parens.
    """
    toks = tokenize(frag)
    if len(toks) == 1 and toks[0].kind in ("word", "qident"):
        return frag
    return f"({frag})"


def _duckdb_null_order(order_text: str) -> str:
    """Append NULLS LAST to ascending sort items without an explicit null
    spec: DuckDB defaults to NULLS LAST for ASC where Spark defaults to
    NULLS FIRST (DESC defaults agree)."""
    toks = tokenize(order_text)
    # split on top-level commas
    items: list[tuple[int, int]] = []
    d = 0
    start = 0
    for t in toks:
        if t.kind in ("lparen", "block_open"):
            d += 1
        elif t.kind in ("rparen", "block_close"):
            d -= 1
        elif t.kind == "comma" and d == 0:
            items.append((start, t.start))
            start = t.end
    items.append((start, len(order_text)))
    out: list[str] = []
    for s, e in items:
        item = order_text[s:e].strip()
        itoks = tokenize(item)
        words = [t.lower for t in itoks if t.kind == "word"]
        if "nulls" in words or (words and words[-1] == "desc"):
            out.append(item)
        else:
            out.append(f"{item} NULLS LAST")
    return ", ".join(out)


def _parse_distinct_on(sel: str) -> tuple[str, str] | None:
    """Split ``distinct on (keys) rest`` → (keys, rest); None otherwise."""
    toks = tokenize(sel)
    if (
        len(toks) < 4
        or toks[0].kind != "word" or toks[0].lower != "distinct"
        or toks[1].kind != "word" or toks[1].lower != "on"
        or toks[2].kind != "lparen"
    ):
        return None
    close = _match_paren(toks, 2)
    keys = sel[toks[2].end : toks[close].start].strip()
    rest = sel[toks[close].end :].strip() or "*"
    return keys, rest


_FRAG_READ_FUNCS = {
    "read_csv", "read_csv_auto", "read_parquet", "parquet_scan",
    "read_json", "read_json_auto", "read_ndjson", "read_ndjson_auto",    "read_text", "read_blob",
}


def _read_func_paths(arg_text: str) -> str | None:
    """First argument of a read_* call → resolver ref: a single string
    path, or a literal ['a','b'] list joined with newlines (the
    resolver's multi-file convention). None when the first arg is
    dynamic (left for Spark to fail on, as before)."""
    toks = tokenize(arg_text)
    if not toks:
        return None
    if toks[0].kind == "string":
        return toks[0].text[1:-1].replace("''", "'")
    # ['a','b'] — or array('a','b'), the shape the bracket rewrite in
    # apply_shims has already produced by the time _frag runs
    lst = None
    if toks[0].kind == "op" and toks[0].text == "[":
        lst = toks[1:]
        closer = "]"
    elif (
        toks[0].kind == "word"
        and toks[0].lower == "array"
        and len(toks) > 1
        and toks[1].kind == "lparen"
    ):
        lst = toks[2:]
        closer = ")"
    if lst is not None:
        paths = []
        for tk in lst:
            if (tk.kind == "op" and tk.text == closer) or tk.kind == "rparen":
                return "\n".join(paths) if paths else None
            if tk.kind == "string":
                paths.append(tk.text[1:-1].replace("''", "'"))
            elif tk.kind != "comma":
                return None
    return None


def _parse_read_args(args: str | None) -> dict[str, str] | None:
    """``read_csv('p', header=true, delim='|')`` tail args → options dict."""
    if not args:
        return None
    toks = tokenize(args)
    parts: list[tuple[int, int]] = []
    d = 0
    start = 0
    for t in toks:
        if t.kind in ("lparen", "block_open") or (t.kind == "op" and t.text == "["):
            d += 1
        elif t.kind in ("rparen", "block_close") or (t.kind == "op" and t.text == "]"):
            d -= 1
        elif t.kind == "comma" and d == 0:
            parts.append((start, t.start))
            start = t.end
    parts.append((start, len(args)))
    opts: dict[str, str] = {}
    for s, e in parts[1:]:  # parts[0] is the path literal (or path list)
        seg = args[s:e].strip()
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        opts[k.strip().strip(":").lower()] = v.strip().strip("'\"")
    return opts or None


def _dynamic_pivot(df: DataFrame, spec: str) -> DataFrame:
    """DuckDB's ``PIVOT … ON col USING agg [GROUP BY keys]`` simplified form.

    Spark needs an explicit IN-list for SQL PIVOT; the DataFrame API's
    two-pass ``groupBy().pivot(col)`` is the exact analogue of DuckDB's
    distinct-value enumeration (both sort the discovered values). The
    distinct scan is a narrow aggregation — safe at scale (bounded by the
    pivot column's cardinality, which any pivot already requires).
    """
    toks = tokenize(spec)
    words = [t.lower if t.kind == "word" else None for t in toks]
    using_i = None
    for k, w in enumerate(words):
        if w == "using":
            using_i = k
            break
    on_end = using_i if using_i is not None else len(toks)
    group_i = None
    for k in range(using_i + 1 if using_i is not None else 1, len(toks) - 1):
        if words[k] == "group" and words[k + 1] == "by":
            group_i = k
            break
    if using_i is None and group_i is not None:
        on_end = group_i
    on_stop = toks[on_end].start if on_end < len(toks) else len(spec)
    on_text = spec[toks[0].end : on_stop].strip()
    # optional value filter: ON col IN (v1, v2, …) pins the output columns
    in_values = None
    otoks = tokenize(on_text)
    if (
        len(otoks) >= 3
        and otoks[1].kind == "word"
        and otoks[1].lower == "in"
        and otoks[2].kind == "lparen"
    ):
        close = _match_paren(otoks, 2)
        in_values = [
            v.strip().strip("'")
            for v in on_text[otoks[2].end : otoks[close].start].split(",")
        ]
        on_text = on_text[: otoks[1].start].strip()
    if group_i is not None:
        agg_text = spec[toks[using_i].end : toks[group_i].start].strip()
        group_cols = [
            c.strip() for c in spec[toks[group_i + 1].end :].split(",") if c.strip()
        ]
    else:
        agg_text = (
            spec[toks[using_i].end :].strip() if using_i is not None
            # DuckDB's USING-less form counts occurrences
            else "count(*)"
        )
        group_cols = [c for c in df.columns if c.lower() != on_text.lower()]
    # `USING agg AS name` → named output columns, matching DuckDB
    agg_parts = agg_text.rsplit(" as ", 1) if " as " in agg_text.lower() else [agg_text]
    agg_col = F.expr(agg_parts[0].strip())
    if len(agg_parts) == 2:
        agg_col = agg_col.alias(agg_parts[1].strip())
    pivoted = (
        df.groupBy(*group_cols).pivot(on_text, in_values).agg(agg_col)
        if in_values is not None
        else df.groupBy(*group_cols).pivot(on_text).agg(agg_col)
    )
    if re.match(r"(?is)^\s*count\s*\(", agg_text):
        # DuckDB count cells are 0 for absent combinations, not NULL
        fixed = set(c.lower() for c in group_cols)
        pivoted = pivoted.select(
            *[
                F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(c)
                if c.lower() not in fixed
                else F.col(f"`{c}`")
                for c in pivoted.columns
            ]
        )
    return pivoted


def _apply_sample(df: DataFrame, sample_text: str) -> DataFrame:
    """``USING SAMPLE n% | n [ROWS] | n PERCENT`` → df.sample / top-k rand.

    DuckDB method wrappers — ``reservoir(spec)``, ``bernoulli(spec)``,
    ``system(spec)`` — unwrap to the inner spec: percentage specs map to
    Bernoulli row sampling either way, and row-count specs use the exact
    rand-ordered top-k (which IS reservoir semantics).
    """
    m = re.match(
        r"(?is)^\s*(reservoir|bernoulli|system)\s*\((.+)\)\s*$", sample_text
    )
    if m:
        sample_text = m.group(2).strip()
    toks = tokenize(sample_text)
    if not toks or toks[0].kind != "number":
        raise PsqlCompileError(f"unsupported sample spec: {sample_text!r}")
    n = float(toks[0].text)
    rest = sample_text[toks[0].end :].strip().lower().lstrip("%").strip()
    is_pct = "%" in sample_text or rest.startswith("percent")
    if is_pct:
        return df.sample(fraction=min(n / 100.0, 1.0), seed=42)
    # N ROWS: reservoir-style — rand-ordered top-k (TakeOrderedAndProject,
    # no full shuffle; heap per partition then merge on driver).
    return df.orderBy(F.rand(seed=42)).limit(int(n))


def _same_name_equi_keys(on_text: str, lalias: str, ralias: str) -> list[str] | None:
    """If cond is a conjunction of ``L.c = R.c`` (same c), return the keys."""
    toks = tokenize(on_text)
    depths = depth_map(toks)
    # split on top-level AND
    pieces: list[list[Token]] = [[]]
    for t, d in zip(toks, depths):
        if d == 0 and t.kind == "word" and t.lower == "and":
            pieces.append([])
        else:
            pieces[-1].append(t)
    keys: list[str] = []
    for p in pieces:
        if len(p) != 7:
            return None
        a, d1, c1, eq, b, d2, c2 = p
        if not (
            a.kind in ("word", "qident") and b.kind in ("word", "qident")
            and d1.text == "." and d2.text == "."
            and eq.kind == "op" and eq.text == "="
            and c1.kind in ("word", "qident") and c2.kind in ("word", "qident")
        ):
            return None
        n1, n2 = c1.text.strip('"`').lower(), c2.text.strip('"`').lower()
        a1, b1 = a.text.strip('"`').lower(), b.text.strip('"`').lower()
        if n1 != n2:
            return None
        if {a1, b1} != {lalias.lower(), ralias.lower()}:
            return None
        keys.append(n1)
    return keys or None


def _rewrite_qualified_cols(on_text: str, ralias: str, renames: dict[str, str]) -> str:
    """Rewrite ``R.c`` → ``R.__psql_r_c`` in a join condition."""
    toks = tokenize(on_text)
    out: list[str] = []
    pos = 0
    for i in range(len(toks) - 2):
        a, dot, c = toks[i], toks[i + 1], toks[i + 2]
        if (
            a.kind in ("word", "qident")
            and a.text.strip('"`').lower() == ralias.lower()
            and dot.text == "."
            and c.kind in ("word", "qident")
            and c.text.strip('"`').lower() in renames
        ):
            out.append(on_text[pos : c.start])
            out.append(renames[c.text.strip('"`').lower()])
            pos = c.end
    out.append(on_text[pos:])
    return "".join(out)
