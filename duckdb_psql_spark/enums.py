"""DuckDB ENUM types as a compile-time expression rewrite.

``CREATE TYPE name AS ENUM (…)`` (duckdb.org/docs/sql/data_types/enum —
delegated-dialect surface per /root/reference/README.md:3) registers a
session type; enum-typed EXPRESSIONS then compile to plain Spark SQL:

* ``expr::name`` / ``cast(expr AS name)`` — membership-validated string
  (invalid literals fail at compile time; invalid runtime values raise
  DuckDB's "Conversion Error: Could not convert string …" through
  ``raise_error``). ``try_cast`` yields NULL instead of raising.
  Anonymous inline enums — ``expr::ENUM('a','b')`` — work without a
  CREATE TYPE.
* ``enum_first/enum_last/enum_range/enum_code/enum_range_boundary`` —
  constants / declaration-position lookups.
* ordering semantics mirror the container's DuckDB (probe-pinned, this
  module's test file): a comparison (or BETWEEN) is POSITIONAL iff every
  operand is enum-typed, otherwise the enum side degrades to VARCHAR
  (lexicographic — what plain strings already do); ``ORDER BY
  expr::name`` sorts by declaration position; ``min/max`` over enum
  operands pick positionally and return the VALUE (``least/greatest``
  degrade to VARCHAR — probe-pinned container behavior);
  ``arg_min/arg_max`` rank BY the position.

Scope boundary (loud, documented): enum-typed TABLE COLUMNS — ``CREATE
TABLE t (m mood)`` — are rejected with a pointer to explicit casts; a
stored column would lose its enum-ness in the string carrier and
silently sort lexicographically, and silent divergence is worse than a
missing feature. Parquet has no enum type, so lake data never hits this.

Everything emitted is whole-stage-codegen Spark SQL (``array_position``
over a literal array, CASE, ``element_at``) — zero execution-time cost
at any scale; the arrays are a handful of literals, never data-sized.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .errors import PsqlCompileError
from .lexer import Token, lex

_MARK = re.compile(r"__enum([vtpq])_(\d+)__")

_RESERVED_TYPE_NAMES = frozenset(
    "int integer bigint smallint tinyint hugeint utinyint usmallint uinteger "
    "ubigint varchar text string char float double real decimal numeric "
    "boolean bool date time timestamp timestamptz timestamp_ns timestamp_ms "
    "timestamp_s interval blob binary bytea bit uuid json enum struct list "
    "map union array row".split()
)


@dataclass(frozen=True)
class EnumType:
    name: str  # lowercase registered name ('' for anonymous inline)
    values: tuple[str, ...]


# ---------------------------------------------------------------------------
# DDL parsing
# ---------------------------------------------------------------------------

def parse_create_type(stmt: str) -> tuple[EnumType, bool] | None:
    """``CREATE [OR REPLACE] TYPE name AS ENUM ('v' [, …])`` → (type,
    replace); None when the statement is not a CREATE TYPE."""
    toks = lex(stmt)
    words = [t.lower if t.kind == "word" else t.kind for t in toks]
    if not words or words[0] != "create":
        return None
    i = 1
    replace = False
    if words[1:3] == ["or", "replace"]:
        replace = True
        i = 3
    if i >= len(toks) or toks[i].lower != "type":
        return None
    i += 1
    if i >= len(toks) or toks[i].kind not in ("word", "qident"):
        raise PsqlCompileError("CREATE TYPE: expected a type name")
    name = toks[i].text.strip('"').lower()
    if name in _RESERVED_TYPE_NAMES:
        # a registered enum named 'int' would hijack every ::int cast
        raise PsqlCompileError(
            f"CREATE TYPE: {name!r} is a built-in type name"
        )
    i += 1
    if i + 1 >= len(toks) or toks[i].lower != "as" or toks[i + 1].lower != "enum":
        raise PsqlCompileError(
            "CREATE TYPE: only AS ENUM (…) types are supported "
            "(struct/union CREATE TYPE stays a loud boundary)"
        )
    i += 2
    if i >= len(toks) or toks[i].kind != "lparen":
        raise PsqlCompileError("CREATE TYPE … AS ENUM: expected '('")
    vals: list[str] = []
    j = i + 1
    while j < len(toks) and toks[j].kind != "rparen":
        if toks[j].kind == "string":
            vals.append(toks[j].text[1:-1].replace("''", "'"))
        elif toks[j].kind != "comma":
            raise PsqlCompileError(
                f"CREATE TYPE … AS ENUM: expected string literal, got "
                f"{toks[j].text!r}"
            )
        j += 1
    if not vals:
        raise PsqlCompileError("CREATE TYPE … AS ENUM: empty value list")
    if len(set(vals)) != len(vals):
        raise PsqlCompileError(
            f"CREATE TYPE {name}: duplicate enum values"
        )
    return EnumType(name, tuple(vals)), replace


def parse_drop_type(stmt: str) -> tuple[str, bool] | None:
    m = re.match(
        r"(?is)^\s*drop\s+type\s+(if\s+exists\s+)?([\w\"]+)\s*;?\s*$", stmt
    )
    if not m:
        return None
    return m.group(2).strip('"').lower(), bool(m.group(1))


# ---------------------------------------------------------------------------
# expression rewrite
# ---------------------------------------------------------------------------

def _arr(e: EnumType) -> str:
    return "array(" + ", ".join("'" + v.replace("'", "''") + "'" for v in e.values) + ")"


def _lit_value(tok_text: str) -> str:
    return tok_text[1:-1].replace("''", "'")


class _Rewriter:
    """One statement's enum rewrite. Markers carry an index into
    ``self.types`` so anonymous inline enums ride the same machinery as
    registered names: ``__enum<kind>_<idx>__(inner)`` with kind v=value,
    t=try-value, p=position, q=try-position."""

    def __init__(self, enums: dict[str, EnumType]):
        self.enums = enums
        self.types: list[EnumType] = []
        self.depths: list[int] = []

    def _mark(self, kind: str, idx: int, inner: str) -> str:
        return f"__enum{kind}_{idx}__({inner})"

    def _intern(self, e: EnumType, inner: str = "") -> int:
        # nesting depth: each level splices its operand into the CASE
        # several times (~4x growth per level) — cap it BEFORE the
        # resolve pass starts re-tokenizing megabyte strings
        depth = 1 + max(
            (self.depths[int(m.group(2))] for m in _MARK.finditer(inner)),
            default=0,
        )
        if depth > 6:
            raise PsqlCompileError(
                "enum casts nested more than 6 deep are not supported "
                "(each level multiplies the compiled expression ~4x)"
            )
        self.types.append(e)
        self.depths.append(depth)
        return len(self.types) - 1

    # -- pass A: casts → markers ------------------------------------------

    def _inline_enum(self, sql: str, toks: list[Token], i: int) -> tuple[EnumType, int] | None:
        """tokens[i] == word 'enum' followed by ('a','b') → (type, close)."""
        if i + 1 >= len(toks) or toks[i + 1].kind != "lparen":
            return None
        from .functions.shims import _match_paren_tok

        close = _match_paren_tok(toks, i + 1)
        vals = [
            _lit_value(t.text)
            for t in toks[i + 2 : close]
            if t.kind == "string"
        ]
        if not vals:
            return None
        return EnumType("", tuple(vals)), close

    def casts_to_markers(self, sql: str) -> str:
        from .functions.shims import _match_paren_tok, _primary_start

        while True:
            toks = lex(sql)
            done = True
            for i, t in enumerate(toks):
                # expr::name  /  expr::ENUM('a','b')
                if (
                    t.kind == "op"
                    and t.text == "::"
                    and i > 0
                    and i + 1 < len(toks)
                    and toks[i + 1].kind == "word"
                ):
                    nm = toks[i + 1].lower
                    etype = None
                    end = i + 1
                    if nm == "enum":
                        hit = self._inline_enum(sql, toks, i + 1)
                        if hit:
                            etype, end = hit
                    elif nm in self.enums:
                        etype = self.enums[nm]
                    if etype is None:
                        continue
                    start = _primary_start(toks, i - 1)
                    if start is None:
                        continue
                    inner = sql[toks[start].start : t.start].strip()
                    idx = self._intern(etype, inner)
                    sql = (
                        sql[: toks[start].start]
                        + self._mark("v", idx, inner)
                        + sql[toks[end].end :]
                    )
                    done = False
                    break
                # cast(expr AS name) / try_cast(expr AS name)
                if (
                    t.kind == "word"
                    and t.lower in ("cast", "try_cast")
                    and i + 1 < len(toks)
                    and toks[i + 1].kind == "lparen"
                ):
                    close = _match_paren_tok(toks, i + 1)
                    inner_txt = sql[toks[i + 1].end : toks[close].start]
                    m = re.match(
                        r"(?is)^(.*\S)\s+as\s+([\w\"]+)\s*(\(\s*'.*)?$",
                        inner_txt,
                    )
                    if not m:
                        continue
                    tn = m.group(2).strip('"').lower()
                    etype = None
                    if tn == "enum" and m.group(3):
                        vals = tuple(
                            _lit_value(tt.text)
                            for tt in lex(m.group(3))
                            if tt.kind == "string"
                        )
                        if vals:
                            etype = EnumType("", vals)
                    elif tn in self.enums and not m.group(3):
                        etype = self.enums[tn]
                    if etype is None:
                        continue
                    idx = self._intern(etype, m.group(1))
                    kind = "v" if t.lower == "cast" else "t"
                    sql = (
                        sql[: t.start]
                        + self._mark(kind, idx, m.group(1))
                        + sql[toks[close].end :]
                    )
                    done = False
                    break
            if done:
                return sql

    # -- pass B: enum_* functions ------------------------------------------

    def _marker_type(self, text: str) -> EnumType | None:
        m = _MARK.search(text)
        return self.types[int(m.group(2))] if m else None

    def _to_positional(self, text: str) -> str:
        """Flip every value-form marker in ``text`` to position form."""
        return _MARK.sub(
            lambda m: "__enum"
            + {"v": "p", "t": "q", "p": "p", "q": "q"}[m.group(1)]
            + f"_{m.group(2)}__",
            text,
        )

    def enum_functions(self, sql: str) -> str:
        from .functions.shims import _match_paren_tok

        fns = (
            "enum_first", "enum_last", "enum_range", "enum_code",
            "enum_range_boundary",
        )
        while True:
            toks = lex(sql)
            done = True
            for i, t in enumerate(toks):
                if not (
                    t.kind == "word"
                    and t.lower in fns
                    and i + 1 < len(toks)
                    and toks[i + 1].kind == "lparen"
                ):
                    continue
                close = _match_paren_tok(toks, i + 1)
                inner = sql[toks[i + 1].end : toks[close].start]
                et = self._marker_type(inner)
                if et is None:
                    raise PsqlCompileError(
                        f"{t.lower}: argument must be an enum-typed "
                        "expression (e.g. NULL::mood)"
                    )
                if t.lower == "enum_first":
                    repl = "'" + et.values[0].replace("'", "''") + "'"
                elif t.lower == "enum_last":
                    repl = "'" + et.values[-1].replace("'", "''") + "'"
                elif t.lower == "enum_range":
                    repl = _arr(et)
                elif t.lower == "enum_code":
                    repl = f"cast(({self._to_positional(inner)}) - 1 as int)"
                else:  # enum_range_boundary(lo, hi): compile-time bounds
                    from .functions.shims import _split_args

                    args = _split_args(inner)
                    if len(args) != 2:
                        raise PsqlCompileError(
                            "enum_range_boundary takes two arguments"
                        )
                    bounds = []
                    for a in args:
                        a = a.strip()
                        if a.lower() == "null":
                            bounds.append(None)
                            continue
                        am = _MARK.search(a)
                        lit = re.fullmatch(
                            r"__enum[vtpq]_\d+__\(\s*('(?:[^']|'')*')\s*\)",
                            a,
                        )
                        if not (am and lit):
                            raise PsqlCompileError(
                                "enum_range_boundary bounds must be NULL "
                                "or enum-cast string literals"
                            )
                        v = _lit_value(lit.group(1))
                        if v not in et.values:
                            raise PsqlCompileError(
                                f"Conversion Error: Could not convert "
                                f"string '{v}' to "
                                f"ENUM{tuple(et.values)!r}"
                            )
                        bounds.append(et.values.index(v))
                    lo = bounds[0] if bounds[0] is not None else 0
                    hi = (
                        bounds[1]
                        if bounds[1] is not None
                        else len(et.values) - 1
                    )
                    sel = et.values[lo : hi + 1]
                    repl = (
                        "array("
                        + ", ".join(
                            "'" + v.replace("'", "''") + "'" for v in sel
                        )
                        + ")"
                    )
                sql = sql[: t.start] + repl + sql[toks[close].end :]
                done = False
                break
            if done:
                return sql

    # -- pass C: comparisons / BETWEEN / ORDER BY / extreme aggregates ------

    def _select_alias_for(
        self, before: str, et: EnumType | None, inner: str
    ) -> str | None:
        """Output alias of a select item that is exactly this enum cast
        (same value list, same operand text) — ``x::mood AS m`` makes the
        later ``ORDER BY x::mood`` resolvable only through ``m`` once a
        GROUP BY projects the input columns away."""
        if et is None:
            return None
        want = re.sub(r"\s+", "", inner)
        for m in re.finditer(
            r"__enum[vt]_(\d+)__\(([^()]*)\)\s+as\s+(\w+)", before, re.I
        ):
            if (
                self.types[int(m.group(1))].values == et.values
                and re.sub(r"\s+", "", m.group(2)) == want
            ):
                return m.group(3)
        return None

    def _is_marker_primary(self, text: str) -> bool:
        t = text.strip()
        # strip balanced wrapper parens: ('x'::mood) parses as a
        # parenthesized primary (round-10 fuzz find — the positional
        # comparison rewrite missed it and fell back to lexicographic)
        while t.startswith("(") and t.endswith(")"):
            depth = 0
            wrapper = True
            for k, ch in enumerate(t):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0 and k != len(t) - 1:
                        wrapper = False
                        break
            if not wrapper:
                break
            t = t[1:-1].strip()
        m = re.match(r"__enum[vtpq]_\d+__\(", t)
        if not m:
            return False
        # the marker's opening paren must close at the very end —
        # a greedy fullmatch would accept __enumv_0__(x) || (y)
        depth = 0
        k = m.end() - 1
        while k < len(t):
            ch = t[k]
            if ch == "'":
                k += 1
                while k < len(t):
                    if t[k] == "'":
                        if k + 1 < len(t) and t[k + 1] == "'":
                            k += 2
                            continue
                        break
                    k += 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    return k == len(t) - 1
            k += 1
        return False

    def positional_contexts(self, sql: str) -> str:
        from .functions.shims import (
            _match_paren_tok,
            _primary_end,
            _primary_start,
        )

        # The comparison and BETWEEN passes feed each other: a mixed
        # BETWEEN expands into >=/<= pairs whose enum-enum sides then
        # need the comparison rule (round-10 review find: running each
        # pass once left the expansion's pairs lexicographic). Iterate
        # the pair to fixpoint before the ORDER BY/aggregate passes.
        while True:
            before_round = sql
            sql = self._pass_comparisons(sql)
            sql = self._pass_between(sql)
            if sql == before_round:
                break
        return self._pass_orderby_and_aggs(sql)

    def _pass_comparisons(self, sql: str) -> str:
        from .functions.shims import _primary_end, _primary_start

        # comparisons: positional iff BOTH sides are enum-typed (probe-
        # pinned: enum-vs-varchar degrades to lexicographic — the value
        # form already IS a string, so only the both-enum case rewrites)
        while True:
            toks = lex(sql)
            done = True
            for i, t in enumerate(toks):
                if not (
                    t.kind == "op" and t.text in ("<", "<=", ">", ">=")
                ):
                    continue
                if i == 0 or i + 1 >= len(toks):
                    continue
                ls = _primary_start(toks, i - 1)
                re_ = _primary_end(toks, i + 1)
                if ls is None or re_ is None:
                    continue
                lhs = sql[toks[ls].start : t.start]
                rhs = sql[toks[i + 1].start : toks[re_].end]
                if self._is_marker_primary(lhs) and self._is_marker_primary(
                    rhs
                ):
                    new_l = self._to_positional(lhs)
                    new_r = self._to_positional(rhs)
                    if new_l != lhs or new_r != rhs:
                        sql = (
                            sql[: toks[ls].start]
                            + new_l
                            + sql[t.start : toks[i + 1].start]
                            + new_r
                            + sql[toks[re_].end :]
                        )
                        done = False
                        break
            if done:
                return sql

    def _pass_between(self, sql: str) -> str:
        # BETWEEN: subject/lo/hi all enum-typed → positional; NOT BETWEEN
        # keeps its negation (round-10 review find: the subject primary
        # must be taken from BEFORE the 'not' token)
        while True:
            toks = lex(sql)
            done = True
            for i, t in enumerate(toks):
                if not (t.kind == "word" and t.lower == "between"):
                    continue
                from .functions.shims import _primary_end, _primary_start

                negated = (
                    i > 0
                    and toks[i - 1].kind == "word"
                    and toks[i - 1].lower == "not"
                )
                subj_j = i - 2 if negated else i - 1
                ls = _primary_start(toks, subj_j) if subj_j >= 0 else None
                if ls is None or i + 1 >= len(toks):
                    continue
                lo_end = _primary_end(toks, i + 1)
                if lo_end is None or lo_end + 1 >= len(toks):
                    continue
                if not (
                    toks[lo_end + 1].kind == "word"
                    and toks[lo_end + 1].lower == "and"
                ):
                    continue
                hi_end = _primary_end(toks, lo_end + 2)
                if hi_end is None:
                    continue
                subj_end = toks[i - 2].end if negated else t.start
                subj = sql[toks[ls].start : subj_end]
                lo = sql[toks[i + 1].start : toks[lo_end].end]
                hi = sql[toks[lo_end + 2].start : toks[hi_end].end]
                parts = [subj, lo, hi]
                if not any(self._is_marker_primary(p) for p in parts):
                    continue
                kw = " not between " if negated else " between "
                if all(self._is_marker_primary(p) for p in parts):
                    if all(
                        _MARK.search(p).group(1) in ("p", "q") for p in parts
                    ):
                        continue  # already positional — terminal state
                    new = (
                        sql[: toks[ls].start]
                        + self._to_positional(subj).strip()
                        + kw
                        + self._to_positional(lo).strip()
                        + " and "
                        + self._to_positional(hi).strip()
                        + sql[toks[hi_end].end :]
                    )
                else:
                    # mixed: DuckDB coerces ALL THREE operands to VARCHAR
                    # (probe-pinned: 'ok'::mood BETWEEN 'sad'::mood AND
                    # 'ok' is FALSE — lexicographic throughout, NOT a
                    # per-pair decomposition) — the value-form markers
                    # already give exactly that; leave the BETWEEN alone
                    continue
                if new != sql:
                    sql = new
                    done = False
                    break
            if done:
                return sql

    def _pass_orderby_and_aggs(self, sql: str) -> str:
        from .functions.shims import _match_paren_tok

        # ORDER BY operands that are enum-typed primaries → positional
        while True:
            toks = lex(sql)
            done = True
            for i, t in enumerate(toks):
                if not (
                    t.kind == "word"
                    and t.lower == "order"
                    and i + 1 < len(toks)
                    and toks[i + 1].kind == "word"
                    and toks[i + 1].lower == "by"
                ):
                    continue
                j = i + 2
                depth = 0
                while j < len(toks):
                    tj = toks[j]
                    if tj.kind in ("lparen", "block_open"):
                        # a parenthesized primary — ORDER BY (x::mood) —
                        # still sorts positionally in DuckDB (round-11
                        # advice find: the depth-0 marker check skipped
                        # it and left a lexicographic sort). Only an
                        # operand-STARTING paren qualifies: a lparen
                        # preceded by an identifier is a function call's
                        # argument list — upper(x::mood) degrades to
                        # VARCHAR in DuckDB and must stay in value form
                        # (round-11 self-review find #1)
                        operand_start = j == i + 2 or toks[j - 1].kind in (
                            "comma",
                        )
                        if tj.kind == "lparen" and depth == 0 and operand_start:
                            close = _match_paren_tok(toks, j)
                            seg = sql[tj.start : toks[close].end]
                            m = _MARK.search(seg)
                            if (
                                m
                                and m.group(1) in ("v", "t")
                                and self._is_marker_primary(seg)
                            ):
                                et = self.types[int(m.group(2))]
                                stoks = lex(seg)
                                inner = ""
                                for k, st in enumerate(stoks):
                                    if (
                                        st.kind == "word"
                                        and _MARK.fullmatch(st.text)
                                        and k + 1 < len(stoks)
                                        and stoks[k + 1].kind == "lparen"
                                    ):
                                        sc = _match_paren_tok(stoks, k + 1)
                                        inner = seg[
                                            stoks[k + 1].end : stoks[sc].start
                                        ]
                                        break
                                alias = self._select_alias_for(
                                    sql[: t.start], et, inner
                                )
                                if alias:
                                    sql = (
                                        sql[: tj.start]
                                        + f"array_position({_arr(et)}, {alias})"
                                        + sql[toks[close].end :]
                                    )
                                else:
                                    sql = (
                                        sql[: tj.start]
                                        + self._to_positional(seg)
                                        + sql[toks[close].end :]
                                    )
                                done = False
                                break
                        depth += 1
                    elif tj.kind in ("rparen", "block_close"):
                        if depth == 0:
                            break
                        depth -= 1
                    elif depth == 0 and (
                        tj.kind in ("semi", "pipe")
                        or (
                            tj.kind == "word"
                            and tj.lower in ("limit", "offset")
                        )
                    ):
                        break
                    elif (
                        depth == 0
                        and tj.kind == "word"
                        and _MARK.fullmatch(tj.text)
                        and tj.text[6] in ("v", "t")
                        and j + 1 < len(toks)
                        and toks[j + 1].kind == "lparen"
                    ):
                        close = _match_paren_tok(toks, j + 1)
                        inner = sql[toks[j + 1].end : toks[close].start]
                        et = self._marker_type(tj.text + "(" + inner + ")")
                        alias = self._select_alias_for(
                            sql[: t.start], et, inner
                        )
                        if alias:
                            # aggregate/aliased context: the grouped
                            # expression isn't resolvable post-projection;
                            # order on the output alias positionally
                            sql = (
                                sql[: tj.start]
                                + f"array_position({_arr(et)}, {alias})"
                                + sql[toks[close].end :]
                            )
                        else:
                            sql = (
                                sql[: tj.start]
                                + self._to_positional(tj.text)
                                + sql[tj.end :]
                            )
                        done = False
                        break
                    j += 1
                if not done:
                    break
            if done:
                break
        # extreme aggregates: positional pick, VALUE result
        while True:
            toks = lex(sql)
            done = True
            for i, t in enumerate(toks):
                # ONLY min/max: the container DuckDB degrades
                # least/greatest AND arg_min/arg_max's BY argument to
                # VARCHAR (probes: least('happy'::mood,'sad'::mood) =
                # 'happy', arg_min(x, x::mood) = 'happy' — both
                # lexicographic), which the value form already gives for
                # free. min/max over enum-typed args ARE positional.
                if not (
                    t.kind == "word"
                    and t.lower in ("min", "max")
                    and i + 1 < len(toks)
                    and toks[i + 1].kind == "lparen"
                ):
                    continue
                close = _match_paren_tok(toks, i + 1)
                inner = sql[toks[i + 1].end : toks[close].start]
                if not _MARK.search(inner):
                    continue
                mm = _MARK.search(inner)
                if mm.group(1) in ("p", "q"):
                    continue  # already positional (re-entry)
                et = self.types[int(mm.group(2))]
                from .functions.shims import _split_args

                args = [a.strip() for a in _split_args(inner)]
                if len(args) == 1:
                    # DISTINCT is a no-op for min/max — strip it so the
                    # positional rewrite still fires (round-12 advice
                    # find: min(DISTINCT x::mood) fell through to the
                    # lexicographic value form)
                    args[0] = re.sub(r"(?is)^distinct\s+", "", args[0])
                if len(args) == 1 and self._is_marker_primary(args[0]):
                    pos = self._to_positional(args[0])
                    # a following OVER clause belongs to the aggregate,
                    # not to element_at — splice it inside (round-11
                    # advice find: min(x::mood) OVER (...) previously
                    # emitted unparseable SQL)
                    end = toks[close].end
                    over = ""
                    if (
                        close + 1 < len(toks)
                        and toks[close + 1].kind == "word"
                        and toks[close + 1].lower == "over"
                    ):
                        if (
                            close + 2 < len(toks)
                            and toks[close + 2].kind == "lparen"
                        ):
                            oc = _match_paren_tok(toks, close + 2)
                            over = " " + sql[toks[close + 1].start : toks[oc].end]
                            end = toks[oc].end
                        elif (
                            close + 2 < len(toks)
                            and toks[close + 2].kind == "word"
                        ):
                            over = " over " + toks[close + 2].text
                            end = toks[close + 2].end
                    repl = (
                        f"element_at({_arr(et)}, "
                        f"cast({t.lower}({pos}){over} as int))"
                    )
                elif any(self._is_marker_primary(a) for a in args):
                    raise PsqlCompileError(
                        f"{t.lower} over enum values: unsupported arity"
                    )
                else:
                    # the enum marker is WRAPPED in another expression
                    # (min(length(x::mood))): DuckDB degrades it to
                    # VARCHAR and aggregates the outer value — exactly
                    # what the value-form marker already yields (round-11
                    # advice find: the positional pick returned an enum
                    # value where DuckDB returns the outer min)
                    continue
                sql = sql[: t.start] + repl + sql[end:]
                done = False
                break
            if done:
                return sql

    # -- pass E: resolve remaining markers ----------------------------------

    def resolve(self, sql: str) -> str:
        from .functions.shims import _has_nondet, _match_paren_tok

        while True:
            if len(sql) > 2_000_000:
                # each marker splices its operand into the CASE several
                # times, so deeply NESTED enum casts grow ~4x per level
                # (round-10 review find) — fail loudly, never hang
                raise PsqlCompileError(
                    "enum rewrite exceeded the size budget — deeply "
                    "nested enum casts are not supported"
                )
            toks = lex(sql)
            done = True
            for i, t in enumerate(toks):
                m = t.kind == "word" and _MARK.fullmatch(t.text)
                if not (m and i + 1 < len(toks) and toks[i + 1].kind == "lparen"):
                    continue
                kind, idx = m.group(1), int(m.group(2))
                et = self.types[idx]
                close = _match_paren_tok(toks, i + 1)
                inner = sql[toks[i + 1].end : toks[close].start].strip()
                itoks = lex(inner)
                arr = _arr(et)
                desc = ("ENUM" + repr(tuple(et.values))).replace("'", "''")
                err = (
                    "concat('Conversion Error: Could not convert string ''',"
                    f" cast(({inner}) as string), ''' to {desc}')"
                )
                if len(itoks) == 1 and itoks[0].kind == "string":
                    v = _lit_value(itoks[0].text)
                    if v in et.values:
                        repl = (
                            itoks[0].text
                            if kind in ("v", "t")
                            else str(et.values.index(v) + 1)
                        )
                    elif kind in ("t", "q"):
                        repl = (
                            "cast(null as string)"
                            if kind == "t"
                            else "cast(null as bigint)"
                        )
                    else:
                        raise PsqlCompileError(
                            f"Conversion Error: Could not convert string "
                            f"'{v}' to ENUM{tuple(et.values)!r}"
                        )
                elif len(itoks) == 1 and itoks[0].kind == "word" and itoks[0].lower == "null":
                    repl = (
                        "cast(null as string)"
                        if kind in ("v", "t")
                        else "cast(null as bigint)"
                    )
                else:
                    if _has_nondet(inner):
                        # the CASE evaluates the operand once per slot;
                        # a random() operand could emit a value the
                        # membership check never saw — loud, not wrong
                        raise PsqlCompileError(
                            "enum cast over a non-deterministic "
                            "expression is not supported (the validation "
                            "CASE would re-evaluate it)"
                        )
                    pos = f"array_position({arr}, ({inner}))"
                    out_ok = f"({inner})" if kind in ("v", "t") else pos
                    fail = (
                        f"raise_error({err})"
                        if kind in ("v", "p")
                        else (
                            "cast(null as string)"
                            if kind == "t"
                            else "cast(null as bigint)"
                        )
                    )
                    repl = (
                        f"(case when ({inner}) is null then null "
                        f"when {pos} > 0 then {out_ok} "
                        f"else {fail} end)"
                    )
                sql = sql[: t.start] + repl + sql[toks[close].end :]
                done = False
                break
            if done:
                return sql


def _reject_enum_table_columns(sql: str, enums: dict[str, EnumType]) -> None:
    """CREATE TABLE with an enum-typed column is a LOUD boundary: the
    string carrier would silently lose declaration-order semantics."""
    if not re.match(r"(?is)^\s*create\s+(or\s+replace\s+)?(temp\w*\s+)?table\b", sql):
        return
    toks = lex(sql)
    names = set(enums) | {"enum"}
    # column-type declarations only exist BEFORE a CTAS body: stop at the
    # depth-0 AS (round-10 review find: `create table t as select x mood`
    # is an implicit ALIAS, not a typed column)
    scan_end = len(toks)
    depth = 0
    for i, t in enumerate(toks):
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.lower == "as":
            scan_end = i
            break
    for i in range(1, scan_end):
        t = toks[i]
        if (
            t.kind == "word"
            and t.lower in names
            and toks[i - 1].kind in ("word", "qident")
            and toks[i - 1].lower
            not in ("table", "temp", "temporary", "replace", "exists", "as")
            and i + 1 < len(toks)
            and (
                toks[i + 1].kind in ("comma", "rparen")
                or (t.lower == "enum" and toks[i + 1].kind == "lparen")
                or (
                    toks[i + 1].kind == "word"
                    and toks[i + 1].lower
                    in ("primary", "not", "null", "unique", "default")
                )
            )
        ):
            raise PsqlCompileError(
                f"enum-typed table columns are not supported "
                f"(column {toks[i - 1].text!r}): the stored string carrier "
                "would silently lose declaration-order comparison/sort "
                "semantics — use explicit ::"
                f"{t.lower if t.lower != 'enum' else 'ENUM(…)'} casts in "
                "queries instead (documented boundary, SURVEY §8.24)"
            )


def has_enum_tokens(sql: str, enums: dict[str, EnumType]) -> bool:
    low = sql.lower()
    if "enum" in low:
        return True
    return any(re.search(rf"\b{re.escape(n)}\b", low) for n in enums)


def _reject_stored_enum_items(sql: str, marked: str) -> None:
    """CTAS / CREATE VIEW whose OUTERMOST select list carries an
    enum-typed item is a LOUD boundary: DuckDB would persist the enum
    TYPE (keeping declaration-order semantics for later queries) while
    the string carrier here would silently degrade them. Enum casts in
    WHERE/JOIN/HAVING of the body are fine — nothing enum-typed is
    stored (and INSERT into an existing varchar column casts to varchar
    in DuckDB too, so that path stays consistent without a gate)."""
    m = re.match(
        r"(?is)^\s*create\s+(or\s+replace\s+)?(temp\w*\s+)?"
        r"(table|view)\s+[\w\".]+\s+as\b",
        marked,
    )
    if not m:
        return
    toks = lex(marked)
    depth = 0
    in_select = False
    for k, t in enumerate(toks):
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif t.kind == "word" and depth <= 1:
            if t.lower == "select" and not in_select:
                in_select = True
            elif in_select and t.lower in ("from", "where", "group", "order",
                                           "limit", "qualify", "having"):
                in_select = False
            elif in_select and _MARK.fullmatch(t.text):
                raise PsqlCompileError(
                    "storing an enum-typed expression via CREATE TABLE/VIEW "
                    "AS loses declaration-order semantics in the string "
                    "carrier (DuckDB persists the ENUM type) — store "
                    "::VARCHAR explicitly and re-cast at query time "
                    "(documented boundary, SURVEY §8.24)"
                )


def rewrite_enums(sql: str, enums: dict[str, EnumType]) -> str:
    """Full enum rewrite: casts → markers → function/positional passes →
    plain Spark SQL. No-op (fast path) when nothing enum-ish appears."""
    if not has_enum_tokens(sql, enums):
        return sql
    _reject_enum_table_columns(sql, enums)
    rw = _Rewriter(enums)
    out = rw.casts_to_markers(sql)
    if not rw.types:
        return sql
    _reject_stored_enum_items(sql, out)
    out = rw.enum_functions(out)
    out = rw.positional_contexts(out)
    return rw.resolve(out)
