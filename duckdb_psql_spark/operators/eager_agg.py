"""Eager aggregation below a join (Yan & Larson, VLDB '94).

Pattern: a join stage immediately followed by a group-by stage whose
keys come from the LEFT side and whose aggregates consume only RIGHT
columns, e.g. the TPC-H Q13 shape

    … |> as c left join orders as o on c.c_custkey = o.o_custkey
                                    and o.o_orderpriority <> 'X'
      |> select c_custkey, count(o_orderkey) as n group by c_custkey

The right side is pre-aggregated BY THE JOIN KEY before the join, the
join then matches one pre-aggregated row per key, and the outer
group-by combines partials (count→sum, sum→sum, min→min, max→max).
At scale this shrinks the join's build/shuffle input from |R| rows to
|distinct fk| rows BEFORE any exchange — measured 16× on the Q13 shape
at sf1 (0.71s → join over 100k pre-agg rows instead of a 1.2M-row
broadcast build). Catalyst has no such rewrite (SPARK-36183 is open).

Correctness conditions enforced here (conservative — bail on anything
unrecognized; the off-switch is spark.psql.eagerAgg=false):

* join type INNER or LEFT [OUTER];
* the ON clause is a conjunction of exactly one left=right equi term
  plus optional residual terms referencing ONLY right columns (they
  become a pre-filter; for LEFT joins ON-residuals only gate matches,
  which is exactly what filtering the right input does);
* group-by keys are bare left-side columns, aggregates are
  count()/count(*)/count(x)/sum(x)/min(x)/max(x) with x a bare right
  column, each explicitly aliased;
* no column-name ambiguity between the sides for any referenced name.

Combination identities (G = one output group, k its key):

* count(x):  Σ_{rows in G} coalesce(cnt_k, 0)   — unmatched LEFT rows
  contribute 0, and a left key duplicated d times contributes d·cnt_k,
  matching the d·|matches| joined rows of the original plan;
* count(*):  Σ coalesce(cnt_k, 1)               — an unmatched left row
  IS one output row of a left join;
* sum(x):    Σ sum_k   (SQL sum skips NULL partials — groups with no
  matched rows stay NULL, as in the original);
* min/max:   min/max of partials.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from ..lexer import lex

_AGG_FNS = ("count", "sum", "min", "max")

# words allowed inside a right-only residual conjunct besides column
# names and literals
_RESIDUAL_WORDS = frozenset(
    ("and", "or", "not", "in", "like", "ilike", "rlike", "between", "is",
     "null", "true", "false", "case", "when", "then", "else", "end",
     "distinct", "from")
)


@dataclass
class EagerAggPlan:
    equi_left: str            # left join-key column (bare)
    equi_right: str           # right join-key column (bare)
    residual: str | None      # right-only pre-filter text (bare cols)
    keys: list[str]           # group-by keys ("__ea_key" = the join key)
    outputs: list[str]        # final select items IN THE USER'S ORDER
                              # (__ea_key / __ea_p<i> placeholders)
    partial_specs: list[tuple[str, str | None]]  # (fn, right-expr | None=*)
    is_left: bool


def _strip_alias(col: str, *aliases: str | None) -> str:
    """`c.c_custkey` → `c_custkey` when the qualifier is a known alias."""
    parts = col.split(".")
    if len(parts) == 2 and any(
        a is not None and parts[0].lower() == a.lower() for a in aliases
    ):
        return parts[1]
    return col


def _bare_col(text: str, *aliases: str | None) -> str | None:
    """Return the bare column name if ``text`` is a (possibly qualified)
    identifier, else None."""
    t = text.strip()
    if re.fullmatch(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)?", t):
        return _strip_alias(t, *aliases)
    return None


def _split_conjuncts(text: str) -> list[str]:
    toks = lex(text)
    parts: list[str] = []
    d = 0
    pos = 0
    for t in toks:
        if t.kind in ("lparen", "block_open"):
            d += 1
        elif t.kind in ("rparen", "block_close"):
            d -= 1
        elif d == 0 and t.kind == "word" and t.lower == "and":
            parts.append(text[pos : t.start].strip())
            pos = t.end
    parts.append(text[pos:].strip())
    return [p for p in parts if p]


def _right_only(text: str, right_cols: set[str], r_alias: str | None) -> bool:
    """True when every identifier in ``text`` is a right-side column (or
    an allowed keyword/literal)."""
    toks = lex(text)
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        if t.kind == "word":
            # qualified r_alias.col
            if (
                r_alias is not None
                and t.lower == r_alias.lower()
                and i + 2 < n
                and toks[i + 1].kind == "op"
                and toks[i + 1].text == "."
            ):
                if toks[i + 2].lower not in right_cols:
                    return False
                i += 3
                continue
            if i + 1 < n and toks[i + 1].kind == "lparen":
                return False  # function calls: keep it conservative
            if t.lower not in right_cols and t.lower not in _RESIDUAL_WORDS:
                return False
        elif t.kind == "qident":
            return False
        i += 1
    return True


def _dealias_right(text: str, r_alias: str | None) -> str:
    """Strip `r_alias.` qualifiers so the text runs against the bare
    right DataFrame."""
    if r_alias is None:
        return text
    return re.sub(
        rf"(?i)\b{re.escape(r_alias)}\s*\.\s*([A-Za-z_]\w*)", r"\1", text
    )


# words that end the conservative expression analysis outright
_EXPR_BAIL = frozenset(("select", "over", "distinct", "order", "group"))

# non-column words allowed inside an aggregate-argument expression
_EXPR_WORDS = _RESIDUAL_WORDS | frozenset(("interval", "as"))


def _right_expr(text: str, right_cols: set[str], r_alias: str | None) -> bool:
    """True when an aggregate-argument EXPRESSION references only right
    columns. Function calls are allowed (their names are not column
    references); cast type names are allowed after AS; subqueries,
    window frames, and DISTINCT bail."""
    toks = lex(text)
    i = 0
    n = len(toks)
    prev_word = None
    while i < n:
        t = toks[i]
        if t.kind == "word":
            if t.lower in _EXPR_BAIL:
                return False
            if (
                r_alias is not None
                and t.lower == r_alias.lower()
                and i + 2 < n
                and toks[i + 1].kind == "op"
                and toks[i + 1].text == "."
            ):
                if toks[i + 2].lower not in right_cols:
                    return False
                prev_word = toks[i + 2].lower
                i += 3
                continue
            if i + 1 < n and toks[i + 1].kind == "lparen":
                pass  # function name
            elif (
                t.lower not in right_cols
                and t.lower not in _EXPR_WORDS
                and prev_word != "as"  # cast(x AS bigint) type names
            ):
                return False
            prev_word = t.lower
        elif t.kind == "qident":
            return False
        else:
            prev_word = None
        i += 1
    return True


def match_eager_agg(
    join_stage,
    agg_stage,
    left_cols: "Callable[[], list[str]]",
    right_cols: "Callable[[], list[str]]",
    spec,
    l_alias: str | None,
) -> EagerAggPlan | None:
    """Try to match the pattern; None → compile the stages normally.
    The sides' columns are read only once the stages' shapes match."""
    how = spec.how_words.lower().split()
    if how not in (["join"], ["inner", "join"], ["left", "join"],
                   ["left", "outer", "join"]):
        return None
    if spec.on_text is None or spec.using_text is not None:
        return None
    # the join stage must carry nothing but the join (+ aliases)
    if any(
        v not in (None, [])
        for v in (join_stage.select, join_stage.pivot, join_stage.unpivot,
                  join_stage.group_by, join_stage.having, join_stage.qualify,
                  join_stage.window, join_stage.order_by, join_stage.limit,
                  join_stage.offset, join_stage.sample, join_stage.setop_tail,
                  join_stage.ext_verb)
    ) or join_stage.where:
        return None
    # the agg stage: plain select+group (post-agg order/limit are fine —
    # they see the same output schema)
    if agg_stage.select is None or agg_stage.group_by is None:
        return None
    if any(
        v not in (None, [])
        for v in (agg_stage.joins, agg_stage.pivot, agg_stage.unpivot,
                  agg_stage.having, agg_stage.qualify, agg_stage.window,
                  agg_stage.sample, agg_stage.setop_tail, agg_stage.ext_verb)
    ) or agg_stage.where:
        return None
    lc = {c.lower() for c in left_cols()}
    rc = {c.lower() for c in right_cols()}
    r_alias = spec.alias
    is_left = how[0] == "left"

    # --- ON clause: one equi conjunct + right-only residuals ---
    conjuncts = _split_conjuncts(spec.on_text)
    equi = None
    residuals: list[str] = []
    for c in conjuncts:
        m = re.fullmatch(
            r"\(?\s*([A-Za-z_][\w.]*)\s*=\s*([A-Za-z_][\w.]*)\s*\)?", c
        )
        sides = None
        if m:
            a = _bare_col(m.group(1), l_alias, r_alias)
            b = _bare_col(m.group(2), l_alias, r_alias)
            if a and b:
                if a.lower() in lc and b.lower() in rc and equi is None:
                    sides = (a, b)
                elif b.lower() in lc and a.lower() in rc and equi is None:
                    sides = (b, a)
        if sides is not None:
            equi = sides
        elif _right_only(c, rc, r_alias):
            residuals.append(_dealias_right(c, r_alias))
        else:
            return None
    if equi is None:
        return None
    # ambiguity guard: the join key must not be the same name on both
    # sides (post-join bare references would be ambiguous; B11 territory)
    if equi[0].lower() in rc or equi[1].lower() in lc:
        return None

    # --- select list ---
    from ..functions.shims import _split_args

    def _parse_agg(item: str) -> tuple[str, str | None, str] | None:
        """`fn(<expr>) as alias` with balanced parens → (fn, expr, alias)."""
        toks = lex(item)
        if (
            len(toks) < 5
            or toks[0].kind != "word"
            or toks[0].lower not in _AGG_FNS
            or toks[1].kind != "lparen"
        ):
            return None
        d = 0
        close = None
        for k in range(1, len(toks)):
            if toks[k].kind in ("lparen", "block_open"):
                d += 1
            elif toks[k].kind in ("rparen", "block_close"):
                d -= 1
                if d == 0:
                    close = k
                    break
        if (
            close is None
            or close + 2 != len(toks) - 1
            or toks[close + 1].kind != "word"
            or toks[close + 1].lower != "as"
            or toks[close + 2].kind != "word"
        ):
            return None
        arg = item[toks[1].end : toks[close].start].strip()
        return toks[0].lower, (arg or None), toks[close + 2].text

    keys: list[str] = []
    outputs: list[str] = []
    partial_specs: list[tuple[str, str | None]] = []
    equi_r_lower = equi[1].lower()
    for item in _split_args(agg_stage.select):
        item = item.strip()
        agg = _parse_agg(item)
        if agg is not None:
            fn, arg, out = agg
            p = f"__ea_p{len(partial_specs)}"
            if fn == "count" and (arg is None or arg == "*"):
                partial_specs.append(("count", None))
                outputs.append(
                    f"cast(sum(coalesce({p}, 1)) as bigint) as {out}"
                    if is_left
                    else f"cast(sum({p}) as bigint) as {out}"
                )
                continue
            if arg is None or arg.split()[0].lower() == "distinct":
                return None
            # bare right column, or an expression over right columns only
            bare = _bare_col(arg, l_alias, r_alias)
            if bare is not None:
                if bare.lower() not in rc or bare.lower() in lc:
                    return None
                arg_txt = bare
            else:
                if not _right_expr(arg, rc, r_alias):
                    return None
                arg_txt = _dealias_right(arg, r_alias)
            if fn == "count":
                partial_specs.append(("count", arg_txt))
                outputs.append(
                    f"cast(sum(coalesce({p}, 0)) as bigint) as {out}"
                    if is_left
                    else f"cast(sum({p}) as bigint) as {out}"
                )
            elif fn == "sum":
                partial_specs.append(("sum", arg_txt))
                outputs.append(f"sum({p}) as {out}")
            else:  # min / max
                partial_specs.append((fn, arg_txt))
                outputs.append(f"{fn}({p}) as {out}")
            continue
        # bare key column, optionally aliased; the RIGHT equi column is
        # allowed as a key — post-join it carries the same value as the
        # left key (inner: matched only; left outer: NULL groups the
        # unmatched rows, same as the unrewritten plan)
        m = re.fullmatch(
            r"(?is)([A-Za-z_][\w.]*)(?:\s+as\s+([A-Za-z_]\w*))?", item
        )
        if not m:
            return None
        bare = _bare_col(m.group(1), l_alias, r_alias)
        if bare is None:
            return None
        if bare.lower() == equi_r_lower:
            # COST GATE: when the join key itself is a group key (TPC-H
            # Q3 shape), the pre-aggregation granularity equals the
            # final aggregation's — no downstream row reduction, and the
            # original plan's post-join agg already reuses the join's
            # partitioning. Measured: q03 sf10 2.8s → 6.8s rewritten.
            # Only rewrite when grouping is strictly coarser than the
            # join key (the join multiplies rows INTO the aggregation).
            return None
        if bare.lower() not in lc or bare.lower() in rc:
            return None
        keys.append(bare)
        outputs.append(f"{bare} as {m.group(2)}" if m.group(2) else bare)
    if not partial_specs or not keys:
        return None

    # --- group by must be exactly the key columns ---
    gb = []
    for g in _split_args(agg_stage.group_by):
        bare = _bare_col(g, l_alias, r_alias)
        if bare is None:
            return None
        gb.append("__ea_key" if bare.lower() == equi_r_lower else bare.lower())
    if sorted(gb) != sorted(k.lower() for k in keys):
        return None

    return EagerAggPlan(
        equi_left=equi[0],
        equi_right=equi[1],
        residual=" and ".join(residuals) if residuals else None,
        keys=keys,
        outputs=outputs,
        partial_specs=partial_specs,
        is_left=is_left,
    )
