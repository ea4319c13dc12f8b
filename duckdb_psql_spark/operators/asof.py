"""AS-OF join: DuckDB's ``ASOF JOIN`` re-expressed Spark-first.

DuckDB dialect (exposed through the reference's pipe stages by
construction, SURVEY.md §2.C): for each left row, join the single right
row with the greatest right timestamp ≤ the left timestamp (for a ``>=``
condition), within equi-key groups.

Spark has no native as-of join, so we compile it to the classic
union-plus-window plan, which scales to arbitrary data sizes with exactly
ONE shuffle on the equi-keys and no per-row Python:

1. tag left rows side=1 and right rows side=0 on a unified schema,
2. ``last(right_col, ignorenulls=True) OVER (PARTITION BY keys ORDER BY
   ts, side ROWS UNBOUNDED PRECEDING)`` carries the most recent right row
   forward onto each left row,
3. keep only left rows.

At 100 TB this is shuffle-bound on the key distribution — the same bound
as any keyed join — and never materializes a per-key array. Skewed keys
are handled by AQE skew-join for the shuffle; the window itself streams
sorted runs (no full-partition buffering for UNBOUNDED PRECEDING frames).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..errors import PsqlCompileError
from ..lexer import depth_map, tokenize


@dataclass
class _AsofCond:
    equi: list[tuple[str, str]]  # (left_col, right_col)
    left_ts: str
    right_ts: str
    op: str  # ">=", ">", "<=", "<"


def _parse_on(on_text: str, left_alias: str, right_alias: str) -> _AsofCond:
    toks = tokenize(on_text)
    depths = depth_map(toks)
    pieces: list[list] = [[]]
    for t, d in zip(toks, depths):
        if d == 0 and t.kind == "word" and t.lower == "and":
            pieces.append([])
        else:
            pieces[-1].append(t)
    equi: list[tuple[str, str]] = []
    ineq: tuple[str, str, str] | None = None
    for p in pieces:
        if len(p) != 7:
            raise PsqlCompileError(f"unsupported ASOF condition piece: {on_text!r}")
        a, d1, c1, op, b, d2, c2 = p
        if d1.text != "." or d2.text != ".":
            raise PsqlCompileError(f"ASOF conditions must use qualified columns: {on_text!r}")
        qa, qb = a.text.strip('"`').lower(), b.text.strip('"`').lower()
        ca, cb = c1.text.strip('"`'), c2.text.strip('"`')
        if qa == left_alias.lower() and qb == right_alias.lower():
            lcol, rcol, o = ca, cb, op.text
        elif qa == right_alias.lower() and qb == left_alias.lower():
            lcol, rcol = cb, ca
            o = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}.get(op.text, op.text)
        else:
            raise PsqlCompileError(f"ASOF condition references unknown alias: {on_text!r}")
        if o == "=":
            equi.append((lcol, rcol))
        elif o in (">=", ">", "<=", "<"):
            if ineq is not None:
                raise PsqlCompileError("ASOF JOIN needs exactly one inequality")
            ineq = (lcol, o, rcol)
    if ineq is None:
        raise PsqlCompileError("ASOF JOIN needs an inequality condition")
    return _AsofCond(equi, ineq[0], ineq[2], ineq[1])


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on_text: str,
    left_alias: str,
    right_alias: str,
    how: str = "inner",
) -> DataFrame:
    """Compile an AS-OF join into union + window-carry-forward, every
    expression as SQL text (one round trip per projection, not one per
    Column node)."""
    cond = _parse_on(on_text, left_alias, right_alias)
    backward = cond.op in (">=", ">")
    strict = cond.op in (">", "<")

    lcols = left.columns
    rcols = right.columns
    # Right payload columns, suffixed on collision with left names (DuckDB
    # keeps both sides; we keep both with a _r suffix on conflicts),
    # compared case-insensitively as the union below resolves names.
    lnames = {c.lower() for c in lcols}
    rmap = {c: (c if c.lower() not in lnames else f"{c}_r") for c in rcols}

    kcols = [f"__k{i}" for i in range(len(cond.equi))]
    left_side, right_side = (1, 0) if not strict else (0, 1)
    l2 = left.selectExpr(
        *[_ident(c) for c in lcols],
        *[f"{_ident(lc)} AS {k}" for (lc, _), k in zip(cond.equi, kcols)],
        f"{_ident(cond.left_ts)} AS __ts",
        f"{left_side} AS __side",
        "CAST(NULL AS INT) AS __match",
    )
    r2 = right.selectExpr(
        *[f"{_ident(c)} AS {_ident(rmap[c])}" for c in rcols],
        *[f"{_ident(rc)} AS {k}" for (_, rc), k in zip(cond.equi, kcols)],
        f"{_ident(cond.right_ts)} AS __ts",
        f"{right_side} AS __side",
        "1 AS __match",
    )
    # each side's missing columns come in as NULLs of the other side's
    # exact types (UDTs and nested nullability included)
    u = l2.unionByName(r2, allowMissingColumns=True)

    # no equi-keys: one global window (an empty PARTITION BY does not parse)
    part = f"PARTITION BY {', '.join(kcols)} " if kcols else ""
    w = (
        f"OVER ({part}ORDER BY __ts {'ASC' if backward else 'DESC'}, __side ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    is_left = f"__side = {left_side}"
    carried = [
        f"last(CASE WHEN NOT ({is_left}) THEN {_ident(c)} END, true) {w} AS {_ident(c)}"
        for c in [*rmap.values(), "__match"]
    ]
    matched = u.selectExpr(
        *[_ident(c) for c in lcols], *kcols, "__ts", "__side", *carried
    ).filter(is_left)
    if how == "inner":
        matched = matched.filter("__match IS NOT NULL")
    return matched.drop(*kcols, "__ts", "__side", "__match")
