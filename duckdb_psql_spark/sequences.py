"""DuckDB sequences (CREATE SEQUENCE / nextval / currval), delegated
dialect — the reference splices every statement into DuckDB, so its
sequence surface (duckdb.org/docs/sql/statements/create_sequence) is
in-scope (/root/reference/README.md:91 "any DuckDB SQL works in stages").

Distributed semantics (documented):

* a sequence is SESSION state on the driver, like macros and prepared
  statements — the uniqueness guarantee holds within one PsqlSession;
* ``nextval('s')`` in a statement rewrites to a row_number window over
  ``monotonically_increasing_id()``: values are unique and consecutive
  from the sequence's current position. The window is single-partition —
  a sequence is an inherent serialization point (same on any engine);
  at 100 TB scale the distributed alternative is
  ``monotonically_increasing_id()``/``uuid()``, which the dialect
  already passes through;
* the sequence advances at COMPILE time by the statement's result-row
  count (one eager count job). Consecutive statements therefore produce
  consecutive ranges — DuckDB's observable contract. Divergence: DuckDB
  consumes values for rows later dropped by LIMIT; we advance by the
  rows actually returned;
* with C call sites per row, row r's j-th site yields
  ``next + inc * (C*(r-1) + j)`` — unique and fully consumed, though
  the per-row pairing may differ from DuckDB's evaluation order;
* ``currval('s')`` splices the last allocated value as a literal
  (errors if nextval was never called, like DuckDB).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .errors import PsqlCompileError
from .lexer import lex


@dataclass
class Sequence:
    name: str
    start: int = 1
    increment: int = 1
    minvalue: int | None = None
    maxvalue: int | None = None
    cycle: bool = False
    # next value to hand out; None until first nextval for currval errors
    next: int = 1
    last: int | None = None


_CREATE_RE = re.compile(
    r"(?is)^\s*create\s+(or\s+replace\s+)?(?:temp(?:orary)?\s+)?sequence\s+"
    r"(if\s+not\s+exists\s+)?([A-Za-z_]\w*|\"[^\"]+\")\s*(.*?)\s*;?\s*$"
)
_DROP_RE = re.compile(
    r"(?is)^\s*drop\s+sequence\s+(if\s+exists\s+)?"
    r"([A-Za-z_]\w*|\"[^\"]+\")\s*;?\s*$"
)


def _norm_name(raw: str) -> str:
    return raw[1:-1] if raw.startswith('"') else raw.lower()


def parse_create_sequence(stmt: str) -> tuple[Sequence, bool, bool] | None:
    """Returns (sequence, or_replace, if_not_exists) or None."""
    m = _CREATE_RE.match(stmt)
    if m is None:
        return None
    seq = Sequence(name=_norm_name(m.group(3)))
    opts = m.group(4) or ""
    for om in re.finditer(
        r"(?is)start(?:\s+with)?\s+(-?\d+)|increment(?:\s+by)?\s+(-?\d+)"
        r"|minvalue\s+(-?\d+)|maxvalue\s+(-?\d+)|no\s+minvalue|no\s+maxvalue"
        r"|(cycle)|no\s+cycle",
        opts,
    ):
        if om.group(1) is not None:
            seq.start = int(om.group(1))
        elif om.group(2) is not None:
            seq.increment = int(om.group(2))
        elif om.group(3) is not None:
            seq.minvalue = int(om.group(3))
        elif om.group(4) is not None:
            seq.maxvalue = int(om.group(4))
        elif om.group(5) is not None:
            seq.cycle = True
    seq.next = seq.start
    return seq, m.group(1) is not None, m.group(2) is not None


def parse_drop_sequence(stmt: str) -> tuple[str, bool] | None:
    m = _DROP_RE.match(stmt)
    if m is None:
        return None
    return _norm_name(m.group(2)), m.group(1) is not None


def has_sequence_calls(stmt: str) -> bool:
    return bool(re.search(r"(?i)\b(nextval|currval)\s*\(", stmt))


def rewrite_sequence_calls(
    stmt: str, sequences: dict[str, Sequence]
) -> tuple[str, dict[str, int]]:
    """Replace nextval/currval calls with Spark expressions.

    Returns (rewritten_stmt, {sequence_name: nextval_call_count}).
    Token-aware: strings/comments are never touched.
    """
    tokens = lex(stmt)
    call_counts: dict[str, int] = {}
    # first pass: count nextval sites per sequence (the per-site stride)
    sites: list[tuple[int, int, str, str]] = []  # (start, end, kind, seq)
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        if (
            t.kind == "word"
            and t.lower in ("nextval", "currval")
            and i + 3 < n
            and tokens[i + 1].kind == "lparen"
            and tokens[i + 2].kind == "string"
            and tokens[i + 3].kind == "rparen"
        ):
            name = tokens[i + 2].text[1:-1].lower()
            if name not in sequences:
                raise PsqlCompileError(f"sequence {name!r} does not exist")
            if t.lower == "nextval":
                call_counts[name] = call_counts.get(name, 0) + 1
            sites.append((t.start, tokens[i + 3].end, t.lower, name))
            i += 4
            continue
        if t.kind == "word" and t.lower in ("nextval", "currval") and (
            i + 1 < n and tokens[i + 1].kind == "lparen"
        ):
            raise PsqlCompileError(
                f"{t.lower}() requires a literal sequence name"
            )
        i += 1
    out: list[str] = []
    pos = 0
    seen: dict[str, int] = {}
    for start, end, kind, name in sites:
        seq = sequences[name]
        out.append(stmt[pos:start])
        if kind == "currval":
            if seq.last is None:
                raise PsqlCompileError(
                    f"currval: sequence {name!r} has not been used yet"
                )
            out.append(f"cast({seq.last} as bigint)")
        else:
            c = call_counts[name]
            j = seen.get(name, 0)
            seen[name] = j + 1
            rn = "(row_number() over (order by monotonically_increasing_id()) - 1)"
            out.append(
                f"cast({seq.next} + {seq.increment} * "
                f"({c} * {rn} + {j}) as bigint)"
            )
        pos = end
    out.append(stmt[pos:])
    return "".join(out), call_counts


def advance(seq: Sequence, consumed: int) -> None:
    """Advance past ``consumed`` allocated values (post-count bookkeeping)."""
    if consumed <= 0:
        return
    seq.last = seq.next + seq.increment * (consumed - 1)
    seq.next = seq.next + seq.increment * consumed
    if seq.maxvalue is not None and seq.increment > 0 and seq.next > seq.maxvalue:
        if seq.cycle:
            seq.next = seq.minvalue if seq.minvalue is not None else seq.start
        # without CYCLE, DuckDB errors when the NEXT call overflows; we
        # surface that lazily at the next nextval via the same check
    if seq.minvalue is not None and seq.increment < 0 and seq.next < seq.minvalue:
        if seq.cycle:
            seq.next = seq.maxvalue if seq.maxvalue is not None else seq.start
