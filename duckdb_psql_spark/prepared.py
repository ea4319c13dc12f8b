"""DuckDB-style prepared statements: PREPARE / EXECUTE / DEALLOCATE.

DuckDB prepared statements (duckdb.org/docs/sql/query_syntax/prepared_statements
— delegated-dialect surface per /root/reference/README.md:3) bind
``?`` (positional), ``$1`` (numbered), and ``$name`` (named) placeholders
at EXECUTE time. Like macros (macros.py), this engine resolves them as a
compile-time text substitution: EXECUTE splices the argument expressions
into the stored statement and compiles the result, so Catalyst plans the
bound query exactly as if it had been written literally — parameter
binding costs nothing at execution time and constant folding / partition
pruning see the actual values.

Deliberate scope: arguments are SQL expressions (spliced
parenthesized), not pre-evaluated values — a superset of DuckDB's
constant-only binding that keeps the engine free of driver-side
evaluation jobs.
"""

from __future__ import annotations

from .errors import PsqlCompileError, PsqlParseError
from .lexer import lex


def parse_prepare(stmt: str) -> tuple[str, str] | None:
    """Return (name, body) for ``PREPARE name AS <statement>``, else None."""
    toks = lex(stmt)
    if not (toks and toks[0].kind == "word" and toks[0].lower == "prepare"):
        return None
    if len(toks) < 3 or toks[1].kind not in ("word", "qident"):
        raise PsqlParseError("", near=toks[1].text if len(toks) > 1 else "")
    if not (toks[2].kind == "word" and toks[2].lower == "as"):
        raise PsqlParseError("", near=toks[2].text)
    body = stmt[toks[2].end :].strip().rstrip(";").strip()
    if not body:
        raise PsqlParseError("", near="as")
    return toks[1].text.strip('"').lower(), body


def parse_execute(stmt: str) -> tuple[str, list[str], dict[str, str]] | None:
    """Return (name, positional_args, named_args) for EXECUTE, else None."""
    toks = lex(stmt)
    if not (toks and toks[0].kind == "word" and toks[0].lower == "execute"):
        return None
    if len(toks) < 2 or toks[1].kind not in ("word", "qident"):
        raise PsqlParseError("", near=toks[1].text if len(toks) > 1 else "")
    name = toks[1].text.strip('"').lower()
    if len(toks) == 2 or toks[2].kind == "semi":
        return name, [], {}
    if toks[2].kind != "lparen":
        raise PsqlParseError("", near=toks[2].text)
    from .macros import _call_args  # same argument grammar as macro calls

    pos_args, named, close = _call_args(stmt, toks, 2)
    if any(toks[i].kind not in ("semi",) for i in range(close + 1, len(toks))):
        raise PsqlParseError("", near=toks[close + 1].text)
    return name, pos_args, named


def parse_deallocate(stmt: str) -> str | None:
    """Return the name for ``DEALLOCATE [PREPARE] name``, else None."""
    toks = lex(stmt)
    if not (toks and toks[0].kind == "word" and toks[0].lower == "deallocate"):
        return None
    i = 1
    if i < len(toks) and toks[i].kind == "word" and toks[i].lower == "prepare":
        i += 1
    if not (i < len(toks) and toks[i].kind in ("word", "qident")):
        raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
    return toks[i].text.strip('"').lower()


def bind(name: str, body: str, pos_args: list[str], named: dict[str, str]) -> str:
    """Splice EXECUTE arguments into the stored statement text.

    ``?`` binds left-to-right from the positional list; ``$N`` binds the
    N-th (1-based) positional argument; ``$word`` binds a named argument.
    Every splice is parenthesized so argument expressions keep their own
    precedence. Mixing styles follows DuckDB: ``?`` and ``$N`` share the
    positional list; ``$name`` draws from named arguments.
    """
    toks = lex(body)
    out: list[str] = []
    last = 0
    next_q = 0
    i = 0
    while i < len(toks):
        t = toks[i]
        if t.kind == "op" and t.text == "?":
            if next_q >= len(pos_args):
                raise PsqlCompileError(
                    f"prepared statement {name!r}: not enough arguments "
                    f"({len(pos_args)} given)"
                )
            out.append(body[last : t.start])
            out.append(f"({pos_args[next_q]})")
            next_q += 1
            last = t.end
        elif (
            t.kind == "op"
            and t.text == "$"
            and i + 1 < len(toks)
            and toks[i + 1].start == t.end
        ):
            nxt = toks[i + 1]
            if nxt.kind == "number" and nxt.text.isdigit():
                idx = int(nxt.text) - 1
                if not 0 <= idx < len(pos_args):
                    raise PsqlCompileError(
                        f"prepared statement {name!r}: ${nxt.text} has no "
                        f"argument ({len(pos_args)} given)"
                    )
                repl = pos_args[idx]
            elif nxt.kind == "word":
                if nxt.lower not in named:
                    raise PsqlCompileError(
                        f"prepared statement {name!r}: no value for ${nxt.text}"
                    )
                repl = named[nxt.lower]
            else:
                i += 1
                continue
            out.append(body[last : t.start])
            out.append(f"({repl})")
            last = nxt.end
            i += 2
            continue
        i += 1
    out.append(body[last:])
    return "".join(out)
