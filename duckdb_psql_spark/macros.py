"""DuckDB-style SQL macros (``CREATE MACRO``) as compile-time expansion.

DuckDB macros are not functions with their own execution frame: the body
is inlined into the call site and planned as ordinary SQL
(duckdb.org/docs/sql/statements/create_macro — delegated-dialect surface
per /root/reference/README.md:3 "all the power of DuckDB's SQL").
That contract maps exactly onto a compile-time text rewrite here: the
engine substitutes arguments into the stored body BEFORE the statement
reaches the stage compiler, so Catalyst sees one flat expression tree —
predicate pushdown / codegen treat macro-using queries identically to
hand-expanded ones, and nothing is paid at execution time at any scale.

Supported surface:

* ``CREATE [OR REPLACE] [TEMP|TEMPORARY] MACRO|FUNCTION name(p, q := 3)
  AS <expr>`` — scalar macro with optional defaulted parameters,
* ``… AS TABLE <query>`` — table macro, expanded to a parenthesized
  subquery at FROM position,
* calls with positional and/or ``name := value`` named arguments,
* macros calling macros (bounded recursion),
* ``DROP MACRO [IF EXISTS] name``.

Substitution is token-aware (the statement and body are lexed with the
engine's quote/comment-aware lexer), so a parameter named ``x`` never
rewrites the ``x`` inside a string literal or a longer identifier.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .errors import PsqlCompileError, PsqlParseError
from .lexer import Token, lex

_MAX_EXPANSION_ROUNDS = 16


@dataclass(frozen=True)
class Macro:
    name: str
    params: tuple[str, ...]
    defaults: dict[str, str] = field(default_factory=dict)
    body: str = ""
    is_table: bool = False


# ---------------------------------------------------------------------------
# DDL parsing
# ---------------------------------------------------------------------------


def parse_create_macro(stmt: str) -> tuple[Macro, bool] | None:
    """Return (macro, or_replace) for a CREATE MACRO statement, else None."""
    toks = lex(stmt)
    i = 0
    if not (i < len(toks) and toks[i].kind == "word" and toks[i].lower == "create"):
        return None
    i += 1
    replace = False
    if i + 1 < len(toks) and toks[i].lower == "or" and toks[i + 1].lower == "replace":
        replace = True
        i += 2
    if i < len(toks) and toks[i].kind == "word" and toks[i].lower in ("temp", "temporary"):
        i += 1  # all engine state is session-scoped; TEMP is the only scope
    if not (
        i < len(toks)
        and toks[i].kind == "word"
        and toks[i].lower in ("macro", "function")
    ):
        return None
    i += 1
    if not (i < len(toks) and toks[i].kind in ("word", "qident")):
        raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
    name = toks[i].text.strip('"').lower()
    i += 1
    if not (i < len(toks) and toks[i].kind == "lparen"):
        raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
    params: list[str] = []
    defaults: dict[str, str] = {}
    i += 1
    while i < len(toks) and toks[i].kind != "rparen":
        if toks[i].kind == "comma":
            i += 1
            continue
        if toks[i].kind != "word":
            raise PsqlParseError("", near=toks[i].text)
        pname = toks[i].lower
        i += 1
        if (
            i + 1 < len(toks)
            and toks[i].kind == "op"
            and toks[i].text == ":"
            and toks[i + 1].text == "="
        ) or (i < len(toks) and toks[i].kind == "op" and toks[i].text == ":="):
            # default value: slice source text to the next top-level comma
            i += 1 if toks[i].text == ":=" else 2
            depth = 0
            j = i
            while j < len(toks):
                if toks[j].kind == "lparen":
                    depth += 1
                elif toks[j].kind == "rparen":
                    if depth == 0:
                        break
                    depth -= 1
                elif toks[j].kind == "comma" and depth == 0:
                    break
                j += 1
            defaults[pname] = stmt[toks[i].start : toks[j - 1].end].strip()
            i = j
        params.append(pname)
    if i >= len(toks):
        raise PsqlParseError("", near="(")
    i += 1  # rparen
    if not (i < len(toks) and toks[i].kind == "word" and toks[i].lower == "as"):
        raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
    i += 1
    is_table = False
    if i < len(toks) and toks[i].kind == "word" and toks[i].lower == "table":
        is_table = True
        i += 1
    if i >= len(toks):
        raise PsqlParseError("", near="as")
    body = stmt[toks[i].start :].strip().rstrip(";").strip()
    if not body:
        raise PsqlParseError("", near="as")
    return Macro(name, tuple(params), defaults, body, is_table), replace


def parse_drop_macro(stmt: str) -> tuple[str, bool] | None:
    """Return (name, if_exists) for DROP MACRO/FUNCTION, else None."""
    toks = lex(stmt)
    if not (
        len(toks) >= 3
        and toks[0].kind == "word"
        and toks[0].lower == "drop"
        and toks[1].kind == "word"
        and toks[1].lower in ("macro", "function")
    ):
        return None
    i = 2
    if i < len(toks) and toks[i].kind == "word" and toks[i].lower == "table":
        i += 1  # DROP MACRO TABLE name (DuckDB's table-macro drop form)
    if_exists = False
    if (
        i + 1 < len(toks)
        and toks[i].kind == "word"
        and toks[i].lower == "if"
        and toks[i + 1].lower == "exists"
    ):
        if_exists = True
        i += 2
    if not (i < len(toks) and toks[i].kind in ("word", "qident")):
        raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
    return toks[i].text.strip('"').lower(), if_exists


# ---------------------------------------------------------------------------
# call-site expansion
# ---------------------------------------------------------------------------


def _call_args(
    text: str, toks: list[Token], open_idx: int
) -> tuple[list[str], dict[str, str], int]:
    """Parse ``(...)`` starting at toks[open_idx] into positional + named
    argument source slices. Returns (positional, named, index_of_rparen)."""
    pos_args: list[str] = []
    named: dict[str, str] = {}
    depth = 0
    i = open_idx
    arg_start = None  # token index where the current argument begins
    arg_name = None

    def flush(end_tok_idx: int) -> None:
        nonlocal arg_start, arg_name
        if arg_start is None or arg_start > end_tok_idx:
            return
        sliced = text[toks[arg_start].start : toks[end_tok_idx].end].strip()
        if not sliced:
            return
        if arg_name is not None:
            named[arg_name] = sliced
        else:
            pos_args.append(sliced)
        arg_start = None
        arg_name = None

    while i < len(toks):
        t = toks[i]
        if t.kind == "lparen" or t.kind == "block_open":
            depth += 1
            if depth == 1:
                i += 1
                arg_start = i
                continue
        elif t.kind == "rparen" or t.kind == "block_close":
            depth -= 1
            if depth == 0:
                flush(i - 1)
                return pos_args, named, i
        elif t.kind == "comma" and depth == 1:
            flush(i - 1)
            arg_start = i + 1
        elif (
            depth == 1
            and t.kind == "op"
            and t.text == ":"
            and i + 1 < len(toks)
            and toks[i + 1].kind == "op"
            and toks[i + 1].text == "="
            and arg_start is not None
            and i == arg_start + 1
            and toks[arg_start].kind == "word"
        ):
            arg_name = toks[arg_start].lower
            arg_start = i + 2
            i += 2
            continue
        i += 1
    raise PsqlParseError("", near="(")


def _substitute(macro: Macro, pos_args: list[str], named: dict[str, str]) -> str:
    if len(pos_args) > len(macro.params):
        raise PsqlCompileError(
            f"macro {macro.name} takes {len(macro.params)} argument(s), "
            f"{len(pos_args)} given"
        )
    binding: dict[str, str] = dict(macro.defaults)
    for pname, arg in zip(macro.params, pos_args):
        binding[pname] = arg
    for k, v in named.items():
        if k not in macro.params:
            raise PsqlCompileError(f"macro {macro.name} has no parameter {k!r}")
        binding[k] = v
    missing = [p for p in macro.params if p not in binding]
    if missing:
        raise PsqlCompileError(
            f"macro {macro.name} missing argument(s): {', '.join(missing)}"
        )
    body = macro.body
    toks = lex(body)
    out: list[str] = []
    last = 0
    for t in toks:
        if t.kind == "word" and t.lower in binding:
            out.append(body[last : t.start])
            out.append(f"({binding[t.lower]})")
            last = t.end
    out.append(body[last:])
    expanded = "".join(out)
    return f"({expanded})"


def expand_macros(text: str, macros: dict[str, Macro]) -> str:
    """Inline every macro call in ``text``; repeats until fixpoint so
    macros may call macros (bounded to catch mutual recursion)."""
    if not macros:
        return text
    for _ in range(_MAX_EXPANSION_ROUNDS):
        new = _expand_once(text, macros)
        if new == text:
            return text
        text = new
    raise PsqlCompileError("macro expansion did not terminate (recursive macro?)")


def _expand_once(text: str, macros: dict[str, Macro]) -> str:
    toks = lex(text)
    out: list[str] = []
    last = 0
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            t.kind == "word"
            and t.lower in macros
            and i + 1 < len(toks)
            and toks[i + 1].kind == "lparen"
            # a qualified name (x.m(...)) is not a macro call
            and not (i > 0 and toks[i - 1].kind == "op" and toks[i - 1].text == ".")
        ):
            pos_args, named, close = _call_args(text, toks, i + 1)
            sub = _substitute(macros[t.lower], pos_args, named)
            out.append(text[last : t.start])
            out.append(sub)
            last = toks[close].end
            i = close + 1
            continue
        i += 1
    out.append(text[last:])
    return "".join(out)
