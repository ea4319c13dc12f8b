"""Quote/comment-aware SQL tokenizer.

The reference splits pipelines with two RE2 regexes that are blind to
string literals and comments (``/root/reference/src/psql_extension.cpp:34,58``;
the README itself calls them "quick and dirty regex substitutions" that are
"unaware of the scoping rules of SQL", ``/root/reference/README.md:91``).
We keep the same observable splitting rules (whitespace-surrounded ``|>``,
non-nesting ``(| … |)``) but implement them over a real token stream so a
``'a |> b'`` string literal or a ``-- |> comment`` can never mis-split —
a strict improvement the survey calls out (SURVEY.md §7.3.1).

This is a lexer, not a parser: Spark SQL (Catalyst) remains the actual
expression grammar. We only need token kinds/positions good enough to
find clause boundaries at paren-depth zero.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass

# Multi-char operators, longest first (maximal munch).
_MULTI_OPS = (
    "|>",  # pipe stage separator (only when whitespace-surrounded; scanner checks)
    "(|",  # block open  (reference regex [(][|], src/psql_extension.cpp:58)
    "|)",  # block close
    "||",  # string concat — must NOT be split as a pipe (psql.test:31-33)
    "::",  # cast
    "<=", ">=", "<>", "!=", "==", "->>", "->", "**", "//",
)

_WORD_START = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_")
_WORD_CONT = _WORD_START | set("0123456789$")
_DIGITS = set("0123456789")


@dataclass(frozen=True)
class Token:
    kind: str  # word | string | qident | number | op | lparen | rparen | comma | semi | block_open | block_close | pipe
    text: str
    start: int
    end: int  # exclusive

    @property
    def lower(self) -> str:
        return self.text.lower()


def strip_comments(sql: str) -> str:
    """Replace comments with a single space, leaving strings/idents intact.

    Applied once at statement entry: stage texts are sliced from the
    statement and spliced into generated single-line SQL, where a ``--``
    line comment inside a stage would otherwise swallow the generated
    text that follows it. Comments carry no semantics, so normalizing
    them out up front makes every later splice safe.
    """
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            i = n if j == -1 else j + 1
            out.append(" " if j == -1 else "\n")
            continue
        if c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            i = n if j == -1 else j + 2
            out.append(" ")
            continue
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            out.append(sql[i:end])
            i = end
            continue
        if c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            out.append(sql[i:end])
            i = end
            continue
        if c == "`":
            j = sql.find("`", i + 1)
            end = n if j == -1 else j + 1
            out.append(sql[i:end])
            i = end
            continue
        out.append(c)
        i += 1
    return "".join(out)


_memo = threading.local()


@contextmanager
def lexing_once():
    """Within the block (one statement's compile), ``lex`` tokenizes each
    distinct text once: the statement parsers, the stage splitter, the
    passes and the shims all read the same text, and share its tokens."""
    outer = getattr(_memo, "toks", None)
    if outer is None:
        _memo.toks = {}
    try:
        yield
    finally:
        if outer is None:
            _memo.toks = None


def lex(sql: str) -> list[Token]:
    """``tokenize(sql)``, once per text inside ``lexing_once``. The list
    is shared: callers read it and never change it."""
    memo = getattr(_memo, "toks", None)
    if memo is None:
        return tokenize(sql)
    toks = memo.get(sql)
    if toks is None:
        toks = memo[sql] = tokenize(sql)
    return toks


def tokenize(sql: str) -> list[Token]:
    """Tokenize, skipping whitespace and comments (they produce no tokens)."""
    toks: list[Token] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        # whitespace
        if c.isspace():
            i += 1
            continue
        # line comment
        if c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            i = n if j == -1 else j + 1
            continue
        # block comment (non-nested)
        if c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            i = n if j == -1 else j + 2
            continue
        # string literal with '' escape
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            toks.append(Token("string", sql[i:end], i, end))
            i = end
            continue
        # double-quoted identifier with "" escape
        if c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    break
                j += 1
            end = min(j + 1, n)
            toks.append(Token("qident", sql[i:end], i, end))
            i = end
            continue
        # backtick identifier (Spark-side)
        if c == "`":
            j = sql.find("`", i + 1)
            end = n if j == -1 else j + 1
            toks.append(Token("qident", sql[i:end], i, end))
            i = end
            continue
        # multi-char operators
        matched = False
        for op in _MULTI_OPS:
            if sql.startswith(op, i):
                kind = {"|>": "pipe", "(|": "block_open", "|)": "block_close"}.get(op, "op")
                toks.append(Token(kind, op, i, i + len(op)))
                i += len(op)
                matched = True
                break
        if matched:
            continue
        if c == "(":
            toks.append(Token("lparen", c, i, i + 1))
            i += 1
            continue
        if c == ")":
            toks.append(Token("rparen", c, i, i + 1))
            i += 1
            continue
        if c == ",":
            toks.append(Token("comma", c, i, i + 1))
            i += 1
            continue
        if c == ";":
            toks.append(Token("semi", c, i, i + 1))
            i += 1
            continue
        # number (int/float/scientific); leading digit or .digit
        if c in _DIGITS or (c == "." and i + 1 < n and sql[i + 1] in _DIGITS):
            j = i
            seen_dot = seen_exp = False
            while j < n:
                ch = sql[j]
                if ch in _DIGITS:
                    j += 1
                elif ch == "." and not seen_dot and not seen_exp:
                    seen_dot = True
                    j += 1
                elif ch in "eE" and not seen_exp and j + 1 < n and (sql[j + 1] in _DIGITS or sql[j + 1] in "+-"):
                    seen_exp = True
                    j += 2 if sql[j + 1] in "+-" else 1
                else:
                    break
            toks.append(Token("number", sql[i:j], i, j))
            i = j
            continue
        # word / identifier
        if c in _WORD_START:
            j = i + 1
            while j < n and sql[j] in _WORD_CONT:
                j += 1
            toks.append(Token("word", sql[i:j], i, j))
            i = j
            continue
        # any other single char operator
        toks.append(Token("op", c, i, i + 1))
        i += 1
    return toks


def depth_map(tokens: list[Token]) -> list[int]:
    """Paren depth BEFORE each token. block_open/close also count as parens."""
    depths: list[int] = []
    d = 0
    for t in tokens:
        depths.append(d)
        if t.kind in ("lparen", "block_open"):
            d += 1
        elif t.kind in ("rparen", "block_close"):
            d = max(0, d - 1)
    return depths
