"""Pipeline scanner: statement / block / stage splitting.

Replicates the observable behavior of the reference's two regex passes
(``/root/reference/src/psql_extension.cpp:28-73``):

* stages split on ``|>`` only when whitespace-surrounded
  (regex ``(.*?)\\s+[|][>]\\s+`` at cpp:34; conformance test
  ``/root/reference/test/sql/psql.test:31-33`` shows ``i || ',' || j``
  must NOT be split),
* ``(| … |)`` sub-pipeline blocks are non-nesting, scanned left-to-right
  (lazy regex at cpp:58; ``README.md:91``),
* trailing semicolons tolerated (psql.test:21-23),
* multi-statement input keeps only the first statement
  (``statements[0]`` at cpp:87-89),
* text with neither token is a pass-through (cpp:76-79).

Improvement over the reference (SURVEY.md §7.3.1): all scanning is done on
the token stream from :mod:`duckdb_psql_spark.lexer`, so string literals
and comments can never mis-split, and ``|>`` inside parentheses (e.g. a
subquery) does not split the outer pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass

from .lexer import Token, depth_map, lex


@dataclass(frozen=True)
class Block:
    """A ``(| … |)`` sub-pipeline occurrence."""

    start: int  # offset of '(' of '(|'
    end: int  # offset AFTER ')' of '|)'
    body: str  # text between '(|' and '|)'


def first_statement(sql: str) -> str:
    """Strip trailing ';' and keep only the first top-level statement.

    Mirrors the reference's ``statements[0]`` selection
    (/root/reference/src/psql_extension.cpp:87-89) and trailing-semicolon
    tolerance (/root/reference/test/sql/psql.test:21-23).
    """
    toks = lex(sql)
    depths = depth_map(toks)
    for t, d in zip(toks, depths):
        if t.kind == "semi" and d == 0:
            return sql[: t.start].strip()
    return sql.strip()


def has_psql_tokens(sql: str) -> bool:
    """True if the text contains a whitespace-surrounded ``|>`` or a block.

    The pass-through predicate (cpp:76-79): when False the statement goes
    verbatim to the host engine (``spark.sql``).
    """
    toks = lex(sql)
    for t in toks:
        if t.kind == "block_open" or t.kind == "block_close":
            return True
        if t.kind == "pipe" and _is_split_pipe(sql, t):
            return True
    return False


def _is_split_pipe(sql: str, t: Token) -> bool:
    """Whitespace required on both sides (reference regex ``\\s+[|][>]\\s+``)."""
    before_ws = t.start > 0 and sql[t.start - 1].isspace()
    after_ws = t.end < len(sql) and sql[t.end].isspace()
    return before_ws and after_ws


def find_blocks(sql: str) -> list[Block]:
    """Locate non-nesting ``(| … |)`` blocks, left to right.

    Matches the reference's lazy regex semantics (cpp:58): the first
    ``|)`` after a ``(|`` closes it; blocks cannot nest (README.md:91).
    """
    toks = lex(sql)
    blocks: list[Block] = []
    open_tok: Token | None = None
    for t in toks:
        if open_tok is None:
            if t.kind == "block_open":
                open_tok = t
        else:
            if t.kind == "block_close":
                blocks.append(Block(open_tok.start, t.end, sql[open_tok.end : t.start]))
                open_tok = None
    return blocks


def split_stages(sql: str) -> list[str]:
    """Split a pipeline on whitespace-surrounded ``|>`` at paren depth 0."""
    toks = lex(sql)
    depths = depth_map(toks)
    cuts: list[tuple[int, int]] = []  # (start,end) of the pipe token
    for t, d in zip(toks, depths):
        if t.kind == "pipe" and d == 0 and _is_split_pipe(sql, t):
            cuts.append((t.start, t.end))
    stages: list[str] = []
    pos = 0
    for s, e in cuts:
        stages.append(sql[pos:s].strip())
        pos = e
    stages.append(sql[pos:].strip())
    return stages
