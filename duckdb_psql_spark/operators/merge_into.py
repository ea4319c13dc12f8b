"""MERGE INTO — DuckDB 1.4 row-merge statement as copy-on-write.

The reference delegates its whole dialect to DuckDB (psql_extension.cpp:76-79),
and the pinned engine (DuckDB v1.4.0 per the reference's CI) ships ``MERGE
INTO`` as a first-class statement. Spark has MERGE only for v2/lakehouse
tables, so over temp views and session tables we lower it to the same
copy-on-write plan UPDATE/DELETE use (compiler._run_mutation):

1. one LEFT JOIN of the pinned target against the source evaluates every
   WHEN [NOT] MATCHED [BY SOURCE] chain as a single CASE over both aliases
   (first matching clause wins, DuckDB's documented order), deduplicated to
   one source match per target row;
2. one LEFT ANTI JOIN yields the NOT MATCHED [BY TARGET] insert set, each
   insert clause projected onto the target schema (absent columns NULL-cast
   to the target type);
3. survivors ∪ inserts re-pin the target (temp view re-point / table
   overwrite), and the statement returns DuckDB's ``Count`` = rows
   updated + deleted + inserted.

At scale both joins are ordinary shuffle/broadcast equi-joins when the ON
condition is an equi-conjunct — Catalyst plans them like any other join; the
rewrite itself adds no extra shuffle beyond what MERGE semantically needs.
``RETURNING <exprs>`` (DuckDB 1.4) is supported: the executor already
materializes each action's row set, so RETURNING projects the affected
rows' post-image (pre-image for DELETE) plus the virtual
``merge_action`` column. Out of scope (clear errors, documented):
INSERT BY POSITION / DEFAULT VALUES. The container's DuckDB 1.0 oracle predates MERGE, so parity
is locked by unit tests with hand-computed expectations instead of the
differential (tests/test_merge.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from ..errors import PsqlCompileError, PsqlParseError
from ..lexer import lex


@dataclass
class MergeClause:
    matched: bool          # WHEN MATCHED …
    by_source: bool        # WHEN NOT MATCHED BY SOURCE …
    cond: str | None       # optional AND <condition>
    action: str            # update | delete | nothing | insert
    set_text: str | None = None     # UPDATE SET tail
    insert_cols: list[str] | None = None
    insert_values: str | None = None  # VALUES tuple body (parens stripped)


@dataclass
class MergeStmt:
    target: str
    target_alias: str
    source_text: str
    source_alias: str
    on_cond: str
    clauses: list[MergeClause]
    # pre-built source relation (INSERT … ON CONFLICT reuses the merge
    # executor with its already-aligned batch); overrides source_text
    source_df: object | None = None
    # RETURNING tail (DuckDB 1.4): expression list over the affected
    # rows' post-image (pre-image for DELETE), plus the virtual
    # `merge_action` column ('INSERT' | 'UPDATE' | 'DELETE')
    returning: str | None = None


def parse_merge(stmt: str) -> MergeStmt | None:
    """Parse ``MERGE INTO t [[AS] a] USING s [[AS] b] ON cond WHEN …``.
    Returns None when the statement isn't a MERGE (caller falls through)."""
    toks = lex(stmt)
    words = [t.lower if t.kind == "word" else None for t in toks]
    if words[:2] != ["merge", "into"]:
        return None
    i = 2
    if i >= len(toks) or toks[i].kind not in ("word", "qident"):
        raise PsqlParseError("", near="MERGE INTO")
    target = toks[i].text.strip('"`')
    target_alias = target
    i += 1
    if i < len(toks) and words[i] == "as":
        i += 1
    if i < len(toks) and toks[i].kind in ("word", "qident") and words[i] != "using":
        target_alias = toks[i].text.strip('"`')
        i += 1
    if i >= len(toks) or words[i] != "using":
        raise PsqlParseError("", near=toks[i].text if i < len(toks) else "")
    i += 1
    # source: balanced run up to its optional alias / the ON keyword
    src_start = i
    depth = 0
    while i < len(toks):
        t = toks[i]
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.lower == "on":
            break
        i += 1
    if i >= len(toks):
        raise PsqlParseError("", near="USING")
    src_end = i  # token index of ON
    source_alias = None
    # trailing [AS] alias before ON
    j = src_end - 1
    if j > src_start and toks[j].kind in ("word", "qident"):
        if toks[j - 1].kind == "word" and toks[j - 1].lower == "as":
            source_alias = toks[j].text.strip('"`')
            src_end_text = toks[j - 1].start
        elif toks[j - 1].kind in ("rparen", "block_close", "string"):
            source_alias = toks[j].text.strip('"`')
            src_end_text = toks[j].start
        else:
            src_end_text = toks[src_end].start
    else:
        src_end_text = toks[src_end].start
    source_text = stmt[toks[src_start].start : src_end_text].strip()
    if source_alias is None:
        stoks = lex(source_text)
        if len(stoks) == 1 and stoks[0].kind in ("word", "qident"):
            source_alias = stoks[0].text.strip('"`')
        else:
            source_alias = "__src"
    # ON condition runs to the first depth-0 WHEN; a depth-0 RETURNING
    # after the last clause starts the returning tail
    i += 1
    cond_start = i
    depth = 0
    when_idxs: list[int] = []
    ret_idx: int | None = None
    while i < len(toks):
        t = toks[i]
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        elif depth == 0 and t.kind == "word" and t.lower == "when":
            when_idxs.append(i)
        elif depth == 0 and t.kind == "word" and t.lower == "returning":
            ret_idx = i
            break
        i += 1
    if not when_idxs:
        raise PsqlParseError("", near="ON")
    on_cond = stmt[toks[cond_start].start : toks[when_idxs[0]].start].strip()
    clause_tail = toks[ret_idx].start if ret_idx is not None else len(stmt)
    returning = (
        stmt[toks[ret_idx].end :].strip().rstrip(";").strip()
        if ret_idx is not None
        else None
    )
    if ret_idx is not None and not returning:
        raise PsqlParseError("", near="RETURNING")
    clauses = []
    for k, wi in enumerate(when_idxs):
        end = (
            toks[when_idxs[k + 1]].start if k + 1 < len(when_idxs) else clause_tail
        )
        clauses.append(_parse_clause(stmt[toks[wi].start : end].strip()))
    return MergeStmt(
        target, target_alias, source_text, source_alias, on_cond, clauses,
        returning=returning,
    )


def _parse_clause(text: str) -> MergeClause:
    toks = lex(text)
    words = [t.lower if t.kind == "word" else None for t in toks]
    i = 1  # past WHEN
    negated = False
    if i < len(toks) and words[i] == "not":
        negated = True
        i += 1
    if i >= len(toks) or words[i] != "matched":
        raise PsqlParseError("", near=text[:30])
    i += 1
    by_source = False
    if i + 1 < len(toks) and words[i] == "by":
        if words[i + 1] == "source":
            by_source = True
        elif words[i + 1] != "target":
            raise PsqlParseError("", near="BY")
        i += 2
    if by_source and not negated:
        raise PsqlParseError("", near="MATCHED BY SOURCE")
    cond = None
    if i < len(toks) and words[i] == "and":
        depth = 0
        j = i + 1
        while j < len(toks):
            t = toks[j]
            if t.kind in ("lparen", "block_open"):
                depth += 1
            elif t.kind in ("rparen", "block_close"):
                depth -= 1
            elif depth == 0 and t.kind == "word" and t.lower == "then":
                break
            j += 1
        cond = text[toks[i].end : toks[j].start].strip()
        i = j
    if i >= len(toks) or words[i] != "then":
        raise PsqlParseError("", near=text[:30])
    i += 1
    if i >= len(toks):
        raise PsqlParseError("", near="THEN")
    act = words[i]
    matched = not negated
    if act == "delete":
        return MergeClause(matched, by_source, cond, "delete")
    if act == "do" and i + 1 < len(toks) and words[i + 1] == "nothing":
        return MergeClause(matched, by_source, cond, "nothing")
    if act == "update":
        if i + 1 >= len(toks) or words[i + 1] != "set":
            raise PsqlParseError("", near="UPDATE")
        return MergeClause(
            matched, by_source, cond, "update",
            set_text=text[toks[i + 1].end :].strip().rstrip(";"),
        )
    if act == "insert":
        if negated is False or by_source:
            raise PsqlParseError("", near="INSERT")
        i += 1
        cols = None
        if i < len(toks) and toks[i].kind == "lparen":
            depth = 1
            j = i + 1
            while j < len(toks) and depth:
                if toks[j].kind == "lparen":
                    depth += 1
                elif toks[j].kind == "rparen":
                    depth -= 1
                j += 1
            cols = [
                c.strip().strip('"`')
                for c in text[toks[i].end : toks[j - 1].start].split(",")
            ]
            i = j
        if i < len(toks) and words[i] == "values":
            i += 1
            if i >= len(toks) or toks[i].kind != "lparen":
                raise PsqlParseError("", near="VALUES")
            depth = 1
            j = i + 1
            while j < len(toks) and depth:
                if toks[j].kind == "lparen":
                    depth += 1
                elif toks[j].kind == "rparen":
                    depth -= 1
                j += 1
            vals = text[toks[i].end : toks[j - 1].start].strip()
            return MergeClause(
                matched, by_source, cond, "insert",
                insert_cols=cols, insert_values=vals,
            )
        if cols is not None:
            raise PsqlParseError("", near="INSERT (…)")
        # bare INSERT / INSERT * → whole source row by name
        if i < len(toks) and not (toks[i].kind == "op" and toks[i].text == "*"):
            raise PsqlCompileError(
                "MERGE: only INSERT [(cols)] VALUES (…), INSERT and INSERT * "
                "are supported (no BY POSITION / DEFAULT VALUES)"
            )
        return MergeClause(matched, by_source, cond, "insert")
    raise PsqlParseError("", near=text[:30])
