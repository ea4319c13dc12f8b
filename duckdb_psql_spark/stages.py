"""Stage-tail parser: classify the clauses of one pipe stage.

In the reference, a stage is spliced verbatim after ``FROM (prev)`` and
handed to DuckDB, whose FROM-first grammar accepts a SELECT-tail in stage
position (``/root/reference/README.md:72-87``). Spark SQL has no general
FROM-first tail grammar, so we classify the clause heads of each stage and
reassemble a canonical ``SELECT … FROM {prev} …`` statement (SURVEY.md
§3.4, §7.3.2). Expressions inside clauses are NOT parsed here — they pass
through to Spark SQL (Catalyst), mirroring how the reference delegates all
expression grammar to DuckDB (``README.md:91``).

Observable parity cases handled here:

* leading ``as foo`` stage alias (/root/reference/test/sql/psql.test:37),
* implicit alias — DuckDB parses ``FROM (t1) srt j`` with ``srt`` as a
  subquery alias and then errors near ``j``; we replicate both the alias
  and the error shape (/root/reference/test/sql/psql.test:25-29),
* join tails ``as invoices join <src> as customers on …``
  (/root/reference/README.md:23-26),
* ``select … group by …`` single-stage aggregation
  (/root/reference/README.md:15-20).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .errors import PsqlParseError
from .lexer import Token, depth_map, lex

# Words that may begin a join clause (followed, possibly via modifiers, by JOIN).
_JOIN_MODIFIERS = {
    "natural", "left", "right", "full", "inner", "cross", "semi", "anti",
    "asof", "positional", "outer",
}
_CLAUSE_STARTERS = {
    "select", "where", "group", "having", "qualify", "window",
    "order", "limit", "offset", "using", "union", "intersect", "except",
    "pivot", "unpivot",
}

# Extended pipe-verbs (charter surface beyond the reference): a stage whose
# head word is one of these dispatches to the operator library instead of
# the SQL clause compiler. `from t |> dedup by text |> lang_id |> …`
EXT_VERBS = {
    "dedup", "minhash_dedup", "simhash_dedup", "embedding_dedup",
    "lang_id", "token_count", "quality_score", "fingerprint", "text_stats",
    "summarize",
    "media_stats", "media_features", "media_resize", "frame_sample",
    "media_decode",
    "hash_split", "knn", "pack_bins", "range_join",
    "components", "dedup_canonical", "contamination", "normalize",
    "repetition", "redact", "cap", "chunk", "stratify",
    "cluster",
    "bm25", "lm_score", "dup_spans", "strip_dup_spans", "semdedup",
    "dsir", "strip_html", "gopher_quality", "c4_clean", "paragraph_dedup",
    "vocab", "tfidf", "audio_decode", "audio_resample", "image_stats",
}


@dataclass
class Stage:
    """Parsed clause map of a single pipe stage."""

    alias: str | None = None
    alias_cols: str | None = None  # inner text of an alias column list `v(a, b)`
    joins: str | None = None
    select: str | None = None
    pivot: str | None = None       # raw pivot spec: `(agg FOR col IN …)` or `on col using agg`
    unpivot: str | None = None     # raw unpivot spec: `(val FOR key IN (…))`
    where: list[str] = field(default_factory=list)
    group_by: str | None = None
    having: str | None = None
    qualify: str | None = None
    window: str | None = None
    ext_verb: str | None = None    # extended-operator stage verb
    ext_args: str | None = None    # raw argument text after the verb
    order_by: str | None = None
    limit: str | None = None
    offset: str | None = None
    sample: str | None = None
    setop_tail: str | None = None  # raw trailing UNION/INTERSECT/EXCEPT expression

    def is_pure_alias(self) -> bool:
        return self.alias is not None and all(
            v in (None, []) for v in (
                self.alias_cols, self.joins, self.select, self.pivot, self.unpivot,
                self.group_by, self.having, self.qualify,
                self.window, self.order_by, self.limit, self.offset, self.sample,
                self.setop_tail,
            )
        ) and not self.where


def _is_join_start(tokens: list[Token], i: int) -> bool:
    """True if tokens[i] begins a join clause (e.g. ``left outer join``).

    Distinguishes ``left join …`` from the scalar function ``left(s, n)``
    by requiring a JOIN keyword within the modifier run.
    """
    t = tokens[i]
    if t.kind != "word":
        return False
    w = t.lower
    if w == "join":
        return True
    if w not in _JOIN_MODIFIERS:
        return False
    j = i
    seen = 0
    while j < len(tokens) and seen < 4:
        tj = tokens[j]
        if tj.kind != "word":
            return False
        wj = tj.lower
        if wj == "join":
            return True
        if wj not in _JOIN_MODIFIERS:
            return False
        j += 1
        seen += 1
    return j < len(tokens) and tokens[j].kind == "word" and tokens[j].lower == "join"


def _clause_start_at(sql: str, tokens: list[Token], depths: list[int], i: int) -> str | None:
    """Return the clause name started at token i (depth 0), else None."""
    t = tokens[i]
    if depths[i] != 0 or t.kind != "word":
        return None
    w = t.lower
    if _is_join_start(tokens, i):
        return "join"
    if w not in _CLAUSE_STARTERS:
        return None
    nxt = tokens[i + 1] if i + 1 < len(tokens) else None
    if w in ("group", "order"):
        return w if (nxt is not None and nxt.kind == "word" and nxt.lower == "by") else None
    if w == "using":
        # USING SAMPLE … is a clause; USING (cols) is join-internal (never at
        # depth-0 outside a join segment anyway).
        return "sample" if (nxt is not None and nxt.kind == "word" and nxt.lower == "sample") else None
    if w in ("union", "intersect", "except"):
        return "setop"
    return w


def parse_stage(sql: str) -> Stage:
    """Parse one stage tail (text after ``|>``) into a clause map."""
    tokens = lex(sql)
    depths = depth_map(tokens)
    if not tokens:
        raise PsqlParseError('syntax error at or near ""')
    st = Stage()
    i = 0

    # Extended pipe-verb stage: whole stage is the verb + its argument text.
    first = tokens[0]
    if first.kind == "word" and first.lower in EXT_VERBS:
        st.ext_verb = first.lower
        st.ext_args = sql[first.end :].strip()
        return st

    # Leading alias: explicit `as foo` or DuckDB-style implicit bare alias.
    if first.kind == "word" and first.lower == "as":
        if len(tokens) < 2 or tokens[1].kind not in ("word", "qident"):
            nxt = tokens[1].text if len(tokens) > 1 else ""
            raise PsqlParseError("", near=nxt)
        st.alias = _ident_text(tokens[1])
        i = 2
        i = _maybe_alias_cols(st, sql, tokens, i)
    elif (
        first.kind in ("word", "qident")
        and _clause_start_at(sql, tokens, depths, 0) is None
        and (first.kind == "qident" or first.lower not in ("from",))
    ):
        # Implicit subquery alias, like DuckDB's `FROM (t1) srt …`.
        st.alias = _ident_text(first)
        i = 1
        i = _maybe_alias_cols(st, sql, tokens, i)
        if i < len(tokens) and _clause_start_at(sql, tokens, depths, i) is None:
            raise PsqlParseError("", near=tokens[i].text)
    elif first.kind not in ("word",):
        raise PsqlParseError("", near=first.text)

    # Walk clauses.
    cur: str | None = None
    cur_start: int | None = None  # char offset where clause BODY starts

    def flush(end_offset: int) -> None:
        nonlocal cur, cur_start
        if cur is None:
            return
        body = sql[cur_start:end_offset].strip()
        _assign(st, cur, body, sql)
        cur, cur_start = None, None

    while i < len(tokens):
        name = _clause_start_at(sql, tokens, depths, i)
        if name is None:
            if cur is None:
                raise PsqlParseError("", near=tokens[i].text)
            i += 1
            continue
        flush(tokens[i].start)
        cur = name
        if name == "join":
            # join segment INCLUDES its keywords; body starts at the keyword.
            cur_start = tokens[i].start
            i += 1
            # consume until next non-join clause start
            while i < len(tokens):
                nm = _clause_start_at(sql, tokens, depths, i)
                if nm is not None and nm != "join":
                    break
                i += 1
            continue
        # skip clause keywords to find body start
        skip = 1
        if name in ("group", "order"):
            skip = 2
        elif name == "sample":
            skip = 2  # USING SAMPLE
        elif name == "setop":
            skip = 0  # keep the UNION/… keyword in the body
        i += skip
        cur_start = tokens[i].start if i < len(tokens) else len(sql)
        if name == "setop":
            # Everything to the end of the stage is the set-op tail.
            flush(len(sql))
            return st
        # advance over body tokens
        while i < len(tokens) and _clause_start_at(sql, tokens, depths, i) is None:
            i += 1
    flush(len(sql))
    return st


def _maybe_alias_cols(st: Stage, sql: str, tokens: list[Token], i: int) -> int:
    """Consume an alias column list ``v(a, b, …)`` if present at token i."""
    if i >= len(tokens) or tokens[i].kind != "lparen":
        return i
    close = _match_paren(tokens, i)
    inner = tokens[i + 1 : close]
    if not inner or not all(
        t.kind in ("word", "qident", "comma") for t in inner
    ):
        return i
    st.alias_cols = sql[tokens[i].end : tokens[close].start]
    return close + 1


def _assign(st: Stage, clause: str, body: str, sql: str) -> None:
    if clause == "where":
        st.where.append(body)
        return
    if clause == "join":
        st.joins = body if st.joins is None else f"{st.joins} {body}"
        return
    key = {"group": "group_by", "order": "order_by", "setop": "setop_tail"}.get(clause, clause)
    if getattr(st, key) is not None:
        raise PsqlParseError(f'syntax error at or near "{clause}": duplicate {key} clause')
    setattr(st, key, body)


def _ident_text(tok: Token) -> str:
    if tok.kind == "qident":
        q = tok.text[0]
        if q == '"':
            return tok.text[1:-1].replace('""', '"')
        if q == "`":
            return tok.text[1:-1]
    return tok.text


# ---------------------------------------------------------------------------
# Head stage: `from <source> [stage-tail]`
# ---------------------------------------------------------------------------

@dataclass
class Head:
    """Parsed head stage: a source plus an optional stage tail."""

    kind: str  # "path" | "table" | "sql"
    source: str  # path string, table name, or raw SQL source text
    tail: Stage
    read_args: str | None = None  # raw arg text for read_csv('p', …) forms

    def tail_is_empty(self) -> bool:
        return self.tail == Stage()


_READ_FUNCS = {"read_csv", "read_csv_auto", "read_parquet", "parquet_scan",
               "read_json", "read_json_auto", "read_ndjson", "read_ndjson_auto",
               "read_text", "read_blob"}


def parse_head(sql: str) -> Head | None:
    """Parse a ``from <source> …`` head stage; None if not FROM-led."""
    tokens = lex(sql)
    if not tokens or tokens[0].kind != "word" or tokens[0].lower != "from":
        return None
    if len(tokens) == 1:
        raise PsqlParseError("", near="")
    i = 1
    t = tokens[i]
    if t.kind == "string":
        path = t.text[1:-1].replace("''", "'")
        return _head_with_tail("path", path, sql, tokens, i + 1)
    if t.kind == "op" and t.text == "[":
        # DuckDB multi-file form: from ['a.parquet', 'b.parquet']
        end = _string_list_end(tokens, i)
        if end is not None:
            path = "\n".join(
                tk.text[1:-1].replace("''", "'")
                for tk in tokens[i + 1 : end]
                if tk.kind == "string"
            )
            return _head_with_tail("path", path, sql, tokens, end + 1)
    if t.kind == "lparen":
        j = _match_paren(tokens, i)
        return _head_with_tail("sql", sql[t.start : tokens[j].end], sql, tokens, j + 1)
    if t.kind in ("word", "qident"):
        # stream('p') — Structured Streaming source (extended surface)
        if (
            t.kind == "word"
            and t.lower == "stream"
            and i + 1 < len(tokens)
            and tokens[i + 1].kind == "lparen"
        ):
            j = _match_paren(tokens, i + 1)
            inner = lex(sql[tokens[i + 1].end : tokens[j].start])
            if inner and inner[0].kind == "string":
                path = inner[0].text[1:-1].replace("''", "'")
                return _head_with_tail("stream", path, sql, tokens, j + 1)
        # read_csv('p') style table functions route through the source resolver
        if (
            t.kind == "word"
            and t.lower in _READ_FUNCS
            and i + 1 < len(tokens)
            and tokens[i + 1].kind == "lparen"
        ):
            j = _match_paren(tokens, i + 1)
            inner = lex(sql[tokens[i + 1].end : tokens[j].start])
            if inner and inner[0].kind == "string":
                path = inner[0].text[1:-1].replace("''", "'")
                args = sql[tokens[i + 1].end : tokens[j].start]
                if t.lower in ("read_text", "read_blob"):
                    # carry the format — .txt has no extension dispatch
                    args += f", __fmt={t.lower[5:]}"
                h = _head_with_tail("path", path, sql, tokens, j + 1)
                h.read_args = args
                return h
            if inner and inner[0].kind == "op" and inner[0].text == "[":
                # read_parquet(['a', 'b'], opts…) — list-of-files form
                end = _string_list_end(inner, 0)
                if end is not None:
                    path = "\n".join(
                        tk.text[1:-1].replace("''", "'")
                        for tk in inner[1:end]
                        if tk.kind == "string"
                    )
                    # keep FULL arg text: _parse_read_args skips part 0
                    # (the list, commas bracket-protected) and maps the rest
                    h = _head_with_tail("path", path, sql, tokens, j + 1)
                    h.read_args = sql[tokens[i + 1].end : tokens[j].start]
                    return h
            return _head_with_tail("sql", sql[t.start : tokens[j].end], sql, tokens, j + 1)
        # dotted table name, or a table function call
        j = i
        name_end = tokens[j].end
        while (
            j + 2 < len(tokens)
            and tokens[j + 1].kind == "op"
            and tokens[j + 1].text == "."
            and tokens[j + 2].kind in ("word", "qident")
        ):
            j += 2
            name_end = tokens[j].end
        if j + 1 < len(tokens) and tokens[j + 1].kind == "lparen":
            k = _match_paren(tokens, j + 1)
            return _head_with_tail("sql", sql[t.start : tokens[k].end], sql, tokens, k + 1)
        return _head_with_tail("table", sql[t.start : name_end], sql, tokens, j + 1)
    raise PsqlParseError("", near=t.text)


def _string_list_end(tokens: list[Token], open_i: int) -> int | None:
    """Index of the ``]`` closing a pure string-literal list starting at
    ``tokens[open_i] == '['``; None if the contents are anything else."""
    j = open_i + 1
    expect_string = True
    while j < len(tokens):
        t = tokens[j]
        if t.kind == "op" and t.text == "]":
            return j if not expect_string or j == open_i + 1 else None
        if expect_string and t.kind != "string":
            return None
        if not expect_string and t.kind != "comma":
            return None
        expect_string = not expect_string
        j += 1
    return None


def _head_with_tail(kind: str, source: str, sql: str, tokens: list[Token], next_i: int) -> Head:
    tail_text = sql[tokens[next_i].start :] if next_i < len(tokens) else ""
    tail = parse_stage(tail_text) if tail_text.strip() else Stage()
    return Head(kind=kind, source=source, tail=tail)


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
