"""Dialect shims: DuckDB-flavored SQL text → Spark SQL text.

The reference exposes DuckDB's entire scalar/aggregate function surface by
construction — every pipe stage is spliced into a DuckDB SELECT
(``/root/reference/README.md:3,91``). Our delegated engine is Spark SQL,
whose function catalog mostly overlaps but differs in a known set of names
and forms (SURVEY.md §2.C "Scalar function families"). This module is the
function-name mapping table the survey calls for, applied token-aware so
strings/comments are never touched.

Cases handled:

* ``count()`` → ``count(*)`` — DuckDB accepts zero-arg count
  (``/root/reference/README.md:19``); Spark does not (SURVEY §2.B B6).
* rename-only mappings (``list_value``→``array``, ``strpos``→``instr``, …),
* argument-rewriting mappings (``strftime``/``strptime`` take C-style
  ``%Y-%m-%d`` patterns in DuckDB; Spark's ``date_format``/``to_timestamp``
  take Java patterns — we translate literal format strings),
* bare ``SEMI JOIN`` / ``ANTI JOIN`` → ``LEFT SEMI/ANTI JOIN`` (Spark
  requires the LEFT keyword).
"""

from __future__ import annotations

import re

from ..lexer import Token, lex

# DuckDB name → Spark name, same argument order/semantics (or close enough
# to be value-identical on the conformance surface).
RENAME_MAP: dict[str, str] = {
    # list/array family
    "list_value": "array",
    "list_pack": "array",
    "list_contains": "array_contains",
    "list_has": "array_contains",
    "array_has": "array_contains",
    "list_has_any": "arrays_overlap",
    "list_cat": "concat",
    "list_concat": "concat",
    "list_append": "array_append",
    "list_sort": "array_sort",
    # list_reverse_sort handled as a special case (sort_array(x, false))
    "list_transform": "transform",
    "list_apply": "transform",
    "apply": "transform",
    "list_filter": "filter",
    "list_reduce": "reduce",
    "list_aggregate": "aggregate",
    "array_to_string": "array_join",
    "regexp_split_to_array": "split",
    "json_keys": "json_object_keys",
    "to_hex": "hex",
    # DuckDB's to_binary is an alias of bin (binary-digit STRING); Spark's
    # to_binary is a hex decoder — rename so numeric operands hit Spark's
    # bin(); string operands are expanded by the bin special case above
    "to_binary": "bin",
    "from_hex": "unhex",
    "to_base64": "base64",
    "from_base64": "unbase64",
    "array_reverse": "reverse",
    "list_reverse": "reverse",
    "list_intersect": "array_intersect",
    "ord": "ascii",
    "unicode": "ascii",
    "gen_random_uuid": "uuid",
    # list_zip / array_zip handled as a special case: DuckDB names the
    # zipped struct fields list_1..list_N, pads NULL input lists like
    # empty ones, and takes an optional trailing truncate flag — a bare
    # rename to arrays_zip gets all three wrong
    "array_concat": "concat",
    "list_extract": "element_at",
    "list_element": "element_at",
    "array_extract": "element_at",
    "array_length": "array_size",
    "len": "length",
    "strlen": "length",
    "array_position": "array_position",
    "list_position": "array_position",
    "list_indexof": "array_position",
    "flatten": "flatten",
    "unnest": "explode",
    # string family
    # string_split family handled as a special form: DuckDB splits on a
    # LITERAL delimiter, Spark's split() takes a regex — see the \Q\E
    # quoting rewrite in apply_shims
    "string_split_regex": "split",
    "str_split_regex": "split",
    "regexp_split": "split",
    "list_reverse": "reverse",
    "strpos": "instr",
    # NOTE: `position` is NOT renamed — Spark supports both position(a, b)
    # and the ANSI position(a IN b) natively with DuckDB's semantics
    "starts_with": "startswith",
    "ends_with": "endswith",
    "prefix": "startswith",
    "suffix": "endswith",
    "regexp_matches": "regexp_like",
    # NOTE: md5_number_lower/_upper are NUMERIC (little-endian uint64 of
    # digest halves) — handled in _CALL_TEMPLATES, not a rename to md5
    # (which returns the hex string; r7 bug fix)
    "to_base": "conv",
    "to_hex": "hex",
    "ucase": "upper",
    "lcase": "lower",
    "list_string_agg": "array_join",
    # date/time family
    "epoch": "unix_timestamp",
    "epoch_ms": "unix_millis",
    "epoch_us": "unix_micros",
    "datepart": "date_part",
    "datetrunc": "date_trunc",
    "day": "dayofmonth",
    "dayofmonth": "dayofmonth",
    "isodow": "dayofweek_iso",
    "week": "weekofyear",
    "weekofyear": "weekofyear",
    "yearweek": "weekofyear",
    # aggregates
    "quantile_cont": "percentile",
    "quantile_disc": "percentile_approx",
    "quantile": "percentile_approx",
    # NOTE: no mapping for `mad` — median-absolute-deviation needs a
    # two-pass median; a wrong-value rename would be worse than the error.
    "fsum": "sum",
    "sumkahan": "sum",
    "string_agg": "string_agg",  # Spark 4.0+ has string_agg natively
    "group_concat": "string_agg",
    "bit_and": "bit_and",
    "bool_and": "bool_and",
    "bool_or": "bool_or",
    "arg_max": "max_by",
    "argmax": "max_by",
    "arg_min": "min_by",
    "argmin": "min_by",
    "entropy": "entropy",  # no Spark builtin; kept for error clarity
    # round-7 probe batch: pure renames
    "array_cat": "concat",
    "array_apply": "transform",
    "map_contains": "map_contains_key",
    "array_transform": "transform",
    "array_filter": "filter",
    "array_indexof": "array_position",
    "editdist3": "levenshtein",
    "today": "current_date",
    "get_current_timestamp": "current_timestamp",
    "transaction_timestamp": "current_timestamp",
    "current_localtimestamp": "localtimestamp",
    "make_timestamptz": "make_timestamp",
    "approx_quantile": "approx_percentile",
    # reservoir_quantile: both sides are approximate samplers; values are
    # close but not bit-identical (documented divergence)
    "reservoir_quantile": "approx_percentile",
    "arg_max_null": "max_by",
    "arg_min_null": "min_by",
    "array_to_json": "to_json",
    "unpivot_list": "array",
    # json
    # json_extract family: special-cased in the loop (variant-based JSON
    # extraction with pointer/bare-key path translation)
    "to_json": "to_json",
    "json_array_length": "json_array_length",
    # misc
    "nullif": "nullif",
    "ifnull": "ifnull",
    "coalesce": "coalesce",
}

# C-strftime → Java SimpleDateFormat-ish translation for literal formats.
_STRFTIME_MAP = [
    ("%%", "%"),
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "MM"), ("%d", "dd"),
    ("%H", "HH"), ("%I", "hh"), ("%M", "mm"), ("%S", "ss"),
    ("%f", "SSSSSS"), ("%g", "SSS"), ("%p", "a"), ("%j", "DDD"),
    ("%b", "MMM"), ("%B", "MMMM"), ("%a", "EEE"), ("%A", "EEEE"),
    ("%G", "YYYY"), ("%V", "ww"), ("%Z", "zzz"), ("%z", "xxx"),
]


# %-tokens with NO Java pattern: computed expressions spliced around
# date_format by the strftime shim ({x} = the datetime operand).
# C semantics (probe-pinned): %U weeks start Sunday, %W Monday; days
# before the year's first start-day are week 00.
_STRFTIME_EXPR = {
    "%U": ("lpad(cast(cast((dayofyear({x}) + 6 - (dayofweek({x}) - 1))"
           " / 7 as int) as string), 2, '0')"),
    "%W": ("lpad(cast(cast((dayofyear({x}) + 6 - ((dayofweek({x}) + 5)"
           " % 7)) / 7 as int) as string), 2, '0')"),
}
_STRFTIME_TOK = dict(_STRFTIME_MAP)


def strftime_segments(fmt: str) -> list[tuple[str, str]]:
    """C-strftime format → [('fmt', java-pattern) | ('expr', template)]
    segments. Literal ASCII letters are single-QUOTED in the java
    pattern (every letter is reserved there — '%Y-%m-%dT%H' previously
    died on the bare T), and ' escapes as ''."""
    segs: list[tuple[str, str]] = []
    cur = ""
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            if tok in _STRFTIME_EXPR:
                if cur:
                    segs.append(("fmt", cur))
                    cur = ""
                segs.append(("expr", _STRFTIME_EXPR[tok]))
                i += 2
                continue
            mapped = _STRFTIME_TOK.get(tok)
            if mapped is not None:
                cur += mapped
                i += 2
                continue
        # literal run: consecutive non-token chars; letter-bearing runs
        # are quoted as ONE block ('week', not 'w''e''e''k' — Java reads
        # '' between blocks as a literal quote char)
        j = i
        while j < len(fmt) and not (fmt[j] == "%" and j + 1 < len(fmt)):
            j += 1
        lit = fmt[i:j]
        if any(ch.isalpha() for ch in lit):
            cur += "'" + lit.replace("'", "''") + "'"
        else:
            cur += lit.replace("'", "''")
        i = j
    if cur:
        segs.append(("fmt", cur))
    return segs


def translate_strftime_format(fmt: str) -> str:
    out = []
    for kind, seg in strftime_segments(fmt):
        # option-string callers (dateformat=…) have no expression slot:
        # %U/%W render as a quoted literal — visible, never silent
        out.append(seg if kind == "fmt" else "'%U/%W unsupported'")
    return "".join(out)


def _match_paren_tok(tokens: list[Token], open_i: int) -> int:
    d = 0
    for k in range(open_i, len(tokens)):
        if tokens[k].kind in ("lparen", "block_open"):
            d += 1
        elif tokens[k].kind in ("rparen", "block_close"):
            d -= 1
            if d == 0:
                return k
    return len(tokens) - 1


def _split_args(text: str) -> list[str]:
    """Split call-argument text on top-level commas."""
    toks = lex(text)
    parts: list[str] = []
    d = 0
    pos = 0
    for t in toks:
        if t.kind in ("lparen", "block_open"):
            d += 1
        elif t.kind in ("rparen", "block_close"):
            d -= 1
        elif t.kind == "comma" and d == 0:
            parts.append(text[pos : t.start].strip())
            pos = t.end
    tail = text[pos:].strip()
    if tail or parts:
        parts.append(tail)
    return parts


def _ends_primary(t: Token) -> bool:
    """Can token t END a primary expression? Used to read `~`/`!`/`^` as
    BINARY/postfix operators (a primary on the left) vs prefix ones."""
    if t.kind in ("number", "string", "rparen", "qident"):
        return True
    if t.kind == "op" and t.text in ("]",):
        return True
    return t.kind == "word" and t.lower not in _SUBQUERY_KEYWORDS and t.lower not in (
        "and", "or", "not", "when", "then", "else", "case", "on", "in",
        "like", "ilike", "between", "is", "distinct", "escape", "glob",
    )


def _primary_start(tokens: list[Token], j: int) -> int | None:
    """Start index of the primary expression ending at token j (number,
    word/qident chain, call, or parenthesized group)."""
    t = tokens[j]
    if t.kind in ("number", "string"):
        return j
    if t.kind == "rparen":
        d = 0
        k = j
        while k >= 0:
            if tokens[k].kind == "rparen":
                d += 1
            elif tokens[k].kind == "lparen":
                d -= 1
                if d == 0:
                    if k > 0 and (
                        tokens[k - 1].kind == "qident"
                        or (
                            tokens[k - 1].kind == "word"
                            and tokens[k - 1].lower
                            not in (_BRACKET_KEYWORDS - {"array"})
                        )
                    ):
                        return k - 1
                    return k
            k -= 1
        return None
    if t.kind in ("word", "qident"):
        while (
            j >= 2
            and tokens[j - 1].kind == "op" and tokens[j - 1].text == "."
            and tokens[j - 2].kind in ("word", "qident")
        ):
            j -= 2
        return j
    return None


def _primary_end(tokens: list[Token], j: int) -> int | None:
    """End index of the primary expression starting at token j."""
    t = tokens[j]
    if t.kind == "op" and t.text == "-" and j + 1 < len(tokens):
        nxt = _primary_end(tokens, j + 1)
        return nxt
    if t.kind in ("number", "string"):
        return j
    if t.kind == "lparen":
        return _match_paren_tok(tokens, j)
    if t.kind in ("word", "qident"):
        while (
            j + 2 < len(tokens)
            and tokens[j + 1].kind == "op" and tokens[j + 1].text == "."
            and tokens[j + 2].kind in ("word", "qident")
        ):
            j += 2
        if j + 1 < len(tokens) and tokens[j + 1].kind == "lparen":
            return _match_paren_tok(tokens, j + 1)
        return j
    return None


_ARITH_CHAIN_OPS = frozenset(("+", "-", "*", "/", "%", "//", "^", "**"))

# functions whose DuckDB return type is DOUBLE regardless of argument
# type — used by the `//` integral-vs-double split (probe: `sqrt(16) //
# 3` = 1.333…, `abs(-7.5) // 2` = 3.75 i.e. plain division)
_DOUBLE_RETURNING_FNS = frozenset((
    "sqrt", "cbrt", "exp", "ln", "log", "log2", "log10", "sin", "cos",
    "tan", "asin", "acos", "atan", "atan2", "sinh", "cosh", "tanh",
    "pi", "radians", "degrees", "random", "power", "pow", "avg", "mean",
    "stddev", "stddev_pop", "stddev_samp", "var_pop", "var_samp",
    "variance", "median", "gamma", "lgamma",
))


def _is_unary_sign(tokens: list[Token], k: int) -> bool:
    """Token k is a prefix ``-``/``+`` (no primary ends right before it)."""
    t = tokens[k]
    return (
        t.kind == "op"
        and t.text in ("-", "+")
        and (k == 0 or not _ends_primary(tokens[k - 1]))
    )


def _arith_chain_start(tokens: list[Token], j: int) -> int | None:
    """Start index of the maximal depth-0 arithmetic chain ending at
    token j: primaries joined by + - * / % // ^ **, each optionally
    signed. Scans left until a non-arithmetic token (comparison, comma,
    clause keyword, paren boundary). Used where DuckDB binds an operator
    BELOW arithmetic (postfix factorial: ``2 * 3!`` = 720)."""
    k = _primary_start(tokens, j)
    if k is None:
        return None
    while True:
        if k > 0 and _is_unary_sign(tokens, k - 1):
            k -= 1  # signed operand: `-3!` = factorial(-3), probe-verified
            # chain may continue left past a binary op before the sign
            if (
                k >= 2
                and tokens[k - 1].kind == "op"
                and tokens[k - 1].text in _ARITH_CHAIN_OPS
                and _ends_primary(tokens[k - 2])
            ):
                nxt = _primary_start(tokens, k - 2)
                if nxt is None:
                    return k
                k = nxt
                continue
            return k
        if (
            k >= 2
            and tokens[k - 1].kind == "op"
            and tokens[k - 1].text in _ARITH_CHAIN_OPS
            and _ends_primary(tokens[k - 2])
        ):
            nxt = _primary_start(tokens, k - 2)
            if nxt is None:
                return k
            k = nxt
            continue
        return k


_ORDERED_AGGS = {
    "string_agg", "listagg", "group_concat",
    "array_agg", "list", "collect_list",
    "first", "last", "any_value", "arbitrary",
}

# Aggregates where an in-call ORDER BY (legal DuckDB) cannot change the
# result — the clause is simply dropped.
_ORDER_INSENSITIVE_AGGS = {
    "min", "max", "sum", "avg", "count", "bool_and", "bool_or",
    "bit_and", "bit_or", "bit_xor", "product",
}


_UNIT_SECONDS = {
    "second": 1, "seconds": 1, "sec": 1, "secs": 1, "s": 1,
    "minute": 60, "minutes": 60, "min": 60, "mins": 60, "m": 60,
    "hour": 3600, "hours": 3600, "h": 3600,
    "day": 86400, "days": 86400, "d": 86400,
}


def _interval_seconds(text: str) -> int | None:
    """Parse ``INTERVAL '15 minutes'`` / ``INTERVAL 15 MINUTE`` → seconds."""
    toks = lex(text)
    if not toks or toks[0].kind != "word" or toks[0].lower != "interval":
        return None
    qty = unit = None
    if len(toks) == 2 and toks[1].kind == "string":
        parts = toks[1].text[1:-1].split()
        if len(parts) == 2 and parts[0].lstrip("-").isdigit():
            qty, unit = int(parts[0]), parts[1].lower()
        elif len(parts) == 1 and parts[0].lstrip("-").isdigit():
            qty, unit = int(parts[0]), "second"
    elif len(toks) == 3 and toks[1].kind in ("number", "string") and toks[2].kind == "word":
        raw = toks[1].text.strip("'")
        if raw.lstrip("-").isdigit():
            qty, unit = int(raw), toks[2].lower
    if qty is None or unit not in _UNIT_SECONDS or qty <= 0:
        return None
    return qty * _UNIT_SECONDS[unit]


_UNIT_MONTHS = {
    "month": 1, "months": 1, "mon": 1,
    "quarter": 3, "quarters": 3,
    "year": 12, "years": 12,
    "decade": 120, "decades": 120,
    "century": 1200, "centuries": 1200,
}


def _interval_months(text: str) -> int | None:
    """Parse ``INTERVAL '1 month'`` / ``INTERVAL 2 YEAR`` → months."""
    toks = lex(text)
    if not toks or toks[0].kind != "word" or toks[0].lower != "interval":
        return None
    qty = unit = None
    if len(toks) == 2 and toks[1].kind == "string":
        parts = toks[1].text[1:-1].split()
        if len(parts) == 2 and parts[0].lstrip("-").isdigit():
            qty, unit = int(parts[0]), parts[1].lower()
    elif len(toks) == 3 and toks[1].kind in ("number", "string") and toks[2].kind == "word":
        raw = toks[1].text.strip("'")
        if raw.lstrip("-").isdigit():
            qty, unit = int(raw), toks[2].lower
    if qty is None or unit not in _UNIT_MONTHS or qty <= 0:
        return None
    return qty * _UNIT_MONTHS[unit]


def _strip_direction(order_text: str) -> tuple[str, bool]:
    """Split a single order key into (key, is_desc); strips ASC/DESC."""
    toks = lex(order_text)
    if toks and toks[-1].kind == "word" and toks[-1].lower in ("asc", "desc"):
        return order_text[: toks[-1].start].strip(), toks[-1].lower == "desc"
    return order_text.strip(), False


def _split_order_by(arg: str) -> tuple[str, str] | None:
    """Split ``expr ORDER BY keys`` at top level; None if no ORDER BY."""
    toks = lex(arg)
    d = 0
    for k, t in enumerate(toks):
        if t.kind in ("lparen", "block_open"):
            d += 1
        elif t.kind in ("rparen", "block_close"):
            d -= 1
        elif (
            d == 0 and t.kind == "word" and t.lower == "order"
            and k + 1 < len(toks) and toks[k + 1].kind == "word"
            and toks[k + 1].lower == "by"
        ):
            return arg[: t.start].strip(), arg[toks[k + 1].end :].strip()
    return None


# Words after which a `[` starts an ARRAY LITERAL, not subscript indexing.
_BRACKET_KEYWORDS = {
    "select", "where", "when", "then", "else", "end", "and", "or", "not",
    "in", "as", "from", "by", "on", "having", "limit", "offset", "order",
    "group", "distinct", "all", "union", "intersect", "except", "case",
    "between", "like", "ilike", "is", "null", "true", "false", "return",
    "returns", "values", "array",
}


def _match_bracket(tokens: list[Token], open_i: int) -> int:
    d = 0
    for k in range(open_i, len(tokens)):
        t = tokens[k]
        if t.kind == "op" and t.text == "[":
            d += 1
        elif t.kind == "op" and t.text == "]":
            d -= 1
            if d == 0:
                return k
    return -1


def _base_start(tokens: list[Token], j: int) -> int | None:
    """Token index where the postfix base expression ending at j begins."""
    while True:
        t = tokens[j]
        if t.kind == "rparen":
            d = 0
            k = j
            while k >= 0:
                if tokens[k].kind == "rparen":
                    d += 1
                elif tokens[k].kind == "lparen":
                    d -= 1
                    if d == 0:
                        break
                k -= 1
            if k < 0:
                return None
            j = k
            # function call: absorb the callee name (keywords are clause
            # heads, not callees — but `array(…)` IS a call)
            if j > 0 and (
                tokens[j - 1].kind == "qident"
                or (
                    tokens[j - 1].kind == "word"
                    and tokens[j - 1].lower not in (_BRACKET_KEYWORDS - {"array"})
                )
            ):
                j -= 1
        elif t.kind == "op" and t.text == "]":
            k = j
            d = 0
            while k >= 0:
                tk = tokens[k]
                if tk.kind == "op" and tk.text == "]":
                    d += 1
                elif tk.kind == "op" and tk.text == "[":
                    d -= 1
                    if d == 0:
                        break
                k -= 1
            if k <= 0:
                return None
            return _base_start(tokens, k - 1)
        elif t.kind in ("word", "qident"):
            pass
        elif t.kind == "string":
            return j  # string literal base: 'hello'[2:4]
        else:
            return None
        # absorb dotted qualification
        if j >= 2 and tokens[j - 1].kind == "op" and tokens[j - 1].text == "." and tokens[
            j - 2
        ].kind in ("word", "qident", "rparen"):
            j -= 2
            continue
        return j


def _match_brace(tokens: list[Token], open_i: int) -> int:
    d = 0
    for k in range(open_i, len(tokens)):
        t = tokens[k]
        if t.kind == "op" and t.text == "{":
            d += 1
        elif t.kind == "op" and t.text == "}":
            d -= 1
            if d == 0:
                return k
    return -1


def _split_top_pairs(tokens: list[Token], sql: str, lo: int, hi: int):
    """Split tokens[lo:hi] on top-level commas, then each part on its first
    top-level colon. Returns list of (key_text, value_text) or None."""
    parts: list[tuple[int, int]] = []
    d = 0
    start = lo
    for k in range(lo, hi):
        t = tokens[k]
        if t.kind in ("lparen", "block_open") or (t.kind == "op" and t.text in ("[", "{")):
            d += 1
        elif t.kind in ("rparen", "block_close") or (t.kind == "op" and t.text in ("]", "}")):
            d -= 1
        elif d == 0 and t.kind == "comma":
            parts.append((start, k))
            start = k + 1
    parts.append((start, hi))
    pairs = []
    for lo2, hi2 in parts:
        d = 0
        colon = None
        for k in range(lo2, hi2):
            t = tokens[k]
            if t.kind in ("lparen", "block_open") or (t.kind == "op" and t.text in ("[", "{")):
                d += 1
            elif t.kind in ("rparen", "block_close") or (t.kind == "op" and t.text in ("]", "}")):
                d -= 1
            elif d == 0 and t.kind == "op" and t.text == ":":
                colon = k
                break
        if colon is None or colon == lo2 or colon + 1 >= hi2:
            return None
        key = sql[tokens[lo2].start : tokens[colon].start].strip()
        val = sql[tokens[colon].end : tokens[hi2 - 1].end].strip()
        pairs.append((key, val))
    return pairs


def rewrite_braces(sql: str) -> str:
    """DuckDB brace literals → Spark constructors:

    * struct literal ``{'k': v, …}`` → ``named_struct('k', v, …)``
    * map literal ``MAP {'k': v, …}`` → ``map('k', v, …)`` (``MAP {}`` → ``map()``)

    Only shapes that parse as colon-separated pairs are rewritten; anything
    else is left untouched (it was not a DuckDB literal to begin with).
    """
    for _ in range(64):
        tokens = lex(sql)
        changed = False
        for i, t in enumerate(tokens):
            if t.kind != "op" or t.text != "{":
                continue
            close = _match_brace(tokens, i)
            if close < 0:
                return sql
            prev = tokens[i - 1] if i > 0 else None
            is_map = prev is not None and prev.kind == "word" and prev.lower == "map"
            start = prev.start if is_map else t.start
            if close == i + 1:  # empty braces
                if is_map:
                    sql = sql[:start] + "map()" + sql[tokens[close].end :]
                    changed = True
                    break
                continue
            pairs = _split_top_pairs(tokens, sql, i + 1, close)
            if pairs is None:
                continue
            if not is_map and not all(
                p[0].startswith("'") or p[0].startswith('"') for p in pairs
            ):
                continue  # struct keys must be quoted names
            if is_map:
                # not map(k, v, …): the 2-arg DuckDB map(keys, vals) shim
                # would re-rewrite a 1-pair literal into map_from_arrays(k, v)
                ks = ", ".join(k for k, _ in pairs)
                vs = ", ".join(rewrite_braces(v) for _, v in pairs)
                repl = f"map_from_arrays(array({ks}), array({vs}))"
            else:
                flat = ", ".join(f"{k}, {rewrite_braces(v)}" for k, v in pairs)
                repl = f"named_struct({flat})"
            sql = sql[:start] + repl + sql[tokens[close].end :]
            changed = True
            break
        if not changed:
            return sql
    return sql


def _gcd_sql(a: str, b: str) -> str:
    """Euclid's algorithm as a bounded fold (92 steps covers 64-bit worst
    case — consecutive Fibonacci numbers). DuckDB semantics: absolute
    values, gcd(0, n) = |n|."""
    return (
        "aggregate(sequence(1, 92), "
        f"named_struct('g', abs(cast(({a}) as bigint)), 'r', abs(cast(({b}) as bigint))), "
        "(acc, i) -> if(acc.r = 0, acc, named_struct('g', acc.r, 'r', acc.g % acc.r)), "
        "acc -> acc.g)"
    )


# array_*/list_* calls that return SCALARS, not arrays — excluded from the
# arrayish classifier so e.g. len(array_to_string(x, ',')) stays a string
# length, not a size() rewrite
_SCALAR_ARRAY_FNS = (
    r"to_string|join|contains|position|size|indexof|index_of|distance|"
    r"cosine_similarity|cosine_distance|dot_product|inner_product|"
    r"has_any|has_all|aggregate|aggr|reduce|min|max|sum|avg|mean|unique"
)

# DuckDB to_<unit>(n) interval constructors → Spark make_*_interval
_TO_INTERVAL = {
    "to_years": "make_ym_interval({x}, 0)",
    "to_months": "make_ym_interval(0, {x})",
    "to_days": "make_dt_interval({x}, 0, 0, 0)",
    "to_hours": "make_dt_interval(0, {x}, 0, 0)",
    "to_minutes": "make_dt_interval(0, 0, {x}, 0)",
    "to_seconds": "make_dt_interval(0, 0, 0, {x})",
    "to_milliseconds": "make_dt_interval(0, 0, 0, ({x}) / 1000)",
    "to_microseconds": "make_dt_interval(0, 0, 0, ({x}) / 1000000)",
}

_ARRAYISH_HEADS = re.compile(
    r"(?i)^\s*(array|slice|split|string_split|string_to_array|str_split|"
    r"regexp_split_to_array|sequence|range|collect_list|collect_set|"
    r"list|map_keys|map_values|transform|filter|"
    rf"array_(?!(?:{_SCALAR_ARRAY_FNS})\s*\()\w+|"
    rf"list_(?!(?:{_SCALAR_ARRAY_FNS})\s*\()\w+|"
    r"generate_series|sort_array|shuffle|flatten|zip_with|arrays_zip)\s*\("
)


def _is_arrayish(arg: str, schema: dict[str, str] | None) -> bool:
    """Does this expression text statically look array-typed?"""
    if _ARRAYISH_HEADS.match(arg):
        return True
    t = _hint_type(schema, arg.strip())
    if t is not None and t.startswith("array<"):
        return True
    lt = _literal_type(arg)
    return isinstance(lt, tuple) and lt[0] == "array"


def _strip_outer_parens(e: str) -> str:
    e = e.strip()
    while e.startswith("(") and e.endswith(")"):
        toks = lex(e)
        if not toks or toks[0].kind != "lparen":
            break
        try:
            if _match_paren_tok(toks, 0) != len(toks) - 1:
                break
        except Exception:  # noqa: BLE001
            break
        e = e[1:-1].strip()
    return e


def _literal_type(expr: str):
    """Static COARSE type of a self-contained literal expression chain —
    specifically the Spark text our OWN rewrites emit for nested
    literals (round-12 batch-9 finds: map subscripts reached through
    struct-field / list-index chains lost their map-ness, so
    ``{'a': {'b': [map {'x': 9}]}}.a.b[1]['x']`` returned the bare value
    where DuckDB returns the singleton LIST).

    Returns ('array', elem) / ('map', value) / ('struct', {field: t}) /
    'string' / 'other' / None (unknown). Recognized heads: array(),
    map(k_arr, v_arr), named_struct('f', v, …), element_at /
    try_element_at, if(c, a, b), slice(), transform(), plus top-level
    ``.field`` access and balanced outer parens. Anything else → None,
    and callers keep their existing fallbacks — the inferencer can only
    RECOVER type knowledge, never override a schema hint."""
    e = _strip_outer_parens(expr)
    if not e:
        return None
    # top-level trailing field access: X.f (scan depth-0 dots from right)
    toks = lex(e)
    depth = 0
    for k in range(len(toks) - 1, 0, -1):
        t = toks[k]
        if t.kind in ("rparen", "block_close"):
            depth += 1
        elif t.kind in ("lparen", "block_open"):
            depth -= 1
        elif (
            depth == 0
            and t.kind == "op"
            and t.text == "."
            and k == len(toks) - 2
            and toks[k + 1].kind == "word"
        ):
            bt = _literal_type(e[: t.start])
            if isinstance(bt, tuple) and bt[0] == "struct":
                return bt[1].get(toks[k + 1].lower)
            return None
    if e.startswith("'") and e.endswith("'"):
        return "string"
    m = re.match(r"(?is)^(\w+)\s*\(", e)
    if m is None:
        return None
    head = m.group(1).lower()
    if not e.endswith(")"):
        return None
    body = e[m.end() : -1]
    try:
        args = _split_args(body)
    except Exception:  # noqa: BLE001
        return None
    if head == "array":
        return ("array", _literal_type(args[0]) if args else None)
    if head in ("map", "map_from_arrays") and len(args) == 2:
        # two forms share this arity (ADVICE r12): DuckDB's
        # map(keys_array, values_array) — which the dialect also accepts
        # spelled map_from_arrays — versus Spark's variadic
        # map('k', v) with exactly one key/value pair. Only unwrap the
        # array element type when the args really are the array-pair
        # form; a variadic pair's value type is the second arg's own
        # type (mis-unwrapping rewrote downstream subscript chains to a
        # non-singleton-list shape).
        kt = _literal_type(args[0])
        vt = _literal_type(args[1])
        if head == "map_from_arrays" or (
            isinstance(kt, tuple) and kt[0] == "array"
        ):
            return ("map", vt[1] if isinstance(vt, tuple) and vt[0] == "array"
                    else None)
        return ("map", vt)
    if head == "map" and len(args) >= 4 and len(args) % 2 == 0:
        # variadic k1, v1, k2, v2, …: value type from the first pair
        return ("map", _literal_type(args[1]))
    if head in ("map_from_entries", "map_concat") and args:
        return ("map", None)
    if head == "named_struct":
        fields = {}
        for k in range(0, len(args) - 1, 2):
            name = args[k].strip().strip("'").lower()
            fields[name] = _literal_type(args[k + 1])
        return ("struct", fields)
    if head in ("element_at", "try_element_at") and len(args) == 2:
        bt = _literal_type(args[0])
        if isinstance(bt, tuple) and bt[0] in ("array", "map"):
            return bt[1]
        return None
    if head == "if" and len(args) == 3:
        for cand in (args[1], args[2]):
            ct = _literal_type(cand)
            if ct is not None:
                return ct
        return None
    if head in ("slice", "array_distinct", "array_compact", "reverse",
                "sort_array", "array_sort", "flatten_once"):
        return _literal_type(args[0]) if args else None
    if head in ("transform", "filter"):
        return ("array", None)
    return None


def _hint_type(schema: dict[str, str] | None, base: str) -> str | None:
    """Column dtype for a simple (possibly qualified) column base, if
    known — or the target type of an explicit cast (``cast(x as
    varchar)`` / ``x::varchar``), which needs no schema."""
    m = re.fullmatch(
        r"(?is)cast\s*\(.*\s+as\s+([a-z_]+)\s*\)|.*::\s*([a-z_]+)",
        base.strip(),
    )
    if m:
        typ = (m.group(1) or m.group(2)).lower()
        return {
            "varchar": "string", "text": "string", "char": "string",
            "string": "string",
        }.get(typ, typ)
    name = base.split(".")[-1].strip().strip('`"').lower()
    if not re.fullmatch(r"[\w$]+", name) or not schema:
        return None
    return schema.get(name)


_NONDET_FNS = frozenset(
    ("random", "rand", "randn", "uuid", "gen_random_uuid", "shuffle")
)


def _has_nondet(expr: str) -> bool:
    """True when ``expr`` contains a non-deterministic function call.
    Such operands must be evaluated exactly once, so the half-away cast
    shim falls back to a single ``round(e, 0)`` (Spark HALF_UP — same
    away-from-zero ties) instead of the branchless three-occurrence
    floor form (ADVICE r6: the CASE branches would re-evaluate)."""
    toks = lex(expr)
    for k, t in enumerate(toks):
        if (
            t.kind == "word"
            and t.lower in _NONDET_FNS
            and k + 1 < len(toks)
            and toks[k + 1].kind == "lparen"
        ):
            return True
    return False


def _decimal_arith_expr(schema: dict[str, str] | None, expr: str) -> bool:
    """True when ``expr`` is simple +/-/* arithmetic whose DuckDB result
    type is DECIMAL: every operand is a decimal- or integer-hinted column,
    an exponent-free numeric literal, or parens over such, with at least
    one decimal in the mix. DuckDB keeps +/-/* over DECIMAL×(DECIMAL|
    INTEGER) DECIMAL-typed (probe: typeof(1.5*2)=DECIMAL(12,1)) and casts
    DECIMAL→int half-away-from-zero, while ``/`` or any DOUBLE operand
    flips the result to DOUBLE (half-even). Lets the int-cast shim pick
    away-mode for expressions like cast(l_quantity * 2 as int) that the
    simple-column hint can't type (ADVICE r6)."""
    toks = lex(expr)
    if not toks:
        return False
    saw_decimal = False
    i = 0
    n = len(toks)
    while i < n:
        t = toks[i]
        if t.kind == "number":
            low = t.text.lower()
            if "e" in low or low.endswith(("d", "f")):
                return False  # double literal
            saw_decimal = saw_decimal or "." in low
            i += 1
        elif t.kind in ("word", "qident"):
            # identifier chain a.b.c — type from the last segment
            j = i
            while (
                j + 2 < n
                and toks[j + 1].kind == "op"
                and toks[j + 1].text == "."
                and toks[j + 2].kind in ("word", "qident")
            ):
                j += 2
            if j + 1 < n and toks[j + 1].kind == "lparen":
                return False  # function call — unknown type
            ht = _hint_type(schema, expr[toks[i].start : toks[j].end]) or ""
            if ht.startswith("decimal"):
                saw_decimal = True
            elif ht not in ("tinyint", "smallint", "int", "bigint"):
                return False
            i = j + 1
        elif t.kind in ("lparen", "rparen"):
            i += 1
        elif t.kind == "op" and t.text in ("+", "-", "*"):
            i += 1
        else:
            return False
    return saw_decimal


def rewrite_brackets(sql: str, schema: dict[str, str] | None = None) -> str:
    """DuckDB bracket syntax → Spark:

    * literal ``[e1, e2]`` → ``array(e1, e2)``,
    * 1-based subscript ``expr[i]`` → ``element_at(expr, i)`` (Spark's
      native ``[ ]`` is 0-based — silently wrong, so always rewrite),
    * inclusive slice ``expr[a:b]`` → ``slice(expr, a, (b)-(a)+1)``,
    * with a schema hint: string bases slice via ``substring`` and map
      subscripts return DuckDB's singleton-or-empty LIST shape.
    """
    for _ in range(64):  # restart after each rewrite; bounded
        tokens = lex(sql)
        changed = False
        for i, t in enumerate(tokens):
            if t.kind != "op" or t.text != "[":
                continue
            close = _match_bracket(tokens, i)
            if close < 0:
                return sql
            inner = rewrite_brackets(sql[t.end : tokens[close].start], schema)
            prev = tokens[i - 1] if i > 0 else None
            is_postfix = prev is not None and (
                prev.kind in ("qident", "rparen", "string")
                or (prev.kind == "op" and prev.text == "]")
                or (prev.kind == "word" and prev.lower not in _BRACKET_KEYWORDS)
            )
            if not is_postfix:
                # DuckDB list comprehension [expr FOR var IN list [IF cond]]
                m = re.match(
                    r"(?is)^(.+?)\s+for\s+(\w+)\s+in\s+(.+?)(?:\s+if\s+(.+))?$",
                    inner.strip(),
                )
                if m:
                    expr, var, src, cond = m.groups()
                    if cond:
                        body = f"transform(filter({src}, {var} -> {cond}), {var} -> {expr})"
                    else:
                        body = f"transform({src}, {var} -> {expr})"
                    sql = sql[: t.start] + body + sql[tokens[close].end :]
                    changed = True
                    break
                # `ARRAY[…]` keyword form: the keyword becomes the call
                start = (
                    prev.start
                    if prev is not None and prev.kind == "word" and prev.lower == "array"
                    else t.start
                )
                sql = sql[:start] + f"array({inner})" + sql[tokens[close].end :]
                changed = True
                break
            start_tok = _base_start(tokens, i - 1)
            if start_tok is None:
                continue  # unrecognized base; leave untouched
            base = sql[tokens[start_tok].start : t.start].strip()
            # cast type position: `cast(x as float[3])` / `x::int[]` —
            # the bracket is DuckDB's array-type suffix, not a subscript
            # (Spark has no fixed-width arrays; the width erases)
            before = tokens[start_tok - 1] if start_tok > 0 else None
            if (
                tokens[start_tok].kind == "word"
                and before is not None
                and (
                    (before.kind == "word" and before.lower == "as")
                    or (before.kind == "op" and before.text == "::")
                )
                and re.fullmatch(r"\s*\d*\s*", sql[t.end : tokens[close].start])
            ):
                sql = (
                    sql[: tokens[start_tok].start]
                    + f"array<{_map_type_name(base)}>"
                    + sql[tokens[close].end :]
                )
                changed = True
                break
            # top-level slice colon?
            itoks = lex(inner)
            d = 0
            colon = None
            for k, it in enumerate(itoks):
                if it.kind in ("lparen", "block_open"):
                    d += 1
                elif it.kind in ("rparen", "block_close"):
                    d -= 1
                elif d == 0 and it.kind == "op" and it.text == ":":
                    colon = k
                    break
            base_type = _hint_type(schema, base)
            if base_type is None and re.match(
                r"(?i)^\s*(map|map_from_arrays|map_from_entries|map_concat)"
                r"\s*\(",
                base,
            ):
                base_type = "map<"  # constructor expression: statically a map
            if base_type is None:
                # literal-chain inference (round-12 batch-9 find): a map
                # reached through struct-field / list-index access must
                # keep DuckDB's singleton-LIST subscript shape
                lt = _literal_type(base)
                if isinstance(lt, tuple) and lt[0] == "map":
                    base_type = "map<"
            is_string_base = base.startswith("'") or (
                base_type is not None and base_type == "string"
            )
            # second top-level colon → stepped slice l[a:b:c]
            colon2 = None
            if colon is not None:
                d = 0
                for k in range(colon + 1, len(itoks)):
                    it = itoks[k]
                    if it.kind in ("lparen", "block_open"):
                        d += 1
                    elif it.kind in ("rparen", "block_close"):
                        d -= 1
                    elif d == 0 and it.kind == "op" and it.text == ":":
                        colon2 = k
                        break
            if colon2 is not None and not is_string_base:
                # DuckDB stepped list slice: 1-based inclusive with stride
                # → index generation + element gather (stays codegen-side)
                a = inner[: itoks[colon].start].strip() or "1"
                b = inner[itoks[colon].end : itoks[colon2].start].strip()
                c = inner[itoks[colon2].end :].strip() or "1"
                stop = f"least(({b}), size({base}))" if b else f"size({base})"
                repl = (
                    f"transform(sequence(({a}), {stop}, ({c})), "
                    f"__si -> element_at({base}, __si))"
                )
            elif colon is not None:
                a = inner[: itoks[colon].start].strip() or "1"
                b = inner[itoks[colon].end :].strip()
                if is_string_base:
                    # DuckDB slices strings too: 1-based inclusive substring;
                    # open end `[a:]` = to end of string (2-arg substring)
                    repl = (
                        f"substring({base}, {a})"
                        if not b
                        else f"substring({base}, {a}, ({b})-({a})+1)"
                    )
                elif not b:
                    repl = f"slice({base}, {a}, greatest(size({base})-({a})+1, 0))"
                else:
                    repl = f"slice({base}, {a}, ({b})-({a})+1)"
            elif base_type is not None and base_type.startswith("map<"):
                # DuckDB map[key] yields a LIST: [value] on hit, [] on miss
                repl = (
                    f"if(map_contains_key({base}, {inner}), "
                    f"array(element_at({base}, {inner})), array())"
                )
            elif is_string_base:
                # DuckDB subscripts strings: 'abc'[2] is the 1-char
                # substring; Spark's element_at rejects strings
                repl = f"substring({base}, {inner}, 1)"
            else:
                # DuckDB out-of-range subscripts yield NULL ([1,2][5] and
                # [1,2][0] are NULL, [-1] indexes from the end); Spark's
                # element_at throws under ANSI, and even try_element_at
                # throws on index 0 — guard numeric indexes. String
                # subscripts (map keys) skip the zero-guard: comparing a
                # key to 0 would itself be an ANSI cast error.
                _it = lex(inner.strip())
                _stringy = (
                    len(_it) == 1 and _it[0].kind == "string"
                ) or (_hint_type(schema, inner.strip()) or "") == "string"
                if _stringy:
                    repl = f"try_element_at({base}, {inner})"
                else:
                    repl = (
                        f"if(({inner}) = 0, null, "
                        f"try_element_at({base}, {inner}))"
                    )
            sql = sql[: tokens[start_tok].start] + repl + sql[tokens[close].end :]
            changed = True
            break
        if not changed:
            return sql
    return sql


_NULL_TREATMENT_FNS = {
    "first_value", "last_value", "nth_value", "lead", "lag",
    "first", "last", "any_value",
}

_INT_CAST_TYPES = {
    "int", "integer", "bigint", "smallint", "tinyint",
    "int1", "int2", "int4", "int8", "long", "short", "signed",
}

# DuckDB type names Spark spells differently (bare names only — a
# parenthesized length like varchar(10) is valid Spark and left alone).
_TYPE_NAME_MAP = {
    "varchar": "string", "text": "string", "bpchar": "string",
    "bytea": "binary", "blob": "binary", "varbinary": "binary",
    "real": "float", "float4": "float", "float8": "double",
    "int1": "tinyint", "int2": "smallint", "int4": "int", "int8": "bigint",
    "signed": "int", "logical": "boolean",
    "hugeint": "decimal(38,0)", "ubigint": "decimal(20,0)",
    "uinteger": "bigint", "usmallint": "int", "utinyint": "smallint",
    # DuckDB BIT (bitstring): carried as a '0'/'1' string — the BIT
    # functions (get_bit/set_bit/bit_position/bitstring) operate on that
    # representation (probe-verified display form matches)
    "bit": "string", "bitstring": "string",
    # DuckDB JSON: the engine's JSON carrier is the text itself
    # (round-10 probe batch — j::JSON in aggregate args)
    "json": "string",
}


# date_diff units where DuckDB counts boundary crossings (truncate both
# ends before timestampdiff so Spark's complete-units count agrees)
_TRUNCABLE_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute", "second",
}

# list_aggregate name → Spark expression template ({x} = the list arg).
# sum/avg accumulate in double: Spark's aggregate() needs a type-stable
# accumulator (decimal addition widens precision per step, so a
# decimal-typed zero cannot be stable). Integer lists therefore sum to
# double where DuckDB keeps an integer — value-equal, wider type.
# DOUBLE-typed fold: Spark's aggregate() pins the lambda result to the
# seed type, and any type-preserving seed breaks on DECIMAL elements
# (decimal addition widens precision). Trade-off, documented in SURVEY
# §8.2 divergences: DuckDB's list_sum over integers returns an integer,
# ours a double (values equal). Nulls are filtered first (sum semantics);
# empty/all-null lists yield NULL via the element_at guard.
_LIST_SUM = (
    "if(size(filter({x}, v -> v is not null)) = 0, cast(null as double), "
    "aggregate(filter({x}, v -> v is not null), cast(0.0 as double), "
    "(acc, v) -> acc + v))"
)
_LIST_AGG_FORMS = {
    "sum": _LIST_SUM,
    "min": "array_min({x})",
    "max": "array_max({x})",
    "count": "size(filter({x}, v -> v is not null))",
    "avg": "(" + _LIST_SUM + " / size(filter({x}, v -> v is not null)))",
    "first": "element_at({x}, 1)",
    "last": "element_at({x}, -1)",
    "string_agg": "array_join({x}, ',')",
}


def _map_type_name(type_txt: str) -> str:
    """Map a bare DuckDB type name to Spark's spelling (identity if the
    type carries arguments or is already valid). DuckDB's list (`int[]`)
    and fixed-size array (`float[3]`) suffixes both map to Spark arrays
    (Spark has no fixed-length array type — documented width erasure)."""
    t = type_txt.strip()
    m = re.fullmatch(r"(.+?)\s*\[\s*\d*\s*\]", t)
    if m:
        return f"array<{_map_type_name(m.group(1))}>"
    return _TYPE_NAME_MAP.get(t.lower(), t)


# ---------------------------------------------------------------------------
# Template rewrites: DuckDB call → Spark expression built from already-
# shimmed argument texts (probe-driven batch, round 7 — semantics pinned
# by scripts/probe_functions.py against DuckDB v1.0.0). Each template
# receives (shimmed_args, raw_args) and returns the replacement text or
# None to leave the call untouched. Operand texts may be expanded more
# than once — deterministic-argument contract, same as the int-cast
# floor form.
# ---------------------------------------------------------------------------


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (__dx, __dy) -> "
        "cast(__dx as double) * cast(__dy as double)), "
        "cast(0.0 as double), (__dacc, __dv) -> __dacc + __dv)"
    )


def _format_size_expr(x: str, base: int, units: list[str]) -> str:
    """DuckDB format_bytes/formatReadableSize algorithm: integer-divide by
    ``base`` while the quotient still reaches base², then one last
    division printed with a single TRUNCATED decimal (probe:
    format_bytes(2040109465) = '1.8 GiB' — the stepwise int division
    loses sub-unit remainders, then trunc(1945*10/1024=18.99→18))."""
    sgn = f"(case when ({x}) < 0 then '-' else '' end)"
    a = f"abs(cast(({x}) as bigint))"
    cases = []
    for k in range(len(units) - 1, 0, -1):
        c = base**k
        t = f"({a} div {c} * 10 div {base})"
        cases.append(
            f"when {a} div {c} >= {base} then concat({sgn}, "
            f"cast({t} div 10 as string), '.', cast({t} % 10 as string), "
            f"' {units[k]}')"
        )
    t1 = f"({a} * 10 div {base})"
    cases.append(
        f"when {a} >= {base} then concat({sgn}, cast({t1} div 10 as string), "
        f"'.', cast({t1} % 10 as string), ' {units[0]}')"
    )
    return (
        "(case "
        + " ".join(cases)
        + f" else concat(cast(cast(({x}) as bigint) as string), "
        f"if({a} = 1, ' byte', ' bytes')) end)"
    )


def _md5_le_expr(x: str, lo_byte: int) -> str:
    """Little-endian uint64 of md5 digest bytes [lo_byte, lo_byte+8) —
    DuckDB md5_number_lower (bytes 8..15) / md5_number_upper (0..7),
    probe-verified against hashlib. UBIGINT range → decimal(20,0)."""
    h = f"md5({x})"
    parts = ", ".join(
        f"substring({h}, {2 * b + 1}, 2)"
        for b in range(lo_byte + 7, lo_byte - 1, -1)
    )
    return f"cast(conv(concat({parts}), 16, 10) as decimal(20, 0))"


# separator option → Java regex char class (escapedStringLiterals keeps
# the backslashes verbatim through the SQL parser)
_PATH_SEP_CLASS = {
    "both": "[/\\\\]",
    "system": "[/]",  # POSIX container
    "forward_slash": "[/]",
    "backslash": "[\\\\]",
}


def _path_sep(raw_args: list[str], idx: int) -> str | None:
    """Resolve the optional separator argument (must be a literal)."""
    if len(raw_args) <= idx:
        return _PATH_SEP_CLASS["both"]
    v = raw_args[idx].strip()
    if v.startswith("'") and v.endswith("'"):
        return _PATH_SEP_CLASS.get(v[1:-1])
    return None


def _parse_filename_expr(p: str, cls: str) -> str:
    return f"regexp_extract({p}, '([^{cls[1:-1]}]*)$', 1)"


def _tpl_parse_filename(a, raw):
    if not 1 <= len(a) <= 3:
        return None
    trim_ext = len(a) >= 2 and raw[1].strip().lower() == "true"
    sep_idx = 2 if (len(a) >= 2 and raw[1].strip().lower() in ("true", "false")) else 1
    cls = _path_sep(raw, sep_idx)
    if cls is None:
        return None
    e = _parse_filename_expr(a[0], cls)
    if trim_ext:
        e = f"regexp_replace({e}, '\\.[^.]*$', '')"
    return e


def _tpl_parse_dirpath(a, raw):
    if not 1 <= len(a) <= 2:
        return None
    cls = _path_sep(raw, 1)
    if cls is None:
        return None
    p, inner = a[0], cls[1:-1]
    return (
        f"(case when ({p}) rlike '^{cls}+$' then ({p}) "
        f"else regexp_replace(regexp_replace({p}, '[^{inner}]*$', ''), "
        f"'{cls}$', '') end)"
    )


def _tpl_parse_dirname(a, raw):
    if not 1 <= len(a) <= 2:
        return None
    cls = _path_sep(raw, 1)
    if cls is None:
        return None
    p, inner = a[0], cls[1:-1]
    stem = f"regexp_replace({p}, '[^{inner}]*$', '')"
    return (
        f"(case when {stem} = '' then '' "
        f"when ({p}) rlike '^{cls}' then substring({p}, 1, 1) "
        f"else regexp_extract({p}, '^([^{inner}]+)', 1) end)"
    )


def _tpl_parse_path(a, raw):
    if not 1 <= len(a) <= 2:
        return None
    cls = _path_sep(raw, 1)
    if cls is None:
        return None
    p = a[0]
    comps = f"filter(split({p}, '{cls}'), __pp -> __pp <> '')"
    return (
        f"(case when ({p}) rlike '^{cls}' "
        f"then concat(array(substring({p}, 1, 1)), {comps}) "
        f"else {comps} end)"
    )


def _tpl_like_escape(neg: bool, ci: bool):
    def f(a, raw):
        if len(a) != 3:
            return None
        s, p, e = a
        if not (e.startswith("'") and e.endswith("'")):
            return None  # Spark's ESCAPE clause takes a literal char
        op = "ilike" if ci else "like"
        core = f"(({s}) {op} ({p}) escape {e})"
        return f"(not {core})" if neg else core

    return f


def _tpl_resize(a, raw):
    if not 2 <= len(a) <= 3:
        return None
    l, n = a[0], a[1]
    fill = a[2] if len(a) == 3 else f"if(false, element_at({l}, 1), null)"
    return (
        f"concat(slice({l}, 1, cast(({n}) as int)), "
        f"array_repeat({fill}, greatest(cast(({n}) as int) - size({l}), 0)))"
    )


def _tpl_from_json(a, raw, strict: bool = False):
    """from_json / json_transform[_strict](j, structure) with a LITERAL
    structure (DuckDB json type-spec) → Spark from_json with the
    equivalent DDL schema, translated at compile time. Strict mode
    (json_transform_strict) errors on a mismatched value where the
    lenient form yields NULL. A scalar top-level structure ('"INTEGER"')
    unquotes via the '$' JSON path and casts, since Spark's from_json
    only accepts struct/array/map schemas."""
    if len(a) != 2:
        return None
    lit = raw[1].strip()
    if not (lit.startswith("'") and lit.endswith("'")):
        return None
    import json as _json

    try:
        spec = _json.loads(lit[1:-1])
    except ValueError:
        return None
    ddl = _structure_to_ddl(spec)
    if ddl is None:
        return None
    if isinstance(spec, str):
        caster = "cast" if strict else "try_cast"
        return f"{caster}(get_json_object({a[0]}, '$') as {ddl})"
    if strict:
        return f"from_json({a[0]}, '{ddl}', map('mode', 'FAILFAST'))"
    return f"from_json({a[0]}, '{ddl}')"


_JSON_DDL_TYPES = {
    "UBIGINT": "BIGINT", "BIGINT": "BIGINT", "INTEGER": "INT", "INT": "INT",
    "SMALLINT": "SMALLINT", "TINYINT": "TINYINT", "DOUBLE": "DOUBLE",
    "FLOAT": "FLOAT", "REAL": "FLOAT", "VARCHAR": "STRING", "TEXT": "STRING",
    "BOOLEAN": "BOOLEAN", "DATE": "DATE", "TIMESTAMP": "TIMESTAMP",
    "HUGEINT": "DECIMAL(38,0)", "NULL": "STRING", "JSON": "STRING",
}


def _structure_to_ddl(v) -> str | None:
    if isinstance(v, str):
        if re.match(r"(?i)^decimal\s*\(", v):
            return v.upper()
        return _JSON_DDL_TYPES.get(v.upper())
    if isinstance(v, list):
        inner = _structure_to_ddl(v[0]) if v else None
        return None if inner is None else f"ARRAY<{inner}>"
    if isinstance(v, dict):
        fields = []
        for k, x in v.items():
            inner = _structure_to_ddl(x)
            if inner is None:
                return None
            fields.append(f"`{k}`: {inner}")
        return "STRUCT<" + ", ".join(fields) + ">"
    return None


def _tpl_try_strptime(a, raw):
    m = re.match(r"(?s)^\s*'(.*)'\s*$", raw[1]) if len(a) == 2 else None
    if m is not None:
        fmt = translate_strftime_format(m.group(1))
        return f"try_to_timestamp({a[0]}, '{fmt}')"
    # list-of-formats form: after bracket rewrite the 2nd arg is array(…)
    if len(a) == 2 and a[1].startswith("array(") and a[1].endswith(")"):
        fmts = _split_args(a[1][len("array(") : -1])
        outs = []
        for fx in fmts:
            fm = re.match(r"(?s)^\s*'(.*)'\s*$", fx)
            if fm is None:
                return None
            outs.append(
                f"try_to_timestamp({a[0]}, "
                f"'{translate_strftime_format(fm.group(1))}')"
            )
        return "coalesce(" + ", ".join(outs) + ")"
    return None


def _tpl_struct_insert(a, raw):
    if len(a) < 2 or not (
        a[0].startswith("named_struct(") and a[0].endswith(")")
    ):
        return None  # field list of non-literal structs is unknown here
    adds = []
    for r in a[1:]:
        m = re.match(r"(?s)^\s*([A-Za-z_]\w*)\s*:=\s*(.+)$", r)
        if m is None:
            return None
        adds.append(f"'{m.group(1)}', {m.group(2).strip()}")
    base_inner = a[0][len("named_struct(") : -1]
    return f"named_struct({base_inner}, {', '.join(adds)})"


def _tpl_json_quote(a, raw):
    if len(a) != 1:
        return None
    x = a[0]
    j = f"to_json(named_struct('v', {x}))"
    return (
        f"(case when ({x}) is null then cast(null as string) "
        f"else substring({j}, 6, length({j}) - 6) end)"
    )


def _tpl_row_to_json(a, raw):
    if len(a) != 1:
        return None
    x = a[0]
    # DuckDB serializes row(…) with EMPTY field names ('{"":1,"":"x"}');
    # our row() shim names them col1.. — restore the empty names here
    if re.match(r"(?is)^\s*row\s*\(", raw[0]) and x.startswith("named_struct("):
        x = re.sub(r"'col(\d+)', ", "'', ", x)
    return f"to_json({x})"


def _one_arg(fmt):
    def f(a, raw):
        return fmt.format(x=a[0]) if len(a) == 1 else None

    return f


def _two_arg(fmt):
    def f(a, raw):
        return fmt.format(a=a[0], b=a[1]) if len(a) == 2 else None

    return f


def _tpl_cosine(a, raw):
    if len(a) != 2:
        return None
    A, B = a
    return (
        f"({_dot_expr(A, B)} / "
        f"sqrt({_dot_expr(A, A)} * {_dot_expr(B, B)}))"
    )


def _tpl_distance(a, raw):
    if len(a) != 2:
        return None
    A, B = a
    return (
        f"sqrt(aggregate(zip_with({A}, {B}, (__dx, __dy) -> "
        "(cast(__dx as double) - cast(__dy as double)) * "
        "(cast(__dx as double) - cast(__dy as double))), "
        "cast(0.0 as double), (__dacc, __dv) -> __dacc + __dv))"
    )


def _tpl_cross_product(a, raw):
    if len(a) != 2:
        return None
    A, B = a

    def e(v, i):
        return f"cast(element_at({v}, {i}) as double)"

    return (
        f"array({e(A,2)} * {e(B,3)} - {e(A,3)} * {e(B,2)}, "
        f"{e(A,3)} * {e(B,1)} - {e(A,1)} * {e(B,3)}, "
        f"{e(A,1)} * {e(B,2)} - {e(A,2)} * {e(B,1)})"
    )


def _tpl_interval_unit(mult: int, slot: int):
    """to_weeks/to_quarters/… → ANSI interval types (slot 0 = years,
    1 = months, 2 = weeks). make_ym_interval / make_dt_interval, not
    make_interval: CalendarIntervalType literals cannot be COLLECTED by
    the pyspark client (round-9 probe: to_centuries(2) died client-side
    on fromInternal), while the ANSI types round-trip — and to_years
    already uses the YM form."""

    def f(a, raw):
        if len(a) != 1:
            return None
        n = (
            f"cast(({a[0]}) as int)" if mult == 1
            else f"{mult} * cast(({a[0]}) as int)"
        )
        if slot == 0:
            return f"make_ym_interval({n}, 0)"
        if slot == 1:
            return f"make_ym_interval(0, {n})"
        return f"make_dt_interval(7 * cast(({a[0]}) as int), 0, 0, 0)"

    return f


def _json_scalar(e: str) -> str:
    """Exact JSON text for one scalar expression: to_json(array(e))
    minus the brackets (Spark's to_json only accepts complex types)."""
    j = f"to_json(array({e}))"
    return f"substring({j}, 2, length({j}) - 2)"


def _age_expr(lhs: str, rhs: str) -> str:
    """DuckDB/Postgres ``age(a, b)``: the CALENDAR-decomposed interval
    (years/months/days/time), not raw timestamp subtraction (r8
    silent-wrong find: age('2001-04-10','1957-06-13') is 43y 9m 27d =
    15777 flattened days, where subtraction gives 16007 real days).

    Probe-pinned decomposition (DuckDB 1.0): field-wise subtract on the
    ordered pair; a negative time-of-day borrows 24 h from days; a
    negative day borrows days_in_month(the EARLIER timestamp's month)
    — NOT the month before the later one, which is where Postgres-lore
    implementations drift; a negative month borrows 12 from years.
    a < b negates the symmetric result. The result is emitted as a
    day-time INTERVAL flattened at 30 days/month — exactly how the
    DuckDB Python client surfaces its month-bearing intervals
    (timedelta(months*30 + days, time)), so values collect identically.
    """
    X = f"greatest(cast({lhs} as timestamp_ntz), cast({rhs} as timestamp_ntz))"
    Y = f"least(cast({lhs} as timestamp_ntz), cast({rhs} as timestamp_ntz))"

    def tod(e: str) -> str:  # time-of-day in microseconds
        return (
            f"timestampdiff(MICROSECOND, "
            f"cast(to_date({e}) as timestamp_ntz), {e})"
        )

    t_raw = f"({tod(X)} - {tod(Y)})"
    t_fix = f"(case when {t_raw} < 0 then {t_raw} + 86400000000 else {t_raw} end)"
    t_borrow = f"(case when {t_raw} < 0 then 1 else 0 end)"
    d_raw = f"(day({X}) - day({Y}) - {t_borrow})"
    d_fix = (
        f"(case when {d_raw} < 0 "
        f"then {d_raw} + day(last_day(to_date({Y}))) else {d_raw} end)"
    )
    d_borrow = f"(case when {d_raw} < 0 then 1 else 0 end)"
    m_raw = f"(month({X}) - month({Y}) - {d_borrow})"
    m_fix = f"(case when {m_raw} < 0 then {m_raw} + 12 else {m_raw} end)"
    m_borrow = f"(case when {m_raw} < 0 then 1 else 0 end)"
    y_fix = f"(year({X}) - year({Y}) - {m_borrow})"
    total_days = f"(({y_fix} * 12 + {m_fix}) * 30 + {d_fix})"
    mag = f"make_dt_interval({total_days}, 0, 0, {t_fix} / 1000000.0)"
    return (
        f"(case when cast({lhs} as timestamp_ntz) >= "
        f"cast({rhs} as timestamp_ntz) then {mag} else -{mag} end)"
    )


def _age_str_expr(lhs: str, rhs: str) -> str:
    """``age(a, b)::VARCHAR`` — the Postgres/DuckDB rendering of the
    calendar decomposition ('4 years 1 month 26 days 20:30:00': zero
    components omitted, singular/plural, all-zero → '00:00:00', a < b
    prefixes '-' on every component — all probe-pinned). Shares
    _age_expr's borrow arithmetic; the DT-interval form stays the
    COLLECT carrier (the Python client flattens months there)."""
    X = f"greatest(cast({lhs} as timestamp_ntz), cast({rhs} as timestamp_ntz))"
    Y = f"least(cast({lhs} as timestamp_ntz), cast({rhs} as timestamp_ntz))"

    def tod(e: str) -> str:
        return (
            f"timestampdiff(MICROSECOND, "
            f"cast(to_date({e}) as timestamp_ntz), {e})"
        )

    t_raw = f"({tod(X)} - {tod(Y)})"
    t_fix = f"(case when {t_raw} < 0 then {t_raw} + 86400000000 else {t_raw} end)"
    t_borrow = f"(case when {t_raw} < 0 then 1 else 0 end)"
    d_raw = f"(day({X}) - day({Y}) - {t_borrow})"
    d_fix = (
        f"(case when {d_raw} < 0 "
        f"then {d_raw} + day(last_day(to_date({Y}))) else {d_raw} end)"
    )
    d_borrow = f"(case when {d_raw} < 0 then 1 else 0 end)"
    m_raw = f"(month({X}) - month({Y}) - {d_borrow})"
    m_fix = f"(case when {m_raw} < 0 then {m_raw} + 12 else {m_raw} end)"
    m_borrow = f"(case when {m_raw} < 0 then 1 else 0 end)"
    y_fix = f"(year({X}) - year({Y}) - {m_borrow})"
    neg = f"(cast({lhs} as timestamp_ntx) < cast({rhs} as timestamp_ntz))"
    neg = neg.replace("timestamp_ntx", "timestamp_ntz")
    sgn = f"(case when {neg} then '-' else '' end)"

    def unit(n: str, word: str) -> str:
        return (
            f"case when {n} <> 0 then concat({sgn}, {n},"
            f" case when {n} = 1 then ' {word}' else ' {word}s' end) end"
        )

    si = f"cast(({t_fix}) div 1000000 as int)"
    frac = f"(({t_fix}) % 1000000)"
    fracs = (
        f"case when {frac} > 0 then substring(regexp_replace("
        f"cast(cast({frac} / 1000000.0 as decimal(8,6)) as string),"
        f" '0+$', ''), 2) else '' end"
    )
    tstr = (
        f"concat({sgn}, lpad(cast({si} div 3600 as string), 2, '0'), ':',"
        f" lpad(cast(({si} div 60) % 60 as string), 2, '0'), ':',"
        f" lpad(cast({si} % 60 as string), 2, '0'), {fracs})"
    )
    show_t = f"({t_fix} > 0 or ({y_fix} = 0 and {m_fix} = 0 and {d_fix} = 0))"
    return (
        f"concat_ws(' ', {unit(y_fix, 'year')}, {unit(m_fix, 'month')},"
        f" {unit(d_fix, 'day')}, case when {show_t} then {tstr} end)"
    )


_SPECIAL_EXTRACT_UNITS = (
    "epoch", "dow", "dayofweek", "weekday", "isodow", "era",
    "century", "centuries", "decade", "decades", "millennium",
    "millenniums", "millennia", "millisecond", "milliseconds",
    "microsecond", "microseconds", "isoyear",
)


def _extract_unit_expr(u: str, x: str) -> str | None:
    """extract/date_part units Spark lacks or numbers differently.

    Probe-pinned (DuckDB 1.0): dow Sunday=0; century(2001)=21 and
    century(2000)=20 (ceil(year/100)); millennium likewise; decade =
    floor(year/10); millisecond/microsecond INCLUDE the seconds
    (45.123456s → 45123 / 45123456); isoyear = the calendar year of the
    ISO week's Thursday."""
    if u == "epoch":
        return f"cast(cast({x} as timestamp) as double)"
    if u == "isodow":
        return f"(((dayofweek({x}) + 5) % 7) + 1)"
    if u in ("dow", "dayofweek", "weekday"):
        return f"(dayofweek({x}) - 1)"
    if u == "era":
        return f"(case when year(cast(({x}) as date)) >= 1 then 1 else 0 end)"
    if u in ("century", "centuries"):
        return f"(floor((year({x}) - 1) / 100) + 1)"
    if u in ("millennium", "millenniums", "millennia"):
        return f"(floor((year({x}) - 1) / 1000) + 1)"
    if u in ("decade", "decades"):
        return f"floor(year({x}) / 10)"
    if u in ("millisecond", "milliseconds"):
        return f"cast(extract(second from {x}) * 1000 as bigint)"
    if u in ("microsecond", "microseconds"):
        return f"cast(extract(second from {x}) * 1000000 as bigint)"
    if u == "isoyear":
        isodow = f"(((dayofweek({x}) + 5) % 7) + 1)"
        return f"year(date_add(cast({x} as date), 4 - {isodow}))"
    return None


def _tpl_unsupported(family: str, why: str):
    def raise_(a, raw):
        from ..errors import PsqlCompileError

        raise PsqlCompileError(
            f"{family} is not supported: {why} (documented out, SURVEY §8.11)"
        )

    return raise_


def _tpl_bit_agg(op: str):
    """bit_and/bit_or/bit_xor over the BIT carrier (round-10 probe
    batch): Spark's native bitwise aggregates are integer-only, so
    BIT-typed groups fold a collect_list through the positionwise
    string combine. DuckDB skips NULLs and yields NULL on an all-NULL
    or empty group — collect_list + the NULL fold init give exactly
    that. Width mismatches compute over the accumulator's width
    (permissive superset, the _bit_zip norm; DuckDB errors). Integer
    operands return None and pass through to Spark's own aggregate.
    BIT-ness is detected on the RAW argument text: the shim pipeline
    has already rewritten ``::BIT`` to ``::string`` in the cooked arg."""

    def tpl(a, raw):
        if len(a) != 1 or not _is_bitish(raw[0]):
            return None
        comb = _bit_zip("__ba", "__bv", op)
        return (
            f"aggregate(collect_list({a[0]}), cast(null as string), "
            f"(__ba, __bv) -> case when __ba is null then __bv "
            f"else {comb} end)"
        )

    return tpl


def _tpl_list_concat(a, raw):
    """DuckDB list_concat ignores a NULL side ([1] ∥ NULL = [1]); only
    all-NULL is NULL (probe-pinned). NULL-typed LITERALS resolve
    statically — Spark analyzes every CASE branch, so concat(x, NULL)
    cannot appear even unreached."""
    if len(a) != 2:
        return None
    ln = raw[0].strip().lower() == "null"
    rn = raw[1].strip().lower() == "null"
    if ln and rn:
        return "cast(null as array<string>)"
    if ln:
        return a[1]
    if rn:
        return a[0]
    return (
        f"(case when ({a[0]}) is null and ({a[1]}) is null then null "
        f"when ({a[0]}) is null then {a[1]} "
        f"when ({a[1]}) is null then {a[0]} "
        f"else concat({a[0]}, {a[1]}) end)"
    )


def _tpl_list_contains(a, raw):
    if len(a) != 2:
        return None
    if (
        raw[0].strip().lower() == "null"
        or raw[1].strip().lower() == "null"
    ):
        # a NULL-typed literal breaks analysis inside any branch —
        # and the answer is statically NULL anyway
        return "cast(null as boolean)"
    return (
        f"(case when ({a[0]}) is null or ({a[1]}) is null then null "
        f"else coalesce(array_contains({a[0]}, {a[1]}), false) end)"
    )


def _tpl_json_keys(a, raw):
    """json_keys, both arities (round-10 probe batch). DuckDB: keys of
    the object at the path; a MISSING path is NULL while a present
    non-object (array/scalar) is [] — the case/coalesce pair keeps the
    two apart (probe-pinned). The 2-arg form resolves the path through
    the variant reader so pointer and ``$``-paths both work."""
    if len(a) == 1:
        return (
            f"coalesce(json_object_keys({a[0]}), "
            f"case when ({a[0]}) is null then null else array() end)"
        )
    if len(a) == 2:
        ex = (
            f"to_json(variant_get(parse_json({a[0]}), "
            f"{_json_path_literal(a[1])}))"
        )
        return (
            f"(case when {ex} is null or {ex} = 'null' then null "
            f"else coalesce(json_object_keys({ex}), array()) end)"
        )
    return None


_JSONISH_RE = re.compile(r"(?is)::\s*json\b|\bas\s+json\b|\bjson\w*\s*\(|\bto_json\s*\(")


def _tpl_json_group_structure(a, raw):
    """json_group_structure (round-10 probe batch): DuckDB's merged
    structure over a group of JSON values. The group's JSON texts
    concatenate into one array document whose json_structure is
    '[<merged>]' — stripping the outer brackets is exactly the merge
    (json_structure of a list already unifies element structures;
    conflicts collapse to '"JSON"' in both engines). Empty group is
    NULL like any DuckDB aggregate. DuckDB only PARSES arguments that
    are actually JSON-typed — a bare VARCHAR implicitly casts to a
    JSON *string value* ('"VARCHAR"'), ints to numbers, etc.
    (probe-pinned) — so non-JSON-typed args json-encode each element
    instead of splicing its text. The ::JSON cast is detected
    statically on the raw argument (JSON-typed COLUMNS are invisible —
    the documented _interval_typed/_is_bitish boundary)."""
    if len(a) != 1:
        return None
    el = a[0] if _JSONISH_RE.search(raw[0]) else _json_scalar(a[0])
    doc = f"concat('[', concat_ws(',', collect_list({el})), ']')"
    s = f"json_structure({doc})"
    return (
        f"(case when size(collect_list({el})) = 0 then null "
        f"else substring({s}, 2, length({s}) - 2) end)"
    )


def _epoch_expr(x: str, raw_x: str) -> str:
    """epoch(x): timestamps/dates cast straight to double (Spark's
    timestamp→double IS seconds-since-epoch with the fraction kept).
    Intervals can't cast — DuckDB counts a year as 365.25 days
    (31557600 s) and each leftover month as 30 days (2592000 s) with
    the year split truncating toward zero (probe-pinned at ±14 months);
    day-time intervals sum their fields, fractional second kept.
    Static interval detection runs on the RAW text (the literal
    spelling); mixed-unit intervals don't exist in Spark's type system
    and stay loud upstream."""
    if _interval_typed(raw_x):
        ym = bool(_YM_UNIT_RE.search(raw_x))
        dt = bool(_DT_UNIT_RE.search(raw_x))
        if ym and not dt:
            m = f"cast(({x}) as int)"
            y = f"cast(({m}) / 12 as bigint)"
            return (
                f"cast({y} * 31557600 + (({m}) - {y} * 12) * 2592000"
                f" as double)"
            )
        if dt and not ym:
            ew = f"cast(({x}) as interval day to second)"
            return (
                f"cast(extract(day from {ew}) * 86400"
                f" + extract(hour from {ew}) * 3600"
                f" + extract(minute from {ew}) * 60"
                f" + extract(second from {ew}) as double)"
            )
    return f"cast({x} as double)"


def _ts_diff_typed(text: str) -> bool:
    """Statically day-time-interval-typed: a difference of exactly two
    TIMESTAMP literals (parens allowed). Timestamp-typed COLUMNS are
    statically invisible — the same documented boundary as
    _interval_typed's bare identifiers."""
    toks = lex(text)
    words = [t for t in toks if t.kind == "word"]
    if len(words) != 2 or any(w.lower != "timestamp" for w in words):
        return False
    if sum(1 for t in toks if t.kind == "op" and t.text == "-") != 1:
        return False
    return all(
        t.kind in ("string", "lparen", "rparen")
        or (t.kind == "op" and t.text == "-")
        or (t.kind == "word" and t.lower == "timestamp")
        for t in toks
    )


def _variant_path_expr(j2: str, p2: str, as_string: bool) -> str | None:
    """$-path extensions DuckDB has and Spark's variant_get lacks
    (round-10 probe batch): ``[#-N]`` back-indexing and ``.*`` / ``[*]``
    wildcards. Returns the full replacement expression, or None when
    the path is plain / non-literal / uses an unsupported combination
    (two wildcards, a wildcard before a back-index) — None falls back
    to the plain variant_get path, which stays LOUD on wildcard syntax
    rather than silently wrong. Wildcard semantics (probe-pinned):
    non-matching or non-container input yields [], not NULL; matches
    keep JSON quoting for json_extract and unquote for the _string
    forms; back-index out of range is NULL."""
    if not (p2.startswith("'") and p2.endswith("'")):
        return None
    body = p2[1:-1].strip()
    if not body.startswith("$"):
        return None
    if "[#-" not in body and ".*" not in body and "[*]" not in body:
        return None
    segs = re.findall(r"\.\*|\[\*\]|\.[A-Za-z_]\w*|\[#-\d+\]|\[\d+\]", body[1:])
    if "".join(segs) != body[1:]:
        return None
    cur = f"parse_json({j2})"
    pending = ""
    rootpath = ""  # plain path from the root, valid until a back-index
    rooted = True
    fan = None
    tail = ""
    for sg in segs:
        if fan is not None:
            if sg.startswith("[#") or sg in (".*", "[*]"):
                return None  # one fan-out only; plain tail after it
            tail += sg
            continue
        if sg == ".*" or sg == "[*]":
            if pending:
                cur = f"variant_get({cur}, '${pending}')"
                pending = ""
            if sg == ".*":
                # DOCUMENT order, not key order: Spark's variant sorts
                # object fields by key while DuckDB preserves insertion
                # order. json_object_keys over the ORIGINAL text (via
                # get_json_object — a string-level reader) yields keys
                # in document order; each key then resolves through the
                # variant map. A back-index before the wildcard loses
                # the original text — that combination stays loud.
                if not rooted:
                    return None
                src = (
                    f"get_json_object({j2}, '${rootpath}')"
                    if rootpath
                    else f"({j2})"
                )
                fan = (
                    f"transform(json_object_keys({src}), "
                    f"__jk -> try_element_at("
                    f"try_cast({cur} as map<string, variant>), __jk))"
                )
            else:
                fan = f"try_cast({cur} as array<variant>)"
        elif sg.startswith("[#"):
            n = int(sg[3:-1])
            if n == 0:
                return None
            if pending:
                cur = f"variant_get({cur}, '${pending}')"
                pending = ""
            cur = (
                f"try_element_at(try_cast({cur} as array<variant>), -{n})"
            )
            rooted = False
        else:
            pending += sg
            rootpath += sg
    render = (
        # variant json-null casts to SQL NULL already (probe-pinned)
        (lambda e: f"cast({e} as string)")
        if as_string
        # JSON null value → SQL NULL (fuzzer seed-777 find); json
        # string "null" keeps quotes, so the nullif is exact
        else (lambda e: f"nullif(to_json({e}), 'null')")
    )
    if fan is None:
        if pending:
            cur = f"variant_get({cur}, '${pending}')"
        return render(cur)
    if tail:
        fan = f"transform({fan}, __jv -> variant_get(__jv, '${tail}'))"
    per = render("__jm")
    return (
        f"(case when ({j2}) is null then null else "
        f"coalesce(transform(filter({fan}, __jm -> __jm is not null), "
        f"__jm -> {per}), array()) end)"
    )


def _tpl_list_zip(a: list[str]) -> str | None:
    """DuckDB ``list_zip(l1, …, lN [, truncate])``: unnamed-struct rows,
    padded to the LONGEST list with NULLs (truncate=true → shortest).
    Spark's zip_with is 2-ary only, so N-ary zips go through an index
    transform with ``try_element_at`` (NULL past the end). Field names
    col1..colN mirror Spark's own auto-naming; the probe harness
    compares auto-named structs positionally against DuckDB's unnamed
    tuples."""
    if len(a) < 2:
        return None
    lists = list(a)
    truncate = False
    last = lists[-1].strip().lower()
    if last in ("true", "false"):
        truncate = last == "true"
        lists = lists[:-1]
    if len(lists) < 2:
        return None
    bound = ("least" if truncate else "greatest") + "(" + ", ".join(
        f"size({l})" for l in lists
    ) + ")"
    fields = ", ".join(
        f"'col{k + 1}', try_element_at({l}, i)" for k, l in enumerate(lists)
    )
    return (
        f"(case when {bound} < 1 then array() else "
        f"transform(sequence(1, {bound}), i -> named_struct({fields})) end)"
    )


_BLOB_PRODUCER_RE = re.compile(
    r"(?is)^(\s*(from_hex|unhex|encode|to_binary|from_base64)\s*\(.*\)\s*"
    r"|.*(::\s*(blob|binary|bytea)|as\s+(blob|binary|bytea)\s*\))\s*)$"
)


def _rewrite_blob_varchar(sql: str, schema=None) -> str:
    """Pre-pass for ``<blob-expr>::VARCHAR``: the main loop consumes the
    lhs (function renames) before it reaches the ``::`` token, so the
    postfix spelling must rewrite BEFORE the loop. The ``cast(x AS
    varchar)`` spelling is handled inside the cast branch itself."""
    tokens = lex(sql)
    n = len(tokens)
    for i, t in enumerate(tokens):
        if not (
            t.kind == "op"
            and t.text == "::"
            and i > 0
            and i + 1 < n
            and tokens[i + 1].kind == "word"
            and tokens[i + 1].lower in ("varchar", "text", "string")
        ):
            continue
        lhs_start = _primary_start(tokens, i - 1)
        if lhs_start is None:
            continue
        # chained postfix casts — expr::blob::varchar — leave the primary
        # at the bare type word; extend backwards across :: links so the
        # producer pattern sees the whole chain (round-10 review find)
        while (
            lhs_start >= 2
            and tokens[lhs_start - 1].kind == "op"
            and tokens[lhs_start - 1].text == "::"
        ):
            prev = _primary_start(tokens, lhs_start - 2)
            if prev is None:
                break
            lhs_start = prev
        lhs = sql[tokens[lhs_start].start : t.start].strip()
        if _hint_type(schema, lhs) == "binary" or _BLOB_PRODUCER_RE.match(lhs):
            return _rewrite_blob_varchar(
                sql[: tokens[lhs_start].start]
                + _blob_varchar_render(apply_shims(lhs, schema))
                + sql[tokens[i + 1].end :],
                schema,
            )
    return sql


def _blob_varchar_render(b: str) -> str:
    """DuckDB's BLOB→VARCHAR text: printable ASCII (32–126) except
    backslash renders as-is, everything else as upper-hex ``\\xNN``
    (probe-pinned: 'a\\b' → 'a\\x5Cb', tab → '\\x09'). Per-byte
    transform over the payload — blob rendering is a presentation path,
    never a hot loop."""
    hx = f"hex(substring(({b}), i, 1))"
    code = f"cast(conv({hx}, 16, 10) as int)"
    ch = (
        f"case when {code} between 32 and 126 and {code} != 92 "
        f"then char({code}) else concat(char(92), 'x', {hx}) end"
    )
    return (
        f"(case when ({b}) is null then null "
        f"when octet_length({b}) = 0 then '' else "
        f"array_join(transform(sequence(1, octet_length({b})), i -> {ch}), '') end)"
    )


_UNION_VALUE_RE = re.compile(
    r"(?is)^\s*union_value\s*\(\s*([A-Za-z_]\w*)\s*:=\s*(.*)\)\s*$"
)


def _union_loud(fn: str):
    from ..errors import PsqlCompileError

    raise PsqlCompileError(
        f"{fn} over a dynamic UNION value is not supported: Spark has no "
        "sum type to carry the tag at runtime — only union_value "
        "constructions visible in the same expression fold (documented "
        "boundary, SURVEY §8.24)"
    )


def _tpl_union_value(raw: list[str]) -> str:
    m = (
        re.match(r"(?is)^\s*([A-Za-z_]\w*)\s*:=\s*(\S.*)$", raw[0])
        if len(raw) == 1
        else None
    )
    if not m:
        _union_loud("union_value")
    # a bare union value renders as its member VALUE (probe-pinned)
    return f"({apply_shims(m.group(2))})"


def _tpl_union_tag(raw: list[str]) -> str:
    m = _UNION_VALUE_RE.match(raw[0]) if len(raw) == 1 else None
    if not m:
        _union_loud("union_tag")
    return "'" + m.group(1).lower() + "'"


def _tpl_union_extract(raw: list[str]) -> str:
    m = _UNION_VALUE_RE.match(raw[0]) if len(raw) == 2 else None
    key = re.match(r"^\s*'([^']*)'\s*$", raw[1]) if len(raw) == 2 else None
    if not (m and key):
        _union_loud("union_extract")
    if m.group(1).lower() == key.group(1).lower():
        return f"({apply_shims(m.group(2))})"
    from ..errors import PsqlCompileError

    # probe-pinned: DuckDB binder-errors on a key the union lacks
    raise PsqlCompileError(
        f'Could not find key "{key.group(1)}" in union'
    )


_CALL_TEMPLATES: dict = {
    # 1-arg string_agg defaults to ',' in DuckDB; Spark's concatenates
    # with NO separator (r8 silent-wrong find: 'a','b' → 'ab' not 'a,b')
    "string_agg": lambda a, raw: (
        f"string_agg({a[0]}, ',')" if len(a) == 1 else None
    ),
    "group_concat": lambda a, raw: (
        f"string_agg({a[0]}, ',')" if len(a) == 1 else None
    ),
    # DuckDB aliases of from_json (same literal-structure translation;
    # the strict form fails on mismatch instead of yielding NULLs)
    "json_transform": lambda a, raw: _tpl_from_json(a, raw),
    "json_transform_strict": lambda a, raw: _tpl_from_json(a, raw, strict=True),
    # UNION-type function family: compile-time folds for VISIBLE
    # construction (probe-pinned: union_value(num := 2) renders as the
    # VALUE; union_tag/union_extract need the tag, which only exists in
    # the constructor text — dynamic union COLUMNS stay loud, Spark has
    # no sum type to carry the tag at runtime)
    "list_zip": lambda a, raw: _tpl_list_zip(a),
    "array_zip": lambda a, raw: _tpl_list_zip(a),
    # DuckDB decode(blob) is a STRICT UTF-8 reinterpretation (unlike the
    # \xNN ::VARCHAR rendering) that ERRORS on invalid byte sequences.
    # Under the engine's ANSI session Spark's binary→string conversion
    # is ALREADY strict (MALFORMED_CHARACTER_CODING — round-10 review
    # find verified the raise), so the plain conversion carries DuckDB's
    # semantics; Spark's own 2-arg decode(bin, charset) passes through.
    "decode": lambda a, raw: (
        f"decode({a[0]}, 'utf-8')" if len(a) == 1 else None
    ),
    "union_value": lambda a, raw: _tpl_union_value(raw),
    "union_tag": lambda a, raw: _tpl_union_tag(raw),
    "union_extract": lambda a, raw: _tpl_union_extract(raw),
    # enum_* over enum-TYPED arguments rewrite in enums.py before this
    # table is consulted; reaching here means the argument had no enum
    # type in scope — keep it loud with a usable pointer
    "enum_first": _tpl_unsupported(
        "enum_first", "argument must be enum-typed (e.g. NULL::<type> "
        "after CREATE TYPE <type> AS ENUM (…))"
    ),
    "enum_last": _tpl_unsupported(
        "enum_last", "argument must be enum-typed (e.g. NULL::<type>)"
    ),
    "enum_code": _tpl_unsupported(
        "enum_code", "argument must be enum-typed (e.g. 'v'::<type>)"
    ),
    "enum_range": _tpl_unsupported(
        "enum_range", "argument must be enum-typed (e.g. NULL::<type>)"
    ),
    "enum_range_boundary": _tpl_unsupported(
        "enum_range_boundary", "arguments must be enum-typed"
    ),
    # embedding / list math
    "list_inner_product": lambda a, raw: (
        _dot_expr(a[0], a[1]) if len(a) == 2 else None
    ),
    "list_dot_product": lambda a, raw: (
        _dot_expr(a[0], a[1]) if len(a) == 2 else None
    ),
    "array_inner_product": lambda a, raw: (
        _dot_expr(a[0], a[1]) if len(a) == 2 else None
    ),
    "array_dot_product": lambda a, raw: (
        _dot_expr(a[0], a[1]) if len(a) == 2 else None
    ),
    "array_negative_inner_product": lambda a, raw: (
        f"(- {_dot_expr(a[0], a[1])})" if len(a) == 2 else None
    ),
    "list_negative_inner_product": lambda a, raw: (
        f"(- {_dot_expr(a[0], a[1])})" if len(a) == 2 else None
    ),
    "list_cosine_similarity": _tpl_cosine,
    "array_cosine_similarity": _tpl_cosine,
    "list_cosine_distance": lambda a, raw: (
        f"(1.0 - {_tpl_cosine(a, raw)})" if len(a) == 2 else None
    ),
    "array_cosine_distance": lambda a, raw: (
        f"(1.0 - {_tpl_cosine(a, raw)})" if len(a) == 2 else None
    ),
    "list_distance": _tpl_distance,
    "array_distance": _tpl_distance,
    "array_cross_product": _tpl_cross_product,
    "list_cross_product": _tpl_cross_product,
    # list utilities
    "array_unique": _one_arg(
        "size(array_distinct(filter({x}, __au -> __au is not null)))"
    ),
    "array_resize": _tpl_resize,
    "list_resize": _tpl_resize,
    "map_extract": _two_arg(
        "slice(array(try_element_at({a}, {b})), 1, "
        "if(array_contains(map_keys({a}), {b}), 1, 0))"
    ),
    # string
    "format_bytes": lambda a, raw: (
        _format_size_expr(
            a[0], 1024, ["KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]
        )
        if len(a) == 1
        else None
    ),
    "formatreadablesize": lambda a, raw: (
        _format_size_expr(
            a[0], 1024, ["KiB", "MiB", "GiB", "TiB", "PiB", "EiB"]
        )
        if len(a) == 1
        else None
    ),
    "formatreadabledecimalsize": lambda a, raw: (
        _format_size_expr(a[0], 1000, ["kB", "MB", "GB", "TB", "PB", "EB"])
        if len(a) == 1
        else None
    ),
    "regexp_escape": _one_arg(
        "regexp_replace({x}, '[.*+?\\[\\](){{}}|^$\\\\]', '\\\\$0')"
    ),
    "regexp_full_match": _two_arg(
        "(({a}) rlike concat('^(?:', {b}, ')$'))"
    ),
    "like_escape": _tpl_like_escape(False, False),
    "ilike_escape": _tpl_like_escape(False, True),
    "not_like_escape": _tpl_like_escape(True, False),
    "not_ilike_escape": _tpl_like_escape(True, True),
    "parse_filename": _tpl_parse_filename,
    "parse_dirname": _tpl_parse_dirname,
    "parse_dirpath": _tpl_parse_dirpath,
    "parse_path": _tpl_parse_path,
    "sha256": _one_arg("sha2({x}, 256)"),
    "md5_number_lower": lambda a, raw: (
        _md5_le_expr(a[0], 8) if len(a) == 1 else None
    ),
    "md5_number_upper": lambda a, raw: (
        _md5_le_expr(a[0], 0) if len(a) == 1 else None
    ),
    "substring_grapheme": lambda a, raw: (
        f"substring_grapheme({a[0]}, {a[1]}, 2147483647)"
        if len(a) == 2
        else None
    ),
    # date/time
    "epoch_ns": _one_arg("(unix_micros(cast(({x}) as timestamp)) * 1000)"),
    "julian": _one_arg(
        "(cast(unix_micros(cast(({x}) as timestamp)) as double) "
        "/ cast(86400000000 as double) + cast(2440588 as double))"
    ),
    "isoyear": _one_arg(
        "year(date_add(cast(({x}) as date), 3 - weekday(cast(({x}) as date))))"
    ),
    "millennium": _one_arg("cast(ceil(year({x}) / 1000.0) as int)"),
    "timezone_hour": _one_arg(
        "if(cast(({x}) as timestamp) is null, cast(null as int), 0)"
    ),
    "timezone_minute": _one_arg(
        "if(cast(({x}) as timestamp) is null, cast(null as int), 0)"
    ),
    "to_weeks": _tpl_interval_unit(1, 2),
    "to_quarters": _tpl_interval_unit(3, 1),
    "to_decades": _tpl_interval_unit(10, 0),
    "to_centuries": _tpl_interval_unit(100, 0),
    "to_millennia": _tpl_interval_unit(1000, 0),
    "try_strptime": _tpl_try_strptime,
    # struct / json
    "struct_insert": _tpl_struct_insert,
    "json_quote": _tpl_json_quote,
    "row_to_json": _tpl_row_to_json,
    "from_json": _tpl_from_json,
    "from_json_strict": _tpl_from_json,
    "json_type": lambda a, raw: (
        f"json_type({a[0]}, cast(null as string))" if len(a) == 1 else None
    ),
    # SQL/JSON accessors ADDED in DuckDB 1.1+ (the container's 1.0
    # oracle predates them — hand-verified tests, documented semantics):
    # json_exists = the $-path resolves; json_value = the scalar at the
    # path, NULL for objects/arrays/missing.
    "json_exists": lambda a, raw: (
        f"(get_json_object({a[0]}, {a[1]}) is not null)"
        if len(a) == 2
        else None
    ),
    "json_value": lambda a, raw: (
        f"(case when left(ltrim(get_json_object({a[0]}, {a[1]})), 1)"
        f" in ('[', '{{') then null"
        f" else get_json_object({a[0]}, {a[1]}) end)"
        if len(a) == 2
        else None
    ),
    # json(x): DuckDB's JSON cast/normalizer — carried as the raw text
    # (the engine's JSON carrier is the string itself; normalization
    # whitespace is a documented non-goal)
    "json": _one_arg("({x})"),
    # DuckDB url_encode (1.1+) percent-encodes spaces; Spark's is the
    # form-urlencoded '+' flavor — no bare '+' survives encoding, so the
    # replace is exact
    "url_encode": _one_arg("replace(url_encode({x}), '+', '%20')"),
    # repeat(list, n): DuckDB repeats the LIST (['a','b'] x 2 =
    # [a,b,a,b]); Spark's repeat is string-only. Statically detectable
    # array operands only (literal or hinted) — strings pass through.
    "repeat": lambda a, raw: (
        f"flatten(array_repeat({a[0]}, cast({a[1]} as int)))"
        if len(a) == 2
        and re.match(r"(?is)^\s*(\[|array\s*[\(\[])", a[0])
        else None
    ),
    # aggregates / misc
    "count_star": lambda a, raw: "count(*)" if len(a) == 0 else None,
    "kurtosis_pop": _one_arg("kurtosis({x})"),
    # sem: standard error of the mean — DuckDB uses the POPULATION
    # stddev (probe: sem(1,2,4) = 0.720082 = stddev_pop/sqrt(n))
    "sem": _one_arg("(stddev_pop({x}) / sqrt(count({x})))"),
    # JSON constructors/aggregates Spark lacks. Scalars render through
    # to_json(array(x)) with the brackets stripped — Spark's to_json
    # only takes complex types, and the array round-trip gives exact
    # JSON rendering (quoting, escapes, null) for any element type.
    "json_quote": lambda a, raw: (_json_scalar(a[0]) if len(a) == 1 else None),
    "json_array": lambda a, raw: (
        "'[]'"
        if not a
        else "concat('[', concat_ws(',', "
        + ", ".join(_json_scalar(x) for x in a)
        + "), ']')"
    ),
    "json_object": lambda a, raw: (
        # keys stringify: json_object(1,'a') → {"1":"a"}; NULL-key pairs
        # are DROPPED entirely: json_object(NULL,'x','k',1) → {"k":1}
        # (both probe-verified; concat_ws skips the NULLed-out pair)
        "concat('{', concat_ws(',', "
        + ", ".join(
            f"case when cast({a[k]} as string) is null then null else "
            f"concat({_json_scalar(f'cast({a[k]} as string)')}, ':',"
            f" {_json_scalar(a[k + 1])}) end"
            for k in range(0, len(a), 2)
        )
        + "), '}')"
        if len(a) % 2 == 0 and a
        else ("'{}'" if not a else None)
    ),
    # arg_min/arg_max(val, key, N): top-N values by key (DuckDB 1.1+;
    # the container's 1.0 oracle predates it — hand-verified tests).
    # collect (key, val) pairs, sort by natural struct order (key
    # first), take N vals. NULL keys are ignored, like DuckDB.
    "arg_min": lambda a, raw: (
        f"slice(transform(array_sort(collect_list(if(({a[1]}) is not null, "
        f"struct({a[1]} as k, {a[0]} as v), null))), __am -> __am.v), 1, {a[2]})"
        if len(a) == 3
        else None
    ),
    "arg_max": lambda a, raw: (
        f"slice(transform(reverse(array_sort(collect_list(if(({a[1]}) is not null, "
        f"struct({a[1]} as k, {a[0]} as v), null)))), __am -> __am.v), 1, {a[2]})"
        if len(a) == 3
        else None
    ),
    # list_histogram: value→count map over a list's non-null elements
    "list_histogram": lambda a, raw: (
        f"map_from_arrays(array_distinct(filter({a[0]}, __lh -> __lh is not null)), "
        f"transform(array_distinct(filter({a[0]}, __lh -> __lh is not null)), "
        f"__lh -> size(filter({a[0]}, __lh2 -> __lh2 = __lh))))"
        if len(a) == 1
        else None
    ),
    "json_group_array": lambda a, raw: (
        f"to_json(collect_list({a[0]}))" if len(a) == 1 else None
    ),
    "json_group_structure": _tpl_json_group_structure,
    "json_keys": _tpl_json_keys,
    # round-10 batch 2: DuckDB's list_contains is NULL-tolerant on list
    # ELEMENTS — not-found in a null-carrying list is FALSE, not NULL
    # (probe-pinned); only a NULL list or NULL needle gives NULL.
    # Spark's array_contains null-poisons. Applies to all three aliases.
    "list_contains": _tpl_list_contains,
    "array_contains": _tpl_list_contains,
    "array_has": _tpl_list_contains,
    # list_concat ignores a NULL side ([1] ∥ NULL = [1]); all-NULL is
    # NULL (probe-pinned). 2-arg only — DuckDB 1.x list_concat arity.
    "list_concat": _tpl_list_concat,
    "array_pop_back": lambda a, raw: (
        f"slice({a[0]}, 1, greatest(size({a[0]}) - 1, 0))"
        if len(a) == 1
        else None
    ),
    "array_pop_front": lambda a, raw: (
        f"slice({a[0]}, 2, greatest(size({a[0]}) - 1, 0))"
        if len(a) == 1
        else None
    ),
    # BIT-carrier bitwise aggregates (integer operands fall through to
    # Spark's own bit_and/bit_or/bit_xor)
    "bit_and": _tpl_bit_agg("&"),
    "bit_or": _tpl_bit_agg("|"),
    "bit_xor": _tpl_bit_agg("xor"),
    "json_group_object": lambda a, raw: (
        f"to_json(map_from_entries(collect_list(struct({a[0]}, {a[1]}))))"
        if len(a) == 2
        else None
    ),
    "json_array_length": lambda a, raw: (
        f"json_array_length(get_json_object({a[0]}, {a[1]}))"
        if len(a) == 2
        else None
    ),
    # regr_avgx/regr_avgy return DOUBLE in DuckDB regardless of input
    # type; Spark's propagate DECIMAL inputs (avg semantics), and the
    # decimal average truncates BEFORE an outer cast could help — so the
    # inputs themselves must be widened to double (probe: regr_avgx over
    # DECIMAL(2,1) gave 3.66667, DuckDB 3.666666...)
    "regr_avgx": lambda a, raw: (
        f"regr_avgx(cast({a[0]} as double), cast({a[1]} as double))"
        if len(a) == 2
        else None
    ),
    "regr_avgy": lambda a, raw: (
        f"regr_avgy(cast({a[0]} as double), cast({a[1]} as double))"
        if len(a) == 2
        else None
    ),
    # DuckDB's fixed-size-array constructor; Spark arrays are the
    # closest (and only) runtime shape
    "array_value": lambda a, raw: f"array({', '.join(a)})" if a else "array()",
    # in-memory DuckDB reports database name 'memory'
    "current_database": lambda a, raw: "'memory'" if len(a) == 0 else None,
    # constant_or_null(v, c1, ...): v unless any condition arg is NULL
    "constant_or_null": lambda a, raw: (
        "(case when "
        + " or ".join(f"({x}) is null" for x in a[1:])
        + f" then null else {a[0]} end)"
        if len(a) >= 2
        else None
    ),
    # multi-arg grouping(a, b, ...) is DuckDB's bitmask form — Spark
    # spells that grouping_id(); 1-arg grouping matches natively
    "grouping": lambda a, raw: (
        f"grouping_id({', '.join(a)})" if len(a) >= 2 else None
    ),
    # era: 1 for CE years (year >= 1), 0 for BCE — both the era(x)
    # function and extract(era from x) (probe-verified DuckDB 1.0)
    "era": _one_arg("(case when year(cast(({x}) as date)) >= 1 then 1 else 0 end)"),
    # catalog introspection constants (DuckDB's in-memory defaults)
    "current_schema": lambda a, raw: "'main'" if len(a) == 0 else None,
    "current_schemas": lambda a, raw: (
        f"(case when ({a[0]}) then array('main', 'main', 'main', 'pg_catalog') "
        "else cast(array() as array<string>) end)"
        if len(a) == 1
        else None
    ),
    # txid_current(): DuckDB hands out a fresh transaction id; the engine
    # has no transaction counter — a constant 1 preserves the type/shape
    # (documented SURVEY §8.2: ids never match across engines by nature)
    "txid_current": lambda a, raw: (
        "cast(1 as bigint)" if len(a) == 0 else None
    ),
    # timezone(tz, x): DuckDB's function form of AT TIME ZONE — same
    # naive-wall-time-in-tz → instant convention as the AT TIME ZONE
    # rewrite above (the TIMESTAMPTZ→wall direction is the same
    # documented divergence)
    # timezone(ts) 1-arg: the UTC offset in seconds — the session pins
    # spark.sql.session.timeZone=UTC (DuckDB-parity default), where it
    # is identically 0 (round-10 batch 2)
    "timezone": lambda a, raw: (
        f"to_utc_timestamp({a[1]}, {a[0]})"
        if len(a) == 2
        else ("0" if len(a) == 1 else None)
    ),
    # BIT-string functions: the engine carries DuckDB's BIT values as
    # '0'/'1' strings (::BIT cast maps to string in _TYPE_NAME_MAP);
    # positions are 0-based from the left (probe-verified)
    "get_bit": lambda a, raw: (
        f"cast(substring({a[0]}, ({a[1]}) + 1, 1) as int)"
        if len(a) == 2
        else None
    ),
    "set_bit": lambda a, raw: (
        f"concat(substring({a[0]}, 1, {a[1]}), cast({a[2]} as string), "
        f"substring({a[0]}, ({a[1]}) + 2))"
        if len(a) == 3
        else None
    ),
    "bit_position": lambda a, raw: (
        f"instr({a[1]}, {a[0]})" if len(a) == 2 else None
    ),
    # bitstring(s, n): left-pad to n after trimming redundant leading
    # zeros (bitstring('0101011', 12) = '000000101011'; all-zero inputs
    # pad back to all zeros — probe-verified)
    "bitstring": lambda a, raw: (
        f"lpad(regexp_replace({a[0]}, '^0+', ''), cast({a[1]} as int), '0')"
        if len(a) == 2
        else None
    ),
}


_INTERVAL_UNITS = {
    "microsecond", "microseconds", "millisecond", "milliseconds",
    "second", "seconds", "minute", "minutes", "hour", "hours",
    "day", "days", "week", "weeks", "month", "months",
    "quarter", "quarters", "year", "years", "decade", "decades",
    "century", "centuries", "millennium", "millennia",
}


def _interval_end(tokens, j: int, n: int) -> int | None:
    """Last token index of an ``interval …`` literal starting at token
    ``j`` (the INTERVAL keyword): string form, number+unit, or
    parenthesized-expression+unit. None if it doesn't parse."""
    k = j + 1
    if k >= n:
        return None
    if tokens[k].kind == "string":
        return k
    if tokens[k].kind == "number":
        if (
            k + 1 < n
            and tokens[k + 1].kind == "word"
            and tokens[k + 1].lower in _INTERVAL_UNITS
        ):
            return k + 1
        return None
    if tokens[k].kind == "lparen":
        close = _match_paren_tok(tokens, k)
        if (
            close + 1 < n
            and tokens[close + 1].kind == "word"
            and tokens[close + 1].lower in _INTERVAL_UNITS
        ):
            return close + 1
    return None


def _json_path_literal(p: str) -> str:
    """DuckDB JSON paths: '$…' passes through; '/a/1' JSON-pointer and
    bare-key 'a' forms translate to $-paths. Non-literals pass through
    (they must already be $-style)."""
    ps = p.strip()
    if not (ps.startswith("'") and ps.endswith("'")):
        return p
    body = ps[1:-1]
    if body.startswith("$"):
        return ps
    if "/" in body:
        # JSON-pointer form, with or without the leading slash
        # (json_extract_path accepts bare 'a/b' — round-10 probe batch)
        out = "$"
        for seg in body.split("/"):
            if seg:
                out += f"[{seg}]" if seg.isdigit() else f".{seg}"
        return f"'{out}'"
    return f"'$.{body}'"


def _regex_replacement(r: str) -> str:
    """DuckDB (RE2) replacement syntax → Java: ``\\N`` group refs become
    ``$N`` and literal ``$`` is escaped. Only string literals translate;
    dynamic replacement expressions pass through (documented)."""
    rs = r.strip()
    if not (rs.startswith("'") and rs.endswith("'")):
        return r
    body = rs[1:-1]
    body = body.replace("$", "\\$")
    body = re.sub(r"\\(\d)", r"$\1", body)
    return "'" + body + "'"


def _regex_opt_prefix(p: str, fl: str) -> str:
    """DuckDB regexp options → inline Java-regex ``(?…)`` prefix on the
    pattern ('g' is handled by callers; 'p' ≈ the default)."""
    inline = "".join(dict.fromkeys(c for c in fl if c in "ism"))
    if not inline:
        return p
    ps = p.strip()
    if ps.startswith("'") and ps.endswith("'"):
        return f"'(?{inline})" + ps[1:]
    return f"concat('(?{inline})', {p})"


_SUBQUERY_KEYWORDS = {
    # words after which a '(' opens a subquery/grouping, NOT a call
    "from", "join", "on", "in", "exists", "any", "all", "some", "and",
    "or", "not", "where", "when", "then", "else", "select", "having",
    "as", "union", "intersect", "except", "by", "lateral", "using",
    "values", "distinct", "between", "qualify", "case", "is", "like",
    "ilike", "cross", "inner", "left", "right", "full", "outer",
}


def _paren_context(tokens, idx: int) -> str | None:
    """Category of the nearest paren enclosing token ``idx``: "call"
    (function arguments — in-call ORDER BY has its own rewrites),
    "over" (window spec), "sub" (subquery/grouping), None (top level)."""
    stack: list[str] = []
    for k in range(idx):
        tk = tokens[k]
        if tk.kind in ("lparen", "block_open"):
            prev = tokens[k - 1] if k > 0 else None
            if prev is not None and prev.kind in ("word", "qident"):
                if prev.lower == "over":
                    stack.append("over")
                elif prev.lower == "as" and (
                    k + 1 < len(tokens)
                    and tokens[k + 1].kind == "word"
                    and tokens[k + 1].lower
                    in ("partition", "order", "rows", "range", "groups")
                ):
                    # a named WINDOW definition (`window w as (order by
                    # …)`) — same frame grammar as OVER; a CTE body
                    # after `as (` starts with SELECT/FROM/WITH instead
                    stack.append("over")
                elif prev.lower in _SUBQUERY_KEYWORDS:
                    stack.append("sub")
                else:
                    stack.append("call")
            else:
                stack.append("sub")
        elif tk.kind in ("rparen", "block_close") and stack:
            stack.pop()
    return stack[-1] if stack else None


_ORDER_CLAUSE_STOP = {
    "limit", "offset", "union", "intersect", "except", "fetch",
}
# frame keywords end a window spec's ORDER BY — but are legal column
# names at statement level (from range(3) order by range)
_ORDER_CLAUSE_STOP_OVER = _ORDER_CLAUSE_STOP | {
    "rows", "range", "groups", "exclude",
}


def _order_clause_end(tokens, start: int, n: int, in_over: bool) -> int:
    """First token index AFTER the ORDER BY item list starting at
    ``start`` (the token after BY)."""
    stop = _ORDER_CLAUSE_STOP_OVER if in_over else _ORDER_CLAUSE_STOP
    depth = 0
    k = start
    while k < n:
        tk = tokens[k]
        if tk.kind in ("lparen", "block_open"):
            depth += 1
        elif tk.kind in ("rparen", "block_close"):
            if depth == 0:
                return k
            depth -= 1
        elif depth == 0 and tk.kind == "word" and tk.lower in stop:
            return k
        k += 1
    return k


_SAMPLE_METHODS = ("system", "bernoulli", "reservoir")

# list functions whose two-parameter lambda receives an element INDEX as
# the second parameter (1-based in DuckDB, 0-based in Spark). list_reduce/
# aggregate lambdas are (accumulator, element) — never rewritten.
_INDEX_LAMBDA_FNS = {
    "list_transform", "array_transform", "list_apply", "array_apply",
    "apply", "transform", "list_filter", "array_filter", "filter",
}


def _fix_lambda_index_base(sql: str) -> str:
    """DuckDB's `(x, i) ->` lambda index is 1-based; Spark's is 0-based.
    Inside the transform/filter family, substitute every body use of the
    index parameter with ``(i + 1)`` so the body keeps DuckDB semantics.
    Processed right-to-left so earlier offsets stay valid."""
    tokens = lex(sql)
    n = len(tokens)
    # paren stack entries: (token index of '(', call word before it or None)
    stack: list[tuple[int, str | None]] = []
    hits = []  # (idx_param_name, body_start_tok, body_end_tok)
    for i, t in enumerate(tokens):
        if t.kind == "lparen":
            call = (
                tokens[i - 1].lower
                if i > 0 and tokens[i - 1].kind == "word"
                else None
            )
            stack.append((i, call))
            # lambda param list: ( x , i ) ->
            if (
                i + 5 < n
                and tokens[i + 1].kind == "word"
                and tokens[i + 2].kind == "comma"
                and tokens[i + 3].kind == "word"
                and tokens[i + 4].kind == "rparen"
                and tokens[i + 5].kind == "op"
                and tokens[i + 5].text == "->"
                and stack
                and len(stack) >= 2
                and stack[-2][1] in _INDEX_LAMBDA_FNS
            ):
                # body: from after -> to the enclosing call's comma/rparen
                depth = 0
                j = i + 6
                while j < n:
                    tj = tokens[j]
                    if tj.kind in ("lparen", "block_open"):
                        depth += 1
                    elif tj.kind in ("rparen", "block_close"):
                        if depth == 0:
                            break
                        depth -= 1
                    elif tj.kind == "comma" and depth == 0:
                        break
                    j += 1
                hits.append((tokens[i + 3].lower, i + 6, j))
        elif t.kind == "rparen" and stack:
            stack.pop()
    if not hits:
        return sql
    # collect substitution spans (word == idx name, not dotted, not a call)
    spans = []
    for name, b0, b1 in hits:
        for k in range(b0, b1):
            tk = tokens[k]
            if (
                tk.kind == "word"
                and tk.lower == name
                and not (k > 0 and tokens[k - 1].kind == "op"
                         and tokens[k - 1].text == ".")
                and not (k + 1 < len(tokens) and tokens[k + 1].kind == "lparen")
            ):
                spans.append((tk.start, tk.end, f"({tk.text} + 1)"))
    for start, end, repl in sorted(spans, reverse=True):
        sql = sql[:start] + repl + sql[end:]
    return sql


def _parse_sample_spec(tokens, sql, j, n):
    """Parse a DuckDB sample spec starting at token ``j``:
    ``method(N [%|percent|rows])`` or ``N [%|percent|rows] [(method[, seed])]``.
    Returns (spark tablesample text, last consumed token index) or None."""

    def unit_after(k):
        # returns (unit, next_index); bare size → rows (DuckDB default)
        if k < n and tokens[k].kind == "op" and tokens[k].text == "%":
            return "percent", k + 1
        if k < n and tokens[k].kind == "word" and tokens[k].lower in (
            "percent", "rows", "row",
        ):
            return ("percent" if tokens[k].lower == "percent" else "rows"), k + 1
        return "rows", k

    if (
        j < n
        and tokens[j].kind == "word"
        and tokens[j].lower in _SAMPLE_METHODS
        and j + 1 < n
        and tokens[j + 1].kind == "lparen"
    ):
        k = j + 2
        if k >= n or tokens[k].kind != "number":
            return None
        num = tokens[k].text
        unit, k = unit_after(k + 1)
        if k >= n or tokens[k].kind != "rparen":
            return None
        return f"tablesample ({num} {unit})", k
    if j < n and tokens[j].kind == "number":
        num = tokens[j].text
        unit, k = unit_after(j + 1)
        seed = None
        if (
            k < n
            and tokens[k].kind == "lparen"
            and k + 1 < n
            and tokens[k + 1].kind == "word"
            and tokens[k + 1].lower in _SAMPLE_METHODS
        ):
            k += 2
            if (
                k + 1 < n
                and tokens[k].kind == "comma"
                and tokens[k + 1].kind == "number"
            ):
                seed = tokens[k + 1].text
                k += 2
            if k >= n or tokens[k].kind != "rparen":
                return None
        else:
            k -= 1  # last consumed token is the unit (or the number)
        repl = f"tablesample ({num} {unit})"
        if seed is not None and unit == "percent":
            repl += f" repeatable ({seed})"
        return repl, k
    return None


_EXCLUDE_KINDS = {
    "current row": "current",
    "ties": "ties",
    "group": "group",
    "no others": "none",
}

# frame-bound words that keep (a) the current row and (b) its full peer
# group inside the frame — the static containment check the EXCLUDE
# rewrite needs (RANGE 'current row' bounds are PEER-GROUP boundaries)
_LOW_OK = re.compile(
    r"(?is)^(unbounded\s+preceding|\d+\s+preceding|current\s+row)$"
)
_HIGH_OK = re.compile(
    r"(?is)^(unbounded\s+following|\d+\s+following|current\s+row)$"
)


def _rewrite_window_exclude(sql: str) -> str:
    """Window frame EXCLUDE (DuckDB/standard SQL; Spark parses none of
    it): rewrite ``agg(x) OVER (… frame EXCLUDE k)`` as frame-window
    arithmetic —

        sum EXCLUDE GROUP   = sum(frame) - sum(peers)
        sum EXCLUDE TIES    = sum(frame) - sum(peers) + x
        sum EXCLUDE CURRENT = sum(frame) - x

    with count()-based NULL guards (an emptied frame yields NULL for
    sum/avg, 0 for count — probe-matched against DuckDB). The peer
    aggregate partitions by (partition keys + order expressions), which
    equals the in-frame peer group whenever the frame CONTAINS the full
    peer group — statically true for bounds from {unbounded/N preceding,
    current row} × {current row, N following/unbounded} in RANGE mode
    (RANGE current-row bounds are peer-group boundaries). Anything the
    arithmetic can't express exactly (ROWS frames for TIES/GROUP,
    min/max, DISTINCT, FILTER) raises loudly rather than approximating.
    EXCLUDE NO OTHERS is a no-op and just drops."""
    from ..errors import PsqlCompileError

    tokens = lex(sql)
    n = len(tokens)
    for i in range(n):
        t = tokens[i]
        if not (t.kind == "word" and t.lower == "over" and i + 1 < n
                and tokens[i + 1].kind == "lparen"):
            continue
        close = _match_paren_tok(tokens, i + 1)
        # find a depth-1 EXCLUDE inside this OVER
        depth = 0
        exc_j = None
        for j in range(i + 1, close):
            k = tokens[j].kind
            if k in ("lparen", "block_open"):
                depth += 1
            elif k in ("rparen", "block_close"):
                depth -= 1
            elif depth == 1 and k == "word" and tokens[j].lower == "exclude":
                exc_j = j
                break
        if exc_j is None:
            continue
        kind_txt = sql[tokens[exc_j].end : tokens[close].start].strip().lower()
        kind = _EXCLUDE_KINDS.get(re.sub(r"\s+", " ", kind_txt))
        if kind is None:
            raise PsqlCompileError(f"unsupported window EXCLUDE {kind_txt!r}")
        inner = sql[tokens[i + 1].end : tokens[exc_j].start].strip()
        if kind == "none":
            new = sql[: tokens[exc_j].start] + sql[tokens[close].start :]
            return _rewrite_window_exclude(new)
        # `agg(args) FILTER (WHERE pred) OVER (… EXCLUDE …)`: fold the
        # filter into the argument as CASE WHEN pred THEN arg END —
        # value-identical for sum/count/avg/min/max (NULLs don't
        # aggregate) and for DISTINCT (NULL never joins the distinct
        # set) — then recurse so the plain EXCLUDE rewrites apply.
        if (
            i >= 2
            and tokens[i - 1].kind == "rparen"
        ):
            fopen = None
            d = 0
            for j in range(i - 1, -1, -1):
                k = tokens[j].kind
                if k == "rparen":
                    d += 1
                elif k == "lparen":
                    d -= 1
                    if d == 0:
                        fopen = j
                        break
            if (
                fopen is not None
                and fopen >= 1
                and tokens[fopen - 1].kind == "word"
                and tokens[fopen - 1].lower == "filter"
            ):
                fw = fopen - 1
                inner_f = sql[tokens[fopen].end : tokens[i - 1].start].strip()
                pred_txt = re.sub(r"(?is)^\s*where\b", "", inner_f).strip()
                aprim = _primary_start(tokens, fw - 1) if fw > 0 else None
                if (
                    pred_txt
                    and aprim is not None
                    and tokens[aprim].kind == "word"
                    and aprim + 1 < n
                    and tokens[aprim + 1].kind == "lparen"
                ):
                    fname = tokens[aprim].lower
                    acl = _match_paren_tok(tokens, aprim + 1)
                    arg = sql[tokens[aprim + 1].end : tokens[acl].start].strip()
                    dx = ""
                    if re.match(r"(?is)^distinct\b", arg):
                        dx = "distinct "
                        arg = re.sub(r"(?is)^distinct\s+", "", arg).strip()
                    if arg == "*":
                        arg = "1"
                        if fname == "count":
                            fname = "count"  # count(*) ≡ count(1)
                    folded = (
                        f"{fname}({dx}case when {pred_txt} then {arg} end)"
                    )
                    new = (
                        sql[: tokens[aprim].start]
                        + folded
                        + sql[tokens[i - 1].end :]
                    )
                    return _rewrite_window_exclude(new)
        # the aggregate call immediately before OVER
        prim = _primary_start(tokens, i - 1) if i > 0 else None
        if (
            prim is None
            or tokens[prim].kind != "word"
            or prim + 1 >= n
            or tokens[prim + 1].kind != "lparen"
        ):
            raise PsqlCompileError(
                "window EXCLUDE needs a direct aggregate call (no FILTER)"
            )
        fn = tokens[prim].lower
        if fn not in ("sum", "count", "avg", "min", "max"):
            raise PsqlCompileError(
                f"window EXCLUDE {kind_txt} is supported for"
                f" sum/count/avg (frame arithmetic) and min/max"
                f" (frame-split), not {fn}()"
            )
        arg_close = _match_paren_tok(tokens, prim + 1)
        x = sql[tokens[prim + 1].end : tokens[arg_close].start].strip()
        distinct = bool(re.match(r"(?is)^distinct\b", x))
        if distinct:
            x = re.sub(r"(?is)^distinct\s+", "", x).strip()
        star = x == "*"
        # split the over-inner into partition/order/frame
        m = re.match(
            r"(?is)^\s*(?:partition\s+by\s+(?P<part>.*?))?"
            r"\s*(?:order\s+by\s+(?P<ord>.*?))?"
            r"\s*(?P<frame>(?:rows|range|groups)\b.*)?$",
            inner,
        )
        part, ordc, frame = m.group("part"), m.group("ord"), m.group("frame")
        mode = (frame or "range").split()[0].lower()
        # containment: bounds must keep current row (+ peers) in frame
        fb = re.match(
            r"(?is)^(?:rows|range|groups)\s+between\s+(.+?)\s+and\s+(.+?)\s*$",
            frame.strip(),
        ) if frame else None
        if frame and fb is None:
            # single-bound form: `<mode> N preceding|current row`
            fb1 = re.match(
                r"(?is)^(?:rows|range|groups)\s+(.+?)\s*$", frame.strip()
            )
            lo, hi = fb1.group(1), "current row"
        elif fb is not None:
            lo, hi = fb.group(1), fb.group(2)
        else:
            lo, hi = "unbounded preceding", "current row"
        # a frame entirely on one side of the current row (e.g.
        # `between 3 preceding and 1 preceding`) never contains the
        # current row — nor, outside ROWS mode, its peer group (peers
        # sit at distance 0) — so the EXCLUDE is a no-op; DuckDB
        # answers these, so drop the clause instead of raising.
        # (GROUP/TIES over ROWS frames raised above, so any arrival
        # here with a one-sided frame is exclusion-free.)
        _lo_s = re.sub(r"\s+", " ", lo.strip().lower())
        _hi_s = re.sub(r"\s+", " ", hi.strip().lower())
        one_sided = bool(
            re.match(r"^[1-9]\d*\s+preceding$", _hi_s)
            or re.match(r"^[1-9]\d*\s+following$", _lo_s)
        )
        base = inner  # frame window, exclude clause already split off

        def _multiset_repl(has_self: bool) -> str:
            """Exact EXCLUDE over shapes the frame-window arithmetic
            can't decompose (ROWS-frame TIES/GROUP — peers may lie
            outside the frame; min/max over numeric-RANGE peers —
            no group-boundary split). Collect the frame's
            (order-keys, value) structs per row and operate on the
            in-frame peer multiset directly:

                excluded  = frame structs whose keys <=> the current
                            row's keys (GROUP), minus the current row's
                            own contribution when it is in frame (TIES)
                min/max   = extreme of the surviving values
                sum/count = frame aggregate minus the excluded part
                            (sum widens to DOUBLE — the list fold needs
                            a type-stable accumulator)

            Memory ceiling as the DISTINCT branch: one frame's structs
            materialize per row, so this is priced for the bounded
            frames EXCLUDE is used with."""
            okeys = [
                re.sub(
                    r"(?is)\s+(asc|desc|nulls\s+first|nulls\s+last)\b",
                    "", o,
                ).strip()
                for o in _split_args(ordc or "")
            ]
            fields = ", ".join(
                f"'k{i}', ({k})" for i, k in enumerate(okeys)
            )
            v_exp = "1" if star else f"({x})"
            lst = (
                f"collect_list(named_struct("
                f"{fields + ', ' if fields else ''}'v', {v_exp}))"
                f" over ({base})"
            )
            peer = " and ".join(
                f"e.k{i} <=> ({k})" for i, k in enumerate(okeys)
            ) or "true"
            nn = "e.v is not null"
            if fn in ("min", "max"):
                amin = "array_min" if fn == "min" else "array_max"
                cmb2 = "least" if fn == "min" else "greatest"

                def vals(pred: str) -> str:
                    return (
                        f"{amin}(transform(filter({lst}, e -> {pred}),"
                        " e -> e.v))"
                    )

                if kind == "group":
                    return vals(f"not({peer}) and {nn}")
                if kind == "ties":
                    g = vals(f"not({peer}) and {nn}")
                    return f"{cmb2}({g}, ({x}))" if has_self else g
                # current row: drop ONE instance of the current value —
                # which instance doesn't matter for an extreme
                allv = vals(nn)
                if not has_self:
                    return allv
                return (
                    f"(case when ({x}) is null then {allv}"
                    f" when size(filter({lst}, e -> e.v <=> ({x}))) > 1"
                    f" then {allv}"
                    f" else {vals(f'{nn} and not(e.v <=> ({x}))')} end)"
                )
            # sum / count / avg (GROUP/TIES — CURRENT stays on the
            # self-subtraction arithmetic, exact in every mode)
            excl_pred = f"({peer}) and {nn}"
            cx2 = "*" if star else x
            cnt_f2 = f"count({cx2}) over ({base})"
            excl_cnt = f"size(filter({lst}, e -> {excl_pred}))"
            self_n2 = (
                "1" if star
                else f"(case when ({x}) is not null then 1 else 0 end)"
            )
            add_n = f" + {self_n2}" if kind == "ties" and has_self else ""
            cnt_e2 = f"({cnt_f2} - {excl_cnt}{add_n})"
            if fn == "count":
                return f"cast({cnt_e2} as bigint)"
            excl_sum = (
                f"aggregate(filter({lst}, e -> {excl_pred}),"
                f" cast(0 as double), (acc, e) -> acc + cast(e.v as double))"
            )
            sum_f2 = f"cast(coalesce(sum({x}) over ({base}), 0) as double)"
            add_v = (
                f" + cast(coalesce({x}, 0) as double)"
                if kind == "ties" and has_self else ""
            )
            sum_e2 = f"({sum_f2} - {excl_sum}{add_v})"
            if fn == "sum":
                return f"(case when {cnt_e2} = 0 then null else {sum_e2} end)"
            return (
                f"(case when {cnt_e2} = 0 then null"
                f" else {sum_e2} / {cnt_e2} end)"
            )

        if kind in ("ties", "group") and mode == "rows":
            # peers may lie OUTSIDE a ROWS frame, so the peer-window
            # subtraction over-subtracts — take the multiset path
            # (one-sided ROWS frames can still hold peers, hence
            # before the one-sided no-op drop below)
            if distinct:
                raise PsqlCompileError(
                    f"window EXCLUDE {kind_txt} with DISTINCT over a"
                    " ROWS frame is not supported; use RANGE/GROUPS"
                )
            if not ordc:
                raise PsqlCompileError(
                    f"window EXCLUDE {kind_txt} requires ORDER BY"
                )
            repl = _multiset_repl(has_self=not one_sided)
            new = (
                sql[: tokens[prim].start] + repl + sql[tokens[close].end :]
            )
            return _rewrite_window_exclude(new)
        if one_sided:
            new = sql[: tokens[exc_j].start] + sql[tokens[close].start :]
            return _rewrite_window_exclude(new)
        if (
            kind == "current"
            and mode == "rows"
            and (
                re.match(r"(?is)^[1-9]\d*\s+following$", lo.strip())
                or re.match(r"(?is)^[1-9]\d*\s+preceding$", hi.strip())
            )
        ):
            # a ROWS frame strictly after/before the current row cannot
            # contain it — EXCLUDE CURRENT ROW is a standard-semantics
            # no-op. (DuckDB 1.0 SHIFTS such frames instead — the same
            # oracle-bug class as the one-sided widening pinned in
            # round 9; the engine keeps the standard, tests pin it.)
            new = sql[: tokens[exc_j].start] + sql[tokens[close].start :]
            return _rewrite_window_exclude(new)
        if not (_LOW_OK.match(lo.strip()) and _HIGH_OK.match(hi.strip())):
            raise PsqlCompileError(
                f"window EXCLUDE {kind_txt}: frame [{lo} .. {hi}] may not"
                " contain the current row/peer group; not rewritable"
            )
        if not ordc and kind in ("ties", "group"):
            raise PsqlCompileError(
                f"window EXCLUDE {kind_txt} requires ORDER BY"
            )
        if fn in ("min", "max"):
            # min/max can't subtract the excluded rows out of the frame
            # aggregate; instead SPLIT the frame into the part strictly
            # before and strictly after the excluded rows and combine
            # with least/greatest (both skip NULLs, matching min/max
            # NULL semantics). Exact for:
            #   * EXCLUDE CURRENT ROW over ROWS frames (split at ±1 row)
            #   * EXCLUDE GROUP/TIES over GROUPS frames (split at ±1
            #     group; TIES adds the current row's own value back)
            #   * EXCLUDE GROUP/TIES over RANGE frames with
            #     unbounded/current-row bounds (RANGE current-row bounds
            #     ARE peer-group boundaries, so the split is ±1 GROUP —
            #     the emitted GROUPS frames are translated to RANGE over
            #     dense_rank by the compiler's GROUPS pass)
            # Numeric RANGE offsets have no peer-group-exact split and
            # raise loudly.
            lo_n = re.sub(r"\s+", " ", lo.strip().lower())
            hi_n = re.sub(r"\s+", " ", hi.strip().lower())

            def _win(mode2: str, lo2: str, hi2: str) -> str:
                pieces = []
                if part:
                    pieces.append(f"partition by {part}")
                if ordc:
                    pieces.append(f"order by {ordc}")
                pieces.append(f"{mode2} between {lo2} and {hi2}")
                return f"{fn}({x}) over ({' '.join(pieces)})"

            side_exprs: list[str] = []
            if kind == "current":
                if mode != "rows":
                    # RANGE/GROUPS frames are not row-splittable — drop
                    # one instance of the current value from the frame
                    # multiset instead (which instance is irrelevant
                    # for an extreme)
                    repl = _multiset_repl(has_self=True)
                    new = (
                        sql[: tokens[prim].start]
                        + repl
                        + sql[tokens[close].end :]
                    )
                    return _rewrite_window_exclude(new)
                if lo_n != "current row":
                    side_exprs.append(_win("rows", lo, "1 preceding"))
                if hi_n != "current row":
                    side_exprs.append(_win("rows", "1 following", hi))
            else:  # group / ties
                if mode == "groups":
                    if lo_n != "current row":
                        side_exprs.append(_win("groups", lo, "1 preceding"))
                    if hi_n != "current row":
                        side_exprs.append(_win("groups", "1 following", hi))
                elif mode == "range" and lo_n in (
                    "unbounded preceding", "current row"
                ) and hi_n in ("current row", "unbounded following"):
                    if lo_n == "unbounded preceding":
                        side_exprs.append(
                            _win("groups", "unbounded preceding", "1 preceding")
                        )
                    if hi_n == "unbounded following":
                        side_exprs.append(
                            _win("groups", "1 following", "unbounded following")
                        )
                else:
                    # numeric RANGE offsets: no group-boundary split
                    # exists — filter the peer structs out of the frame
                    # multiset (exact; peers sit at value-distance 0,
                    # always inside a two-sided RANGE frame)
                    repl = _multiset_repl(has_self=True)
                    new = (
                        sql[: tokens[prim].start]
                        + repl
                        + sql[tokens[close].end :]
                    )
                    return _rewrite_window_exclude(new)
                if kind == "ties":
                    side_exprs.append(f"({x})")
            cmb = "least" if fn == "min" else "greatest"
            if not side_exprs:
                repl = f"if(false, {x}, null)"
            elif len(side_exprs) == 1:
                repl = f"({side_exprs[0]})"
            else:
                repl = f"{cmb}({', '.join(side_exprs)})"
            new = sql[: tokens[prim].start] + repl + sql[tokens[close].end :]
            return _rewrite_window_exclude(new)
        peer_keys = [p.strip() for p in (part.split(",") if part else [])]
        for o in _split_args(ordc or ""):
            peer_keys.append(
                re.sub(r"(?is)\s+(asc|desc|nulls\s+first|nulls\s+last)\b", "", o).strip()
            )
        peers = "partition by " + ", ".join(peer_keys) if peer_keys else ""
        if distinct:
            # sum/avg/count(DISTINCT x) EXCLUDE k: set arithmetic on
            # collect_set is WRONG (a value appearing both inside and
            # outside the excluded rows still survives the multiset
            # difference), so operate on the distinct frame values whose
            # in-frame multiplicity exceeds their excluded multiplicity:
            # count adds 1 per survivor, sum adds the value (cast to
            # double for a type-stable accumulator — DuckDB widens
            # sum(DISTINCT int) the same direction), avg = sum/count.
            # collect_list drops NULLs, matching DISTINCT's NULL skip;
            # an emptied frame yields 0/NULL per DuckDB. Memory ceiling
            # (stricter than the mad/entropy collected-group shims): the
            # frame list materializes PER ROW, so an unbounded frame
            # over an n-row partition holds an n-element array per row
            # while the window streams — fine for the bounded frames
            # EXCLUDE is used with; a whole-partition frame on a huge
            # partition is the caller's O(n) footprint to budget.
            flist = f"collect_list({x}) over ({base})"
            if kind == "current":
                excl_cnt = f"(case when v <=> ({x}) then 1 else 0 end)"
            else:
                plist = f"collect_list({x}) over ({peers})"
                pc = f"size(filter({plist}, e -> e <=> v))"
                if kind == "group":
                    excl_cnt = pc
                else:  # ties: peers minus the current row itself
                    excl_cnt = (
                        f"({pc} - (case when v <=> ({x}) then 1 else 0 end))"
                    )
            survives = (
                f"size(filter({flist}, e -> e <=> v)) > {excl_cnt}"
            )
            cnt_expr = (
                f"aggregate(array_distinct({flist}), 0, (acc, v) ->"
                f" acc + (case when {survives} then 1 else 0 end))"
            )
            if fn == "count":
                repl = f"cast({cnt_expr} as bigint)"
            else:  # sum / avg over the surviving distinct values
                sum_expr = (
                    f"aggregate(array_distinct({flist}),"
                    f" cast(0 as double), (acc, v) -> acc +"
                    f" (case when {survives} then cast(v as double)"
                    f" else cast(0 as double) end))"
                )
                if fn == "sum":
                    repl = (
                        f"(case when {cnt_expr} = 0 then null"
                        f" else {sum_expr} end)"
                    )
                else:  # avg
                    repl = (
                        f"(case when {cnt_expr} = 0 then null"
                        f" else {sum_expr} / {cnt_expr} end)"
                    )
            new = sql[: tokens[prim].start] + repl + sql[tokens[close].end :]
            return _rewrite_window_exclude(new)
        cx = "*" if star else x
        cnt_f = f"count({cx}) over ({base})"
        cnt_p = f"count({cx}) over ({peers})"
        self_n = "1" if star else f"(case when ({x}) is not null then 1 else 0 end)"
        if kind == "group":
            cnt_e = f"({cnt_f} - {cnt_p})"
        elif kind == "ties":
            cnt_e = f"({cnt_f} - {cnt_p} + {self_n})"
        else:  # current row
            cnt_e = f"({cnt_f} - {self_n})"
        if fn == "count":
            repl = f"cast({cnt_e} as bigint)"
        else:
            sum_f = f"coalesce(sum({x}) over ({base}), 0)"
            sum_p = f"coalesce(sum({x}) over ({peers}), 0)"
            self_v = f"coalesce({x}, 0)"
            if kind == "group":
                sum_e = f"({sum_f} - {sum_p})"
            elif kind == "ties":
                sum_e = f"({sum_f} - {sum_p} + {self_v})"
            else:
                sum_e = f"({sum_f} - {self_v})"
            if fn == "sum":
                repl = f"(case when {cnt_e} = 0 then null else {sum_e} end)"
            else:  # avg
                repl = (
                    f"(case when {cnt_e} = 0 then null"
                    f" else {sum_e} / {cnt_e} end)"
                )
        new = sql[: tokens[prim].start] + repl + sql[tokens[close].end :]
        return _rewrite_window_exclude(new)
    return sql


_CLAUSE_AFTER_COMMA = frozenset(
    ("from", "where", "group", "order", "having", "qualify", "window",
     "limit", "offset", "union", "intersect", "except")
)


def _rewrite_sugar(sql: str) -> str:
    """Pre-pass for three pieces of DuckDB syntax sugar:

    * method chaining — ``(expr).fn(args)`` / ``[list].fn()`` means
      ``fn(expr, args)`` (gated on a ')'/']'-terminated receiver, which
      cannot be a table alias, so ``t.col`` stays untouched);
    * trailing commas in select lists (dropped);
    * aggregate ``FILTER (pred)`` without the WHERE keyword (inserted —
      Spark's FILTER clause requires it). The ``filter(list, fn)``
      function is not affected: its ``filter`` is not preceded by ')'.
    """
    tokens = lex(sql)
    n = len(tokens)
    depth = 0
    for i, t in enumerate(tokens):
        if t.kind in ("lparen", "block_open"):
            depth += 1
        elif t.kind in ("rparen", "block_close"):
            depth -= 1
        # (expr).fn(args) → fn(expr, args)
        if (
            t.kind == "op"
            and t.text == "."
            and i > 0
            and (
                tokens[i - 1].kind == "rparen"
                or (tokens[i - 1].kind == "op" and tokens[i - 1].text == "]")
            )
            and i + 2 < n
            and tokens[i + 1].kind == "word"
            and tokens[i + 2].kind == "lparen"
        ):
            recv_start = _primary_start(tokens, i - 1)
            call_close = _match_paren_tok(tokens, i + 2)
            if recv_start is None or call_close is None:
                continue
            recv = sql[tokens[recv_start].start : t.start].strip()
            fn = tokens[i + 1].text
            args = sql[tokens[i + 2].end : tokens[call_close].start].strip()
            call = f"{fn}({recv}, {args})" if args else f"{fn}({recv})"
            return _rewrite_sugar(
                sql[: tokens[recv_start].start]
                + call
                + sql[tokens[call_close].end :]
            )
        # trailing select-list comma: `, FROM` / `, <clause>` / `,<end>`
        if t.kind == "comma" and depth == 0:
            j = i + 1
            if j >= n or (
                tokens[j].kind == "word"
                and tokens[j].lower in _CLAUSE_AFTER_COMMA
            ):
                return _rewrite_sugar(sql[: t.start] + " " + sql[t.end :])
        # `) filter (pred)` without WHERE
        if (
            t.kind == "word"
            and t.lower == "filter"
            and i > 0
            and tokens[i - 1].kind == "rparen"
            and i + 1 < n
            and tokens[i + 1].kind == "lparen"
        ):
            fclose = _match_paren_tok(tokens, i + 1)
            inner = sql[tokens[i + 1].end : tokens[fclose].start]
            if inner.strip() and not re.match(r"(?is)^\s*where\b", inner):
                return _rewrite_sugar(
                    sql[: tokens[i + 1].end]
                    + "where "
                    + inner
                    + sql[tokens[fclose].start :]
                )
    return sql


_YM_UNIT_RE = re.compile(
    r"(?i)\b(year|years|month|months|quarter|quarters|decade|decades"
    r"|century|centuries|millennium|millennia)\b"
)
_DT_UNIT_RE = re.compile(
    r"(?i)\b(day|days|week|weeks|hour|hours|minute|minutes|second"
    r"|seconds|millisecond|milliseconds|microsecond|microseconds)\b"
)


_NUMERIC_FNS_OK = frozenset(
    ("abs", "floor", "ceil", "ceiling", "round", "mod", "sign", "sqrt",
     "power", "pow", "trunc", "len", "length", "greatest", "least")
)


def _interval_typed(text: str) -> bool:
    """Statically interval-typed operand: interval-literal arithmetic
    (literals, numbers, + - * / %, parens, and numeric FUNCTION calls
    from a fixed allow-list — abs()/round()-style scalars cannot change
    the type). Bare identifiers reject when '+'/'-' is present:
    `d + interval 1 day` is DATE-typed, and a column could be anything;
    date-returning function names are not on the allow-list for the
    same reason. In a PURELY MULTIPLICATIVE expression (* / % only —
    round-10), identifiers are safe: interval * x keeps the interval
    type for every operand type that is legal at all. Interval-typed
    COLUMNS otherwise stay statically invisible — documented boundary,
    same class as BIT columns."""
    toks = lex(text)
    n = len(toks)
    saw_interval = False
    saw_ident = False
    saw_addsub = False
    i = 0
    while i < n:
        t = toks[i]
        if t.kind in ("number", "string", "lparen", "rparen"):
            i += 1
            continue
        if t.kind == "op" and t.text in ("+", "-", "*", "/", "%"):
            if t.text in ("+", "-"):
                saw_addsub = True
            i += 1
            continue
        if t.kind == "word":
            if t.lower == "interval":
                saw_interval = True
                i += 1
                continue
            if t.lower in _INTERVAL_UNITS:
                i += 1
                continue
            if (
                t.lower in _NUMERIC_FNS_OK
                and i + 1 < n
                and toks[i + 1].kind == "lparen"
            ):
                # numeric scalar call: the type is numeric whatever the
                # args are — skip the whole argument group
                i = _match_paren_tok(toks, i + 1) + 1
                continue
            saw_ident = True
            i += 1
            continue
        return False
    return saw_interval and not (saw_ident and saw_addsub)


def _fmt_ym_interval(e: str) -> str:
    """DuckDB/Postgres rendering of a year-month interval: '2 years
    1 month', zero components omitted, all-zero -> '00:00:00'
    (probe-pinned). Spark casts a YM interval to int as total months."""
    m = f"cast(({e}) as int)"
    y = f"cast({m} / 12 as int)"
    mo = f"({m} - cast({m} / 12 as int) * 12)"
    ypart = (
        f"case when {y} <> 0 then concat({y}, case when abs({y}) = 1"
        f" then ' year' else ' years' end) end"
    )
    mpart = (
        f"case when {mo} <> 0 then concat({mo}, case when abs({mo}) = 1"
        f" then ' month' else ' months' end) end"
    )
    return (
        f"case when ({e}) is null then cast(null as string)"
        f" when {m} = 0 then '00:00:00'"
        f" else concat_ws(' ', {ypart}, {mpart}) end"
    )


def _fmt_dt_interval(e: str) -> str:
    """DuckDB/Postgres rendering of a day-time interval: 'N day(s)
    HH:MM:SS[.frac]', day part omitted when 0, time block omitted when
    zero unless everything is (probe-pinned: '90 seconds' ->
    '00:01:30', '2 days 00:00:01.5' keeps the trimmed fraction,
    '-3 hours' -> '-03:00:00'). Divergence (documented): Spark
    normalizes hours>=24 into days, so DuckDB's non-normalized
    '1 day 26:00:00' renders here as the equal-duration '2 days
    02:00:00'."""
    # widen to the full field range first: a multi-unit literal parses
    # as e.g. DAY TO MINUTE, where extract(second) is an analysis error
    ew = f"cast(({e}) as interval day to second)"
    d = f"extract(day from {ew})"
    h = f"extract(hour from {ew})"
    mi = f"extract(minute from {ew})"
    s = f"extract(second from {ew})"
    neg = f"(({h}) < 0 or ({mi}) < 0 or ({s}) < 0)"
    si = f"cast(floor(abs({s})) as int)"
    frac = f"(abs({s}) - floor(abs({s})))"
    fracs = (
        f"case when {frac} > 0 then substring(regexp_replace("
        f"cast(cast({frac} as decimal(8,6)) as string), '0+$', ''), 2)"
        f" else '' end"
    )
    tstr = (
        f"concat(case when {neg} then '-' else '' end,"
        f" lpad(cast(abs({h}) as string), 2, '0'), ':',"
        f" lpad(cast(abs({mi}) as string), 2, '0'), ':',"
        f" lpad(cast({si} as string), 2, '0'), {fracs})"
    )
    dpart = (
        f"case when {d} <> 0 then concat({d}, case when abs({d}) = 1"
        f" then ' day' else ' days' end) end"
    )
    show_t = f"(({h}) <> 0 or ({mi}) <> 0 or ({s}) <> 0 or ({d}) = 0)"
    return (
        f"case when ({e}) is null then cast(null as string) else"
        f" concat_ws(' ', {dpart}, case when {show_t} then {tstr} end) end"
    )


def _rewrite_interval_varchar(sql: str) -> str:
    """``(interval expr)::VARCHAR`` / ``cast(interval expr as varchar)``
    → DuckDB's Postgres-style interval text (round-9 version-drift probe
    batch: Spark renders \"INTERVAL '14' MONTH\", DuckDB '1 year
    2 months' — silent text divergence). Mixed year-month + day-time
    intervals don't exist in Spark's type system; those stay untouched
    (loud analysis error)."""
    tokens = lex(sql)
    n = len(tokens)
    for i, t in enumerate(tokens):
        e = None
        if (
            t.kind == "op"
            and t.text == "::"
            and i > 0
            and i + 1 < n
            and tokens[i + 1].kind == "word"
            and tokens[i + 1].lower in ("varchar", "text", "string")
            and _ends_primary(tokens[i - 1])
        ):
            lhs_start = _primary_start(tokens, i - 1)
            if lhs_start is None:
                continue
            e = sql[tokens[lhs_start].start : t.start].strip()
            span = (tokens[lhs_start].start, tokens[i + 1].end)
        elif (
            t.kind == "word"
            and t.lower == "cast"
            and i + 1 < n
            and tokens[i + 1].kind == "lparen"
        ):
            close = _match_paren_tok(tokens, i + 1)
            inner = sql[tokens[i + 1].end : tokens[close].start]
            m = re.match(
                r"(?is)^(.*\S)\s+as\s+(varchar|text|string)\s*$", inner
            )
            if not m:
                continue
            e = m.group(1)
            span = (t.start, tokens[close].end)
        if not e:
            continue
        bare = re.fullmatch(r"[-+]?\s*\d{19,}", e.strip().strip("()").strip())
        if bare:
            # HUGEINT-range literal: decimal(38) can't carry 39 digits,
            # but its varchar rendering is just the digits themselves
            lit = "'" + re.sub(r"[+\s]", "", bare.group(0)) + "'"
            return _rewrite_interval_varchar(
                sql[: span[0]] + lit + sql[span[1] :]
            )
        etoks = lex(e)
        if (
            len(etoks) >= 3
            and etoks[0].kind == "word"
            and etoks[0].lower == "age"
            and etoks[1].kind == "lparen"
            and _match_paren_tok(etoks, 1) == len(etoks) - 1
        ):
            # age(...)::VARCHAR renders the Postgres calendar string
            aargs = _split_args(e[etoks[1].end : etoks[-1].start])
            if len(aargs) in (1, 2):
                if len(aargs) == 1:
                    l2, r2 = "current_timestamp", aargs[0].strip()
                else:
                    l2, r2 = (x.strip() for x in aargs)
                return _rewrite_interval_varchar(
                    sql[: span[0]]
                    + f"({_age_str_expr(l2, r2)})"
                    + sql[span[1] :]
                )
        if (
            len(etoks) >= 3
            and etoks[0].kind == "word"
            and etoks[0].lower == "to_timestamp"
            and etoks[1].kind == "lparen"
            and _match_paren_tok(etoks, 1) == len(etoks) - 1
            and len(_split_args(e[etoks[1].end : etoks[-1].start])) == 1
        ):
            # to_timestamp(epoch) is TIMESTAMPTZ in DuckDB; its VARCHAR
            # form carries the session offset (pinned UTC → '+00').
            # Parenthesizing the operand keeps this from re-matching on
            # the recursive pass (round-10 batch 5 probe).
            return _rewrite_interval_varchar(
                sql[: span[0]]
                + f"(cast(({e}) as varchar) || '+00')"
                + sql[span[1] :]
            )
        if _ts_diff_typed(e):
            # timestamp-literal difference: day-time interval (round-10
            # probe batch — Spark renders "INTERVAL '2 01:30:00' DAY TO
            # SECOND", DuckDB '2 days 01:30:00')
            return _rewrite_interval_varchar(
                sql[: span[0]] + f"({_fmt_dt_interval(e)})" + sql[span[1] :]
            )
        if "interval" not in e.lower() or not _interval_typed(e):
            continue
        ym = bool(_YM_UNIT_RE.search(e))
        dt = bool(_DT_UNIT_RE.search(e))
        if ym == dt:  # mixed or unit-free: not representable/decidable
            continue
        repl = _fmt_ym_interval(e) if ym else _fmt_dt_interval(e)
        return _rewrite_interval_varchar(
            sql[: span[0]] + f"({repl})" + sql[span[1] :]
        )
    return sql


_DECIMAL_CAST_RE = re.compile(r"(?is)(::\s*|\bas\s+)(decimal|numeric)\b")


def _rewrite_decimal_division(sql: str) -> str:
    """DuckDB's ``/`` always returns DOUBLE; Spark keeps decimal
    division in decimal with narrower result scale (probe:
    1.0::DECIMAL(18,3) / 3 = 0.33333333333333 under Spark's scale rules
    vs DuckDB's full double 0.3333333333333333). Wrap statically
    decimal-CAST operands of ``/`` in a double cast. ``//`` is left
    alone (integral semantics differ by operand type and are handled by
    the arith-chain pass); bare decimal literals and decimal-hinted
    columns are already double-cast at the division site in the main
    walk."""
    tokens = lex(sql)
    n = len(tokens)
    for i, t in enumerate(tokens):
        if t.kind != "op" or t.text != "/":
            continue
        # skip the two halves of `//`
        if (
            i + 1 < n
            and tokens[i + 1].kind == "op"
            and tokens[i + 1].text == "/"
            and tokens[i + 1].start == t.end
        ) or (
            i > 0
            and tokens[i - 1].kind == "op"
            and tokens[i - 1].text == "/"
            and t.start == tokens[i - 1].end
        ):
            continue
        if i > 0 and _ends_primary(tokens[i - 1]):
            ls = _primary_start(tokens, i - 1)
            if ls is not None:
                ls = _cast_chain_start(tokens, ls)
                lhs = sql[tokens[ls].start : t.start].strip()
                if _DECIMAL_CAST_RE.search(lhs) and not re.fullmatch(
                    r"(?is)cast\s*\(.*as\s+double\s*\)", lhs
                ):
                    return _rewrite_decimal_division(
                        sql[: tokens[ls].start]
                        + f"cast(({lhs}) as double) "
                        + sql[t.start :]
                    )
        if i + 1 < n:
            re_end = _primary_end(tokens, i + 1)
            if re_end is not None:
                re_end = _cast_chain_end(tokens, re_end)
                rhs = sql[tokens[i + 1].start : tokens[re_end].end].strip()
                if _DECIMAL_CAST_RE.search(rhs) and not re.fullmatch(
                    r"(?is)cast\s*\(.*as\s+double\s*\)", rhs
                ):
                    return _rewrite_decimal_division(
                        sql[: tokens[i + 1].start]
                        + f"cast(({rhs}) as double)"
                        + sql[tokens[re_end].end :]
                    )
    return sql


_BITISH_RE = re.compile(
    r"(?is)(::\s*bit(string)?\b|\bas\s+bit(string)?\b"
    r"|\b(set_bit|bitstring)\s*\()"
)


def _is_bitish(text: str) -> bool:
    """Operand text is statically BIT-typed: a ::BIT / CAST(.. AS BIT)
    cast or a BIT-producing function anywhere inside it. (BIT-typed
    COLUMNS are statically invisible — documented boundary, same class
    as non-literal LIKE patterns.)"""
    return bool(_BITISH_RE.search(text))


def _bit_zip(a: str, b: str, op: str) -> str:
    """Positionwise combine of two '0'/'1' strings (the engine's BIT
    carrier). DuckDB errors on length mismatch; this computes over the
    lhs length — permissive superset, the documented norm."""
    pa, pb = f"substring({a}, __bi, 1)", f"substring({b}, __bi, 1)"
    cond = {
        "&": f"{pa} = '1' and {pb} = '1'",
        "|": f"{pa} = '1' or {pb} = '1'",
        "xor": f"{pa} <> {pb}",
    }[op]
    # explicit NULL propagation: concat_ws SKIPS nulls, so a NULL operand
    # would otherwise collapse to '' instead of NULL (round-10 fuzz find,
    # seed 271828: NULL-width bitstring & bitstring)
    return (
        f"(case when ({a}) is null or ({b}) is null then null else "
        f"concat_ws('', transform(sequence(1, length({a})), __bi -> "
        f"case when {cond} then '1' else '0' end)) end)"
    )


def _cast_chain_start(tokens: list[Token], lhs_start: int) -> int:
    """Walk a primary's start back across ``expr :: type`` chains: the
    primary ending at a cast TYPE word is really the whole cast."""
    while (
        lhs_start >= 2
        and tokens[lhs_start].kind == "word"
        and tokens[lhs_start - 1].kind == "op"
        and tokens[lhs_start - 1].text == "::"
    ):
        prev = _primary_start(tokens, lhs_start - 2)
        if prev is None:
            break
        lhs_start = prev
    return lhs_start


def _cast_chain_end(tokens: list[Token], rhs_end: int) -> int:
    """Extend a primary's end forward across trailing ``:: type`` casts."""
    n = len(tokens)
    while (
        rhs_end + 2 < n
        and tokens[rhs_end + 1].kind == "op"
        and tokens[rhs_end + 1].text == "::"
        and tokens[rhs_end + 2].kind == "word"
    ):
        rhs_end += 2
    return rhs_end


def _arith_chain_end(tokens: list[Token], rhs_end: int) -> int:
    """Extend a primary's end across trailing + - * / % arithmetic
    (each operand itself cast-chain-extended). Shift amounts bind
    LOWER than arithmetic in DuckDB: ``bit << a % 10`` shifts by
    ``a % 10`` — a primary-only right operand silently truncates the
    chain (round-9 fuzzer find)."""
    n = len(tokens)
    while True:
        rhs_end = _cast_chain_end(tokens, rhs_end)
        j = rhs_end + 1
        if not (
            j + 1 <= n - 1
            and tokens[j].kind == "op"
            and tokens[j].text in ("+", "-", "*", "/", "%")
        ):
            return rhs_end
        nxt = _primary_end(tokens, j + 1)
        if nxt is None:
            return rhs_end
        rhs_end = nxt


_FILTER_FOLD_FNS = frozenset((
    # aggregates whose shims expand to COMPOSITE expressions (multiple
    # inner aggregates / exp-sum-ln / percentile forms): Spark's native
    # `FILTER (WHERE p)` clause cannot attach to the expansion, so the
    # predicate folds into the DATA argument as CASE WHEN p THEN x END —
    # value-identical because every one of these skips NULL inputs, and
    # the two-argument regression family skips the PAIR when either side
    # is NULL (folding the first argument suffices).
    "corr", "covar_pop", "covar_samp", "regr_avgx", "regr_avgy",
    "regr_slope", "regr_intercept", "regr_r2", "regr_sxx", "regr_syy",
    "regr_sxy", "regr_count", "mad", "entropy", "geomean", "product",
    "median", "quantile_disc", "quantile_cont", "quantile", "mode",
    "approx_quantile", "kurtosis", "kurtosis_pop", "skewness",
))


def _fold_agg_filter(sql: str) -> str:
    """``fn(args) FILTER (WHERE p)`` → ``fn(CASE WHEN p THEN arg0 END,
    rest…)`` for composite-shim aggregates (probe: corr(..) FILTER
    raised FUNCTION_WITH_UNSUPPORTED_SYNTAX once the corr shim expanded
    to its guarded-moments form)."""
    tokens = lex(sql)
    n = len(tokens)
    for i, t in enumerate(tokens):
        if not (
            t.kind == "word"
            and t.lower in _FILTER_FOLD_FNS
            and i + 1 < n
            and tokens[i + 1].kind == "lparen"
        ):
            continue
        close = _match_paren_tok(tokens, i + 1)
        j = close + 1
        if not (
            j + 1 < n
            and tokens[j].kind == "word"
            and tokens[j].lower == "filter"
            and tokens[j + 1].kind == "lparen"
        ):
            continue
        fclose = _match_paren_tok(tokens, j + 1)
        pred = re.sub(
            r"(?is)^\s*where\b",
            "",
            sql[tokens[j + 1].end : tokens[fclose].start],
        ).strip()
        args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
        if not pred or not args or not args[0].strip():
            continue

        def _foldable(a: str) -> bool:
            # parameters (quantile fractions etc.) are literals — only
            # data arguments fold. Two-sided fns (corr/covar/regr) fold
            # BOTH sides: their shims expand to INDEPENDENT per-side
            # moments, so a one-sided fold filters one moment only
            # (probe: corr FILTER off by 7e-4).
            at = lex(a)
            return not (len(at) == 1 and at[0].kind in ("number", "string"))

        args = [
            f"case when ({pred}) then ({a.strip()}) end"
            if _foldable(a)
            else a.strip()
            for a in args
        ]
        new = (
            sql[: t.start]
            + f"{t.text}({', '.join(args)})"
            + sql[tokens[fclose].end :]
        )
        return _fold_agg_filter(new)
    return sql


def _rewrite_bit_ops(sql: str) -> str:
    """DuckDB BIT operators over the '0'/'1'-string BIT carrier:
    ``& | xor() ~ << >>`` plus bit_count/bit_length/octet_length, when
    an operand is statically BIT-typed (round-9 version-drift probe
    batch found Spark's integer-domain operators error or mis-compute
    on the string representation). Shifts match DuckDB: bits fall off,
    zero-fill keeps the width (probe: '0110'::BIT << 2 = '1000')."""
    tokens = lex(sql)
    n = len(tokens)
    for i, t in enumerate(tokens):
        if (
            t.kind == "word"
            and t.lower in ("bit_count", "bit_length", "octet_length", "xor")
            and i + 1 < n
            and tokens[i + 1].kind == "lparen"
        ):
            close = _match_paren_tok(tokens, i + 1)
            args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
            if not any(_is_bitish(x) for x in args):
                continue
            if t.lower == "xor" and len(args) == 2:
                repl = _bit_zip(
                    f"({args[0].strip()})", f"({args[1].strip()})", "xor"
                )
            elif len(args) == 1:
                a = f"({args[0].strip()})"
                if t.lower == "bit_count":
                    repl = f"(length({a}) - length(replace({a}, '1', '')))"
                elif t.lower == "bit_length":
                    repl = f"length({a})"
                else:  # octet_length: ceil(bits / 8), probe-verified
                    repl = f"cast(ceil(length({a}) / 8.0) as int)"
            else:
                continue
            return _rewrite_bit_ops(
                sql[: t.start] + repl + sql[tokens[close].end :]
            )
        if t.kind != "op" or t.text not in ("&", "|", "<", ">", "~"):
            continue
        shift = None
        if t.text in ("<", ">"):
            # shifts lex as two adjacent < / > op tokens
            if not (
                i + 1 < n
                and tokens[i + 1].kind == "op"
                and tokens[i + 1].text == t.text
                and tokens[i + 1].start == t.end
            ):
                continue
            shift = "<<" if t.text == "<" else ">>"
        if t.text == "~":
            # prefix form only (infix ~ is the regex-match operator)
            if (i > 0 and _ends_primary(tokens[i - 1])) or i + 1 >= n:
                continue
            rhs_end = _primary_end(tokens, i + 1)
            if rhs_end is None:
                continue
            rhs_end = _cast_chain_end(tokens, rhs_end)
            rhs = sql[tokens[i + 1].start : tokens[rhs_end].end]
            if not _is_bitish(rhs):
                continue
            return _rewrite_bit_ops(
                sql[: t.start]
                + f"translate(({rhs}), '01', '10')"
                + sql[tokens[rhs_end].end :]
            )
        ri = i + (2 if shift else 1)
        if i == 0 or ri >= n or not _ends_primary(tokens[i - 1]):
            continue
        lhs_start = _primary_start(tokens, i - 1)
        rhs_end = _primary_end(tokens, ri)
        if lhs_start is None or rhs_end is None:
            continue
        lhs_start = _cast_chain_start(tokens, lhs_start)
        # shift amounts are arithmetic expressions that bind tighter
        # than the shift itself; BIT & | operands are BIT-typed (no
        # arithmetic) so the cast-chain extension suffices there
        rhs_end = (
            _arith_chain_end(tokens, rhs_end)
            if shift
            else _cast_chain_end(tokens, rhs_end)
        )
        lhs = sql[tokens[lhs_start].start : t.start].strip()
        rhs = sql[tokens[ri].start : tokens[rhs_end].end].strip()
        if not (_is_bitish(lhs) or _is_bitish(rhs)):
            continue
        a, b = f"({lhs})", f"({rhs})"
        if t.text in ("&", "|"):
            repl = _bit_zip(a, b, t.text)
        elif shift == "<<":
            # NULL shift amounts are NULL (fuzzer: Spark's greatest()
            # SKIPS nulls, so an unguarded form zero-filled instead)
            repl = (
                f"(case when ({b}) is null then cast(null as string)"
                f" else rpad(substring({a}, cast({b} as int) + 1),"
                f" length({a}), '0') end)"
            )
        else:  # >>
            repl = (
                f"(case when ({b}) is null then cast(null as string)"
                f" else lpad(substring({a}, 1, greatest(length({a}) -"
                f" cast({b} as int), 0)), length({a}), '0') end)"
            )
        return _rewrite_bit_ops(
            sql[: tokens[lhs_start].start] + repl + sql[tokens[rhs_end].end :]
        )
    return sql


def _rewrite_binary_ops(sql: str) -> str:
    """Pre-pass for DuckDB's binary operators Spark lacks (or silently
    misreads): ``^@`` starts-with, ``~``/``~~`` (+ ``!`` negations)
    regexp/LIKE match, and ``**`` / ``^`` POWER (Spark reads ``^`` as
    XOR — wrong VALUES, not errors). Pre-pass for the same reason as
    factorials: these rewrites splice AROUND their left operand, which a
    left-to-right rewriter has already emitted (fuzzer-caught:
    ``(x % 5) ** 2`` corrupted by the ``%`` nullif rewrite). Restart on
    every mutation; left-associativity of power chains falls out
    (power(a, b) becomes the next lhs primary)."""
    tokens = lex(sql)
    n = len(tokens)
    for i, t in enumerate(tokens):
        if t.kind != "op":
            continue
        # a ^@ b (lexed ^ then @, adjacent)
        if (
            t.text == "^"
            and i + 1 < n
            and tokens[i + 1].kind == "op"
            and tokens[i + 1].text == "@"
            and tokens[i + 1].start == t.end
            and i > 0
            and _ends_primary(tokens[i - 1])
        ):
            lhs_start = _primary_start(tokens, i - 1)
            rhs_end = _primary_end(tokens, i + 2) if i + 2 < n else None
            if lhs_start is None or rhs_end is None:
                continue
            lhs = sql[tokens[lhs_start].start : t.start].strip()
            rhs = sql[tokens[i + 2].start : tokens[rhs_end].end]
            return _rewrite_binary_ops(
                sql[: tokens[lhs_start].start]
                + f"startswith({lhs}, {rhs})"
                + sql[tokens[rhs_end].end :]
            )
        # a ** b / a ^ b → power(a, b). DuckDB binds unary minus TIGHTER
        # than power (probe: `-2 ^ 2` = 4.0, `-abs(3) ^ 2` = 9.0), so a
        # prefix sign on the lhs primary joins the base, not the result.
        if (
            (t.text == "**" or t.text == "^")
            and 0 < i < n - 1
            and _ends_primary(tokens[i - 1])
        ):
            lhs_start = _primary_start(tokens, i - 1)
            rhs_end = _primary_end(tokens, i + 1)
            if lhs_start is None or rhs_end is None:
                continue
            if lhs_start > 0 and _is_unary_sign(tokens, lhs_start - 1):
                lhs_start -= 1
            lhs = sql[tokens[lhs_start].start : t.start].strip()
            rhs = sql[tokens[i + 1].start : tokens[rhs_end].end]
            return _rewrite_binary_ops(
                sql[: tokens[lhs_start].start]
                + f"power({lhs}, {rhs})"
                + sql[tokens[rhs_end].end :]
            )
        # a ~ p / a ~~ p and ! negations → rlike / like
        if (
            t.text in ("~", "!")
            and i > 0
            and i + 1 < n
            and _ends_primary(tokens[i - 1])
        ):
            neg = t.text == "!"
            j = i + (1 if neg else 0)
            tildes = 0
            while (
                j < n and tokens[j].kind == "op" and tokens[j].text == "~"
                and (tildes == 0 or tokens[j].start == tokens[j - 1].end)
            ):
                tildes += 1
                j += 1
            if tildes not in (1, 2) or j >= n:
                continue
            lhs_start = _primary_start(tokens, i - 1)
            rhs_end = _primary_end(tokens, j)
            if lhs_start is None or rhs_end is None:
                continue
            lhs = sql[tokens[lhs_start].start : t.start].strip()
            rhs = sql[tokens[j].start : tokens[rhs_end].end]
            if tildes == 2:
                expr = f"({lhs} like {rhs})"
            else:
                # DuckDB `~` is regexp_full_match, not partial (probe:
                # 'abc' ~ 'b' = FALSE, regexp_matches('abc','b') = TRUE)
                # — anchor the pattern; Spark rlike is partial
                expr = f"({lhs} rlike concat('^(?:', ({rhs}), ')$'))"
            if neg:
                expr = f"(not {expr})"
            return _rewrite_binary_ops(
                sql[: tokens[lhs_start].start]
                + expr
                + sql[tokens[rhs_end].end :]
            )
    return sql


def _rewrite_like_backslashes(sql: str) -> str:
    """DuckDB LIKE/ILIKE has NO default escape character — a backslash
    in the pattern is a LITERAL backslash — while Spark defaults to
    backslash-escape (r8 silent-wrong find: '50%' like '50\\%' is FALSE
    in DuckDB, TRUE in Spark). For patterns without an explicit ESCAPE
    clause, double the backslashes in a literal pattern (Spark then
    reads each pair as one literal backslash); explicit ESCAPE clauses
    pass through untouched (both engines honor them identically).
    Non-literal patterns (columns/expressions) are left as-is — the
    engine can't see their content, and wrapping every one in replace()
    would tax the common no-backslash case; documented boundary."""
    tokens = lex(sql)
    n = len(tokens)
    out: list[str] = []
    pos = 0
    for i, t in enumerate(tokens):
        if t.kind != "word" or t.lower not in ("like", "ilike"):
            continue
        if i + 1 >= n or tokens[i + 1].kind != "string":
            continue
        lit = tokens[i + 1].text
        if "\\" not in lit:
            continue
        # explicit ESCAPE clause → both engines agree already
        if (
            i + 2 < n
            and tokens[i + 2].kind == "word"
            and tokens[i + 2].lower == "escape"
        ):
            continue
        out.append(sql[pos : tokens[i + 1].start])
        out.append("'" + lit[1:-1].replace("\\", "\\\\") + "'")
        pos = tokens[i + 1].end
    if not out:
        return sql
    out.append(sql[pos:])
    return "".join(out)


def _rewrite_factorials(sql: str) -> str:
    """Pre-pass: DuckDB's postfix factorial ``n!`` → factorial(n), cast
    to decimal(38,0) (the HUGEINT convention — Spark's factorial()
    returns NULL past 20! where DuckDB grows into hugeint; documented
    boundary). Runs BEFORE the main shim loop so the operand text is
    still pristine (a left-to-right rewriter cannot splice a postfix
    operator around an already-rewritten operand). Not factorial: ``!=``
    (one lexer token) and the ``!~``/``!~~`` match operators.

    Precedence (probe-verified on the 1.0 oracle): postfix ``!`` binds
    LOWER than every arithmetic operator — ``2 * 3!`` = 720, ``1 + 3!``
    = 24, ``10 - 3!`` = 5040, ``7 // 3!`` = 2 — so the operand is the
    whole depth-0 arithmetic chain to the left (stops at comparisons,
    commas, and clause keywords: ``3! = 6`` is TRUE, ``case when 1=1
    then 3! end`` = 6)."""
    tokens = lex(sql)
    n = len(tokens)
    for i in range(n - 1, -1, -1):  # right-to-left: nested x!! stays valid
        t = tokens[i]
        if not (t.kind == "op" and t.text == "!"):
            continue
        if i == 0 or not _ends_primary(tokens[i - 1]):
            continue
        if (
            i + 1 < n
            and tokens[i + 1].kind == "op"
            and tokens[i + 1].text in ("=", "~")
            and tokens[i + 1].start == t.end  # adjacent: `!~`; `3! = 6` is
            # a spaced comparison after a factorial, not an operator pair
        ):
            continue
        lhs_start = _arith_chain_start(tokens, i - 1)
        if lhs_start is None:
            continue
        lhs = sql[tokens[lhs_start].start : t.start].strip()
        return _rewrite_factorials(  # restart: positions shift on mutation
            sql[: tokens[lhs_start].start]
            + f"cast(factorial({lhs}) as decimal(38,0))"
            + sql[t.end :]
        )
    return sql


def _rewrite_like_contains_chain(sql: str) -> str:
    """``col [NOT] LIKE '%lit1%lit2%…%'`` → an ordered ``locate`` chain.

    Spark's LikeSimplification only folds single-token shapes
    (``%a%`` → Contains, ``a%`` → StartsWith); a multi-``%`` pattern
    compiles to a java.util.regex matcher evaluated per row — on q13's
    15 M-row ``o_comment not like '%special%requests%'`` filter that
    regex IS the scan's dominant cost (DuckDB runs a specialized LIKE
    kernel instead). The chain is exactly equivalent: ``s LIKE
    '%a%b%'`` holds iff some occurrence of ``a`` is followed (disjoint,
    in order) by an occurrence of ``b``; taking the LEFTMOST occurrence
    of each part greedily is complete (any witness occurrence of ``a``
    starts at or after the leftmost one, so the suffix searched for
    ``b`` only grows) and obviously sound. NULL input: every locate()
    returns NULL, the AND-chain stays NULL, matching LIKE. Conservative
    gates: pattern is a plain string literal starting AND ending with
    ``%``, interior parts non-empty with no ``_``/``%``/backslash, ≥2
    parts (single part is already Contains), ≤4 parts (the nested
    position expression grows quadratically); LHS is a bare or
    table-qualified column in a clean boolean context (start of
    fragment, ``(``, comma, or AND/OR/NOT/WHERE/WHEN/THEN/ELSE/ON/
    HAVING/SELECT before it — anything else could be an operator
    binding tighter than LIKE, e.g. ``a || b like p``); no ESCAPE
    clause and no operator after the pattern (``like p || q`` binds
    into the pattern). Measured at sf10: q13 fold residual 0.838 s →
    see BENCH_Q13_FOLD_AB_sf10.json round-12 update."""
    tokens = lex(sql)
    n = len(tokens)
    ctx_words = {
        "and", "or", "not", "where", "when", "then", "else", "on",
        "having", "select", "by",
    }
    for i, t in enumerate(tokens):
        if t.kind != "word" or t.lower != "like":
            continue
        if i + 1 >= n or tokens[i + 1].kind != "string":
            continue
        if i + 2 < n and (
            tokens[i + 2].kind == "op"
            or (
                tokens[i + 2].kind == "word"
                and tokens[i + 2].lower == "escape"
            )
        ):
            continue
        raw = tokens[i + 1].text[1:-1]
        if "\\" in raw or "_" in raw:
            continue
        if not (raw.startswith("%") and raw.endswith("%")):
            continue
        parts = raw[1:-1].split("%")
        if len(parts) < 2 or len(parts) > 4 or any(not p for p in parts):
            continue
        # LHS: [word .] word in a clean boolean context
        j = i - 1
        neg = False
        if j >= 0 and tokens[j].kind == "word" and tokens[j].lower == "not":
            neg = True
            j -= 1
        if j < 0 or tokens[j].kind != "word":
            continue
        lhs_start = j
        if (
            j >= 2
            and tokens[j - 1].kind == "op"
            and tokens[j - 1].text == "."
            and tokens[j - 2].kind == "word"
        ):
            lhs_start = j - 2
        prev = tokens[lhs_start - 1] if lhs_start > 0 else None
        if prev is not None and not (
            prev.kind in ("lparen", "comma")
            or (prev.kind == "word" and prev.lower in ctx_words)
        ):
            continue
        col = sql[tokens[lhs_start].start : tokens[j].end]
        pos_expr = None  # 1-based search start for the next part
        conds: list[str] = []
        for p in parts:
            lit = "'" + p + "'"
            plen = len(p.replace("''", "'"))
            loc = (
                f"locate({lit}, {col})"
                if pos_expr is None
                else f"locate({lit}, {col}, {pos_expr})"
            )
            conds.append(f"{loc} > 0")
            pos_expr = f"{loc} + {plen}"
        chain = "(" + " and ".join(conds) + ")"
        if neg:
            chain = f"(not {chain})"
        return _rewrite_like_contains_chain(
            sql[: tokens[lhs_start].start]
            + chain
            + sql[tokens[i + 1].end :]
        )
    return sql


def apply_shims(sql: str, schema: dict[str, str] | None = None) -> str:
    """Rewrite DuckDB-isms in a SQL fragment to Spark SQL equivalents.

    ``schema`` (lowercased column name → Spark simpleString dtype) lets the
    bracket rewrite pick type-correct forms for string slices and map
    subscripts; nested recursive rewrites run on already-bracket-rewritten
    text, so only this top-level call needs it.
    """
    if "{" in sql:
        sql = rewrite_braces(sql)
    if "[" in sql:
        sql = rewrite_brackets(sql, schema)
    if "->" in sql:
        sql = _fix_lambda_index_base(sql)
    if "!" in sql:
        sql = _rewrite_factorials(sql)
    if "::" in sql and re.search(
        r"(?i)\b(from_hex|unhex|encode|to_binary|from_base64|blob|binary|bytea)\b",
        sql,
    ):
        sql = _rewrite_blob_varchar(sql, schema)
    if ")." in sql or "]." in sql or "," in sql or "filter" in sql.lower():
        sql = _rewrite_sugar(sql)
    if (
        re.search(r"(?i)\binterval\b|\bage\s*\(|\btimestamp\s*'|\bto_timestamp\s*\(", sql)
        or re.search(r"\d{19}", sql)
    ) and re.search(
        r"(?i)::\s*(varchar|text|string)\b|\bas\s+(varchar|text|string)\b",
        sql,
    ):
        sql = _rewrite_interval_varchar(sql)
    if "/" in sql and _DECIMAL_CAST_RE.search(sql):
        sql = _rewrite_decimal_division(sql)
    if re.search(r"(?is)\bfilter\s*\(", sql):
        sql = _fold_agg_filter(sql)
    if _BITISH_RE.search(sql) and (
        any(op in sql for op in ("&", "|", "<<", ">>", "~"))
        or re.search(r"(?i)\b(bit_count|bit_length|octet_length|xor)\s*\(", sql)
    ):
        sql = _rewrite_bit_ops(sql)
    if any(c in sql for c in ("^", "~", "**")):
        sql = _rewrite_binary_ops(sql)
    if "\\" in sql and re.search(r"(?i)\blike\b|\bilike\b", sql):
        sql = _rewrite_like_backslashes(sql)
    if "%" in sql and re.search(r"(?i)\blike\b", sql):
        sql = _rewrite_like_contains_chain(sql)
    if "exclude" in sql.lower() and re.search(r"(?is)\bover\s*\(", sql):
        sql = _rewrite_window_exclude(sql)
    tokens = lex(sql)
    out: list[str] = []
    pos = 0
    i = 0
    n = len(tokens)
    while i < n:
        t = tokens[i]
        # DuckDB double-quoted identifiers → Spark backticks ("a b" → `a b`)
        if t.kind == "qident" and t.text.startswith('"'):
            inner = t.text[1:-1].replace('""', '"').replace("`", "``")
            out.append(sql[pos : t.start])
            out.append(f"`{inner}`")
            pos = t.end
            i += 1
            continue
        # doubled-single-quote escape: with escapedStringLiterals=true
        # Spark keeps '' verbatim instead of collapsing to one quote
        # (DuckDB/ANSI behavior). Re-emit as concat(…, char(39), …).
        # Path literals after FROM/JOIN are left untouched (resolver needs
        # the raw token).
        if t.kind == "string" and "''" in t.text[1:-1]:
            prev_t = tokens[i - 1] if i > 0 else None
            if not (
                prev_t is not None
                and prev_t.kind == "word"
                and prev_t.lower in ("from", "join")
            ):
                parts = t.text[1:-1].split("''")
                pieces: list[str] = []
                for j, part in enumerate(parts):
                    if j > 0:
                        pieces.append("char(39)")
                    if part:
                        pieces.append(f"'{part}'")
                out.append(sql[pos : t.start])
                out.append(
                    pieces[0] if len(pieces) == 1 else "concat(" + ", ".join(pieces) + ")"
                )
                pos = t.end
                i += 1
                continue
        # `date ± interval` is TIMESTAMP in DuckDB (the interval may carry
        # sub-day parts); Spark keeps DATE. Wrap when the left operand is
        # statically a date (literal or schema-known column) and the right
        # is an INTERVAL literal — both sides shimmed separately so the
        # combined pattern never re-triggers.
        if (
            t.kind == "op"
            and t.text in ("+", "-")
            and i + 1 < n
            and tokens[i + 1].kind == "word"
            and tokens[i + 1].lower == "interval"
        ):
            dl = None
            if i >= 1:
                j = i - 1
                if (
                    j >= 1
                    and tokens[j].kind == "string"
                    and tokens[j - 1].kind == "word"
                    and tokens[j - 1].lower == "date"
                ):
                    dl = (j - 1, sql[tokens[j - 1].start : tokens[j].end])
                elif tokens[j].kind in ("word", "qident"):
                    txt = sql[tokens[j].start : tokens[j].end]
                    if _hint_type(schema, txt) == "date":
                        dl = (j, txt)
            iend = _interval_end(tokens, i + 1, n)
            if dl is not None and iend is not None and pos <= tokens[dl[0]].start:
                itext = apply_shims(
                    sql[tokens[i + 1].start : tokens[iend].end], schema
                )
                out.append(sql[pos : tokens[dl[0]].start])
                out.append(
                    f"cast({dl[1]} {t.text} {itext} as timestamp)"
                )
                pos = tokens[iend].end
                i = iend + 1
                continue
        # `date - date` → datediff: DuckDB yields INTEGER days, Spark an
        # INTERVAL. Rewritten only when BOTH operands are statically dates
        # (date literals or schema-known date columns).
        if t.kind == "op" and t.text == "-":

            def _date_operand_left(j):
                # returns (start_idx, text) of a date operand ending at j
                if (
                    j >= 1
                    and tokens[j].kind == "string"
                    and tokens[j - 1].kind == "word"
                    and tokens[j - 1].lower == "date"
                ):
                    return j - 1, sql[tokens[j - 1].start : tokens[j].end]
                if tokens[j].kind in ("word", "qident"):
                    txt = sql[tokens[j].start : tokens[j].end]
                    if _hint_type(schema, txt) == "date":
                        return j, txt
                return None

            def _date_operand_right(j):
                if (
                    j + 1 < n
                    and tokens[j].kind == "word"
                    and tokens[j].lower == "date"
                    and tokens[j + 1].kind == "string"
                ):
                    return j + 1, sql[tokens[j].start : tokens[j + 1].end]
                if j < n and tokens[j].kind in ("word", "qident"):
                    txt = sql[tokens[j].start : tokens[j].end]
                    if _hint_type(schema, txt) == "date":
                        return j, txt
                return None

            left = _date_operand_left(i - 1) if i >= 1 else None
            right = _date_operand_right(i + 1) if left is not None else None
            if (
                left is not None
                and right is not None
                and pos <= tokens[left[0]].start
            ):
                out.append(sql[pos : tokens[left[0]].start])
                out.append(f"datediff({left[1]}, {right[1]})")
                pos = tokens[right[0]].end
                i = right[0] + 1
                continue
        # `expr::type` with a DuckDB-only bare type name (x::varchar).
        # An arrow right behind the cast (j::JSON -> 'a') defers to the
        # arrow case below, which re-emits the WHOLE lhs span — renaming
        # here first would advance pos past the operand it needs.
        if (
            t.kind == "op"
            and t.text == "::"
            and i + 1 < n
            and tokens[i + 1].kind == "word"
            and tokens[i + 1].lower in _TYPE_NAME_MAP
            and not (i + 2 < n and tokens[i + 2].kind == "lparen")
            and not (
                i + 2 < n
                and tokens[i + 2].kind == "op"
                and tokens[i + 2].text in ("->", "->>")
            )
        ):
            if tokens[i + 1].lower in ("varchar", "text", "string") and i > 0:
                lhs_start = _primary_start(tokens, i - 1)
                if lhs_start is not None and lhs_start >= 0:
                    lhs = sql[tokens[lhs_start].start : t.start].strip()
                    if _hint_type(schema, lhs) == "binary" or (
                        _BLOB_PRODUCER_RE.match(lhs)
                    ):
                        # BLOB::VARCHAR — \xNN rendering (see cast branch)
                        if tokens[lhs_start].start >= pos:
                            out.append(sql[pos : tokens[lhs_start].start])
                            out.append(
                                _blob_varchar_render(apply_shims(lhs, schema))
                            )
                            pos = tokens[i + 1].end
                            i += 2
                            continue
            out.append(sql[pos : tokens[i + 1].start])
            out.append(_TYPE_NAME_MAP[tokens[i + 1].lower])
            pos = tokens[i + 1].end
            i += 2
            continue
        # ORDER BY default NULL placement: DuckDB sorts NULLS LAST on
        # ascending keys; Spark's default is NULLS FIRST — a silent
        # row-order (and, under LIMIT, row-SET) divergence. Applies to
        # statement/subquery ORDER BY only: the nearest enclosing paren
        # must not be a call (aggregates' in-call ORDER BY and window
        # over(...) specs have their own handling/defaults).
        if (
            t.kind == "word" and t.lower == "order"
            and i + 1 < n
            and tokens[i + 1].kind == "word"
            and tokens[i + 1].lower == "by"
            and (_obctx := _paren_context(tokens, i)) != "call"
        ):
            end = _order_clause_end(tokens, i + 2, n, _obctx == "over")
            if end > i + 2:
                items = _split_args(sql[tokens[i + 1].end : tokens[end - 1].end])
                fixed = []
                for it in items:
                    itl = it.lower()
                    if "nulls" in itl.split():
                        fixed.append(apply_shims(it.strip(), schema))
                    elif re.search(r"(?is)\bdesc\s*$", it):
                        # Spark's DESC default is already NULLS LAST
                        fixed.append(apply_shims(it.strip(), schema))
                    else:
                        fixed.append(
                            apply_shims(it.strip(), schema) + " nulls last"
                        )
                out.append(sql[pos : t.start])
                out.append("order by " + ", ".join(fixed))
                pos = tokens[end - 1].end
                i = end
                continue
        # JSON arrow operators: `j -> 'key'` (JSON result, quoted
        # strings) and `j ->> 'key'` (text result). Distinguished from
        # lambdas by the STRING/NUMBER right operand.
        if (
            t.kind == "op"
            and t.text in ("->", "->>")
            and i + 1 < n
            and tokens[i + 1].kind in ("string", "number")
            and i > 0
            # a lambda's arrow lives in function-argument position; a
            # string-literal lambda BODY would be ambiguous there, so the
            # JSON reading applies outside call parens only
            and _paren_context(tokens, i) != "call"
        ):
            lhs_start = _primary_start(tokens, i - 1)
            if lhs_start is not None:
                # j::JSON -> 'a': the cast is part of the operand
                lhs_start = _cast_chain_start(tokens, lhs_start)
            if lhs_start is not None and pos <= tokens[lhs_start].start:
                lhs = apply_shims(
                    sql[tokens[lhs_start].start : t.start].strip(), schema
                )
                rhs_tok = tokens[i + 1]
                if rhs_tok.kind == "number":
                    p2 = f"'$[{rhs_tok.text}]'"
                else:
                    p2 = _json_path_literal(rhs_tok.text)
                out.append(sql[pos : tokens[lhs_start].start])
                if t.text == "->":
                    # a JSON null VALUE is SQL NULL in DuckDB (fuzzer
                    # seed-777 find); a json string "null" stays quoted,
                    # so the nullif is exact
                    out.append(
                        f"nullif(to_json(variant_get("
                        f"parse_json({lhs}), {p2})), 'null')"
                    )
                else:
                    out.append(f"get_json_object({lhs}, {p2})")
                pos = rhs_tok.end
                i += 2
                continue
        # TIMESTAMPTZ '<s>' literal: Spark's TIMESTAMP is already LTZ and
        # its string cast parses offsets — same instant semantics
        if (
            t.kind == "word"
            and t.lower == "timestamptz"
            and i + 1 < n
            and tokens[i + 1].kind == "string"
        ):
            out.append(sql[pos : t.start])
            out.append(f"cast({tokens[i + 1].text} as timestamp)")
            pos = tokens[i + 1].end
            i += 2
            continue
        # DuckDB positional reference `#N` (ORDER BY #1) → Spark's plain
        # ordinal N
        if (
            t.kind == "op"
            and t.text == "#"
            and i + 1 < n
            and tokens[i + 1].kind == "number"
        ):
            out.append(sql[pos : t.start])
            pos = t.end
            i += 1
            continue
        # `x AT TIME ZONE 'tz'`: Spark has no AT TIME ZONE syntax.
        # DuckDB on a naive TIMESTAMP interprets the wall time IN tz and
        # yields the instant — to_utc_timestamp does exactly that (the
        # session runs UTC; the TIMESTAMPTZ→wall direction has no
        # distinct Spark type and is a documented divergence).
        if (
            t.kind == "word" and t.lower == "at"
            and i + 3 < n
            and tokens[i + 1].kind == "word" and tokens[i + 1].lower == "time"
            and tokens[i + 2].kind == "word" and tokens[i + 2].lower == "zone"
        ):
            lhs_start = _primary_start(tokens, i - 1)
            rhs_end = _primary_end(tokens, i + 3)
            if lhs_start is not None and rhs_end is not None:
                # typed literals: timestamp '…' / date '…' keep the prefix
                if (
                    lhs_start > 0
                    and tokens[lhs_start].kind == "string"
                    and tokens[lhs_start - 1].kind == "word"
                    and tokens[lhs_start - 1].lower
                    in ("timestamp", "date", "time", "timestamptz")
                ):
                    lhs_start -= 1
                lhs = sql[tokens[lhs_start].start : t.start].strip()
                rhs = sql[tokens[i + 3].start : tokens[rhs_end].end]
                out.append(sql[pos : tokens[lhs_start].start])
                out.append(
                    f"to_utc_timestamp({apply_shims(lhs)}, {apply_shims(rhs)})"
                )
                pos = tokens[rhs_end].end
                i = rhs_end + 1
                continue
        # `x GLOB 'pattern'`: DuckDB's glob-match operator → anchored rlike
        # (*, ?, [...] translate; other regex metachars escape)
        if (
            t.kind == "word" and t.lower == "glob"
            and i + 1 < n and tokens[i + 1].kind == "string"
            and i > 0 and tokens[i - 1].kind != "lparen"
        ):
            pat = tokens[i + 1].text[1:-1].replace("''", "'")
            rx = []
            k = 0
            while k < len(pat):
                ch = pat[k]
                if ch == "*":
                    rx.append(".*")
                elif ch == "?":
                    rx.append(".")
                elif ch == "[":
                    end = pat.find("]", k + 1)
                    if end == -1:
                        rx.append("\\[")
                    else:
                        rx.append(pat[k : end + 1])
                        k = end
                elif ch in ".^$+{}()|\\":
                    rx.append("\\" + ch)
                else:
                    rx.append(ch)
                k += 1
            lit = ("^" + "".join(rx) + "$").replace("'", "''")
            out.append(sql[pos : t.start])
            out.append(f"rlike '{lit}'")
            pos = tokens[i + 1].end
            i += 2
            continue
        # `expr COLLATE NOCASE`: case-insensitive comparison/order — fold
        # to lower(); when the collated operand is one side of a
        # comparison, BOTH sides fold (the collation governs the compare)
        if (
            t.kind == "word" and t.lower == "collate"
            and i + 1 < n and tokens[i + 1].kind == "word"
            and tokens[i + 1].lower == "nocase"
        ):
            e_start = _primary_start(tokens, i - 1)
            if e_start is not None:
                expr = sql[tokens[e_start].start : t.start].strip()
                cmp_i = e_start - 1
                if (
                    e_start > 0
                    and tokens[cmp_i].kind == "op"
                    and tokens[cmp_i].text in ("=", "<>", "!=", "<", "<=", ">", ">=")
                ):
                    l_start = _primary_start(tokens, cmp_i - 1)
                    if l_start is not None and pos <= tokens[l_start].start:
                        lhs = sql[tokens[l_start].start : tokens[cmp_i].start].strip()
                        out.append(sql[pos : tokens[l_start].start])
                        out.append(
                            f"lower({apply_shims(lhs, schema)}) "
                            f"{tokens[cmp_i].text} "
                            f"lower({apply_shims(expr, schema)})"
                        )
                        pos = tokens[i + 1].end
                        i += 2
                        continue
                if pos <= tokens[e_start].start:
                    out.append(sql[pos : tokens[e_start].start])
                    out.append(f"lower({apply_shims(expr, schema)})")
                    pos = tokens[i + 1].end
                    i += 2
                    continue
        # quantified comparisons `x op ANY|SOME|ALL (subquery)`: Spark has
        # no quantifier syntax. Exact lowerings: =ANY → IN, <>ALL → NOT IN
        # (identical three-valued logic). Ordering ops lower to min/max
        # scalar subqueries with an empty-set guard (ANY over ∅ is false,
        # ALL over ∅ is true). Documented corner: a NULL ELEMENT mixed with
        # non-NULLs can yield false where the standard says NULL (min/max
        # skip NULLs) — same class of divergence as the approx quantiles.
        if (
            t.kind == "word"
            and t.lower in ("any", "some", "all")
            and i + 1 < n
            and tokens[i + 1].kind == "lparen"
            and i > 0
            and tokens[i - 1].kind == "op"
            and tokens[i - 1].text in ("=", "<>", "!=", "<", "<=", ">", ">=")
            # ANY(...)/ALL(...) never follow a word/value directly except as
            # a quantifier; `min(x) > any(sub)` has op before it either way
        ):
            close = _match_paren_tok(tokens, i + 1)
            sub = apply_shims(sql[tokens[i + 1].end : tokens[close].start], schema)
            if re.match(r"(?is)^\s*(select|from|with|values)\b", sub):
                op = "<>" if tokens[i - 1].text == "!=" else tokens[i - 1].text
                quant = "any" if t.lower in ("any", "some") else "all"
                if (op, quant) in (("=", "any"), ("<>", "all")):
                    kw = "in " if op == "=" else "not in "
                    out.append(sql[pos : tokens[i - 1].start])
                    out.append(f"{kw}({sub})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
                lhs_start = _primary_start(tokens, i - 2)
                if lhs_start is not None and op in ("<", "<=", ">", ">=", "=", "<>"):
                    lhs = apply_shims(
                        sql[tokens[lhs_start].start : tokens[i - 1].start], schema
                    ).strip()
                    cnt = f"(select count(*) from ({sub}) __q(__v))"
                    mn = f"(select min(__v) from ({sub}) __q(__v))"
                    mx = f"(select max(__v) from ({sub}) __q(__v))"
                    if quant == "any":
                        empty_val = "false"
                        if op in ("<", "<="):
                            body = f"({lhs}) {op} {mx}"
                        elif op in (">", ">="):
                            body = f"({lhs}) {op} {mn}"
                        else:  # <> any: true unless all elements equal lhs
                            body = f"(({lhs}) <> {mn} or ({lhs}) <> {mx})"
                    else:
                        empty_val = "true"
                        if op in ("<", "<="):
                            body = f"({lhs}) {op} {mn}"
                        elif op in (">", ">="):
                            body = f"({lhs}) {op} {mx}"
                        elif op == "=":
                            body = f"(({lhs}) = {mn} and ({lhs}) = {mx})"
                        else:  # <> all handled above as NOT IN
                            body = f"(({lhs}) not in ({sub}))"
                    out.append(sql[pos : tokens[lhs_start].start])
                    out.append(
                        f"(case when {cnt} = 0 then {empty_val} "
                        f"else {body} end)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
        # DuckDB sampling: `USING SAMPLE <spec>` / `TABLESAMPLE method(spec)`
        # → Spark `TABLESAMPLE (N PERCENT|ROWS) [REPEATABLE (seed)]`.
        # Methods (system/bernoulli/reservoir) erase: Spark percent sampling
        # is bernoulli, its ROWS form is a prefix limit — a documented
        # divergence (any SAMPLE result is engine-specific; counts match
        # exactly for the rows form, statistically for percent).
        if (
            (t.kind == "word" and t.lower == "using"
             and i + 1 < n and tokens[i + 1].kind == "word"
             and tokens[i + 1].lower == "sample")
            or (t.kind == "word" and t.lower == "tablesample"
                and i + 1 < n and tokens[i + 1].kind == "word"
                and tokens[i + 1].lower in ("system", "bernoulli", "reservoir"))
        ):
            j = i + 2 if t.lower == "using" else i + 1
            parsed = _parse_sample_spec(tokens, sql, j, n)
            if parsed is not None:
                repl, end_tok = parsed
                out.append(sql[pos : t.start])
                out.append(repl)
                pos = tokens[end_tok].end
                i = end_tok + 1
                continue
        # `/` always yields DOUBLE in DuckDB; Spark keeps DECIMAL when a
        # decimal literal or decimal-typed column is involved — cast such
        # operands to double at the division site
        if (
            (i > 0 and tokens[i - 1].kind == "op" and tokens[i - 1].text == "/")
            or (i + 1 < n and tokens[i + 1].kind == "op" and tokens[i + 1].text == "/")
        ) and (
            (t.kind == "number" and "." in t.text)
            or (
                t.kind in ("word", "qident")
                and not (i + 1 < n and tokens[i + 1].kind == "lparen")
                and (_hint_type(schema, t.text) or "").startswith("decimal")
            )
        ):
            if pos <= t.start:
                out.append(sql[pos : t.start])
                out.append(f"cast({t.text} as double)")
                pos = t.end
                i += 1
                continue
        # `/` and `%` by ZERO are NULL in DuckDB (oracle-probed: 1/0,
        # 1.0/0, 1%0, mod(1,0) all NULL); Spark raises under ANSI. Wrap
        # the divisor primary in nullif — stays inside codegen, and a
        # NULL divisor already yields NULL on both engines.
        if (
            t.kind == "op"
            and t.text in ("/", "%")
            and i + 1 < n
            and not (
                tokens[i + 1].kind == "op"  # `%` in sample specs etc.
            )
        ):
            rhs_end = _primary_end(tokens, i + 1)
            if rhs_end is not None and pos <= t.start:
                rhs_raw = sql[tokens[i + 1].start : tokens[rhs_end].end]
                if not re.fullmatch(r"(?is)\s*nullif\s*\(.*", rhs_raw):
                    rhs_s = apply_shims(rhs_raw, schema)
                    if t.text == "/" and re.fullmatch(
                        r"[0-9]+\.[0-9]+", rhs_raw.strip()
                    ):
                        # decimal-literal divisor also forces DOUBLE
                        rhs_s = f"cast({rhs_s} as double)"
                    out.append(sql[pos : t.end])
                    out.append(f" nullif({rhs_s}, 0)")
                    pos = tokens[rhs_end].end
                    i = rhs_end + 1
                    continue
        # integer division: DuckDB 1.0's `//` truncates only when BOTH
        # operands are integral (7 // 2 = 3, -7 // 2 = -3); with any
        # DOUBLE/DECIMAL operand it is plain division (7.5 // 2 = 3.75,
        # probe-verified) — Spark `div` would truncate those too
        if t.kind == "op" and t.text == "//":
            def _nonintegral(txt: str) -> bool:
                # +,-,* over any DOUBLE/DECIMAL operand stays non-integral
                # in DuckDB, so scanning the primary's tokens for a
                # fractional literal, a float-hinted column, a `/` (int
                # division is DOUBLE in DuckDB: probe `(7/2) // 3` =
                # 1.166…), a power operator, or a double-returning
                # function suffices. A cast back to an integral type
                # re-integralizes the whole operand.
                toks2 = lex(txt.strip())
                if re.search(
                    r"(?is)\bas\s+(u?(tiny|small|big|huge)?int(eger)?\d*"
                    r"|long|short|byte)\s*\)\s*$",
                    txt.strip(),
                ) and toks2 and toks2[0].kind == "word" and toks2[0].lower in (
                    "cast", "try_cast"
                ):
                    return False
                for t2 in toks2:
                    if t2.kind == "number" and (
                        "." in t2.text or "e" in t2.text.lower()
                    ):
                        return True
                    if t2.kind == "op" and t2.text in ("/", "^", "**"):
                        return True
                    if t2.kind == "word":
                        if t2.lower in _DOUBLE_RETURNING_FNS:
                            return True
                        ht2 = _hint_type(schema, t2.text) or ""
                        if ht2 in ("double", "float") or ht2.startswith(
                            "decimal"
                        ):
                            return True
                return False

            lhs_start = _primary_start(tokens, i - 1) if i > 0 else None
            rhs_end = _primary_end(tokens, i + 1) if i + 1 < n else None
            if (
                lhs_start is not None
                and rhs_end is not None
                and (
                    _nonintegral(sql[tokens[lhs_start].start : t.start])
                    or _nonintegral(sql[tokens[i + 1].start : tokens[rhs_end].end])
                )
            ):
                rhs_txt = sql[tokens[i + 1].start : tokens[rhs_end].end]
                out.append(sql[pos : t.start])
                out.append(
                    f" / cast(nullif(({apply_shims(rhs_txt, schema)}), 0)"
                    " as double)"
                )
                pos = tokens[rhs_end].end
                i = rhs_end + 1
                continue
            out.append(sql[pos : t.start])
            out.append(" div ")
            pos = t.end
            i += 1
            continue
        # `x SIMILAR TO 'pat'` → anchored rlike (full-match semantics)
        if (
            t.kind == "word" and t.lower == "similar"
            and i + 2 < n
            and tokens[i + 1].kind == "word" and tokens[i + 1].lower == "to"
            and tokens[i + 2].kind == "string"
        ):
            pat = tokens[i + 2].text[1:-1]
            out.append(sql[pos : t.start])
            out.append(f"rlike '^(?:{pat})$'")
            pos = tokens[i + 2].end
            i += 3
            continue
        if t.kind == "word":
            w = t.lower
            nxt = tokens[i + 1] if i + 1 < n else None
            is_call = nxt is not None and nxt.kind == "lparen"
            # agg(e) FILTER (WHERE p) OVER (…): Spark rejects FILTER on
            # window aggregates — fold the predicate into the aggregate as
            # CASE (aggregates ignore NULLs; count(*) becomes count(CASE))
            if is_call:
                close = _match_paren_tok(tokens, i + 1)
                j = close + 1
                if (
                    j + 1 < n
                    and tokens[j].kind == "word"
                    and tokens[j].lower == "filter"
                    and tokens[j + 1].kind == "lparen"
                ):
                    fclose = _match_paren_tok(tokens, j + 1)
                    k = fclose + 1
                    if k < n and tokens[k].kind == "word" and tokens[k].lower == "over":
                        pred = re.sub(
                            r"(?is)^\s*where\s+", "",
                            sql[tokens[j + 1].end : tokens[fclose].start],
                        ).strip()
                        args_txt = sql[tokens[i + 1].end : tokens[close].start].strip()
                        out.append(sql[pos : t.start])
                        if w == "count" and args_txt in ("*", ""):
                            out.append(
                                f"count(case when ({apply_shims(pred)}) then 1 end)"
                            )
                        else:
                            out.append(
                                f"{w}(case when ({apply_shims(pred)}) then "
                                f"{apply_shims(args_txt)} end)"
                            )
                        pos = tokens[fclose].end
                        i = fclose + 1
                        continue
            # median(x) → percentile(cast(x as double), 0.5): interpolated
            # median, valid (unlike Spark's median) over ordered windows.
            # The input is computed in DOUBLE — the documented cross-engine
            # convention (SURVEY §8.2): DuckDB types `1.0` literals DECIMAL
            # and flips to a DISCRETE median on them, while both engines
            # interpolate identically on DOUBLE, so the engine pins the
            # continuous-quantile semantics regardless of literal typing.
            if w == "median" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(f"percentile(cast(({x}) as double), 0.5)")
                pos = tokens[close].end
                i = close + 1
                continue
            # quantile_cont(x, q) → percentile(cast(x as double), q): same
            # DOUBLE-input convention (DuckDB quantizes a DECIMAL input's
            # result back to the decimal's scale; DOUBLE interpolates).
            if w == "quantile_cont" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                qargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(qargs) == 2:
                    x, qq = (apply_shims(a) for a in qargs)
                    out.append(sql[pos : t.start])
                    out.append(f"percentile(cast(({x}) as double), {qq})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # count() -> count(*)
            if w == "count" and is_call and i + 2 < n and tokens[i + 2].kind == "rparen":
                out.append(sql[pos : t.start])
                out.append("count(*)")
                pos = tokens[i + 2].end
                i += 3
                continue
            # DuckDB puts IGNORE/RESPECT NULLS inside the call parens
            # (lead(x IGNORE NULLS)); Spark wants it after them
            if w in _NULL_TREATMENT_FNS and is_call:
                close = _match_paren_tok(tokens, i + 1)
                if (
                    close >= i + 4
                    and tokens[close - 1].kind == "word"
                    and tokens[close - 1].lower == "nulls"
                    and tokens[close - 2].kind == "word"
                    and tokens[close - 2].lower in ("ignore", "respect")
                ):
                    inner = sql[tokens[i + 1].end : tokens[close - 2].start].rstrip()
                    treatment = f"{tokens[close - 2].lower} nulls"
                    out.append(sql[pos : t.start])
                    out.append(f"{w}({apply_shims(inner)}) {treatment}")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # cast(x AS <integer type>): DuckDB rounds half away from zero,
            # Spark truncates — wrap in round(x, 0) (a no-op for integer
            # inputs; non-numeric→int casts are not valid DuckDB anyway)
            if w in ("cast", "try_cast") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner_toks = lex(sql[tokens[i + 1].end : tokens[close].start])
                as_pos = None
                depth = 0
                for k, it in enumerate(inner_toks):
                    if it.kind in ("lparen", "block_open"):
                        depth += 1
                    elif it.kind in ("rparen", "block_close"):
                        depth -= 1
                    elif depth == 0 and it.kind == "word" and it.lower == "as":
                        as_pos = k
                inner = sql[tokens[i + 1].end : tokens[close].start]
                if as_pos is not None:
                    expr_txt = inner[: inner_toks[as_pos].start].strip()
                    type_txt = inner[inner_toks[as_pos].end :].strip()
                    # boolean-shaped exprs (cast(x > 0 as int) conditional
                    # counting) must not be wrapped — round() rejects them
                    depth = 0
                    boolish = False
                    for it in inner_toks[:as_pos]:
                        if it.kind in ("lparen", "block_open"):
                            depth += 1
                        elif it.kind in ("rparen", "block_close"):
                            depth -= 1
                        elif it.kind == "word" and it.lower == "case":
                            # comparisons inside CASE…END don't type the result
                            depth += 1
                        elif it.kind == "word" and it.lower == "end":
                            depth -= 1
                        elif depth == 0 and (
                            (it.kind == "op" and it.text in
                             ("=", "<", ">", "<=", ">=", "<>", "!="))
                            or (it.kind == "word" and it.lower in
                                ("and", "or", "not", "in", "like", "ilike",
                                 "between", "is", "exists", "rlike", "similar",
                                 # bare boolean literals: rint(true) would
                                 # be a type error; Spark's native
                                 # bool→int cast matches DuckDB (1/0)
                                 "true", "false"))
                        ):
                            boolish = True
                            break
                    if not boolish and _hint_type(schema, expr_txt) == "boolean":
                        # bare BOOLEAN column: rint(bool) is a type error;
                        # Spark's native bool→int cast matches DuckDB (1/0)
                        boolish = True
                    if boolish or re.search(r"(?i)\binterval\b", expr_txt):
                        # intervals: rint(interval) is a type error, and
                        # Spark's native interval→int cast (total months
                        # / end-field units) is already exact
                        pass
                    elif type_txt.lower() in _INT_CAST_TYPES:
                        # DuckDB-parity rounding WITHOUT Spark's round():
                        # round(double, 0) builds a BigDecimal per row
                        # (measured 2-3x the cost of an entire scan+agg at
                        # sf10). Both replacement forms stay in codegen:
                        #   * rint(x) — round HALF TO EVEN, DuckDB's
                        #     semantics for DOUBLE→int casts (probe:
                        #     cast(2.5e0 as int)=2, cast(3.5e0 as int)=4);
                        #   * floor(x+0.5) / -floor(-x+0.5) — half AWAY
                        #     from zero, DuckDB's semantics for round()
                        #     and for DECIMAL/VARCHAR→int casts.
                        # An inner explicit round(E[, 0]) is redundant
                        # under the away-wrapper and is collapsed, so
                        # cast(round(e*100,0) as bigint) — the integer-
                        # cents idiom — costs one floor. Mode choice:
                        # collapsed-round / decimal-or-string-hinted
                        # columns / decimal literals → away; double-hinted
                        # or unknown expressions (analytics default) →
                        # even.
                        e_txt = expr_txt
                        was_round = False
                        rt = lex(e_txt)
                        if (
                            len(rt) >= 3
                            and rt[0].kind == "word"
                            and rt[0].lower == "round"
                            and rt[1].kind == "lparen"
                            and _match_paren_tok(rt, 1) == len(rt) - 1
                        ):
                            rargs = _split_args(e_txt[rt[1].end : rt[-1].start])
                            if len(rargs) == 1:
                                e_txt = rargs[0]
                                was_round = True
                            elif len(rargs) == 2 and rargs[1].strip() == "0":
                                e_txt = rargs[0]
                                was_round = True
                        ht = _hint_type(schema, e_txt) or ""
                        et = lex(e_txt)
                        is_num_lit = len(et) == 1 and et[0].kind == "number"
                        # string LITERALS parse as decimals in DuckDB too:
                        # cast('0.5' as int) = 1 (half away), not rint
                        is_str_lit = len(et) == 1 and et[0].kind == "string"
                        away = (
                            was_round
                            or is_num_lit
                            or is_str_lit
                            or ht.startswith("decimal")
                            or ht == "string"
                            # +/-/* arithmetic over decimal-hinted columns
                            # stays DECIMAL in DuckDB → half-away cast
                            or (not ht and _decimal_arith_expr(schema, e_txt))
                        )
                        out.append(sql[pos : t.start])
                        if w == "try_cast":
                            # a plain cast would raise on unparseable
                            # strings, defeating the "try"; go through a
                            # tried double first (DuckDB: try_cast('2.7'
                            # as int)=3, try_cast('abc' as int)=NULL).
                            # Strings parse as decimals in DuckDB → away
                            # unless the input is known DOUBLE.
                            td = f"try_cast({apply_shims(e_txt, schema)} as double)"
                            if ht in ("double", "float") and not was_round:
                                out.append(
                                    f"try_cast(rint({td}) as {type_txt})"
                                )
                            elif _has_nondet(e_txt):
                                out.append(
                                    f"try_cast(round({td}, 0) as {type_txt})"
                                )
                            else:
                                out.append(
                                    f"try_cast((case when ({td}) >= 0 "
                                    f"then floor(({td}) + 0.5) "
                                    f"else -floor(-({td}) + 0.5) end) as {type_txt})"
                                )
                        elif away:
                            # string operands must reach the comparison as
                            # DOUBLE: ANSI coerces a bare string against 0
                            # to INT and rejects '0.5'
                            e = (
                                f"(cast({apply_shims(e_txt, schema)} as double))"
                                if (is_str_lit or ht == "string")
                                else f"({apply_shims(e_txt, schema)})"
                            )
                            if _has_nondet(e_txt):
                                # evaluate the operand ONCE: Spark round()
                                # is HALF_UP (same away ties), slower
                                # (BigDecimal) but correct for random()
                                out.append(
                                    f"{w}(round({apply_shims(e_txt, schema)}, 0)"
                                    f" as {type_txt})"
                                )
                            else:
                                out.append(
                                    f"{w}((case when {e} >= 0 "
                                    f"then floor({e} + 0.5) "
                                    f"else -floor(-{e} + 0.5) end) as {type_txt})"
                                )
                        else:
                            out.append(
                                f"{w}(rint({apply_shims(e_txt, schema)}) as {type_txt})"
                            )
                        pos = tokens[close].end
                        i = close + 1
                        continue
                    if type_txt.lower() in ("varchar", "text", "string") and (
                        _hint_type(schema, expr_txt) == "binary"
                        or _BLOB_PRODUCER_RE.match(expr_txt)
                    ):
                        # BLOB→VARCHAR: DuckDB's \xNN rendering, not a
                        # UTF-8 reinterpretation (probe batch 7)
                        out.append(sql[pos : t.start])
                        out.append(
                            _blob_varchar_render(apply_shims(expr_txt, schema))
                        )
                        pos = tokens[close].end
                        i = close + 1
                        continue
                    mapped = _map_type_name(type_txt)
                    if mapped != type_txt:
                        # DuckDB-only type spelling (cast(x AS varchar))
                        out.append(sql[pos : t.start])
                        out.append(f"{w}({apply_shims(expr_txt, schema)} as {mapped})")
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # strftime/strptime with literal format -> date_format/to_timestamp
            if w in ("strftime", "strptime") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                args = _split_args(inner)
                if len(args) == 2 and args[1].startswith("'") and args[1].endswith("'"):
                    segs = strftime_segments(args[1][1:-1])
                    x0 = apply_shims(args[0])
                    if w == "strftime" and any(k == "expr" for k, _ in segs):
                        # %U/%W have no Java pattern — splice computed
                        # week numbers between date_format pieces
                        pieces = [
                            'date_format({}, "{}")'.format(x0, s)
                            if k == "fmt"
                            else s.format(x=x0)
                            for k, s in segs
                        ]
                        repl = (
                            pieces[0]
                            if len(pieces) == 1
                            else f"concat({', '.join(pieces)})"
                        )
                        out.append(sql[pos : t.start])
                        out.append(repl)
                        pos = tokens[close].end
                        i = close + 1
                        continue
                    fmt = translate_strftime_format(args[1][1:-1])
                    fn = "date_format" if w == "strftime" else "to_timestamp"
                    out.append(sql[pos : t.start])
                    # the session runs escapedStringLiterals=true (DuckDB
                    # backslash parity), where a single-quoted literal has
                    # NO quote escape at all — java-pattern quotes (') ride
                    # inside a DOUBLE-quoted Spark string instead
                    out.append('{}({}, "{}")'.format(fn, x0, fmt))
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # log(x) in DuckDB is log10; Spark's 1-arg log is ln
            if w == "log" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                if len(_split_args(inner)) == 1:
                    out.append(sql[pos : t.start])
                    out.append(f"log10({apply_shims(inner)})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # date_diff('day', a, b) -> timestampdiff(DAY, a, b)
            if w in ("date_diff", "datediff") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                args = _split_args(inner)
                if len(args) == 3 and args[0].startswith("'") and args[0].endswith("'"):
                    unit = args[0][1:-1].upper()
                    a = apply_shims(args[1])
                    b = apply_shims(args[2])
                    out.append(sql[pos : t.start])
                    if unit.lower() in _TRUNCABLE_UNITS:
                        # DuckDB counts UNIT-boundary crossings, Spark's
                        # timestampdiff counts complete units — truncate
                        # both ends first so they agree
                        out.append(
                            f"timestampdiff({unit}, date_trunc('{unit}', {a}),"
                            f" date_trunc('{unit}', {b}))"
                        )
                    else:
                        out.append(f"timestampdiff({unit}, {a}, {b})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # date_part/extract units Spark numbers differently or lacks
            if w == "date_part" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if (
                    len(args) == 2
                    and args[0].strip().strip("'\"").lower()
                    in _SPECIAL_EXTRACT_UNITS
                ):
                    u = args[0].strip().strip("'\"").lower()
                    x = apply_shims(args[1])
                    out.append(sql[pos : t.start])
                    if u == "epoch":
                        out.append(f"cast({x} as double)")
                    else:
                        out.append(_extract_unit_expr(u, x))
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # DuckDB day-of-week helpers with different numbering/spelling
            if w in ("weekday", "isodow", "yearweek", "dayname", "monthname") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                if w == "weekday":
                    out.append(f"(dayofweek({x}) - 1)")  # DuckDB Sunday=0
                elif w == "isodow":
                    out.append(f"(((dayofweek({x}) + 5) % 7) + 1)")  # Mon=1
                elif w == "yearweek":
                    # ISO week-based year × 100 + ISO week; the ISO year is
                    # the calendar year of the week's Thursday (Spark's new
                    # formatter rejects the 'YYYY' week-year pattern)
                    isodow = f"(((dayofweek({x}) + 5) % 7) + 1)"
                    out.append(
                        f"(year(date_add({x}, 4 - {isodow})) * 100 + weekofyear({x}))"
                    )
                elif w == "dayname":
                    out.append(f"date_format({x}, 'EEEE')")
                else:
                    out.append(f"date_format({x}, 'MMMM')")
                pos = tokens[close].end
                i = close + 1
                continue
            # epoch(ts): seconds since the epoch as double (DuckDB type)
            if w == "epoch" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                raw_x = sql[tokens[i + 1].end : tokens[close].start]
                x = apply_shims(raw_x)
                out.append(sql[pos : t.start])
                out.append(_epoch_expr(x, raw_x))
                pos = tokens[close].end
                i = close + 1
                continue
            # product(x): multiplicative aggregate via a collected-group
            # fold (Spark has no product aggregate). A previous exp/ln
            # form drifted in the last ulps (24883199999.999954 vs
            # DuckDB's exact 24883200000.0 on integer-valued inputs);
            # the double fold is exact whenever every intermediate
            # product is exactly representable, matching DuckDB's own
            # sequential multiply.
            if w == "product" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                over_sh = ""
                end_tok = close
                if (
                    close + 2 < n
                    and tokens[close + 1].kind == "word"
                    and tokens[close + 1].lower == "over"
                    and tokens[close + 2].kind == "lparen"
                ):
                    # window form: the OVER attaches to the inner
                    # collect_list (round-10 batch 4)
                    oc = _match_paren_tok(tokens, close + 2)
                    over_sh = " " + apply_shims(
                        sql[tokens[close + 1].start : tokens[oc].end], schema
                    )
                    end_tok = oc
                out.append(sql[pos : t.start])
                out.append(
                    f"aggregate(collect_list(cast(({x}) as double))"
                    f"{over_sh}, "
                    "cast(1.0 as double), (__pacc, __px) -> __pacc * __px)"
                )
                pos = tokens[end_tok].end
                i = end_tok + 1
                continue
            # favg/fsum: DuckDB's Kahan-compensated float aggregates —
            # Spark's avg/sum over DOUBLE is the closest analogue
            # (documented precision-path divergence, values match on
            # exactly-representable sums)
            if w in ("favg", "fsum", "sumkahan", "kahan_sum") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                fn = "avg" if w == "favg" else "sum"
                out.append(sql[pos : t.start])
                out.append(f"{fn}(cast(({x}) as double))")
                pos = tokens[close].end
                i = close + 1
                continue
            # regexp_extract_all(s, re): DuckDB's 2-arg form extracts the
            # FULL match (group 0); Spark's 2-arg default is group 1
            if w == "regexp_extract_all" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                rargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(rargs) == 2:
                    a, b = (apply_shims(s2.strip()) for s2 in rargs)
                    out.append(sql[pos : t.start])
                    out.append(f"regexp_extract_all({a}, {b}, 0)")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_has_all(x, y): every element of y appears in x
            if w in ("list_has_all", "array_has_all") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                rargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(rargs) == 2:
                    a, b = (apply_shims(s2.strip()) for s2 in rargs)
                    out.append(sql[pos : t.start])
                    out.append(
                        f"forall({b}, __lha -> array_contains({a}, __lha))"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # interval (expr) unit: DuckDB's dynamic interval — Spark's
            # INTERVAL literal syntax only takes constants, so map each
            # unit to its make_interval slot (seconds accept decimals;
            # sub-second units scale into the seconds slot)
            if (
                w == "interval"
                and is_call
                and (close := _match_paren_tok(tokens, i + 1)) is not None
                and close + 1 < n
                and tokens[close + 1].kind == "word"
                and tokens[close + 1].lower.rstrip("s") in (
                    "year", "month", "week", "day", "hour", "minute",
                    "second", "millisecond", "microsecond",
                )
            ):
                e = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                unit = tokens[close + 1].lower.rstrip("s")
                slots = {
                    "year": "({e}), 0, 0, 0, 0, 0, 0",
                    "month": "0, ({e}), 0, 0, 0, 0, 0",
                    "week": "0, 0, ({e}), 0, 0, 0, 0",
                    "day": "0, 0, 0, ({e}), 0, 0, 0",
                    "hour": "0, 0, 0, 0, ({e}), 0, 0",
                    "minute": "0, 0, 0, 0, 0, ({e}), 0",
                    "second": "0, 0, 0, 0, 0, 0, ({e})",
                    "millisecond": "0, 0, 0, 0, 0, 0, ({e}) / 1000.0",
                    "microsecond": "0, 0, 0, 0, 0, 0, ({e}) / 1000000.0",
                }
                out.append(sql[pos : t.start])
                out.append(f"make_interval({slots[unit].format(e=e)})")
                pos = tokens[close + 1].end
                i = close + 2
                continue
            # date_part(['year','month'], d): list form returns a struct
            # of parts — expand a LITERAL list to named_struct
            if w in ("date_part", "datepart") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                dargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                lst = dargs[0].strip() if len(dargs) == 2 else ""
                # the bracket rewrite has already turned ['a','b'] into
                # array('a','b') by the time this branch sees it
                if lst.startswith("["):
                    lst = lst.strip("[]")
                elif re.fullmatch(r"(?is)array\s*\(.*\)", lst):
                    lst = lst[lst.index("(") + 1 : lst.rindex(")")]
                else:
                    lst = ""
                if lst:
                    parts = [
                        p.strip().strip("'\"") for p in lst.split(",") if p.strip()
                    ]
                    if parts and all(re.fullmatch(r"\w+", p) for p in parts):
                        d = apply_shims(dargs[1].strip())
                        # build via the engine's own scalar date_part shim
                        items = []
                        for p in parts:
                            items.append(
                                f"'{p}', " + apply_shims(f"date_part('{p}', {d})")
                            )
                        out.append(sql[pos : t.start])
                        out.append(f"named_struct({', '.join(items)})")
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # unnest(x, recursive := true): DuckDB flattens nested lists
            # completely before unnesting. Nesting depth is static in the
            # schema — flatten once per extra array<> level (hint-typed
            # columns exact; unhinted expressions assume one level, the
            # overwhelmingly common case)
            if w == "unnest" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                uargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(uargs) == 1:
                    # unnest(STRUCT) expands the struct's FIELDS into
                    # columns in DuckDB (one row); Spark's inline() over
                    # a one-element array is exactly that expansion
                    # (round-12 batch-9 find — explode() rejects structs)
                    ua = apply_shims(uargs[0], schema)
                    ht1 = _hint_type(schema, uargs[0].strip()) or ""
                    lt1 = _literal_type(ua)
                    if ht1.replace(" ", "").startswith("struct<") or (
                        isinstance(lt1, tuple) and lt1[0] == "struct"
                    ):
                        out.append(sql[pos : t.start])
                        out.append(f"inline(array({ua}))")
                        pos = tokens[close].end
                        i = close + 1
                        # DuckDB IGNORES a single alias here (the output
                        # columns keep the struct's field names — probed:
                        # `unnest({'a':1}) as c` yields column a); Spark's
                        # inline errors on an alias-count mismatch, so
                        # swallow an `AS word` that follows
                        if (
                            i + 1 < n
                            and tokens[i].kind == "word"
                            and tokens[i].lower == "as"
                            and tokens[i + 1].kind == "word"
                        ):
                            pos = tokens[i + 1].end
                            i += 2
                        continue
                if len(uargs) == 2 and re.match(
                    r"(?is)^\s*recursive\s*(:=|=>)\s*true\s*$", uargs[1]
                ):
                    x = apply_shims(uargs[0], schema)
                    depth = 2
                    ht = _hint_type(schema, uargs[0].strip())
                    if ht is not None:
                        depth = ht.count("array<")
                    # array<struct>: DuckDB's recursive unnest also
                    # expands the struct FIELDS into columns — Spark's
                    # inline() is exactly that generator
                    structy = (
                        "array<struct" in (ht or "").replace(" ", "")
                        or (ht is None and "named_struct(" in x)
                    )
                    if structy and ht is None:
                        depth = 1  # literal array-of-struct: no flatten
                    for _ in range(max(depth - 1, 0)):
                        x = f"flatten({x})"
                    out.append(sql[pos : t.start])
                    out.append(f"inline({x})" if structy else f"explode({x})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # corr: Spark's builtin divides by the stddev product and
            # ERRORS under ANSI when either side is constant; DuckDB
            # yields NULL — same moments, guarded denominator
            if w == "corr" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                cargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(cargs) == 2:
                    x2, y2 = (apply_shims(a, schema) for a in cargs)
                    out.append(sql[pos : t.start])
                    out.append(
                        f"(covar_pop({x2}, {y2}) / "
                        f"nullif(stddev_pop({x2}) * stddev_pop({y2}), 0))"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list(x) / array_agg(x): DuckDB KEEPS NULL elements; Spark's
            # collect_list drops them — collect structs (never null) and
            # extract. The ORDER BY forms are handled by the ordered-agg
            # rewrite below (already struct-based, already NULL-keeping).
            if w in ("list", "array_agg") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                la = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(la) == 1 and _split_order_by(la[0]) is None:
                    md = re.match(r"(?is)^\s*distinct\s+(.+)$", la[0])
                    x = apply_shims((md.group(1) if md else la[0]).strip(), schema)
                    # a following OVER must attach to the INNER
                    # collect_list — Spark rejects a window on the outer
                    # transform (round-10 batch 4: list(x) OVER w)
                    over_sh = ""
                    end_tok = close
                    if (
                        close + 2 < n
                        and tokens[close + 1].kind == "word"
                        and tokens[close + 1].lower == "over"
                        and tokens[close + 2].kind == "lparen"
                    ):
                        oc = _match_paren_tok(tokens, close + 2)
                        over_sh = " " + apply_shims(
                            sql[tokens[close + 1].start : tokens[oc].end],
                            schema,
                        )
                        end_tok = oc
                    base = (
                        f"transform(collect_list(named_struct('v', {x}))"
                        f"{over_sh}, __lv -> __lv.v)"
                    )
                    if md is not None:
                        # distinct keeps ONE null, like DuckDB
                        base = f"array_distinct({base})"
                    out.append(sql[pos : t.start])
                    out.append(base)
                    pos = tokens[end_tok].end
                    i = end_tok + 1
                    continue
            # setseed(x): DuckDB seeds its RNG and returns NULL; Spark
            # randomness is per-task seeded — accept as a NULL-returning
            # no-op (seeded determinism is a documented divergence)
            if w == "setseed" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                out.append(sql[pos : t.start])
                out.append("cast(null as string)")
                pos = tokens[close].end
                i = close + 1
                continue
            # age(a[, b]): timestamp difference as an interval (DuckDB's
            # calendar decomposition approximates to day-time here —
            # SURVEY 8.2 notes the divergence for month-boundary cases);
            # 1-arg form measures from current_timestamp
            if w == "age" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                aargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(aargs) in (1, 2):
                    parts = [apply_shims(x, schema) for x in aargs]
                    if len(parts) == 1:
                        lhs2, rhs2 = "current_timestamp", parts[0]
                    else:
                        lhs2, rhs2 = parts
                    out.append(sql[pos : t.start])
                    out.append(_age_expr(lhs2, rhs2))
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # epoch_ms is DUAL-direction in DuckDB: timestamp → ms, but an
            # INTEGER argument converts ms → timestamp
            if w == "epoch_ms" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                margs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(margs) == 1:
                    a1 = margs[0].strip()
                    ht1 = _hint_type(schema, a1) or ""
                    et1 = lex(a1)
                    is_int_arg = (
                        ht1 in ("int", "bigint", "smallint", "tinyint")
                        or (len(et1) == 1 and et1[0].kind == "number"
                            and "." not in et1[0].text)
                    )
                    if is_int_arg:
                        out.append(sql[pos : t.start])
                        out.append(
                            f"timestamp_millis(cast({apply_shims(a1, schema)} as bigint))"
                        )
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # element_at on a MAP yields DuckDB's singleton-or-empty LIST
            # (same contract as m[k]); list element_at passes through.
            # Skip our own generated guard (`array(element_at(…))` from
            # the bracket rewrite) — it is already list-shaped.
            if (
                w == "element_at" and is_call
                and not (
                    i >= 2
                    and tokens[i - 1].kind == "lparen"
                    and tokens[i - 2].kind == "word"
                    and tokens[i - 2].lower == "array"
                )
            ):
                close = _match_paren_tok(tokens, i + 1)
                eargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(eargs) == 2:
                    a1 = eargs[0].strip()
                    ht1 = _hint_type(schema, a1) or ""
                    if ht1.startswith("map<") or re.match(
                        r"(?is)^\s*(map|map_from_arrays|map_from_entries)\s*\(",
                        a1,
                    ):
                        m2 = apply_shims(a1, schema)
                        k2 = apply_shims(eargs[1], schema)
                        out.append(sql[pos : t.start])
                        out.append(
                            f"if(map_contains_key({m2}, {k2}), "
                            f"array(element_at({m2}, {k2})), array())"
                        )
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # json_extract family: DuckDB keeps JSON quoting on string
            # values (json_extract('…','$.a') = '"x"'); get_json_object
            # strips it — variant_get round-trips exactly. The *_string /
            # *_text forms stay unquoted. Pointer and bare-key paths
            # translate to $-paths.
            if w in (
                "json_extract", "json_extract_path",
                "json_extract_string", "json_extract_path_text",
            ) and is_call:
                close = _match_paren_tok(tokens, i + 1)
                jargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(jargs) == 2:
                    j2 = apply_shims(jargs[0], schema)
                    as_str = w in (
                        "json_extract_string", "json_extract_path_text",
                    )
                    rawp = jargs[1].strip()
                    # literal LIST of paths: element-wise extraction
                    # (json_extract(j, ['$.a','$.b']) — round-10 batch;
                    # the bracket pre-rewrite has already turned the
                    # list literal into array(…) at this stage)
                    lm = re.fullmatch(
                        r"(?is)(?:\[(.*)\]|array\s*\((.*)\))", rawp
                    )
                    paths = None
                    if lm is not None:
                        lm_body = lm.group(1) or lm.group(2) or ""
                        parts = [x.strip() for x in _split_args(lm_body)]
                        if parts and all(
                            p.startswith("'") and p.endswith("'")
                            for p in parts
                        ):
                            paths = parts
                    def _one_path(pth: str) -> str:
                        p2 = _json_path_literal(apply_shims(pth, schema))
                        sp = _variant_path_expr(j2, p2, as_str)
                        if sp is not None:
                            return sp
                        if as_str:
                            return f"get_json_object({j2}, {p2})"
                        # JSON null value → SQL NULL (fuzzer seed-777
                        # find); a json string "null" keeps its quotes,
                        # so the nullif is exact
                        return (
                            f"nullif(to_json(variant_get("
                            f"parse_json({j2}), {p2})), 'null')"
                        )
                    out.append(sql[pos : t.start])
                    if paths is not None:
                        out.append(
                            "array("
                            + ", ".join(_one_path(p) for p in paths)
                            + ")"
                        )
                    else:
                        out.append(_one_path(jargs[1]))
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # bar(x, min, max[, width=80]): DuckDB's unicode bar chart —
            # full blocks + an eighth-block remainder; a bar that rounds
            # to nothing renders as WIDTH spaces (oracle-probed, incl.
            # the below-min and above-max clamps)
            if w == "bar" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                bargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(bargs) in (3, 4):
                    x3, mn, mx = (apply_shims(a, schema) for a in bargs[:3])
                    wd = apply_shims(bargs[3], schema) if len(bargs) == 4 else "80"
                    v = (
                        f"least(greatest((({x3}) - ({mn})) / "
                        f"nullif(cast(({mx}) - ({mn}) as double), 0), 0), 1)"
                        f" * ({wd})"
                    )
                    barx = (
                        f"concat(repeat('█', cast(floor({v}) as int)), "
                        f"elt(cast(floor((({v}) - floor({v})) * 8) as int) + 1, "
                        f"'', '▏', '▎', '▍', '▌', '▋', '▊', '▉'))"
                    )
                    out.append(sql[pos : t.start])
                    out.append(
                        f"(case when ({x3}) is null then null "
                        f"when length({barx}) = 0 "
                        f"then repeat(' ', cast({wd} as int)) "
                        f"else {barx} end)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # left/right with NEGATIVE n: DuckDB drops |n| chars from the
            # other end (left('abc',-1)='ab'); Spark returns ''
            if w in ("left", "right") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                lr = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(lr) == 2:
                    s2 = apply_shims(lr[0], schema)
                    n2 = apply_shims(lr[1], schema)
                    if w == "left":
                        neg = f"substring({s2}, 1, greatest(length({s2}) + ({n2}), 0))"
                    else:
                        neg = f"substring({s2}, -({n2}) + 1)"
                    out.append(sql[pos : t.start])
                    out.append(
                        f"(case when ({n2}) < 0 then {neg} "
                        f"else {w}({s2}, {n2}) end)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # substring with start 0: DuckDB counts a [start, start+len)
            # character WINDOW (substring('hello',0,3)='he'); Spark
            # treats 0 like 1
            if w in ("substring", "substr") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                sa = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if (
                    len(sa) == 3
                    and _split_order_by(sa[-1]) is None
                    and not re.match(r"(?is)^\s*[1-9]", sa[1].strip())
                ):
                    s2, b2, n2 = (apply_shims(x, schema) for x in sa)
                    out.append(sql[pos : t.start])
                    out.append(
                        f"(case when ({b2}) = 0 then "
                        f"substring({s2}, 1, greatest(({n2}) - 1, 0)) "
                        f"else substring({s2}, {b2}, {n2}) end)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # concat() SKIPS NULL arguments in DuckDB (only the `||`
            # operator propagates them); Spark's concat propagates. List
            # arguments keep Spark's concat (array concatenation).
            if w == "concat" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                cargs = [
                    apply_shims(a, schema)
                    for a in _split_args(
                        sql[tokens[i + 1].end : tokens[close].start]
                    )
                ]
                if len(cargs) >= 2 and not any(
                    a.strip().lower().startswith("array(")
                    or (_hint_type(schema, a.strip()) or "").startswith("array<")
                    for a in cargs
                ):
                    inner = ", ".join(f"cast({a} as string)" for a in cargs)
                    out.append(sql[pos : t.start])
                    out.append(f"concat_ws('', {inner})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # split_part NULL contract (oracle-pinned): NULL string → '',
            # NULL delimiter → the whole string, NULL index → ''
            if w == "split_part" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                sargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(sargs) == 3:
                    s3, d3, n3 = (apply_shims(a, schema) for a in sargs)
                    out.append(sql[pos : t.start])
                    out.append(
                        f"(case when ({d3}) is null then coalesce({s3}, '') "
                        f"else coalesce(split_part({s3}, {d3}, {n3}), '') end)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # levenshtein: DuckDB measures UTF-8 BYTES (multi-byte chars
            # count per byte); Spark's builtin measures characters. ASCII
            # inputs take the JVM builtin (byte == char); anything else
            # falls to the byte-exact Arrow UDF (pyfuncs.levenshtein_bytes)
            if w == "levenshtein" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                largs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(largs) == 2:
                    a2 = apply_shims(largs[0], schema)
                    b2 = apply_shims(largs[1], schema)
                    ascii_re = "'^[\\\\x00-\\\\x7F]*$'"
                    out.append(sql[pos : t.start])
                    out.append(
                        f"(case when ({a2}) rlike {ascii_re} "
                        f"and ({b2}) rlike {ascii_re} "
                        f"then levenshtein({a2}, {b2}) "
                        f"else levenshtein_bytes({a2}, {b2}) end)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_distinct/array_distinct: DuckDB REMOVES NULLs entirely;
            # Spark's array_distinct keeps one — filter first
            if w in ("list_distinct", "array_distinct") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = apply_shims(
                    sql[tokens[i + 1].end : tokens[close].start], schema
                )
                out.append(sql[pos : t.start])
                out.append(
                    f"array_distinct(filter({inner}, __dn -> __dn is not null))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # date_trunc with day-or-coarser precision returns DATE in
            # DuckDB (Spark keeps the input type) — cast the result
            if w == "date_trunc" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                dargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                part = dargs[0].strip().strip("'\"").lower() if dargs else ""
                if len(dargs) == 2 and part in (
                    "day", "week", "month", "quarter", "year",
                    "decade", "century", "millennium",
                ):
                    inner = ", ".join(apply_shims(a, schema) for a in dargs)
                    out.append(sql[pos : t.start])
                    out.append(f"cast(date_trunc({inner}) as date)")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # mode(x) → mode(x, true): Spark's deterministic form (lowest
            # value wins ties). DuckDB's tie-break is scan order — not
            # reproducible in a distributed scan, so determinism is the
            # parity-preserving choice wherever the mode is unique
            if w == "mode" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                if len(_split_args(inner)) == 1 and inner.strip():
                    out.append(sql[pos : t.start])
                    out.append(f"mode({apply_shims(inner)}, true)")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # min(x, n) / max(x, n): DuckDB's top-n list aggregates —
            # n smallest (ascending) / n largest (descending), NULLs
            # skipped on both engines
            if w in ("min", "max") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args2 = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args2) == 2:
                    x = apply_shims(args2[0])
                    nn = apply_shims(args2[1])
                    body = (
                        f"slice(sort_array(collect_list({x})), 1, {nn})"
                        if w == "min"
                        else f"slice(sort_array(collect_list({x}), false), 1, {nn})"
                    )
                    out.append(sql[pos : t.start])
                    out.append(body)
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # arbitrary(x): DuckDB's any-row aggregate (bare form; the
            # ORDER BY form maps to min_by/max_by below)
            if w == "arbitrary" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                if _split_order_by(_split_args(inner)[-1]) is None:
                    out.append(sql[pos : t.start])
                    out.append(f"any_value({apply_shims(inner)})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # generate_subscripts(arr, 1): 1-based index series
            if w == "generate_subscripts" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                rargs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(rargs) == 2 and rargs[1].strip() == "1":
                    a = apply_shims(rargs[0].strip())
                    out.append(sql[pos : t.start])
                    out.append(f"explode(sequence(1, size({a})))")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # string_split/str_split/string_to_array: DuckDB splits on a
            # LITERAL delimiter; Spark's split() takes a regex, so '|'
            # would split between every char. Wrap the delimiter in Java
            # regex \Q…\E quoting (sessions run with
            # escapedStringLiterals=true, so the backslashes survive the
            # SQL parser verbatim). A delimiter containing '\E' would
            # terminate the quoting (ADVICE r5), so each embedded '\E'
            # is re-quoted as  \E \\E \Q  (close quote, escaped \ + E,
            # reopen). Empty delimiter splits per character in DuckDB;
            # '(?!$)' matches at every position except the end, which
            # reproduces that exactly (incl. '' -> ['']).
            if w in ("string_split", "str_split", "string_to_array") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    a, b = (apply_shims(x) for x in args)
                    out.append(sql[pos : t.start])
                    quoted = (
                        f"concat('\\Q', replace({b}, '\\E', '\\E\\\\E\\Q'), '\\E')"
                    )
                    out.append(
                        f"(case when ({b}) = '' then split({a}, '(?!$)') "
                        f"else split({a}, {quoted}) end)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # xor(a, b): bitwise xor function name → the ^ operator
            if w == "xor" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    a, b = (apply_shims(x) for x in args)
                    out.append(sql[pos : t.start])
                    out.append(f"(({a}) ^ ({b}))")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # even / signbit / list_select / list_where (DuckDB utility
            # functions with direct expression equivalents)
            if w == "even" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                # round away from zero to the next even integer
                out.append(
                    f"(sign(cast(({x}) as double)) "
                    f"* 2 * ceil(abs(cast(({x}) as double)) / 2))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            if w == "signbit" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                # string probe catches -0.0, which `< 0` cannot
                out.append(
                    f"startswith(cast(cast(({x}) as double) as string), '-')"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            if w in ("list_select", "array_select") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    l, idx = (apply_shims(a) for a in args)
                    out.append(sql[pos : t.start])
                    # try_element_at: out-of-range selectors yield NULL
                    # (DuckDB list_select([10,20,30],[1,5]) = [10, NULL]);
                    # plain element_at raises under ANSI
                    out.append(
                        f"transform({idx}, i -> "
                        f"try_element_at({l}, cast(i as int)))"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            if w in ("list_where", "array_where") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    l, mask = (apply_shims(a) for a in args)
                    out.append(sql[pos : t.start])
                    out.append(
                        f"transform(filter(zip_with({l}, {mask}, "
                        f"(v, m) -> struct(v, m)), s -> s.m), s -> s.v)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # to_days/to_hours/… interval constructors and
            # century/decade extracts (DuckDB names Spark lacks)
            if w in _TO_INTERVAL and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(_TO_INTERVAL[w].format(x=x))
                pos = tokens[close].end
                i = close + 1
                continue
            if w in ("century", "decade") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                if w == "century":
                    out.append(
                        f"cast(floor((year({x}) - 1) / 100) + 1 as bigint)"
                    )
                else:
                    out.append(f"cast(floor(year({x}) / 10) as bigint)")
                pos = tokens[close].end
                i = close + 1
                continue
            # json_valid(j) → variant parse probe; isinf/isfinite via
            # abs-compare (Spark has only isnan); 1-arg encode/decode get
            # DuckDB's implicit utf-8; regexp_split_to_table → generator
            if w == "json_valid" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(f"(try_parse_json({x}) is not null)")
                pos = tokens[close].end
                i = close + 1
                continue
            if w in ("isinf", "isfinite") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                if w == "isinf":
                    out.append(f"(abs(cast(({x}) as double)) = cast('inf' as double))")
                else:
                    out.append(
                        f"(not isnan(cast(({x}) as double)) "
                        f"and abs(cast(({x}) as double)) <> cast('inf' as double))"
                    )
                pos = tokens[close].end
                i = close + 1
                continue
            if w in ("encode", "decode") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 1:
                    x = apply_shims(args[0])
                    out.append(sql[pos : t.start])
                    out.append(f"{w}({x}, 'utf-8')")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            if w == "regexp_split_to_table" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    a, b = (apply_shims(x) for x in args)
                    out.append(sql[pos : t.start])
                    out.append(f"explode(split({a}, {b}))")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # mad(x): median absolute deviation — a nested-median, so like
            # entropy/histogram it computes from the collected group
            # (array-sort medians, continuous interpolation). Compat path,
            # not a 100 TB hot path.
            # EXECUTOR-MEMORY CEILING (mad / product / entropy / top-N
            # arg_min-arg_max family): these shims hold ONE GROUP's
            # collect_list on an executor — in-plan, never on the
            # driver. The bound is per-group cardinality, not table
            # size: 100 TB with bounded groups is fine; a 10 M-element
            # group is one ~80 MB in-task array (tests/
            # test_memory_ceilings.py proves 10 M completes exactly).
            # Groups approaching executor heap (≫100 M elements) will
            # fail the task with Spark's OOM diagnostics, not return a
            # silently wrong value.
            if w == "mad" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])

                def _arr_median(arr: str) -> str:
                    # div yields BIGINT; element_at's index must be INT
                    return (
                        f"(case when size({arr}) % 2 = 1 "
                        f"then element_at({arr}, cast((size({arr}) + 1) div 2 as int)) "
                        f"else (element_at({arr}, cast(size({arr}) div 2 as int)) "
                        f"+ element_at({arr}, cast(size({arr}) div 2 + 1 as int))) / 2.0 end)"
                    )

                # each intermediate (sorted group, its median, the sorted
                # deviations) is bound ONCE as a lambda variable via a
                # single-element transform — textual inlining would
                # re-evaluate the median per deviation element (the HOF
                # inlining trap, SURVEY §8.4)
                L = f"array_sort(collect_list(cast(({x}) as double)))"
                out.append(sql[pos : t.start])
                out.append(
                    f"element_at(transform(array({L}), l -> "
                    f"case when size(l) = 0 then cast(null as double) else "
                    f"element_at(transform(array({_arr_median('l')}), m -> "
                    f"element_at(transform(array(array_sort(transform(l, v -> abs(v - m)))), d -> "
                    f"{_arr_median('d')}), 1)), 1) end), 1)"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # bitstring_agg(x, lo, hi): '1'/'0' string with a bit per
            # integer in [lo, hi] present in the group (DuckDB's BIT repr)
            if w == "bitstring_agg" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 3:
                    x, lo, hi = (apply_shims(a) for a in args)
                    out.append(sql[pos : t.start])
                    out.append(
                        f"array_join(transform(sequence({lo}, {hi}), "
                        f"i -> if(array_contains(collect_set({x}), i), '1', '0')), '')"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_grade_up(x): 1-based argsort (ascending, stable ties) —
            # sort (value, position) structs, project the positions
            if w in ("list_grade_up", "array_grade_up", "grade_up") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(
                    f"transform(array_sort(arrays_zip({x}, "
                    f"sequence(1, size({x})))), s -> s['1'])"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # entropy(x): Shannon entropy (log2) of the value distribution.
            # H = (N·lnN − Σ_v c_v·ln c_v) / (N·ln2), computed from the
            # collected group — exact, JVM-side; NOT a 100 TB hot path
            # (collects the group per row-group), a dialect-compat shim.
            if w == "entropy" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                L = f"collect_list({x})"
                cnt = "size(filter({L}, v -> v <=> dv))".replace("{L}", L)
                out.append(sql[pos : t.start])
                out.append(
                    f"((size({L}) * ln(size({L})) - aggregate(array_distinct({L}), "
                    f"cast(0.0 as double), (acc, dv) -> acc + {cnt} * ln({cnt}))) "
                    f"/ (size({L}) * ln(2)))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # (TABLESAMPLE method(spec) and USING SAMPLE are handled by
            # _parse_sample_spec earlier in this loop)
            # two-arg trim family: DuckDB is (source, trim_chars) but Spark
            # is (trim_chars, source) — swap or the result is silently wrong
            if w in ("trim", "ltrim", "rtrim") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    out.append(sql[pos : t.start])
                    out.append(f"{w}({apply_shims(args[1])}, {apply_shims(args[0])})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # character-set jaccard / positional hamming (DuckDB string
            # similarity helpers) via array intrinsics
            if w in ("jaccard", "hamming", "mismatches") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    a = apply_shims(args[0])
                    b = apply_shims(args[1])
                    out.append(sql[pos : t.start])
                    if w == "jaccard":
                        out.append(
                            f"(cast(size(array_intersect(split({a}, ''), split({b}, ''))) as double)"
                            f" / size(array_union(split({a}, ''), split({b}, ''))))"
                        )
                    else:  # hamming / mismatches: count differing positions
                        out.append(
                            f"size(filter(zip_with(split({a}, ''), split({b}, ''),"
                            f" (x, y) -> x <> y), v -> v))"
                        )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_prepend(elem, list): DuckDB arg order is (elem, list);
            # Spark's array_prepend is (list, elem)
            if w == "list_prepend" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    out.append(sql[pos : t.start])
                    out.append(
                        f"array_prepend({apply_shims(args[1])}, {apply_shims(args[0])})"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # mod(a, b): NULL on zero divisor, like the % operator
            if w == "mod" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                margs = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(margs) == 2 and not re.match(
                    r"(?is)^\s*nullif\s*\(", margs[1]
                ):
                    a2, b2 = (apply_shims(x.strip(), schema) for x in margs)
                    out.append(sql[pos : t.start])
                    out.append(f"mod({a2}, nullif({b2}, 0))")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # fdiv/fmod: DuckDB floor division / remainder
            if w in ("fdiv", "fmod") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    a, b = (apply_shims(x.strip()) for x in args)
                    out.append(sql[pos : t.start])
                    # DuckDB returns DOUBLE from both (even for int args)
                    # and NULL on a zero divisor
                    if w == "fdiv":
                        out.append(
                            f"cast(floor(({a}) / nullif(({b}), 0)) as double)"
                        )
                    else:
                        # fmod is FLOORED modulo (sign of the divisor,
                        # probe: fmod(7,-3)=-2) while % / mod() truncate
                        out.append(
                            f"cast((((({a}) % nullif(({b}), 0)) + ({b})) "
                            f"% nullif(({b}), 0)) as double)"
                        )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # typeof: translate Spark's type spelling to DuckDB's
            if w == "typeof" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])

                def _ty_decode(expr: str) -> str:
                    return (
                        "decode(" + expr + ", "
                        "'int', 'INTEGER', 'bigint', 'BIGINT', 'smallint', 'SMALLINT', "
                        "'tinyint', 'TINYINT', 'string', 'VARCHAR', 'double', 'DOUBLE', "
                        "'float', 'FLOAT', 'boolean', 'BOOLEAN', 'date', 'DATE', "
                        "'timestamp', 'TIMESTAMP', 'binary', 'BLOB', "
                        "upper(" + expr + "))"
                    )

                out.append(sql[pos : t.start])
                # array<T> (any nesting depth) renders as DuckDB's
                # T[]…[]: strip every 'array<' wrapper with string
                # arithmetic instead of recursion — a recursive CASE
                # embeds O(2^depth) copies of the argument (round-11
                # review find #5); this form carries a constant number.
                # Only a SCALAR base takes the strip path (a nested map/
                # struct would lose its own angle brackets to the
                # replace); other types keep the upper() fallback.
                ty = f"typeof({x})"
                stripped = f"replace(replace({ty}, 'array<', ''), '>', '')"
                depth = f"((length({ty}) - length(replace({ty}, 'array<', ''))) div 6)"
                out.append(
                    f"case when {ty} like 'array<%' "
                    f"and {stripped} not like '%<%' then "
                    + _ty_decode(stripped)
                    + f" || repeat('[]', {depth}) else "
                    + _ty_decode(ty)
                    + " end"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # struct_extract(s, 'name') → (s).name;
            # struct_extract(s, k) with an integer literal — DuckDB's
            # only access form for UNNAMED structs (row()/list_zip
            # output) — → (s).colk, matching the positional col1..colN
            # names those shims emit (DuckDB errors on numeric extract
            # from a NAMED struct, so the mapping can't misfire on one)
            if w == "struct_extract" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    key = args[1].strip()
                    if re.fullmatch(r"\d+", key):
                        out.append(sql[pos : t.start])
                        out.append(f"({apply_shims(args[0])}).col{key}")
                        pos = tokens[close].end
                        i = close + 1
                        continue
                    name = key.strip("'\"")
                    if re.fullmatch(r"\w+", name):
                        out.append(sql[pos : t.start])
                        out.append(f"({apply_shims(args[0])}).{name}")
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # row(a, b, …): DuckDB's unnamed-struct constructor → Spark
            # named_struct with the positional col1..colN convention
            # (bare struct(a, b) would keep column NAMES for column
            # args, diverging from "unnamed")
            if w == "row" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                rargs = [
                    apply_shims(a)
                    for a in _split_args(
                        sql[tokens[i + 1].end : tokens[close].start]
                    )
                    if a.strip()
                ]
                if rargs:
                    fields = ", ".join(
                        f"'col{k + 1}', {a}" for k, a in enumerate(rargs)
                    )
                    out.append(sql[pos : t.start])
                    out.append(f"named_struct({fields})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # gcd/lcm: no Spark builtin — Euclid as a bounded fold
            if w in ("gcd", "lcm", "greatest_common_divisor", "least_common_multiple") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    a, b = (apply_shims(x.strip()) for x in args)
                    g = _gcd_sql(a, b)
                    if w in ("gcd", "greatest_common_divisor"):
                        repl = g
                    else:
                        # NULL gate first: `b = 0` is TRUE-able even when a
                        # is NULL, which would return 0 where DuckDB is NULL
                        repl = (
                            f"(case when ({a}) is null or ({b}) is null "
                            f"then cast(null as bigint) "
                            f"when ({a}) = 0 or ({b}) = 0 then cast(0 as bigint) "
                            f"else abs(cast(({a}) as bigint) div {g} "
                            f"* cast(({b}) as bigint)) end)"
                        )
                    out.append(sql[pos : t.start])
                    out.append(repl)
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # to_base(n, b) → conv from base 10
            if w == "to_base" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    out.append(sql[pos : t.start])
                    out.append(f"conv({apply_shims(args[0])}, 10, {apply_shims(args[1])})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # DuckDB map(keys_list, values_list) → map_from_arrays (DuckDB's
            # map only takes two lists; Spark's variadic form is untouched
            # because it never has exactly two array-typed args in DuckDB text)
            if w == "map" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    out.append(sql[pos : t.start])
                    out.append(
                        f"map_from_arrays({apply_shims(args[0])}, {apply_shims(args[1])})"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_sum/list_avg/... : direct spellings of the string-named
            # list_aggregate forms
            if w.startswith("list_") and w[5:] in _LIST_AGG_FORMS and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 1:
                    out.append(sql[pos : t.start])
                    out.append(_LIST_AGG_FORMS[w[5:]].format(x=apply_shims(args[0])))
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_sort(l [, 'ASC|DESC' [, 'NULLS FIRST|LAST']]) /
            # list_reverse_sort(l [, null_order]): DuckDB's default null
            # order is NULLS LAST for BOTH directions (container probe:
            # list_sort([3,1,NULL]) = [1,3,NULL], 'DESC' = [3,1,NULL]).
            # Spark: array_sort = asc nulls LAST, sort_array(x,true) =
            # asc nulls FIRST, sort_array(x,false) = desc nulls LAST —
            # the desc-nulls-first combo needs an explicit null split.
            if w in (
                "list_sort", "array_sort", "array_reverse_sort",
                "list_reverse_sort",
            ) and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                rev = w in ("array_reverse_sort", "list_reverse_sort")
                lam = any("->" in a for a in args[1:])
                if (rev or len(args) >= 2) and not lam:
                    direction = "desc" if rev else "asc"
                    null_order = "last"
                    for a in args[1:]:
                        s = a.strip().strip("'\"").lower()
                        if s in ("asc", "desc") and not rev:
                            direction = s
                        elif "nulls" in s:
                            null_order = "first" if "first" in s else "last"
                    l = apply_shims(args[0])
                    if direction == "asc" and null_order == "last":
                        repl = f"array_sort({l})"
                    elif direction == "asc":
                        repl = f"sort_array({l}, true)"
                    elif null_order == "last":
                        repl = f"sort_array({l}, false)"
                    else:
                        repl = (
                            f"concat(filter({l}, __ls -> __ls is null), "
                            f"sort_array(filter({l}, __ls -> __ls is not null)"
                            ", false))"
                        )
                    out.append(sql[pos : t.start])
                    out.append(repl)
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_reduce(l, λ): DuckDB seeds the fold with the FIRST element
            if w in ("list_reduce", "array_reduce", "reduce") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2 and "->" in args[1]:
                    l = apply_shims(args[0])
                    out.append(sql[pos : t.start])
                    out.append(
                        f"reduce(slice({l}, 2, greatest(size({l}) - 1, 0)), "
                        f"element_at({l}, 1), {args[1].strip()})"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_any_value(l): first non-null element
            if w in ("list_any_value", "array_any_value") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                l = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(f"element_at(filter({l}, v -> v is not null), 1)")
                pos = tokens[close].end
                i = close + 1
                continue
            # list_unique(l): DuckDB returns the COUNT of distinct
            # NON-NULL elements (probe: list_unique([1,1,2,null]) = 2 —
            # array_distinct alone keeps the null and over-counts)
            if w == "list_unique" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(
                    f"size(array_distinct(filter({x}, "
                    f"__lu -> __lu is not null)))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # list_aggregate(l, 'name'): DuckDB's string-named list
            # aggregation → Spark higher-order / array functions
            if w in ("list_aggregate", "array_aggregate", "list_aggr") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                name = args[1].strip().strip("'\"").lower() if len(args) == 2 else None
                if name in _LIST_AGG_FORMS:
                    lst = apply_shims(args[0])
                    out.append(sql[pos : t.start])
                    out.append(_LIST_AGG_FORMS[name].format(x=lst))
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # struct_pack(a := 1, b := x) → named_struct('a', 1, 'b', x)
            if w == "struct_pack" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                pairs = []
                ok = True
                for a in args:
                    m = re.match(r"(?s)^\s*(\w+)\s*:=\s*(.+)$", a)
                    if m is None:
                        ok = False
                        break
                    pairs.append(f"'{m.group(1)}', {apply_shims(m.group(2).strip())}")
                if ok and pairs:
                    out.append(sql[pos : t.start])
                    out.append("named_struct(" + ", ".join(pairs) + ")")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # date_add/date_sub(d, interval …): DuckDB overload; Spark's
            # date_add wants an integer day count → plain +/- arithmetic.
            # 3-arg date_sub('unit', a, b) counts COMPLETE units between a
            # and b (signed) — exactly Spark timestampdiff's semantics (no
            # boundary-truncation, unlike date_diff). SURVEY §8.2 "still
            # open" closed round 6.
            if w in ("date_add", "date_sub", "dateadd", "datesub") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if (
                    w in ("date_sub", "datesub")
                    and len(args) == 3
                    and args[0].strip().startswith("'")
                    and args[0].strip().endswith("'")
                ):
                    unit = args[0].strip()[1:-1].upper()
                    a = apply_shims(args[1])
                    b = apply_shims(args[2])
                    out.append(sql[pos : t.start])
                    out.append(f"timestampdiff({unit}, {a}, {b})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
                if len(args) == 2 and re.match(r"(?is)^\s*interval\b", args[1]):
                    op = "-" if w in ("date_sub", "datesub") else "+"
                    out.append(sql[pos : t.start])
                    out.append(f"({apply_shims(args[0])} {op} {args[1].strip()})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # single-arg numeric trunc(x): truncate toward zero (Spark's
            # trunc is date-only and needs 2 args)
            if w == "trunc" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 1:
                    x = apply_shims(args[0])
                    out.append(sql[pos : t.start])
                    out.append(f"(case when ({x}) >= 0 then floor({x}) else ceil({x}) end)")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # regexp_replace: DuckDB replaces the FIRST match unless the
            # 'g' option is given; Spark always replaces all. 'g' → plain
            # Spark; first-only → splice around regexp_instr, with the
            # replacement expanded by re-replacing the extracted match
            # (so \1 backrefs work). Other options (i/s/m/p) become inline
            # (?…) pattern prefixes on every regexp_* function.
            if w == "regexp_replace" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) in (3, 4):
                    fl = args[3].strip().strip("'\"").lower() if len(args) == 4 else ""
                    if len(args) == 3 or re.fullmatch(r"[gismp]*", fl):
                        s_, p_, r_ = (apply_shims(a) for a in args[:3])
                        p_ = _regex_opt_prefix(p_, fl)
                        r_ = _regex_replacement(r_)
                        if "g" in fl:
                            body = f"regexp_replace({s_}, {p_}, {r_})"
                        else:
                            body = (
                                f"(case when regexp_instr({s_}, {p_}) = 0 "
                                f"then {s_} else concat("
                                f"substring({s_}, 1, regexp_instr({s_}, {p_}) - 1), "
                                f"regexp_replace(regexp_extract({s_}, {p_}, 0), {p_}, {r_}), "
                                f"substring({s_}, regexp_instr({s_}, {p_}) "
                                f"+ length(regexp_extract({s_}, {p_}, 0)))) end)"
                            )
                        out.append(sql[pos : t.start])
                        out.append(body)
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # trailing options argument on the other regexp_* functions →
            # inline (?…) pattern prefix
            if w in ("regexp_matches", "regexp_full_match") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 3:
                    fl = args[2].strip().strip("'\"").lower()
                    if re.fullmatch(r"[gismp]*", fl):
                        s_, p_ = (apply_shims(a) for a in args[:2])
                        p_ = _regex_opt_prefix(p_, fl)
                        body = (
                            f"regexp_like({s_}, {p_})"
                            if w == "regexp_matches"
                            else apply_shims(f"regexp_full_match({s_}, {p_})")
                        )
                        out.append(sql[pos : t.start])
                        out.append(body)
                        pos = tokens[close].end
                        i = close + 1
                        continue
            if w in ("regexp_extract", "regexp_extract_all") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 4:
                    fl = args[3].strip().strip("'\"").lower()
                    if re.fullmatch(r"[gismp]*", fl):
                        s_, p_, g_ = (apply_shims(a) for a in args[:3])
                        p_ = _regex_opt_prefix(p_, fl)
                        out.append(sql[pos : t.start])
                        out.append(f"{w}({s_}, {p_}, {g_})")
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # regexp_extract(s, re, ['name', …]): named capture groups →
            # a struct (round-10 batch 3). RE2 spells them (?P<w>…), Java
            # (?<w>…). Literal pattern + literal name list only; patterns
            # mixing unnamed capturing groups stay loud (group numbering
            # would need a full regex parse).
            if w == "regexp_extract" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if (
                    len(args) == 3
                    and args[1].strip().startswith("'")
                    and args[1].strip().endswith("'")
                ):
                    a2 = apply_shims(args[2], schema).strip()
                    lm = re.fullmatch(r"(?is)array\s*\((.*)\)", a2)
                    names = None
                    if lm is not None:
                        parts = [x.strip() for x in _split_args(lm.group(1))]
                        if parts and all(
                            x.startswith("'") and x.endswith("'")
                            for x in parts
                        ):
                            names = [x[1:-1] for x in parts]
                    pat = args[1].strip()[1:-1]
                    named_groups = re.findall(r"\(\?P?<(\w+)>", pat)
                    plain_groups = re.findall(r"\((?!\?)", pat)
                    # the list names the OUTPUT fields POSITIONALLY for
                    # groups 1..n (probe-pinned: swapped names swap the
                    # FIELDS, not the values); mixed named+plain groups
                    # would need a real regex parse to number — loud
                    n_groups = (
                        len(named_groups)
                        if named_groups and not plain_groups
                        else (
                            len(plain_groups)
                            if plain_groups and not named_groups
                            else None
                        )
                    )
                    if (
                        names is not None
                        and n_groups is not None
                        and len(names) == n_groups
                    ):
                        jpat = pat.replace("(?P<", "(?<")
                        s_ = apply_shims(args[0], schema)
                        fields = ", ".join(
                            f"'{n}', regexp_extract({s_}, '{jpat}', {k + 1})"
                            for k, n in enumerate(names)
                        )
                        out.append(sql[pos : t.start])
                        out.append(f"named_struct({fields})")
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # regexp_extract(s, re): DuckDB returns the full match; Spark's
            # 2-arg form uses group 1 — make group 0 explicit
            if w == "regexp_extract" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 2:
                    out.append(sql[pos : t.start])
                    out.append(
                        "regexp_extract("
                        + ", ".join(apply_shims(a) for a in args)
                        + ", 0)"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # array_slice(l, a, b): DuckDB inclusive ends; Spark slice takes
            # (start, length)
            if w in ("array_slice", "list_slice") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 3:
                    l, a, b = (apply_shims(x) for x in args)
                    out.append(sql[pos : t.start])
                    a0 = args[0].strip()
                    a0t = lex(a0)
                    is_str = (len(a0t) == 1 and a0t[0].kind == "string") or (
                        (_hint_type(schema, a0) or "") == "string"
                    )
                    # DuckDB bounds: 1-based inclusive; NEGATIVE counts
                    # from the end (-1 = last); the upper end clamps to
                    # the length (probe batch 2: [2,-1] over 4 elems →
                    # [2..4], [2,99] → [2..4])
                    ln_of = f"length({l})" if is_str else f"size({l})"
                    lo = (
                        f"(case when ({a}) < 0 then greatest({ln_of} + ({a}) + 1, 1)"
                        f" else ({a}) end)"
                    )
                    hi = (
                        f"(case when ({b}) < 0 then {ln_of} + ({b}) + 1"
                        f" else least(({b}), {ln_of}) end)"
                    )
                    ln = f"greatest({hi} - {lo} + 1, 0)"
                    if is_str:
                        # DuckDB array_slice on VARCHAR = the bracket
                        # slice s[a:b] (inclusive character window)
                        out.append(f"substring({l}, {lo}, {ln})")
                    else:
                        out.append(f"slice({l}, {lo}, {ln})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # time_bucket(INTERVAL, ts): epoch-aligned truncation — valid
            # for intervals that divide a day (DuckDB's 2000-01-03 origin
            # is midnight-aligned, so the buckets coincide)
            if w == "time_bucket" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                secs = (
                    _interval_seconds(args[0]) if len(args) in (2, 3) else None
                )
                # 3-arg form: an interval OFFSET shifts the bucket origin
                # (round-10 batch 2; DuckDB also allows a timestamp
                # origin — that form stays loud)
                off = (
                    _interval_seconds(args[2])
                    if len(args) == 3 and secs is not None
                    else (0 if len(args) == 2 else None)
                )
                monb = (
                    _interval_months(args[0]) if len(args) == 2 else None
                )
                if secs is None and monb is not None:
                    # calendar-width buckets: months from the 2000-01-01
                    # origin, floored to the bucket width (probe-pinned:
                    # 3-month buckets land on Jan/Apr/Jul/Oct)
                    ts = apply_shims(args[1])
                    a1 = args[1].strip()
                    a1t = lex(a1)
                    body = (
                        f"add_months(date '2000-01-01', "
                        f"cast(floor(months_between(date_trunc('month', {ts}),"
                        f" date '2000-01-01') / {monb}) as int) * {monb})"
                    )
                    if not (
                        (_hint_type(schema, a1) == "date")
                        or (
                            len(a1t) == 2
                            and a1t[0].kind == "word"
                            and a1t[0].lower == "date"
                            and a1t[1].kind == "string"
                        )
                    ):
                        body = f"cast({body} as timestamp)"
                    out.append(sql[pos : t.start])
                    out.append(body)
                    pos = tokens[close].end
                    i = close + 1
                    continue
                # 3-arg TIMESTAMP/DATE origin (round-11 batch 8): buckets
                # align to the origin instead of the epoch
                off_sql = None
                if off is not None:
                    off_sql = str(off)
                elif len(args) == 3 and secs is not None:
                    off_sql = f"unix_timestamp({apply_shims(args[2])})"
                if (
                    secs is not None
                    and off_sql is not None
                    and (86400 % secs == 0 or secs % 86400 == 0)
                ):
                    ts = apply_shims(args[1])
                    a1 = args[1].strip()
                    body = (
                        f"timestamp_seconds(CAST(floor((unix_timestamp({ts})"
                        f" - ({off_sql})) / {secs}) AS BIGINT) * {secs}"
                        f" + ({off_sql}))"
                    )
                    # DATE input → DATE output (DuckDB keeps the type)
                    a1t = lex(a1)
                    if (_hint_type(schema, a1) == "date") or (
                        len(a1t) == 2
                        and a1t[0].kind == "word"
                        and a1t[0].lower == "date"
                        and a1t[1].kind == "string"
                    ):
                        body = f"cast({body} as date)"
                    out.append(sql[pos : t.start])
                    out.append(body)
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # make_timestamp(us) 1-arg form: epoch MICROseconds → TIMESTAMP
            # (the 6-arg calendar form passes through to Spark's own
            # make_timestamp; make_timestamptz is name-mapped here first)
            if w == "make_timestamp" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) == 1:
                    out.append(sql[pos : t.start])
                    out.append(f"timestamp_micros({apply_shims(args[0])})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # generate_series: inclusive bounds in DuckDB; as a table
            # function → derived table of exploded sequence, as a scalar →
            # Spark's (also inclusive) sequence
            if w == "generate_series" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                sh = [apply_shims(a) for a in args]
                # Inverted bounds are EMPTY in DuckDB; Spark's sequence
                # auto-reverses (probe: generate_series(5,1) = [] there,
                # [5..1] here) — guard. Interval-stepped series over DATE
                # bounds yield TIMESTAMPs in DuckDB — cast the bounds.
                if len(sh) == 1:
                    seq = f"if(({sh[0]}) < 0, array(), sequence(0, {sh[0]}))"
                elif len(sh) == 2:
                    seq = (
                        f"if(({sh[1]}) < ({sh[0]}), array(), "
                        f"sequence({sh[0]}, {sh[1]}))"
                    )
                elif len(sh) == 3 and "interval" in args[2].lower():
                    a0 = f"cast({sh[0]} as timestamp_ntz)"
                    a1 = f"cast({sh[1]} as timestamp_ntz)"
                    seq = f"sequence({a0}, {a1}, {sh[2]})"
                elif len(sh) == 3:
                    seq = (
                        f"if((({sh[2]}) > 0 and ({sh[1]}) < ({sh[0]})) or "
                        f"(({sh[2]}) < 0 and ({sh[1]}) > ({sh[0]})), array(), "
                        f"sequence({sh[0]}, {sh[1]}, {sh[2]}))"
                    )
                else:
                    seq = f"sequence({', '.join(sh)})"
                prev = tokens[i - 1] if i > 0 else None
                out.append(sql[pos : t.start])
                if prev is not None and prev.kind == "word" and prev.lower in ("from", "join"):
                    out.append(
                        f"(select explode({seq}) as generate_series)"
                    )
                else:
                    out.append(seq)
                pos = tokens[close].end
                i = close + 1
                continue
            # glob('pattern') table function: DuckDB lists matching files
            # as a one-column (file) relation. Driver-side local listing —
            # the result is a compile-time constant relation (matches
            # DuckDB, which also lists at bind time)
            if w == "glob" and is_call:
                prev = tokens[i - 1] if i > 0 else None
                if prev is not None and prev.kind == "word" and prev.lower in ("from", "join"):
                    close = _match_paren_tok(tokens, i + 1)
                    arg = sql[tokens[i + 1].end : tokens[close].start].strip()
                    if arg.startswith("'") and arg.endswith("'"):
                        import glob as _glob

                        pattern = arg[1:-1].replace("''", "'")
                        files = sorted(_glob.glob(pattern))
                        items = ", ".join(
                            "'" + f.replace("'", "''") + "'" for f in files
                        )
                        rel = (
                            f"(select explode(array({items})) as file)"
                            if files
                            else "(select cast(null as string) as file where false)"
                        )
                        out.append(sql[pos : t.start])
                        out.append(rel)
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # range(n)/range(a,b) are end-exclusive in DuckDB; Spark's
            # sequence is inclusive
            if w == "range" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if len(args) in (1, 2):
                    a0 = "0" if len(args) == 1 else apply_shims(args[0])
                    a1 = apply_shims(args[-1])
                    # b <= a is EMPTY in DuckDB (probe: range(0) = []);
                    # unguarded sequence(0, -1) would auto-reverse
                    seq = (
                        f"if(({a1}) <= ({a0}), array(), "
                        f"sequence({a0}, ({a1}) - 1))"
                    )
                    prev = tokens[i - 1] if i > 0 else None
                    out.append(sql[pos : t.start])
                    if prev is not None and prev.kind == "word" and prev.lower in ("from", "join"):
                        # table position: derived table named like DuckDB's
                        # range() TVF output column
                        out.append(f"(select explode({seq}) as range)")
                    else:
                        out.append(seq)
                    pos = tokens[close].end
                    i = close + 1
                    continue
                if len(args) == 3 and "interval" in args[2].lower():
                    # timestamp form: DuckDB range() is end-EXCLUSIVE while
                    # sequence() is inclusive — stop 1µs short of the bound
                    # (both engines are microsecond-granular)
                    a0, a1, a2 = (apply_shims(a) for a in args)
                    # DATE bounds yield TIMESTAMP rows in DuckDB
                    a0 = f"cast({a0} as timestamp_ntz)"
                    stop = f"cast({a1} as timestamp_ntz) - interval 1 microsecond"
                    prev = tokens[i - 1] if i > 0 else None
                    out.append(sql[pos : t.start])
                    if prev is not None and prev.kind == "word" and prev.lower in ("from", "join"):
                        out.append(
                            f"(select explode(sequence({a0}, {stop}, {a2})) as range)"
                        )
                    else:
                        out.append(f"sequence({a0}, {stop}, {a2})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
                if len(args) == 3:
                    # stepped numeric form (round-10 batch 5): exclusive
                    # end with either sign of step; equal/inverted bounds
                    # are EMPTY (duck: range(3,3,1) = [])
                    a0, a1, a2 = (apply_shims(a) for a in args)
                    stop = (
                        f"(({a1}) - (case when ({a2}) > 0 "
                        f"then 1 else -1 end))"
                    )
                    seq = (
                        f"if((({a2}) > 0 and ({a1}) <= ({a0})) or "
                        f"(({a2}) < 0 and ({a1}) >= ({a0})), array(), "
                        f"sequence({a0}, {stop}, {a2}))"
                    )
                    prev = tokens[i - 1] if i > 0 else None
                    out.append(sql[pos : t.start])
                    if prev is not None and prev.kind == "word" and prev.lower in ("from", "join"):
                        out.append(f"(select explode({seq}) as range)")
                    else:
                        out.append(seq)
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # dayofweek: DuckDB Sunday=0, Spark Sunday=1
            if w == "dayofweek" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                out.append(sql[pos : t.start])
                out.append(f"(dayofweek({apply_shims(inner)}) - 1)")
                pos = tokens[close].end
                i = close + 1
                continue
            # isfinite has no Spark builtin
            if w == "isfinite" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(
                    f"(NOT isnan({inner}) AND abs({inner}) <> CAST('Infinity' AS DOUBLE))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # format('{}-{}', …) → format_string('%s-%s', …)
            if w in ("format", "printf") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                if args and args[0].strip().startswith("'") and args[0].strip().endswith("'"):
                    fmt = args[0].strip()[1:-1]
                    if w == "format":
                        # fmt-style {} / {:spec} → printf specs. The fmt
                        # spec grammar ([fill][align][sign][0][width]
                        # [.prec][type]) needs translation, not a bare
                        # splice: '>N' right-align is printf's default
                        # width, '<N' is '-N' (probe: format('{:>6}','x')
                        # errored as Conversion '>')
                        fmt = fmt.replace("%", "%%").replace("{}", "%s")

                        def _fmt_spec(mo: "re.Match[str]") -> str:
                            spec = mo.group(1)
                            m2 = re.match(
                                r"^(?:(.)?([<>^]))?([+\- ]?)(#?)(0?)"
                                r"(\d*)(,?)(?:\.(\d+))?([a-zA-Z]?)$",
                                spec,
                            )
                            if not m2:
                                return "%" + spec
                            (fill, align, sign, _alt, zero, width, comma,
                             prec, typ) = m2.groups()
                            if fill not in (None, " ") or align == "^":
                                return "%" + spec  # unsupported fill/center
                            if comma and not typ:
                                typ = "d"  # fmt '{:,}' groups a decimal int
                            return (
                                "%"
                                + (sign or "")
                                + ("-" if align == "<" else "")
                                + (zero or "")
                                + (comma or "")
                                + (width or "")
                                + (("." + prec) if prec else "")
                                + (typ or "s")
                            )

                        fmt = re.sub(r"\{:([^}]*)\}", _fmt_spec, fmt)
                    rest = [apply_shims(a, schema) for a in args[1:]]
                    # positional spec→arg casts: java.util.Formatter
                    # rejects Spark DECIMAL for %f/%e/%g and needs
                    # integral types for %d/%x/%o (DuckDB casts freely)
                    specs = re.findall(r"%[-+ #0-9.,]*([a-zA-Z])", fmt)
                    fixed = []
                    for k, a in enumerate(rest):
                        conv = specs[k].lower() if k < len(specs) else "s"
                        if conv in ("f", "e", "g"):
                            fixed.append(f"cast({a} as double)")
                        elif conv in ("d", "x", "o"):
                            fixed.append(f"cast({a} as bigint)")
                        else:
                            fixed.append(a)
                    out.append(sql[pos : t.start])
                    out.append(
                        f"format_string('{fmt}'"
                        + "".join(", " + a for a in fixed)
                        + ")"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # Ordered aggregates: DuckDB puts ORDER BY inside the call.
            # string_agg family → WITHIN GROUP; first/last/any_value →
            # min_by/max_by; array_agg family → sorted struct collect.
            if w in _ORDERED_AGGS and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                args = _split_args(inner)
                ob = _split_order_by(args[-1]) if args else None
                # a trailing FILTER (WHERE p) cannot attach to the
                # struct-collect expansion — fold it into the collected
                # STRUCT (null structs drop; null VALUES with a true
                # predicate stay, matching DuckDB's null-keeping list())
                filt_pred, filt_end, filt_close_i = None, None, None
                if (
                    ob is not None
                    and close + 2 < n
                    and tokens[close + 1].kind == "word"
                    and tokens[close + 1].lower == "filter"
                    and tokens[close + 2].kind == "lparen"
                ):
                    fc = _match_paren_tok(tokens, close + 2)
                    filt_pred = re.sub(
                        r"(?is)^\s*where\b",
                        "",
                        sql[tokens[close + 2].end : tokens[fc].start],
                    ).strip()
                    filt_end = tokens[fc].end
                    filt_close_i = fc
                if ob is not None:
                    args[-1] = ob[0]
                    key, desc = _strip_direction(ob[1])
                    key = apply_shims(key)
                    shim_args = [apply_shims(a) for a in args if a.strip()]
                    repl = None
                    if w in ("string_agg", "listagg", "group_concat"):
                        direction = " DESC" if desc else ""
                        repl = (
                            f"string_agg({', '.join(shim_args)}) "
                            f"WITHIN GROUP (ORDER BY {key}{direction})"
                        )
                    elif w in ("first", "any_value", "arbitrary") and len(shim_args) == 1:
                        fn = "max_by" if desc else "min_by"
                        repl = f"{fn}({shim_args[0]}, {key})"
                    elif w == "last" and len(shim_args) == 1:
                        fn = "min_by" if desc else "max_by"
                        repl = f"{fn}({shim_args[0]}, {key})"
                    elif w in ("array_agg", "list", "collect_list") and len(shim_args) == 1:
                        m_d = re.match(r"(?is)^\s*distinct\s+(.+)$", shim_args[0])
                        if m_d is not None:
                            # DISTINCT + ORDER BY: legal when ordering by the
                            # collected expression itself → sorted collect_set
                            expr_txt = m_d.group(1).strip()
                            if expr_txt == key.strip():
                                base = f"array_sort(collect_set({expr_txt}))"
                                repl = f"reverse({base})" if desc else base
                        else:
                            # DuckDB sorts NULL keys LAST in BOTH
                            # directions (probe: list(x order by x
                            # desc) = [2, 1, NULL]); the asc path gets
                            # a null-flag struct field (false < true),
                            # desc a comparator lambda — a plain
                            # reverse() would surface null keys first
                            struct_e = (
                                f"named_struct('n', ({key}) is null,"
                                f" 'k', {key}, 'v', {shim_args[0]})"
                            )
                            if filt_pred:
                                struct_e = (
                                    f"case when ({apply_shims(filt_pred)})"
                                    f" then {struct_e} end"
                                )
                            if desc:
                                cmpf = (
                                    "(l, r) -> case"
                                    " when l.n and r.n then 0"
                                    " when l.n then 1"
                                    " when r.n then -1"
                                    " when l.k > r.k then -1"
                                    " when l.k < r.k then 1 else 0 end"
                                )
                                repl = (
                                    f"transform(array_sort(collect_list("
                                    f"{struct_e}), {cmpf}), s -> s.v)"
                                )
                            else:
                                repl = (
                                    "transform(array_sort(collect_list("
                                    f"{struct_e})), s -> s.v)"
                                )
                    if repl is not None:
                        consumed_filter = (
                            filt_pred is not None
                            and "collect_list" in repl
                        )
                        out.append(sql[pos : t.start])
                        out.append(repl)
                        if consumed_filter:
                            pos = filt_end
                            i = filt_close_i + 1
                        else:
                            pos = tokens[close].end
                            i = close + 1
                        continue
            # order-insensitive aggregates: drop a legal-but-inert in-call
            # ORDER BY (max(i ORDER BY x) ≡ max(i))
            if w in _ORDER_INSENSITIVE_AGGS and is_call:
                close = _match_paren_tok(tokens, i + 1)
                args = _split_args(sql[tokens[i + 1].end : tokens[close].start])
                ob = _split_order_by(args[-1]) if args else None
                if ob is not None:
                    args[-1] = ob[0]
                    out.append(sql[pos : t.start])
                    out.append(
                        f"{w}({', '.join(apply_shims(a) for a in args if a.strip())})"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_zip/array_zip: DuckDB (1.4.0) zips N lists into
            # UNNAMED structs (typeof = STRUCT(T, U)[]) accessed by
            # numeric index, treats a NULL list as empty (pads with
            # NULLs to the longest), and truncates to the shortest when
            # a trailing literal TRUE flag is given. Spark structs must
            # be named, so positional names col1..colN stand in for
            # "unnamed" (same convention as the row() shim; the numeric
            # struct_extract shim maps index k → .colk). arrays_zip
            # would name fields after input columns and null-propagate,
            # so: wrap each arg in an identity transform (forces
            # positional intermediate field names 0..N-1 AND lets
            # coalesce(…, array()) supply the NULL→empty semantics),
            # then rename via named_struct.
            if w in ("list_zip", "array_zip") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                zargs = [
                    apply_shims(a)
                    for a in _split_args(
                        sql[tokens[i + 1].end : tokens[close].start]
                    )
                    if a.strip()
                ]
                trunc = False
                if len(zargs) >= 2 and zargs[-1].strip().lower() in ("true", "false"):
                    trunc = zargs.pop().strip().lower() == "true"
                if zargs:
                    safe = [f"coalesce({a}, array())" for a in zargs]
                    wrapped = ", ".join(
                        f"transform({a}, __zx -> __zx)" for a in safe
                    )
                    fields = ", ".join(
                        f"'col{k + 1}', __zs.`{k}`" for k in range(len(safe))
                    )
                    zipped = (
                        f"transform(arrays_zip({wrapped}), "
                        f"__zs -> named_struct({fields}))"
                    )
                    if trunc:
                        sizes = ", ".join(f"size({a})" for a in safe)
                        zipped = f"slice({zipped}, 1, least({sizes}))"
                    out.append(sql[pos : t.start])
                    out.append(zipped)
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # list_reverse_sort(l): descending sort (the bare rename to
            # sort_array would default ascending)
            if w == "list_reverse_sort" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(f"sort_array({x}, false)")
                pos = tokens[close].end
                i = close + 1
                continue
            # histogram(x): value → count map, keys sorted (DuckDB shape);
            # computed from the collected group like entropy — compat path
            if w == "histogram" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                x = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                L = f"collect_list({x})"
                out.append(sql[pos : t.start])
                out.append(
                    f"map_from_entries(transform(array_sort(array_distinct({L})), "
                    f"dv -> struct(dv, size(filter({L}, v -> v <=> dv)))))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # skewness/kurtosis: DuckDB reports bias-corrected SAMPLE
            # statistics; Spark reports population — convert
            if w == "skewness" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                e = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(
                    f"(skewness({e}) * sqrt(count({e}) * (count({e}) - 1.0)) / (count({e}) - 2.0))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            if w == "kurtosis" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                e = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                cnt = f"count({e})"
                out.append(sql[pos : t.start])
                out.append(
                    f"((({cnt} - 1.0) / (({cnt} - 2.0) * ({cnt} - 3.0)))"
                    f" * (({cnt} + 1.0) * kurtosis({e}) + 6.0))"
                )
                pos = tokens[close].end
                i = close + 1
                continue
            # geomean: exp(avg(ln(x))) — defined for positive inputs only,
            # which is also DuckDB's domain
            if w in ("geomean", "geometric_mean") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                e = apply_shims(sql[tokens[i + 1].end : tokens[close].start])
                out.append(sql[pos : t.start])
                out.append(f"exp(avg(ln({e})))")
                pos = tokens[close].end
                i = close + 1
                continue
            # date_add('day', n, d) DuckDB-style is uncommon; DuckDB uses + INTERVAL.
            # bare SEMI/ANTI JOIN -> LEFT SEMI/ANTI JOIN
            if w in ("semi", "anti") and nxt is not None and nxt.kind == "word" and nxt.lower == "join":
                prev = tokens[i - 1] if i > 0 else None
                if prev is None or prev.kind != "word" or prev.lower not in ("left", "right"):
                    out.append(sql[pos : t.start])
                    out.append(f"LEFT {t.text}")
                    pos = t.end
                    i += 1
                    continue
            # len(list) → size; len(string) → length. DuckDB's len is
            # overloaded; pick by static type (lexical constructor heads or
            # the caller's schema hint), defaulting to string length.
            if w in ("len", "length") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                arg = sql[tokens[i + 1].end : tokens[close].start]
                # let the split word-count idiom below claim
                # len(string_split(x, 'lit')) first — it avoids the
                # array materialization entirely (previously only the
                # array_length spelling reached it; round-10 find)
                wc = re.match(
                    r"(?is)^\s*(?:string_split|str_split|string_to_array)"
                    r"\s*\(.*'\s*\)\s*$",
                    arg.strip(),
                )
                if _is_arrayish(arg, schema) and not wc:
                    out.append(sql[pos : t.start])
                    out.append(f"size({apply_shims(arg, schema)})")
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # len(string_split(x, 'lit')) — the word-count idiom — never
            # needs the array: count = (len(x) - len(x without delim))
            # / len(delim) + 1. Saves a per-row array materialization
            # (sf10 documents scan: 2.56 → 1.71 s measured); exact for
            # non-overlapping left-to-right splitting, which is what
            # split does. Literal non-empty delimiters only.
            if w in ("len", "length", "array_length") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                arg = sql[tokens[i + 1].end : tokens[close].start].strip()
                m_ws = re.match(
                    r"(?is)^(?:string_split|str_split|string_to_array)\s*\(",
                    arg,
                )
                if m_ws and arg.endswith(")"):
                    sp_args = _split_args(arg[m_ws.end() : -1])
                    if (
                        len(sp_args) == 2
                        and (d := sp_args[1].strip()).startswith("'")
                        and d.endswith("'")
                        and len(d[1:-1].replace("''", "'")) > 0
                    ):
                        x = apply_shims(sp_args[0], schema)
                        dl = len(d[1:-1].replace("''", "'"))
                        out.append(sql[pos : t.start])
                        if dl == 1:
                            out.append(
                                f"(length({x}) - length(replace({x}, {d})) + 1)"
                            )
                        else:
                            out.append(
                                f"(cast((length({x}) - length(replace({x}, {d})))"
                                f" div {dl} as int) + 1)"
                            )
                        pos = tokens[close].end
                        i = close + 1
                        continue
            # bin(<string>): DuckDB renders each BYTE of a VARCHAR as its
            # 8-bit binary form (bin('abc') = '011000010110001001100011');
            # Spark's bin() parses the operand as a number. Expand via
            # hex(): every hex digit is exactly 4 bits, so the byte order
            # and 8-bit grouping come out right for any UTF-8 input.
            if w in ("bin", "to_binary") and is_call:
                close = _match_paren_tok(tokens, i + 1)
                arg = sql[tokens[i + 1].end : tokens[close].start]
                at = lex(arg.strip())
                if (len(at) == 1 and at[0].kind == "string") or (
                    (_hint_type(schema, arg) or "") == "string"
                ):
                    x = apply_shims(arg, schema)
                    nib = ", ".join(
                        f"'{d}', '{v:04b}'" for d, v in zip("0123456789ABCDEF", range(16))
                    )
                    out.append(sql[pos : t.start])
                    out.append(
                        f"concat_ws('', transform(split(hex({x}), ''), "
                        f"__hx -> element_at(map({nib}), __hx)))"
                    )
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # extract(epoch|dow|isodow|weekday FROM x): units Spark lacks
            # or numbers differently (DuckDB Sunday=0; epoch = seconds)
            if w == "extract" and is_call:
                close = _match_paren_tok(tokens, i + 1)
                inner_txt = sql[tokens[i + 1].end : tokens[close].start]
                m = re.match(r"(?is)^\s*(\w+)\s+from\s+(.+)$", inner_txt)
                if m and m.group(1).lower() in _SPECIAL_EXTRACT_UNITS:
                    u = m.group(1).lower()
                    x = apply_shims(m.group(2).strip(), schema)
                    out.append(sql[pos : t.start])
                    out.append(_extract_unit_expr(u, x))
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # template rewrites (probe-driven batch — see _CALL_TEMPLATES)
            if is_call and w in _CALL_TEMPLATES:
                close = _match_paren_tok(tokens, i + 1)
                inner = sql[tokens[i + 1].end : tokens[close].start]
                rargs = (
                    [x for x in _split_args(inner)] if inner.strip() else []
                )
                repl = _CALL_TEMPLATES[w](
                    [apply_shims(x, schema) for x in rargs], rargs
                )
                if repl is not None:
                    out.append(sql[pos : t.start])
                    out.append(repl)
                    pos = tokens[close].end
                    i = close + 1
                    continue
            # plain renames
            if is_call and w in RENAME_MAP and RENAME_MAP[w] != w:
                out.append(sql[pos : t.start])
                out.append(RENAME_MAP[w])
                pos = t.end
                i += 1
                continue
        i += 1
    out.append(sql[pos:])
    return "".join(out)
