"""Minimal SQL-text tokenizer and rewrite utilities.

The engine treats rule logic as SQL *text*; before handing it to Spark's
parser via ``F.expr`` we run a driver-side macro-expansion pass (builtin
quality functions + user lambda functions). Since no SQL-parsing library
is assumed, this module implements a small, dependable tokenizer that
understands strings, backquoted identifiers, comments, and nesting —
enough to find call sites ``name(arg, …)``, split top-level arguments,
and substitute identifiers.

This replaces what the reference does with Spark's FunctionRegistry +
custom HigherOrderFunction splicing
(reference: org/apache/spark/sql/qualityFunctions/LambdaFunctions.scala:84-170);
doing it as driver-side text expansion means Catalyst sees plain,
fully-inlined expressions (subexpression elimination and codegen apply
with no custom expressions at all).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Sequence, Tuple

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# suffix covers every Spark typed numeric literal: D/F/L plus S/Y
# (smallint/tinyint) and BD (decimal) — a suffix left outside the
# number token would tokenize as a separate identifier that
# substitute_identifiers could rewrite as a lambda parameter
_NUM_RE = re.compile(
    r"(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?(?:[bB][dD]|[dDlLfFsSyY])?"
)


@dataclass(frozen=True)
class Token:
    kind: str  # 'ident' | 'number' | 'string' | 'bq' | 'op' | 'ws' | 'comment'
    text: str


def tokenize(sql: str) -> List[Token]:
    """Tokenize SQL text; lossless (``''.join(t.text) == sql``)."""
    out: List[Token] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            out.append(Token("ws", sql[i:j]))
            i = j
        elif c == "-" and sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j
            out.append(Token("comment", sql[i:j]))
            i = j
        elif c == "/" and sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(Token("comment", sql[i:j]))
            i = j
        elif c in ("'", '"'):
            # string literal with backslash and doubled-quote escapes
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            out.append(Token("string", sql[i:j]))
            i = j
        elif c == "`":
            j = sql.find("`", i + 1)
            j = n if j < 0 else j + 1
            out.append(Token("bq", sql[i:j]))
            i = j
        elif c.isdigit() or (c == "." and i + 1 < n and sql[i + 1].isdigit()):
            m = _NUM_RE.match(sql, i)
            assert m is not None
            out.append(Token("number", m.group(0)))
            i = m.end()
        elif c.isalpha() or c == "_":
            m = _IDENT_RE.match(sql, i)
            assert m is not None
            out.append(Token("ident", m.group(0)))
            i = m.end()
        else:
            out.append(Token("op", c))
            i += 1
    return out


def untokenize(tokens: Sequence[Token]) -> str:
    return "".join(t.text for t in tokens)


def drop_line_comments(sql: str) -> str:
    """``sql`` without its ``--`` comments (the newline that ends one
    stays). Expansion wraps text in ``(...)``; a line comment kept
    inside would swallow the closing parenthesis."""
    if "--" not in sql:
        return sql
    return "".join(
        t.text for t in tokenize(sql)
        if not (t.kind == "comment" and t.text.startswith("--"))
    )


def strip_number_suffixes(sql: str) -> str:
    """``sql`` with Spark's typed-literal suffixes (``0.0D``, ``42L``,
    ``2S``, ``3Y``, ``1.5BD`` ...) dropped from its number tokens: the
    form DuckDB parses. String literals, identifiers and comments keep
    their text."""
    return "".join(
        t.text.rstrip("bBdDfFlLsSyY") if t.kind == "number" else t.text
        for t in tokenize(sql)
    )


def _next_code(tokens: Sequence[Token], i: int) -> int:
    """Index of next non-ws/comment token at/after ``i``, or len."""
    n = len(tokens)
    while i < n and tokens[i].kind in ("ws", "comment"):
        i += 1
    return i


def _matching_paren(tokens: Sequence[Token], open_i: int) -> int:
    """Given index of '(' token, return index of its matching ')'."""
    depth = 0
    for j in range(open_i, len(tokens)):
        t = tokens[j]
        if t.kind == "op":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
                if depth == 0:
                    return j
    raise ValueError("unbalanced parentheses in SQL text")


def split_top_level(tokens: Sequence[Token], sep: str = ",") -> List[List[Token]]:
    """Split a token run on top-level ``sep`` (not inside parens)."""
    parts: List[List[Token]] = [[]]
    depth = 0
    for t in tokens:
        if t.kind == "op":
            if t.text == "(":
                depth += 1
            elif t.text == ")":
                depth -= 1
            elif t.text == sep and depth == 0:
                parts.append([])
                continue
        parts[-1].append(t)
    return parts


@dataclass(frozen=True)
class CallSite:
    name: str
    name_index: int  # token index of the function name
    open_index: int  # token index of '('
    close_index: int  # token index of ')'
    args: Tuple[str, ...]  # argument SQL texts, stripped


def find_calls(tokens: Sequence[Token], names: Callable[[str], bool]) -> List[CallSite]:
    """All call sites ``name(…)`` where ``names(name.lower())`` is true.

    Qualified references (``a.name(…)``) are skipped — those are field
    or method accesses, not registered functions.
    """
    out: List[CallSite] = []
    for i, t in enumerate(tokens):
        if t.kind != "ident" or not names(t.text.lower()):
            continue
        # skip qualified: previous non-ws token is '.'
        k = i - 1
        while k >= 0 and tokens[k].kind in ("ws", "comment"):
            k -= 1
        if k >= 0 and tokens[k].kind == "op" and tokens[k].text == ".":
            continue
        j = _next_code(tokens, i + 1)
        if j >= len(tokens) or tokens[j].kind != "op" or tokens[j].text != "(":
            continue
        close = _matching_paren(tokens, j)
        inner = list(tokens[j + 1 : close])
        if all(tk.kind in ("ws", "comment") for tk in inner):
            args: Tuple[str, ...] = ()
        else:
            args = tuple(untokenize(p).strip() for p in split_top_level(inner))
        out.append(CallSite(t.text, i, j, close, args))
    return out


def replace_calls(
    sql: str,
    expander: Callable[[str, Tuple[str, ...]], Optional[str]],
    max_depth: int = 64,
) -> str:
    """Repeatedly replace call sites with expander output until fixpoint.

    ``expander(name_lower, args)`` returns replacement SQL or ``None``
    to leave the call untouched. Expansion is outermost-first per pass,
    then the pass repeats — bounded by ``max_depth`` to catch
    self-recursive lambdas (the reference's SOE detection,
    impl/Validation.scala:16-128).
    """
    current = sql
    for _ in range(max_depth):
        tokens = tokenize(current)
        calls = find_calls(tokens, lambda _n: True)
        # outermost-first: pick non-overlapping call sites left to right
        replaced = False
        pieces: List[str] = []
        pos = 0
        consumed_until = -1
        # prefix-sum offsets once per pass — the per-site sum() form
        # was O(call_sites x tokens), quadratic on big generated rules
        offsets = [0]
        for t in tokens:
            offsets.append(offsets[-1] + len(t.text))
        for c in calls:
            if c.name_index <= consumed_until:
                continue
            repl = expander(c.name.lower(), c.args)
            if repl is None:
                continue
            start_off = offsets[c.name_index]
            end_off = offsets[c.close_index + 1]
            pieces.append(current[pos:start_off])
            pieces.append(repl)
            pos = end_off
            consumed_until = c.close_index
            replaced = True
        pieces.append(current[pos:])
        current = "".join(pieces)
        if not replaced:
            return current
    raise RecursionError(
        f"macro/lambda expansion did not terminate after {max_depth} passes; "
        f"likely a self-recursive lambda: {sql[:200]!r}"
    )


def quote_identifier(name: str) -> str:
    """``name`` as SQL identifier text: always backquoted, inner
    backquotes doubled. A plain identifier is quoted too, since it may
    be a keyword or a literal (``case``, ``null``) to the parser."""
    return "`" + name.replace("`", "``") + "`"


def substitute_identifiers(sql: str, mapping: Dict[str, str]) -> str:
    """Replace bare identifiers by SQL text (used for lambda parameter
    substitution). Case-insensitive; skips qualified tails (``x.a``
    keeps ``a``), function-call names, and strings/backquoted refs.
    """
    lower_map = {k.lower(): v for k, v in mapping.items()}
    tokens = tokenize(sql)
    out: List[str] = []
    for i, t in enumerate(tokens):
        if t.kind == "ident" and t.text.lower() in lower_map:
            # not a qualified tail
            k = i - 1
            while k >= 0 and tokens[k].kind in ("ws", "comment"):
                k -= 1
            if k >= 0 and tokens[k].kind == "op" and tokens[k].text == ".":
                out.append(t.text)
                continue
            # not a call name
            j = _next_code(tokens, i + 1)
            if j < len(tokens) and tokens[j].kind == "op" and tokens[j].text == "(":
                out.append(t.text)
                continue
            out.append(lower_map[t.text.lower()])
        else:
            out.append(t.text)
    return "".join(out)


def parse_lambda(text: str) -> Tuple[List[str], str]:
    """Parse ``(a, b) -> body`` / ``a -> body`` / ``() -> body`` into
    (params, body). Raises ValueError if not a lambda."""
    tokens = tokenize(text)
    i = _next_code(tokens, 0)
    if i >= len(tokens):
        raise ValueError(f"empty lambda text: {text!r}")
    params: List[str] = []
    if tokens[i].kind == "op" and tokens[i].text == "(":
        close = _matching_paren(tokens, i)
        inner = tokens[i + 1 : close]
        parts = [] if all(t.kind in ("ws", "comment") for t in inner) else split_top_level(inner)
        for part in parts:
            names = [t for t in part if t.kind == "ident"]
            if len(names) != 1 or any(t.kind not in ("ws", "comment", "ident") for t in part):
                # not a simple parameter list → not a lambda header
                raise ValueError(f"not a lambda parameter list: {text!r}")
            params.append(names[0].text)
        j = _next_code(tokens, close + 1)
    elif tokens[i].kind == "ident":
        params = [tokens[i].text]
        j = _next_code(tokens, i + 1)
    else:
        raise ValueError(f"not a lambda: {text!r}")
    # expect '->'
    if (
        j + 1 < len(tokens)
        and tokens[j].kind == "op"
        and tokens[j].text == "-"
        and tokens[j + 1].kind == "op"
        and tokens[j + 1].text == ">"
    ):
        body = untokenize(tokens[j + 2 :]).strip()
        if not body:
            raise ValueError(f"lambda with empty body: {text!r}")
        return params, body
    raise ValueError(f"not a lambda (missing '->'): {text!r}")


def is_lambda(text: str) -> bool:
    try:
        parse_lambda(text)
        return True
    except ValueError:
        return False


def sql_of_column(c) -> str:
    """SQL text of a pyspark Column (or passthrough for str) — the ONE
    canonical Column->SQL bridge (formerly duplicated in four modules).
    Uses the JVM expression's .sql() when available; falls back to
    parsing the "Column<\'expr\'>" repr (the only form Spark Connect
    exposes)."""
    from pyspark.sql import Column

    if not isinstance(c, Column):
        return str(c)
    try:
        return c._jc.expr().sql()  # type: ignore[attr-defined]
    except Exception:
        s = str(c)
        if s.startswith("Column<'") and s.endswith("'>"):
            return s[len("Column<'") : -2]
        return s
