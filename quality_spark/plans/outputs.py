"""Output-expression parsing for the rule engine and folder runners.

Reference semantics (Rule.scala:35-69): an output expression is one of
1. a plain expression (rule engine result),
2. a one-argument lambda ``currentResult -> newStruct`` (folder),
3. ``set(field = expr, …)`` sugar — rewritten to an updateField lambda
   (impl/RuleImpl.scala:318-340).

Here ``set`` is expanded at compile time into a struct rebuild against
the known accumulator schema, so Catalyst sees only named_struct /
field references.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Sequence, Tuple, Union

from pyspark.sql import types as T

from ..expr import (
    Token,
    _matching_paren,
    _next_code,
    is_lambda,
    parse_lambda,
    split_top_level,
    substitute_identifiers,
    tokenize,
    untokenize,
)

CURRENT_RESULT = "currentResult"


@dataclass(frozen=True)
class PlainOutput:
    sql: str


@dataclass(frozen=True)
class LambdaOutput:
    param: str
    body: str


@dataclass(frozen=True)
class SetOutput:
    assignments: Tuple[Tuple[str, str], ...]  # (dotted.path, value sql)


Output = Union[PlainOutput, LambdaOutput, SetOutput]


def _try_parse_set(text: str) -> Optional[SetOutput]:
    tokens = tokenize(text)
    i = _next_code(tokens, 0)
    if i >= len(tokens) or tokens[i].kind != "ident" or tokens[i].text.lower() != "set":
        return None
    j = _next_code(tokens, i + 1)
    if j >= len(tokens) or tokens[j].kind != "op" or tokens[j].text != "(":
        return None
    close = _matching_paren(tokens, j)
    if _next_code(tokens, close + 1) < len(tokens):
        return None  # trailing content — not a pure set(...) expression
    assignments: List[Tuple[str, str]] = []
    for part in split_top_level(tokens[j + 1 : close]):
        split = _split_assignment(part)
        if split is None:
            return None  # reference falls back to treating it as a plain expr
        assignments.append(split)
    return SetOutput(tuple(assignments))


def _split_assignment(part: Sequence[Token]) -> Optional[Tuple[str, str]]:
    """Split ``path.to.field = expr`` on the first top-level single '='."""
    depth = 0
    for idx, t in enumerate(part):
        if t.kind != "op":
            continue
        if t.text == "(":
            depth += 1
        elif t.text == ")":
            depth -= 1
        elif t.text == "=" and depth == 0:
            prev = part[idx - 1] if idx > 0 else None
            nxt = part[idx + 1] if idx + 1 < len(part) else None
            if prev is not None and prev.kind == "op" and prev.text in ("<", ">", "!", "="):
                continue
            if nxt is not None and nxt.kind == "op" and nxt.text == "=":
                continue
            path = untokenize(part[:idx]).strip()
            value = untokenize(part[idx + 1 :]).strip()
            if not path or not value:
                return None
            # path must be a dotted identifier chain
            for seg in path.split("."):
                if not seg.strip().replace("`", "").isidentifier():
                    return None
            return (path.replace("`", "").strip(), value)
    return None


def parse_output(text: str) -> Output:
    s = _try_parse_set(text)
    if s is not None:
        return s
    if is_lambda(text):
        params, body = parse_lambda(text)
        if len(params) == 1:
            return LambdaOutput(params[0], body)
    return PlainOutput(text)


def set_to_struct_sql(
    assignments: Sequence[Tuple[str, str]],
    acc_sql: str,
    schema: T.StructType,
) -> str:
    """Rebuild a struct with the given dotted paths replaced — the
    compile-time equivalent of chained updateField calls. Value SQL may
    reference ``currentResult`` (replaced by ``acc_sql``)."""
    # group assignments by head segment
    direct: dict[str, str] = {}
    nested: dict[str, List[Tuple[str, str]]] = {}
    for path, value in assignments:
        head, _, rest = path.partition(".")
        if rest:
            nested.setdefault(head, []).append((rest, value))
        else:
            direct[head] = value

    known = {f.name for f in schema.fields}
    for name in list(direct) + list(nested):
        if name not in known:
            raise ValueError(
                f"set() assigns unknown field {name!r}; struct has {sorted(known)}"
            )

    parts: List[str] = []
    for f in schema.fields:
        if f.name in direct:
            value_sql = substitute_identifiers(direct[f.name], {CURRENT_RESULT: acc_sql})
            parts.append(f"'{f.name}', ({value_sql})")
        elif f.name in nested:
            if not isinstance(f.dataType, T.StructType):
                raise ValueError(f"set() nested path into non-struct field {f.name!r}")
            inner = set_to_struct_sql(
                nested[f.name], f"({acc_sql}).{f.name}", f.dataType
            )
            parts.append(f"'{f.name}', {inner}")
        else:
            parts.append(f"'{f.name}', ({acc_sql}).{f.name}")
    return f"named_struct({', '.join(parts)})"


def output_step_sql(out: Output, acc_sql: str, schema: T.StructType) -> str:
    """SQL producing the new accumulator value from ``acc_sql``."""
    if isinstance(out, SetOutput):
        return set_to_struct_sql(out.assignments, acc_sql, schema)
    if isinstance(out, LambdaOutput):
        return f"({substitute_identifiers(out.body, {out.param: acc_sql})})"
    return f"({out.sql})"
