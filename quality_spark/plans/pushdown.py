"""Filter rewrites that restore parquet pushdown for encoded-id
comparisons (reference: QualitySparkExtension's AsUUIDFilter /
IDBase64Filter optimizer rules, impl/extension/*.scala, tested by
ExtensionTest.scala).

``as_uuid(lower, higher) = '<uuid literal>'`` evaluated naively builds
the uuid STRING per row and compares — the parquet reader sees an
opaque expression and scans everything. The reference injects Catalyst
rules that rewrite such predicates into comparisons on the underlying
long columns, which ARE pushdown-able. This engine applies the same
rewrite driver-side where all rule text passes through
(``expand_sql``), covering:

- ``as_uuid(a, b) = 'uuid'`` / ``'uuid' = as_uuid(a, b)`` / ``<=>``
  -> ``((a) = <low64> AND (b) = <high64>)``
- ``as_uuid(a, b) IN ('u1', 'u2', ...)`` -> OR of the pairs

Scope is deliberately conservative: arguments must not contain
parentheses, commas, or quotes (i.e. plain columns / dotted fields —
the overwhelmingly common case); anything else is left untouched and
still evaluates correctly through the macro path, just without
pushdown. Ordering comparisons (<, >) are NOT rewritten: uuid-string
order is unsigned 128-bit order, which signed long comparisons do not
reproduce.
"""

from __future__ import annotations

import re
import uuid as uuidlib

_ARG = r"[^,()'\"]+"
_UUID = r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"

_EQ_RE = re.compile(
    rf"\bas_uuid\s*\(\s*({_ARG}?)\s*,\s*({_ARG}?)\s*\)\s*(=|==|<=>)\s*'({_UUID})'"
)
_EQ_REV_RE = re.compile(
    rf"'({_UUID})'\s*(=|==|<=>)\s*as_uuid\s*\(\s*({_ARG}?)\s*,\s*({_ARG}?)\s*\)"
)
_IN_RE = re.compile(
    rf"\bas_uuid\s*\(\s*({_ARG}?)\s*,\s*({_ARG}?)\s*\)\s+IN\s*"
    rf"\(\s*('({_UUID})'(\s*,\s*'{_UUID}')*)\s*\)",
    re.IGNORECASE,
)


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _uuid_longs(lit: str) -> tuple:
    u = uuidlib.UUID(lit)
    return _signed(u.int & ((1 << 64) - 1)), _signed(u.int >> 64)


def _pair_sql(
    lower_arg: str, higher_arg: str, lit: str, null_safe: bool = False
) -> str:
    lo, hi = _uuid_longs(lit)
    a, b = lower_arg.strip(), higher_arg.strip()
    if null_safe:
        # <=> source semantics: NULL input compares FALSE — the pair
        # form with <=> reproduces that exactly
        return f"(({a}) <=> {lo}L AND ({b}) <=> {hi}L)"
    return f"(({a}) = {lo}L AND ({b}) = {hi}L)"


def _null_guard(exprs) -> str:
    """Three-valued-logic repair term: OR-ing ``NULL AND (any-null)``
    onto the rewritten pairs restores NULL (instead of FALSE) exactly
    when the source comparison would be NULL — and Catalyst still
    pushes the equality pair to parquet (verified: PushedFilters is
    identical with and without this term)."""
    anynull = " OR ".join(f"({e.strip()}) IS NULL" for e in exprs)
    return f"(CAST(NULL AS BOOLEAN) AND ({anynull}))"


_B64 = r"[A-Za-z0-9+/]+={0,2}"
_B64_EQ_RE = re.compile(
    rf"\bid_base64\s*\(\s*({_ARG}?)\s*\)\s*(=|==|<=>)\s*'({_B64})'"
)
_B64_EQ_REV_RE = re.compile(
    rf"'({_B64})'\s*(=|==|<=>)\s*id_base64\s*\(\s*({_ARG}?)\s*\)"
)


def _id_struct_sql(arg: str, b64: str, op: str = "="):
    """Decode an id_base64 literal (big-endian base:int32 + payload
    longs) into per-field comparisons on the id struct — nested-field
    predicates push down to parquet (IDBase64Filter analogue). Returns
    None if the literal is not a well-formed id encoding."""
    import base64
    import struct as structlib

    try:
        raw = base64.b64decode(b64, validate=True)
    except Exception:
        return None
    if len(raw) < 12 or (len(raw) - 4) % 8 != 0:
        return None
    base = structlib.unpack(">i", raw[:4])[0]
    longs = structlib.unpack(f">{(len(raw) - 4) // 8}q", raw[4:])
    a = arg.strip()
    fields = [f"({a}).base"] + [f"({a}).i{i}" for i in range(len(longs))]
    if op == "<=>":
        # <=> source semantics: a NULL id compares FALSE, so the
        # per-field form must use <=> too — adding the NULL-repair
        # guard here would return NULL where the original returns
        # FALSE (e.g. under NOT(...) that silently flips row fate)
        parts = [f"({a}).base <=> {base}"] + [
            f"({a}).i{i} <=> {v}L" for i, v in enumerate(longs)
        ]
        return "(" + " AND ".join(parts) + ")"
    parts = [f"({a}).base = {base}"] + [
        f"({a}).i{i} = {v}L" for i, v in enumerate(longs)
    ]
    pair = "(" + " AND ".join(parts) + ")"
    # same three-valued repair as the uuid form: NULL source comparisons
    # stay NULL instead of collapsing to FALSE
    return f"({pair} OR {_null_guard(fields)})"


def _sub_outside_literals(regex: "re.Pattern", repl, sql: str) -> str:
    """``regex.sub(repl, sql)``, except that a match starting inside a
    string literal or a comment stays as it is: ``"as_uuid(a, b) =
    '…'"`` is text, not a comparison. The rule is tokenized only once
    a match is found, so text without one costs no tokenizing."""
    spans = None

    def guarded(m: "re.Match") -> str:
        nonlocal spans
        if spans is None:
            from ..expr import tokenize

            spans, at = [], 0
            for t in tokenize(sql):
                if t.kind in ("string", "comment"):
                    spans.append((at, at + len(t.text)))
                at += len(t.text)
        # strictly inside: a match may itself start with a literal
        # ('uuid' = as_uuid(…)), and no match starts a comment
        if any(a < m.start() < b for a, b in spans):
            return m.group(0)
        return repl(m)

    return regex.sub(guarded, sql)


def rewrite_encoded_filters(sql: str) -> str:
    """Apply the pushdown rewrites to one SQL text (idempotent). Text
    inside string literals and comments is left as it is."""

    def _eq_form(lower_arg: str, higher_arg: str, op: str, lit: str) -> str:
        if op == "<=>":
            return _pair_sql(lower_arg, higher_arg, lit, null_safe=True)
        pair = _pair_sql(lower_arg, higher_arg, lit)
        return f"({pair} OR {_null_guard([lower_arg, higher_arg])})"

    def eq(m: "re.Match") -> str:
        return _eq_form(m.group(1), m.group(2), m.group(3), m.group(4))

    def eq_rev(m: "re.Match") -> str:
        return _eq_form(m.group(3), m.group(4), m.group(2), m.group(1))

    def in_list(m: "re.Match") -> str:
        lower_arg, higher_arg = m.group(1), m.group(2)
        lits = re.findall(_UUID, m.group(3))
        ors = " OR ".join(_pair_sql(lower_arg, higher_arg, u) for u in lits)
        return f"({ors} OR {_null_guard([lower_arg, higher_arg])})"

    def b64_eq(m: "re.Match") -> str:
        got = _id_struct_sql(m.group(1), m.group(3), m.group(2))
        return got if got is not None else m.group(0)

    def b64_eq_rev(m: "re.Match") -> str:
        got = _id_struct_sql(m.group(3), m.group(1), m.group(2))
        return got if got is not None else m.group(0)

    out = sql
    for regex, repl in (
        (_IN_RE, in_list), (_EQ_RE, eq), (_EQ_REV_RE, eq_rev),
        (_B64_EQ_RE, b64_eq), (_B64_EQ_REV_RE, b64_eq_rev),
    ):
        out = _sub_outside_literals(regex, repl, out)
    return out
