"""User lambda functions: registry + driver-side macro expansion.

The reference registers SQL lambdas into Spark's FunctionRegistry and
splices bodies at resolution time via a custom HigherOrderFunction
(reference: org/apache/spark/sql/qualityFunctions/LambdaFunctions.scala:66-170,
ReferenceFunctions.scala:211-337). Here the whole surface is a pure
text-expansion layer on the driver:

- ``name(args…)`` for a registered lambda inlines the body with the
  argument texts substituted for the parameters (this also subsumes the
  reference's FunNRewrite inlining optimisation,
  impl/extension/FunNRewrite.scala:24-40);
- overloads by arity are supported (``LambdaFunctions.scala:66-82``);
- partial application via placeholder args ``_()`` / ``_('DDL')`` /
  ``_('DDL', nullable)`` produces a Spark lambda literal
  ``(p, …) -> body`` usable inside higher-order functions
  (``LambdaFunctions.scala:183-201,318``);
- ``_lambda_(name)`` / ``_lambda_(name(_(), …))`` hands a registered
  lambda to Spark HOFs (``RuleRegistrationFunctions.scala:230-238``);
- ``callFun(lambdaExpr, args…)`` applies a lambda-literal expression
  (``LambdaFunctions.scala:235-245``).

Because expansion happens before Catalyst ever sees the text, lambdas
cost nothing at runtime and participate fully in whole-stage codegen
and subexpression elimination.
"""

from __future__ import annotations

import itertools
from typing import Dict, Iterable, List, Optional, Tuple

from ..expr import (
    drop_line_comments,
    is_lambda,
    parse_lambda,
    replace_calls,
    substitute_identifiers,
)
from ..model import LambdaFunction
from .macros import expand_builtin

_PLACEHOLDER = "_"
_fresh_counter = itertools.count()


class LambdaRegistry:
    """name(lower) × arity → (params, body)."""

    def __init__(self) -> None:
        self._fns: Dict[str, Dict[int, Tuple[List[str], str]]] = {}

    def register(self, fn: LambdaFunction) -> None:
        params, body = parse_lambda(drop_line_comments(fn.rule))
        self._fns.setdefault(fn.name.lower(), {})[len(params)] = (params, body)

    def register_all(self, fns: Iterable[LambdaFunction]) -> "LambdaRegistry":
        for fn in fns:
            self.register(fn)
        return self

    def lookup(self, name: str, arity: int) -> Optional[Tuple[List[str], str]]:
        overloads = self._fns.get(name.lower())
        if overloads is None:
            return None
        if arity in overloads:
            return overloads[arity]
        return None

    def has(self, name: str) -> bool:
        return name.lower() in self._fns

    def arities(self, name: str) -> List[int]:
        return sorted(self._fns.get(name.lower(), {}))


def _is_placeholder_call(arg: str) -> bool:
    s = arg.strip()
    if not s.startswith(_PLACEHOLDER):
        return False
    rest = s[len(_PLACEHOLDER):].strip()
    return rest.startswith("(") and rest.endswith(")")


def _expand_lambda_call(
    params: List[str], body: str, args: Tuple[str, ...]
) -> str:
    """Inline a lambda call; placeholder args become free lambda params."""
    mapping: Dict[str, str] = {}
    free_params: List[str] = []
    for p, a in zip(params, args):
        if _is_placeholder_call(a):
            fresh = f"_qp{next(_fresh_counter)}"
            free_params.append(fresh)
            mapping[p] = fresh
        else:
            mapping[p] = f"({a.strip()})"
    new_body = substitute_identifiers(body, mapping)
    if free_params:
        return f"({', '.join(free_params)}) -> ({new_body})"
    return f"({new_body})"


def _expand_call_fun(args: Tuple[str, ...]) -> str:
    """``callFun(f, a, b…)`` where ``f`` is (or expanded to) a lambda
    literal: apply it in place."""
    if not args:
        raise ValueError("callFun expects at least the function argument")
    target = args[0].strip()
    # strip one redundant paren layer: "( (a) -> body )"
    while (
        target.startswith("(")
        and target.endswith(")")
        and not is_lambda(target)
        and is_lambda(target[1:-1])
    ):
        target = target[1:-1].strip()
    if not is_lambda(target):
        raise ValueError(
            "callFun target is not a lambda literal after expansion; "
            f"lambda-valued runtime variables are not supported: {target!r}"
        )
    params, body = parse_lambda(target)
    call_args = args[1:]
    if len(params) != len(call_args):
        raise ValueError(
            f"callFun arity mismatch: lambda has {len(params)} params, "
            f"got {len(call_args)} arguments"
        )
    mapping = {p: f"({a.strip()})" for p, a in zip(params, call_args)}
    return f"({substitute_identifiers(body, mapping)})"


def expand_sql(
    sql: str,
    registry: Optional[LambdaRegistry] = None,
    max_depth: int = 64,
) -> str:
    """Expand builtin quality macros + registered lambdas in rule text.

    Before expansion, ``--`` comments are dropped (expansion wraps
    argument and body text in parentheses, which a line comment would
    swallow; lambda bodies lose theirs at registration), and encoded-id
    filter comparisons rewrite into pushdown-able long comparisons (the
    reference does the same with session-extension Catalyst rules —
    plans/pushdown.py)."""
    from ..plans.pushdown import rewrite_encoded_filters

    sql = rewrite_encoded_filters(drop_line_comments(sql))

    def expander(name: str, args: Tuple[str, ...]) -> Optional[str]:
        if name == "callfun":
            # defer until the target argument itself is fully expanded —
            # it may contain registered-lambda calls OR a _lambda_(name)
            # wrapper (bare names are identifiers, not calls, so the
            # registered-call scan alone would miss them)
            target = args[0].strip() if args else ""
            if registry is not None and _contains_registered_call(target, registry):
                return None
            if _contains_call(target, "_lambda_"):
                return None
            return _expand_call_fun(args)
        if name == "_lambda_":
            if len(args) != 1:
                raise ValueError("_lambda_ expects exactly 1 argument")
            inner = args[0].strip()
            if registry is not None and registry.has(inner):
                # bare name: wrap full-arity overload as a lambda literal
                arities = registry.arities(inner)
                if len(arities) != 1:
                    raise ValueError(
                        f"_lambda_({inner}) is ambiguous over arities {arities}"
                    )
                params, body = registry.lookup(inner, arities[0])  # type: ignore[misc]
                return f"(({', '.join(params)}) -> ({body}))"
            return f"({inner})"
        built = expand_builtin(name, args)
        if built is not None:
            return built
        if registry is not None:
            hit = registry.lookup(name, len(args))
            if hit is not None:
                params, body = hit
                return _expand_lambda_call(params, body, args)
        return None

    return replace_calls(sql, expander, max_depth=max_depth)


def _contains_registered_call(text: str, registry: LambdaRegistry) -> bool:
    from ..expr import find_calls, tokenize

    return bool(find_calls(tokenize(text), registry.has))


def _contains_call(text: str, fn_name: str) -> bool:
    from ..expr import find_calls, tokenize

    want = fn_name.lower()
    return bool(find_calls(tokenize(text), lambda n: n.lower() == want))
