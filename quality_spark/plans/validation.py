"""Static rule validation + missing-attribute graceful degradation.

Reference: impl/Validation.scala:130-200 (error taxonomy :16-128) and
impl/ReplaceWithIfMissingAttributesExpr.scala:25-131.

``validate`` collects *all* problems instead of failing on the first:
lambda-expansion errors (incl. self-recursion — the reference's SOE
check), parse errors, unresolved attributes/functions, and optional
empty-DataFrame dry-run errors.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Set, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..expr import tokenize, _next_code
from ..model import RuleSuite
from .compiler import _batch, expand_each, resolve

SQL_KEYWORDS = {
    "and", "or", "not", "in", "is", "null", "case", "when", "then", "else",
    "end", "true", "false", "between", "like", "rlike", "ilike", "div",
    "cast", "as", "distinct", "interval", "current_date", "current_timestamp",
    "from", "select", "where", "group", "by", "order", "asc", "desc",
}


@dataclass(frozen=True)
class ValidationIssue:
    kind: str  # lambdaError | parseError | missingAttribute | unknownFunction | typeError | dryRunError
    suite_id: Tuple[int, int]
    set_id: Tuple[int, int]
    rule_id: Tuple[int, int]
    message: str


def _first_line(msg: str) -> str:
    # Spark exception text often starts with a newline — strip before split
    # or the recorded message is empty.
    return msg.strip().split("\n")[0]


def _classify(msg: str) -> str:
    if "UNRESOLVED_COLUMN" in msg or "cannot be resolved" in msg.lower():
        return "missingAttribute"
    if "UNRESOLVED_ROUTINE" in msg or "Undefined function" in msg:
        return "unknownFunction"
    if "PARSE_SYNTAX_ERROR" in msg or "PARSE_EMPTY_STATEMENT" in msg or "ParseException" in msg:
        return "parseError"
    if "DATATYPE_MISMATCH" in msg or "CANNOT_CAST" in msg.upper():
        return "typeError"
    return "analysisError"


def validate(
    df_or_schema: Union[DataFrame, T.StructType],
    suite: RuleSuite,
    spark: Optional[SparkSession] = None,
    dry_run: bool = True,
    check_lookups: bool = True,
) -> List[ValidationIssue]:
    """Full static check of every rule against the target schema, as
    ONE batched analysis of all expanded rules (``compiler.resolve``).

    ``dry_run`` collects that projection over ``df.limit(0)``, rule by
    rule only when the collect raises. It never evaluates a rule: Spark
    replaces a projection over an empty relation with an empty relation,
    so ``1/0``, ``raise_error('x')`` or, under ANSI, ``CAST('xx' AS
    INT)`` give no dryRunError."""
    if isinstance(df_or_schema, DataFrame):
        df = df_or_schema
        spark = df.sparkSession
    else:
        if spark is None:
            raise ValueError("spark session required when validating a bare schema")
        df = spark.createDataFrame([], df_or_schema)

    empty = df.limit(0)
    issues: List[ValidationIssue] = []
    # lambda-definition errors are collected, not raised (the reference's
    # lambdaSyntaxError class) — bad definitions are dropped from the
    # registry so rules using them surface as unknownFunction instead.
    from ..functions.lambdas import LambdaRegistry

    reg = LambdaRegistry()
    for fn in suite.lambda_functions:
        try:
            reg.register(fn)
        except ValueError as e:
            issues.append(
                ValidationIssue(
                    "lambdaSyntaxError",
                    (suite.id.id, suite.id.version),
                    (0, 0),
                    (fn.id.id, fn.id.version),
                    f"lambda {fn.name!r}: {e}",
                )
            )
    # one issue slot per rule keeps the issues in rule order
    slots: List[Optional[ValidationIssue]] = []
    pending: List[Tuple[int, Tuple, str]] = []  # (slot, coords, expanded)
    for rs, r, expanded in expand_each(suite, reg):
        coords = (
            (suite.id.id, suite.id.version),
            (rs.id.id, rs.id.version),
            (r.id.id, r.id.version),
        )
        slots.append(None)
        if isinstance(expanded, RecursionError):
            slots[-1] = ValidationIssue("lambdaSOE", *coords, str(expanded))
        elif isinstance(expanded, ValueError):
            slots[-1] = ValidationIssue("lambdaError", *coords, str(expanded))
        elif isinstance(expanded, KeyError):
            # unregistered map/bloom lookups raise at macro expansion
            slots[-1] = ValidationIssue(
                "unknownLookup", *coords, _first_line(str(expanded).strip('"'))
            )
        else:
            pending.append((len(slots) - 1, coords, expanded))

    projection, resolved = resolve(empty, [s for _, _, s in pending])
    clean = []
    for (slot, coords, sql), res in zip(pending, resolved):
        if isinstance(res, Exception):
            msg = str(res)
            slots[slot] = ValidationIssue(_classify(msg), *coords, _first_line(msg))
        else:
            clean.append((slot, coords, sql))
    if dry_run and clean:
        try:
            if projection is None:
                projection = _batch(empty, [s for _, _, s in clean])
            projection.collect()
        except Exception:  # noqa: BLE001 - find the rules that raise
            for slot, coords, sql in clean:
                try:
                    empty.select(F.expr(sql).alias("_v")).collect()
                except Exception as e:  # noqa: BLE001
                    slots[slot] = ValidationIssue(
                        "dryRunError", *coords, _first_line(str(e))
                    )
    issues.extend(i for i in slots if i is not None)
    if check_lookups:
        issues.extend(validate_lookups(suite))
    return issues


def discover_lookup_ids(sql: str) -> Dict[str, Set[str]]:
    """Map and bloom ids referenced by an expression — the reference's
    lookup discovery (impl/util/LookupIdFunctionImpl.scala,
    impl/bloom/BloomFilterExpression.scala:24-65)."""
    from ..expr import replace_calls

    out: Dict[str, Set[str]] = {"maps": set(), "blooms": set()}

    def scan(name: str, args) -> Optional[str]:
        def lit(a: str) -> Optional[str]:
            a = a.strip()
            if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
                return a[1:-1]
            return None

        if name in ("map_lookup", "maplookup", "map_contains", "mapcontains") and args:
            v = lit(args[0])
            if v:
                out["maps"].add(v)
        if name in ("probability_in", "probabilityin") and len(args) == 2:
            v = lit(args[1])
            if v:
                out["blooms"].add(v)
        return None

    replace_calls(sql, scan, max_depth=1)
    return out


def validate_lookups(suite: RuleSuite) -> List[ValidationIssue]:
    """unknownMapId / unknownBloomId issues for lookups a rule references
    but nothing registered (reference: Validation error taxonomy)."""
    from ..sources.lookups import _BLOOM_REGISTRY, _MAP_REGISTRY

    issues: List[ValidationIssue] = []
    for rs in suite.rule_sets:
        for r in rs.rules:
            found = discover_lookup_ids(r.expression.rule)
            coords = (
                (suite.id.id, suite.id.version),
                (rs.id.id, rs.id.version),
                (r.id.id, r.id.version),
            )
            for m in sorted(found["maps"] - set(_MAP_REGISTRY)):
                issues.append(
                    ValidationIssue("unknownMapId", *coords, f"map {m!r} not registered")
                )
            for b in sorted(found["blooms"] - set(_BLOOM_REGISTRY)):
                issues.append(
                    ValidationIssue("unknownBloomId", *coords, f"bloom {b!r} not registered")
                )
    return issues


# ---------------------------------------------------------------------------
# attribute discovery + coalesce_if_attributes_missing rewrite
# ---------------------------------------------------------------------------


def expression_attributes(sql: str) -> Set[str]:
    """Bare column identifiers referenced by an expression (qualified
    tails and call names excluded) — the reference's VariablesLookup
    (impl/util/VariablesLookup.scala:25-100)."""
    tokens = tokenize(sql)
    out: Set[str] = set()
    lambda_params: Set[str] = set()
    for i, t in enumerate(tokens):
        # backquoted identifiers (`my col`) ARE column references —
        # invisible here, process_if_attribute_missing would treat
        # their columns as always-present and pick an alternative that
        # later fails analysis
        if t.kind == "bq":
            k = i - 1
            while k >= 0 and tokens[k].kind in ("ws", "comment"):
                k -= 1
            if k >= 0 and tokens[k].kind == "op" and tokens[k].text == ".":
                continue  # qualified tail: a.`my col`
            out.add(t.text.strip("`"))
            continue
        if t.kind != "ident" or t.text.lower() in SQL_KEYWORDS:
            continue
        k = i - 1
        while k >= 0 and tokens[k].kind in ("ws", "comment"):
            k -= 1
        if k >= 0 and tokens[k].kind == "op" and tokens[k].text == ".":
            continue
        j = _next_code(tokens, i + 1)
        if j < len(tokens) and tokens[j].kind == "op" and tokens[j].text == "(":
            continue
        # lambda parameters shadow columns everywhere in the expression
        # (conservative: no scope tracking; shadowing a real column name
        # in a lambda is pathological rule text)
        if (
            j + 1 < len(tokens)
            and tokens[j].kind == "op"
            and tokens[j].text == "-"
            and tokens[j + 1].kind == "op"
            and tokens[j + 1].text == ">"
        ):
            lambda_params.add(t.text)
            continue
        # '(x, y) -> …': idents inside parens followed by '->'
        if k >= 0 and tokens[k].kind == "op" and tokens[k].text in ("(", ","):
            # walk right past ', ident' sequence to see if ') ->' follows
            jj2 = i
            ok = False
            while jj2 < len(tokens):
                nt = _next_code(tokens, jj2 + 1)
                if nt >= len(tokens) or tokens[nt].kind != "op":
                    break
                if tokens[nt].text == ",":
                    jj2 = _next_code(tokens, nt + 1)
                    if jj2 >= len(tokens) or tokens[jj2].kind != "ident":
                        break
                    continue
                if tokens[nt].text == ")":
                    n2 = _next_code(tokens, nt + 1)
                    ok = (
                        n2 + 1 < len(tokens)
                        and tokens[n2].kind == "op"
                        and tokens[n2].text == "-"
                        and tokens[n2 + 1].kind == "op"
                        and tokens[n2 + 1].text == ">"
                    )
                    break
                break
            if ok:
                lambda_params.add(t.text)
                continue
        out.add(t.text)
    return out - lambda_params


def process_if_attribute_missing(
    suite: RuleSuite, columns: Sequence[str]
) -> RuleSuite:
    """Rewrite ``coalesce_if_attributes_missing(alt1, alt2, …)`` calls:
    the first alternative whose attributes all exist wins; none → NULL
    (or disabled_rule() for the ``_disable`` variant). Pure text/token
    pass on the driver (reference: ReplaceWithIfMissingAttributesExpr)."""
    from ..expr import drop_line_comments, replace_calls
    from ..model import ExpressionRule, Rule, RuleSet

    cols = {c.lower() for c in columns}

    def expander(name: str, args: Tuple[str, ...]) -> Optional[str]:
        if name not in (
            "coalesce_if_attributes_missing",
            "coalesceifattributesmissing",
            "coalesce_if_attributes_missing_disable",
            "coalesceifattributesmissingdisable",
        ):
            return None
        for alt in args:
            attrs = {a.lower() for a in expression_attributes(alt)}
            if attrs <= cols:
                return f"({alt})"
        return "-2" if "disable" in name else "NULL"

    def rewrite(rule: Rule) -> Rule:
        # comments go first: a `--` comment left inside the `(alt)` the
        # expander returns would swallow the closing parenthesis
        text = drop_line_comments(rule.expression.rule)
        new = replace_calls(text, expander)
        if new == text:
            return rule
        return Rule(rule.id, ExpressionRule(new), rule.run_on_pass)

    return RuleSuite(
        id=suite.id,
        rule_sets=tuple(
            RuleSet(rs.id, tuple(rewrite(r) for r in rs.rules))
            for rs in suite.rule_sets
        ),
        lambda_functions=suite.lambda_functions,
        probable_pass=suite.probable_pass,
    )
