"""Row-at-a-time / small-batch rule evaluation outside a cluster — the
engine's answer to the reference's "sparkless" processors
(sparkless/Processor.scala:13-42, sparkless/ProcessFunctions.scala:57-491),
which compile rule suites to run in plain JVM services with no Spark
context.

A PySpark engine cannot drop the Spark runtime entirely (rule text IS
Spark SQL), so the nearest idiom is compiling the suite ONCE against a
declared schema and evaluating incoming batches through a reusable
local plan:

* the suite compiles to encoded per-rule SQL a single time
  (``RowProcessor.__init__``), not per batch, through the same compile
  path as every Spark runner (``plans/compiler.py:CompiledSuite``);
* ``process`` ships a batch into a local-relation plan and selects the
  staged runner over it (``operators/runner.py:_add_staged``) — no
  shuffle, no job scheduling beyond one collect. Spark still analyses
  and optimizes that plan on every call, but the plan is linear in the
  number of rules (a 200-row call takes about 0.6-0.9 s at 30 rules
  and 2 s at 150 rules on 4 cores);
* throughput intent mirrors the reference's MutableProjection path:
  amortize compile, stream rows.

For genuinely Spark-free scoring, export the suite with
``to_rule_suite_df``/docs and evaluate the (ANSI) SQL rules in the
service's own engine — the expressions are plain SQL by design.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Optional, Sequence, Union

from pyspark.sql import Row, SparkSession
from pyspark.sql import types as T

from .model import RuleSuite
from .operators.runner import _add_dq
from .plans.compiler import CompiledSuite

__all__ = ["RowProcessor", "DuckDBProcessor", "dq_factory"]

def _parse_scalar_ddl(schema: str) -> list:
    """[(name, normalized_type)] from a Spark-style scalar DDL string
    ("x double, s string", optional ``name: type`` colon form,
    backtick-quoted names with spaces, ``decimal(p,s)`` kept
    verbatim). No SparkSession required. Non-scalar types parse into a
    type token the caller rejects with a clear error."""
    fields, depth, cur = [], 0, ""
    for ch in schema:
        if ch == "," and depth == 0:
            fields.append(cur)
            cur = ""
        else:
            depth += ch in "(<"
            depth -= ch in ")>"
            cur += ch
    fields.append(cur)
    out = []
    for f in fields:
        f = f.strip()
        if not f:
            continue
        if f.startswith("`"):
            end = f.find("`", 1)
            if end < 0:
                raise ValueError(f"unterminated backtick in DDL field {f!r}")
            name, rest = f[1:end], f[end + 1 :].lstrip()
            rest = rest[1:] if rest.startswith(":") else rest
        else:
            # name ends at the first colon or whitespace OUTSIDE any
            # bracket (a struct<a:int> colon must not split the field)
            cut = next(
                (i for i, ch in enumerate(f) if ch in ": \t" ), None
            )
            if cut is None:
                raise ValueError(f"cannot parse DDL field {f!r}")
            name, rest = f[:cut], f[cut + 1 :]
        typ = rest.strip().lower().replace(" ", "")
        if not name or not typ:
            raise ValueError(f"cannot parse DDL field {f!r}")
        out.append((name, typ))
    return out


class RowProcessor:
    """Reusable evaluator: ``process(rows) -> [Row(...input, DQ=...)]``."""

    def __init__(
        self,
        spark: SparkSession,
        suite: RuleSuite,
        schema: Union[str, T.StructType],
        name: str = "DQ",
    ) -> None:
        self.spark = spark
        self.schema = (
            T._parse_datatype_string(schema) if isinstance(schema, str) else schema
        )
        self.name = name
        self.suite = suite
        probe = spark.createDataFrame([], self.schema)
        # type and encode once, not per batch
        self._enc_sqls = CompiledSuite(suite).encode(probe)

    def process(self, rows: Iterable[Union[Mapping, Sequence]]) -> List[Row]:
        batch = self.spark.createDataFrame(list(rows), self.schema)
        return _add_dq(batch, self.suite, self._enc_sqls, self.name).collect()

    def process_one(self, row: Union[Mapping, Sequence]) -> Row:
        return self.process([row])[0]


def dq_factory(
    spark: SparkSession, suite: RuleSuite, schema: Union[str, T.StructType]
) -> RowProcessor:
    """Factory naming matches the reference entry point
    (sparkless/ProcessFunctions.scala:57)."""
    return RowProcessor(spark, suite, schema)


class DuckDBProcessor:
    """TRULY Spark-free rule evaluation: the suite compiles once to
    DuckDB SQL and batches score through DuckDB's vectorized engine —
    no JVM, no SparkSession, embeddable in any Python service. This is
    the closest Python analogue of the reference's sparkless
    MutableProjection path (sparkless/Processor.scala:13-42): compile
    once, stream batches. The suite compiles through the Spark runners'
    compile path (``plans/compiler.py:CompiledSuite.encode_duckdb``):
    all rules are typed in one ``LIMIT 0`` statement, each DuckDB type
    maps to its Spark type and goes through the Spark runner's own
    encoder and fold
    (``results.encode_rule_sql`` / ``overall_result_sql``, dialect
    ``"duckdb"``), so both engines give the same integers.

    Scope: the dialect-portable subset of rule SQL (comparisons,
    arithmetic, CASE, IN, string/math functions, expanded lambdas).
    Rules using Spark-only functions fail at COMPILE time with the
    offending rule named (only then is each rule bound alone) — same
    contract as the reference's sparkless, which also rejects
    non-compilable expressions.

    Throughput: DuckDB parallelizes per ~122k-row morsel, so batches
    below that run single-threaded — feed LARGE batches for service
    throughput (measured: 780 generated rules score 0.31 ms/row on a
    10k batch but 0.059 ms/row on a 600k batch, vs the reference
    MutableProjection's published 0.1 ms/row —
    ProcessorThroughputBenchmark.scala:26; numbers in SCALE.md).
    Per-call overhead (register, parse, bind and plan the scoring
    SELECT) grows with the suite: a one-row call takes about 0.15 s at
    150 rules and 0.35 s at 264 rules (4 cores). It would take 1.1-2.3 s
    with DuckDB's ``in_clause`` optimizer on, which turns every IN-list
    of more than a few values into a hash join against a constant
    table, one join per such list in every call's plan; the
    processor's connection disables it (SCALE.md has the numbers).
    """

    def __init__(
        self,
        suite: RuleSuite,
        sample_row: Optional[Mapping] = None,
        schema: Optional[str] = None,
    ) -> None:
        """``schema`` (a Spark DDL string, e.g. "x double, s string")
        is the robust way to declare input types; ``sample_row`` probes
        from one concrete row and REQUIRES every value non-null — a
        None value would make DuckDB infer the wrong column type and
        silently select the wrong result encoding."""
        import duckdb

        from .results import overall_result_sql
        from .model import pack_id

        if (sample_row is None) == (schema is None):
            raise ValueError(
                "pass exactly one of sample_row (all values non-null) "
                "or schema (Spark DDL string)"
            )
        self.suite = suite
        self._con = duckdb.connect()
        self._con.execute("SET disabled_optimizers = 'in_clause'")
        # the rules are typed against a schema-shaped empty relation
        if schema is not None:
            _DUCK = {
                "boolean": "BOOLEAN", "byte": "TINYINT", "tinyint": "TINYINT",
                "short": "SMALLINT", "smallint": "SMALLINT",
                "int": "INTEGER", "integer": "INTEGER", "long": "BIGINT",
                "bigint": "BIGINT", "float": "FLOAT", "real": "FLOAT",
                "double": "DOUBLE",
                "string": "VARCHAR", "date": "DATE", "timestamp": "TIMESTAMP",
                "timestamp_ntz": "TIMESTAMP", "binary": "BLOB",
            }
            fields = []
            declared_casts = []
            # self-contained scalar-DDL parse — pyspark's
            # _parse_datatype_string needs an ACTIVE SparkContext in
            # Spark 4, which would silently break the whole point of
            # this processor (genuinely Spark-free scoring)
            for name, s in _parse_scalar_ddl(schema):
                duck_t = (
                    s.upper() if s.startswith("decimal") else _DUCK.get(s)
                )
                if duck_t is None:
                    raise ValueError(
                        f"column {name!r}: type {s!r} not supported in "
                        f"sparkless scope (scalar types only)"
                    )
                fields.append(f'CAST(NULL AS {duck_t}) AS "{name}"')
                declared_casts.append((name, duck_t))
            self._con.execute(
                f"CREATE VIEW __qs_probe AS SELECT {', '.join(fields)} WHERE 1=0"
            )
        else:
            import pandas as pd

            declared_casts = None
            nulls = [k for k, v in sample_row.items() if v is None]
            if nulls:
                raise ValueError(
                    f"sample_row values for {nulls} are None — DuckDB "
                    f"would mis-infer their types; pass schema=... instead"
                )
            probe_df = pd.DataFrame([sample_row])
            self._con.register("__qs_probe", probe_df)
        encoded = CompiledSuite(suite).encode_duckdb(self._con, "__qs_probe")
        self._rules = [
            (pack_id(rs.id), pack_id(r.id), enc)
            for rs, encs in zip(suite.rule_sets, encoded)
            for r, enc in zip(rs.rules, encs)
        ]
        self._suite_id = pack_id(suite.id)

        per_set: Dict[int, List[int]] = {}
        for i, (sid, _, _) in enumerate(self._rules):
            per_set.setdefault(sid, []).append(i)
        pp = suite.probable_pass
        # two-level select: the INNER level computes each encoded rule
        # exactly once, over the batch columns only, under the alias
        # __qs_r_<i>; the OUTER level reads only those aliases, folds
        # them and re-exports them under the documented r_<i> names.
        # Inlining the enc text into every fold repeated each rule's SQL
        # ~7x (and each enc already repeats the raw rule ~4x in its CASE
        # arms). Aliases are QUOTED: pack_id is signed, so a negative
        # set id would otherwise emit `AS s_-N` — a parser error.
        inner_select = ", ".join(
            f"({enc}) AS __qs_r_{i}" for i, (_, _, enc) in enumerate(self._rules)
        )
        refs = [f"__qs_r_{i}" for i in range(len(self._rules))]
        outer = [f"{ref} AS r_{i}" for i, ref in enumerate(refs)]
        outer += [
            f'{overall_result_sql([refs[i] for i in idxs], pp, "duckdb")} AS "s_{sid}"'
            for sid, idxs in per_set.items()
        ]
        outer.append(f"{overall_result_sql(refs, pp, 'duckdb')} AS overall")
        self._set_ids = list(per_set)
        # in schema mode the DECLARED types also govern execution: the
        # batch is cast column-by-column before the rules run, so an
        # all-null (object-dtype) pandas column cannot make DuckDB
        # re-infer a different type than the one the rules compiled
        # against
        batch = "__qs_batch_raw"
        if declared_casts is not None:
            casts = ", ".join(
                f'CAST("{c}" AS {t}) AS "{c}"' for c, t in declared_casts
            )
            batch = f"(SELECT {casts} FROM __qs_batch_raw)"
        self._sql = (
            f"SELECT {', '.join(outer)} FROM "
            f"(SELECT {inner_select} FROM {batch})"
        )

    def process_pandas(self, pdf) -> "object":
        """Score a pandas batch → pandas frame of flat int columns
        (``r_<i>``, ``s_<setId>``, ``overall``), row-aligned with the
        input. The heavy path: one vectorized DuckDB projection, bound
        once per call.

        A frame with pandas extension dtypes goes in as an Arrow table:
        DuckDB's pandas scan reads a NULL in a masked ``Float64`` column
        as 0.0."""
        import pandas as pd

        if any(pd.api.types.is_extension_array_dtype(t) for t in pdf.dtypes):
            import pyarrow as pa

            pdf = pa.Table.from_pandas(pdf, preserve_index=False)
        self._con.register("__qs_batch_raw", pdf)
        return self._con.execute(self._sql).fetchdf()

    def process(self, rows: Iterable[Mapping]) -> List[Dict]:
        """Score dict rows → nested RuleSuiteResult dicts (same shape
        as the Spark runner's DQ struct ``asDict(True)``)."""
        import pandas as pd

        rows = list(rows)
        if not rows:
            return []
        flat = self.process_pandas(pd.DataFrame(rows))
        out: List[Dict] = []
        for i in range(len(flat)):
            row = flat.iloc[i]
            set_results = {
                sid: {"overallResult": int(row[f"s_{sid}"]), "ruleResults": {}}
                for sid in self._set_ids
            }
            for j, (sid, rid, _) in enumerate(self._rules):
                set_results[sid]["ruleResults"][rid] = int(row[f"r_{j}"])
            out.append(
                {
                    "id": self._suite_id,
                    "overallResult": int(row["overall"]),
                    "ruleSetResults": set_results,
                }
            )
        return out

    def process_one(self, row: Mapping) -> Dict:
        return self.process([row])[0]
