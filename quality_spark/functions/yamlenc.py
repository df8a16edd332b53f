"""``to_yaml`` / ``from_yaml`` — YAML rendering of arbitrary columns.

Reference: impl/yaml/YamlEncoderExpr.scala:24-259 (encode) and
impl/yaml/YamlDecoderExpr.scala:20-195 (decode), where a custom
expression walks InternalRows with snakeyaml.  Here the type-aware
halves stay JVM-side — ``to_json`` / ``from_json`` handle the Spark
type system, codegen, and nullability — and Python only re-serializes
between JSON and YAML text through an Arrow-vectorized pandas UDF
(string -> string, no per-row Python objects besides the parsed doc).

Fidelity vs the reference: ``to_yaml`` renders dates/timestamps/
decimals/binary in their JSON string/number forms (untagged), not the
reference's native nodes. ``from_yaml`` is type-directed and accepts
BOTH conventions: ``!!binary`` nodes, YAML-native date/datetime
scalars, AND the reference's internal-integer encodings (timestamps as
epoch-micros INT, dates as epoch-days INT —
YamlEncoderExpr.scala:86-92) decode correctly against binary/
timestamp/date target types, so reference-written YAML round-trips.
"""

from __future__ import annotations

import json
from typing import Optional, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

ColumnOrName = Union[Column, str]

_WRAP = "__v"


def _col(c: ColumnOrName) -> Column:
    return c if isinstance(c, Column) else F.col(c)


@pandas_udf(T.StringType())
def _json_to_yaml(s):  # type: ignore[no-untyped-def]
    import pandas as pd
    import yaml

    def conv(x):
        if x is None:
            return None
        # a NULL input value serializes as '{}' (to_json drops null
        # struct fields); the when() around the UDF maps it back to
        # NULL, but the UDF still runs on every row — tolerate it here
        obj = json.loads(x).get(_WRAP)
        return yaml.safe_dump(obj, default_flow_style=False, sort_keys=False)

    return s.map(conv)


def _coerce_to_json_convention(obj, dt):
    """YAML-native / reference-internal scalars → the JSON forms
    from_json expects for ``dt`` (reference encodings:
    YamlEncoderExpr.scala:86-100 — timestamps as epoch-micros INT,
    dates as epoch-days INT, binary as !!binary)."""
    import base64
    import datetime as _dt

    if obj is None:
        return None
    if isinstance(dt, T.BinaryType) and isinstance(obj, (bytes, bytearray)):
        return base64.b64encode(bytes(obj)).decode("ascii")
    if isinstance(dt, T.TimestampType) and isinstance(obj, int):
        ts = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
            microseconds=obj
        )
        return ts.isoformat()
    if isinstance(dt, T.DateType) and isinstance(obj, int):
        return (_dt.date(1970, 1, 1) + _dt.timedelta(days=obj)).isoformat()
    if isinstance(dt, T.TimestampType) and isinstance(obj, _dt.datetime):
        if obj.tzinfo is None:
            obj = obj.replace(tzinfo=_dt.timezone.utc)
        return obj.isoformat()
    if isinstance(dt, (T.DateType, T.TimestampType)) and isinstance(obj, _dt.date):
        return obj.isoformat()
    if isinstance(dt, T.StructType) and isinstance(obj, dict):
        return {
            f.name: _coerce_to_json_convention(obj.get(f.name), f.dataType)
            for f in dt.fields
        }
    if isinstance(dt, T.ArrayType) and isinstance(obj, list):
        return [_coerce_to_json_convention(x, dt.elementType) for x in obj]
    if isinstance(dt, T.MapType) and isinstance(obj, dict):
        return {
            str(k): _coerce_to_json_convention(v, dt.valueType)
            for k, v in obj.items()
        }
    return obj


def _yaml_to_json_udf(dtype: T.DataType):
    @pandas_udf(T.StringType())
    def _yaml_to_json(s):  # type: ignore[no-untyped-def]
        import yaml

        def conv(x):
            if x is None:
                return None
            try:
                obj = yaml.safe_load(x)
            except yaml.YAMLError:
                # malformed input -> NULL, matching from_json's
                # PERMISSIVE behavior rather than failing the task
                return None
            return json.dumps(
                {_WRAP: _coerce_to_json_convention(obj, dtype)}, default=str
            )

        return s.map(conv)

    return _yaml_to_json


def to_yaml(c: ColumnOrName) -> Column:
    """YAML text of any column value (NULL stays NULL).

    The value is serialized to JSON JVM-side (wrapped in a one-field
    struct so scalars work too), then re-rendered as YAML in one
    vectorized pass."""
    wrapped = F.to_json(F.struct(_col(c).alias(_WRAP)))
    # to_json drops null struct fields: struct(NULL) -> '{}' -> key error;
    # map the whole-null case back to NULL explicitly.
    return F.when(_col(c).isNull(), F.lit(None).cast("string")).otherwise(
        _json_to_yaml(wrapped)
    )


def _native_yaml_udf(reference_ints: bool, dtype_json: Optional[str] = None):
    # per-WORKER memo: classes/representers/dtype parse happen on the
    # first Arrow batch each worker sees, not on every batch (defining
    # the SafeDumper subclass driver-side would not survive pickling,
    # hence lazy-once instead of closure-level)
    _state: dict = {}

    @pandas_udf(T.StringType())
    def _to_native(s):  # type: ignore[no-untyped-def]
        import base64
        import datetime as _dt
        import decimal as _decimal

        import numpy as np
        import pandas as pd
        import yaml

        if not _state:
            class _D(yaml.SafeDumper):
                pass

            # decimals render as plain FLOAT-tagged scalars with the
            # exact decimal string (reference: Tag.FLOAT +
            # toJavaBigDecimal, YamlEncoderExpr.scala:100-102)
            _D.add_representer(
                _decimal.Decimal,
                lambda d, data: d.represent_scalar(
                    "tag:yaml.org,2002:float", str(data)
                ),
            )
            _state["dumper"] = _D
            _state["dtype"] = (
                T._parse_datatype_json_string(dtype_json) if dtype_json else None
            )
        _Dumper = _state["dumper"]

        _EPOCH_DT = _dt.datetime(1970, 1, 1)
        _EPOCH_D = _dt.date(1970, 1, 1)
        _US = _dt.timedelta(microseconds=1)

        dtype = _state["dtype"]
        _INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

        def retype(x, dt):
            """Arrow→pandas coerces nullable int columns to float64 —
            with a declared type, restore ints and map the coercion's
            NaN back to null. (Nullable DOUBLE columns stay ambiguous:
            Arrow surfaces both null and real NaN as NaN — documented
            caveat.)"""
            if dt is None or x is None:
                return x
            if isinstance(dt, _INTEGRAL) and isinstance(x, float):
                return None if x != x else int(x)
            if isinstance(dt, T.StructType) and isinstance(x, dict):
                return {
                    f.name: retype(x.get(f.name), f.dataType) for f in dt.fields
                }
            if isinstance(dt, T.ArrayType) and isinstance(x, list):
                return [retype(e, dt.elementType) for e in x]
            if isinstance(dt, T.MapType) and isinstance(x, dict):
                return {k: retype(v, dt.valueType) for k, v in x.items()}
            return x

        def norm(x):
            if x is None or x is pd.NaT:
                return None
            if isinstance(x, np.generic):
                x = x.item()
            if isinstance(x, pd.Timestamp):
                x = x.to_pydatetime()
            if isinstance(x, _dt.datetime):
                if reference_ints:
                    base = x.replace(tzinfo=None)
                    return (base - _EPOCH_DT) // _US
                return x
            if isinstance(x, _dt.date):
                if reference_ints:
                    return (x - _EPOCH_D).days
                return x
            if isinstance(x, np.ndarray):
                return [norm(e) for e in x]
            if isinstance(x, (bytes, bytearray)):
                return bytes(x)
            # Spark MAP columns arrive from Arrow as lists of (k, v)
            # tuples (struct elements arrive as dicts, so tuples are
            # unambiguous). An EMPTY map is indistinguishable from an
            # empty array and renders as [].
            if isinstance(x, list):
                if x and all(isinstance(e, tuple) and len(e) == 2 for e in x):
                    return {norm(k): norm(v) for k, v in x}
                return [norm(e) for e in x]
            if isinstance(x, dict):
                return {k: norm(v) for k, v in x.items()}
            if isinstance(x, float) and x != x:
                return float("nan")
            return x

        def conv(x):
            if x is None or x is pd.NaT:
                return None
            obj = norm(x)
            if dtype is not None:
                obj = retype(obj, dtype)
            return yaml.dump(
                obj,
                Dumper=_Dumper,
                default_flow_style=False,
                sort_keys=False,
            )

        # a top-level STRUCT column arrives as a pandas DataFrame (one
        # column per field), not a Series-of-dicts — rebuild the dicts.
        # (NULL rows are masked out by the when() wrapper in
        # to_yaml_native, so their spurious all-None dicts never show.)
        if isinstance(s, pd.DataFrame):
            cols = list(s.columns)
            return s.apply(lambda r: conv({c: r[c] for c in cols}), axis=1)
        return s.map(conv)

    return _to_native


def to_yaml_native(
    c: ColumnOrName,
    reference_ints: bool = False,
    ddl: Optional[Union[str, T.DataType]] = None,
) -> Column:
    """YAML text with NATIVE scalar tags, matching the reference's
    snakeyaml node model (YamlEncoderExpr.scala:54-102): binary renders
    as ``!!binary``, decimals as FLOAT-tagged exact decimal scalars,
    and timestamps/dates either as YAML-native datetime/date scalars
    (default) or — with ``reference_ints=True`` — as the reference's
    internal integers (epoch-micros / epoch-days, wall-clock treated as
    UTC). Unlike :func:`to_yaml` (JSON-convention strings), this path
    feeds the column itself through Arrow, so the encoder sees real
    typed values. :func:`from_yaml` decodes both conventions.

    Pass ``ddl`` (the column's DDL type) when integer columns can hold
    NULLs: Arrow→pandas coerces a nullable int batch to float64, which
    would otherwise render ints as ``1.0`` and null int fields as
    ``.nan`` — the declared type restores exact ints and nulls.
    (Nullable DOUBLE fields remain ambiguous — Arrow surfaces null and
    NaN identically — so doubles render NaN either way.)"""
    col = _col(c)
    if ddl is not None:
        dt = T._parse_datatype_string(ddl) if isinstance(ddl, str) else ddl
        udf = _native_yaml_udf(reference_ints, dt.json())
    else:
        udf = _native_yaml_udf(reference_ints)
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(udf(col))


def from_yaml(c: ColumnOrName, ddl: Union[str, T.DataType]) -> Column:
    """Parse YAML text into the given DDL type (inverse of to_yaml;
    also accepts reference-encoded scalars — see module docstring)."""
    dtype = T._parse_datatype_string(ddl) if isinstance(ddl, str) else ddl
    schema = T.StructType([T.StructField(_WRAP, dtype, True)])
    parsed = F.from_json(_yaml_to_json_udf(dtype)(_col(c)), schema)
    return parsed[_WRAP]


# ---------------------------------------------------------------------------
# rule-text macro path: to_yaml / from_yaml callable from SQL rule text
# (reference registers both in the FunctionRegistry,
# RuleRegistrationFunctions.scala:475-479)
# ---------------------------------------------------------------------------

_registered: set = set()


@pandas_udf(T.StringType())
def _yaml_to_json_generic(s, ddl):  # type: ignore[no-untyped-def]
    """Type-directed yaml->json where the target type arrives as a
    (constant) column in DataType-JSON form — lets ONE registered UDF
    serve every target type in rule text. JSON (not DDL) because
    ``_parse_datatype_json_string`` is pure Python and works on
    executors; DDL parsing needs the JVM."""
    import yaml

    dtype = (
        T._parse_datatype_json_string(ddl.iloc[0]) if len(ddl) else T.StringType()
    )

    def conv(x):
        if x is None:
            return None
        try:
            obj = yaml.safe_load(x)
        except yaml.YAMLError:
            return None
        return json.dumps(
            {_WRAP: _coerce_to_json_convention(obj, dtype)}, default=str
        )

    return s.map(conv)


def ensure_yaml_udfs(spark=None) -> None:
    """Idempotently register qs_json_to_yaml / qs_yaml_to_json on the
    active session (called at macro-expansion time, like
    pyhash.ensure_python_hashes)."""
    if spark is None:
        from ..sources.fsio import _active_spark

        spark = _active_spark()
    if spark is None:
        raise RuntimeError(
            "to_yaml/from_yaml in rule text need an active SparkSession "
            "at rule compile time (to register their pandas UDFs)"
        )
    if spark in _registered:
        return
    spark.udf.register("qs_json_to_yaml", _json_to_yaml)
    spark.udf.register("qs_yaml_to_json", _yaml_to_json_generic)
    _registered.add(spark)


def _to_yaml_macro(args):
    from .macros import _arity_error

    if len(args) != 1:
        raise _arity_error("to_yaml", args, "1")
    ensure_yaml_udfs()
    a = args[0]
    wrapped = f"to_json(named_struct('{_WRAP}', ({a})))"
    return (
        f"(CASE WHEN ({a}) IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE qs_json_to_yaml({wrapped}) END)"
    )


def _from_yaml_macro(args):
    from .macros import _arity_error, _strip_str

    if len(args) != 2:
        raise _arity_error("from_yaml", args, "2 (yaml, 'ddl')")
    ensure_yaml_udfs()
    ddl = _strip_str(args[1])
    dtype = T._parse_datatype_string(ddl)  # fail fast on a bad DDL literal
    tjson = dtype.json().replace("'", "''")
    a = args[0]
    return (
        f"from_json(qs_yaml_to_json(({a}), '{tjson}'), "
        f"'struct<{_WRAP}:{ddl}>').{_WRAP}"
    )


def _register_yaml_macros() -> None:
    from .macros import _register

    _register(_to_yaml_macro, "to_yaml", "toYaml")
    _register(_from_yaml_macro, "from_yaml", "fromYaml")


_register_yaml_macros()
