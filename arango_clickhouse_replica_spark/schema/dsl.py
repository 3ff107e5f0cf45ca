"""Declarative per-table mapping DSL, compiled to Spark Column expressions.

This is the Spark-native re-expression of the reference's transform kernel
(``replication/consumer/transformer.py:63-108`` — per-row rename / cast /
default / validate over Python dicts) and its YAML table mapping format
(``tables/test.yaml:29-57``, loader ``replication/schema/helper.py:24-38``).

Instead of a per-row interpreter, the mapping compiles ONCE into:

- one ``Column`` expression per target property (rename + cast + default),
- one ``_errors`` array of per-property error messages, and the
  valid/rejected predicates over it,

and applies as a single ``df.select`` — analyzed by Catalyst, executed in
whole-stage codegen, no Python in the row path. At 100 TB the transform is
a narrow map stage: no shuffle, fully pipelined with the scan.

The streaming path keeps the "once": ``CdcPipeline`` compiles a mapping on
the first micro-batch of each envelope schema and reuses the
``CompiledMapping`` for every later batch of that schema, so a batch pays
only for composing the frames (``CompiledMapping.apply``).

Semantics parity with the reference interpreter:

- ``ref`` renames source->target, defaulting to the target name
  (transformer.py:67).
- A field is *absent* when missing OR explicitly null (transformer.py:68
  treats ``None`` the same as missing).
- Absent primary key -> row rejected (transformer.py:70-71).
- Absent required field -> row rejected, even if a default exists
  (transformer.py:72, 78-79).
- Absent optional field -> default if declared, else NULL
  (transformer.py:73-77).
- Cast failure on a present value -> row rejected (transformer.py:84-94,
  exceptions bubble to the dead-letter channel in loader.py:40-49).
- Union types ``type: [a, b]`` try casts in order, first success wins; all
  fail -> reject (transformer.py:84-92). The Spark result column is
  unified to STRING (a static type must exist; documented divergence from
  Python's per-row dynamic type).
- Unknown cast name -> raised at compile time (the reference raises
  AttributeError per row, transformer.py:81-82).
- Custom cast registry, extensible like ``tables/transform.py:6-8``.

Documented divergences (Python-interpreter quirks we do not replicate):

- Defaults are cast to the output type ONCE at compile time, via
  try_cast: a default that cannot represent in the target type becomes
  NULL instead of rejecting rows. (The reference passes the default
  through the runtime caster, so ``default: []`` with a string-asserting
  cast rejects every row that needs the default —
  tables/test.yaml:43-44's ``Answers`` — which can only be a bug.)
- ``str`` cast of an array renders Spark's canonical form, not Python
  ``repr``.
- ``[List, str]`` maps null elements to null (Python renders ``'None'``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# A cast builder: (source column, source Spark type or None if dynamic)
#   -> (casted value, "cast failed" boolean column, result DataType)
CastBuilder = Callable[[Column, T.DataType | None], tuple[Column, Column, T.DataType]]

def _never() -> Column:
    return F.lit(False)


def _b_str(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
    return col.cast("string"), _never(), T.StringType()


def _b_int(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
    v = col.try_cast("long")
    return v, v.isNull(), T.LongType()


def _b_float(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
    v = col.try_cast("double")
    return v, v.isNull(), T.DoubleType()


def _b_bool(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
    # Python truthiness (transformer.py:103 uses bool()): numbers != 0,
    # non-empty strings/arrays/maps, booleans as-is.
    if isinstance(src, T.BooleanType):
        v = col
    elif isinstance(src, T.NumericType):
        v = col != F.lit(0)
    elif isinstance(src, (T.ArrayType, T.MapType)):
        v = F.size(col) > 0
    elif isinstance(src, T.StringType) or src is None:
        v = F.length(col) > 0
    else:
        v = F.lit(True)
    return v.cast("boolean"), _never(), T.BooleanType()


def _b_datetime(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
    if isinstance(src, (T.TimestampType, T.DateType)):
        v = col.cast("timestamp")
        return v, _never(), T.TimestampType()
    v = F.try_to_timestamp(col.cast("string"))
    return v, v.isNull(), T.TimestampType()


def _b_list_of(elem: str, elem_t: T.DataType) -> CastBuilder:
    def build(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
        out_t = T.ArrayType(elem_t)
        if src is not None and not isinstance(src, T.ArrayType):
            # reference: assert isinstance(x, list) fails for every row
            return F.lit(None).cast(out_t), F.lit(True), out_t
        if elem == "str":
            return F.transform(col, lambda x: x.cast("string")), _never(), out_t
        casted = F.transform(col, lambda x: x.try_cast("long"))
        # int(None) / int('a') raise in the reference -> element-level failure
        failed = F.exists(col, lambda x: x.try_cast("long").isNull())
        return casted, failed, out_t

    return build


def _b_decode_json(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
    out_t = T.MapType(T.StringType(), T.StringType())
    v = F.from_json(col.cast("string"), out_t)
    return v, v.isNull(), out_t


def _b_to_array(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
    # tables/transform.py:1-3 — CSV string -> Array(String); asserts str input.
    out_t = T.ArrayType(T.StringType())
    if src is not None and not isinstance(src, (T.StringType,)):
        return F.lit(None).cast(out_t), F.lit(True), out_t
    return F.split(F.trim(col), ","), _never(), out_t


def default_cast_registry() -> dict[str, CastBuilder]:
    """The built-in cast table (transformer.py:99-108) plus the example
    custom transform (tables/transform.py)."""
    return {
        "str": _b_str,
        "int": _b_int,
        "float": _b_float,
        "bool": _b_bool,
        "from_datetime": _b_datetime,
        "[List, str]": _b_list_of("str", T.StringType()),
        "[List, int]": _b_list_of("int", T.LongType()),
        "decode_json": _b_decode_json,
        "to_array": _b_to_array,
    }


@dataclass(frozen=True)
class Property:
    name: str
    type: str | list[str]
    ref: str
    required: bool = False
    default: Any = None
    has_default: bool = False
    ch_type: str | None = None


@dataclass(frozen=True)
class TableMapping:
    """Parsed per-table mapping (the YAML shape of tables/*.yaml)."""

    table_name: str
    properties: tuple[Property, ...]
    primary_key: tuple[str, ...]

    @classmethod
    def from_dict(cls, d: dict) -> "TableMapping":
        schema = d.get("schema", d)  # accept full table yaml or just schema
        pk = schema["primary_key"]
        pks = tuple([pk] if isinstance(pk, str) else pk)
        props = []
        for name, p in schema["properties"].items():
            props.append(
                Property(
                    name=name,
                    type=p["type"],
                    ref=p.get("ref", name),
                    required=bool(p.get("required", False)),
                    default=p.get("default"),
                    has_default="default" in p,
                    ch_type=p.get("ch_type"),
                )
            )
        return cls(
            table_name=d.get("table_name", ""),
            properties=tuple(props),
            primary_key=pks,
        )

    @classmethod
    def from_yaml(cls, text: str) -> "TableMapping":
        import yaml

        return cls.from_dict(yaml.safe_load(text))

    @classmethod
    def from_yaml_file(cls, path: str) -> "TableMapping":
        with open(path) as f:
            return cls.from_yaml(f.read())


@dataclass
class TransformResult:
    valid: DataFrame
    rejected: DataFrame  # original columns + _errors array<string> (dead letter, A4)


@dataclass
class CompiledMapping:
    """A mapping compiled against one source schema. Every Column here is
    built once by ``compile_mapping``; ``apply`` only composes frames, so
    applying it to each micro-batch of a schema costs no expression
    building. The Columns are handles in one session's JVM."""

    mapping: TableMapping
    value_cols: list[Column]
    errors: Column  # array<string> of the row's non-null error messages
    is_valid: Column
    is_rejected: Column
    spark_schema: T.StructType

    def apply(self, df: DataFrame, passthrough: Sequence[str] = ()) -> TransformResult:
        """One narrow projection + filter; no Python in the row path.

        ``passthrough``: source columns to carry into ``valid`` unchanged
        alongside the mapped properties (the CDC pipeline re-attaches
        ``_ver``/``_deleted`` this way when the user's mapping does not
        declare them — without them the version merge and soft-delete
        filter would silently degrade).
        """
        with_err = df.withColumn("_errors", self.errors)
        valid = with_err.filter(self.is_valid).select(*self.value_cols, *passthrough)
        rejected = with_err.filter(self.is_rejected)
        return TransformResult(valid=valid, rejected=rejected)


def _literal(value: Any, target: T.DataType) -> Column:
    # try_cast: a default that cannot represent in the target type becomes
    # NULL deterministically instead of an ANSI runtime CAST_INVALID_INPUT
    # for every row that needs it. (The reference pushes defaults through
    # the runtime caster and rejects those rows — a documented bug we fix.)
    if isinstance(value, (list, tuple)):
        if not value:
            return F.array().try_cast(target)
        return F.array(*[F.lit(v) for v in value]).try_cast(target)
    return F.lit(value).try_cast(target)


def compile_mapping(
    mapping: TableMapping,
    source_schema: T.StructType | None = None,
    doc_col: str | None = None,
    registry: dict[str, CastBuilder] | None = None,
) -> CompiledMapping:
    """Compile a mapping into Column expressions.

    ``doc_col``: when set, fields live inside that struct/map column
    (the WAL envelope's ``data``); otherwise they are top-level columns.
    ``source_schema``: schema of the input rows, used for static presence
    checks (a ref that cannot exist is absent for every row — same outcome
    as the reference's ``ref not in document``).
    """
    reg = {**default_cast_registry(), **(registry or {})}

    # Resolve where fields live and their static types.
    field_types: dict[str, T.DataType] | None = None
    dynamic_map_value: T.DataType | None = None
    if source_schema is not None:
        if doc_col is not None:
            dt = source_schema[doc_col].dataType
            if isinstance(dt, T.StructType):
                field_types = {f.name: f.dataType for f in dt.fields}
            elif isinstance(dt, T.MapType):
                field_types = None
                dynamic_map_value = dt.valueType
            else:
                raise TypeError(f"doc_col {doc_col!r} must be struct or map, got {dt}")
        else:
            field_types = {f.name: f.dataType for f in source_schema.fields}

    def resolve(ref: str) -> tuple[Column | None, T.DataType | None]:
        if field_types is not None and ref not in field_types:
            return None, None  # statically absent
        src_t = field_types.get(ref) if field_types is not None else dynamic_map_value
        if doc_col is not None:
            return F.col(doc_col).getItem(ref), src_t
        return F.col(ref), src_t

    value_cols: list[Column] = []
    error_cols: list[Column] = []
    out_fields: list[T.StructField] = []

    for prop in mapping.properties:
        casts = prop.type if isinstance(prop.type, list) else [prop.type]
        builders = []
        for c in casts:
            if c not in reg:
                # reference raises AttributeError per row (transformer.py:81-82);
                # we fail fast at compile time.
                raise AttributeError(f"{c}: custom type cast mapping not found")
            builders.append(reg[c])

        src_col, src_t = resolve(prop.ref)
        is_pk = prop.name in mapping.primary_key

        if src_col is None:
            # Statically absent field.
            if is_pk:
                raise ValueError(f"{prop.name} primary key source {prop.ref!r} "
                                 "is missing from the input schema")
            if prop.required:
                raise ValueError(f"{prop.name} required source {prop.ref!r} "
                                 "is missing from the input schema")
            # default or null for every row
            _, _, out_t = builders[0](F.lit(None), None)
            if len(builders) > 1:
                out_t = T.StringType()
            value = _literal(prop.default, out_t) if prop.has_default else F.lit(None).cast(out_t)
            value_cols.append(value.alias(prop.name))
            error_cols.append(F.lit(None).cast("string"))
            out_fields.append(T.StructField(prop.name, out_t, True))
            continue

        present = src_col.isNotNull()  # None == absent (transformer.py:68)

        if len(builders) == 1:
            casted, failed, out_t = builders[0](src_col, src_t)
        else:
            # Union chain: first cast that succeeds wins; unified to string.
            out_t = T.StringType()
            attempts = [b(src_col, src_t) for b in builders]
            casted = F.lit(None).cast("string")
            # build right-to-left so earlier casts take precedence
            for v, f_, _t in reversed(attempts):
                casted = F.when(~f_, v.cast("string")).otherwise(casted)
            failed = attempts[0][1]
            for v, f_, _t in attempts[1:]:
                failed = failed & f_

        if prop.has_default:
            default_lit = _literal(prop.default, out_t)
        else:
            default_lit = F.lit(None).cast(out_t)

        value = F.when(present, casted.cast(out_t)).otherwise(
            F.lit(None).cast(out_t) if prop.required or is_pk else default_lit
        )
        value_cols.append(value.alias(prop.name))

        err = (
            F.when(~present & F.lit(is_pk),
                   F.lit(f"{prop.name} primary key value is required"))
            .when(~present & F.lit(prop.required),
                  F.lit(f"{prop.name} value is not present"))
            .when(present & failed,
                  F.lit(f"{prop.name}: cast to {casts} failed"))
            .otherwise(F.lit(None).cast("string"))
        )
        error_cols.append(err)
        out_fields.append(T.StructField(prop.name, out_t, True))

    n_errors = F.size("_errors")
    return CompiledMapping(
        mapping=mapping,
        value_cols=value_cols,
        errors=F.filter(F.array(*error_cols), lambda x: x.isNotNull()),
        is_valid=n_errors == 0,
        is_rejected=n_errors > 0,
        spark_schema=T.StructType(out_fields),
    )


def apply_mapping(
    df: DataFrame,
    mapping: TableMapping,
    doc_col: str | None = None,
    registry: dict[str, CastBuilder] | None = None,
) -> TransformResult:
    """Convenience: compile against ``df``'s schema and apply."""
    compiled = compile_mapping(mapping, df.schema, doc_col=doc_col, registry=registry)
    return compiled.apply(df)


# ClickHouse column type (as cdc_schema_migration_plan infers it) -> the
# DSL cast name the extended mapping should declare for the new field.
_CH_TO_DSL_CAST = {"Float64": "float", "String": "str"}


def apply_migration_plan(mapping: TableMapping, plan_rows) -> TableMapping:
    """Extend a :class:`TableMapping` with a schema-migration plan — the
    actuator half of ``cdc_schema_migration_plan`` (r11, VERDICT r10
    item 4). The plan query emits the ALTER/retire DDL text for the
    ClickHouse side; this applies the SAME decisions to the mapping DSL
    (the reference's core — ``transformer.py:63-96`` — where a drifted
    producer otherwise fills the dead-letter queue):

    - ``added``   -> declare the new property (``Float64`` -> ``float``,
      else ``str``), optional — the field arrives mid-stream, so history
      rows must not dead-letter on its absence.
    - ``retired`` -> stop strict-casting: the property goes
      ``required=False`` (column kept, mirroring the plan's "keep the
      column; stop strict-casting it"), so newer producer versions that
      dropped the field no longer dead-letter.
    - ``stable``  -> untouched.

    ``plan_rows``: the collected rows of ``cdc_schema_migration_plan``
    (or any iterable of dict-likes with ``json_key`` / ``status`` /
    ``inferred_type``) — a metadata-sized relation (|keys| rows) by
    construction.
    """
    import dataclasses

    rows = [r if isinstance(r, dict) else r.asDict() for r in plan_rows]
    retired = {r["json_key"] for r in rows if r["status"] == "retired"}
    added = [
        (r["json_key"], _CH_TO_DSL_CAST.get(r["inferred_type"], "str"))
        for r in rows
        if r["status"] == "added"
    ]
    new_props = []
    for p in mapping.properties:
        if p.ref in retired and p.required and p.name not in mapping.primary_key:
            p = dataclasses.replace(p, required=False)
        new_props.append(p)
    declared = {p.ref for p in mapping.properties} | {
        p.name for p in mapping.properties
    }
    for key, cast_name in sorted(added):
        if key in declared:
            continue
        new_props.append(
            Property(name=key, type=cast_name, ref=key, required=False)
        )
    return dataclasses.replace(mapping, properties=tuple(new_props))


def python_cast(fn: Callable[[Any], Any], out_type: T.DataType) -> CastBuilder:
    """Wrap a reference-style custom transformer into a CastBuilder.

    The reference's extension contract (§2.11, tables/transform.py:6-8,
    invoked per value at transformer.py:94) is an arbitrary Python
    callable ``value -> value`` that RAISES to reject the row. This is
    the escape hatch for transforms no Column expression can produce;
    prefer native builders — a Python cast is a row-at-a-time UDF.

    Divergence note: a raise maps to NULL-on-nonnull-input (the failure
    predicate), so a custom cast that legitimately returns None for a
    present value is indistinguishable from a rejection.
    """

    def guarded(v):
        if v is None:
            return None
        try:
            return fn(v)
        except Exception:
            return None

    udf = F.udf(guarded, out_type)

    def build(col: Column, src: T.DataType | None) -> tuple[Column, Column, T.DataType]:
        v = udf(col)
        failed = col.isNotNull() & v.isNull()
        return v, failed, out_type

    return build


def register_sql_casts(spark, custom: dict[str, Callable[[Any], Any]] | None = None,
                       prefix: str = "dsl_") -> list[str]:
    """Expose reference-style transforms to ad-hoc Spark SQL (§2.11's
    ``spark.udf.register`` surface). ``custom`` maps names to plain
    ``value -> value`` callables (raise -> NULL); each registers as
    ``{prefix}{name}`` so the SQL pass-through surface can reuse the
    same transforms the mapping DSL uses."""
    names = []
    for name, fn in (custom or {}).items():
        fn_name = f"{prefix}{name}"

        def guarded(v, _fn=fn):
            if v is None:
                return None
            try:
                return _fn(v)
            except Exception:
                return None

        spark.udf.register(fn_name, guarded)
        names.append(fn_name)
    return names
