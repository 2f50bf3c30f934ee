"""Avro schema ↔ Spark SQL type conversion.

The mapping follows SURVEY.md §1.2 (and the spark-avro conventions for
the types Spark lacks):

- enum → StringType (symbols kept in StructField metadata)
- fixed → BinaryType (size kept in metadata; decimal-fixed → DecimalType)
- time-millis → IntegerType, time-micros → LongType (Spark has no TIME)
- [null, T] / [T, null] → nullable T
- general unions → StructType of one nullable field per branch named
  ``member0..memberN`` (spark-avro convention)
- record namespaces/doc → StructField metadata (reference name.py rules)
"""

from __future__ import annotations

from typing import Any, Optional, Union

from pyspark.sql import types as T

from .schema_model import (
    ArraySchema,
    AvroSchema,
    EnumSchema,
    FixedSchema,
    MapSchema,
    PrimitiveSchema,
    RecordSchema,
    UnionSchema,
    parse_schema,
)

_PRIMITIVE_TO_SPARK = {
    "null": T.NullType(),
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "bytes": T.BinaryType(),
    "string": T.StringType(),
}


def avro_to_spark_type(schema: Union[AvroSchema, str, dict]) -> T.DataType:
    """Avro schema → Spark DataType (nullability is carried by fields)."""
    if not isinstance(schema, AvroSchema):
        schema = parse_schema(schema)
    dtype, _ = _to_spark(schema, set())
    return dtype


def _to_spark(schema: AvroSchema, seen: set[str]) -> tuple[T.DataType, bool]:
    """Returns (DataType, nullable)."""
    if isinstance(schema, PrimitiveSchema):
        lt = schema.logical
        if lt == "decimal":
            return T.DecimalType(schema.precision, schema.scale), schema.type == "null"
        if lt == "date":
            return T.DateType(), False
        if lt == "time-millis":
            return T.IntegerType(), False
        if lt == "time-micros":
            return T.LongType(), False
        if lt in ("timestamp-millis", "timestamp-micros"):
            return T.TimestampType(), False
        return _PRIMITIVE_TO_SPARK[schema.type], schema.type == "null"
    if isinstance(schema, FixedSchema):
        if schema.logical == "decimal":
            return T.DecimalType(schema.precision, schema.scale), False
        return T.BinaryType(), False
    if isinstance(schema, EnumSchema):
        return T.StringType(), False
    if isinstance(schema, ArraySchema):
        item_t, item_null = _to_spark(schema.items, seen)
        return T.ArrayType(item_t, containsNull=item_null), False
    if isinstance(schema, MapSchema):
        val_t, val_null = _to_spark(schema.values, seen)
        return T.MapType(T.StringType(), val_t, valueContainsNull=val_null), False
    if isinstance(schema, UnionSchema):
        nullable = any(b.type == "null" for b in schema.branches)
        non_null = schema.non_null_branches()
        if len(non_null) == 0:
            return T.NullType(), True
        if len(non_null) == 1:
            inner, inner_null = _to_spark(non_null[0], seen)
            return inner, nullable or inner_null
        # general union → member struct (spark-avro convention)
        fields = []
        for i, b in enumerate(non_null):
            bt, _ = _to_spark(b, seen)
            fields.append(T.StructField(f"member{i}", bt, nullable=True))
        return T.StructType(fields), nullable
    if isinstance(schema, RecordSchema):
        if schema.fullname in seen:
            raise ValueError(
                f"recursive Avro record {schema.fullname} cannot map to a "
                "Spark StructType (Spark types are finite trees)"
            )
        seen = seen | {schema.fullname}
        fields = []
        for f in schema.fields:
            ftype, fnull = _to_spark(f.schema, seen)
            metadata: dict[str, Any] = {}
            if f.doc:
                metadata["doc"] = f.doc
            if isinstance(f.schema, EnumSchema):
                metadata["avro.enum.symbols"] = list(f.schema.symbols)
            if isinstance(f.schema, FixedSchema) and f.schema.logical is None:
                metadata["avro.fixed.size"] = f.schema.size
            fields.append(
                T.StructField(f.name, ftype, nullable=fnull or f.has_default, metadata=metadata)
            )
        return T.StructType(fields), False
    raise TypeError(f"unexpected schema node: {schema!r}")


def avro_to_struct_type(schema: Union[AvroSchema, str, dict]) -> T.StructType:
    """Avro record schema → StructType (top level must be a record)."""
    dtype = avro_to_spark_type(schema)
    if not isinstance(dtype, T.StructType):
        raise TypeError(f"top-level Avro schema is not a record: {dtype}")
    return dtype


def nullable_struct(dtype: T.DataType) -> T.DataType:
    """Mark every field nullable, recursively, and strip Avro metadata.
    A decode can always produce nulls (null input cell, PERMISSIVE
    failure), so its declared type must allow them — same convention as
    spark-avro's from_avro. Metadata must go because the Arrow batches a
    decode yields carry none, and Spark's ARROW_TYPE_MISMATCH check
    compares fields metadata-sensitively (keep `avro_to_spark_type` for
    the metadata-bearing schema)."""
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, nullable_struct(f.dataType), nullable=True)
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(nullable_struct(dtype.elementType), containsNull=True)
    if isinstance(dtype, T.MapType):
        return T.MapType(dtype.keyType, nullable_struct(dtype.valueType), valueContainsNull=True)
    return dtype


# ---------------------------------------------------------------------------
# Spark → Avro (for to_avro-style encoding with a generated schema)
# ---------------------------------------------------------------------------


def spark_type_to_avro(
    dtype: T.DataType,
    name: str = "topLevelRecord",
    namespace: Optional[str] = None,
    nullable: bool = False,
) -> Any:
    """Spark DataType → Avro JSON schema document (dict/list/str)."""
    doc = _from_spark(dtype, name, namespace)
    if nullable:
        return ["null", doc] if not isinstance(doc, list) else doc
    return doc


def _from_spark(dtype: T.DataType, name: str, namespace: Optional[str]) -> Any:
    if isinstance(dtype, T.NullType):
        return "null"
    if isinstance(dtype, T.BooleanType):
        return "boolean"
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dtype, T.LongType):
        return "long"
    if isinstance(dtype, T.FloatType):
        return "float"
    if isinstance(dtype, T.DoubleType):
        return "double"
    if isinstance(dtype, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dtype.precision,
            "scale": dtype.scale,
        }
    if isinstance(dtype, T.BinaryType):
        return "bytes"
    if isinstance(dtype, (T.StringType, T.VarcharType, T.CharType)):
        return "string"
    if isinstance(dtype, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dtype, T.ArrayType):
        items = _from_spark(dtype.elementType, name + "_item", namespace)
        if dtype.containsNull:
            items = ["null", items]
        return {"type": "array", "items": items}
    if isinstance(dtype, T.MapType):
        if not isinstance(dtype.keyType, (T.StringType, T.VarcharType, T.CharType)):
            raise TypeError("Avro maps require string keys")
        values = _from_spark(dtype.valueType, name + "_value", namespace)
        if dtype.valueContainsNull:
            values = ["null", values]
        return {"type": "map", "values": values}
    if isinstance(dtype, T.StructType):
        fields = []
        for f in dtype.fields:
            ftype = _from_spark(f.dataType, f.name, namespace)
            if f.nullable and not isinstance(f.dataType, T.NullType):
                entry: dict[str, Any] = {"name": f.name, "type": ["null", ftype], "default": None}
            else:
                entry = {"name": f.name, "type": ftype}
            fields.append(entry)
        out: dict[str, Any] = {"type": "record", "name": name, "fields": fields}
        if namespace:
            out["namespace"] = namespace
        return out
    raise TypeError(f"cannot map Spark type {dtype} to Avro")


def df_schema_to_avro(
    schema: T.StructType, name: str = "topLevelRecord", namespace: Optional[str] = None
) -> AvroSchema:
    """DataFrame schema → parsed Avro schema object."""
    return parse_schema(spark_type_to_avro(schema, name, namespace))
