"""pyarrow ↔ Spark type bridge.

The reference declares table schemas in pyarrow terms and maps them to
Paimon SQL type strings in pypaimon/py4j/util/java_utils.py:64-93, raising
``ValueError('unsupported data type: ...')`` for list/map/struct/decimal/
date/timestamp at table-creation time (test
pypaimon/py4j/tests/test_data_types.py:75-81) and warning-and-coercing
null → string (java_utils.py:86-91).

Our engine supports the full Spark type set internally (list/map/struct/
date/timestamp columns are first-class in the scale-path tables, e.g. the
``embeddings.embedding array<float>`` column), but reproduces the
reference's creation-time restriction by default; pass
``allow_extended_types=True`` (or catalog/table option
``'extended-types': 'true'``) to lift it.
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import types as T

# Reference-supported primitive mappings (java_utils.py:64-93).
_PA_TO_SPARK_PRIMITIVE = {
    pa.int8(): T.ByteType(),
    pa.int16(): T.ShortType(),
    pa.int32(): T.IntegerType(),
    pa.int64(): T.LongType(),
    pa.float16(): T.FloatType(),  # FLOAT; f16 *write* unsupported in reference
    pa.float32(): T.FloatType(),
    pa.float64(): T.DoubleType(),
    pa.string(): T.StringType(),
    pa.utf8(): T.StringType(),
    pa.large_string(): T.StringType(),
    pa.bool_(): T.BooleanType(),
    pa.binary(): T.BinaryType(),
    pa.large_binary(): T.BinaryType(),
    pa.date32(): T.DateType(),
}

# Types the reference refuses at schema-creation (java_utils.py:93).
_REFERENCE_UNSUPPORTED = (
    pa.types.is_list,
    pa.types.is_large_list,
    pa.types.is_map,
    pa.types.is_struct,
    pa.types.is_decimal,
    pa.types.is_date,
    pa.types.is_timestamp,
)


def pa_type_to_spark(
    pa_type: pa.DataType, allow_extended_types: bool = False, field_name: str = ""
) -> T.DataType:
    """Convert one pyarrow type to the Spark equivalent.

    With ``allow_extended_types=False`` (the default), mirrors the
    reference bridge exactly: null→string with a warning
    (java_utils.py:86-91), and the nested/temporal/decimal types raise
    ``ValueError`` with the reference's message (java_utils.py:93).
    """
    if pa.types.is_null(pa_type):
        warnings.warn(
            f"The type of column '{field_name}' is null, and it will be "
            "converted to string type by default."
        )
        return T.StringType()
    if not allow_extended_types:
        for check in _REFERENCE_UNSUPPORTED:
            if check(pa_type):
                raise ValueError(
                    f"Found unsupported data type {str(pa_type)} for field {field_name}."
                )
    if pa.types.is_float16(pa_type):
        return T.FloatType()
    prim = _PA_TO_SPARK_PRIMITIVE.get(pa_type)
    if prim is not None:
        return prim
    # Extended (Spark-native) types beyond the reference bridge.
    if pa.types.is_timestamp(pa_type):
        return T.TimestampType()
    if pa.types.is_date(pa_type):
        return T.DateType()
    if pa.types.is_decimal(pa_type):
        return T.DecimalType(pa_type.precision, pa_type.scale)
    if pa.types.is_list(pa_type) or pa.types.is_large_list(pa_type):
        return T.ArrayType(pa_type_to_spark(pa_type.value_type, True))
    if pa.types.is_map(pa_type):
        return T.MapType(
            pa_type_to_spark(pa_type.key_type, True),
            pa_type_to_spark(pa_type.item_type, True),
        )
    if pa.types.is_struct(pa_type):
        return T.StructType(
            [
                T.StructField(f.name, pa_type_to_spark(f.type, True), f.nullable)
                for f in pa_type
            ]
        )
    raise ValueError(f"unsupported data type: {pa_type}")


def pa_schema_to_spark(
    schema: pa.Schema, allow_extended_types: bool = False
) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f.name, pa_type_to_spark(f.type, allow_extended_types, f.name), f.nullable
            )
            for f in schema
        ]
    )


def spark_type_to_pa(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return pa.timestamp("us")
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    if isinstance(dt, T.ArrayType):
        return pa.list_(spark_type_to_pa(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(spark_type_to_pa(dt.keyType), spark_type_to_pa(dt.valueType))
    if isinstance(dt, T.StructType):
        return pa.struct(
            [pa.field(f.name, spark_type_to_pa(f.dataType), f.nullable) for f in dt.fields]
        )
    raise ValueError(f"unsupported spark type: {dt}")


def spark_schema_to_pa(schema: T.StructType) -> pa.Schema:
    return pa.schema(
        [
            pa.field(f.name, spark_type_to_pa(f.dataType), f.nullable)
            for f in schema.fields
        ]
    )


def check_write_schema_compatible(
    table_schema: T.StructType, data_schema: T.StructType
) -> None:
    """Types-only compatibility check, nullability ignored.

    Mirrors BytesWriter.java:81-99 ``checkTypesIgnoreNullability`` and the
    exact error framing of BytesWriter.java:59-66 (tested by
    test_write_and_read.py:385-456): field count, names, and exact type
    widths must match; nullability differences are allowed.
    """
    expected = [(f.name, f.dataType) for f in table_schema.fields]
    actual = [(f.name, f.dataType) for f in data_schema.fields]
    if expected != actual:
        raise ValueError(
            "Input schema isn't consistent with table schema.\n"
            f"\tTable schema is: {expected}\n"
            f"\tInput schema is: {actual}"
        )
