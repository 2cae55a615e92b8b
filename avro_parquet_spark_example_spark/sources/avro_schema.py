"""Avro schema JSON → Spark ``StructType`` translator (SURVEY.md §1.2).

This is the engine's re-expression of the reference's format bridge: the
reference declared record types in Avro schemas and generated JVM classes
with sbt-avro, then relied on parquet-avro's ``AvroSchemaConverter`` to map
them onto Parquet (SURVEY.md §0 steps 1–2, reconstructed — the reference
checkout is empty here, see SURVEY.md §0 provenance). On modern Spark the
storage side is native (``spark.read.parquet``), so Avro serves first as a
*schema language*: this module translates any Avro schema document into
the equivalent ``pyspark.sql.types.StructType`` which can be applied as a
declared read schema (see ``sources/scans.py::avro_schema_read``).

Pure Python, no Avro library required (none is installed in this
environment). The schema walk itself lives in ``avro_binary.compile_schema``,
which builds the Spark type together with the codec that reads and writes
it, so a type announced here is the type the ``avrofile`` source decodes.
Full Avro 1.x type surface:

  primitives        string/int/long/float/double/boolean/bytes/null
  union with null   → nullable T (general unions of 2+ non-null branches are
                      rejected — Spark has no variant column type)
  record            → StructType (named, nestable, reference-able by name)
  array / map       → ArrayType / MapType(string, T)
  enum              → StringType (symbol name)
  fixed             → BinaryType
  logical types     decimal / date / timestamp-millis|micros /
                    local-timestamp-millis|micros; time-millis|micros and
                    uuid keep their base type (int / long / string)

Avro container files are read and written by ``sources/avro_binary.py`` and
``sources/avro_datasource.py`` (``spark.read.format("avrofile")``), with no
spark-avro jar.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import types as T

from avro_parquet_spark_example_spark.sources.avro_binary import (
    AvroSchemaError,
    compile_schema,
)


def parse_avro_schema(schema: str | dict | list) -> T.StructType:
    """Translate an Avro schema (JSON string or parsed dict) to StructType.

    The top level must be a record (as in the reference's User schema).
    """
    if isinstance(schema, str):
        schema = json.loads(schema)
    dt = compile_schema(schema)[0]
    if not isinstance(dt, T.StructType):
        raise AvroSchemaError(f"top-level Avro schema must be a record, got {dt}")
    return dt


_TO_AVRO_PRIMITIVES: dict[type, str] = {
    T.StringType: "string",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.BooleanType: "boolean",
    T.BinaryType: "bytes",
}


_AVRO_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def struct_to_avro_schema(st: T.StructType, name: str = "record") -> dict:
    """Inverse bridge: Spark ``StructType`` → Avro record schema dict.

    Completes the reference's round trip (its write path derived the Parquet
    file schema *from* the Avro schema via AvroSchemaConverter — SURVEY.md
    §0 step 2): an engine table's schema can be exported as the Avro contract
    a producer writes against, so the output must be Avro-spec valid:
    nested record names are sanitized and de-duplicated (a counter suffix
    on collision — Avro forbids redefining a named type), and field names
    that are not valid Avro identifiers are rejected rather than silently
    mangled (mangling would break the round trip).

    ``parse_avro_schema(struct_to_avro_schema(s)) == s`` for every type both
    sides support; the lossy edges are narrow integers (Byte/Short widen to
    Avro ``int``), char/varchar (→ ``string``), and ``NullType`` (exports as
    the ``"null"`` primitive, whose field nullability flag does not survive).
    """
    return _to_avro_record(st, name, set())


def _record_name(candidate: str, seen: set) -> str:
    name = re.sub(r"[^A-Za-z0-9_]", "_", candidate)
    if not _AVRO_NAME_RE.match(name):
        name = f"r_{name}"
    base, n = name, 2
    while name in seen:
        name = f"{base}_{n}"
        n += 1
    seen.add(name)
    return name


def _to_avro_record(st: T.StructType, name: str, seen: set) -> dict:
    fields = []
    for f in st.fields:
        if not _AVRO_NAME_RE.match(f.name):
            raise AvroSchemaError(f"field name is not a valid Avro name: {f.name!r}")
        ftype = _to_avro(f.dataType, f"{name}_{f.name}", seen)
        if f.nullable and ftype != "null":  # ["null","null"] is an invalid union
            ftype = ["null", ftype]
        fields.append({"name": f.name, "type": ftype})
    return {"type": "record", "name": _record_name(name, seen), "fields": fields}


def _to_avro(dt: T.DataType, name: str, seen: set) -> Any:
    if isinstance(dt, T.NullType):
        return "null"
    if type(dt) in _TO_AVRO_PRIMITIVES:
        return _TO_AVRO_PRIMITIVES[type(dt)]
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return "int"  # Avro has no narrow ints — widen
    if isinstance(dt, (T.CharType, T.VarcharType)):
        return "string"
    if isinstance(dt, T.DecimalType):
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dt.precision,
            "scale": dt.scale,
        }
    if isinstance(dt, T.DateType):
        return {"type": "int", "logicalType": "date"}
    if isinstance(dt, T.TimestampNTZType):
        return {"type": "long", "logicalType": "local-timestamp-micros"}
    if isinstance(dt, T.TimestampType):
        return {"type": "long", "logicalType": "timestamp-micros"}
    if isinstance(dt, T.StructType):
        return _to_avro_record(dt, name, seen)
    if isinstance(dt, T.ArrayType):
        items = _to_avro(dt.elementType, f"{name}_item", seen)
        return {"type": "array", "items": ["null", items] if dt.containsNull else items}
    if isinstance(dt, T.MapType):
        if not isinstance(dt.keyType, T.StringType):
            raise AvroSchemaError(f"Avro map keys must be strings, got {dt.keyType}")
        values = _to_avro(dt.valueType, f"{name}_value", seen)
        return {
            "type": "map",
            "values": ["null", values] if dt.valueContainsNull else values,
        }
    raise AvroSchemaError(f"no Avro mapping for Spark type: {dt}")
