"""Pure-Python Avro binary codec + object-container-file IO (SURVEY.md §2 A4
extension — the reference's OWN read/write path).

The reference repo's storage story is Avro-defined records written through
``AvroParquetWriter`` and read back with ``AvroReadSupport`` (SURVEY.md §0
steps 2–3, reconstructed). This module holds the one walk over an Avro
schema (``compile_schema``): each schema node compiles once into its Spark
type, its decoder and its encoder, so ``avro_schema.parse_avro_schema``,
``compile_decoder`` and ``compile_encoder`` cannot disagree on named types,
unions or logical types. Around it sit the Avro binary encoding and the
Object Container File format (magic ``Obj\\x01``, header metadata map,
16-byte sync markers, length-prefixed blocks, null/deflate codecs), with no
Avro library dependency (none ships in this environment).

Binary encoding implemented per the public Avro 1.11 spec
(https://avro.apache.org/docs/1.11.1/specification/), and CROSS-VALIDATED
against the reference Java implementation (avro-1.12.1 on Spark's JVM
classpath, driven via py4j — tests/test_avro_binary.py): Java's
DataFileReader decodes Python-written containers (both codecs, all-types
schema incl. logical types), the Python reader decodes Java-written
containers back to the original values, and the byte-split ownership rule
below agrees with Java's own sync()/pastSync() partition for arbitrary
split boundaries:

  int/long     zigzag varint          float/double  little-endian IEEE754
  string/bytes varint length + bytes  boolean       single byte 0/1
  record       fields in schema order union         varint branch index + value
  array/map    count-prefixed blocks (negative count ⇒ byte-size follows)
  enum         varint symbol index    fixed         raw bytes
  logical      decimal (bytes/fixed) → Decimal, date → date,
               timestamp-* → datetime, local-timestamp-* → naive datetime;
               time-millis/micros and uuid stay their base int/long/string

Scale design: the container format is SPLITTABLE — every block is followed
by the file's sync marker, so a reader dropped at any byte offset can scan
forward to the next sync and start decoding block-aligned records. The
distributed read path (``avro_datasource.py``) exploits exactly that, the
same alignment rule Hadoop's AvroInputFormat uses: a task owns every block
whose trailing-sync search began inside its byte split.
"""

from __future__ import annotations

import datetime
import io
import json
import os
import struct
import zlib
from decimal import MAX_PREC, Context, Decimal
from typing import Any, BinaryIO, Callable, Iterable, Iterator, NamedTuple

from pyspark.sql import types as T

MAGIC = b"Obj\x01"
SYNC_SIZE = 16

#: Epoch for date/timestamp logical types (Avro counts from Unix epoch).
_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)

#: Decimal scaling must not round: the default context keeps 28 digits.
_EXACT = Context(prec=MAX_PREC)


class AvroBinaryError(ValueError):
    """Malformed Avro binary data."""


class AvroSchemaError(ValueError):
    """Raised for malformed or untranslatable Avro schemas."""


# ---------------------------------------------------------------------------
# primitive decode


def _read_exact(fo: BinaryIO, n: int) -> bytes:
    b = fo.read(n)
    if len(b) != n:
        raise AvroBinaryError(f"unexpected EOF: wanted {n} bytes, got {len(b)}")
    return b


def read_long(fo: BinaryIO) -> int:
    """Zigzag varint (int and long share one wire format)."""
    shift = 0
    accum = 0
    while True:
        byte = fo.read(1)
        if not byte:
            raise AvroBinaryError("unexpected EOF in varint")
        b = byte[0]
        accum |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
        if shift > 70:
            raise AvroBinaryError("varint too long")
    return (accum >> 1) ^ -(accum & 1)


def read_bytes(fo: BinaryIO) -> bytes:
    n = read_long(fo)
    if n < 0:
        raise AvroBinaryError(f"negative bytes length {n}")
    return _read_exact(fo, n)


# ---------------------------------------------------------------------------
# primitive encode


def write_long(fo: BinaryIO, v: int) -> None:
    v = (v << 1) if v >= 0 else (((-v - 1) << 1) | 1)  # zigzag
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    fo.write(bytes(out))


def write_bytes(fo: BinaryIO, b: bytes) -> None:
    write_long(fo, len(b))
    fo.write(b)


# ---------------------------------------------------------------------------
# the schema walk
#
# One pass over the schema compiles every node into its Spark type and its
# decoder (fo -> value) and encoder ((fo, value) -> None) closures, so the
# value a decoder yields is by construction the one the Spark type takes.
# Per-record decode then runs no schema dispatch, which matters because the
# decoder is compiled inside every read task.


class _Codec(NamedTuple):
    dtype: T.DataType
    decode: Callable[[BinaryIO], Any]
    encode: Callable[[BinaryIO, Any], None]
    nullable: bool = False  # only a union with a null branch sets it


def _write_int(fo: BinaryIO, v: Any) -> None:
    write_long(fo, int(v))


def _timestamp(dtype: T.DataType, unit: str) -> _Codec:
    """Naive datetime <-> count of ``unit`` since the Unix epoch."""
    one = datetime.timedelta(**{unit: 1})
    return _Codec(
        dtype,
        lambda fo: _EPOCH_DT + one * read_long(fo),
        lambda fo, v: write_long(fo, (v - _EPOCH_DT) // one),
    )


def _decimal(node: dict, size: int | None) -> _Codec:
    """Big-endian two's-complement unscaled integer: varint-length-prefixed
    for ``bytes``, exactly ``size`` bytes for ``fixed``. Scaling runs in an
    unbounded context, so DecimalType(38, s) values keep all 38 digits."""
    scale = int(node.get("scale", 0))
    dtype = T.DecimalType(int(node.get("precision", 10)), scale)
    if size is None:
        def dec(fo: BinaryIO) -> Decimal:
            unscaled = int.from_bytes(read_bytes(fo), "big", signed=True)
            return Decimal(unscaled).scaleb(-scale, _EXACT)

        def enc(fo: BinaryIO, v: Decimal) -> None:
            unscaled = int(v.scaleb(scale, _EXACT))
            n = max(1, (unscaled.bit_length() + 8) // 8)
            write_bytes(fo, unscaled.to_bytes(n, "big", signed=True))
    else:
        def dec(fo: BinaryIO) -> Decimal:
            unscaled = int.from_bytes(_read_exact(fo, size), "big", signed=True)
            return Decimal(unscaled).scaleb(-scale, _EXACT)

        def enc(fo: BinaryIO, v: Decimal) -> None:
            fo.write(int(v.scaleb(scale, _EXACT)).to_bytes(size, "big", signed=True))
    return _Codec(dtype, dec, enc)


_PRIMITIVES: dict[str, _Codec] = {
    "null": _Codec(T.NullType(), lambda fo: None, lambda fo, v: None),
    "boolean": _Codec(
        T.BooleanType(),
        lambda fo: _read_exact(fo, 1) != b"\x00",
        lambda fo, v: fo.write(b"\x01" if v else b"\x00"),
    ),
    "int": _Codec(T.IntegerType(), read_long, _write_int),
    "long": _Codec(T.LongType(), read_long, _write_int),
    "float": _Codec(
        T.FloatType(),
        lambda fo: struct.unpack("<f", _read_exact(fo, 4))[0],
        lambda fo, v: fo.write(struct.pack("<f", v)),
    ),
    "double": _Codec(
        T.DoubleType(),
        lambda fo: struct.unpack("<d", _read_exact(fo, 8))[0],
        lambda fo, v: fo.write(struct.pack("<d", float(v))),
    ),
    "string": _Codec(
        T.StringType(),
        lambda fo: read_bytes(fo).decode("utf-8"),
        lambda fo, v: write_bytes(fo, v.encode("utf-8")),
    ),
    "bytes": _Codec(T.BinaryType(), read_bytes, lambda fo, v: write_bytes(fo, bytes(v))),
}

#: (base type, logicalType) -> codec. Any other logical type reads as its
#: base type, as the Avro spec asks: time-millis is an int of milliseconds,
#: time-micros a long of microseconds and uuid a string, and so is their
#: Spark type. Decimal takes its scale from the node, so ``_compile`` builds it.
_LOGICAL: dict[tuple[str, str], _Codec] = {
    ("int", "date"): _Codec(
        T.DateType(),
        lambda fo: _EPOCH_DATE + datetime.timedelta(days=read_long(fo)),
        lambda fo, v: write_long(fo, (v - _EPOCH_DATE).days),
    ),
    ("long", "timestamp-millis"): _timestamp(T.TimestampType(), "milliseconds"),
    ("long", "timestamp-micros"): _timestamp(T.TimestampType(), "microseconds"),
    ("long", "local-timestamp-millis"): _timestamp(T.TimestampNTZType(), "milliseconds"),
    ("long", "local-timestamp-micros"): _timestamp(T.TimestampNTZType(), "microseconds"),
}


def compile_schema(schema: str | dict | list) -> tuple[T.DataType, Callable, Callable]:
    """Walk an Avro schema once -> (Spark type, decoder, encoder).

    The decoder returns exactly the Python value the Spark type takes
    (records as tuples, enums as symbol strings, fixed as bytes, logical
    types as date/datetime/Decimal), and the encoder accepts the same
    values, so ``decode(encode(v)) == v``. A union must be one type with
    or without null (Spark has no variant column type); anything else is
    an :class:`AvroSchemaError`.
    """
    if isinstance(schema, str) and schema.lstrip()[:1] in "[{\"":
        schema = json.loads(schema)
    dtype, decode, encode, _ = _compile(schema, {}, None)
    return dtype, decode, encode


def compile_decoder(schema: str | dict | list) -> Callable[[BinaryIO], Any]:
    return compile_schema(schema)[1]


def compile_encoder(schema: str | dict | list) -> Callable[[BinaryIO, Any], None]:
    return compile_schema(schema)[2]


def _compile(node: Any, named: dict[str, _Codec], ns: str | None) -> _Codec:
    if isinstance(node, str):
        if node in _PRIMITIVES:
            return _PRIMITIVES[node]
        return _resolve_ref(node, named, ns)

    if isinstance(node, list):  # union: varint branch index + value
        branches = [_compile(b, named, ns) for b in node]
        values = [i for i, b in enumerate(branches) if not isinstance(b.dtype, T.NullType)]
        if len(values) != 1:
            raise AvroSchemaError(
                f"only unions of one type with null are translatable, got {node!r}"
            )
        (idx,) = values
        null_idx = next((i for i in range(len(branches)) if i != idx), None)
        decs = [b.decode for b in branches]
        enc_value = branches[idx].encode

        def dec_union(fo: BinaryIO) -> Any:
            i = read_long(fo)
            if not 0 <= i < len(decs):
                raise AvroBinaryError(f"union branch {i} out of range")
            return decs[i](fo)

        def enc_union(fo: BinaryIO, v: Any) -> None:
            if v is None and null_idx is not None:
                write_long(fo, null_idx)
            else:
                write_long(fo, idx)
                enc_value(fo, v)

        return _Codec(branches[idx].dtype, dec_union, enc_union, null_idx is not None)

    if not isinstance(node, dict) or not isinstance(node.get("type"), str):
        raise AvroSchemaError(f"malformed Avro schema node: {node!r}")
    kind = node["type"]
    logical = node.get("logicalType")

    if kind in _PRIMITIVES:
        if kind == "bytes" and logical == "decimal":
            return _decimal(node, None)
        return _LOGICAL.get((kind, logical), _PRIMITIVES[kind])

    if kind == "record":
        fullname, inner_ns = _fullname_and_ns(node, ns)
        fields = node.get("fields", [])
        codecs = [_compile(f["type"], named, inner_ns) for f in fields]
        names = [f["name"] for f in fields]
        decs = [c.decode for c in codecs]
        encs = [c.encode for c in codecs]

        def dec_record(fo: BinaryIO) -> tuple:
            return tuple(d(fo) for d in decs)

        def enc_record(fo: BinaryIO, v: Any) -> None:
            # accepts tuple/list (positional) or dict (by field name)
            if isinstance(v, dict):
                for name, e in zip(names, encs):
                    e(fo, v.get(name))
            else:
                for x, e in zip(v, encs):
                    e(fo, x)

        st = T.StructType([
            T.StructField(
                f["name"], c.dtype, nullable=c.nullable,
                metadata={"doc": f["doc"]} if "doc" in f else None,
            )
            for f, c in zip(fields, codecs)
        ])
        # defined after its fields: a record cannot refer to itself, since
        # no Spark type can hold a recursive one
        return _define(named, fullname, _Codec(st, dec_record, enc_record))

    if kind == "array":
        items = _compile(node["items"], named, ns)
        item = items.decode
        enc_item = items.encode

        def dec_array(fo: BinaryIO) -> list:
            out = []
            while True:
                count = read_long(fo)
                if count == 0:
                    return out
                if count < 0:  # negative count => block byte size follows
                    count = -count
                    read_long(fo)
                for _ in range(count):
                    out.append(item(fo))

        def enc_array(fo: BinaryIO, v: list) -> None:
            if v:
                write_long(fo, len(v))
                for x in v:
                    enc_item(fo, x)
            write_long(fo, 0)

        return _Codec(T.ArrayType(items.dtype, items.nullable), dec_array, enc_array)

    if kind == "map":
        values = _compile(node["values"], named, ns)
        val = values.decode
        enc_val = values.encode

        def dec_map(fo: BinaryIO) -> dict:
            out: dict[str, Any] = {}
            while True:
                count = read_long(fo)
                if count == 0:
                    return out
                if count < 0:
                    count = -count
                    read_long(fo)
                for _ in range(count):
                    # key MUST decode before value (assignment evaluates
                    # its right side first — inlining would swap the reads)
                    k = read_bytes(fo).decode("utf-8")
                    out[k] = val(fo)

        def enc_map(fo: BinaryIO, v: dict) -> None:
            if v:
                write_long(fo, len(v))
                for k, x in v.items():
                    write_bytes(fo, k.encode("utf-8"))
                    enc_val(fo, x)
            write_long(fo, 0)

        return _Codec(
            T.MapType(T.StringType(), values.dtype, values.nullable), dec_map, enc_map
        )

    if kind == "enum":
        symbols = node["symbols"]
        index = {s: i for i, s in enumerate(symbols)}

        def dec_enum(fo: BinaryIO) -> str:
            i = read_long(fo)
            if not 0 <= i < len(symbols):
                raise AvroBinaryError(f"enum index {i} out of range")
            return symbols[i]

        codec = _Codec(T.StringType(), dec_enum, lambda fo, v: write_long(fo, index[v]))
        return _define(named, _fullname_and_ns(node, ns)[0], codec)

    if kind == "fixed":
        size = node["size"]
        if logical == "decimal":
            codec = _decimal(node, size)
        else:
            def enc_fixed(fo: BinaryIO, v: bytes) -> None:
                if len(v) != size:
                    raise AvroBinaryError(f"fixed size mismatch: {len(v)} != {size}")
                fo.write(v)

            codec = _Codec(T.BinaryType(), lambda fo: _read_exact(fo, size), enc_fixed)
        return _define(named, _fullname_and_ns(node, ns)[0], codec)

    raise AvroSchemaError(f"untranslatable Avro type: {node!r}")


def _define(named: dict[str, _Codec], fullname: str | None, codec: _Codec) -> _Codec:
    """Register a named type under its fullname; Avro forbids redefinition."""
    if fullname:
        if fullname in named:
            raise AvroSchemaError(f"named type defined twice: {fullname!r}")
        named[fullname] = codec
    return codec


def _resolve_ref(ref: str, named: dict[str, _Codec], ns: str | None) -> _Codec:
    """Resolve a named-type reference per the Avro spec: a dotted name is a
    fullname looked up as-is; a bare name resolves relative to the enclosing
    namespace first, then the null namespace. Named types are registered
    under fullname ONLY — two records sharing a simple name in different
    namespaces stay distinct instead of the later silently shadowing the
    earlier."""
    if "." in ref:
        if ref in named:
            return named[ref]
    else:
        if ns and f"{ns}.{ref}" in named:
            return named[f"{ns}.{ref}"]
        if ref in named:  # null-namespace definition
            return named[ref]
    raise AvroSchemaError(f"unknown Avro type reference: {ref!r} (namespace {ns!r})")


def _fullname_and_ns(
    node: dict, enclosing_ns: str | None
) -> tuple[str | None, str | None]:
    """Avro-spec naming: a dotted ``name`` is already a fullname (its own
    ``namespace`` attribute is ignored); otherwise the effective namespace is
    the node's ``namespace`` attribute if present, else the enclosing one.
    Returns (fullname, namespace-for-children)."""
    name = node.get("name")
    if not name:
        return None, enclosing_ns
    if "." in name:
        ns = name.rsplit(".", 1)[0]
        return name, ns
    ns = node.get("namespace", enclosing_ns)
    return (f"{ns}.{name}" if ns else name), ns


# ---------------------------------------------------------------------------
# object container file: write


def write_container(
    path: str,
    schema: dict | str,
    records: Iterable[Any],
    codec: str = "null",
    block_records: int = 1000,
    sync_seed: int = 42,
) -> int:
    """Write an Avro Object Container File; returns the record count.

    Deterministic: the sync marker derives from ``sync_seed`` (not random
    bytes), so identical inputs produce identical files — the property the
    correctness fixtures rely on. ``block_records`` bounds block size; the
    per-round fixture uses small blocks deliberately so the splittable read
    path exercises many-block files even at sf0.01.
    """
    if codec not in ("null", "deflate"):
        raise AvroBinaryError(f"unsupported codec {codec!r}")
    schema_json = schema if isinstance(schema, str) else json.dumps(schema)
    encode = compile_encoder(schema_json)
    # 16 deterministic sync bytes from the seed via a tiny LCG
    state = sync_seed & 0xFFFFFFFF or 1
    sync = bytearray()
    for _ in range(SYNC_SIZE):
        state = (state * 1103515245 + 12345) & 0xFFFFFFFF
        sync.append((state >> 16) & 0xFF)
    sync = bytes(sync)

    n = 0
    with open(path, "wb") as fo:
        fo.write(MAGIC)
        meta = {
            "avro.schema": schema_json.encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
        }
        write_long(fo, len(meta))
        for k, v in meta.items():
            write_bytes(fo, k.encode("utf-8"))
            write_bytes(fo, v)
        write_long(fo, 0)
        fo.write(sync)

        buf = io.BytesIO()
        count = 0

        def flush() -> None:
            nonlocal count
            if not count:
                return
            data = buf.getvalue()
            if codec == "deflate":
                # Raw RFC 1951 deflate per the Avro spec: no zlib header, no
                # Adler-32 trailer. compressobj(wbits=-15) emits exactly that
                # (slicing zlib.compress output would leave trailer bytes).
                c = zlib.compressobj(9, zlib.DEFLATED, -15)
                data = c.compress(data) + c.flush()
            write_long(fo, count)
            write_long(fo, len(data))
            fo.write(data)
            fo.write(sync)
            buf.seek(0)
            buf.truncate()
            count = 0

        for rec in records:
            encode(buf, rec)
            count += 1
            n += 1
            if count >= block_records:
                flush()
        flush()
    return n


# ---------------------------------------------------------------------------
# object container file: read


def read_header(fo: BinaryIO) -> tuple[str, str, bytes, int]:
    """Parse the container header → (schema_json, codec, sync, body_offset)."""
    if _read_exact(fo, 4) != MAGIC:
        raise AvroBinaryError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        count = read_long(fo)
        if count == 0:
            break
        if count < 0:
            count = -count
            read_long(fo)
        for _ in range(count):
            k = read_bytes(fo).decode("utf-8")
            meta[k] = read_bytes(fo)
    sync = _read_exact(fo, SYNC_SIZE)
    schema_json = meta["avro.schema"].decode("utf-8")
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema_json, codec, sync, fo.tell()


def _decode_block(
    fo: BinaryIO, codec: str, sync: bytes, decode: Callable[[BinaryIO], Any]
) -> Iterator[Any]:
    count = read_long(fo)
    size = read_long(fo)
    data = _read_exact(fo, size)
    if codec == "deflate":
        data = zlib.decompress(data, -15)
    elif codec != "null":
        raise AvroBinaryError(f"unsupported codec {codec!r}")
    bo = io.BytesIO(data)
    for _ in range(count):
        yield decode(bo)
    if bo.read(1):
        raise AvroBinaryError("trailing bytes in block")
    if _read_exact(fo, SYNC_SIZE) != sync:
        raise AvroBinaryError("sync marker mismatch (corrupt block)")


def read_container(path: str) -> tuple[str, Iterator[Any]]:
    """Whole-file read → (schema_json, record iterator): one split that
    covers the whole body. The distributed path plans many splits through
    ``read_container_split``; this one backs tests and driver-side fixture
    verification."""
    with open(path, "rb") as fo:
        schema_json, codec, sync, body_offset = read_header(fo)
        size = os.fstat(fo.fileno()).st_size
    return schema_json, read_container_split(
        path, body_offset - SYNC_SIZE, size, schema_json, codec, sync.hex()
    )


def _seek_to_sync(fo: BinaryIO, start: int, end: int, sync: bytes) -> int:
    """Scan ``[start, end)`` for the first sync marker; return the offset
    just after it (a block boundary), or -1 if none — the Hadoop-style
    split-alignment rule. Reads in 64 KiB chunks with a SYNC_SIZE-1 overlap
    so markers spanning chunk edges are found."""
    fo.seek(start)
    pos = start
    tail = b""
    chunk_size = 64 * 1024
    while pos < end:
        # read up to SYNC_SIZE past `end` so a marker STARTING in-range but
        # extending beyond it is still found (it belongs to this split)
        chunk = fo.read(min(chunk_size, end - pos + SYNC_SIZE))
        if not chunk:
            return -1
        hay = tail + chunk
        i = hay.find(sync)
        if i != -1:
            marker_start = pos - len(tail) + i
            if marker_start >= end:  # next split's marker
                return -1
            return marker_start + SYNC_SIZE
        tail = hay[-(SYNC_SIZE - 1):]
        pos += len(chunk)
    return -1


def read_container_split(
    path: str,
    split_start: int,
    split_end: int,
    schema_json: str,
    codec: str,
    sync_hex: str,
) -> Iterator[Any]:
    """Decode exactly the blocks owned by byte split [split_start, split_end).

    Ownership rule (same as Avro's Hadoop input format): a block is owned
    by the split in which its PRECEDING sync marker starts. Align to the
    first sync starting in ``[split_start, split_end)`` (the header's
    trailing sync counts — the planner passes ``body_offset - SYNC_SIZE``
    as the first split's start), decode that block, and keep going while
    each block's preceding sync started before ``split_end``. Every block
    is read by exactly one task, any byte range works, and no coordination
    beyond the header parse is needed — this is what makes a 100 TB
    container file scan out to one task per ~128 MB split.
    """
    sync = bytes.fromhex(sync_hex)
    decode = compile_decoder(schema_json)
    with open(path, "rb") as fo:
        file_size = os.fstat(fo.fileno()).st_size
        pos = _seek_to_sync(fo, split_start, split_end, sync)
        if pos == -1:
            return
        fo.seek(pos)
        while pos < file_size:
            yield from _decode_block(fo, codec, sync, decode)
            pos = fo.tell()
            # the block we'd read next is preceded by the sync we just
            # consumed at pos - SYNC_SIZE; past split_end it belongs to
            # the next task
            if pos - SYNC_SIZE >= split_end:
                return
