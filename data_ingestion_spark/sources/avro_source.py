"""Avro source + sink (rebuild extension — no reference counterpart).

The reference parses CSV/JSON/TXT/XML/XLSX only
(src/infrastructure/parser_adapter.rs:32-58); Avro Object Container Files
are the other ubiquitous landing format. Spark's native reader lives in the
external ``spark-avro`` module, which this container does not bundle, so —
exactly like the XLSX reader — the decode is a minimal pure-stdlib
implementation of the PUBLIC Avro 1.11 spec (binary encoding + Object
Container File framing, https://avro.apache.org/docs/current/specification/):

- zig-zag varint longs, IEEE little-endian float/double, length-prefixed
  bytes/string
- unions, arrays, maps, enums, fixed, nested records
- ``null`` and ``deflate`` codecs (deflate = raw zlib, stdlib)

Distribution model (100 TB): each container file decodes whole on an
executor through ``files.decode_files`` — horizontal across a directory of
thousands of container files (the normal Avro landing layout). The schema
comes from a single header peek at the lexicographically first file (its
first 64 KiB), like the CSV header read.
Single multi-GB container files would want sync-marker splitting; that's
documented out of scope — Avro landings are many-file by construction
(one file per producer flush).

The writer exists so the sink surface and test fixtures need no external
library either; it emits spec-compliant files that any Avro reader accepts.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..errors import ParseError
from .files import decode_files, first_file

_MAGIC = b"Obj\x01"

#: Bytes of the first file the schema peek collects to the driver: the
#: magic, the metadata map and the sync marker must fit in them.
HEADER_PEEK_BYTES = 65536

# ---------------------------------------------------------------------------
# Binary primitives (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------------


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) < n:
            raise ParseError("Truncated Avro data")
        self.pos += n
        return b

    def read_long(self) -> int:
        """Zig-zag base-128 varint."""
        shift = 0
        acc = 0
        while True:
            if self.pos >= len(self.buf):
                raise ParseError("Truncated Avro varint")
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 70:
                raise ParseError("Avro varint too long")
        return (acc >> 1) ^ -(acc & 1)

    def read_bytes(self) -> bytes:
        n = self.read_long()
        if n < 0:
            raise ParseError("Negative Avro bytes length")
        return self.read(n)


def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


# ---------------------------------------------------------------------------
# Schema-driven decode / encode
# ---------------------------------------------------------------------------

_PRIMITIVES = {
    "null": (lambda r: None, T.NullType()),
    "boolean": (lambda r: r.read(1) != b"\x00", T.BooleanType()),
    "int": (lambda r: r.read_long(), T.IntegerType()),
    "long": (lambda r: r.read_long(), T.LongType()),
    "float": (lambda r: struct.unpack("<f", r.read(4))[0], T.FloatType()),
    "double": (lambda r: struct.unpack("<d", r.read(8))[0], T.DoubleType()),
    "bytes": (lambda r: r.read_bytes(), T.BinaryType()),
    "string": (lambda r: r.read_bytes().decode("utf-8"), T.StringType()),
}


def _compile(schema: Any):
    """Avro schema JSON → (decode(reader) -> python value, Spark DataType)."""
    if isinstance(schema, str):
        if schema not in _PRIMITIVES:
            raise ParseError(f"Unsupported Avro named-type reference: {schema}")
        return _PRIMITIVES[schema]
    if isinstance(schema, list):  # union — encoded as branch index + value
        branches = [_compile(s) for s in schema]
        non_null = [
            (d, t) for (d, t), s in zip(branches, schema) if s != "null"
        ]
        # ["null", X] (the overwhelmingly common case) types as nullable X;
        # multi-branch unions fall back to stringified JSON-ish repr.
        sp_type = non_null[0][1] if len(non_null) == 1 else T.StringType()

        def dec_union(r, branches=branches, schema=schema, wide=len(non_null) > 1):
            idx = r.read_long()
            if idx < 0 or idx >= len(branches):
                raise ParseError(f"Avro union index {idx} out of range")
            v = branches[idx][0](r)
            if wide and v is not None and not isinstance(v, str):
                v = json.dumps(v, default=str)
            return v

        return dec_union, sp_type
    if not isinstance(schema, dict):
        raise ParseError(f"Bad Avro schema node: {schema!r}")
    t = schema["type"]
    if t in _PRIMITIVES and t != "record":
        return _PRIMITIVES[t]
    if t == "record":
        fields = [(f["name"], _compile(f["type"])) for f in schema["fields"]]

        def dec_record(r, fields=fields):
            return {name: dec(r) for name, (dec, _) in fields}

        sp = T.StructType(
            [T.StructField(n, ty, True) for n, (_, ty) in fields]
        )
        return dec_record, sp
    if t == "array":
        item_dec, item_ty = _compile(schema["items"])

        def dec_array(r, item_dec=item_dec):
            out = []
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:  # negative count ⇒ block byte-size follows
                    n = -n
                    r.read_long()
                for _ in range(n):
                    out.append(item_dec(r))

        return dec_array, T.ArrayType(item_ty, True)
    if t == "map":
        val_dec, val_ty = _compile(schema["values"])

        def dec_map(r, val_dec=val_dec):
            out = {}
            while True:
                n = r.read_long()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    r.read_long()
                for _ in range(n):
                    k = r.read_bytes().decode("utf-8")
                    out[k] = val_dec(r)
            return out

        return dec_map, T.MapType(T.StringType(), val_ty, True)
    if t == "enum":
        symbols = list(schema["symbols"])

        def dec_enum(r, symbols=symbols):
            i = r.read_long()
            if i < 0 or i >= len(symbols):
                raise ParseError(f"Avro enum index {i} out of range")
            return symbols[i]

        return dec_enum, T.StringType()
    if t == "fixed":
        size = int(schema["size"])
        return (lambda r, size=size: r.read(size)), T.BinaryType()
    # logicalType wrappers decode as their base type (documented: no
    # date/decimal reinterpretation — same stance as the stringly parsers)
    if isinstance(t, (dict, list)):
        return _compile(t)
    raise ParseError(f"Unsupported Avro type: {t!r}")


# ---------------------------------------------------------------------------
# Object Container File framing
# ---------------------------------------------------------------------------


def _read_header(r: _Reader) -> tuple[dict, bytes]:
    if r.read(4) != _MAGIC:
        raise ParseError("Not an Avro Object Container File (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.read_long()
        for _ in range(n):
            k = r.read_bytes().decode("utf-8")
            meta[k] = r.read_bytes()
    sync = r.read(16)
    return meta, sync


def decode_container(data: bytes) -> tuple[Any, list[dict]]:
    """Decode a full OCF → (schema_json, records). Raises ParseError on junk."""
    r = _Reader(data)
    meta, sync = _read_header(r)
    try:
        schema = json.loads(meta["avro.schema"])
    except (KeyError, ValueError) as ex:
        raise ParseError(f"Bad avro.schema header: {ex}") from ex
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ParseError(f"Unsupported Avro codec: {codec}")
    dec, _ = _compile(schema)
    records: list[dict] = []
    while r.pos < len(r.buf):
        count = r.read_long()
        size = r.read_long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        br = _Reader(block)
        for _ in range(count):
            records.append(dec(br))
        if r.read(16) != sync:
            raise ParseError("Avro sync-marker mismatch (corrupt block)")
    return schema, records


def avro_to_spark_schema(schema: Any) -> T.StructType:
    """Top-level record schema → Spark StructType."""
    _, sp = _compile(schema)
    if not isinstance(sp, T.StructType):
        # non-record top level → single "value" column
        sp = T.StructType([T.StructField("value", sp, True)])
    return sp


def read_avro(
    spark: SparkSession,
    path: str,
    parser_config: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """Parse Avro container file(s) at ``path`` into a typed DataFrame.

    Native types preserved (like JSON/ORC). The schema comes from the
    header of the lexicographically first file (only its first
    ``HEADER_PEEK_BYTES`` reach the driver); record decode runs distributed.
    """
    head = first_file(spark, path, HEADER_PEEK_BYTES)
    if head is None:
        raise ParseError(f"No Avro files at: {path}")
    meta, _ = _read_header(_Reader(head))
    try:
        schema = json.loads(meta["avro.schema"])
    except (KeyError, ValueError) as ex:
        raise ParseError(f"Bad avro.schema header: {ex}") from ex
    sp_schema = avro_to_spark_schema(schema)
    names = sp_schema.fieldNames()
    is_record = isinstance(schema, dict) and schema.get("type") == "record"

    def decode(data: bytes) -> list[list]:
        _, recs = decode_container(data)
        if is_record:
            return [[rec.get(n) for n in names] for rec in recs]
        return [[rec] for rec in recs]

    return decode_files(spark, path, decode, sp_schema)


# ---------------------------------------------------------------------------
# Writer (spec-compliant; fixtures + sink surface)
# ---------------------------------------------------------------------------


def _encode(schema: Any, v: Any) -> bytes:
    if isinstance(schema, list):  # union: pick first matching branch
        for i, s in enumerate(schema):
            if (s == "null") == (v is None):
                return _zigzag(i) + (b"" if v is None else _encode(s, v))
        raise ParseError(f"No union branch for {v!r} in {schema}")
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return b""
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    if t in ("int", "long"):
        return _zigzag(int(v))
    if t == "float":
        return struct.pack("<f", float(v))
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "string":
        b = str(v).encode("utf-8")
        return _zigzag(len(b)) + b
    if t == "bytes":
        return _zigzag(len(v)) + bytes(v)
    if t == "record":
        return b"".join(_encode(f["type"], v.get(f["name"])) for f in schema["fields"])
    if t == "array":
        items = list(v or [])
        out = b""
        if items:
            out += _zigzag(len(items)) + b"".join(
                _encode(schema["items"], x) for x in items
            )
        return out + _zigzag(0)
    if t == "map":
        entries = dict(v or {})
        out = b""
        if entries:
            out += _zigzag(len(entries))
            for k, val in entries.items():
                kb = str(k).encode("utf-8")
                out += _zigzag(len(kb)) + kb + _encode(schema["values"], val)
        return out + _zigzag(0)
    if t == "enum":
        return _zigzag(schema["symbols"].index(v))
    if t == "fixed":
        b = bytes(v)
        if len(b) != int(schema["size"]):
            raise ParseError("fixed size mismatch")
        return b
    raise ParseError(f"Unsupported Avro type for encode: {t!r}")


def write_avro_file(
    path: str,
    schema: Any,
    records: list[dict],
    codec: str = "null",
    sync_marker: bytes = b"0123456789abcdef",
    records_per_block: int = 1000,
) -> None:
    """Write one Avro Object Container File (null or deflate codec)."""
    if codec not in ("null", "deflate"):
        raise ParseError(f"Unsupported Avro codec: {codec}")
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    buf = io.BytesIO()
    buf.write(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    buf.write(_zigzag(len(meta)))
    for k, v in meta.items():
        kb = k.encode()
        buf.write(_zigzag(len(kb)) + kb + _zigzag(len(v)) + v)
    buf.write(_zigzag(0))
    buf.write(sync_marker)
    for i in range(0, len(records), records_per_block) or [0]:
        chunk = records[i : i + records_per_block]
        if not chunk:
            continue
        body = b"".join(_encode(schema, rec) for rec in chunk)
        if codec == "deflate":
            comp = zlib.compressobj(9, zlib.DEFLATED, -15)
            body = comp.compress(body) + comp.flush()
        buf.write(_zigzag(len(chunk)) + _zigzag(len(body)) + body + sync_marker)
    with open(path, "wb") as f:
        f.write(buf.getvalue())


def write_avro(
    df: DataFrame,
    path: str,
    schema: Any,
    codec: str = "null",
) -> int:
    """Avro sink: write each partition as one container file under ``path``.

    Executor-side encode via foreachPartition — the same distribution model
    as the Mongo bulk sink (sinks/document_sink.py). Returns file count.
    """
    os.makedirs(path, exist_ok=True)
    names = df.columns
    sc_path = path

    def write_part(it):
        rows = [dict(zip(names, r)) for r in it]
        if not rows:
            return
        import uuid as _uuid

        write_avro_file(
            os.path.join(sc_path, f"part-{_uuid.uuid4().hex}.avro"),
            schema,
            rows,
            codec=codec,
        )

    df.foreachPartition(write_part)
    return len([f for f in os.listdir(path) if f.endswith(".avro")])
