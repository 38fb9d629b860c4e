"""Pure-stdlib Apache Avro object-container codec.

Iceberg's metadata tree (``sources/iceberg.py``) stores manifest
lists and manifests as Avro object-container files — the format is
published (https://avro.apache.org/docs/current/specification/,
public spec) and small enough to implement directly, which keeps the
no-third-party constraint intact:

- container = magic ``Obj\\x01`` + file-metadata map (``avro.schema``
  JSON, ``avro.codec``) + 16-byte sync marker, then data blocks of
  ``(count, byte_size, payload, sync)``;
- payload encoding is schema-driven Avro binary: zigzag-varint
  ints/longs, little-endian IEEE floats, length-prefixed
  bytes/strings, records as field concatenation, unions as
  branch-index + value, arrays/maps as count-delimited blocks;
- codecs: ``null`` and ``deflate`` (raw DEFLATE, wbits=-15).

The reader is generic — it decodes ANY container file by the schema
in its own header (so real Iceberg manifests written by other
engines parse here); the writer takes an explicit schema so Iceberg
field-id attributes pass through verbatim in the header JSON.

Scale note: Avro here carries table METADATA only (file lists, at
most O(files) records, driver-side by design — the same contract as
Iceberg's own client). Data files stay parquet and distributed.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib

_MAGIC = b"Obj\x01"
_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


class AvroError(ValueError):
    """Malformed container or value/schema mismatch."""


# --------------------------------------------------------------------------
# schema handling
# --------------------------------------------------------------------------


def _resolve(schema, named: dict):
    """Normalize a parsed-JSON schema node: resolve named-type
    references and register new named types."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in named:
            return named[schema]
        raise AvroError(f"unknown type reference {schema!r}")
    if isinstance(schema, list):  # union
        return ["union", [_resolve(b, named) for b in schema]]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "error"):
            node = ["record", []]
            _register(schema, named, node)
            node[1] = [
                (f["name"], _resolve(f["type"], named)) for f in schema["fields"]
            ]
            return node
        if t == "enum":
            node = ["enum", list(schema["symbols"])]
            _register(schema, named, node)
            return node
        if t == "fixed":
            node = ["fixed", int(schema["size"])]
            _register(schema, named, node)
            return node
        if t == "array":
            return ["array", _resolve(schema["items"], named)]
        if t == "map":
            return ["map", _resolve(schema["values"], named)]
        # {"type": "long", "logicalType": ...} — underlying type wins
        return _resolve(t, named)
    raise AvroError(f"unparseable schema node {schema!r}")


def _register(schema: dict, named: dict, node) -> None:
    name = schema["name"]
    ns = schema.get("namespace")
    named[name] = node
    if ns:
        named[f"{ns}.{name}"] = node
    # full names may also appear inline
    if "." in name:
        named[name.rsplit(".", 1)[1]] = node


def parse_schema(schema_json: str):
    """Parse an Avro schema JSON string into the internal form used
    by :func:`encode` / :func:`decode`."""
    return _resolve(json.loads(schema_json), {})


# --------------------------------------------------------------------------
# binary encoding
# --------------------------------------------------------------------------


def _write_long(buf: io.BytesIO, n: int) -> None:
    z = (n << 1) ^ (n >> 63)  # zigzag, python ints are unbounded so >> is arithmetic
    z &= (1 << 64) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def _read_long(buf) -> int:
    shift = 0
    acc = 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # un-zigzag


def encode(buf: io.BytesIO, schema, value) -> None:
    """Encode ``value`` per ``schema`` (from :func:`parse_schema`)."""
    if schema == "null":
        if value is not None:
            raise AvroError(f"null schema got {value!r}")
        return
    if schema == "boolean":
        buf.write(b"\x01" if value else b"\x00")
        return
    if schema in ("int", "long"):
        _write_long(buf, int(value))
        return
    if schema == "float":
        buf.write(struct.pack("<f", float(value)))
        return
    if schema == "double":
        buf.write(struct.pack("<d", float(value)))
        return
    if schema == "bytes":
        data = bytes(value)
        _write_long(buf, len(data))
        buf.write(data)
        return
    if schema == "string":
        data = str(value).encode("utf-8")
        _write_long(buf, len(data))
        buf.write(data)
        return
    kind, arg = schema
    if kind == "record":
        for fname, fschema in arg:
            encode(buf, fschema, value.get(fname) if isinstance(value, dict) else getattr(value, fname))
        return
    if kind == "union":
        idx = _pick_branch(arg, value)
        _write_long(buf, idx)
        encode(buf, arg[idx], value)
        return
    if kind == "array":
        items = list(value)
        if items:
            _write_long(buf, len(items))
            for it in items:
                encode(buf, arg, it)
        _write_long(buf, 0)
        return
    if kind == "map":
        entries = dict(value)
        if entries:
            _write_long(buf, len(entries))
            for k, v in entries.items():
                encode(buf, "string", k)
                encode(buf, arg, v)
        _write_long(buf, 0)
        return
    if kind == "enum":
        _write_long(buf, arg.index(value))
        return
    if kind == "fixed":
        data = bytes(value)
        if len(data) != arg:
            raise AvroError(f"fixed({arg}) got {len(data)} bytes")
        buf.write(data)
        return
    raise AvroError(f"unsupported schema {schema!r}")


def _pick_branch(branches, value) -> int:
    """First branch the value structurally fits — sufficient for the
    ``["null", X]`` unions Iceberg uses, and a documented best-effort
    for wider unions."""
    for i, b in enumerate(branches):
        if b == "null" and value is None:
            return i
        if b == "boolean" and isinstance(value, bool):
            return i
        if b in ("int", "long") and isinstance(value, int) and not isinstance(value, bool):
            return i
        if b in ("float", "double") and isinstance(value, float):
            return i
        if b == "string" and isinstance(value, str):
            return i
        if b == "bytes" and isinstance(value, (bytes, bytearray)):
            return i
        if isinstance(b, list):
            k = b[0]
            if k == "record" and isinstance(value, dict):
                return i
            if k == "array" and isinstance(value, (list, tuple)):
                return i
            if k == "map" and isinstance(value, dict):
                return i
            if k == "enum" and isinstance(value, str):
                return i
            if k == "fixed" and isinstance(value, (bytes, bytearray)):
                return i
    raise AvroError(f"no union branch for {value!r} in {branches!r}")


def decode(buf, schema):
    """Decode one value per ``schema``."""
    if schema == "null":
        return None
    if schema == "boolean":
        return buf.read(1) == b"\x01"
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return buf.read(_read_long(buf))
    if schema == "string":
        return buf.read(_read_long(buf)).decode("utf-8")
    kind, arg = schema
    if kind == "record":
        return {fname: decode(buf, fschema) for fname, fschema in arg}
    if kind == "union":
        return decode(buf, arg[_read_long(buf)])
    if kind == "array":
        out = []
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:  # block with byte-size prefix
                n = -n
                _read_long(buf)
            for _ in range(n):
                out.append(decode(buf, arg))
    if kind == "map":
        out = {}
        while True:
            n = _read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                _read_long(buf)
            for _ in range(n):
                k = decode(buf, "string")
                out[k] = decode(buf, arg)
    if kind == "enum":
        return arg[_read_long(buf)]
    if kind == "fixed":
        return buf.read(arg)
    raise AvroError(f"unsupported schema {schema!r}")


# --------------------------------------------------------------------------
# object-container files
# --------------------------------------------------------------------------

_SYNC = bytes(range(16))  # deterministic marker: content-independent, spec-legal


def dump_avro(path: str, schema_json: str, records, *, codec: str = "deflate",
              extra_meta: dict | None = None) -> None:
    """Write ``records`` (dicts) to an Avro object-container file."""
    schema = parse_schema(schema_json)
    body = io.BytesIO()
    count = 0
    for rec in records:
        encode(body, schema, rec)
        count += 1
    payload = body.getvalue()
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()
    elif codec != "null":
        raise AvroError(f"unsupported codec {codec!r}")

    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    for k, v in (extra_meta or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode()

    out = io.BytesIO()
    out.write(_MAGIC)
    _write_long(out, len(meta))
    for k, v in meta.items():
        encode(out, "string", k)
        encode(out, "bytes", v)
    _write_long(out, 0)
    out.write(_SYNC)
    if count:
        _write_long(out, count)
        _write_long(out, len(payload))
        out.write(payload)
        out.write(_SYNC)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(out.getvalue())
    os.replace(tmp, path)


def load_avro(path: str):
    """Read an Avro object-container file → ``(meta, records)`` where
    ``meta`` maps header keys to bytes and records are dicts. Decodes
    by the schema in the file's own header."""
    with open(path, "rb") as f:
        return loads_avro(f.read())


def loads_avro(raw: bytes):
    """:func:`load_avro` over in-memory bytes (the executor-side
    entry point for distributed Avro ingestion)."""
    buf = io.BytesIO(raw)
    if buf.read(4) != _MAGIC:
        raise AvroError("not an Avro object-container file")
    meta = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            n = -n
            _read_long(buf)
        for _ in range(n):
            k = decode(buf, "string")
            meta[k] = decode(buf, "bytes")
    sync = buf.read(16)
    schema = parse_schema(meta["avro.schema"].decode())
    codec = meta.get("avro.codec", b"null").decode()
    records = []
    while buf.tell() < len(raw):
        count = _read_long(buf)
        size = _read_long(buf)
        payload = buf.read(size)
        if codec == "deflate":
            payload = zlib.decompressobj(-15).decompress(payload)
        elif codec != "null":
            raise AvroError(f"unsupported codec {codec!r}")
        block = io.BytesIO(payload)
        for _ in range(count):
            records.append(decode(block, schema))
        if buf.read(16) != sync:
            raise AvroError("sync marker mismatch (corrupt block)")
    return meta, records


def read_avro_header(path: str) -> dict:
    """Header metadata map only (schema probe) — reads the file's
    prefix, never the data blocks."""
    with open(path, "rb") as f:
        head = f.read(1 << 20)  # header is tiny; 1 MiB bounds any real schema
    buf = io.BytesIO(head)
    if buf.read(4) != _MAGIC:
        raise AvroError(f"{path}: not an Avro object-container file")
    meta = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            return meta
        if n < 0:
            n = -n
            _read_long(buf)
        for _ in range(n):
            k = decode(buf, "string")
            meta[k] = decode(buf, "bytes")


_AVRO_TO_SQL = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "bytes": "binary",
}


def avro_sql_fields(schema_json: str) -> list[tuple[str, str]]:
    """Flat-record Avro schema → [(column, spark_sql_type)].
    Unions ``["null", X]`` map to nullable X; anything nested raises
    (same flat-relational scope as the other tabular sources)."""
    node = json.loads(schema_json)
    if not (isinstance(node, dict) and node.get("type") == "record"):
        raise AvroError("top-level Avro schema must be a record")
    out = []
    for f in node["fields"]:
        t = f["type"]
        if isinstance(t, list):
            branches = [b for b in t if b != "null"]
            if len(branches) != 1:
                raise AvroError(f"unsupported union {t!r} for column {f['name']!r}")
            t = branches[0]
        if isinstance(t, dict):
            t = t.get("type")  # logical types decode as the base type
        if t not in _AVRO_TO_SQL:
            raise AvroError(
                f"unsupported Avro type {t!r} for column {f['name']!r} "
                "(flat scalar records only)"
            )
        out.append((f["name"], _AVRO_TO_SQL[t]))
    return out
