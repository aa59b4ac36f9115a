"""Dependency-free Apache Avro binary codec + Object Container Files.

The runtime ships no Avro library (no ``fastavro``/``avro``; DuckDB's
avro extension is absent), but Apache Iceberg's manifest and
manifest-list files are Avro OCF by spec — so this module implements
the subset of the Avro 1.11 specification those files need, from the
public spec (https://avro.apache.org/docs/1.11.1/specification/):

- binary encoding for null / boolean / int / long (zigzag varint) /
  float / double / bytes / string / fixed / enum / array / map /
  union / record, including named-type references;
- Object Container Files: ``Obj\\x01`` magic, file-metadata map
  (``avro.schema`` JSON + ``avro.codec``), sync-marker-delimited data
  blocks, ``null`` and ``deflate`` (raw DEFLATE, RFC 1951) codecs.

Values map to plain Python: records/maps -> dict, arrays -> list,
bytes/fixed -> bytes, unions -> the branch value (``None`` for null).
Writer and reader are both here so tests round-trip without an external
golden file, and test_avro_ocf pins hand-computed spec byte vectors
(zigzag varints, OCF magic/layout) so the pair cannot drift from the
spec together.

Scale note: manifests are decoded one file per executor task (see
``iceberg.plan_files_distributed``); a single manifest holds O(10^3)
entries, so per-record Python here is off the per-row data path — the
same batching contract as the media codecs (one Python call per
*object*, never per row of table data).
"""

from __future__ import annotations

import json
import os
import struct
import zlib

__all__ = [
    "encode_long", "decode_long",
    "datum_to_bytes", "datum_from_bytes",
    "write_ocf", "read_ocf", "read_ocf_header",
    "MAGIC",
]

MAGIC = b"Obj\x01"

_PRIMITIVES = {"null", "boolean", "int", "long",
               "float", "double", "bytes", "string"}


# ---------------------------------------------------------------- varints

def encode_long(n: int) -> bytes:
    """Zigzag-then-varint encoding shared by Avro int and long."""
    z = (n << 1) ^ (n >> 63) if n < 0 else (n << 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_long(buf: bytes, pos: int) -> tuple[int, int]:
    """Bounds-checked decode: raises ValueError on truncation or a
    varint overrunning 64 bits (hostile input must not spin the shift
    unbounded)."""
    z = 0
    shift = 0
    while True:
        if pos >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
        if shift > 63:
            raise ValueError("varint overruns 64 bits")
    return (z >> 1) ^ -(z & 1), pos


# ---------------------------------------------------------------- schemas

def _resolve(schema, names: dict):
    """Normalize a schema node; register/look up named types."""
    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return schema
        if schema in names:
            return names[schema]
        raise ValueError(f"unknown Avro type reference {schema!r}")
    if isinstance(schema, list):          # union
        return ["union", [_resolve(s, names) for s in schema]]
    t = schema["type"]
    if t in _PRIMITIVES and len(schema) <= 2:
        return t
    if t in ("record", "enum", "fixed"):
        name = schema.get("name")
        node = [t, schema, None]          # children filled below
        if name:
            names[name] = node
        if t == "record":
            # (name, node, (has_default, default)) — the writer falls
            # back to the declared default when a value dict lacks the
            # field, so schemas can GROW fields without breaking
            # re-encoding of records decoded under an older schema
            # (e.g. manifest compaction over pre-upgrade manifests)
            node[2] = [(f["name"], _resolve(f["type"], names),
                        ("default" in f, f.get("default")))
                       for f in schema["fields"]]
        return node
    if t == "array":
        return ["array", _resolve(schema["items"], names)]
    if t == "map":
        return ["map", _resolve(schema["values"], names)]
    if t in _PRIMITIVES:                  # annotated primitive (logicalType)
        return t
    raise ValueError(f"unsupported Avro type {t!r}")


# ---------------------------------------------------------------- encode

def _encode(node, value, out: bytearray) -> None:
    if isinstance(node, str):
        if node == "null":
            return
        if node == "boolean":
            out.append(1 if value else 0)
        elif node in ("int", "long"):
            out += encode_long(int(value))
        elif node == "float":
            out += struct.pack("<f", value)
        elif node == "double":
            out += struct.pack("<d", value)
        elif node == "bytes":
            out += encode_long(len(value))
            out += bytes(value)
        elif node == "string":
            raw = value.encode("utf-8")
            out += encode_long(len(raw))
            out += raw
        return
    kind = node[0]
    if kind == "union":
        branches = node[1]
        idx = _pick_branch(branches, value)
        out += encode_long(idx)
        _encode(branches[idx], value, out)
    elif kind == "record":
        for fname, fnode, (has_default, default) in node[2]:
            if fname in value:
                _encode(fnode, value[fname], out)
            elif has_default:
                _encode(fnode, default, out)
            else:
                raise ValueError(
                    f"record value missing required field {fname!r}")
    elif kind == "array":
        if value:
            out += encode_long(len(value))
            for item in value:
                _encode(node[1], item, out)
        out += encode_long(0)
    elif kind == "map":
        if value:
            out += encode_long(len(value))
            for k, v in value.items():
                _encode("string", k, out)
                _encode(node[1], v, out)
        out += encode_long(0)
    elif kind == "fixed":
        raw = bytes(value)
        if len(raw) != node[1]["size"]:
            raise ValueError("fixed size mismatch")
        out += raw
    elif kind == "enum":
        out += encode_long(node[1]["symbols"].index(value))
    else:  # pragma: no cover
        raise ValueError(f"unsupported node {kind}")


def _pick_branch(branches, value) -> int:
    """Choose the union branch for a Python value (null vs the rest).

    Iceberg unions are all ``[null, X]``, so a two-way null check
    covers them; for wider unions fall back to a type probe."""
    for i, b in enumerate(branches):
        if b == "null" and value is None:
            return i
    non_null = [(i, b) for i, b in enumerate(branches) if b != "null"]
    if len(non_null) == 1:
        return non_null[0][0]
    for i, b in non_null:
        if _matches(b, value):
            return i
    raise ValueError(f"no union branch for {type(value).__name__}")


_PY_TYPES = {"boolean": bool, "int": int, "long": int, "float": float,
             "double": float, "bytes": (bytes, bytearray), "string": str,
             "record": dict, "map": dict, "array": list,
             "fixed": (bytes, bytearray), "enum": str}


def _matches(node, value) -> bool:
    key = node if isinstance(node, str) else node[0]
    pytype = _PY_TYPES.get(key)
    return pytype is not None and isinstance(value, pytype)


# ---------------------------------------------------------------- decode

def _decode(node, buf: bytes, pos: int):
    if isinstance(node, str):
        if node == "null":
            return None, pos
        if node == "boolean":
            return buf[pos] != 0, pos + 1
        if node in ("int", "long"):
            return decode_long(buf, pos)
        if node == "float":
            if pos + 4 > len(buf):
                raise ValueError("float exceeds buffer")
            return struct.unpack_from("<f", buf, pos)[0], pos + 4
        if node == "double":
            if pos + 8 > len(buf):
                raise ValueError("double exceeds buffer")
            return struct.unpack_from("<d", buf, pos)[0], pos + 8
        if node in ("bytes", "string"):
            n, pos = decode_long(buf, pos)
            if n < 0 or n > len(buf) - pos:
                # slicing would silently return SHORT data — corrupt
                # input must raise, not truncate
                raise ValueError(f"{node} length {n} exceeds buffer")
            raw = buf[pos:pos + n]
            pos += n
            return (raw.decode("utf-8") if node == "string"
                    else bytes(raw)), pos
    kind = node[0]
    if kind == "union":
        idx, pos = decode_long(buf, pos)
        return _decode(node[1][idx], buf, pos)
    if kind == "record":
        rec = {}
        for fname, fnode, _default in node[2]:
            rec[fname], pos = _decode(fnode, buf, pos)
        return rec, pos
    if kind == "array":
        items = []
        while True:
            n, pos = decode_long(buf, pos)
            if n == 0:
                return items, pos
            if n < 0:                      # block with byte-size prefix
                n = -n
                _, pos = decode_long(buf, pos)
            _check_block_count(n, buf, pos)
            for _ in range(n):
                item, pos = _decode(node[1], buf, pos)
                items.append(item)
    if kind == "map":
        result = {}
        while True:
            n, pos = decode_long(buf, pos)
            if n == 0:
                return result, pos
            if n < 0:
                n = -n
                _, pos = decode_long(buf, pos)
            _check_block_count(n, buf, pos)
            for _ in range(n):
                k, pos = _decode("string", buf, pos)
                result[k], pos = _decode(node[1], buf, pos)
    if kind == "fixed":
        size = node[1]["size"]
        if size > len(buf) - pos:
            raise ValueError("fixed value exceeds buffer")
        return bytes(buf[pos:pos + size]), pos + size
    if kind == "enum":
        idx, pos = decode_long(buf, pos)
        return node[1]["symbols"][idx], pos
    raise ValueError(f"unsupported node {kind}")  # pragma: no cover


def _check_block_count(n: int, buf: bytes, pos: int) -> None:
    """A hostile block count must not drive allocation: every item this
    codec can decode consumes >= 1 byte (Iceberg schemas contain no
    zero-width array/map items — arrays of null would be the only such
    type, and we reject over-counts for them too), so a count larger
    than the remaining bytes is corrupt, not merely big."""
    if n < 0 or n > len(buf) - pos:
        raise ValueError(
            f"block count {n} exceeds remaining {len(buf) - pos} bytes")


# ------------------------------------------------------------ public API

def datum_to_bytes(schema_json, value) -> bytes:
    node = _resolve(schema_json, {})
    out = bytearray()
    _encode(node, value, out)
    return bytes(out)


def datum_from_bytes(schema_json, buf: bytes):
    node = _resolve(schema_json, {})
    value, pos = _decode(node, buf, 0)
    if pos != len(buf):
        raise ValueError(f"trailing bytes after datum ({len(buf)-pos})")
    return value


def write_ocf(path: str, schema_json, records, *,
              metadata: dict | None = None, codec: str = "deflate",
              sync: bytes | None = None) -> None:
    """Write an Avro Object Container File (single data block).

    ``sync`` defaults to a deterministic marker derived from the path
    so fixture writes are byte-reproducible."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    node = _resolve(schema_json, {})
    body = bytearray()
    for rec in records:
        _encode(node, rec, body)
    if codec == "deflate":                 # raw DEFLATE (negative wbits)
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        payload = comp.compress(bytes(body)) + comp.flush()
    else:
        payload = bytes(body)
    if sync is None:
        import hashlib
        sync = hashlib.md5(os.path.basename(path).encode()).digest()
    meta = {"avro.schema": json.dumps(schema_json,
                                      separators=(",", ":")).encode(),
            "avro.codec": codec.encode()}
    for k, v in (metadata or {}).items():
        meta[k] = v if isinstance(v, bytes) else str(v).encode()
    out = bytearray(MAGIC)
    _encode(["map", "bytes"], meta, out)
    out += sync
    if records:
        out += encode_long(len(records))
        out += encode_long(len(payload))
        out += payload
        out += sync
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(bytes(out))
    os.replace(tmp, path)


def read_ocf_header(buf: bytes) -> tuple[dict, bytes, int]:
    """Parse magic + file metadata; return (meta, sync, pos)."""
    if buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    meta, pos = _decode(["map", "bytes"], buf, 4)
    sync = bytes(buf[pos:pos + 16])
    return meta, sync, pos + 16


def read_ocf(path: str) -> tuple[dict, list]:
    """Read an OCF fully: returns (file-metadata, records)."""
    with open(path, "rb") as f:
        buf = f.read()
    meta, sync, pos = read_ocf_header(buf)
    schema_json = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec!r}")
    node = _resolve(schema_json, {})
    records = []
    while pos < len(buf):
        count, pos = decode_long(buf, pos)
        size, pos = decode_long(buf, pos)
        if size < 0 or size > len(buf) - pos:
            raise ValueError(f"block size {size} exceeds buffer")
        block = bytes(buf[pos:pos + size])
        pos += size
        if buf[pos:pos + 16] != sync:
            raise ValueError("sync marker mismatch (torn block)")
        pos += 16
        if codec == "deflate":
            block = zlib.decompress(block, wbits=-15)
        _check_block_count(count, block, 0)
        bpos = 0
        for _ in range(count):
            rec, bpos = _decode(node, block, bpos)
            records.append(rec)
        if bpos != len(block):
            raise ValueError("block has trailing bytes")
    return meta, records
