"""Pure-Python Avro Object Container File codec.

The reference engine is Avro-native: its one complete job compacts folders
of ``.avro`` container files with reader-schema evolution
(``DefragmentAvroFolder.scala:17-20, 267-272``). This environment has the
core Avro *jars* on the Spark classpath but not the ``spark-avro``
connector (and no network to fetch it), so the engine carries its own
container codec: encode/decode of the 1.x Object Container File format
(magic ``Obj\\x01``, metadata map, sync-marker-delimited blocks) plus full
writer→reader schema resolution per the Avro spec — field defaults, skipped
writer fields, numeric promotions, union resolution.

Fidelity is proven in tests against the *official* JVM implementation
(``org.apache.avro.file.DataFileReader/Writer`` driven over py4j): files we
write are read back by the JVM library and vice versa.

Supported schema surface: null, boolean, int, long, float, double, bytes,
string, record, enum, fixed, array, map, union; logical types date
(int/days) and timestamp-micros/timestamp-millis (long). Codecs: null,
deflate (zlib), snappy (raw snappy + CRC32 suffix, via pyarrow).

Scale posture: this module is bytes→rows only — no Spark imports. The
distributed read/write plumbing (binaryFile scan + mapInPandas decode;
per-partition file writes) lives in :mod:`spark_dba_spark.sources.avro_spark`.
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import os
import struct
import zlib
from typing import Any, Iterable, Iterator

MAGIC = b"Obj\x01"
_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_TS = _dt.datetime(1970, 1, 1)


class TaggedUnion:
    """Explicit union-branch selection for :func:`encode_datum`.

    ``tag`` indexes the FULL union branch list (including any null branch).
    Without it the encoder picks the first value-compatible branch, which
    cannot distinguish e.g. an ``int`` destined for the ``"long"`` branch of
    ``["long", "double"]`` from one destined for ``"double"`` — the Spark
    union mapping (avro_spark) round-trips branch identity through this."""

    __slots__ = ("tag", "value")

    def __init__(self, tag: int, value: Any):
        self.tag = tag
        self.value = value

PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


# --------------------------------------------------------------------------
# Schema handling
# --------------------------------------------------------------------------

def parse_schema(schema: str | dict | list) -> dict | list | str:
    """Normalize a schema (JSON string or already-parsed) to python objects."""
    if isinstance(schema, str):
        s = schema.strip()
        if s.startswith("{") or s.startswith("["):
            return json.loads(s)
        return s  # bare primitive name
    return schema


def schema_type(schema: Any) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def _fields(schema: dict) -> list[dict]:
    return schema["fields"]


_COMPLEX = {"record", "error", "enum", "fixed", "array", "map"}


def parsing_canonical_form(schema: Any) -> str:
    """The Avro spec's Parsing Canonical Form: two schemas with the same
    form encode every datum to the same bytes. Names become full names;
    only name, type, fields, symbols, items, values and size are kept, in
    that order, so docs, aliases, defaults and logical types drop out."""

    def canon(s: Any, ns: str | None) -> Any:
        if isinstance(s, list):
            return [canon(b, ns) for b in s]
        if isinstance(s, str):  # primitive or a named-type reference
            return s if s in PRIMITIVES or "." in s or not ns else f"{ns}.{s}"
        t = s["type"]
        if isinstance(t, (dict, list)) or t not in _COMPLEX:
            return canon(t, ns)
        out: dict[str, Any] = {}
        if t not in ("array", "map"):
            name = s["name"]
            space = s.get("namespace", ns)
            if "." not in name and space:
                name = f"{space}.{name}"
            ns = name.rpartition(".")[0] or None
            out["name"] = name
        out["type"] = "record" if t == "error" else t
        if "fields" in s:
            out["fields"] = [
                {"name": fd["name"], "type": canon(fd["type"], ns)}
                for fd in s["fields"]
            ]
        for k in ("symbols", "items", "values", "size"):
            if k in s:
                out[k] = canon(s[k], ns) if k in ("items", "values") else s[k]
        return out

    return json.dumps(
        canon(parse_schema(schema), None), separators=(",", ":"),
        ensure_ascii=False,
    )


# --------------------------------------------------------------------------
# Binary encoding primitives (Avro spec: zigzag varints, little-endian IEEE)
# --------------------------------------------------------------------------

def _write_long(out: io.BytesIO, v: int) -> None:
    v = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    # zigzag then varint
    if v < 0:  # defensive; zigzag of any int64 is non-negative
        raise ValueError("zigzag produced negative")
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.write(bytes((b | 0x80,)))
        else:
            out.write(bytes((b,)))
            return


def _zigzag_encode(v: int) -> bytes:
    out = io.BytesIO()
    _write_long(out, v)
    return out.getvalue()


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        if len(b) != n:
            raise EOFError(f"wanted {n} bytes, got {len(b)}")
        self.pos += n
        return b

    def read_long(self) -> int:
        v = 0
        shift = 0
        buf = self.buf
        pos = self.pos
        end = len(buf)
        while True:
            if pos >= end:
                raise EOFError("truncated varint")
            b = buf[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
            if shift > 63:  # int64 fits in 10 varint bytes
                raise ValueError("varint too long")
        self.pos = pos
        return (v >> 1) ^ -(v & 1)  # un-zigzag

    def at_end(self) -> bool:
        return self.pos >= len(self.buf)


# --------------------------------------------------------------------------
# Datum decode (with writer→reader schema resolution)
# --------------------------------------------------------------------------

def _logical(schema: Any) -> str | None:
    if isinstance(schema, dict):
        return schema.get("logicalType")
    return None


def _decode_logical(schema: Any, v: Any) -> Any:
    lt = _logical(schema)
    if lt == "date":
        return _EPOCH_DATE + _dt.timedelta(days=v)
    if lt in ("timestamp-micros", "local-timestamp-micros"):
        return _EPOCH_TS + _dt.timedelta(microseconds=v)
    if lt in ("timestamp-millis", "local-timestamp-millis"):
        return _EPOCH_TS + _dt.timedelta(milliseconds=v)
    return v


def decode_datum(r: _Reader, writer: Any, reader: Any = None) -> Any:
    """Decode one datum written with `writer` schema, resolved against
    `reader` schema (None → take writer as-is). Implements the Avro spec's
    schema-resolution rules for the supported surface."""
    if reader is None:
        reader = writer
    wt, rt = schema_type(writer), schema_type(reader)

    if wt == "union":
        idx = r.read_long()
        wbranch = writer[idx]
        if rt == "union":
            rbranch = _resolve_union_branch(wbranch, reader)
            return decode_datum(r, wbranch, rbranch)
        return decode_datum(r, wbranch, reader)
    if rt == "union" and wt != "union":
        rbranch = _resolve_union_branch(writer, reader)
        return decode_datum(r, writer, rbranch)

    if wt == "null":
        return None
    if wt == "boolean":
        return r.read(1) == b"\x01"
    if wt == "int" or wt == "long":
        v = r.read_long()
        if rt == "float" or rt == "double":
            return float(v)
        return _decode_logical(reader if rt in ("int", "long") else writer, v)
    if wt == "float":
        v = struct.unpack("<f", r.read(4))[0]
        return float(v)
    if wt == "double":
        return struct.unpack("<d", r.read(8))[0]
    if wt == "bytes":
        b = r.read(r.read_long())
        if rt == "string":
            return b.decode("utf-8")
        return b
    if wt == "string":
        b = r.read(r.read_long())
        if rt == "bytes":
            return b
        return b.decode("utf-8")
    if wt == "fixed":
        return r.read(writer["size"])
    if wt == "enum":
        idx = r.read_long()
        sym = writer["symbols"][idx]
        if rt == "enum" and sym not in reader["symbols"]:
            raise ValueError(f"enum symbol {sym} not in reader schema")
        return sym
    if wt == "array":
        out = []
        ritem = reader["items"] if rt == "array" else writer["items"]
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                r.read_long()  # block byte size — unused
                n = -n
            for _ in range(n):
                out.append(decode_datum(r, writer["items"], ritem))
        return out
    if wt == "map":
        out = {}
        rval = reader["values"] if rt == "map" else writer["values"]
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                r.read_long()
                n = -n
            for _ in range(n):
                k = r.read(r.read_long()).decode("utf-8")
                out[k] = decode_datum(r, writer["values"], rval)
        return out
    if wt == "record":
        if rt != "record":
            raise ValueError(f"cannot resolve record against {rt}")
        rfields = {f["name"]: f for f in _fields(reader)}
        rec = {}
        seen = set()
        for wf in _fields(writer):
            name = wf["name"]
            rf = rfields.get(name)
            if rf is None:
                _skip_datum(r, wf["type"])  # writer-only field
            else:
                rec[name] = decode_datum(r, wf["type"], rf["type"])
                seen.add(name)
        for name, rf in rfields.items():  # reader-only fields → defaults
            if name not in seen:
                if "default" not in rf:
                    raise ValueError(f"field {name} missing and has no default")
                rec[name] = _default_value(rf["type"], rf["default"])
        return rec
    raise ValueError(f"unsupported writer type: {wt}")


def _resolve_union_branch(writer_branch: Any, reader_union: list) -> Any:
    wt = schema_type(writer_branch)
    for rb in reader_union:
        if schema_type(rb) == wt:
            return rb
    # numeric promotion / string-bytes into the union
    promos = {"int": ("long", "float", "double"), "long": ("float", "double"),
              "float": ("double",), "string": ("bytes",), "bytes": ("string",)}
    for rb in reader_union:
        if schema_type(rb) in promos.get(wt, ()):
            return rb
    raise ValueError(f"no reader-union branch for writer type {wt}")


def _default_value(schema: Any, default: Any) -> Any:
    t = schema_type(schema)
    if t == "union":
        return _default_value(schema[0], default)
    if t == "bytes" and isinstance(default, str):
        return default.encode("latin-1")
    if t in ("int", "long") and _logical(schema):
        return _decode_logical(schema, default)
    return default


def _skip_datum(r: _Reader, schema: Any) -> None:
    t = schema_type(schema)
    if t == "union":
        _skip_datum(r, schema[r.read_long()])
    elif t == "null":
        pass
    elif t == "boolean":
        r.read(1)
    elif t in ("int", "long"):
        r.read_long()
    elif t == "float":
        r.read(4)
    elif t == "double":
        r.read(8)
    elif t in ("bytes", "string"):
        r.read(r.read_long())
    elif t == "fixed":
        r.read(schema["size"])
    elif t == "enum":
        r.read_long()
    elif t == "array":
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                size = r.read_long()
                r.read(size)
            else:
                for _ in range(n):
                    _skip_datum(r, schema["items"])
    elif t == "map":
        while True:
            n = r.read_long()
            if n == 0:
                break
            if n < 0:
                size = r.read_long()
                r.read(size)
            else:
                for _ in range(n):
                    r.read(r.read_long())
                    _skip_datum(r, schema["values"])
    elif t == "record":
        for f in _fields(schema):
            _skip_datum(r, f["type"])
    else:
        raise ValueError(f"cannot skip type {t}")


# --------------------------------------------------------------------------
# Datum encode
# --------------------------------------------------------------------------

def _micros_since_epoch(v: _dt.datetime, instant: bool) -> int:
    # Exact integer arithmetic — float64 rounds past ~2100 (±1µs).
    # timestamp-* is an instant: aware datetimes convert to UTC; naive are
    # taken as already-UTC. local-timestamp-* is wall-clock: offset dropped.
    if v.tzinfo is not None:
        v = (
            v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            if instant
            else v.replace(tzinfo=None)
        )
    td = v - _EPOCH_TS
    return td.days * 86_400_000_000 + td.seconds * 1_000_000 + td.microseconds


def _encode_logical(schema: Any, v: Any) -> Any:
    lt = _logical(schema)
    if lt == "date" and isinstance(v, _dt.date):
        return (v - _EPOCH_DATE).days
    if lt in ("timestamp-micros", "local-timestamp-micros") and isinstance(
        v, _dt.datetime
    ):
        return _micros_since_epoch(v, instant=lt == "timestamp-micros")
    if lt in ("timestamp-millis", "local-timestamp-millis") and isinstance(
        v, _dt.datetime
    ):
        # floor to millis, matching java.time.Instant.toEpochMilli
        return _micros_since_epoch(v, instant=lt == "timestamp-millis") // 1000
    return v


def encode_datum(out: io.BytesIO, schema: Any, v: Any) -> None:
    t = schema_type(schema)
    if t == "union":
        if isinstance(v, TaggedUnion):
            _write_long(out, v.tag)
            encode_datum(out, schema[v.tag], v.value)
            return
        for i, branch in enumerate(schema):
            if _union_match(branch, v):
                _write_long(out, i)
                encode_datum(out, branch, v)
                return
        raise ValueError(f"value {v!r} matches no union branch {schema}")
    if t == "null":
        if v is not None:
            raise ValueError(f"non-null {v!r} for null schema")
        return
    if t == "boolean":
        out.write(b"\x01" if v else b"\x00")
    elif t in ("int", "long"):
        _write_long(out, int(_encode_logical(schema, v)))
    elif t == "float":
        out.write(struct.pack("<f", float(v)))
    elif t == "double":
        out.write(struct.pack("<d", float(v)))
    elif t == "bytes":
        b = bytes(v)
        _write_long(out, len(b))
        out.write(b)
    elif t == "string":
        b = str(v).encode("utf-8")
        _write_long(out, len(b))
        out.write(b)
    elif t == "fixed":
        b = bytes(v)
        if len(b) != schema["size"]:
            raise ValueError("fixed size mismatch")
        out.write(b)
    elif t == "enum":
        _write_long(out, schema["symbols"].index(v))
    elif t == "array":
        seq = list(v)
        if seq:
            _write_long(out, len(seq))
            for item in seq:
                encode_datum(out, schema["items"], item)
        _write_long(out, 0)
    elif t == "map":
        items = dict(v)
        if items:
            _write_long(out, len(items))
            for k, val in items.items():
                kb = str(k).encode("utf-8")
                _write_long(out, len(kb))
                out.write(kb)
                encode_datum(out, schema["values"], val)
        _write_long(out, 0)
    elif t == "record":
        for f in _fields(schema):
            name = f["name"]
            if isinstance(v, dict):
                fv = v.get(name, f.get("default"))
            else:
                fv = getattr(v, name)
            encode_datum(out, f["type"], fv)
    else:
        raise ValueError(f"unsupported type {t}")


def _union_match(branch: Any, v: Any) -> bool:
    t = schema_type(branch)
    if t == "null":
        return v is None
    if v is None:
        return False
    if t == "boolean":
        return isinstance(v, bool)
    if t in ("int", "long"):
        if _logical(branch):
            return isinstance(v, (_dt.date, _dt.datetime, int))
        return isinstance(v, int) and not isinstance(v, bool)
    if t in ("float", "double"):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if t == "string":
        return isinstance(v, str)
    if t in ("bytes", "fixed"):
        return isinstance(v, (bytes, bytearray))
    if t == "record":
        return isinstance(v, dict)
    if t == "array":
        return isinstance(v, (list, tuple))
    if t == "map":
        return isinstance(v, dict)
    if t == "enum":
        return isinstance(v, str)
    return False


# --------------------------------------------------------------------------
# Block codecs
# --------------------------------------------------------------------------

def _compress(codec: str, payload: bytes) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        # raw deflate (no zlib header) per the Avro spec
        c = zlib.compressobj(9, zlib.DEFLATED, -15)
        return c.compress(payload) + c.flush()
    if codec == "snappy":
        import pyarrow as pa

        body = pa.compress(payload, codec="snappy", asbytes=True)
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        return body + struct.pack(">I", crc)
    raise ValueError(f"unsupported codec {codec}")


def _decompress(codec: str, payload: bytes) -> bytes:
    if codec == "null":
        return payload
    if codec == "deflate":
        return zlib.decompress(payload, -15)
    if codec == "snappy":
        import pyarrow as pa

        body, crc = payload[:-4], struct.unpack(">I", payload[-4:])[0]
        # raw snappy preamble = uncompressed length varint
        size = 0
        shift = 0
        for byte in body:
            size |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        out = pa.decompress(body, decompressed_size=size, codec="snappy",
                            asbytes=True)
        if zlib.crc32(out) & 0xFFFFFFFF != crc:
            raise ValueError("snappy block CRC mismatch")
        return out
    raise ValueError(f"unsupported codec {codec}")


# --------------------------------------------------------------------------
# Container file read/write
# --------------------------------------------------------------------------

def read_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse the container header → (writer_schema, codec, sync, body_pos)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    r = _Reader(data)
    r.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n = r.read_long()
        if n == 0:
            break
        if n < 0:
            r.read_long()
            n = -n
        for _ in range(n):
            k = r.read(r.read_long()).decode("utf-8")
            meta[k] = r.read(r.read_long())
    sync = r.read(16)
    schema = parse_schema(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    return schema, codec, sync, r.pos


def iter_blocks(f, sync: bytes, pos: int, end: int) -> Iterator[tuple[int, bytes]]:
    """Walk the container blocks of the seekable binary file ``f`` that
    start in ``[pos, end)``; ``pos`` must be a block boundary. Yields
    ``(record count, compressed payload)`` per block, after checking the
    sync marker that ends it. The one block walker: whole-container
    decodes, byte-range splits and block copies all read through it."""
    while pos < end:
        f.seek(pos)
        r = _Reader(f.read(20))  # two varints: record count, payload size
        count = r.read_long()
        size = r.read_long()
        if count < 0 or size < 0:
            raise ValueError(f"corrupt block header @ {pos}")
        f.seek(pos + r.pos)
        payload = f.read(size)
        if len(payload) != size:
            raise EOFError(f"truncated block @ {pos}")
        if f.read(16) != sync:
            raise ValueError(f"sync marker mismatch @ {pos} — corrupt container")
        yield count, payload
        pos += r.pos + size + 16


def decode_block(
    raw: bytes, count: int, writer_schema: Any, reader_schema: Any = None
) -> Iterator[Any]:
    """The ``count`` records of a decompressed block payload, resolved
    against ``reader_schema``. Raises once they are read if bytes are left
    over: the header's count is smaller than what the payload holds (a
    count that is too large runs off the end and raises ``EOFError``)."""
    br = _Reader(raw)
    for _ in range(count):
        yield decode_datum(br, writer_schema, reader_schema)
    if not br.at_end():
        raise ValueError(
            f"{len(raw) - br.pos} bytes left in a block after its "
            f"{count} records — corrupt block"
        )


def read_container(data: bytes, reader_schema: Any = None) -> Iterator[dict]:
    """Decode every record in an Avro container byte string, resolving each
    file's embedded writer schema against `reader_schema` (schema evolution,
    §1.3 of SURVEY.md) when given."""
    writer_schema, codec, sync, pos = read_header(data)
    rs = parse_schema(reader_schema) if reader_schema is not None else None
    for count, payload in iter_blocks(io.BytesIO(data), sync, pos, len(data)):
        yield from decode_block(
            _decompress(codec, payload), count, writer_schema, rs
        )


def schema_of_file(path: str) -> dict:
    """Embedded writer schema from a container file's header (M3 parity:
    HDFSAvroOperations.scala:46-53) — reads only the header bytes."""
    with open(path, "rb") as f:
        head = f.read(1 << 20)  # header is tiny; 1 MiB covers any metadata
    return read_header(head)[0]


class ContainerWriter:
    """Streaming container writer: append records, blocks flushed at
    `block_records` boundaries — or earlier once the encoded block reaches
    `block_bytes` (wide records can't balloon one block past what a
    block-split reader task can hold). Works over any seekless binary
    stream."""

    DEFAULT_BLOCK_BYTES = 16 << 20

    def __init__(self, out, schema: Any, codec: str = "null",
                 block_records: int = 4096, sync: bytes | None = None,
                 block_bytes: int | None = None):
        self.out = out
        self.schema = parse_schema(schema)
        self.codec = codec
        self.block_records = block_records
        self.block_bytes = (
            self.DEFAULT_BLOCK_BYTES if block_bytes is None else block_bytes
        )
        self.sync = sync or os.urandom(16)
        self._buf = io.BytesIO()
        self._count = 0
        self._write_header()

    def _write_header(self) -> None:
        self.out.write(MAGIC)
        meta = {
            "avro.schema": json.dumps(self.schema).encode("utf-8"),
            "avro.codec": self.codec.encode("utf-8"),
        }
        _write_long_to(self.out, len(meta))
        for k, v in meta.items():
            kb = k.encode("utf-8")
            _write_long_to(self.out, len(kb))
            self.out.write(kb)
            _write_long_to(self.out, len(v))
            self.out.write(v)
        _write_long_to(self.out, 0)
        self.out.write(self.sync)

    def append(self, record: Any) -> None:
        # Snapshot-and-truncate: a mid-record encode failure must not leave
        # partial bytes in the block buffer, or a later flush_block would
        # write a block whose record count and byte stream disagree.
        mark = self._buf.tell()
        try:
            encode_datum(self._buf, self.schema, record)
        except Exception:
            self._buf.seek(mark)
            self._buf.truncate(mark)
            raise
        self._count += 1
        if (
            self._count >= self.block_records
            or self._buf.tell() >= self.block_bytes
        ):
            self.flush_block()

    def append_encoded(self, raw: bytes, count: int) -> None:
        """Append ``count`` records already encoded with this writer's
        schema (a decompressed block payload). Small blocks merge into
        one, flushed at the same record and byte bounds as :meth:`append`."""
        self._buf.write(raw)
        self._count += count
        if (
            self._count >= self.block_records
            or self._buf.tell() >= self.block_bytes
        ):
            self.flush_block()

    def flush_block(self) -> None:
        if self._count == 0:
            return
        payload = _compress(self.codec, self._buf.getvalue())
        _write_long_to(self.out, self._count)
        _write_long_to(self.out, len(payload))
        self.out.write(payload)
        self.out.write(self.sync)
        self._buf = io.BytesIO()
        self._count = 0

    def close(self) -> None:
        self.flush_block()


def _write_long_to(out, v: int) -> None:
    out.write(_zigzag_encode(v))


def write_container(records: Iterable[Any], schema: Any, codec: str = "null",
                    block_records: int = 4096) -> bytes:
    out = io.BytesIO()
    w = ContainerWriter(out, schema, codec, block_records)
    for rec in records:
        w.append(rec)
    w.close()
    return out.getvalue()
