"""Minimal Apache Avro object-container-file reader/writer.

Implements exactly the subset of the public Avro 1.11 specification
(https://avro.apache.org/docs/1.11.1/specification/) needed to read
Iceberg metadata files (manifest lists and manifests) without any Avro
dependency, plus a writer used by the test fixtures:

* container framing: magic ``Obj\\x01``, file-metadata map
  (``avro.schema``/``avro.codec``), 16-byte sync marker, data blocks
  ``(count, byte-size, payload, sync)``;
* codecs: ``null`` and ``deflate`` (raw zlib stream);
* the full binary encoding driven by the embedded writer schema:
  zigzag-varint ints/longs, little-endian float/double, length-prefixed
  bytes/strings, records, enums, fixeds, unions, and block-encoded
  arrays/maps (including negative-count blocks with a byte-size).

Decoded values are plain Python objects; records become dicts keyed by
field name.  Logical types are NOT interpreted (callers see the raw
underlying type), which is what Iceberg replay wants — timestamps stay
micros-since-epoch longs.

This is a metadata-path tool (KB-scale files read on the driver), not a
data-path reader — Avro *data* files should go through a real reader.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Any

MAGIC = b"Obj\x01"


# ------------------------------------------------------------------ #
# binary decoder
# ------------------------------------------------------------------ #


class _Reader:
    def __init__(self, buf: bytes):
        self._b = buf
        self._i = 0

    def read(self, n: int) -> bytes:
        if self._i + n > len(self._b):
            raise EOFError("truncated avro data")
        out = self._b[self._i : self._i + n]
        self._i += n
        return out

    def at_end(self) -> bool:
        return self._i >= len(self._b)

    def long(self) -> int:
        # zigzag varint
        shift = 0
        acc = 0
        while True:
            byte = self.read(1)[0]
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)

    def decode(self, schema: Any) -> Any:
        # schema may be a str (primitive / named-type reference handled
        # by caller via _named), dict, or list (union)
        if isinstance(schema, list):  # union
            return self.decode(schema[self.long()])
        if isinstance(schema, str):
            t = schema
        else:
            t = schema["type"]
        if t == "null":
            return None
        if t == "boolean":
            return self.read(1) != b"\x00"
        if t in ("int", "long"):
            return self.long()
        if t == "float":
            return struct.unpack("<f", self.read(4))[0]
        if t == "double":
            return struct.unpack("<d", self.read(8))[0]
        if t == "bytes":
            return self.read(self.long())
        if t == "string":
            return self.read(self.long()).decode("utf-8")
        if t == "record":
            return {
                f["name"]: self.decode(f["type"]) for f in schema["fields"]
            }
        if t == "enum":
            return schema["symbols"][self.long()]
        if t == "fixed":
            return self.read(schema["size"])
        if t == "array":
            out = []
            while True:
                n = self.long()
                if n == 0:
                    break
                if n < 0:
                    self.long()  # block byte size — skippable, unused
                    n = -n
                for _ in range(n):
                    out.append(self.decode(schema["items"]))
            return out
        if t == "map":
            out = {}
            while True:
                n = self.long()
                if n == 0:
                    break
                if n < 0:
                    self.long()
                    n = -n
                for _ in range(n):
                    k = self.read(self.long()).decode("utf-8")
                    out[k] = self.decode(schema["values"])
            return out
        raise ValueError(f"unsupported avro type: {t!r}")


def _resolve_named(schema: Any, names: dict[str, Any]) -> Any:
    """Replace named-type references with their definitions (one pass,
    Iceberg metadata schemas define before use)."""
    if isinstance(schema, str):
        return names.get(schema, schema)
    if isinstance(schema, list):
        return [_resolve_named(s, names) for s in schema]
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "error"):
            names[schema["name"]] = schema
            schema["fields"] = [
                {**f, "type": _resolve_named(f["type"], names)}
                for f in schema["fields"]
            ]
        elif t in ("enum", "fixed"):
            names[schema["name"]] = schema
        elif t == "array":
            schema["items"] = _resolve_named(schema["items"], names)
        elif t == "map":
            schema["values"] = _resolve_named(schema["values"], names)
        elif isinstance(t, (dict, list)):
            schema["type"] = _resolve_named(t, names)
        return schema
    return schema


def read_container(path: str) -> tuple[Any, list[Any]]:
    """Read an Avro object container file → (writer schema, records)."""
    with open(path, "rb") as fh:
        data = fh.read()
    r = _Reader(data)
    if r.read(4) != MAGIC:
        raise ValueError(f"not an avro container file: {path}")
    meta = r.decode({"type": "map", "values": "bytes"})
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    schema = _resolve_named(schema, {})
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    sync = r.read(16)
    records: list[Any] = []
    while not r.at_end():
        count = r.long()
        size = r.long()
        block = r.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        elif codec != "null":
            raise ValueError(f"unsupported avro codec: {codec}")
        br = _Reader(block)
        for _ in range(count):
            records.append(br.decode(schema))
        if r.read(16) != sync:
            raise ValueError("avro sync marker mismatch")
    return schema, records


# ------------------------------------------------------------------ #
# binary encoder (null codec) — used by test fixtures
# ------------------------------------------------------------------ #


class _Writer:
    def __init__(self):
        self._out = io.BytesIO()

    def write(self, b: bytes) -> None:
        self._out.write(b)

    def long(self, v: int) -> None:
        v = (v << 1) ^ (v >> 63)  # zigzag (python ints: arithmetic shift)
        while True:
            byte = v & 0x7F
            v >>= 7
            if v:
                self.write(bytes([byte | 0x80]))
            else:
                self.write(bytes([byte]))
                break

    def encode(self, schema: Any, value: Any) -> None:
        if isinstance(schema, list):  # union: pick first matching branch
            for i, branch in enumerate(schema):
                if _matches(branch, value):
                    self.long(i)
                    self.encode(branch, value)
                    return
            raise ValueError(f"no union branch for {value!r} in {schema!r}")
        t = schema if isinstance(schema, str) else schema["type"]
        if t == "null":
            return
        if t == "boolean":
            self.write(b"\x01" if value else b"\x00")
        elif t in ("int", "long"):
            self.long(value)
        elif t == "float":
            self.write(struct.pack("<f", value))
        elif t == "double":
            self.write(struct.pack("<d", value))
        elif t == "bytes":
            self.long(len(value))
            self.write(value)
        elif t == "string":
            raw = value.encode("utf-8")
            self.long(len(raw))
            self.write(raw)
        elif t == "record":
            for f in schema["fields"]:
                self.encode(f["type"], value[f["name"]])
        elif t == "enum":
            self.long(schema["symbols"].index(value))
        elif t == "fixed":
            self.write(value)
        elif t == "array":
            if value:
                self.long(len(value))
                for item in value:
                    self.encode(schema["items"], item)
            self.long(0)
        elif t == "map":
            if value:
                self.long(len(value))
                for k, v in value.items():
                    raw = k.encode("utf-8")
                    self.long(len(raw))
                    self.write(raw)
                    self.encode(schema["values"], v)
            self.long(0)
        else:
            raise ValueError(f"unsupported avro type: {t!r}")

    def getvalue(self) -> bytes:
        return self._out.getvalue()


def _matches(branch: Any, value: Any) -> bool:
    t = branch if isinstance(branch, str) else branch["type"]
    if t == "null":
        return value is None
    if value is None:
        return False
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, float)
    if t in ("bytes", "fixed"):
        return isinstance(value, bytes)
    if t in ("string", "enum"):
        return isinstance(value, str)
    if t == "record":
        return isinstance(value, dict)
    if t == "array":
        return isinstance(value, list)
    if t == "map":
        return isinstance(value, dict)
    return False


def write_container(
    schema: Any, records: list[Any], path: str, codec: str = "null"
) -> None:
    """Write an Avro object container file (one block)."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec: {codec}")
    w = _Writer()
    w.write(MAGIC)
    w.encode(
        {"type": "map", "values": "bytes"},
        {
            "avro.schema": json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
        },
    )
    sync = b"\x00" * 16
    w.write(sync)
    body = _Writer()
    for rec in records:
        body.encode(schema, rec)
    payload = body.getvalue()
    if codec == "deflate":
        co = zlib.compressobj(wbits=-15)
        payload = co.compress(payload) + co.flush()
    w.long(len(records))
    w.long(len(payload))
    w.write(payload)
    w.write(sync)
    with open(path, "wb") as fh:
        fh.write(w.getvalue())


# --------------------------------------------------------------------- #
# Source-format adapter: Avro data files as attachable tables.
# --------------------------------------------------------------------- #

_AVRO_TO_SPARK = {
    "null": "string",
    "boolean": "boolean",
    "int": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "bytes": "binary",
    "string": "string",
}


def _avro_field_type(t) -> str:
    """Avro schema type → Spark DDL type for the adapter's supported
    subset (primitives, nullable unions, arrays/maps of primitives,
    enums as strings)."""
    if isinstance(t, list):  # union — nullable primitive is the norm
        non_null = [x for x in t if x != "null"]
        if len(non_null) != 1:
            raise ValueError(f"unsupported avro union {t!r}")
        return _avro_field_type(non_null[0])
    if isinstance(t, dict):
        k = t.get("type")
        if k == "array":
            return f"array<{_avro_field_type(t['items'])}>"
        if k == "map":
            return f"map<string,{_avro_field_type(t['values'])}>"
        if k == "enum":
            return "string"
        if k == "fixed":
            return "binary"
        lt = t.get("logicalType")
        if lt == "date":
            return "date"
        if lt in (
            "timestamp-micros",
            "timestamp-millis",
            "local-timestamp-micros",
            "local-timestamp-millis",
        ):
            # instants surface as their UTC wall clock (exact when the
            # session timezone is UTC — this engine's convention, T4)
            return "timestamp_ntz"
        if k in _AVRO_TO_SPARK:
            return _AVRO_TO_SPARK[k]
        raise ValueError(f"unsupported avro type {t!r}")
    if t in _AVRO_TO_SPARK:
        return _AVRO_TO_SPARK[t]
    raise ValueError(f"unsupported avro type {t!r}")


def load(spark, files, opts: dict):
    """Avro data files → DataFrame via the dependency-free container
    reader.  Driver-side parse like the spreadsheet/spatial single-file
    sources; on a real cluster with the spark-avro package attached,
    ``spark.read.format("avro")`` takes over distributed reads — this
    adapter keeps the format usable (and its option surface testable)
    without that jar.  Top-level record schemas only."""
    import glob as _glob

    from pg_analytics_spark.sources.base import apply_common
    from pg_analytics_spark.types import local_relation

    paths: list[str] = []
    for pattern in files:
        paths.extend(sorted(_glob.glob(pattern)) or [pattern])
    all_rows: list[tuple] = []
    ddl: str | None = None
    names: list[str] | None = None
    for p in paths:
        schema, records = read_container(p)
        if schema.get("type") != "record":
            raise ValueError(f"{p}: top-level avro schema must be a record")
        f_names = [f["name"] for f in schema["fields"]]
        f_ddl = ", ".join(
            f"`{f['name']}` {_avro_field_type(f['type'])}"
            for f in schema["fields"]
        )
        if ddl is None:
            ddl, names = f_ddl, f_names
        elif f_ddl != ddl:
            raise ValueError("avro files in one load must share a schema")
        logicals = {}
        for f in schema["fields"]:
            t = f["type"]
            if isinstance(t, list):
                nn = [x for x in t if x != "null"]
                t = nn[0] if len(nn) == 1 else None
            if isinstance(t, dict):
                lt = t.get("logicalType")
                if lt in (
                    "date",
                    "timestamp-micros",
                    "timestamp-millis",
                    "local-timestamp-micros",
                    "local-timestamp-millis",
                ):
                    logicals[f["name"]] = lt

        def _logical(n, v):
            import datetime as _dt

            lt = logicals.get(n)
            if v is None or lt is None:
                return v
            if lt == "date":
                return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
            us = v * 1000 if lt.endswith("millis") else v
            return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)

        for rec in records:
            all_rows.append(tuple(_logical(n, rec.get(n)) for n in names))
    df = local_relation(spark, all_rows, ddl)
    return apply_common(df, opts)


#: Spark typeName → Avro primitive (writer-side, inverse of
#: _AVRO_TO_SPARK's primitive rows)
_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "byte": "int",
    "short": "int",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    # NTZ = wall clock (spec: local-timestamp-micros); TimestampType =
    # an instant, converted to UTC micros under timestamp-micros
    "timestamp_ntz": {"type": "long", "logicalType": "local-timestamp-micros"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
}


def spark_schema_to_avro(schema, name: str = "row") -> dict:
    """Spark StructType → Avro record schema (every field a nullable
    union — the safe general encoding; arrays of primitives supported,
    deeper nesting needs a real spark-avro runtime)."""
    fields = []
    for f in schema.fields:
        tn = f.dataType.typeName()
        if tn == "array":
            et = f.dataType.elementType.typeName()
            if et not in _SPARK_TO_AVRO or isinstance(
                _SPARK_TO_AVRO[et], dict
            ) or et == "binary":
                # logical-typed / binary elements would need per-element
                # conversion in _cell — reject loudly rather than crash
                # the executor-side encoder
                raise ValueError(
                    f"avro sink: unsupported array element {et!r} ({f.name})"
                )
            at: Any = {"type": "array", "items": _SPARK_TO_AVRO[et]}
        elif tn in _SPARK_TO_AVRO:
            at = _SPARK_TO_AVRO[tn]
        else:
            raise ValueError(
                f"avro sink: unsupported column type {tn!r} ({f.name})"
            )
        fields.append({"name": f.name, "type": ["null", at]})
    return {"type": "record", "name": name, "fields": fields}


def write_avro_dir(df, path: str, codec: str = "null") -> int:
    """DISTRIBUTED Avro sink: each partition writes one object
    container file under ``path`` via this module's dependency-free
    writer — the write happens ON THE EXECUTORS (mapPartitions is the
    legitimate per-partition-imperative case), the driver only sums
    the per-file row counts.  Requires ``path`` to be a filesystem all
    executors share (true in local mode and on any NFS/fuse mount;
    object stores need the hadoop connectors, same story as every
    writer here).  Returns rows written.

    OVERWRITE semantics like every other copy_to format: pre-existing
    ``part-*.avro`` files are cleared first.  Part files are named by
    PARTITION INDEX and land via write-to-temp + atomic rename, so a
    retried or speculative task replaces its own file instead of
    leaving a duplicate — the returned count matches what a re-read
    sees.

    Temporal encoding: DateType → date; TIMESTAMP_NTZ → wall-clock
    local-timestamp-micros; TimestampType (an instant) → UTC
    timestamp-micros computed JVM-side via ``unix_micros`` BEFORE the
    rdd pass — PySpark's Row conversion would otherwise hand Python a
    naive datetime in the executor OS's local zone (not the session
    zone), shifting every instant on hosts where the two differ.
    Exact integer microsecond math throughout.
    """
    import datetime as _dt
    import glob as _glob
    import os as _os
    import uuid as _uuid

    from pyspark.sql import functions as F

    avro_schema = spark_schema_to_avro(df.schema)
    names = [f.name for f in df.schema.fields]
    kinds = {f.name: f.dataType.typeName() for f in df.schema.fields}
    # instants → UTC micros as a COLUMN expression: no Python tz
    # interpretation anywhere (the naive-datetime round trip through
    # TimestampType.fromInternal uses the OS zone, not the session
    # zone — see module tests)
    ts_cols = [n for n in names if kinds[n] == "timestamp"]
    if ts_cols:
        df = df.select(
            *[
                F.unix_micros(F.col(n)).alias(n) if n in ts_cols else F.col(n)
                for n in names
            ]
        )
        for n in ts_cols:
            kinds[n] = "__utc_micros"  # already a long; pass through
    _os.makedirs(path, exist_ok=True)
    for old_part in _glob.glob(_os.path.join(path, "part-*.avro")):
        _os.remove(old_part)
    epoch_d = _dt.date(1970, 1, 1)

    def _cell(name, v):
        if v is None:
            return None
        k = kinds[name]
        if k == "date":
            return (v - epoch_d).days
        if k == "timestamp_ntz":
            e = _dt.datetime(1970, 1, 1)
            return (v - e) // _dt.timedelta(microseconds=1)  # exact µs
        if k == "binary":
            return bytes(v)
        return v

    def _write_part(pid, rows_iter):
        rows = [{n: _cell(n, r[n]) for n in names} for r in rows_iter]
        if not rows:
            yield 0
            return
        fp = _os.path.join(path, f"part-{pid:05d}.avro")
        tmp = fp + f".tmp-{_uuid.uuid4().hex}"
        write_container(avro_schema, rows, tmp, codec=codec)
        _os.replace(tmp, fp)  # atomic: retries/speculation last-write-win
        yield len(rows)

    return int(
        sum(df.rdd.mapPartitionsWithIndex(_write_part).collect())
    )
