"""Dependency-free FlatGeobuf (.fgb) reader for the ``st_read`` surface.

The reference reaches FlatGeobuf through GDAL's FlatGeobuf driver
behind DuckDB's spatial extension
(/root/reference/src/duckdb/spatial.rs:57-82).  No GDAL exists in this
environment, so this implements the public spec directly
(https://flatgeobuf.org, spec version 3) including a minimal
FlatBuffers table decoder — the same from-scratch pattern as the
shapefile/GeoPackage/KML/GML readers:

* Container: magic ``fgb\\x03fgb\\x00/01``, a size-prefixed Header
  flatbuffer, an optional packed Hilbert R-tree (SKIPPED — its size is
  computable from features_count × index_node_size; the driver-side
  sequential scan reads every feature anyway), then one size-prefixed
  Feature flatbuffer per row.
* FlatBuffers decoding: vtable-indirected field access (soffset →
  vtable, u16 slot offsets, u32 forward offsets for strings/vectors/
  tables) — the ~60 lines of the binary format this file actually
  needs, not a general runtime.
* Geometry: Point/MultiPoint/LineString/MultiLineString/Polygon/
  MultiPolygon from the flat ``xy`` vector + ``ends`` (ring/part end
  indices in coordinate-pair units) + nested ``parts`` geometries;
  Z/M vectors are ignored (the readers' shared 2D WKT subset).
* Properties: the Header ``columns`` table drives decoding of each
  feature's packed ``properties`` vector ([u16 column index][value]);
  all scalar column types plus String/Json/DateTime/Binary.

Output schema: <typed property columns in header order>,
``geometry_wkt`` and, with ``keep_wkb``, ``wkb_geometry``.
``spatial_filter_box`` applies envelope-intersection driver-side
(sequential scan; the spec's R-tree would serve the same filter at
file-seek granularity — out of scope, documented).  Parsing is
driver-side like the reference's GDAL path; rows land in a DataFrame
and distribute downstream.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.base import _truthy, apply_common
from pg_analytics_spark.sources.geom import (
    box_intersects,
    envelope,
    to_wkb,
    to_wkt,
)
from pg_analytics_spark.types import local_relation

MAGIC = b"fgb\x03fgb"  # + 1 patch byte (0x00 or 0x01)

# GeometryType enum (header.fbs)
GT_UNKNOWN, GT_POINT, GT_LINESTRING, GT_POLYGON = 0, 1, 2, 3
GT_MULTIPOINT, GT_MULTILINESTRING, GT_MULTIPOLYGON = 4, 5, 6

# ColumnType enum (header.fbs)
CT_BYTE, CT_UBYTE, CT_BOOL, CT_SHORT, CT_USHORT = 0, 1, 2, 3, 4
CT_INT, CT_UINT, CT_LONG, CT_ULONG, CT_FLOAT, CT_DOUBLE = 5, 6, 7, 8, 9, 10
CT_STRING, CT_JSON, CT_DATETIME, CT_BINARY = 11, 12, 13, 14

_CT_SPARK = {
    CT_BYTE: "int",
    CT_UBYTE: "int",
    CT_BOOL: "boolean",
    CT_SHORT: "int",
    CT_USHORT: "int",
    CT_INT: "int",
    CT_UINT: "bigint",
    CT_LONG: "bigint",
    CT_ULONG: "bigint",
    CT_FLOAT: "double",
    CT_DOUBLE: "double",
    CT_STRING: "string",
    CT_JSON: "string",
    CT_DATETIME: "string",
    CT_BINARY: "binary",
}

_CT_FMT = {  # fixed-width property encodings
    CT_BYTE: "<b",
    CT_UBYTE: "<B",
    CT_BOOL: "<?",
    CT_SHORT: "<h",
    CT_USHORT: "<H",
    CT_INT: "<i",
    CT_UINT: "<I",
    CT_LONG: "<q",
    CT_ULONG: "<Q",
    CT_FLOAT: "<f",
    CT_DOUBLE: "<d",
}


# ------------------------------------------------------------------ #
# Minimal FlatBuffers table decoder
# ------------------------------------------------------------------ #


class _FBTable:
    """Read-side view of one flatbuffers table at ``pos``."""

    __slots__ = ("buf", "pos", "vt", "vt_len")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        soffset = struct.unpack_from("<i", buf, pos)[0]
        self.vt = pos - soffset
        self.vt_len = struct.unpack_from("<H", buf, self.vt)[0]

    def _slot(self, field: int) -> int:
        """Absolute position of field's data, or 0 if absent."""
        voff = 4 + 2 * field
        if voff >= self.vt_len:
            return 0
        rel = struct.unpack_from("<H", self.buf, self.vt + voff)[0]
        return self.pos + rel if rel else 0

    def scalar(self, field: int, fmt: str, default):
        p = self._slot(field)
        if not p:
            return default
        return struct.unpack_from(fmt, self.buf, p)[0]

    def _indirect(self, field: int) -> int:
        p = self._slot(field)
        if not p:
            return 0
        return p + struct.unpack_from("<I", self.buf, p)[0]

    def string(self, field: int) -> str | None:
        t = self._indirect(field)
        if not t:
            return None
        n = struct.unpack_from("<I", self.buf, t)[0]
        return self.buf[t + 4 : t + 4 + n].decode("utf-8")

    def vector(self, field: int) -> tuple[int, int]:
        """(element start, element count) of a vector field; (0, 0) if
        absent."""
        t = self._indirect(field)
        if not t:
            return 0, 0
        return t + 4, struct.unpack_from("<I", self.buf, t)[0]

    def doubles(self, field: int) -> list[float]:
        start, n = self.vector(field)
        return list(struct.unpack_from(f"<{n}d", self.buf, start)) if n else []

    def uints(self, field: int) -> list[int]:
        start, n = self.vector(field)
        return list(struct.unpack_from(f"<{n}I", self.buf, start)) if n else []

    def bytes_vec(self, field: int) -> bytes:
        start, n = self.vector(field)
        return self.buf[start : start + n]

    def table_vec(self, field: int) -> list["_FBTable"]:
        start, n = self.vector(field)
        out = []
        for i in range(n):
            p = start + 4 * i
            out.append(
                _FBTable(self.buf, p + struct.unpack_from("<I", self.buf, p)[0])
            )
        return out

    def table(self, field: int) -> "_FBTable | None":
        t = self._indirect(field)
        return _FBTable(self.buf, t) if t else None


def _root(buf: bytes) -> _FBTable:
    return _FBTable(buf, struct.unpack_from("<I", buf, 0)[0])


# ------------------------------------------------------------------ #
# FGB → geom tuples
# ------------------------------------------------------------------ #


def _pairs(xy: list[float]) -> list[tuple[float, float]]:
    return [(xy[i], xy[i + 1]) for i in range(0, len(xy), 2)]


def _split_ends(xy, ends):
    """Partition coordinate pairs at the spec's ``ends`` (end index per
    part, in coordinate-pair units, exclusive)."""
    pts = _pairs(xy)
    if not ends:
        return [pts]
    out, prev = [], 0
    for e in ends:
        out.append(pts[prev:e])
        prev = e
    return out


def _decode_geom(g: _FBTable | None, gtype: int):
    """Geometry table (+ header-level type for untyped features) → the
    shared geom tuple."""
    if g is None:
        return None
    t = g.scalar(6, "<B", 0) or gtype
    xy = g.doubles(1)
    ends = g.uints(0)
    if t == GT_POINT:
        pts = _pairs(xy)
        return ("POINT", pts[0]) if pts else None
    if t == GT_MULTIPOINT:
        pts = _pairs(xy)
        return ("MULTIPOINT", pts) if pts else None
    if t == GT_LINESTRING:
        pts = _pairs(xy)
        return ("LINESTRING", pts) if pts else None
    if t == GT_MULTILINESTRING:
        parts = _split_ends(xy, ends)
        return ("MULTILINESTRING", parts) if parts and parts[0] else None
    if t == GT_POLYGON:
        rings = _split_ends(xy, ends)
        return ("POLYGON", rings) if rings and rings[0] else None
    if t == GT_MULTIPOLYGON:
        polys = []
        for part in g.table_vec(7):
            dec = _decode_geom(part, GT_POLYGON)
            if dec is not None:
                polys.append(dec[1])
        return ("MULTIPOLYGON", polys) if polys else None
    raise UnsupportedFormat(
        f"FlatGeobuf geometry type {t} (GeometryCollection/Z/M families "
        "are outside the 2D WKT subset)"
    )


def _decode_props(blob: bytes, columns):
    """Packed properties vector → {column index: python value}."""
    out = {}
    o = 0
    while o + 2 <= len(blob):
        ci = struct.unpack_from("<H", blob, o)[0]
        o += 2
        if ci >= len(columns):
            raise UnsupportedFormat(
                f"property references column {ci} of {len(columns)}"
            )
        ct = columns[ci][1]
        if ct in _CT_FMT:
            fmt = _CT_FMT[ct]
            out[ci] = struct.unpack_from(fmt, blob, o)[0]
            o += struct.calcsize(fmt)
        else:  # length-prefixed
            n = struct.unpack_from("<I", blob, o)[0]
            o += 4
            raw = blob[o : o + n]
            o += n
            out[ci] = raw if ct == CT_BINARY else raw.decode("utf-8")
    return out


def _rtree_size(num_items: int, node_size: int) -> int:
    """Byte size of the packed Hilbert R-tree (spec: 40-byte nodes,
    levels of ceil(n/node_size) up to the root).  DO-WHILE like the
    reference implementation: even a single-feature tree has a leaf
    AND a root level (2 nodes) — a plain while-loop undercounts that
    case and would mis-seek the first feature."""
    node_size = min(max(node_size, 2), 65535)
    n = num_items
    total = n
    while True:
        n = (n + node_size - 1) // node_size
        total += n
        if n == 1:
            break
    return total * 40


def read_fgb(path: str):
    """Parse one .fgb file → (columns [(name, ctype)], rows
    [({ci: value}, geom tuple)])."""
    with open(path, "rb") as fh:
        buf = fh.read()
    if buf[:7] != MAGIC or buf[7] not in (0, 1):
        raise UnsupportedFormat(f"{path}: not a FlatGeobuf file (bad magic)")
    o = 8
    hlen = struct.unpack_from("<I", buf, o)[0]
    header = _root(buf[o + 4 : o + 4 + hlen])
    o += 4 + hlen
    gtype = header.scalar(2, "<B", 0)
    columns = [(c.string(0), c.scalar(1, "<B", 0)) for c in header.table_vec(7)]
    features_count = header.scalar(8, "<Q", 0)
    node_size = header.scalar(9, "<H", 16)
    if node_size > 0 and features_count > 0:
        o += _rtree_size(features_count, node_size)
    rows = []
    while o + 4 <= len(buf):
        flen = struct.unpack_from("<I", buf, o)[0]
        feat = _root(buf[o + 4 : o + 4 + flen])
        o += 4 + flen
        geom = _decode_geom(feat.table(0), gtype)
        props = _decode_props(feat.bytes_vec(1), columns)
        rows.append((props, geom))
    if features_count and len(rows) != features_count:
        raise UnsupportedFormat(
            f"{path}: header promises {features_count} features, "
            f"found {len(rows)}"
        )
    return columns, rows


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    keep_wkb = _truthy(opts.get("keep_wkb"))
    box = None
    if "spatial_filter_box" in opts:
        from pg_analytics_spark.sources.spatial import _parse_box

        box = _parse_box(opts["spatial_filter_box"])

    all_cols: list[tuple[str, int]] = []
    feats = []
    for path in files:
        columns, rows = read_fgb(path)
        for name, ct in columns:
            if (name, ct) not in all_cols:
                all_cols.append((name, ct))
        idx_map = [all_cols.index((name, ct)) for name, ct in columns]
        for props, geom in rows:
            if box is not None and (
                geom is None or not box_intersects(envelope(geom), box)
            ):
                continue  # envelope filter excludes null geometry (GDAL)
            remapped = {idx_map[ci]: v for ci, v in props.items()}
            feats.append((remapped, geom))

    rows_out = []
    for props, geom in feats:
        row = [props.get(i) for i in range(len(all_cols))]
        # a geometry-less feature keeps its properties with NULL
        # geometry — dropping the row would silently lose data (GDAL
        # returns it with NULL geometry too)
        row.append(to_wkt(geom) if geom is not None else None)
        if keep_wkb:
            row.append(
                bytearray(to_wkb(geom)) if geom is not None else None
            )
        rows_out.append(tuple(row))

    parts = [f"`{name}` {_CT_SPARK[ct]}" for name, ct in all_cols]
    parts.append("geometry_wkt string")
    if keep_wkb:
        parts.append("wkb_geometry binary")
    df = local_relation(spark, rows_out, ", ".join(parts))
    return apply_common(df, opts)


# ------------------------------------------------------------------ #
# Fixture-grade writer — minimal FlatBuffers assembler
# ------------------------------------------------------------------ #
#
# Emits spec-valid structure (vtables, forward u32 offsets, packed
# properties, magic + size-prefixed header/features, no index).  Slots
# and vectors are tightly packed rather than size-aligned — fine for
# offset-following readers (this one, and fixture semantics generally);
# the READER side accepts fully-aligned files from real writers, which
# never depend on packing.


class _Asm:
    def __init__(self):
        self.blocks: list[bytearray] = []
        self.fixups: list[tuple[int, int, int, str]] = []

    def add(self, data: bytes | bytearray) -> int:
        self.blocks.append(bytearray(data))
        return len(self.blocks) - 1

    def fix(self, blk: int, off: int, target_blk: int, kind: str = "u32rel"):
        self.fixups.append((blk, off, target_blk, kind))

    def finish(self) -> bytes:
        # FlatBuffers reference offsets are UNSIGNED-forward, and
        # children are built before their parents here — so the final
        # layout REVERSES construction order (after the fixed root
        # slot), placing every parent before its children.  vtables
        # land after their tables as a side effect, which the signed
        # soffset accommodates.
        order = [0] + list(range(len(self.blocks) - 1, 0, -1))
        pos, abs_at = [0] * len(self.blocks), 0
        for i in order:
            pos[i] = abs_at
            abs_at += len(self.blocks[i])
        out = bytearray()
        for i in order:
            out += self.blocks[i]
        for blk, off, target, kind in self.fixups:
            field_abs = pos[blk] + off
            if kind == "u32rel":
                struct.pack_into("<I", out, field_abs, pos[target] - field_abs)
            elif kind == "i32soff":
                # soffset at a table's first 4 bytes: table_abs - vtable_abs
                struct.pack_into("<i", out, field_abs, pos[blk] - pos[target])
            else:  # pragma: no cover
                raise AssertionError(kind)
        return bytes(out)


_SCALAR_FMT = {"u8": "<B", "bool": "<?", "u16": "<H", "u32": "<I", "u64": "<Q"}


def _mk_table(asm: _Asm, fields) -> int:
    """fields: [(field_id, kind, value)] with kind in _SCALAR_FMT or
    'ref' (value = block index).  Returns the table's block index."""
    fields = sorted(fields, key=lambda f: f[0])
    max_id = fields[-1][0] if fields else -1
    slots = [0] * (max_id + 1)
    body = bytearray(4)  # soffset placeholder
    refs = []
    for fid, kind, value in fields:
        slots[fid] = len(body)
        if kind == "ref":
            refs.append((len(body), value))
            body += b"\0\0\0\0"
        else:
            body += struct.pack(_SCALAR_FMT[kind], value)
    vt = bytearray()
    vt += struct.pack("<H", 4 + 2 * (max_id + 1))
    vt += struct.pack("<H", len(body))
    for s in slots:
        vt += struct.pack("<H", s)
    vt_blk = asm.add(vt)
    tbl_blk = asm.add(body)
    asm.fix(tbl_blk, 0, vt_blk, "i32soff")
    for off, target in refs:
        asm.fix(tbl_blk, off, target)
    return tbl_blk


def _mk_string(asm: _Asm, s: str) -> int:
    raw = s.encode("utf-8")
    return asm.add(struct.pack("<I", len(raw)) + raw + b"\0")


def _mk_scalar_vec(asm: _Asm, fmt: str, values) -> int:
    body = struct.pack("<I", len(values))
    for v in values:
        body += struct.pack(fmt, v)
    return asm.add(body)


def _mk_table_vec(asm: _Asm, table_blocks: list[int]) -> int:
    blk = asm.add(struct.pack("<I", len(table_blocks)) + b"\0\0\0\0" * len(table_blocks))
    for i, t in enumerate(table_blocks):
        asm.fix(blk, 4 + 4 * i, t)
    return blk


def _geom_blocks(asm: _Asm, geom) -> int:
    """geom tuple → Geometry table block."""
    kind, body = geom
    fields = []
    if kind == "POINT":
        xy = [body[0], body[1]]
        fields.append((1, "ref", _mk_scalar_vec(asm, "<d", xy)))
        fields.append((6, "u8", GT_POINT))
    elif kind == "MULTIPOINT":
        xy = [v for p in body for v in p]
        fields.append((1, "ref", _mk_scalar_vec(asm, "<d", xy)))
        fields.append((6, "u8", GT_MULTIPOINT))
    elif kind == "LINESTRING":
        xy = [v for p in body for v in p]
        fields.append((1, "ref", _mk_scalar_vec(asm, "<d", xy)))
        fields.append((6, "u8", GT_LINESTRING))
    elif kind == "POLYGON":
        xy = [v for ring in body for p in ring for v in p]
        if len(body) > 1:
            ends, acc = [], 0
            for ring in body:
                acc += len(ring)
                ends.append(acc)
            fields.append((0, "ref", _mk_scalar_vec(asm, "<I", ends)))
        fields.append((1, "ref", _mk_scalar_vec(asm, "<d", xy)))
        fields.append((6, "u8", GT_POLYGON))
    else:
        raise UnsupportedFormat(f"fixture writer: geometry {kind}")
    return _mk_table(asm, fields)


def _props_blob(columns, values) -> bytes:
    out = bytearray()
    for ci, ((name, ct), v) in enumerate(zip(columns, values)):
        if v is None:
            continue
        out += struct.pack("<H", ci)
        if ct in _CT_FMT:
            out += struct.pack(_CT_FMT[ct], v)
        else:
            raw = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
            out += struct.pack("<I", len(raw)) + raw
    return bytes(out)


def write_fgb(
    path: str,
    columns: list[tuple[str, int]],
    rows: list[tuple[list, tuple]],
    *,
    name: str = "layer",
    geometry_type: int = GT_UNKNOWN,
) -> str:
    """Fixture-grade FlatGeobuf writer: ``columns`` is [(name, CT_*)],
    ``rows`` is [([property values in column order], geom tuple)].
    No spatial index (index_node_size = 0); overwrites ``path``."""
    # header buffer
    asm = _Asm()
    root_slot = asm.add(b"\0\0\0\0")
    col_blocks = [
        _mk_table(asm, [(0, "ref", _mk_string(asm, cn)), (1, "u8", ct)])
        for cn, ct in columns
    ]
    hdr = _mk_table(
        asm,
        [
            (0, "ref", _mk_string(asm, name)),
            (2, "u8", geometry_type),
            (7, "ref", _mk_table_vec(asm, col_blocks)),
            (8, "u64", len(rows)),
            (9, "u16", 0),  # no index
        ],
    )
    asm.fix(root_slot, 0, hdr)
    header_buf = asm.finish()

    out = bytearray()
    out += MAGIC + b"\x00"
    out += struct.pack("<I", len(header_buf)) + header_buf
    for values, geom in rows:
        fa = _Asm()
        froot = fa.add(b"\0\0\0\0")
        g_blk = _geom_blocks(fa, geom)
        blob = _props_blob(columns, values)
        fields = [(0, "ref", g_blk)]
        if blob:
            fields.append((1, "ref", fa.add(struct.pack("<I", len(blob)) + blob)))
        feat = _mk_table(fa, fields)
        fa.fix(froot, 0, feat)
        fbuf = fa.finish()
        out += struct.pack("<I", len(fbuf)) + fbuf
    with open(path, "wb") as fh:
        fh.write(bytes(out))
    return path
