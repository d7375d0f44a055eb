"""Dependency-free ESRI Shapefile reader (.shp geometry + .dbf
attributes) for the ``st_read`` surface.

The reference reaches shapefiles through GDAL's "ESRI Shapefile" driver
behind DuckDB's spatial extension (/root/reference/src/duckdb/
spatial.rs:57-82).  No GDAL exists in this environment, so this
implements the public specs directly:

* .shp — ESRI Shapefile Technical Description (July 1998): 100-byte
  header, per-record big-endian headers, little-endian shapes.  Shape
  types covered: Null (0), Point (1), PolyLine (3), Polygon (5),
  MultiPoint (8) — the 2D family; Z/M variants are rejected loudly.
* .dbf — dBASE III/IV layout: 32-byte field descriptors, fixed-width
  records, types C (string), N/F (numeric), L (logical), D (date).

Output schema: one column per .dbf attribute (typed), plus
``geometry_wkt`` (string) and, with ``keep_wkb``, ``wkb_geometry``
(binary, little-endian ISO WKB — real WKB here, unlike the GeoJSON
source's serialized-struct stand-in).  ``spatial_filter_box`` applies
GDAL's envelope-intersection semantics driver-side, before rows ever
reach Spark.  Parsing is driver-side like the reference's GDAL path; a
shapefile is a single-file artifact (2 GB format cap) so this is not
the 100 TB axis — rows land in a DataFrame and distribute downstream.

Multi-part PolyLine records surface as MULTILINESTRING (single-part as
LINESTRING).  Polygon records surface as POLYGON with rings in file
order (outer ring first by spec); multi-outer-ring records are rare
and surface as a single POLYGON whose ring list carries all rings —
documented divergence from GDAL's ring-grouping into MULTIPOLYGON.
"""

from __future__ import annotations

import datetime as dt
import os
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

_SHAPE_NULL = 0
_SHAPE_POINT = 1
_SHAPE_POLYLINE = 3
_SHAPE_POLYGON = 5
_SHAPE_MULTIPOINT = 8


def _read_shp(path: str):
    """Yield geometry tuples (or None for null shapes) in record order."""
    with open(path, "rb") as fh:
        buf = fh.read()
    if len(buf) < 100 or struct.unpack_from(">i", buf, 0)[0] != 9994:
        raise UnsupportedFormat(f"{path}: not a shapefile (bad magic)")
    file_len = struct.unpack_from(">i", buf, 24)[0] * 2  # 16-bit words
    off = 100
    while off + 8 <= min(file_len, len(buf)):
        _recno, content_len = struct.unpack_from(">2i", buf, off)
        off += 8
        end = off + content_len * 2
        (stype,) = struct.unpack_from("<i", buf, off)
        if stype == _SHAPE_NULL:
            yield None
        elif stype == _SHAPE_POINT:
            x, y = struct.unpack_from("<2d", buf, off + 4)
            yield ("POINT", (x, y))
        elif stype == _SHAPE_MULTIPOINT:
            (n,) = struct.unpack_from("<i", buf, off + 36)
            pts = [
                struct.unpack_from("<2d", buf, off + 40 + 16 * i) for i in range(n)
            ]
            yield ("MULTIPOINT", pts)
        elif stype in (_SHAPE_POLYLINE, _SHAPE_POLYGON):
            nparts, npts = struct.unpack_from("<2i", buf, off + 36)
            parts = list(struct.unpack_from(f"<{nparts}i", buf, off + 44))
            pstart = off + 44 + 4 * nparts
            pts = [
                struct.unpack_from("<2d", buf, pstart + 16 * i) for i in range(npts)
            ]
            bounds = parts + [npts]
            rings = [pts[bounds[i] : bounds[i + 1]] for i in range(nparts)]
            if stype == _SHAPE_POLYGON:
                yield ("POLYGON", rings)
            elif nparts == 1:
                yield ("LINESTRING", rings[0])
            else:
                yield ("MULTILINESTRING", rings)
        else:
            raise UnsupportedFormat(
                f"{path}: shape type {stype} unsupported (2D family only; "
                "Z/M shapefiles are out of scope)"
            )
        off = end


def _read_dbf(path: str, encoding: str):
    """→ (field names, field python-types, list of value tuples)."""
    with open(path, "rb") as fh:
        buf = fh.read()
    nrec, hdr_size, rec_size = struct.unpack_from("<IHH", buf, 4)
    fields = []  # (name, ftype, length, decimals)
    off = 32
    while off < hdr_size - 1 and buf[off] != 0x0D:
        name = buf[off : off + 11].split(b"\x00", 1)[0].decode("ascii", "replace")
        ftype = chr(buf[off + 11])
        length = buf[off + 16]
        decimals = buf[off + 17]
        fields.append((name, ftype, length, decimals))
        off += 32

    def conv(ftype, decimals):
        if ftype in ("N", "F"):
            return float if (decimals or ftype == "F") else int
        if ftype == "L":
            return bool
        if ftype == "D":
            return dt.date
        return str

    types = [conv(t, dec) for _n, t, _l, dec in fields]
    rows = []
    off = hdr_size
    for _ in range(nrec):
        if off + rec_size > len(buf):
            break
        rec = buf[off : off + rec_size]
        off += rec_size
        if rec[0:1] == b"*":  # deleted
            rows.append(None)
            continue
        vals = []
        p = 1
        for (name, ftype, length, decimals), py in zip(fields, types):
            raw = rec[p : p + length]
            p += length
            text = raw.decode(encoding, "replace").strip()
            if not text:
                vals.append(None)
            elif py is int:
                try:
                    vals.append(int(text))
                except ValueError:
                    vals.append(None)
            elif py is float:
                try:
                    vals.append(float(text))
                except ValueError:
                    vals.append(None)
            elif py is bool:
                vals.append(
                    True if text in "YyTt" else False if text in "NnFf" else None
                )
            elif py is dt.date:
                try:
                    vals.append(dt.date(int(text[0:4]), int(text[4:6]), int(text[6:8])))
                except ValueError:
                    vals.append(None)
            else:
                vals.append(text)
        rows.append(tuple(vals))
    names = [f[0] for f in fields]
    return names, types, rows


_PY_TO_SPARK = {int: "long", float: "double", bool: "boolean", dt.date: "date", str: "string"}


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    box = None
    if "spatial_filter_box" in opts:
        from pg_analytics_spark.sources.spatial import _parse_box

        box = _parse_box(opts["spatial_filter_box"])
    keep_wkb = _truthy(opts.get("keep_wkb"))
    encoding = opts.get("encoding", "latin-1")

    all_rows: list[tuple] = []
    names: list[str] | None = None
    types: list[type] | None = None
    for shp in files:
        dbf = os.path.splitext(shp)[0] + ".dbf"
        geoms = list(_read_shp(shp))
        if os.path.exists(dbf):
            f_names, f_types, attrs = _read_dbf(dbf, encoding)
        else:
            f_names, f_types, attrs = [], [], [tuple()] * len(geoms)
        if names is None:
            names, types = f_names, f_types
        elif names != f_names:
            raise UnsupportedFormat(
                "shapefiles in one st_read call must share a .dbf schema"
            )
        for geom, attr in zip(geoms, attrs):
            if attr is None:  # deleted dbf record
                continue
            if geom is None:
                if box is not None:
                    continue
                all_rows.append(attr + (None, None) if keep_wkb else attr + (None,))
                continue
            if box is not None and not box_intersects(envelope(geom), box):
                continue
            wkt = to_wkt(geom)
            if keep_wkb:
                all_rows.append(attr + (wkt, bytearray(to_wkb(geom))))
            else:
                all_rows.append(attr + (wkt,))

    schema_parts = [
        f"`{n}` {_PY_TO_SPARK[t]}" for n, t in zip(names or [], types or [])
    ]
    schema_parts.append("geometry_wkt string")
    if keep_wkb:
        schema_parts.append("wkb_geometry binary")
    df = local_relation(spark, all_rows, ", ".join(schema_parts))
    return apply_common(df, opts)


def write_point_shapefile(base: str, points, field_names, records) -> str:
    """Fixture-grade Point shapefile writer (.shp + .dbf), used by tests
    and the shapefile registry queries to build deterministic inputs.
    ``base`` is the path without extension; ``points`` is [(x, y)];
    ``records`` is a list of string tuples (all .dbf fields written as
    type C).  Returns the .shp path."""
    shp = base + ".shp"
    recs = []
    for i, (x, y) in enumerate(points):
        content = struct.pack("<i2d", _SHAPE_POINT, x, y)
        recs.append(struct.pack(">2i", i + 1, len(content) // 2) + content)
    body = b"".join(recs)
    xs = [p[0] for p in points] or [0.0]
    ys = [p[1] for p in points] or [0.0]
    header = struct.pack(
        ">i5i", 9994, 0, 0, 0, 0, 0
    ) + struct.pack(">i", (100 + len(body)) // 2) + struct.pack(
        "<2i", 1000, _SHAPE_POINT
    ) + struct.pack(
        "<8d", min(xs), min(ys), max(xs), max(ys), 0, 0, 0, 0
    )
    with open(shp, "wb") as fh:
        fh.write(header + body)

    widths = [
        max([len(n)] + [len(str(r[i])) for r in records] or [1])
        for i, n in enumerate(field_names)
    ]
    hdr_size = 32 + 32 * len(field_names) + 1
    rec_size = 1 + sum(widths)
    dbf_head = struct.pack(
        "<B3BIHH20x", 3, 26, 8, 13, len(records), hdr_size, rec_size
    )
    descs = b""
    for n, w in zip(field_names, widths):
        descs += struct.pack("<11sB4xBB14x", n.encode("ascii"), ord("C"), w, 0)
    rows = b""
    for r in records:
        rows += b" " + b"".join(
            str(v).ljust(w).encode("latin-1") for v, w in zip(r, widths)
        )
    with open(base + ".dbf", "wb") as fh:
        fh.write(dbf_head + descs + b"\x0d" + rows + b"\x1a")
    return shp
