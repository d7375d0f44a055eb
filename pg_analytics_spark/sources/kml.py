"""Dependency-free KML / KMZ reader for the ``st_read`` surface.

The reference reaches KML through GDAL's KML/LIBKML drivers behind
DuckDB's spatial extension (/root/reference/src/duckdb/spatial.rs:57-82).
No GDAL exists in this environment, so this implements the public spec
directly (OGC KML 2.2, 07-147r2) over stdlib ``xml.etree``:

* Features: every ``<Placemark>`` anywhere in the document tree (KML
  nests them under Document/Folder arbitrarily) becomes one row.
* Geometry: Point, LineString, Polygon (outer + inner boundaries),
  and homogeneous MultiGeometry → MULTIPOINT/MULTILINESTRING/
  MULTIPOLYGON.  Coordinates are the spec's ``lon,lat[,alt]`` tuples;
  altitude is dropped — the same 2D family as the shapefile reader.
  Mixed-type MultiGeometry is rejected loudly (GDAL flattens to
  GEOMETRYCOLLECTION, which the WKT subset here does not model).
* Attributes: ``<name>``, ``<description>``, plus one string column
  per ``ExtendedData`` key — both the untyped ``Data[@name]/value``
  form and the schema'd ``SchemaData/SimpleData[@name]`` form.
* KMZ: a zip container (stdlib ``zipfile``) — the doc.kml member (or
  the first ``*.kml``) is parsed exactly like a bare file.

Output schema: name, description, <extended-data columns sorted>,
``geometry_wkt`` (string) and, with ``keep_wkb``, ``wkb_geometry``
(little-endian ISO WKB via sources/geom.py).  ``spatial_filter_box``
applies GDAL's envelope-intersection semantics driver-side.  Parsing
is driver-side like the reference's GDAL path; KML is a single-file
artifact, not the 100 TB axis — rows land in a DataFrame and
distribute downstream.
"""

from __future__ import annotations

import io
import zipfile
import xml.etree.ElementTree as ET

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


def _local(tag: str) -> str:
    """Strip the XML namespace — KML appears under the OGC 2.2 ns, the
    legacy Google ns, or none at all."""
    return tag.rsplit("}", 1)[-1]


def _coords(text: str | None):
    pts = []
    for tok in (text or "").split():
        parts = tok.split(",")
        if len(parts) >= 2:
            pts.append((float(parts[0]), float(parts[1])))
    return pts


def _child(el, name):
    for c in el:
        if _local(c.tag) == name:
            return c
    return None


def _coords_of(el):
    """Coordinates of el's <coordinates> child.  NOTE: ElementTree
    elements with no children are FALSY, so `_child(...) or default`
    would discard a real node — explicit None checks only."""
    c = _child(el, "coordinates")
    return _coords(c.text) if c is not None else []


def _ring(boundary_el):
    lr = _child(boundary_el, "LinearRing")
    if lr is None:
        return []
    return _coords_of(lr)


def _parse_geom(el):
    ln = _local(el.tag)
    if ln == "Point":
        pts = _coords_of(el)
        if not pts:
            return None
        return ("POINT", pts[0])
    if ln == "LineString":
        pts = _coords_of(el)
        return ("LINESTRING", pts) if pts else None
    if ln == "Polygon":
        outer = []
        inners = []
        for c in el:
            if _local(c.tag) == "outerBoundaryIs":
                outer = _ring(c)
        for c in el:
            if _local(c.tag) == "innerBoundaryIs":
                r = _ring(c)
                if r:
                    inners.append(r)
        if not outer:
            if inners:
                # silently promoting a hole to the shell would emit a
                # POLYGON whose boundary is actually a hole
                raise UnsupportedFormat(
                    "Polygon with innerBoundaryIs but no outer shell"
                )
            return None
        return ("POLYGON", [outer] + inners)
    if ln == "MultiGeometry":
        parts = [g for g in (_parse_geom(c) for c in el) if g is not None]
        if not parts:
            return None
        kinds = {k for k, _ in parts}
        if kinds == {"POINT"}:
            return ("MULTIPOINT", [b for _, b in parts])
        if kinds == {"LINESTRING"}:
            return ("MULTILINESTRING", [b for _, b in parts])
        if kinds == {"POLYGON"}:
            return ("MULTIPOLYGON", [b for _, b in parts])
        raise UnsupportedFormat(
            f"mixed-type MultiGeometry {sorted(kinds)} not supported "
            "(GEOMETRYCOLLECTION is outside the 2D WKT subset)"
        )
    return None


_GEOM_TAGS = frozenset(("Point", "LineString", "Polygon", "MultiGeometry"))


def _extended(el) -> dict[str, str]:
    out: dict[str, str] = {}
    for ed in el:
        if _local(ed.tag) != "ExtendedData":
            continue
        for d in ed.iter():
            ln = _local(d.tag)
            if ln == "Data":
                v = _child(d, "value")
                if d.get("name") and v is not None:
                    out[d.get("name")] = (v.text or "").strip()
            elif ln == "SimpleData" and d.get("name"):
                out[d.get("name")] = (d.text or "").strip()
    return out


def _kml_root(path: str):
    if path.lower().endswith(".kmz"):
        with zipfile.ZipFile(path) as z:
            names = z.namelist()
            member = "doc.kml" if "doc.kml" in names else next(
                (n for n in names if n.lower().endswith(".kml")), None
            )
            if member is None:
                raise UnsupportedFormat(f"{path}: KMZ holds no .kml member")
            with z.open(member) as fh:
                return ET.parse(io.BytesIO(fh.read())).getroot()
    return ET.parse(path).getroot()


def _placemarks(path: str):
    """Yield (attrs dict, geom tuple|None) per Placemark, document order."""
    for el in _kml_root(path).iter():
        if _local(el.tag) != "Placemark":
            continue
        attrs = {"name": None, "description": None}
        geom = None
        for c in el:
            ln = _local(c.tag)
            if ln in ("name", "description"):
                attrs[ln] = (c.text or "").strip()
            elif ln in _GEOM_TAGS and geom is None:
                geom = _parse_geom(c)
        attrs.update(_extended(el))
        yield attrs, geom


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    keep_wkb = _truthy(opts.get("keep_wkb"))
    box = None
    if "spatial_filter_box" in opts:
        from pg_analytics_spark.sources.spatial import _parse_box

        box = _parse_box(opts["spatial_filter_box"])

    feats: list[tuple[dict, tuple]] = []
    ext_keys: list[str] = []
    for path in files:
        for attrs, geom in _placemarks(path):
            if geom is None:
                continue
            if box is not None and not box_intersects(envelope(geom), box):
                continue
            for k in attrs:
                if k not in ("name", "description") and k not in ext_keys:
                    ext_keys.append(k)
            feats.append((attrs, geom))
    ext_keys.sort()

    rows = []
    for attrs, geom in feats:
        row = [attrs.get("name"), attrs.get("description")]
        row += [attrs.get(k) for k in ext_keys]
        row.append(to_wkt(geom))
        if keep_wkb:
            row.append(bytearray(to_wkb(geom)))
        rows.append(tuple(row))

    parts = ["name string", "description string"]
    parts += [f"`{k}` string" for k in ext_keys]
    parts.append("geometry_wkt string")
    if keep_wkb:
        parts.append("wkb_geometry binary")
    df = local_relation(spark, rows, ", ".join(parts))
    return apply_common(df, opts)


def write_point_kml(path: str, names, points, field_names, records) -> str:
    """Fixture-grade KML writer: one Placemark per point with
    ExtendedData string fields.  ``points`` is [(lon, lat)]; overwrites
    ``path`` (fixture semantics — registry queries rebuild
    deterministically on every call)."""
    from xml.sax.saxutils import escape, quoteattr

    doc = ['<?xml version="1.0" encoding="UTF-8"?>']
    doc.append('<kml xmlns="http://www.opengis.net/kml/2.2"><Document>')
    for nm, (x, y), rec in zip(names, points, records):
        doc.append("<Placemark>")
        doc.append(f"<name>{escape(str(nm))}</name>")
        doc.append("<ExtendedData>")
        for fn, v in zip(field_names, rec):
            doc.append(
                f"<Data name={quoteattr(str(fn))}>"
                f"<value>{escape(str(v))}</value></Data>"
            )
        doc.append("</ExtendedData>")
        doc.append(f"<Point><coordinates>{x!r},{y!r},0</coordinates></Point>")
        doc.append("</Placemark>")
    doc.append("</Document></kml>")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("".join(doc))
    return path
