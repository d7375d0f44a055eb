"""Dependency-free GML reader for the ``st_read`` surface.

The reference reaches GML through GDAL's GML driver behind DuckDB's
spatial extension (/root/reference/src/duckdb/spatial.rs:57-82).  No
GDAL exists in this environment, so this implements the public OGC
specs directly (GML 2.1.2 / 3.2.1, the feature-collection subset GDAL
itself targets) over stdlib ``xml.etree``:

* Features: every ``gml:featureMember`` / ``gml:featureMembers`` /
  ``wfs:member`` child element becomes one row; its child elements are
  the properties.
* Geometry: Point, LineString/Curve, Polygon/Surface (exterior +
  interior rings), and MultiPoint/MultiCurve/MultiLineString/
  MultiSurface/MultiPolygon → the corresponding 2D WKT families.
  Both coordinate encodings are handled: GML 2 ``<coordinates>``
  (``x,y x,y``; ``cs``/``ts`` attribute overrides honored) and GML 3
  ``<pos>``/``<posList>`` (``x y x y``).  Axis order is kept AS
  WRITTEN (GDAL's default without axis-order flags); ``srsDimension=3``
  drops the third ordinate like the shapefile/KML readers drop Z.
* Attributes: non-geometry child elements with text content become
  string columns named by their local tag (``gml:id``/``fid`` surfaces
  as the ``gml_id`` column when present).

Output schema: gml_id, <property columns sorted>, ``geometry_wkt``
and, with ``keep_wkb``, ``wkb_geometry`` (little-endian ISO WKB via
sources/geom.py).  ``spatial_filter_box`` applies GDAL's
envelope-intersection semantics driver-side.  Parsing is driver-side
like the reference's GDAL path; GML is a single-file artifact, not the
100 TB axis — rows land in a DataFrame and distribute downstream.
"""

from __future__ import annotations

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
    return tag.rsplit("}", 1)[-1]


def _pairs_from_coordinates(el) -> list[tuple[float, float]]:
    """GML 2 <coordinates>: tuples split by ``ts`` (default space),
    ordinates by ``cs`` (default comma)."""
    cs = el.get("cs", ",")
    ts = el.get("ts", " ")
    out = []
    for tok in (el.text or "").replace("\n", ts).split(ts):
        tok = tok.strip()
        if not tok:
            continue
        parts = tok.split(cs)
        if len(parts) >= 2:
            out.append((float(parts[0]), float(parts[1])))
    return out


def _pairs_from_poslist(el, default_dim: int = 2) -> list[tuple[float, float]]:
    """GML 3 <posList>/<pos>: whitespace-separated ordinates; the
    ``srsDimension`` attribute (default 2) sets the stride."""
    dim = int(el.get("srsDimension", default_dim))
    if dim < 2:
        raise UnsupportedFormat(f"srsDimension {dim} < 2")
    nums = [float(t) for t in (el.text or "").split()]
    if len(nums) % dim:
        raise UnsupportedFormat(
            f"posList length {len(nums)} not a multiple of srsDimension {dim}"
        )
    return [(nums[i], nums[i + 1]) for i in range(0, len(nums), dim)]


def _points_of(el) -> list[tuple[float, float]]:
    """Coordinates of a geometry element, either encoding."""
    pts: list[tuple[float, float]] = []
    for c in el:
        ln = _local(c.tag)
        if ln == "coordinates":
            pts += _pairs_from_coordinates(c)
        elif ln in ("posList", "pos"):
            pts += _pairs_from_poslist(c)
    return pts


def _ring(ring_parent) -> list[tuple[float, float]]:
    """exterior/interior → LinearRing → points."""
    for c in ring_parent:
        if _local(c.tag) == "LinearRing":
            return _points_of(c)
    return []


_MULTI_MEMBER = frozenset(
    (
        "pointMember",
        "pointMembers",
        "curveMember",
        "curveMembers",
        "lineStringMember",
        "surfaceMember",
        "surfaceMembers",
        "polygonMember",
        "geometryMember",
    )
)


def parse_geom(el):
    """GML geometry element → the shared geom tuple (sources/geom.py)."""
    ln = _local(el.tag)
    if ln == "Point":
        pts = _points_of(el)
        return ("POINT", pts[0]) if pts else None
    if ln in ("LineString", "Curve"):
        if ln == "Curve":
            # Curve/segments/LineStringSegment* — concatenated
            pts = []
            for seg in el.iter():
                if _local(seg.tag) == "LineStringSegment":
                    ps = _points_of(seg)
                    # shared joint points collapse
                    if pts and ps and pts[-1] == ps[0]:
                        ps = ps[1:]
                    pts += ps
        else:
            pts = _points_of(el)
        return ("LINESTRING", pts) if pts else None
    if ln in ("Polygon", "Surface"):
        if ln == "Surface":
            # Surface/patches/PolygonPatch — single-patch surfaces only
            patches = [
                p for p in el.iter() if _local(p.tag) == "PolygonPatch"
            ]
            if len(patches) != 1:
                raise UnsupportedFormat(
                    f"Surface with {len(patches)} patches (single "
                    "PolygonPatch supported)"
                )
            el = patches[0]
        outer: list = []
        inners: list = []
        for c in el:
            cn = _local(c.tag)
            if cn in ("exterior", "outerBoundaryIs"):
                outer = _ring(c)
            elif cn in ("interior", "innerBoundaryIs"):
                r = _ring(c)
                if r:
                    inners.append(r)
        if not outer:
            if inners:
                raise UnsupportedFormat("Polygon with holes but no shell")
            return None
        return ("POLYGON", [outer] + inners)
    if ln in (
        "MultiPoint",
        "MultiCurve",
        "MultiLineString",
        "MultiSurface",
        "MultiPolygon",
        "MultiGeometry",
    ):
        parts = []
        for m in el:
            if _local(m.tag) not in _MULTI_MEMBER:
                continue
            for g in m:
                parsed = parse_geom(g)
                if parsed is not None:
                    parts.append(parsed)
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
            f"mixed-type multi geometry {sorted(kinds)} not supported "
            "(GEOMETRYCOLLECTION is outside the 2D WKT subset)"
        )
    return None


_GEOM_TAGS = frozenset(
    (
        "Point",
        "LineString",
        "Curve",
        "Polygon",
        "Surface",
        "MultiPoint",
        "MultiCurve",
        "MultiLineString",
        "MultiSurface",
        "MultiPolygon",
        "MultiGeometry",
    )
)

_MEMBER_TAGS = frozenset(("featureMember", "featureMembers", "member"))


def _features(path: str):
    """Yield (gml_id, props dict, geom tuple|None) per feature."""
    root = ET.parse(path).getroot()
    for member in root.iter():
        if _local(member.tag) not in _MEMBER_TAGS:
            continue
        for feat in member:
            gml_id = None
            for k, v in feat.attrib.items():
                if _local(k) in ("id", "fid"):
                    gml_id = v
            props: dict[str, str] = {}
            geom = None
            for c in feat:
                # a property element either wraps a geometry…
                g = next(
                    (g for g in c if _local(g.tag) in _GEOM_TAGS), None
                )
                if _local(c.tag) in _GEOM_TAGS:
                    g = c  # …or (rarely) IS one, unwrapped
                if g is not None:
                    if geom is None:
                        geom = parse_geom(g)
                    continue
                # …or is a scalar attribute
                if c.text is not None and c.text.strip() != "":
                    props[_local(c.tag)] = c.text.strip()
            yield gml_id, props, geom


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    keep_wkb = _truthy(opts.get("keep_wkb"))
    box = None
    if "spatial_filter_box" in opts:
        from pg_analytics_spark.sources.spatial import _parse_box

        box = _parse_box(opts["spatial_filter_box"])

    feats: list[tuple[str | None, dict, tuple]] = []
    keys: list[str] = []
    for path in files:
        for gml_id, props, geom in _features(path):
            if box is not None and (
                geom is None or not box_intersects(envelope(geom), box)
            ):
                continue  # envelope filter excludes null geometry (GDAL)
            for k in props:
                if k not in keys:
                    keys.append(k)
            feats.append((gml_id, props, geom))
    keys.sort()

    rows = []
    for gml_id, props, geom in feats:
        # geometry-less features keep their properties (NULL geometry,
        # GDAL's behavior) rather than silently vanishing
        row = [gml_id] + [props.get(k) for k in keys] + [
            to_wkt(geom) if geom is not None else None
        ]
        if keep_wkb:
            row.append(bytearray(to_wkb(geom)) if geom is not None else None)
        rows.append(tuple(row))

    parts = ["gml_id string"]
    parts += [f"`{k}` string" for k in keys]
    parts.append("geometry_wkt string")
    if keep_wkb:
        parts.append("wkb_geometry binary")
    df = local_relation(spark, rows, ", ".join(parts))
    return apply_common(df, opts)


def write_point_gml(path: str, ids, points, field_names, records) -> str:
    """Fixture-grade GML writer: one featureMember per point with
    string properties.  ``points`` is [(x, y)] emitted as GML 3
    ``<gml:pos>``; overwrites ``path`` (fixture semantics — registry
    queries rebuild deterministically on every call)."""
    from xml.sax.saxutils import escape

    doc = ['<?xml version="1.0" encoding="UTF-8"?>']
    doc.append(
        '<ogr:FeatureCollection xmlns:gml="http://www.opengis.net/gml" '
        'xmlns:ogr="http://pg-analytics-spark.test/ogr">'
    )
    for fid, (x, y), rec in zip(ids, points, records):
        doc.append("<gml:featureMember>")
        doc.append(f'<ogr:site gml:id="{escape(str(fid))}">')
        for fn, v in zip(field_names, rec):
            doc.append(
                f"<ogr:{fn}>{escape(str(v))}</ogr:{fn}>"
            )
        doc.append(
            "<ogr:geom><gml:Point>"
            f"<gml:pos>{x!r} {y!r}</gml:pos>"
            "</gml:Point></ogr:geom>"
        )
        doc.append("</ogr:site>")
        doc.append("</gml:featureMember>")
    doc.append("</ogr:FeatureCollection>")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(doc))
    return path
