"""Dependency-free GeoPackage (.gpkg) reader for the ``st_read``
surface, via stdlib sqlite3.

The reference reaches GeoPackage through GDAL's "GPKG" driver behind
DuckDB's spatial extension (/root/reference/src/duckdb/spatial.rs:
57-82).  A GeoPackage is a SQLite database following the public OGC
GeoPackage Encoding Standard (OGC 12-128r19):

* ``gpkg_contents`` lists layers (``data_type = 'features'``);
* ``gpkg_geometry_columns`` names each layer's geometry column;
* geometry cells hold a GeoPackageBinary blob: magic ``GP``, version,
  a flags byte (bit 0 byte order, bits 1-3 envelope indicator, bit 5
  empty-geometry), int32 srs_id, the optional envelope, then standard
  ISO WKB.

Options: ``layer`` picks the feature table (default: the single
features layer; ambiguous → explicit error), ``spatial_filter_box``
filters by envelope intersection (from the blob envelope when present,
else computed from the parsed WKB), ``keep_wkb`` adds the raw WKB
bytes.  Attribute columns pass through with sqlite3's natural typing.
The SQLite read is driver-side like the reference's GDAL path; rows
land in a regular DataFrame and distribute downstream.
"""

from __future__ import annotations

import sqlite3
import struct

from pyspark.sql import DataFrame, SparkSession

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.sources.base import _truthy, apply_common
from pg_analytics_spark.sources.geom import (
    box_intersects,
    envelope,
    parse_wkb,
    to_wkt,
)
from pg_analytics_spark.types import local_relation

_ENV_DOUBLES = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}


def _split_gpb(blob: bytes):
    """GeoPackageBinary → (envelope or None, wkb bytes).  None blob or
    empty-geometry flag → (None, None)."""
    if blob is None:
        return None, None
    if blob[:2] != b"GP":
        raise UnsupportedFormat("not a GeoPackageBinary blob (bad magic)")
    flags = blob[3]
    if flags & 0x20:  # empty geometry
        return None, None
    env_ind = (flags >> 1) & 0x07
    if env_ind not in _ENV_DOUBLES:
        raise UnsupportedFormat(f"invalid GeoPackageBinary envelope code {env_ind}")
    bo = "<" if flags & 0x01 else ">"
    n_env = _ENV_DOUBLES[env_ind]
    env = None
    if n_env:
        vals = struct.unpack_from(f"{bo}{n_env}d", blob, 8)
        env = (vals[0], vals[2], vals[1], vals[3])  # minx,miny,maxx,maxy
    return env, blob[8 + 8 * n_env :]


def _feature_layers(con: sqlite3.Connection) -> dict[str, str]:
    """layer name → geometry column, from gpkg metadata tables."""
    try:
        rows = con.execute(
            "SELECT c.table_name, g.column_name FROM gpkg_contents c "
            "JOIN gpkg_geometry_columns g ON g.table_name = c.table_name "
            "WHERE c.data_type = 'features'"
        ).fetchall()
    except sqlite3.DatabaseError as exc:
        raise UnsupportedFormat(f"not a GeoPackage: {exc}") from exc
    return dict(rows)


def load(spark: SparkSession, files: list[str], opts: dict) -> DataFrame:
    if len(files) != 1:
        raise UnsupportedFormat("GeoPackage st_read takes exactly one .gpkg file")
    box = None
    if "spatial_filter_box" in opts:
        from pg_analytics_spark.sources.spatial import _parse_box

        box = _parse_box(opts["spatial_filter_box"])
    keep_wkb = _truthy(opts.get("keep_wkb"))

    con = sqlite3.connect(files[0])
    try:
        layers = _feature_layers(con)
        if not layers:
            raise UnsupportedFormat("GeoPackage has no feature layers")
        layer = opts.get("layer")
        if layer is None:
            if len(layers) > 1:
                raise UnsupportedFormat(
                    "GeoPackage has multiple feature layers "
                    f"({sorted(layers)}); pass layer='…'"
                )
            layer = next(iter(layers))
        if layer not in layers:
            raise UnsupportedFormat(
                f"layer {layer!r} not in GeoPackage (have {sorted(layers)})"
            )
        geom_col = layers[layer]
        cur = con.execute(f'SELECT * FROM "{layer}"')
        col_names = [d[0] for d in cur.description]
        gi = col_names.index(geom_col)
        attr_names = [c for c in col_names if c != geom_col]

        rows = []
        for rec in cur:
            env, wkb = _split_gpb(rec[gi])
            attrs = tuple(v for i, v in enumerate(rec) if i != gi)
            if wkb is None:
                if box is not None:
                    continue
                rows.append(attrs + ((None, None) if keep_wkb else (None,)))
                continue
            geom = parse_wkb(wkb)
            if box is not None:
                e = env if env is not None else envelope(geom)
                if not box_intersects(e, box):
                    continue
            wkt = to_wkt(geom)
            rows.append(attrs + ((wkt, bytearray(wkb)) if keep_wkb else (wkt,)))
    finally:
        con.close()

    def _spark_type(vals):
        for v in vals:
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, int):
                return "long"
            if isinstance(v, float):
                return "double"
            if isinstance(v, (bytes, bytearray)):
                return "binary"
            if isinstance(v, str):
                return "string"
        return "string"

    schema_parts = [
        f"`{n}` {_spark_type([r[i] for r in rows])}"
        for i, n in enumerate(attr_names)
    ]
    schema_parts.append("geometry_wkt string")
    if keep_wkb:
        schema_parts.append("wkb_geometry binary")
    df = local_relation(spark, rows, ", ".join(schema_parts))
    return apply_common(df, opts)


def write_point_gpkg(path: str, layer: str, points, field_names, records) -> str:
    """Fixture-grade GeoPackage writer: one point-feature layer with
    string attributes, used by tests and the gpkg registry queries.
    ``points`` is [(x, y)]; ``records`` is a list of value tuples.
    Overwrites ``path`` (fixture semantics — registry queries rebuild
    deterministically on every call)."""
    import os

    from pg_analytics_spark.sources.geom import to_wkb

    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.executescript(
            """
            CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT, srs_id INTEGER
              PRIMARY KEY, organization TEXT, organization_coordsys_id
              INTEGER, definition TEXT, description TEXT);
            INSERT INTO gpkg_spatial_ref_sys VALUES
              ('WGS 84', 4326, 'EPSG', 4326, 'GEOGCS["WGS 84"]', NULL);
            CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY,
              data_type TEXT, identifier TEXT, description TEXT,
              last_change TEXT, min_x REAL, min_y REAL, max_x REAL,
              max_y REAL, srs_id INTEGER);
            CREATE TABLE gpkg_geometry_columns (table_name TEXT,
              column_name TEXT, geometry_type_name TEXT, srs_id INTEGER,
              z INTEGER, m INTEGER);
            """
        )
        cols = ", ".join(f'"{n}" TEXT' for n in field_names)
        con.execute(
            f'CREATE TABLE "{layer}" (fid INTEGER PRIMARY KEY, geom BLOB, {cols})'
        )
        con.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier, srs_id)"
            " VALUES (?, 'features', ?, 4326)",
            (layer, layer),
        )
        con.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?, 'geom', 'POINT', 4326, 0, 0)",
            (layer,),
        )
        for i, ((x, y), rec) in enumerate(zip(points, records)):
            # flags 0x01: little-endian, no envelope
            blob = b"GP\x00\x01" + struct.pack("<i", 4326) + to_wkb(("POINT", (x, y)))
            ph = ", ".join("?" for _ in field_names)
            con.execute(
                f'INSERT INTO "{layer}" VALUES (?, ?, {ph})',
                (i + 1, blob, *[str(v) for v in rec]),
            )
        con.commit()
    finally:
        con.close()
    return path
