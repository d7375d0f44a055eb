"""Iceberg PUFFIN statistics files — the spec's table-statistics
container, written and read natively.

Public surface mirrored (Apache Iceberg Puffin spec v1 + the table
spec's ``statistics`` metadata field; the runtime computes these via
``ANALYZE TABLE`` / ``compute_table_stats`` into
``apache-datasketches-theta-v1`` blobs):

* the CONTAINER is the real format byte-for-byte — ``PFA1`` magic,
  raw blob section, footer = magic | UTF-8 JSON FileMetadata |
  4-byte LE payload size | 4 flag bytes | magic — so any Puffin
  reader can list our blobs;
* each indexed column gets one BLOB holding this repo's KMV/theta
  bottom-k distinct sketch (custom type ``pg-analytics-kmv-v1``:
  ``k`` + count as 4-byte LE ints, then the sorted 60-bit hashes as
  8-byte LE ints — the spec explicitly allows engine-specific blob
  types; the datasketches binary layout is a third-party wire format
  we do not re-implement) with the spec's ``ndv`` property carrying
  the estimate, exactly how theta blobs advertise theirs;
* the table metadata gains the spec's ``statistics`` list entry
  ({snapshot-id, statistics-path, file-size-in-bytes,
  file-footer-size-in-bytes, blob-metadata}) via a put-if-absent
  metadata version, and ``remove_orphan_files`` keeps referenced
  statistics files (they are part of the referenced set).

Scale shape: the sketch build is the KMV machinery from
operators/sketches.py — per-column bottom-k through WindowGroupLimit
(map tasks forward ≤ k rows each), ONE scan for all columns via
stack(); the driver collects ≤ k·columns hash rows (KB), and the
estimate is the same (k-1)/u_k arithmetic the sketch gate rows pin
cross-engine.
"""

from __future__ import annotations

import json
import os
import struct
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.types import local_relation

MAGIC = b"PFA1"
BLOB_TYPE_KMV = "pg-analytics-kmv-v1"
KMV_DOMAIN = float(1 << 60)


def write_puffin(path: str, blobs: list[dict]) -> dict:
    """Write a Puffin v1 file.  ``blobs``: [{"type", "fields",
    "snapshot-id", "sequence-number", "data": bytes, "properties"}].
    Returns {"size", "footer_size", "blob_metadata"} — the numbers the
    table metadata's statistics entry records."""
    out = bytearray(MAGIC)
    blob_meta = []
    for b in blobs:
        data = b["data"]
        blob_meta.append(
            {
                "type": b["type"],
                "fields": list(b.get("fields") or []),
                "snapshot-id": int(b.get("snapshot-id") or -1),
                "sequence-number": int(b.get("sequence-number") or 0),
                "offset": len(out),
                "length": len(data),
                "properties": dict(b.get("properties") or {}),
            }
        )
        out += data
    payload = json.dumps(
        {"blobs": blob_meta, "properties": {"created-by": "pg_analytics_spark"}}
    ).encode("utf-8")
    footer = bytearray(MAGIC)
    footer += payload
    footer += struct.pack("<i", len(payload))
    footer += b"\x00\x00\x00\x00"  # flags: payload uncompressed
    footer += MAGIC
    out += footer
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as fh:
        fh.write(bytes(out))
    os.replace(tmp, path)
    return {
        "size": len(out),
        "footer_size": len(footer),
        "blob_metadata": blob_meta,
    }


def read_puffin(path: str) -> tuple[dict, list[tuple[dict, bytes]]]:
    """Read a Puffin file → (file_metadata, [(blob_metadata, bytes)]).
    Validates both magics and the payload size field."""
    with open(path, "rb") as fh:
        raw = fh.read()
    if raw[:4] != MAGIC or raw[-4:] != MAGIC:
        raise UnsupportedFormat(f"not a Puffin file (bad magic): {path}")
    (payload_len,) = struct.unpack("<i", raw[-12:-8])
    payload = raw[-12 - payload_len : -12]
    meta = json.loads(payload.decode("utf-8"))
    blobs = []
    for bm in meta.get("blobs", []):
        off, ln = int(bm["offset"]), int(bm["length"])
        blobs.append((bm, raw[off : off + ln]))
    return meta, blobs


def encode_kmv_blob(k: int, hashes: list[int]) -> bytes:
    """``pg-analytics-kmv-v1``: k (4-byte LE), count (4-byte LE), then
    the SORTED 60-bit hashes as 8-byte LE ints."""
    hs = sorted(int(h) for h in hashes)
    return struct.pack("<ii", int(k), len(hs)) + b"".join(
        struct.pack("<q", h) for h in hs
    )


def decode_kmv_blob(data: bytes) -> tuple[int, list[int]]:
    k, n = struct.unpack("<ii", data[:8])
    hashes = [
        struct.unpack("<q", data[8 + 8 * i : 16 + 8 * i])[0]
        for i in range(n)
    ]
    return k, hashes


def kmv_ndv(k: int, hashes: list[int]) -> float:
    """The sketch rows' cross-engine-exact estimate: exact count when
    the sketch is not full, else (k-1)·2^60 / kth_hash rounded to 4
    decimals with ROUND-HALF-UP on the shortest decimal repr — the
    semantics Spark's ``round()`` applies (BigDecimal.valueOf +
    HALF_UP) and DuckDB's ``ROUND`` matches, so the gate row's oracle
    reproduces the value bit-for-bit; Python's banker's ``round``
    would diverge on ties."""
    if len(hashes) < k:
        return float(len(hashes))
    from decimal import ROUND_HALF_UP, Decimal

    kth = sorted(hashes)[k - 1]
    est = float((k - 1)) * KMV_DOMAIN / float(kth)
    return float(
        Decimal(repr(est)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    )


def compute_statistics_iceberg(
    spark: SparkSession, path: str, cols: list[str], *, k: int = 256
) -> dict:
    """``ANALYZE``-style table statistics: one scan builds a KMV
    distinct sketch per column (stack → distinct hash → bottom-k via
    WindowGroupLimit), the sketches land in ONE Puffin file under
    ``metadata/``, and the table metadata's ``statistics`` list gains
    the spec's entry for the CURRENT snapshot (put-if-absent metadata
    version; re-running replaces the snapshot's entry).  Returns
    {"version", "statistics_path", "ndv": {col: est}}."""
    from pg_analytics_spark.functions.hashing import shingle_hash60
    from pg_analytics_spark.sources.iceberg import load as load_iceberg
    from pg_analytics_spark.sources.iceberg_write import _latest_metadata

    if not cols:
        raise UnsupportedFormat("compute_statistics_iceberg: no columns")
    meta_dir = os.path.join(path, "metadata")
    prev_version, meta = _latest_metadata(meta_dir)
    if meta is None:
        raise UnsupportedFormat(f"not an iceberg table: {path}")
    snap_id = meta.get("current-snapshot-id")
    if snap_id in (None, -1):
        raise UnsupportedFormat(
            "compute_statistics_iceberg: table has no current snapshot"
        )
    snap = next(
        s for s in meta.get("snapshots", [])
        if s["snapshot-id"] == snap_id
    )
    schema = _current_schema_fields(meta)
    field_id = {f["name"]: int(f["id"]) for f in schema}
    missing = [c for c in cols if c not in field_id]
    if missing:
        raise UnsupportedFormat(
            f"compute_statistics_iceberg: unknown column(s) {missing}"
        )

    df = load_iceberg(spark, [path], {})
    stack_args = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in cols)
    stacked = df.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, value)"
    ).filter(F.col("value").isNotNull())
    hashed = stacked.select(
        "col", shingle_hash60(F.col("value")).alias("h")
    )
    from pg_analytics_spark.operators.sketches import kmv_build_grouped

    sketch_rows = kmv_build_grouped(hashed, "h", ["col"], k=k).collect()
    by_col: dict[str, list[int]] = {c: [] for c in cols}
    for r in sketch_rows:
        by_col[r["col"]].append(int(r["h"]))

    blobs = []
    ndv: dict[str, float] = {}
    for c in cols:
        est = kmv_ndv(k, by_col[c])
        ndv[c] = est
        blobs.append(
            {
                "type": BLOB_TYPE_KMV,
                "fields": [field_id[c]],
                "snapshot-id": snap_id,
                "sequence-number": int(snap.get("sequence-number") or 0),
                "data": encode_kmv_blob(k, by_col[c]),
                "properties": {"ndv": repr(est), "k": str(k), "column": c},
            }
        )
    stats_name = f"{snap_id}-{uuid.uuid4().hex}.stats"
    stats_path = os.path.join(meta_dir, stats_name)
    res = write_puffin(stats_path, blobs)

    new_meta = dict(meta)
    stats = [
        s
        for s in meta.get("statistics", [])
        if s.get("snapshot-id") != snap_id  # re-analyze replaces
    ]
    stats.append(
        {
            "snapshot-id": snap_id,
            "statistics-path": stats_path,
            "file-size-in-bytes": res["size"],
            "file-footer-size-in-bytes": res["footer_size"],
            "blob-metadata": res["blob_metadata"],
        }
    )
    new_meta["statistics"] = stats
    version = _publish_metadata_version(path, new_meta, prev_version)
    return {
        "version": version,
        "statistics_path": stats_path,
        "ndv": ndv,
    }


def _current_schema_fields(meta: dict) -> list[dict]:
    sid = meta.get("current-schema-id", 0)
    for s in meta.get("schemas", []):
        if s.get("schema-id") == sid:
            return s.get("fields", [])
    sch = meta.get("schema")
    return (sch or {}).get("fields", [])


def _publish_metadata_version(
    path: str, new_meta: dict, prev_version: int
) -> int:
    """Put-if-absent vN+1.metadata.json + version-hint — the same
    commit shape as every metadata writer here."""
    meta_dir = os.path.join(path, "metadata")
    version = prev_version + 1
    meta_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    tmp = meta_path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(new_meta, fh)
    try:
        os.link(tmp, meta_path)
    except FileExistsError:
        from pg_analytics_spark.errors import ConcurrentWriteError

        raise ConcurrentWriteError(
            f"iceberg metadata version {version} already exists at "
            f"{meta_path} — another writer won the race; retry"
        ) from None
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass
    hint_tmp = os.path.join(meta_dir, f".hint-{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))
    return version


def iceberg_statistics(spark: SparkSession, path: str) -> DataFrame:
    """The table's statistics as a relation — one row per blob:
    (snapshot_id, column, field_id, blob_type, ndv, k, n_in_sketch,
    statistics_path).  The ndv is RECOMPUTED from the decoded blob
    and checked against the advertised property — a reader that
    trusts the file cannot silently drift from one that trusts the
    metadata."""
    from pg_analytics_spark.sources.iceberg_write import _latest_metadata

    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    if meta is None:
        raise UnsupportedFormat(f"not an iceberg table: {path}")
    rows = []
    for entry in meta.get("statistics", []):
        _fm, blobs = read_puffin(entry["statistics-path"])
        for bm, data in blobs:
            if bm["type"] != BLOB_TYPE_KMV:
                continue
            k, hashes = decode_kmv_blob(data)
            est = kmv_ndv(k, hashes)
            props = bm.get("properties") or {}
            if props.get("ndv") is not None and repr(est) != props["ndv"]:
                raise UnsupportedFormat(
                    f"statistics blob ndv drift: property {props['ndv']} "
                    f"vs recomputed {est!r} in {entry['statistics-path']}"
                )
            rows.append(
                (
                    int(entry["snapshot-id"]),
                    props.get("column"),
                    int(bm["fields"][0]) if bm.get("fields") else None,
                    bm["type"],
                    est,
                    k,
                    len(hashes),
                    entry["statistics-path"],
                )
            )
    return local_relation(
        spark,
        rows,
        "snapshot_id long, column string, field_id int, blob_type string, "
        "ndv double, k int, n_in_sketch int, statistics_path string",
    )
