"""Iceberg METADATA TABLES — the runtime's ``t.snapshots`` /
``t.files`` / ``t.manifests`` introspection relations, exposed by the
engine as table functions ``iceberg_snapshots('t')`` etc. (the same
driver-state-to-temp-view surface as ``table_changes``; reference
scope: the reference FDW exposes DuckDB's ``iceberg_snapshots``
metadata function — README.md "Iceberg" + duckdb-iceberg extension —
so this is direct parity, re-expressed over the native reader).

All three are METADATA-SIZED: one json read plus the manifest-list /
manifest avro reads the planner does anyway — no data file is opened,
no Spark job runs until the caller queries the returned frame.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from pg_analytics_spark.errors import UnsupportedFormat
from pg_analytics_spark.types import local_relation


def _meta(path: str) -> dict:
    from pg_analytics_spark.sources.iceberg_write import _latest_metadata

    _v, meta = _latest_metadata(os.path.join(path, "metadata"))
    if meta is None:
        raise UnsupportedFormat(f"not an iceberg table: {path}")
    return meta


def iceberg_snapshots(spark: SparkSession, path: str) -> DataFrame:
    """One row per snapshot: (committed_at_ms, snapshot_id,
    sequence_number, operation, summary, manifest_list), ordered by
    sequence number (snapshot ids are RANDOM — never order by id)."""
    meta = _meta(path)
    rows = [
        (
            int(s.get("timestamp-ms") or 0),
            int(s["snapshot-id"]),
            int(s.get("sequence-number") or 0),
            str((s.get("summary") or {}).get("operation") or ""),
            json.dumps(
                {
                    k: v
                    for k, v in (s.get("summary") or {}).items()
                    if k != "operation"
                },
                sort_keys=True,
            ),
            str(s.get("manifest-list") or ""),
        )
        for s in meta.get("snapshots", [])
    ]
    rows.sort(key=lambda r: r[2])
    return local_relation(
        spark,
        rows,
        "committed_at_ms long, snapshot_id long, sequence_number long, "
        "operation string, summary string, manifest_list string",
    )


def _current_manifest_list(meta: dict) -> list[dict]:
    from pg_analytics_spark.sources.avro import read_container

    snap = next(
        (
            s
            for s in meta.get("snapshots", [])
            if s["snapshot-id"] == meta.get("current-snapshot-id")
        ),
        None,
    )
    if snap is None:
        return []
    _s, mlist = read_container(snap["manifest-list"])
    return mlist


def iceberg_manifests(spark: SparkSession, path: str) -> DataFrame:
    """The CURRENT snapshot's manifest list: (path, length,
    partition_spec_id, content, sequence_number, added_snapshot_id) —
    what `rewrite_manifests` consolidates and the planning walk pays
    per query."""
    meta = _meta(path)
    rows = [
        (
            str(m["manifest_path"]),
            int(m.get("manifest_length") or 0),
            int(m.get("partition_spec_id") or 0),
            int(m.get("content") or 0),
            int(m.get("sequence_number") or 0),
            int(m.get("added_snapshot_id") or 0),
        )
        for m in _current_manifest_list(meta)
    ]
    rows.sort(key=lambda r: (r[4], r[0]))
    return local_relation(
        spark,
        rows,
        "path string, length long, partition_spec_id long, content int, "
        "sequence_number long, added_snapshot_id long",
    )


def iceberg_files(spark: SparkSession, path: str) -> DataFrame:
    """The CURRENT snapshot's live file entries (data AND delete
    files): (content, file_path, file_format, spec_id, partition,
    record_count, file_size_in_bytes, sequence_number).  Sequence
    numbers resolve per-entry first (rewrite_manifests' carried
    entries), manifest-list fallback otherwise — the same rule as the
    reader."""
    from pg_analytics_spark.sources.avro import read_container

    meta = _meta(path)
    rows = []
    for m in _current_manifest_list(meta):
        _s, entries = read_container(m["manifest_path"])
        m_seq = int(m.get("sequence_number") or 0)
        for e in entries:
            if e.get("status", 0) == 2:
                continue
            e_seq = e.get("sequence_number")
            rec = e["data_file"]
            part = rec.get("partition")
            rows.append(
                (
                    int(rec.get("content") or 0),
                    str(rec["file_path"]),
                    str(rec.get("file_format") or "PARQUET"),
                    int(m.get("partition_spec_id") or 0),
                    json.dumps(part, sort_keys=True)
                    if part is not None
                    else None,
                    int(rec.get("record_count") or 0),
                    int(rec.get("file_size_in_bytes") or 0),
                    m_seq if e_seq is None else int(e_seq),
                )
            )
    rows.sort(key=lambda r: (r[7], r[1]))
    return local_relation(
        spark,
        rows,
        "content int, file_path string, file_format string, "
        "spec_id long, partition string, record_count long, "
        "file_size_in_bytes long, sequence_number long",
    )


def iceberg_refs(spark: SparkSession, path: str) -> DataFrame:
    """One row per named ref (the runtime's ``t.refs`` metadata
    table): (name, type, snapshot_id, max_reference_age_in_ms,
    min_snapshots_to_keep, max_snapshot_age_in_ms) — the runtime's
    exact column names, so queries written for ``t.refs`` port; the retention
    fields expire_snapshots honors; NULL where unset.  main is
    synthesized from current-snapshot-id like the runtime does."""
    meta = _meta(path)
    rows = []
    cur = meta.get("current-snapshot-id")
    if cur is not None and cur != -1:
        rows.append(("main", "branch", int(cur), None, None, None))
    for name, ref in sorted((meta.get("refs") or {}).items()):
        rows.append(
            (
                str(name),
                str(ref.get("type") or "branch"),
                int(ref["snapshot-id"]),
                (
                    int(ref["max-ref-age-ms"])
                    if ref.get("max-ref-age-ms") is not None
                    else None
                ),
                (
                    int(ref["min-snapshots-to-keep"])
                    if ref.get("min-snapshots-to-keep") is not None
                    else None
                ),
                (
                    int(ref["max-snapshot-age-ms"])
                    if ref.get("max-snapshot-age-ms") is not None
                    else None
                ),
            )
        )
    return local_relation(
        spark,
        rows,
        "name string, type string, snapshot_id long, "
        "max_reference_age_in_ms long, min_snapshots_to_keep long, "
        "max_snapshot_age_in_ms long",
    )
