"""Iceberg scans under an explicit read schema.  When a table's metadata
pins its schema (one schema, primitive fields, no name mapping, not
adopted) the reader and the DML writers hand Spark that schema, and
position-delete files the spec's fixed one, so loading a table runs no
footer-inference job.  Every other table keeps Spark's inference; the
cases here pin that both paths return the same rows."""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pg_analytics_spark.sources import iceberg as ice
from pg_analytics_spark.sources import load_source
from pg_analytics_spark.sources.iceberg_write import (
    add_iceberg_files,
    alter_iceberg,
    delete_iceberg,
    write_iceberg,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _jobs_in(spark, fn):
    """(result of fn(), ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"iceberg-read-schema-{id(fn)}"
    sc.setJobGroup(group, "job census")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_single_schema_with_pos_deletes_loads_without_jobs(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    base = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("g"),
        F.col("id").cast("string").alias("s"),
        F.to_date(F.lit("2024-01-01")).alias("d"),
    )
    write_iceberg(base.repartition(2), path, mode="overwrite")
    write_iceberg(base.limit(5), path, mode="append")
    delete_iceberg(spark, path, "k % 3 = 0")
    load_source(spark, path, "iceberg")  # format probe memoized

    df, jobs = _jobs_in(spark, lambda: load_source(spark, path, "iceberg"))
    assert jobs == []
    assert df.dtypes == [
        ("k", "bigint"), ("g", "int"), ("s", "string"), ("d", "date")
    ]
    got = _rows(df)
    assert len(got) == 45 - 14 - 2  # ids 0..39 then 0..4, k % 3 == 0 gone
    assert all(r[0] % 3 for r in got)

    # the inference path (no explicit schema) returns the same rows
    _, collect_jobs = _jobs_in(spark, df.collect)
    assert collect_jobs  # the census sees jobs when there are some
    monkeypatch.setattr(ice, "explicit_read_schema", lambda *a: None)
    assert _rows(load_source(spark, path, "iceberg")) == got


def _add_nested_column(path: str) -> None:
    """Give a one-file native table a struct column: rewrite its data
    file with the column and declare it in the current schema."""
    [f] = glob.glob(os.path.join(path, "data", "*.parquet"))
    t = pq.read_table(f)
    st = pa.array(
        [{"a": int(k), "b": f"x{k}"} for k in t.column("k").to_pylist()],
        pa.struct([("a", pa.int64()), ("b", pa.string())]),
    )
    pq.write_table(t.append_column("st", st), f)
    meta_file = ice._latest_metadata_file(path)
    with open(meta_file) as fh:
        meta = json.load(fh)
    nxt = meta["last-column-id"]
    [schema] = meta["schemas"]
    schema["fields"].append(
        {
            "id": nxt + 1,
            "name": "st",
            "required": False,
            "type": {
                "type": "struct",
                "fields": [
                    {"id": nxt + 2, "name": "a", "required": False,
                     "type": "long"},
                    {"id": nxt + 3, "name": "b", "required": False,
                     "type": "string"},
                ],
            },
        }
    )
    meta["last-column-id"] = nxt + 3
    with open(meta_file, "w") as fh:
        json.dump(meta, fh)


def test_nested_column_table_reads_before_and_after_alter(spark, tmp_path):
    """A nested field keeps the inference path (no explicit schema for
    it), before and after ADD/RENAME COLUMN."""
    path = str(tmp_path / "t")
    write_iceberg(
        spark.range(4).select(F.col("id").alias("k")).coalesce(1),
        path,
        mode="overwrite",
    )
    _add_nested_column(path)
    with open(ice._latest_metadata_file(path)) as fh:
        meta = json.load(fh)
    assert ice.explicit_read_schema(meta, pq.read_schema(
        glob.glob(os.path.join(path, "data", "*.parquet"))[0]
    )) is None
    df = load_source(spark, path, "iceberg")
    assert _rows(df.select("k", "st.a", "st.b")) == [
        (k, k, f"x{k}") for k in range(4)
    ]
    alter_iceberg(path, add=("c", "bigint"))
    alter_iceberg(path, rename=("k", "key"))
    df = load_source(spark, path, "iceberg")
    assert df.columns == ["key", "st", "c"]
    assert _rows(df.select("key", "st.b", "c")) == [
        (k, f"x{k}", None) for k in range(4)
    ]


def test_adopted_table_reads_after_alter(spark, tmp_path):
    """Adopted tables keep the inference path; their identity partition
    constants survive ADD and RENAME COLUMN."""
    src = str(tmp_path / "hive")
    spark.range(12).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
    ).write.partitionBy("p").parquet(src)
    dst = str(tmp_path / "ice")
    add_iceberg_files(spark, src, dst, partition_by=["p string"])
    expect = [(k, str(k % 3)) for k in range(12)]
    assert _rows(load_source(spark, dst, "iceberg").select("k", "p")) == expect
    alter_iceberg(dst, add=("c", "bigint"))
    alter_iceberg(dst, rename=("k", "key"))
    df = load_source(spark, dst, "iceberg")
    assert set(df.columns) == {"key", "p", "c"}
    assert _rows(df.select("key", "p", "c")) == [
        (k, p, None) for k, p in expect
    ]
