"""Statement result relations: every DML/DDL statement on an attached
lake table returns a small metrics relation built on the driver.  Each
keeps its column names, types and values, and is an Arrow-backed
LocalRelation — not a pickled Python RDD, whose first action would
launch a Spark job through Python workers."""

from __future__ import annotations

import datetime as dt

import pytest

from pg_analytics_spark.engine import Engine
from pg_analytics_spark.sources.delta_write import write_delta
from pg_analytics_spark.sources.iceberg_write import write_iceberg

WRITERS = {"delta": write_delta, "iceberg": write_iceberg}

#: result schema per (statement, format), as simpleString
SCHEMAS = {
    ("insert", "delta"): "struct<count:bigint>",
    ("insert", "iceberg"): "struct<count:bigint>",
    ("update", "delta"): "struct<rows_written:bigint,files_added:int,"
    "files_removed:int,version:int>",
    ("update", "iceberg"): "struct<rows_updated:bigint,version:int>",
    ("delete", "delta"): "struct<rows_written:bigint,files_added:int,"
    "files_removed:int,version:int>",
    ("delete", "iceberg"): "struct<rows_deleted:bigint,version:int>",
    ("merge", "delta"): "struct<rows_written:bigint,files_added:int,"
    "files_removed:int,version:int>",
    ("merge", "iceberg"): "struct<rows_written:bigint,files_added:int,"
    "files_removed:int,version:int>",
    ("history", "delta"): "struct<version:bigint,timestamp:timestamp,"
    "operation:string,operationParameters:string>",
    ("history", "iceberg"): "struct<version:bigint,timestamp:timestamp,"
    "operation:string,operationParameters:string>",
    ("props", "delta"): "struct<key:string,value:string>",
    ("props", "iceberg"): "struct<key:string,value:string>",
}


def _local(df):
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation", str(plan)
    return [tuple(r) for r in df.collect()]


def _check(df, stmt, fmt):
    assert df.schema.simpleString() == SCHEMAS[(stmt, fmt)]
    return _local(df)


@pytest.mark.parametrize("fmt", sorted(WRITERS))
def test_dml_statement_results(spark, tmp_path, fmt):
    path = str(tmp_path / fmt)
    WRITERS[fmt](
        spark.createDataFrame(
            [(i, i * 10) for i in range(6)], "k bigint, v bigint"
        ).coalesce(1),
        path,
        mode="overwrite",
    )
    eng = Engine(spark=spark)
    eng.attach("t", [path], fmt)

    [(n,)] = _check(
        eng.sql("INSERT INTO t SELECT 10 AS k, 100 AS v"), "insert", fmt
    )
    assert n == 1
    upd = _check(eng.sql("UPDATE t SET v = v + 1 WHERE k < 2"), "update", fmt)
    dele = _check(eng.sql("DELETE FROM t WHERE k = 5"), "delete", fmt)
    mrg = _check(
        eng.sql(
            "MERGE INTO t USING (SELECT 3 AS k, 33 AS v UNION ALL "
            "SELECT 20 AS k, 200 AS v) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        ),
        "merge",
        fmt,
    )
    if fmt == "delta":
        # copy-on-write: UPDATE and DELETE rewrite the base file (6,
        # then 5 surviving rows); MERGE rewrites it plus the new row
        assert upd == [(6, 1, 1, 2)]
        assert dele == [(5, 1, 1, 3)]
        assert mrg[0][0] == 6 and mrg[0][3] == 4
    else:
        # merge-on-read: counts are the matched rows only
        v0 = upd[0][1] - 1
        assert upd == [(2, v0 + 1)]
        assert dele == [(1, v0 + 2)]
        assert mrg[0][0] == 2 and mrg[0][2] == 0 and mrg[0][3] == v0 + 3
    got = {tuple(r) for r in eng.sql("SELECT k, v FROM t").collect()}
    assert got == {(0, 1), (1, 11), (2, 20), (3, 33), (4, 40), (10, 100),
                   (20, 200)}

    hist = _check(eng.sql("DESCRIBE HISTORY t"), "history", fmt)
    assert len(hist) == 5
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    assert all(abs(h[1] - now) < dt.timedelta(minutes=10) for h in hist)
    if fmt == "delta":
        assert [h[0] for h in hist] == [4, 3, 2, 1, 0]

    eng.sql("ALTER TABLE t SET TBLPROPERTIES ('zz.k' = 'v1', 'aa.k' = 'v0')")
    props = _check(eng.sql("SHOW TBLPROPERTIES t"), "props", fmt)
    assert ("aa.k", "v0") in props and ("zz.k", "v1") in props
    assert props == sorted(props)


def test_empty_statement_result_keeps_schema(spark, tmp_path):
    """SHOW TBLPROPERTIES on a table without properties: zero rows under
    the declared schema, still a LocalRelation."""
    path = str(tmp_path / "dl")
    write_delta(spark.range(3), path, mode="overwrite")
    eng = Engine(spark=spark)
    eng.attach("t", [path], "delta")
    df = eng.sql("SHOW TBLPROPERTIES t")
    assert df.schema.simpleString() == SCHEMAS[("props", "delta")]
    assert _local(df) == []
