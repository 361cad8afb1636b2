"""local_frame: driver rows as a JVM LocalRelation, equal to what
createDataFrame(list, schema) builds, and the package's only way to build
a frame from driver rows."""

import ast
import datetime
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

import hoodie_spark
from hoodie_spark.frames import local_frame

_TS = datetime.datetime(2024, 3, 10, 2, 30, 15, 123456)

CASES = {
    # the insert-bucket plan of writer._upsert_like
    "ddl": ([("2024", 0.0, 0.5, "f1-0", False), ("2024", 0.5, 1.0, None, True)],
            "pp string, lo double, hi double, file_id string, is_new boolean"),
    "struct_type": ([(1, "a"), (None, "b")],
                    T.StructType([T.StructField("q_id", T.LongType()),
                                  T.StructField("s", T.StringType())])),
    "zero_rows": ([], "lhash string, n bigint"),
    # the empty CDC frame of reader.cdc: key columns plus before/after images
    "nested_struct": ([("i", "t1", 7, None, (7, "x")),
                       ("u", "t2", 8, Row(k=8, v="y"), (8, None))],
                      "op string, ts string, k int, "
                      "before struct<k:int,v:string>, "
                      "after struct<k:int,v:string>"),
    # the centroid frame of similarity.kmeans_centroids
    "array_double": ([(0, [1.0, 2.5]), (1, []), (2, None)],
                     "k_id int, k_v array<double>"),
}


def _is_local_relation(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _is_local_relation(got)


def test_local_frame_timestamp_under_non_utc_zones(spark, monkeypatch):
    """Naive datetimes are process-local time on both paths, whatever the
    session time zone."""
    rows = [(_TS, 1), (None, 2),
            (_TS.replace(tzinfo=datetime.timezone.utc), 3)]
    schema = "t timestamp, n int"
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    try:
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        as_text = "cast(t as string) as s"
        assert got.selectExpr(as_text).collect() == \
            want.selectExpr(as_text).collect()
        assert _is_local_relation(got)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
        monkeypatch.undo()
        time.tzset()


def test_local_frame_rejects_a_short_row(spark):
    with pytest.raises(ValueError, match="has 1 values"):
        local_frame(spark, [("a",)], "a string, b int")


def test_only_the_helper_calls_create_dataframe():
    root = os.path.dirname(hoodie_spark.__file__)
    helper = os.path.join(root, "frames.py")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == helper:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            offenders += [
                f"{os.path.relpath(path, root)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"]
    assert offenders == [], \
        "build driver-side frames with hoodie_spark.frames.local_frame"
