"""CustomKeyGenerator parity: the named ``field:type`` partition spec
compiled by ``custom_partition_expr``."""

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, custom_partition_expr


def test_custom_keygen_mixed_field_types(spark, orders, tmp_table_path):
    """CustomKeyGenerator.java semantics: 'f1:simple,f2:timestamp' -> one
    partition path '<f1 value>/<f2 formatted>'."""
    expr = custom_partition_expr("o_custkey:simple,o_orderdate:timestamp",
                                 timestamp_format={"o_orderdate": "yyyy/MM"})
    tbl = HoodieTable.create(spark, tmp_table_path, "orders_ck",
                             ["o_orderkey"], "o_orderdate",
                             partition_expr=expr)
    src = orders.limit(200)
    tbl.bulk_insert(src)
    got = tbl.snapshot().select(
        "o_custkey", "o_orderdate",
        F.col("_hoodie_partition_path").alias("pp"))
    bad = got.filter(F.col("pp") != F.concat_ws(
        "/", F.col("o_custkey").cast("string"),
        F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyy/MM")))
    assert bad.count() == 0
    assert got.count() == 200
    # both key types actually contributed segments
    one = got.first()
    assert one["pp"].startswith(str(one["o_custkey"]) + "/")
    assert one["pp"].count("/") == 2  # custkey / yyyy / MM


def test_custom_keygen_spec_validation():
    assert custom_partition_expr("") == "''"  # non-partitioned
    assert custom_partition_expr("a:simple") == \
        "coalesce(cast(`a` as string), 'default')"  # NULL -> 'default'
    with pytest.raises(ValueError, match="field:type"):
        custom_partition_expr("just_a_field")
    with pytest.raises(ValueError, match="PartitionKeyType"):
        custom_partition_expr("a:fancy")


def test_custom_keygen_null_field_renders_default(spark):
    expr = custom_partition_expr("region:simple,day:timestamp",
                                 {"day": "yyyy-MM-dd"})
    df = spark.createDataFrame(
        [("eu", "2024-01-05"), ("eu", None), (None, "2024-01-05")],
        "region string, day string")
    out = [r.pp for r in df.selectExpr(f"{expr} as pp").collect()]
    assert out == ["eu/2024-01-05", "eu/default", "default/2024-01-05"]


def test_custom_keygen_quote_in_timestamp_format(spark):
    # date_format literals use single quotes; the spec-compiled SQL must
    # escape them instead of producing a broken expression
    expr = custom_partition_expr("day:timestamp", "yyyy'T'MM")
    df = spark.createDataFrame([("2024-01-05",)], "day string")
    assert df.selectExpr(f"{expr} as pp").first().pp == "2024T01"
