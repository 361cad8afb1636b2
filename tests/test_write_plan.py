"""Plan-shape guards for the write path: the COW merge and compaction
shuffle each row once (by file group), and the index's batch scans run
no window."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from hoodie_spark import (HoodieTable, IndexType, MergePolicy, TableType,
                          WriteConfig)
from hoodie_spark import index as index_mod
from hoodie_spark import writer as writer_mod
from hoodie_spark.config import PARTITION_PATH


def plan_nodes(df) -> list[tuple[str, str]]:
    """(name, one-line description) of each operator of ``df``'s physical
    plan. Only children are walked: a cached frame's own plan (behind its
    InMemoryTableScan) does not count."""
    out = []

    def walk(p):
        if p.nodeName() == "AdaptiveSparkPlan":
            return walk(p.executedPlan())
        out.append((p.nodeName(), p.simpleString(100)))
        ch = p.children()
        for k in range(ch.size()):
            walk(ch.apply(k))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def hash_exchanges(df) -> list[str]:
    return [s for n, s in plan_nodes(df)
            if n == "Exchange" and "hashpartitioning" in s]


@pytest.fixture()
def data_writes(monkeypatch):
    """The hash-partitioning Exchanges of every frame written as table data
    files (into the instant's temp dir), taken when the write starts, while
    the tagged batch is still cached."""
    seen = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        if "/.hoodie/.temp/" in path:
            seen.append(hash_exchanges(self._df))
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return seen


def _orders_table(spark, path, **kw):
    return HoodieTable.create(
        spark, path, "orders", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)", **kw)


def _batch(orders):
    """Updates of existing keys plus new keys (packed into small files)."""
    upd = orders.filter("o_orderkey % 7 = 0").withColumn("o_totalprice", F.lit(1.0))
    new = orders.filter("o_orderkey % 11 = 0").withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000)
    return upd.unionByName(new)


@pytest.mark.parametrize("payload", [MergePolicy.OVERWRITE_LATEST,
                                     MergePolicy.PARTIAL_UPDATE])
def test_cow_upsert_writes_after_one_shuffle(spark, orders, tmp_table_path,
                                             data_writes, payload):
    tbl = _orders_table(spark, tmp_table_path, payload=payload,
                        write_config=WriteConfig(index_type=IndexType.BLOOM))
    tbl.bulk_insert(orders)
    data_writes.clear()
    res = tbl.upsert(_batch(orders))
    assert any(s["num_updates"] for s in res.stats)
    assert len(data_writes) == 1
    assert len(data_writes[0]) == 1, data_writes[0]
    assert "__bucket" in data_writes[0][0]


def test_compaction_writes_after_one_shuffle(spark, orders, tmp_table_path,
                                             data_writes):
    tbl = _orders_table(spark, tmp_table_path,
                        table_type=TableType.MERGE_ON_READ)
    tbl.bulk_insert(orders)
    tbl.upsert(_batch(orders))
    tbl.upsert(orders.filter("o_orderkey % 5 = 0").withColumn(
        "o_totalprice", F.lit(2.0)))
    data_writes.clear()
    assert tbl.compact() is not None
    assert len(data_writes) == 1
    assert len(data_writes[0]) == 1, data_writes[0]
    assert "__bucket" in data_writes[0][0]


@pytest.mark.parametrize("index_type", [IndexType.BLOOM, IndexType.SIMPLE])
def test_index_scans_of_the_batch_run_no_window(spark, orders, tmp_table_path,
                                                monkeypatch, index_type):
    """The BLOOM key bounds and the SIMPLE partition list read the keyed
    batch as it arrives; the preCombine dedup runs after tagging."""
    scans = []
    orig_bounds = index_mod._key_bounds
    orig_tag = writer_mod.tag_location

    def bounds(prepared, is_global):
        scans.append(prepared)
        return orig_bounds(prepared, is_global)

    def tag(spark_, prepared, *a, **kw):
        if index_type == IndexType.SIMPLE:
            scans.append(prepared.select(PARTITION_PATH).distinct())
        return orig_tag(spark_, prepared, *a, **kw)

    monkeypatch.setattr(index_mod, "_key_bounds", bounds)
    monkeypatch.setattr(writer_mod, "tag_location", tag)
    tbl = _orders_table(spark, tmp_table_path,
                        write_config=WriteConfig(index_type=index_type))
    tbl.bulk_insert(orders)
    tbl.upsert(_batch(orders).unionByName(_batch(orders)))  # duplicates to dedup
    assert len(scans) == 1
    assert not [s for n, s in plan_nodes(scans[0]) if n == "Window"]
    assert tbl.snapshot().count() == orders.count() + orders.filter(
        "o_orderkey % 11 = 0").count()
