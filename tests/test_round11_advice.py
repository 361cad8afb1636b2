"""Round-11 verdict/advice regression tests.

- ADVICE: GCSStorage.remove maps 404 to FileNotFoundError so the
  Storage.remove missing-file contract is backend-agnostic.
- ADVICE: LocalAtomicStorage.put_atomic fsyncs before the rename so the
  archive's chunk-then-delete ordering survives power loss.
- ADVICE: lsh_plan never returns None (falls back to the flattest
  banding below the satisfiable-threshold waterline).
- ADVICE: per-table storage= from a different backend family than the
  module globals is rejected (control-plane split-brain).
- VERDICT 4: CustomKeyGenerator parity — named field:type partition
  spec (ref keygen/CustomKeyGenerator.java, CustomAvroKeyGenerator.java).
- VERDICT 5: JdbcBasedSchemaProvider (ref JdbcbasedSchemaProvider.java).
- VERDICT 6: JdbcSource scans the source once per round (cache serves
  the write job).
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, custom_partition_expr
from hoodie_spark import storage as st
from hoodie_spark.functions.dedup import lsh_plan
from hoodie_spark.storage_gcs import GCSStorage
from hoodie_spark.streaming.ingest import JdbcSource
from hoodie_spark.streaming.schema import (JdbcBasedSchemaProvider,
                                           resolve_schema)

SF_DIR = "/root/testdata/sf0.001"

_BODIES = [
    "the quick brown fox jumps over the lazy dog near the riverbank",
    "pack my box with five dozen liquor jugs before the long journey",
    "sphinx of black quartz judge my vow under the desert moonlight",
    "how vexingly quick daft zebras jump across the frozen meadow",
    "crazy fredrick bought many very exquisite opal jewels yesterday",
    "we promptly judged antique ivory buckles for the next big prize",
]


def _docs(spark, n=6):
    rows = [(i, _BODIES[i % len(_BODIES)]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id int, text string")


# ------------------------------------------------------------- gcs remove


def test_gcs_remove_maps_404_to_filenotfound():
    from test_storage_gcs import FakeGCSClient

    c = FakeGCSClient()
    fs = GCSStorage(client=c)
    with pytest.raises(FileNotFoundError):
        fs.remove("gs://b/never/was/here")
    # and an `except OSError` guard (the engine's tolerant callers) works
    try:
        fs.remove("gs://b/also/missing")
    except OSError:
        pass


# ------------------------------------------------------------ fsync order


def test_put_atomic_fsyncs_before_rename(tmp_table_path, monkeypatch):
    calls = []
    real_fsync = os.fsync
    real_replace = os.replace
    monkeypatch.setattr(os, "fsync",
                        lambda fd: (calls.append("fsync"), real_fsync(fd)))
    monkeypatch.setattr(
        os, "replace",
        lambda a, b: (calls.append("rename"), real_replace(a, b)))
    os.makedirs(tmp_table_path)
    p = os.path.join(tmp_table_path, "x.json")
    st.LocalAtomicStorage().put_atomic(p, b"payload")
    with open(p, "rb") as f:
        assert f.read() == b"payload"
    # data fsync happens BEFORE the rename publish
    assert "fsync" in calls and calls.index("fsync") < calls.index("rename")


# ---------------------------------------------------------------- lsh_plan


def test_lsh_plan_low_threshold_falls_back_to_flattest():
    assert lsh_plan(0.03, 16) == (16, 1)  # below every curve's waterline
    assert lsh_plan(0.8, 16) == (4, 4)  # the documented default unchanged
    b, r = lsh_plan(0.5, 16)
    assert b * r == 16
    assert 1.0 - (1.0 - 0.5 ** r) ** b >= 0.5  # floor holds when satisfiable


# --------------------------------------------------------- storage guard


def test_per_table_storage_from_other_backend_rejected(spark,
                                                       tmp_table_path):
    class NotTheGlobalBackend(st.Storage):
        pass

    with pytest.raises(ValueError, match="module-global"):
        HoodieTable.create(spark, tmp_table_path, "sb", ["doc_id"], None,
                           storage=NotTheGlobalBackend())
    # instrumentation wrappers (subclasses of the global backend) still work
    class Wrapper(type(st.FS)):
        pass

    tbl = HoodieTable.create(spark, tmp_table_path, "sb", ["doc_id"], None,
                             storage=Wrapper())
    tbl.upsert(_docs(spark, 3))
    assert tbl.snapshot().count() == 3


# ------------------------------------------------------- custom keygen


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


# ----------------------------------------------------- jdbc schema provider


def test_jdbc_schema_provider(spark):
    probe_schema = "a int, b string, ts timestamp"

    def loader(sp):
        return sp.createDataFrame([], probe_schema)

    prov = JdbcBasedSchemaProvider("jdbc:fake://db", "t", loader=loader)
    got = prov.source_schema(spark)
    assert [f.name for f in got.fields] == ["a", "b", "ts"]
    assert resolve_schema(prov, spark) == got

    # the default loader builds a zero-row (WHERE 1=0) metadata probe —
    # verified structurally against a recording reader (no JDBC db here)
    class Reader:
        def __init__(self):
            self.opts = {}

        def format(self, f):
            self.fmt = f
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def load(self):
            return loader(spark)

    class FakeSpark:
        read = Reader()

    real = JdbcBasedSchemaProvider("jdbc:fake://db", "t",
                                   options={"user": "u"})
    assert [f.name for f in real.source_schema(FakeSpark).fields] == \
        ["a", "b", "ts"]
    assert FakeSpark.read.fmt == "jdbc"
    assert "WHERE 1=0" in FakeSpark.read.opts["dbtable"]
    assert FakeSpark.read.opts["user"] == "u"


# ------------------------------------------------------ jdbc single scan


class _FakeJdbc(JdbcSource):
    def __init__(self, path):
        super().__init__(url="jdbc:fake://db", table="t", incr_column="id")
        self._path = path

    def _load(self, spark):
        return spark.read.parquet(self._path)


def test_jdbc_source_single_scan_and_checkpoint(spark, tmp_table_path):
    os.makedirs(tmp_table_path)
    p = os.path.join(tmp_table_path, "src")
    spark.range(1, 11).toDF("id").write.parquet(p)
    src = _FakeJdbc(p)
    df, ck = src.fetch(spark, None)
    assert ck == "10"
    # the batch was materialized into the cache by the checkpoint agg:
    # deleting the source proves the downstream "write" never re-scans it
    shutil.rmtree(p)
    assert df.count() == 10
    # next round: new data, incremental filter, previous pin released
    spark.range(1, 16).toDF("id").write.parquet(p)
    df2, ck2 = src.fetch(spark, ck)
    assert ck2 == "15" and df2.count() == 5
    assert not df.storageLevel.useMemory  # round-1 cache released
    # empty round: checkpoint unchanged, nothing pinned
    got = src.fetch(spark, ck2)
    assert got == (None, ck2)


# --------------------------------------------- service plan/begin ordering


def test_compaction_conflicts_with_commit_during_planning(
        spark, orders, tmp_table_path, monkeypatch):
    """A delta commit landing DURING compaction planning must abort the
    compaction (WriteConflictError), not be silently shadowed by the new
    base: the compacted base's instant sorts above the delta's
    base_instant, so committing anyway would drop the delta's rows.
    Before the round-11 fix, compact() planned BEFORE writer._begin, so
    such a commit sorted at-or-below the conflict baseline and escaped
    the check — this test pins plan-after-begin."""
    from hoodie_spark import (HoodieTable, TableType, WriteConfig,
                              WriteConflictError)
    from hoodie_spark.config import WriteConcurrencyMode
    import importlib
    compact_mod = importlib.import_module(
        'hoodie_spark.services.compact')

    cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "svc_race", ["o_orderkey"], "o_orderdate",
        table_type=TableType.MERGE_ON_READ, write_config=cfg)
    tbl.bulk_insert(orders.limit(300))
    tbl.upsert(orders.limit(20).withColumn("o_orderstatus", F.lit("A")))

    other = HoodieTable.load(spark, tmp_table_path, write_config=cfg)
    real_plan = compact_mod.schedule_compaction

    def plan_with_concurrent_commit(table, strategy=None, **kw):
        plan = real_plan(table, strategy, **kw)
        # a second writer commits a delta to the same file groups while
        # this compaction is planning (i.e. after its _begin)
        other.upsert(orders.limit(5).withColumn("o_orderstatus",
                                                F.lit("B")))
        return plan

    monkeypatch.setattr(compact_mod, "schedule_compaction",
                        plan_with_concurrent_commit)
    with pytest.raises(WriteConflictError):
        tbl.compact()
    monkeypatch.setattr(compact_mod, "schedule_compaction", real_plan)
    # the concurrent writer's rows are intact; no dangling instants
    tbl2 = HoodieTable.load(spark, tmp_table_path)
    assert tbl2.snapshot().filter("o_orderstatus = 'B'").count() == 5
    assert tbl2.timeline.pending() == []
    # and a retry (now planning over the new delta) succeeds and keeps it
    assert tbl2.compact() is not None
    assert tbl2.snapshot().filter("o_orderstatus = 'B'").count() == 5


def test_clustering_conflicts_with_commit_during_planning(
        spark, orders, tmp_table_path, monkeypatch):
    """Same plan-after-begin rule for clustering: a commit landing during
    the plan must conflict, or its file group would be marked replaced
    with its rows absent from the rewrite."""
    from hoodie_spark import (HoodieTable, WriteConfig, WriteConflictError)
    from hoodie_spark.config import WriteConcurrencyMode
    import importlib
    cluster_mod = importlib.import_module(
        'hoodie_spark.services.cluster')

    cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "cl_race", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=cfg)  # one small file group per year partition
    tbl.bulk_insert(orders.limit(300))

    other = HoodieTable.load(spark, tmp_table_path, write_config=cfg)
    real_plan = cluster_mod.plan_clustering

    def plan_with_concurrent_commit(table, *a, **kw):
        plan = real_plan(table, *a, **kw)
        other.upsert(orders.limit(5).withColumn("o_orderstatus",
                                                F.lit("B")))
        return plan

    monkeypatch.setattr(cluster_mod, "plan_clustering",
                        plan_with_concurrent_commit)
    with pytest.raises(WriteConflictError):
        tbl.cluster(sort_cols=["o_orderkey"])
    monkeypatch.setattr(cluster_mod, "plan_clustering", real_plan)
    tbl2 = HoodieTable.load(spark, tmp_table_path)
    assert tbl2.snapshot().filter("o_orderstatus = 'B'").count() == 5
    assert tbl2.timeline.pending() == []
    assert tbl2.cluster(sort_cols=["o_orderkey"]) is not None
    assert tbl2.snapshot().filter("o_orderstatus = 'B'").count() == 5


_SVC_RACER = """
import os, sys, time
from pyspark.sql import SparkSession, functions as F
from hoodie_spark import HoodieTable, WriteConfig, WriteConflictError
from hoodie_spark.config import WriteConcurrencyMode

path, sync_dir, me, other, role = sys.argv[1:6]
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC,
                  lock_timeout_s=120.0)
tbl = HoodieTable.load(spark, path, write_config=cfg)
writer = tbl._writer
orig_begin = writer._begin

def begin_with_barrier(action):
    inst = orig_begin(action)
    open(os.path.join(sync_dir, "ready_" + me), "w").close()
    deadline = time.time() + 120
    while not os.path.exists(os.path.join(sync_dir, "ready_" + other)):
        if time.time() > deadline:
            print("BARRIER_TIMEOUT"); sys.exit(3)
        time.sleep(0.05)
    return inst

writer._begin = begin_with_barrier
try:
    if role == "writer":
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        tbl.upsert(orders.filter(F.col("o_orderkey") % 10 == 0)
                   .withColumn("o_orderstatus", F.lit("W")))
    else:
        assert tbl.compact() is not None
    print("COMMITTED")
except WriteConflictError:
    print("CONFLICT")
"""


def test_two_process_writer_vs_compaction_race(spark, orders,
                                               tmp_table_path):
    """REAL two-driver race between an upsert and a compaction on the
    same file groups (both transactions provably begun before either
    commits): exactly one wins, the loser aborts with WriteConflictError,
    and the table stays consistent either way — the cross-process e2e
    proof of the plan-after-begin fix."""
    import os
    import subprocess
    import sys
    import tempfile

    from hoodie_spark import TableType, WriteConfig
    from hoodie_spark.config import WriteConcurrencyMode

    cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "svc2p", ["o_orderkey"], "o_orderdate",
        table_type=TableType.MERGE_ON_READ, write_config=cfg)
    tbl.bulk_insert(orders)
    n = orders.count()
    # a delta so the compactor has a plan
    tbl.upsert(orders.limit(20).withColumn("o_orderstatus", F.lit("A")))

    sync_dir = tempfile.mkdtemp(prefix="svc_sync_")
    script = tempfile.NamedTemporaryFile("w", suffix=".py", delete=False)
    script.write(_SVC_RACER)
    script.close()
    env = dict(os.environ,
               PYTHONPATH=os.path.dirname(os.path.dirname(
                   os.path.abspath(__file__))))
    procs = [subprocess.Popen(
        [sys.executable, script.name, tmp_table_path, sync_dir, m, o, role],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        env=env)
        for m, o, role in (("A", "B", "writer"), ("B", "A", "service"))]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    results = sorted(o.strip().splitlines()[-1] for o in outs)
    assert results == ["COMMITTED", "CONFLICT"], outs

    tbl2 = HoodieTable.load(spark, tmp_table_path)
    snap = tbl2.snapshot().cache()
    assert snap.count() == n  # neither outcome changes the key set
    assert snap.groupBy("o_orderkey").count() \
        .filter("count > 1").count() == 0
    writer_out = outs[0].strip().splitlines()[-1]
    if writer_out == "COMMITTED":
        # the writer won: its rows must be durable (not shadowed)
        assert snap.filter("o_orderstatus = 'W'").count() > 0
    else:
        # the compaction won: the setup delta must still be readable
        assert snap.filter("o_orderstatus = 'A'").count() == 20
    assert tbl2.timeline.pending() == []
    snap.unpersist()
