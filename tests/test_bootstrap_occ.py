"""Bootstrap (adopt existing parquet) and optimistic concurrency control."""

import os

import pytest
from pyspark.sql import functions as F

from hoodie_spark import (BootstrapMode, HoodieTable, WriteConcurrencyMode,
                          WriteConfig, WriteConflictError)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def source_dir(spark, tmp_table_path):
    """A partitioned plain-parquet dataset to adopt (not a hoodie table)."""
    src = os.path.join(tmp_table_path, "src")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    for year in [1995, 1996]:
        (orders.filter(F.year("o_orderdate") == year).coalesce(1)
         .write.mode("overwrite").parquet(os.path.join(src, str(year))))
    return src


def test_bootstrap_metadata_only(spark, tmp_table_path, source_dir):
    tbl = HoodieTable.bootstrap(
        spark, os.path.join(tmp_table_path, "tbl"), source_dir, "orders_bs",
        ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .filter(F.year("o_orderdate").isin(1995, 1996))
    snap = tbl.snapshot()
    assert snap.count() == orders.count()
    # no data files were copied into the table dir
    data_files = [f for _r, _d, fs in os.walk(os.path.join(tmp_table_path, "tbl"))
                  for f in fs if f.endswith(".parquet")]
    assert data_files == []
    # meta columns are synthesized on read
    row = snap.select("o_orderkey", "_hoodie_record_key",
                      "_hoodie_partition_path").first()
    assert row[1] == str(row[0]) and row[2] in ("1995", "1996")


def test_bootstrap_then_upsert_and_delete(spark, tmp_table_path, source_dir):
    tbl = HoodieTable.bootstrap(
        spark, os.path.join(tmp_table_path, "tbl"), source_dir, "orders_bs",
        ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)")
    n0 = tbl.snapshot().count()
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .filter(F.year("o_orderdate").isin(1995, 1996))
    upd = orders.filter(F.col("o_orderkey") % 10 == 0) \
                .withColumn("o_orderstatus", F.lit("Z"))
    tbl.upsert(upd)
    snap = tbl.snapshot()
    assert snap.count() == n0  # updates, not duplicates
    assert snap.filter("o_orderstatus = 'Z'").count() == upd.count()
    tbl.delete(orders.filter(F.col("o_orderkey") % 9 == 1).select("o_orderkey"))
    n_del = orders.filter(F.col("o_orderkey") % 9 == 1).count()
    assert tbl.snapshot().count() == n0 - n_del
    # the original source files survive every rewrite
    src_files = [f for _r, _d, fs in os.walk(source_dir)
                 for f in fs if f.endswith(".parquet")]
    assert len(src_files) == 2


def test_bootstrap_full_record(spark, tmp_table_path, source_dir):
    tbl = HoodieTable.bootstrap(
        spark, os.path.join(tmp_table_path, "tbl"), source_dir, "orders_bs",
        ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        mode=BootstrapMode.FULL_RECORD)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .filter(F.year("o_orderdate").isin(1995, 1996))
    assert tbl.snapshot().count() == orders.count()
    data_files = [f for _r, _d, fs in os.walk(os.path.join(tmp_table_path, "tbl"))
                  for f in fs if f.endswith(".parquet")]
    assert len(data_files) > 0  # rewritten into the table


def test_occ_conflict_detected(spark, tmp_table_path):
    """Two writers from the same baseline hitting the same file group: the
    second commit must abort and leave no partial state."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC)
    t1 = HoodieTable.create(spark, tmp_table_path, "occ", ["o_orderkey"],
                            "o_orderdate", write_config=cfg)
    t1.bulk_insert(orders)

    # writer 2 opens the same table, sees the same baseline
    t2 = HoodieTable.load(spark, tmp_table_path, write_config=cfg)
    upd = orders.filter(F.col("o_orderkey") % 10 == 0) \
                .withColumn("o_orderstatus", F.lit("A"))

    # interleave: t1 starts+finishes first, then t2's commit (whose txn
    # began before t1 completed) must conflict. Simulate by pre-computing
    # t2's baseline via _begin through a monkey-level sequence: run t1's
    # write fully, then force t2's baseline back.
    r1 = t1.upsert(upd)
    inst_baseline = ""  # before r1
    res2 = None
    writer2 = t2._writer
    orig_begin = writer2._begin

    def begin_with_stale_baseline(action):
        inst = orig_begin(action)
        writer2._txn_baseline[inst] = inst_baseline
        return inst

    writer2._begin = begin_with_stale_baseline
    with pytest.raises(WriteConflictError):
        res2 = t2.upsert(upd.withColumn("o_orderstatus", F.lit("B")))
    assert res2 is None
    # table state is writer 1's
    snap = t1.snapshot()
    assert snap.filter("o_orderstatus = 'A'").count() == upd.count()
    assert snap.filter("o_orderstatus = 'B'").count() == 0
    # no dangling inflight instants
    assert t1.timeline.pending() == []


def test_occ_disjoint_writes_both_commit(spark, tmp_table_path):
    """Writers touching disjoint partitions don't conflict."""
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "occ2", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)", write_config=cfg)
    tbl.bulk_insert(orders)
    a = orders.filter(F.year("o_orderdate") == 1995) \
              .withColumn("o_orderstatus", F.lit("A"))
    b = orders.filter(F.year("o_orderdate") == 1996) \
              .withColumn("o_orderstatus", F.lit("B"))
    tbl.upsert(a)
    tbl.upsert(b)  # same baseline mechanics, disjoint file groups
    snap = tbl.snapshot()
    assert snap.filter("o_orderstatus = 'A'").count() == a.count()
    assert snap.filter("o_orderstatus = 'B'").count() == b.count()


_OCC_WORKER = """
import sys
from pyspark.sql import SparkSession, functions as F
from hoodie_spark import HoodieTable, WriteConfig, WriteConflictError
from hoodie_spark.config import WriteConcurrencyMode

path, marker, modulus, rounds = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
mine = orders.filter(F.col("o_orderkey") % 2 == modulus)
cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC,
                  lock_timeout_s=120.0)
tbl = HoodieTable.load(spark, path, write_config=cfg)
committed = conflicts = 0
for r in range(rounds):
    batch = mine.withColumn("o_orderstatus", F.lit(f"{marker}{r}"))
    for attempt in range(25):
        try:
            tbl.upsert(batch)
            committed += 1
            break
        except WriteConflictError:
            conflicts += 1
    else:
        print("GAVE_UP"); sys.exit(2)
print(f"RESULT committed={committed} conflicts={conflicts}")
"""


_OCC_RACER = """
import os, sys, time
from pyspark.sql import SparkSession, functions as F
from hoodie_spark import HoodieTable, WriteConfig, WriteConflictError
from hoodie_spark.config import WriteConcurrencyMode

path, sync_dir, me, other, mode = sys.argv[1:6]
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
if mode == "overlap":
    # both writers update the SAME keys -> same file groups
    batch = (orders.filter(F.col("o_orderkey") % 10 == 0)
             .withColumn("o_orderstatus", F.lit(me)))
else:
    # disjoint partitions (partition_expr = year): no shared file group
    year = 1995 if me == "A" else 1996
    batch = (orders.filter(F.year("o_orderdate") == year)
             .withColumn("o_orderstatus", F.lit(me)))
cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC,
                  lock_timeout_s=120.0)
tbl = HoodieTable.load(spark, path, write_config=cfg)

# deterministic race: BOTH transactions must begin (fix their conflict
# baseline) before EITHER commits — a file barrier inside _begin
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
    tbl.upsert(batch)
    print("COMMITTED")
except WriteConflictError:
    print("CONFLICT")
"""


def _race(spark, tmp_table_path, mode, partition_expr):
    import os
    import subprocess
    import sys
    import tempfile

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "occ_race", ["o_orderkey"], "o_orderdate",
        partition_expr=partition_expr, write_config=cfg)
    tbl.bulk_insert(orders)
    sync_dir = tempfile.mkdtemp(prefix="occ_sync_")
    script = tempfile.NamedTemporaryFile("w", suffix=".py", delete=False)
    script.write(_OCC_RACER)
    script.close()
    env = dict(os.environ,
               PYTHONPATH=os.path.dirname(os.path.dirname(
                   os.path.abspath(__file__))))
    procs = [subprocess.Popen(
        [sys.executable, script.name, tmp_table_path, sync_dir, m, o, mode],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env)
        for m, o in (("A", "B"), ("B", "A"))]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    return outs, tbl


def test_occ_race_overlap_exactly_one_winner(spark, tmp_table_path):
    """REAL two-driver race on the SAME file groups, with a file barrier
    proving both transactions began before either committed (reference
    semantics: SimpleConcurrentFileWritesConflictResolutionStrategy.java —
    the overlapping loser must abort): exactly one commits."""
    outs, tbl = _race(spark, tmp_table_path, "overlap",
                      "cast(year(o_orderdate) as string)")
    assert sorted(o.strip().splitlines()[-1] for o in outs) == \
        ["COMMITTED", "CONFLICT"], outs
    winner = [o for o in outs if "COMMITTED" in o]
    assert len(winner) == 1
    # the table carries ONLY the winner's rows, no torn mixture
    tbl = HoodieTable.load(spark, tmp_table_path)
    marks = {r[0] for r in tbl.snapshot().filter("o_orderstatus in ('A','B')")
             .select("o_orderstatus").distinct().collect()}
    assert len(marks) == 1, marks
    assert tbl.timeline.pending() == []


def test_occ_race_disjoint_both_commit(spark, tmp_table_path):
    """Same race harness, writers on DISJOINT partitions: both commit."""
    outs, tbl = _race(spark, tmp_table_path, "disjoint",
                      "cast(year(o_orderdate) as string)")
    assert [o.strip().splitlines()[-1] for o in outs] == \
        ["COMMITTED", "COMMITTED"], outs
    tbl = HoodieTable.load(spark, tmp_table_path)
    snap = tbl.snapshot()
    assert snap.filter("o_orderstatus = 'A'").count() > 0
    assert snap.filter("o_orderstatus = 'B'").count() > 0
    assert tbl.timeline.pending() == []


def test_occ_two_process_stress(spark, tmp_table_path):
    """REAL multi-writer: two separate driver JVMs upserting the same table
    concurrently under OCC. Both key ranges hit the same file groups, so
    writers genuinely contend; retry-on-conflict must converge with every
    round's winner durable and zero duplicate keys."""
    import subprocess
    import sys
    import tempfile

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cfg = WriteConfig(concurrency_mode=WriteConcurrencyMode.OPTIMISTIC)
    tbl = HoodieTable.create(
        spark, tmp_table_path, "occ_stress", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)", write_config=cfg)
    tbl.bulk_insert(orders)
    n = orders.count()

    script = tempfile.NamedTemporaryFile("w", suffix=".py", delete=False)
    script.write(_OCC_WORKER)
    script.close()
    rounds = 2
    import os
    env = dict(os.environ,
               PYTHONPATH=os.path.dirname(os.path.dirname(
                   os.path.abspath(__file__))))
    procs = [subprocess.Popen(
        [sys.executable, script.name, tmp_table_path, m, str(mod), str(rounds)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env)
        for m, mod in (("A", 0), ("B", 1))]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    assert all("RESULT committed=2" in o for o in outs), outs

    tbl = HoodieTable.load(spark, tmp_table_path)
    snap = tbl.snapshot().cache()
    assert snap.count() == n  # upserts never duplicated a key
    assert snap.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    # each writer's final round is durable on its own key range
    assert snap.filter((F.col("o_orderkey") % 2 == 0) &
                       (F.col("o_orderstatus") == f"A{rounds-1}")).count() > 0
    assert snap.filter((F.col("o_orderkey") % 2 == 1) &
                       (F.col("o_orderstatus") == f"B{rounds-1}")).count() > 0
    assert tbl.timeline.pending() == []
    snap.unpersist()


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


_SVC_RACER = f"""
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
        orders = spark.read.parquet("{SF_DIR}/orders.parquet")
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
