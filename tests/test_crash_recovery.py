"""Crash recovery end-to-end: a writer process killed mid-write (SIGKILL,
no cleanup code runs) leaves a pending instant + orphan files; once its
heartbeat goes stale, lazy reclamation rolls the zombie back via the
listing-based path and the table serves exactly the pre-crash state.

The same holds for a write that fails in-process: every operation and
table service runs in ``WriteClient.transaction``, which abandons the
heartbeat on any failure, so one failure matrix covers them all."""

import ast
import os
import subprocess
import sys
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, TableType
from hoodie_spark import timeline as tl
from hoodie_spark.config import WriteConfig
from hoodie_spark.services.rollback import rollback_failed_writes
from hoodie_spark.writer import WriteClient

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = "/root/testdata/sf0.001"

# The worker begins a write, physically stages data files with the instant
# embedded in their names (what a mid-flight Spark write leaves on disk),
# then SIGKILLs itself before commit — simulating an executor-host loss.
_CRASH_WORKER = """
import os, sys, signal
sys.path.insert(0, sys.argv[2])
from pyspark.sql import SparkSession, functions as F
from hoodie_spark import HoodieTable
from hoodie_spark import timeline as tl
path = sys.argv[1]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
tbl = HoodieTable.load(spark, path)
wc = tbl._writer
instant = wc._begin(tl.COMMIT)
# stage orphan base files the way a dying write does: instant-stamped names
for pp in ("1995", "1996"):
    d = os.path.join(path, pp)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"deadfid-0_{instant}.parquet"), "wb") as f:
        f.write(b"partial")
print(f"INSTANT {instant}", flush=True)
os.kill(os.getpid(), signal.SIGKILL)  # no finally blocks, no heartbeat stop
"""


def test_sigkilled_writer_is_reclaimed(spark, tmp_table_path):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    tbl = HoodieTable.create(
        spark, tmp_table_path, "crash", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        write_config=WriteConfig(heartbeat_expiry_s=2.0))
    tbl.bulk_insert(orders)
    before = tbl.snapshot().count()

    script = tempfile.NamedTemporaryFile("w", suffix=".py", delete=False)
    script.write(_CRASH_WORKER)
    script.close()
    p = subprocess.run(
        [sys.executable, script.name, tmp_table_path, REPO],
        capture_output=True, text=True, timeout=300)
    assert p.returncode == -9, (p.returncode, p.stderr[-500:])
    instant = p.stdout.split("INSTANT ")[1].split()[0]

    tbl = HoodieTable.load(
        spark, tmp_table_path,
        write_config=WriteConfig(heartbeat_expiry_s=2.0))
    # zombie state: pending instant + orphan files on disk
    assert [i for i in tbl.timeline.pending() if i.timestamp == instant]
    orphans = [os.path.join(tmp_table_path, pp, f"deadfid-0_{instant}.parquet")
               for pp in ("1995", "1996")]
    assert all(os.path.exists(o) for o in orphans)

    # heartbeat still fresh (<2 s since the kill) -> NOT reclaimed yet
    if not tbl.timeline.pending():
        raise AssertionError("pending instant vanished early")
    time.sleep(2.5)  # let the dead writer's beat expire
    assert rollback_failed_writes(tbl) == [instant]
    # zombie fully gone: timeline clean, orphan files deleted
    assert not [i for i in tbl.timeline.pending() if i.timestamp == instant]
    assert not any(os.path.exists(o) for o in orphans)
    # table serves exactly the pre-crash state
    snap = tbl.snapshot()
    assert snap.count() == before
    assert snap.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    # a fresh write cycle works after recovery
    tbl.upsert(orders.limit(10).withColumn("o_orderstatus", F.lit("R")))
    assert tbl.snapshot().filter("o_orderstatus = 'R'").count() == 10


# operation -> (table type, the failing call). Each table has work for its
# operation, so the call reaches the file write where the failure fires.
_FAILING_OPS = {
    "bulk_insert": (TableType.COPY_ON_WRITE, lambda t, o: t.bulk_insert(
        o.withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000))),
    "upsert": (TableType.COPY_ON_WRITE, lambda t, o: t.upsert(
        o.limit(10).withColumn("o_orderstatus", F.lit("X")))),
    "insert_overwrite": (TableType.COPY_ON_WRITE, lambda t, o:
                         t.insert_overwrite(o.filter(
                             "year(o_orderdate) = 1995"))),
    "compact": (TableType.MERGE_ON_READ, lambda t, o: t.compact()),
    "logcompact": (TableType.MERGE_ON_READ,
                   lambda t, o: t.logcompact(min_log_files=1)),
    "cluster": (TableType.COPY_ON_WRITE, lambda t, o: t.cluster()),
}


@pytest.mark.parametrize("op", sorted(_FAILING_OPS))
def test_failed_write_abandons_heartbeat(spark, orders, tmp_table_path,
                                         monkeypatch, op):
    """A write that dies between begin and publish must stop its
    background refresher — otherwise the zombie pending instant beats
    forever and reclamation never fires — and leave exactly one pending
    instant, which reclamation rolls back once the beat is stale, with
    the table as it was."""
    table_type, run = _FAILING_OPS[op]
    tbl = HoodieTable.create(
        spark, tmp_table_path, "txnfail", ["o_orderkey"], "o_orderdate",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type=table_type,
        write_config=WriteConfig(heartbeat_expiry_s=0.6))
    tbl.bulk_insert(orders)
    if table_type == TableType.MERGE_ON_READ:
        tbl.upsert(orders.filter(F.col("o_orderkey") % 5 == 0)
                   .withColumn("o_orderstatus", F.lit("D")))
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    before = sorted(map(tuple, tbl.snapshot().select(*cols).collect()))

    def fail(self, *a, **kw):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(WriteClient, "_write_files", fail)
    with pytest.raises(RuntimeError, match="injected write failure"):
        run(tbl, orders)
    monkeypatch.undo()

    assert tbl._writer._hb_cancel == {}  # no leaked refresher threads
    pend = sorted({i.timestamp for i in tbl.timeline.pending()})
    assert len(pend) == 1
    time.sleep(0.9)  # the abandoned beat goes stale
    assert rollback_failed_writes(tbl) == pend
    assert not tbl.timeline.pending()
    assert sorted(map(tuple, tbl.snapshot().select(*cols).collect())) == before


def test_begin_failure_cancels_heartbeat_refresher(spark, orders,
                                                   tmp_table_path):
    """If create_requested raises while the transaction begins, no
    background heartbeat refresher may be left running — otherwise a
    possibly-created pending instant stays heartbeat-live (unreclaimable)
    for the driver's lifetime."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "hb_begin", ["o_orderkey"], "o_orderdate")
    tbl.bulk_insert(orders.limit(50))
    w = tbl._writer

    def raise_create(action, instant):
        raise RuntimeError("disk full")

    orig = tbl.timeline.create_requested
    tbl.timeline.create_requested = raise_create
    try:
        with pytest.raises(RuntimeError, match="disk full"):
            with w.transaction("commit"):
                pass
    finally:
        tbl.timeline.create_requested = orig
    # no live refresher left behind for the failed instant
    assert w._hb_cancel == {}


def _catches_base_exception(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return t is None or any(isinstance(n, ast.Name) and n.id == "BaseException"
                            for n in names)


def _called(node, names: set[str]) -> list[ast.Call]:
    return [c for c in ast.walk(node) if isinstance(c, ast.Call)
            and getattr(c.func, "attr", getattr(c.func, "id", None)) in names]


def lifecycle_violations(pkg_dir: str) -> list[str]:
    """Places that run their own copy of the write lifecycle: a call to
    ``_begin`` or ``_hb_abandon`` outside ``writer.py``, or, inside it, an
    ``except BaseException`` that abandons the heartbeat anywhere but
    ``WriteClient.transaction``."""
    out = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg_dir)
            with open(path) as f:
                tree = ast.parse(f.read())
            if rel != "writer.py":
                out += [f"{rel}:{c.lineno}" for c in
                        _called(tree, {"_begin", "_hb_abandon"})]
                continue
            for func in ast.walk(tree):
                if not isinstance(func, ast.FunctionDef) or \
                        func.name == "transaction":
                    continue
                for h in ast.walk(func):
                    if isinstance(h, ast.ExceptHandler) and \
                            _catches_base_exception(h) and \
                            _called(h, {"_hb_abandon"}):
                        out.append(f"{rel}:{h.lineno}")
    return out


def test_write_lifecycle_lives_in_the_writer():
    """Operations and table services run through WriteClient.transaction
    instead of carrying their own begin/abandon blocks."""
    assert lifecycle_violations(os.path.join(REPO, "hoodie_spark")) == []


def test_heartbeat_auto_refresh_blocks_reclaim(spark, orders,
                                               tmp_table_path):
    """A live write whose jobs outlast heartbeat_expiry_s must keep
    beating (background refresher) so lazy reclamation never rolls it
    back mid-flight; once the writer stops beating it becomes
    reclaimable."""
    tbl = HoodieTable.create(
        spark, tmp_table_path, "hb", ["o_orderkey"], "o_orderdate",
        write_config=WriteConfig(heartbeat_expiry_s=0.6))
    tbl.bulk_insert(orders.limit(100))
    wc = tbl._writer
    instant = wc._begin(tl.COMMIT)  # in-flight write, refresher armed
    try:
        time.sleep(1.8)  # 3x the expiry: a single-shot beat would be stale
        assert rollback_failed_writes(tbl) == []
        assert [i for i in tbl.timeline.pending()
                if i.timestamp == instant]
    finally:
        wc._stop_heartbeat(instant)
    time.sleep(0.8)  # beat gone and stale -> now genuinely dead
    assert rollback_failed_writes(tbl) == [instant]
    assert not [i for i in tbl.timeline.pending()
                if i.timestamp == instant]
