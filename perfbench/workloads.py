"""The orders workloads: inputs generated from the seed, the closed loops
that drive the table API, and the checks of their outputs.

Every batch is generated and written as Parquet before the timed loop, so
the program only ever receives finished inputs. The generator folds its
own batches into a model of the table (key -> price, status, year), which
the checks compare the program's reads against."""

from __future__ import annotations

import math
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import du

BASE_ROWS = 40_000
BATCH_ROWS = 800
N_BATCHES = 40  # more than a run can commit; the loop ends on its deadline
N_WARM = 1  # the first batch is committed by the untimed warm-up
YEARS = np.arange(1992, 1999)  # 7 yearly partitions
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
DELETED = "_hoodie_is_deleted"
SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
    (DELETED, pa.bool_())])
_YEAR_START_US = np.array(
    [np.datetime64(f"{y}-01-01", "us").astype(np.int64) for y in YEARS])
_DAY_US = 86_400_000_000


class Model:
    """The table as the batches define it, indexed by order key."""

    def __init__(self, rng, n: int, capacity: int):
        years = np.sort(rng.integers(0, len(YEARS), n))  # keys rise with date
        self.year = np.zeros(capacity, np.int64)
        self.date = np.zeros(capacity, np.int64)
        self.cust = np.zeros(capacity, np.int64)
        self.prio = np.zeros(capacity, np.int64)
        self.status = np.zeros(capacity, np.int64)
        self.price = np.zeros(capacity)
        self.live = np.zeros(capacity, bool)
        self.next_key = 0
        self._add(rng, years)

    def _add(self, rng, years) -> np.ndarray:
        k = np.arange(self.next_key, self.next_key + len(years))
        self.next_key += len(years)
        self.year[k] = years
        self.date[k] = _YEAR_START_US[years] + rng.integers(0, 365, len(k)) * _DAY_US
        self.cust[k] = rng.integers(1, 15_001, len(k))
        self.prio[k] = rng.integers(0, len(PRIORITIES), len(k))
        self.status[k] = rng.integers(0, len(STATUSES), len(k))
        self.price[k] = np.round(rng.uniform(900.0, 500_000.0, len(k)), 2)
        self.live[k] = True
        return k

    def copy(self) -> "Model":
        m = Model.__new__(Model)
        for a in ("year", "date", "cust", "prio", "status", "price", "live"):
            setattr(m, a, getattr(self, a).copy())
        m.next_key = self.next_key
        return m

    def rows(self, keys, deleted) -> pa.Table:
        return pa.table({
            "o_orderkey": keys, "o_custkey": self.cust[keys],
            "o_orderstatus": STATUSES[self.status[keys]],
            "o_totalprice": self.price[keys],
            "o_orderdate": self.date[keys],
            "o_orderpriority": PRIORITIES[self.prio[keys]],
            DELETED: deleted}, schema=SCHEMA)

    def keys(self) -> set[int]:
        return set(np.flatnonzero(self.live).tolist())

    def by_status(self) -> dict[str, tuple[int, float]]:
        out = {}
        for i, s in enumerate(STATUSES):
            sel = self.live & (self.status == i)
            out[str(s)] = (int(sel.sum()), float(self.price[sel].sum()))
        return out

    def step(self, rng, year_weights) -> tuple[pa.Table, set[int]]:
        """One upsert batch: 90% updates and 4% deletes of live keys drawn
        with ``year_weights`` over the partitions, 6% new orders dated in
        the latest year. Folds the batch in and returns it with its
        surviving keys."""
        n_new = round(BATCH_ROWS * 0.06)
        n_del = round(BATCH_ROWS * 0.04)
        picked = []
        counts = rng.multinomial(BATCH_ROWS - n_new, year_weights)
        for y, c in enumerate(counts):
            if c:
                pool = np.flatnonzero(self.live & (self.year == y))
                picked.append(rng.choice(pool, c, replace=False))
        old = rng.permutation(np.concatenate(picked))
        dels, upds = old[:n_del], old[n_del:]
        after = self.copy()
        after.price[upds] = np.round(rng.uniform(900.0, 500_000.0, len(upds)), 2)
        after.status[upds] = rng.integers(0, len(STATUSES), len(upds))
        new = after._add(rng, np.full(n_new, len(YEARS) - 1))
        keys = np.concatenate([upds, new, dels])
        deleted = np.zeros(len(keys), bool)
        deleted[len(keys) - n_del:] = True
        batch = after.rows(keys, deleted)  # deleted rows keep their date
        self.apply(batch)
        return batch, set(upds.tolist()) | set(new.tolist())

    def apply(self, batch: pa.Table) -> None:
        """Fold one upsert batch in: the incoming row wins, deletes drop."""
        c = {n: batch.column(n).to_numpy() for n in batch.column_names}
        k, dead = c["o_orderkey"], c[DELETED]
        up = k[~dead]
        self.year[up] = (c["o_orderdate"][~dead].astype("datetime64[Y]")
                         .astype(np.int64) + 1970 - YEARS[0])
        self.date[up] = c["o_orderdate"][~dead].astype(np.int64)
        self.cust[up] = c["o_custkey"][~dead]
        self.prio[up] = np.searchsorted(PRIORITIES, c["o_orderpriority"][~dead])
        self.status[up] = np.searchsorted(STATUSES, c["o_orderstatus"][~dead])
        self.price[up] = c["o_totalprice"][~dead]
        self.live[up] = True
        self.live[k[dead]] = False
        self.next_key = max(self.next_key, int(k.max()) + 1)


@dataclass
class Batch:
    path: str
    rows: int
    bytes: int
    surviving: set[int]
    expect: dict  # model.by_status() after this batch


@dataclass
class Inputs:
    base_path: str
    base: Model  # the table right after the bulk load
    batches: list[Batch]

    def model_after(self, n: int) -> Model:
        """The table after the bulk load and the first ``n`` batches."""
        m = self.base.copy()
        for b in self.batches[:n]:
            m.apply(pq.read_table(b.path))
        return m


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def generate(seed: int, work: str, year_weights) -> Inputs:
    rng = np.random.default_rng(seed)
    d = os.path.join(work, "inputs")
    os.makedirs(d)
    base = Model(rng, BASE_ROWS, BASE_ROWS + N_BATCHES * BATCH_ROWS)
    base_path = os.path.join(d, "base.parquet")
    live = np.flatnonzero(base.live)
    _write(base.rows(live, np.zeros(len(live), bool)), base_path)

    batches, model = [], base.copy()
    for i in range(N_BATCHES):
        tbl, surviving = model.step(rng, year_weights)
        p = os.path.join(d, f"batch-{i:03d}.parquet")
        batches.append(Batch(p, tbl.num_rows, _write(tbl, p), surviving,
                             model.by_status()))
    return Inputs(base_path, base, batches)


# ---------------------------------------------------------------- checks
class Checks:
    def __init__(self):
        self.failures: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def status_agg(self, rows, expect: dict, what: str) -> None:
        got = {r[0]: (int(r[1]), float(r[2])) for r in rows}
        want = {s: v for s, v in expect.items() if v[0]}
        same = got.keys() == want.keys() and all(
            got[s][0] == want[s][0] and math.isclose(got[s][1], want[s][1],
                                                     rel_tol=1e-9)
            for s in want)
        self.expect(same, f"{what}: {got} != {want}")


def status_agg(df):
    from pyspark.sql import functions as F
    return df.groupBy("o_orderstatus").agg(
        F.count("*"), F.sum("o_totalprice")).collect()


def check_final(tbl, model: Model, checks: Checks) -> None:
    """The final snapshot's key set, row count and sum(o_totalprice)."""
    from pyspark.sql import functions as F
    snap = tbl.snapshot().select("o_orderkey", "o_totalprice")
    n, total = snap.agg(F.count("*"), F.sum("o_totalprice")).collect()[0]
    keys = {r[0] for r in snap.select("o_orderkey").collect()}
    want = model.keys()
    checks.expect(keys == want, f"final key set differs "
                  f"({len(keys - want)} extra, {len(want - keys)} missing)")
    checks.expect(n == len(want), f"final row count {n} != {len(want)}")
    checks.expect(math.isclose(total or 0.0, float(model.price[model.live].sum()),
                               rel_tol=1e-9), "final sum(o_totalprice) differs")


# ------------------------------------------------------------ workloads
@dataclass
class Workload:
    name: str
    table_type: str
    index_type: str
    year_weights: tuple
    commits_per_cycle: int


def _weights(w: dict) -> tuple:
    v = np.zeros(len(YEARS))
    for i, x in w.items():
        v[i] = x
    return tuple(v / v.sum())


WORKLOADS = {
    # updates on the two latest partitions: index pruning and the COW
    # rewrite of the touched file groups carry the load
    "cow_recent_upsert": Workload(
        "cow_recent_upsert", "COPY_ON_WRITE", "BLOOM",
        _weights({6: 0.8, 5: 0.2}), commits_per_cycle=2),
    # uniform updates: every file group gets a delta each commit, and the
    # merge-on-read reader plus compaction carry the load
    "mor_uniform_readmix": Workload(
        "mor_uniform_readmix", "MERGE_ON_READ", "SIMPLE",
        _weights({i: 1.0 for i in range(len(YEARS))}),
        commits_per_cycle=2),
}


class Run:
    """One workload on one seed: set-up, the timed closed loop, checks."""

    def __init__(self, spark, wl: Workload, work: str, inputs: Inputs, log):
        self.spark, self.wl, self.work, self.inputs, self.log = \
            spark, wl, work, inputs, log
        self.checks = Checks()
        self.written_bytes = 0
        self.rows_committed = 0
        self.batch_bytes = 0
        self.results = []  # WriteResult of every commit in the loop

    def write_config(self):
        from hoodie_spark import IndexType, WriteConfig
        return WriteConfig(
            index_type=getattr(IndexType, self.wl.index_type),
            max_delta_commits_before_compaction=self.wl.commits_per_cycle,
            cleaner_commits_retained=2, min_commits_to_keep=3,
            max_commits_to_keep=4)

    def build(self):
        from hoodie_spark import HoodieTable
        tbl = HoodieTable.create(
            self.spark, os.path.join(self.work, "table"), "orders", ["o_orderkey"], "o_orderdate",
            partition_expr="cast(year(o_orderdate) as string)",
            table_type=self.wl.table_type, write_config=self.write_config())
        tbl.bulk_insert(self.spark.read.parquet(self.inputs.base_path))
        return tbl

    def setup(self) -> dict:
        """Bulk-load the table, then run one untimed warm-up cycle of
        ``N_WARM`` steps on it, so every operation of the loop has run on
        this JVM before timing starts."""
        t0 = time.perf_counter()
        self.tbl = self.build()
        t1 = time.perf_counter()
        self.cycle(self.tbl, self.inputs.batches[:N_WARM], warm=True)
        t2 = time.perf_counter()
        return {"bulk_load_s": t1 - t0, "warmup_s": t2 - t1}

    def loop(self, seconds: float, cpu) -> None:
        """Whole cycles until ``seconds`` have passed (at least one).
        ``first`` holds the figures of the first cycle alone (CPU seconds
        from ``cpu()``, rows, bytes, space), so the gated metrics depend on
        the seed and not on how many cycles fit in ``seconds``."""
        batches = self.inputs.batches[N_WARM:]
        t0 = time.perf_counter()
        self.first = None
        while batches:
            n = self.wl.commits_per_cycle
            c0 = cpu()
            self.cycle(self.tbl, batches[:n])
            del batches[:n]
            if self.first is None:
                self.first = {
                    "cpu_s": cpu() - c0, "rows": self.rows_committed,
                    "batch_bytes": self.batch_bytes,
                    "written_bytes": self.written_bytes,
                    "space_amp": du(self.tbl.base_path)
                    / self.tbl.stats()["total_bytes"]}
            if time.perf_counter() - t0 >= seconds:
                break
        self.loop_s = time.perf_counter() - t0
        self.used = len(self.inputs.batches) - len(batches)  # warm-up included

    def cycle(self, tbl, batches: list[Batch], warm: bool = False) -> None:
        """Upsert each batch and read after it; a MOR cycle then compacts
        and reads the read-optimized view; every cycle ends with clean and
        archive. Warm-up cycles are neither timed nor counted."""
        op = (lambda kind, name: nullcontext()) if warm else self.log.op
        mor = self.wl.table_type == "MERGE_ON_READ"
        for b in batches:
            begin = tbl.timeline.last_completed().timestamp
            with op("commit", "upsert"):
                res = tbl.upsert(self.spark.read.parquet(b.path))
            if not warm:
                self.results.append(res)
                self.rows_committed += b.rows
                self.batch_bytes += b.bytes
                self.written_bytes += sum(s.get("size", 0) for s in res.stats)
            if mor:
                with op("query", "snapshot_agg"):
                    rows = status_agg(tbl.snapshot())
                self.checks.status_agg(rows, b.expect, "snapshot aggregate")
            else:
                with op("query", "incremental"):
                    keys = {r[0] for r in tbl.incremental(begin, res.instant)
                            .select("o_orderkey").collect()}
                self.checks.expect(
                    keys == b.surviving,
                    f"incremental pull of {res.instant}: {len(keys)} keys, "
                    f"{len(b.surviving)} expected")
        if mor:
            with op("service", "compact"):
                inst = tbl.compact()
            if not warm and inst is not None:
                self.written_bytes += sum(
                    s.get("size", 0)
                    for s in instant_metadata(tbl, inst).get("write_stats", []))
            with op("query", "read_optimized_agg"):
                rows = status_agg(tbl.read_optimized())
            self.checks.status_agg(rows, batches[-1].expect,
                                   "read-optimized aggregate after compaction")
        with op("service", "clean"):
            tbl.clean()
        with op("service", "archive"):
            tbl.archive()


def instant_metadata(tbl, ts) -> dict:
    """Commit metadata of the completed instant ``ts`` (a timestamp or an
    Instant), as a table service returns it."""
    ts = getattr(ts, "timestamp", ts)
    for inst in tbl.timeline.completed():
        if inst.timestamp == ts:
            return tbl.timeline.metadata(inst)
    return {}
