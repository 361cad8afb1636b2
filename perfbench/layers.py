"""Per-layer tracing for the traced run.

Spans are opened from this file around calls into the package's public
functions, replaced where their callers look them up. Each span records
its layer, name, start, end, parent and the operation it belongs to;
counts are taken at the same boundaries. Spark jobs are attributed to an
operation by job-id watermark: with one client, every job submitted
between an operation's start and end is that operation's, whichever
thread submitted it. Everything stays in memory until ``metrics()``."""

from __future__ import annotations

import functools
import threading
import time

from workloads import instant_metadata

# the public calls wrapped per layer (see Tracer.install)
TIMELINE_METHODS = ("init", "new_instant_time", "create_requested",
                    "transition_inflight", "complete", "delete_instant",
                    "archived_records", "instants", "completed", "pending",
                    "metadata", "last_completed", "archive")
STORAGE_METHODS = ("listdir", "makedirs", "rename", "remove", "rmtree",
                   "exists", "size", "read_bytes")
ATOMIC_METHODS = ("put_atomic", "put_if_absent", "delete_if_exists", "mtime")
WRITE_METHODS = ("upsert", "insert", "delete", "bulk_insert")
READ_METHODS = ("snapshot", "read_optimized", "incremental")
SERVICE_METHODS = ("compact", "clean", "archive")


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "op", "n")

    def __init__(self, layer, name, start, parent, op):
        self.layer, self.name, self.start = layer, name, start
        self.end, self.parent, self.op, self.n = None, parent, op, {}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.dag = self.sc._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.op = None  # index of the running operation
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []

    # ------------------------------------------------------- operations
    def begin_op(self, idx: int, kind: str, name: str) -> None:
        self.op = idx
        self.ops.append({"kind": kind, "name": name, "start": time.time(),
                         "job_lo": self.dag.numTotalJobs()})

    def end_op(self) -> None:
        rec = self.ops[-1]
        rec["end"] = time.time()
        rec["job_hi"] = self.dag.numTotalJobs()
        self.op = None

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, layer: str, name: str) -> Span | None:
        if self.op is None:
            return None
        st = self._stack()
        # a pool thread's first span hangs under the span the main thread
        # is blocked in
        parent = st[-1] if st else (self._main_stack[-1]
                                    if self._main_stack else None)
        sp = Span(layer, name, time.time(), parent, self.op)
        self.spans.append(sp)
        st.append(sp)
        return sp

    def _close(self, sp: Span | None) -> None:
        if sp is not None:
            sp.end = time.time()
            self._stack().pop()

    def wrap(self, owner, attr: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` with a function that records a span and
        then calls ``after(span, args, result)``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kw):
            sp = tracer._open(layer, attr)
            try:
                out = orig(*args, **kw)
            finally:
                tracer._close(sp)
            if sp is not None and after is not None:
                # the hook's own calls into the package are not traced
                op, tracer.op = tracer.op, None
                try:
                    after(sp, args, out)
                finally:
                    tracer.op = op
            return out

        setattr(owner, attr, traced)

    def current(self, layer: str) -> Span | None:
        """The innermost open span of ``layer`` on this thread."""
        for sp in reversed(self._stack()):
            if sp.layer == layer:
                return sp
        return None

    # --------------------------------------------------------- install
    def install(self) -> None:
        from hoodie_spark import fsview, storage, table, timeline, writer
        for m in TIMELINE_METHODS:
            self.wrap(timeline.Timeline, m, "timeline")
        self.wrap(fsview.FileSystemView, "__init__", "fsview")
        for m in STORAGE_METHODS:
            self.wrap(storage.FS, m, "storage")
        for m in ATOMIC_METHODS:
            self.wrap(storage.ATOMIC, m, "storage")
        # looked up by the writer as hoodie_spark.writer.tag_location
        self.wrap(writer, "tag_location", "index")
        T = table.HoodieTable
        for m in WRITE_METHODS:
            self.wrap(T, m, "writer", after=_write_counts)
        for m in READ_METHODS:
            self.wrap(T, m, "reader")
        for m in SERVICE_METHODS:
            self.wrap(T, m, "services", after=_service_counts)
        self.wrap(T, "read_slices_base", "read", after=self._slices_read)
        self.wrap(T, "read_delta_files", "read", after=self._deltas_read)

    def _slices_read(self, sp, args, _out) -> None:
        slices = [s for s in args[1] if s.base_file is not None]
        for layer, key in (("index", "candidate"), ("reader", "slices")):
            owner = self.current(layer)
            if owner is not None:
                owner.n[key + "_files"] = owner.n.get(key + "_files", 0) + len(slices)
                owner.n[key + "_records"] = owner.n.get(key + "_records", 0) + \
                    sum(s.base_file.num_records for s in slices)

    def _deltas_read(self, sp, args, _out) -> None:
        owner = self.current("reader")
        if owner is not None:
            owner.n["delta_files"] = owner.n.get("delta_files", 0) + len(args[1])

    # --------------------------------------------------------- metrics
    def spark_jobs(self) -> dict[int, dict]:
        """Job id -> span and stage metrics, read from the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = {}
        for op in self.ops:
            for jid in range(op["job_lo"], op["job_hi"]):
                j = store.job(jid)
                sub, done = j.submissionTime(), j.completionTime()
                rec = {"start": sub.get().getTime() / 1000 if sub.isDefined() else op["start"],
                       "end": done.get().getTime() / 1000 if done.isDefined() else op["end"],
                       "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                       "gc_s": 0.0, "shuffle": 0, "spill": 0, "input": 0,
                       "output": 0}
                ids = j.stageIds()
                for i in range(ids.size()):
                    st = store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += st.numTasks()
                    rec["run_s"] += st.executorRunTime() / 1e3
                    rec["cpu_s"] += st.executorCpuTime() / 1e9
                    rec["gc_s"] += st.jvmGcTime() / 1e3
                    rec["shuffle"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    rec["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    rec["input"] += st.inputBytes()
                    rec["output"] += st.outputBytes()
                jobs[jid] = rec
        return jobs

    def metrics(self, updates_tagged: int, incoming_rows: int,
                end_state: dict) -> dict:
        jobs = self.spark_jobs()
        n_ops = max(1, len(self.ops))
        per_op = lambda x: x / n_ops  # noqa: E731

        def intervals_in(lo, hi, extra=()):
            iv = [(max(lo, j["start"]), min(hi, j["end"]))
                  for j in jobs.values() if j["end"] > lo and j["start"] < hi]
            return _union(iv + list(extra))

        job_s = driver_s = 0.0
        for op in self.ops:
            js = _union([(jobs[j]["start"], jobs[j]["end"])
                         for j in range(op["job_lo"], op["job_hi"])])
            job_s += js
            driver_s += (op["end"] - op["start"]) - js
        tot = lambda k: sum(j[k] for j in jobs.values())  # noqa: E731

        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(id(sp.parent), []).append(sp)

        def outermost(layer):
            out = []
            for sp in self.spans:
                if sp.layer != layer or sp.end is None:
                    continue
                p = sp.parent
                while p is not None and p.layer != layer:
                    p = p.parent
                if p is None:
                    out.append(sp)
            return out

        def inclusive(layer, name=None):
            return sum(sp.end - sp.start for sp in outermost(layer)
                       if name is None or sp.name == name)

        def self_time(sp):
            kids = [(c.start, c.end) for c in children.get(id(sp), ())
                    if c.end is not None]
            return (sp.end - sp.start) - intervals_in(sp.start, sp.end, kids)

        def spans(layer, name=None):
            return [sp for sp in self.spans if sp.layer == layer
                    and sp.end is not None and (name is None or sp.name == name)]

        def count(layer, key, name=None):
            return sum(sp.n.get(key, 0) for sp in spans(layer, name))

        writes = outermost("writer")
        n_commits = max(1, len(writes))
        reader_plan = inclusive("reader")
        queries = [op for op in self.ops if op["kind"] == "query"]
        n_queries = max(1, len(queries))
        query_wall = sum(op["end"] - op["start"] for op in queries)
        cand_records = count("index", "candidate_records")
        return {
            "spark.jobs_per_op": per_op(len(jobs)),
            "spark.stages_per_op": per_op(tot("stages")),
            "spark.tasks_per_op": per_op(tot("tasks")),
            "spark.job_s": per_op(job_s),
            "spark.driver_s": per_op(driver_s),
            "spark.exec_run_s": per_op(tot("run_s")),
            "spark.exec_cpu_s": per_op(tot("cpu_s")),
            "spark.gc_s": per_op(tot("gc_s")),
            "spark.shuffle_bytes": per_op(tot("shuffle")),
            "spark.spill_bytes": per_op(tot("spill")),
            "spark.input_bytes": per_op(tot("input")),
            "spark.output_bytes": per_op(tot("output")),
            "spark.persisted_rdds_end": end_state["persisted_rdds"],
            "timeline.calls": per_op(len(spans("timeline"))),
            "timeline.s": per_op(inclusive("timeline")),
            "timeline.metadata_reads": per_op(len(spans("timeline", "metadata"))),
            "timeline.active_instants": end_state["active_instants"],
            "fsview.builds_per_op": per_op(len(spans("fsview"))),
            "fsview.build_s": per_op(inclusive("fsview")),
            "storage.ops": per_op(len(spans("storage"))),
            "storage.s": per_op(inclusive("storage")),
            "index.tag_s": inclusive("index") / n_commits,
            "index.candidate_files": count("index", "candidate_files") / n_commits,
            "index.keys_scanned_per_update": cand_records / max(1, updates_tagged),
            "writer.self_s": sum(self_time(sp) for sp in writes) / n_commits,
            "writer.files_written": sum(sp.n.get("files", 0) for sp in writes) / n_commits,
            "writer.bytes_written": sum(sp.n.get("bytes", 0) for sp in writes) / n_commits,
            "writer.records_written_per_incoming":
                sum(sp.n.get("records", 0) for sp in writes) / max(1, incoming_rows),
            "writer.file_groups_touched": sum(sp.n.get("groups", 0) for sp in writes) / n_commits,
            "reader.plan_s": reader_plan / n_queries,
            "reader.exec_s": (query_wall - reader_plan) / n_queries,
            "reader.slices_read": count("reader", "slices_files") / n_queries,
            "reader.delta_files_merged": count("reader", "delta_files") / n_queries,
            "services.compact_s": inclusive("services", "compact"),
            "services.clean_s": inclusive("services", "clean"),
            "services.archive_s": inclusive("services", "archive"),
            "services.compact_bytes_rewritten": count("services", "bytes", "compact"),
            "services.files_cleaned": count("services", "files_cleaned", "clean"),
        }


def _union(iv) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _write_counts(sp, _args, res) -> None:
    stats = getattr(res, "stats", None) or []
    sp.n["files"] = len(stats)
    sp.n["bytes"] = sum(s.get("size", 0) for s in stats)
    sp.n["records"] = sum(s.get("num_records", 0) for s in stats)
    sp.n["groups"] = len({(s.get("partition"), s.get("file_id")) for s in stats})


def _service_counts(sp, args, res) -> None:
    if not isinstance(getattr(res, "timestamp", res), str):
        return  # nothing to do, or archive's count
    md = instant_metadata(args[0], res)
    sp.n["bytes"] = sum(s.get("size", 0) for s in md.get("write_stats", []))
    sp.n["files_cleaned"] = md.get("num_files_deleted", 0)
