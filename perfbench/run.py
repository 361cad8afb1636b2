"""Closed-loop benchmark of the hoodie_spark table API.

    python3 perfbench/run.py --workload cow_recent_upsert --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. One client thread drives the public
HoodieTable API on a local Spark session; each operation is issued after
the previous one returned. The inputs are generated from ``--seed``; the
outputs are checked against a model folded from the same inputs. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer with
``--trace 1``). The line before it holds the details: sample counts,
tails, the wall-clock figures, the host-noise probe and, once both runs
of a seed exist for the same code, the tracing overhead."""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def metric_units() -> tuple[dict, dict]:
    """Name -> unit of the end-to-end and the per-layer metrics, as
    BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]}
                 for k in ("end_to_end", "per_layer"))


def code_id() -> str:
    """A hash of the package, the benchmark and BENCHMARK.json, so a
    stored result is compared only with runs of the same code."""
    h = hashlib.sha256()
    for top in ("hoodie_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d not in ("results", "__pycache__"))
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    with open(os.path.join(ROOT, "BENCHMARK.json"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def ratio(a, b):
    return a / b if a is not None and b else None


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def overhead(workload: str, seed: int, trace: int, e2e: dict) -> dict | None:
    """Traced minus untraced, per end-to-end metric, once both runs of
    this workload and seed have been made in this checkout with the same
    code."""
    os.makedirs(RESULTS, exist_ok=True)
    mine = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")
    other = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{1 - trace}.json")
    code = code_id()
    with open(mine, "w") as f:
        json.dump({"code": code, "end_to_end": e2e}, f)
    if not os.path.exists(other):
        return None
    with open(other) as f:
        stored = json.load(f)
    if stored.get("code") != code:
        return None
    theirs = stored["end_to_end"]
    traced, untraced = (e2e, theirs) if trace else (theirs, e2e)
    return {k: traced[k] - untraced[k] for k in e2e
            if traced.get(k) is not None and untraced.get(k) is not None}


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "hoodie_spark")):
        print(f"hoodie_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import (OpLog, RssSampler, cpu_s, noise_probe,
                         start_session, stop_all, timing_summary)
    from workloads import WORKLOADS, Run, check_final, generate
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    # a SIGTERM still runs the clean-up below, so no JVM outlives the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        import hoodie_spark  # noqa: F401  (its import is part of set-up)
        spark = start_session(work)
        spark.range(1).count()
        jvm_pid = spark.sparkContext._gateway.proc.pid

        def cpu() -> float:
            return cpu_s(jvm_pid)

        session_s = time.perf_counter() - t_start

        t0 = time.perf_counter()
        inputs = generate(args.seed, work, wl.year_weights)
        gen_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from layers import Tracer
            tracer = Tracer(spark)
        log = OpLog(tracer)
        run = Run(spark, wl, work, inputs, log)
        setup = run.setup()
        # set-up is measured in CPU seconds from process start: co-tenant
        # load on a shared host stretches its wall time far more
        setup_s = cpu()
        setup_wall_s = time.perf_counter() - t_start
        if tracer:
            tracer.install()

        noise_before = noise_probe(spark)
        error = None
        with RssSampler(jvm_pid) as rss:
            try:
                run.loop(args.seconds, cpu)
            except Exception:  # the failed operation is in the log
                error = traceback.format_exc()
                run.loop_s, run.used = None, None
        if tracer:
            tracer.op = None  # no spans from the checks below
        noise_after = noise_probe(spark)
        if error is None:
            check_final(run.tbl, inputs.model_after(run.used), run.checks)
        else:
            print(error, file=sys.stderr)
            run.checks.expect(False, "an operation raised")

        tbl = run.tbl
        commit = timing_summary(log.durations("commit"))
        query = timing_summary(log.durations("query"))
        attempted = len(log.ops)
        first = run.first or {}
        # BENCHMARK.json bounds some of these; the rest are detail only
        e2e = {
            "setup_s": setup_s,
            "cpu_ms_per_row": ratio(1e3 * first.get("cpu_s", 0), first.get("rows")),
            "write_amp": ratio(first.get("written_bytes"), first.get("batch_bytes")),
            "space_amp": first.get("space_amp"),
            "setup_wall_s": setup_wall_s,
            "commit_p50_s": commit["p50"],
            "query_p50_s": query["p50"],
            "ingest_rows_per_s": ratio(run.rows_committed, run.loop_s),
            "peak_rss_mb": rss.peak_kb / 1024,
        }
        e2e_units, layer_units = metric_units()
        if tracer:
            updates = sum(s.get("num_updates", 0)
                          for r in run.results for s in r.stats)
            metrics = tracer.metrics(updates, run.rows_committed, {
                "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
                "active_instants": len(tbl.timeline.instants())})
            units = layer_units
        else:
            metrics = {k: e2e[k] for k in e2e_units}
            units = e2e_units
        correct = not run.checks.failures and log.failed == 0
        detail = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "commit_latency": commit, "query_latency": query,
            "op_s": [[o["name"], round(o["s"], 4)] for o in log.ops],
            "failed_op_frac": log.failed / max(1, attempted),
            "ops": {k: sum(o["kind"] == k for o in log.ops)
                    for k in ("commit", "query", "service")},
            "batches_committed": run.used, "loop_s": run.loop_s,
            "setup": {"session_s": session_s, "inputs_s": gen_s, **setup},
            "noise_probe": {"before": noise_before, "after": noise_after},
            "end_to_end": e2e,
            "tracing_overhead": overhead(wl.name, args.seed, args.trace, e2e),
            "check_failures": run.checks.failures[:10],
        }
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": correct, "attempted": max(1, attempted),
            "failed": log.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}))
        return 0 if correct else 1
    finally:
        try:
            stop_all(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
