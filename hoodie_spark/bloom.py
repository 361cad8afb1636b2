"""Per-file key bloom sketches for upsert candidate-file pruning.

Reference parity: SparkHoodieBloomIndex.java:256-266 (candidate files pruned
by key range AND bloom membership before the key-column check) and
hudi-common/.../common/bloom/ (the bloom filters Hudi writes into parquet
footers). Without a membership sketch, range pruning is useless for
random/UUID keys — every file's [min,max] spans the key space, so every
upsert reads the key column of every candidate file.

Spark-first shape:

* **Harvest** (write side): ONE column-pruned Spark job over the freshly
  written base files — ``k`` bit positions per key (``pmod(xxhash64(key,
  seed), m)``), folded to 64-bit words map-side via ``bit_or`` partial
  aggregation, so the driver collects at most ``m/64`` words per file (the
  sketch itself, never the keys). Sketches are stored as hex strings in a
  per-commit sidecar ``.hoodie/bloom/<instant>.json`` — the stand-in for
  Hudi's footer-stored blooms that keeps commit manifests lean.
* **Prune** (tag side): the classic HoodieBloomIndex explode — distinct
  incoming keys joined against the broadcast candidate-sketch table
  (map-side, no corpus shuffle); a file survives when ANY incoming key has
  all ``k`` bits set. False positives keep a file (harmless); false
  negatives are impossible because both sides use the identical
  ``xxhash64`` derivation.

Sizing: ``m`` adapts per file to ``~32 bits/key`` (clamped to [2^10, 2^21]),
k = 5 → false-positive ≈ 6e-5 at the design point; at the 2^21 cap a 120k-row
file still gets ≈1e-3. At 100 TB the sidecar JSON per commit is
O(files_written × m/4 bytes); move to parquet-footer storage if that ever
dominates — the harvest/prune jobs are already executor-side and scale-free.
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import FILE_NAME, PARTITION_PATH, RECORD_KEY
from .frames import local_frame

K_HASHES = 5


def _bloom_dir(table) -> str:
    return os.path.join(table.base_path, ".hoodie", "bloom")


def _sidecar(table, instant: str) -> str:
    return os.path.join(_bloom_dir(table), f"{instant}.json")


def _m_for(num_records: int) -> int:
    """Bits per sketch: ~32 bits/key, power of two, clamped [2^10, 2^21]."""
    n = max(1, num_records)
    return 1 << min(21, max(10, math.ceil(math.log2(32 * n))))


def _positions(key_col, m_col, k: int):
    """The shared hash derivation — MUST be identical on harvest and prune:
    position s = pmod(xxhash64(key, s), m)."""
    return [F.pmod(F.xxhash64(key_col, F.lit(s)), m_col) for s in range(k)]


def harvest(table, stats: list[dict], instant: str) -> None:
    """Compute and persist key sketches for the commit's new base files
    (eager mode, ``bloom_harvest_on_write=True``).

    Only files above ``bloom_sketch_min_records`` are sketched (cost gate:
    below that, scanning the file's key column at tag time is cheaper than
    the sketch jobs). Unsketched files are simply never pruned."""
    floor = max(1, table.write_config.bloom_sketch_min_records)
    files = [(instant, s["file_name"], s["path"], s["num_records"])
             for s in stats if not s.get("is_delta") and not s.get("bootstrap")
             and s.get("num_records", 0) >= floor]
    _harvest_files(table, files)


def _harvest_files(table, files: list[tuple[str, str, str, int]]) -> None:
    """ONE column-pruned Spark job sketching ``files`` =
    [(instant, file_name, rel_or_abs_path, num_records)], merged into the
    per-instant sidecars (lazy harvest appends to sidecars of past
    commits; eager harvest creates the current commit's)."""
    if not files:
        return
    spark = table.spark
    m_of = {fn: _m_for(n) for _i, fn, _p, n in files}
    paths = [p if os.path.isabs(p) else os.path.join(table.base_path, p)
             for _i, _fn, p, _n in files]
    mk = F.create_map(*[x for fn, mv in m_of.items()
                        for x in (F.lit(fn), F.lit(mv))])
    df = (spark.read.schema(table.schema).parquet(*paths)
          .select(F.col(FILE_NAME), F.col(RECORD_KEY))
          .withColumn("__m", mk[F.col(FILE_NAME)]))
    pos = df.select(
        FILE_NAME,
        F.explode(F.array(*_positions(F.col(RECORD_KEY), F.col("__m"),
                                      K_HASHES))).alias("pos"))
    words = (pos
             .withColumn("wi", (F.col("pos") / 64).cast("int"))
             .withColumn("wv", F.expr("shiftleft(1L, cast(pos % 64 as int))"))
             .groupBy(FILE_NAME, "wi").agg(F.bit_or("wv").alias("wv"))
             .collect())

    hex_of: dict[str, list[str]] = {fn: ["0"] * (m // 4)
                                    for fn, m in m_of.items()}
    for fn, wi, wv in words:
        chars = hex_of[fn]
        for j in range(16):
            v = (wv >> (4 * j)) & 15
            if v:
                chars[wi * 16 + j] = format(v, "x")
    by_instant: dict[str, dict] = {}
    for inst, fn, _p, _n in files:
        by_instant.setdefault(inst, {})[fn] = {
            "m": m_of[fn], "k": K_HASHES, "hex": "".join(hex_of[fn])}
    from . import storage

    fs = table.storage
    fs.makedirs(_bloom_dir(table))
    for inst, recs in by_instant.items():
        path = _sidecar(table, inst)
        raw = fs.read_bytes(path)
        if raw is not None:  # lazy append to an existing sidecar
            merged = json.loads(raw)
            merged.update(recs)
            recs = merged
        storage.ATOMIC.put_atomic(path, json.dumps(recs).encode())


def drop_sidecar(table, instant: str) -> None:
    """Remove an instant's sketch sidecar (OCC abort / rollback / restore):
    harvest runs before the conflict check, so an aborted commit would
    otherwise leave an orphan sidecar forever."""
    try:
        table.storage.remove(_sidecar(table, instant))
    except OSError:
        pass


def _load(table, instants: set[str]) -> dict[tuple[str, str], dict]:
    out: dict[tuple[str, str], dict] = {}
    for inst in instants:
        raw = table.storage.read_bytes(_sidecar(table, inst))
        if raw is not None:
            for fn, rec in json.loads(raw).items():
                out[(inst, fn)] = rec
    return out


# Broadcast budget for one probe round: the candidate-sketch table is
# broadcast to every executor, and a wide upsert can touch tens of
# thousands of sketched files (up to 512 KB of hex each at the 2^21-bit
# cap). Probing in bounded batches keeps any single broadcast to a few MB
# and the membership-test work to |keys| x batch, instead of one
# GB-scale broadcast precisely when the index matters most.
PROBE_BATCH_BYTES = 32 << 20
PROBE_BATCH_FILES = 256


def _probe(spark: SparkSession, keys: DataFrame, batch: list,
           is_global: bool) -> set:
    """One bounded broadcast-join probe round; returns surviving
    (partition, file_id) pairs (file_id only in global mode)."""
    cand_df = F.broadcast(local_frame(
        spark, [(pp, fid, m, hx) for pp, fid, m, hx, _sl in batch],
        f"{PARTITION_PATH} string, __fid string, __m long, __hex string"))
    joined = keys.crossJoin(cand_df.drop(PARTITION_PATH)) if is_global \
        else keys.join(cand_df, PARTITION_PATH)
    member = F.lit(True)
    for s, pos in enumerate(_positions(F.col(RECORD_KEY), F.col("__m"),
                                       K_HASHES)):
        joined = joined.withColumn(f"__p{s}", pos)
        member = member & F.expr(
            f"(cast(conv(substr(__hex, cast(__p{s} div 4 as int) + 1, 1), 16, 10)"
            f" as int) & shiftleft(1, cast(__p{s} % 4 as int))) != 0")
    if is_global:
        return {(r[0],) for r in
                joined.filter(member).select("__fid").distinct().collect()}
    return {tuple(r) for r in
            joined.filter(member).select(PARTITION_PATH, "__fid")
            .distinct().collect()}


def prune(spark: SparkSession, prepared: DataFrame, slices, is_global: bool,
          table) -> list:
    """Drop candidate slices whose sketch proves no incoming key is present.

    Files without a sketch (pre-bloom commits, bootstrap sources) are kept —
    pruning is strictly conservative. Candidates are probed in batches
    bounded by ``PROBE_BATCH_BYTES`` / ``PROBE_BATCH_FILES`` so the
    broadcast stays small no matter how many files the write touches.

    Lazy harvest: eligible candidate files (non-bootstrap, above the
    record-count floor) that have no sketch yet are sketched here, once,
    before probing — the cost lands at the first tag that would probe them
    (amortized across all later tags) instead of on every write, and files
    never probed are never sketched."""
    blooms = _load(table, {sl.base_instant for sl in slices
                           if sl.base_file is not None})
    floor = max(1, table.write_config.bloom_sketch_min_records)
    missing = [
        (sl.base_instant, sl.base_file.file_name, sl.base_file.path,
         sl.base_file.num_records)
        for sl in slices
        if sl.base_file is not None and not sl.base_file.bootstrap
        and sl.base_file.num_records >= floor
        and (sl.base_instant, sl.base_file.file_name) not in blooms]
    if missing:
        _harvest_files(table, missing)
        blooms = _load(table, {i for i, _fn, _p, _n in missing} |
                       {k[0] for k in blooms})
    cands, keep = [], []
    for sl in slices:
        rec = blooms.get((sl.base_instant, sl.base_file.file_name)) \
            if sl.base_file is not None else None
        if rec is None or rec.get("k") != K_HASHES:
            keep.append(sl)
        else:
            cands.append((sl.partition, sl.file_id, rec["m"], rec["hex"], sl))
    if not cands:
        return keep

    batches: list[list] = []
    cur: list = []
    cur_bytes = 0
    for c in cands:
        if cur and (cur_bytes + len(c[3]) > PROBE_BATCH_BYTES
                    or len(cur) >= PROBE_BATCH_FILES):
            batches.append(cur)
            cur, cur_bytes = [], 0
        cur.append(c)
        cur_bytes += len(c[3])
    batches.append(cur)

    keys = prepared.select(RECORD_KEY, PARTITION_PATH).distinct()
    if len(batches) > 1:
        # probed once per batch — pin so the key-gen scan runs once
        keys = keys.persist()
    try:
        survive = []
        for batch in batches:
            hits = _probe(spark, keys, batch, is_global)
            if is_global:
                survive.extend(sl for pp, fid, _m, _h, sl in batch
                               if (fid,) in hits)
            else:
                survive.extend(sl for pp, fid, _m, _h, sl in batch
                               if (pp, fid) in hits)
    finally:
        if len(batches) > 1:
            keys.unpersist()
    return keep + survive
