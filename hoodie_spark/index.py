"""Record index: key → file-group location lookup.

Reference parity: hudi-client-common/.../index/HoodieIndex.java:106 (types),
SparkHoodieSimpleIndex.java:153 (join against keys read from storage),
SparkHoodieGlobalSimpleIndex.java:154, SparkHoodieBloomIndex.java:61-289
(per-file key ranges + bloom filters pruning candidate files before the
check), SparkHoodieGlobalBloomIndex.java:143.

Spark-first: tagging is a single left join between the incoming batch and a
projection of (record_key, partition, file_name) read from only the files
that survive pruning. Pruning happens on the DRIVER against the commit
manifest — partition pruning first (non-global index), then record-key
min/max interval overlap (the manifest carries per-file key ranges harvested
from parquet footers at write time, standing in for Hudi's bloom/range
footer metadata). The join itself is Catalyst-planned: with a small incoming
batch AQE turns it into a broadcast join; the 3-column projection means the
scan reads only those columns (column pruning)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .config import (COMMIT_TIME, FILE_NAME, PARTITION_PATH, RECORD_KEY,
                     IndexType)
from .frames import local_frame
from .fsview import file_id_of

def tag_location(spark: SparkSession, prepared: DataFrame, table,
                 view=None, force_global: bool = False) -> DataFrame:
    """HoodieIndex.tagLocation: adds ``_target_file_id`` / ``_target_pp``
    columns (null = insert). ``prepared`` must carry RECORD_KEY and
    PARTITION_PATH columns. ``force_global`` switches one call to the
    global lookup (delete-by-key without partition source columns)."""
    index_type = table.write_config.index_type
    is_global = force_global or index_type in (
        IndexType.GLOBAL_SIMPLE, IndexType.GLOBAL_BLOOM)
    view = view or table.view()

    # bucket index: location is a pure function of the key — no data read.
    # (key-only deletes can't compute the partition, so they fall through
    # to the global join lookup below.)
    if index_type == IndexType.BUCKET and not force_global:
        return _tag_bucket(spark, prepared, table, view)

    if table.write_config.record_index:
        from . import record_index

        # first use on a pre-existing table backfills from ALL live slices
        # (keys in untouched file groups would otherwise tag as inserts and
        # duplicate); afterwards the marker gates straight to the index
        record_index.ensure_initialized(table, view)
        return _tag_from_record_index(prepared, table, view, is_global)

    bloom_index = index_type in (IndexType.BLOOM, IndexType.GLOBAL_BLOOM)
    bounds = None
    if is_global:
        slices = view.latest_slices()
    elif bloom_index:
        # one action yields both the partitions to list and the key bounds
        # the range pruning below needs
        bounds = _key_bounds(prepared, is_global)
        slices = view.latest_slices(partitions=list(bounds))
    else:
        pps = [r[0] for r in prepared.select(PARTITION_PATH).distinct().collect()]
        slices = view.latest_slices(partitions=pps)

    if bloom_index:
        slices = _prune_by_key_range(prepared, slices, is_global, bounds)
        # bloom membership pruning (SparkHoodieBloomIndex.java:256-266):
        # range pruning is useless for random/UUID keys, the key sketch
        # still cuts the candidate set to files that may contain a key
        from . import bloom
        slices = bloom.prune(spark, prepared, slices, is_global, table)

    slices = [sl for sl in slices if sl.base_file is not None]
    if not slices:
        null_s = F.lit(None).cast("string")
        return prepared.withColumn("_target_file_id", null_s) \
                       .withColumn("_target_pp", null_s)

    # read through the table's slice reader (handles metadata-only bootstrap
    # files whose keys are computed on the fly); Catalyst prunes the scan to
    # the four projected columns
    existing = (table.read_slices_base(slices)
                .select(F.col(RECORD_KEY).alias("__ex_key"),
                        F.col(PARTITION_PATH).alias("_target_pp"),
                        file_id_of(FILE_NAME).alias("_target_file_id"),
                        F.col(COMMIT_TIME).alias("__ex_commit")))
    if is_global:
        # a record key may exist in several partitions; keep the latest
        w = Window.partitionBy("__ex_key").orderBy(F.desc("__ex_commit"))
        existing = existing.withColumn("__rn", F.row_number().over(w)) \
                           .filter(F.col("__rn") == 1).drop("__rn")
        cond = [F.col(RECORD_KEY) == F.col("__ex_key")]
    else:
        cond = [F.col(RECORD_KEY) == F.col("__ex_key"),
                F.col(PARTITION_PATH) == F.col("_target_pp")]
    existing = existing.drop("__ex_commit")

    joined = prepared.join(existing, cond[0] if len(cond) == 1 else cond[0] & cond[1],
                           "left").drop("__ex_key")
    if not is_global:
        return joined.withColumn("_target_pp", F.col(PARTITION_PATH))
    return joined


def bucket_fid_expr(num_buckets: int):
    """Deterministic bucket file-group id for a record key. The fid embeds
    the bucket number (like Hudi's bucket-id fileId prefix), so the
    key → file-group mapping IS the index."""
    return F.format_string(
        "bucket%05d-0",
        F.pmod(F.xxhash64(F.col(RECORD_KEY)), F.lit(num_buckets)).cast("int"))


def _tag_bucket(spark: SparkSession, prepared: DataFrame, table,
                view) -> DataFrame:
    """Hash-bucket tagging: ``_target_file_id`` = bucket fid when that file
    group already exists (update/merge path), else null (insert creates the
    group). The only lookup is a driver-side existing-group list from the
    manifest fold — zero data-file I/O however large the table, which is
    the entire point of the bucket index at 100 TB."""
    fid = bucket_fid_expr(table.write_config.bucket_index_num_buckets)
    existing = view.live_groups()
    tagged = prepared.withColumn("__bucket_fid", fid)
    if existing:
        ex_df = F.broadcast(local_frame(
            spark, existing, "__ex_pp string, __ex_fid string"))
        tagged = tagged.join(
            ex_df, (F.col(PARTITION_PATH) == F.col("__ex_pp")) &
            (F.col("__bucket_fid") == F.col("__ex_fid")), "left")
        target = F.when(F.col("__ex_fid").isNotNull(), F.col("__bucket_fid"))
        tagged = tagged.withColumn("_target_file_id", target) \
                       .drop("__ex_pp", "__ex_fid")
    else:
        tagged = tagged.withColumn("_target_file_id",
                                   F.lit(None).cast("string"))
    return tagged.withColumn("_target_pp", F.col(PARTITION_PATH))


def _tag_from_record_index(prepared: DataFrame, table, view,
                           is_global: bool) -> DataFrame:
    """Tag from the persisted key → file-group map — no data-file scan.

    The index join replaces reading the record-key column of every affected
    file: the shuffled payload is the 3-column index, not the table."""
    from . import record_index

    idx = record_index.lookup(table, view=view)
    existing = idx.select(F.col(RECORD_KEY).alias("__ex_key"),
                          F.col(PARTITION_PATH).alias("_target_pp"),
                          F.col("file_id").alias("_target_file_id"),
                          F.col("instant").alias("__ex_commit"))
    if is_global:
        w = Window.partitionBy("__ex_key").orderBy(F.desc("__ex_commit"))
        existing = existing.withColumn("__rn", F.row_number().over(w)) \
                           .filter(F.col("__rn") == 1).drop("__rn")
        cond = F.col(RECORD_KEY) == F.col("__ex_key")
    else:
        cond = (F.col(RECORD_KEY) == F.col("__ex_key")) & \
               (F.col(PARTITION_PATH) == F.col("_target_pp"))
    existing = existing.drop("__ex_commit")
    joined = prepared.join(existing, cond, "left").drop("__ex_key")
    if not is_global:
        return joined.withColumn("_target_pp", F.col(PARTITION_PATH))
    return joined


def _key_bounds(prepared: DataFrame, is_global: bool) -> dict:
    """Partition path (None when global) → (min key, max key) of the
    incoming batch, in one tiny agg action."""
    if is_global:
        row = prepared.agg(F.min(RECORD_KEY), F.max(RECORD_KEY)).collect()[0]
        return {None: (row[0], row[1])}
    rows = prepared.groupBy(PARTITION_PATH).agg(
        F.min(RECORD_KEY), F.max(RECORD_KEY)).collect()
    return {r[0]: (r[1], r[2]) for r in rows}


def _prune_by_key_range(prepared: DataFrame, slices, is_global: bool,
                        bounds: dict | None = None):
    """IntervalTreeBasedIndexFileFilter / SparkHoodieBloomIndex.java:230-235:
    drop candidate files whose [min_key, max_key] cannot intersect the
    incoming batch's key range; effective whenever keys are clustered
    (monotonic ids, time-prefixed keys, sorted bulk loads). ``bounds`` is
    :func:`_key_bounds` of ``prepared`` when the caller already has it."""
    if bounds is None:
        bounds = _key_bounds(prepared, is_global)
    out = []
    for sl in slices:
        bf = sl.base_file
        lo, hi = bounds.get(None) or bounds.get(sl.partition, (None, None))
        if bf is None or bf.min_key is None or bf.max_key is None or lo is None:
            out.append(sl)  # no stats -> cannot prune
            continue
        if bf.max_key >= lo and bf.min_key <= hi:
            out.append(sl)
    return out
