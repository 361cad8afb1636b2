"""Clustering: rewrite many small file groups into few large sorted ones.

Reference parity: SparkRecentDaysClusteringPlanStrategy.java:54-122 (plan =
pick small slices per partition, only over the most recent N partitions),
PartitionAwareClusteringPlanStrategy.java:60-100 (partition filter + greedy
byte-capped grouping), SparkSortAndSizeExecutionStrategy.java:51-86
(execute = bulk-insert sorted by sortColumns, target file size),
HoodieClusteringConfig.java:37-116; commits as a replacecommit
(HoodieReplaceCommitMetadata).

Spark-first: plan filters manifest stats on the driver; execution is one
``repartitionByRange(sort_cols)`` job — Catalyst's range partitioner gives
globally sorted output files, which is exactly the reference's
GLOBAL_SORT bulk-insert path. Record meta (commit time/seqno) is preserved
so incremental semantics survive clustering."""

from __future__ import annotations

import math

from .. import timeline as tl
from ..config import RECORD_KEY
from ..writer import CURVE


def recent_partitions(table, target_partitions: int | None = None) -> list[str]:
    """SparkRecentDaysClusteringPlanStrategy.filterPartitionPaths:112-122 —
    reverse-lexicographic sort + limit. Date-style partition paths sort so
    the latest N days win; the planner never stats a slice outside the
    lookback window (at 100 TB: plan over days, not years)."""
    n = target_partitions if target_partitions is not None else \
        table.write_config.clustering_target_partitions
    parts = sorted(table.view().partitions(), reverse=True)
    return parts[:n] if n > 0 else parts


def plan_clustering(table, partitions=None, small_file_limit=None,
                    plan_strategy: str | None = None,
                    target_partitions: int | None = None):
    """Slices worth clustering: base-only slices smaller than the limit
    (slices with pending deltas are left for compaction first). With
    ``plan_strategy="recent_days"`` (or the table's configured strategy),
    candidates are restricted to :func:`recent_partitions` unless an
    explicit partition list is given."""
    strategy = plan_strategy or table.write_config.clustering_plan_strategy
    if partitions is None and strategy == "recent_days":
        partitions = recent_partitions(table, target_partitions)
    limit = small_file_limit or table.write_config.clustering_small_file_limit
    out = []
    for sl in table.view().latest_slices(partitions=partitions):
        if sl.base_file is not None and not sl.log_files and \
                sl.base_file.size < limit:
            out.append(sl)
    return out


def pack_groups(table, plan, max_bytes_in_group=None, max_num_groups=None):
    """Greedy byte-capped grouping within each partition
    (PartitionAwareClusteringPlanStrategy / buildClusteringGroupsForPartition
    :72-100): groups bound the bytes any single execution unit rewrites, and
    the total group count is capped — a planner invariant, not an executor
    one (Spark's range partitioner parallelizes inside a group anyway)."""
    cap = max_bytes_in_group or table.write_config.clustering_max_bytes_in_group
    ngroups = max_num_groups or table.write_config.clustering_max_num_groups
    by_part: dict[str, list] = {}
    for sl in plan:
        by_part.setdefault(sl.partition, []).append(sl)
    groups: list[list] = []
    for part in sorted(by_part):
        cur, size = [], 0
        for sl in by_part[part]:
            if size >= cap and cur:
                groups.append(cur)
                cur, size = [], 0
            cur.append(sl)
            size += sl.base_file.size
        if cur:
            groups.append(cur)
    return groups[:ngroups]


def cluster(table, sort_cols: list[str] | None = None, partitions=None,
            small_file_limit=None, target_file_size=None,
            plan_strategy: str | None = None,
            target_partitions: int | None = None,
            layout: str = "linear", curve_bits: int = 16):
    """Returns the replacecommit instant, or None if nothing to cluster.

    ``layout="linear"`` (default) sorts by ``sort_cols`` directly — best
    pruning on the leading column only. ``layout="zorder"`` /
    ``layout="hilbert"`` sort by a space-filling curve over ``sort_cols``
    (:mod:`hoodie_spark.services.layout`), keeping every output file tight
    in ALL layout dimensions so column-stats skipping prunes on any of
    them. Public layout-optimization design — beyond this reference
    snapshot, which only ships the linear sort.

    New files take the writer's one base-file layout: on a bucket-index
    table each planned group is rewritten 1:1 onto its own bucket fid,
    sorted ("sort within buckets", as in Hudi's bucket-index clustering —
    merging groups would strand keys outside their hash bucket), so the
    win there is layout, not small-file merging. Plans inside the writer's
    transaction (see :meth:`~hoodie_spark.writer.WriteClient.transaction`)."""
    writer = table._writer
    with writer.transaction(tl.REPLACECOMMIT) as instant:
        plan = plan_clustering(table, partitions, small_file_limit,
                               plan_strategy, target_partitions)
        if len(plan) >= 2:
            plan = [sl for grp in pack_groups(table, plan) for sl in grp]
        if len(plan) < 2:
            return None
        target = (target_file_size
                  or table.write_config.clustering_target_file_size)
        order_cols = sort_cols or [RECORD_KEY]
        df = table.read_slices_base(plan)
        if layout != "linear":
            from .layout import with_curve_key
            df = with_curve_key(df, order_cols, layout, bits=curve_bits,
                                key_col=CURVE)
            order_cols = [CURVE]
        total_bytes = sum(sl.base_file.size for sl in plan)
        stats = writer._write_new_base_files(
            df, instant, max(1, math.ceil(total_bytes / target)),
            order_cols=order_cols, restamp=False)
        replaced: dict[str, list[str]] = {}
        for sl in plan:
            replaced.setdefault(sl.partition, []).append(sl.file_id)
        return writer._commit(instant, tl.REPLACECOMMIT, "cluster", stats,
                              replaced=replaced,
                              index_fn=writer._index_fn(stats, instant)).instant


def rescale_buckets(table, new_num_buckets: int):
    """Re-bucket a hash-bucket-index table to ``new_num_buckets`` file
    groups per partition (public consistent-hashing bucket-resize design,
    executed — like Hudi's — as a clustering-style full rewrite publishing
    one replacecommit).

    Scale shape: one snapshot read → one shuffle keyed by the NEW bucket id
    → one file per (partition, bucket). With modulo hashing a power-of-two
    resize is structurally local — doubling sends each old bucket's rows to
    exactly the two children ``b`` and ``b + old_count``, halving merges
    fixed pairs — so the shuffle never fans a row outside its parent
    bucket's hash family. Readers are unaffected mid-flight: they keep the
    old layout until the replacecommit publishes, and the persisted bucket
    count flips in the same instant's properties save."""
    from ..config import IndexType

    wcfg = table.write_config
    if wcfg.index_type != IndexType.BUCKET:
        raise ValueError("rescale_buckets requires a bucket-index table")
    if new_num_buckets < 1:
        raise ValueError("bucket count must be >= 1")
    old = wcfg.bucket_index_num_buckets
    if new_num_buckets == old:
        return None
    from ..config import META_COLUMNS

    snap = table.snapshot().drop(*META_COLUMNS)
    table.config.bucket_index_num_buckets = new_num_buckets
    wcfg.bucket_index_num_buckets = new_num_buckets
    # recorded in the commit metadata so rollback/restore can restore the
    # persisted count along with the data (services/rollback.py)
    table._writer.commit_extra["bucket_rescale"] = {
        "from": old, "to": new_num_buckets}
    try:
        res = table.insert_overwrite_table(snap)
    except BaseException:
        table.config.bucket_index_num_buckets = old
        wcfg.bucket_index_num_buckets = old
        table.save_properties()
        raise
    return res.instant
