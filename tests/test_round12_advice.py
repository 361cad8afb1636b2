"""Round-12 verdict/advice regression tests.

- ADVICE: Ingestor.state_retention_instants counts DATA instants only —
  clean/rollback/savepoint actions must not silently shrink the dedup
  retention window.
- ADVICE: custom_partition_expr renders NULL partition fields as the
  reference's 'default' segment (CustomAvroKeyGenerator emits
  DEFAULT_PARTITION_PATH per part) instead of letting concat_ws drop
  the segment, and quote-escapes the timestamp format string.
- ADVICE: show_stats_filesizes percentiles use the standard
  nearest-rank index (StatsCommand.java's Snapshot percentile), not the
  one-rank-high int(p*n).
- VERDICT 4: dsir_logweights persists the exploded corpus grams across
  the census and scoring passes — the corpus text is tokenized+hashed
  exactly ONCE per run.
"""

import pytest
from pyspark.sql import functions as F

from hoodie_spark import HoodieTable, custom_partition_expr
from hoodie_spark.sql.parser import run_sql
from hoodie_spark.streaming.incremental_dedup import IncrementalDeduper
from hoodie_spark.streaming.ingest import Ingestor, Source

_BODIES = [
    "the quick brown fox jumps over the lazy dog near the riverbank",
    "pack my box with five dozen liquor jugs before the long journey",
    "sphinx of black quartz judge my vow under the desert moonlight",
    "how vexingly quick daft zebras jump across the frozen meadow",
    "crazy fredrick bought many very exquisite opal jewels yesterday",
    "we promptly judged antique ivory buckles for the next big prize",
]

_BODIES2 = [
    "distributed query engines shuffle partitioned data between stages",
    "columnar storage formats prune row groups with min max statistics",
    "broadcast joins ship the small dimension to every executor core",
    "watermarks bound state retention for late arriving event streams",
    "vectorized readers decode parquet pages straight into arrow arrays",
    "adaptive execution replans skewed joins at shuffle boundaries",
]


def _docs(spark, bodies, start=0):
    rows = [(start + i, b) for i, b in enumerate(bodies)]
    return spark.createDataFrame(rows, "doc_id int, text string")


# ------------------------------------------------- retention window actions
class _ListSource(Source):
    """One pre-built batch per sync round; checkpoint = round index."""

    def __init__(self, batches):
        self.batches = list(batches)

    def fetch(self, spark, checkpoint):
        i = int(checkpoint) if checkpoint else 0
        if i >= len(self.batches):
            return None, checkpoint
        return self.batches[i], str(i + 1)


def test_retention_window_counts_data_instants_only(
        spark, tmp_table_path, monkeypatch):
    """A savepoint between batches must NOT consume a slot of the
    'N completed data instants' retention window: retain_after is the
    N-th-newest DATA instant, not the N-th-newest instant of any kind."""
    tbl = HoodieTable.create(spark, tmp_table_path, "ret12", ["doc_id"], None)
    dd = IncrementalDeduper(tbl, "doc_id", "text", threshold=0.8)
    captured = []
    real = dd.compact_state
    monkeypatch.setattr(
        dd, "compact_state",
        lambda retain_after=None: (captured.append(retain_after),
                                   real(retain_after=retain_after))[1])
    batches = [_docs(spark, _BODIES, 0), _docs(spark, _BODIES2, 100),
               _docs(spark, [b + " tail variant" for b in _BODIES], 200)]
    ing = Ingestor(tbl, _ListSource(batches), operation="insert",
                   deduper=dd, compact_state_every=1,
                   state_retention_instants=2)
    ing.sync_once()
    ing.sync_once()
    assert captured[-1] is None  # only 2 data instants: window not exceeded
    tbl.savepoint()  # non-data instant lands between i2 and i3
    ing.sync_once()
    from hoodie_spark import timeline as tl
    data = tbl.timeline.completed(tl.DATA_ACTIONS)
    every = tbl.timeline.completed()
    assert len(data) == 3 and len(every) == 4
    # window of 2 over DATA instants -> retain from the 2nd-newest data
    # instant; the buggy all-actions version would return the savepoint's
    # timestamp here (one instant too new -> window silently shrinks)
    assert captured[-1] == data[-2].timestamp
    assert captured[-1] != every[-2].timestamp


# ------------------------------------------------- custom keygen null/quote
def test_custom_keygen_null_field_renders_default(spark):
    expr = custom_partition_expr("region:simple,day:timestamp",
                                 {"day": "yyyy-MM-dd"})
    df = spark.createDataFrame(
        [("eu", "2024-01-05"), ("eu", None), (None, "2024-01-05")],
        "region string, day string")
    out = [r.pp for r in df.selectExpr(f"{expr} as pp").collect()]
    assert out == ["eu/2024-01-05", "eu/default", "default/2024-01-05"]


def test_custom_keygen_quote_in_timestamp_format(spark):
    # date_format literals use single quotes; the spec-compiled SQL must
    # escape them instead of producing a broken expression
    expr = custom_partition_expr("day:timestamp", "yyyy'T'MM")
    df = spark.createDataFrame([("2024-01-05",)], "day string")
    assert df.selectExpr(f"{expr} as pp").first().pp == "2024T01"


# ------------------------------------------------- nearest-rank percentiles
def test_filesizes_percentile_nearest_rank(spark, orders, tmp_table_path):
    tbl = HoodieTable.create(
        spark, tmp_table_path, "orders_fs12", ["o_orderkey"], None,
        partition_expr="cast(pmod(o_orderkey, 10) as string)")
    tbl.bulk_insert(orders)
    sizes = sorted(sl.base_file.size for sl in tbl.view().latest_slices()
                   if sl.base_file is not None)
    assert len(sizes) == 10  # one base file per pmod partition
    row = run_sql(spark, "CALL show_stats_filesizes(table => 'orders_fs12')",
                  {"orders_fs12": tbl}).first()
    # nearest-rank: ceil(p*n)-th smallest -> p50 = 5th value, p90 = 9th
    assert row.p50 == sizes[4]
    assert row.p90 == sizes[8]
    assert (row.num_files, row.min, row.max, row.total) == \
        (10, sizes[0], sizes[-1], sum(sizes))


# ------------------------------------------------- DSIR single tokenize
def test_dsir_tokenizes_corpus_exactly_once(spark):
    """The exploded corpus grams are persisted across the census and
    scoring passes: each corpus row's text is read exactly once."""
    from hoodie_spark import functions as HF

    taps = spark.sparkContext.accumulator(0)

    def tap(s):
        taps.add(1)
        return s

    tap_udf = F.udf(tap, "string")
    base = _docs(spark, _BODIES + _BODIES2)
    corpus = base.withColumn("text", tap_udf("text"))
    target = base.filter(F.col("doc_id") % 3 == 0)  # untapped side
    out = HF.dsir_select(corpus, target, "doc_id", "text", k=5)
    rows = out.collect()
    assert len(rows) == 5
    n = base.count()
    assert taps.value == n, (
        f"corpus text evaluated {taps.value} times for {n} rows — the "
        "census and scoring passes are not sharing the grams frame")
