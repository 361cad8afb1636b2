"""Transformer chain for the ingestion pipeline.

Reference parity: hudi-utilities/.../transform/Transformer.java (interface),
SqlQueryBasedTransformer.java (<SRC> placeholder over a temp view),
FlatteningTransformer.java:56 (recursive struct flattening to
``parent_child`` columns), ChainedTransformer.java (apply in order),
AWSDmsTransformer.java (add the DMS ``Op`` column when the source batch
lacks it, so full loads and CDC batches share one pipeline).

Spark-first: transformers are DataFrame → DataFrame callables; the whole
source → transform → write pipeline stays one Catalyst plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Transformer:
    """apply(spark, df) -> DataFrame."""

    def apply(self, spark, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def __call__(self, spark, df: DataFrame) -> DataFrame:
        return self.apply(spark, df)


class SqlQueryTransformer(Transformer):
    """SqlQueryBasedTransformer.java: a SQL statement with a ``<SRC>``
    placeholder bound to the incoming batch."""

    def __init__(self, sql: str):
        self.sql = sql

    def apply(self, spark, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView("src")
        return spark.sql(self.sql.replace("<SRC>", "src"))


class FlatteningTransformer(Transformer):
    """FlatteningTransformer.java:56 — recursively flatten struct columns
    into ``parent_child`` top-level columns (arrays/maps pass through)."""

    def apply(self, spark, df: DataFrame) -> DataFrame:
        cols = self._flatten(df.schema, None)
        return df.select(*cols)

    def _flatten(self, schema: T.StructType, prefix: str | None):
        out = []
        for f in schema.fields:
            path = f.name if prefix is None else f"{prefix}.{f.name}"
            if isinstance(f.dataType, T.StructType):
                out.extend(self._flatten(f.dataType, path))
            else:
                out.append(F.col(path).alias(path.replace(".", "_")))
        return out


class AWSDmsTransformer(Transformer):
    """AWSDmsTransformer.java: a DMS full-load batch has no ``Op`` column —
    add it (empty = insert) so the CDC payload path handles both shapes."""

    def apply(self, spark, df: DataFrame) -> DataFrame:
        if "Op" in df.columns:
            return df
        return df.withColumn("Op", F.lit(""))


class ChainedTransformer(Transformer):
    """ChainedTransformer.java: apply transformers left to right."""

    def __init__(self, *transformers):
        self.transformers = [t if callable(t) else _as_callable(t)
                             for t in transformers]

    def apply(self, spark, df: DataFrame) -> DataFrame:
        for t in self.transformers:
            df = t(spark, df)
        return df


def _as_callable(t):
    if isinstance(t, Transformer):
        return t
    raise TypeError(f"not a transformer: {t!r}")


class QualityGateTransformer(Transformer):
    """Curation-on-ingest: apply the training-data quality gates
    (functions/pipeline.filter_corpus bands and/or the Gopher
    repetition/shape rules) to every incoming batch BEFORE it is written —
    the shape a 100 TB ingestion actually wants, since a dropped row never
    costs an upsert, an index entry, or downstream dedup work. Pure
    Column predicates: the gate fuses into the batch's plan, adding no
    stage."""

    def __init__(self, text_col: str, gopher: bool = True,
                 gopher_overrides: dict | None = None, **corpus_kw):
        self.text_col = text_col
        self.gopher = gopher
        self.gopher_overrides = gopher_overrides or {}
        self.corpus_kw = corpus_kw

    def apply(self, spark, df: DataFrame) -> DataFrame:
        if self.corpus_kw:
            from ..functions.pipeline import filter_corpus
            df = filter_corpus(df, self.text_col, **self.corpus_kw)
        if self.gopher:
            from ..functions.quality import gopher_filter
            df = gopher_filter(df, self.text_col, **self.gopher_overrides)
        return df


class CorpusPipelineTransformer(Transformer):
    """The full training-data recipe on the ingest path: Gopher gate →
    exact dedup → decontaminate vs a held-out eval set → per-group quota →
    token-budget shard packing (functions/pipeline.corpus_pipeline). The
    eval set is loaded once per batch from ``test_path`` (parquet) — the
    decontamination grams broadcast, so the batch side stays the solo
    operators' shuffle shape. Emits (id, group, n_tokens, shard_id)."""

    def __init__(self, test_path: str, id_col: str = "doc_id",
                 text_col: str = "text", group_col: str = "lang",
                 **pipeline_kw):
        self.test_path = test_path
        self.id_col = id_col
        self.text_col = text_col
        self.group_col = group_col
        self.pipeline_kw = pipeline_kw

    def apply(self, spark, df: DataFrame) -> DataFrame:
        # the result owns its pinned frame (functions.dedup.StageCache):
        # an ingest loop pins at most the micro-batches it still holds
        from ..functions.pipeline import corpus_pipeline
        test = spark.read.parquet(self.test_path)
        return corpus_pipeline(df, test, id_col=self.id_col,
                               text_col=self.text_col,
                               group_col=self.group_col,
                               **self.pipeline_kw)


class DebeziumTransformer(Transformer):
    """Debezium envelope → upsert-able rows (public Hudi
    DebeziumSource/Payload design: hudi-utilities
    debezium/DebeziumSource.java + PostgresDebeziumAvroPayload): each
    record carries ``op`` ('c'/'r'/'u'/'d'), ``before``/``after`` row
    structs and a ``source``/``ts_ms`` position. Emits the after-image
    (before-image for deletes, so the key columns survive), an ``Op``
    column the CDC payload path consumes ('d' rows soft-delete), and
    ``_event_ts`` (source position when present, else envelope ts_ms) to
    use as the preCombine field — late-arriving older images then lose
    the merge, Debezium-correctly. Pure Column ops, one projection."""

    def apply(self, spark, df: DataFrame) -> DataFrame:
        cols = set(df.columns)
        if not {"op", "after"} <= cols:
            raise ValueError("DebeziumTransformer expects Debezium "
                             "envelope columns op/after[/before]")
        image = F.col("after")
        if "before" in cols:
            image = F.when(F.col("op") == "d",
                           F.col("before")).otherwise(F.col("after"))
        ts = F.col("ts_ms") if "ts_ms" in cols else F.lit(0).cast("long")
        if "source" in cols:
            src_fields = {f.name for f in df.schema["source"].dataType.fields}
            for cand in ("lsn", "pos", "ts_ms"):
                if cand in src_fields:
                    ts = F.coalesce(F.col(f"source.{cand}").cast("long"), ts)
                    break
        out = df.select(image.alias("__row"), F.col("op").alias("Op"),
                        ts.alias("_event_ts"))
        # Kafka-tombstone-style 'd' events can carry before=null AND
        # after=null (REPLICA IDENTITY NOTHING, or the post-delete null
        # marker) — emitting them would push all-null record keys into
        # the downstream upsert; the real delete already arrived as the
        # 'd' row WITH a before image, so these carry no information
        return (out.filter(F.col("__row").isNotNull())
                .select("__row.*", "Op", "_event_ts"))
