"""HoodieTable — the user-facing facade over one table.

Reference parity: HoodieTableMetaClient.java:77-81 (metafolder layout),
HoodieTableConfig.java (persisted table properties), TableSchemaResolver.java
:55-165 (schema from last commit), plus the client surface of
SparkRDDWriteClient / HoodieReadClient.

Spark-first: schemas are native StructType (persisted as StructType.json()
in table properties and every commit's metadata — the whole Avro conversion
layer of AvroConversionUtils.scala disappears); reads hand Catalyst an
explicit schema + pruned file list so older files gain newly-added columns
as nulls (mergeSchema-on-read evolution)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import (COMMIT_SEQNO, COMMIT_TIME, FILE_NAME, META_COLUMNS,
                     OPERATION, PARTITION_PATH, RECORD_KEY, TableConfig,
                     TableType, WriteConfig, IndexType)
from .frames import local_frame
from .fsview import FileSystemView
from .reader import ReadClient
from .timeline import Timeline

_PROPERTIES = "hoodie.properties.json"


def _parse_ddl_type(t: str | T.DataType) -> T.DataType:
    if isinstance(t, T.DataType):
        return t
    return T._parse_datatype_string(t)


# Avro-resolution-style widening ladder (TableSchemaResolver
# .isSchemaCompatible semantics): numeric promotion only, no renames.
_NUM_LADDER = ["byte", "short", "integer", "long", "float", "double"]


def _widenable(old: T.DataType, new: T.DataType) -> bool:
    if old == new:
        return True
    o, n = old.typeName(), new.typeName()
    if o in _NUM_LADDER and n in _NUM_LADDER:
        return _NUM_LADDER.index(o) <= _NUM_LADDER.index(n)
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return (new.precision >= old.precision
                and new.scale >= old.scale
                and new.precision - new.scale >= old.precision - old.scale)
    return False


class HoodieTable:
    def __init__(self, spark: SparkSession, base_path: str, config: TableConfig,
                 write_config: WriteConfig | None = None,
                 storage=None):
        self.spark = spark
        self.base_path = base_path
        self.config = config
        self.write_config = write_config or WriteConfig()
        # reconcile STRUCTURAL index config with the session: a bucket-index
        # table's key→file-group hash is baked into its layout, so the
        # persisted bucket count always wins — a session reloading with
        # defaults would otherwise route inserts off-layout and silently
        # duplicate keys (Hudi equally forbids changing the bucket count)
        from .config import IndexType
        wc = self.write_config
        if config.bucket_index_num_buckets is not None:
            if wc.index_type == IndexType.BUCKET and \
                    wc.bucket_index_num_buckets != config.bucket_index_num_buckets:
                raise ValueError(
                    f"table was laid out with "
                    f"{config.bucket_index_num_buckets} hash buckets; the "
                    f"session asked for {wc.bucket_index_num_buckets}. The "
                    f"bucket count cannot change after the first write.")
            wc.index_type = IndexType.BUCKET
            wc.bucket_index_num_buckets = config.bucket_index_num_buckets
        elif wc.index_type == IndexType.BUCKET:
            config.bucket_index_num_buckets = wc.bucket_index_num_buckets
        from . import storage as _storage
        # attribute lookup at construction time so a deployment that swaps
        # the module-global FS (object-store adapter) is picked up by every
        # table built after the swap without threading storage= everywhere.
        # storage= is an INSTRUMENTATION seam (wrap/count the same
        # backend), not a backend switch: heartbeats, sidecar stats,
        # schema providers and save_properties go through the module
        # globals, so a per-table storage from a DIFFERENT backend than
        # the globals would split the control plane across two stores.
        # Swapping storage.FS + storage.ATOMIC is the supported way to
        # target an object store; reject the split-brain here.
        if storage is not None and not isinstance(storage, type(_storage.FS)):
            raise ValueError(
                f"per-table storage {type(storage).__name__} is not a "
                f"{type(_storage.FS).__name__} (the module-global backend). "
                "storage= only wraps/instruments the global backend; to "
                "run on an object store swap the module globals "
                "(hoodie_spark.storage.FS and .ATOMIC) so heartbeats, "
                "stats sidecars and table properties land on the same "
                "store as the timeline.")
        self.storage = storage or _storage.FS
        self.timeline = Timeline(base_path, fs=self.storage)
        from .writer import WriteClient  # local import to avoid cycle
        self._writer = WriteClient(self)
        self._reader = ReadClient(self)

    # ------------------------------------------------------------ lifecycle
    @staticmethod
    def create(spark: SparkSession, base_path: str, name: str,
               recordkey_fields: list[str], precombine_field: str | None = None,
               partition_fields: list[str] | None = None,
               partition_expr: str | None = None,
               table_type: str = TableType.COPY_ON_WRITE,
               payload: str | None = None,
               write_config: WriteConfig | None = None,
               storage=None) -> "HoodieTable":
        cfg = TableConfig(
            name=name, table_type=table_type, recordkey_fields=recordkey_fields,
            precombine_field=precombine_field, partition_fields=partition_fields,
            partition_expr=partition_expr)
        if payload:
            cfg.payload = payload
        tbl = HoodieTable(spark, base_path, cfg, write_config, storage=storage)
        tbl.timeline.init()
        tbl.save_properties()
        return tbl

    @staticmethod
    def load(spark: SparkSession, base_path: str,
             write_config: WriteConfig | None = None,
             storage=None) -> "HoodieTable":
        from . import storage as _storage

        fs = storage or _storage.FS
        raw = fs.read_bytes(os.path.join(base_path, ".hoodie", _PROPERTIES))
        if raw is None:
            raise FileNotFoundError(
                f"not a hoodie table (no {_PROPERTIES}): {base_path}")
        cfg = TableConfig.from_json(raw.decode())
        return HoodieTable(spark, base_path, cfg, write_config,
                           storage=storage)

    @staticmethod
    def bootstrap(spark: SparkSession, base_path: str, source_dir: str,
                  name: str, recordkey_fields: list[str],
                  precombine_field: str | None = None,
                  partition_fields: list[str] | None = None,
                  partition_expr: str | None = None,
                  mode: str | None = None,
                  write_config: WriteConfig | None = None) -> "HoodieTable":
        """Adopt a pre-existing parquet directory as a table
        (SparkRDDWriteClient.java:144 / SparkBootstrapCommitActionExecutor).

        METADATA_ONLY (default) registers the existing files without
        rewriting; FULL_RECORD runs them through bulk_insert."""
        from .config import BootstrapMode

        tbl = HoodieTable.create(
            spark, base_path, name, recordkey_fields, precombine_field,
            partition_fields, partition_expr, write_config=write_config)
        tbl._writer.bootstrap(source_dir, mode or BootstrapMode.METADATA_ONLY)
        return tbl

    @staticmethod
    def exists(base_path: str) -> bool:
        from . import storage as _storage

        return _storage.FS.exists(
            os.path.join(base_path, ".hoodie", _PROPERTIES))

    def save_properties(self) -> None:
        from . import storage as _storage

        self.storage.makedirs(os.path.join(self.base_path, ".hoodie"))
        _storage.ATOMIC.put_atomic(
            os.path.join(self.base_path, ".hoodie", _PROPERTIES),
            self.config.to_json().encode())

    # --------------------------------------------------------------- schema
    @property
    def schema(self) -> T.StructType | None:
        """Full stored schema: meta columns + data columns."""
        if self.config.schema_json is None:
            return None
        return T.StructType.fromJson(__import__("json").loads(self.config.schema_json))

    def data_columns(self) -> list[tuple[str, str]]:
        """(name, ddl type) of the user data columns, in stored order."""
        s = self.schema
        if s is None:
            return []
        return [(f.name, f.dataType.simpleString()) for f in s.fields
                if f.name not in META_COLUMNS]

    def evolve_schema(self, df: DataFrame) -> None:
        """Checked append-only evolution (TableSchemaResolver semantics):
        new nullable fields append; existing fields keep their stored type
        (incoming is cast)."""
        incoming = [f for f in df.schema.fields
                    if f.name not in META_COLUMNS and not f.name.startswith("__")
                    and f.name != OPERATION]
        current = self.schema
        if current is None:
            fields = [T.StructField(c, T.StringType(), True) for c in META_COLUMNS]
            fields += [T.StructField(f.name, f.dataType, True) for f in incoming]
            new_schema = T.StructType(fields)
        else:
            names = {f.name for f in current.fields}
            added = [T.StructField(f.name, f.dataType, True)
                     for f in incoming if f.name not in names]
            if not added:
                return
            new_schema = T.StructType(list(current.fields) + added)
        import json as _json
        self.config.schema_json = _json.dumps(new_schema.jsonValue())

    def empty_df(self) -> DataFrame:
        s = self.schema or T.StructType()
        return local_frame(self.spark, [], s)

    # --------------------------------------------------------- ALTER TABLE
    def add_columns(self, cols: dict[str, str]) -> None:
        """ALTER TABLE ADD COLUMNS (AlterHoodieTableAddColumnsCommand.scala):
        append nullable fields to the stored schema; existing files read the
        new columns as null."""
        current = self.schema
        if current is None:
            raise ValueError("table has no schema yet")
        names = {f.name for f in current.fields}
        added = [T.StructField(n, _parse_ddl_type(t), True)
                 for n, t in cols.items() if n not in names]
        if not added:
            return
        import json as _json
        self.config.schema_json = _json.dumps(
            T.StructType(list(current.fields) + added).jsonValue())
        self.save_properties()

    def change_column(self, name: str, new_type: str) -> None:
        """ALTER TABLE CHANGE COLUMN (AlterHoodieTableChangeColumnCommand
        .scala:93): compatible TYPE change for an existing column — the
        reference rejects renames ("Can not support change column name")
        and validates Avro-resolution compatibility; we allow the same
        widening ladder. Existing files are NOT rewritten: the parquet
        reader up-casts old pages to the new type (Spark type-widening
        reads), new writes store the new type."""
        current = self.schema
        if current is None or name not in {f.name for f in current.fields}:
            raise ValueError(f"no such column {name!r}")
        nt = _parse_ddl_type(new_type)
        fields = []
        for f in current.fields:
            if f.name != name:
                fields.append(f)
                continue
            if not _widenable(f.dataType, nt):
                raise ValueError(
                    f"incompatible type change for {name!r}: "
                    f"{f.dataType.simpleString()} -> {nt.simpleString()}")
            fields.append(T.StructField(name, nt, True))
        import json as _json
        self.config.schema_json = _json.dumps(T.StructType(fields).jsonValue())
        self.save_properties()

    def rename_table(self, new_name: str) -> None:
        """ALTER TABLE RENAME TO (AlterHoodieTableRenameCommand.scala):
        re-init the table config under the new name; data and timeline stay
        in place."""
        self.config.name = new_name
        self.save_properties()

    # ---------------------------------------------------------------- reads
    def view(self) -> FileSystemView:
        return FileSystemView(self.timeline)

    def _abs(self, rel_path: str) -> str:
        # FileSystemView.abs without the view: path resolution needs only
        # base_path, never the manifest fold
        if os.path.isabs(rel_path):  # metadata-only bootstrap source file
            return rel_path
        return os.path.join(self.base_path, rel_path)

    def read_slices_base(self, slices) -> DataFrame:
        view_abs = self._abs
        normal, boot = [], []
        for sl in slices:
            if sl.base_file is None:
                continue
            (boot if sl.base_file.bootstrap else normal).append(sl)
        dfs = []
        if normal:
            paths = [view_abs(sl.base_file.path) for sl in normal]
            dfs.append(self.spark.read.schema(self.schema).parquet(*paths))
        if boot:
            dfs.append(self._read_bootstrap_slices(boot))
        if not dfs:
            return self.empty_df()
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _read_bootstrap_slices(self, slices) -> DataFrame:
        """Metadata-only bootstrap files carry no meta columns: read with the
        data schema and compute key/partition/meta on the fly, stamping the
        synthesized file name so merge bucketing and index tagging behave as
        for native files (HoodieBootstrapRelation.scala equivalent, minus
        skeleton files)."""
        from .keygen import record_key_expr
        from .writer import WRITE_TOKEN

        s = self.schema
        data_schema = T.StructType([f for f in s.fields
                                    if f.name not in META_COLUMNS])
        abs_paths = [os.path.abspath(self._abs(sl.base_file.path))
                     for sl in slices]
        df = self.spark.read.schema(data_schema).parquet(*abs_paths)
        # per-source-file identity keyed by the FULL path: partitioned source
        # layouts routinely repeat basenames across partition dirs
        # (000000_0 / part-00000 in each dt= dir) — basename keys would either
        # throw (duplicate map keys) or mis-assign partitions
        kv = []
        for sl, ap in zip(slices, abs_paths):
            fname = (f"{sl.file_id}_{WRITE_TOKEN}_{sl.base_instant}.parquet")
            kv += [F.lit(ap),
                   F.lit(f"{sl.base_instant}\x1f{sl.partition}\x1f{fname}")]
        m = F.create_map(*kv)
        # input_file_name() yields a URI (file:///...; %XX-encoded but with
        # literal '+' left as-is). url_decode alone would turn that '+' into
        # a space (URLDecoder semantics) and miss the map key — escape '+'
        # to %2B first so only true %XX sequences are decoded.
        fpath = F.url_decode(F.regexp_replace(
            F.regexp_replace(F.input_file_name(), "^file:(//)?", ""),
            r"\+", "%2B"))
        tagged = F.split(m[fpath], "\x1f")
        df = (df.withColumn(COMMIT_TIME, tagged.getItem(0))
                .withColumn(COMMIT_SEQNO, F.lit(None).cast("string"))
                .withColumn(RECORD_KEY, record_key_expr(self.config))
                .withColumn(PARTITION_PATH, tagged.getItem(1))
                .withColumn(FILE_NAME, tagged.getItem(2)))
        return df.select(*[f.name for f in s.fields])

    def read_delta_files(self, paths: list[str]) -> DataFrame:
        s = T.StructType(list(self.schema.fields) +
                         [T.StructField(OPERATION, T.StringType(), True)])
        return self.spark.read.schema(s).parquet(*paths)

    def snapshot(self, as_of: str | None = None,
                 partitions: list[str] | None = None,
                 skip_filters: list[tuple] | None = None) -> DataFrame:
        return self._reader.snapshot(as_of=as_of, partitions=partitions,
                                     skip_filters=skip_filters)

    def read_optimized(self, as_of: str | None = None,
                       skip_filters: list[tuple] | None = None) -> DataFrame:
        return self._reader.read_optimized(as_of=as_of,
                                           skip_filters=skip_filters)

    def incremental(self, begin: str | None = None, end: str | None = None,
                    skip_filters: list[tuple] | None = None) -> DataFrame:
        return self._reader.incremental(begin, end, skip_filters=skip_filters)

    def incremental_cdc(self, begin: str | None = None,
                        end: str | None = None) -> DataFrame:
        return self._reader.incremental_cdc(begin, end)

    def create_secondary_index(self, column: str) -> None:
        from . import secondary_index
        secondary_index.create_index(self, column)

    def drop_secondary_index(self, column: str) -> None:
        from . import secondary_index
        secondary_index.drop_index(self, column)

    def read_by_column(self, column: str, values: list,
                       as_of: str | None = None) -> DataFrame:
        return self._reader.read_by_column(column, values, as_of=as_of)

    def read_keys(self, keys_df: DataFrame, as_of: str | None = None) -> DataFrame:
        return self._reader.read_keys(keys_df, as_of=as_of)

    def exists_keys(self, keys_df: DataFrame) -> DataFrame:
        return self._reader.exists(keys_df)

    def register_view(self, name: str, query_type: str = "snapshot",
                      as_of: str | None = None, begin: str | None = None,
                      end: str | None = None) -> None:
        """SQL-on-snapshot surface: any Spark SQL over the registered view is
        Catalyst-optimized (SURVEY.md §2.8 parity bar)."""
        if query_type == "snapshot":
            df = self.snapshot(as_of=as_of)
        elif query_type == "read_optimized":
            df = self.read_optimized(as_of=as_of)
        elif query_type == "incremental":
            df = self.incremental(begin, end)
        else:
            raise ValueError(query_type)
        df.createOrReplaceTempView(name)

    # --------------------------------------------------------------- writes
    def bulk_insert(self, df: DataFrame, sort_mode: str | None = None):
        from .writer import SortMode
        return self._writer.bulk_insert(df, sort_mode or SortMode.GLOBAL_SORT)

    def insert(self, df: DataFrame):
        return self._writer.insert(df)

    def upsert(self, df: DataFrame):
        return self._writer.upsert(df)

    def delete(self, df: DataFrame):
        return self._writer.delete(df)

    def delete_partitions(self, partitions: list[str]):
        return self._writer.delete_partitions(partitions)

    def insert_overwrite(self, df: DataFrame):
        return self._writer.insert_overwrite(df)

    def insert_overwrite_table(self, df: DataFrame):
        return self._writer.insert_overwrite_table(df)

    def filter_exists(self, df: DataFrame) -> DataFrame:
        return self._writer.filter_exists(df)

    def truncate(self):
        """TRUNCATE TABLE (TruncateHoodieTableCommand.scala): one
        replacecommit superseding every live file group; schema, timeline
        and table config are kept, so history before the truncate is still
        time-travel readable until cleaned."""
        data = [n for n, _ in self.data_columns()]
        return self._writer.insert_overwrite_table(self.empty_df().select(*data))

    # ------------------------------------------------------ table services
    def rollback(self, instant_ts: str):
        from .services import rollback
        return rollback(self, instant_ts)

    def savepoint(self, instant_ts: str | None = None):
        from .services import savepoint
        return savepoint(self, instant_ts)

    def restore(self, instant_ts: str):
        from .services import restore
        return restore(self, instant_ts)

    def clean(self, policy: str | None = None, retained: int | None = None):
        from .services import clean
        from .services.clean import CleaningPolicy
        return clean(self, policy or CleaningPolicy.KEEP_LATEST_COMMITS, retained)

    def compact(self, strategy=None, **kw):
        from .services import compact
        return compact(self, strategy, **kw)

    def cluster(self, sort_cols: list[str] | None = None, **kw):
        from .services import cluster
        return cluster(self, sort_cols, **kw)

    def logcompact(self, min_log_files: int = 3, partitions=None):
        from .services import logcompact
        return logcompact(self, min_log_files=min_log_files,
                          partitions=partitions)

    def analyze(self, columns: list[str] | None = None,
                exprs: dict[str, str] | None = None,
                force: bool = False) -> int:
        """Backfill per-file column/expression stats for data skipping
        (services/stats.py — ANALYZE for tables written before
        ``stats_columns``/``stats_exprs`` were configured)."""
        from .services.stats import analyze
        return analyze(self, columns=columns, exprs=exprs, force=force)

    def apply_ttl(self, **kw):
        from .services import apply_ttl
        return apply_ttl(self, **kw)

    def archive(self, max_active: int | None = None):
        from .services import archive
        return archive(self, max_active)

    def upgrade(self, to_version: int | None = None):
        from .services import CURRENT_VERSION, upgrade
        return upgrade(self, to_version or CURRENT_VERSION)

    def downgrade(self, to_version: int = 1):
        from .services import downgrade
        return downgrade(self, to_version)

    # ------------------------------------------------------------ SQL DML
    def merge(self, source: DataFrame, on: str):
        from .sql import MergeIntoBuilder
        return MergeIntoBuilder(self, source, on)

    def update(self, set: dict[str, str], where: str | None = None):  # noqa: A002
        from .sql import update
        return update(self, set, where)

    def delete_where(self, condition: str):
        from .sql import delete_where
        return delete_where(self, condition)

    @property
    def global_index(self) -> bool:
        return self.write_config.index_type in (
            IndexType.GLOBAL_SIMPLE, IndexType.GLOBAL_BLOOM)

    # --------------------------------------------------------- inspection
    def commits(self) -> list[dict]:
        """tbl.cli()-style inspection (hudi-cli commits/show)."""
        out = []
        for inst in self.timeline.completed():
            md = self.timeline.metadata(inst)
            out.append({"instant": inst.timestamp, "action": inst.action,
                        "operation": md.get("operation"),
                        "files": len(md.get("write_stats", [])),
                        "records": sum(s.get("num_records", 0)
                                       for s in md.get("write_stats", []))})
        return out

    def files(self, partitions: list[str] | None = None) -> list[dict]:
        """hudi-cli ``show fsview latest`` — live file slices."""
        out = []
        for sl in self.view().latest_slices(partitions=partitions):
            out.append({
                "partition": sl.partition, "file_id": sl.file_id,
                "base_instant": sl.base_instant,
                "base_file": sl.base_file.file_name if sl.base_file else None,
                "base_size": sl.base_file.size if sl.base_file else 0,
                "num_records": sl.base_file.num_records if sl.base_file else 0,
                "log_files": len(sl.log_files),
                "total_size": sl.total_size(),
            })
        return out

    def stats(self) -> dict:
        """hudi-cli ``stats filesizes`` — table-level aggregates."""
        files = self.files()
        sizes = sorted(f["total_size"] for f in files) or [0]
        return {
            "partitions": len({f["partition"] for f in files}),
            "file_groups": len(files),
            "total_bytes": sum(sizes),
            "total_records": sum(f["num_records"] for f in files),
            "log_files": sum(f["log_files"] for f in files),
            "min_file_bytes": sizes[0], "max_file_bytes": sizes[-1],
            "p50_file_bytes": sizes[len(sizes) // 2],
            "commits": len(self.timeline.completed()),
        }
