"""``spark.sql()``-native DML: a thin, documented session interception.

Reference parity: the reference injects analyzer rules via
SparkSessionExtensions (HoodieAnalysis.scala:105,184,198 routes Spark's
parsed ``MergeIntoTable`` / ``UpdateTable`` / ``DeleteFromTable`` plans into
MergeIntoHoodieTableCommand etc.; HoodieSqlParser.scala:171 extends the
parser for Spark 2). PySpark cannot register analyzer rules without JVM
code, so the equivalent seam is one level up: :func:`enable` wraps the
session's ``sql`` entry point. A statement whose head verb is DML/DDL and
whose target resolves to a registered :class:`~hoodie_spark.table.HoodieTable`
is compiled through :func:`hoodie_spark.sql.parser.run_sql` (string-level
parse onto the builder API — Catalyst still plans every expression);
everything else passes to the original ``spark.sql`` untouched, so the
interception is invisible to non-hoodie statements.

After a write-DML the target's temp view is re-registered, so a subsequent
``spark.sql("SELECT ... FROM t")`` sees the new snapshot — the behavior a
catalog-backed table would give.
"""

from __future__ import annotations

import re

from pyspark.sql.types import StructType

from ..frames import local_frame
from .parser import _mask, run_sql

__all__ = ["enable", "disable", "register_table"]

_TARGET_RES = {
    "merge": re.compile(r"\s*merge\s+into\s+(\S+)"),
    "update": re.compile(r"\s*update\s+(\S+)"),
    "delete": re.compile(r"\s*delete\s+from\s+(\S+)"),
    "truncate": re.compile(r"\s*truncate\s+table\s+(\S+)"),
    "alter": re.compile(r"\s*alter\s+table\s+(\S+)"),
    "insert": re.compile(r"\s*insert\s+(?:into|overwrite)\s+(?:table\s+)?(\S+)"),
    "drop": re.compile(r"\s*drop\s+table\s+(?:if\s+exists\s+)?(\S+)"),
}
_HEAD_RE = re.compile(
    r"\s*(merge|update|delete|truncate|alter|insert|create|drop|call)\b")


def _lookup(tables: dict, raw_name: str):
    """Registry lookup mirroring run_sql's resolution: exact name first,
    then the unqualified last path segment with backticks stripped."""
    name = raw_name.strip()
    short = name.split(".")[-1].strip("`")
    if name in tables:
        return name, tables[name]
    if short in tables:
        return short, tables[short]
    return None, None


def _route(spark, query: str, tables: dict):
    """Return ``(handled, result_df)``. Only statements that verifiably
    target a registered hoodie table are handled — anything ambiguous falls
    through to Spark so the interception can never hijack a user's
    non-hoodie statement."""
    mask = _mask(query)
    head = _HEAD_RE.match(mask)
    if not head:
        return False, None
    verb = head.group(1)

    if verb == "call":
        # Spark has no CALL statement, so this can't hijack anything; only
        # route when the table argument resolves to a registered table
        m = re.search(r"\btable\s*=>\s*'([^']+)'", query) or \
            re.search(r'\btable\s*=>\s*"([^"]+)"', query)
        if not m or _lookup(tables, m.group(1))[1] is None:
            return False, None
        out = run_sql(spark, query, tables)
        key, tbl = _lookup(tables, m.group(1))
        try:
            tbl.register_view(key)
        except Exception:
            pass
        if hasattr(out, "columns"):   # show_commits returns a DataFrame
            return True, out
        return True, _empty(spark)

    if verb == "create" and re.match(r"\s*create\s+index\b", mask):
        m = re.search(r"\bon\s+(?:table\s+)?(\S+)", mask)
        if not m or _lookup(tables, query[m.start(1):m.end(1)])[1] is None:
            return False, None
        run_sql(spark, query, tables)
        return True, _empty(spark)

    if verb == "drop" and re.match(r"\s*drop\s+index\b", mask):
        m = re.search(r"\bon\s+(?:table\s+)?(\S+)", mask)
        if not m or _lookup(tables, query[m.start(1):m.end(1)])[1] is None:
            return False, None
        run_sql(spark, query, tables)
        return True, _empty(spark)

    if verb == "create":
        # route only CREATE ... USING hudi/hoodie — other providers are
        # Spark's business (CreateHoodieTableCommand.scala parity)
        if not re.search(r"\busing\s+(hudi|hoodie)\b", mask):
            return False, None
        tbl = run_sql(spark, query, tables)
        if tbl is not None:
            tbl.register_view(tbl.config.name)
        return True, _empty(spark)

    m = _TARGET_RES[verb].match(mask)
    if not m:
        return False, None
    raw = query[m.start(1):m.end(1)]
    key, tbl = _lookup(tables, raw)
    if tbl is None:
        return False, None

    if verb == "drop":
        # DropHoodieTableCommand.scala: deregister; PURGE also deletes data
        tables.pop(key, None)
        spark.catalog.dropTempView(key)
        if re.search(r"\bpurge\s*$", mask):
            tbl.storage.rmtree(tbl.base_path)
        return True, _empty(spark)

    run_sql(spark, query, tables)
    if verb == "alter" and key not in tables:
        # RENAME TO moved the registry key; find the table's new name
        key = next((k for k, v in tables.items() if v is tbl), key)
    # refresh the SQL-on-snapshot view so follow-up SELECTs see this write
    try:
        tbl.register_view(key)
    except Exception:
        pass  # view refresh is best-effort (e.g. table just truncated empty)
    return True, _empty(spark)


def _empty(spark):
    return local_frame(spark, [], StructType([]))


def enable(spark, tables: dict | None = None) -> dict:
    """Patch ``spark.sql`` to route hoodie-table DML; returns the live
    registry (name → HoodieTable). Idempotent; ``tables`` merges into the
    existing registry. Each registered table also gets a snapshot temp view
    so SELECTs resolve."""
    registry = getattr(spark, "_hoodie_sql_tables", None)
    if registry is None:
        registry = {}
        spark._hoodie_sql_tables = registry
    for name, tbl in (tables or {}).items():
        registry[name] = tbl
        tbl.register_view(name)
    if getattr(spark, "_hoodie_orig_sql", None) is None:
        orig = spark.sql

        def hoodie_sql(query, *args, **kwargs):
            if isinstance(query, str) and not args and not kwargs:
                handled, out = _route(spark, query, registry)
                if handled:
                    return out
            return orig(query, *args, **kwargs)

        spark._hoodie_orig_sql = orig
        spark.sql = hoodie_sql
    return registry


def disable(spark) -> None:
    """Restore the original ``spark.sql`` (registry is kept for re-enable)."""
    orig = getattr(spark, "_hoodie_orig_sql", None)
    if orig is not None:
        spark.sql = orig
        spark._hoodie_orig_sql = None


def register_table(spark, table, name: str | None = None):
    """Add one table to the enabled session's registry (and temp views)."""
    registry = enable(spark)
    name = name or table.config.name
    registry[name] = table
    table.register_view(name)
    return registry
