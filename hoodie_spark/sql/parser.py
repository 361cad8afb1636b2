"""SQL-text DML front-end: MERGE INTO / UPDATE / DELETE / TRUNCATE strings
driven into the builder API.

Reference parity: HoodieSqlParser.scala:171 (extended Spark parser that
accepts MERGE/UPDATE/DELETE on hudi tables), HoodieAnalysis.scala:105,184,198
(resolution into MergeIntoHoodieTableCommand / UpdateHoodieTableCommand /
DeleteHoodieTableCommand), TruncateHoodieTableCommand.scala.

Spark-first: we don't need Catalyst parser extensions — the statement is
parsed at the string level (quote- and paren-aware, never inside literals)
and compiled onto :class:`~hoodie_spark.sql.merge.MergeIntoBuilder` /
``update`` / ``delete_where`` / ``truncate``, whose expressions Catalyst
then plans as one upsert batch. Source subqueries run through
``spark.sql(...)`` so the full SQL surface (unions, CTEs, functions) is
available inside ``USING (...)``.

Semantics notes:
* clause order = priority, first matching clause wins (matched clauses);
* unqualified columns that exist on BOTH sides resolve to the SOURCE only
  when the column is mentioned in the ON clause (matched rows satisfy the
  ON equality, so the two sides are interchangeable there); any OTHER
  both-sides column must be qualified — we raise, like Spark's analyzer,
  instead of silently picking a side (``SET cnt = cnt + 1`` would
  otherwise read the SOURCE's cnt);
* ``insert *`` / ``update set *`` expand to the target's data columns,
  taking values from same-named source columns.
"""

from __future__ import annotations

import re

from ..frames import local_frame

_KEYWORDS = {
    "and", "or", "not", "in", "is", "null", "like", "between", "exists",
    "case", "when", "then", "else", "end", "cast", "as", "true", "false",
    "div", "interval", "date", "timestamp", "distinct", "select", "from",
    "where", "group", "by", "order", "having", "union", "all", "join", "on",
    "inner", "left", "right", "full", "cross", "current_date",
    "current_timestamp",
}


def _mask(s: str) -> str:
    """Lower-cased copy with string literals and parenthesized regions
    blanked, same length — safe for keyword/comma/equals position finding
    at the statement's top level."""
    out = []
    depth = 0
    q: str | None = None
    for c in s:
        if q is not None:
            out.append(" ")
            if c == q:
                q = None
        elif c in ("'", '"'):
            q = c
            out.append(" ")
        elif c == "(":
            depth += 1
            out.append(" ")
        elif c == ")":
            depth -= 1
            out.append(" ")
        elif depth > 0:
            out.append(" ")
        else:
            out.append(c.lower())
    return "".join(out)


def _mask_quotes(s: str) -> str:
    """Lower-cased copy with only string literals blanked (parens kept)."""
    out = []
    q: str | None = None
    for c in s:
        if q is not None:
            out.append(" ")
            if c == q:
                q = None
        elif c in ("'", '"'):
            q = c
            out.append(" ")
        else:
            out.append(c.lower())
    return "".join(out)


def _blank_case_end(mask: str) -> str:
    """Blank CASE ... END regions (nesting-aware) in an already-masked
    string, so the WHEN/THEN of a CASE expression inside a merge action
    (``UPDATE SET v = CASE WHEN ... THEN ... END``) never reads as
    merge-clause structure."""
    out = list(mask)
    depth = 0
    start = 0
    for m in re.finditer(r"\b(case|end)\b", mask):
        if m.group(1) == "case":
            if depth == 0:
                start = m.start()
            depth += 1
        elif depth:
            depth -= 1
            if depth == 0:
                for i in range(start, m.end()):
                    out[i] = " "
    return "".join(out)


def _find_kw(mask: str, kw: str, start: int = 0) -> int:
    m = re.compile(rf"\b{kw}\b").search(mask, start)
    return m.start() if m else -1


def _split_top(s: str, sep: str = ",") -> list[str]:
    mask = _mask(s)
    parts, last = [], 0
    for i, c in enumerate(mask):
        if c == sep:
            parts.append(s[last:i])
            last = i + 1
    parts.append(s[last:])
    return [p.strip() for p in parts if p.strip()]


def _parse_relation(text: str) -> tuple[str, str | None]:
    """``name``, ``name alias``, ``name as alias`` → (name, alias)."""
    toks = text.split()
    if not toks:
        raise ValueError(f"cannot parse relation from {text!r}")
    if len(toks) == 1:
        return toks[0], None
    if len(toks) == 3 and toks[1].lower() == "as":
        return toks[0], toks[2]
    if len(toks) == 2:
        return toks[0], toks[1]
    raise ValueError(f"cannot parse relation from {text!r}")


class _Rewriter:
    """Rewrites user aliases/table names to the builder's fixed ``target``/
    ``source`` qualifiers, and qualifies bare columns so expressions stay
    unambiguous over the joined frame. A bare column living on BOTH sides
    resolves to the source only when it is mentioned in the ON clause
    (equated for matched rows); otherwise it is a hard error, matching
    Spark's ambiguity analysis — silently picking the source would turn
    ``SET cnt = cnt + 1`` into ``source.cnt + 1``."""

    def __init__(self, target_names: set[str], source_names: set[str],
                 source_cols: set[str], target_cols: set[str],
                 on_cols: set[str] | None = None):
        self.tnames = {n.lower() for n in target_names if n}
        self.snames = {n.lower() for n in source_names if n}
        self.scols = {c.lower() for c in source_cols}
        self.tcols = {c.lower() for c in target_cols}
        self.on_cols = {c.lower() for c in (on_cols or set())}

    def __call__(self, expr: str) -> str:
        mask = _mask_quotes(expr)
        out = []
        pos = 0
        for m in re.finditer(r"\b[a-zA-Z_][\w]*\b", mask):
            word = m.group(0)
            start, end = m.span()
            nxt = mask[end:end + 80].lstrip()
            prev = mask[:start].rstrip()
            out.append(expr[pos:start])
            pos = end
            if prev.endswith("."):           # already-qualified column
                out.append(expr[start:end])
            elif nxt.startswith("."):        # qualifier position
                if word in self.snames:
                    out.append("source")
                elif word in self.tnames:
                    out.append("target")
                else:
                    out.append(expr[start:end])
            elif nxt.startswith("(") or word in _KEYWORDS:
                out.append(expr[start:end])  # function call / keyword
            elif word in self.scols and word in self.tcols \
                    and word not in self.on_cols:
                raise ValueError(
                    f"ambiguous column {word!r}: exists in both source and "
                    "target and is not equated in the ON clause — qualify "
                    "it with the source or target alias")
            elif word in self.scols:
                out.append(f"source.{expr[start:end]}")
            elif word in self.tcols:
                out.append(f"target.{expr[start:end]}")
            else:
                out.append(expr[start:end])
        out.append(expr[pos:])
        return "".join(out)


def _strip_qualifier(col: str) -> str:
    return col.split(".")[-1].strip().strip("`")


def parse_merge(sql: str) -> dict:
    """Parse a MERGE INTO statement into its structural pieces (strings —
    expression rewriting happens at execution when schemas are known)."""
    # blank CASE...END before structural keyword search: a CASE's WHEN/THEN
    # must never split merge clauses or be mistaken for a clause's THEN
    mask = _blank_case_end(_mask(sql))
    m = re.match(r"\s*merge\s+into\b", mask)
    if not m:
        raise ValueError("not a MERGE INTO statement")
    i_using = _find_kw(mask, "using", m.end())
    i_on = _find_kw(mask, "on", i_using)
    i_when = _find_kw(mask, "when", i_on)
    if min(i_using, i_on, i_when) < 0:
        raise ValueError("MERGE INTO needs USING, ON and WHEN clauses")
    target, talias = _parse_relation(sql[m.end():i_using].strip())

    src_text = sql[i_using + len("using"):i_on].strip()
    if src_text.startswith("("):
        # find the matching close paren in the raw text
        depth, q, close = 0, None, -1
        for i, c in enumerate(src_text):
            if q:
                if c == q:
                    q = None
            elif c in ("'", '"'):
                q = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        source = src_text[1:close].strip()
        rest = src_text[close + 1:].split()
        salias = rest[-1] if rest else None
        if salias and salias.lower() == "as":
            salias = None
        source_is_query = True
    else:
        source, salias = _parse_relation(src_text)
        source_is_query = False

    on = sql[i_on + len("on"):i_when].strip()

    clauses = []
    # split the tail at top-level WHEN keywords
    tail, tmask = sql[i_when:], mask[i_when:]
    starts = [mm.start() for mm in re.finditer(r"\bwhen\b", tmask)]
    starts.append(len(tail))
    for a, b in zip(starts, starts[1:]):
        ctext = tail[a:b].strip()
        cmask = _blank_case_end(_mask(ctext))
        i_then = _find_kw(cmask, "then")
        if i_then < 0:
            raise ValueError(f"WHEN clause missing THEN: {ctext!r}")
        head, body = ctext[:i_then], ctext[i_then + len("then"):].strip()
        hmask = cmask[:i_then]
        if re.search(r"\bnot\s+matched\s+by\s+source\b", hmask):
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE is not supported (the reference "
                "SQL surface predates it); express it as a separate "
                "DELETE/UPDATE over the target")
        matched = re.search(r"\bnot\s+matched\b", hmask) is None
        i_and = _find_kw(hmask, "and")
        cond = head[i_and + len("and"):].strip() if i_and >= 0 else None
        bmask = _mask(body)
        if bmask.startswith("update"):
            i_set = _find_kw(bmask, "set")
            assigns_text = body[i_set + len("set"):].strip()
            if assigns_text == "*":
                sets = "*"
            else:
                sets = {}
                for a_txt in _split_top(assigns_text):
                    amask = _mask(a_txt)
                    eq = amask.find("=")
                    if eq < 0:
                        raise ValueError(f"bad assignment {a_txt!r}")
                    sets[_strip_qualifier(a_txt[:eq])] = a_txt[eq + 1:].strip()
            clauses.append(("update", matched, cond, sets))
        elif bmask.startswith("delete"):
            clauses.append(("delete", matched, cond, None))
        elif bmask.startswith("insert"):
            rest = body[len("insert"):].strip()
            if rest == "*":
                clauses.append(("insert", matched, cond, "*"))
            else:
                mm = re.match(r"\((?P<cols>.*?)\)\s*values\s*\((?P<vals>.*)\)\s*$",
                              rest, re.IGNORECASE | re.DOTALL)
                if not mm:
                    raise ValueError(f"bad INSERT clause {rest!r}")
                cols = [_strip_qualifier(c) for c in
                        _split_top(mm.group("cols"))]
                vals = _split_top(mm.group("vals"))
                if len(cols) != len(vals):
                    raise ValueError("INSERT column/value count mismatch")
                clauses.append(("insert", matched, cond,
                                dict(zip(cols, vals))))
        else:
            raise ValueError(f"unsupported merge action {body!r}")
    return {"target": target, "target_alias": talias, "source": source,
            "source_is_query": source_is_query, "source_alias": salias,
            "on": on, "clauses": clauses}


def _resolve_table(tables: dict, name: str):
    """The registered hoodie table ``name`` names, looked up as given and
    then by its last dotted part without backticks (``db.t`` → ``t``)."""
    tbl = tables.get(name) or tables.get(name.split(".")[-1].strip("`"))
    if tbl is None:
        raise ValueError(f"unknown hoodie table {name!r}")
    return tbl


def _exec_merge(spark, sql: str, tables: dict) -> object:
    p = parse_merge(sql)
    tname = p["target"].split(".")[-1].strip("`")
    tbl = _resolve_table(tables, p["target"])
    src = spark.sql(p["source"]) if p["source_is_query"] \
        else spark.table(p["source"])
    target_cols = [n for n, _ in tbl.data_columns()]
    # columns mentioned in ON are equated for matched rows, so a bare
    # reference to one is side-interchangeable; others must be qualified
    on_cols = set(re.findall(r"\b[a-zA-Z_]\w*\b", _mask_quotes(p["on"])))
    rw = _Rewriter({p["target"], tname, p["target_alias"]},
                   {p["source"], p["source_alias"]},
                   set(src.columns), set(target_cols), on_cols=on_cols)
    b = tbl.merge(src, rw(p["on"]))
    for kind, matched, cond, payload in p["clauses"]:
        cond_rw = rw(cond) if cond else None
        if kind == "update":
            if payload == "*":
                payload = {c: f"source.{c}" for c in target_cols
                           if c in src.columns}
            else:
                payload = {c: rw(e) for c, e in payload.items()}
            b.when_matched_update(set=payload, condition=cond_rw)
        elif kind == "delete":
            b.when_matched_delete(condition=cond_rw)
        else:
            values = None if payload == "*" else \
                {c: rw(e) for c, e in payload.items()}
            b.when_not_matched_insert(values=values, condition=cond_rw)
    return b.execute()


def _exec_update(spark, sql: str, tables: dict) -> object:
    mask = _mask(sql)
    m = re.match(r"\s*update\b", mask)
    i_set = _find_kw(mask, "set", m.end())
    i_where = _find_kw(mask, "where", i_set)
    tname = sql[m.end():i_set].strip()
    tbl = _resolve_table(tables, tname)
    assigns_text = sql[i_set + len("set"):i_where if i_where >= 0 else len(sql)]
    sets = {}
    for a_txt in _split_top(assigns_text):
        eq = _mask(a_txt).find("=")
        sets[_strip_qualifier(a_txt[:eq])] = a_txt[eq + 1:].strip()
    where = sql[i_where + len("where"):].strip() if i_where >= 0 else None
    return tbl.update(set=sets, where=where)


def _exec_delete(spark, sql: str, tables: dict) -> object:
    mask = _mask(sql)
    m = re.match(r"\s*delete\s+from\b", mask)
    i_where = _find_kw(mask, "where", m.end())
    tname = sql[m.end():i_where if i_where >= 0 else len(sql)].strip()
    tbl = _resolve_table(tables, tname)
    cond = sql[i_where + len("where"):].strip() if i_where >= 0 else "true"
    return tbl.delete_where(cond)


def _exec_truncate(spark, sql: str, tables: dict) -> object:
    mask = _mask(sql)
    m = re.match(r"\s*truncate\s+table\b", mask)
    tname = sql[m.end():].strip()
    tbl = _resolve_table(tables, tname)
    return tbl.truncate()


def _exec_alter(spark, sql: str, tables: dict) -> None:
    """ALTER TABLE t ADD COLUMNS (a int, ...) | CHANGE [COLUMN] a a <type> |
    RENAME TO t2 (AlterHoodieTableAddColumnsCommand / ...ChangeColumnCommand
    / ...RenameCommand)."""
    mask = _mask(sql)
    m = re.match(r"\s*alter\s+table\b", mask)
    mm = re.search(r"\b(add\s+columns?|change(?:\s+column)?|rename\s+to"
                   r"|drop\s+partition)\b", mask)
    if not mm:
        raise ValueError(f"unsupported ALTER TABLE statement: {sql!r}")
    tname = sql[m.end():mm.start()].strip()
    tbl = _resolve_table(tables, tname)
    verb = mm.group(1).split()[0]
    rest = sql[mm.end():].strip()
    if verb == "add":
        if rest.startswith("("):
            rest = rest[1:rest.rindex(")")]
        cols = {}
        for part in _split_top(rest):
            toks = part.split(None, 1)
            cols[toks[0].strip("`")] = toks[1]
        tbl.add_columns(cols)
    elif verb == "change":
        toks = rest.split(None, 2)
        old, new, new_type = toks[0].strip("`"), toks[1].strip("`"), toks[2]
        if old.lower() != new.lower():
            raise ValueError(
                "Can not support change column name for hoodie table")
        tbl.change_column(old, new_type)
    elif verb == "drop":
        # ALTER TABLE t DROP PARTITION (col='v'[, ...]) — Spark partition
        # spec; the path is the '/'-joined values, matching the key
        # generator's partition-path layout (AlterTableDropPartition parity:
        # a delete_partition replacecommit, no data IO)
        if not rest.startswith("("):
            raise ValueError(f"expected partition spec in {sql!r}")
        spec = rest[1:rest.rindex(")")]
        vals = []
        for part in _split_top(spec):
            eq = _mask(part).find("=")
            if eq < 0:
                raise ValueError(f"bad partition spec {part!r}")
            vals.append(part[eq + 1:].strip().strip("'\""))
        tbl.delete_partitions(["/".join(vals)])
    else:
        tbl.rename_table(rest.strip("`"))


def _parse_options(text: str) -> dict:
    """``k = 'v', k2 = "v2"`` (inside OPTIONS/TBLPROPERTIES parens)."""
    out = {}
    for part in _split_top(text):
        eq = _mask(part).find("=")
        if eq < 0:
            continue
        k = part[:eq].strip().strip("'\"`")
        v = part[eq + 1:].strip().strip("'\"")
        out[k] = v
    return out


def _exec_create(spark, sql: str, tables: dict):
    """CREATE TABLE [IF NOT EXISTS] t [(cols)] USING hudi LOCATION '...'
    [OPTIONS(...)|TBLPROPERTIES(...)] [PARTITIONED BY (...)] [AS SELECT ...]
    (CreateHoodieTableCommand.scala / CreateHoodieTableAsSelectCommand.scala).
    The created table is registered into ``tables`` under its name."""
    from ..config import TableType, WriteConfig
    from ..table import HoodieTable

    mask = _mask(sql)
    m = re.match(r"\s*create\s+table\s+(?:if\s+not\s+exists\s+)?", mask)
    # table name runs to '(' (column list), 'using', or end
    rest_mask = mask[m.end():]
    stop = len(rest_mask)
    for tok in (r"\busing\b", r"\blocation\b", r"\bas\b"):
        t = re.search(tok, rest_mask)
        if t:
            stop = min(stop, t.start())
    paren = sql.find("(", m.end())
    head_end = m.end() + stop
    cols_ddl = None
    if 0 <= paren < head_end:
        # column list: matching close paren in raw text
        depth, close = 0, -1
        for i in range(paren, len(sql)):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        cols_ddl = sql[paren + 1:close].strip()
        name = sql[m.end():paren].strip()
    else:
        name = sql[m.end():head_end].strip()
    name = name.split(".")[-1].strip("`")

    def _clause(kw, need_parens=True):
        mm = re.search(rf"\b{kw}\b", mask)
        if not mm:
            return None
        if not need_parens:
            return None
        start = sql.find("(", mm.end())
        depth, close = 0, -1
        for i in range(start, len(sql)):
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    close = i
                    break
        return sql[start + 1:close]

    opts = {}
    for kw in ("options", "tblproperties"):
        c = _clause(kw)
        if c:
            opts.update(_parse_options(c))
    loc = re.search(r"\blocation\b", mask)
    if not loc:
        raise ValueError("CREATE TABLE needs LOCATION '<path>' "
                         "(no external catalog)")
    lm = re.match(r"\s*'([^']*)'|\s*\"([^\"]*)\"", sql[loc.end():])
    location = lm.group(1) or lm.group(2)
    part_by = _clause(r"partitioned\s+by")
    partition_fields = [c.strip().strip("`") for c in
                        _split_top(part_by)] if part_by else None

    keys = [k.strip() for k in opts.get("primaryKey", "").split(",") if k]
    ttype = TableType.MERGE_ON_READ if opts.get("type", "cow").lower() in (
        "mor", "merge_on_read") else TableType.COPY_ON_WRITE
    tbl = HoodieTable.create(
        spark, location, name, recordkey_fields=keys or ["id"],
        precombine_field=opts.get("preCombineField"),
        partition_fields=partition_fields, table_type=ttype,
        payload=opts.get("payload"), write_config=WriteConfig())

    i_as = _find_kw(mask, "as")
    if i_as >= 0 and re.match(r"\s*select\b", mask[i_as + 2:]):
        tbl.bulk_insert(spark.sql(sql[i_as + 2:]))
    elif cols_ddl:
        tbl.evolve_schema(local_frame(spark, [], cols_ddl))
        tbl.save_properties()
    tables[name] = tbl
    return tbl


def _exec_insert(spark, sql: str, tables: dict):
    """INSERT INTO t SELECT ... | VALUES ... and INSERT OVERWRITE [TABLE] t
    SELECT ... (InsertIntoHoodieTableCommand.scala). VALUES columns map
    positionally onto the target's data columns."""
    mask = _mask(sql)
    m = re.match(r"\s*insert\s+(into|overwrite)\s+(?:table\s+)?", mask)
    overwrite = m.group(1) == "overwrite"
    body = re.search(r"\b(select|values)\b", mask[m.end():])
    tname = sql[m.end():m.end() + body.start()].strip()
    tbl = _resolve_table(tables, tname)
    df = spark.sql(sql[m.end() + body.start():])
    if body.group(1) == "values":
        data = [n for n, _ in tbl.data_columns()]
        if len(df.columns) != len(data):
            raise ValueError("INSERT VALUES arity != table columns")
        df = df.toDF(*data)
    return tbl.insert_overwrite(df) if overwrite else tbl.insert(df)


def _call_lit(v: str):
    v = v.strip()
    if v and v[0] in "'\"":
        return v[1:-1]
    low = v.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


def _exec_call(spark, sql: str, tables: dict):
    """``CALL proc(table => 't', k => v, ...)`` — stored-procedure surface
    for table services (public Hudi CALL-procedure design; beyond this
    reference snapshot, whose CLI covers the same operations). Returns a
    DataFrame for ``show_commits``, else the produced instant (or None)."""
    m = re.match(r"\s*call\s+(\w+)\s*\((.*)\)\s*;?\s*$", sql,
                 re.IGNORECASE | re.DOTALL)
    if not m:
        raise ValueError(f"cannot parse CALL statement: {sql!r}")
    proc = m.group(1).lower()
    args: dict = {}
    for part in _split_top(m.group(2)):
        if not part.strip():
            continue
        if "=>" not in part:
            raise ValueError(f"CALL arguments must be name => value: {part!r}")
        k, v = part.split("=>", 1)
        args[k.strip().lower()] = _call_lit(v)
    tname = str(args.pop("table", ""))
    tbl = _resolve_table(tables, tname)

    if proc == "run_compaction":
        return tbl.compact(strategy=args.get("strategy"))
    if proc == "run_logcompaction":
        return tbl.logcompact(min_log_files=int(args.get("min_log_files", 3)))
    if proc == "run_clustering":
        order = [c.strip() for c in str(args.get("order", "")).split(",")
                 if c.strip()]
        return tbl.cluster(sort_cols=order or None,
                           layout=str(args.get("layout", "linear")))
    if proc == "run_clean":
        return tbl.clean(policy=args.get("policy"),
                         retained=args.get("retained"))
    if proc == "rollback_to_instant":
        return tbl.rollback(str(args["instant_time"]))
    if proc == "create_savepoint":
        return tbl.savepoint(str(args["instant_time"])
                             if "instant_time" in args else None)
    if proc == "restore_to_savepoint":
        return tbl.restore(str(args["instant_time"]))
    if proc == "run_analyze":
        from ..services.stats import analyze
        cols = [c.strip() for c in str(args.get("columns", "")).split(",")
                if c.strip()]
        return analyze(tbl, columns=cols or None,
                       force=bool(args.get("force", False)))
    if proc == "run_ttl":
        return tbl.apply_ttl(**args)
    if proc == "run_archival":
        return tbl.archive(max_active=args.get("max_active"))
    if proc == "run_upgrade":
        return tbl.upgrade(to_version=args.get("to_version"))
    if proc == "rollback_failed_writes":
        from ..services.rollback import rollback_failed_writes
        return rollback_failed_writes(tbl)
    if proc == "run_rescale":
        from ..services import rescale_buckets
        return rescale_buckets(tbl, int(args["num_buckets"]))
    if proc == "repair_deduplicate":
        from ..services.repair import repair_deduplicate
        return repair_deduplicate(tbl, str(args["partition"]),
                                  dry_run=bool(args.get("dry_run", False)))
    if proc == "repair_orphans":
        from ..services.repair import repair_orphan_files
        return repair_orphan_files(
            tbl, dry_run=bool(args.get("dry_run", True)),
            max_age_s=float(args.get("max_age_s", 3600)))
    if proc == "show_savepoints":
        from ..timeline import SAVEPOINT
        sps = tbl.timeline.completed((SAVEPOINT,))
        rows = [(tbl.timeline.metadata(i)["savepointed_at"], i.timestamp)
                for i in sps]
        return local_frame(
            spark, rows, "savepoint_time string, created_at string")
    if proc == "show_fsview_all":
        rows = [(sl.partition, sl.file_id, sl.base_instant,
                 sl.base_file.file_name if sl.base_file else None,
                 sl.base_file.size if sl.base_file else 0,
                 len(sl.log_files_as_of(None)))
                for sl in tbl.view().latest_slices()]
        return local_frame(
            spark, rows, "partition string, file_id string, base_instant "
            "string, base_file string, base_size long, num_active_logs int")
    if proc == "show_commits":
        insts = tbl.timeline.completed()
        limit = int(args.get("limit", 10))
        rows = [(i.timestamp, i.action, i.state)
                for i in sorted(insts, key=lambda i: i.timestamp,
                                reverse=True)[:limit]]
        return local_frame(
            spark, rows, "commit_time string, action string, state string")
    if proc == "show_rollbacks":
        from .. import timeline as tl2
        rows = [(i.timestamp,
                 ",".join(tbl.timeline.metadata(i).get("targets", [])))
                for i in tbl.timeline.completed((tl2.ROLLBACK, tl2.RESTORE))]
        return local_frame(
            spark, rows, "rollback_time string, rolled_back_instants string")
    if proc == "show_cleans":
        from .. import timeline as tl2
        rows = [(i.timestamp,
                 tbl.timeline.metadata(i).get("policy", ""),
                 len(tbl.timeline.metadata(i).get("deleted_slices", [])))
                for i in tbl.timeline.completed((tl2.CLEAN,))]
        return local_frame(
            spark, rows, "clean_time string, policy string, deleted_slices int")
    if proc in ("show_clustering", "show_compaction"):
        # both publish as ordinary data instants; filter on the recorded
        # operation (cluster -> replacecommit op 'cluster', compaction ->
        # commit op 'compact' / logcompaction action)
        from .. import timeline as tl2
        ops = ({"cluster"} if proc == "show_clustering"
               else {"compact", "logcompact"})
        rows = []
        for i in tbl.timeline.completed(tl2.DATA_ACTIONS):
            try:
                md = tbl.timeline.metadata(i)
            except FileNotFoundError:
                continue
            if md.get("operation") in ops or \
                    (proc == "show_compaction"
                     and i.action == tl2.LOGCOMPACTION):
                rows.append((i.timestamp, md.get("operation", i.action),
                             len(md.get("write_stats", []))))
        return local_frame(
            spark, rows, "instant string, operation string, files_written int")
    if proc == "show_archived_timeline":
        rows = [(rec["timestamp"], rec["action"])
                for rec in tbl.timeline.archived_records()]
        return local_frame(spark, rows, "commit_time string, action string")
    if proc == "show_stats_wa":
        # hudi-cli `stats wa` (StatsCommand.java:60-95): write
        # amplification = records written / records upserted, per commit
        # plus a Total row. Driver-side fold over commit metadata — no
        # Spark job touches data files.
        from .. import timeline as tl2
        rows, tot_upd, tot_wr = [], 0, 0
        for i in tbl.timeline.completed(tl2.DATA_ACTIONS):
            try:
                md = tbl.timeline.metadata(i)
            except FileNotFoundError:
                continue
            upd = int(md.get("extra", {}).get("num_updates", 0) or 0)
            wr = sum(s.get("num_records", 0) for s in
                     md.get("write_stats", []))
            rows.append((i.timestamp, upd, wr,
                         round(wr / upd, 2) if upd > 0 else 0.0))
            tot_upd += upd
            tot_wr += wr
        rows.append(("Total", tot_upd, tot_wr,
                     round(tot_wr / tot_upd, 2) if tot_upd > 0 else 0.0))
        return local_frame(
            spark, rows, "commit_time string, total_upserted long, "
            "total_written long, write_amplification double")
    if proc == "show_commit_files":
        # hudi-cli `commit showfiles` (CommitsCommand.java): the files one
        # commit wrote, from its metadata — no listing, no data IO
        want = args.get("instant")
        rows = []
        from .. import timeline as tl2
        for i in tbl.timeline.completed(tl2.DATA_ACTIONS):
            if want and i.timestamp != str(want):
                continue
            try:
                md = tbl.timeline.metadata(i)
            except FileNotFoundError:
                continue
            for s in md.get("write_stats", []):
                rows.append((i.timestamp, s.get("partition", ""),
                             s.get("file_name"), s.get("num_records", 0),
                             s.get("size", 0), bool(s.get("is_delta"))))
        return local_frame(
            spark, rows, "commit_time string, partition string, "
            "file_name string, num_records long, size long, is_delta boolean")
    if proc == "show_table_properties":
        # hudi-cli `desc` (TableCommand.java): the table's persisted
        # configuration, one (key, value) row each
        cfg = tbl.config
        rows = [
            ("name", cfg.name),
            ("table_type", str(cfg.table_type)),
            ("recordkey_fields", ",".join(cfg.recordkey_fields or [])),
            ("precombine_field", cfg.precombine_field or ""),
            ("partition_fields", ",".join(cfg.partition_fields or [])),
            ("partition_expr", cfg.partition_expr or ""),
            ("payload", str(getattr(cfg, "payload", "") or "")),
            ("bucket_index_num_buckets",
             str(cfg.bucket_index_num_buckets or "")),
            ("base_path", tbl.base_path),
        ]
        return local_frame(spark, rows, "key string, value string")
    if proc == "show_stats_filesizes":
        # hudi-cli `stats filesizes` (StatsCommand.java:97-135): size
        # distribution of the LIVE base files, from the manifest fold
        sizes = sorted(sl.base_file.size
                       for sl in tbl.view().latest_slices()
                       if sl.base_file is not None)
        if not sizes:
            return local_frame(
                spark, [], "num_files long, min long, p10 long, p50 long, "
                "p90 long, max long, avg long, total long")

        def pct(p):
            # standard nearest-rank percentile: ceil(p*n)-th smallest
            # (int(p*n) indexes one rank high — p90 of 10 files would
            # return the max, diverging from StatsCommand's Snapshot)
            import math
            return sizes[min(len(sizes) - 1,
                             max(0, math.ceil(p * len(sizes)) - 1))]

        row = (len(sizes), sizes[0], pct(0.1), pct(0.5), pct(0.9),
               sizes[-1], int(sum(sizes) / len(sizes)), sum(sizes))
        return local_frame(
            spark, [row], "num_files long, min long, p10 long, p50 long, "
            "p90 long, max long, avg long, total long")
    if proc == "show_pending_instants":
        # hudi-cli `compactions show all` generalized to every pending
        # service/write instant, with heartbeat liveness
        from ..services.admin import pending_instants
        rows = [(p.timestamp, p.action, p.heartbeat_live)
                for p in pending_instants(tbl)]
        return local_frame(
            spark, rows,
            "instant string, action string, heartbeat_live boolean")
    if proc == "validate_pending":
        # HoodieCompactionAdminTool VALIDATE
        from ..services.admin import validate_pending as _vp
        rows = [(r.timestamp, r.valid, "; ".join(r.issues))
                for r in _vp(tbl)]
        return local_frame(
            spark, rows, "instant string, valid boolean, issues string")
    if proc == "unschedule_pending":
        # HoodieCompactionAdminTool UNSCHEDULE_PLAN / REPAIR
        from ..services.admin import unschedule_pending as _up
        deleted = _up(tbl, str(args["instant"]),
                      force=bool(args.get("force", False)),
                      dry_run=bool(args.get("dry_run", False)))
        return local_frame(
            spark, [(p,) for p in deleted], "deleted_file string")
    raise ValueError(f"unknown procedure {proc!r}")


_CREATE_INDEX_RE = re.compile(
    r"\s*create\s+index\s+(?:if\s+not\s+exists\s+)?(?:\w+\s+)?on\s+"
    r"(?:table\s+)?(\S+)\s*(?:using\s+\w+\s*)?\(\s*`?(\w+)`?\s*\)",
    re.IGNORECASE)
_DROP_INDEX_RE = re.compile(
    r"\s*drop\s+index\s+(?:if\s+exists\s+)?`?(\w+)`?\s+on\s+(?:table\s+)?(\S+)",
    re.IGNORECASE)


def _exec_create_index(spark, sql: str, tables: dict) -> None:
    """``CREATE INDEX [name] ON t (col)`` → secondary index on the column
    (public Hudi-1.0 SQL surface)."""
    m = _CREATE_INDEX_RE.match(sql)
    if not m:
        raise ValueError(f"cannot parse CREATE INDEX statement: {sql!r}")
    tname = m.group(1)
    tbl = _resolve_table(tables, tname)
    tbl.create_secondary_index(m.group(2))


def _exec_drop_index(spark, sql: str, tables: dict) -> None:
    """``DROP INDEX col ON t`` (the index is named by its column)."""
    m = _DROP_INDEX_RE.match(sql)
    if not m:
        raise ValueError(f"cannot parse DROP INDEX statement: {sql!r}")
    tname = m.group(2)
    tbl = _resolve_table(tables, tname)
    tbl.drop_secondary_index(m.group(1))


def run_sql(spark, sql: str, tables: dict):
    """Execute one DML statement against registered hoodie tables.

    ``tables`` maps table name → :class:`HoodieTable` (the stand-in for the
    reference's session catalog lookup, HoodieAnalysis.scala:105). MERGE
    source relations resolve through the Spark session (temp views) or as a
    ``USING (subquery)``."""
    head = _mask(sql).lstrip()
    if head.startswith("merge"):
        return _exec_merge(spark, sql, tables)
    if head.startswith("update"):
        return _exec_update(spark, sql, tables)
    if head.startswith("delete"):
        return _exec_delete(spark, sql, tables)
    if head.startswith("truncate"):
        return _exec_truncate(spark, sql, tables)
    if head.startswith("alter"):
        return _exec_alter(spark, sql, tables)
    if re.match(r"\s*create\s+index\b", head):
        return _exec_create_index(spark, sql, tables)
    if re.match(r"\s*drop\s+index\b", head):
        return _exec_drop_index(spark, sql, tables)
    if head.startswith("create"):
        return _exec_create(spark, sql, tables)
    if head.startswith("call"):
        return _exec_call(spark, sql, tables)
    if head.startswith("insert"):
        return _exec_insert(spark, sql, tables)
    raise ValueError(
        "run_sql handles CREATE/INSERT/MERGE/UPDATE/DELETE/TRUNCATE/ALTER/"
        "CREATE INDEX/DROP INDEX/CALL; "
        "use spark.sql() for queries over registered views")
