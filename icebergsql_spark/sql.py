"""SQL compat front door: the reference's parser surface over PySpark.

Re-expresses SparkIceParser (/root/reference/src/main/scala/org/apache/spark/
sql/iceberg/parsing/IceParser.scala:33-114) as a Python pre-rewriter — SURVEY
§7's planned design, since Catalyst parsers can't be injected from Python:

  - ``as of '<ts>' <query>``  — statement prefix applying time travel to
    every managed table referenced in the query. The reference stashes the
    epoch in a ThreadLocal read at scan time (IceParser.scala:108-114 +
    utils/TableUtils.scala:105-132); we resolve it directly per-table at view
    registration, which also fixes the reference's thread-affinity fragility
    (SURVEY §7 'hard parts'). Accepts ``'yyyy-MM-dd HH:mm:ss.S'`` or raw
    epoch millis (utils/utils.scala:114-122 convertToEpoch parity).
  - `` `t$snapshots` `` — the reference's 6-column legacy snapshot view
    as a prefix, extended with a 7th `schemaId` column (round 13)
    (IceParser.scala:91-106 + TableUtils.scala:48-103). The reference's
    mini-parser only supports SELECT */cols over it; registering it as a temp
    view makes ANY query shape work. `` `t$refs` `` (tags/branches),
    `` `t$files` `` (live data files with partition + counts) and
    `` `t$partitions` `` (per-partition file/record/byte totals) follow the
    same route.
  - ``CREATE TABLE ... OPTIONS (addTableManagement 'true', columnDependencies
    '...') PARTITIONED BY (...)`` [+ AS SELECT] — managed table DDL
    (CreateIcebergTable.scala:28-68).
  - ``INSERT INTO / INSERT OVERWRITE [PARTITION (...)]`` on managed tables
    (InsertIntoIcebergTable.scala:81-330), honoring
    ``spark.sql.sources.partitionOverwriteMode`` for dynamic overwrite.
  - anything else: managed tables are registered as (possibly time-traveled,
    manifest-pruned) temp views and the statement is delegated to Spark SQL,
    so the full Spark relational surface applies.
"""

from __future__ import annotations

import datetime as _dt
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from icebergsql_spark.table import (
    Catalog,
    ManagedTable,
    _empty_typed_df,
    _values_local_df,
)

_AS_OF_RE = re.compile(r"^\s*as\s+of\s+'([^']+)'\s*(.*)$", re.IGNORECASE | re.DOTALL)
# `t$<kind>` metadata tables, rewritten to temp views named t__<kind>
_METADATA_VIEW_RE = re.compile(
    r"`([A-Za-z_][A-Za-z0-9_]*)\$(snapshots|refs|files|partitions|history|"
    r"manifests|delete_files|entries|all_files|metadata_log|lineage)`"
)
_CREATE_RE = re.compile(
    r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?(?P<name>[`\w.]+)\s*"
    r"(?:\((?P<cols>.*?)\))?\s*using\s+(?P<fmt>\w+)\s*"
    # Spark DDL accepts OPTIONS and PARTITIONED BY in either order
    r"(?:partitioned\s+by\s*\((?P<parts_pre>[^)]*)\)\s*)?"
    r"(?:options\s*\((?P<opts>.*?)\))?\s*"
    r"(?:partitioned\s+by\s*\((?P<parts>[^)]*)\))?\s*"
    r"(?:as\s+(?P<ctas>select\b.*))?$",
    re.IGNORECASE | re.DOTALL,
)
# AS OF REF quotes must balance (quoted and bare forms are explicit
# alternates) so "REF 'tag" / "REF tag'" fail parsing rather than being
# silently accepted with the stray quote dropped.
_LIKE_RE = re.compile(
    r"^\s*create\s+table\s+`?(?P<name>\w+)`?\s+like\s+`?(?P<src>\w+)`?"
    r"(?:\s+as\s+of\s+version\s+(?P<ver>\d+)"
    r"|\s+as\s+of\s+ref\s+(?:'(?P<refq>\w+)'|(?P<ref>\w+)))?"
    r"(?P<with_data>\s+with\s+data)?\s*$",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    r"^\s*drop\s+table\s+(?P<if_exists>if\s+exists\s+)?(?P<name>[`\w.]+)\s*$",
    re.IGNORECASE,
)
_INSERT_RE = re.compile(
    r"^\s*insert\s+(?P<mode>into|overwrite)\s+(?:table\s+)?(?P<name>[`\w.]+)\s*"
    r"(?:branch\s+`?(?P<branch>\w+)`?\s*)?"
    r"(?:partition\s*\((?P<spec>[^)]*)\))?\s*(?P<select>select\b.*|values\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_REF_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+"
    r"(?P<action>create\s+or\s+replace|create|replace|drop)\s+"
    r"(?P<kind>tag|branch)\s+`?(?P<ref>\w+)`?"
    r"(?:\s+as\s+of\s+version\s+(?P<ver>\d+))?"
    # Iceberg retention clauses: RETAIN n DAYS|HOURS|MINUTES bounds the
    # ref's own lifetime; branches add WITH SNAPSHOT RETENTION
    # [m SNAPSHOTS] [k DAYS|HOURS|MINUTES] for their ancestry window
    r"(?:\s+retain\s+(?P<retain>\d+)\s+(?P<retain_unit>days|hours|minutes))?"
    r"(?:\s+with\s+snapshot\s+retention"
    r"(?:\s+(?P<minsnaps>\d+)\s+snapshots)?"
    r"(?:\s+(?P<maxage>\d+)\s+(?P<maxage_unit>days|hours|minutes))?)?"
    r"\s*$",
    re.IGNORECASE,
)
_UNIT_MS = {"days": 86_400_000, "hours": 3_600_000, "minutes": 60_000}
_TYPE = r"\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+\s*)?\))?"
_ALTER_COL_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+(?:"
    rf"add\s+columns?\s*\(?\s*`?(?P<addname>\w+)`?\s+(?P<addtype>{_TYPE})\s*\)?"
    r"|drop\s+columns?\s+`?(?P<dropname>\w+)`?"
    r"|rename\s+column\s+`?(?P<old>\w+)`?\s+to\s+`?(?P<new>\w+)`?"
    rf"|alter\s+column\s+`?(?P<altname>\w+)`?\s+type\s+(?P<alttype>{_TYPE})"
    r")\s*$",
    re.IGNORECASE,
)
_RENAME_TABLE_RE = re.compile(
    r"^\s*alter\s+table\s+`?(?P<name>\w+)`?\s+rename\s+to\s+"
    r"`?(?P<new>\w+)`?\s*$",
    re.IGNORECASE,
)
_FAST_FORWARD_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+fast\s+forward\s+"
    r"(?:to\s+)?`?(?P<branch>\w+)`?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    r"^\s*optimize\s+(?P<name>[`\w.]+)"
    r"(?:\s+where\s+(?P<where>.+?))?"
    r"(?:\s+zorder\s+by\s*\((?P<zcols>[^)]*)\)|\s+sort\s+by\s*\((?P<scols>[^)]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VACUUM_RE = re.compile(
    r"^\s*vacuum\s+(?P<name>[`\w.]+)(?:\s+retain\s+(?P<n>\d+)\s+snapshots)?\s*$",
    re.IGNORECASE,
)
_VACUUM_ORPHANS_RE = re.compile(
    r"^\s*vacuum\s+(?P<name>[`\w.]+)\s+orphans"
    r"(?:\s+older\s+than\s+(?P<h>\d+)\s+hours)?\s*$",
    re.IGNORECASE,
)
# Parens must balance (two explicit alternates, never independently
# optional) so malformed DDL like 'WRITE ORDERED BY (a, b' fails parsing
# instead of being silently accepted; columns admit optional backticks.
_WRITE_ORDERED_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+write\s+"
    r"(?:ordered\s+by\s+(?:\((?P<cols>[`\w,\s]+?)\)|(?P<bare_cols>[`\w,\s]+?))"
    r"|(?P<unordered>unordered))\s*$",
    re.IGNORECASE,
)
# Loose probe: any ALTER ... WRITE statement that misses the strict form
# above gets a targeted parse error instead of falling through to the
# next handler (and ultimately Spark's parser) silently.
_WRITE_PROBE_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+write\s+",
    re.IGNORECASE,
)
# Iceberg's SET/DROP IDENTIFIER FIELDS DDL (schema identifier-field-ids):
# the standing row-identity contract CDC consumers read.  Parens must
# balance (the WRITE ORDERED discipline); columns admit backticks.
_IDENT_FIELDS_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+"
    r"(?P<action>set|drop)\s+identifier\s+fields\s+"
    r"(?:\((?P<cols>[`\w,\s]+?)\)|(?P<bare>[`\w,\s]+?))\s*$",
    re.IGNORECASE,
)
# Loose probe: a malformed SET/DROP IDENTIFIER FIELDS on a managed table
# (unbalanced parens, stray tokens) gets a targeted parse error instead
# of falling through to Spark's parser — the WRITE ORDERED discipline.
_IDENT_FIELDS_PROBE_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+"
    r"(?:set|drop)\s+identifier\s+fields\b",
    re.IGNORECASE,
)
_SET_PROPS_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+set\s+tblproperties\s*"
    r"\((?P<kv>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UNSET_PROPS_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+unset\s+tblproperties\s*"
    r"\((?P<ks>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*delete\s+from\s+`?(?P<name>\w+)`?\s*"
    r"(?:where\s+(?P<pred>.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*update\s+`?(?P<name>\w+)`?\s+set\s+(?P<sets>.+?)"
    r"(?:\s+where\s+(?P<pred>.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_RE = re.compile(
    r"^\s*merge\s+(?P<evolve>with\s+schema\s+evolution\s+)?"
    r"into\s+`?(?P<name>\w+)`?(?:\s+(?:as\s+)?(?P<talias>\w+))?"
    r"\s+using\s+`?(?P<src>\w+)`?(?:\s+(?:as\s+)?(?P<salias>\w+))?"
    r"\s+on\s+(?P<on>.+?)"
    r"\s+(?P<clauses>when\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_CLAUSE_RE = re.compile(
    r"when\s+(?P<nm>not\s+)?matched\s*(?P<bysrc>by\s+source\s*)?"
    r"(?:and\s+(?P<cond>.+?))?\s*then\s+"
    r"(?:update\s+set\s+(?P<sets>.+?)|(?P<delete>delete)"
    r"|(?P<insert>insert\s*\*"
    r"|insert\s*\((?P<icols>[^)]*)\)\s*values\s*\((?P<ivals>.+?)\)))"
    r"(?=\s*when\s+(?:not\s+)?matched|\s*$)",
    re.IGNORECASE | re.DOTALL,
)


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses/quotes (SET-list aware)."""
    parts, depth, buf, q = [], 0, [], None
    for ch in text:
        if q:
            if ch == q:
                q = None
            buf.append(ch)
            continue
        if ch in "'\"":
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    if "".join(buf).strip():
        parts.append("".join(buf).strip())
    return parts


def _parse_assignments(sets: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for a in _split_top_level(sets):
        if "=" not in a:
            raise ValueError(f"bad SET assignment {a!r}")
        col, expr = a.split("=", 1)
        col = col.strip().strip("`")
        if "." in col:
            col = col.split(".")[-1]  # t.price = ... → price
        out[col] = expr.strip()
    return out


_PARTITION_FIELD_RE = re.compile(
    r"^\s*alter\s+table\s+(?P<name>[`\w.]+)\s+(?P<action>add|drop)\s+"
    r"partition\s+field\s+`?(?P<col>\w+)`?\s*$",
    re.IGNORECASE,
)
_INLINE_TT_RE = re.compile(
    r"`?(?P<name>[A-Za-z_]\w*)`?\s+(?:for\s+)?"
    r"(?P<kind>version|system_version|timestamp|system_time)\s+as\s+of\s+"
    r"(?P<lit>'[^']*'|\d+)",
    re.IGNORECASE,
)
_CALL_RE = re.compile(
    r"^\s*call\s+(?:system\s*\.\s*)?(?P<proc>\w+)\s*\((?P<args>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_call_args(argtext: str, names: list[str]) -> dict[str, str]:
    """Iceberg procedure arg syntax: positional and/or ``name => value``
    (values: 'quoted' or bare numbers/identifiers). Returns name→raw-value
    with quotes stripped."""
    out: dict[str, str] = {}
    pos = 0
    for raw in _split_top_level(argtext):
        if not raw:
            continue
        if "=>" in raw:
            k, v = raw.split("=>", 1)
            k = k.strip().lower()
            if k not in names:
                raise ValueError(f"unknown procedure argument {k!r}")
        else:
            if pos >= len(names):
                raise ValueError(f"too many positional arguments: {raw!r}")
            k, v = names[pos], raw
            pos += 1
        out[k] = v.strip().strip("'\"")
    return out


_COUNT_STAR_RE = re.compile(
    r"^\s*select\s+count\s*\(\s*\*\s*\)\s*(?:as\s+(?P<alias>\w+)\s*)?"
    r"from\s+`?(?P<name>\w+)`?\s*(?:where\s+(?P<pred>.*?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHERE_RE = re.compile(
    r"\bwhere\b(?P<pred>.*?)(?:\bgroup\s+by\b|\border\s+by\b|\blimit\b|\bhaving\b|$)",
    re.IGNORECASE | re.DOTALL,
)


def convert_to_epoch_millis(text: str) -> int:
    """'yyyy-MM-dd HH:mm:ss.S' | ISO | raw millis → epoch ms (UTC)."""
    s = text.strip()
    if s.isdigit():
        return int(s)
    dt = _dt.datetime.fromisoformat(s.replace(" ", "T"))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=_dt.timezone.utc)
    return int(dt.timestamp() * 1000)


def _parse_options(opts: str) -> dict[str, str]:
    """OPTIONS pairs: reference style `key "value"` (README.md:96-100) and
    Spark DDL style `'key'='value'` — keys bare or quoted, `=` optional."""
    out = {}
    pair = re.compile(
        r"(?:'(?P<kq>[^']*)'|\"(?P<kd>[^\"]*)\"|(?P<kb>\w+))"
        r"\s*=?\s*(?:'(?P<vq>[^']*)'|\"(?P<vd>[^\"]*)\")"
    )
    for m in pair.finditer(opts or ""):
        key = m.group("kq") or m.group("kd") or m.group("kb")
        val = m.group("vq") if m.group("vq") is not None else m.group("vd")
        out[key] = val
    return out


def _is_simple_single_table_select(text: str, table: str) -> bool:
    low = text.lower()
    if low.count("select") != 1 or low.count("from") != 1 or "join" in low:
        return False
    return re.search(
        rf"\bfrom\s+`?{re.escape(table)}`?(?:\s+(?:as\s+)?\w+)?\s+where\b",
        text,
        re.IGNORECASE,
    ) is not None


_FROM_SEG_RE = re.compile(
    r"\bfrom\b(?P<seg>.*?)(?:\bwhere\b|\bgroup\s+by\b|\bhaving\b|"
    r"\border\s+by\b|\blimit\b|$)",
    re.IGNORECASE | re.DOTALL,
)
_JOIN_TYPE_WORDS = frozenset(
    {"inner", "left", "right", "full", "outer", "cross", "semi", "anti", "natural"}
)
# identifier positions that are NOT column references
_NON_COLUMN_WORDS = frozenset(
    """and or not in is null like rlike ilike between true false unknown
    date timestamp interval cast as case when then else end distinct exists
    any all some escape div mod int integer bigint smallint tinyint double
    float real decimal numeric string varchar char boolean binary from
    select asc desc""".split()
)
_IDENT_RE = re.compile(
    r"(?<![\w.'\"`$])(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)(?!\s*\()(?![\w.])"
)


def _split_conjuncts(pred: str) -> list[str]:
    """Split a WHERE predicate on TOP-LEVEL ``AND`` (paren- and
    string-literal-aware), so each piece can be scoped to one join input."""
    out, depth, i, start, n = [], 0, 0, 0, len(pred)
    low = pred.lower()
    while i < n:
        c = pred[i]
        if c == "'":
            j = low.find("'", i + 1)
            i = n if j < 0 else j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and low.startswith("and", i)
            and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_"))
            and (i + 3 >= n or not (low[i + 3].isalnum() or low[i + 3] == "_"))
        ):
            out.append(pred[start:i])
            start = i + 3
            i += 3
            continue
        i += 1
    out.append(pred[start:])
    return [c.strip() for c in out if c.strip()]


def _column_refs(conjunct: str) -> list[tuple[str | None, str]] | None:
    """Extract (qualifier, column) references from a conjunct, or None when
    the text is unanalyzable (quoted identifiers, subselects) — callers must
    then NOT use the conjunct for pruning. Function names (followed by
    ``(``) and SQL keywords are excluded."""
    if "`" in conjunct or '"' in conjunct:
        return None
    stripped = re.sub(r"'[^']*'", "''", conjunct)
    if re.search(r"\bselect\b", stripped, re.IGNORECASE):
        return None
    if re.search(r"\w\s*\.\s*\w+\s*\.", stripped):
        return None  # 3-part names are beyond the scoper
    refs = []
    for m in _IDENT_RE.finditer(stripped):
        q, name = m.group(1), m.group(2)
        if q is None and name.lower() in _NON_COLUMN_WORDS:
            continue
        refs.append((q, name))
    return refs


def _parse_from_relations(seg: str) -> list[tuple[str, str]] | None:
    """FROM-clause segment → [(table, alias)], or None when the shape is
    beyond the analyzer (subqueries, lateral, quoted names). Handles comma
    lists and every ``[join-type] JOIN t [AS] a [ON ...|USING (...)]``."""
    if "(" in seg or "`" in seg:
        return None
    rels = []
    for piece in re.split(r",|\bjoin\b", seg, flags=re.IGNORECASE):
        piece = re.split(r"\bon\b|\busing\b", piece, flags=re.IGNORECASE)[0]
        toks = piece.split()
        while toks and toks[-1].lower() in _JOIN_TYPE_WORDS:
            toks.pop()
        while toks and toks[0].lower() in _JOIN_TYPE_WORDS:
            toks.pop(0)
        if not toks:
            return None
        if len(toks) == 3 and toks[1].lower() == "as":
            name, alias = toks[0], toks[2]
        elif len(toks) == 2:
            name, alias = toks
        elif len(toks) == 1:
            name = alias = toks[0]
        else:
            return None
        if not re.fullmatch(r"\w+", name) or not re.fullmatch(r"\w+", alias):
            return None
        rels.append((name, alias))
    return rels if rels else None


def _parse_partition_spec(spec: str) -> dict[str, str]:
    out = {}
    for m in re.finditer(r"(\w+)\s*=\s*(?:'([^']*)'|\"([^\"]*)\"|([^,\s]+))", spec or ""):
        out[m.group(1)] = next(v for v in m.groups()[1:] if v is not None)
    return out


class Engine:
    """``Engine(spark, warehouse).sql(text)`` — the engine's front door."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)

    # ------------------------------------------------------------ helpers --

    def _status_df(self, rows, schema: str) -> DataFrame:
        """DDL/CALL status rows as a JVM ``VALUES`` LocalRelation.

        ``spark.createDataFrame(rows, schema)`` plans a Python-RDD scan
        with defaultParallelism partitions, so every DDL/CALL result a
        gate consumed cost one Python-runner job (~0.4-0.5 s at
        local[32], and one per invocation at any scale).  The r14
        change-11 class, finished: all status frames route through
        ``_values_local_df`` (single-partition LocalTableScan, zero
        Python workers; empty rows become a typed zero-row relation)."""
        return _values_local_df(self.spark, rows, schema)

    def _no_rows_df(self) -> DataFrame:
        """Zero-column, zero-row JVM relation for DDL with no result set
        (``createDataFrame([], StructType([]))`` is a Scan ExistingRDD
        with defaultParallelism empty slices)."""
        return self.spark.sql("SELECT 1 WHERE 1 = 0").select()

    def _referenced_managed(self, text: str) -> list[str]:
        names = []
        for name in self.catalog.list_tables():
            if re.search(rf"(?<![\w$`]){re.escape(name)}(?![\w$])", text, re.IGNORECASE):
                names.append(name)
        return names

    def _register_views(
        self, text: str, as_of_millis: int | None, as_of_ref: str | None = None
    ) -> str:
        """Register every referenced managed table as a temp view (time-
        traveled when as_of is set, manifest-pruned when a WHERE clause is
        extractable) and rewrite `t$<kind>` metadata-table references."""
        for name, kind in set(_METADATA_VIEW_RE.findall(text)):
            tbl = self.catalog.load_table(name)
            getattr(tbl, f"{kind}_df")().createOrReplaceTempView(
                f"{name}__{kind}"
            )
        text = _METADATA_VIEW_RE.sub(r"\1__\2", text)

        referenced = self._referenced_managed(text)
        per_table: dict[str, str | None] = {}
        # Single-table shape: the whole WHERE scopes the one managed table
        # (lenient predicate parse degrades anything unprovable, so pruning
        # is best-effort and always sound — the real WHERE still runs in
        # Spark SQL over the pruned-but-unfiltered view).
        if len(referenced) == 1 and _is_simple_single_table_select(text, referenced[0]):
            wm = _WHERE_RE.search(text)
            if wm:
                per_table[referenced[0]] = wm.group("pred").strip() or None
        elif referenced:
            per_table = self._scoped_predicates(text, referenced)
        for name in referenced:
            tbl = self.catalog.load_table(name)
            scan = tbl.scan(
                where=per_table.get(name), as_of_millis=as_of_millis, ref=as_of_ref
            )
            scan.dataframe(apply_where=False).createOrReplaceTempView(name)
        return text

    def _scoped_predicates(
        self, text: str, referenced: list[str]
    ) -> dict[str, str]:
        """Per-table pruning predicates for JOIN queries: split the WHERE
        into top-level AND conjuncts and attribute each to the single join
        input whose columns it references — the manifest-pruning analogue
        of Catalyst's PushDownPredicates, run before file planning so each
        managed table's scan reads only files its own conjuncts allow.

        Sound by construction, not best-effort parsing:
          - a conjunct is used only when EVERY column reference provably
            resolves to one relation (qualified by its name/alias, or
            unqualified with all relations' schemas known and exactly one
            containing the column — the same uniqueness a valid query needs);
          - unanalyzable text (subqueries, quoted identifiers, 3-part names,
            un-parsed FROM shapes) contributes nothing;
          - with any OUTER join present, conjuncts that are not provably
            null-rejecting (IS NULL / <=> / coalesce-family / CASE) are
            dropped: `WHERE t2.x IS NULL` over `t1 LEFT JOIN t2` is the
            anti-join idiom, and pre-join pruning of t2 would ADD
            null-extended rows. Null-rejecting conjuncts commute with outer
            joins (the filter-pushdown rule Catalyst itself applies).
        The statement's own WHERE always re-executes in Spark SQL, so a
        dropped conjunct costs IO, never correctness.
        """
        low = text.lower()
        if low.count("select") != 1:
            return {}
        fm = _FROM_SEG_RE.search(text)
        wm = _WHERE_RE.search(text)
        if not fm or not wm:
            return {}
        rels = _parse_from_relations(fm.group("seg"))
        if rels is None:
            return {}
        has_outer = bool(
            re.search(r"\b(left|right|full)\b", fm.group("seg"), re.IGNORECASE)
        )
        managed = set(referenced)
        cols_by_alias: dict[str, set[str] | None] = {}
        owner_of_alias: dict[str, str] = {}
        for name, alias in rels:
            a = alias.lower()
            if a in owner_of_alias:
                return {}  # duplicate alias: ambiguous, bail entirely
            owner_of_alias[a] = name
            if name in managed:
                tbl = self.catalog.load_table(name)
                cols_by_alias[a] = {f.name.lower() for f in tbl.schema.fields}
            else:
                try:
                    cols_by_alias[a] = {
                        c.lower() for c in self.spark.table(name).columns
                    }
                except Exception:
                    cols_by_alias[a] = None  # unknown relation schema

        out: dict[str, list[str]] = {}
        for conjunct in _split_conjuncts(wm.group("pred")):
            if has_outer and re.search(
                r"\bis\b|<=>|\bcoalesce\b|\bifnull\b|\bnvl\b|\bnanvl\b|\bcase\b",
                conjunct,
                re.IGNORECASE,
            ):
                continue
            refs = _column_refs(conjunct)
            if not refs:
                continue
            owners: set[str] = set()
            ok = True
            for q, col in refs:
                if q is not None:
                    ql = q.lower()
                    if ql not in owner_of_alias:
                        ok = False  # qualifier isn't a join input — bail
                        break
                    owners.add(ql)
                else:
                    cl = col.lower()
                    if any(c is None for c in cols_by_alias.values()):
                        ok = False  # can't prove uniqueness
                        break
                    holders = [a for a, c in cols_by_alias.items() if cl in c]
                    if len(holders) != 1:
                        ok = False
                        break
                    owners.add(holders[0])
            if not ok or len(owners) != 1:
                continue
            alias = next(iter(owners))
            name = owner_of_alias[alias]
            if name not in managed:
                continue
            # self-join: both aliases scan the SAME registered view, so a
            # one-alias conjunct must not narrow the other's file set
            if sum(1 for n in owner_of_alias.values() if n == name) > 1:
                continue
            bare = re.sub(
                rf"\b{re.escape(alias)}\s*\.\s*", "", conjunct, flags=re.IGNORECASE
            )
            out.setdefault(name, []).append(f"({bare})")
        return {name: " AND ".join(parts) for name, parts in out.items()}

    def _rewrite_inline_time_travel(self, text: str) -> str:
        """Spark/Delta-style inline time travel on managed tables:
        ``FROM t [FOR] VERSION AS OF <snapshot_id>`` and
        ``FROM t [FOR] TIMESTAMP AS OF '<ts>'`` (SYSTEM_VERSION /
        SYSTEM_TIME accepted). Each pinned table registers a dedicated
        temp view of the pinned scan, so different pins of the SAME table
        can coexist in one query (e.g. self-join of two versions) — which
        the statement-level ``as of`` prefix cannot express."""
        out = text
        for m in list(_INLINE_TT_RE.finditer(text)):
            name = m.group("name")
            if not self.catalog.table_exists(name):
                continue
            tbl = self.catalog.load_table(name)
            kind = m.group("kind").lower()
            lit = m.group("lit").strip("'")
            if kind in ("version", "system_version"):
                scan = tbl.scan(snapshot_id=int(lit))
                view = f"{name}__v{lit}"
            else:
                ms = convert_to_epoch_millis(lit)
                scan = tbl.scan(as_of_millis=ms)
                view = f"{name}__t{ms}"
            scan.dataframe().createOrReplaceTempView(view)
            out = out.replace(m.group(0), view)
        return out

    # ---------------------------------------------------------------- sql --

    def sql(self, text: str) -> DataFrame:
        text = text.strip().rstrip(";")
        text = self._rewrite_inline_time_travel(text)

        as_of_millis = None
        as_of_ref = None
        m = _AS_OF_RE.match(text)
        if m:
            try:
                as_of_millis = convert_to_epoch_millis(m.group(1))
            except ValueError:
                # not a timestamp/millis -> a named ref (tag), resolved
                # per table at scan time
                as_of_ref = m.group(1)
            text = m.group(2)

        lk = _LIKE_RE.match(text)
        if lk and self.catalog.table_exists(lk.group("src").strip("`")):
            return self._create_like(lk)

        cm = _CREATE_RE.match(text)
        if cm:
            opts = _parse_options(cm.group("opts"))
            if opts.get("addTableManagement", "").lower() == "true":
                return self._create_managed(cm, opts)
            return self.spark.sql(text)

        dm = _DROP_RE.match(text)
        if dm:
            name = dm.group("name").strip("`")
            if self.catalog.table_exists(name):
                self.catalog.drop_table(name)
                self.spark.catalog.dropTempView(name)
                return self._no_rows_df()
            if dm.group("if_exists") and not self.spark.catalog.tableExists(name):
                return self._no_rows_df()
            return self.spark.sql(text)

        im = _INSERT_RE.match(text)
        if im:
            name = im.group("name").strip("`")
            if self.catalog.table_exists(name):
                return self._insert_managed(im, name)
            return self.spark.sql(text)

        mk = re.match(
            r"^\s*msck\s+repair\s+table\s+`?(?P<name>\w+)`?\s*$",
            text,
            re.IGNORECASE,
        )
        if mk and self.catalog.table_exists(mk.group("name")):
            # MSCK REPAIR TABLE (reference TestTables.scala:72):
            # discovery-by-listing registration of externally dropped
            # Hive-layout partition files — see ManagedTable.repair_table
            tbl = self.catalog.load_table(mk.group("name"))
            snap = tbl.repair_table()
            added = (
                int(snap.summary.get("added-files-by-import", 0))
                if snap is not None
                else 0
            )
            return self._status_df([(added,)], "added_files_count int")

        sp = re.match(
            r"^\s*show\s+partitions\s+`?(?P<name>\w+)`?\s*$",
            text,
            re.IGNORECASE,
        )
        if sp and self.catalog.table_exists(sp.group("name")):
            # SHOW PARTITIONS (Spark's spelling over the `$partitions`
            # metadata): one row per live partition tuple, rendered as
            # Hive path segments (col=value/..., NULL -> the Hive
            # default-partition sentinel), sorted — answered entirely
            # from the manifest list, zero data IO.
            tbl = self.catalog.load_table(sp.group("name"))
            if not tbl.meta.partition_cols:
                raise ValueError(
                    f"SHOW PARTITIONS: table {sp.group('name')!r} is "
                    "not partitioned"
                )
            snap = tbl.meta.current_snapshot()
            cols = tbl.meta.partition_cols
            parts = sorted(
                {
                    "/".join(
                        f"{c}="
                        + (
                            "__HIVE_DEFAULT_PARTITION__"
                            if f.partition.get(c) is None
                            else str(f.partition[c])
                        )
                        for c in cols
                    )
                    for f in (snap.live_files() if snap else [])
                }
            )
            return self._status_df([(p,) for p in parts], "partition string")

        tr = re.match(
            r"^\s*truncate\s+table\s+`?(?P<name>\w+)`?\s*$", text, re.IGNORECASE
        )
        if tr and self.catalog.table_exists(tr.group("name")):
            # TRUNCATE TABLE: metadata-only empty overwrite — every live
            # file is de-referenced in one commit, zero data IO; history
            # and time travel to pre-truncate snapshots stay intact
            tbl = self.catalog.load_table(tr.group("name"))
            # MoR-aware: subtract DV counts / fall back to a masked count
            # so deleted_rows never overstates on a table with deletes
            before = tbl.live_row_count()
            # empty JVM relation + VALUES result: the Python-RDD empty
            # frame scheduled a defaultParallelism-task no-op write, and a
            # result frame over a OneRowRelation runs a job to collect
            tbl.insert(_empty_typed_df(self.spark, tbl.schema), overwrite=True)
            return self._status_df([(int(before),)], "deleted_rows bigint")

        dl = _DELETE_RE.match(text)
        if dl and self.catalog.table_exists(dl.group("name").strip("`")):
            tbl = self.catalog.load_table(dl.group("name").strip("`"))
            pred = (dl.group("pred") or "").strip()
            before = tbl.live_row_count()
            snap = (
                tbl.delete_where(pred)
                if pred
                else tbl.insert(
                    _empty_typed_df(self.spark, tbl.schema), overwrite=True
                )
            )
            after = tbl.live_row_count(snap)
            return self._status_df(
                [(int(before - after),)], "deleted_rows bigint"
            )

        up = _UPDATE_RE.match(text)
        if up and self.catalog.table_exists(up.group("name").strip("`")):
            tbl = self.catalog.load_table(up.group("name").strip("`"))
            snap = tbl.update_where(
                _parse_assignments(up.group("sets")),
                (up.group("pred") or "").strip() or None,
            )
            return self._status_df(
                [(int(snap.num_added_files), int(snap.num_deleted_files))],
                "files_rewritten int, files_replaced int",
            )

        mg = _MERGE_RE.match(text)
        if mg and self.catalog.table_exists(mg.group("name").strip("`")):
            return self._merge_managed(mg)

        acm = _ALTER_COL_RE.match(text)
        if acm and self.catalog.table_exists(acm.group("name").strip("`")):
            # schema evolution DDL — metadata-only, no data rewrite
            tbl = self.catalog.load_table(acm.group("name").strip("`"))
            if acm.group("addname"):
                tbl.add_column(acm.group("addname"), acm.group("addtype"))
            elif acm.group("dropname"):
                tbl.drop_column(acm.group("dropname"))
            elif acm.group("old"):
                tbl.rename_column(acm.group("old"), acm.group("new"))
            else:
                tbl.alter_column_type(acm.group("altname"), acm.group("alttype"))
            return self._no_rows_df()

        am = _ALTER_REF_RE.match(text)
        if am and self.catalog.table_exists(am.group("name").strip("`")):
            # ALTER TABLE t CREATE|DROP TAG|BRANCH name [AS OF VERSION id] —
            # the Iceberg SQL-extension ref verbs (create_tag/create_branch)
            tbl = self.catalog.load_table(am.group("name").strip("`"))
            kind = am.group("kind").lower()
            action = re.sub(r"\s+", " ", am.group("action").lower())
            if action != "drop":
                sid = int(am.group("ver")) if am.group("ver") else None
                if (am.group("minsnaps") or am.group("maxage")) and kind == "tag":
                    raise ValueError(
                        "WITH SNAPSHOT RETENTION applies to branches only"
                    )
                if action == "create":
                    (tbl.create_tag if kind == "tag" else tbl.create_branch)(
                        am.group("ref"), sid
                    )
                else:
                    # REPLACE retargets an existing ref (refused if
                    # missing); CREATE OR REPLACE upserts — Iceberg's
                    # replaceTag/replaceBranch SQL-extension verbs
                    tbl.replace_ref(
                        am.group("ref"),
                        sid,
                        kind,
                        create_if_missing=(action == "create or replace"),
                    )
                if am.group("retain"):
                    tbl.set_ref_retention(
                        am.group("ref"),
                        max_ref_age_ms=int(am.group("retain"))
                        * _UNIT_MS[am.group("retain_unit").lower()],
                    )
                if am.group("minsnaps"):
                    tbl.set_ref_retention(
                        am.group("ref"),
                        min_snapshots_to_keep=int(am.group("minsnaps")),
                    )
                if am.group("maxage"):
                    tbl.set_ref_retention(
                        am.group("ref"),
                        max_snapshot_age_ms=int(am.group("maxage"))
                        * _UNIT_MS[am.group("maxage_unit").lower()],
                    )
            else:
                tbl.drop_ref(am.group("ref"))
            return self._no_rows_df()

        rtm = _RENAME_TABLE_RE.match(text)
        if rtm and self.catalog.table_exists(rtm.group("name").strip("`")):
            # ALTER TABLE old RENAME TO new — Iceberg rename: identifier
            # moves, location (and all absolute metadata paths) stays
            old, new = rtm.group("name"), rtm.group("new")
            self.catalog.rename_table(old, new)
            # a stale temp view registered for the old name must not
            # keep answering SELECTs after the identifier is gone
            self.spark.catalog.dropTempView(old)
            return self._status_df(
                [(old, new)], "old_name string, new_name string"
            )

        fm = _FAST_FORWARD_RE.match(text)
        if fm and self.catalog.table_exists(fm.group("name").strip("`")):
            # ALTER TABLE t FAST FORWARD [TO] branch — WAP publish: point
            # main at the audited branch head (Iceberg fast_forward proc)
            tbl = self.catalog.load_table(fm.group("name").strip("`"))
            snap = tbl.fast_forward(fm.group("branch"))
            return self._status_df(
                [(fm.group("branch"), snap.snapshot_id)],
                "branch string, snapshotId long",
            )

        om = _OPTIMIZE_RE.match(text)
        if om and self.catalog.table_exists(om.group("name").strip("`")):
            # OPTIMIZE t [ZORDER BY (a, b) | SORT BY (a, b)] — the SQL verb
            # for compact(); returns one row of rewrite accounting
            tbl = self.catalog.load_table(om.group("name").strip("`"))
            cols = lambda g: [c.strip().strip("`") for c in (g or "").split(",") if c.strip()]  # noqa: E731
            snap = tbl.compact(
                sort_by=cols(om.group("scols")) or None,
                zorder_by=cols(om.group("zcols")) or None,
                where=om.group("where"),
            )
            return self._status_df(
                [
                    (
                        snap is not None,
                        snap.num_added_files if snap else 0,
                        snap.num_deleted_files if snap else 0,
                    )
                ],
                "rewritten boolean, files_added int, files_removed int",
            )

        wom = _WRITE_ORDERED_RE.match(text)
        if wom is None:
            probe = _WRITE_PROBE_RE.match(text)
            if probe and self.catalog.table_exists(
                probe.group("name").strip("`")
            ):
                # a malformed WRITE ORDERED/UNORDERED on a managed table
                # (unbalanced parens, stray tokens) must fail loudly, not
                # fall through to Spark's parser as an unrelated error
                raise ValueError(
                    "cannot parse ALTER TABLE ... WRITE statement; "
                    "expected WRITE ORDERED BY (col, ...) or "
                    "WRITE UNORDERED"
                )
        if wom and self.catalog.table_exists(wom.group("name").strip("`")):
            # ALTER TABLE t WRITE ORDERED BY (c, ...) | WRITE UNORDERED —
            # Iceberg's write.sort-order DDL (metadata-only): records the
            # standing sort order in `sort.order`, which EVERY subsequent
            # write honors with a task-local sort (table.py:498-518) so new
            # files keep selective row-group/page min-max indexes
            tbl = self.catalog.load_table(wom.group("name").strip("`"))
            if wom.group("unordered"):
                tbl.set_properties(unset=["sort.order"])
                order = ""
            else:
                cols = [
                    c.strip().strip("`")
                    for c in (
                        wom.group("cols") or wom.group("bare_cols")
                    ).split(",")
                    if c.strip()
                ]
                present = {f.name for f in tbl.schema.fields}
                missing = [c for c in cols if c not in present]
                if missing:
                    raise ValueError(
                        f"WRITE ORDERED BY references unknown "
                        f"columns: {missing}"
                    )
                order = ",".join(cols)
                tbl.set_properties({"sort.order": order})
            return self._status_df(
                [(order,)], "sort_order string"
            )

        idm = _IDENT_FIELDS_RE.match(text)
        if idm is None:
            probe = _IDENT_FIELDS_PROBE_RE.match(text)
            if probe and self.catalog.table_exists(
                probe.group("name").strip("`")
            ):
                raise ValueError(
                    "cannot parse ALTER TABLE ... SET/DROP IDENTIFIER "
                    "FIELDS statement; expected SET IDENTIFIER FIELDS "
                    "(col, ...) or DROP IDENTIFIER FIELDS (col, ...)"
                )
        if idm and self.catalog.table_exists(idm.group("name").strip("`")):
            # ALTER TABLE t SET|DROP IDENTIFIER FIELDS (c, ...) — the
            # Iceberg row-identity contract, persisted as the
            # `identifier.fields` property; create_changelog_view uses
            # it as the default identifier_columns so update pre/post
            # images follow the TABLE's declared identity, not each
            # caller's guess
            tbl = self.catalog.load_table(idm.group("name").strip("`"))
            cols = [
                c.strip().strip("`")
                for c in (idm.group("cols") or idm.group("bare")).split(",")
                if c.strip()
            ]
            present = {f.name for f in tbl.schema.fields}
            missing = [c for c in cols if c not in present]
            if missing:
                raise ValueError(
                    f"IDENTIFIER FIELDS references unknown columns: "
                    f"{missing}"
                )
            cur = [
                c
                for c in tbl.meta.properties.get(
                    "identifier.fields", ""
                ).split(",")
                if c
            ]
            if idm.group("action").lower() == "set":
                new = cols
            else:
                not_ident = [c for c in cols if c not in cur]
                if not_ident:
                    raise ValueError(
                        f"DROP IDENTIFIER FIELDS: {not_ident} are not "
                        f"identifier fields (current: {cur})"
                    )
                new = [c for c in cur if c not in cols]
            if new:
                tbl.set_properties({"identifier.fields": ",".join(new)})
            else:
                tbl.set_properties(unset=["identifier.fields"])
            return self._status_df(
                [(",".join(new),)], "identifier_fields string"
            )

        spm = _SET_PROPS_RE.match(text)
        if spm and self.catalog.table_exists(spm.group("name").strip("`")):
            # ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...) — metadata-only
            # commit with bloom/columnDependencies validation (table.py)
            tbl = self.catalog.load_table(spm.group("name").strip("`"))
            props = dict(
                re.findall(r"'([^']+)'\s*=\s*'([^']*)'", spm.group("kv"))
            )
            if not props:
                raise ValueError("SET TBLPROPERTIES needs 'k'='v' pairs")
            merged = tbl.set_properties(props)
            return self._status_df(
                sorted(merged.items()), "key string, value string"
            )

        upm = _UNSET_PROPS_RE.match(text)
        if upm and self.catalog.table_exists(upm.group("name").strip("`")):
            tbl = self.catalog.load_table(upm.group("name").strip("`"))
            keys = re.findall(r"'([^']+)'", upm.group("ks"))
            if not keys:
                raise ValueError("UNSET TBLPROPERTIES needs 'k' names")
            merged = tbl.set_properties(unset=keys)
            return self._status_df(
                sorted(merged.items()) or [("", "")],
                "key string, value string",
            )

        vom = _VACUUM_ORPHANS_RE.match(text)
        if vom and self.catalog.table_exists(vom.group("name").strip("`")):
            # VACUUM t ORPHANS [OLDER THAN n HOURS] — the SQL verb for
            # remove_orphan_files() (failed-write debris, grace-windowed)
            tbl = self.catalog.load_table(vom.group("name").strip("`"))
            hours = vom.group("h")
            kwargs = {"older_than_s": int(hours) * 3600} if hours else {}
            removed = tbl.remove_orphan_files(**kwargs)
            return self._status_df(
                [(removed,)], "deleted_orphan_files int"
            )

        vm = _VACUUM_RE.match(text)
        if vm and self.catalog.table_exists(vm.group("name").strip("`")):
            # VACUUM t [RETAIN n SNAPSHOTS] — the SQL verb for
            # expire_snapshots(); defaults to keeping only the current state
            tbl = self.catalog.load_table(vm.group("name").strip("`"))
            res = tbl.expire_snapshots(retain_last=int(vm.group("n") or 1))
            return self._status_df(
                [(res["expired_snapshots"], res["deleted_data_files"], res["deleted_manifests"])],
                "expired_snapshots int, deleted_data_files int, deleted_manifests int",
            )

        pfm = _PARTITION_FIELD_RE.match(text)
        if pfm and self.catalog.table_exists(pfm.group("name").strip("`")):
            # ALTER TABLE t ADD|DROP PARTITION FIELD col — Iceberg's
            # partition-evolution DDL over alter_partition_spec (metadata-
            # only; per-file specs keep old layouts scannable)
            tbl = self.catalog.load_table(pfm.group("name").strip("`"))
            col = pfm.group("col")
            spec = list(tbl.meta.partition_cols)
            if pfm.group("action").lower() == "add":
                if col not in spec:
                    spec.append(col)
            else:
                if col not in spec:
                    raise ValueError(
                        f"{col!r} is not a partition field of {tbl.name}"
                    )
                spec.remove(col)
            tbl.alter_partition_spec(spec)
            return self._status_df(
                [(", ".join(spec),)], "partition_spec string"
            )

        cm = _CALL_RE.match(text)
        if cm:
            # CALL [system.]<proc>(...) — Iceberg Spark-procedure surface
            # (rollback_to_snapshot, expire_snapshots, rewrite_data_files,
            # rewrite_position_deletes, ...). The reference inherits these
            # from the Iceberg runtime; here each dispatches to the
            # equivalent ManagedTable maintenance method.
            return self._call_procedure(
                cm.group("proc").lower(), cm.group("args")
            )

        sm = re.match(r"^\s*show\s+tables\s*$", text, re.IGNORECASE)
        if sm:
            return self._status_df(
                [(n,) for n in self.catalog.list_tables()], "tableName string"
            )
        scm = re.match(
            r"^\s*show\s+create\s+table\s+`?(?P<name>\w+)`?\s*$",
            text,
            re.IGNORECASE,
        )
        if scm and self.catalog.table_exists(scm.group("name")):
            tbl = self.catalog.load_table(scm.group("name"))
            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString().upper()}"
                for f in tbl.schema.fields
            )
            stmt = (
                f"CREATE TABLE {tbl.name} (\n  {cols}\n) "
                f"USING {tbl.file_format}\n"
                "OPTIONS (addTableManagement 'true')"
            )
            if tbl.meta.partition_cols:
                stmt += (
                    "\nPARTITIONED BY ("
                    + ", ".join(tbl.meta.partition_cols)
                    + ")"
                )
            props = {
                k: v
                for k, v in sorted(tbl.meta.properties.items())
                if k != "columnDependencies"
            }
            if props:
                stmt += "\nTBLPROPERTIES (" + ", ".join(
                    f"'{k}'='{v}'" for k, v in props.items()
                ) + ")"
            return self._status_df(
                [(stmt,)], "createtab_stmt string"
            )

        stp = re.match(
            r"^\s*show\s+tblproperties\s+`?(?P<name>\w+)`?\s*$",
            text,
            re.IGNORECASE,
        )
        if stp and self.catalog.table_exists(stp.group("name")):
            tbl = self.catalog.load_table(stp.group("name"))
            rows = sorted(tbl.meta.properties.items())
            return self._status_df(
                rows or [("", "")], "key string, value string"
            )

        sp = re.match(
            r"^\s*show\s+partitions\s+`?(?P<name>\w+)`?\s*$", text, re.IGNORECASE
        )
        if sp and self.catalog.table_exists(sp.group("name")):
            # metadata-only: distinct partition tuples from the manifests
            tbl = self.catalog.load_table(sp.group("name"))
            snap = tbl.meta.current_snapshot()
            parts = sorted(
                {
                    "/".join(f"{k}={v}" for k, v in sorted(f.partition.items()))
                    for f in (snap.live_files() if snap else [])
                }
            )
            return self._status_df(
                [(p,) for p in parts], "partition string"
            )
        dm2 = re.match(
            r"^\s*describe\s+(?:table\s+)?`?(?P<name>\w+)`?\s*$", text, re.IGNORECASE
        )
        if dm2 and self.catalog.table_exists(dm2.group("name")):
            tbl = self.catalog.load_table(dm2.group("name"))
            part_set = set(tbl.meta.partition_cols)
            rows = [
                (f.name, f.dataType.simpleString(), f.name in part_set)
                for f in tbl.schema.fields
            ]
            return self._status_df(
                rows, "col_name string, data_type string, is_partition boolean"
            )

        cs = _COUNT_STAR_RE.match(text)
        if cs and self.catalog.table_exists(cs.group("name")):
            # metadata-answered COUNT(*): when every planned file's stats
            # prove the predicate for all rows, the answer comes from
            # manifests in driver-milliseconds — zero Spark jobs, zero IO
            # (the Trino/Iceberg stats-aggregate optimization). Undecidable
            # predicates fall through to the ordinary scan path below.
            tbl = self.catalog.load_table(cs.group("name"))
            scan = tbl.scan(
                where=cs.group("pred"), as_of_millis=as_of_millis, ref=as_of_ref
            )
            n = scan.count_from_stats()
            if n is not None:
                alias = cs.group("alias") or "count(1)"
                # JVM-side VALUES, NOT createDataFrame: a Python local
                # frame is an RDD-backed scan with defaultParallelism
                # partitions, so composing two (e.g. crossJoin of two
                # metadata counts) plans a 32×32-task CartesianProduct of
                # Python runners — ~16s of overhead for two driver-known
                # numbers. Nor SELECT <literal>: Spark plans a
                # OneRowRelation as a one-partition RDD scan, so collecting
                # it runs a job. VALUES folds to a LocalTableScan, which
                # collects on the driver with zero jobs.
                return self._status_df([(int(n),)], f"{alias} bigint")

        text = self._register_views(text, as_of_millis, as_of_ref)
        return self.spark.sql(text)

    # ------------------------------------------------------------ actions --

    def _create_managed(self, cm: re.Match, opts: dict[str, str]) -> DataFrame:
        name = cm.group("name").strip("`")
        fmt = cm.group("fmt").lower()
        if fmt not in ("parquet", "orc", "avro"):
            # parquet gets footer stats; orc/avro are the reference's
            # non-parquet fallback (no column metrics,
            # utils/utils.scala:168-198) — anything else is rejected like
            # the reference's USING allowlist. Catalog.create_table
            # additionally gates avro on the spark-avro datasource.
            raise ValueError(
                f"managed tables support USING parquet|orc|avro, got {fmt}"
            )
        raw_parts = cm.group("parts") or cm.group("parts_pre") or ""
        parts = [p.strip().strip("`") for p in raw_parts.split(",") if p.strip()]
        properties = {k: v for k, v in opts.items() if k != "addTableManagement"}
        ctas = cm.group("ctas")
        if ctas:
            ctas = self._register_views(ctas, None)
        if cm.group("cols"):
            schema: T.StructType | str = cm.group("cols")
        elif ctas:
            schema = self.spark.sql(ctas).schema
        else:
            raise ValueError("CREATE TABLE needs a column list or AS SELECT")
        tbl = self.catalog.create_table(
            name, schema, partition_cols=parts, properties=properties,
            file_format=fmt,
        )
        if ctas:
            tbl.insert(self.spark.sql(ctas))
        return self._no_rows_df()

    def _create_like(self, lk: re.Match) -> DataFrame:
        """``CREATE TABLE <t> LIKE <src> [WITH DATA]`` — clone the source
        table's schema, partition spec, properties and file format into a
        fresh empty table; ``WITH DATA`` additionally registers the
        source's LIVE files zero-copy through ``add_files`` (the
        Delta-style SHALLOW clone: a metadata-only fork whose first
        snapshot references the same physical files, after which the two
        tables evolve independently).

        Shallow-clone safety is enforced, not assumed: a source carrying
        merge-on-read delete debris (position DVs or equality deletes) is
        refused — registering its data files alone would RESURRECT the
        masked rows — and so is a source whose live files sit outside its
        own data dir (zero-copy imports of imports compound lifecycle
        risk) or span older schema eras (a rename/widen leaves old
        physical column names in those files that the clone's fresh
        field-id space cannot map).  The documented hazard remains by design: the clone shares
        bytes with the source, so ``expire_snapshots`` GC on the source
        can delete files the clone still references — use CTAS for a deep
        copy when lifecycle independence matters.  Returns one row with
        ``added_files_count``."""
        src = self.catalog.load_table(lk.group("src").strip("`"))
        src.refresh()
        # AS OF VERSION n clones the table STATE at a historical snapshot
        # (schema era + file set); the snapshot must still be retained —
        # expire GC only deletes files unreachable from retained
        # snapshots, so a resolvable id implies intact files.
        ver = lk.group("ver")
        ref = lk.group("refq") or lk.group("ref")
        if ref is not None:
            # AS OF REF <tag|branch>: resolve the named ref's snapshot —
            # clone-at-tag, the human-addressable form of AS OF VERSION
            r = src.meta.refs.get(ref)
            if r is None:
                raise ValueError(
                    f"CREATE TABLE LIKE ... AS OF REF {ref!r}: "
                    f"unknown ref on {src.name}"
                )
            ver = str(r["snapshot_id"])
        as_of = None
        if ver is not None:
            as_of = src.meta.snapshot_by_id(int(ver))
            if as_of is None:
                raise ValueError(
                    f"CREATE TABLE LIKE ... AS OF VERSION {ver}: "
                    "unknown or expired snapshot"
                )
        # Validate the SOURCE before creating the destination, so a
        # refused clone leaves no empty-table husk behind.
        live: list = []
        clone_schema = src.schema
        if as_of is not None:
            hist_live = as_of.live_files()
            sids = {f.schema_id for f in hist_live}
            if len(sids) > 1:
                raise ValueError(
                    "CREATE TABLE LIKE ... AS OF VERSION: snapshot "
                    f"spans {len(sids)} schema eras; run "
                    "rewrite_data_files before cloning that state"
                )
            if not sids and as_of.schema_id is not None:
                # zero live files (e.g. a truncated historical snapshot):
                # per-file eras give no signal, so the era comes from the
                # snapshot's own recorded schema-id — never the source's
                # CURRENT schema, which may have evolved since
                sids = {as_of.schema_id}
            if not sids:
                raise ValueError(
                    "CREATE TABLE LIKE ... AS OF: snapshot has no live "
                    "files and records no schema-id (pre-schema-id "
                    "metadata); its schema era cannot be resolved — "
                    "clone the current table state instead"
                )
            import json as _json

            from pyspark.sql import types as T

            clone_schema = T.StructType.fromJson(
                _json.loads(src.meta.schema_json_at(sids.pop()))
            )
        if lk.group("with_data"):
            snap = (
                as_of if as_of is not None else src.meta.current_snapshot()
            )
            if snap is not None:
                if snap.dv_manifest_paths or snap.eq_manifest_paths:
                    raise ValueError(
                        "CREATE TABLE LIKE ... WITH DATA: source has "
                        "merge-on-read deletes in effect; a shallow clone "
                        "of its data files would resurrect masked rows — "
                        "run rewrite_position_deletes/"
                        "convert_equality_deletes + rewrite_data_files "
                        "first"
                    )
                live = snap.live_files()
                # the clone carries ONE schema era: the historical era
                # for AS OF clones (validated single above), the current
                # era otherwise
                exp_sid = (
                    {f.schema_id for f in live}.pop()
                    if as_of is not None and live
                    else src.meta.current_schema_id
                )
                stale = [f.path for f in live if f.schema_id != exp_sid]
                if stale:
                    raise ValueError(
                        "CREATE TABLE LIKE ... WITH DATA: source has "
                        f"{len(stale)} live file(s) written under older "
                        "schema eras (renamed/widened columns); the clone "
                        "cannot carry the source's field-id mappings — "
                        "run rewrite_data_files on the source first"
                    )
                data_dir = src.meta.data_dir.rstrip(os.sep) + os.sep
                outside = [
                    f.path
                    for f in live
                    if not f.path.startswith(data_dir)
                ]
                if outside:
                    raise ValueError(
                        "CREATE TABLE LIKE ... WITH DATA: source "
                        f"references {len(outside)} file(s) outside its "
                        "data dir (zero-copy imports); compact the source "
                        "before cloning"
                    )
        tbl = self.catalog.create_table(
            lk.group("name").strip("`"),
            clone_schema,
            partition_cols=list(src.meta.partition_cols),
            properties=dict(src.meta.properties),
            file_format=src.file_format,
        )
        added = 0
        if live:
            # metadata-only: the live entries already carry footer stats
            # and bloom sidecars from their source commits — re-deriving
            # them (add_files' schema probe + stats scan + bloom build)
            # would rescan every data file for information the source
            # manifests already hold
            tbl.register_data_files(live)
            added = len(live)
        return self._status_df([(added,)], "added_files_count int")

    def _merge_managed(self, mg: re.Match) -> DataFrame:
        """MERGE [WITH SCHEMA EVOLUTION] INTO t [AS a] USING src [AS b]
        ON a.k = b.k [AND ...]
        WHEN MATCHED THEN UPDATE SET c = expr, ... | DELETE
        [WHEN NOT MATCHED THEN INSERT * | INSERT (cols) VALUES (exprs)]

        The supported subset is the CDC-upsert core; the ON condition must
        be a conjunction of alias-qualified key equalities (that is what
        makes the affected-file discovery an equi-join at scale).
        WITH SCHEMA EVOLUTION (the Spark 4.0 keyword) adds every
        source-only column to the target before executing — NULL backfill
        for pre-evolution files, and INSERT * NULL-fills target columns
        the source lacks."""
        name = mg.group("name").strip("`")
        tbl = self.catalog.load_table(name)
        talias = (mg.group("talias") or name).lower()
        salias = (mg.group("salias") or mg.group("src")).strip("`").lower()
        src_name = mg.group("src").strip("`")
        if self.catalog.table_exists(src_name):
            source = self.catalog.load_table(src_name).to_df()
        else:
            source = self.spark.table(src_name)

        keys: list[str] = []
        for part in re.split(r"\s+and\s+", mg.group("on").strip(), flags=re.IGNORECASE):
            em = re.match(
                r"^\s*`?(\w+)`?\.`?(\w+)`?\s*=\s*`?(\w+)`?\.`?(\w+)`?\s*$", part
            )
            if not em:
                raise ValueError(
                    f"MERGE ON supports alias-qualified key equalities, got {part!r}"
                )
            a1, c1, a2, c2 = em.groups()
            pair = {a1.lower(): c1, a2.lower(): c2}
            if set(pair) != {talias, salias} or pair[talias] != pair[salias]:
                raise ValueError(
                    f"MERGE ON must equate the same column on {talias!r}/"
                    f"{salias!r}, got {part!r}"
                )
            keys.append(pair[talias])

        clauses_text = mg.group("clauses")

        def realias(expr: str) -> str:
            # rewrite source-alias references to the join's `s` alias and
            # target-alias ones to `t`
            expr = re.sub(
                rf"\b{re.escape(salias)}\.", "s.", expr, flags=re.IGNORECASE
            )
            return re.sub(
                rf"\b{re.escape(talias)}\.", "t.", expr, flags=re.IGNORECASE
            )

        matched_clauses: list[tuple[str | None, str, dict[str, str] | None]] = []
        nmbs_clauses: list[tuple[str | None, str, dict[str, str] | None]] = []
        nm_inserts: list[tuple[str | None, bool | dict[str, str]]] = []
        consumed = 0
        # The clause regex must account for EVERY character of the WHEN
        # block: a clause shape it cannot match (e.g. column-list INSERT
        # `INSERT (a, b) VALUES (...)`) must fail loudly, never be
        # silently dropped while the remaining clauses execute.
        cursor = 0
        for cm2 in _MERGE_CLAUSE_RE.finditer(clauses_text):
            gap = clauses_text[cursor : cm2.start()]
            if gap.strip():
                raise ValueError(
                    f"unsupported MERGE clause text: {gap.strip()[:120]!r}"
                )
            cursor = cm2.end()
            consumed += 1
            cond = realias(cm2.group("cond").strip()) if cm2.group("cond") else None
            sets = (
                {
                    col: realias(expr)
                    for col, expr in _parse_assignments(
                        cm2.group("sets")
                    ).items()
                }
                if cm2.group("sets")
                else None
            )
            if cm2.group("nm") and cm2.group("bysrc"):
                # WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE
                if cm2.group("insert"):
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE cannot INSERT"
                    )
                nmbs_clauses.append(
                    (cond, "delete" if cm2.group("delete") else "update", sets)
                )
            elif cm2.group("nm"):
                if not cm2.group("insert"):
                    raise ValueError(
                        "WHEN NOT MATCHED supports only THEN INSERT * or "
                        "INSERT (cols) VALUES (exprs)"
                    )
                if cm2.group("icols"):
                    cols = [
                        c.strip().strip("`")
                        for c in cm2.group("icols").split(",")
                    ]
                    vals = [
                        realias(v.strip())
                        for v in _split_top_level(cm2.group("ivals"))
                    ]
                    if len(cols) != len(vals) or not cols:
                        raise ValueError(
                            "MERGE INSERT column list and VALUES list "
                            f"must match: {cols} vs {len(vals)} value(s)"
                        )
                    if len(set(cols)) != len(cols):
                        raise ValueError(
                            "MERGE INSERT lists a duplicate target column: "
                            f"{cols}"
                        )
                    nm_inserts.append((cond, dict(zip(cols, vals))))
                else:
                    nm_inserts.append((cond, True))
            elif cm2.group("insert"):
                raise ValueError("WHEN MATCHED cannot INSERT")
            elif cm2.group("delete"):
                matched_clauses.append((cond, "delete", None))
            else:
                matched_clauses.append((cond, "update", sets))
        if not consumed:
            raise ValueError("MERGE needs at least one WHEN clause")
        tail = clauses_text[cursor:]
        if tail.strip():
            raise ValueError(
                f"unsupported MERGE clause text: {tail.strip()[:120]!r}"
            )

        snap = tbl.merge(
            source,
            on=keys,
            matched_clauses=matched_clauses,
            when_not_matched_insert=nm_inserts or False,
            not_matched_by_source_clauses=nmbs_clauses or None,
            schema_evolution=bool(mg.group("evolve")),
        )
        return self._status_df(
            [(snap.num_added_files, snap.num_deleted_files)],
            "files_written int, files_replaced int",
        )

    def _insert_managed(self, im: re.Match, name: str) -> DataFrame:
        tbl = self.catalog.load_table(name)
        select_text = self._register_views(im.group("select"), None)
        src = self.spark.sql(select_text)
        overwrite = im.group("mode").lower() == "overwrite"
        branch = im.group("branch")
        spec = _parse_partition_spec(im.group("spec"))
        dynamic = (
            overwrite
            and not spec
            and self.spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            ).lower()
            == "dynamic"
        )
        # positional insert: source columns map to table schema order, minus
        # statically-pinned partition columns (Spark INSERT semantics)
        schema = tbl.schema
        target_cols = [f.name for f in schema.fields if f.name not in spec]
        if len(src.columns) == len(target_cols):
            src = src.toDF(*target_cols)
        tbl.insert(
            src,
            overwrite=overwrite,
            static_partition=spec or None,
            dynamic=dynamic,
            branch=branch,
        )
        return self._no_rows_df()

    # ------------------------------------------------- python-level access --

    def _call_procedure(self, proc: str, argtext: str) -> DataFrame:
        """Iceberg Spark-procedure parity over the snapshot layer. Output
        schemas loosely mirror Iceberg's procedure results (enough for
        scripting; exact row shapes are ours)."""
        spark = self.spark

        def tbl(args) -> ManagedTable:
            name = args.get("table", "").strip("`")
            if not name or not self.catalog.table_exists(name):
                raise ValueError(f"CALL {proc}: unknown table {name!r}")
            return self.catalog.load_table(name)

        if proc in ("rollback_to_snapshot", "set_current_snapshot"):
            args = _parse_call_args(argtext, ["table", "snapshot_id"])
            t = tbl(args)
            prev = t.meta.current_snapshot_id
            snap = t.rollback_to(int(args["snapshot_id"]))
            return self._status_df(
                [(prev, snap.snapshot_id)],
                "previous_snapshot_id long, current_snapshot_id long",
            )
        if proc == "rollback_to_timestamp":
            args = _parse_call_args(argtext, ["table", "timestamp"])
            t = tbl(args)
            ms = convert_to_epoch_millis(args["timestamp"])
            target = t.meta.snapshot_as_of(ms)
            if target is None:
                raise ValueError(f"no snapshot at or before {args['timestamp']}")
            prev = t.meta.current_snapshot_id
            snap = t.rollback_to(target.snapshot_id)
            return self._status_df(
                [(prev, snap.snapshot_id)],
                "previous_snapshot_id long, current_snapshot_id long",
            )
        if proc == "expire_snapshots":
            args = _parse_call_args(argtext, ["table", "retain_last"])
            res = tbl(args).expire_snapshots(
                retain_last=int(args.get("retain_last", 1))
            )
            return self._status_df(
                [
                    (
                        res["expired_snapshots"],
                        res["deleted_data_files"],
                        res["deleted_manifests"],
                    )
                ],
                "expired_snapshots int, deleted_data_files_count int, "
                "deleted_manifest_files_count int",
            )
        if proc == "remove_orphan_files":
            args = _parse_call_args(
                argtext, ["table", "older_than_hours", "distributed"]
            )
            kwargs = {}
            if "older_than_hours" in args:
                kwargs["older_than_s"] = int(args["older_than_hours"]) * 3600
            if args.get("distributed", "").lower() == "true":
                kwargs["distributed"] = True
            removed = tbl(args).remove_orphan_files(**kwargs)
            return self._status_df(
                [(removed,)], "orphan_file_count int"
            )
        if proc == "rewrite_data_files":
            args = _parse_call_args(
                argtext,
                ["table", "sort_by", "zorder_by", "min_input_files", "where"],
            )
            cols = lambda s: [c.strip().strip("`") for c in s.split(",") if c.strip()]  # noqa: E731
            kwargs = {}
            if "sort_by" in args:
                kwargs["sort_by"] = cols(args["sort_by"])
            if "zorder_by" in args:
                kwargs["zorder_by"] = cols(args["zorder_by"])
            if "min_input_files" in args:
                kwargs["min_input_files"] = int(args["min_input_files"])
            if "where" in args:
                kwargs["where"] = args["where"]
            snap = tbl(args).compact(**kwargs)
            return self._status_df(
                [
                    (
                        snap.num_deleted_files if snap else 0,
                        snap.num_added_files if snap else 0,
                    )
                ],
                "rewritten_data_files_count int, added_data_files_count int",
            )
        if proc == "rewrite_position_deletes":
            args = _parse_call_args(argtext, ["table"])
            snap = tbl(args).rewrite_position_deletes()
            return self._status_df(
                [
                    (
                        snap.num_deleted_files if snap else 0,
                        snap.num_added_files if snap else 0,
                    )
                ],
                "rewritten_data_files_count int, added_data_files_count int",
            )
        if proc == "add_files":
            args = _parse_call_args(
                argtext, ["table", "source_dir", "check_duplicate_files"]
            )
            kwargs = {}
            if args.get("check_duplicate_files", "").lower() == "false":
                kwargs["check_duplicate_files"] = False
            snap = tbl(args).add_files(
                args["source_dir"].strip("'\""), **kwargs
            )
            return self._status_df(
                [
                    (
                        snap.num_added_files,
                        int(snap.summary.get("added-records", 0)),
                    )
                ],
                "added_files_count int, added_records_count long",
            )
        if proc == "rewrite_manifests":
            args = _parse_call_args(argtext, ["table"])
            res = tbl(args).rewrite_manifests()
            return self._status_df(
                [(res["rewritten_manifests"], res["added_manifests"])],
                "rewritten_manifests_count int, added_manifests_count int",
            )
        if proc == "fast_forward":
            args = _parse_call_args(argtext, ["table", "branch"])
            t = tbl(args)
            prev = t.meta.current_snapshot_id
            snap = t.fast_forward(args["branch"])
            return self._status_df(
                [(args["branch"], prev, snap.snapshot_id)],
                "branch_updated string, previous_ref long, updated_ref long",
            )
        if proc == "cherrypick_snapshot":
            args = _parse_call_args(argtext, ["table", "snapshot_id"])
            t = tbl(args)
            snap = t.cherrypick_snapshot(int(args["snapshot_id"]))
            return self._status_df(
                [(int(args["snapshot_id"]), snap.snapshot_id)],
                "source_snapshot_id long, current_snapshot_id long",
            )
        if proc == "create_changelog_view":
            # CALL [system.]create_changelog_view(table, from_snapshot_id
            # [, to_snapshot_id] [, view_name] [, identifier_columns]) —
            # Iceberg's changelog-view procedure: registers a temp view
            # over the row-level CDC between two snapshots
            # (table.py::diff — _change_type in insert/delete/
            # update_preimage/update_postimage; identifier_columns turn
            # persisted-key payload changes into update pre/post images).
            args = _parse_call_args(
                argtext,
                [
                    "table",
                    "from_snapshot_id",
                    "to_snapshot_id",
                    "view_name",
                    "identifier_columns",
                ],
            )
            t = tbl(args)
            if "from_snapshot_id" not in args:
                raise ValueError(
                    "CALL create_changelog_view: from_snapshot_id required"
                )
            to = (
                int(args["to_snapshot_id"])
                if "to_snapshot_id" in args
                else None
            )
            keys = [
                c.strip()
                for c in args.get("identifier_columns", "").split(",")
                if c.strip()
            ] or None
            if keys is None:
                # default to the table's declared identity (SET
                # IDENTIFIER FIELDS DDL) when the caller names none
                keys = [
                    c
                    for c in t.meta.properties.get(
                        "identifier.fields", ""
                    ).split(",")
                    if c
                ] or None
            view = args.get("view_name") or (
                args["table"].strip("`") + "_changes"
            )
            if not re.fullmatch(r"\w+", view):
                raise ValueError(
                    f"CALL create_changelog_view: bad view name {view!r}"
                )
            t.diff(
                int(args["from_snapshot_id"]), to, key_cols=keys
            ).createOrReplaceTempView(view)
            return self._status_df([(view,)], "changelog_view string")
        if proc == "publish_changes":
            # CALL [system.]publish_changes(table, wap_id) — Iceberg's
            # write-audit-publish publish step: locate the STAGED snapshot
            # whose summary carries wap.id = <id> (staged via
            # insert(branch=..., extra_summary={'wap.id': id})) and
            # cherry-pick it onto main; the publish commit records
            # published-wap-id so a second publish of the same id is
            # refused, matching Iceberg's duplicate-WAP guard.
            args = _parse_call_args(argtext, ["table", "wap_id"])
            t = tbl(args)
            wid = args["wap_id"].strip("'\"")
            if not wid:
                raise ValueError("CALL publish_changes: wap_id required")
            if any(
                s.summary.get("published-wap-id") == wid
                for s in t.meta.snapshots
            ):
                raise ValueError(
                    f"wap.id {wid!r} was already published"
                )
            staged = [
                s
                for s in t.meta.snapshots
                if s.summary.get("wap.id") == wid
            ]
            if not staged:
                raise ValueError(
                    f"no staged snapshot carries wap.id {wid!r}"
                )
            if len(staged) > 1:
                raise ValueError(
                    f"wap.id {wid!r} is ambiguous "
                    f"({len(staged)} staged snapshots)"
                )
            snap = t.cherrypick_snapshot(
                staged[0].snapshot_id,
                extra_summary={"published-wap-id": wid},
            )
            return self._status_df(
                [(staged[0].snapshot_id, snap.snapshot_id)],
                "source_snapshot_id long, current_snapshot_id long",
            )
        if proc == "register_table":
            # CALL [system.]register_table(table, metadata_location) —
            # Iceberg's register_table procedure: adopt an existing
            # table directory under a catalog identifier, zero-copy
            # (Catalog.register_table; link.text pointer, live-owner
            # duplicate refusal)
            args = _parse_call_args(argtext, ["table", "metadata_location"])
            name = args.get("table", "").strip("`").strip("'\"")
            loc = args.get("metadata_location", "").strip("'\"")
            if not name or not loc:
                raise ValueError(
                    "CALL register_table: table and metadata_location "
                    "required"
                )
            t = self.catalog.register_table(name, loc)
            return self._status_df(
                [(name, t.meta.location, t.meta.current_snapshot_id)],
                "table string, location string, current_snapshot_id long",
            )
        if proc == "ancestors_of":
            args = _parse_call_args(argtext, ["table", "snapshot_id"])
            t = tbl(args)
            sid = (
                int(args["snapshot_id"])
                if "snapshot_id" in args
                else t.meta.current_snapshot_id
            )
            rows = []
            seen = set()
            while sid is not None and sid not in seen:
                seen.add(sid)
                s = t.meta.snapshot_by_id(sid)
                if s is None:
                    break
                rows.append((s.snapshot_id, s.timestamp_ms))
                sid = s.parent_id
            return self._status_df(
                rows, "snapshot_id long, timestamp long"
            )
        raise ValueError(f"unknown procedure {proc!r}")

    def table(self, name: str) -> ManagedTable:
        return self.catalog.load_table(name)
