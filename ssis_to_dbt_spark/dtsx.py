"""SSIS ``.dtsx`` package ingestion: parse + bind to the Spark engine.

The reference is a dtsx -> dbt *compiler*; this module is the engine-side
counterpart: it parses an actual SSIS package XML (the same surface the
reference parses — connection managers, typed variables, ExecuteSQL /
DataFlow / Script / SendMail tasks, data-flow components, precedence
constraints; reference semantics at
/root/reference/src/parser/ssis_parser.py:112-151 package walk, :265-304
data-flow components, :507-530 precedence constraints) and *executes* it
directly on Spark through :mod:`ssis_to_dbt_spark.pipeline`.

Binding contract (what replaces SSIS connection managers): the caller maps
each table name referenced by the package's embedded SQL (``sales.
Transactions``, ``dim.Customer``, ...) to a DataFrame.  The binder registers
them as temp views under mangled names, rewrites the embedded T-SQL subset
(bracket quoting, dotted names, ``TOP n``, ``?`` parameters, ``@Var``
references) into Spark SQL, and runs it via ``spark.sql`` — so Catalyst sees
one declarative plan per data flow and pushes filters/pruning into the
source scans.

Task classification mirrors the reference's honesty contract:

- DataFlow tasks bind fully (source -> lookups -> derived columns ->
  destination, all engine operators).
- ExecuteSQL tasks whose statement is a single SELECT run through
  ``spark.sql``; statements with T-SQL control flow / DML (DECLARE,
  RAISERROR, MERGE, TRUNCATE, INSERT/UPDATE/DELETE) are marked
  ``manual_review_required`` unless the caller supplies a handler —
  exactly how the reference flags them for human conversion
  (src/parser/models.py:122-142).
- Script tasks are ``manual_review_required``; SendMail tasks are
  ``documented_only`` (never converted, src/parser/models.py:145-155).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .expressions import SSISExpressionCompiler
from .operators.lookup import LookupNoMatch, lookup
from .pipeline import Model, Pipeline
from .schema import ssis_to_spark_type

_DTS = "www.microsoft.com/SqlServer/Dts"
_SQLTASK = "www.microsoft.com/sqlserver/dts/tasks/sqltask"


def _d(tag: str) -> str:
    return f"{{{_DTS}}}{tag}"


# ---------------------------------------------------------------------------
# IR
# ---------------------------------------------------------------------------

# Control-flow task types the reference explicitly flags for manual
# review, with its reasons verbatim (constants.py:56-62).  ScriptTask is
# handled separately (it also carries variable bindings); SendMailTask
# stays documented_only per the reference's models.py:145-155 ("documented
# but not converted").
_MANUAL_REVIEW_REASONS = {
    "Microsoft.ExecuteProcessTask":
        "Execute Process Tasks require manual review for dbt conversion",
    "Microsoft.FTPTask":
        "FTP Tasks require manual conversion to Python scripts",
    "Microsoft.FileSystemTask":
        "File System Tasks require manual conversion",
}


@dataclass
class DtsxVariable:
    """Typed package variable; type codes per the SSIS variable vocabulary
    (reference constants.py:42-51): "2" DT_I2, "3" DT_I4, "20" DT_I8,
    "7" DT_DATE, "135" DT_DBTIMESTAMP, "11" DT_BOOL, "8" DT_WSTR,
    "13" DT_VARIANT.

    DT_VARIANT contract (r12, r11 VERDICT #8): SSIS serializes variant
    variables as text in the package XML, and the reference maps the
    code without further conversion — so a variant binds as its RAW
    STRING (``None`` when empty): usable in ?-bindings and expressions
    as character data, never implicitly numeric."""

    namespace: str
    name: str
    type_code: str
    raw_value: str
    expression: str | None = None   # EvaluateAsExpression variables

    @property
    def qualified(self) -> str:
        return f"{self.namespace}::{self.name}"

    def python_value(self):
        v = self.raw_value
        if self.type_code in ("2", "3", "20"):
            return int(v) if v.strip() else 0
        if self.type_code in ("7", "135"):
            return datetime.fromisoformat(v) if v.strip() else None
        if self.type_code == "11":
            return v.strip().lower() in ("true", "1", "-1")
        if self.type_code == "13":
            return v if v.strip() else None
        return v


@dataclass
class DtsxConnectionManager:
    ref_id: str
    name: str
    connection_string: str | None


@dataclass
class DtsxOutputColumn:
    """Declared component output column; for DerivedColumn components it
    carries the SSIS expression to compute."""

    name: str
    data_type: str | None = None
    length: int | None = None
    precision: int | None = None
    scale: int | None = None
    expression: str | None = None
    source_column: str | None = None   # DataConversion source
    aggregation: str | None = None     # Aggregate: group_by/sum/count/...

    def spark_type(self):
        return ssis_to_spark_type(
            self.data_type or "wstr", self.length, self.precision, self.scale
        )


@dataclass
class DtsxOutput:
    """One declared component output: its columns plus output-level
    properties (ConditionalSplit conditions live here, not on columns)."""

    name: str
    properties: dict = field(default_factory=dict)
    columns: list[DtsxOutputColumn] = field(default_factory=list)
    is_error_out: bool = False


@dataclass
class DtsxComponent:
    ref_id: str
    class_id: str        # e.g. Microsoft.OLEDBSource
    name: str
    properties: dict = field(default_factory=dict)
    connection_ref: str | None = None
    input_columns: list[str] = field(default_factory=list)   # cachedName order
    sort_keys: list[tuple[str, int]] = field(default_factory=list)
    outputs: list[DtsxOutput] = field(default_factory=list)

    @property
    def output_columns(self) -> list[DtsxOutputColumn]:
        """All declared output columns across outputs (the common
        single-output case reads naturally)."""
        return [c for o in self.outputs for c in o.columns]


@dataclass
class DtsxTask:
    ref_id: str
    task_type: str       # Microsoft.Pipeline | Microsoft.ExecuteSQLTask | ...
    name: str
    description: str | None = None
    sql: str | None = None
    result_type: str | None = None
    components: list[DtsxComponent] = field(default_factory=list)
    paths: list[tuple[str, str]] = field(default_factory=list)  # (startId, endId)
    # containers (Sequence / ForEachLoop / ForLoop)
    children: list["DtsxTask"] = field(default_factory=list)
    child_constraints: list[tuple[str, str]] = field(default_factory=list)
    enumerator_items: list = field(default_factory=list)     # ForEachLoop
    foreach_var: str | None = None
    for_init: str | None = None                              # ForLoop
    for_eval: str | None = None
    for_assign: str | None = None


@dataclass
class DtsxPackage:
    name: str
    description: str | None
    connection_managers: list[DtsxConnectionManager]
    variables: list[DtsxVariable]
    tasks: list[DtsxTask]
    constraints: list[tuple[str, str]]   # (from_refid, to_refid)

    def variable_values(self) -> dict[str, object]:
        return {v.qualified: v.python_value() for v in self.variables}


# ---------------------------------------------------------------------------
# Parser (stdlib ElementTree; the inner <pipeline> XML is namespace-free)
# ---------------------------------------------------------------------------

def _preserve_attr_newlines(text: str) -> str:
    """Entity-escape literal newlines inside XML attribute values.

    XML attribute-value normalization (spec 3.3.3) turns raw newlines
    into spaces — correct per spec, but the reference samples embed
    multi-line T-SQL in ``SqlStatementSource`` with RAW newlines
    (a conforming producer would write ``&#xA;``), and losing the line
    boundaries makes ``--`` line comments swallow the statements that
    follow them (CustomerDataLoad.dtsx:165 comments out the MERGE).
    Escaping to ``&#10;`` before parsing round-trips them faithfully.
    Comment sections (``<!-- -->``) pass through untouched."""
    out: list[str] = []
    i, n = 0, len(text)
    in_tag = in_attr = False
    while i < n:
        ch = text[i]
        if not in_tag:
            if text.startswith("<!--", i):
                j = text.find("-->", i)
                j = n if j < 0 else j + 3
                out.append(text[i:j])
                i = j
                continue
            if ch == "<":
                in_tag = True
            out.append(ch)
        elif in_attr:
            if ch == '"':
                in_attr = False
                out.append(ch)
            elif ch == "\n":
                out.append("&#10;")
            elif ch == "\r":
                out.append("&#13;")
            else:
                out.append(ch)
        else:
            if ch == '"':
                in_attr = True
            elif ch == ">":
                in_tag = False
            out.append(ch)
        i += 1
    return "".join(out)


def parse_dtsx(path: str) -> DtsxPackage:
    """Parse one ``.dtsx`` file into the IR above."""
    with open(path, encoding="utf-8") as fh:
        root = ET.fromstring(_preserve_attr_newlines(fh.read()))

    cms = []
    for cm in root.iter(_d("ConnectionManager")):
        ref = cm.get(_d("refId"))
        if ref is None:  # inner ObjectData <ConnectionManager> carrier
            continue
        inner = cm.find(f"{_d('ObjectData')}/{_d('ConnectionManager')}")
        cms.append(
            DtsxConnectionManager(
                ref_id=ref,
                name=cm.get(_d("ObjectName"), ""),
                connection_string=(
                    inner.get(_d("ConnectionString")) if inner is not None else None
                ),
            )
        )

    variables = []
    for var in root.iter(_d("Variable")):
        val = var.find(_d("VariableValue"))
        variables.append(
            DtsxVariable(
                namespace=var.get(_d("Namespace"), "User"),
                name=var.get(_d("ObjectName"), ""),
                type_code=val.get(_d("DataType"), "8") if val is not None else "8",
                raw_value=(val.text or "") if val is not None else "",
                expression=var.get(_d("Expression")),
            )
        )

    tasks = []
    execs = root.find(_d("Executables"))
    for ex in (execs.findall(_d("Executable")) if execs is not None else []):
        tasks.append(_parse_executable(ex))

    constraints = []
    pcs = root.find(_d("PrecedenceConstraints"))
    for pc in (pcs.findall(_d("PrecedenceConstraint")) if pcs is not None else []):
        constraints.append((pc.get(_d("From"), ""), pc.get(_d("To"), "")))

    return DtsxPackage(
        name=root.get(_d("ObjectName"), path),
        description=root.get(_d("Description")),
        connection_managers=cms,
        variables=variables,
        tasks=tasks,
        constraints=constraints,
    )


def _attr(el: ET.Element, name: str) -> str | None:
    """Read an attribute that may be DTS-namespaced or plain."""
    return el.get(_d(name)) or el.get(name)


def _parse_executable(ex: ET.Element) -> DtsxTask:
    """Parse one executable — a task or a container (Sequence /
    ForEachLoop / ForLoop, whose nested Executables parse recursively).
    The reference flattens containers with a recursive search
    (src/parser/ssis_parser.py:205-244); keeping the nesting lets the
    binder honor per-iteration variable bindings and container-boundary
    precedence."""
    task = DtsxTask(
        ref_id=ex.get(_d("refId"), ""),
        task_type=ex.get(_d("ExecutableType"), ""),
        name=ex.get(_d("ObjectName"), ""),
        description=ex.get(_d("Description")),
    )
    task.for_init = ex.get(_d("InitExpression"))
    task.for_eval = ex.get(_d("EvalExpression"))
    task.for_assign = ex.get(_d("AssignExpression"))
    od = ex.find(_d("ObjectData"))
    if od is not None:
        sql_data = od.find(f"{{{_SQLTASK}}}SqlTaskData")
        if sql_data is not None:
            task.sql = sql_data.get(f"{{{_SQLTASK}}}SqlStatementSource")
            task.result_type = sql_data.get(f"{{{_SQLTASK}}}ResultType")
        pipe = od.find("pipeline")
        if pipe is not None:
            comps = pipe.find("components")
            for c in (comps.findall("component") if comps is not None else []):
                task.components.append(_parse_component(c))
            paths = pipe.find("paths")
            for p in (paths.findall("path") if paths is not None else []):
                task.paths.append((p.get("startId", ""), p.get("endId", "")))
    # ForEachLoop item enumerator + variable mapping — scoped to THIS
    # executable's ObjectData/mappings so nested loops keep their own items
    if od is not None:
        for item in od.iter("FEIEItem"):
            vals = []
            for v in item.findall("FEIEItemValue"):
                code = _attr(v, "DataType") or "8"
                raw = _attr(v, "Value") or ""
                vals.append(DtsxVariable("", "", code, raw).python_value())
            task.enumerator_items.append(
                vals[0] if len(vals) == 1 else tuple(vals)
            )
    vms = ex.find(_d("ForEachVariableMappings"))
    for vm in (vms.findall(_d("ForEachVariableMapping")) if vms is not None else []):
        task.foreach_var = _attr(vm, "VariableName") or task.foreach_var
    # nested executables + their precedence constraints
    sub = ex.find(_d("Executables"))
    if sub is not None:
        for child in sub.findall(_d("Executable")):
            task.children.append(_parse_executable(child))
        pcs = ex.find(_d("PrecedenceConstraints"))
        for pc in (pcs.findall(_d("PrecedenceConstraint")) if pcs is not None else []):
            task.child_constraints.append(
                (pc.get(_d("From"), ""), pc.get(_d("To"), ""))
            )
    return task


def _props_of(el: ET.Element | None) -> dict:
    out = {}
    if el is not None:
        for p in el.findall("property"):
            out[p.get("name", "")] = p.text or ""
    return out


def _parse_component(c: ET.Element) -> DtsxComponent:
    comp = DtsxComponent(
        ref_id=c.get("refId", ""),
        class_id=c.get("componentClassID", ""),
        name=c.get("name", ""),
    )
    comp.properties = _props_of(c.find("properties"))
    conns = c.find("connections")
    if conns is not None:
        conn = conns.find("connection")
        if conn is not None:
            comp.connection_ref = conn.get("connectionManagerRefId")
    for ic in c.iter("inputColumn"):
        cached = ic.get("cachedName")
        if cached:
            comp.input_columns.append(cached)
            skp = ic.get("sortKeyPosition")
            if skp:
                comp.sort_keys.append((cached, int(skp)))
    outs = c.find("outputs")
    for o in (outs.findall("output") if outs is not None else []):
        out = DtsxOutput(
            name=o.get("name", ""),
            properties=_props_of(o.find("properties")),
            is_error_out=(o.get("isErrorOut", "").lower() == "true"),
        )
        for oc in o.iter("outputColumn"):
            col = DtsxOutputColumn(
                name=oc.get("name", ""),
                data_type=oc.get("dataType"),
                length=int(oc.get("length")) if oc.get("length") else None,
                precision=(
                    int(oc.get("precision")) if oc.get("precision") else None
                ),
                scale=int(oc.get("scale")) if oc.get("scale") else None,
            )
            cprops = _props_of(oc.find("properties"))
            col.expression = cprops.get("Expression")
            col.source_column = cprops.get("SourceInputColumn") or oc.get(
                "sourceColumn"
            )
            col.aggregation = cprops.get("AggregationType")
            out.columns.append(col)
        comp.outputs.append(out)
    return comp


# ---------------------------------------------------------------------------
# T-SQL subset rewrite (embedded SqlCommand / SqlStatementSource -> Spark SQL)
# ---------------------------------------------------------------------------

def _sql_literal(v) -> str:
    """Render a bound value as Spark SQL literal text.  Strings double
    backslashes (Spark reads ``\\`` as an escape inside string literals,
    so a Windows path would lose its separators) and double single quotes
    (the literal splitters of :func:`rewrite_tsql` rely on ``''``)."""
    if v is None:
        return "NULL"
    if isinstance(v, datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S')}'"
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


_CI_EQ_TAIL = re.compile(
    r"([A-Za-z_][A-Za-z0-9_.]*)\s*(=|<>|!=)\s*$"
)
_CI_EQ_HEAD = re.compile(
    r"^\s*(=|<>|!=)\s*([A-Za-z_][A-Za-z0-9_.]*)"
)
_CI_IN_TAIL = re.compile(
    r"([A-Za-z_][A-Za-z0-9_.]*)\s+((?i:NOT)\s+)?(?i:IN)\s*\(\s*$"
)
# keywords the tail-identifier groups must never swallow (r13 ADVICE:
# without this, ``segment NOT IN (...)`` matched ident="NOT")
_CI_IDENT_STOPWORDS = frozenset(
    {"NOT", "AND", "OR", "IN", "LIKE", "IS", "NULL", "BETWEEN",
     "WHERE", "ON", "WHEN", "THEN", "ELSE", "CASE", "END"}
)
_CI_LIKE_TAIL = re.compile(
    r"([A-Za-z_][A-Za-z0-9_.]*)\s+((?i:NOT)\s+)?(?i:LIKE)\s*$"
)


def _fold_ci_sql(s: str) -> str:
    """CI-collation fold for the embedded T-SQL subset (r12 VERDICT #1):
    on a CI-collation server ``WHERE Status = 'Success'`` matches
    ``'SUCCESS'`` rows (InventorySync.dtsx:60-62,118), so under
    ``collation_ci=True`` every ``=``/``<>``/``!=``/``IN``/``[NOT] LIKE``
    comparison of an identifier against a STRING LITERAL rewrites to
    ``LOWER(ident) op 'lowered literal'``.

    Scope (documented subset): comparisons against string LITERALS —
    after :func:`rewrite_tsql` substitutes ``?``/``@Var`` bindings, so a
    parameterized ``Status = ?`` folds too.  Letterless literals
    (``'2024-01-01'``, ``'42'``) are left alone: CI folding is a no-op
    for them, and skipping keeps typed comparisons (date/numeric columns
    against literal strings) typed instead of forcing a string compare.
    Column-to-column string comparisons in embedded SQL are NOT folded —
    the rewriter has no schema to know the operand types (the bound
    Lookup/MergeJoin/expression paths, which do know, fold those).
    The walk is literal-aware: text INSIDE string literals is never
    treated as code."""
    def _alpha(lit: str) -> bool:
        return any(c.isalpha() for c in lit[1:-1])

    parts = re.split(r"('(?:[^']|'')*')", s)
    i = 1
    while i < len(parts):
        lit = parts[i]
        before = parts[i - 1]
        after = parts[i + 1] if i + 1 < len(parts) else ""
        m = _CI_EQ_TAIL.search(before)
        if m and _alpha(lit):
            parts[i - 1] = (
                before[: m.start()] + f"LOWER({m.group(1)}) {m.group(2)} "
            )
            parts[i] = lit.lower()
            i += 2
            continue
        m = _CI_EQ_HEAD.match(after)
        if m and _alpha(lit):
            parts[i] = lit.lower()
            parts[i + 1] = (
                f" {m.group(1)} LOWER({m.group(2)})" + after[m.end():]
            )
            i += 2
            continue
        m = _CI_LIKE_TAIL.search(before)
        if m and _alpha(lit):
            neg = "NOT " if m.group(2) else ""
            parts[i - 1] = (
                before[: m.start()] + f"LOWER({m.group(1)}) {neg}LIKE "
            )
            parts[i] = lit.lower()
            i += 2
            continue
        m = _CI_IN_TAIL.search(before)
        if m and m.group(1).upper() not in _CI_IDENT_STOPWORDS:
            # fold the whole IN list: the list must be literal members
            # interleaved with "," code chunks until ")" (a non-literal
            # member leaves the comparison untouched — conservative)
            j = i
            ok = True
            while j < len(parts):
                nxt = parts[j + 1] if j + 1 < len(parts) else ""
                if re.match(r"^\s*,\s*$", nxt):
                    j += 2
                    continue
                if re.match(r"^\s*\)", nxt):
                    break
                ok = False
                break
            members = list(range(i, j + 1, 2)) if ok and j < len(parts) else []
            if members and any(_alpha(parts[kk]) for kk in members):
                neg = "NOT " if m.group(2) else ""
                parts[i - 1] = (
                    before[: m.start()] + f"LOWER({m.group(1)}) {neg}IN ("
                )
                for kk in members:
                    parts[kk] = parts[kk].lower()
                i = j + 2
                continue
        i += 2
    return "".join(parts)


def rewrite_tsql(
    sql: str,
    table_views: dict[str, str],
    params: list | None = None,
    variables: dict[str, object] | None = None,
    ci: bool = False,
) -> str:
    """Rewrite the embedded T-SQL subset into Spark-SQL-runnable text:
    strip ``[...]`` quoting, map bound dotted table names to their temp-view
    names, substitute ``?`` placeholders positionally from ``params`` and
    ``@Var`` references from ``variables``, and turn ``TOP n`` into a
    trailing ``LIMIT n``.  Raises if a ``?`` remains unbound.
    ``ci=True`` additionally folds string-literal equality/IN comparisons
    case-insensitively (:func:`_fold_ci_sql` — the CI-collation server
    contract, applied AFTER parameter substitution so bound values fold
    too).

    Every substitution is literal-aware: table names, ``@Var`` and ``?``
    inside a string literal stay as written.  So is bracket stripping
    (r14): ``[dbo].[T]`` quoting strips, but brackets INSIDE string
    literals survive — they carry
    T-SQL LIKE character classes, which
    :func:`_rewrite_like_brackets` translates to ``regexp_like`` with
    SQL Server semantics after parameter substitution.

    Every string literal of the output is in Spark's escaped form: a
    T-SQL backslash is a plain character, so literal backslashes double,
    as they do in bound values (:func:`_sql_literal`)."""
    views = [
        (
            re.compile(
                rf"(?<![A-Za-z0-9_.]){re.escape(t)}(?![A-Za-z0-9_.])",
                re.IGNORECASE,
            ),
            table_views[t],
        )
        for t in sorted(table_views, key=len, reverse=True)
    ]
    lits = {}
    for qual, val in (variables or {}).items():
        lits.setdefault(qual.split("::")[-1], _sql_literal(val))
    # @Var references and ? placeholders in ONE scan, so a substituted
    # value is never scanned again (a '?' inside it is not a placeholder)
    names = "|".join(
        re.escape(v) for v in sorted(lits, key=len, reverse=True)
    )
    refs = re.compile(rf"\?|@({names})\b" if names else r"\?")
    it = iter(params or [])

    def ref(m: re.Match) -> str:
        if m.group(0) != "?":
            return lits[m.group(1)]
        try:
            return _sql_literal(next(it))
        except StopIteration:
            raise ValueError(
                f"unbound ? parameter in SQL: {sql[:80]}..."
            ) from None

    # every substitution runs OUTSIDE string literals only (odd indices
    # of the split): a literal keeps its text, brackets and '?' included
    parts = re.split(r"('(?:[^']|'')*')", sql)
    for i, part in enumerate(parts):
        if i % 2:
            parts[i] = part.replace("\\", "\\\\")
            continue
        part = part.replace("[", "").replace("]", "")
        for pat, view in views:
            part = pat.sub(view, part)
        parts[i] = refs.sub(ref, part)
    s = "".join(parts).rstrip().rstrip(";")
    m = re.search(r"(?i)\bTOP\s*\(?\s*(\d+)\s*\)?", s)
    if m:
        s = s[: m.start()] + s[m.end():].lstrip()
        s = s + f" LIMIT {m.group(1)}"
    s = _rewrite_like_brackets(s, ci=ci)
    if ci:
        s = _fold_ci_sql(s)
    return s


# --- T-SQL LIKE bracket classes (r14, r13 VERDICT #5) -----------------------
# SQL Server LIKE treats [A-C] / [^x] as character classes; Spark LIKE
# treats '[' literally — a migrated package using them would silently
# return different rows.  The translatable shape (identifier [NOT] LIKE
# 'literal-with-[') rewrites to regexp_like with T-SQL class semantics;
# any other bracket-LIKE shape classifies manual BY NAME (classify_sql).

_LIKE_LHS_TAIL = re.compile(
    r"([A-Za-z_][A-Za-z0-9_.]*)\s+((?i:NOT)\s+)?(?i:LIKE)\s*$"
)
_LIKE_ANY_TAIL = re.compile(r"((?i:NOT)\s+)?(?i:LIKE)\s*$")


def _tsql_like_to_regex(pat: str) -> str:
    """Translate a T-SQL LIKE pattern to an anchored Java regex:
    ``%`` -> ``.*``, ``_`` -> ``.``, ``[a-c]``/``[^x]`` -> character
    classes (``[%]``/``[_]`` therefore match the literal wildcard,
    T-SQL's bracket-escape idiom), everything else literal.  An
    unclosed ``[`` is a literal bracket (SQL Server behavior)."""
    out = ["^"]
    i = 0
    while i < len(pat):
        ch = pat[i]
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        elif ch == "[":
            j = pat.find("]", i + 1)
            if j < 0 or j == i + 1:  # unclosed or empty class: literal
                out.append(re.escape(ch))
            else:
                inner = pat[i + 1: j]
                neg = inner.startswith("^")
                body = inner[1:] if neg else inner
                esc = re.sub(r"([\\\]\[\^])", r"\\\1", body)
                out.append("[" + ("^" if neg else "") + esc + "]")
                i = j + 1
                continue
        else:
            out.append(re.escape(ch))
        i += 1
    out.append("$")
    return "".join(out)


def _rewrite_like_brackets(s: str, ci: bool = False) -> str:
    """Rewrite ``ident [NOT] LIKE '<pattern containing [>'`` to
    ``[NOT ]regexp_like(ident, '^...$')`` with T-SQL class semantics,
    literal-aware.  Under ``ci`` the identifier wraps ``LOWER()`` and
    the pattern lowers first (the CI-collation contract —
    :func:`_fold_ci_sql` never sees these, they are regexes by the time
    it runs).  Patterns without ``[`` are untouched (plain LIKE is
    portable)."""
    parts = re.split(r"('(?:[^']|'')*')", s)
    for i in range(1, len(parts), 2):
        lit = parts[i]
        pat = lit[1:-1].replace("''", "'").replace("\\\\", "\\")
        if "[" not in pat:
            continue
        m = _LIKE_LHS_TAIL.search(parts[i - 1])
        if not m or m.group(1).upper() in _CI_IDENT_STOPWORDS:
            continue
        neg = "NOT " if m.group(2) else ""
        ident = m.group(1)
        if ci:
            ident = f"LOWER({ident})"
            pat = pat.lower()
        rx = _sql_literal(_tsql_like_to_regex(pat))
        parts[i - 1] = parts[i - 1][: m.start()] + neg
        parts[i] = f"regexp_like({ident}, {rx})"
    return "".join(parts)


def _has_untranslatable_bracket_like(sql: str) -> bool:
    """True when a ``[NOT] LIKE`` against a bracket-class pattern has a
    NON-identifier left side — the shape :func:`_rewrite_like_brackets`
    cannot rewrite; Spark LIKE would silently diverge from SQL Server,
    so :func:`classify_sql` refuses it by name."""
    parts = re.split(r"('(?:[^']|'')*')", sql or "")
    for i in range(1, len(parts), 2):
        pat = parts[i][1:-1].replace("''", "'")
        if "[" not in pat:
            continue
        before = parts[i - 1]
        if not _LIKE_ANY_TAIL.search(before):
            continue
        m = _LIKE_LHS_TAIL.search(before)
        if not m or m.group(1).upper() in _CI_IDENT_STOPWORDS:
            return True
    return False


_RUNNABLE_RE = re.compile(r"(?is)^\s*(?:--[^\n]*\n\s*)*SELECT\b")
_MANUAL_KEYWORDS = re.compile(
    r"(?i)\b(DECLARE|RAISERROR|MERGE|TRUNCATE|INSERT|UPDATE|DELETE|EXEC)\b"
)


def classify_sql(sql: str) -> str:
    """'runnable' for a single SELECT statement; 'manual' for T-SQL control
    flow / DML the engine will not guess at (the reference's
    manual_review_required contract) — and (r14) for a bracket-class
    ``LIKE`` whose left side is not a plain identifier: Spark LIKE
    treats ``[`` literally, the translatable shape rewrites to
    ``regexp_like``, and anything else refuses BY NAME instead of
    silently returning SQL Server-different rows."""
    if (
        _RUNNABLE_RE.match(sql or "")
        and not _MANUAL_KEYWORDS.search(sql or "")
        and not _has_untranslatable_bracket_like(sql or "")
    ):
        return "runnable"
    return "manual"


# --- r13 (r12 VERDICT #6): auto-bindable DML statement shapes ----------------
# The two statement shapes the engine already owns writers for — the audit
# INSERT (D5, sources/writers.py append + roundtrip_sinks:audit_update) and
# the processed-flag UPDATE (D6, sources/writers.py:update_flag atomic
# swap) — exactly the InventorySync.dtsx:266-269 "Update Sync Log" pair.
# A task whose EVERY ;-separated statement matches one of these binds and
# executes IN-VIEW (each statement re-registers its table's temp view, so
# downstream tasks read the post-DML state; materialization to disk is the
# writers' job).  Anything else stays honest-manual.

_SQL_DML_LIT = (
    r"(?:'(?:[^']|'')*'|[-+]?\d+(?:\.\d+)?|\?|@\[?\w+(?:::\w+)?\]?"
    r"|NULL|GETDATE\s*\(\s*\))"
)
_UPDATE_FLAG_RE = re.compile(
    rf"(?is)^\s*UPDATE\s+([A-Za-z_]\w*(?:\.\w+)*)\s+SET\s+(\w+)\s*=\s*"
    rf"({_SQL_DML_LIT})\s+WHERE\s+(\w+)\s*=\s*({_SQL_DML_LIT})\s*$"
)
_INSERT_VALUES_RE = re.compile(
    r"(?is)^\s*INSERT\s+INTO\s+([A-Za-z_]\w*(?:\.\w+)*)\s*"
    r"\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*$"
)

# --- r14 (r13 VERDICT #1): the remaining reference-sample DML shapes --------
# CustomerDataLoad.dtsx:51 TRUNCATE, :166-181 SCD MERGE;
# SalesFactETL.dtsx:294-306 DELETE-range + INSERT..SELECT re-aggregate.
# Same contract as D5/D6: pattern-match the EXACT shapes, execute in-view,
# everything else stays honest-manual.

# a literal VALUE as it appears either at bind time (?-placeholders and
# @Var references still in place) or at run time (after rewrite_tsql
# substitution: TIMESTAMP '...' / DATE '...' / current_timestamp())
_SQL_DML_VAL = (
    r"(?:(?:TIMESTAMP|DATE)\s*'(?:[^']|'')*'|'(?:[^']|'')*'"
    r"|[-+]?\d+(?:\.\d+)?|\?|@\[?\w+(?:::\w+)?\]?"
    r"|NULL|GETDATE\s*\(\s*\)|current_timestamp\s*\(\s*\))"
)
_TRUNCATE_RE = re.compile(
    r"(?is)^\s*TRUNCATE\s+TABLE\s+([A-Za-z_]\w*(?:\.\w+)*)\s*$"
)
_DELETE_RANGE_RE = re.compile(
    rf"(?is)^\s*DELETE\s+FROM\s+([A-Za-z_]\w*(?:\.\w+)*)\s+WHERE\s+"
    rf"(\w+)\s+BETWEEN\s+({_SQL_DML_VAL})\s+AND\s+({_SQL_DML_VAL})\s*$"
)
_INSERT_SELECT_RE = re.compile(
    r"(?is)^\s*INSERT\s+INTO\s+([A-Za-z_]\w*(?:\.\w+)*)\s*"
    r"\(([^)]*)\)\s*(SELECT\b.*)$"
)
# the CustomerDataLoad MERGE shape: aliased target/source, single-equality
# ON, optional hash-compare MATCHED UPDATE arm, NOT-MATCHED INSERT arm.
# WHEN NOT MATCHED BY SOURCE (and every other arm combination) does NOT
# match and classifies manual.
_MERGE_RE = re.compile(
    r"(?is)^\s*MERGE\s+(?:INTO\s+)?([A-Za-z_]\w*(?:\.\w+)*)\s+AS\s+(\w+)"
    r"\s+USING\s+([A-Za-z_]\w*(?:\.\w+)*)\s+AS\s+(\w+)"
    r"\s+ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*"
    r"(?:WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+?)\s*)?"
    r"WHEN\s+NOT\s+MATCHED(?:\s+BY\s+TARGET)?\s+THEN\s+INSERT\s*"
    r"\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*$"
)


def _strip_line_comments(s: str) -> str:
    """Drop ``--`` line comments OUTSIDE string literals (the sample DML
    batches carry leading comments)."""
    parts = re.split(r"('(?:[^']|'')*')", s)
    for i in range(0, len(parts), 2):
        parts[i] = re.sub(r"--[^\n]*", "", parts[i])
    return "".join(parts)


def _find_matching_paren(s: str, open_idx: int) -> int:
    """Index of the ``)`` matching ``s[open_idx] == '('``, literal-aware."""
    depth = 0
    i = open_idx
    while i < len(s):
        ch = s[i]
        if ch == "'":
            i += 1
            while i < len(s):
                if s[i] == "'":
                    if i + 1 < len(s) and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError(f"unbalanced parentheses in SQL: {s[:80]}...")


def _in_string_literal(s: str, pos: int) -> bool:
    # '' escaping doubles the quote, so plain parity works
    return s.count("'", 0, pos) % 2 == 1


def _rewrite_tsql_calls(s: str) -> str:
    """T-SQL builtins the DML subset understands -> Spark SQL, paren- and
    literal-aware:

    - ``CONCAT(a, b, ...)`` -> NULL-as-empty concat (T-SQL CONCAT ignores
      NULLs; Spark's propagates) — each argument wraps
      ``coalesce(CAST(x AS STRING), '')``.
    - ``HASHBYTES('SHA2_256'|'SHA2_512'|'MD5', x)`` -> ``sha2(x, n)`` /
      ``md5(x)``.  Contract: HASHBYTES returns VARBINARY, the Spark twins
      return lowercase hex STRINGS — a bound hash column must store the
      hex form (the engine's change_hash, expressions.py E11, does).
    """
    out = s
    while True:
        m = next(
            (mm for mm in re.finditer(r"(?i)\b(CONCAT|HASHBYTES)\s*\(", out)
             if not _in_string_literal(out, mm.start())),
            None,
        )
        if m is None:
            break
        open_idx = out.index("(", m.end() - 1)
        close_idx = _find_matching_paren(out, open_idx)
        args = _split_top_level_commas(out[open_idx + 1: close_idx])
        if m.group(1).upper() == "CONCAT":
            inner = ", ".join(
                f"coalesce(CAST({a} AS STRING), '')" for a in args
            )
            repl = f"__tsql_concat__({inner})"
        else:
            if len(args) != 2:
                raise ValueError(f"HASHBYTES arity: {out[m.start():close_idx+1]}")
            alg = args[0].strip().strip("'").upper()
            if alg == "SHA2_256":
                repl = f"sha2({args[1]}, 256)"
            elif alg == "SHA2_512":
                repl = f"sha2({args[1]}, 512)"
            elif alg == "MD5":
                repl = f"md5({args[1]})"
            else:
                raise ValueError(f"unsupported HASHBYTES algorithm {alg!r}")
        out = out[: m.start()] + repl + out[close_idx + 1:]
    return out.replace("__tsql_concat__", "concat")


def _map_tables(s: str, views: dict[str, str]) -> str:
    """Map dotted table names to their bound temp-view names (the same
    word-boundary substitution :func:`rewrite_tsql` performs)."""
    for t in sorted(views, key=len, reverse=True):
        s = re.sub(
            rf"(?<![A-Za-z0-9_.]){re.escape(t)}(?![A-Za-z0-9_.])",
            views[t], s, flags=re.IGNORECASE,
        )
    return s


_SELECT_TABLE_REF_RE = re.compile(
    r"(?i)\b(?:FROM|JOIN)\s+([A-Za-z_]\w*(?:\.\w+)*)"
)


def _merge_parts(st: str):
    """Parse the auto-bindable MERGE shape; returns a dict or None.
    Resolves which ON side is target/source by alias."""
    m = _MERGE_RE.match(st)
    if not m:
        return None
    (tgt_t, tgt_a, src_t, src_a, a1, c1, a2, c2,
     mcond, setlist, icols_s, ivals_s) = m.groups()
    if {a1, a2} != {tgt_a, src_a} or a1 == a2:
        return None
    tkey = c1 if a1 == tgt_a else c2
    skey = c2 if a2 == src_a else c1
    sets: dict[str, str] = {}
    if setlist:
        for a in _split_top_level_commas(setlist):
            if "=" not in a:
                return None
            col, expr = a.split("=", 1)
            col = col.strip()
            if not re.fullmatch(r"\w+", col):
                return None
            sets[col] = expr.strip()
    icols = [c.strip() for c in icols_s.split(",") if c.strip()]
    ivals = _split_top_level_commas(ivals_s)
    if len(icols) != len(ivals):
        return None
    return {
        "target": tgt_t, "target_alias": tgt_a,
        "source": src_t, "source_alias": src_a,
        "target_key": tkey, "source_key": skey,
        "matched_cond": (mcond or "").strip() or None,
        "sets": sets, "insert_cols": icols, "insert_vals": ivals,
    }


_ALIAS_REF_RE = re.compile(r"\b(\w+)\.(\w+)\b")


def _split_sql_statements(s: str) -> list[str]:
    """Split a T-SQL batch on ``;`` OUTSIDE string literals."""
    parts = re.split(r"('(?:[^']|'')*')", s)
    stmts: list[str] = []
    cur: list[str] = []
    for i, part in enumerate(parts):
        if i % 2 == 1:
            cur.append(part)
            continue
        while ";" in part:
            head, part = part.split(";", 1)
            cur.append(head)
            st = "".join(cur).strip()
            if st:
                stmts.append(st)
            cur = []
        cur.append(part)
    tail = "".join(cur).strip()
    if tail:
        stmts.append(tail)
    return stmts


def _split_top_level_commas(s: str) -> list[str]:
    """Split an expression list on commas outside literals and parens."""
    parts = re.split(r"('(?:[^']|'')*')", s)
    out: list[str] = []
    cur: list[str] = []
    depth = 0
    for i, part in enumerate(parts):
        if i % 2 == 1:
            cur.append(part)
            continue
        for ch in part:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
    out.append("".join(cur).strip())
    return [x for x in out if x]


def _autobindable_dml(sql: str, spark=None, views=None) -> bool:
    """True when every ;-separated statement is an auto-bindable DML
    shape (insert-values / update-flag) — the bind-time eligibility
    check, run on the raw SQL (placeholders still in place).

    With ``spark``/``views`` the check also validates the statements
    against the BOUND schemas: every referenced table must be bound and
    every named column must exist on its bound frame.  A caller who
    binds ``etl.SyncLog`` without the audit columns keeps the honest
    manual_review classification instead of a run-time failure — the
    flip to ``bound`` happens only when the statement can actually
    execute."""
    bparts = re.split(r"('(?:[^']|'')*')", sql or "")
    for _k in range(0, len(bparts), 2):
        bparts[_k] = bparts[_k].replace("[", "").replace("]", "")
    stmts = _split_sql_statements(_strip_line_comments("".join(bparts)))
    if not stmts:
        return False

    def _cols(table: str) -> set[str] | None:
        view = (views or {}).get(table)
        if view is None:
            return None
        return {f.name for f in spark.table(view).schema.fields}

    for st in stmts:
        mu = _UPDATE_FLAG_RE.match(st)
        mi = _INSERT_VALUES_RE.match(st)
        mt = _TRUNCATE_RE.match(st)
        md = _DELETE_RANGE_RE.match(st)
        ms = _INSERT_SELECT_RE.match(st) if not mi else None
        mg = _merge_parts(st) if not (mu or mi or mt or md or ms) else None
        if not (mu or mi or mt or md or ms or mg):
            return False
        if spark is None or views is None:
            continue
        if mu or mi:
            have = _cols((mu or mi).group(1))
            if have is None:
                return False
            if mu:
                need = {mu.group(2), mu.group(4)}
            else:
                need = {c.strip() for c in mi.group(2).split(",")
                        if c.strip()}
            if not need <= have:
                return False
        elif mt:
            if _cols(mt.group(1)) is None:
                return False
        elif md:
            have = _cols(md.group(1))
            if have is None or md.group(2) not in have:
                return False
        elif ms:
            # target bound with the named columns; the SELECT tail must
            # be pure query (no nested DML/control flow) over BOUND
            # tables only — unresolvable names keep the honest manual
            # classification instead of a run-time failure
            have = _cols(ms.group(1))
            if have is None:
                return False
            need = {c.strip() for c in ms.group(2).split(",") if c.strip()}
            if not need <= have:
                return False
            sel = ms.group(3)
            if _MANUAL_KEYWORDS.search(sel):
                return False
            for ref in _SELECT_TABLE_REF_RE.findall(sel):
                if ref in views:
                    continue
                # a bare name may be a bound table's mangled view or a
                # dotted bound name's last segment — require full match
                return False
        else:
            tcols = _cols(mg["target"])
            scols = _cols(mg["source"])
            if tcols is None or scols is None:
                return False
            if mg["target_key"] not in tcols or mg["source_key"] not in scols:
                return False
            if not set(mg["sets"]) <= tcols:
                return False
            if not set(mg["insert_cols"]) <= tcols:
                return False
            # every alias-qualified reference in the arms must resolve
            exprs = list(mg["sets"].values()) + mg["insert_vals"]
            if mg["matched_cond"]:
                exprs.append(mg["matched_cond"])
            for expr in exprs:
                for alias, col in _ALIAS_REF_RE.findall(
                    re.sub(r"'(?:[^']|'')*'", "''", expr)
                ):
                    if alias == mg["target_alias"] and col not in tcols:
                        return False
                    if alias == mg["source_alias"] and col not in scols:
                        return False
    return True


def _run_dml_statements(
    spark, sql: str, views: dict[str, str], params: list, vars_: dict,
    ci: bool = False,
) -> DataFrame:
    """Execute an auto-bound DML batch in-view: parameters substitute
    through :func:`rewrite_tsql` (GETDATE -> current_timestamp first),
    each statement rewrites its table's temp view, and the LAST
    statement's post-state frame returns as the task output.

    - ``INSERT INTO t (cols) VALUES (...)`` appends ONE row (the D5
      audit shape): unlisted columns land NULL, every value casts to
      the view column's type.
    - ``UPDATE t SET c = v WHERE c2 = w`` flips the flag per-row (the
      D6 shape; in-view twin of ``sources/writers.py:update_flag`` —
      the atomic-swap writer materializes the same result to disk).
      Under ``ci`` a string-literal WHERE comparison folds
      case-insensitively, matching the SELECT-side collation contract.
    """
    s = _strip_line_comments(sql)
    s = re.sub(r"(?i)\bGETDATE\s*\(\s*\)", "current_timestamp()", s)
    s = _rewrite_tsql_calls(s)
    # substitution only — no table mapping (we need original names to
    # resolve views) and no CI fold (DML shapes are re-matched below;
    # the UPDATE's WHERE folds explicitly)
    s = rewrite_tsql(s, {}, params=params, variables=vars_)
    last: DataFrame | None = None
    for st in _split_sql_statements(s):
        m = _TRUNCATE_RE.match(st)
        if m:
            view = views.get(m.group(1))
            if view is None:
                raise ValueError(f"DML table {m.group(1)!r} not bound")
            # D1 in-view twin: the overwrite writer materializes the
            # same empty state to disk (CustomerDataLoad.dtsx:51)
            last = spark.table(view).limit(0)
            last.createOrReplaceTempView(view)
            continue
        m = _DELETE_RANGE_RE.match(st)
        if m:
            table, col, lo, hi = m.groups()
            view = views.get(table)
            if view is None:
                raise ValueError(f"DML table {table!r} not bound")
            cur = spark.table(view)
            # DELETE keeps rows where the predicate is FALSE or NULL
            cond = F.col(col).between(F.expr(lo), F.expr(hi))
            last = cur.filter(~F.coalesce(cond, F.lit(False)))
            last.createOrReplaceTempView(view)
            continue
        m = _INSERT_SELECT_RE.match(st)
        if m and not _INSERT_VALUES_RE.match(st):
            table, cols_s, sel = m.groups()
            view = views.get(table)
            if view is None:
                raise ValueError(f"DML table {table!r} not bound")
            cur = spark.table(view)
            mapped = _map_tables(sel, views)
            if ci:
                mapped = _fold_ci_sql(mapped)
            src = spark.sql(mapped)
            cols = [c.strip() for c in cols_s.split(",") if c.strip()]
            if len(cols) != len(src.columns):
                raise ValueError(
                    f"INSERT..SELECT {table}: {len(cols)} columns, "
                    f"{len(src.columns)} select expressions"
                )
            dtypes = dict(cur.dtypes)
            unknown = [c for c in cols if c not in dtypes]
            if unknown:
                raise ValueError(
                    f"INSERT..SELECT {table}: unknown columns {unknown}"
                )
            by_col = dict(zip(cols, src.columns))
            new = src.select(
                *[
                    (
                        F.col(by_col[c]) if c in by_col else F.lit(None)
                    ).cast(dtypes[c]).alias(c)
                    for c in cur.columns
                ]
            )
            last = cur.unionByName(new)
            last.createOrReplaceTempView(view)
            continue
        mg = _merge_parts(st)
        if mg:
            last = _run_merge_statement(spark, mg, views, ci=ci)
            continue
        m = _INSERT_VALUES_RE.match(st)
        if m:
            table, cols_s, vals_s = m.group(1), m.group(2), m.group(3)
            view = views.get(table)
            if view is None:
                raise ValueError(f"DML table {table!r} not bound")
            cols = [c.strip() for c in cols_s.split(",") if c.strip()]
            vals = _split_top_level_commas(vals_s)
            if len(cols) != len(vals):
                raise ValueError(
                    f"INSERT {table}: {len(cols)} columns, "
                    f"{len(vals)} values"
                )
            cur = spark.table(view)
            dtypes = dict(cur.dtypes)
            unknown = [c for c in cols if c not in dtypes]
            if unknown:
                raise ValueError(
                    f"INSERT {table}: unknown columns {unknown}"
                )
            by_col = dict(zip(cols, vals))
            row = spark.range(1).select(
                *[
                    (
                        F.expr(by_col[c]) if c in by_col
                        else F.lit(None)
                    ).cast(dtypes[c]).alias(c)
                    for c in cur.columns
                ]
            )
            last = cur.unionByName(row)
            last.createOrReplaceTempView(view)
            continue
        m = _UPDATE_FLAG_RE.match(st)
        if m:
            table, set_col, set_val, where_col, where_val = m.groups()
            view = views.get(table)
            if view is None:
                raise ValueError(f"DML table {table!r} not bound")
            cur = spark.table(view)
            wv = F.expr(where_val)
            wc = F.col(where_col)
            if ci and where_val.startswith("'"):
                cond = F.lower(wc) == F.lower(wv)
            else:
                cond = wc == wv
            last = cur.withColumn(
                set_col,
                F.when(cond, F.expr(set_val).cast(dict(cur.dtypes)[set_col]))
                .otherwise(F.col(set_col)),
            )
            last.createOrReplaceTempView(view)
            continue
        raise ValueError(f"not an auto-bindable DML statement: {st[:80]}")
    return last


def _run_merge_statement(
    spark, mg: dict, views: dict[str, str], ci: bool = False,
) -> DataFrame:
    """Execute the auto-bound MERGE shape in-view (the
    CustomerDataLoad.dtsx:166-181 SCD statement; the incremental-dim
    operator twin is ``operators/scd.py:merge_upsert``):

    - matched target rows whose MATCHED-arm condition holds -> the SET
      assignments applied (each cast to the target column's type);
      other matched + all unmatched target rows pass through unchanged;
    - source rows matching no target key -> inserted (listed columns
      from the VALUES exprs, unlisted columns NULL).

    Join-based rewrite, no Delta dependency: one LEFT JOIN for the
    update arm + one LEFT ANTI JOIN for the insert arm, both on the
    single ON equality — at scale both shuffle on exactly the MERGE
    key, and a broadcast hint fires automatically when the source side
    is small (AQE).  Precondition (T-SQL raises error 8672 here too):
    the source must be unique per join key — duplicate source keys
    would multiply matched target rows.

    ``ci=True`` folds the ON comparison to ``lower()`` when BOTH key
    columns are strings (the Lookup/MergeJoin collation contract)."""
    tview, sview = views.get(mg["target"]), views.get(mg["source"])
    if tview is None:
        raise ValueError(f"DML table {mg['target']!r} not bound")
    if sview is None:
        raise ValueError(f"DML table {mg['source']!r} not bound")
    tgt, src = spark.table(tview), spark.table(sview)
    ta, sa = mg["target_alias"], mg["source_alias"]
    tkey, skey = mg["target_key"], mg["source_key"]
    dtypes = dict(tgt.dtypes)
    stypes = dict(src.dtypes)
    if ci and dtypes.get(tkey) == "string" and stypes.get(skey) == "string":
        on_sql = f"LOWER({ta}.{tkey}) = LOWER({sa}.{skey})"
    else:
        on_sql = f"{ta}.{tkey} = {sa}.{skey}"
    match_ind = f"{sa}.{skey} IS NOT NULL"
    if mg["matched_cond"]:
        match_ind += f" AND ({mg['matched_cond']})"
    upd_cols = []
    for c in tgt.columns:
        if c in mg["sets"]:
            upd_cols.append(
                f"CASE WHEN {match_ind} THEN CAST(({mg['sets'][c]}) AS "
                f"{dtypes[c]}) ELSE {ta}.{c} END AS {c}"
            )
        else:
            upd_cols.append(f"{ta}.{c} AS {c}")
    upd_sql = (
        f"SELECT {', '.join(upd_cols)} FROM {tview} AS {ta} "
        f"LEFT JOIN {sview} AS {sa} ON {on_sql}"
    )
    ins_by = dict(zip(mg["insert_cols"], mg["insert_vals"]))
    ins_cols = [
        f"CAST(({ins_by[c]}) AS {dtypes[c]}) AS {c}" if c in ins_by
        else f"CAST(NULL AS {dtypes[c]}) AS {c}"
        for c in tgt.columns
    ]
    ins_sql = (
        f"SELECT {', '.join(ins_cols)} FROM {sview} AS {sa} "
        f"LEFT ANTI JOIN {tview} AS {ta} ON {on_sql}"
    )
    last = spark.sql(upd_sql).unionByName(spark.sql(ins_sql))
    last.createOrReplaceTempView(tview)
    return last


# ---------------------------------------------------------------------------
# Binder
# ---------------------------------------------------------------------------

@dataclass
class BoundTask:
    name: str
    task_type: str
    status: str       # bound | manual_review_required | documented_only
    detail: str = ""


def _mangle(pkg: DtsxPackage, table: str) -> str:
    return (
        re.sub(r"[^A-Za-z0-9_]", "_", pkg.name).lower()
        + "__"
        + table.replace(".", "_").lower()
    )


def bind_package(
    spark: SparkSession,
    pkg: DtsxPackage,
    tables: dict[str, DataFrame],
    variables: dict[str, object] | None = None,
    param_bindings: dict[str, list[str]] | None = None,
    sql_handlers: dict[str, Callable] | None = None,
    collation_ci: bool = False,
) -> tuple[Pipeline, list[BoundTask]]:
    """Bind a parsed package to the engine.

    ``tables``: referenced table name (as written in the package SQL, e.g.
    ``"dim.Customer"``) -> DataFrame.  ``variables`` override the package's
    declared variable values (the C3 contract).  ``param_bindings``: component
    or task NAME -> ordered variable names feeding its ``?`` placeholders.
    ``sql_handlers``: task name -> ``(frames, vars) -> DataFrame`` for
    ExecuteSQL tasks the subset rewriter cannot run (MERGE, DELETE+INSERT...).
    ``collation_ci``: SQL Server default-collation
    (``SQL_Latin1_General_CP1_CI_AS``) semantics for every STRING
    comparison the package performs — join keys in bound
    Lookup/MergeJoin (CustomerDataLoad.dtsx:122-129), Aggregate/Sort
    keys, AND (r13, r12 VERDICT #1) string-equality PREDICATES: embedded
    T-SQL ``WHERE Status = 'Success'`` / ``<>`` / ``IN`` against string
    literals (InventorySync.dtsx:60-62,118 — a CI server matches
    ``'SUCCESS'`` rows; without the fold a migrated package silently
    drops them), ConditionalSplit conditions, DerivedColumn ternaries,
    and EvaluateAsExpression variables.  The engine's default stays
    case-sensitive (Spark semantics), so packages migrated from a CI
    server opt in explicitly.

    Collation-fold DOMAIN (r14, the named contract boundary —
    pytest-pinned in ``TestCiUnicodeBoundary``): the fold is ``lower()``
    (Unicode simple case mapping).  It matches
    ``SQL_Latin1_General_CP1_CI_AS`` exactly on the ASCII repertoire and
    on Latin-1 case pairs (CP1252's case map agrees with Unicode's
    there, and CI_AS is accent-SENSITIVE, so accented-vs-plain stays
    distinct on both sides).  Known divergences, by name: ``'ß'`` vs
    ``'ss'`` (the server weighs them EQUAL, the fold keeps them
    distinct) and the Turkish dotted/dotless I pairs (``'İ'/'i'``,
    ``'ı'/'I'`` — equal under a Turkish_CI collation, distinct under
    the fold).  Data exercising those code points under ``ci=True``
    needs a bespoke collation mapping, not this fold.

    Returns (pipeline, report).  Each task becomes one :class:`Model` named
    by its ObjectName; precedence constraints become ``deps``; a data-flow
    model's DataFrame is its destination input, also registered as a temp
    view named after the destination table so downstream SQL tasks can read
    it.
    """
    vars_all = pkg.variable_values()
    vars_all.update(variables or {})
    _resolve_variable_expressions(spark, pkg, vars_all,
                                  set(variables or {}), ci=collation_ci)
    views = {t: _mangle(pkg, t) for t in tables}
    for t, df in tables.items():
        df.createOrReplaceTempView(views[t])

    # Sequence containers flatten into the pipeline; a constraint touching
    # a container applies to every member (entering edge: all members wait;
    # leaving edge: downstream waits for all members)
    flat, names_of, extra_edges = _expand_containers(pkg.tasks)
    seen: set[str] = set()
    for t in flat:
        if t.name in seen:
            raise ValueError(
                f"duplicate task name {t.name!r} after container flattening "
                "— model names must be unique"
            )
        seen.add(t.name)
    deps: dict[str, list[str]] = {t.name: [] for t in flat}
    for frm, to in list(pkg.constraints) + extra_edges:
        for dst in names_of.get(to, []):
            deps[dst].extend(names_of.get(frm, []))

    pipe = Pipeline(spark=spark, vars=vars_all)
    report: list[BoundTask] = []
    for task in flat:
        model, bound = _bind_task(
            spark, pkg, task, views, param_bindings or {}, sql_handlers or {},
            ci=collation_ci,
        )
        model.deps = deps[task.name]
        pipe.add(model)
        report.append(bound)
    return pipe, report


def _resolve_variable_expressions(
    spark, pkg: DtsxPackage, vars_all: dict, overridden: set[str],
    ci: bool = False,
) -> None:
    """Evaluate EvaluateAsExpression variables (reference Variable model,
    src/parser/models.py:53-61): each compiles through the SSIS expression
    compiler against the other variables and collapses to a Python scalar
    via a 1-row select.  Multi-pass so expressions may reference other
    expression variables; caller overrides win (C3) and are not
    re-evaluated."""
    from .expressions import compile_ssis_expression

    pending = {
        v.qualified: v.expression
        for v in pkg.variables
        if v.expression and v.qualified not in overridden
    }
    # an unevaluated expression variable must be INVISIBLE, not its declared
    # default: a reference to it retries next pass (dependency order), and a
    # true cycle stalls into the error below instead of silently reading
    # stale defaults
    for name in pending:
        vars_all.pop(name, None)
    last_err: Exception | None = None
    for _ in range(len(pending) + 1):
        if not pending:
            return
        progressed = False
        for name, expr in list(pending.items()):
            try:
                col = compile_ssis_expression(expr, variables=vars_all,
                                              ci=ci)
                vars_all[name] = spark.range(1).select(col.alias("v")).first()["v"]
            except Exception as exc:  # may depend on a still-pending variable
                last_err = exc
                continue
            pending.pop(name)
            progressed = True
        if not progressed:
            break
    raise ValueError(
        f"cannot evaluate variable expressions {sorted(pending)}: {last_err}"
    )


def _kind(task: DtsxTask) -> str:
    """Normalize 'Microsoft.ForEachLoop' / 'STOCK:FOREACHLOOP' to
    'FOREACHLOOP' (real packages use either form)."""
    return task.task_type.rsplit(".", 1)[-1].rsplit(":", 1)[-1].upper()


def _expand_containers(
    tasks: list[DtsxTask],
) -> tuple[list[DtsxTask], dict[str, list[str]], list[tuple[str, str]]]:
    """Flatten Sequence containers.  Returns (flat task list, container/task
    refId -> member model names, intra-container constraint edges).  Loop
    containers stay single tasks (their children run inside the loop
    model)."""
    flat: list[DtsxTask] = []
    names_of: dict[str, list[str]] = {}
    edges: list[tuple[str, str]] = []

    def walk(t: DtsxTask) -> list[str]:
        if _kind(t) == "SEQUENCE":
            members: list[str] = []
            for c in t.children:
                members += walk(c)
            names_of[t.ref_id] = members
            edges.extend(t.child_constraints)
            return members
        flat.append(t)
        names_of[t.ref_id] = [t.name]
        return [t.name]

    for t in tasks:
        walk(t)
    return flat, names_of, edges


def _child_order(task: DtsxTask) -> list[DtsxTask]:
    """Topo-order a container's children by its own precedence constraints
    (deterministic: ready children run in name order)."""
    ref2name = {c.ref_id: c.name for c in task.children}
    deps: dict[str, set[str]] = {c.name: set() for c in task.children}
    for frm, to in task.child_constraints:
        if frm in ref2name and to in ref2name:
            deps[ref2name[to]].add(ref2name[frm])
    order: list[str] = []
    remaining = dict(deps)
    while remaining:
        ready = sorted(
            n for n, d in remaining.items() if not (d & set(remaining))
        )
        if not ready:
            raise ValueError(
                f"cycle in container {task.name} constraints"
            )
        for n in ready:
            order.append(n)
            remaining.pop(n)
    by_name = {c.name: c for c in task.children}
    return [by_name[n] for n in order]


def _forloop_values(task: DtsxTask) -> tuple[str, list[int]]:
    """Evaluate the canonical SSIS ForLoop counter pattern:
    Init ``@V = a``, Eval ``@V < b`` / ``@V <= b``, Assign ``@V = @V + s``.
    """
    m_init = re.match(
        r"\s*@\[?([\w:]+)\]?\s*=\s*(-?\d+)\s*$", task.for_init or ""
    )
    m_eval = re.match(
        r"\s*@\[?([\w:]+)\]?\s*(<=|<)\s*(-?\d+)\s*$", task.for_eval or ""
    )
    if not (m_init and m_eval):
        raise ValueError(
            f"ForLoop {task.name}: unsupported Init/Eval expressions "
            f"({task.for_init!r}, {task.for_eval!r})"
        )
    m_asgn = re.search(r"\+\s*(-?\d+)", task.for_assign or "")
    var, start = m_init.group(1), int(m_init.group(2))
    op, bound = m_eval.group(2), int(m_eval.group(3))
    step = int(m_asgn.group(1)) if m_asgn else 1
    if step <= 0:
        raise ValueError(f"ForLoop {task.name}: non-positive step {step}")
    vals: list[int] = []
    i = start
    while (i < bound) if op == "<" else (i <= bound):
        vals.append(i)
        i += step
        if len(vals) > 100_000:
            raise ValueError(f"ForLoop {task.name}: more than 100k iterations")
    return var, vals


def _bind_loop(spark, pkg, task, views, param_bindings, sql_handlers,
               ci=False):
    """ForEachLoop / ForLoop container: children run once per item in
    constraint order with the mapped variable bound (the C2 contract the
    engine's ``foreach_partition_values`` implements for hand-built
    pipelines).  The model's frame is the per-item union of the LAST child's
    output when the schemas align, else a per-item status frame."""

    def build(frames, vars_):
        if _kind(task) == "FORLOOP":
            var, items = _forloop_values(task)
        else:
            var, items = task.foreach_var, list(task.enumerator_items)
        order = _child_order(task)
        outs = []
        for item in items:
            if var:
                vars_[var] = item
            last = None
            for child in order:
                model, _ = _bind_task(
                    spark, pkg, child, views, param_bindings, sql_handlers,
                    ci=ci,
                )
                last = model.build(frames, vars_)
            if last is not None:
                outs.append((item, last))
        if not outs:
            return spark.createDataFrame(
                [(task.name, 0)], "task string, iterations int"
            )
        try:
            merged = outs[0][1]
            for _, df in outs[1:]:
                merged = merged.unionByName(df)
            return merged
        except Exception:  # heterogeneous child outputs across iterations
            return spark.createDataFrame(
                [(task.name, str(i)) for i, _ in outs],
                "task string, item string",
            )

    detail = (
        f"{len(task.enumerator_items)} items"
        if _kind(task) == "FOREACHLOOP"
        else "counter loop"
    ) + f", {len(task.children)} children"
    return Model(name=task.name, build=build), BoundTask(
        task.name, task.task_type, "bound", f"loop container ({detail})"
    )


def _noop_model(spark: SparkSession, task: DtsxTask, status: str) -> Model:
    def build(frames, vars_):
        return spark.createDataFrame(
            [(task.name, task.task_type, status)],
            "task string, task_type string, status string",
        )

    return Model(name=task.name, build=build)


def _bind_task(spark, pkg, task, views, param_bindings, sql_handlers,
               ci=False):
    if _kind(task) in ("FOREACHLOOP", "FORLOOP"):
        return _bind_loop(spark, pkg, task, views, param_bindings,
                          sql_handlers, ci=ci)
    if task.task_type == "Microsoft.Pipeline":
        def build(frames, vars_, _task=task):
            return _run_dataflow(spark, pkg, _task, views, vars_,
                                 param_bindings, ci=ci)

        return Model(name=task.name, build=build), BoundTask(
            task.name, task.task_type, "bound", "data flow"
        )
    if task.task_type == "Microsoft.ExecuteSQLTask":
        if task.name in sql_handlers:
            handler = sql_handlers[task.name]

            def build(frames, vars_, _h=handler):
                return _h(frames, vars_)

            return Model(name=task.name, build=build), BoundTask(
                task.name, task.task_type, "bound", "caller handler"
            )
        if task.sql and classify_sql(task.sql) == "runnable":
            def build(frames, vars_, _task=task, _ci=ci):
                sql = rewrite_tsql(
                    _task.sql,
                    views,
                    params=[
                        vars_[v] for v in param_bindings.get(_task.name, [])
                    ],
                    variables=vars_,
                    ci=_ci,
                )
                return spark.sql(sql)

            return Model(name=task.name, build=build), BoundTask(
                task.name, task.task_type, "bound",
                f"spark.sql ({task.result_type or 'no result set'})",
            )
        if task.sql and _autobindable_dml(task.sql, spark, views):
            # r13 (r12 VERDICT #6): the audit-INSERT + flag-UPDATE pair
            # (InventorySync.dtsx:266-269) auto-binds — the engine owns
            # both writers (D5/D6); execution is in-view so downstream
            # tasks read the post-DML state
            def build(frames, vars_, _task=task, _ci=ci):
                return _run_dml_statements(
                    spark,
                    _task.sql,
                    views,
                    params=[
                        vars_[v] for v in param_bindings.get(_task.name, [])
                    ],
                    vars_=vars_,
                    ci=_ci,
                )

            return Model(name=task.name, build=build), BoundTask(
                task.name, task.task_type, "bound",
                "auto-bound DML (insert-values / update-flag / truncate / "
                "delete-range / insert-select / merge shapes, D1-D6/J4)",
            )
        return _noop_model(spark, task, "manual_review_required"), BoundTask(
            task.name, task.task_type, "manual_review_required",
            "T-SQL control flow / DML — supply sql_handlers entry",
        )
    if task.task_type == "Microsoft.ScriptTask":
        return _noop_model(spark, task, "manual_review_required"), BoundTask(
            task.name, task.task_type, "manual_review_required",
            "script task (reference flags these for manual conversion)",
        )
    if task.task_type in _MANUAL_REVIEW_REASONS:
        # r12 (r11 VERDICT #8): the reference explicitly flags these
        # for manual review (constants.py:56-62) rather than merely
        # documenting them — side-effectful host interactions (process
        # launch, FTP transfer, filesystem mutation) that no SQL/Spark
        # rewrite can absorb
        return _noop_model(spark, task, "manual_review_required"), BoundTask(
            task.name, task.task_type, "manual_review_required",
            _MANUAL_REVIEW_REASONS[task.task_type],
        )
    return _noop_model(spark, task, "documented_only"), BoundTask(
        task.name, task.task_type, "documented_only", ""
    )


# ---------------------------------------------------------------------------
# Data-flow execution.
#
# Wiring: when the pipeline XML carries <paths> (the standard dtsx wiring:
# startId = "...Comp.Outputs[Name]", endId = "...Comp.Inputs[Name]"), the
# components execute as a DAG and multi-output components (ConditionalSplit,
# Lookup's no-match output) route each named output to its consumer.  The
# reference's own samples omit <paths>; those chain in document order,
# each component consuming the previous one's primary output.
#
# Component coverage = the reference parser's full vocabulary
# (src/parser/constants.py:22-39): OLEDB/FlatFile/Excel source+destination,
# Lookup, DerivedColumn, ConditionalSplit, DataConversion, Sort, Aggregate,
# RowCount, UnionAll, Merge, MergeJoin.
# ---------------------------------------------------------------------------

_PRIMARY = "__primary__"


def _port(ref: str, kind: str) -> tuple[str, str | None]:
    """Split "...Comp.Outputs[Name]" into (component refId, port name)."""
    marker = f".{kind}["
    i = ref.find(marker)
    if i < 0:
        return ref, None
    return ref[:i], ref[i + len(marker):].rstrip("]")


def _dataflow_order(task: DtsxTask) -> dict[str, list[tuple[str, str | None]]]:
    """incoming edges per component refId; empty lists for sources."""
    incoming: dict[str, list[tuple[str, str | None]]] = {
        c.ref_id: [] for c in task.components
    }
    if task.paths:
        for start, end in task.paths:
            src_ref, out_name = _port(start, "Outputs")
            dst_ref, _ = _port(end, "Inputs")
            if src_ref not in incoming or dst_ref not in incoming:
                raise ValueError(f"path references unknown component: {start}")
            incoming[dst_ref].append((src_ref, out_name))
        return incoming
    prev: str | None = None
    for c in task.components:
        cls = c.class_id.rsplit(".", 1)[-1]
        is_source = cls in ("OLEDBSource", "FlatFileSource", "ExcelSource")
        if prev is not None and not is_source:
            incoming[c.ref_id].append((prev, None))
        prev = c.ref_id
    return incoming


def _run_dataflow(spark, pkg, task, views, vars_, param_bindings,
                  ci=False) -> DataFrame:
    if not task.components:
        raise ValueError(f"data flow {task.name} has no components")
    incoming = _dataflow_order(task)
    results: dict[str, dict[str, DataFrame]] = {}
    last: dict[str, DataFrame] | None = None
    pending = list(task.components)
    while pending:
        progressed = False
        for comp in list(pending):
            if any(src not in results for src, _ in incoming[comp.ref_id]):
                continue
            ins = []
            for src, out_name in incoming[comp.ref_id]:
                outs = results[src]
                if out_name is not None and out_name in outs:
                    ins.append(outs[out_name])
                else:
                    ins.append(outs[_PRIMARY])
            outs = _bind_component(
                spark, pkg, comp, ins, views, vars_, param_bindings, ci=ci
            )
            results[comp.ref_id] = outs
            last = outs
            pending.remove(comp)
            progressed = True
        if not progressed:
            raise ValueError(
                f"data flow {task.name}: cycle or dangling path among "
                f"{[c.name for c in pending]}"
            )
    assert last is not None
    return last[_PRIMARY]


def _one(ins: list[DataFrame], comp: DtsxComponent) -> DataFrame:
    if len(ins) != 1:
        raise ValueError(
            f"{comp.class_id.rsplit('.', 1)[-1]} {comp.name} expects exactly "
            f"one input, got {len(ins)}"
        )
    return ins[0]


def _file_path(pkg: DtsxPackage, comp: DtsxComponent) -> str:
    """FlatFile/Excel connection managers carry the file path as their
    connection string — the actual SSIS contract for file connections."""
    for cm in pkg.connection_managers:
        if cm.ref_id == comp.connection_ref:
            if not cm.connection_string:
                break
            return cm.connection_string
    raise ValueError(
        f"{comp.name}: no connection manager with a file path "
        f"({comp.connection_ref!r})"
    )


def _declared_schema(comp: DtsxComponent):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(c.name, c.spark_type())
            for c in comp.output_columns
        ]
    )


def _bind_component(
    spark, pkg, comp, ins, views, vars_, param_bindings, ci=False
) -> dict[str, DataFrame]:
    cls = comp.class_id.rsplit(".", 1)[-1]
    if cls == "OLEDBSource":
        return {_PRIMARY: _bind_source(spark, comp, views, vars_,
                                       param_bindings, ci=ci)}
    if cls == "FlatFileSource":
        from .sources.readers import read_csv

        delim = comp.properties.get("ColumnDelimiter", ",")
        header = comp.properties.get("Header", "true").lower() != "false"
        return {
            _PRIMARY: read_csv(
                spark, _file_path(pkg, comp), _declared_schema(comp),
                header=header, delimiter=delim,
            )
        }
    if cls == "ExcelSource":
        from .sources.readers import read_excel

        return {
            _PRIMARY: read_excel(
                spark, _file_path(pkg, comp), _declared_schema(comp),
                sheet=comp.properties.get("OpenRowset") or None,
            )
        }
    if cls == "Lookup":
        return _bind_lookup(spark, _one(ins, comp), comp, views, vars_, ci=ci)
    if cls == "DerivedColumn":
        return {_PRIMARY: _bind_derived(_one(ins, comp), comp, vars_,
                                        ci=ci)}
    if cls == "ConditionalSplit":
        return _bind_conditional_split(_one(ins, comp), comp, vars_,
                                       ci=ci)
    if cls == "DataConversion":
        return _bind_data_conversion(_one(ins, comp), comp)
    if cls == "Sort":
        from .operators.setops import sort as sort_op

        if not comp.sort_keys:
            raise ValueError(f"Sort {comp.name}: no sortKeyPosition inputs")
        df_in = _one(ins, comp)
        dtypes = dict(df_in.dtypes)
        keys = []
        for name, pos in sorted(comp.sort_keys, key=lambda t: abs(t[1])):
            asc = pos > 0
            # r12: under CI collation a string sort key orders by its
            # lower() fold (direction follows sortKeyPosition's sign),
            # original value as the immediate deterministic tiebreaker.
            # r12 ADVICE: the tiebreak is ALWAYS ascending — SQL Server's
            # CI order within fold-equal runs is arbitrary, so the
            # tiebreak is our convention, and operators/setops.sort(ci=)
            # already fixed it as ascending; one convention everywhere.
            if ci and dtypes.get(name, "").startswith(
                ("string", "varchar", "char")
            ):
                fold = F.lower(F.col(name))
                keys.append(fold.asc() if asc else fold.desc())
                keys.append(F.col(name).asc())
                continue
            keys.append(F.col(name).asc() if asc else F.col(name).desc())
        return {_PRIMARY: sort_op(df_in, keys)}
    if cls == "Aggregate":
        return {_PRIMARY: _bind_aggregate(_one(ins, comp), comp, ci=ci)}
    if cls == "RowCount":
        # SSIS RowCount streams a count into a package variable; here the
        # count is one action over the input (documented cost), rows pass
        # through unchanged
        df = _one(ins, comp)
        var = comp.properties.get("VariableName")
        if var:
            vars_[var.replace("@", "").replace("[", "").replace("]", "")] = (
                df.count()
            )
        return {_PRIMARY: df}
    if cls == "UnionAll":
        from .operators.setops import union_all

        if not ins:
            raise ValueError(f"UnionAll {comp.name} has no inputs")
        return {_PRIMARY: union_all(*ins)}
    if cls == "Merge":
        from .operators.setops import merge_sorted

        if len(ins) != 2:
            raise ValueError(f"Merge {comp.name} expects two inputs")
        keys = [
            name for name, _ in sorted(comp.sort_keys, key=lambda t: abs(t[1]))
        ]
        if not keys:
            raise ValueError(f"Merge {comp.name}: no sortKeyPosition inputs")
        return {_PRIMARY: merge_sorted(ins[0], ins[1], keys)}
    if cls == "MergeJoin":
        from .operators.joins import merge_join

        if len(ins) != 2:
            raise ValueError(f"MergeJoin {comp.name} expects two inputs")
        how = {
            "0": "full", "1": "left", "2": "inner",
        }.get(comp.properties.get("JoinType", "2").strip(), "inner")
        keys_prop = comp.properties.get("JoinKeys", "")
        keys = [k.strip() for k in keys_prop.split(",") if k.strip()] or [
            name for name, _ in sorted(comp.sort_keys, key=lambda t: abs(t[1]))
        ]
        if not keys:
            raise ValueError(f"MergeJoin {comp.name}: no join keys")
        return {_PRIMARY: merge_join(ins[0], ins[1], on=keys, how=how,
                                     ci=ci)}
    if cls in ("OLEDBDestination", "FlatFileDestination", "ExcelDestination"):
        return {
            _PRIMARY: _bind_destination(spark, pkg, _one(ins, comp), comp, cls)
        }
    raise ValueError(
        f"unsupported data-flow component {comp.class_id} ({comp.name}) — "
        "outside the reference parser vocabulary "
        "(src/parser/constants.py:22-39)"
    )


def _bind_conditional_split(df, comp, vars_, ci=False) -> dict[str, DataFrame]:
    """First-match routing per the component's output Expressions in
    EvaluationOrder; the output WITHOUT an expression is the default and
    carries the chain forward (document-order mode), while every named
    output remains addressable through <paths>."""
    from .operators.split import conditional_split

    schema_map = {f.name: f.dataType for f in df.schema.fields}
    compiler = SSISExpressionCompiler(columns=schema_map, variables=vars_,
                                      ci=ci)
    conds = []
    default_name = "default"
    for out in comp.outputs:
        if out.is_error_out:
            continue
        expr = out.properties.get("Expression")
        if expr:
            order = int(out.properties.get("EvaluationOrder", len(conds)))
            conds.append((order, out.name, compiler.compile(expr)))
        else:
            default_name = out.name
    conds.sort(key=lambda t: t[0])
    split = conditional_split(
        df, [(name, cond) for _, name, cond in conds], default_name
    )
    split[_PRIMARY] = split[default_name]
    return split


def _bind_data_conversion(df, comp) -> dict[str, DataFrame]:
    """Typed 'Copy of X' columns: source from the column's declared
    SourceInputColumn/sourceColumn, else the SSIS naming convention.
    A declared error output (``isErrorOut``) switches to the try_cast
    routing form: rows whose conversion fails (non-null input, null cast)
    flow to the error output carrying the failing source column, matching
    the SSIS component's ErrorColumn stream."""
    conversions = {}
    err_cols = []
    for out in comp.outputs:
        for c in out.columns:
            src = c.source_column
            if not src and c.name.startswith("Copy of "):
                src = c.name[len("Copy of "):]
            if not src:
                raise ValueError(
                    f"DataConversion {comp.name}: cannot infer source for "
                    f"{c.name!r} (declare SourceInputColumn)"
                )
            conversions[c.name] = (src, c.spark_type())
    error_outs = [o for o in comp.outputs if o.is_error_out]
    if not error_outs:
        from .operators.split import data_conversion

        return {_PRIMARY: data_conversion(df, conversions)}
    from .operators.split import data_conversion_with_errors

    tagged = data_conversion_with_errors(
        df,
        {new: (src, t.simpleString()) for new, (src, t) in conversions.items()},
    )
    ok = tagged.filter(F.col("conv_route") == "converted").drop(
        "conv_route", "conv_error_col"
    )
    err = tagged.filter(F.col("conv_route") == "error").drop("conv_route")
    outs = {_PRIMARY: ok}
    for o in error_outs:
        outs[o.name] = err
    return outs


_AGG_FUNCS = {
    "sum": F.sum,
    "avg": F.avg,
    "average": F.avg,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(c),
    "count_distinct": F.count_distinct,
    "countdistinct": F.count_distinct,
}


def _bind_aggregate(df, comp, ci=False) -> DataFrame:
    """SSIS Aggregate: output columns whose AggregationType is group_by are
    the keys; the rest aggregate their source column (SourceInputColumn,
    default = own name) under the declared function.

    ``ci`` (r12): SQL Server CI-collation GROUP BY on string keys —
    routed through ``grouped_aggregate(ci=True)`` (group on the lower()
    fold, MIN-case representative), so a package migrated from a CI
    server keeps its source-side group cardinality."""
    key_pairs = []  # (output name, source column)
    aggs = []
    agg_map = {}
    for c in comp.output_columns:
        kind = (c.aggregation or "group_by").lower()
        src = c.source_column or c.name
        if kind in ("group_by", "groupby"):
            key_pairs.append((c.name, src))
        elif kind == "count_all":
            agg_map[c.name] = F.count(F.lit(1))
            aggs.append(F.count(F.lit(1)).alias(c.name))
        elif kind in _AGG_FUNCS:
            agg_map[c.name] = _AGG_FUNCS[kind](F.col(src))
            aggs.append(_AGG_FUNCS[kind](F.col(src)).alias(c.name))
        else:
            raise ValueError(
                f"Aggregate {comp.name}: unsupported AggregationType "
                f"{c.aggregation!r} for {c.name!r}"
            )
    if not aggs:
        raise ValueError(f"Aggregate {comp.name}: no aggregate columns")
    if ci:
        from .operators.aggregate import grouped_aggregate

        work = df
        for name, src in key_pairs:
            if name != src:
                work = work.withColumn(name, F.col(src))
        out = grouped_aggregate(
            work, [name for name, _ in key_pairs], agg_map, ci=True
        )
    else:
        out = df.groupBy(
            *[F.col(src).alias(name) for name, src in key_pairs]
        ).agg(*aggs)
    for c in comp.output_columns:
        if c.data_type:
            out = out.withColumn(c.name, F.col(c.name).cast(c.spark_type()))
    return out


def _bind_source(spark, comp, views, vars_, param_bindings,
                 ci=False) -> DataFrame:
    sql = comp.properties.get("SqlCommand")
    if sql:
        params = [vars_[v] for v in param_bindings.get(comp.name, [])]
        df = spark.sql(rewrite_tsql(sql, views, params=params,
                                    variables=vars_, ci=ci))
    else:
        table = comp.properties.get("OpenRowset", "").replace("[", "").replace("]", "")
        view = views.get(table)
        if view is None:
            raise ValueError(f"source table {table!r} not bound")
        df = spark.table(view)
    # enforce the declared output schema: explicit cast per column, never
    # inference (the engine contract from SURVEY §1.2)
    if comp.output_columns:
        df = df.select(
            *[
                F.col(c.name).cast(c.spark_type()).alias(c.name)
                for c in comp.output_columns
            ]
        )
    return df


def _bind_lookup(spark, df, comp, views, vars_, ci=False) -> dict[str, DataFrame]:
    if df is None:
        raise ValueError(f"lookup {comp.name} has no upstream source")
    dim = spark.sql(rewrite_tsql(comp.properties["SqlCommand"], views,
                                 variables=vars_, ci=ci))
    out_names = [c.name for c in comp.output_columns]
    # dim columns not in the declared output are the reference (join) side,
    # matched positionally with the input columns' cachedNames — the sample
    # packages' implicit lineage mapping (SalesFactETL.dtsx:140-227)
    join_dim = [c for c in dim.columns if c not in out_names]
    input_cols = list(comp.input_columns)
    if not input_cols:
        # InventorySync.dtsx's lookups declare no <inputs>: recover the
        # mapping by name — exact match first, else the unique upstream
        # column whose name ends with the dim column's (ProductSKU ~ SKU)
        for dcol in join_dim:
            if dcol in df.columns:
                input_cols.append(dcol)
                continue
            suffix = [c for c in df.columns if c.lower().endswith(dcol.lower())]
            if len(suffix) != 1:
                raise ValueError(
                    f"lookup {comp.name}: no <inputs> and dim join column "
                    f"{dcol!r} matches {suffix or 'nothing'} upstream"
                )
            input_cols.append(suffix[0])
    if len(join_dim) != len(input_cols):
        raise ValueError(
            f"lookup {comp.name}: cannot match input columns "
            f"{input_cols} to dim join columns {join_dim}"
        )
    for dcol, fcol in zip(join_dim, input_cols):
        if dcol != fcol:
            dim = dim.withColumnRenamed(dcol, fcol)
    no_match = (
        LookupNoMatch.FAIL
        if comp.properties.get("NoMatchBehavior", "1").strip() == "0"
        else LookupNoMatch.IGNORE
    )
    # CacheType 0 = Full cache -> broadcast the dim (the samples' mode);
    # Partial/None caches mean the dim is too big to hold -> shuffled join
    full_cache = comp.properties.get("CacheType", "0").strip() == "0"
    out = lookup(
        df,
        dim,
        on=input_cols,
        select={n: n for n in out_names},
        no_match=no_match,
        broadcast=full_cache,
        ci=ci,
    )
    for c in comp.output_columns:
        out = out.withColumn(c.name, F.col(c.name).cast(c.spark_type()))
    # the no-match output (consumable through <paths>, lazy until consumed):
    # upstream rows with no dim partner — the SSIS redirect-no-match stream
    from .operators.joins import anti_join

    no_match_rows = anti_join(
        df,
        F.broadcast(dim.select(*input_cols).distinct()),
        on=input_cols,
        ci=ci,
    )
    return {
        _PRIMARY: out,
        "Lookup Match Output": out,
        "Lookup No Match Output": no_match_rows,
    }


def _bind_derived(df, comp, vars_, ci=False) -> DataFrame:
    if df is None:
        raise ValueError(f"derived column {comp.name} has no upstream source")
    schema_map = {f.name: f.dataType for f in df.schema.fields}
    for c in comp.output_columns:
        compiler = SSISExpressionCompiler(columns=schema_map, variables=vars_,
                                          ci=ci)
        col = compiler.compile(c.expression or "")
        df = df.withColumn(c.name, col.cast(c.spark_type()))
        schema_map[c.name] = c.spark_type()
    return df


def _bind_destination(
    spark, pkg, df, comp, cls: str = "OLEDBDestination"
) -> DataFrame:
    if df is None:
        raise ValueError(f"destination {comp.name} has no upstream source")
    table = comp.properties.get("OpenRowset", "").replace("[", "").replace("]", "")
    if table:
        df.createOrReplaceTempView(_mangle(pkg, table))
    if cls == "FlatFileDestination":
        # the flat-file connection manager's connection string IS the path
        path = _file_path(pkg, comp)
        df.write.mode("overwrite").option("header", "true").csv(path)
        return spark.read.option("header", "true").schema(df.schema).csv(path)
    if cls == "ExcelDestination":
        from .sources.writers import write_xlsx

        rows = [list(r) for r in df.collect()]  # driver-side by design:
        # Excel is a small-dimension/report sink, never fact data
        write_xlsx(df.columns, rows, _file_path(pkg, comp))
    return df


def referenced_tables(pkg: DtsxPackage) -> list[str]:
    """Every table name the package's embedded SQL / OpenRowset properties
    reference — the caller's binding checklist (what to pass as ``tables``).
    Heuristic over the T-SQL subset: FROM/JOIN/dotted OpenRowset targets."""
    names: set[str] = set()

    def scan_sql(sql: str | None) -> None:
        if not sql:
            return
        s = sql.replace("[", "").replace("]", "")
        for m in re.finditer(
            r"(?i)\b(?:FROM|JOIN|INTO|UPDATE|MERGE)\s+([A-Za-z_][\w]*\.[A-Za-z_][\w]*)",
            s,
        ):
            names.add(m.group(1))

    def walk(task: DtsxTask) -> None:
        scan_sql(task.sql)
        for comp in task.components:
            scan_sql(comp.properties.get("SqlCommand"))
            table = comp.properties.get("OpenRowset", "")
            table = table.replace("[", "").replace("]", "")
            if "." in table and comp.class_id.endswith("Source"):
                names.add(table)
        for c in task.children:
            walk(c)

    for t in pkg.tasks:
        walk(t)
    return sorted(names)


def package_report(pkg: DtsxPackage, bound: list[BoundTask]) -> str:
    """Markdown conversion report for a bound package — the engine-side
    analog of the reference's parsing report artifact
    (``output/parsing_report.md``): binding status per task, the tables the
    caller must bind, and the precedence order the pipeline will run."""
    lines = [f"# Package binding report: {pkg.name}", ""]
    if pkg.description:
        lines += [f"_{pkg.description}_", ""]
    by_status: dict[str, int] = {}
    for b in bound:
        by_status[b.status] = by_status.get(b.status, 0) + 1
    lines += ["## Summary", "", "| Status | Tasks |", "|---|---|"]
    for status in sorted(by_status):
        lines.append(f"| {status} | {by_status[status]} |")
    lines += ["", "## Tasks", "", "| Task | Type | Status | Detail |", "|---|---|---|---|"]
    for b in bound:
        lines.append(
            f"| {b.name} | {b.task_type.rsplit('.', 1)[-1]} | {b.status} "
            f"| {b.detail} |"
        )
    tables = referenced_tables(pkg)
    lines += ["", "## Tables to bind", ""]
    lines += [f"- `{t}`" for t in tables] or ["- (none)"]
    ref_to_name = {t.ref_id: t.name for t in pkg.tasks}
    if pkg.constraints:
        lines += ["", "## Execution order", "", "```"]
        for frm, to in pkg.constraints:
            lines.append(
                f"{ref_to_name.get(frm, frm)} -> {ref_to_name.get(to, to)}"
            )
        lines.append("```")
    lines += [
        "",
        "Variables: "
        + ", ".join(f"`{v.qualified}`" for v in pkg.variables or []),
        "",
    ]
    return "\n".join(lines)


def run_package(
    spark: SparkSession,
    path: str,
    tables: dict[str, DataFrame],
    variables: dict[str, object] | None = None,
    param_bindings: dict[str, list[str]] | None = None,
    sql_handlers: dict[str, Callable] | None = None,
    collation_ci: bool = False,
) -> tuple[dict[str, DataFrame], list[BoundTask]]:
    """Parse + bind + execute a package; returns ({task name -> DataFrame},
    report).  Data-flow tasks yield their destination input; runnable SQL
    tasks yield their result set; manual/documented tasks yield a 1-row
    status frame."""
    pkg = parse_dtsx(path)
    pipe, report = bind_package(
        spark, pkg, tables, variables, param_bindings, sql_handlers,
        collation_ci=collation_ci,
    )
    frames = pipe.run({})
    return frames, report
