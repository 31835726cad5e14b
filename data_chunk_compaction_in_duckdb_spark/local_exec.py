"""Driver-local execution of tiny point and range reads.

A serving read returns a row or a handful, yet through Spark it pays for
a job: scheduling, a Java compile for each new key, a task and the
result fetch.  `run` reads such a statement's rows on the driver with
pyarrow and returns them as a DataFrame over a ``LocalRelation``, whose
actions run no Spark job.  DuckDB (SIGMOD 2019) makes the case that an
embedded engine has to make short statements cheap; the reference's
CompactingPhysicalOperator likewise sends an input under a size
threshold down a cheaper path.

Eligibility comes from Spark's own plans, not from the SQL text.  A
statement is read locally when all of these hold; the first rule it
breaks is the fallback reason `run` counts:

- shape: the optimized plan is Project/Filter over exactly one parquet
  ``LogicalRelation`` (a fixture view or a versioned-table snapshot)
  whose files lie in no ``name=value`` partition directory, and every
  output is a bare column or a rename of one;
- conjunct: every filter conjunct is one pyarrow evaluates exactly as
  Spark does — ``IS NOT NULL``; ``=``, ``<``, ``<=``, ``>``, ``>=`` or
  ``IN`` between an integral column and non-NULL literals of its type;
  ``=`` between a string column and a string literal;
- type: every column read has a type in `catalog.footer_type`'s mapped
  set, and each file stores it under that exact name and type or not at
  all (a column added after the file was written reads as NULL, as in
  Spark);
- scheme: every input file is a local ``file:`` path;
- bytes: the compressed size of the needed column chunks, summed from
  the footers, is at most ``spark.sql.autoBroadcastJoinThreshold`` — the
  size Spark itself deems safe to collect to the driver;
- error: anything raised while deciding or reading.  It is counted and
  the statement keeps its Spark plan; it never becomes a result.

Every other statement — a bigger input, a join, an aggregate, a UDF, a
LIMIT, ``_metadata`` or ``input_file_name()`` — keeps its Spark plan.
Deciding starts on the analyzed plan, which ``spark.sql`` has already
built: its root node's name, then its tree string, must show nothing
but Project, Filter, SubqueryAlias, View and a parquet Relation.  So an
ineligible statement costs one or two calls to the JVM and no optimizer
run; only one that passes adds the optimized plan's JSON and its input
files.

Snapshot semantics: the files are read inside the call, so the returned
DataFrame holds the rows of the fixture file, or of the versioned
table's manifest version, that the view names at call time.  A later
commit, view rebind or vacuum does not change it.
"""

from __future__ import annotations

import json
import operator
import os
import re
from collections import Counter
from functools import reduce
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from data_chunk_compaction_in_duckdb_spark import catalog

_EXPR = "org.apache.spark.sql.catalyst.expressions."
_PLAN = "org.apache.spark.sql.catalyst.plans.logical."
_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"

# analyzed-plan nodes a local read can start from; a tree-string line's
# node name follows its drawing prefix (" :- ", " +- ", indentation)
_ANALYZED_NODES = frozenset({"Project", "Filter", "SubqueryAlias", "View", "Relation"})
_NODE_RE = re.compile(r"^[\s:+\-]*(\w+)")

_INTEGRAL = frozenset({"byte", "short", "integer", "long"})
_COMPARE = {
    "EqualTo": operator.eq,
    "LessThan": operator.lt,
    "LessThanOrEqual": operator.le,
    "GreaterThan": operator.gt,
    "GreaterThanOrEqual": operator.ge,
}
# the comparison with its two sides swapped (``5 > c`` is ``c < 5``)
_SWAPPED = {
    "EqualTo": "EqualTo",
    "LessThan": "GreaterThan",
    "LessThanOrEqual": "GreaterThanOrEqual",
    "GreaterThan": "LessThan",
    "GreaterThanOrEqual": "LessThanOrEqual",
}


class _Ineligible(Exception):
    def __init__(self, reason: str) -> None:
        super().__init__(reason)
        self.reason = reason


def run(spark: SparkSession, df: DataFrame, counts: Counter) -> DataFrame:
    """``df``'s rows read on the driver when its plan is eligible (see
    the module docstring), else ``df`` itself.  ``counts`` gains
    ``"local"`` for a local read, else the fallback reason."""
    try:
        out = _read_local(spark, df)
    except _Ineligible as e:
        counts[e.reason] += 1
        return df
    except Exception:  # noqa: BLE001 — counted; the Spark plan answers
        counts["error"] += 1
        return df
    counts["local"] += 1
    return out


def _tree(nodes: list[dict]) -> dict:
    """Nest one ``TreeNode.toJSON`` pre-order list: each node gets its
    subtrees, in order, under ``"kids"``."""
    it = iter(nodes)

    def build() -> dict:
        node = next(it)
        node["kids"] = [build() for _ in range(node["num-children"])]
        return node

    return build()


def _conjuncts(expr: dict) -> list[dict]:
    if expr["class"] == _EXPR + "And":
        return [c for kid in expr["kids"] for c in _conjuncts(kid)]
    return [expr]


def _predicate(cond: dict, column) -> tuple[str, object]:
    """(column name, pyarrow expression) of one filter conjunct that
    pyarrow evaluates exactly as Spark does; ``column`` maps an
    expression to its relation column ``(name, json type, type)``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    kind, kids = cond["class"].rsplit(".", 1)[-1], cond["kids"]
    if kind in _SWAPPED and len(kids) == 2 and column(kids[0]) is None:
        kind, kids = _SWAPPED[kind], kids[::-1]
    col = column(kids[0]) if kids else None
    if col is None:
        raise _Ineligible("conjunct")
    name, json_type, dt = col
    field = pc.field(name)
    if kind == "IsNotNull":
        return name, field.is_valid()
    literals = kids[1:]
    if not literals or any(
        k["class"] != _EXPR + "Literal" or k["value"] is None or k["dataType"] != json_type
        for k in literals
    ):
        raise _Ineligible("conjunct")
    if json_type in _INTEGRAL:
        values = [int(k["value"]) for k in literals]
    elif json_type == "string" and kind == "EqualTo":
        values = [k["value"] for k in literals]
    else:
        raise _Ineligible("conjunct")
    arrow = to_arrow_type(dt)
    if kind == "In":
        return name, field.isin(pa.array(values, arrow))
    if kind in _COMPARE and len(literals) == 1:
        return name, _COMPARE[kind](field, pa.scalar(values[0], arrow))
    raise _Ineligible("conjunct")


def _arrow_field(name: str, dt: T.DataType):
    """The Arrow field a local read asks pyarrow for; ineligible unless
    ``dt`` is in `catalog.footer_type`'s mapped set."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    try:
        arrow = to_arrow_type(dt)
    except Exception:  # noqa: BLE001 — a type Arrow cannot carry
        raise _Ineligible("type") from None
    if not _reads_as(arrow, dt):
        raise _Ineligible("type")
    return pa.field(name, arrow)


def _reads_as(arrow, dt: T.DataType) -> bool:
    """Whether a footer column of Arrow type ``arrow`` is Spark type
    ``dt`` (array element nullability aside)."""
    mapped = catalog.footer_type(arrow, True)
    return mapped is not None and mapped.simpleString() == dt.simpleString()


def _local_paths(uris: list[str]) -> list[str]:
    paths = []
    for uri in uris:
        url = urlparse(uri)
        if url.scheme != "file" or url.netloc not in ("", "localhost"):
            raise _Ineligible("scheme")
        path = unquote(url.path)
        if "=" in os.path.dirname(path):
            raise _Ineligible("shape")  # a partition directory
        paths.append(path)
    if not paths:
        raise _Ineligible("shape")
    return paths


def _check_footers(spark: SparkSession, paths: list[str], types: dict) -> None:
    """Every file stores each column of ``types`` under its exact name
    and mapped type, or not at all; the needed column chunks fit under
    the broadcast threshold."""
    import pyarrow.parquet as pq

    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    size = 0
    for path in paths:
        md = pq.read_metadata(path)
        stored: dict[str, list] = {}
        for f in md.schema.to_arrow_schema():
            stored.setdefault(f.name.lower(), []).append(f)
        for name, dt in types.items():
            same = stored.get(name.lower(), [])
            if same and ([f.name for f in same] != [name] or not _reads_as(same[0].type, dt)):
                raise _Ineligible("type")
        for g in range(md.num_row_groups):
            group = md.row_group(g)
            for i in range(group.num_columns):
                chunk = group.column(i)
                leaf = chunk.path_in_schema
                if any(leaf == n or leaf.startswith(n + ".") for n in types):
                    size += chunk.total_compressed_size
        if size > limit:
            raise _Ineligible("bytes")


def _read_local(spark: SparkSession, df: DataFrame) -> DataFrame:
    import pyarrow as pa
    import pyarrow.parquet as pq

    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed()
    if analyzed.nodeName() not in _ANALYZED_NODES:
        raise _Ineligible("shape")
    for line in analyzed.toString().splitlines():
        m = _NODE_RE.match(line)
        if m is None or m.group(1) not in _ANALYZED_NODES or (
            m.group(1) == "Relation" and not line.rstrip().endswith(" parquet")
        ):
            raise _Ineligible("shape")

    node = _tree(json.loads(qe.optimizedPlan().toJSON()))
    project = filt = None
    if node["class"] == _PLAN + "Project":
        project, node = node, node["kids"][0]
    if node["class"] == _PLAN + "Filter":
        filt, node = node, node["kids"][0]
    if node["class"] != _RELATION or node["kids"]:
        raise _Ineligible("shape")
    # the relation's columns by expression id: (file column, json type, type)
    columns = {
        a["exprId"]["id"]: (a["name"], a["dataType"], T._parse_datatype_json_value(a["dataType"]))
        for a, in node["output"]
    }

    def column(expr: dict):
        if expr["class"] != _EXPR + "AttributeReference":
            return None
        return columns.get(expr["exprId"]["id"])

    if project is None:
        outputs = [name for name, _, _ in columns.values()]
    else:
        outputs = []
        for item in project["projectList"]:
            e = _tree(item)
            col = column(e["kids"][0] if e["class"] == _EXPR + "Alias" else e)
            if col is None:
                raise _Ineligible("shape")
            outputs.append(col[0])
    schema = df.schema
    if len(outputs) != len(schema.fields):
        raise _Ineligible("shape")
    predicates = [
        _predicate(c, column) for c in (_conjuncts(_tree(filt["condition"])) if filt else [])
    ]
    types = {name: dt for name, _, dt in columns.values()}
    needed = {n: types[n] for n in [*outputs, *(name for name, _ in predicates)]}
    fields = [_arrow_field(n, dt) for n, dt in needed.items()]

    paths = _local_paths(df.inputFiles())
    _check_footers(spark, paths, needed)
    table = pq.read_table(
        paths,
        schema=pa.schema(fields),
        columns=list(dict.fromkeys(outputs)),
        filters=reduce(operator.and_, (p for _, p in predicates)) if predicates else None,
        partitioning=None,
    )
    # One chunk per column: Spark drops the rows of an Arrow stream
    # whose batches follow zero-row ones (empty part files yield those).
    table = table.select(outputs).rename_columns(schema.names).combine_chunks()
    return spark.createDataFrame(table, schema=schema)
