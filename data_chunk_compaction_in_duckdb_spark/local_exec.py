"""Driver-local execution of tiny point and range reads, and the recipes
that let a repeated one skip Spark's parser, analyzer and optimizer.

A serving read returns a row or a handful, yet through Spark it pays for
a job: scheduling, a Java compile for each new key, a task and the
result fetch.  `run` reads such a statement's rows on the driver with
pyarrow and returns a DataFrame that holds them: its ``collect`` makes
no JVM call, and its other actions run over a ``LocalRelation`` and no
Spark job.  DuckDB (SIGMOD 2019) makes the case that an embedded engine
has to make short statements cheap and hand a small result to its host
without serializing it; the reference's CompactingPhysicalOperator
likewise sends an input under a size threshold down a cheaper path.

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

Decide, then execute.  `decide` turns an eligible plan into a `Recipe`:
the input files, the file column behind each output, ``df.schema``, the
filter as conjuncts pyarrow evaluates, and the session conf the
DataFrame build needs (time zone, Arrow target schema, schema JSON).
`execute` turns a recipe plus argument values into the pyarrow read and
the `LocalFrame` that holds it.  `run` is the two in a row, the full
path.

The frame.  A `LocalFrame` is a classic PySpark DataFrame that holds the
Arrow table.  Its ``collect`` converts the table to Rows on the driver
with ``ArrowTableToRowsConversion``, the converter Spark Connect's
``collect`` uses: no JVM call, no socket, no pickled row stream.  Its
``schema`` is the recipe's.  Every other method goes through ``_jdf``,
which `_build` makes on the first use, once even when threads share the
frame; the read already happened, so a late build holds the same rows.
A build error therefore surfaces at that first use, not as a fallback
to the Spark plan.

The build.  ``spark.createDataFrame(table, schema)`` ends in one JVM
entry point, ``PythonSQLUtils.toDataFrame(batches, schemaJson,
session)``.  On its way there it sets the thread's active session,
reads four confs, resolves ``PythonSQLUtils`` three times and writes the
Arrow stream to a temp file that the JVM reads back: 21 py4j round
trips.
`_build` prepares the table as PySpark does (timestamps localized to
the session time zone, cast to ``to_arrow_schema`` of the schema under
``arrowUseLargeVarTypes``), serializes its one record batch with
``RecordBatch.serialize`` — the encapsulated IPC message the JVM's file
reader hands on — and calls that entry point over
``scala.collection.Iterator.single(bytes)`` (``Iterator.empty`` for no
rows): two round trips.  The handles are resolved once per engine
(`_Jvm`), and the conf inputs are read at decide time, so the conf
fingerprint a hit checks also guards them.  The JVM side is unchanged:
it still picks a ``LocalRelation`` or, above
``spark.sql.execution.arrow.localRelationThreshold``, an RDD.  It takes
the session as an argument and activates it around the analysis, so no
thread needs an active session of its own.

Recipes.  `Recipes.read` answers each query ``Engine._query`` runs.  A
recipe hit binds the new argument values into a recorded recipe and
runs only `execute`: no ``spark.sql``, no plan JSON, no footer pass.
This is DuckDB's bind-once, execute-many prepared statement
(``client_context.cpp:534-560``); the EDBT 2020 "Incremental Based
Framework for Efficient Top-K Similarity Search in Interactive Data
Analysis Sessions" likewise reuses work across a session's repeated
queries.

- Key: the statement text after the dialect rewrites, plus each
  argument's name (or position) and the Spark literal type ``F.lit``
  gives its value — an ``int`` is ``integer`` inside int32 range and
  ``long`` outside it, a ``str`` is ``string``.  Any other value (NULL,
  a float, a bool) has no key: its statement takes the full path.
  ``Engine._query`` has already turned a numpy scalar into the Python
  value it holds.
- Record: a miss takes the full path.  When that reads locally, the
  recipe is kept in a least-recently-used map of at most
  `_RECIPES_MAX` entries.  Each parameter becomes a slot in the one
  filter literal it folded to.  Spark binds arguments while it parses,
  so a parameter's place comes from the text parsed once more without
  them: each parameter has exactly one marker, and it is an operand of
  a top-level WHERE conjunct that compares it with a column (``=``,
  ``<``, ``<=``, ``>``, ``>=``, or an ``IN`` list).  A marker anywhere
  else (a projection, a subquery, a function's argument) or an
  argument the text never uses is not recorded.  Nor is a statement
  unless every conjunct of the analyzed filters compares a column with
  literals, so no optimizer rule can derive a literal from a parameter
  (constant propagation would) or from session state (a SQL function,
  a session variable, ``current_date()``); the optimizer kept those
  literals' values, none dropped; and each parameter's value is exactly
  one literal of the analyzed filter, compared directly with the column
  (through at most a widening integral cast), and exactly one of the
  optimized filter, under the same comparison (an unwrapped cast can
  turn ``>=`` into ``=`` at a type's bound).  A statement not recorded
  is remembered as refused, so its next misses only run the full path:
  for any values when the text, the argument types and the view names
  decide it, else for the same values only (a value that is also a
  literal of the text, or a type's bound).  Its view names changing, or
  the entry leaving the map, lets it try again.
- Validation, on every hit, in four JVM calls for a one-view read
  (``collect`` adds none; a first other use adds the build's two): each
  temp view the analyzed plan passes through still holds an equal
  ``TemporaryViewRelation`` (``getRawTempView(name)``), and the session
  conf fingerprint (``getAllConfs().hashCode()``) is unchanged.  That
  catches a rebind or SET done by any path: a commit's view rebind,
  ``createOrReplaceTempView`` and ``spark.conf.set`` called directly.
  Both are captured before the recording miss calls ``spark.sql``, so a
  commit racing that miss can only leave a recipe that fails
  validation; the first local run of a statement therefore only learns
  its view names, and the next miss records.  A relation not reached
  through a temp view is never recorded.  A failed validation drops the
  recipe.  Not caught: refreshing a view's file listing in place
  (``REFRESH TABLE`` over a directory).
- Bind: a value outside the range of its slot's column type takes the
  full path, which stays the oracle; so does any exception on a hit.
- Inside an open transaction nothing hits and nothing is recorded.
- Recipes hold plan metadata — file paths, names, types, literals —
  never rows.

Counters.  ``Engine.local_exec_counts`` counts ``"local"`` for every
local read, hits included, else the fallback reason.
``Engine.recipe_counts`` counts ``"hit"`` and ``"miss"``; each miss adds
``"record"`` or why it was not recorded (``"fallback"``: not local;
``"names"``: view names learned; ``"views"``: view names changed;
``"relation"``: a relation not reached through a temp view;
``"slot"``: a filter literal or parameter place not certain;
``"refused"``: refused before, not tried again; ``"error"``); a recipe
that did not answer adds ``"invalid"``, ``"bind"`` or ``"hit_error"``; a
statement with no key adds ``"txn"`` or ``"args"``.  Both are `Counts`,
safe to add to from several threads.

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
import threading
from collections import Counter, OrderedDict
from dataclasses import dataclass, replace
from functools import reduce
from typing import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from data_chunk_compaction_in_duckdb_spark import catalog

_EXPR = "org.apache.spark.sql.catalyst.expressions."
_PLAN = "org.apache.spark.sql.catalyst.plans.logical."
_RELATION = "org.apache.spark.sql.execution.datasources.LogicalRelation"
_ANALYSIS = "org.apache.spark.sql.catalyst.analysis."
_MARKERS = frozenset({_ANALYSIS + "NamedParameter", _ANALYSIS + "PosParameter"})

# statement recipes one engine keeps, least recently used out first
_RECIPES_MAX = 256

# analyzed-plan nodes a local read can start from; a tree-string line's
# node name follows its drawing prefix (" :- ", " +- ", indentation)
_ANALYZED_NODES = frozenset({"Project", "Filter", "SubqueryAlias", "View", "Relation"})
_NODE_RE = re.compile(r"^[\s:+\-]*(\w+)")
# a temp view's line names it alone; a relation read by path has no name
_TEMP_VIEW_RE = re.compile(r"^[\s:+\-]*View \(`([^`.]+)`, ")
_PATH_RELATION_RE = re.compile(r"^[\s:+\-]*Relation \[")

_INTEGRAL = frozenset({"byte", "short", "integer", "long"})
_WIDTH = {"byte": 0, "short": 1, "integer": 2, "long": 3}
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


class Counts(Counter):
    """A Counter that several threads may `add` to."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self._lock = threading.Lock()

    def add(self, key: str) -> None:
        with self._lock:
            self[key] += 1


@dataclass(frozen=True)
class _Slot:
    """A statement parameter's place in a recipe's filter."""

    param: int | str  # position of a ``?`` argument, or a ``:name``


@dataclass(frozen=True)
class _Conjunct:
    """One filter conjunct: ``column kind values``."""

    column: str
    kind: str  # "IsNotNull", "In" or a `_COMPARE` name, column side first
    arrow: object  # the column's Arrow type; None for IsNotNull
    values: tuple  # ints or strs, or a `_Slot` bound at `execute`


@dataclass(frozen=True)
class Recipe:
    """What `execute` needs to read an eligible statement's rows."""

    views: tuple[str, ...] | None  # temp views passed through; None: not all
    paths: tuple[str, ...]
    fields: tuple  # Arrow fields read: the outputs' and the filter's columns
    outputs: tuple[str, ...]  # the file column behind each output
    schema: T.StructType
    conjuncts: tuple[_Conjunct, ...]
    # the DataFrame build's session conf, read at decide time
    timezone: str  # spark.sql.session.timeZone
    arrow_schema: object  # `schema` in Arrow, under arrowUseLargeVarTypes
    schema_json: str


class _Jvm:
    """One engine's JVM handles.  Each py4j attribute lookup is a round
    trip of its own, so they are resolved once."""

    def __init__(self, spark: SparkSession) -> None:
        jvm, session = spark._jvm, spark._jsparkSession
        state = session.sessionState()
        self.spark = spark
        self.session = session
        self.catalog = state.catalog()
        self.conf = state.conf()
        iterator = jvm.scala.collection.Iterator
        self.single = iterator.single
        self.empty = iterator.empty()  # stateless: one serves every call
        self.to_dataframe = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.toDataFrame


def run(
    handles: Callable[[], _Jvm], df: DataFrame, counts: Counts
) -> tuple[DataFrame, Recipe | None]:
    """``df``'s rows read on the driver and their recipe when its plan is
    eligible (see the module docstring), else ``df`` itself and None.
    ``counts`` gains ``"local"`` for a local read, else the fallback
    reason.  ``handles`` gives the engine's `_Jvm`; it is called inside
    the same guard, so a session without one just keeps ``df``."""
    try:
        jvm = handles()
        recipe = decide(jvm, df)
        out = execute(jvm, recipe)
    except _Ineligible as e:
        counts.add(e.reason)
        return df, None
    except Exception:  # noqa: BLE001 — counted; the Spark plan answers
        counts.add("error")
        return df, None
    counts.add("local")
    return out, recipe


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


def _predicate(cond: dict, column) -> _Conjunct:
    """One filter conjunct that pyarrow evaluates exactly as Spark does;
    ``column`` maps an expression to its relation column ``(name, json
    type, type)``."""
    from pyspark.sql.pandas.types import to_arrow_type

    kind, kids = cond["class"].rsplit(".", 1)[-1], cond["kids"]
    if kind in _SWAPPED and len(kids) == 2 and column(kids[0]) is None:
        kind, kids = _SWAPPED[kind], kids[::-1]
    col = column(kids[0]) if kids else None
    if col is None:
        raise _Ineligible("conjunct")
    name, json_type, dt = col
    if kind == "IsNotNull":
        return _Conjunct(name, kind, None, ())
    literals = kids[1:]
    if not literals or any(
        k["class"] != _EXPR + "Literal" or k["value"] is None or k["dataType"] != json_type
        for k in literals
    ):
        raise _Ineligible("conjunct")
    if json_type in _INTEGRAL:
        values = tuple(int(k["value"]) for k in literals)
    elif json_type == "string" and kind == "EqualTo":
        values = tuple(k["value"] for k in literals)
    else:
        raise _Ineligible("conjunct")
    if kind == "In" or (kind in _COMPARE and len(literals) == 1):
        return _Conjunct(name, kind, to_arrow_type(dt), values)
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


def _check_footers(limit: int, paths: list[str], types: dict) -> None:
    """Every file stores each column of ``types`` under its exact name
    and mapped type, or not at all; the needed column chunks fit under
    ``limit`` bytes."""
    import pyarrow.parquet as pq

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


def decide(jvm: _Jvm, df: DataFrame) -> Recipe:
    """The recipe of ``df``'s local read; raises `_Ineligible` with the
    first rule the plan breaks."""
    from pyspark.sql.pandas.types import to_arrow_schema

    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed()
    if analyzed.nodeName() not in _ANALYZED_NODES:
        raise _Ineligible("shape")
    views: list[str] | None = []
    for line in analyzed.toString().splitlines():
        m = _NODE_RE.match(line)
        if m is None or m.group(1) not in _ANALYZED_NODES or (
            m.group(1) == "Relation" and not line.rstrip().endswith(" parquet")
        ):
            raise _Ineligible("shape")
        if views is not None and m.group(1) in ("View", "Relation"):
            v = _TEMP_VIEW_RE.match(line)
            if v is not None:
                views.append(v.group(1))
            elif not _PATH_RELATION_RE.match(line):
                views = None  # a catalog table or view: no temp view to check

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
    conjuncts = tuple(
        _predicate(c, column) for c in (_conjuncts(_tree(filt["condition"])) if filt else [])
    )
    types = {name: dt for name, _, dt in columns.values()}
    needed = {n: types[n] for n in [*outputs, *(c.column for c in conjuncts)]}
    fields = tuple(_arrow_field(n, dt) for n, dt in needed.items())

    paths = _local_paths(df.inputFiles())
    _check_footers(jvm.conf.autoBroadcastJoinThreshold(), paths, needed)
    arrow_schema = to_arrow_schema(
        schema,
        error_on_duplicated_field_names_in_struct=True,
        prefers_large_types=jvm.conf.arrowUseLargeVarTypes(),
    )
    return Recipe(
        tuple(views) if views else None,
        tuple(paths),
        fields,
        tuple(outputs),
        schema,
        conjuncts,
        jvm.conf.sessionLocalTimeZone(),
        arrow_schema,
        schema.json(),
    )


def _bind(value, arrow):
    """``value`` for a slot of Arrow type ``arrow``; a value the column
    type cannot hold takes the full path."""
    import pyarrow as pa

    if pa.types.is_integer(arrow):
        half = 1 << (arrow.bit_width - 1)
        ok = type(value) is int and -half <= value < half
    else:
        ok = type(value) is str
    if not ok:
        raise _Ineligible("bind")
    return value


def _arrow_filter(c: _Conjunct, args: dict | None):
    import pyarrow as pa
    import pyarrow.compute as pc

    field = pc.field(c.column)
    if c.kind == "IsNotNull":
        return field.is_valid()
    values = [_bind(args[v.param], c.arrow) if isinstance(v, _Slot) else v for v in c.values]
    if c.kind == "In":
        return field.isin(pa.array(values, c.arrow))
    return _COMPARE[c.kind](field, pa.scalar(values[0], c.arrow))


def execute(jvm: _Jvm, recipe: Recipe, args: dict | None = None) -> LocalFrame:
    """The rows ``recipe`` reads, with ``args`` (parameter -> value)
    bound into its slots: a pyarrow read, held by a `LocalFrame` that
    answers ``collect`` from it and builds its JVM DataFrame only when
    another method needs one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    filters = [_arrow_filter(c, args) for c in recipe.conjuncts]
    table = pq.read_table(
        list(recipe.paths),
        schema=pa.schema(recipe.fields),
        columns=list(dict.fromkeys(recipe.outputs)),
        filters=reduce(operator.and_, filters) if filters else None,
        partitioning=None,
    )
    table = table.select(list(recipe.outputs)).rename_columns(recipe.schema.names)
    return LocalFrame(jvm, table, recipe)


class LocalFrame(ClassicDataFrame):
    """A local read's DataFrame over the Arrow table it holds (see "The
    frame" in the module docstring): ``collect`` answers from the table
    with no JVM call, and ``_jdf`` is built on first use, once."""

    def __new__(cls, *args, **kwargs):  # the parent's __new__ only dispatches
        return object.__new__(cls)

    def __init__(self, jvm: _Jvm, table, recipe: Recipe) -> None:
        self._lock = threading.Lock()
        super().__init__(None, jvm.spark)  # sets ``_jdf`` to None: not built
        self._handles = jvm
        self._table = table
        self._recipe = recipe
        self.__dict__["schema"] = recipe.schema  # the parent's cached_property

    @property
    def _jdf(self):
        if self._built is None:
            with self._lock:
                if self._built is None:
                    self._built = _build(self._handles, self._table, self._recipe)
        return self._built

    @_jdf.setter
    def _jdf(self, jdf) -> None:
        self._built = jdf

    def collect(self) -> list[T.Row]:
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        return ArrowTableToRowsConversion.convert(self._table, self._recipe.schema)


def _build(jvm: _Jvm, table, recipe: Recipe):
    """The JVM DataFrame ``spark.createDataFrame(table, recipe.schema)``
    builds, in one ``toDataFrame`` call (see the module docstring): the
    same table preparation, the same Arrow record batch encoding and the
    same JVM entry point, without the temp file and the conf reads.  The
    rows go as one batch, not cut at ``arrowMaxRecordsPerBatch``; that
    changes only the partition count of the RDD the JVM builds above
    ``arrowLocalRelationThreshold``, not the rows."""
    from pyspark.sql.pandas.types import _check_arrow_table_timestamps_localize

    table = _check_arrow_table_timestamps_localize(table, recipe.schema, True, recipe.timezone)
    # One chunk per column (empty part files leave zero-row chunks), so
    # the table is the one record batch ``Iterator.single`` carries.
    table = table.cast(recipe.arrow_schema).combine_chunks()
    if table.num_rows:
        (batch,) = table.to_batches()
        batches = jvm.single(batch.serialize().to_pybytes())
    else:
        batches = jvm.empty
    return jvm.to_dataframe(batches, recipe.schema_json, jvm.session)


# -- recipes


def _lit_type(value) -> str | None:
    """The Spark type ``F.lit(value)`` gives, for the values a recipe
    key takes; None for any other value."""
    if type(value) is str:
        return "string"
    if type(value) is int:
        if -(2**31) <= value < 2**31:
            return "integer"
        if -(2**63) <= value < 2**63:
            return "long"
    return None


def _key(query: str, args: dict) -> tuple | None:
    types = tuple((name, _lit_type(v)) for name, v in sorted(args.items()))
    if any(t is None for _, t in types):
        return None
    return query, types


def _analyzed_filters(df: DataFrame) -> list[dict]:
    """The conditions of the analyzed plan's filters, nested; the plan is
    the chain of unary nodes down to one relation that `decide` took."""
    node = df._jdf.queryExecution().analyzed()
    conditions = []
    while True:
        if node.nodeName() == "Filter":
            conditions.append(_tree(json.loads(node.condition().toJSON())))
        kids = node.children()
        if kids.isEmpty():
            return conditions
        node = kids.apply(0)


def _literals(expr: dict, up: tuple = ()):
    """``(literal, its ancestors nearest first)`` for each literal in
    ``expr``."""
    if expr["class"] == _EXPR + "Literal":
        yield expr, up
    for kid in expr["kids"]:
        yield from _literals(kid, (expr, *up))


def _operand_of(literal: dict, up: tuple) -> str | None:
    """The comparison ``literal`` is a direct operand of, seen from the
    other side ("In" or a `_COMPARE` name), or None.  A widening
    integral cast, which type coercion adds, may sit between them."""
    node = literal
    if up and up[0]["class"] == _EXPR + "Cast":
        src, dst = literal["dataType"], up[0]["dataType"]
        if not (src in _WIDTH and dst in _WIDTH and _WIDTH[src] < _WIDTH[dst]):
            return None
        node, up = up[0], up[1:]
    if not up:
        return None
    kind, kids = up[0]["class"].rsplit(".", 1)[-1], up[0]["kids"]
    if kind == "In":
        return kind if kids[0] is not node else None
    if kind in _SWAPPED:
        return kind if kids[1] is node else _SWAPPED[kind]
    return None


def _is(expr: dict, name: str) -> bool:
    """Whether ``expr``, under at most one cast, is of class ``name``."""
    if expr["class"] == _EXPR + "Cast":
        expr = expr["kids"][0]
    return expr["class"] == _EXPR + name


def _simple(cond: dict) -> bool:
    """Whether analyzed conjunct ``cond`` compares a column with literals
    and nothing else, so no optimizer rule can derive a new literal
    from it."""
    kind, kids = cond["class"].rsplit(".", 1)[-1], cond["kids"]
    if kind == "IsNotNull":
        return _is(kids[0], "AttributeReference")
    if kind == "In":
        return _is(kids[0], "AttributeReference") and all(_is(k, "Literal") for k in kids[1:])
    if kind in _SWAPPED:
        return {_is(k, "AttributeReference") for k in kids} == {True, False} and any(
            _is(k, "Literal") for k in kids
        )
    return False


def _objects(x):
    """Every JSON object in ``x``, nested ones included."""
    if isinstance(x, dict):
        yield x
        x = list(x.values())
    if isinstance(x, list):
        for v in x:
            yield from _objects(v)


def _markers_placed(spark: SparkSession, query: str, params: dict) -> bool:
    """Whether ``query``, parsed without arguments, has exactly one
    parameter marker for each of ``params`` and no other, each an
    operand of a top-level WHERE conjunct whose other side is a column:
    a comparison, or an ``IN`` list."""
    try:
        parsed = spark._jsparkSession.sessionState().sqlParser().parsePlan(query)
        plan = json.loads(parsed.toJSON())
    except Exception:  # noqa: BLE001 — a marker only the bound text parses with
        return False
    markers = [o for o in _objects(plan) if o.get("class") in _MARKERS]
    placed = []
    for node in plan:
        if node["class"] != _PLAN + "Filter":
            continue
        for c in _conjuncts(_tree(node["condition"])):
            kind, kids = c["class"].rsplit(".", 1)[-1], c["kids"]
            if kind in _SWAPPED and len(kids) == 2:
                placed += [
                    a
                    for a, b in (kids, kids[::-1])
                    if a["class"] in _MARKERS and b["class"] == _ANALYSIS + "UnresolvedAttribute"
                ]
            elif kind == "In" and kids[0]["class"] == _ANALYSIS + "UnresolvedAttribute":
                placed += [k for k in kids[1:] if k["class"] in _MARKERS]
    if len(placed) != len(markers):
        return False
    # a ``?`` binds the argument of its rank by place in the text
    ranks = sorted(m["pos"] for m in markers if "pos" in m)
    ids = [m["name"] if "name" in m else ranks.index(m["pos"]) for m in placed]
    return Counter(ids) == Counter(params.keys())


def _with_slots(
    spark: SparkSession, query: str, recipe: Recipe, df: DataFrame, args: dict
) -> tuple[Recipe | None, bool]:
    """``recipe`` with each parameter's literal made a slot, or None when
    a filter literal may not be a constant of the text or some
    parameter's place in the filter is not certain (see the module
    docstring); and whether that None holds for any argument values,
    not only these."""
    analyzed = [c for cond in _analyzed_filters(df) for c in _conjuncts(cond)]
    if not all(_simple(c) for c in analyzed) or (args and not _markers_placed(spark, query, args)):
        return None, True
    found = [x for cond in analyzed for x in _literals(cond)]
    optimized = [v for c in recipe.conjuncts for v in c.values]
    if Counter(lit["value"] for lit, _ in found) != Counter(str(v) for v in optimized):
        return None, False
    conjuncts = list(recipe.conjuncts)
    for param, value in args.items():
        direct = [_operand_of(lit, up) for lit, up in found if lit["value"] == str(value)]
        where = [
            (i, j)
            for i, c in enumerate(conjuncts)
            for j, v in enumerate(c.values)
            if type(v) is type(value) and v == value
        ]
        if len(direct) != 1 or len(where) != 1:
            return None, False
        (i, j), c = where[0], conjuncts[where[0][0]]
        if direct[0] != c.kind:
            return None, False
        conjuncts[i] = replace(c, values=(*c.values[:j], _Slot(param), *c.values[j + 1 :]))
    return replace(recipe, conjuncts=tuple(conjuncts)), False


def _values(args: dict) -> tuple:
    return tuple(v for _, v in sorted(args.items()))


@dataclass(frozen=True)
class _Entry:
    views: tuple[str, ...]  # the temp views the statement's plan went through
    recipe: Recipe | None = None
    options: tuple = ()  # each view's getRawTempView, captured before spark.sql
    conf: int = 0  # the session conf fingerprint, captured with them
    # not recorded: () for any argument values, else the values refused
    refused: tuple | None = None


class Recipes:
    """One engine's statement recipes (see the module docstring)."""

    def __init__(self, spark: SparkSession) -> None:
        self.counts = Counts()
        self._spark = spark
        self._entries: OrderedDict[tuple, _Entry] = OrderedDict()
        self._lock = threading.Lock()
        self._handles: _Jvm | None = None

    def read(
        self,
        query: str,
        args: dict,
        sql: Callable[[], DataFrame],
        counts: Counts,
        *,
        in_txn: bool,
    ) -> DataFrame:
        """The rows of ``query`` with ``args`` (parameter -> value): a
        recipe hit, else the full path over the plan ``sql()`` builds.
        ``counts`` is `run`'s."""
        key = None if in_txn else _key(query, args)
        if key is None:
            self.counts.add("txn" if in_txn else "args")
            return run(self._jvm, sql(), counts)[0]
        with self._lock:
            entry = self._entries.get(key)
            if entry is not None:
                self._entries.move_to_end(key)
        if entry is not None and entry.recipe is not None:
            out = self._hit(key, entry, args)
            if out is not None:
                counts.add("local")
                return out
        self.counts.add("miss")
        refused = entry is not None and entry.refused in ((), _values(args))
        captured = None
        if entry is not None and not refused:
            try:
                captured = self._capture(entry.views)
            except Exception:  # noqa: BLE001 — the miss just records nothing
                captured = None
        df = sql()
        out, recipe = run(self._jvm, df, counts)
        if recipe is None:
            self.counts.add("fallback")
            return out
        if refused and recipe.views == entry.views:
            self.counts.add("refused")
            return out
        try:
            reason = self._record(key, captured, recipe, df, args)
        except Exception:  # noqa: BLE001 — counted; the read stands
            reason = "error"
        self.counts.add(reason)
        return out

    def _jvm(self) -> _Jvm:
        if self._handles is None:
            self._handles = _Jvm(self._spark)
        return self._handles

    def _capture(self, views: tuple[str, ...]) -> _Entry:
        jvm = self._jvm()
        options = tuple(jvm.catalog.getRawTempView(v) for v in views)
        return _Entry(views, None, options, jvm.conf.getAllConfs().hashCode())

    def _hit(self, key: tuple, entry: _Entry, args: dict) -> DataFrame | None:
        try:
            jvm = self._jvm()
            valid = jvm.conf.getAllConfs().hashCode() == entry.conf and all(
                o.equals(jvm.catalog.getRawTempView(v)) for v, o in zip(entry.views, entry.options)
            )
            if valid:
                out = execute(jvm, entry.recipe, args)
                self.counts.add("hit")
                return out
            self.counts.add("invalid")
        except _Ineligible as e:  # a value its slot's type cannot hold
            self.counts.add(e.reason)
            return None
        except Exception:  # noqa: BLE001 — counted; the full path answers
            self.counts.add("hit_error")
        self._put(key, entry, _Entry(entry.views))
        return None

    def _record(
        self, key: tuple, captured: _Entry | None, recipe: Recipe, df: DataFrame, args: dict
    ) -> str:
        if recipe.views is None:
            return "relation"
        if captured is None or captured.views != recipe.views:
            self._put(key, None, _Entry(recipe.views))
            return "names" if captured is None else "views"
        slotted, any_values = _with_slots(self._spark, key[0], recipe, df, args)
        if slotted is None:
            self._put(key, None, _Entry(recipe.views, refused=() if any_values else _values(args)))
            return "slot"
        self._put(key, None, replace(captured, recipe=slotted))
        return "record"

    def _put(self, key: tuple, old: _Entry | None, new: _Entry) -> None:
        """Store ``new`` under ``key``; when ``old`` is given, only if
        ``key`` still holds it."""
        with self._lock:
            if old is not None and self._entries.get(key) is not old:
                return
            self._entries[key] = new
            self._entries.move_to_end(key)
            while len(self._entries) > _RECIPES_MAX:
                self._entries.popitem(last=False)
