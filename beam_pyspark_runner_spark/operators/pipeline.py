"""Fluent pipeline API: the reference's dataflow surface over DataFrames.

Capability parity with the reference's six evaluated primitives plus its
composite closure (SURVEY.md §2.1–2.3), re-expressed Spark-first:

| reference (file:line)                               | here            |
|-----------------------------------------------------|-----------------|
| Create (transform_evaluators.py:15-20)              | Pipeline.create |
| ReadFromText (transform_evaluators.py:22-26)        | Pipeline.read_text |
| ParDo/Map/FlatMap/Filter (transform_evaluators.py:28-79) | map / flat_map / filter / par_do |
| Flatten (transform_evaluators.py:81-82)             | PCol.flatten    |
| GroupByKey (transform_evaluators.py:84-87)          | PCol.group_by_key |
| CombinePerKey (transform_evaluators.py:89-100)      | PCol.combine_per_key |
| side-input views (transform_evaluators.py:34-48)    | as_singleton/as_list/as_dict |
| multi-output ParDo — reference bug §2.5#4           | PCol.partition (works) |

Elements are rows: a PCollection of scalars is a one-column DataFrame
(column ``value``), KV pairs are ``(key, value)`` columns. Expression
ops (Column lambdas) stay in whole-stage codegen. Per-element Python
callables share one ``mapInArrow`` row kernel, ``PCol._rows``, with an
explicit output schema and exact element types whatever the batching.
``par_do`` hands its DoFn whole pandas frames over the same
``mapInArrow`` boundary; ``operators/arrow_rows.py`` owns the type rules
of both, so a frame's dtypes do not depend on the batching either.

Divergences from reference semantics (deliberate, SURVEY.md §2.5):
 - a Python flat_map yielding None emits nothing (bug #1: reference
   emits a literal None);
 - unsupported ops raise at plan time (bug #2/#5: silent NoOp);
 - WindowInto has real semantics (bug #2 made it a NoOp);
 - multi-output works (bug #4).

Windows travel with the element (the Dataflow Model): ``window_into``
gives each element ``window_start``/``window_end`` columns, and the PCol
records only the kind (None, "fixed", "session"). Element ops append the
input element's window to their output; keyed ops merge session
proto-windows per key. What would drop windows silently raises instead:
``par_do`` without them in its schema, ``flatten`` of mixed windowing,
an element or keyed op after a ``select`` that projected them away.

Keyed ops (group_by_key, combine_per_key, combine_globally) share one
lowering, ``PCol._keyed``, and one builtin/CombineFn dispatch,
``combiners.combine_per_key``. Their output layout is fixed whatever the
windowing and the combiner kind: ``(key, window_start, window_end, out)``,
where ``out`` is ``values`` for group_by_key, a global combine has no
``key``, and an unwindowed one has no window columns. A positional
``map_rows`` downstream therefore reads the same fields in every case.
``count_per_element`` and ``co_group_by_key`` group per window as well;
``co_group_by_key`` raises on session windows and on mixed windowing.
"""

from __future__ import annotations

import pickle
from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.operators.arrow_rows import (arrow_struct, columns, from_pandas,
                                                            to_batch, to_pandas)
from beam_pyspark_runner_spark.operators.combiners import CombineFn, combine_per_key
from beam_pyspark_runner_spark.operators.metrics import (
    Counter,
    Distribution,
    MetricsRegistry,
)
from beam_pyspark_runner_spark.plans.dag import Node, PlanContext
from beam_pyspark_runner_spark.sources import writers
from beam_pyspark_runner_spark.sources.readers import read_parquet, spread

WINDOW_COLS = ("window_start", "window_end")


def _as_tuple(x: Any) -> tuple:
    return x if isinstance(x, tuple) else (x,)


class Pipeline:
    """Builds a DAG of logical Nodes; lowering is memoized with fan-out
    persist (plans/dag.py). Pipelines are cheap objects — one per query."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.ctx = PlanContext()
        self.metrics = MetricsRegistry(spark)

    # --- metrics (reference stub: pyspark_runner.py:30-31) ---------------
    def counter(self, namespace: str, name: str) -> Counter:
        """Beam Metrics.counter: accumulator-backed, safe to capture in
        par_do / map_rows kernels (see operators/metrics.py)."""
        return self.metrics.counter(namespace, name)

    def distribution(self, namespace: str, name: str) -> Distribution:
        return self.metrics.distribution(namespace, name)

    # --- sources --------------------------------------------------------
    def create(self, data: Iterable[Any], schema: str | None = None) -> "PCol":
        """In-memory source. Scalars become a ``value`` column; tuples
        become ``(key, value)`` when 2-wide unless a schema names them.
        Partitioning is left to AQE (supersedes the reference's
        sqrt-heuristic, transform_evaluators.py:18)."""
        data = list(data)
        if schema is None:
            if data and isinstance(data[0], tuple):
                schema = None  # let Spark infer struct fields _1.._n
                df = self.spark.createDataFrame(data)
                df = df.toDF(*(["key", "value"] if len(df.columns) == 2 else df.columns))
            else:
                df = self.spark.createDataFrame([(x,) for x in data], ["value"])
        else:
            rows = [x if isinstance(x, tuple) else (x,) for x in data]
            df = self.spark.createDataFrame(rows, schema)
        node = Node(build=lambda _ins, _df=df: _df, label="Create")
        return PCol(self, node)

    def read_text(self, path: str) -> "PCol":
        """Line source (reference: ReadFromText) — one ``value`` row per line."""
        node = Node(
            build=lambda _ins: self.spark.read.text(path), label=f"ReadText({path})"
        )
        return PCol(self, node)

    def read_parquet(self, path: str) -> "PCol":
        """Parquet source; the schema Spark infers is cached per file set
        (sources/readers.py), so a repeated read runs no inference job."""
        node = Node(
            build=lambda _ins: read_parquet(self.spark, path),
            label=f"ReadParquet({path})",
        )
        return PCol(self, node)

    def from_df(self, df: DataFrame, label: str = "FromDF") -> "PCol":
        return PCol(self, Node(build=lambda _ins, _df=df: _df, label=label))

    def create_opaque(self, objs: Iterable[Any]) -> "PCol":
        """Escape hatch for genuinely opaque Python elements (SURVEY.md
        §1.3 / §7 hard part 2): any picklable object rides a single
        BinaryType ``blob`` column — the reference's default element
        representation, made an EXPLICIT boundary here. Opaque blobs get
        no pushdown, pruning, or codegen; use schema-ful ``create`` for
        anything with structure, and cross back via ``map_opaque`` →
        schema-ful ``par_do`` once the shape is known."""
        data = [(pickle.dumps(o),) for o in objs]
        df = self.spark.createDataFrame(data, "blob binary")
        return PCol(self, Node(build=lambda _ins, _df=df: _df, label="CreateOpaque"))


class PCol:
    """Handle to a logical dataset node inside a Pipeline DAG."""

    def __init__(self, pipeline: Pipeline, node: Node, windowing: str | None = None) -> None:
        self.pipeline = pipeline
        self.node = node
        # None, "fixed" (fixed or sliding windows, grouped as assigned) or
        # "session" (proto-windows, merged per key at grouping time).
        self._windowing = windowing

    # --- lowering -------------------------------------------------------
    def to_df(self) -> DataFrame:
        """Lower this node's lineage (memoized; fan-out nodes persisted)."""
        return self.pipeline.ctx.lower(self.node)[0]

    def collect(self) -> list:
        return self.to_df().collect()

    def _derive(self, label: str, build: Callable[[list[DataFrame]], DataFrame],
                extra_inputs: list[Node] | None = None) -> "PCol":
        node = Node(build=build, inputs=[self.node, *(extra_inputs or [])], label=label)
        return PCol(self.pipeline, node, windowing=self._windowing)

    def _windows(self, df: DataFrame, op: str) -> list[str]:
        """The window columns ``op`` carries over or groups on: none when
        unwindowed. Raises when a raw ``select`` projected them away."""
        if self._windowing is None:
            return []
        if not set(WINDOW_COLS) <= set(df.columns):
            raise ValueError(f"{op} on a windowed PCol whose window columns a select "
                             "dropped; keep them, or call global_windows() first")
        return list(WINDOW_COLS)

    def _project(self, label: str, *cols: Column) -> "PCol":
        """An expression element op: ``cols`` plus the element's window."""
        return self._derive(
            label, lambda ins: ins[0].select(*cols, *self._windows(ins[0], label))
        )

    # --- expression ops (codegen path) ----------------------------------
    def select(self, *cols: Column | str) -> "PCol":
        """Raw projection: a windowed PCol keeps only the columns named."""
        return self._derive("Select", lambda ins: ins[0].select(*cols))

    def apply(self, transform: "Callable[[PCol], PCol]") -> "PCol":
        """Composite-PTransform application — Beam's ``pcoll | MyXform()``
        (reference: PTransform.expand composition runs through
        ``overrides.py``): any callable PCol→PCol is a reusable named
        stage. Pure call-time composition, so Catalyst still sees ONE
        flat plan across composite boundaries — composites cost
        nothing at runtime."""
        out = transform(self)
        if not isinstance(out, PCol):
            raise TypeError(
                f"composite transform must return a PCol, got {type(out).__name__}"
            )
        return out

    __or__ = apply  # Beam muscle-memory: pcol | transform

    def map(self, expr: Column, out: str = "value") -> "PCol":
        """Map via a Column expression — stays in whole-stage codegen."""
        return self._project("Map", expr.alias(out))

    def map_kv(self, key_expr: Column, value_expr: Column) -> "PCol":
        return self._project("MapKV", key_expr.alias("key"), value_expr.alias("value"))

    def filter(self, cond: Column) -> "PCol":
        return self._derive("Filter", lambda ins: ins[0].filter(cond))

    def flat_map(self, array_expr: Column, out: str = "value") -> "PCol":
        """FlatMap via an array expression + explode (codegen path)."""
        return self._project("FlatMap", F.explode(array_expr).alias(out))

    # --- Python ops (Arrow path) ----------------------------------------
    def par_do(
        self,
        fn: Callable[[Iterator], Iterator],
        schema: str,
        setup: Callable[[], Any] | None = None,
        teardown: Callable[[Any], None] | None = None,
        start_bundle: Callable[[Any], None] | None = None,
        finish_bundle: Callable[[Any], None] | None = None,
    ) -> "PCol":
        """ParDo with the full DoFn lifecycle over Arrow batches.

        ``fn(batches)`` receives an iterator of pandas DataFrames and
        yields output DataFrames matching ``schema``. Each frame is one
        Arrow batch converted by ``operators/arrow_rows.py``, the row
        kernel's type rules, so its dtypes never depend on the batching:
        integer, boolean and float columns are nullable (``Int64``,
        ``boolean``, ``Float64``), a NULL is ``pd.NA`` and a NaN stays a
        NaN; arrays, maps and structs are object columns of Python lists,
        dicts and ``(key, value)`` lists; timestamps are tz-aware in UTC.
        Output columns are taken by name (by position when no label is a
        string); extra columns are ignored, a missing one raises.

        Lifecycle mapping of the reference's setup/start_bundle/
        finish_bundle/teardown (transform_evaluators.py:57-75): ``setup`` runs once per task
        before the first batch and its return value is the state handed
        to the other hooks; each Arrow batch is one *bundle* —
        ``start_bundle(state)`` runs as ``fn`` pulls the batch from the
        iterator, ``finish_bundle(state)`` when it advances past it (or
        exhausts the iterator); ``teardown(state)`` runs after ``fn``
        finishes, even on error. If ``fn`` abandons the iterator early,
        the final ``finish_bundle`` is skipped (matching Beam, where a
        failed bundle is not finished) but ``teardown`` still runs.
        Batches are whole frames, so on a windowed PCol ``fn`` carries
        the windows itself: ``schema`` must declare both window columns.
        """
        struct = arrow_struct(schema)
        if self._windowing and not set(WINDOW_COLS) <= {f.name for f in struct}:
            raise ValueError("par_do on a windowed PCol must declare window_start and "
                             "window_end in its schema, or call global_windows() first")

        def kernel(batches):
            state = setup() if setup else None

            def bundles():
                for batch in batches:
                    if start_bundle:
                        start_bundle(state)
                    yield to_pandas(batch)
                    if finish_bundle:
                        finish_bundle(state)

            try:
                for pdf in fn(bundles()):
                    yield from_pandas(pdf, struct)
            finally:
                if teardown:
                    teardown(state)

        return self._derive(
            "ParDo", lambda ins: ins[0].mapInArrow(kernel, schema)
        )

    def _rows(self, label: str, per_row: Callable[[tuple], Iterable[tuple]],
              schema: str) -> "PCol":
        """The one per-element kernel: ``per_row(row)`` turns each input
        row tuple into output tuples laid out as ``schema``, over
        ``mapInArrow`` with exact element types (operators/arrow_rows.py).
        On a windowed PCol ``per_row`` still sees the whole input row, and
        each output tuple gets the input element's window appended."""

        def build(ins: list[DataFrame]) -> DataFrame:
            df, fn, out_schema = ins[0], per_row, schema
            if self._windows(df, label):
                i, j = (df.columns.index(c) for c in WINDOW_COLS)
                types = dict(df.dtypes)
                out_schema += "".join(f", {c} {types[c]}" for c in WINDOW_COLS)
                fn = lambda row: [t + (row[i], row[j]) for t in per_row(row)]  # noqa: E731
            struct = arrow_struct(out_schema)

            def kernel(batches):
                for batch in batches:
                    out = [t for row in zip(*columns(batch)) for t in fn(row)]
                    yield to_batch(out, struct)

            return df.mapInArrow(kernel, out_schema)

        return self._derive(label, build)

    def map_rows(self, fn: Callable[[Any], Any], schema: str) -> "PCol":
        """Per-element Python map (reference Map with a callable). Runs
        batched over Arrow; prefer expression ``map`` whenever possible."""
        return self._rows("MapRows", lambda row: (_as_tuple(fn(row)),), schema)

    def map_rows_with_exception_handling(
        self, fn: Callable[[Any], Any], schema: str
    ) -> tuple["PCol", "PCol"]:
        """Beam's ``ParDo(...).with_exception_handling()``: per-element
        map whose raising elements are routed to a dead-letter output
        instead of failing the job — returns ``(ok, errors)`` where
        ``errors`` rows carry (element repr, "ExcType: message"), then the
        element's window when windowed. One
        Python pass produces a tagged union; the two outputs are filter
        branches over the shared fan-out node (persisted once, same as
        ``partition``), so the kernel never re-runs per branch. The
        declarative twin for parse-shaped failures is the try_-function
        family (queries/events.py:dead_letter_split) — this form is for
        arbitrary Python where no try_ builtin exists."""
        n_fields = arrow_struct(schema).num_fields

        def tagged_row(row):
            try:
                res = _as_tuple(fn(row))
                if len(res) != n_fields:
                    # A wrong-arity (or list) return would fail the WHOLE
                    # Arrow batch in to_batch; raise inside the try so
                    # only THIS element dead-letters.
                    raise ValueError(
                        f"fn returned {len(res)} fields, schema declares {n_fields}"
                    )
                return (res + (None, None),)
            except Exception as e:  # noqa: BLE001 — dead-letter by design
                return ((None,) * n_fields + (repr(row), f"{type(e).__name__}: {e}"),)

        tagged = self._rows(
            "MapRowsWithExceptions", tagged_row,
            schema + ", __element string, __error string",
        )
        ok = tagged._derive(
            "MapRowsOk",
            lambda ins: ins[0]
            .filter(F.col("__error").isNull())
            .drop("__element", "__error"),
        )
        errors = tagged._derive(
            "MapRowsDeadLetter",
            lambda ins: ins[0]
            .filter(F.col("__error").isNotNull())
            .select(
                F.col("__element").alias("element"),
                F.col("__error").alias("error"),
                *tagged._windows(ins[0], "MapRowsDeadLetter"),
            ),
        )
        return ok, errors

    def flat_map_rows(self, fn: Callable[[Any], Iterable[Any]], schema: str) -> "PCol":
        """Per-element Python flatMap; yielding None emits nothing
        (fixes reference bug SURVEY.md §2.5#1)."""
        return self._rows(
            "FlatMapRows",
            lambda row: [_as_tuple(x) for x in fn(row) if x is not None],
            schema,
        )

    # --- opaque-element escape hatch (SURVEY.md §7 hard part 2) ---------
    def map_opaque(self, fn: Callable[[Any], Any]) -> "PCol":
        """object → object over a pickled ``blob`` column, Arrow-batched
        (unpickle → fn → repickle per element; never row-at-a-time
        serialization of the whole frame). Stays opaque — chain
        ``map_opaque`` calls, or land back in schema-ful land with
        ``map_rows``/``par_do`` after extracting structure."""
        return self._rows(
            "MapOpaque",
            lambda row: ((pickle.dumps(fn(pickle.loads(row[0]))),),),
            "blob binary",
        )

    def flat_map_opaque(self, fn: Callable[[Any], Iterable[Any]]) -> "PCol":
        """object → objects (1→N) over the pickled column; None is
        skipped (same contract as flat_map_rows)."""
        return self._rows(
            "FlatMapOpaque",
            lambda row: [
                (pickle.dumps(x),) for x in fn(pickle.loads(row[0])) if x is not None
            ],
            "blob binary",
        )

    def collect_opaque(self) -> list:
        """Unpickle the blob column back to Python objects (driver-side;
        bounded results only, like any collect)."""
        return [pickle.loads(bytes(r[0])) for r in self.to_df().collect()]

    # --- windowing (Beam WindowInto, done properly) ---------------------
    def window_into(
        self,
        size: str | None = None,
        ts: str = "ts",
        slide: str | None = None,
        gap: str | None = None,
    ) -> "PCol":
        """Real ``WindowInto`` — the reference lowers it to NoOp, silently
        producing globally-windowed results (SURVEY.md §2.5 bug #2); here
        it has actual semantics.

        Every element gets ``window_start``/``window_end`` columns right
        away: its fixed (``size``) window, one row per covering sliding
        (``size`` + ``slide``) window, or the session (``gap``) proto-window
        ``[ts, ts + gap)`` that keyed ops merge per key. Re-windowing
        replaces any prior assignment.
        """
        if gap is not None:
            end = F.col(ts) + F.expr(f"INTERVAL {gap}")
            w = F.struct(F.col(ts).alias("start"), end.alias("end"))
        elif size is None:
            raise ValueError("window_into needs size= (fixed/sliding) or gap= (session)")
        else:
            w = F.window(ts, size, slide) if slide else F.window(ts, size)

        def build(ins: list[DataFrame]) -> DataFrame:
            return (
                # Drop stale window columns first (no-op when absent) or
                # the new ones would collide as ambiguous duplicates.
                ins[0]
                .drop(*WINDOW_COLS)
                .select("*", w.alias("__w"))
                .select(
                    "*",
                    F.col("__w.start").alias("window_start"),
                    F.col("__w.end").alias("window_end"),
                )
                .drop("__w")
            )

        derived = self._derive("WindowInto", build)
        derived._windowing = "fixed" if gap is None else "session"
        return derived

    def global_windows(self) -> "PCol":
        """Drop windowing: subsequent grouping is global again."""
        derived = self._derive("GlobalWindows", lambda ins: ins[0].drop(*WINDOW_COLS))
        derived._windowing = None
        return derived

    @staticmethod
    def _assign_sessions(df: DataFrame, keys: list[str]) -> DataFrame:
        """Replace each element's session proto-window by its merged
        session per ``keys`` (none: one sequence over all elements).
        Ordered by start, a proto-window that starts after the end of
        every earlier one opens a new session (so elements exactly ``gap``
        apart share one, as in Spark's session windows); a session
        spans min start to max end. Cost: one shuffle on the keys and an
        in-partition sort, the same shuffle the grouping itself needs."""
        from pyspark.sql import Window as W

        w = W.partitionBy(*keys).orderBy("window_start")
        prev_end = F.max("window_end").over(w.rowsBetween(W.unboundedPreceding, -1))
        new_s = F.when(prev_end.isNull() | (F.col("window_start") > prev_end), 1).otherwise(0)
        sess = W.partitionBy(*keys, "__sid")
        return (
            df.withColumn("__new", new_s)
            .withColumn(
                "__sid",
                F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, 0)),
            )
            .withColumn("window_start", F.min("window_start").over(sess))
            .withColumn("window_end", F.max("window_end").over(sess))
            .drop("__new", "__sid")
        )

    # --- grouping / combining ------------------------------------------
    def _keyed(self, label: str, key: str | None, value: str,
               fn: str | CombineFn, out: str) -> "PCol":
        """The one keyed-aggregation lowering behind group_by_key,
        combine_per_key and combine_globally: group by ``key`` (None:
        global) plus the element's window, then combine through
        ``combiners.combine_per_key``, which owns the builtin/CombineFn
        split. Output layout: ``(key, window_start, window_end, out)``,
        without ``key`` for a global combine and without the window
        columns when unwindowed.

        Session proto-windows first merge per key (``_assign_sessions``),
        for builtins and CombineFns alike. The output keeps its windowing."""

        def build(ins: list[DataFrame]) -> DataFrame:
            df, windows = self._grouped_windows(ins[0], label, [] if key is None else [key])
            return combine_per_key(df, key, value, fn, out, extra_keys=windows)

        return self._derive(label, build)

    def _grouped_windows(self, df: DataFrame, op: str,
                         keys: list[str]) -> tuple[DataFrame, list[str]]:
        """``df`` with session proto-windows merged per ``keys``, and the
        window columns ``op`` groups on beside them (none when unwindowed)."""
        windows = self._windows(df, op)
        if self._windowing == "session":
            df = self._assign_sessions(df, keys)
        return df, windows

    def group_by_key(self, key: str = "key", value: str = "value") -> "PCol":
        """(K, V) → (K, list[V]) as ``values``. Values arrive unordered
        (multiset semantics, like the reference
        transform_evaluators.py:84-87). Under window_into, groups are per
        (key, window)."""
        return self._keyed("GroupByKey", key, value, "collect", "values")

    def combine_per_key(
        self, fn: str | CombineFn, key: str = "key", value: str = "value",
        out: str = "value",
    ) -> "PCol":
        """Keyed combine, window-aware. Builtin names lower to Catalyst
        aggregates (per (key [, window])); a custom ``CombineFn`` folds in
        a ``mapInArrow`` kernel over the same grouping. Reference composes
        WindowInto + CombinePerKey(custom fn) freely (overrides.py:58-75 +
        transform_evaluators.py:89-100); this is that composition without
        the NoOp-window bug."""
        return self._keyed("CombinePerKey", key, value, fn, out)

    def combine_globally(
        self, fn: str | CombineFn, value: str = "value", out: str = "value"
    ) -> "PCol":
        """Global combine; under windowing, "global" means per-window
        (Beam: CombineGlobally on a windowed PCollection emits one value
        per window)."""
        return self._keyed("CombineGlobally", None, value, fn, out)

    def count_per_element(self, value: str = "value") -> "PCol":
        """Beam Count.PerElement: ``(key, window_start, window_end, value)``
        with each distinct element as ``key`` and its count as ``value``,
        per window (session proto-windows merge per element); no window
        columns when unwindowed."""

        def build(ins: list[DataFrame]) -> DataFrame:
            df, windows = self._grouped_windows(ins[0], "CountPerElement", [value])
            return df.groupBy(F.col(value).alias("key"), *windows).agg(
                F.count("*").alias("value")
            )

        return self._derive("CountPerElement", build)

    def distinct(self) -> "PCol":
        return self._derive("Distinct", lambda ins: ins[0].distinct())

    def top(self, n: int, by: str = "value", ascending: bool = False) -> "PCol":
        order = F.col(by).asc() if ascending else F.col(by).desc()
        return self._derive(
            "Top", lambda ins: ins[0].orderBy(order).limit(n)
        )

    # --- multi-input ----------------------------------------------------
    def flatten(self, *others: "PCol") -> "PCol":
        """Bag union (UNION ALL), reference eval_Flatten. Like Beam's
        Flatten, the inputs must share their windowing."""
        if any(o._windowing != self._windowing for o in others):
            kinds = [self._windowing, *(o._windowing for o in others)]
            raise ValueError(f"flatten of PCols with different windowing {kinds}")

        def build(ins: list[DataFrame]) -> DataFrame:
            out = ins[0]
            for df in ins[1:]:
                out = out.unionByName(df, allowMissingColumns=True)
            return out

        return self._derive("Flatten", build, extra_inputs=[o.node for o in others])

    def join(self, other: "PCol", on, how: str = "inner") -> "PCol":
        return self._derive(
            "Join",
            lambda ins: ins[0].join(ins[1], on, how),
            extra_inputs=[other.node],
        )

    def co_group_by_key(self, other: "PCol", key: str = "key") -> "PCol":
        """CoGroupByKey: per-side grouped lists full-outer joined on key
        (the Beam expansion shuffles raw tagged rows instead —
        SURVEY.md §2.3). Under fixed or sliding windows the groups are per
        (key, window): ``(key, window_start, window_end, left_values,
        right_values)``. Both sides must share their windowing. Session
        windows raise: a session would have to merge across both sides."""
        if other._windowing != self._windowing:
            raise ValueError("co_group_by_key of PCols with different windowing "
                             f"{[self._windowing, other._windowing]}")
        if self._windowing == "session":
            raise ValueError("co_group_by_key of session-windowed PCols is not "
                             "supported; call global_windows() first")

        def build(ins: list[DataFrame]) -> DataFrame:
            keys = [key, *self._windows(ins[0], "CoGroupByKey")]
            other._windows(ins[1], "CoGroupByKey")  # raises if a select dropped them
            left = ins[0].groupBy(*keys).agg(F.collect_list("value").alias("left_values"))
            right = ins[1].groupBy(*keys).agg(F.collect_list("value").alias("right_values"))
            return (
                left.join(right, keys, "full_outer")
                .select(
                    *keys,
                    F.coalesce("left_values", F.array()).alias("left_values"),
                    F.coalesce("right_values", F.array()).alias("right_values"),
                )
            )

        return self._derive("CoGroupByKey", build, extra_inputs=[other.node])

    # --- multi-output (fixes reference bug §2.5#4) ----------------------
    def partition(self, *conds: Column) -> list["PCol"]:
        """Split into N+1 outputs: one per predicate (first match wins) plus
        a remainder. The shared input is a fan-out node, so the lowering
        persists it once rather than rescanning per output."""
        outs: list[PCol] = []
        taken: Column | None = None
        for cond in conds:
            eff = cond if taken is None else cond & ~taken
            outs.append(self._derive("PartitionBranch", lambda ins, c=eff: ins[0].filter(c)))
            taken = cond if taken is None else taken | cond
        outs.append(
            self._derive(
                "PartitionRest",
                lambda ins, c=taken: ins[0] if c is None else ins[0].filter(~c),
            )
        )
        return outs

    def reshuffle(self) -> "PCol":
        """Beam Reshuffle: break fusion / redistribute for parallelism.
        Lowered to a round-robin repartition to default parallelism
        (sources.readers.spread), skipped when the input is already wide
        — at scale this is the escape hatch for unsplittable sources or
        pre-expansion fan-out, not a default stage."""
        return self._derive("Reshuffle", lambda ins: spread(ins[0]))

    # --- side-input views (reference transform_evaluators.py:34-48) -----
    def as_singleton(self):
        """First element of a 1-element dataset (driver scalar)."""
        rows = self.to_df().take(2)
        if len(rows) != 1:
            raise ValueError(f"as_singleton on non-singleton PCollection ({len(rows)}+ rows)")
        return rows[0][0]

    def as_list(self) -> list:
        """Collected single-column list for closure capture / broadcast.
        Side inputs are small by contract — same collect-then-broadcast
        shape as the reference (pyspark_runner.py:86-90)."""
        return [r[0] for r in self.to_df().collect()]

    def as_dict(self) -> dict:
        """Collected 2-column KV dict."""
        return {r[0]: r[1] for r in self.to_df().collect()}

    def as_multimap(self) -> dict:
        """Collected 2-column key → list-of-values multimap (Beam's
        AsMultimap — a view the reference rejects outright with
        NotImplementedError, transform_evaluators.py:48; strict-superset
        here). Duplicate keys accumulate in first-seen collect order;
        like the other driver views, small-by-contract — the scalable
        form is broadcast_join against the grouped table."""
        out: dict = {}
        for r in self.to_df().collect():
            out.setdefault(r[0], []).append(r[1])
        return out

    def broadcast_join(self, other: "PCol", on, how: str = "inner") -> "PCol":
        """The scalable side-input form: broadcast hash join instead of a
        driver round-trip — preferred at 100 TB over as_dict closures."""
        return self._derive(
            "BroadcastJoin",
            lambda ins: ins[0].join(F.broadcast(ins[1]), on, how),
            extra_inputs=[other.node],
        )

    # --- metrics --------------------------------------------------------
    def observe(self, namespace: str, name: str, *exprs: Column) -> "PCol":
        """Declarative metrics on the codegen path: named aggregates
        piggyback on the next action over this dataset (zero extra jobs,
        JVM-side) — the scale-preferred counter channel. Values appear in
        ``pipeline.metrics.query()`` after an action."""
        reg = self.pipeline.metrics
        return self._derive(
            f"Observe({namespace}/{name})",
            lambda ins: reg.observe(ins[0], namespace, name, *exprs),
        )

    # --- sinks ----------------------------------------------------------
    def write_text(self, path: str, mode: str = "overwrite") -> None:
        df = self.to_df()
        cols = df.columns
        if len(cols) != 1:
            df = df.select(
                F.concat_ws(",", *[F.col(c).cast("string") for c in cols]).alias("value")
            )
        else:
            df = df.select(F.col(cols[0]).cast("string").alias("value"))
        writers.write_text(df, path, mode)

    def write_parquet(self, path: str, mode: str = "overwrite",
                      partition_by: list[str] | None = None) -> None:
        writers.write_parquet(self.to_df(), path, mode, partition_by)
