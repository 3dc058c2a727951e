"""Pipeline metrics: counters and distributions over Spark-native channels.

The reference runner leaves this surface unimplemented —
``PysparkResult.metrics()`` raises ``NotImplementedError("metrics later")``
(reference ``pyspark_runner.py:30-31``); Beam's model API is
``Metrics.counter(namespace, name).inc()`` inside a DoFn plus
``result.metrics().query()``. This module implements that contract with
the two idiomatic Spark mechanisms:

- **Accumulators** for imperative counters incremented inside Python
  kernels (``par_do`` / ``map_rows``): the executor adds locally, Spark
  merges per-task updates on the driver — exactly Beam's
  committed-counter model. Works at any cluster size; an accumulator is
  a few bytes of per-task state, never a shuffle.
- **``DataFrame.observe``** for declarative metrics on the codegen path:
  named aggregate expressions piggyback on an existing action, cost no
  extra job, and are collected by the JVM (no Python round-trip). This
  is the scale-preferred channel for "rows that passed this stage"
  style counters at 100 TB.

Caveats mirrored from Spark's own semantics (and documented by Beam for
its runners too): accumulator updates from *re-executed* tasks can
double-count on failure retries — Beam calls these "attempted" metrics;
``observe`` metrics are exactly-once per completed action.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any, Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.accumulators import Accumulator


@dataclass
class Counter:
    """Beam ``Metrics.counter`` equivalent: accumulator-backed.

    Picklable into executor closures (a dataclass pickles its fields,
    and an accumulator pickles by its id); ``inc`` on an executor stages a
    local add that Spark merges driver-side at task completion.
    """

    namespace: str
    name: str
    _acc: "Accumulator"

    def inc(self, n: int = 1) -> None:
        self._acc.add(n)

    def dec(self, n: int = 1) -> None:
        self._acc.add(-n)

    @property
    def value(self) -> int:
        """Committed value (driver-side only)."""
        return self._acc.value


@dataclass
class Distribution:
    """Beam ``Metrics.distribution``: (count, sum, min, max) merged via
    four accumulators — constant-size state, associative merge."""

    namespace: str
    name: str
    _count: "Accumulator"
    _sum: "Accumulator"
    _min: "Accumulator"
    _max: "Accumulator"

    def update(self, v: int) -> None:
        self.update_agg(1, v, v, v)

    def update_agg(self, n: int, total: int, lo: int, hi: int) -> None:
        """Pre-aggregated batch update (Arrow-kernel fast path): fold a
        whole batch's (count, sum, min, max) in four adds instead of a
        per-row Python loop."""
        self._count.add(n)
        self._sum.add(total)
        self._min.add(lo)
        self._max.add(hi)

    def result(self) -> dict[str, int | None]:
        n = self._count.value
        return {
            "count": n,
            "sum": self._sum.value,
            "min": self._min.value if n else None,
            "max": self._max.value if n else None,
        }


@dataclass
class _ExtremeParam:
    """Accumulator param keeping ``pick`` (``min`` or ``max``) of the
    values added; None until the first."""

    pick: Callable[[Any, Any], Any]

    def zero(self, value):
        return value

    def addInPlace(self, a, b):
        return b if a is None else (a if b is None else self.pick(a, b))


@dataclass
class MetricsRegistry:
    """Per-pipeline metric store: Beam's ``result.metrics()`` equivalent.

    ``counter``/``distribution`` create accumulator-backed metrics;
    ``observation`` creates a named ``observe`` slot. ``query()``
    snapshots everything by (namespace, name).
    """

    spark: SparkSession
    counters: dict[tuple[str, str], Counter] = field(default_factory=dict)
    distributions: dict[tuple[str, str], Distribution] = field(default_factory=dict)
    observations: dict[tuple[str, str], Observation] = field(default_factory=dict)

    def counter(self, namespace: str, name: str) -> Counter:
        key = (namespace, name)
        if key not in self.counters:
            acc = self.spark.sparkContext.accumulator(0)
            self.counters[key] = Counter(namespace, name, acc)
        return self.counters[key]

    def distribution(self, namespace: str, name: str) -> Distribution:
        key = (namespace, name)
        if key not in self.distributions:
            sc = self.spark.sparkContext
            self.distributions[key] = Distribution(
                namespace,
                name,
                sc.accumulator(0),
                sc.accumulator(0),
                sc.accumulator(None, _ExtremeParam(min)),
                sc.accumulator(None, _ExtremeParam(max)),
            )
        return self.distributions[key]

    def observe(self, df: DataFrame, namespace: str, name: str, *exprs) -> DataFrame:
        """Attach named aggregate expressions to ``df``; values are
        available from ``query()`` after any action on the result."""
        key = (namespace, name)
        obs = Observation()
        self.observations[key] = obs
        return df.observe(obs, *exprs)

    def query(self) -> dict[tuple[str, str], object]:
        out: dict[tuple[str, str], object] = {}
        for key, c in self.counters.items():
            out[key] = c.value
        for key, d in self.distributions.items():
            out[key] = d.result()
        for key, obs in self.observations.items():
            out[key] = dict(obs.get)
        return out

    def to_df(self) -> DataFrame:
        """Metrics snapshot as a (namespace, metric, value: double) frame —
        a driver-built constant-size table (metric cardinality is bounded
        by the program text, not the data)."""
        rows: list[tuple[str, str, float]] = []
        for (ns, name), v in sorted(self.query().items()):
            if isinstance(v, dict):
                for sub, sv in sorted(v.items()):
                    if sv is not None:
                        rows.append((ns, f"{name}.{sub}", float(sv)))
            else:
                rows.append((ns, name, float(v)))
        return self.spark.createDataFrame(
            rows, "namespace string, metric string, value double"
        ).select("namespace", "metric", F.col("value"))
