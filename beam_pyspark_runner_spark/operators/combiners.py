"""CombineFn-style keyed aggregation, lowered Spark-first.

The reference evaluates arbitrary Beam CombineFns with
``aggregateByKey(create_accumulator, add_input, merge_accumulators)``
(``/root/reference/beam_pyspark_runner/transform_evaluators.py:89-100``),
which forces every aggregation through Python. Here the *recognized*
combiners (sum/min/max/count/mean/collect) lower to builtin Catalyst
aggregates — partial+final HashAggregate, whole-stage codegen, zero
Python — and only genuinely custom merge logic pays the Arrow path (a
per-partition ``mapInArrow`` fold over a key-hash repartition, whose
``add`` sees the exact element types of operators/arrow_rows.py).

Contract (SURVEY.md §7 hard-part 4): ``merge`` must be commutative and
associative — partition merge order is nondeterministic by design.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from beam_pyspark_runner_spark.operators.arrow_rows import arrow_struct, columns, to_batch


@dataclass
class CombineFn:
    """Beam-CombineFn-shaped spec for custom aggregation.

    create()        -> accumulator
    add(acc, v)     -> accumulator
    merge(a, b)     -> accumulator   (commutative + associative)
    extract(acc)    -> output value
    """

    create: Callable[[], Any]
    add: Callable[[Any, Any], Any]
    merge: Callable[[Any, Any], Any]
    extract: Callable[[Any], Any] = staticmethod(lambda acc: acc)
    output_type: str = "double"


# Recognized named combiners → builtin Catalyst aggregates (the fast path).
BUILTIN_COMBINERS: dict[str, Callable[[str], Column]] = {
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "count": lambda c: F.count(c),
    "mean": lambda c: F.avg(c),
    "collect": lambda c: F.collect_list(c),
    "collect_set": lambda c: F.collect_set(c),
}


def combine_per_key(
    df: DataFrame,
    key: str | None,
    value: str,
    fn: str | CombineFn,
    out: str = "result",
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """Keyed combine — the one builtin/CombineFn dispatch. ``fn`` is a
    builtin name (fast path) or a CombineFn (Arrow path: per-partition
    fold over a key-hash repartition — add_input over rows, extract per
    key). ``extra_keys`` adds grouping columns — how windowed combines
    group per (key, window_start, window_end). ``key=None`` combines
    globally (per window, given ``extra_keys``). Output layout: the grouping columns in order, then ``out``."""
    keys = ([] if key is None else [key]) + list(extra_keys or [])
    if isinstance(fn, str):
        try:
            agg = BUILTIN_COMBINERS[fn]
        except KeyError:
            raise ValueError(
                f"unknown builtin combiner {fn!r}; use one of "
                f"{sorted(BUILTIN_COMBINERS)} or pass a CombineFn"
            ) from None
        return df.groupBy(*keys).agg(agg(value).alias(out))
    if not keys:
        # The reference's CombineGlobally expansion (KeyWithVoid +
        # CombinePerKey + unkey, SURVEY.md §2.3): the fold needs a key
        # to repartition on.
        keyed = df.select(F.lit(0).alias("__k"), F.col(value))
        return combine_per_key(keyed, "__k", value, fn, out).drop("__k")

    combine = fn

    dtypes = dict(df.dtypes)
    key_schema = ", ".join(f"{k} {dtypes[k]}" for k in keys)

    # Round-13: fold per PARTITION (mapInArrow over a hash repartition
    # on the keys), not per group. groupBy().applyInPandas invokes the
    # Python function — and builds a pandas frame plus an Arrow batch —
    # once per key, which at window-grain key counts (3,600 groups on
    # the sf0.1 events fixture) costs ~15 s of pure per-group overhead
    # for ~0.5 s of folding (guide §4.1: control how often the JVM to
    # Python boundary is paid, not just how wide). The repartition hash-
    # co-locates each key exactly as the groupBy shuffle did, the fold
    # keeps one accumulator per key in a dict (same bounded state the
    # JVM hash aggregate holds), and one output batch per partition
    # crosses back. add/merge contract unchanged — merge is still never
    # needed because every key is complete within its one partition.
    _missing = object()
    out_schema = f"{key_schema}, {out} {combine.output_type}"
    struct = arrow_struct(out_schema)
    n_keys = len(keys)

    def fold_partition(batches):
        accs: dict[tuple, Any] = {}
        add, create, get = combine.add, combine.create, accs.get
        for batch in batches:
            for row in zip(*columns(batch)):
                kt = row[:n_keys]
                acc = get(kt, _missing)
                accs[kt] = add(create() if acc is _missing else acc, row[n_keys])
        if accs:
            rows = [kt + (combine.extract(acc),) for kt, acc in accs.items()]
            yield to_batch(rows, struct)

    return (
        df.select(*keys, value)
        .repartition(*[F.col(k) for k in keys])
        .mapInArrow(fold_partition, schema=out_schema)
    )

