"""Pipeline DAG + lowering rules.

The reference walks a Beam AppliedPTransform tree, memoizes each node's
RDD, and persists nodes with >1 consumer
(``/root/reference/beam_pyspark_runner/evaluator.py:20-33`` memoization;
``eval_context.py:57-61`` fan-out cache set). Catalyst gives us almost
everything else for free (SURVEY.md §4), so this layer keeps exactly the
two rules Spark does *not* apply automatically:

1. **Memoized lowering** — each logical node becomes one DataFrame no
   matter how many branches consume it (common-subplan reuse).
2. **Fan-out persist** — a node with more than one consumer is
   ``persist(MEMORY_AND_DISK)`` so a branching pipeline doesn't recompute
   (or re-shuffle) the shared lineage per branch. At 100 TB this is the
   difference between reading a fact table once or N times.

Sinks/side-input materializations are actions; everything else stays
lazy inside Catalyst.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_node_ids = itertools.count()


@dataclass
class Node:
    """One logical operation: ``build(input_dfs) -> DataFrame``."""

    build: Callable[[list[DataFrame]], DataFrame]
    inputs: list["Node"] = field(default_factory=list)
    label: str = ""
    id: int = field(default_factory=lambda: next(_node_ids))

    def __hash__(self) -> int:
        return self.id

    def __eq__(self, other) -> bool:
        return isinstance(other, Node) and other.id == self.id


class PlanContext:
    """Lowers a DAG of Nodes to DataFrames with memoization + fan-out persist."""

    def __init__(self) -> None:
        self._cache: dict[int, DataFrame] = {}
        self._persisted: list[DataFrame] = []

    def _consumer_counts(self, roots: list[Node]) -> dict[int, int]:
        # Roots start seen: a terminal that is also another terminal's
        # ancestor must not have its own inputs counted twice.
        counts: dict[int, int] = {}
        stack = list(set(roots))
        seen = {node.id for node in stack}
        while stack:
            node = stack.pop()
            for dep in node.inputs:
                counts[dep.id] = counts.get(dep.id, 0) + 1
                if dep.id not in seen:
                    seen.add(dep.id)
                    stack.append(dep)
        return counts

    def lower(self, *terminals: Node) -> list[DataFrame]:
        """Lower terminal nodes (and their shared lineage) to DataFrames."""
        counts = self._consumer_counts(list(terminals))

        def eval_node(node: Node) -> DataFrame:
            if node.id in self._cache:
                return self._cache[node.id]
            df = node.build([eval_node(dep) for dep in node.inputs])
            if counts.get(node.id, 0) > 1:
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
                self._persisted.append(df)
            self._cache[node.id] = df
            return df

        return [eval_node(t) for t in terminals]

    def unpersist_all(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
