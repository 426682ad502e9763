"""Dictionary-sized relations, computed on the driver.

Ontology hierarchies (the InterPro DB, GO's is-a DAG, RDFS schema graphs)
and synonym lists are tiny next to the hits: tens of thousands of entries
at full release size.  A Spark self-join would close them at a few jobs per
level, with a plan that grows every round.  A plain depth-first search (or
union-find) on the driver answers them at any depth, and the result reaches
Spark as an Arrow-backed local relation: building it starts no Spark job.
Broadcasting one into a join does start one, a small ``LocalTableScan`` →
``BroadcastExchange`` job (one per broadcast, tens of ms), so a plan should
broadcast each dictionary once.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Hashable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def transitive_closure(
    edges: Iterable[tuple[Hashable, Hashable]],
) -> list[tuple[Hashable, Hashable]]:
    """Every (a, c) such that c is reachable from a over one or more
    directed edges (a, b).  (a, a) appears only when a lies on a cycle;
    nodes that only ever appear as targets still show up as targets.
    Sorted, so equal inputs give equal frames."""
    out: dict = defaultdict(set)
    for a, b in edges:
        out[a].add(b)
    pairs = []
    for src, first in out.items():
        seen: set = set()
        stack = list(first)
        while stack:
            node = stack.pop()
            if node not in seen:
                seen.add(node)
                stack.extend(out.get(node, ()))
        pairs.extend((src, node) for node in seen)
    pairs.sort()
    return pairs


def components(
    edges: Iterable[tuple[Hashable, Hashable]],
) -> list[tuple[Hashable, Hashable]]:
    """(node, root) for every node of an undirected edge list, root = the
    smallest node of its connected component (union-find).  Self-loops
    still name their node.  Sorted, so equal inputs give equal frames."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((node, find(node)) for node in parent)


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """``rows`` as an Arrow-backed local relation.  Unlike a frame built
    from Python rows (a parallelized RDD read through a Python worker), it
    plans as a ``LocalTableScan``: building it starts no job, and a
    broadcast of it is one small job with no Python worker."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    cols = list(zip(*rows)) if rows else [()] * len(names)
    table = pa.Table.from_pydict(
        {n: list(c) for n, c in zip(names, cols)}, schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)
