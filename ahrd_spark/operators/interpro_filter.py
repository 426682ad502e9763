"""InterPro ancestry/containment closure + most-informative filter (J9).

Parity: InterproResult.java:177-244 + golden
test/ahrd/test/InterproResultTest.java:96-143 — after filtering, a protein
keeps exactly the domains that have NO other of its domains as a transitive
ancestor (parent chain) or transitive container (contains-sets).  (The
golden keeps the roots ipr1/ipr2 and drops all descendants/containees.)

The reference walks the DAG recursively per pair — O(n^2) per protein with
repeated DB lookups (its comment admits the cost).  Spark-first design:

1. Close the InterPro DAG ONCE, on the driver, from the entries
   ``parse_interpro_db`` already parsed there: a depth-first search per
   entry (``operators.dictionary``), at any depth.  ``read_interpro_db``
   carries each known id's superiors as an array column of its local
   relation, so one broadcast join both drops unknown ids (J5) and
   attaches the closure.
2. The filter is then one ``groupBy(protein_acc)`` and an array expression
   per protein: no self-join, and no exchange beyond the grouping.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ahrd_spark.operators.dictionary import transitive_closure


def interpro_closure(entries: Iterable[tuple]) -> dict[str, list[str]]:
    """ipr_id -> sorted transitive ancestors (via parent_id chain) and
    transitive containers (via contains sets, inverted to child->container
    edges).

    ``entries``: ``parse_interpro_db`` tuples ``(ipr_id, short_name, name,
    type, parent_id, contains)``.  An id is its own superior only on a
    cycle; ids that are only referenced (a parent or containee missing from
    the DB) still get a key; ids with no superior get none."""
    edges = []
    for ipr_id, _short, _name, _type, parent_id, contains in entries:
        if parent_id is not None:
            edges.append((ipr_id, parent_id))
        edges.extend((child, ipr_id) for child in contains or ())
    out: dict[str, list[str]] = {}
    for ipr_id, superior in transitive_closure(edges):
        out.setdefault(ipr_id, []).append(superior)
    return out


def filter_most_informative(entities: DataFrame, keep: str) -> DataFrame:
    """One row per protein: ``(protein_acc, entities)``, the sorted distinct
    ``keep`` values of the entities J9 keeps.

    ``entities``: ``protein_acc``, ``entity`` (the raw id the filter
    compares), ``superiors`` (the id's InterPro closure, ``[]`` for a root;
    NULL marks an entity the filter does not apply to, such as a GO term)
    and any payload columns.  A domain is dropped when another domain of
    the same protein is among its superiors; everything else is kept.
    ``keep`` is a SQL expression over ``x``, a struct of every input column
    but ``protein_acc``; the values it gives (not the raw ids) are what
    ``array_distinct`` dedups, so two raw ids that map to one canonical id
    come out once.

    Built from SQL strings: one parse on the JVM, where Python-lambda
    higher-order functions cost a py4j round trip per node.  The protein's
    domain list is derived after the exchange, not shuffled beside it."""
    cols = ", ".join(f"`{c}`" for c in entities.columns if c != "protein_acc")
    return entities.groupBy("protein_acc").agg(
        F.expr(f"collect_list(struct({cols})) AS e")
    ).selectExpr(
        "protein_acc",
        "e",
        "transform(filter(e, x -> x.superiors IS NOT NULL), x -> x.entity) AS d",
    ).selectExpr(
        "protein_acc",
        "array_sort(array_distinct(transform(filter(e, x -> x.superiors IS NULL"
        " OR NOT arrays_overlap(x.superiors, array_remove(d, x.entity))),"
        f" x -> {keep}))) AS entities",
    )
