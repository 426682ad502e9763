"""GO-term transfer (E11/J3) — winner -> reference GO annotations.

Parity: AHRD.java:233-240 — if the winning hit's short accession has entries
in the GOA map, the query protein inherits that full GO set.

Spark shape: the winners table is small relative to the hits (one row per
protein); GOA is pre-filtered to hit accessions (A8 semi-join).  The
transfer is an equi-join on short_acc followed by collect_set; the join
strategy is left to AQE — both sides scale with the input (winners with the
doc count, filtered GOA with the hit-accession vocabulary), so a forced
broadcast would cap the operator at driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ahrd_spark.operators.dictionary import local_frame, transitive_closure


def transfer_go(winners: DataFrame, goa: DataFrame) -> DataFrame:
    """(protein_acc, go_term): one row per GOA row of the protein's winning
    hit — a GO term annotated twice comes out twice."""
    return winners.select("protein_acc", "short_acc").join(goa, "short_acc").select(
        "protein_acc", "go_term"
    )


def go_dag_closure(edges: DataFrame) -> DataFrame:
    """Transitive closure of a GO is-a DAG given (child, parent) edges ->
    (go_term, ancestor).  Generalizes the InterPro parent-chain recursion
    (InterproResult.java:198-244) to the GO ontology — the reference
    declares a goDB (AHRD.java:40) but never populates it in this version;
    the engine makes DAG propagation a first-class operator.

    The ontology is dictionary-sized (GO is ~5e4 terms): the edge list is
    collected once and closed on the driver by the same depth-first search
    as ``interpro_closure`` (``operators.dictionary``), at any depth.  The
    result is an Arrow-backed local relation: no job to build it, one
    small job per broadcast of it.  Self-edges are dropped; (a, a) appears
    only on a cycle."""
    e = edges.toDF("go_term", "ancestor")
    rows = e.filter(F.col("go_term") != F.col("ancestor")).collect()
    return local_frame(edges.sparkSession, transitive_closure(rows), e.schema)


def propagate_go_ancestors(
    go_annotations: DataFrame, dag_edges: DataFrame
) -> DataFrame:
    """Expand (protein_acc, go_term) annotations with all DAG ancestors
    (the 'true-path rule'): a protein annotated with a term is implicitly
    annotated with every ancestor.  Output distinct
    (protein_acc, go_term, is_direct)."""
    closure = go_dag_closure(dag_edges)
    direct = go_annotations.select(
        "protein_acc", "go_term", F.lit(True).alias("is_direct")
    )
    inherited = (
        go_annotations.join(F.broadcast(closure), "go_term")
        .select(
            "protein_acc",
            F.col("ancestor").alias("go_term"),
            F.lit(False).alias("is_direct"),
        )
        .join(direct.select("protein_acc", "go_term"),
              ["protein_acc", "go_term"], "left_anti")
        .distinct()
    )
    return direct.unionByName(inherited)
