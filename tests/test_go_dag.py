"""GO-DAG closure + true-path-rule propagation."""

from ahrd_spark.operators.go_transfer import (
    go_dag_closure,
    propagate_go_ancestors,
)


def test_go_dag_closure(spark):
    # a -> b -> c ; d -> c  (child, parent)
    edges = spark.createDataFrame(
        [("GO:a", "GO:b"), ("GO:b", "GO:c"), ("GO:d", "GO:c")],
        "child string, parent string",
    )
    got = {(r["go_term"], r["ancestor"]) for r in go_dag_closure(edges).collect()}
    assert got == {
        ("GO:a", "GO:b"), ("GO:b", "GO:c"), ("GO:d", "GO:c"),
        ("GO:a", "GO:c"),
    }


def test_propagate_go_ancestors(spark):
    edges = spark.createDataFrame(
        [("GO:a", "GO:b"), ("GO:b", "GO:c")], "child string, parent string"
    )
    annos = spark.createDataFrame(
        [("P1", "GO:a"), ("P2", "GO:b"), ("P2", "GO:c")],
        "protein_acc string, go_term string",
    )
    out = {
        (r["protein_acc"], r["go_term"]): r["is_direct"]
        for r in propagate_go_ancestors(annos, edges).collect()
    }
    assert out == {
        ("P1", "GO:a"): True,
        ("P1", "GO:b"): False,
        ("P1", "GO:c"): False,
        ("P2", "GO:b"): True,
        ("P2", "GO:c"): True,  # direct wins over inherited
    }


def test_closure_loops_release_their_caches(spark):
    """Long-lived sessions must not leak executor memory per closure call:
    both closures are computed on the driver and come back as local
    relations, so repeated calls retain no persisted RDD at all."""
    import gc

    from ahrd_spark.sources.interpro import read_interpro_db

    edges = spark.createDataFrame(
        [("GO:a", "GO:b"), ("GO:b", "GO:c")], "child string, parent string"
    )
    entries = [
        ("ipr1", None, None, None, None, []),
        ("ipr2", None, None, None, "ipr1", ["ipr3"]),
        ("ipr3", None, None, None, None, []),
    ]

    def retained():
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    # warm one call of each, drop results
    go_dag_closure(edges).count()
    read_interpro_db(spark, None, entries).count()
    base = retained()
    for _ in range(3):
        go_dag_closure(edges).count()
        read_interpro_db(spark, None, entries).count()
    assert retained() <= base


def test_no_broadcast_hint_on_data_sized_frames():
    """Grep-able scale invariant: F.broadcast() may only hint frames that
    are dictionary-sized at any input scale (ontology closures, InterPro
    DB, IVF centroids, ANN query panels, canonical entity maps).  Frames
    that grow with the input (hits, winners, GOA, proteins) must leave the
    join strategy to AQE — a forced broadcast caps the job at driver
    memory at 100x scale."""
    import glob
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "ahrd_spark")
    # corpus.orderBy(...).limit(n_centroids) is the IVF centroid seed —
    # bounded by the n_centroids parameter, not by input size; n_docs and
    # vocab (operators/corpus.py) are 1-row global aggregates (count(*) /
    # vocabulary size) — scalar at any input scale.
    # _centroid_array(cents) packs the k centroids into ONE row (bounded by
    # the k parameter); n_count and dangling (operators/graph.py) are 1-row
    # global aggregates — scalar at any input scale.  weights
    # (operators/classifier.py) is the hashed-linear model's weight table,
    # bounded by the n_buckets model constant, never by input size.
    # qterms / q_df / stats (operators/retrieval.py) are the BM25 query
    # panel (dictionary-sized by contract), its per-query-term df slice
    # (bounded by the panel), and a 1-row N/avgdl aggregate.  mu_arr /
    # v_arr / nrm (operators/pca.py) are 1-row d-vector model frames and
    # a 1-row norm scalar — bounded by the embedding dimension.  anc /
    # anc_ic (operators/semsim.py) are the ontology closure and its
    # IC-joined view — dictionary-sized by the same contract as closure /
    # ipr_db (GO is ~5e4 terms), never corpus-sized.
    allowed = re.compile(
        r"F\.broadcast\(\s*(q\b|centroids|cents|closure|ipr_db|cmap"
        r"|corpus\.orderBy|n_docs\b|vocab\b|_centroid_array\(|n_count\b"
        r"|dangling\b|weights\b|qterms\b|q_df\b|stats\b|mu_arr\b|v_arr\b"
        r"|nrm\b|anc\b|anc_ic\b|t_total\b|b_total\b|offsets\b|a_max\b"
        r"|h_max\b|pred_schema\b|constraints\b|n_subj\b|go_dag_closure\("
        r"|requirements\b|disjoint\b|sym_preds\b|inv_pairs\b"
        r"|mirror_map\b"
        r"|cm_counts\b|pred_n_a\b|pred_n_b\b)"
    )
    # t_total / b_total (operators/corpus.py::pmi_collocations) are 1-row
    # corpus position totals — scalar aggregates, never input-sized.
    # offsets (operators/ranking.py::global_dense_rank) is the per-range-
    # partition prefix-sum table — `partitions` rows by construction.
    # a_max / h_max (operators/graph.py::hits_scores) are 1-row global
    # max aggregates — scalar at any input scale.
    # pred_schema / constraints / requirements (operators/kgschema.py) are
    # one-row-per-predicate (or per type x predicate) schema tables —
    # bounded by the ontology's predicate vocabulary, never by triples.
    # n_subj (kgschema.py::entity_summary) is a 1-row countDistinct
    # aggregate.  go_dag_closure(...) broadcasts a closed subClassOf /
    # subPropertyOf schema graph (kgschema.py::rdfs_materialize) —
    # ontology-sized by the same contract as closure / anc.  disjoint
    # (kgschema.py::disjoint_violations) is the declared disjoint-class
    # pair list — bounded by the ontology's class vocabulary squared at
    # worst, in practice a short declaration list.  sym_preds / inv_pairs
    # (kgschema.py::owl_property_rules) are slices of the axiom table —
    # one row per declared predicate.  mirror_map (kgschema.py::
    # _owl_mirror) is the driver-built predicate-level mirror fixpoint
    # table — at most 2x the axiom predicate vocabulary rows.
    # cm_counts (sketches.py::countmin_query) is the Count-Min bucket
    # table, bounded by depth x width by construction regardless of
    # input size.  pred_n_a / pred_n_b (truth.py::predicate_alignment)
    # are per-predicate extension sizes — one row per predicate,
    # schema-sized.
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(path).read()
        for m in re.finditer(r"F\.broadcast\([^)]*", src):
            if not allowed.match(m.group(0).replace("\n", " ")):
                line = src[: m.start()].count("\n") + 1
                offenders.append(f"{os.path.relpath(path, pkg)}:{line} {m.group(0)[:60]}")
    assert not offenders, f"data-sized broadcast hints found: {offenders}"
