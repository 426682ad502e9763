"""Schema-level KG construction operators: RDFS-style type entailment,
SHACL-style constraint validation, and bounded metapath mining.

No reference analog (AHRD emits flat annotations, not a typed graph); this
extends the engine's KG-materialization family (operators/graph.py) with the
schema passes a production triple store runs between extraction and load:

* ``infer_types``       — RDFS2/RDFS3 entailment (domain/range -> rdf:type)
  from a broadcastable predicate schema.
* ``validate_triples``  — violation REPORT (not just stats like
  ``predicate_functionality``): max-cardinality breaches, object lexical
  pattern breaches, dangling entity references.
* ``metapath_counts``   — (pred1, pred2) 2-hop path frequencies through a
  shared mid entity, with an explicit hub cap so one celebrity node cannot
  blow the self-join up quadratically.
* ``bgp_match``         — star-shaped SPARQL basic-graph-pattern matching:
  required (pred, obj) constraints on a shared subject plus variable
  predicates whose objects bind as output columns.
* ``characteristic_sets`` — Neumann & Moerkotte (ICDE 2011) RDF schema
  discovery: the distinct predicate combinations subjects actually use,
  with subject/triple counts — the statistic triple stores drive
  cardinality estimation from.
* ``entity_summary``    — informativeness-ranked top-k facts per entity
  (rarer (pred, obj) pairs rank higher), the RDF analog of IDF-weighted
  document summarization.
* ``bgp_optional``      — OPTIONAL-clause BGP (SPARQL left-outer-join
  semantics), the third canonical BGP shape next to the star and chain.
* ``property_path``     — bounded ``pred+`` transitive closure with
  minimal hop depth, checkpointed-frontier BFS.
* ``owl_property_rules`` — OWL 2 RL instance-level property rules
  (SymmetricProperty / inverseOf / TransitiveProperty) materialized to
  a provable fixpoint.

Scale shape: the predicate schema / constraint tables are tiny (one row per
predicate) -> broadcast joins; everything else is distinct + hash aggregate
on (pred, subj[, obj]) keys, all map-side combinable.  The metapath self-join
is the only superlinear risk and is degree-capped BEFORE the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bgp_optional(
    triples: DataFrame,
    pred_req: str,
    pred_opt: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """OPTIONAL-clause SPARQL basic graph pattern
    ``{ ?s pred_req ?o . OPTIONAL { ?s pred_opt ?o2 } }`` -> distinct
    ``(subj, obj, opt_obj)`` bindings with ``opt_obj`` NULL when the
    subject asserts no ``pred_opt`` triple — SPARQL's left-outer-join
    semantics, the third canonical BGP shape next to the star
    (``bgp_match``) and the chain (``bgp_chain``).

    Subjects with several ``pred_opt`` objects bind once per object (the
    OPTIONAL clause multiplies bindings, per the SPARQL algebra); the
    required slice alone determines which subjects appear at all.

    Scale shape: both predicate slices are scan-side filters (pushed to
    the source) deduped by hash aggregate; the one join is subject-keyed
    with both sides hash-partitioned by subject — a plain shuffled left
    outer join whose fan-out per subject is bounded by that subject's
    ``pred_opt`` out-degree.  No driver state, no cartesian branch.
    """
    t = triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    )
    req = t.where(F.col("pred") == pred_req).select("subj", "obj").distinct()
    opt = (
        t.where(F.col("pred") == pred_opt)
        .select("subj", F.col("obj").alias("opt_obj"))
        .distinct()
    )
    return req.join(opt, "subj", "left_outer").select(
        "subj", "obj", "opt_obj"
    )


def property_path(
    triples: DataFrame,
    pred: str,
    max_depth: int = 8,
    checkpoint_dir: str | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Bounded SPARQL property path ``pred+`` -> distinct
    ``(subj, obj, depth)`` where ``depth`` is the MINIMUM hop count
    (1 = the asserted edge) over paths of length <= ``max_depth`` —
    the generic transitive-closure query (``ancestor_of+``,
    ``part_of+``) that ``rdfs_materialize`` only runs on its two fixed
    schema predicates.

    Minimal-depth semantics fall out of the frontier construction: a
    pair enters the result the first round it is reachable and the
    anti-join bars rediscovery, so ties across distinct shortest paths
    cannot diverge — the DuckDB replay (recursive CTE + min(depth))
    matches exactly.

    Scale shape: the predicate slice is a scan-side filter, deduped,
    persisted once; each round is one frontier ⋈ edges join (both sides
    hash-partitioned on the junction entity) plus an anti-join against
    the accumulated reach, frontier and reach re-checkpointed per round
    (``checkpoint_dir`` for cluster runs, localCheckpoint fallback —
    same contract as ``pagerank``), so plan lineage stays constant-depth.
    Terminates early when a frontier empties; the per-round frontier
    count is the only driver-side action and is O(1) per round.  Cycles
    are safe: a cyclic pair is still a (subj, obj, first-depth) row, and
    the anti-join stops it respawning.
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    spark = triples.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if checkpoint_dir
            else df.localCheckpoint(eager=True)
        )

    e = (
        triples.where(F.col(pred_col) == pred)
        .select(F.col(subj_col).alias("src"), F.col(obj_col).alias("dst"))
        .distinct()
        .persist()
    )
    try:
        reach = _ckpt(
            e.select(
                F.col("src").alias("subj"),
                F.col("dst").alias("obj"),
                F.lit(1).cast("int").alias("depth"),
            )
        )
        frontier = reach
        for d in range(2, max_depth + 1):
            nxt = (
                frontier.join(e, frontier["obj"] == e["src"])
                .select(
                    frontier["subj"],
                    e["dst"].alias("obj"),
                    F.lit(d).cast("int").alias("depth"),
                )
                .distinct()
            )
            frontier = _ckpt(
                nxt.join(reach, ["subj", "obj"], "left_anti")
            )
            if frontier.isEmpty():
                break
            reach = _ckpt(reach.unionByName(frontier))
        return reach
    finally:
        e.unpersist()


def bgp_minus(
    triples: DataFrame,
    pred_req: str,
    pred_not: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Negation BGP ``{ ?s pred_req ?o . FILTER NOT EXISTS
    { ?s pred_not ?x } }`` -> distinct ``(subj, obj)`` bindings for
    subjects asserting NO ``pred_not`` triple at all — SPARQL's
    anti-join shape, completing the algebra next to the star
    (``bgp_match``), chain (``bgp_chain``) and OPTIONAL
    (``bgp_optional``) forms.  (For this disjoint-variable pattern
    MINUS and FILTER NOT EXISTS coincide.)

    Scale shape: two scan-side predicate slices; the exclusion side
    collapses to its distinct subject set (map-side combinable) before
    the subject-keyed left-anti join — both sides hash-partitioned by
    subject, no fan-out at all.
    """
    t = triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    )
    req = t.where(F.col("pred") == pred_req).select("subj", "obj").distinct()
    excl = t.where(F.col("pred") == pred_not).select("subj").distinct()
    return req.join(excl, "subj", "left_anti")


def reach_delta(
    closure: DataFrame,
    delta_edges: DataFrame,
    max_rounds: int = 16,
    checkpoint_dir: str | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Incremental transitive-closure maintenance: the NEW reachability
    pairs ``(subj, obj)`` that a batch of ``delta_edges`` adds to a graph
    whose full closure is ``closure`` — without re-running the closure
    over the (enormously larger) existing graph, the property-path
    sibling of ``rdfs_delta``.

    Semi-naive evaluation: with R the old closure and D the new edges,
    the one-new-edge bridge is ``B = R? . D . R?`` (an optional old path
    into a new edge, then an optional old path out); paths threading
    SEVERAL new edges are exactly B's own transitive chains, so the
    answer is ``B+ minus R`` — computed with ``property_path``-style
    checkpointed frontier rounds over B, which is delta-sized, not
    graph-sized.  Correctness: any new path decomposes around its new
    edges into old-closure segments, each (old-segment, new-edge,
    old-segment) window being one B hop.

    ``closure`` must be the COMPLETE closure of the old graph (e.g.
    ``property_path`` output at a depth bound >= the graph diameter, or
    this function's own maintained output); extra columns (``depth``)
    are ignored.

    Scale shape: building B is two joins of the delta against the
    closure keyed on the junction entity (delta-sized probe side); each
    chain round is one frontier ⋈ B join plus an anti-join against the
    accumulated result, all hash-partitioned on the junction, frontier
    checkpointed per round.  Nothing ever re-joins the old closure to
    itself.
    """
    spark = closure.sparkSession
    if checkpoint_dir:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if checkpoint_dir
            else df.localCheckpoint(eager=True)
        )

    r = closure.select(
        F.col("subj").alias("subj"), F.col("obj").alias("obj")
    ).distinct()
    d = (
        delta_edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .distinct()
        .persist()
    )
    try:
        # left-extend: an optional old path INTO each new edge
        into = d.unionByName(
            r.alias("rl")
            .join(d.alias("dl"), F.col("rl.obj") == F.col("dl.src"))
            .select(
                F.col("rl.subj").alias("src"), F.col("dl.dst").alias("dst")
            )
        ).distinct()
        # right-extend: an optional old path OUT of the new edge
        bridge = (
            into.unionByName(
                into.alias("il")
                .join(r.alias("rr"), F.col("il.dst") == F.col("rr.subj"))
                .select(
                    F.col("il.src").alias("src"),
                    F.col("rr.obj").alias("dst"),
                )
            )
            .distinct()
            .persist()
        )
        acc = _ckpt(bridge.select("src", "dst"))
        frontier = acc
        converged = False

        def _extend(fr):
            return _ckpt(
                fr.alias("f")
                .join(bridge.alias("b"), F.col("f.dst") == F.col("b.src"))
                .select(
                    F.col("f.src").alias("src"),
                    F.col("b.dst").alias("dst"),
                )
                .distinct()
                .join(acc, ["src", "dst"], "left_anti")
            )

        for _ in range(max_rounds - 1):
            frontier = _extend(frontier)
            if frontier.isEmpty():
                converged = True
                break
            acc = _ckpt(acc.unionByName(frontier))
        if not converged and not _extend(frontier).isEmpty():
            # same contract as graph.py::kcore — an incomplete delta
            # silently corrupts an incrementally-maintained closure
            raise RuntimeError(
                "reach_delta did not reach fixpoint within "
                f"max_rounds={max_rounds}; raise max_rounds (bridge "
                "chains thread more new edges than rounds allowed)"
            )
        return (
            acc.select(
                F.col("src").alias("subj"), F.col("dst").alias("obj")
            )
            .join(r, ["subj", "obj"], "left_anti")
        )
    finally:
        d.unpersist()
        try:
            bridge.unpersist()
        except Exception:
            pass


def _owl_axiom_frames(axioms: DataFrame):
    """Shared axiom-table decomposition for the OWL rule operators:
    (sorted symmetric predicate list, directed pred->inverse edge list,
    sorted transitive predicate name list) — collected driver-side,
    legitimate because the axiom table is ontology-sized by contract
    (one row per declared predicate), the same bounded control read as
    the transitive list always was."""
    ax = axioms.select(
        "pred",
        F.col("symmetric").cast("boolean").alias("symmetric"),
        "inverse_of",
        F.col("transitive").cast("boolean").alias("transitive"),
    )
    inv_edges = sorted(
        {
            pair
            for r in ax.where(F.col("inverse_of").isNotNull())
            .select("pred", "inverse_of")
            .distinct()
            .collect()
            for pair in (
                (r["pred"], r["inverse_of"]),
                (r["inverse_of"], r["pred"]),
            )
        }
    )
    sym_list = sorted(
        r["pred"]
        for r in ax.where(F.col("symmetric"))
        .select("pred")
        .distinct()
        .collect()
    )
    trans_preds = sorted(
        r["pred"]
        for r in ax.where(F.col("transitive"))
        .select("pred")
        .distinct()
        .collect()
    )
    return sym_list, inv_edges, trans_preds


def _owl_mirror_map(sym_list, inv_edges):
    """Predicate-level FIXPOINT of the symmetric/inverse rewrite system
    -> ``[(pred, out_pred, flip)]``: for every predicate, every
    (predicate, orientation) state reachable through ANY chain of
    symmetric flips and inverseOf renames.  Both rules act on the
    predicate alone (symmetric p: (q, f) -> (q, !f); p inverseOf q:
    (p, f) <-> (q, !f)), so the instance-level fixpoint is exactly one
    broadcast join against this closed map — no pass count to reason
    about, and chained inverseOf declarations (p->q->r->w, predicate
    equivalence chains) that a fixed 2+1-pass schedule provably missed
    are handled.  BFS over <= 2x|pred vocab| states, driver-side,
    ontology-sized."""
    sym = set(sym_list)
    inv: dict = {}
    for a, b in inv_edges:
        inv.setdefault(a, set()).add(b)
    out = []
    for p in sorted(sym | set(inv)):
        seen = {(p, False)}
        stack = [(p, False)]
        while stack:
            q, f = stack.pop()
            nxt = [(q, not f)] if q in sym else []
            nxt.extend((r, not f) for r in inv.get(q, ()))
            for st in nxt:
                if st not in seen:
                    seen.add(st)
                    stack.append(st)
        out.extend(
            (p, q, f) for q, f in sorted(seen - {(p, False)})
        )
    return out


def _owl_mirror(cur: DataFrame, mirror_rows) -> DataFrame:
    """Symmetric/inverse mirror FIXPOINT over (subj, pred, obj) rows in
    ONE pass: ``mirror_rows`` (from ``_owl_mirror_map``) already closes
    the predicate-level rewrite chains, so a single broadcast join emits
    every entailed mirror; flip=true swaps subj/obj, flip=false keeps
    orientation (an even-length rule chain that only renames the
    predicate).  The instance data shuffles only for the final dedup."""
    if not mirror_rows:
        return cur
    spark = cur.sparkSession
    mirror_map = spark.createDataFrame(
        mirror_rows, "pred STRING, out_pred STRING, flip BOOLEAN"
    )
    mirrored = cur.join(F.broadcast(mirror_map), "pred").select(
        F.when(F.col("flip"), F.col("obj"))
        .otherwise(F.col("subj"))
        .alias("subj"),
        F.col("out_pred").alias("pred"),
        F.when(F.col("flip"), F.col("subj"))
        .otherwise(F.col("obj"))
        .alias("obj"),
    )
    return cur.unionByName(mirrored).distinct()


def owl_rules_delta(
    materialized: DataFrame,
    axioms: DataFrame,
    new_triples: DataFrame,
    max_rounds: int = 16,
    checkpoint_dir: str | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Incremental OWL property-rule maintenance: the ``(subj, pred,
    obj, inferred)`` rows a batch of newly asserted triples ADDS to an
    existing ``owl_property_rules`` fixpoint — without re-running the
    rules over the (enormously larger) materialized graph, completing
    the incremental-view-maintenance family next to ``rdfs_delta`` and
    ``reach_delta``.

    * Symmetric/inverse rules are per-triple and predicate-determined,
      so ONE pass of the closed mirror map over the DELTA alone reaches
      their fixpoint (the old graph's mirrors are already in
      ``materialized``; chained inverseOf declarations are closed
      inside the map itself — ``_owl_mirror_map``).
    * Each transitive predicate's new closure pairs come from
      ``reach_delta`` against the predicate's slice of the materialized
      graph — which IS that predicate's complete old closure, because
      the full operator materialized ``pred+`` (its docstring's
      fixpoint argument makes the slice composition-closed).
    * A final mirror-fixpoint pass (the same closed predicate-level
      map) routes closure pairs of symmetric/inverse transitive
      predicates back across every rename/flip chain, mirroring the
      full operator's final pass.

    Contract (same as ``rdfs_delta``): rows are compared on
    ``(subj, pred, obj)`` only — a delta triple the old fixpoint already
    contains (asserted OR inferred) is NOT re-reported, so
    asserted-over-inferred flag flips are invisible to the delta.
    ``inferred`` is False for the delta's own surviving assertions, True
    for everything else.  Union with the old fixpoint to maintain it:
    the union equals ``owl_property_rules`` on the full triple set
    row-for-row on (subj, pred, obj) (the equivalence the fuzz suite
    checks).

    Scale shape: every rule pass is delta-sized (broadcast axiom
    joins); ``reach_delta`` probes the old closure with delta-keyed
    joins only; the one old-graph-sized operation is the final
    (subj, pred, obj)-keyed anti-join against ``materialized`` — both
    sides hash-partitioned on the full key, the same shape as
    ``rdfs_delta``'s probe.
    """
    m = materialized.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    ).distinct()
    t_new = new_triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    ).distinct()
    sym_list, inv_edges, trans_preds = _owl_axiom_frames(axioms)
    mrows = _owl_mirror_map(sym_list, inv_edges)

    widened = _owl_mirror(t_new, mrows)

    closed = widened
    for p in trans_preds:
        old_closure = m.where(F.col("pred") == p).select("subj", "obj")
        delta_edges = widened.where(F.col("pred") == p).select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        )
        new_pairs = reach_delta(
            old_closure,
            delta_edges,
            max_rounds=max_rounds,
            checkpoint_dir=checkpoint_dir,
        ).select("subj", F.lit(p).alias("pred"), "obj")
        closed = closed.unionByName(new_pairs)
    closed = _owl_mirror(closed.distinct(), mrows)

    fresh = closed.join(m, ["subj", "pred", "obj"], "left_anti")
    return fresh.join(
        t_new.withColumn("asserted", F.lit(True)),
        ["subj", "pred", "obj"],
        "left_outer",
    ).select(
        "subj",
        "pred",
        "obj",
        F.coalesce(~F.col("asserted"), F.lit(True)).alias("inferred"),
    )


def owl_property_rules(
    triples: DataFrame,
    axioms: DataFrame,
    max_depth: int = 8,
    checkpoint_dir: str | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """OWL property-axiom materialization -> distinct
    ``(subj, pred, obj, inferred)``: the asserted triples
    (``inferred=false``) plus everything the three instance-level OWL 2
    RL property rules entail (``inferred=true``):

    * ``owl:SymmetricProperty``  — ``(s, p, o) => (o, p, s)``.
    * ``owl:inverseOf``          — ``p owl:inverseOf q`` makes the pair
      mutually inverse: ``(s, p, o) => (o, q, s)`` AND
      ``(s, q, o) => (o, p, s)``.
    * ``owl:TransitiveProperty`` — ``pred+`` closure (``property_path``)
      per transitive predicate, depth-bounded by ``max_depth``.

    ``axioms``: one row per declared predicate —
    ``(pred, symmetric: boolean, inverse_of: string|null,
    transitive: boolean)``; ontology-sized -> broadcast.

    Rule stratification: the symmetric/inverse FIXPOINT first (one pass
    of the predicate-level closed mirror map — ``_owl_mirror_map`` BFSes
    every chain of flips and inverseOf renames over the axiom vocab, so
    chained inverseOf declarations like p->q->r->w are fully honored),
    then the transitive closure over the widened edge set, then the
    mirror fixpoint once more so closure edges route back across every
    rename/flip chain.  That ordering is the complete fixpoint for
    these three rules: the widened base already contains every mirror
    of every asserted edge, so any mirror of a closure pair into a
    transitive predicate r is itself an r-path in the widened base and
    r's own closure already produced it — the final mirror pass only
    adds mirrors into non-transitive predicates, which seed nothing.

    Scale shape: the axiom table joins broadcast on the predicate
    column, so the two non-transitive rules never shuffle the instance
    data at all; the per-predicate closures inherit
    ``property_path``'s checkpointed-frontier shape.  The final dedup
    of inferred rows is the one genuine instance-sized shuffle.
    """
    t = triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    ).distinct()
    asserted = t.withColumn("inferred", F.lit(False))

    sym_list, inv_edges, trans_preds = _owl_axiom_frames(axioms)
    mrows = _owl_mirror_map(sym_list, inv_edges)

    widened = _owl_mirror(t, mrows)

    closed = widened
    for p in sorted(trans_preds):
        extra = (
            property_path(
                widened,
                p,
                max_depth=max_depth,
                checkpoint_dir=checkpoint_dir,
            )
            .where(F.col("depth") > 1)
            .select("subj", F.lit(p).alias("pred"), "obj")
        )
        closed = closed.unionByName(extra)
    closed = _owl_mirror(closed.distinct(), mrows)

    new_rows = (
        closed.join(t, ["subj", "pred", "obj"], "left_anti")
        .distinct()
        .withColumn("inferred", F.lit(True))
    )
    return asserted.unionByName(new_rows)


def infer_types(
    triples: DataFrame,
    pred_schema: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """RDFS domain/range entailment -> distinct ``(entity, type)`` rows.

    ``pred_schema``: (pred, domain_type, range_type) — one row per predicate,
    either type nullable.  Rule rdfs2: (s, p, o) & domain(p, T) => type(s, T);
    rule rdfs3: (s, p, o) & range(p, T) => type(o, T).

    Scale shape: the schema is one row per predicate -> broadcast hash join
    against the triple scan; the distinct is a hash aggregate on the
    (entity, type) output, far smaller than the input.  No shuffle of the
    triple table by anything but the final distinct.
    """
    t = triples.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    )
    sch = F.broadcast(
        pred_schema.select(
            F.col("pred").alias("p"), "domain_type", "range_type"
        )
    )
    joined = t.join(sch, "p")
    subj_types = joined.where(F.col("domain_type").isNotNull()).select(
        F.col("s").alias("entity"), F.col("domain_type").alias("type")
    )
    obj_types = joined.where(F.col("range_type").isNotNull()).select(
        F.col("o").alias("entity"), F.col("range_type").alias("type")
    )
    return subj_types.unionByName(obj_types).distinct()


def validate_triples(
    triples: DataFrame,
    constraints: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """SHACL-style validation -> one row per violation:
    ``(kind, pred, subj, obj, n)``.

    ``constraints``: one row per predicate —
      (pred, max_card: int|null, obj_regex: string|null,
       obj_is_entity_ref: boolean)

    Three shapes, mirroring sh:maxCount / sh:pattern / sh:class:

    * ``kind='cardinality'`` — subject asserts more than ``max_card``
      DISTINCT objects for the predicate; ``obj`` is NULL, ``n`` = the
      offending distinct-object count.
    * ``kind='pattern'``     — object fails ``obj_regex`` (full match);
      one row per distinct offending triple, ``n`` = 1.
    * ``kind='dangling'``    — predicate is declared an entity reference
      but the object never occurs as a SUBJECT anywhere in the graph;
      one row per distinct offending triple, ``n`` = 1.

    Scale shape: constraints broadcast (rows == predicates); cardinality is
    a (pred, subj) hash aggregate; pattern is a scan-side filter; dangling
    is a left-anti join against the distinct subject set (hash-partitioned
    by entity id — the one genuine shuffle, keyed on the same column both
    sides).
    """
    t = triples.select(
        F.col(pred_col).alias("pred"),
        F.col(subj_col).alias("subj"),
        F.col(obj_col).alias("obj"),
    ).distinct()
    c = F.broadcast(
        constraints.select(
            "pred", "max_card", "obj_regex", "obj_is_entity_ref"
        )
    )
    tc = t.join(c, "pred")

    card = (
        tc.where(F.col("max_card").isNotNull())
        .groupBy("pred", "subj", "max_card")
        .agg(F.countDistinct("obj").alias("n"))
        .where(F.col("n") > F.col("max_card"))
        .select(
            F.lit("cardinality").alias("kind"),
            "pred",
            "subj",
            F.lit(None).cast("string").alias("obj"),
            "n",
        )
    )
    pattern = (
        tc.where(F.col("obj_regex").isNotNull())
        .where(
            ~F.regexp_like(
                F.col("obj"),
                F.concat(F.lit("^(?:"), F.col("obj_regex"), F.lit(")$")),
            )
        )
        .select(
            F.lit("pattern").alias("kind"),
            "pred",
            "subj",
            "obj",
            F.lit(1).cast("bigint").alias("n"),
        )
    )
    subjects = t.select(F.col("subj").alias("obj")).distinct()
    dangling = (
        tc.where(F.col("obj_is_entity_ref"))
        .join(subjects, "obj", "left_anti")
        .select(
            F.lit("dangling").alias("kind"),
            "pred",
            "subj",
            "obj",
            F.lit(1).cast("bigint").alias("n"),
        )
    )
    return card.unionByName(pattern).unionByName(dangling)


def metapath_counts(
    triples: DataFrame,
    hub_cap: int = 1000,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """2-hop metapath frequencies -> ``(pred1, pred2, n_paths, n_mids)``:
    for every ordered predicate pair, how many distinct
    (s, p1, m) + (m, p2, o) path instances run through a shared mid
    entity, and through how many distinct mids.  The workhorse of schema
    discovery (which relations compose?) and of metapath-based embeddings
    (metapath2vec's path vocabulary).

    ``hub_cap``: mids whose in-degree OR out-degree exceeds the cap are
    EXCLUDED before the join — one hub entity with a million in- and
    out-edges would otherwise contribute 10^12 path rows.  Capped mids are
    reported in the companion column ``n_mids`` only via their absence;
    callers needing hub metapaths should aggregate per-hub separately
    (degree-bounded output) rather than expanding paths.

    Scale shape: per-mid degrees are hash aggregates; the cap filter
    bounds every mid's contribution to ``hub_cap**2`` pairs; the path join
    is keyed on the mid entity — both sides hash-partitioned by it, then a
    (pred1, pred2) aggregate whose output is bounded by |preds|^2.
    """
    t = triples.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    ).distinct()
    in_deg = t.groupBy(F.col("o").alias("mid")).agg(
        F.count(F.lit(1)).alias("d_in")
    )
    out_deg = t.groupBy(F.col("s").alias("mid")).agg(
        F.count(F.lit(1)).alias("d_out")
    )
    ok_mids = (
        in_deg.join(out_deg, "mid")
        .where((F.col("d_in") <= hub_cap) & (F.col("d_out") <= hub_cap))
        .select("mid")
    )
    left = t.select(
        F.col("p").alias("pred1"), F.col("o").alias("mid")
    ).join(ok_mids, "mid", "left_semi")
    right = t.select(
        F.col("s").alias("mid"), F.col("p").alias("pred2")
    ).join(ok_mids, "mid", "left_semi")
    return (
        left.join(right, "mid")
        .groupBy("pred1", "pred2")
        .agg(
            F.count(F.lit(1)).alias("n_paths"),
            F.countDistinct("mid").alias("n_mids"),
        )
    )


def bgp_match(
    triples: DataFrame,
    required: list[tuple[str, str]],
    bindings: list[str] | None = None,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Star-shaped SPARQL basic-graph-pattern match: the query
    ``{ ?s p1 o1 ; p2 o2 ; pv ?v }`` -> one row per subject x binding
    combination, columns ``(subj, val_<pv> ...)``.

    * ``required`` — literal ``(pred, obj)`` constraints the subject must
      ALL satisfy (SPARQL triple patterns with a constant object).
    * ``bindings`` — predicates whose object binds as an output column
      ``val_<pred>``; a subject with several objects for a binding
      predicate fans out to one row per combination, exactly like the
      SPARQL join semantics.

    Scale shape: the pattern itself is tiny Python literals compiled into
    scan-side filters — no pattern table, no shuffle to apply it.  The
    required-constraint check is one hash aggregate on the subject key
    (count of distinct satisfied constraints == len(required)); each
    binding predicate is then an inner join keyed on the SAME subject
    column, so every stage after the first shuffle is co-partitioned by
    subject.  Per-subject fan-out is the product of the binding
    predicates' per-subject cardinalities — bounded by data, not by the
    algorithm; a max-cardinality constraint (``validate_triples``) is the
    right guard upstream if a binding predicate can be unbounded.
    """
    bindings = list(bindings or [])
    t = triples.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    ).distinct()

    if required:
        cond = None
        for pred, obj in required:
            leg = (F.col("p") == pred) & (F.col("o") == obj)
            cond = leg if cond is None else (cond | leg)
        subjects = (
            t.where(cond)
            .groupBy("s")
            .agg(F.countDistinct("p", "o").alias("_n_sat"))
            .where(F.col("_n_sat") == len(required))
            .select("s")
        )
    else:
        subjects = t.select("s").distinct()

    out = subjects
    for pred in bindings:
        leg = t.where(F.col("p") == pred).select(
            "s", F.col("o").alias(f"val_{pred}")
        )
        out = out.join(leg, "s")
    return out.withColumnRenamed("s", "subj")


def characteristic_sets(
    triples: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011): group subjects
    by the exact SET of predicates they use ->
    ``(char_set, n_preds, n_subjects, n_triples)`` where ``char_set`` is
    the sorted '|'-joined predicate list.  The workhorse statistic of RDF
    cardinality estimation (how many subjects look like "a protein with a
    description and GO terms"?) and of emergent-schema discovery.

    Scale shape: two hash aggregates — (subj) -> sorted predicate set +
    triple count, then (set) -> subject/triple totals.  Both map-side
    combinable; the first keys on the subject (same partitioning every
    other subject-keyed stage uses), the second's key space is the number
    of DISTINCT predicate combinations, which real graphs keep in the
    thousands regardless of triple count.
    """
    per_subj = (
        triples.select(
            F.col(subj_col).alias("s"), F.col(pred_col).alias("p")
        )
        .groupBy("s")
        .agg(
            F.sort_array(F.collect_set("p")).alias("preds"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return (
        per_subj.groupBy("preds")
        .agg(
            F.count(F.lit(1)).alias("n_subjects"),
            F.sum("n").alias("n_triples"),
        )
        .select(
            F.concat_ws("|", "preds").alias("char_set"),
            F.size("preds").alias("n_preds"),
            "n_subjects",
            "n_triples",
        )
    )


def entity_summary(
    triples: DataFrame,
    k: int = 3,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Informativeness-ranked top-k facts per entity ->
    ``(subj, pred, obj, weight_r, rnk)``: each distinct fact is weighted by
    ``ln(N / df)`` where ``N`` = distinct subjects in the graph and ``df``
    = distinct subjects asserting the same ``(pred, obj)`` pair — the IDF
    of the fact.  Rare facts (a specific description) outrank boilerplate
    ones (a GO term half the corpus carries); the top-k per subject is the
    classic RELIN/FACES-style entity summary used for entity cards and
    linking contexts.

    Determinism: ranking orders by ``df`` ASC (an exact integer — ties in
    ``df`` ARE ties in weight, no float comparisons), then (pred, obj);
    ``weight_r`` is rounded to 6dp for output only.

    Scale shape: the ``(pred, obj) -> df`` table is an aggregate of the
    triple scan joined back on (pred, obj) — a shuffle join whose build
    side has already been reduced by the aggregate, with AQE free to
    broadcast it when small; N is a 1-row aggregate broadcast via a
    1-row BNLJ.  The final top-k is one window over the subject key with
    rank pushed into a filter (no global sort).
    """
    t = triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    ).distinct()
    n_subj = t.agg(F.countDistinct("subj").alias("_n_subj"))
    df_po = t.groupBy("pred", "obj").agg(
        F.countDistinct("subj").alias("_df")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("subj").orderBy(
        F.col("_df").asc(), F.col("pred").asc(), F.col("obj").asc()
    )
    return (
        t.join(df_po, ["pred", "obj"])
        .crossJoin(F.broadcast(n_subj))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "subj",
            "pred",
            "obj",
            F.round(
                F.log(F.col("_n_subj") / F.col("_df")), 6
            ).alias("weight_r"),
            "rnk",
        )
    )


def rdfs_materialize(
    triples: DataFrame,
    subclass_edges: DataFrame | None = None,
    subprop_edges: DataFrame | None = None,
    type_pred: str = "rdf:type",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Forward-chaining RDFS materialization over the rhoDF fragment
    (Munoz, Perez & Gutierrez, "Simple and Efficient Minimal RDFS") ->
    distinct ``(subj, pred, obj, inferred)``: the asserted instance
    triples (``inferred=false``) plus everything rules rdfs5/7/9/11
    entail (``inferred=true``):

    * rdfs5/rdfs11 — ``subPropertyOf`` / ``subClassOf`` are transitive
      (handled by closing the schema graphs up front).
    * rdfs7 — ``(s, p, o)`` & ``p subPropertyOf* q`` => ``(s, q, o)``.
    * rdfs9 — ``(s, rdf:type, C)`` & ``C subClassOf* D`` =>
      ``(s, rdf:type, D)``; fed by rdfs7's output, so a type assertion
      arriving through a subproperty of ``type_pred`` still propagates up
      the class hierarchy (the rule stratification 7 -> 9 is the complete
      fixpoint for this fragment — rdfs7 could only need re-running after
      rdfs9 if ``type_pred`` or ``subClassOf`` themselves had declared
      super-properties, which rhoDF's schema/instance separation
      excludes; rdfs7 fires on asserted rows only).

    ``subclass_edges`` / ``subprop_edges``: ``(child, parent)`` schema
    graphs — ontology-sized, i.e. tiny next to the instance data.

    Scale shape: the schema closures run on dictionary-sized inputs
    (``go_transfer.go_dag_closure``'s driver-side search) and are
    BROADCAST into the two instance-side joins, so the instance table is
    never shuffled by the rules at all — rdfs7 is a broadcast join on the
    predicate column, rdfs9 a broadcast join on the object (class) column
    of the type slice only.  The one genuine shuffle is the final
    dedup of INFERRED rows (asserted rows pass through untouched), whose
    key space the left-anti subtraction has already reduced.
    """
    from ahrd_spark.operators.go_transfer import go_dag_closure

    t = triples.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    ).distinct()
    asserted = t.withColumn("inferred", F.lit(False))

    # rdfs5 + rdfs7: widen every triple to all super-properties
    widened = t
    if subprop_edges is not None:
        prop_cl = F.broadcast(
            go_dag_closure(
                subprop_edges.toDF("pred", "super_pred")
            ).toDF("pred", "super_pred")
        )
        via_subprop = t.join(prop_cl, "pred").select(
            "subj", F.col("super_pred").alias("pred"), "obj"
        )
        widened = t.unionByName(via_subprop)

    # rdfs9 + rdfs11: propagate type assertions up the class hierarchy
    inferred = widened
    if subclass_edges is not None:
        cls_cl = F.broadcast(
            go_dag_closure(
                subclass_edges.toDF("obj", "super_cls")
            ).toDF("obj", "super_cls")
        )
        via_subclass = (
            widened.where(F.col("pred") == type_pred)
            .join(cls_cl, "obj")
            .select("subj", "pred", F.col("super_cls").alias("obj"))
        )
        inferred = widened.unionByName(via_subclass)

    new_rows = (
        inferred.join(t, ["subj", "pred", "obj"], "left_anti")
        .distinct()
        .withColumn("inferred", F.lit(True))
    )
    return asserted.unionByName(new_rows)


def required_properties(
    triples: DataFrame,
    types: DataFrame,
    requirements: DataFrame,
    subj_col: str = "subj",
    pred_col: str = "pred",
) -> DataFrame:
    """SHACL ``sh:minCount 1`` validation -> one row per MISSING required
    property: ``(kind='missing', pred, subj, obj=NULL, n=0)`` — the same
    shape ``validate_triples`` emits, so the two reports union into one
    violation table.

    * ``types`` — ``(entity, type)`` assertions (explicit ``rdf:type``
      rows, or ``infer_types``' output).
    * ``requirements`` — ``(type, pred)``: entities of ``type`` must
      assert ``pred`` at least once.  Schema-sized -> broadcast.

    Scale shape: expected obligations = types x broadcast(requirements)
    (no shuffle, fan-out bounded by requirements-per-type); the check is
    ONE left-anti hash join keyed on ``(subj, pred)`` against the
    distinct (subj, pred) projection of the triple scan — both sides
    hash-partitioned by the same compound key, and the projection is a
    map-side-combinable dedup far smaller than the triple table.
    """
    expected = types.toDF("subj", "type").join(
        F.broadcast(requirements.toDF("type", "pred")), "type"
    )
    have = triples.select(
        F.col(subj_col).alias("subj"), F.col(pred_col).alias("pred")
    ).distinct()
    return (
        expected.join(have, ["subj", "pred"], "left_anti")
        .select(
            F.lit("missing").alias("kind"),
            "pred",
            "subj",
            F.lit(None).cast("string").alias("obj"),
            F.lit(0).cast("bigint").alias("n"),
        )
        .distinct()
    )


def rdfs_delta(
    materialized: DataFrame,
    delta: DataFrame,
    subclass_edges: DataFrame | None = None,
    subprop_edges: DataFrame | None = None,
    type_pred: str = "rdf:type",
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Incremental RDFS maintenance: the rows a new batch of asserted
    triples ADDS to an already-materialized graph ->
    ``(subj, pred, obj, inferred)``, where ``inferred=false`` marks
    newly-asserted rows and ``inferred=true`` rows their rule-derived
    entailments — both already deduplicated against ``materialized``.

    Correctness hinge: every rhoDF rule (rdfs7, rdfs9, and their closed
    rdfs5/11 schema forms — see ``rdfs_materialize``) derives each
    conclusion from exactly ONE instance triple plus schema, so the
    entailments of ``old UNION delta`` = entailments(old) UNION
    entailments(delta).  Maintaining the materialization therefore only
    ever touches the DELTA: run the rules on the new batch and
    anti-join the result against the existing graph.  (This is the
    additive case; retraction needs over-delete/re-derive counting and
    is out of scope — at corpus scale triple logs are append-only and
    deletions go through ``snapshot_at``-style log reads.)

    A delta row that merely re-asserts a triple the graph already holds
    (asserted OR previously inferred) is silently dropped — the
    materialized triple SET is unchanged by it.

    Scale shape: the rules run on delta-sized input with broadcast
    schema closures (``rdfs_materialize``); the one big-data touch is
    the left-anti hash join against ``materialized``, keyed on the full
    (subj, pred, obj) triple — the same key a triple store's primary
    layout already clusters by, so at scale this is a co-partitioned
    probe, not a re-shuffle of the graph.
    """
    new = rdfs_materialize(
        delta,
        subclass_edges=subclass_edges,
        subprop_edges=subprop_edges,
        type_pred=type_pred,
        subj_col=subj_col,
        pred_col=pred_col,
        obj_col=obj_col,
    )
    mat = materialized.select(
        F.col(subj_col).alias("subj"),
        F.col(pred_col).alias("pred"),
        F.col(obj_col).alias("obj"),
    )
    return new.join(mat, ["subj", "pred", "obj"], "left_anti")


def bgp_chain(
    triples: DataFrame,
    pred1: str,
    pred2: str,
    hub_cap: int = 1000,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
) -> DataFrame:
    """Chain-shaped SPARQL basic-graph-pattern match
    ``{ ?s pred1 ?m . ?m pred2 ?o }`` -> distinct ``(subj, mid, obj)``
    BINDINGS (``metapath_counts`` only counts; this returns the rows) —
    the other of the two canonical BGP join shapes next to the star
    (``bgp_match``).

    ``hub_cap``: mid entities whose pred1 in-degree OR pred2 out-degree
    exceeds the cap are EXCLUDED before the join, identically to
    ``metapath_counts`` — a mid with a million inbound and outbound
    edges contributes in x out rows, so an uncapped chain through a hub
    is quadratic in its degree.  Dropped mids are a documented,
    deterministic exclusion (same contract as the metapath miner), not
    silent truncation of arbitrary rows.

    Scale shape: the two predicate slices are scan-side filters (pushed
    to the source); per-mid degrees are hash aggregates over the slices
    only; the chain join is keyed on the mid entity — both sides
    hash-partitioned by it, output bounded by cap^2 per mid.
    """
    t = triples.select(
        F.col(subj_col).alias("s"),
        F.col(pred_col).alias("p"),
        F.col(obj_col).alias("o"),
    )
    left = t.where(F.col("p") == pred1).select(
        "s", F.col("o").alias("mid")
    ).distinct()
    right = t.where(F.col("p") == pred2).select(
        F.col("s").alias("mid"), "o"
    ).distinct()
    d_in = left.groupBy("mid").agg(F.count(F.lit(1)).alias("d_in"))
    d_out = right.groupBy("mid").agg(F.count(F.lit(1)).alias("d_out"))
    ok = (
        d_in.join(d_out, "mid")
        .where((F.col("d_in") <= hub_cap) & (F.col("d_out") <= hub_cap))
        .select("mid")
    )
    return (
        left.join(ok, "mid", "left_semi")
        .join(right.join(ok, "mid", "left_semi"), "mid")
        .select(F.col("s").alias("subj"), "mid", F.col("o").alias("obj"))
    )


def disjoint_violations(
    types: DataFrame,
    disjoint: DataFrame,
) -> DataFrame:
    """OWL ``disjointWith`` consistency check -> one row per entity
    typed with BOTH members of a declared-disjoint class pair:
    ``(entity, type_a, type_b)`` with ``type_a < type_b`` (each
    violating pair reported once).

    * ``types`` — ``(entity, type)`` assertions (explicit, or
      ``rdfs_materialize``'s type slice — running AFTER materialization
      catches violations entailed through the class hierarchy, the
      standard reasoner ordering).
    * ``disjoint`` — ``(type_a, type_b)`` declared disjoint pairs,
      order-insensitive on input.  Ontology-sized -> broadcast.

    Scale shape: one entity-keyed self-join of the types table
    (co-partitioned both sides), its fan-out bounded per entity by that
    entity's type count (types-per-entity is ontology-bounded, not
    corpus-bounded); the disjoint list joins broadcast.  No shuffle of
    anything input-sized except the types table once.
    """
    ty = types.toDF("entity", "type").distinct()
    dj = F.broadcast(
        disjoint.toDF("a", "b")
        .select(
            F.least("a", "b").alias("type_a"),
            F.greatest("a", "b").alias("type_b"),
        )
        .where(F.col("type_a") != F.col("type_b"))
        .distinct()
    )
    pairs = (
        ty.alias("x")
        .join(ty.alias("y"), "entity")
        .where(F.col("x.type") < F.col("y.type"))
        .select(
            "entity",
            F.col("x.type").alias("type_a"),
            F.col("y.type").alias("type_b"),
        )
    )
    return pairs.join(dj, ["type_a", "type_b"], "left_semi").select(
        "entity", "type_a", "type_b"
    )
