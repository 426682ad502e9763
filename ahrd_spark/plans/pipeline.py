"""The staged KG-construction pipeline: docs -> triples.

Stages (each checkpointed with lineage + metrics, resumable exactly):

1. ``mention_detect``  shred docs' blast_hit spans into candidate hits and
   run the C2/C3/T1/C5 gate (descriptor-mention detection).
2. ``link_score``      AHRD scoring core (E2..E9) + K1 + E10 winner
   selection (+ GO preference) -> entity linking of each doc to its
   best description entity.
3. ``canonicalize``    GO transfer (E11), InterPro most-informative filter
   (J9), connected-components canonicalization over synonym edges.
4. ``materialize``     emit the triples graph table
   (subj, pred, obj, obj_kind, score, src_db, src_hit).

Partitioning story: the hot path is SHUFFLE-FREE end-to-end, one Spark
job per stage.  The docs table's contract is one row per doc_id, so
mention_detect (a map+explode) emits every protein's rows contiguously and
its checkpoint preserves the scan partitioning (no repartition+sort);
link_score reads that checkpoint under a whole-file scan, scores groups in
place (``pre_grouped``) and writes the one winner per protein where it was
scored; without canonicalize, materialize projects the winners and keeps
their layout too.  Only stages whose semantics require co-location (GO
preference's has_go join, canonicalize's per-protein grouping,
materialize's entity union) introduce exchanges, each keyed by doc/protein
hash.  Every checkpoint is re-read with its recorded schema (no inference
job), and ``detect_mentions``' expression tree is built once per session,
so a warm call spends no driver time rebuilding plans.

canonicalize is one per-protein pass over sources read once each.  Its
dictionaries are driver work: the InterPro DB and each id's closed
superiors are one local relation, and the synonym map is collected and
union-found on the driver; both reach the data-sized side as broadcasts.
GOA is joined to the winners only (the data-induced predicate of VLDB'19
"Pushing Data-Induced Predicates Through Joins"); raw InterPro lines join
the DB (J5) and are restricted to the batch's doc_ids (J4).  The union of
GO and InterPro rows, mapped to canonical ids, is grouped by protein ONCE;
the most-informative filter (J9) and the dedup of canonical ids are array
expressions on each group, and the grouped output is written as it comes.
With all three sources that is 7 jobs: the synonym collect, four broadcasts,
the grouping's exchange and the write.  The span arrays are never
rewritten — ``span_fingerprint`` equality between input and every
checkpoint proves the per-row invariant.
"""

from __future__ import annotations

import weakref
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ahrd_spark.config import AhrdConfig
from ahrd_spark.functions.text import (
    apply_filter_regexes,
    blacklist_fails_expr,
    has_token_expr,
    tokenize_expr,
)
from ahrd_spark.operators.connected_components import canonical_map
from ahrd_spark.operators.go_transfer import transfer_go
from ahrd_spark.operators.interpro_filter import (
    filter_most_informative,
    interpro_closure,
)
from ahrd_spark.plans.annotate import short_accession_expr
from ahrd_spark.plans.checkpoint import CheckpointManager
from ahrd_spark.plans.docs import docs_to_hits, query_length_expr
from ahrd_spark.sources.goa import read_goa
from ahrd_spark.sources.interpro import (
    parse_interpro_db,
    read_interpro_db,
    read_interpro_raw,
)


def _grouped_by_regexes(dbs, keyfn):
    """Group db configs sharing identical regex settings so the when()
    chain has one branch per DISTINCT setting, not per database — branch
    trees multiply the codegen'd expression size and, worse, every copy
    that predicate pushdown duplicates."""
    groups: dict = {}
    for d in dbs:
        groups.setdefault(keyfn(d), []).append(d.name)
    return groups


def _branch_by_db(groups: dict, mkexpr, default):
    out = default
    for key, names in groups.items():
        cond = F.col("db").isin(names)
        out = F.when(cond, mkexpr(key)).otherwise(out)
    return out


def gate_candidates_multi(hits: DataFrame, cfg: AhrdConfig) -> DataFrame:
    """C6 gate across all databases in ONE pass: per-db regex lists are
    folded into when() chains keyed on the db column.

    NOTE: this composed formulation (gate over an already-shredded hits
    frame) is the *relational twin* kept for oracle/unit-test clarity and
    for callers that already hold a hits table.  The production
    docs->mentions path is ``detect_mentions`` — under Spark 4.1 the old
    ``rand() > 2`` pushdown barrier here is constant-folded away by
    `OptimizeRand`, so when this gate is stacked on ``docs_to_hits`` the
    optimizer substitutes the parse/tokenize projections into the pushed
    filter (~15 re-evaluations of split per span; measured 2-4x the whole
    stage).  detect_mentions is structurally immune (see its docstring).
    """
    db_col = F.col("db")
    known_dbs = [d.name for d in cfg.blast_dbs]

    # cheap, pushable validity predicates first (C5 minus the token check)
    df = hits.filter(
        (F.col("hit_acc") != "")
        & F.col("bit_score").isNotNull()
        & F.col("description").isNotNull()
        & (F.col("description") != "")
        & F.col("q_start").isNotNull()
        & F.col("q_end").isNotNull()
        & (F.col("q_start") < F.col("q_end"))
        & F.col("s_start").isNotNull()
        & F.col("s_end").isNotNull()
        & (F.col("s_end") > F.col("s_start"))
        & F.col("s_len").isNotNull()
        & F.col("e_value").isNotNull()
        & db_col.isin(known_dbs)
    )

    # C2 description blacklist (regex test only — no tree duplication risk)
    bl_groups = _grouped_by_regexes(cfg.blast_dbs, lambda d: d.blacklist)
    fail = _branch_by_db(
        bl_groups,
        lambda bl: blacklist_fails_expr(F.col("description"), bl),
        F.lit(False),
    )
    df = df.filter(~fail)

    # C3 + T1: filtered description and tokens, one branch per distinct
    # (filter, token_blacklist) setting
    ft_groups = _grouped_by_regexes(
        cfg.blast_dbs, lambda d: (d.filter, d.token_blacklist)
    )
    filtered = _branch_by_db(
        ft_groups,
        lambda key: apply_filter_regexes(F.col("description"), key[0]),
        F.col("description"),
    )
    tokens = _branch_by_db(
        ft_groups,
        lambda key: tokenize_expr(
            apply_filter_regexes(F.col("description"), key[0]), key[1]
        ),
        F.array().cast("array<string>"),
    )
    sa_groups = _grouped_by_regexes(cfg.blast_dbs, lambda d: d.short_accession_regex)
    short = _branch_by_db(
        sa_groups,
        lambda regex: short_accession_expr(F.col("hit_acc"), regex),
        F.col("hit_acc"),
    )
    df = (
        df.withColumn("tokens", tokens)
        .withColumn("description", filtered)
        .withColumn("short_acc", short)
    )
    # token-count predicate with a pushdown barrier (see docstring)
    return df.filter(
        (F.size("tokens") > 0) | (F.rand(seed=0) > F.lit(2.0))
    )


def detect_mentions(docs: DataFrame, cfg: AhrdConfig) -> DataFrame:
    """Fused shred+gate (row-equal to ``gate_candidates_multi(docs_to_hits(
    docs), cfg)``; parity pinned by tests/test_pipeline.py).

    Why a second formulation exists: the composed plan computes the parse
    (``split`` ×9) and tokenize chains in a Project ABOVE the posexplode,
    and `PushDownPredicates` then pushes the gate's filters through that
    Project by *substituting* the alias expressions into the predicates —
    Spark generates no common-subexpression elimination across a Filter's
    conjuncts, so ``split(span.text)`` re-evaluates ~15x per span and the
    tokenize chain twice (measured 2-4x the whole stage).  Spark 4.1's
    `OptimizeRand` also constant-folds the old ``rand() > 2`` pushdown
    barrier, and nondeterministic predicates now push through Projects, so
    no *filter-level* barrier is reliable anymore.

    The fix is structural: the parse + per-db C2/C3 passes run inside
    chained array ``transform``s BEFORE the explode.  Each chained lambda
    binds the previous stage's fields as struct attributes, so every
    expensive expression (`split`, the C3 regex chain) is evaluated exactly
    once per span; and because the gate predicates reference *generator
    output* fields, Catalyst cannot push them below the Generate at all —
    the explode IS the pushdown barrier, with no optimizer-version games.

    The ">=1 token" half of C5 is gated by ``has_token_expr`` (one rlike of
    the negated splitter class when the token blacklist is empty) instead
    of materializing the token array; ``tokens`` and ``short_acc`` are
    output-only columns computed in the post-filter Project — so when the
    pipeline drops ``tokens`` for the slim checkpoint, Catalyst prunes the
    whole tokenize out of the stage (measured ~25% off mention-detect), and
    both are evaluated only for surviving rows.

    The tree depends on ``cfg`` alone, so it is built once per session
    (``mention_plan``); a warm call only applies the memoized Columns to
    ``docs``.
    """
    p = mention_plan(docs.sparkSession, cfg)
    # qlen joins before the explode's select, so it stays beneath the
    # Generate: once per doc, not once per span
    return (
        docs.withColumn("qlen", p.qlen)
        .select(*p.exploded)
        .filter(p.gate)
        .select(*p.out)
    )


class MentionPlan(NamedTuple):
    """The ``cfg``-only Columns of ``detect_mentions``."""

    qlen: Column  # per-doc query length, added before the explode
    exploded: tuple  # select list: protein_acc, qlen, one hit struct ``h``
    gate: Column  # C2/C3/C5 predicate over ``h``
    out: tuple  # output select list


# Built plans per SparkSession object.  Weak keys tie each entry to the
# session's lifetime: a dropped session takes its Columns with it, where an
# id()-keyed cache could hand a new session a dead one's entry.
_MENTION_PLANS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def mention_plan(spark: SparkSession, cfg: AhrdConfig) -> MentionPlan:
    """``_build_mention_plan(cfg)``, built once per session and per value of
    every ``blast_dbs`` field the builder reads."""
    plans = _MENTION_PLANS.setdefault(spark, {})
    key = tuple(
        (d.name, d.blacklist, d.filter, d.token_blacklist, d.short_accession_regex)
        for d in cfg.blast_dbs
    )
    if key not in plans:
        plans[key] = _build_mention_plan(cfg)
    return plans[key]


def _build_mention_plan(cfg: AhrdConfig) -> MentionPlan:
    """Build ``detect_mentions``' expression tree for ``cfg``.  Pure Python
    over py4j (about 0.3 s for three dbs): callers go through the
    per-session memo ``mention_plan``."""
    db_of = lambda s: F.substring_index(s["kind"], ":", -1)  # noqa: E731

    def branch(groups, mkexpr, default, dbcol):
        out = default
        for key, names in groups.items():
            out = F.when(dbcol.isin(names), mkexpr(key)).otherwise(out)
        return out

    bl_groups = _grouped_by_regexes(cfg.blast_dbs, lambda d: d.blacklist)
    ft_groups = _grouped_by_regexes(
        cfg.blast_dbs, lambda d: (d.filter, d.token_blacklist)
    )
    sa_groups = _grouped_by_regexes(cfg.blast_dbs, lambda d: d.short_accession_regex)
    known_dbs = [d.name for d in cfg.blast_dbs]

    # t1: keep the ORIGINAL span index (line_no) and split once per span
    spans_i = F.filter(
        F.transform("spans", lambda s, i: F.struct(s.alias("s"), i.alias("i"))),
        lambda x: x["s"]["kind"].startswith("blast_hit:"),
    )
    t1 = F.transform(
        spans_i,
        lambda x: F.struct(
            db_of(x["s"]).alias("db"),
            F.split(x["s"]["text"], "\t", 9).alias("p"),
            x["i"].cast("long").alias("line_no"),
            x["s"]["media_ref"].alias("media_ref"),
        ),
    )

    # t2: typed fields + C2 blacklist verdict (on the RAW description) +
    # C3-filtered description
    def t2_fields(x):
        g = lambda i: F.get(x["p"], i)  # noqa: E731
        db = x["db"]
        raw = g(8)
        return F.struct(
            db.alias("db"),
            g(0).alias("hit_acc"),
            g(1).try_cast("int").alias("q_start"),
            g(2).try_cast("int").alias("q_end"),
            g(3).try_cast("int").alias("s_start"),
            g(4).try_cast("int").alias("s_end"),
            g(5).try_cast("double").alias("e_value"),
            g(6).try_cast("double").alias("bit_score"),
            g(7).try_cast("int").alias("s_len"),
            branch(
                bl_groups,
                lambda bl: blacklist_fails_expr(raw, bl),
                F.lit(False),
                db,
            ).alias("bl_fail"),
            branch(
                ft_groups,
                lambda key: apply_filter_regexes(raw, key[0]),
                raw,
                db,
            ).alias("description"),
            x["line_no"].alias("line_no"),
            x["media_ref"].alias("media_ref"),
        )

    t2 = F.transform(t1, t2_fields)

    h = F.col("h")
    has_tok = branch(
        ft_groups,
        lambda key: has_token_expr(h["description"], key[1]),
        F.lit(False),
        h["db"],
    )
    gate = (
        (h["hit_acc"] != "")
        & h["bit_score"].isNotNull()
        & h["description"].isNotNull()
        & (h["description"] != "")
        & h["q_start"].isNotNull()
        & h["q_end"].isNotNull()
        & (h["q_start"] < h["q_end"])
        & h["s_start"].isNotNull()
        & h["s_end"].isNotNull()
        & (h["s_end"] > h["s_start"])
        & h["s_len"].isNotNull()
        & h["e_value"].isNotNull()
        & h["db"].isin(known_dbs)
        & ~h["bl_fail"]
        & has_tok
    )
    # tokens (T1) and short_acc (C8) are output-only: computed here in the
    # post-filter Project so they run once per SURVIVING row and prune away
    # entirely when a caller drops them (slim checkpoint).
    tokens = branch(
        ft_groups,
        lambda key: tokenize_expr(h["description"], key[1]),
        F.array().cast("array<string>"),
        h["db"],
    )
    short = branch(
        sa_groups,
        lambda regex: short_accession_expr(h["hit_acc"], regex),
        h["hit_acc"],
        h["db"],
    )
    return MentionPlan(
        qlen=query_length_expr(),
        exploded=(
            F.col("doc_id").alias("protein_acc"),
            "qlen",
            F.explode(t2).alias("h"),
        ),
        gate=gate,
        # column order matches gate_candidates_multi(docs_to_hits(...))
        out=(
            "protein_acc",
            "qlen",
            h["db"].alias("db"),
            h["hit_acc"].alias("hit_acc"),
            h["q_start"].alias("q_start"),
            h["q_end"].alias("q_end"),
            h["s_start"].alias("s_start"),
            h["s_end"].alias("s_end"),
            h["e_value"].alias("e_value"),
            h["bit_score"].alias("bit_score"),
            h["s_len"].alias("s_len"),
            h["description"].alias("description"),
            h["line_no"].alias("line_no"),
            h["media_ref"].alias("media_ref"),
            tokens.alias("tokens"),
            short.alias("short_acc"),
        ),
    )


def tokens_recompute_expr(cfg: AhrdConfig):
    """T1 tokens from the checkpointed (already C3-filtered) description,
    branched per distinct token-blacklist setting — byte-equal to the
    tokens column detect_mentions computed in the gate (tokenize is a pure
    function of the filtered description)."""
    ft_groups = _grouped_by_regexes(
        cfg.blast_dbs, lambda d: (d.filter, d.token_blacklist)
    )
    return _branch_by_db(
        ft_groups,
        lambda key: tokenize_expr(F.col("description"), key[1]),
        F.array().cast("array<string>"),
    )


def desc_triples(winners: DataFrame) -> DataFrame:
    """winner rows -> (subj, hasDescription, obj, ...) triples — the ONE
    definition of the triple schema, shared by the batch materialize stage
    and the streaming foreachBatch path so the two cannot drift."""
    return winners.select(
        F.col("protein_acc").alias("subj"),
        F.lit("hasDescription").alias("pred"),
        F.col("description").alias("obj"),
        F.lit("description").alias("obj_kind"),
        F.col("desc_score").alias("score"),
        F.col("db").alias("src_db"),
        F.col("hit_acc").alias("src_hit"),
    )


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    cfg: AhrdConfig,
    workdir: str,
    synonym_edges: DataFrame | None = None,
    num_partitions: int | None = None,
    stage_timings: dict | None = None,
) -> DataFrame:
    """Execute (or resume) the 4-stage pipeline; returns the triples table.
    Pass ``stage_timings={}`` to collect per-stage wall seconds."""
    import time as _time

    def _timed(name, fn):
        t0 = _time.time()
        out = fn()
        if stage_timings is not None:
            stage_timings[name] = round(_time.time() - t0, 3)
        return out

    from ahrd_spark import __version__ as _engine_version

    # the engine version is part of the config hash: a checkpoint written by
    # different pipeline CODE must not be resumed silently (config + data
    # fingerprints alone can't see code drift)
    ckpt = CheckpointManager(
        spark,
        workdir,
        config_obj={
            "engine": _engine_version,
            "cfg": cfg.__dict__ | {"blast_dbs": [d.__dict__ for d in cfg.blast_dbs]},
        },
    )

    # -- stage 1: mention-detect --------------------------------------
    import os as _os

    def build_mentions():
        # media_ref stays in the docs table (span invariant) but is consumed
        # by no downstream stage — dropping it from the checkpoint saves
        # ~40 bytes/row of shuffle + parquet encode on the widest stage.
        # tokens is DERIVED data (T1 over the checkpointed filtered
        # description): the gate still computes it for the size()>0
        # predicate, but writing the array column would roughly double the
        # string payload of the widest checkpoint — link_score re-derives
        # it with one split/sort pass at read time instead (recompute-vs-
        # reread: the parquet encode + all-column checksum + re-read of the
        # array costs more than the tokenize).
        # detect_mentions is the fused pre-explode formulation (2-3x the
        # composed gate_candidates_multi(docs_to_hits(...)) plan — see its
        # docstring for the pushdown-duplication story).
        # AHRD_ARROW_SHRED=1 swaps in the mapInArrow formulation (exact
        # hash parity pinned in tests).  Not the default: it is ~10-20%
        # faster absolute (RE2 kernels beat interpreted higher-order
        # lambdas), but its Python worker adds a second process per core,
        # so on the oversubscribed bench host it flatters local[1] with
        # JVM<->worker pipeline parallelism and deflates the measured 1->4
        # scaling ratio (3.29x -> 2.87x, BASELINE.md round-3) — keep the
        # all-JVM codegen path as the default, and the Arrow path as the
        # measured alternative for clusters with headroom per executor.
        if _os.environ.get("AHRD_ARROW_SHRED") == "1":
            from ahrd_spark.plans.mention_arrow import (
                detect_mentions_arrow,
                re2_compatible,
            )

            if re2_compatible(cfg):
                return detect_mentions_arrow(docs, cfg)
        return detect_mentions(docs, cfg).drop("media_ref", "tokens")

    # preserve_partitioning: detect_mentions is a per-row map+explode over
    # the docs table, whose contract is one row per doc_id — so every
    # protein's mention rows are emitted contiguously inside the scan
    # partition that read its doc, and no protein ever spans two output
    # files.  That is exactly the checkpoint layout the grouped link-score
    # path needs, so the stage's repartition+sort (the ONLY full shuffle of
    # the widest table in the whole pipeline) is dead weight — writing the
    # natural layout removes it (measured ~38% off the stage at 40k docs,
    # and the stage becomes scan -> codegen project/filter -> write, which
    # scales with cores instead of contending on shuffle disk).
    mentions = _timed("mention_detect", lambda: ckpt.run_stage(
        "mention_detect", build_mentions, key="protein_acc",
        num_partitions=num_partitions,
        sort_keys=["protein_acc", "line_no"],
        preserve_partitioning=True,
    ))

    # -- stage 2: link-score ------------------------------------------
    # GO preference needs the GOA flag of every candidate, so its GOA set
    # is semi-joined to all mentions' accessions; canonicalize's GO transfer
    # reads GOA on its own (see below)
    prefer_go = cfg.prefer_reference_with_go_annos and cfg.has_go
    goa = None
    if prefer_go:
        goa = read_goa(
            spark,
            cfg.gene_ontology_result,
            cfg.reference_go_regex,
            short_accessions=mentions.select("short_acc"),
        )

    # grouped fast path: every protein's mention rows sit contiguously in
    # one part-file of the mention checkpoint, so under a whole-file scan
    # the scorer can skip its own repartition+sort (the job's second
    # shuffle of the widest table).  Requires no GO-preference join (it
    # would re-plan the distribution) and a sidecar that recorded file
    # sizes (older checkpoints fall back).
    mention_max_bytes = ckpt.max_partition_bytes("mention_detect")
    grouped = not prefer_go and mention_max_bytes is not None

    def build_winners():
        from ahrd_spark.operators.scoring_batch import select_winners_batch

        # GO preference stays relational: the GOA accession set joins onto
        # the mention rows as a boolean column inside select_winners_batch
        # (never a driver-side collect — at reference-GOA scale that set is
        # 10^7..10^9 accessions)
        return select_winners_batch(
            mentions.withColumn("tokens", tokens_recompute_expr(cfg)),
            cfg.db_weights,
            cfg.dsbs_weights,
            (
                cfg.token_score_bit_score_weight,
                cfg.token_score_database_score_weight,
                cfg.token_score_overlap_score_weight,
            ),
            top_k=cfg.top_blast_results,
            goa=goa,
            prefer_go=prefer_go,
            num_partitions=num_partitions,
            pre_grouped=grouped,
        ).select(
            "protein_acc", "db", "hit_acc", "short_acc", "description",
            "e_value", "bit_score", "overlap", "desc_score", "desc_high_score",
        )

    def run_link_stage():
        # grouped: the scorer emits each protein's one winner inside the
        # task that read the protein's mention file, so the output already
        # meets the checkpoint contract and is written as it comes
        run = lambda: ckpt.run_stage(  # noqa: E731
            "link_score", build_winners, key="protein_acc",
            inputs=["mention_detect"], num_partitions=num_partitions,
            sort_keys=["protein_acc"], preserve_partitioning=grouped,
        )
        if grouped:
            from ahrd_spark.plans.checkpoint import whole_file_scan

            with whole_file_scan(spark, mention_max_bytes):
                return run()
        return run()

    winners = _timed("link_score", run_link_stage)

    # -- stage 3: canonicalize ----------------------------------------
    # statically-empty fast path: without GOA and InterPro the stage has no
    # entity to emit (synonyms only rename entities) — running a checkpoint
    # job (write + sidecar + re-read) for zero rows is pure fixed cost
    has_interpro = bool(cfg.interpro_database and cfg.interpro_result)
    has_canonical = cfg.has_go or has_interpro

    def build_canonical():
        # one row per (protein, raw entity id); superiors is the InterPro
        # closure of a domain and NULL for a GO term, which J9 leaves alone
        # (and which names the predicate, so no predicate string is shuffled)
        pieces = []
        if cfg.has_go:
            # data-induced predicate (VLDB'19 "Pushing Data-Induced
            # Predicates Through Joins"): joining the winners already limits
            # GOA to their accessions, one per protein, so it needs no
            # semi-join or distinct of its own
            goa = read_goa(spark, cfg.gene_ontology_result, cfg.reference_go_regex)
            pieces.append(transfer_go(winners, goa).selectExpr(
                "protein_acc", "go_term AS entity",
                "CAST(NULL AS array<string>) AS superiors",
            ))
        if has_interpro:
            # the DB is parsed and closed once on the driver; one broadcast
            # of it drops unknown ids (J5) and attaches each id's superiors
            entries = parse_interpro_db(cfg.interpro_database)
            ipr_db = read_interpro_db(
                spark, cfg.interpro_database, entries, interpro_closure(entries)
            )
            # J4: proteins of this batch only — the raw result file may
            # cover more proteins than the docs table
            pieces.append(
                read_interpro_raw(spark, cfg.interpro_result)
                .join(F.broadcast(ipr_db.select("ipr_id", "superiors")), "ipr_id")
                .join(
                    docs.select(F.col("doc_id").alias("protein_acc")),
                    "protein_acc",
                    "left_semi",
                )
                .selectExpr("protein_acc", "ipr_id AS entity", "superiors")
            )
        ents = pieces[0]
        for p in pieces[1:]:
            ents = ents.unionByName(p)
        obj = "x.entity"
        if synonym_edges is not None:
            # the map covers the synonym graph's nodes only: an entity
            # outside it misses the join, keeps a NULL canonical id (nothing
            # to shuffle) and stays itself
            cmap = canonical_map(synonym_edges)
            ents = ents.join(
                F.broadcast(cmap.withColumnRenamed("node", "entity")),
                "entity", "left",
            )
            obj = "coalesce(x.canonical, x.entity)"
        # J9 sees the raw ids; the kept (pred, canonical id) pairs come out
        # once per protein, from the grouping's one exchange
        kept = filter_most_informative(
            ents,
            "named_struct('pred', IF(x.superiors IS NULL, 'hasGOTerm',"
            f" 'hasDomain'), 'obj', {obj})",
        )
        return kept.selectExpr("protein_acc", "inline(entities)").selectExpr(
            "protein_acc", "pred", "obj",
            "IF(pred = 'hasGOTerm', 'go_term', 'interpro') AS obj_kind",
        )

    if has_canonical:
        # the per-protein grouping leaves each protein's entities wholly
        # inside one partition, contiguous: the checkpoint contract, so the
        # output is written as it comes
        canonical = _timed("canonicalize", lambda: ckpt.run_stage(
            "canonicalize", build_canonical, key="protein_acc",
            inputs=["link_score"], num_partitions=num_partitions,
            sort_keys=["protein_acc", "pred", "obj"],
            preserve_partitioning=True,
        ))
    else:
        canonical = None
        if stage_timings is not None:
            stage_timings["canonicalize"] = 0.0

    # -- stage 4: materialize -----------------------------------------
    def build_triples():
        dt = desc_triples(winners)
        if canonical is None:
            return dt
        ent_triples = (
            canonical.join(
                winners.select("protein_acc", "db", "hit_acc"), "protein_acc", "left"
            )
            .select(
                F.col("protein_acc").alias("subj"),
                "pred",
                "obj",
                "obj_kind",
                F.lit(None).cast("double").alias("score"),
                F.col("db").alias("src_db"),
                F.col("hit_acc").alias("src_hit"),
            )
        )
        return dt.unionByName(ent_triples)

    mat_inputs = ["link_score", "canonicalize"] if has_canonical else ["link_score"]
    # without canonicalize the triples are a projection of the winners, one
    # row per protein, so the winners' layout already meets the contract;
    # the entity union needs the exchange to co-locate a protein's triples
    return _timed("materialize", lambda: ckpt.run_stage(
        "materialize", build_triples, key="subj",
        inputs=mat_inputs, num_partitions=num_partitions,
        sort_keys=["subj", "pred", "obj"],
        preserve_partitioning=not has_canonical,
    ))
