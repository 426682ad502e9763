"""The core 'annotate' query — AHRD.main end-to-end as one declarative plan.

Pipeline (parity with AHRD.java:57-95,174-245):

  query FASTA (A2)        seq-sim tables (A3+A4)      subject FASTA DBs (A5)
        \\                     |                          /
         +---- J1 equi-join ---+--- J2 equi-join --------+
                               |
              C6 gate: blacklist (C2) -> filter (C3) -> tokenize (T1)
                       -> validity (C5) -> short accession (C8)
                               |
          E2/E3 aggregations (over ALL valid hits)   K1 top-200/(protein,db)
                               |                         |
            E4/E5/E6 token scores (tokens of top-k only) |
                               +------------+------------+
                                            |
                         E7/E8/E9 description scores per hit
                                            |
                     E10 winner (+GO preference) + E11 GO transfer (J3)
                                            |
                  InterPro domains (A6/A7) -> J9 most-informative filter
                                            |
                        output table (B1 columns as data, not CSV)

All joins against the subject FASTA DB are equi-joins on hit accession; the
hits side is semi-filtered first, mirroring BlastResult.java:348.  Dimension
dictionaries (InterPro DB, GOA) are broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ahrd_spark.config import AhrdConfig
from ahrd_spark.functions.format import quality_code_expr
from ahrd_spark.functions.text import (
    apply_filter_regexes,
    blacklist_fails_expr,
    named_group_index,
    tokenize_expr,
)
from ahrd_spark.operators.go_transfer import transfer_go
from ahrd_spark.operators.interpro_filter import filter_most_informative
from ahrd_spark.operators.scoring import (
    protein_totals,
    select_winners,
    with_overlap,
)
from ahrd_spark.sources.blast_tabular import read_seq_sim_table
from ahrd_spark.sources.fasta import read_query_fasta, read_subject_fasta_db
from ahrd_spark.sources.goa import read_goa
from ahrd_spark.sources.interpro import read_interpro_db, read_interpro_raw


def short_accession_expr(hit_acc, regex: str):
    """C8 (BlastResult.java:533-547): extract the named group
    ``shortAccession`` with find() semantics; fall back to the full
    accession when the regex does not match."""
    idx = named_group_index(regex, "shortAccession")
    extracted = F.regexp_extract(hit_acc, regex, idx)
    return F.coalesce(F.nullif(extracted, F.lit("")), hit_acc)


def gate_candidates(hits: DataFrame, db_cfg) -> DataFrame:
    """C6 (BlastResult.java:492-522): description blacklist -> ordered filter
    regexes -> tokenize -> validity predicate (C5, BlastResult.java:457-465).
    Expects hits with a `description` column already joined in."""
    df = hits.filter(~blacklist_fails_expr(F.col("description"), db_cfg.blacklist))
    df = df.withColumn(
        "description", apply_filter_regexes(F.col("description"), db_cfg.filter)
    )
    df = df.withColumn(
        "tokens", tokenize_expr(F.col("description"), db_cfg.token_blacklist)
    )
    return df.filter(
        (F.col("hit_acc") != "")
        & F.col("bit_score").isNotNull()
        & (F.col("description") != "")
        & F.col("q_start").isNotNull()
        & F.col("q_end").isNotNull()
        & (F.col("q_start") < F.col("q_end"))
        & F.col("s_start").isNotNull()
        & F.col("s_end").isNotNull()
        & (F.col("s_end") > F.col("s_start"))
        & F.col("s_len").isNotNull()
        & F.col("e_value").isNotNull()
        & (F.size("tokens") > 0)
    )


def load_raw_hits_with_desc(spark: SparkSession, cfg: AhrdConfig) -> DataFrame:
    """Scan + join all configured databases WITHOUT the C6 gate: the raw
    parsed hits (post HSP-dedup) with subject description + length attached.
    This is the input both to the candidate gate and to the evaluator's
    'best unchanged blast hit' competitors (which must see pre-blacklist
    descriptions, BlastResult.java:494-504)."""
    per_db = []
    for db_cfg in cfg.blast_dbs:
        raw = read_seq_sim_table(spark, cfg, db_cfg.name)
        subj = read_subject_fasta_db(
            spark, db_cfg.fasta_db, db_cfg.name, db_cfg.fasta_header_regex
        ).select("hit_acc", "description", "s_len")
        # J2: semi-filter the (large) subject DB scan down to actual hits,
        # then attach description + subject length.
        subj = subj.join(
            raw.select("hit_acc").distinct(), "hit_acc", "left_semi"
        )
        per_db.append(raw.join(subj, "hit_acc"))
    hits = per_db[0]
    for other in per_db[1:]:
        hits = hits.unionByName(other)
    return hits


def load_candidate_hits(spark: SparkSession, cfg: AhrdConfig) -> DataFrame:
    """Scan + join + gate all configured databases into one candidate-hit
    DataFrame: (protein_acc, db, hit_acc, short_acc, e_value, bit_score,
    q_start, q_end, s_start, s_end, s_len, qlen, description, tokens,
    line_no)."""
    proteins = read_query_fasta(spark, cfg.proteins_fasta).select(
        F.col("accession").alias("protein_acc"), F.col("seq_len").alias("qlen")
    )
    per_db = []
    for db_cfg in cfg.blast_dbs:
        raw = load_raw_hits_with_desc(
            spark, cfg.with_(blast_dbs=(db_cfg,))
        )
        gated = gate_candidates(raw, db_cfg)
        gated = gated.withColumn(
            "short_acc",
            short_accession_expr(F.col("hit_acc"), db_cfg.short_accession_regex),
        )
        per_db.append(gated)
    hits = per_db[0]
    for other in per_db[1:]:
        hits = hits.unionByName(other)
    # J1: attach query length (inner join mirrors the reference's insistence
    # that every query accession exists in the protein DB).  No broadcast
    # hint: proteins has one row per query sequence, i.e. it scales with the
    # input — AQE broadcasts it at small SF and shuffle-joins at large.
    return hits.join(proteins, "protein_acc")


def score_candidates(
    hits: DataFrame, cfg: AhrdConfig, topk: DataFrame | None = None,
    ranked: DataFrame | None = None, extras: dict | None = None,
) -> DataFrame:
    """E2..E9 over a gated candidate-hit DataFrame -> per-hit scores for the
    per-(protein,db) top-k.

    Physical strategy: rank once (``ranked_hits``), then ONE explode + ONE
    (protein, token) aggregation yields both the all-hits cumulative sums and
    top-k token membership (``token_cumulative_ranked``) — the widest
    shuffle in the job happens exactly once.

    ``ranked`` may be passed pre-computed (and persisted) by the caller — it
    is referenced by three downstream branches (cumulative sums, per-hit
    token lists, the final join), and recomputing the rank window per branch
    multiplies the stage cost.  ``topk`` (legacy param) is accepted as the
    pre-filtered equivalent."""
    from ahrd_spark.operators.scoring import (
        ranked_hits,
        score_hits,
        token_cumulative_ranked,
        token_scores_from_cum,
    )

    k = cfg.top_blast_results
    if ranked is None:
        ranked = ranked_hits(hits)
    if topk is None:
        topk = ranked.filter(F.col("__rk") <= k).drop("__rk")
    totals = protein_totals(hits, cfg.db_weights)
    cum_flagged = token_cumulative_ranked(ranked, cfg.db_weights, k)
    tscores = token_scores_from_cum(
        cum_flagged,
        totals,
        cfg.token_score_bit_score_weight,
        cfg.token_score_database_score_weight,
        cfg.token_score_overlap_score_weight,
    )
    if extras is not None:
        # expose intermediate frames callers may need (the token-set output
        # column) without recomputing the scoring chain
        extras["token_scores"] = tscores
    return score_hits(topk, tscores, totals, cfg.dsbs_weights)


def run_annotate(spark: SparkSession, cfg: AhrdConfig) -> DataFrame:
    """Full annotate run -> one row per query protein with the reference's
    B1 output columns as data:
    (protein_acc, hit_acc, quality_code, description, interpro ARRAY<STRUCT>,
    go_terms ARRAY<STRING>).  Proteins without a winner keep the
    'Unknown protein' description (AbstractOutputWriter.java:50-57).
    """
    proteins = read_query_fasta(spark, cfg.proteins_fasta).select(
        F.col("accession").alias("protein_acc")
    )
    hits = load_candidate_hits(spark, cfg)
    extras: dict = {}
    scored = score_candidates(hits, cfg, extras=extras)

    # B4 side-channel (OutputWriter.java:109-132): a non-empty
    # hrd_scores_output path dumps every candidate's description score
    # (GEV-fitting input) alongside the main output.  The dump is its own
    # action, so cache the scoring plan first — otherwise the whole
    # load+gate+score DAG executes twice (once here, once for the caller's
    # main-output action); the cache drains via the ContextCleaner when the
    # result DataFrame is dropped.
    if cfg.do_write_hrd_scores:
        from ahrd_spark.plans.output import write_hrd_scores

        scored = scored.cache()
        write_hrd_scores(scored, cfg.hrd_scores_output)

    goa = None
    if cfg.has_go:
        goa = read_goa(
            spark,
            cfg.gene_ontology_result,
            cfg.reference_go_regex,
            short_accessions=hits.select("short_acc"),
        )
    winners = select_winners(
        with_overlap(scored), goa=goa, prefer_go=cfg.prefer_reference_with_go_annos
    )
    win_cols = [
        "protein_acc",
        "hit_acc",
        "description",
        "desc_score",
        "desc_high_score",
        "short_acc",
        quality_code_expr(
            F.col("bit_score"),
            F.col("e_value"),
            F.col("overlap"),
            F.col("desc_high_score"),
        ).alias("quality_code"),
    ]
    if cfg.write_scores_to_output:
        # OutputWriter.java:194-208 winner sub-score columns; correction
        # factor = |tokens| / |informative| (Infinity -> printed "NA")
        from ahrd_spark.operators.scoring import jdiv

        win_cols += [
            F.col("sum_token_scores"),
            F.col("token_high_score"),
            jdiv(
                F.col("n_tokens").cast("double"),
                F.col("n_informative").cast("double"),
            ).alias("correction_factor"),
            F.col("lexical_score"),
            F.col("rel_bit_score"),
        ]
    out = proteins.join(
        winners.select(*win_cols),
        "protein_acc",
        "left",
    ).withColumn(
        "description",
        F.coalesce(F.col("description"), F.lit("Unknown protein")),
    )
    if cfg.write_token_set_to_output:
        # OutputWriter.java:210-218 — '[tkn->score]' concat of the protein's
        # (filtered) token scores; reference order is HashMap-nondeterministic,
        # we sort by token for stable output
        from ahrd_spark.functions.format import format_number_expr

        token_set = extras["token_scores"].groupBy("protein_acc").agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("token", "token_score"))
                    ),
                    lambda x: F.concat(
                        F.lit("["), x["token"], F.lit("->"),
                        format_number_expr(x["token_score"]), F.lit("]"),
                    ),
                ),
            ).alias("token_set")
        )
        out = out.join(token_set, "protein_acc", "left")

    if goa is not None:
        go = transfer_go(winners, goa).groupBy("protein_acc").agg(
            F.array_sort(F.collect_set("go_term")).alias("go_terms")
        )
        out = out.join(go, "protein_acc", "left")
    else:
        out = out.withColumn("go_terms", F.lit(None).cast("array<string>"))
    out = out.withColumn(
        "go_terms", F.coalesce(F.col("go_terms"), F.array().cast("array<string>"))
    )

    if cfg.interpro_database and cfg.interpro_result:
        ipr_db = read_interpro_db(spark, cfg.interpro_database)
        # J5: the inner join with the DB drops hits whose IPR id is unknown
        # (warned in the reference) and attaches superiors and names; J9
        # keeps each protein's most informative (ipr_id, name) pairs
        domains = filter_most_informative(
            read_interpro_raw(spark, cfg.interpro_result)
            .join(F.broadcast(ipr_db.select("ipr_id", "name", "superiors")), "ipr_id")
            .selectExpr("protein_acc", "ipr_id AS entity", "superiors", "name"),
            "named_struct('ipr_id', x.entity, 'name', x.name)",
        ).withColumnRenamed("entities", "interpro")
        out = out.join(domains, "protein_acc", "left")
    else:
        out = out.withColumn(
            "interpro",
            F.lit(None).cast("array<struct<ipr_id:string,name:string>>"),
        )
    out = out.withColumn(
        "interpro",
        F.coalesce(
            F.col("interpro"),
            F.array().cast("array<struct<ipr_id:string,name:string>>"),
        ),
    )
    final_cols = [
        "protein_acc",
        "hit_acc",
        "quality_code",
        "description",
        "interpro",
        "go_terms",
        "desc_score",
        "desc_high_score",
    ]
    if cfg.write_token_set_to_output:
        final_cols.append("token_set")
    if cfg.write_scores_to_output:
        final_cols += [
            "sum_token_scores", "token_high_score", "correction_factor",
            "lexical_score", "rel_bit_score",
        ]
    return out.select(*final_cols)
