"""The fixed cost of a ``run_pipeline`` call: one Spark job per stage, no
shuffle on the lexical core, no schema-inference job on any checkpoint
re-read, and a per-session memo of ``detect_mentions``' expression tree
whose key covers every db field the tree reads.

Jobs are counted under a job group with ``statusTracker``; shuffle bytes
are the growth of the executors' ``totalShuffleWrite`` in the status store.
Both come from the listener bus, so each read waits for it to drain.
"""

import contextlib
import dataclasses
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from ahrd_spark.config import AhrdConfig, BlastDbConfig
from ahrd_spark.operators.scoring import select_winners, with_overlap
from ahrd_spark.plans.annotate import score_candidates
from ahrd_spark.plans.checkpoint import CheckpointManager
from ahrd_spark.plans.docs import docs_to_hits, synthesize_docs
from ahrd_spark.plans.pipeline import (
    detect_mentions,
    gate_candidates_multi,
    mention_plan,
    run_pipeline,
)


@pytest.fixture(scope="module")
def cfg():
    return AhrdConfig(
        blast_dbs=tuple(
            BlastDbConfig(
                name=f"db{i}", weight=(100, 50, 10)[i],
                description_score_bit_score_weight=(0.2, 0.4, 0.4)[i],
            )
            for i in range(3)
        )
    )


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    """300 synthetic docs in two parquet files."""
    path = str(tmp_path_factory.mktemp("docs") / "docs")
    synthesize_docs(spark, n_docs=300).repartition(2).write.parquet(path)
    return spark.read.parquet(path)


@contextlib.contextmanager
def spark_cost(spark):
    """Jobs started and shuffle bytes written inside the block."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def shuffle_written():
        jsc.listenerBus().waitUntilEmpty()
        execs = jsc.statusStore().executorList(True)
        return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))

    group = f"cost-{uuid.uuid4().hex}"
    cost = {}
    before = shuffle_written()
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield cost
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
        cost["shuffle_bytes"] = shuffle_written() - before
        cost["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))


def _lineage(workdir, stage):
    with open(os.path.join(workdir, stage, "_lineage.json")) as fh:
        return json.load(fh)


def test_warm_call_runs_one_job_per_stage(spark, docs, cfg, tmp_path):
    """No GOA, InterPro or synonyms: mention_detect, link_score and
    materialize each write in one job, and nothing is shuffled."""
    run_pipeline(spark, docs, cfg, str(tmp_path / "cold"))
    with spark_cost(spark) as cost:
        run_pipeline(spark, docs, cfg, str(tmp_path / "warm"))
    assert cost["jobs"] <= 3, cost
    assert cost["shuffle_bytes"] == 0, cost


def test_resume_starts_no_job(spark, docs, cfg, tmp_path):
    """Resuming a finished workdir reads every checkpoint with the schema
    its sidecar recorded: no inference job, no rewrite."""
    workdir = str(tmp_path / "wd")
    first = run_pipeline(spark, docs, cfg, workdir)
    before = _lineage(workdir, "materialize")
    with spark_cost(spark) as cost:
        resumed = run_pipeline(spark, docs, cfg, workdir)
    assert cost["jobs"] == 0, cost
    assert _lineage(workdir, "materialize") == before
    assert resumed.schema == first.schema
    assert sorted(resumed.collect()) == sorted(first.collect())


def test_triples_match_relational_twin(spark, docs, cfg, tmp_path):
    """The shuffle-free link_score and materialize writes keep AHRD's
    winners: triples equal the relational twin's, and link_score keeps the
    mention checkpoint's one-file-per-scan-partition layout instead of
    ``num_partitions`` hash partitions."""
    workdir = str(tmp_path / "wd")
    triples = run_pipeline(spark, docs, cfg, workdir, num_partitions=5)
    got = {
        (r["subj"], r["src_hit"], r["src_db"], r["obj"], round(r["score"], 9))
        for r in triples.collect()
    }
    twin = select_winners(
        with_overlap(
            score_candidates(gate_candidates_multi(docs_to_hits(docs), cfg), cfg)
        )
    )
    want = {
        (r["protein_acc"], r["hit_acc"], r["db"], r["description"],
         round(r["desc_score"], 9))
        for r in twin.collect()
    }
    assert got == want and len(want) == 300
    n_mention_files = len(_lineage(workdir, "mention_detect")["partitions"])
    assert n_mention_files == 2
    assert len(_lineage(workdir, "link_score")["partitions"]) == n_mention_files


@pytest.mark.parametrize(
    "field, value",
    [
        ("name", "db9"),
        ("blacklist", (r"(?i)\btok1",)),
        ("filter", (r"\btok1\d*",)),
        ("token_blacklist", (r"^tok1",)),
        ("short_accession_regex", r"^(?<shortAccession>[^|]+)"),
    ],
)
def test_mention_plan_memo_key_is_complete(spark, docs, cfg, field, value):
    """Two configs that differ in one field of one db get different memo
    entries in the same session, and each gives the composed gate's rows."""
    other = cfg.with_(blast_dbs=(
        cfg.blast_dbs[0],
        dataclasses.replace(cfg.blast_dbs[1], **{field: value}),
        cfg.blast_dbs[2],
    ))
    assert mention_plan(spark, cfg) is mention_plan(spark, cfg)
    assert mention_plan(spark, other) is not mention_plan(spark, cfg)

    def rows(c):
        key = lambda r: (r["protein_acc"], r["line_no"])  # noqa: E731
        return sorted(
            (r.asDict(recursive=True) for r in detect_mentions(docs, c).collect()),
            key=key,
        )

    base, changed = rows(cfg), rows(other)
    assert base != changed
    composed = gate_candidates_multi(docs_to_hits(docs), other)
    assert changed == sorted(
        (r.asDict(recursive=True) for r in composed.collect()),
        key=lambda r: (r["protein_acc"], r["line_no"]),
    )


def test_checkpoint_reread_has_inferred_schema(spark, tmp_path):
    """``write`` re-reads with the schema it wrote, which parquet makes
    nullable exactly as inference does (nested arrays included), so the
    write starts one job and no inference job."""
    df = spark.range(50).select(
        F.col("id").cast("string").alias("k"),
        F.lit(1.5).alias("x"),
        F.array(F.col("id"), F.lit(7)).alias("xs"),
        F.array(F.struct(F.col("id").alias("a"), F.array(F.lit("t")).alias("b")))
        .alias("nested"),
    )
    ckpt = CheckpointManager(spark, str(tmp_path / "wd"), config_obj={"c": 1})
    with spark_cost(spark) as cost:
        out = ckpt.write(df, "s", key="k", preserve_partitioning=True)
    assert cost["jobs"] == 1, cost
    inferred = spark.read.parquet(str(tmp_path / "wd" / "s" / "data")).schema
    assert out.schema == inferred
    assert ckpt.read("s").schema == inferred
    assert sorted(out.collect()) == sorted(df.collect())

    # a sidecar written before the schema was recorded still reads
    sidecar = tmp_path / "wd" / "s" / "_lineage.json"
    lin = json.loads(sidecar.read_text())
    del lin["schema"]
    sidecar.write_text(json.dumps(lin))
    assert ckpt.read("s").schema == inferred
