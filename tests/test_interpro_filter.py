"""J9 closure + most-informative filter golden
(InterproResultTest.java:96-143): protein with domains ipr1..ipr7 where
ipr1 -> ipr3 -> ipr4 (parent chains) and ipr2 contains {ipr5, ipr6},
ipr6 contains ipr7 — after filtering only ipr1 and ipr2 remain."""

from ahrd_spark.operators.interpro_filter import (
    filter_most_informative,
    interpro_closure,
)


def _kept(spark, pairs):
    """ipr_ids J9 keeps of (protein_acc, ipr_id) pairs, every id known."""
    sup = interpro_closure(_entries())
    rows = spark.createDataFrame(
        [(p, i, sup.get(i, [])) for p, i in pairs],
        "protein_acc string, entity string, superiors array<string>",
    )
    return {
        e for r in filter_most_informative(rows, "x.entity").collect()
        for e in r["entities"]
    }


def _entries():
    return [
        ("IPR:000001", None, None, "domain", None, []),
        ("IPR:000002", None, None, "domain", None, ["IPR:000005", "IPR:000006"]),
        ("IPR:000003", None, None, "domain", "IPR:000001", []),
        ("IPR:000004", None, None, "domain", "IPR:000003", []),
        ("IPR:000005", None, None, "domain", None, []),
        ("IPR:000006", None, None, "domain", None, ["IPR:000007"]),
        ("IPR:000007", None, None, "domain", None, []),
    ]


def test_closure():
    closure = interpro_closure(_entries())
    got = {(i, s) for i, sups in closure.items() for s in sups}
    assert ("IPR:000003", "IPR:000001") in got  # direct parent
    assert ("IPR:000004", "IPR:000001") in got  # grandparent
    assert ("IPR:000005", "IPR:000002") in got  # direct container
    assert ("IPR:000007", "IPR:000002") in got  # transitive container
    assert ("IPR:000001", "IPR:000003") not in got


def test_filter_most_informative_golden(spark):
    got = _kept(spark, [("P", f"IPR:00000{i}") for i in range(1, 8)])
    assert got == {"IPR:000001", "IPR:000002"}


def test_filter_keeps_unrelated(spark):
    # a protein whose domains are unrelated keeps everything
    got = _kept(spark, [("Q", "IPR:000004"), ("Q", "IPR:000007")])
    assert got == {"IPR:000004", "IPR:000007"}


def _self_join_filter(protein_domains, closure):
    """The relational formulation J9 had before the per-protein array
    filter, kept as an oracle: a domain goes when a semi-join finds another
    domain of its protein among its (ipr_id, superior_id) closure pairs."""
    from pyspark.sql import functions as F

    doomed = (
        protein_domains.alias("d")
        .join(F.broadcast(closure).alias("c"), F.col("d.ipr_id") == F.col("c.ipr_id"))
        .join(
            protein_domains.alias("o"),
            (F.col("o.protein_acc") == F.col("d.protein_acc"))
            & (F.col("o.ipr_id") == F.col("c.superior_id"))
            & (F.col("o.ipr_id") != F.col("d.ipr_id")),
            "left_semi",
        )
        .select("d.protein_acc", "d.ipr_id")
    )
    return protein_domains.join(doomed, ["protein_acc", "ipr_id"], "left_anti")


def test_array_filter_matches_self_join_oracle(spark):
    """Random proteins over a 60-entry DB with parent chains, contains sets
    and a cycle: the array filter keeps what the self-join keeps."""
    import random

    rng = random.Random(3)
    ids = [f"IPR{i:06d}" for i in range(60)]
    entries = []
    for i, ipr in enumerate(ids):
        parent = ids[rng.randrange(i)] if i and rng.random() < 0.6 else None
        contains = rng.sample(ids[i + 1:], min(2, len(ids) - i - 1)) \
            if rng.random() < 0.2 else []
        entries.append((ipr, None, None, "domain", parent, contains))
    entries[59] = entries[59][:5] + ([ids[58]],)
    entries[58] = entries[58][:5] + ([ids[59]],)
    pairs = sorted({(f"P{p}", rng.choice(ids)) for p in range(40) for _ in range(6)})
    sup = interpro_closure(entries)

    domains = spark.createDataFrame(pairs, "protein_acc string, ipr_id string")
    closure = spark.createDataFrame(
        [(i, s) for i, ss in sup.items() for s in ss],
        "ipr_id string, superior_id string",
    )
    want = {(r["protein_acc"], r["ipr_id"])
            for r in _self_join_filter(domains, closure).collect()}
    rows = spark.createDataFrame(
        [(p, i, sup.get(i, [])) for p, i in pairs],
        "protein_acc string, entity string, superiors array<string>",
    )
    got = {(r["protein_acc"], e)
           for r in filter_most_informative(rows, "x.entity").collect()
           for e in r["entities"]}
    assert got == want
    assert len(want) < len(pairs)  # the filter dropped something
