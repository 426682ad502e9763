"""J9 closure + most-informative filter golden
(InterproResultTest.java:96-143): protein with domains ipr1..ipr7 where
ipr1 -> ipr3 -> ipr4 (parent chains) and ipr2 contains {ipr5, ipr6},
ipr6 contains ipr7 — after filtering only ipr1 and ipr2 remain."""

from ahrd_spark.operators.interpro_filter import (
    filter_most_informative,
    interpro_closure,
)


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


def test_closure(spark):
    closure = interpro_closure(spark, _entries())
    got = {(r["ipr_id"], r["superior_id"]) for r in closure.collect()}
    assert ("IPR:000003", "IPR:000001") in got  # direct parent
    assert ("IPR:000004", "IPR:000001") in got  # grandparent
    assert ("IPR:000005", "IPR:000002") in got  # direct container
    assert ("IPR:000007", "IPR:000002") in got  # transitive container
    assert ("IPR:000001", "IPR:000003") not in got


def test_filter_most_informative_golden(spark):
    domains = spark.createDataFrame(
        [("P", f"IPR:00000{i}") for i in range(1, 8)],
        "protein_acc string, ipr_id string",
    )
    kept = filter_most_informative(domains, interpro_closure(spark, _entries()))
    got = {r["ipr_id"] for r in kept.collect()}
    assert got == {"IPR:000001", "IPR:000002"}


def test_filter_keeps_unrelated(spark):
    # a protein whose domains are unrelated keeps everything
    domains = spark.createDataFrame(
        [("Q", "IPR:000004"), ("Q", "IPR:000007")],
        "protein_acc string, ipr_id string",
    )
    kept = filter_most_informative(domains, interpro_closure(spark, _entries()))
    got = {r["ipr_id"] for r in kept.collect()}
    assert got == {"IPR:000004", "IPR:000007"}
