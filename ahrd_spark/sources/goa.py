"""Reference GO annotation (GOA / GAF 2.0) scan.

Parity: A8 — ReferenceGoAnnotations.java:35-58.  Each line is matched with
``Matcher.find()`` against a Java regex with named groups ``shortAccession``
and ``goTerm``; the default regex (Settings.java:96-98) excludes
``NOT|``-qualified annotations via negative lookahead.  The reference
semi-filters rows against the set of distinct BLAST-hit short accessions
while scanning; we express the same reduction as a left-semi join, or, where
only the winners' annotations matter, as the join to the winners itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ahrd_spark.config import DEFAULT_REFERENCE_GO_REGEX
from ahrd_spark.functions.text import named_group_index


def read_goa(
    spark: SparkSession,
    path: str,
    regex: str = DEFAULT_REFERENCE_GO_REGEX,
    short_accessions: DataFrame | None = None,
) -> DataFrame:
    """goa(short_acc, go_term), one row per matching line: the reference
    keeps a Set per accession, and every consumer dedups where it groups
    anyway (a per-protein array, the GO-preference flag), so a ``distinct``
    here would only add an exchange.

    ``short_accessions``: optional 1-column DataFrame (``short_acc``) of the
    distinct BLAST-hit short accessions; when given, a semi-join reproduces
    the reference's scan-time filter (J3) so the GOA table never
    materializes beyond the hits' working set.
    """
    acc_idx = named_group_index(regex, "shortAccession")
    go_idx = named_group_index(regex, "goTerm")
    df = spark.read.text(path)
    out = df.select(
        F.regexp_extract(F.col("value"), regex, acc_idx).alias("short_acc"),
        F.regexp_extract(F.col("value"), regex, go_idx).alias("go_term"),
    ).filter((F.col("short_acc") != "") & (F.col("go_term") != ""))
    if short_accessions is not None:
        # No explicit broadcast hint: the accession set derives from the HIT
        # table (not a fixed dictionary), so at scale it can exceed broadcast
        # limits — let AQE pick broadcast vs shuffle semi-join from the
        # measured size at runtime.
        out = out.join(
            short_accessions.select("short_acc").distinct(),
            "short_acc",
            "left_semi",
        )
    return out
