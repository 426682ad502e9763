"""InterPro database (XML) + raw-result scans.

Parity:
- A6 XML DB scan   InterproResult.java:74-116 — //interpro elements with
  attributes id/short_name/type, child <name>, first parent_list/rel_ref
  @ipr_ref as parent, all contains/rel_ref @ipr_ref as contains-set.
  The dictionary is small (tens of MB for the full InterPro release), so we
  parse it driver-side with the stdlib and hand Spark an Arrow-backed local
  relation — the idiomatic Spark treatment of a dimension dictionary.  The
  relation also carries each id's closed superiors (``interpro_closure``),
  so one broadcast of it is both the J5 known-id filter and the J9 lookup.
- A7 raw results   InterproResult.java:126-162 — per line, Java regex
  ``(\\S+)\\s+.*\\s(IPR\\d{6})\\s.*`` with Matcher.matches() (whole line);
  distributed text scan + regexp_extract.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from ahrd_spark.operators.dictionary import local_frame
from ahrd_spark.operators.interpro_filter import interpro_closure

INTERPRO_DB_SCHEMA = StructType(
    [
        StructField("ipr_id", StringType(), False),
        StructField("short_name", StringType(), True),
        StructField("name", StringType(), True),
        StructField("type", StringType(), True),
        StructField("parent_id", StringType(), True),
        StructField("contains", ArrayType(StringType()), False),
        StructField("superiors", ArrayType(StringType()), False),
    ]
)

# InterproResult.java:134 — anchored to reproduce Matcher.matches()
INTERPRO_RAW_REGEX = r"^(?:(\S+)\s+.*\s(IPR\d{6})\s.*)$"


def parse_interpro_db(path: str) -> list[tuple]:
    """The XML DB as ``INTERPRO_DB_SCHEMA`` tuples ``(ipr_id, short_name,
    name, type, parent_id, contains)``, parsed on the driver with the
    stdlib — the form ``interpro_closure`` closes (``INTERPRO_DB_SCHEMA``
    minus ``superiors``)."""
    rows = []
    tree = ET.parse(path)
    for el in tree.getroot().iter("interpro"):
        parent_id = None
        plist = el.find("parent_list")
        if plist is not None:
            rel = plist.find("rel_ref")
            if rel is not None:
                parent_id = rel.get("ipr_ref")
        contains = []
        clist = el.find("contains")
        if clist is not None:
            contains = [
                r.get("ipr_ref") for r in clist.findall("rel_ref") if r.get("ipr_ref")
            ]
        name_el = el.find("name")
        rows.append(
            (
                el.get("id", ""),
                el.get("short_name"),
                name_el.text if name_el is not None else None,
                el.get("type"),
                parent_id,
                contains,
            )
        )
    return rows


def read_interpro_db(
    spark: SparkSession,
    path: str,
    entries: list[tuple] | None = None,
    superiors: dict[str, list[str]] | None = None,
) -> DataFrame:
    """interpro_db(ipr_id, short_name, name, type, parent_id, contains,
    superiors) as an Arrow-backed local relation (no job to build it), one
    row per id the DB defines.  ``superiors`` is the id's transitive
    ancestors and containers, ``[]`` for a root.  ``entries``:
    ``parse_interpro_db(path)`` and ``superiors``:
    ``interpro_closure(entries)``, when the caller already holds them, so
    the XML is parsed and closed once."""
    if entries is None:
        entries = parse_interpro_db(path)
    if superiors is None:
        superiors = interpro_closure(entries)
    rows = [e + (superiors.get(e[0], []),) for e in entries]
    return local_frame(spark, rows, INTERPRO_DB_SCHEMA)


def read_interpro_raw(spark: SparkSession, path: str) -> DataFrame:
    """interpro_hits(protein_acc, ipr_id), one row per matching line: a
    repeated line repeats (the reference stores a protein's ids in a Set;
    ``filter_most_informative`` dedups per protein without an exchange of
    its own)."""
    df = spark.read.text(path)
    return df.select(
        F.regexp_extract(F.col("value"), INTERPRO_RAW_REGEX, 1).alias("protein_acc"),
        F.regexp_extract(F.col("value"), INTERPRO_RAW_REGEX, 2).alias("ipr_id"),
    ).filter((F.col("protein_acc") != "") & (F.col("ipr_id") != ""))
