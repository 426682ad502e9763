"""Output checks behind the benchmark's ``correct`` and ``failed`` fields.

- ``lineage``: every timed run's materialize sidecar must repeat the first
  run's ``total_rows`` and ``checksum``.
- ``twin_problems``: on a sample of docs, the pipeline's ``hasDescription``
  triples must equal the relational twin (``twin_rows``)
  ``select_winners(with_overlap(score_candidates(gate_candidates_multi(
  docs_to_hits(docs)), cfg)))``.
- ``entity_problems``: the ``hasGOTerm`` / ``hasDomain`` triples must equal
  a plain-Python computation over the generator's own files (GOA lines,
  InterPro XML, raw InterPro lines, synonym edges).

Each ``*_problems`` function returns a list of human-readable problems;
empty means the check passed.
"""

from __future__ import annotations

import json
import os
import re
import xml.etree.ElementTree as ET
from collections import defaultdict

import pyarrow.parquet as pq

# the reference GOA regex (Java dialect) in Python syntax
GOA_RE = re.compile(r"^UniProtKB\t([^\t]+)\t[^\t]+\t(?!NOT\|)[^\t]*\t(GO:\d{7})")
SHORT_ACC_RE = re.compile(r"^[^|]+\|([^|]+)")
INTERPRO_RAW_RE = re.compile(r"(\S+)\s+.*\s(IPR\d{6})\s.*")


def sidecar(workdir: str) -> dict:
    """The lineage sidecar of a finished run's triples checkpoint."""
    with open(os.path.join(workdir, "materialize", "_lineage.json")) as fh:
        return json.load(fh)


def lineage(workdir: str) -> tuple[int, int]:
    """(total_rows, checksum) of a finished run's triples checkpoint."""
    lin = sidecar(workdir)
    return int(lin["total_rows"]), int(lin["checksum"])


def read_triples(workdir: str) -> list[dict]:
    cols = ["subj", "pred", "obj", "score", "src_db", "src_hit"]
    return pq.read_table(
        os.path.join(workdir, "materialize", "data"), columns=cols
    ).to_pylist()


def _diff(name: str, expected, got) -> list[str]:
    if expected == got:
        return []
    exp, act = set(expected), set(got)
    return [
        f"{name}: {len(exp - act)} expected rows missing, {len(act - exp)} "
        f"unexpected rows (of {len(exp)} expected)"
    ]


def twin_rows(docs, cfg, sample_ids) -> set[tuple]:
    """The relational twin's winners for the sample docs, as
    (protein, hit, db, description, score) rows."""
    from pyspark.sql import functions as F

    from ahrd_spark.operators.scoring import select_winners, with_overlap
    from ahrd_spark.plans.annotate import score_candidates
    from ahrd_spark.plans.docs import docs_to_hits
    from ahrd_spark.plans.pipeline import gate_candidates_multi

    sample = docs.filter(F.col("doc_id").isin(list(sample_ids)))
    twin = select_winners(
        with_overlap(
            score_candidates(gate_candidates_multi(docs_to_hits(sample), cfg), cfg)
        )
    ).select("protein_acc", "hit_acc", "db", "description", "desc_score")
    return {
        (r["protein_acc"], r["hit_acc"], r["db"], r["description"],
         round(r["desc_score"], 9))
        for r in twin.collect()
    }


def twin_problems(expected: set[tuple], triples: list[dict], sample_ids) -> list[str]:
    ids = set(sample_ids)
    got = {
        (t["subj"], t["src_hit"], t["src_db"], t["obj"], round(t["score"], 9))
        for t in triples
        if t["pred"] == "hasDescription" and t["subj"] in ids
    }
    problems = _diff("hasDescription vs relational twin", expected, got)
    if not expected:
        problems.append("relational twin produced no winners for the sample")
    return problems


def _canonical(synonyms_path: str):
    """node -> smallest node of its synonym component (union-find)."""
    edges = pq.read_table(synonyms_path).to_pylist()
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for e in edges:
        a, b = find(e["u"]), find(e["v"])
        if a != b:
            lo, hi = min(a, b), max(a, b)
            parent[hi] = lo
    return lambda node: find(node) if node in parent else node


def _interpro_superiors(xml_path: str) -> dict[str, set[str]]:
    """ipr_id -> every transitive ancestor (parent chain) or container."""
    up: dict[str, set[str]] = defaultdict(set)
    ids = set()
    for el in ET.parse(xml_path).getroot().iter("interpro"):
        ipr = el.get("id")
        ids.add(ipr)
        plist = el.find("parent_list")
        if plist is not None and plist.find("rel_ref") is not None:
            up[ipr].add(plist.find("rel_ref").get("ipr_ref"))
        clist = el.find("contains")
        if clist is not None:
            for r in clist.findall("rel_ref"):
                up[r.get("ipr_ref")].add(ipr)
    out = {}
    for ipr in ids:
        seen, stack = set(), list(up[ipr])
        while stack:
            s = stack.pop()
            if s not in seen:
                seen.add(s)
                stack.extend(up[s])
        out[ipr] = seen
    return out


def entity_problems(triples: list[dict], inputs: str, files: dict) -> list[str]:
    canon = _canonical(os.path.join(inputs, files["synonyms"]))

    goa = defaultdict(set)
    with open(os.path.join(inputs, files["goa"])) as fh:
        for line in fh:
            m = GOA_RE.match(line)
            if m:
                goa[m.group(1)].add(m.group(2))
    expected = set()
    for t in triples:
        if t["pred"] == "hasDescription":
            m = SHORT_ACC_RE.match(t["src_hit"])
            for go in goa.get(m.group(1) if m else t["src_hit"], ()):
                expected.add((t["subj"], "hasGOTerm", canon(go)))

    sup = _interpro_superiors(os.path.join(inputs, files["interpro_db"]))
    domains = defaultdict(set)
    with open(os.path.join(inputs, files["interpro_raw"])) as fh:
        for line in fh:
            m = INTERPRO_RAW_RE.fullmatch(line.rstrip("\n"))
            if m and m.group(2) in sup:
                domains[m.group(1)].add(m.group(2))
    for prot, ds in domains.items():
        for d in ds:
            if not any(o != d and o in sup[d] for o in ds):
                expected.add((prot, "hasDomain", canon(d)))

    got = {
        (t["subj"], t["pred"], t["obj"])
        for t in triples
        if t["pred"] in ("hasGOTerm", "hasDomain")
    }
    problems = _diff("hasGOTerm/hasDomain vs plain-Python oracle", expected, got)
    if not any(p == "hasGOTerm" for _, p, _ in expected):
        problems.append("oracle expects no hasGOTerm rows; inputs too small")
    return problems
