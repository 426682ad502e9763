"""Canonicalize-stage semantics on synthetic inputs: InterPro lines are
restricted to the batch (J4), deep InterPro hierarchies close exactly, and
the InterPro closure is driver work that starts no Spark job."""

import random
from collections import defaultdict

from ahrd_spark.config import AhrdConfig, BlastDbConfig
from ahrd_spark.operators.interpro_filter import interpro_closure
from ahrd_spark.plans.docs import DOCS_SCHEMA
from ahrd_spark.plans.pipeline import run_pipeline
from ahrd_spark.sources.interpro import parse_interpro_db

DB = BlastDbConfig(name="db0", weight=100, description_score_bit_score_weight=0.2)


def _ipr(i: int) -> str:
    return f"IPR{i:06d}"


def _docs(spark, proteins):
    """One doc per protein: a query span and two blast hits."""
    rows = []
    for n, prot in enumerate(proteins):
        spans = [("query", f">{prot}\n" + "ACDEFGHIKL" * 12, None, 0)]
        for k in range(2):
            acc = f"sub|S{n:04d}{k}|x"
            spans.append((
                "blast_hit:db0",
                f"{acc}\t1\t{90 + k}\t1\t90\t1.0e-{30 + k}\t{300 + k}.0\t120\t"
                f"kinase{n} domain protein",
                None,
                k + 1,
            ))
        rows.append((prot, spans))
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def _write_db(path, entries):
    """entries: (ipr_id, parent_id or None, [contained ids])."""
    out = ["<interprodb>"]
    for ipr, parent, contains in entries:
        out.append(f'<interpro id="{ipr}" short_name="s_{ipr}" type="Domain">')
        out.append(f"<name>entry {ipr}</name>")
        if parent:
            out.append(f'<parent_list><rel_ref ipr_ref="{parent}"/></parent_list>')
        if contains:
            refs = "".join(f'<rel_ref ipr_ref="{c}"/>' for c in contains)
            out.append(f"<contains>{refs}</contains>")
        out.append("</interpro>")
    out.append("</interprodb>")
    path.write_text("\n".join(out) + "\n")


def _write_raw(path, pairs):
    path.write_text("".join(
        f"{prot}\tmd5\t200\tPfam\tPF00001\tPfam domain\t1\t60\t1.0E-10\tT\t"
        f"01-01-2020\t{ipr}\tInterPro entry {ipr}\n"
        for prot, ipr in pairs
    ))


def _run(spark, tmp_path, proteins, entries, raw_pairs):
    _write_db(tmp_path / "interpro.xml", entries)
    _write_raw(tmp_path / "interpro_raw.txt", raw_pairs)
    cfg = AhrdConfig(
        blast_dbs=(DB,),
        interpro_database=str(tmp_path / "interpro.xml"),
        interpro_result=str(tmp_path / "interpro_raw.txt"),
    )
    triples = run_pipeline(
        spark, _docs(spark, proteins), cfg, str(tmp_path / "work")
    )
    return [r.asDict() for r in triples.collect()]


def test_interpro_lines_outside_the_batch_give_no_triples(spark, tmp_path):
    """J4: the reference attaches raw InterPro results only to proteins of
    the batch; a line for any other protein is skipped."""
    proteins = [f"P{i}" for i in range(5)]
    entries = [(_ipr(i), None, []) for i in range(1, 4)]
    raw = [(p, _ipr(1 + i % 3)) for i, p in enumerate(proteins)]
    raw.append(("NOT_IN_BATCH", _ipr(1)))
    triples = _run(spark, tmp_path, proteins, entries, raw)

    domains = [t for t in triples if t["pred"] == "hasDomain"]
    assert {(t["subj"], t["obj"]) for t in domains} == set(raw[:-1])
    assert not [t for t in triples if t["subj"] == "NOT_IN_BATCH"]
    assert not [t for t in domains if t["src_db"] is None]


def _deep_entries():
    """500 entries, parent = i // 2 (nine levels), plus a contains cycle
    between two leaves and one containee the DB does not define."""
    entries = [[_ipr(i), _ipr(i // 2) if i else None, []] for i in range(500)]
    entries[300][2] = [_ipr(301)]
    entries[301][2] = [_ipr(300), _ipr(999999)]
    return [tuple(e) for e in entries]


def _superiors_oracle(entries):
    """ipr -> every transitive parent or container, by depth-first search."""
    up = defaultdict(set)
    for ipr, parent, contains in entries:
        if parent:
            up[ipr].add(parent)
        for c in contains:
            up[c].add(ipr)
    out = {}
    for ipr in list(up):
        seen, stack = set(), list(up[ipr])
        while stack:
            s = stack.pop()
            if s not in seen:
                seen.add(s)
                stack.extend(up[s])
        out[ipr] = seen
    return out


def test_deep_hierarchy_matches_dfs_oracle(spark, tmp_path):
    entries = _deep_entries()
    known = {e[0] for e in entries}
    sup = _superiors_oracle(entries)
    rng = random.Random(7)
    proteins = [f"P{i:02d}" for i in range(24)]
    raw = []
    for i, prot in enumerate(proteins):
        leaf = rng.randrange(256, 500)
        chain = [leaf, leaf // 2, leaf // 16, rng.randrange(500)]
        raw += [(prot, _ipr(x)) for x in chain[: 1 + i % 4]]
    raw += [("P00", _ipr(300)), ("P00", _ipr(301)), ("P01", _ipr(300))]
    triples = _run(spark, tmp_path, proteins, entries, raw)

    domains = defaultdict(set)
    for prot, ipr in raw:
        if ipr in known:
            domains[prot].add(ipr)
    expected = {
        (prot, d)
        for prot, ds in domains.items()
        for d in ds
        if not any(o != d and o in sup.get(d, ()) for o in ds)
    }
    got = {(t["subj"], t["obj"]) for t in triples if t["pred"] == "hasDomain"}
    assert got == expected
    # the cycle drops both of its members when a protein has both
    assert ("P00", _ipr(300)) not in got and ("P01", _ipr(300)) in got


def test_interpro_closure_starts_no_spark_job(spark, tmp_path):
    entries = _deep_entries()
    _write_db(tmp_path / "interpro.xml", entries)
    parsed = parse_interpro_db(str(tmp_path / "interpro.xml"))
    sc = spark.sparkContext
    group = "interpro-closure-probe"
    sc.setJobGroup(group, "jobs started by interpro_closure")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        closure = interpro_closure(spark, parsed)
        after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before == []

    got = {(r["ipr_id"], r["superior_id"]) for r in closure.collect()}
    want = {(i, s) for i, ss in _superiors_oracle(entries).items() for s in ss}
    assert got == want
    assert (_ipr(300), _ipr(300)) in got  # (a, a) only on a cycle
    assert (_ipr(499), _ipr(499)) not in got
    assert (_ipr(999999), _ipr(301)) in got  # referenced-only id
    assert (_ipr(499), _ipr(0)) in got  # eight hops up

