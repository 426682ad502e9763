"""Canonicalize-stage semantics on synthetic inputs: InterPro lines are
restricted to the batch (J4), deep InterPro hierarchies close exactly, the
InterPro closure is driver work that starts no Spark job, and the stage's
one per-protein pass matches a plain-Python oracle on every combination of
GOA, InterPro and synonyms, without duplicate triples or repeated scans."""

import random
import re
import uuid
from collections import defaultdict

import pytest

from ahrd_spark.config import AhrdConfig, BlastDbConfig
from ahrd_spark.operators.interpro_filter import interpro_closure
from ahrd_spark.plans.docs import DOCS_SCHEMA
from ahrd_spark.plans.pipeline import run_pipeline
from ahrd_spark.sources.interpro import parse_interpro_db, read_interpro_db

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
    """The closure is driver work, and the DB frame that carries it is a
    local relation: building both starts no Spark job."""
    entries = _deep_entries()
    _write_db(tmp_path / "interpro.xml", entries)
    parsed = parse_interpro_db(str(tmp_path / "interpro.xml"))
    sc = spark.sparkContext
    group = "interpro-closure-probe"
    sc.setJobGroup(group, "jobs started by interpro_closure")
    try:
        before = list(sc.statusTracker().getJobIdsForGroup(group))
        closure = interpro_closure(parsed)
        db = read_interpro_db(spark, None, parsed, closure)
        after = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after == before == []

    got = {(i, s) for i, ss in closure.items() for s in ss}
    want = {(i, s) for i, ss in _superiors_oracle(entries).items() for s in ss}
    assert got == want
    assert (_ipr(300), _ipr(300)) in got  # (a, a) only on a cycle
    assert (_ipr(499), _ipr(499)) not in got
    assert (_ipr(999999), _ipr(301)) in got  # referenced-only id
    assert (_ipr(499), _ipr(0)) in got  # eight hops up
    # the frame: one row per id the DB defines, a root with no superiors
    rows = {r["ipr_id"]: set(r["superiors"]) for r in db.collect()}
    assert set(rows) == {e[0] for e in entries}
    assert rows[_ipr(0)] == set()
    assert all(rows[i] == set(ss) for i, ss in closure.items() if i in rows)


# ---------------------------------------------------------------------------
# the per-protein pass: every combination of GOA, InterPro and synonyms
# against a plain-Python oracle, its job count, and its duplicate-free output
# ---------------------------------------------------------------------------
GO_RE = re.compile(r"^UniProtKB\t([^\t]+)\t[^\t]+\t(?!NOT\|)[^\t]*\t(GO:\d{7})")
SHORT_ACC_RE = re.compile(r"^[^|]+\|([^|]+)")
PASS_PROTEINS = [f"P{i:02d}" for i in range(12)]


def _go(i: int) -> str:
    return f"GO:{i:07d}"


def _goa_lines(n_proteins):
    """GAF lines: hit 0, which ranks second, is every third protein's only
    annotated candidate (GO preference switches its winner); the other
    proteins' hits carry 1-3 terms from a 12-term pool, with repeated
    lines, NOT-qualified lines and lines for accessions nobody hits."""
    rng = random.Random(11)
    lines = []

    def line(acc, term, qual=""):
        lines.append(f"UniProtKB\t{acc}\tSYM\t{qual}\t{term}\tPMID:1\tIEA\t\tF\tx\t\t"
                     f"protein\ttaxon:1\t20200101\tUniProt")

    for n in range(n_proteins):
        ks = (0,) if n % 3 == 0 else (0, 1)
        for k in ks:
            for _ in range(rng.randint(1, 3)):
                line(f"S{n:04d}{k}", _go(rng.randint(1, 12)))
            line(f"S{n:04d}{k}", _go(13), qual="NOT|enables")
    line("S00011", _go(1))  # a repeated line
    line("S00011", _go(1))
    line("UNHIT1", _go(2))
    return lines


def _pass_db():
    """(ipr_id, parent, contains): 1 <- 2 <- 3 by parent, 4 contains 5,
    6 and 7 unrelated roots."""
    return [
        (_ipr(1), None, []), (_ipr(2), _ipr(1), []), (_ipr(3), _ipr(2), []),
        (_ipr(4), None, [_ipr(5)]), (_ipr(5), None, []),
        (_ipr(6), None, []), (_ipr(7), None, []),
    ]


def _pass_raw():
    """Per protein two to four raw lines: known ids in various
    subsumption relations, an unknown id, a repeated line; plus lines for
    a protein outside the batch."""
    rng = random.Random(5)
    raw = []
    for prot in PASS_PROTEINS:
        ids = rng.sample([1, 2, 3, 4, 5, 6, 7, 99], rng.randint(2, 4))
        raw += [(prot, _ipr(i)) for i in ids]
    raw += [("P00", _ipr(6)), ("P00", _ipr(7)), ("P00", _ipr(6))]
    raw += [("NOT_IN_BATCH", _ipr(1)), ("NOT_IN_BATCH", _ipr(6))]
    return raw


# GO 1-2-3 and 4-5 are synonym groups (chained edges, canonical = smallest
# id), so do InterPro 6-7; P00 carries both 6 and 7
SYNONYMS = [(_go(2), _go(1)), (_go(3), _go(2)), (_go(5), _go(4)), (_ipr(7), _ipr(6))]


def _pass_run(spark, tmp_path, go=False, ipr=False, syn=False, prefer=False,
              before_run=None):
    (tmp_path / "goa.gaf").write_text("\n".join(_goa_lines(len(PASS_PROTEINS))) + "\n")
    _write_db(tmp_path / "interpro.xml", _pass_db())
    _write_raw(tmp_path / "interpro_raw.txt", _pass_raw())
    cfg = AhrdConfig(
        blast_dbs=(DB,),
        gene_ontology_result=str(tmp_path / "goa.gaf") if go else None,
        prefer_reference_with_go_annos=prefer,
        interpro_database=str(tmp_path / "interpro.xml") if ipr else None,
        interpro_result=str(tmp_path / "interpro_raw.txt") if ipr else None,
    )
    edges = spark.createDataFrame(SYNONYMS, "u string, v string") if syn else None
    # a file-backed docs table, as in production: its size estimate lets
    # the planner broadcast the doc_id side of the J4 semi-join
    _docs(spark, PASS_PROTEINS).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    if before_run is not None:
        before_run(spark, docs, cfg, edges)
    triples = run_pipeline(
        spark, docs, cfg, str(tmp_path / f"work-{go}{ipr}{syn}{prefer}"),
        synonym_edges=edges,
    )
    return [(r["subj"], r["pred"], r["obj"], r["src_hit"]) for r in triples.collect()]


def _pass_oracle(tmp_path, triples, go, ipr, syn):
    """Entity triples the reference semantics give, from the run's own
    winners: GOA regex (NOT lines skipped), DFS closure, union-find."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for u, v in SYNONYMS if syn else ():
        a, b = sorted((find(u), find(v)))
        if a != b:
            parent[b] = a
    expected = set()
    if go:
        goa = defaultdict(set)
        for line in (tmp_path / "goa.gaf").read_text().splitlines():
            m = GO_RE.match(line)
            if m:
                goa[m.group(1)].add(m.group(2))
        for subj, pred, _obj, src_hit in triples:
            if pred == "hasDescription":
                for term in goa[SHORT_ACC_RE.match(src_hit).group(1)]:
                    expected.add((subj, "hasGOTerm", find(term)))
    if ipr:
        db = _pass_db()
        known = {e[0] for e in db}
        sup = _superiors_oracle(db)
        domains = defaultdict(set)
        for prot, i in _pass_raw():
            if i in known and prot in PASS_PROTEINS:
                domains[prot].add(i)
        for prot, ds in domains.items():
            for d in ds:
                if not any(o != d and o in sup.get(d, ()) for o in ds):
                    expected.add((prot, "hasDomain", find(d)))
    return expected


@pytest.mark.parametrize("go,ipr,syn,prefer", [
    (True, False, False, False),
    (False, True, False, False),
    (False, False, True, False),
    (True, True, True, False),
    (True, True, True, True),
], ids=["go", "interpro", "synonyms", "all", "all-prefer-go"])
def test_entity_triples_match_python_oracle(spark, tmp_path, go, ipr, syn, prefer):
    """Each combination of sources gives exactly the oracle's entity
    triples, each once; synonyms alone give none."""
    triples = _pass_run(spark, tmp_path, go, ipr, syn, prefer)
    got = sorted((s, p, o) for s, p, o, _ in triples if p != "hasDescription")
    expected = _pass_oracle(tmp_path, triples, go, ipr, syn)
    assert got == sorted(expected)
    assert bool(got) == (go or ipr)
    winners = {s: h for s, p, _, h in triples if p == "hasDescription"}
    assert len(winners) == len(PASS_PROTEINS)
    # every third protein's only annotated candidate, hit 0, ranks second:
    # GO preference must switch its winner
    switched = {SHORT_ACC_RE.match(h).group(1)[-1]
                for s, h in winners.items() if int(s[1:]) % 3 == 0}
    assert switched == ({"0"} if prefer else {"1"})


def test_two_synonyms_of_one_protein_give_one_triple(spark, tmp_path):
    """GO 1 and 2 (one synonym group) on one winner, and InterPro 6 and 7
    (another) on one protein, come out as one canonical triple each."""
    triples = _pass_run(spark, tmp_path, go=True, ipr=True, syn=True)
    entity = [(s, p, o) for s, p, o, _ in triples if p != "hasDescription"]
    assert len(entity) == len(set(entity))
    assert ("P00", "hasDomain", _ipr(6)) in entity
    assert ("P00", "hasDomain", _ipr(7)) not in entity


def _stage_probe(spark, monkeypatch):
    """Per stage: the jobs it started and the files its plan scans, one
    entry per scan of the optimized plan."""
    from ahrd_spark.plans.checkpoint import CheckpointManager

    sc = spark.sparkContext
    probe = {"group": f"stages-{uuid.uuid4().hex}.", "scans": {}}
    run_stage, write = CheckpointManager.run_stage, CheckpointManager.write

    def grouped_run_stage(self, stage, *a, **kw):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", probe["group"] + stage)
        try:
            return run_stage(self, stage, *a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def recording_write(self, df, stage, *a, **kw):
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        probe["scans"][stage] = [
            leaves.apply(i).relation().location().rootPaths().mkString(",")
            for i in range(leaves.size())
            if leaves.apply(i).getClass().getSimpleName() == "LogicalRelation"
        ]
        return write(self, df, stage, *a, **kw)

    monkeypatch.setattr(CheckpointManager, "run_stage", grouped_run_stage)
    monkeypatch.setattr(CheckpointManager, "write", recording_write)

    def jobs(stage):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(probe["group"] + stage))

    probe["jobs"] = jobs
    return probe


def test_canonicalize_reads_each_source_once(spark, tmp_path, monkeypatch):
    """A warm call with GOA, InterPro and synonyms: canonicalize runs at
    most 7 jobs (the synonym collect, four broadcasts, the grouping's
    exchange, the write), and its plan scans each raw text file once."""
    def warm_up(spark, docs, cfg, edges):
        run_pipeline(spark, docs, cfg, str(tmp_path / "cold"), synonym_edges=edges)

    probe = {}

    def before_run(spark, docs, cfg, edges):
        warm_up(spark, docs, cfg, edges)
        probe.update(_stage_probe(spark, monkeypatch))

    _pass_run(spark, tmp_path, go=True, ipr=True, syn=True, before_run=before_run)
    assert probe["jobs"]("canonicalize") <= 7
    scans = probe["scans"]["canonicalize"]
    for name in ("goa.gaf", "interpro_raw.txt"):
        assert sum(p.endswith(name) for p in scans) == 1, scans


def test_traced_names_stay_bound():
    """perfbench's traced run wraps these names by getattr; a missing one
    kills ``--trace 1`` with AttributeError."""
    import importlib

    from perfbench.tracing import WRAPPED

    for module, attr, _span in WRAPPED:
        assert hasattr(importlib.import_module(module), attr), (module, attr)
