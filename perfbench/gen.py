"""Seeded input generator for the docs->triples benchmark.

Every input file of every workload derives from ``(workload, seed)`` through
one ``numpy.random.Generator``; the same pair always yields byte-identical
files.  The pipeline sees only the files written here:

    <out>/docs/part-0000N.parquet   interleaved-docs table (DOCS_SCHEMA)
    <out>/goa.gaf                   GOA (GAF 2.0) reference annotations   [kg]
    <out>/interpro.xml              InterPro database, <= 3 levels deep    [kg]
    <out>/interpro_raw.txt          3 raw InterPro result lines / protein  [kg]
    <out>/synonyms.parquet          GO synonym edges (u, v)                [kg]
    <out>/manifest.json             sizes and counts the benchmark reports

Run standalone to inspect a workload's inputs:

    python3 perfbench/gen.py --workload kg_entities --seed 1 --out /tmp/x
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# docs: number of proteins; hits: blast-hit spans per doc; hot_*: the share
# of docs that carry hot_hits spans instead (above the 200 top-k cap);
# kg: also write GOA / InterPro / synonym inputs
WORKLOADS = {
    "desc_uniform": dict(docs=4000, hits=24, hot_share=0.0, hot_hits=0, kg=False),
    "kg_entities": dict(docs=2000, hits=12, hot_share=0.0, hot_hits=0, kg=True),
    "hot_proteins": dict(docs=6000, hits=8, hot_share=0.005, hot_hits=1500, kg=False),
}

N_DBS = 3
VOCAB = 3000
N_GO = 4000
N_IPR = 500
DOC_FILES = 8
# share of hit spans built to fail the mention gate, one third each:
# q_start >= q_end, a description with no token, an unparsable e-value
BAD_SHARE = 0.04
AMINO = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWY", dtype=np.uint8)

SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN))])


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = sum(ord(c) * 31**i for i, c in enumerate(workload)) % (2**32)
    return np.random.default_rng([seed, salt])


def doc_id(i: int) -> str:
    return f"prot{i:07d}"


def short_acc(sid: int) -> str:
    return f"S{sid:06d}"


def _subject_descriptions(rng, n_subjects: int) -> list[str]:
    """One description per subject sequence (every hit on a subject carries
    the same description, as in a real FASTA database), built from a Zipf
    vocabulary so proteins share tokens."""
    n_tok = rng.integers(2, 7, n_subjects)
    words = (rng.zipf(1.3, int(n_tok.sum())) - 1) % VOCAB
    seps = rng.choice(np.array([" ", " ", " ", "-", ", ", "/"]), int(n_tok.sum()))
    out, k = [], 0
    for n in n_tok:
        parts = []
        for j in range(n):
            parts.append(f"tok{words[k]}" + (seps[k] if j < n - 1 else ""))
            k += 1
        out.append("".join(parts) + " protein")
    return out


def _docs_table(rng, spec: dict, kg_lines: dict | None):
    n = spec["docs"]
    n_hot = int(round(n * spec["hot_share"]))
    hot = np.zeros(n, dtype=bool)
    if n_hot:
        hot[rng.choice(n, n_hot, replace=False)] = True
    hits_per = np.where(hot, spec["hot_hits"], spec["hits"])
    total = int(hits_per.sum())

    n_subjects = max(2000, total // 8)
    descs = _subject_descriptions(rng, n_subjects)
    subj_len = rng.integers(120, 900, n_subjects)

    sid = (rng.zipf(1.2, total) - 1) % n_subjects
    db = rng.integers(0, N_DBS, total)
    q_start = rng.integers(1, 60, total)
    q_end = q_start + rng.integers(30, 300, total)
    s_start = rng.integers(1, 40, total)
    s_end = s_start + rng.integers(30, 300, total)
    e_exp = rng.integers(3, 150, total)
    e_man = rng.integers(10, 99, total)
    bit = rng.integers(80, 2000, total)
    bad = rng.random(total) < BAD_SHARE
    bad_kind = rng.integers(0, 3, total)

    qlen = rng.integers(80, 800, n)
    seq = AMINO[rng.integers(0, len(AMINO), int(qlen.sum()))].tobytes().decode()

    # a protein hits each subject at most once: repeats of a Zipf draw
    # within a doc are replaced by uniform draws
    spare = iter(rng.integers(0, n_subjects, total * 4).tolist())

    kinds, texts, media, offsets, list_off = [], [], [], [], [0]
    h = 0
    q = 0
    for i in range(n):
        did = doc_id(i)
        kinds.append("query")
        texts.append(f">{did}\n{seq[q:q + qlen[i]]}")
        q += qlen[i]
        media.append(None)
        offsets.append(0)
        seen = set()
        for j in range(hits_per[i]):
            s = sid[h]
            while s in seen:
                s = next(spare)
            seen.add(s)
            sid[h] = s
            acc = f"sub|{short_acc(s)}|x"
            qs, qe = q_start[h], q_end[h]
            ev = f"{e_man[h] / 10:.1f}e-{e_exp[h]}"
            desc = descs[s]
            if bad[h]:
                if bad_kind[h] == 0:
                    qs, qe = qe, qs
                elif bad_kind[h] == 1:
                    desc = "--/--"
                else:
                    ev = "NA"
            kinds.append(f"blast_hit:db{db[h]}")
            texts.append(
                f"{acc}\t{qs}\t{qe}\t{s_start[h]}\t{s_end[h]}\t{ev}\t"
                f"{bit[h] / 2:.1f}\t{subj_len[s]}\t{desc}"
            )
            media.append(f"aln://db{db[h]}/batch001.pairwise#{acc}")
            offsets.append(j + 1)
            h += 1
        if kg_lines is not None:
            for k, line in enumerate(kg_lines.get(did, ())):
                kinds.append("interpro_hit")
                texts.append(line)
                media.append(None)
                offsets.append(hits_per[i] + 1 + k)
        list_off.append(len(kinds))

    spans = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(media, pa.string()),
            pa.array(offsets, pa.int32()),
        ],
        fields=list(SPAN),
    )
    lists = pa.ListArray.from_arrays(pa.array(list_off, pa.int32()), spans)
    table = pa.Table.from_arrays(
        [pa.array([doc_id(i) for i in range(n)], pa.string()), lists], schema=DOCS
    )
    counts = {
        "docs": n,
        "hot_docs": n_hot,
        "hit_spans": total,
        "bad_hit_spans": int(bad.sum()),
    }
    return table, counts, sorted(set(sid.tolist()))


def _interpro(rng):
    """500 entries in three levels: 100 roots, 200 children of roots, 200
    grandchildren; a quarter of the level-0/1 entries also ``contain`` one
    deeper entry.  Returns (xml text, {id: (parent, contains)})."""
    ids = [f"IPR{i + 1:06d}" for i in range(N_IPR)]
    level = np.array([0] * 100 + [1] * 200 + [2] * 200)
    entries = {}
    for i, ipr in enumerate(ids):
        parent = None
        if level[i] == 1:
            parent = ids[int(rng.integers(0, 100))]
        elif level[i] == 2:
            parent = ids[int(rng.integers(100, 300))]
        contains = []
        if level[i] < 2 and rng.random() < 0.25:
            contains = [ids[int(rng.integers(300, N_IPR))]]
        entries[ipr] = (parent, contains)
    out = ['<?xml version="1.0" encoding="UTF-8"?>', "<interprodb>"]
    for i, ipr in enumerate(ids):
        parent, contains = entries[ipr]
        kind = ("Family", "Domain", "Repeat")[level[i]]
        out.append(
            f'<interpro id="{ipr}" protein_count="{10 + i}" '
            f'short_name="Ent_{i + 1}" type="{kind}">'
        )
        out.append(f"<name>Entry {i + 1}</name>")
        if parent:
            out.append(f'<parent_list><rel_ref ipr_ref="{parent}"/></parent_list>')
        if contains:
            refs = "".join(f'<rel_ref ipr_ref="{c}"/>' for c in contains)
            out.append(f"<contains>{refs}</contains>")
        out.append("</interpro>")
    out.append("</interprodb>")
    return "\n".join(out) + "\n", entries


def _interpro_lines(rng, n_docs: int, entries: dict) -> dict:
    """3 raw result lines per protein.  Half the time the second domain is
    an ancestor of the first (so the most-informative filter drops one);
    2% of lines name an id absent from the database."""
    ids = list(entries)
    out = {}
    for i in range(n_docs):
        did = doc_id(i)
        first = ids[int(rng.integers(100, N_IPR))]
        parent = entries[first][0]
        picks = [first, parent if parent and rng.random() < 0.5 else
                 ids[int(rng.integers(0, N_IPR))], ids[int(rng.integers(0, N_IPR))]]
        lines = []
        for k, ipr in enumerate(picks):
            if rng.random() < 0.02:
                ipr = f"IPR9{int(rng.integers(0, 99999)):05d}"
            lines.append(
                f"{did}\tmd5{i:x}\t{200 + k}\tPfam\tPF{int(rng.integers(1, 20000)):05d}\t"
                f"Pfam domain\t{1 + 10 * k}\t{60 + 10 * k}\t1.0E-10\tT\t01-01-2020\t"
                f"{ipr}\tInterPro entry {ipr}"
            )
        out[did] = lines
    return out


def _goa(rng, subjects: list[int]) -> str:
    """GAF lines for 40% of the hit subjects (1-4 terms each), plus
    ``NOT``-qualified lines the reference regex must skip, plus lines for
    subjects no protein hits."""
    lines = []
    for s in subjects:
        if rng.random() >= 0.4:
            continue
        for _ in range(int(rng.integers(1, 5))):
            term = f"GO:{int(rng.integers(0, N_GO)):07d}"
            qual = "NOT|enables" if rng.random() < 0.05 else ""
            lines.append(
                f"UniProtKB\t{short_acc(s)}\tSYM{s}\t{qual}\t{term}\tPMID:1\tIEA\t\t"
                f"F\tsubject {s}\t\tprotein\ttaxon:1\t20200101\tUniProt"
            )
    top = (max(subjects) + 1) if subjects else 0
    for s in range(top, top + 500):
        lines.append(
            f"UniProtKB\t{short_acc(s)}\tSYM{s}\t\tGO:{int(rng.integers(0, N_GO)):07d}"
            f"\tPMID:1\tIEA\t\tP\tunhit {s}\t\tprotein\ttaxon:1\t20200101\tUniProt"
        )
    return "\n".join(lines) + "\n"


def _synonyms(rng) -> pa.Table:
    """GO synonym groups: 300 groups of 2-3 terms, chained u-v edges."""
    us, vs = [], []
    terms = rng.permutation(N_GO)[:900]
    k = 0
    for _ in range(300):
        size = int(rng.integers(2, 4))
        group = [f"GO:{int(t):07d}" for t in terms[k:k + size]]
        k += size
        for a, b in zip(group, group[1:]):
            us.append(b)
            vs.append(a)
    return pa.table({"u": pa.array(us, pa.string()), "v": pa.array(vs, pa.string())})


def generate(workload: str, seed: int, out: str) -> dict:
    """Write every input of ``workload`` for ``seed`` under ``out`` and
    return the manifest (also written as ``out/manifest.json``); its
    ``files`` paths are relative to ``out``."""
    spec = WORKLOADS[workload]
    rng = _rng(workload, seed)
    os.makedirs(os.path.join(out, "docs"), exist_ok=True)
    files = {"docs": "docs"}

    kg_lines = entries = None
    if spec["kg"]:
        xml, entries = _interpro(rng)
        kg_lines = _interpro_lines(rng, spec["docs"], entries)
    table, counts, subjects = _docs_table(rng, spec, kg_lines)
    rows = table.num_rows
    for f in range(DOC_FILES):
        lo, hi = rows * f // DOC_FILES, rows * (f + 1) // DOC_FILES
        pq.write_table(
            table.slice(lo, hi - lo),
            os.path.join(out, "docs", f"part-{f:05d}.parquet"),
            compression="snappy",
        )

    if spec["kg"]:
        files.update(
            goa="goa.gaf",
            interpro_db="interpro.xml",
            interpro_raw="interpro_raw.txt",
            synonyms="synonyms.parquet",
        )
        with open(os.path.join(out, files["goa"]), "w") as fh:
            fh.write(_goa(rng, subjects))
        with open(os.path.join(out, files["interpro_db"]), "w") as fh:
            fh.write(xml)
        with open(os.path.join(out, files["interpro_raw"]), "w") as fh:
            for did in sorted(kg_lines):
                fh.write("\n".join(kg_lines[did]) + "\n")
        pq.write_table(
            _synonyms(rng), os.path.join(out, files["synonyms"]),
            compression="snappy",
        )

    manifest = {"workload": workload, "seed": seed, "files": files, **counts}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
