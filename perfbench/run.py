"""Docs->triples batch benchmark for ``ahrd_spark.plans.pipeline.run_pipeline``.

Run from the repository root:

    python3 perfbench/run.py --workload desc_uniform --seed 1 --seconds 15 --trace 0

One process, one workload, closed loop with one pipeline job at a time on
``local[nproc - 1]`` (see ``hostenv.py``):

1. Write the seeded inputs (``gen.py``; timed apart from everything else),
   then start a set-up probe (``probe.py``) as a child process and this
   process's own SparkSession beside it.  ``setup_s`` is the median of the
   concurrent session starts.
2. ``WARMUP_RUNS`` discarded full-size pipeline runs; the relational twin
   of the output check runs beside them.
3. Timed ``run_pipeline`` calls, each into a fresh workdir, until
   ``--seconds`` have passed (at least one; two when tracing).  Every run's
   triples checkpoint must repeat the first run's row count and checksum.
4. Output checks on the first run's triples (see ``checks.py``).

With ``--trace 1`` the event log is on, the layer functions are wrapped
(``tracing.py``), runs alternate untraced / traced, and the per-layer
metrics are printed instead of the end-to-end ones.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the line before it carries host facts, raw samples and diagnostics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import checks
import gen
import hostenv
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_PROBES = 1
SAMPLE_DOCS = 500  # docs in the relational-twin sample
MAX_CONSECUTIVE_FAILURES = 3
# The first warm-up run compiles every plan and starts the Python workers;
# after it each call is still faster than the one before for about ten
# calls (driver-side JIT).  A second warm-up run takes the short calls past
# the steepest part of that slope; on kg_entities it would cost 5-10 s a
# run, which the time budget of a two-commit comparison does not have.
WARMUP_RUNS = {"desc_uniform": 2, "kg_entities": 1, "hot_proteins": 2}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="docs->triples batch benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _start_probe(log) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "probe.py")],
        stdout=subprocess.PIPE, stderr=log, text=True, cwd=hostenv.ROOT,
    )


def _probe_setup_s(proc: subprocess.Popen) -> float:
    out, _ = proc.communicate(timeout=170)
    lines = [x for x in out.splitlines() if x.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"set-up probe exited {proc.returncode} without a result")
    return json.loads(lines[-1])["setup_s"]


def pipeline_config(spark, workload: str, inputs: str, files: dict):
    """(AhrdConfig, synonym-edges DataFrame or None) for a workload."""
    from ahrd_spark.config import AhrdConfig, BlastDbConfig

    dbs = tuple(
        BlastDbConfig(
            name=f"db{i}",
            weight=(100, 50, 10)[i],
            description_score_bit_score_weight=(0.2, 0.4, 0.4)[i],
        )
        for i in range(gen.N_DBS)
    )
    if not gen.WORKLOADS[workload]["kg"]:
        return AhrdConfig(blast_dbs=dbs), None
    cfg = AhrdConfig(
        blast_dbs=dbs,
        gene_ontology_result=os.path.join(inputs, files["goa"]),
        interpro_database=os.path.join(inputs, files["interpro_db"]),
        interpro_result=os.path.join(inputs, files["interpro_raw"]),
    )
    return cfg, spark.read.parquet(os.path.join(inputs, files["synonyms"]))


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def main(argv=None) -> int:
    args = parse_args(argv)
    hostenv.require_program()
    hostenv.configure()
    job = os.path.join(hostenv.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(job, "inputs")
    event_log = os.path.join(job, "eventlog") if args.trace else None
    os.makedirs(event_log or job, exist_ok=True)
    log = open(os.path.join(job, "children.log"), "w")

    t_gen = time.perf_counter()
    manifest = gen.generate(args.workload, args.seed, inputs)
    gen_s = time.perf_counter() - t_gen

    t_setup = time.perf_counter()
    children = []
    if not args.trace:
        children = [_start_probe(log) for _ in range(SETUP_PROBES)]

    from ahrd_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf=hostenv.session_conf(event_log),
    )
    tracer = None
    try:
        spark.range(1).count()
        setup = [time.perf_counter() - t_setup]
        setup += [_probe_setup_s(p) for p in children]
        result = measure(spark, args, job, inputs, manifest, event_log)
        if args.trace:
            tracer = result.pop("tracer")
    finally:
        for p in children:
            if p.poll() is None:
                p.kill()
            p.wait()
        log.close()
        hostenv.stop_spark(spark)

    durations = result["durations"]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "host": result["host"],
        "inputs": {k: manifest[k] for k in ("docs", "hot_docs", "hit_spans")},
        "inputs_gen_s": gen_s,
        "warmup_s": result.get("warmup_s"),
        # busy and stolen share of all CPUs during the timed loop: a high
        # steal share marks a run slowed by the machine's other tenants
        "timed_cpu": result["timed_cpu"],
        "checks_s": result.get("checks_s"),
        "setup_samples_s": setup,
        "pipeline_samples_s": durations,
        # no percentile above the median has ten samples beyond it at this
        # sample count, so the slowest run stands in for the tail
        "pipeline_max_s": max(durations) if durations else None,
        "error_rate": {"value": result["failed"] / result["attempted"], "unit": "ratio"},
        "problems": result["problems"],
    }
    print(json.dumps(info), flush=True)
    if not durations:
        shutil.rmtree(job, ignore_errors=True)
        return 1

    if args.trace:
        os.makedirs(os.path.join(hostenv.WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            hostenv.WORK, "traces", f"{args.workload}-{args.seed}.spans.json"))
        log_data = tracing.read_event_log(event_log)
        per_run = [
            tracing.run_metrics(i, tracer.spans, log_data, outputs,
                              manifest["hit_spans"], result["proteins_with_mentions"])
            for i, outputs in result["traced_outputs"].items()
        ]
        values = {
            "session.start_s": setup[0],
            "inputs.gen_s": gen_s,
            **tracing.median_metrics(per_run),
            "checkpoint.resume_s": result["resume_s"],
            "trace.pipeline_s": _median(result["traced_s"]),
            "trace.overhead_s": _median(result["traced_s"])
            - _median(result["untraced_s"]),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in tracing.UNITS.items()}
    else:
        pipeline_s = statistics.median(durations)
        metrics = {
            "setup_s": {"value": statistics.median(setup), "unit": "s"},
            "pipeline_s": {"value": pipeline_s, "unit": "s"},
            "docs_per_s": {"value": manifest["docs"] / pipeline_s, "unit": "1/s"},
        }
    shutil.rmtree(job, ignore_errors=True)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


def measure(spark, args, job, inputs, manifest, event_log) -> dict:
    """Warm-up, timed loop and output checks in one live session."""
    from ahrd_spark.plans.pipeline import run_pipeline

    files = manifest["files"]
    cfg, synonyms = pipeline_config(spark, args.workload, inputs, files)
    docs_dir = os.path.join(inputs, files["docs"])
    docs = spark.read.parquet(docs_dir)

    def pipeline(frame, workdir):
        run_pipeline(spark, frame, cfg, workdir, synonym_edges=synonyms)

    n = manifest["docs"]
    sample = [gen.doc_id(i) for i in range(0, n, max(1, n // SAMPLE_DOCS))]
    # discarded full-size runs; the relational twin needs only the docs, so
    # it runs beside them
    t0 = time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        twin = pool.submit(checks.twin_rows, docs, cfg, sample)
        for _ in range(WARMUP_RUNS[args.workload]):
            pipeline(docs, os.path.join(job, "warmup"))
            shutil.rmtree(os.path.join(job, "warmup"))
        twin_expected = twin.result()
    tracer = None
    min_runs = 1
    if args.trace:
        tracer = tracing.Tracer(spark)
        tracer.install()
        min_runs = 2
    warmup_s = time.perf_counter() - t0

    durations, traced_s, untraced_s = [], [], []
    traced_outputs: dict = {}
    attempted = failed = streak = 0
    ref = first = None
    jiffies = hostenv.cpu_jiffies()
    start = time.perf_counter()
    while attempted < min_runs or time.perf_counter() - start < args.seconds:
        run = attempted
        workdir = os.path.join(job, "runs", str(run))
        traced = tracer is not None and run % 2 == 1
        attempted += 1
        try:
            ctx = tracer.traced_run(run) if traced else contextlib.nullcontext()
            t0 = time.perf_counter()
            with ctx:
                pipeline(docs, workdir)
            dt = time.perf_counter() - t0
            lin = checks.lineage(workdir)
            if ref is None:
                ref, first = lin, workdir
            if lin != ref:
                raise RuntimeError(f"run {run}: triples lineage {lin} != first {ref}")
        except Exception:
            traceback.print_exc()
            failed += 1
            streak += 1
            if streak >= MAX_CONSECUTIVE_FAILURES:
                break
            continue
        finally:
            if traced and os.path.isdir(workdir):
                traced_outputs[run] = tracing.stage_outputs(workdir)
            if workdir != first:
                shutil.rmtree(workdir, ignore_errors=True)
        streak = 0
        durations.append(dt)
        (traced_s if traced else untraced_s).append(dt)
    cpu = hostenv.cpu_shares(jiffies, hostenv.cpu_jiffies())

    problems: list[str] = []
    out = {
        "host": hostenv.host_info(spark),
        "timed_cpu": cpu,
        "warmup_s": warmup_s,
        "durations": durations,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "correct": False,
    }
    if first is None:
        problems.append("no pipeline run succeeded")
        return out
    t0 = time.perf_counter()
    triples = checks.read_triples(first)
    problems += checks.twin_problems(twin_expected, triples, sample)
    if gen.WORKLOADS[args.workload]["kg"]:
        problems += checks.entity_problems(triples, inputs, files)
    out["checks_s"] = time.perf_counter() - t0

    if tracer is not None:
        import pyarrow.parquet as pq

        tracer.uninstall()
        out["proteins_with_mentions"] = len(set(pq.read_table(
            os.path.join(first, "mention_detect", "data"), columns=["protein_acc"]
        ).column(0).to_pylist()))
        before = checks.sidecar(first)
        t0 = time.perf_counter()
        pipeline(docs, first)
        out["resume_s"] = time.perf_counter() - t0
        if checks.sidecar(first) != before:
            problems.append("resume over a finished workdir rewrote the triples")
        out.update(tracer=tracer, traced_s=traced_s, untraced_s=untraced_s,
                   traced_outputs=traced_outputs)
    if problems:
        # every successful run repeated the first run's checksum, so a
        # wrong first output makes every run wrong
        out["failed"] = attempted
    out["correct"] = not problems and failed == 0
    return out


if __name__ == "__main__":
    sys.exit(main())
