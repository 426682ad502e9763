"""Traced runs: span wrappers, per-stage Spark job groups, event-log parsing.

Nothing here lives in the program.  ``Tracer.install`` wraps the program's
public layer functions at run time; each wrapper records a span (name,
start, end, parent, run) in memory.  ``CheckpointManager.run_stage`` is also
tagged with a Spark job group ``pb<run>.<stage>``, so every task in the
event log maps to the pipeline stage that caused it.  After the session
stops, ``run_metrics`` joins spans, event-log task metrics, SQL-plan
metrics and the runs' lineage sidecars into the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

STAGES = ("mention_detect", "link_score", "canonicalize", "materialize")

# (module, attribute, span name): the public functions each layer is timed
# around.  The pipeline module imports most operators by name, so they are
# wrapped in its namespace.
WRAPPED = (
    ("ahrd_spark.plans.pipeline", "detect_mentions", "mention_detect.detect_mentions"),
    ("ahrd_spark.operators.scoring_batch", "select_winners_batch",
     "link_score.select_winners_batch"),
    ("ahrd_spark.plans.pipeline", "transfer_go", "canonicalize.transfer_go"),
    ("ahrd_spark.plans.pipeline", "read_interpro_db", "canonicalize.read_interpro_db"),
    ("ahrd_spark.plans.pipeline", "interpro_closure", "canonicalize.interpro_closure"),
    ("ahrd_spark.plans.pipeline", "filter_most_informative",
     "canonicalize.filter_most_informative"),
    ("ahrd_spark.plans.pipeline", "canonical_map", "canonicalize.canonical_map"),
    ("ahrd_spark.plans.pipeline", "desc_triples", "materialize.desc_triples"),
)

# per-layer metric name -> unit, in the order the benchmark prints them
UNITS = {
    "session.start_s": "s",
    "inputs.gen_s": "s",
    "mention_detect.wall_s": "s",
    "mention_detect.task_cpu_s": "s",
    "mention_detect.gc_s": "s",
    "mention_detect.hit_spans_in": "count",
    "mention_detect.mentions_out": "count",
    "mention_detect.pass_ratio": "ratio",
    "mention_detect.output_bytes": "bytes",
    "mention_detect.task_skew": "ratio",
    "link_score.wall_s": "s",
    "link_score.task_cpu_s": "s",
    "link_score.python_s": "s",
    "link_score.arrow_rows_to_python": "count",
    "link_score.winners_out": "count",
    "link_score.winner_ratio": "ratio",
    "link_score.shuffle_write_bytes": "bytes",
    "link_score.spill_bytes": "bytes",
    "link_score.task_skew": "ratio",
    "canonicalize.wall_s": "s",
    "canonicalize.interpro_db_parse_s": "s",
    "canonicalize.interpro_closure_s": "s",
    "canonicalize.cc_s": "s",
    "canonicalize.jobs": "count",
    "canonicalize.shuffle_write_bytes": "bytes",
    "canonicalize.entities_out": "count",
    "materialize.wall_s": "s",
    "materialize.triples_out": "count",
    "materialize.output_bytes": "bytes",
    "checkpoint.sidecar_s": "s",
    "checkpoint.files_written": "count",
    "checkpoint.resume_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "trace.pipeline_s": "s",
    "trace.overhead_s": "s",
}


def _group(run: int, part: str) -> str:
    return f"pb{run}.{part}"


class Tracer:
    """In-memory spans plus job-group tagging for one SparkSession."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._patches: list[tuple] = []
        self.run: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "run": self.run,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    @contextlib.contextmanager
    def job_group(self, group: str | None):
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    @contextlib.contextmanager
    def traced_run(self, run: int):
        """Spans and job groups for one pipeline call, tagged ``run``."""
        self.run = run
        try:
            with self.job_group(_group(run, "pipeline")), self.span("pipeline"):
                yield
        finally:
            self.run = None

    def _patch(self, owner, attr: str, factory) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(factory(orig)))
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the layer functions; a wrapper records only inside
        ``traced_run``, so untraced runs pay one attribute test."""
        import importlib

        from ahrd_spark.plans.checkpoint import CheckpointManager

        tracer = self

        def timed(name):
            def factory(orig):
                def wrapper(*a, **kw):
                    if tracer.run is None:
                        return orig(*a, **kw)
                    with tracer.span(name):
                        return orig(*a, **kw)
                return wrapper
            return factory

        def stage_factory(orig):
            def run_stage(self_, stage, *a, **kw):
                if tracer.run is None:
                    return orig(self_, stage, *a, **kw)
                with tracer.job_group(_group(tracer.run, stage)), \
                        tracer.span(f"stage.{stage}"):
                    return orig(self_, stage, *a, **kw)
            return run_stage

        self._patch(CheckpointManager, "run_stage", stage_factory)
        self._patch(CheckpointManager, "write", timed("checkpoint.write"))
        self._patch(CheckpointManager, "_partition_metrics",
                    timed("checkpoint.partition_listing"))
        for module, attr, name in WRAPPED:
            self._patch(importlib.import_module(module), attr, timed(name))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def stage_outputs(workdir: str) -> dict:
    """Per stage: (rows, bytes, files) from the run's lineage sidecars."""
    out = {}
    for stage in STAGES:
        p = os.path.join(workdir, stage, "_lineage.json")
        if not os.path.exists(p):
            out[stage] = (0, 0, 0)
            continue
        with open(p) as fh:
            lin = json.load(fh)
        parts = lin.get("partitions", [])
        out[stage] = (
            int(lin["total_rows"]),
            sum(int(x.get("bytes") or 0) for x in parts),
            len(parts),
        )
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
def _plan_metrics(node: dict, into: dict) -> None:
    """accumulator id -> (node name, metric name)."""
    for m in node.get("metrics", []):
        into[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for c in node.get("children", []):
        _plan_metrics(c, into)


def _python_input_rows(node: dict, into: set) -> None:
    """Accumulator ids of 'number of output rows' on the nearest operator
    under each MapInPandas: the rows Arrow ships to the Python workers."""
    if node.get("nodeName") == "MapInPandas":
        queue = list(node.get("children", []))
        while queue:
            c = queue.pop(0)
            rows = [m for m in c.get("metrics", [])
                    if m["name"] == "number of output rows"]
            if rows:
                into.add(rows[0]["accumulatorId"])
                break
            queue.extend(c.get("children", []))
    for c in node.get("children", []):
        _python_input_rows(c, into)


def _new_group() -> dict:
    return {
        "jobs": 0, "tasks": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
        "spill": 0, "stage_tasks": defaultdict(list), "acc": defaultdict(int),
    }


def read_event_log(log_dir: str) -> dict:
    """Per job group: jobs, tasks, task times and SQL metric sums."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    acc_info: dict[int, tuple] = {}
    py_rows: set = set()
    groups: dict = defaultdict(_new_group)
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    groups[g]["jobs"] += 1
                    for s in ev["Stage IDs"]:
                        stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if g is None or tm is None:
                    continue
                rec = groups[g]
                info = ev["Task Info"]
                rec["tasks"] += 1
                rec["cpu_ns"] += tm["Executor CPU Time"]
                rec["gc_ms"] += tm["JVM GC Time"]
                rec["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                rec["spill"] += tm["Disk Bytes Spilled"]
                rec["stage_tasks"][ev["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"]
                )
                for a in info.get("Accumulables", []):
                    update = a.get("Update")
                    if isinstance(update, int) or (
                        isinstance(update, str) and update.lstrip("-").isdigit()
                    ):
                        rec["acc"][a["ID"]] += int(update)
            elif "sparkPlanInfo" in ev:
                _plan_metrics(ev["sparkPlanInfo"], acc_info)
                _python_input_rows(ev["sparkPlanInfo"], py_rows)
    return {"groups": dict(groups), "acc_info": acc_info, "py_rows": py_rows}


def _sql_sum(log: dict, group: str, node: str, metric: str) -> int:
    rec = log["groups"].get(group)
    if rec is None:
        return 0
    return sum(
        v for acc, v in rec["acc"].items()
        if log["acc_info"].get(acc) == (node, metric)
    )


def _skew(rec: dict) -> float:
    """max / median task time in the group's busiest Spark stage."""
    if not rec["stage_tasks"]:
        return 0.0
    times = max(rec["stage_tasks"].values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------
def _span_s(spans: list[dict], run: int, name: str) -> float:
    return sum(
        s["end"] - s["start"] for s in spans if s["run"] == run and s["name"] == name
    )


def _sidecar_s(spans: list[dict], run: int) -> float:
    """Per checkpoint write: from the partition listing to the end of the
    write (listing + lineage JSON + re-read of the output), summed."""
    return sum(
        spans[s["parent"]]["end"] - s["start"]
        for s in spans
        if s["run"] == run and s["name"] == "checkpoint.partition_listing"
    )


def run_metrics(run: int, spans: list[dict], log: dict, outputs: dict,
                hit_spans: int, proteins_with_mentions: int) -> dict:
    """Every per-layer metric of one traced pipeline run except those the
    caller measures around the runs (session, inputs, resume, trace.*)."""
    groups = log["groups"]
    g = {st: groups.get(_group(run, st)) or _new_group() for st in STAGES}
    mine = [r for k, r in groups.items() if k.startswith(f"pb{run}.")]
    rows = {st: outputs[st][0] for st in STAGES}
    return {
        "mention_detect.wall_s": _span_s(spans, run, "stage.mention_detect"),
        "mention_detect.task_cpu_s": g["mention_detect"]["cpu_ns"] / 1e9,
        "mention_detect.gc_s": g["mention_detect"]["gc_ms"] / 1e3,
        "mention_detect.hit_spans_in": _sql_sum(
            log, _group(run, "mention_detect"), "Generate", "number of output rows"
        ),
        "mention_detect.mentions_out": rows["mention_detect"],
        "mention_detect.pass_ratio": rows["mention_detect"] / max(1, hit_spans),
        "mention_detect.output_bytes": outputs["mention_detect"][1],
        "mention_detect.task_skew": _skew(g["mention_detect"]),
        "link_score.wall_s": _span_s(spans, run, "stage.link_score"),
        "link_score.task_cpu_s": g["link_score"]["cpu_ns"] / 1e9,
        "link_score.python_s": _sql_sum(
            log, _group(run, "link_score"), "MapInPandas", "time to run Python workers"
        ) / 1e3,
        # the initial and the adaptive plan name different operators under
        # MapInPandas for the same rows, so take the largest, not the sum
        "link_score.arrow_rows_to_python": max(
            (v for acc, v in g["link_score"]["acc"].items() if acc in log["py_rows"]),
            default=0,
        ),
        "link_score.winners_out": rows["link_score"],
        "link_score.winner_ratio": rows["link_score"] / max(1, proteins_with_mentions),
        "link_score.shuffle_write_bytes": g["link_score"]["shuffle_write"],
        "link_score.spill_bytes": g["link_score"]["spill"],
        "link_score.task_skew": _skew(g["link_score"]),
        "canonicalize.wall_s": _span_s(spans, run, "stage.canonicalize"),
        "canonicalize.interpro_db_parse_s": _span_s(
            spans, run, "canonicalize.read_interpro_db"),
        "canonicalize.interpro_closure_s": _span_s(
            spans, run, "canonicalize.interpro_closure"),
        "canonicalize.cc_s": _span_s(spans, run, "canonicalize.canonical_map"),
        "canonicalize.jobs": g["canonicalize"]["jobs"],
        "canonicalize.shuffle_write_bytes": g["canonicalize"]["shuffle_write"],
        "canonicalize.entities_out": rows["canonicalize"],
        "materialize.wall_s": _span_s(spans, run, "stage.materialize"),
        "materialize.triples_out": rows["materialize"],
        "materialize.output_bytes": outputs["materialize"][1],
        "checkpoint.sidecar_s": _sidecar_s(spans, run),
        "checkpoint.files_written": sum(outputs[st][2] for st in STAGES),
        "spark.jobs": sum(r["jobs"] for r in mine),
        "spark.tasks": sum(r["tasks"] for r in mine),
        "spark.gc_s": sum(r["gc_ms"] for r in mine) / 1e3,
        "spark.shuffle_write_bytes": sum(r["shuffle_write"] for r in mine),
    }


def median_metrics(per_run: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in per_run) for k in per_run[0]}
