"""Per-query ledger and per-layer metrics of one traced pass.

Every Spark job of the pass is attributed to the query whose job tag it
carries (tags are inherited by the threads a query starts, including
availableNow stream threads, which set a job group of their own). Within
a query a job belongs to the innermost traced span open when it was
submitted, with pyspark DataFrame-method spans folded into their caller.
"""

from __future__ import annotations

import collections
import json
import os

from perfbench.sparkstats import SparkStats
from perfbench.trace import Span, ancestors, innermost, self_times, union_length

MATERIALIZE_FNS = ("spill_to_parquet", "checkpoint_small", "checkpoint_sublinear")
KERNEL_LAYERS = ("dedup", "similarity", "functions", "acmatch")

#: Every reported per-layer metric and its unit, in report order. Layer
#: figures that read 0 on every workload are computed but not reported:
#: checkpoint_small/_sublinear (no workload query calls them), the jobs
#: and self time of functions and acmatch and the jobs of dedup (their
#: kernels run inside Spark tasks, not in driver-side calls), and
#: spark.jvm_gc_s and spark.disk_spill_mb (0 at this fixture size).
PER_LAYER: dict[str, str] = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    "materialize.spill_to_parquet.calls": "count",
    "materialize.spill_to_parquet.s": "s",
    "materialize.raw_checkpoint.calls": "count",
    "materialize.persist.calls": "count",
    "materialize.jobs": "count",
    "materialize.self_s": "s",
    "ops.calls": "count",
    "ops.self_s": "s",
    "ops.jobs": "count",
    "dedup.self_s": "s",
    "similarity.self_s": "s",
    "similarity.jobs": "count",
    "sources.read_s": "s",
    "sources.write_s": "s",
    "streaming.self_s": "s",
    "datasource.self_s": "s",
    "pipeline.self_s": "s",
    "spark.jobs": "count",
    "spark.unattributed_jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.output_mb": "MB",
    "spark.slot_busy_frac": "fraction",
    "spark.driver_gap_s": "s",
    "sql.python_sent_mb": "MB",
    "sql.python_returned_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}

STAGE_SUMS = {
    "spark.tasks": "tasks",
    "spark.tasks_failed": "failed_tasks",
    "spark.executor_run_s": "run_s",
    "spark.executor_cpu_s": "cpu_s",
    "spark.jvm_gc_s": "gc_s",
    "spark.shuffle_read_mb": "shuffle_read_mb",
    "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.disk_spill_mb": "spill_mb",
    "spark.output_mb": "output_mb",
}


def job_layer(spans: list[Span], span: Span | None) -> str:
    """The traced layer a job submitted inside ``span`` belongs to."""
    for s in ancestors(spans, span):
        if s.layer not in ("pyspark", "queries"):
            return s.layer
    return "queries"


def job_phase(spans: list[Span], span: Span | None) -> str | None:
    """``build`` or ``action``: the query-level span enclosing ``span``."""
    for s in ancestors(spans, span):
        if s.layer == "queries":
            return s.name.split(".", 1)[1]
    return None


class Ledger:
    """Collects Spark numbers per query of a traced pass."""

    def __init__(self, spark, tracer, cores: int) -> None:
        self.stats = SparkStats(spark)
        self.tracer = tracer
        self.cores = cores
        self.rows: list[dict] = []
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.python_mb = [0.0, 0.0]
        self.stats.drain()
        self.next_job = self.stats.next_job_id()
        self.next_exec = self.stats.next_execution_id()

    def record(self, name: str, build_s: float, action_s: float) -> None:
        self.stats.drain()
        jobs = self.stats.jobs_from(self.next_job)
        self.next_job += len(jobs)
        sent, returned, self.next_exec = self.stats.python_mb_from(self.next_exec)
        self.python_mb[0] += sent
        self.python_mb[1] += returned
        ran = set()
        for job in jobs:
            job["query"] = name
            job["attributed"] = f"q:{name}" in job["tags"]
            for sid in job["stages"]:
                if sid not in self.stages:
                    self.stages[sid] = self.stats.stage(sid)
                if self.stages[sid] is not None:
                    ran.add(sid)
        self.jobs.extend(jobs)
        self.rows.append(
            {
                "query": name,
                "build_s": build_s,
                "action_s": action_s,
                "jobs": len(jobs),
                "stages": len(ran),
                "tasks": sum(self.stages[s]["tasks"] for s in ran),
            }
        )

    def metrics(self, wall_s: float, untraced_wall_s: float) -> dict[str, tuple[float, str]]:
        """Per-layer metrics of the traced pass; ``untraced_wall_s`` is the
        same pass's wall time without tracing."""
        spans = self.tracer.spans
        selfs = self_times(spans, skip=lambda s: s.layer == "pyspark")
        m: dict[str, float] = collections.defaultdict(float)
        m["queries.build_s"] = sum(r["build_s"] for r in self.rows)
        m["queries.action_s"] = sum(r["action_s"] for r in self.rows)
        for span, self_s in zip(spans, selfs):
            layer, fn = span.layer, span.name.split(".", 1)[1]
            dur = span.end - span.start
            if layer == "materialize":
                m["materialize.self_s"] += self_s
                if fn in MATERIALIZE_FNS:
                    m[f"materialize.{fn}.calls"] += 1
                    m[f"materialize.{fn}.s"] += dur
            elif layer == "ops":
                m["ops.calls"] += 1
                m["ops.self_s"] += self_s
            elif layer in KERNEL_LAYERS or layer in ("streaming", "datasource", "pipeline"):
                m[f"{layer}.self_s"] += self_s
            elif layer == "sources":
                outer = [s for s in ancestors(spans, span) if s.layer == "sources"]
                if len(outer) == 1 and fn.startswith("read"):
                    m["sources.read_s"] += dur
                elif len(outer) == 1 and (fn.startswith("write") or fn == "sink"):
                    m["sources.write_s"] += dur
            elif layer == "pyspark" and fn in ("cache", "persist"):
                m["materialize.persist.calls"] += 1
        m["materialize.raw_checkpoint.calls"] = self.tracer.raw_checkpoints
        busy = 0.0
        for job in self.jobs:
            m["spark.jobs"] += 1
            m["spark.stages_skipped"] += job["skipped_stages"]
            if not job["attributed"]:
                m["spark.unattributed_jobs"] += 1
            if job["submitted"] is None:
                continue
            span = innermost(spans, job["query"], job["submitted"])
            layer = job_layer(spans, span)
            if layer == "materialize" or layer == "ops" or layer in KERNEL_LAYERS:
                m[f"{layer}.jobs"] += 1
            phase = job_phase(spans, span)
            if phase:
                m[f"queries.{phase}_jobs"] += 1
        for row in self.rows:
            window = [s for s in spans if s.query == row["query"] and s.layer == "queries"]
            lo, hi = min(s.start for s in window), max(s.end for s in window)
            busy += union_length(
                [
                    (max(lo, j["submitted"]), min(hi, j["completed"] or hi))
                    for j in self.jobs
                    if j["query"] == row["query"] and j["submitted"] is not None and j["submitted"] < hi
                ]
            )
        ran = [s for s in self.stages.values() if s is not None]
        m["spark.stages"] = len(ran)
        for metric, key in STAGE_SUMS.items():
            m[metric] = sum(s[key] for s in ran)
        m["spark.slot_busy_frac"] = m["spark.executor_run_s"] / (wall_s * self.cores)
        m["spark.driver_gap_s"] = wall_s - busy
        m["sql.python_sent_mb"], m["sql.python_returned_mb"] = self.python_mb
        m["trace.wall_s"] = wall_s
        m["trace.overhead_s"] = wall_s - untraced_wall_s
        m["trace.spans"] = len(spans)
        return {k: (m[k], unit) for k, unit in PER_LAYER.items()}

    def table(self) -> str:
        """The per-query ledger: build, action, jobs, stages, tasks."""
        lines = [
            "| query | build | action | jobs | stages | tasks |",
            "|---|---|---|---|---|---|",
        ]
        for r in self.rows:
            lines.append(
                f"| `{r['query']}` | {r['build_s']:.2f} s | {r['action_s']:.2f} s "
                f"| {r['jobs']} | {r['stages']} | {r['tasks']} |"
            )
        return "\n".join(lines)

    def write(self, path: str) -> None:
        """Spans, per-query rows and jobs as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        spans = [vars(s) for s in self.tracer.spans]
        jobs = [{**j, "tags": sorted(j["tags"])} for j in self.jobs]
        with open(path, "w") as f:
            json.dump({"queries": self.rows, "jobs": jobs, "spans": spans}, f)
