"""In-memory spans, Spark status-store readings and the per-layer figures
computed from them.

A span is (id, item execution id, name, start, end, parent). The benchmark
opens spans around its own calls into the package (``Query.fn``,
``parse_config``, ``Pipeline.run``, ``PipelineStage.execute`` and the
action on the returned frame); after each item it reads the item's Spark
jobs from the status store and adds them as child spans of the span that
was open when each job was submitted. Nothing is written until the run
ends.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager


def _opt_s(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class SparkReader:
    """Per-job and per-stage figures from the application status store.

    ``spark.ui.enabled=false`` does not disable the store; the listener
    that feeds it runs asynchronously, so every read, job ids of a group
    included, first drains the listener bus: a job whose start event is
    still queued would otherwise be missed or given to a later span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self.sc.statusTracker()

    def job_ids(self, group: str) -> list[int]:
        self.drain()
        return sorted(self._tracker.getJobIdsForGroup(group))

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, job_ids: list[int]) -> list[dict]:
        self.drain()
        out = []
        for jid in job_ids:
            job = self._store.job(jid)
            stages = []
            for sid in _seq(job.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # stage never submitted (skipped, reused)
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                stages.append(
                    {
                        "id": sid,
                        "tasks": st.numTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "input_bytes": st.inputBytes(),
                        "input_rows": st.inputRecords(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    }
                )
            out.append(
                {
                    "id": jid,
                    "start": _opt_s(job.submissionTime()),
                    "end": _opt_s(job.completionTime()),
                    "stages": stages,
                }
            )
        return out


class Tracer:
    """Spans of one run, kept in memory."""

    def __init__(self, reader: SparkReader):
        self.reader = reader
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._group = None

    @contextmanager
    def span(self, name: str, item_id: str):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "item": item_id, "name": name,
             "start": time.time(), "end": None, "parent": parent,
             "jobs_before": self.reader.job_ids(self._group)}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            before = set(s.pop("jobs_before"))
            s["job_ids"] = [j for j in self.reader.job_ids(self._group) if j not in before]
            self._stack.pop()

    def item(self, item_id: str, group: str):
        self._group = group
        return self.span("item", item_id)

    def attach_jobs(self, item_span: dict) -> list[dict]:
        """Add the item's Spark jobs as child spans of the innermost span
        that saw them start; return the job records."""
        jobs = self.reader.jobs(item_span["job_ids"])
        mine = [s for s in self.spans if s["item"] == item_span["item"]]
        for job in jobs:
            owner = max((s for s in mine if job["id"] in s["job_ids"]),
                        key=lambda s: s["id"])
            self.spans.append({"id": len(self.spans), "item": item_span["item"],
                               "name": "spark.job", "start": job["start"],
                               "end": job["end"], "parent": owner["id"],
                               "job_ids": [job["id"]]})
        return jobs


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the part its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s["start"] is None or s["end"] is None:
            continue
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], []) if c["start"] is not None and c["end"] is not None]
        own = (s["end"] - s["start"]) - union_s([k for k in kids if k[1] > k[0]])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def item_figures(tracer, span) -> dict:
    """Spark and layer figures of one traced item execution."""
    jobs = tracer.attach_jobs(span)
    stages = [s for j in jobs for s in j["stages"]]
    mine = [s for s in tracer.spans if s["item"] == span["item"]]
    build = next(s for s in mine if s["name"] in ("queries.build", "pipeline.run"))
    build_jobs = len(build["job_ids"]) + sum(
        len(s["job_ids"]) for s in mine if s["name"] == "config.parse")
    action = next(s for s in mine if s["name"] in ("queries.exec", "pipeline.result"))
    busy = union_s([(j["start"], j["end"]) for j in jobs])
    wall = span["end"] - span["start"]
    scans = [s["tasks"] for s in stages if s["input_bytes"] or s["input_rows"]]
    by_stage_type: dict[str, list[float]] = {}
    for s in mine:
        if s["name"].startswith("stages."):
            acc = by_stage_type.setdefault(s["name"], [0.0, 0])
            acc[0] += s["end"] - s["start"]
            acc[1] += len(s["job_ids"])
    return {
        "wall_s": wall,
        "build_s": (build["end"] - build["start"]) + sum(
            s["end"] - s["start"] for s in mine if s["name"] == "config.parse"),
        "build_jobs": build_jobs,
        "action_s": action["end"] - action["start"],
        "self_s": wall - busy,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "busy_s": busy,
        "run_s": sum(s["run_s"] for s in stages),
        "task_cpu_s": sum(s["cpu_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 2**20,
        "spill_mb": sum(s["spill_bytes"] for s in stages) / 2**20,
        "scan_tasks_max": max(scans, default=0),
        "input_rows": sum(s["input_rows"] for s in stages),
        "input_mb": sum(s["input_bytes"] for s in stages) / 2**20,
        "stage_types": by_stage_type,
    }


#: per-layer metric -> (per-item figure, unit)
LAYER = {
    "item.build_s": ("build_s", "s"),
    "item.build_jobs": ("build_jobs", "count"),
    "item.action_s": ("action_s", "s"),
    "item.self_s": ("self_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.busy_s": ("busy_s", "s"),
    "spark.run_s": ("run_s", "s"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "sources.input_rows": ("input_rows", "count"),
    "sources.input_mb": ("input_mb", "MB"),
}


def layer_metrics(tracer, traced, passes, cpus) -> dict:
    """Per traced pass: the sum over items of each item's median figure."""
    def per_pass(key):
        return sum(statistics.median(f[key] for f in fs) for fs in traced.values())

    out = {k: {"value": per_pass(key), "unit": u} for k, (key, u) in LAYER.items()}
    out["spark.cpu_util"] = {
        "value": per_pass("task_cpu_s") / (per_pass("busy_s") * cpus), "unit": "ratio"}
    out["sources.scan_tasks_max"] = {
        "value": max(f["scan_tasks_max"] for fs in traced.values() for f in fs), "unit": "count"}

    for item, fs in sorted(traced.items()):
        jobs = sorted({f["jobs"] for f in fs})
        row = " ".join(f"{k}={statistics.median(f[k] for f in fs):.4g}"
                       for k in ("wall_s", "build_s", "build_jobs", "action_s", "self_s", "jobs",
                                 "busy_s", "task_cpu_s", "gc_s", "scan_tasks_max", "spill_mb"))
        print(f"item {item} n={len(fs)} {row}" + (f" jobs_vary={jobs}" if len(jobs) > 1 else ""))
        types: dict[str, list] = {}
        for f in fs:
            for t, (s, j) in f["stage_types"].items():
                types.setdefault(t, []).append((s, j))
        for t, vals in sorted(types.items()):
            print(f"  {t}.s={statistics.median(v[0] for v in vals):.4g} "
                  f"{t}.jobs={statistics.median(v[1] for v in vals):g}")
    for name, s in sorted(self_times(tracer.spans).items()):
        print(f"layer {name} self_s per pass = {s / passes:.4f}")
    return out
