"""Spans around the benchmark's calls into each layer, plus the Spark
jobs and stages each span ran.

A span is (id, name, parent, run id, start, end). With tracing on, each
span runs under its own Spark job group; after a repeat finishes (outside
its timed section) :meth:`Tracer.attach_spark_metrics` reads the jobs of
every group and their stages from Spark's in-process status store -- the
same records the REST API serves -- so no UI port is opened. With
tracing off, spans only take two clock readings; with it on, the time
spent setting job groups inside the timed section is the tracing
overhead. Spans stay in memory; the caller writes them out once at the
end.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float = 0.0
    wall_s: float = 0.0
    info: dict = field(default_factory=dict)
    jobs: list[dict] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.id}/{self.name}"


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.overhead_s = 0.0  # time spent setting job groups

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        sp = Span(len(self.spans), name, parent and parent.id, self.run_id, time.time())
        self.spans.append(sp)
        self._open.append(sp)
        self._set_group(sp)
        t0 = time.monotonic()
        try:
            yield sp
        finally:
            sp.wall_s = time.monotonic() - t0
            sp.end = time.time()
            self._open.pop()
            self._set_group(parent)

    def _set_group(self, sp: Span | None) -> None:
        if not self.enabled:
            return
        t0 = time.monotonic()
        self.sc.setLocalProperty("spark.jobGroup.id", sp and sp.group)
        self.sc.setLocalProperty("spark.job.description", sp and sp.group)
        self.overhead_s += time.monotonic() - t0

    def attach_spark_metrics(self) -> None:
        """Fill ``span.jobs`` of every span from the status store: per job
        its submit/complete times and per-stage task metrics."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        by_group = {sp.group: sp for sp in self.spans}
        for job in json.loads(mapper.writeValueAsString(store.jobsList(None))):
            sp = by_group.get(job.get("jobGroup"))
            if sp is None:
                continue
            stages = []
            for sid in job["stageIds"]:
                s = json.loads(mapper.writeValueAsString(store.lastStageAttempt(sid)))
                if s["status"] == "SKIPPED":
                    continue
                stages.append({
                    "run_s": s["executorRunTime"] / 1000,
                    "gc_s": s["jvmGcTime"] / 1000,
                    "shuffle_write_b": s["shuffleWriteBytes"],
                    "shuffle_read_b": s["shuffleReadBytes"],
                    "spill_b": s["diskBytesSpilled"],
                })
            sp.jobs.append({
                "submit": job["submissionTime"] / 1000,
                "complete": (job.get("completionTime") or job["submissionTime"]) / 1000,
                "stages": stages,
            })


# ------------------------------------------------------------ derivations

def _stage_sum(jobs: list[dict], key: str) -> float:
    return sum(s[key] for j in jobs for s in j["stages"])


def driver_gap_s(sp: Span) -> float:
    """Span wall minus the union of its jobs' submit->complete intervals."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for j in sorted(sp.jobs, key=lambda j: j["submit"]):
        lo, hi = max(j["submit"], sp.start), min(j["complete"], sp.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, sp.wall_s - covered)


def layer_totals(spans: list[Span], cores: int) -> dict:
    """Wall, jobs and stage sums of all spans of one layer."""
    jobs = [j for sp in spans for j in sp.jobs]
    wall = sum(sp.wall_s for sp in spans)
    run_s = _stage_sum(jobs, "run_s")
    return {
        "wall_s": wall,
        "jobs": len(jobs),
        "busy_frac": run_s / (wall * cores) if wall else 0.0,
        "driver_gap_s": sum(driver_gap_s(sp) for sp in spans),
        "shuffle_write_mb": _stage_sum(jobs, "shuffle_write_b") / 1e6,
        "spill_mb": _stage_sum(jobs, "spill_b") / 1e6,
        "gc_s": _stage_sum(jobs, "gc_s"),
    }


def edges_per_s(spans: list[Span], n_edges: int) -> float:
    """Input edges x iterations / sum of the engine's iteration walls, the
    first iteration of every ``run`` call excluded (it pays that call's
    warm-up). Reads only the spans' ``info``, so it needs no tracing."""
    walls = [w for sp in spans if sp.name == "engine" for w in sp.info.get("iter_walls", [])[1:]]
    return n_edges * len(walls) / sum(walls) if sum(walls) > 0 else 0.0


def engine_metrics(spans: list[Span], cores: int) -> dict:
    """Per-layer numbers of ``ScatterGatherEngine.run`` calls. Each span's
    ``info`` holds the walls and message counts of the iterations that call
    ran; its iterations are the tail of the call, so jobs submitted after
    (end - sum of iteration walls) are iteration jobs."""
    tot = layer_totals(spans, cores)
    walls = [w for sp in spans for w in sp.info["iter_walls"]]
    msgs = [m for sp in spans for m in sp.info["messages"]]
    iters = len(walls)
    it_jobs = [
        j for sp in spans for j in sp.jobs
        if j["submit"] >= sp.end - sum(sp.info["iter_walls"])
    ]
    per = max(iters, 1)
    return {
        "engine.setup_s": tot["wall_s"] - sum(walls),
        "engine.iters": iters,
        "engine.iter_s_p50": statistics.median(walls) if walls else 0.0,
        "engine.jobs_per_iter": len(it_jobs) / per,
        "engine.stages_per_iter": sum(len(j["stages"]) for j in it_jobs) / per,
        "engine.shuffle_write_mb_per_iter": _stage_sum(it_jobs, "shuffle_write_b") / 1e6 / per,
        "engine.shuffle_read_mb_per_iter": _stage_sum(it_jobs, "shuffle_read_b") / 1e6 / per,
        "engine.spill_mb": tot["spill_mb"],
        "engine.gc_s": tot["gc_s"],
        "engine.busy_frac": tot["busy_frac"],
        "engine.driver_gap_s": tot["driver_gap_s"],
        "engine.messages_per_iter": sum(msgs) / per,
    }
