"""Traced runs: spans around each layer call, Spark counters per op, and
the per-layer reduction.

Spans are recorded from the benchmark's side of each layer boundary:
``pass`` → ``op`` → ``build`` (the layer call) and ``exec`` (materialising
its result), plus one ``job`` span per Spark job, read back from the
JVM status store. Every op runs under its own Spark job group, so jobs
(including eager ones launched inside the layer call) and their stages
are attributed to exactly one op. Counters are read once, after the
timed window, so reading them adds nothing to the traced ops.
"""

from __future__ import annotations

import json
import os
import statistics

from ops import LAYERS

LAYER_METRICS = (
    ("build_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("task_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("core_util", "fraction", "higher"),
    ("failed_tasks", "count", "lower"),
)
PROCESS_METRICS = (
    ("spark.gc_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.input_rows", "count", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def metric_names() -> list[tuple[str, str, str]]:
    out = [(f"{layer}.{m}", unit, better)
           for layer in LAYERS for m, unit, better in LAYER_METRICS]
    return out + list(PROCESS_METRICS)


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.ops: list[dict] = []

    def span(self, name, start, end, parent=None, op_id=None, **extra) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "op_id": op_id,
                           "run_id": self.run_id, **extra})
        return len(self.spans) - 1

    def group(self, op_id: int) -> str:
        return f"perfbench-{self.run_id}-{op_id}"

    def harvest(self, sc) -> None:
        """Attach job spans and stage counters to every traced op."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for op in self.ops:
            op.update(jobs=0, task_s=0.0, shuffle_bytes=0, gc_s=0.0,
                      input_rows=0, failed_tasks=0)
            seen = set()
            jids = [j for g in op["groups"] for j in tracker.getJobIdsForGroup(g)]
            for jid in jids:
                job = store.job(jid)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    self.span("job", sub.get().getTime() / 1000.0,
                              done.get().getTime() / 1000.0, parent=op["span"],
                              op_id=op["op_id"], job_id=jid)
                op["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (list(info.stageIds) if info else []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = store.lastStageAttempt(sid)
                    op["task_s"] += st.executorRunTime() / 1000.0
                    op["shuffle_bytes"] += st.shuffleWriteBytes()
                    op["gc_s"] += st.jvmGcTime() / 1000.0
                    op["input_rows"] += st.inputRecords()
                    op["failed_tasks"] += st.numFailedTasks() + st.attemptId()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def _covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def reduce(tracer: Tracer, n_passes: int, overhead_s: float, cores: int) -> dict:
    """The per-layer metrics, per traced pass.

    ``build_s`` is the self time of the layer call: its span minus the
    part covered by Spark jobs it launched eagerly. Those jobs' time is
    added to ``exec_s``, so build_s + exec_s is the op's latency.
    """
    jobs_of: dict[int, list] = {}
    for s in tracer.spans:
        if s["name"] == "job":
            jobs_of.setdefault(s["op_id"], []).append((s["start"], s["end"]))
    acc = {layer: dict.fromkeys(("build_s", "exec_s", "jobs", "task_s",
                                 "shuffle_bytes", "failed_tasks"), 0.0)
           for layer in LAYERS}
    gc = jobs = rows = 0.0
    for op in tracer.ops:
        a = acc[op["layer"]]
        b0, b1, e1 = op["build_start"], op["build_end"], op["exec_end"]
        eager = _covered(b0, b1, jobs_of.get(op["op_id"], []))
        a["build_s"] += (b1 - b0) - eager
        a["exec_s"] += (e1 - b1) + eager
        for k in ("jobs", "task_s", "shuffle_bytes", "failed_tasks"):
            a[k] += op[k]
        gc += op["gc_s"]
        jobs += op["jobs"]
        rows += op["input_rows"]
    n = max(1, n_passes)
    values = {}
    for layer, a in acc.items():
        exec_s, task_s = a["exec_s"] / n, a["task_s"] / n
        values.update({
            f"{layer}.build_s": a["build_s"] / n,
            f"{layer}.exec_s": exec_s,
            f"{layer}.jobs": a["jobs"] / n,
            f"{layer}.task_s": task_s,
            f"{layer}.shuffle_mb": a["shuffle_bytes"] / n / 1e6,
            f"{layer}.core_util": task_s / (exec_s * cores) if exec_s > 0 else 0.0,
            f"{layer}.failed_tasks": a["failed_tasks"] / n,
        })
    values.update({"spark.gc_s": gc / n, "spark.jobs": jobs / n,
                   "spark.input_rows": rows / n, "trace.overhead_s": overhead_s})
    return {name: {"value": values[name], "unit": unit}
            for name, unit, _ in metric_names()}


def overhead(traced: list[float], untraced: list[float]) -> float:
    """Median traced pass time minus median untraced pass time."""
    return statistics.median(traced) - statistics.median(untraced)

