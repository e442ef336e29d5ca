"""Tracing for the traced run: in-memory spans and a Spark event-log parser.

Spans are recorded by the benchmark around its calls into each layer's
public functions (the program itself is not instrumented). Each span has
a name, start and end (epoch seconds), its parent span and the run id; they
stay in memory and are written as JSON lines when the run ends.

The event log must be written uncompressed and not rolled (Spark's
defaults are zstd and rolling), so ``event_log_conf`` pins both.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    """Span recorder. Disabled tracers hand out no-op spans."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, parent, name, start, end)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)  # reserve the id; filled on exit
        self._stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, parent, name, start, time.time())

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def total(self, name: str, parent_name: str | None = None) -> float:
        """Summed duration of the spans called ``name`` (optionally only
        those whose parent is called ``parent_name``)."""
        names = {s[0]: s[2] for s in self.spans}
        return sum(
            s[4] - s[3]
            for s in self.spans
            if s[2] == name
            and (parent_name is None or names.get(s[1]) == parent_name)
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, start, end in self.spans:
                f.write(
                    json.dumps(
                        {
                            "run": self.run_id,
                            "id": sid,
                            "parent": parent,
                            "name": name,
                            "start": start,
                            "end": end,
                        }
                    )
                    + "\n"
                )


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _plan_nodes(info: dict, out: list) -> list:
    out.append(info)
    for c in info.get("children", []):
        _plan_nodes(c, out)
    return out


def _execution_kind(plan: str, scans: list[str], out_root: str) -> str:
    if "MapInArrow" in plan:
        return "extract"
    if "_manifest" in plan:
        return "manifest"
    if "Aggregate" in plan and any(out_root in loc for loc in scans):
        return "lineage"
    return "other"


def job_metrics(
    log_dir: str,
    windows: list[tuple[float, float]],
    pages_dir: str,
    out_root: str,
    table_bytes: int,
    n_docs: int,
    slots: int,
) -> dict[str, tuple[float, str]]:
    """``job.*`` metrics from the single event log in ``log_dir``, over the
    Spark jobs submitted inside ``windows`` (epoch-second intervals, one per
    traced iteration); totals are reported per iteration.

    A stage that runs the MapInArrow is an extract map stage, and each
    execution that runs one is an extract pass (a round of the crawl job).
    Other executions are classified from their physical plan: the rest of
    an extract pass is the shuffle reduce/write, plans touching
    ``_manifest`` are manifest reads/appends, and aggregations over the
    job's output (under ``out_root``) are the lineage aggregation."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    ms_windows = [(a * 1000, b * 1000) for a, b in windows]

    def inside(t_ms: float) -> bool:
        return any(a <= t_ms <= b for a, b in ms_windows)

    exec_kind: dict[int, str] = {}
    exec_span: dict[int, list] = {}
    scan_acc: set[int] = set()  # "size of files read" of the pages scan
    files_read = 0
    stage_kind: dict[int, str] = {}
    stage_exec: dict[int, int] = {}  # extract map stage -> its execution
    extract_execs: set[int] = set()  # executions that ran an extract map
    tasks: dict[str, list] = {"extract.map": [], "shuffle.reduce": [], "all": []}
    gc_ms = shuffle_bytes = shuffle_records = spill = 0
    pages_loc = os.path.abspath(pages_dir)
    out_root = os.path.abspath(out_root)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                eid = e["executionId"]
                scans = [
                    n for n in _plan_nodes(e["sparkPlanInfo"], [])
                    if "Location" in n.get("metadata", {})
                ]
                if ev.endswith("SQLExecutionStart") and inside(e["time"]):
                    exec_kind[eid] = _execution_kind(
                        e["physicalPlanDescription"],
                        [n["metadata"]["Location"] for n in scans],
                        out_root,
                    )
                    exec_span[eid] = [e["time"], e["time"]]
                if eid not in exec_kind:
                    continue
                for node in scans:
                    if pages_loc in node["metadata"]["Location"]:
                        for m in node["metrics"]:
                            if m["name"] == "size of files read":
                                scan_acc.add(m["accumulatorId"])
            elif ev.endswith("SQLExecutionEnd"):
                if e["executionId"] in exec_span:
                    exec_span[e["executionId"]][1] = e["time"]
            elif ev.endswith("DriverAccumUpdates"):
                for aid, value in e["accumUpdates"]:
                    if aid in scan_acc:
                        files_read += value
            elif ev == "SparkListenerJobStart":
                if not inside(e["Submission Time"]):
                    continue
                eid = e["Properties"].get("spark.sql.execution.id")
                kind = exec_kind.get(int(eid), "other") if eid else "other"
                for si in e["Stage Infos"]:
                    scopes = {
                        json.loads(r["Scope"])["name"]
                        for r in si["RDD Info"]
                        if r.get("Scope")
                    }
                    if "MapInArrow" in scopes:
                        # a lazily checkpointed extraction runs under a plan
                        # that no longer names it, so stages decide this
                        stage_kind[si["Stage ID"]] = "extract.map"
                        if eid:
                            stage_exec[si["Stage ID"]] = int(eid)
                    elif kind == "extract":
                        stage_kind[si["Stage ID"]] = "shuffle.reduce"
                    else:
                        stage_kind[si["Stage ID"]] = kind
            elif ev == "SparkListenerTaskEnd":
                kind = stage_kind.get(e["Stage ID"])
                if kind is None or "Task Metrics" not in e:
                    continue
                m = e["Task Metrics"]
                # the task's wall time: on Spark 4.1 with spark.task.cpus=2,
                # "Executor Run Time" reads about twice this for every task
                info = e["Task Info"]
                run_s = (info["Finish Time"] - info["Launch Time"]) / 1000
                tasks["all"].append(run_s)
                if kind == "shuffle.reduce":
                    tasks["shuffle.reduce"].append(run_s)
                spill += m["Disk Bytes Spilled"]
                if kind == "extract.map":
                    # an execution whose extract stage is skipped (its
                    # output is already checkpointed) is no extract pass
                    if e["Stage ID"] in stage_exec:
                        extract_execs.add(stage_exec[e["Stage ID"]])
                    tasks["extract.map"].append(run_s)
                    gc_ms += m["JVM GC Time"]
                    shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    shuffle_records += m["Shuffle Write Metrics"]["Shuffle Records Written"]

    iters = len(windows)
    wall = sum(b - a for a, b in windows)
    # a round runs from its extract pass to the next one (or the end of its
    # iteration): extract, reduce/write, lineage aggregation, manifest append
    rounds = []
    for a, b in ms_windows:
        starts = sorted(
            exec_span[eid][0]
            for eid in extract_execs
            if eid in exec_span and a <= exec_span[eid][0] <= b
        )
        rounds += [(nxt - s) / 1000 for s, nxt in zip(starts, starts[1:] + [b])]
    mtasks = tasks["extract.map"]

    def kind_wall(kind: str) -> float:
        return sum(
            (t1 - t0) / 1000
            for eid, (t0, t1) in exec_span.items()
            if exec_kind[eid] == kind
        ) / iters

    return {
        "job.extract.tasks": (len(mtasks) / iters, "count"),
        "job.extract.run_s": (sum(mtasks) / iters, "s"),
        "job.extract.task_p50_s": (statistics.median(mtasks) if mtasks else 0.0, "s"),
        "job.extract.task_max_s": (max(mtasks, default=0.0), "s"),
        "job.extract.gc_s": (gc_ms / 1000 / iters, "s"),
        "job.shuffle.write_bytes_per_doc": (shuffle_bytes / iters / n_docs, "B"),
        "job.shuffle.records": (shuffle_records / iters, "count"),
        "job.shuffle.reduce_s": (sum(tasks["shuffle.reduce"]) / iters, "s"),
        "job.shuffle.spill_bytes": (spill / iters, "B"),
        "job.rounds": (len(rounds) / iters, "count"),
        "job.round_p50_s": (statistics.median(rounds) if rounds else 0.0, "s"),
        "job.scan_amplification": (files_read / iters / table_bytes, "ratio"),
        "job.lineage_s": (kind_wall("lineage"), "s"),
        "job.manifest_s": (kind_wall("manifest"), "s"),
        "job.idle_slot_frac": (1 - sum(tasks["all"]) / (wall * slots), "ratio"),
    }
