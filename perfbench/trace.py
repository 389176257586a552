"""Spans around calls into each layer, their Spark engine counts, and the
process-tree memory sampler.

A span records name, start, end, parent and run id in memory; in a traced
run it also tags every Spark job started inside it with its own job group,
so the uncompressed event log attributes jobs, stages and tasks to spans
exactly.  Spans and plans are written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager

MB = float(1 << 20)
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
WRITE_CALL = "org.apache.spark.sql.DataFrameWriter.parquet("


class Tracer:
    """In-memory spans; with ``enabled=False`` spans are plain timers and no
    job group, plan or event log is touched."""

    def __init__(self, sc, run_id: str, enabled: bool, normalize: list[str]):
        self.sc = sc
        self.run_id = run_id
        self.normalize = normalize
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{len(self.spans)}/{name}",
            "start": time.time(), "end": None, "plans": [],
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.enabled:
            self.sc.setJobGroup(sp["group"], name)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            # a job may stop the SparkContext it ran in (dedup_job does)
            if self.enabled and self.sc._jsc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def plan(self, sp: dict, df) -> None:
        """Keep the formatted physical plan of `df` on span `sp`, with
        expression ids and run-specific paths masked so two runs diff
        cleanly."""
        if not self.enabled:
            return
        text = df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        for path in self.normalize:
            text = text.replace(path, "<work>")
        text = re.sub(r"#\d+", "#", text)
        text = re.sub(r"plan_id=\d+", "plan_id=", text)
        sp["plans"].append(text)

    def write(self, out_dir: str) -> None:
        os.makedirs(os.path.join(out_dir, "plans"), exist_ok=True)
        with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
            for sp in self.spans:
                row = {k: v for k, v in sp.items() if k != "plans"}
                f.write(json.dumps(row) + "\n")
        for sp in self.spans:
            for k, text in enumerate(sp["plans"]):
                fn = f"{sp['id']:02d}-{sp['name']}-{k}.txt"
                with open(os.path.join(out_dir, "plans", fn), "w") as f:
                    f.write(text)


def _read_events(log_dir: str):
    """(application, event) pairs; ids restart with every SparkContext."""
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        paths = sorted(glob.glob(os.path.join(app, "events_*"))) if os.path.isdir(app) else [app]
        for path in paths:
            with open(path) as f:
                for line in f:
                    yield app, json.loads(line)


def rollup(log_dir: str, spans: list[dict]) -> dict[int, dict]:
    """Engine counts per span id from the event log under `log_dir`.

    Inclusive of child spans.  For each span the result holds jobs,
    stages, tasks, shuffle and spill bytes, task durations, executor run
    time, Python transfer bytes and, for spans that wrapped a checkpoint
    stage, the jobs that ran after the stage's data write."""
    group_span = {sp["group"]: sp["id"] for sp in spans}
    jobs: dict[tuple, dict] = {}
    stage_span: dict[tuple, int | None] = {}
    stage_exec: dict[tuple, tuple | None] = {}
    write_execs: set[tuple] = set()
    tasks: list[tuple[tuple, dict]] = []
    for app, e in _read_events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            sid = group_span.get(p.get("spark.jobGroup.id"))
            x = p.get("spark.sql.execution.id")
            jobs[(app, e["Job ID"])] = {
                "span": sid, "start": e["Submission Time"], "end": None,
                "exec": (app, int(x)) if x is not None else None,
            }
        elif kind == "SparkListenerJobEnd":
            if (app, e["Job ID"]) in jobs:
                jobs[(app, e["Job ID"])]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            p = e.get("Properties") or {}
            st = (app, e["Stage Info"]["Stage ID"])
            stage_span[st] = group_span.get(p.get("spark.jobGroup.id"))
            x = p.get("spark.sql.execution.id")
            stage_exec[st] = (app, int(x)) if x is not None else None
        elif kind == "SparkListenerTaskEnd":
            tasks.append(((app, e["Stage ID"]), e))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            if (e.get("details") or "").startswith(WRITE_CALL):
                write_execs.add((app, e["executionId"]))

    own = {sp["id"]: {
        "jobs": 0, "stages": 0, "tasks": 0, "shuffle_write": 0, "spill": 0,
        "durations": [], "run_ms": 0, "python_bytes": 0,
        "records_written": {}, "job_list": [],
    } for sp in spans}
    for jid, j in sorted(jobs.items()):
        if j["span"] is not None:
            own[j["span"]]["jobs"] += 1
            own[j["span"]]["job_list"].append((jid, j))
    for st, sid in stage_span.items():
        if sid is not None:
            own[sid]["stages"] += 1
    for st, e in tasks:
        sid = stage_span.get(st)
        if sid is None:
            continue
        o = own[sid]
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        o["tasks"] += 1
        o["durations"].append(info["Finish Time"] - info["Launch Time"])
        o["run_ms"] += m.get("Executor Run Time", 0)
        o["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        o["spill"] += m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables") or []:
            if acc.get("Name") in PY_BYTES:
                o["python_bytes"] += int(acc.get("Update") or 0)
        x = stage_exec.get(st)
        written = (m.get("Output Metrics") or {}).get("Records Written", 0)
        if x is not None and written:
            o["records_written"][x] = o["records_written"].get(x, 0) + written

    children: dict[int, list[int]] = {sp["id"]: [] for sp in spans}
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append(sp["id"])

    def inclusive(sid: int) -> dict:
        acc = dict(own[sid])
        acc["durations"] = list(acc["durations"])
        for c in children[sid]:
            sub = inclusive(c)
            for k in ("jobs", "stages", "tasks", "shuffle_write", "spill",
                      "run_ms", "python_bytes"):
                acc[k] += sub[k]
            acc["durations"] += sub["durations"]
        return acc

    out = {}
    for sp in spans:
        acc = inclusive(sp["id"])
        d = sorted(acc["durations"])
        wall = sp["end"] - sp["start"]
        med = statistics.median(d) if d else 0
        out[sp["id"]] = {
            "wall_s": wall,
            "spark_jobs": acc["jobs"],
            "stages": acc["stages"],
            "tasks": acc["tasks"],
            "shuffle_write_mb": acc["shuffle_write"] / MB,
            "spill_mb": acc["spill"] / MB,
            "task_skew": (d[-1] / max(med, 1)) if d else 0.0,
            "run_ms": acc["run_ms"],
            "python_mb": acc["python_bytes"] / MB,
        }
        # checkpoint tail: the stage's data write is the second-to-last
        # parquet write in the span (the last one appends lineage); every
        # job after it is read-back / partition metrics / lineage work
        writes = sorted({j["exec"] for _, j in own[sp["id"]]["job_list"]
                         if j["exec"] in write_execs})
        if len(writes) >= 2:
            data_exec = writes[-2]
            data_jobs = [jid for jid, j in own[sp["id"]]["job_list"]
                         if j["exec"] == data_exec]
            last = max(data_jobs)
            tail_start = jobs[last]["end"] / 1000.0
            out[sp["id"]].update(
                extra_jobs=sum(1 for jid, _ in own[sp["id"]]["job_list"] if jid > last),
                extra_s=max(0.0, sp["end"] - tail_start),
                rows_out=own[sp["id"]]["records_written"].get(data_exec, 0),
            )
    return out


def self_seconds(spans: list[dict], sid: int) -> float:
    """Span duration minus its children's (spans nest on one thread, so
    children never overlap)."""
    sp = spans[sid]
    return (sp["end"] - sp["start"]) - sum(
        c["end"] - c["start"] for c in spans if c["parent"] == sid
    )


def _tree_pss(root_pid: int) -> dict[int, int]:
    """Proportional set size in bytes of `root_pid` and every descendant,
    by pid.  PSS splits each shared page between the processes mapping it,
    so a forked child (a Python worker, a JVM helper process) does not
    count its parent's pages twice."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    tree = [root_pid]
    for p in tree:
        tree.extend(children.get(p, ()))
    pss = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        pss[p] = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return pss


class MemorySampler:
    """Peak summed PSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc on a background thread.
    ``at_peak`` keeps the per-process split of the peak sample."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pss = _tree_pss(os.getpid())
        total = sum(pss.values())
        if total > self.peak:
            self.peak, self.at_peak = total, pss

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return False
