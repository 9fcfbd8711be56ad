"""Spans recorded from the benchmark's side, and the Spark event-log reader.

A ``Tracer`` records one span per call into a layer's public function: name,
parent, start and end (epoch seconds). While a span is open its id is the
Spark job description, so every Spark job in the event log attributes to
exactly one span. ``patch`` swaps module attributes for span-recording
wrappers and ``restore`` puts the originals back; no program file changes.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    # -- spans ---------------------------------------------------------------

    def open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobDescription(f"{name}#{span['id']}")
        return span

    def close(self, span: dict) -> None:
        """Close ``span`` and any child still open under it."""
        while self._stack:
            top = self._stack.pop()
            top["end"] = time.time()
            if top is span:
                break
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobDescription(
            f"{parent['name']}#{parent['id']}" if parent else None
        )

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    # -- wrappers --------------------------------------------------------------

    def patch(self, module, attr: str, name=None, after=None, open_only=False) -> None:
        """Replace ``module.attr`` with a wrapper that runs the call inside a
        span. ``name`` is a string or ``f(*args, **kw) -> str``; ``after`` is
        called with the result, still inside the span. With ``open_only``
        the span stays open after the call returns and ends with its parent:
        for a function that builds a lazy plan whose job the caller runs
        next."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            label = name(*args, **kw) if callable(name) else (name or attr)
            if open_only:
                self.open(label)
                return orig(*args, **kw)
            with self.span(label):
                out = orig(*args, **kw)
                if after is not None:
                    after(out)
                return out

        self._patched.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    # -- queries ---------------------------------------------------------------

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def subtree_ids(self, root: dict) -> set[int]:
        ids = {root["id"]}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids


def wall(span: dict) -> float:
    return span["end"] - span["start"]


# --- event log -----------------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_INIT = ("time to initialize Python workers", "time to start Python workers")
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """The jobs in the (uncompressed, non-rolling) event log files in
    ``log_dir``, each with its stages and their tasks, as plain dicts."""
    jobs: dict = {}
    stages: dict = {}
    stage_job: dict = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = e.get("Properties", {}).get("spark.job.description") or ""
                    scope = e.get("Properties", {}).get("spark.rdd.scope") or "{}"
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "span": int(desc.rsplit("#", 1)[1]) if "#" in desc else None,
                        "scope": json.loads(scope).get("name", ""),
                        "stages": [],
                    }
                    for s in e["Stage Infos"]:
                        stage_job.setdefault(s["Stage ID"], e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], {"tasks": []})
                    st.update(
                        id=si["Stage ID"],
                        job=stage_job.get(si["Stage ID"]),
                        start=si.get("Submission Time", 0) / 1000.0,
                        end=si.get("Completion Time", 0) / 1000.0,
                        python=any(
                            "MapInPandas" in r.get("Scope", "")
                            for r in si["RDD Info"]
                        ),
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    acc = {
                        a["Name"]: float(a["Update"])
                        for a in e["Task Info"].get("Accumulables", [])
                        if "Update" in a and a.get("Metadata") == "sql"
                        and a["Name"] in (PY_RUN, PY_SENT, PY_BACK) + PY_INIT
                    }
                    stages.setdefault(e["Stage ID"], {"tasks": []})["tasks"].append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "written": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "acc": acc,
                    })
    for st in stages.values():
        if st.get("job") in jobs:
            jobs[st["job"]]["stages"].append(st)
    return list(jobs.values())


def job_tasks(jobs: list[dict]):
    for j in jobs:
        for st in j["stages"]:
            yield from st["tasks"]


def jobs_under(jobs: list[dict], tracer: Tracer, spans: list[dict]) -> list[dict]:
    """The jobs run while one of ``spans`` or a span under it was open."""
    ids: set[int] = set()
    for s in spans:
        ids |= tracer.subtree_ids(s)
    return [j for j in jobs if j["span"] in ids]


def job_seconds(jobs: list[dict]) -> float:
    return sum((j["end"] or j["start"]) - j["start"] for j in jobs)


def busy_seconds(jobs: list[dict], lo: float, hi: float) -> float:
    """Length of the union of job intervals clipped to [lo, hi]."""
    ivs = sorted(
        (max(j["start"], lo), min(j["end"] or hi, hi)) for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_metrics(jobs: list[dict], rep: dict, cores: int) -> dict:
    """Engine totals over the jobs of one traced rep."""
    tasks = list(job_tasks(jobs))
    rep_wall = wall(rep)
    run_s = sum(t["run_ms"] for t in tasks) / 1e3
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
        "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 1e6,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / 1e6,
        "spark.driver_gap_s": rep_wall - busy_seconds(jobs, rep["start"], rep["end"]),
        "spark.core_util": run_s / (rep_wall * cores),
    }


def tagging_metrics(jobs: list[dict]) -> dict:
    """Ingest and Python-stage figures from the MapInPandas stages of
    ``jobs`` (the tagging jobs, with the weights probe excluded)."""
    py_stages = [st for j in jobs for st in j["stages"] if st.get("python")]
    tasks = [t for st in py_stages for t in st["tasks"]]
    runs = [t["run_ms"] for t in tasks]

    def acc(*names):
        return sum(t["acc"].get(n, 0.0) for t in tasks for n in names)

    sample_jobs = [
        j for j in jobs
        if j["scope"] == "Exchange"
        and not any(t["shuffle_write"] for t in job_tasks([j]))
    ]
    return {
        "ingest.range_sample_s": job_seconds(sample_jobs),
        "ingest.partitions": len(tasks),
        "ingest.task_skew": max(runs) / statistics.median(runs) if runs and statistics.median(runs) else 0.0,
        "tagging.stage_s": sum(st["end"] - st["start"] for st in py_stages),
        "tagging.python_run_s": acc(PY_RUN) / 1e3,
        "tagging.python_init_s": acc(*PY_INIT) / 1e3,
        "tagging.to_python_mb": acc(PY_SENT) / 1e6,
        "tagging.from_python_mb": acc(PY_BACK) / 1e6,
    }


def top_level_coverage(tracer: Tracer, rep: dict) -> float:
    kids = [s for s in tracer.spans if s["parent"] == rep["id"]]
    return sum(wall(s) for s in kids) / wall(rep)
