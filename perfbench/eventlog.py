"""Spark event-log parsing for the traced run: jobs, stages and task
metrics, attributed to the benchmark's spans through the job
description each span sets (see ``common.Tracer``)."""

from __future__ import annotations

import json
import os
import re

from common import union_ms

# Physical nodes that run a Python worker; a stage whose RDD scopes
# name one of them is a Python stage.
_PYTHON_NODE = re.compile(
    r"Pandas|Python|MapInArrow|ArrowEvalPython|BatchEvalPython|PythonUDTF"
)


def _log_files(log_dir: str) -> list[str]:
    out = []
    for root, _, fs in os.walk(log_dir):
        out += [os.path.join(root, f) for f in fs if not f.startswith("appstatus")]
    return sorted(out, key=os.path.getmtime)


def parse(log_dir: str) -> dict[int, dict]:
    """{job id: job} where a job holds its span id, submit/complete
    times (epoch ms), its stages and the task-metric sums of each."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "span": props.get("spark.job.description"),
                        "t0": ev["Submission Time"],
                        "t1": ev["Submission Time"],
                        "stages": {},
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = jobs.get(stage_job.get(info["Stage ID"]))
                    if job is None:
                        continue
                    scopes = " ".join(
                        (r.get("Scope") or "") + " " + (r.get("Name") or "")
                        for r in info.get("RDD Info", [])
                    )
                    st = _stage(job, info["Stage ID"])
                    st["python"] = bool(_PYTHON_NODE.search(scopes))
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    st = _stage(job, ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    srm = m.get("Shuffle Read Metrics") or {}
                    swm = m.get("Shuffle Write Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_read"] += srm.get("Remote Bytes Read", 0) + srm.get(
                        "Local Bytes Read", 0
                    )
                    st["shuffle_write"] += swm.get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs


def _stage(job: dict, sid: int) -> dict:
    return job["stages"].setdefault(
        sid,
        {
            "python": False,
            "tasks": 0,
            "run_ms": 0,
            "cpu_ns": 0,
            "gc_ms": 0,
            "shuffle_read": 0,
            "shuffle_write": 0,
            "spill": 0,
            "input": 0,
        },
    )


def span_tree(spans: list[dict]) -> dict[str, list[str]]:
    kids: dict[str, list[str]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp["id"])
    return kids


def subtree(span_id: str, kids: dict[str, list[str]]) -> list[str]:
    out, todo = [], [span_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s, [])
    return out


def exec_stats(jobs: list[dict], cores: int) -> dict:
    """Sums over a set of jobs: the `exec.*` fields of the layer record."""
    stages = [st for j in jobs for st in j["stages"].values()]
    run_ms = sum(st["run_ms"] for st in stages)
    busy_ms = union_ms((j["t0"], j["t1"]) for j in jobs)
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "task_run_s": run_ms / 1000.0,
        "task_cpu_s": sum(st["cpu_ns"] for st in stages) / 1e9,
        "idle_core_s": max(0.0, busy_ms * cores - run_ms) / 1000.0,
        "shuffle_read_bytes": sum(st["shuffle_read"] for st in stages),
        "shuffle_write_bytes": sum(st["shuffle_write"] for st in stages),
        "spill_bytes": sum(st["spill"] for st in stages),
        "input_bytes": sum(st["input"] for st in stages),
        "gc_s": sum(st["gc_ms"] for st in stages) / 1000.0,
        "python_stages": sum(1 for st in stages if st["python"]),
        "python_stage_run_s": sum(st["run_ms"] for st in stages if st["python"]) / 1000.0,
    }


def attribute(spans: list[dict], jobs: dict[int, dict]) -> dict[str, list[dict]]:
    """{span id: jobs whose description is that span}."""
    ids = {sp["id"] for sp in spans}
    out: dict[str, list[dict]] = {}
    for j in jobs.values():
        if j["span"] in ids:
            out.setdefault(j["span"], []).append(j)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time (ms): each span's duration minus the part of
    it its child spans cover, summed by layer."""
    kids = span_tree(spans)
    by_id = {sp["id"]: sp for sp in spans}
    out: dict[str, float] = {}
    for sp in spans:
        child = [(by_id[k]["t0"], by_id[k]["t1"]) for k in kids.get(sp["id"], [])]
        own = (sp["t1"] - sp["t0"]) - union_ms(child)
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + max(0.0, own)
    return out
