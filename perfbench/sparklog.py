"""Per-layer Spark metrics read from Spark's own uncompressed event log.

Jobs are attributed to benchmark phases through their job group, which
the benchmark sets before each call (``<phase>:<query>``). The event log
gives job and stage intervals, ``TaskEnd`` metrics, and the SQL metrics
of Python-eval plan nodes (bytes sent to and received from Python
workers).
"""

from __future__ import annotations

import glob
import json
import os

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir`` (plain or
    rolling layout), in file order."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    out = []
    for path in paths:
        with open(path) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class SparkLog:
    """Jobs, stages and tasks of one application, keyed by job group."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                self.jobs[jid] = {
                    "group": group,
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                m = e.get("Task Metrics") or {}
                py_sent = py_recv = 0
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == _PY_SENT:
                        py_sent += int(acc.get("Update") or 0)
                    elif acc.get("Name") == _PY_RECV:
                        py_recv += int(acc.get("Update") or 0)
                sr = m.get("Shuffle Read Metrics") or {}
                self.tasks.append(
                    {
                        "group": self.jobs[jid]["group"] if jid in self.jobs else "",
                        "stage": e["Stage ID"],
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "peak_mem": max(
                            m.get("Peak Execution Memory", 0),
                            m.get("Peak On Heap Execution Memory", 0)
                            + m.get("Peak Off Heap Execution Memory", 0),
                        ),
                        "py_sent": py_sent,
                        "py_recv": py_recv,
                    }
                )

    def job_intervals(self, groups) -> list[tuple[float, float]]:
        return [
            (j["start"], j["end"])
            for j in self.jobs.values()
            if j["group"] in groups and j["end"] is not None
        ]

    def metrics(self, groups, wall_s: float, cores: int, units: int = 1) -> dict[str, float]:
        """The ``spark.*`` and ``python.*`` metrics of the jobs in ``groups``;
        ``wall_s`` is the benchmark-side wall those jobs ran inside, made of
        ``units`` timed units. Counts, times and bytes are per unit."""
        groups = set(groups)
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        tasks = [t for t in self.tasks if t["group"] in groups]
        job_s = union_s(self.job_intervals(groups))
        run_s = sum(t["run_s"] for t in tasks)
        per_unit = {
            "spark.jobs": len(jobs),
            "spark.stages": len({t["stage"] for t in tasks}),
            "spark.tasks": len(tasks),
            "spark.job_s": job_s,
            "spark.driver_s": max(0.0, wall_s - job_s),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
            "spark.gc_s": sum(t["gc_s"] for t in tasks),
            "spark.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
            "python.bytes_sent": sum(t["py_sent"] for t in tasks),
            "python.bytes_received": sum(t["py_recv"] for t in tasks),
        }
        out = {k: v / units for k, v in per_unit.items()}
        out["spark.slot_util"] = run_s / (job_s * cores) if job_s > 0 else 0.0
        out["spark.peak_exec_mem_bytes"] = max((t["peak_mem"] for t in tasks), default=0)
        return out
