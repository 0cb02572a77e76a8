"""Reader for the Spark event log of the benchmark's own session.

Jobs are attributed to a span by their submission time: a traced run
issues its calls into the program one at a time, so the jobs submitted
inside a span's wall-clock bounds are the jobs that call caused (the
aggregate stage submits its jobs from several driver threads, which a
thread-local job group would not follow).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

# SQL metrics of the ArrowEvalPython node, summed over tasks
PYTHON_RUN = "time to run Python workers"  # ms
PYTHON_SENT = "data sent to Python workers"  # bytes
PYTHON_RETURNED = "data returned from Python workers"  # bytes


class EventLog:
    def __init__(self, log_dir: str):
        # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>.
        # Job and stage ids restart in every application, so the log must
        # hold exactly one: the traced context's.
        apps = glob.glob(os.path.join(log_dir, "*"))
        if len(apps) != 1:
            raise RuntimeError(f"expected one application's event log in {log_dir}, "
                               f"found {len(apps)}")
        files = sorted(glob.glob(os.path.join(apps[0], "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
        self.job_submit: dict[int, float] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage -> task summaries
        for path in files:
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        self.job_submit[ev["Job ID"]] = ev["Submission Time"]
                        self.job_stages[ev["Job ID"]] = ev["Stage IDs"]
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks[ev["Stage ID"]].append(_task(ev))

    def window(self, start_ms: float, end_ms: float) -> dict:
        """Task-level totals of the jobs submitted in [start_ms, end_ms]."""
        stages = sorted({s for j, t in self.job_submit.items() if start_ms <= t <= end_ms
                         for s in self.job_stages[j]})
        tasks = [t for s in stages for t in self.tasks.get(s, [])]
        out = {k: sum(t[k] for t in tasks) for k in _SUMMED}
        # skew of the stage that took the most task time: max / median
        # task run time (1.0 = perfectly even)
        busiest = max((self.tasks.get(s, []) for s in stages),
                      key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
        runs = [t["run_ms"] for t in busiest]
        med = statistics.median(runs) if runs else 0
        out["task_skew"] = max(runs) / med if med > 0 else 1.0
        return out


_SUMMED = ("gc_ms", "spill_bytes", "shuffle_write_bytes", "python_run_ms",
           "python_sent_bytes", "python_returned_bytes")


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sql = defaultdict(int)
    for acc in ev["Task Info"].get("Accumulables", []):
        if acc.get("Name") in (PYTHON_RUN, PYTHON_SENT, PYTHON_RETURNED):
            sql[acc["Name"]] += int(acc.get("Update") or 0)
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "python_run_ms": sql[PYTHON_RUN],
        "python_sent_bytes": sql[PYTHON_SENT],
        "python_returned_bytes": sql[PYTHON_RETURNED],
    }
