"""Process-level plumbing for the benchmark: the Spark session it owns,
its scratch area, the process-tree memory probe, spans and statistics.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
Spark's local dirs, the JVM and Python temp dirs, the event log, the
generated fixtures and sinks. A run deletes its own scratch directory on
exit and keeps only a small result record under ``results/``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def make_work_dir(tag: str) -> str:
    """A fresh scratch directory for one run, and TMPDIR pointed into it
    before pyspark creates its gateway files. The short-lived launcher
    JVM that spark-submit starts first gets the same temp dir and no
    perf-data file."""
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return work


def session_conf(work: str, event_log: bool) -> dict[str, str]:
    """Confs layered over ``session.build_session``'s own settings: keep
    every file Spark writes inside the scratch area, put the checkout on
    the Python workers' path (the parse UDF imports ``logparser_spark``
    on the worker, whatever the caller's working directory), and turn
    the uncompressed event log on for traced runs and explicitly off
    otherwise, so that a context restarted in the same JVM does not
    inherit it.

    The driver heap is capped at 1 GB, below the program's 8 GB default:
    with the default, the JVM grows its heap when it chooses to, and the
    peak resident memory of runs of the same code varied by a fifth
    between seeds. 1 GB is ample for these inputs; a change that needs
    more heap shows as GC time in the timings."""
    conf = {
        "spark.driver.memory": "1g",
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            "-Duser.timezone=UTC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


def start_session(work: str, event_log: bool):
    from logparser_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{os.cpu_count() or 1}]",
        extra_conf=session_conf(work, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM it runs in, and wait for every
    process this one started (JVM and Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin reaches EOF
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _parent_map() -> dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may contain spaces; fields after ')'
                parents[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return parents


def _descendants(root: int) -> list[int]:
    parents = _parent_map()
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (each process's peak resident set) over this
    process and its descendants: the Python driver, the gateway JVM and
    the Python workers. An upper bound on the tree's simultaneous peak."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Spans:
    """In-memory trace: one record per timed call into the program, with
    wall-clock bounds (milliseconds since the epoch, the clock Spark's
    event log uses) so Spark jobs can be attributed to the span that
    submitted them. Written out once, at the end of the run."""

    def __init__(self):
        self.records: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, **attrs}
        self.records.append(rec)
        rec["start_ms"] = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = time.time() * 1000.0

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name]

    def durations(self, name: str) -> list[float]:
        return [r["dur_s"] for r in self.named(name)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def p90(values) -> float:
    values = list(values)
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def dir_bytes(path: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under ``path``."""
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size
