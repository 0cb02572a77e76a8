import gc
import os
import shutil
import sys

import pytest

# the checkout holding these tests: its package is the one under test
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)
# Spark's Python workers (and the suite's subprocesses) import it too:
# without this they would import whatever the working directory holds
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
)

from logparser_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="logparser-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_input(tmp_path_factory):
    """10k-row raw_sequences fixture, generated once per test session."""
    from logparser_spark.fixtures import write_raw_sequences

    out = tmp_path_factory.mktemp("fixtures")
    path = write_raw_sequences(str(out), 10_000, files=8)
    yield path
    shutil.rmtree(out, ignore_errors=True)


@pytest.fixture(scope="session")
def tiny_lines():
    """The same 10k rows as decoded lines + doc_id/source ground truth
    (same seeding contract as write_raw_sequences via the shared
    helper; bypasses the parquet/token encode path)."""
    import pandas as pd

    from logparser_spark.fixtures import generate_partitioned_lines

    return pd.concat(generate_partitioned_lines(10_000, 8), ignore_index=True)


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn) -> (fn(), n)``: call ``fn`` and count the Spark
    jobs it ran (outside any job group) via the status tracker. The
    listener bus is drained before each read so a job that ran is never
    missed, and only ids above the pre-call maximum count, so the
    tracker's eviction of old jobs cannot hide new ones."""
    sc = spark.sparkContext

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sc.statusTracker().getJobIdsForGroup(None)

    def run(fn):
        before = max(job_ids(), default=-1)
        out = fn()
        return out, sum(1 for j in job_ids() if j > before)

    return run


@pytest.fixture
def jvm_calls(spark):
    """``jvm_calls(fn) -> (fn(), n)``: call ``fn`` and count the py4j
    commands it sent to the JVM. Garbage is collected first, and py4j's
    object-release messages (``m``/``d``) are not counted: a finalizer
    can send one at any moment, on any thread, for an object some
    earlier call dropped."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    release = "m\nd\n"

    def run(fn):
        sent = []

        def counting(command, *args, **kwargs):
            if not command.startswith(release):
                sent.append(command)
            return send(command, *args, **kwargs)

        gc.collect()
        client.send_command = counting
        try:
            out = fn()
        finally:
            client.send_command = send
        return out, len(sent)

    return run


@pytest.fixture
def plan_nodes():
    """``plan_nodes(plan)``: every node of an executed physical plan (a
    py4j ``SparkPlan``), descending through the adaptive wrapper and its
    query stages."""

    def walk(node):
        yield node
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            seq = node.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        for kid in kids:
            yield from walk(kid)

    return walk


@pytest.fixture
def publish_summary():
    """``publish_summary(root, name, table, exhaustive=True)``: publish a
    hand-made ``table`` as summary ``name`` under sink ``root`` through
    the library's own write, the one ``run_aggregates`` uses, so a test
    cannot drift from the published layout."""
    from logparser_spark.sources.sinks import replace_parquet, summary_path

    def publish(root, name, table, exhaustive=True):
        replace_parquet(summary_path(str(root), name), table, exhaustive=exhaustive)

    return publish
