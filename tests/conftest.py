import shutil
import sys

import pytest

sys.path.insert(0, "/root/repo")

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
