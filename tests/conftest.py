from __future__ import annotations

import os

import pytest

from batch_processing_etl_orchestration_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Core count env-overridable for experiments; the default is what
    # the driver's plain `pytest tests/` run gets. Measured both ways
    # on the 32-core box (r16): 16 is 21% faster on the
    # vectorized-aggregation families (test_similarity 136 -> 108 s)
    # but 8% SLOWER on the action-heavy index/streaming families
    # (test_retrieval 286 -> 308 s — more shuffle partitions = more
    # tiny tasks per micro-action), a wash overall — so the default
    # stays 8 and the win for the driver window comes from the
    # parallel vanilla-catalog check instead.
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = get_spark("bpeo-tests", master=f"local[{cpus}]", extra_conf={
        "spark.sql.shuffle.partitions": cpus,
        "spark.driver.memory": "6g",
    })
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """Callable running fn() and returning (result, jobs it ran).
    Counts from the scheduler's job-id counter, not the status store's
    job list, which keeps only spark.ui.retainedJobs entries and so
    stops growing in a long session. Job counts do not depend on the
    host."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def run(fn):
        before = dag.numTotalJobs()
        out = fn()
        return out, dag.numTotalJobs() - before

    return run
