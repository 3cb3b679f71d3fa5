from __future__ import annotations

import pytest

from cga_kinesis_to_elasticsearch_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cga-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def in_batch(spark):
    """``in_batch(query_id, batch_id)`` makes the calling thread look
    like the one running micro-batch ``batch_id`` of stream query
    ``query_id``: it sets the two local properties Structured Streaming
    sets on the ``foreachBatch`` thread, so sink-level replay tests need
    no stream. ``in_batch(None, None)`` leaves the batch; so does the
    fixture's teardown."""
    sc = spark.sparkContext

    def enter(query_id, batch_id):
        sc.setLocalProperty("sql.streaming.queryId", query_id)
        sc.setLocalProperty(
            "streaming.sql.batchId", None if batch_id is None else str(batch_id)
        )

    yield enter
    enter(None, None)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), n)``: ``n`` is the number of Spark
    jobs ``fn`` started, read from the status tracker under a job group
    of its own (as ``test_streaming.TestJobGroups`` does)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
        # the status store fills from the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
