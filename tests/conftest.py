import uuid

import pytest

from sanskrit_ocr_spark.conf import build_spark


@pytest.fixture(scope="session")
def spark():
    s = build_spark(app="sanskrit-ocr-spark-tests", master="local[4]",
                    shuffle_partitions=8,
                    extra={"spark.ui.enabled": "false",
                           "spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture
def count_jobs():
    """``count_jobs(spark, fn) -> (fn(), jobs)``: run ``fn`` under a fresh
    job group and read back through ``statusTracker`` how many Spark jobs
    it submitted — an exact, box-noise-free cost measure for pinning job
    budgets."""
    def run(spark, fn):
        sc = spark.sparkContext
        group = f"count-jobs-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
