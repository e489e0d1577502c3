"""willa_spark.pin: the one materialization for multi-consumer frames."""

import time
import uuid

import pytest
from pyspark.sql import functions as F

from willa_spark.pin import pin, pinned


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn`` starts, counted under a job group.
    A marker job closes the group, so once the status tracker lists the
    marker it lists every job ``fn`` started."""
    sc = spark.sparkContext
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not (ids := tracker.getJobIdsForGroup(group)) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert ids, "the marker job never reached the status tracker"
    return len(ids) - 1


def _frames(spark):
    a = spark.range(50).select(F.col("id"), (F.col("id") % 7).alias("m"))
    b = spark.range(30).groupBy((F.col("id") % 4).alias("k")).count()
    return a, b


def test_pin_together_equals_pin_alone(spark):
    a, b = _frames(spark)
    both = pin(a, b)
    assert isinstance(both, tuple) and len(both) == 2
    assert _rows(both[0]) == _rows(pin(a))
    assert _rows(both[1]) == _rows(pin(b))


def test_repin_starts_no_job(spark):
    a, _ = _frames(spark)
    pinned_a = pin(a)
    assert _jobs_started(spark, lambda: pin(pinned_a)) == 0
    assert pin(pinned_a) is pinned_a
    # a fresh frame derived from a pinned one is not pinned itself
    assert _jobs_started(spark, lambda: pin(pinned_a.filter("id > 3"))) >= 1


def test_concurrent_pins_carry_the_callers_job_group(spark):
    """The jobs several frames pin on worker threads belong to the
    caller's job group, like the caller's own jobs."""
    a, b = _frames(spark)
    assert _jobs_started(spark, lambda: pin(a, b)) >= 2


def test_spill_dir_scans_parquet_at_that_path(spark, tmp_path):
    a, _ = _frames(spark)
    path = str(tmp_path / "spill")
    spilled = pin(a, spill_dir=path)
    plan = spilled._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan and path in plan
    assert _rows(spilled) == _rows(a)
    with pytest.raises(ValueError, match="exactly one frame"):
        pin(a, a, spill_dir=path)


def _poisoned(spark):
    return spark.range(20).select(
        F.when(F.col("id") == 13, F.raise_error(F.lit("poisoned row")))
        .otherwise(F.col("id"))
        .alias("id")
    )


def test_failing_pin_raises_and_caches_nothing(spark):
    a, _ = _frames(spark)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="poisoned row"):
        pin(a, _poisoned(spark))
    assert cache.isEmpty()
    with pytest.raises(Exception, match="poisoned row"):
        with pinned() as keep:
            keep(a, _poisoned(spark))
    assert cache.isEmpty()


def test_pinned_scope_releases_on_exit_and_passes_pins_through(spark):
    a, b = _frames(spark)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    checkpointed = pin(b)
    with pinned() as keep:
        kept_a, kept_b = keep(a, checkpointed)
        assert kept_b is checkpointed
        assert not cache.isEmpty()
        assert _rows(kept_a) == _rows(a)
    assert cache.isEmpty()
