"""The measurement path: ``tools/measure.py`` records per check, read
from Spark's status stores rather than from a job group."""

from __future__ import annotations

RECORD_KEYS = ("cold_s", "warm_med_s", "jobs", "stages", "tasks",
               "shuffle_write_bytes", "spill_bytes", "python_bytes",
               "broadcast_build_s", "stream_batches", "stream_planning_s",
               "driver_s")


def _job_group_count(spark, name, sf_dir):
    """Jobs of one run of ``name`` counted by job group, the way a
    thread-local tag sees them."""
    from ethereum2_etl_airflow_spark.plans.registry import spark_queries

    sc = spark.sparkContext
    group = f"test-profile-{name}"
    sc.setJobGroup(group, name)
    try:
        spark_queries()[name](spark, sf_dir).write.mode("overwrite") \
            .format("noop").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_profile_records_carry_counters(spark, sf_dir):
    from tools.measure import profile

    recs = profile(spark, ["sort_limit", "sessionize_stream"], sf_dir, 1)
    assert [r["check"] for r in recs] == ["sort_limit", "sessionize_stream"]
    for r in recs:
        assert "error" not in r, r
        assert all(k in r for k in RECORD_KEYS), r
        assert r["jobs"] >= 1
        assert r["warm_med_s"] >= r["driver_s"]
    assert recs[0]["stream_batches"] == 0
    stream = recs[1]
    assert stream["stream_batches"] >= 1
    # micro-batches run on the stream's own thread, outside the caller's
    # job group; the record still counts them
    assert stream["jobs"] > _job_group_count(spark, "sessionize_stream",
                                             sf_dir)


def test_profile_reports_unknown_check(spark, sf_dir):
    from tools.measure import profile

    (rec,) = profile(spark, ["no_such_check"], sf_dir, 0)
    assert rec["check"] == "no_such_check" and "error" in rec
