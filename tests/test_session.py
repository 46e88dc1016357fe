"""session.build_session / recommended_conf sanity."""

from __future__ import annotations

from pyspark_dist_explore_spark.session import recommended_conf


def test_recommended_conf_scales_with_cores():
    small = recommended_conf(total_cores=8)
    big = recommended_conf(total_cores=4000)
    assert int(small["spark.sql.shuffle.partitions"]) == 24
    assert int(big["spark.sql.shuffle.partitions"]) == 12000
    assert small["spark.sql.adaptive.enabled"] == "true"


def test_build_session_applies_conf(spark):
    # reuse the test session: getOrCreate() returns the active one, so
    # assert against a fresh builder's conf dict instead of the session
    conf = recommended_conf(total_cores=4)
    assert conf["spark.sql.session.timeZone"] == "UTC"
    # the engine's own test session already runs with AQE defaults that
    # recommended_conf pins explicitly
    assert spark.conf.get("spark.sql.adaptive.enabled") in ("true", "True")
