"""Scale-pattern tests (SURVEY §4.2): bucketed co-located joins elide the
shuffle; salted joins spread hot keys; results stay correct."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from pyspark_dist_explore_spark.operators.joins import salted_join


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_elides_shuffle(spark, tmp_path):
    """Both sides bucketed+sorted by the join key → SortMergeJoin with NO
    Exchange on either input (the co-location survives the catalog)."""
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_id"), (F.col("id") % 100).alias("cust")
    )
    custs = spark.range(0, 100).select(
        F.col("id").alias("cust"), F.concat(F.lit("c"), F.col("id")).alias("name")
    )
    from pyspark_dist_explore_spark.sources.sinks import write_bucketed_table

    for name, df, key in [("t_orders", orders, "cust"), ("t_custs", custs, "cust")]:
        write_bucketed_table(df, name, str(tmp_path / name), key, buckets=8)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny tables would broadcast; force the shuffle-join path so the
        # bucketing (shuffle elision) is what's under test
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders").join(spark.table("t_custs"), "cust")
        plan = _explain(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing co-located both sides
        assert "Bucketed: true" in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS t_orders")
        spark.sql("DROP TABLE IF EXISTS t_custs")


def test_partitioned_write_prunes_directories(spark, tmp_path):
    """A filter on the partition column must become a PartitionFilter
    (directory-level pruning — no file of the other partitions is even
    listed), and the partitioned round-trip must preserve the data."""
    from pyspark_dist_explore_spark.sources.sinks import write_partitioned

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dest = str(tmp_path / "events_by_type")
    write_partitioned(events, dest, ["event_type"])

    back = spark.read.parquet(dest)
    assert back.count() == events.count()

    clicks = back.where(F.col("event_type") == "click")
    plan = _explain(clicks)
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines and any("event_type" in ln for ln in scan_lines), plan
    # pruning is real: only the click directory's files are read
    n_click = events.where(F.col("event_type") == "click").count()
    assert clicks.count() == n_click
    import pathlib

    dirs = {p.name for p in pathlib.Path(dest).iterdir() if p.is_dir()}
    assert any(d.startswith("event_type=") for d in dirs)
    # one file per partition directory (repartition-by-partition-cols)
    for d in pathlib.Path(dest).iterdir():
        if d.is_dir():
            files = [f for f in d.iterdir() if f.suffix == ".parquet"]
            assert len(files) == 1, f"{d.name}: {len(files)} files"


def test_salted_join_correctness(spark):
    """Salted join returns exactly the plain join's rows — hot key (0) is
    spread across salt buckets, result multiset unchanged."""
    big = spark.range(0, 2000).select(
        (F.when(F.col("id") < 1000, 0).otherwise(F.col("id") % 50)).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("val")
    )
    plain = big.join(small, "k").select("k", "payload", "val")
    salted = salted_join(big, small, "k", salt_buckets=8).select("k", "payload", "val")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_no_driver_materialization_in_engine_source():
    """The engine never .collect()s or .toPandas()es data: operators
    return lazy DataFrames, aggregates stay bounded.  Allowed driver
    materialization: viz.py's ≤ bins×series pandas conversion (the
    reference-compatible client edge) and lines explicitly annotated
    ``# bounded-collect:`` with a size-bound rationale (e.g. the Bloom
    bitmap's ≤ bits/64-row aggregate — the same driver-side shape as
    Spark's own bloom-filter join build)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "pyspark_dist_explore_spark"
    offenders = []
    for p in sorted(root.rglob("*.py")):
        if p.name == "viz.py":
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if "# bounded-collect:" in line:
                continue
            code = line.split("#", 1)[0]
            if ".collect()" in code or ".toPandas()" in code:
                offenders.append(f"{p.relative_to(root)}:{i}")
    assert not offenders, f"driver materialization in engine source: {offenders}"


def test_salted_join_spreads_hot_key(spark):
    big = spark.range(0, 1000).select(
        F.lit(0).alias("k"), F.col("id").alias("payload")
    )
    small = spark.range(0, 1).select(F.col("id").alias("k"), F.lit("x").alias("val"))
    salted = salted_join(big, small, "k", salt_buckets=8)
    # the deterministic salt actually uses >1 bucket for the hot key
    n_salts = (
        big.withColumn("s", F.pmod(F.xxhash64("payload"), F.lit(8)))
        .select("s")
        .distinct()
        .count()
    )
    assert n_salts > 1
    assert salted.count() == 1000
