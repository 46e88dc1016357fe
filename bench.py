#!/usr/bin/env python
"""Benchmark harness — runs the registered headline queries and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": sf}.

The stdout JSON line is kept COMPACT (separators without spaces, 3-dp
values, no per-query spread/cold maps) so it stays parseable inside a
bounded stdout-tail capture; the full per-query detail (min/cold/spread
per attempt, PLUS the per-section attribution map for the multi-section
slots: a `sections` dict of min-of-2 wall times and the slot's eager
`parts_build` time) is written to BENCH_DETAIL.json next to this script
— a bench excursion localizes to a section in one read.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the host CPU count).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

ATTEMPTS = 3  # min-of-3 for EVERY query — shared-host noise otherwise
# dominates round-over-round comparisons even for sub-second queries
SECTION_ATTEMPTS = 2  # min-of-2 for the per-section attribution pass —
# it exists to localize excursions, not to be the headline number


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pyspark_dist_explore_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        # derive post-shuffle partition COUNT from
        # bytes, not from the core constant — parallelismFirst=true (the
        # compatibility default) coalesces only down to defaultParallelism,
        # so KB-sized shuffles still schedule `cpus` reduce tasks per
        # exchange; size-based coalescing collapses them to one-few tasks
        # here and is equally the right setting at cluster scale (the
        # advisory size, not this flag, is what a deployment tunes —
        # 64m local keeps stages comparable; production uses 64-256m per
        # guide §9).  A/B at sf0.1 local[32]: multi-exchange slots
        # improve (sampling_splits 3.64→3.40, text_perplexity 2.99→2.75,
        # corpus_token_budget 1.60→1.46), none regress beyond noise.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark_dist_explore_spark.plans.queries import REGISTRY

    # Warm up the JVM / parquet footer cache once so per-query numbers
    # measure the plan, not session startup.
    REGISTRY["hist_lineitem_price"].build(spark, sf_dir).collect()

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    cold_total = 0.0
    for name, spec in REGISTRY.items():
        dts: list[float] = []
        for i in range(ATTEMPTS):
            t0 = time.perf_counter()
            rows = spec.build(spark, sf_dir).collect()
            dts.append(time.perf_counter() - t0)
            if i == 0 and not rows:
                print(f"WARNING: {name} returned 0 rows", file=sys.stderr)
        timings[name] = round(min(dts), 3)
        cold_total += dts[0]
        detail[name] = {
            "attempts": [round(d, 4) for d in dts],
            "min": round(min(dts), 4),
            "cold": round(dts[0], 4),
            "spread": round(max(dts) - min(dts), 4),
        }

    # Per-section attribution for the multi-section slots: a slot's
    # section builder returns the exact frames the registered query
    # composes, so timing a section's collect times the section's real
    # plan.  `parts_build` is the slot's eager-at-build work (BPE learn
    # loop, mixture-target collect) — it runs once per sections() call
    # and is NOT inside any section's time.  For the join-composed slots
    # family times sum to MORE than the slot: each family pays its own
    # scan where the joined slot shares one.
    for slot, spec in REGISTRY.items():
        if spec.sections is None:
            continue
        builds: list[float] = []
        sec_dts: dict[str, list[float]] = {}
        for _ in range(SECTION_ATTEMPTS):
            # fresh frames each attempt: a DataFrame caches its optimized
            # plan after the first collect, so re-collecting the same
            # object would exclude Catalyst time and undercount vs the
            # slot numbers above (which rebuild per attempt too)
            t0 = time.perf_counter()
            parts = spec.sections(spark, sf_dir)
            builds.append(time.perf_counter() - t0)
            for sec, sdf in parts.items():
                t0 = time.perf_counter()
                sdf.collect()
                sec_dts.setdefault(sec, []).append(time.perf_counter() - t0)
        detail[slot]["parts_build"] = round(min(builds), 4)
        detail[slot]["sections"] = {
            sec: round(min(dts), 4) for sec, dts in sec_dts.items()
        }
    spark.stop()

    here = os.path.dirname(os.path.abspath(__file__))
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cold_total": round(cold_total, 3),
        "sf": sf,
    }
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(
            {
                "sf": sf,
                "cpus": cpus,
                "attempts": ATTEMPTS,
                "queries": detail,
            },
            fh,
            indent=1,
        )
    # compact separators + 3-dp values: the whole line must survive a
    # 2000-char stdout tail to be machine-parsed
    line = json.dumps(out, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: drop to aggregates only
        out.pop("queries")
        out["note"] = "per-query map in BENCH_DETAIL.json (line too long)"
        line = json.dumps(out, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
