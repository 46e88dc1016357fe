"""SparkSession configuration for this engine's workloads.

The operators in this package are partitioning- and conf-agnostic; what
changes between a laptop and a 1000-executor cluster is only the
session conf.  ``recommended_conf`` encodes the sizing rules the
operators were designed against (every value is standard public Spark
tuning, stated with its rationale), ``build_session`` applies them.

Sizing rules (SURVEY §6 / the 100 TB design notes):

- **AQE on, always** — runtime partition coalescing fixes over-provisioned
  shuffle widths, skew-join splitting fixes hot keys (the salted-join
  operator remains for deliberate control).
- **shuffle partitions ≈ 2-3× total cores as the static floor** — with AQE
  the static number is an upper bound that gets coalesced down, so err
  high; each post-shuffle partition should land well under executor
  memory (~128-200 MB of shuffle data is the classic target).
- **maxPartitionBytes 256 MB** — scan tasks sized so a full row-group
  batch fits in memory.
- **broadcast threshold** — dims in the star schema and all this engine's
  side-inputs (histogram ranges, centroids, probe sets, vocabulary DF)
  are orders below even the default 10 MB; raise it only when a real
  dimension table hovers near the line.
- **Arrow batch size** — the pandas-UDF hot paths (BLAS dot, codec
  decode) batch by ``maxRecordsPerBatch``; 10k rows of 64-dim doubles
  ≈ 5 MB.  Jobs whose rows carry whole decoded media payloads (MBs
  each) should pass a lower value as a ``build_session`` override.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def recommended_conf(*, total_cores: int) -> dict[str, str]:
    """Conf dict for a cluster with ``total_cores`` executor cores."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(3 * total_cores, 8)),
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # oracle-parity queries compare against a UTC DuckDB session;
        # pinning the session tz makes temporal binning reproducible
        "spark.sql.session.timeZone": "UTC",
    }


def build_session(
    app_name: str = "pyspark_dist_explore_spark",
    *,
    master: str | None = None,
    total_cores: int | None = None,
    **overrides: str,
) -> SparkSession:
    """Build (or reuse) a SparkSession with :func:`recommended_conf`.

    ``master=None`` defers to the environment (spark-submit / cluster
    manager); pass ``local[N]`` for single-node runs.  ``total_cores``
    defaults to the machine's CPU count for local masters.  Keyword
    ``overrides`` win over the recommended values.
    """
    if total_cores is None:
        import os

        total_cores = os.cpu_count() or 8
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = recommended_conf(total_cores=total_cores)
    conf.update(overrides)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
