from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pyspark_dist_explore_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()

#: Degenerate and real-deployment text inputs the testdata lacks: NULL,
#: empty, whitespace-only, a bare newline, non-BMP code points, one
#: word, a vertical tab (whitespace to Java's ``\s``, not to RE2's),
#: CRLF line ends under both the C4 and the Gopher line rules, and
#: tab-indented bullet lines.
EDGE_DOCS = [
    (1, None),
    (2, ""),
    (3, "  \t "),
    (4, "\n"),
    (5, "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 text... The end."),
    (6, "word"),
    (7, "a\x0bb c"),
    (8, "one two here.\r\nthree four five!\r\nsix seven eight?"),
    (9, "the cat sat...\r\nthe dog sat…\r\nthe end."),
    (10, "\t- one item here\n\t- two item here\nthe end of the list"),
]
