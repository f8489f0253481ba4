"""Frontier table expressions: URL normalization, salted host-prefix
partitioning, deterministic scoring.

All native Spark column expressions (codegen) — Python never sees a URL in
the frontier path. Determinism rule: every selection in the crawl is a pure
function of (score desc, url asc) total order, never of physical partitioning
— that is what makes crawl ordering identical between local[2], local[32] and
a 1000-executor cluster (north rule: "same crawl ordering ... under an
identical seed list and politeness budget", BASELINE.json:6).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "FRONTIER_SCHEMA",
    "host_of",
    "local_df",
    "path_of",
    "with_frontier_columns",
    "seeds_frontier",
    "score_expr",
]

N_HOST_PREFIXES = 64  # coarse host grouping for partition pruning
N_SALTS = 16  # mega-host splitting factor

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("host", StringType(), True),
        StructField("host_prefix", IntegerType(), True),
        StructField("salt", IntegerType(), True),
        StructField("depth", IntegerType(), True),
        StructField("score", DoubleType(), True),
        StructField("frontier_epoch", IntegerType(), True),
        StructField("state", StringType(), True),
    ]
)


def host_of(url):
    """Host component (native; no Python)."""
    return F.parse_url(url, F.lit("HOST"))


def path_of(url):
    return F.parse_url(url, F.lit("PATH"))


def score_expr(depth, warc_ts=None, crawl_start: str = "2024-01-01 00:00:00"):
    """Priority score = depth weight × freshness (north rule: "score =
    review-page depth x freshness").

    Depth weight: 1/(1+depth) — review pages sit shallow under /review/*.
    Freshness: rational decay on the page capture age when known,
    1/(1+age_days); 1.0 for never-fetched URLs. Rational (not exp) so the
    score is bit-deterministic across engines and platforms.
    """
    depth_w = 1.0 / (1.0 + depth.cast("double"))
    if warc_ts is None:
        return F.round(1000.0 * depth_w, 6)
    age_days = (
        F.unix_micros(F.lit(crawl_start).cast("timestamp"))
        - F.unix_micros(warc_ts.cast("timestamp"))
    ) / 86_400_000_000.0
    freshness = 1.0 / (1.0 + F.greatest(age_days, F.lit(0.0)))
    return F.round(1000.0 * depth_w * freshness, 6)


def with_frontier_columns(df: DataFrame, depth, epoch: int, state: str = "pending") -> DataFrame:
    """Normalize a DataFrame bearing ``url`` into frontier rows."""
    url = F.col("url")
    host = host_of(url)
    return df.select(
        url.alias("url"),
        host.alias("host"),
        F.pmod(F.xxhash64(host), F.lit(N_HOST_PREFIXES)).cast("int").alias("host_prefix"),
        F.pmod(F.xxhash64(url), F.lit(N_SALTS)).cast("int").alias("salt"),
        depth.cast("int").alias("depth"),
        score_expr(depth).alias("score"),
        F.lit(epoch).cast("int").alias("frontier_epoch"),
        F.lit(state).alias("state"),
    )


def local_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """A JVM-local relation (``LocalTableScan``, shipped through Arrow):
    unlike ``createDataFrame(list)``, which plans as ``Scan ExistingRDD``,
    reading it starts no Python worker."""
    return spark.createDataFrame(pd.DataFrame(rows, columns=schema.names), schema)


def seeds_frontier(spark: SparkSession, seed_urls: list) -> DataFrame:
    seeds = local_df(
        spark, [(u,) for u in seed_urls], StructType([StructField("url", StringType())])
    ).distinct()
    return with_frontier_columns(seeds, F.lit(0), epoch=0)
