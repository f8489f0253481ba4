"""Robots + politeness dimension tables (broadcast-joined per epoch).

North rule (BASELINE.json:6): "per-host politeness tokens and robots.txt
rules joined as a broadcast dimension table". Both dims are tiny relative to
the frontier (one row per host), so the join is always a broadcast hash join
— zero shuffle on the 10^10-row side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .frontier import local_df, path_of

ROBOTS_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("disallow", ArrayType(StringType()), True),
        StructField("crawl_delay", DoubleType(), True),
    ]
)

POLITENESS_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("budget", IntegerType(), False),
    ]
)


def robots_df(spark: SparkSession, rules: dict) -> DataFrame:
    """rules: host -> (disallow_prefixes, crawl_delay_seconds)."""
    rows = [(h, list(d), float(cd)) for h, (d, cd) in sorted(rules.items())]
    return local_df(spark, rows, ROBOTS_SCHEMA)


def politeness_df(spark: SparkSession, budgets: dict) -> DataFrame:
    rows = [(h, int(b)) for h, b in sorted(budgets.items())]
    return local_df(spark, rows, POLITENESS_SCHEMA)


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Filter out URLs whose path matches any disallow prefix for its host.

    Broadcast left join + higher-order EXISTS over the prefix array — stays
    in codegen; hosts without rules pass through.
    """
    joined = frontier.join(F.broadcast(robots), "host", "left")
    blocked = F.exists(
        F.coalesce(F.col("disallow"), F.array()),
        lambda prefix: F.startswith(path_of(F.col("url")), prefix),
    )
    return joined.filter(~blocked).drop("disallow", "crawl_delay")


def admit_per_host(
    frontier: DataFrame,
    politeness: DataFrame,
    default_budget: int,
    robots: DataFrame | None = None,
    epoch_seconds: float | None = None,
) -> DataFrame:
    """Rank candidates within each host by (score desc, url asc) and keep the
    top ``budget`` — the token-bucket admission for one epoch.

    When ``robots``/``epoch_seconds`` are given, a host's robots
    ``crawl_delay`` caps its effective budget at
    ``floor(epoch_seconds / crawl_delay)`` fetches per epoch (deterministic
    virtual time, so crawl ordering stays a pure function of inputs).

    Scale note — mega-host skew: a single host can hold a third of a
    10^10-row frontier, so ranking directly over ``partitionBy(host)`` would
    funnel that host into ONE task's sort. The rank is therefore two-phase:

    1. a local ``row_number`` within (host, salt) — the mega-host's rows are
       spread over ``N_SALTS`` salt groups, each sorted independently — keeps
       only the top ``budget`` rows per salt group;
    2. the final per-host rank runs over the ≤ budget × N_SALTS survivors
       (a few dozen rows per host, never the raw frontier).

    Phase 2 sees every row that can make the host's true top ``budget``
    (a row in the host top-k is in its salt group's top-k a fortiori), so
    the result is identical to a single-window rank — but no task ever
    sorts more than one salt-share of one host.
    """
    from pyspark.sql import Window

    ranked = frontier.join(F.broadcast(politeness), "host", "left").withColumn(
        "budget", F.coalesce(F.col("budget"), F.lit(default_budget))
    )
    if robots is not None and epoch_seconds is not None:
        delay_cap = F.floor(F.lit(float(epoch_seconds)) / F.col("crawl_delay"))
        ranked = (
            ranked.join(F.broadcast(robots.select("host", "crawl_delay")), "host", "left")
            .withColumn(
                "budget",
                F.when(
                    F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
                    F.least(F.col("budget"), delay_cap.cast("int")),
                ).otherwise(F.col("budget")),
            )
            .drop("crawl_delay")
        )
    # phase 1: per-(host, salt) local top-k prune
    w_salt = Window.partitionBy("host", "salt").orderBy(
        F.desc("score"), F.asc("url")
    )
    pruned = (
        ranked.withColumn("salt_rank", F.row_number().over(w_salt))
        .filter(F.col("salt_rank") <= F.col("budget"))
        .drop("salt_rank")
    )
    # phase 2: exact per-host rank over the bounded survivor set
    w = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("url"))
    final = pruned.withColumn("host_rank", F.row_number().over(w))
    return final.filter(F.col("host_rank") <= F.col("budget")).drop(
        "budget", "host_rank"
    )
