"""Physical-plan regression gates for the scale-critical operators.

The round-2 verdict flagged single-task sorts (unpartitioned Windows,
TakeOrdered merges of unbounded batches) as the class of plan anti-pattern
that dies at 100× scale. These tests pin the fixed plan shapes so a
refactor cannot silently reintroduce one:

* ``token_doc_frequency_topk`` — bounded TakeOrdered, no WindowExec at all;
* the crawl drain — two-phase (salted local top-k before any global rank),
  never a TakeOrderedAndProject over the full admitted frontier;
* every registry query — no CartesianProduct, and any Python UDF stage is
  Arrow-vectorized (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas),
  never row-at-a-time BatchEvalPython;
* the crawl's Python stages — the drain runs none, the sketch build and the
  sketch probe one each.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from fakepilot_spark.ops import registry
from fakepilot_spark.ops.textops import q_token_doc_frequency_topk

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_token_topk_no_window_no_global_sort(spark):
    plan = _plan(q_token_doc_frequency_topk(spark, SF_DIR))
    # bounded per-partition heap + bounded merge
    assert "TakeOrderedAndProject" in plan
    # the rank is an aggregate over the <= k survivors — no WindowExec
    # (a Window with no partitionBy funnels the whole vocabulary into one
    # task; its absence is the round-2 fix)
    assert "Window" not in plan


def test_crawl_drain_is_two_phase(spark):
    from fakepilot_spark.crawl.engine import CrawlEngine

    admitted = spark.range(0, 1000).select(
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"),
        (F.col("id") % 97).cast("double").alias("score"),
        F.lit(0).alias("depth"),
    )
    eng = CrawlEngine.__new__(CrawlEngine)  # plan-only: no config needed
    eng.spark = spark

    # unknown pending count -> must take the two-phase path
    batch = eng._drain_batch(admitted, 10, pending_n=None)
    plan = _plan(batch)
    # phase 1: salt shuffle (pmod(xxhash64)) with a partitioned local rank
    assert "xxhash64" in plan and "pmod" in plan and "dsalt" in plan
    # The full frontier is never fed to a global ordering operator: every
    # unpartitioned rank / TakeOrdered must sit ABOVE the salted prune, i.e.
    # consume only its <= P*k survivors. In the plan-tree string parents
    # print before children, so "bounded input" == the dsalt local top-k
    # appears BELOW (after) any global TakeOrdered. (Catalyst's
    # WindowGroupLimit rewrite turns the bounded phase-2 row_number rank
    # into a TakeOrderedAndProject — allowed, because its input is pruned.)
    if "TakeOrderedAndProject" in plan:
        assert "dsalt" in plan[plan.index("TakeOrderedAndProject"):], (
            "TakeOrdered must consume the salted prune, not the raw frontier"
        )
    deepest_window_line = [
        ln for ln in plan.splitlines() if "Window [row_number" in ln
    ][-1]
    assert "dsalt" in deepest_window_line, (
        "deepest Window must be the salt-partitioned local top-k"
    )

    # provably-fitting frontier -> no ordering work at all
    plan_fast = _plan(eng._drain_batch(admitted, 10, pending_n=5))
    assert "Window" not in plan_fast and "Sort" not in plan_fast


def test_source_cap_sample_is_two_phase(spark):
    """No unsalted per-source window may sort a full stratum: the deepest
    row_number Window must be partitioned by (source, csalt), and the exact
    per-source rank must consume only the salted prune's survivors."""
    from fakepilot_spark.ops.corpusops import q_source_cap_sample

    plan = _plan(q_source_cap_sample(spark, SF_DIR))
    assert "xxhash64" in plan and "csalt" in plan
    window_lines = [
        ln for ln in plan.splitlines() if "Window [row_number" in ln
    ]
    # parents print before children: the LAST window line is the one closest
    # to the scan — it must be the salt-partitioned local top-k
    assert "csalt" in window_lines[-1], (
        "deepest Window must partition by (source, csalt), not source alone"
    )
    # every unsalted per-source rank (Window or the WindowGroupLimit/
    # TakeOrdered rewrite) must sit ABOVE the salted prune in the tree
    for op in ("TakeOrderedAndProject",):
        if op in plan:
            assert "csalt" in plan[plan.index(op):]
    unsalted = [ln for ln in window_lines if "csalt" not in ln]
    for ln in unsalted:
        assert plan.index(ln) < plan.index(window_lines[-1]), (
            "exact per-source rank must consume the salted prune"
        )


def test_eval_decontaminate_broadcasts_eval_grams(spark):
    """The training corpus never shuffles its grams: the eval-side distinct
    gram set (tiny next to a 10^10-doc corpus) must arrive via a broadcast
    hash join, and nothing in the plan may shuffle on the gram key."""
    from fakepilot_spark.ops.corpusops import q_eval_decontaminate

    plan = _plan(q_eval_decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, "eval grams must broadcast"
    # the only gram-keyed shuffle allowed is the eval side's distinct(),
    # which lives INSIDE the broadcast subtree (benchmarks are tiny); the
    # streamed training side prints before the BroadcastExchange child, so
    # any g-exchange above it would be a training-gram shuffle
    bx = plan.index("BroadcastExchange")
    for ln in plan.splitlines():
        if "Exchange hashpartitioning(g#" in ln:
            assert plan.index(ln) > bx, "training grams must never shuffle"


def test_corpus_keep_filter_no_window(spark):
    """Canonical-copy choice must be the partial-aggregated groupBy(fp).min
    joined back — never a per-fingerprint Window (a viral page with 10^6
    exact copies would funnel one task's sort); decontamination stays a
    broadcast join here too."""
    from fakepilot_spark.ops.corpusops import q_corpus_keep_filter

    plan = _plan(q_corpus_keep_filter(spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    # the fp canonical join carries partial aggregation (map-side combine)
    assert "partial_min" in plan or "partial_first" in plan or (
        "HashAggregate" in plan
    )


# stream_user_totals executes a streaming job on call (no static plan) and
# the fixture-extraction queries parse real pages at call time; plan shape
# for extraction is covered by the synth variants.
_PLAN_SKIP = {"stream_user_totals", "stream_event_dedup",
              "extract_fixture_companies", "extract_fixture_reviews"}


@pytest.mark.parametrize(
    "name", [n for n in registry()[0] if n not in _PLAN_SKIP]
)
def test_no_cartesian_no_rowwise_python(spark, name):
    queries, _ = registry()
    plan = _plan(queries[name](spark, SF_DIR))
    # 1-row broadcast scalars compile to BroadcastNestedLoopJoin — allowed;
    # an unbroadcast all-pairs CartesianProduct is not
    assert "CartesianProduct" not in plan, name
    # any Python stage must be Arrow-batched
    assert "BatchEvalPython" not in plan, name


_PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|Scan ExistingRDD)\b"
)


def _python_nodes(plan: str) -> list:
    return _PYTHON_NODE.findall(plan)


def _sketch_engine(spark, tmp_path):
    """A plan-only engine whose epoch-0 cuckoo table exists on disk."""
    from fakepilot_spark.crawl.engine import CrawlConfig, CrawlEngine

    eng = CrawlEngine.__new__(CrawlEngine)
    eng.spark = spark
    eng.cfg = CrawlConfig(checkpoint_dir=str(tmp_path), seeds=[], cuckoo_partitions=4)
    eng.ckpt = tmp_path
    spark.createDataFrame([(0, b"")], "pid int, blob binary").write.parquet(
        eng._cuckoo_dir(0)
    )
    return eng


def _links(spark):
    # the expand step's shape: exploded links deduplicated to min depth
    return (
        spark.range(0, 200)
        .select(
            F.concat(F.lit("https://h/"), (F.col("id") % 50).cast("string")).alias("url"),
            F.lit(1).alias("depth"),
        )
        .groupBy("url")
        .agg(F.min("depth").alias("depth"))
    )


def test_crawl_drain_runs_no_python(spark):
    """Seeds, robots and politeness are JVM-local relations: the drain plan
    (robots filter, crawl-delay and budget joins, two-phase rank) scans
    ``LocalTableScan``s, never a Python-backed ``Scan ExistingRDD``."""
    from fakepilot_spark.crawl.engine import CrawlEngine
    from fakepilot_spark.crawl.frontier import seeds_frontier
    from fakepilot_spark.crawl.politeness import (
        admit_per_host,
        apply_robots,
        politeness_df,
        robots_df,
    )

    robots = robots_df(spark, {"h1.example.com": (["/private"], 30.0)})
    politeness = politeness_df(spark, {"h1.example.com": 1})
    frontier = seeds_frontier(
        spark, [f"https://h{i % 3}.example.com/p{i}" for i in range(20)]
    )
    admitted = admit_per_host(
        apply_robots(frontier, robots), politeness, 2,
        robots=robots, epoch_seconds=60.0,
    )
    eng = CrawlEngine.__new__(CrawlEngine)
    eng.spark = spark
    plan = _plan(eng._drain_batch(admitted, 10, pending_n=None))
    assert "LocalTableScan" in plan
    assert _python_nodes(plan) == [], plan


def test_sketch_probe_is_one_cogroup(spark, tmp_path):
    """Bloom and cuckoo are tested in ONE Python node, a cogroup of the links
    with the cuckoo table on pid. The link side shuffles twice (min-depth
    dedupe on url, then pid), the cuckoo side once."""
    from fakepilot_spark.crawl.sketches import BloomFilter

    eng = _sketch_engine(spark, tmp_path)
    bloom = BloomFilter.for_capacity(100).to_bytes()
    plan = _plan(eng._sketch_prefilter(_links(spark), bloom, cuckoo_epoch=0))
    assert _python_nodes(plan) == ["FlatMapCoGroupsInPandas"], plan
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_sketch_build_is_one_map_in_pandas(spark, tmp_path):
    """The build is one MapInPandas over the new hashes and the carried-forward
    cuckoo rows, shuffled once by pid — no per-pid merge stage, no RDD."""
    from fakepilot_spark.crawl.sketches import BloomFilter

    eng = _sketch_engine(spark, tmp_path)
    urls = _links(spark).select("url")
    plan = _plan(eng._sketch_rows(urls, 1, BloomFilter.for_capacity(100)))
    assert _python_nodes(plan) == ["MapInPandas"], plan
    # the previous epoch's cuckoo table is an input, unioned below the one
    # pid shuffle
    assert "Union" in plan and "struct<pid:int,blob:binary>" in plan
    assert "REPARTITION_BY_NUM" in plan
