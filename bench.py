"""Benchmark harness (driver contract).

Runs the headline suite at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric", "value" (total seconds), "unit": "sec", "queries": {name:
sec}, "sf", ...extras}.

Headline components:
* ``crawl_pipeline`` — the north-star metric: a multi-epoch frontier crawl
  (drain → robots/politeness → fetch-join → pandas-UDF extraction → expand →
  sketch-guarded dedupe → checkpoint) over a deterministic synthetic corpus
  sized by SF; reports urls/sec as ``urls_per_sec``.
* representative operator queries from the driver contract (forced with a
  noop write so timing measures execution, not result transfer).

Scaling evidence (north rule ≥0.8 N→4N) and per-layer timings come from
perfbench/run.py, which runs on local[<cores>] with the core count taken from
CPU affinity: ``taskset -c 0`` vs ``taskset -c 0-3`` gives local[1]→local[4]
(perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# N-run median mode (round-2 verdict task 4): this sandbox's host speed
# flaps 2-4x, so a single-shot bench conflates plan changes with weather.
# Every timing reported is the MEDIAN of N in-session repeats (corpus
# materialization, warmup and JVM startup are paid once, so repeats are
# cheap); per-run values ship in "per_run" so a reader can see the spread.
# default 3 (round-3 verdict task 7): a 2-run median is an average and
# cannot reject a single degraded host window; 3 runs can.
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

# queries timed in the relational/ops section of the headline suite
BENCH_QUERIES = [
    "pricing_summary",
    "nation_revenue",
    "segment_order_revenue",
    "window_top_orders_per_customer",
    "user_sessions",
    "doc_exact_dedup",
    "doc_token_stats",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_near_pairs",
    "embedding_cosine_topk",
    "embedding_lsh_buckets",
    "embedding_near_dup_pairs",
    "embedding_ivf_topk",
    "url_canonicalize",
    "doc_repetition_profile",
    "dedup_clusters",
    "dedup_clusters_minhash",
    "host_pagerank",
    "doc_dup_span_coverage",
    "stratified_sample_sources",
    "source_cap_sample",
    "tfidf_top_terms",
    "doc_pii_scrub",
    "source_mix_weights",
    "eval_decontaminate",
    "corpus_keep_filter",
    "doc_bm25_topk",
    "doc_split_assign",
    "doc_dsir_weight",
    "media_feature_profile",
    "stream_user_totals",
    "asof_order_before_event",
    "range_orders_near_event",
    "extract_synth_companies",
    "extract_synth_reviews",
    "frontier_topk_drain",
]


def _sf_of(path: str) -> float:
    name = Path(path).name
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _subtree_cpu_sec() -> float:
    """Total CPU seconds (utime+stime) of this process and every live
    descendant (the Spark JVM and its Python workers), via procfs.

    Sampled around the timed crawl: utilization = Δcpu / (wall × cores) is
    scaling evidence robust to this sandbox's fluctuating host speed — a
    slowed host lowers urls/sec but cannot fake kept-busy cores.
    """
    clk = os.sysconf("SC_CLK_TCK")
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                rest = f.read().rsplit(b")", 1)[-1].split()
        except OSError:
            continue
        # rest: state ppid pgrp ... utime(idx 11) stime(idx 12)
        procs[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    me = os.getpid()
    total = 0
    for pid, (ppid, ticks) in procs.items():
        p = pid
        seen = set()
        while p > 1 and p not in seen:
            if p == me:
                total += ticks
                break
            seen.add(p)
            p = procs.get(p, (0, 0))[0]
    return total / clk


def _force(df) -> None:
    """Execute the full plan, evaluating EVERY output column.

    ``count()`` is wrong here: Catalyst prunes projections count doesn't
    need, which silently skips e.g. extraction UDFs. The noop sink forces
    full evaluation without result transfer.
    """
    df.write.format("noop").mode("overwrite").save()


def crawl_bench(spark, sf: float, runs: int = 1) -> list[dict]:
    """The headline: crawl a synthetic corpus sized by SF, report urls/sec.

    Pages are fixture-realistic (~270 KB: 25 review cards + tag-soup ballast;
    real Trustpilot pages are 0.3–1 MB, SURVEY.md §0) and batches are large —
    the regime a production crawl actually runs in, where per-epoch scheduling
    overhead amortizes against Python-CPU extraction. The corpus is committed
    once (untimed) as an uncompressed parquet pages table — the sandbox
    analogue of the north rule's Iceberg pages corpus — and the timed crawl
    scans those files per epoch, so the measurement covers scan → broadcast
    fetch-join → vectorized extraction → expand → commit.
    """
    import hashlib

    from fakepilot_spark.corpus import materialize_corpus, synth_pages
    from fakepilot_spark.crawl.engine import CrawlConfig, CrawlEngine

    n_pages = int(os.environ.get("SPARK_GRAFT_CRAWL_PAGES", "0")) or max(
        2_000, int(280_000 * sf)
    )
    corpus_buckets = 64
    page_kwargs = dict(
        files=192, buckets=corpus_buckets, hosts=101,
        skew_mega_host=True, reviews_per_page=25, links_per_page=4,
        filler_kb=250,
    )
    # reuse key = n_pages + ALL generation kwargs: changing any page
    # characteristic produces a different directory, never a stale corpus
    kw_tag = hashlib.md5(
        json.dumps(page_kwargs, sort_keys=True).encode()
    ).hexdigest()[:10]
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS_DIR") or os.path.join(
        tempfile.gettempdir(), f"bench_corpus_{n_pages}_{kw_tag}"
    )
    # one-time, untimed: commit the pages table (Iceberg-style parquet,
    # bucketed by url hash so the fetch scan can prune); the timed crawl
    # scans these files like any production pages corpus.
    pages = materialize_corpus(spark, corpus_dir, n_pages, **page_kwargs)
    # one fetch-scan task per corpus file at ANY core count: each file is a
    # single parquet row group (~20 MB at bench scale), the natural parallel
    # grain of the bucketed corpus. The old bytes/(cores*10) sizing packed
    # 2-3 files per task, leaving a ragged last wave — measured ~5% of
    # 8-core wall idling in the fetch stage tail — while a sub-row-group
    # split would spawn empty byte-range tasks. split = max file + open
    # cost keeps every task exactly one file (192 files = whole multiples
    # of 2/8/32 cores). All three conf overrides are restored in the
    # finally below so the operator suite runs on session defaults.
    sizes = [
        f.stat().st_size for f in Path(corpus_dir).rglob("*.parquet")
    ]
    split = max(max(sizes) + (1 << 18), 1 << 20)
    saved_conf = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
            "spark.sql.parquet.columnarReaderBatchSize",
        )
    }
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 18))
    # ~64 rows/columnar batch: at ~270 KB/page the default 4096-row reader
    # batch would buffer ~1 GB per task — GC thrash, not scanning.
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "64")

    # steady-state warmup, untimed: spin up Python workers, compile codegen,
    # pull the corpus files through the OS page cache (cold-start is
    # identical at any cluster size and would otherwise pollute the ratio).
    from fakepilot_spark.extract.udfs import make_page_extractor

    warm = make_page_extractor(
        nreviews=20, with_reviews=True, with_links=True, strict=False
    )
    (
        synth_pages(spark, CPUS * 8, partitions=CPUS * 2)
        .select(warm("html").alias("x"))
        .write.format("noop").mode("overwrite").save()
    )
    pages.write.format("noop").mode("overwrite").save()

    results = []
    try:
        seeds = [
            r["url"]
            for r in pages.select("url").where("page_id % 3 = 1").collect()
        ]
        for _ in range(runs):
            ckpt = tempfile.mkdtemp(prefix="bench_crawl_")
            cfg = CrawlConfig(
                checkpoint_dir=ckpt,
                seeds=seeds,
                max_epochs=2,
                global_batch=n_pages,
                default_budget=n_pages,
                nreviews=20,
                use_sketches=True,
                bloom_capacity=max(n_pages * 4, 1 << 18),
                cuckoo_partitions=32,
                cuckoo_capacity_per_partition=max(n_pages // 4, 1 << 14),
                pages_path=corpus_dir,
                pages_buckets=corpus_buckets,
            )
            engine = CrawlEngine(spark, pages, cfg)
            cpu0 = _subtree_cpu_sec()
            t0 = time.time()
            summary = engine.run()
            wall = time.time() - t0
            cpu = _subtree_cpu_sec() - cpu0
            shutil.rmtree(ckpt, ignore_errors=True)
            fetched = summary["total_fetched"]
            results.append(
                {
                    "wall_sec": round(wall, 3),
                    "urls_fetched": fetched,
                    "urls_per_sec": round(fetched / wall, 2),
                    "epochs": len(summary["epochs"]),
                    "extract_errors": sum(
                        s["extract_errors"] for s in summary["epochs"]
                    ),
                    "epoch_steps": [s["steps"] for s in summary["epochs"]],
                    "cpu_sec": round(cpu, 1),
                    "cpu_per_url_ms": round(cpu * 1000 / max(fetched, 1), 1),
                    "utilization": round(cpu / (wall * CPUS), 3),
                }
            )
    finally:
        for k, v in saved_conf.items():
            spark.conf.set(k, v)
    return results


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(CPUS))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    from fakepilot_spark.ops import registry
    from fakepilot_spark.session import get_spark

    sf = _sf_of(SF_DIR)
    spark = get_spark(
        app_name=f"fakepilot-bench-sf{sf}",
        cores=CPUS,
        shuffle_partitions=max(CPUS, 32),
    )
    queries, _ = registry()

    from statistics import median

    timings: dict = {}
    per_run: dict = {}
    total = 0.0

    crawl_runs = crawl_bench(spark, sf, RUNS)
    crawl_wall = round(median(r["wall_sec"] for r in crawl_runs), 3)
    timings["crawl_pipeline"] = crawl_wall
    total += crawl_wall
    per_run["crawl_urls_per_sec"] = [r["urls_per_sec"] for r in crawl_runs]
    per_run["crawl_utilization"] = [r["utilization"] for r in crawl_runs]
    per_run["crawl_cpu_per_url_ms"] = [r["cpu_per_url_ms"] for r in crawl_runs]
    per_run["crawl_extract_errors"] = [r["extract_errors"] for r in crawl_runs]

    # one untimed pass per query: a query's first run from cold (Python
    # workers, codegen, file listing) measured 3-12x slower than its repeats
    for name in BENCH_QUERIES:
        _force(queries[name](spark, SF_DIR))
    q_samples: dict = {name: [] for name in BENCH_QUERIES}
    for _ in range(RUNS):
        for name in BENCH_QUERIES:
            fn = queries[name]
            t0 = time.time()
            _force(fn(spark, SF_DIR))
            q_samples[name].append(round(time.time() - t0, 3))
    for name in BENCH_QUERIES:
        timings[name] = round(median(q_samples[name]), 3)
        total += timings[name]
    per_run["queries"] = q_samples

    print(
        json.dumps(
            {
                "metric": "URLs fetched+extracted/sec (byte-identical vs fakepilot fixtures) + operator suite wall time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": CPUS,
                "runs": RUNS,
                "urls_per_sec": round(
                    median(r["urls_per_sec"] for r in crawl_runs), 2
                ),
                "urls_fetched": crawl_runs[0]["urls_fetched"],
                "per_run": per_run,
            }
        )
    )


if __name__ == "__main__":
    main()
