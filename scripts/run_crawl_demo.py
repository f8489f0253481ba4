"""End-to-end crawl demo on a synthetic web with robots + politeness + resume.

Usage: python scripts/run_crawl_demo.py [n_pages]
Prints per-epoch summaries, oracle comparison, and sample extracted rows.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300

    from fakepilot_spark.corpus import synth_pages
    from fakepilot_spark.crawl.engine import CrawlConfig, CrawlEngine
    from fakepilot_spark.crawl.oracle import oracle_crawl
    from fakepilot_spark.extract.fields import link_hrefs
    from fakepilot_spark.htmlmini import parse
    from fakepilot_spark.session import get_spark

    spark = get_spark(app_name="crawl-demo")
    pages = synth_pages(spark, n, partitions=8, hosts=11, skew_mega_host=True).cache()
    seeds = [r["url"] for r in pages.select("url").limit(5).collect()]
    robots = {"host3.example.com": (["/review"], 1.0)}
    budgets = {"host0.example.com": 2}

    ckpt = tempfile.mkdtemp(prefix="crawl_demo_")
    cfg = CrawlConfig(
        checkpoint_dir=ckpt, seeds=seeds, max_epochs=4, global_batch=50,
        default_budget=3, robots_rules=robots, host_budgets=budgets,
        cuckoo_partitions=4, bloom_capacity=4096,
        cuckoo_capacity_per_partition=4096,
    )
    engine = CrawlEngine(spark, pages, cfg)
    summary = engine.run()
    for epoch in summary["epochs"]:
        print("epoch:", epoch)

    corpus = {
        r["url"]: [h for h in link_hrefs(parse(bytes(r["html"]))) if h.startswith("http")]
        for r in pages.select("url", "html").collect()
    }
    oracle = oracle_crawl(
        corpus, seeds, 4, 50, 3, host_budgets=budgets, robots_rules=robots
    )
    match = engine.fetched_urls_in_order() == oracle["fetched_per_epoch"]
    print(f"crawl ordering matches single-threaded oracle: {match}")
    print("sample extracted companies:")
    engine.companies_df().select("url", "name", "score", "nreviews").show(5, truncate=False)
    if not match:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
