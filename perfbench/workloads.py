"""The workloads. Each builds its inputs from the seed, warms up, runs
closed-loop units (a whole crawl, or one extraction pass) and checks every
unit it ran against its oracle.

Why each workload exists, and what it is sized to stress, is recorded in
``perfbench/README.md``.
"""

from __future__ import annotations

import random
import shutil
import time
import zipfile
from pathlib import Path

import check

ROOT = Path(__file__).resolve().parent.parent


def _row(r) -> dict:
    """A committed results row as canonical plain values."""
    company = r["company"].asDict(recursive=True) if r["company"] is not None else None
    reviews = None if r["reviews"] is None else [v.asDict(recursive=True) for v in r["reviews"]]
    links = None if r["links"] is None else list(r["links"])
    return check.canonical(company, reviews, links, r["extract_error"])


def _one_file_per_task(spark, table_dir: Path) -> None:
    """Read every table file in one scan task, as ``bench.py`` does: pages are
    fat, so the default packing leaves a ragged last wave, and the default
    4096-row reader batch would buffer ~1 GB per task."""
    biggest = max(f.stat().st_size for f in table_dir.rglob("*.parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(biggest + (1 << 18)))
    spark.conf.set("spark.sql.files.openCostInBytes", str(1 << 18))
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "64")


class Crawl:
    """Closed-loop crawls over one bucketed synthetic corpus of thin,
    link-heavy pages: the next crawl starts when the previous one has
    committed its last epoch. Robots disallow rules, crawl-delay caps and
    per-host budgets bind, and the batch is far smaller than the pending
    frontier, so the two-phase drain, both sketches and the anti-join all
    do real work every epoch."""

    N_PAGES, HOSTS, BUCKETS = 3000, 300, 8
    SHAPE = dict(hosts=HOSTS, skew_mega_host=True, reviews_per_page=2,
                 links_per_page=16, filler_kb=0)
    EPOCHS, BATCH, BUDGET, N_SEEDS = 4, 150, 4, 20

    def __init__(self, spark, run_dir: Path, seed: int) -> None:
        self.spark, self.run_dir = spark, run_dir
        self.rng = random.Random(seed)
        self.runs: list = []  # (engine, summary, wall_s)

    # -- inputs -------------------------------------------------------------

    def build(self) -> None:
        from fakepilot_spark.corpus import materialize_corpus

        self.corpus_dir = self.run_dir / "corpus"
        t = time.perf_counter()
        self.pages = materialize_corpus(
            self.spark, str(self.corpus_dir), self.N_PAGES,
            files=self.BUCKETS, buckets=self.BUCKETS, **self.SHAPE,
        )
        self.write_s = time.perf_counter() - t
        _one_file_per_task(self.spark, self.corpus_dir)
        self.seeds = self._urls(self.rng.sample(range(self.N_PAGES), self.N_SEEDS))
        names = [f"host{h}.example.com" for h in range(1, self.HOSTS)]
        self.rng.shuffle(names)
        k = len(names) // 10
        self.robots, self.host_budgets = {}, {}
        for name in names[:k]:  # disallow one leading id digit
            self.robots[name] = ([f"/review/c{self.rng.randint(1, 9)}"], 0.0)
        for name in names[k : 2 * k]:  # crawl-delay caps of 3 or 1 per epoch
            self.robots[name] = ([], self.rng.choice([20.0, 35.0]))
        for name in names[2 * k : 2 * k + k // 2]:
            self.host_budgets[name] = self.rng.choice([1, 2])
        self.host_budgets["host0.example.com"] = 3 * self.BUDGET  # the mega-host

    def _urls(self, ids) -> list:
        return [check.page_url(p, self.HOSTS, True) for p in sorted(ids)]

    def _config(self, ckpt: Path, seeds: list, epochs: int, batch: int):
        from fakepilot_spark.crawl.engine import CrawlConfig

        return CrawlConfig(
            checkpoint_dir=str(ckpt), seeds=seeds, max_epochs=epochs,
            global_batch=batch, default_budget=self.BUDGET, nreviews=20,
            robots_rules=self.robots, host_budgets=self.host_budgets,
            use_sketches=True, bloom_capacity=4 * self.N_PAGES, cuckoo_partitions=8,
            cuckoo_capacity_per_partition=self.N_PAGES // 2,
            pages_path=str(self.corpus_dir), pages_buckets=self.BUCKETS,
        )

    # -- phases -------------------------------------------------------------

    def warm_up(self) -> None:
        """A 2-epoch crawl from other seeds, untimed: every engine path,
        the two-phase drain and the deferred sketch build included, runs
        until the JIT has compiled it."""
        from fakepilot_spark.crawl.engine import CrawlEngine

        ckpt = self.run_dir / "warmup"
        seeds = self._urls(self.rng.sample(range(self.N_PAGES), self.N_SEEDS))
        CrawlEngine(self.spark, self.pages, self._config(ckpt, seeds, 2, self.BATCH)).run()
        shutil.rmtree(ckpt)

    def unit(self) -> tuple:
        from fakepilot_spark.crawl.engine import CrawlEngine

        cfg = self._config(
            self.run_dir / f"crawl{len(self.runs)}", self.seeds, self.EPOCHS, self.BATCH
        )
        engine = CrawlEngine(self.spark, self.pages, cfg)
        t = time.perf_counter()
        summary = engine.run()
        wall = time.perf_counter() - t
        self.runs.append((engine, summary, wall))
        return summary["total_fetched"], [e["wall_sec"] for e in summary["epochs"]]

    def check(self) -> tuple:
        from fakepilot_spark.crawl.oracle import oracle_crawl

        n, hosts, links = self.N_PAGES, self.HOSTS, self.SHAPE["links_per_page"]
        oracle = oracle_crawl(
            check.link_graph(n, hosts, True, links), self.seeds,
            max_epochs=self.EPOCHS, global_batch=self.BATCH,
            default_budget=self.BUDGET, host_budgets=self.host_budgets,
            robots_rules=self.robots,
        )

        def expected(url):
            return check.expected_row(check.page_id(url), n, hosts, True,
                                      self.SHAPE["reviews_per_page"], links, 20)

        attempted = failed = 0
        for engine, _, _ in self.runs:
            ckpt = engine.ckpt
            seen = {r["url"] for r in self.spark.read.parquet(str(ckpt / "new")).select("url").collect()}
            rows: dict = {}
            for r in self.spark.read.parquet(str(ckpt / "results")).collect():
                rows.setdefault(r["url"], []).append(_row(r))
            a, bad = check.check_crawl(engine.fetched_urls_in_order(), seen, rows, oracle, expected)
            attempted, failed = attempted + a, failed + len(bad)
        return attempted, failed

    def sample_pages(self, k: int) -> list:
        """html of ``k`` seed-chosen pages of this corpus, for direct calls."""
        import pyspark.sql.functions as F

        urls = self._urls(self.rng.sample(range(self.N_PAGES), k))
        return [bytes(r["html"]) for r in
                self.pages.where(F.col("url").isin(urls)).select("html").collect()]

    def trace_metrics(self) -> dict:
        """Checkpoint figures, direct sketch calls on the run's seen-URL
        hashes, and the html bytes the crawls fetched."""
        import numpy as np
        import pyspark.sql.functions as F

        import layers

        engine = self.runs[0][0]
        out = layers.crawl_artifacts(self.spark, self.runs)
        hashes = np.array([
            r["h"] for r in self.spark.read.parquet(str(engine.ckpt / "new"))
            .select(F.xxhash64("url").alias("h")).collect()
        ], dtype=np.int64)
        out.update(layers.sketch_calls(hashes, engine.cfg))
        urls = self.spark.read.parquet(str(engine.ckpt / "results")).select("url")
        html = self.pages.join(urls, "url").agg(F.sum(F.length("html"))).first()[0]
        out["html_fetched_bytes"] = float(html) * len(self.runs)  # every crawl is the same
        return out


class Fixtures:
    """The 17 real fixture pages, replicated into a pages table and extracted
    pass after pass with the engine's extractor, bypassing the crawl."""

    COPIES = 12

    def __init__(self, spark, run_dir: Path, seed: int) -> None:
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.rng = random.Random(seed)
        self.passes: list = []

    def build(self) -> None:
        import pyspark.sql.functions as F

        from fakepilot_spark.extract.fields import company_record, link_hrefs, review_records
        from fakepilot_spark.extract.udfs import make_page_extractor
        from fakepilot_spark.htmlmini import parse

        with zipfile.ZipFile(ROOT / "tests" / "data" / "text_files.zip") as zf:
            self.html = {i.filename: zf.read(i) for i in zf.infolist()}
        self.reference = {}
        for name, blob in self.html.items():
            dom = parse(blob)
            company = company_record(dom)
            company["company_url"] = company.pop("url")
            links = [h for h in link_hrefs(dom) if h.startswith("http")]
            self.reference[name] = check.digest(
                check.canonical(company, review_records(dom, 20), links, None)
            )
        self.corpus_dir = self.run_dir / "corpus"
        t = time.perf_counter()
        unique = self.spark.createDataFrame(sorted(self.html.items()), "name string, html binary")
        (
            unique.crossJoin(self.spark.range(self.COPIES).withColumnRenamed("id", "copy"))
            .select(F.concat(F.lit("fixture://"), "name", F.lit("/"), "copy").alias("url"), "html")
            .repartition(8)
            .sortWithinPartitions(F.xxhash64("url", F.lit(self.seed)))
            .write.option("compression", "none").parquet(str(self.corpus_dir))
        )
        self.write_s = time.perf_counter() - t
        _one_file_per_task(self.spark, self.corpus_dir)
        self.pages = self.spark.read.parquet(str(self.corpus_dir))
        self.urls = [r["url"] for r in self.pages.select("url").collect()]
        self.extract = make_page_extractor(
            nreviews=20, with_reviews=True, with_links=True, strict=False
        )

    def _write(self, pages, out: Path) -> None:
        import pyspark.sql.functions as F

        (
            pages.select("url", self.extract("html").alias("x"))
            .select("url", F.col("x.company").alias("company"), F.col("x.reviews").alias("reviews"),
                    F.col("x.links").alias("links"), F.col("x.error").alias("extract_error"))
            .write.mode("overwrite").parquet(str(out))
        )

    def warm_up(self) -> None:
        """Two untimed passes over the whole pages table: after one, pass
        walls still fall by ~10% over the next few."""
        for _ in range(2):
            self._write(self.pages, self.run_dir / "warmup")
        shutil.rmtree(self.run_dir / "warmup")

    def unit(self) -> tuple:
        out = self.run_dir / "results" / f"pass={len(self.passes)}"
        t = time.perf_counter()
        self._write(self.pages, out)
        wall = time.perf_counter() - t
        self.passes.append(out)
        return len(self.urls), [wall]

    @staticmethod
    def _name(url: str) -> str:
        return url[len("fixture://"):].rsplit("/", 1)[0]

    def check(self) -> tuple:
        attempted = failed = 0
        for out in self.passes:
            rows = [(r["url"], _row(r)) for r in self.spark.read.parquet(str(out)).collect()]
            a, f = check.check_digests(rows, self.urls, self.reference, self._name)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def sample_pages(self, k: int) -> list:
        names = sorted(self.html)
        return [self.html[n] for n in self.rng.sample(names, min(k, len(names)))]

    def trace_metrics(self) -> dict:
        """The crawl layers are bypassed; an epoch is one pass."""
        html = sum(len(self.html[self._name(u)]) for u in self.urls)
        return {"epochs": len(self.passes), "html_fetched_bytes": float(html * len(self.passes))}


WORKLOADS = {"crawl_wide": Crawl, "extract_fixtures": Fixtures}
