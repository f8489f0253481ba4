"""Crawl-semantics gate: the Spark engine must reproduce the single-threaded
oracle's crawl ordering and URL-seen set on a deterministic synthetic web,
with robots + politeness applied, and must resume from checkpoint to the
identical state (north rule, BASELINE.json:6,14).
"""

from __future__ import annotations

import json

import numpy as np
import pyspark.sql.functions as F
import pytest

from fakepilot_spark.corpus import synth_pages
from fakepilot_spark.crawl.engine import CrawlConfig, CrawlEngine, _manifest_path
from fakepilot_spark.crawl.oracle import oracle_crawl
from fakepilot_spark.crawl.sketches import BloomFilter, CuckooFilter
from fakepilot_spark.extract.fields import link_hrefs
from fakepilot_spark.htmlmini import parse

N_PAGES = 90
SEEDS = [
    "https://host0.example.com/review/c0",
    "https://host0.example.com/review/c3",
    "https://host2.example.com/review/c38",
    "https://missing.example.com/nowhere",  # exercises the 404 path
]
ROBOTS = {
    "host5.example.com": (["/review"], 1.0),
    # no disallow, but a crawl-delay that binds: floor(60 / 35) = 1 per epoch
    "host2.example.com": ([], 35.0),
}
BUDGETS = {"host0.example.com": 1}  # tighter budget on the mega-host


@pytest.fixture(scope="module")
def corpus_df(spark):
    return synth_pages(
        spark, N_PAGES, partitions=4, hosts=7, skew_mega_host=True,
        reviews_per_page=2, links_per_page=3,
    ).cache()


@pytest.fixture(scope="module")
def corpus_dict(corpus_df):
    """url -> links, built through the *independent* pure-Python parser path."""
    rows = corpus_df.select("url", "html").collect()
    return {
        r["url"]: [h for h in link_hrefs(parse(bytes(r["html"]))) if h.startswith("http")]
        for r in rows
    }


def _mk_engine(spark, corpus_df, tmp_path, use_sketches=True, cuckoo_partitions=4):
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path),
        seeds=SEEDS,
        max_epochs=4,
        global_batch=12,
        default_budget=2,
        nreviews=2,
        robots_rules=ROBOTS,
        host_budgets=BUDGETS,
        use_sketches=use_sketches,
        bloom_capacity=4096,
        cuckoo_partitions=cuckoo_partitions,
        cuckoo_capacity_per_partition=4096,
    )
    return CrawlEngine(spark, corpus_df, cfg)


@pytest.fixture(scope="module")
def oracle_result(corpus_dict):
    return oracle_crawl(
        corpus_dict,
        seeds=SEEDS,
        max_epochs=4,
        global_batch=12,
        default_budget=2,
        host_budgets=BUDGETS,
        robots_rules=ROBOTS,
    )


@pytest.fixture(scope="module")
def bloom_at_commit():
    """epoch -> whether its ``bloom.bin`` existed when that epoch's manifest
    had just been written; filled by ``engine_run``."""
    return {}


@pytest.fixture(scope="module")
def engine_run(spark, corpus_df, tmp_path_factory, bloom_at_commit):
    ckpt = tmp_path_factory.mktemp("crawl_ckpt")
    engine = _mk_engine(spark, corpus_df, ckpt)
    run_epoch = engine._run_epoch

    def run_epoch_and_record(epoch, last=False):
        summary = run_epoch(epoch, last=last)
        bloom_at_commit[epoch] = (engine.ckpt / "sketches" / f"epoch={epoch}" / "bloom.bin").exists()
        return summary

    engine._run_epoch = run_epoch_and_record
    summary = engine.run()
    return engine, summary


def test_crawl_ordering_matches_oracle(engine_run, oracle_result):
    engine, _ = engine_run
    assert engine.fetched_urls_in_order() == oracle_result["fetched_per_epoch"]


def test_seen_set_matches_oracle(engine_run, oracle_result, spark):
    engine, _ = engine_run
    last = engine.last_committed_epoch()
    seen = {
        r["url"] for r in engine._read_seen_through(last).collect()
    }
    assert seen == oracle_result["seen"]


def test_robots_respected(engine_run):
    engine, _ = engine_run
    fetched = [u for epoch in engine.fetched_urls_in_order() for u in epoch]
    assert fetched, "crawl fetched nothing"
    assert not [u for u in fetched if u.startswith("https://host5.example.com/review")]


def test_crawl_delay_caps_per_epoch(engine_run):
    """host2's robots crawl-delay (35 s, 60 s virtual epoch) caps it at 1
    fetch per epoch even though the default budget is 2."""
    engine, _ = engine_run
    for epoch_urls in engine.fetched_urls_in_order():
        host2 = [u for u in epoch_urls if u.startswith("https://host2.")]
        assert len(host2) <= 1


def test_politeness_budget_respected(engine_run):
    engine, _ = engine_run
    for epoch_urls in engine.fetched_urls_in_order():
        host0 = [u for u in epoch_urls if u.startswith("https://host0.")]
        assert len(host0) <= BUDGETS["host0.example.com"]


def test_extraction_outputs_present(engine_run):
    engine, summary = engine_run
    companies = engine.companies_df()
    assert companies.filter("extract_error is not null").count() == 0
    assert [ep["extract_errors"] for ep in summary["epochs"]] == [0] * len(summary["epochs"])
    assert companies.count() == summary["total_fetched"]
    reviews = engine.reviews_df()
    assert reviews.count() > 0


def test_lineage_accounts_for_every_fetch(engine_run, spark):
    """North-rule lineage fields (BASELINE.json:6) are columns of the
    results table: grouped by ``partition_id``, each epoch's rows sum to its
    fetch count, carry the epoch id and a fetch timestamp, and form exactly
    one group per results file, whose ``part-NNNNN`` index is the group's
    ``partition_id``."""
    engine, _ = engine_run
    for e in range(engine.last_committed_epoch() + 1):
        path = engine.ckpt / "results" / f"epoch={e}"
        groups = (
            spark.read.parquet(str(path))
            .groupBy("partition_id", "frontier_epoch", "fetch_ts",
                     F.input_file_name().alias("file"))
            .count()
            .collect()
        )
        assert sum(g["count"] for g in groups) == _manifest(engine, e)["urls_fetched"]
        assert {g["frontier_epoch"] for g in groups} == {e}
        assert all(g["fetch_ts"] is not None for g in groups)
        placed = sorted((g["file"].rsplit("/", 1)[1], g["partition_id"]) for g in groups)
        assert [name for name, _ in placed] == sorted(f.name for f in path.glob("part-*.parquet"))
        assert all(name.startswith(f"part-{pid:05d}-") for name, pid in placed), placed


def test_resume_reproduces_uninterrupted_run(spark, corpus_df, tmp_path_factory, engine_run):
    """Kill after 2 epochs, resume, compare to the uninterrupted run."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_resume")
    e1 = _mk_engine(spark, corpus_df, ckpt)
    e1.run(max_epochs=2)
    assert e1.last_committed_epoch() == 1
    e2 = _mk_engine(spark, corpus_df, ckpt)  # fresh engine = process restart
    e2.run()
    assert e2.fetched_urls_in_order() == full_engine.fetched_urls_in_order()


def test_sketches_do_not_change_results(spark, corpus_df, tmp_path_factory, engine_run, oracle_result):
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_nosketch")
    engine = _mk_engine(spark, corpus_df, ckpt, use_sketches=False)
    engine.run()
    assert engine.fetched_urls_in_order() == full_engine.fetched_urls_in_order()


def test_resume_rebuilds_missing_sketches(spark, corpus_df, tmp_path_factory, engine_run):
    """Manifest-present / sketches-absent state must resume exactly. It is
    the normal end-of-run state: the last epoch of a run never builds
    sketches (no epoch in that run consumes them), so a resume's first
    expand rebuilds both sketches from the committed delta union."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_sketchloss")
    e1 = _mk_engine(spark, corpus_df, ckpt)
    e1.run(max_epochs=2)
    last = e1.last_committed_epoch()
    assert last == 1
    sk = ckpt / "sketches" / f"epoch={last}"
    # the last epoch's sketch build is skipped by design: manifest
    # committed, sketches absent
    assert not (sk / "bloom.bin").exists()
    e2 = _mk_engine(spark, corpus_df, ckpt)  # fresh engine = process restart
    e2.run()
    assert e2.fetched_urls_in_order() == full_engine.fetched_urls_in_order()
    # the rebuilt sketches were committed under the epoch that lacked them,
    # with every seen URL inserted exactly once
    assert (sk / "bloom.bin").exists()
    _assert_sketches_hold_seen(spark, e2, last)


def _assert_sketches_hold_seen(spark, engine, epoch):
    """Every URL of the delta union through ``epoch`` probes positive against
    that epoch's ``bloom.bin`` and its pid's cuckoo row, and the cuckoo
    tables hold exactly one insert per seen URL (carried forward, never
    re-inserted)."""
    sk = engine.ckpt / "sketches" / f"epoch={epoch}"
    hs = np.array(
        [r["h"] for r in engine._read_seen_through(epoch).select(F.xxhash64("url").alias("h")).collect()],
        dtype=np.int64,
    )
    bloom = BloomFilter.from_bytes((sk / "bloom.bin").read_bytes())
    assert bloom.contains_many(hs.view(np.uint64)).all()
    tables = {
        r["pid"]: CuckooFilter.from_bytes(bytes(r["blob"]))
        for r in spark.read.parquet(str(sk / "cuckoo")).collect()
    }
    pids = hs % engine.cfg.cuckoo_partitions  # == pmod(xxhash64(url), P)
    for pid in np.unique(pids):
        assert tables[pid].contains_many(hs[pids == pid].view(np.uint64)).all(), pid
    assert sum(t.n_items for t in tables.values()) == len(hs)


def test_sketches_hold_every_seen_url(engine_run, spark):
    """The last built epoch's sketches have no false negative on the seen
    set, and no URL was enqueued twice across ``new/epoch=*``."""
    engine, summary = engine_run
    built = [
        e for e in range(-1, engine.last_committed_epoch() + 1)
        if (engine.ckpt / "sketches" / f"epoch={e}" / "bloom.bin").exists()
    ]
    assert max(built) >= 1, built  # at least one carried-forward build
    _assert_sketches_hold_seen(spark, engine, max(built))
    deltas = spark.read.parquet(str(engine.ckpt / "new")).select("url")
    assert deltas.count() == deltas.distinct().count()


def _manifest(engine, epoch):
    return json.loads(_manifest_path(engine.ckpt, epoch).read_text())


def test_manifest_counts_match_committed_tables(engine_run, spark):
    """Seen-set invariants, checked against the committed tables rather than
    the manifest's own arithmetic: each epoch's results table holds exactly
    ``urls_fetched`` rows, and the seed count plus every epoch's ``new_urls``
    is the distinct URL count of the delta union."""
    engine, summary = engine_run
    epochs = range(engine.last_committed_epoch() + 1)
    manifests = [_manifest(engine, e) for e in epochs]
    for m in manifests:
        results = spark.read.parquet(str(engine.ckpt / "results" / f"epoch={m['epoch']}"))
        assert results.count() == m["urls_fetched"], m["epoch"]
    seen = spark.read.parquet(str(engine.ckpt / "new")).select("url").distinct().count()
    assert _manifest(engine, -1)["seeded"] + sum(m["new_urls"] for m in manifests) == seen


def test_manifest_seeded_counts_distinct_seeds(spark, corpus_df, tmp_path):
    """A seed listed twice is enqueued once, and the epoch -1 manifest (which
    the first drain reads as the pending count) says so."""
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path),
        seeds=SEEDS + SEEDS[:1],
        global_batch=12,
        use_sketches=False,
    )
    engine = CrawlEngine(spark, corpus_df, cfg)
    engine.run(max_epochs=0)  # seeds only: writes new/epoch=-1 and its manifest
    seeded = spark.read.parquet(engine._delta_path(-1)).count()
    assert seeded == len(set(SEEDS))
    assert _manifest(engine, -1)["seeded"] == seeded
    assert engine._pending_count(-1) == seeded


def test_resume_after_kill_before_bloom_marker(spark, corpus_df, tmp_path_factory, engine_run):
    """Kill inside a resume's rebuild of epoch 1's sketches (epoch 1 was the
    last epoch of the run before, so it built none), between the cuckoo
    write and the ``bloom.bin`` rename: epoch 1's manifest and cuckoo table
    are on disk, its completion marker is not, and epoch 2 has no manifest
    (made here from a 3-epoch run by deleting those two files). The next
    resume must rebuild epoch 1's sketches from the delta union
    alone; unioning the stale cuckoo rows would insert every fingerprint
    twice, which the ``n_items == seen`` check catches."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_bloom_marker")
    e1 = _mk_engine(spark, corpus_df, ckpt)
    e1.run(max_epochs=3)
    sk = ckpt / "sketches" / "epoch=1"
    assert (sk / "cuckoo").is_dir()
    _manifest_path(ckpt, 2).unlink()
    (sk / "bloom.bin").unlink()
    e2 = _mk_engine(spark, corpus_df, ckpt)  # fresh engine = process restart
    assert e2.last_committed_epoch() == 1
    e2.run()
    assert e2.fetched_urls_in_order() == full_engine.fetched_urls_in_order()
    _assert_sketches_hold_seen(spark, e2, 1)


def test_manifest_commits_sketches(engine_run, bloom_at_commit):
    """Each epoch commits its sketches before its manifest, so a manifest
    implies ``bloom.bin``; only the run's last epoch skips the build."""
    last = max(bloom_at_commit)
    assert sorted(bloom_at_commit) == list(range(last + 1))
    for epoch, present in sorted(bloom_at_commit.items()):
        assert present == (epoch != last), (epoch, present)


@pytest.mark.parametrize("resume_partitions", [4, 2])
def test_resume_after_kill_before_manifest(
    spark, corpus_df, tmp_path_factory, engine_run, oracle_result, resume_partitions
):
    """Kill after epoch 2 wrote every table, its sketches included, but
    before its manifest. The resume re-runs epoch 2 over its own leftovers;
    a re-run that read its stale cuckoo rows instead of epoch 1's would
    insert fingerprints twice, which the ``n_items == seen`` check catches.
    Resumed under another ``cuckoo_partitions``, epoch 1's tables are keyed
    by the old pid modulus: probing them as they are would miss seen URLs
    and enqueue them again, so they must be rebuilt under the new one."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_kill_before_manifest")
    e1 = _mk_engine(spark, corpus_df, ckpt)
    e1.run(max_epochs=4)
    assert (ckpt / "sketches" / "epoch=2" / "bloom.bin").exists()
    _manifest_path(ckpt, 3).unlink()
    _manifest_path(ckpt, 2).unlink()
    # fresh engine = process restart
    e2 = _mk_engine(spark, corpus_df, ckpt, cuckoo_partitions=resume_partitions)
    assert e2.last_committed_epoch() == 1
    e2.run()
    assert e2.fetched_urls_in_order() == full_engine.fetched_urls_in_order()
    deltas = [r["url"] for r in spark.read.parquet(str(ckpt / "new")).select("url").collect()]
    assert len(deltas) == len(set(deltas))
    assert set(deltas) == oracle_result["seen"]
    _assert_sketches_hold_seen(spark, e2, 2)


def test_failed_sketch_build_leaves_no_marker(spark, corpus_df, tmp_path_factory, engine_run):
    """Epoch 1's first attempt committed its sketches and was killed before
    its manifest; the re-run's build then fails inside its cuckoo write. The
    first attempt's ``bloom.bin`` must not survive to vouch for that table:
    a later resume that re-runs epoch 1 as its last epoch (no build) would
    otherwise commit a manifest over a torn sketch set."""
    full_engine, _ = engine_run
    ckpt = tmp_path_factory.mktemp("crawl_failed_build")
    _mk_engine(spark, corpus_df, ckpt).run(max_epochs=3)
    bloom_1 = ckpt / "sketches" / "epoch=1" / "bloom.bin"
    assert bloom_1.exists()
    _manifest_path(ckpt, 2).unlink()
    _manifest_path(ckpt, 1).unlink()
    e2 = _mk_engine(spark, corpus_df, ckpt)
    e2._sketch_rows = lambda *args, **kwargs: spark.range(1).select(
        F.raise_error(F.lit("killed")).cast("int").alias("pid"),
        F.lit(None).cast("binary").alias("blob"),
    )
    with pytest.raises(Exception, match="killed"):
        e2.run()
    assert e2.last_committed_epoch() == 0
    assert not bloom_1.exists()
    _mk_engine(spark, corpus_df, ckpt).run(max_epochs=2)  # epoch 1 is last
    e4 = _mk_engine(spark, corpus_df, ckpt)
    e4.run()
    assert e4.fetched_urls_in_order() == full_engine.fetched_urls_in_order()
    _assert_sketches_hold_seen(spark, e4, 1)


def test_repeat_crawl_reuses_generated_code(spark, corpus_df, tmp_path, engine_run):
    """Epochs re-run the same plans, so after one warm crawl an identical
    crawl must find its generated classes in Spark's codegen cache. With the
    default 100-entry cache the crawl's working set evicts itself and every
    repeat recompiles ~260 classes; what remains are plans whose literals
    change per run (the results write's fetch timestamp)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    _mk_engine(spark, corpus_df, tmp_path).run()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled <= 16, compiled


def test_manifest_counts_extract_errors(spark, corpus_df, tmp_path):
    """Pages that fail extraction are counted in the manifest, from the
    results write's own observation."""
    bad = spark.createDataFrame(
        [("https://bad.example.com/a", b"<html></html>"), ("https://bad.example.com/b", b"")],
        "url string, html binary",
    )
    pages = corpus_df.select("url", "warc_ts", "html").unionByName(
        bad.select("url", F.lit(None).cast("timestamp").alias("warc_ts"), "html")
    )
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path),
        seeds=SEEDS[:2] + ["https://bad.example.com/a", "https://bad.example.com/b"],
        max_epochs=1,
        global_batch=12,
        nreviews=2,
        use_sketches=False,
    )
    summary = CrawlEngine(spark, pages, cfg).run()
    manifest = json.loads((tmp_path / "manifests" / "epoch_00000.json").read_text())
    assert manifest["extract_errors"] == summary["epochs"][0]["extract_errors"] == 2
    assert manifest["urls_fetched"] == 4
