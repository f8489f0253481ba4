"""The epoch-loop crawl scheduler: drain → admit → fetch → extract → expand →
commit, resumable from per-epoch manifests.

Architecture (north rule, BASELINE.json:6,14):

* frontier = priority queue as a table; drain is a window rank inside hosts
  (politeness) + an ordered global ``LIMIT`` (micro-batch), both pure
  functions of (score desc, url asc) — parallelism-invariant by construction.
* URL-seen = broadcast bloom pre-filter (definitely-new links skip the exact
  anti-join) → per-partition cuckoo filters (second-stage, partitioned by
  ``pmod(xxhash64(url), P)``) → exact left-anti residual. One
  ``mapInPandas`` stage builds both sketches: each pid's cuckoo table is
  carried forward from the previous epoch and takes only the new hashes,
  and the per-task bloom fragments are or-ed on the driver into the one
  broadcastable blob. The probe is one cogroup of the links with the cuckoo
  table on pid (bloom, then cuckoo) — the driver never holds or ships
  per-partition cuckoo state.
* fetch = equi-join of the admitted batch against the pages corpus on ``url``
  (the sandbox's stand-in for HTTP; AQE splits the mega-host skew).
* extract = the vectorized pandas-UDF pipeline (company + reviews + links).
* commit = results (companies+reviews+links+lineage columns), then the
  new-URL delta/frontier snapshot/sketches by concurrent jobs of one epoch
  pool, all under ``epoch=N`` paths; the union of new-URL deltas through
  epoch N IS the URL-seen set (one table, column-pruned on read); the epoch
  manifest JSON is written last and is the atomic commit point — a kill
  anywhere before it re-runs the epoch, and resume replays from the highest
  manifest.

Iceberg surface: tables are partitioned Parquet behind stable paths (jars
absent in sandbox, SURVEY.md §8); on a real cluster the writes become
``writeTo(...).append()`` with identical layout.
"""

from __future__ import annotations

import datetime
import json
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from ..extract.udfs import make_page_extractor
from .frontier import FRONTIER_SCHEMA, score_expr, with_frontier_columns
from .politeness import admit_per_host, apply_robots, politeness_df, robots_df
from .sketches import BloomFilter, CuckooFilter

__all__ = ["CrawlConfig", "CrawlEngine"]


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    seeds: list
    max_epochs: int = 8
    global_batch: int = 10_000
    default_budget: int = 4
    nreviews: int = 3
    robots_rules: dict = field(default_factory=dict)
    host_budgets: dict = field(default_factory=dict)
    use_sketches: bool = True
    epoch_seconds: float = 60.0  # virtual epoch duration for crawl-delay caps
    bloom_capacity: int = 1 << 20
    bloom_fpp: float = 0.01
    cuckoo_partitions: int = 16
    cuckoo_capacity_per_partition: int = 1 << 16
    # hash-bucketed pages corpus (url-hash partition pruning in the fetch
    # scan): path of a parquet table partitioned by
    # pbucket = pmod(xxhash64(url), pages_buckets). When set, each epoch
    # scans ONLY the buckets its batch can hit instead of the full corpus.
    pages_path: str | None = None
    pages_buckets: int | None = None


def _manifest_path(ckpt: Path, epoch: int) -> Path:
    return ckpt / "manifests" / f"epoch_{epoch:05d}.json"


def sketch_builder(n_bits: int, n_hashes: int, capacity: int):
    """The sketch build's ``mapInPandas`` function over (pid, h, blob) rows.

    A row with a ``blob`` carries its pid's cuckoo table forward from the
    previous epoch; every other row is a new url hash ``h``. Yields one row
    per pid — the carried table (or a fresh one of ``capacity``) with only
    the new hashes inserted — plus a pid -1 row: the bloom of the new hashes.
    """

    def build(pdfs):
        carried: dict = {}
        new: dict = {}
        for pdf in pdfs:
            is_carried = pdf["blob"].notna()
            for pid, blob in zip(pdf["pid"][is_carried].tolist(), pdf["blob"][is_carried]):
                carried[pid] = bytes(blob)
            for pid, hs in pdf[~is_carried].groupby("pid")["h"]:
                new.setdefault(int(pid), []).append(hs.to_numpy().view(np.uint64))
        bloom = BloomFilter(n_bits, n_hashes)
        pids, blobs = [], []
        for pid in sorted(carried.keys() | new.keys()):
            cf = (
                CuckooFilter.from_bytes(carried[pid])
                if pid in carried
                else CuckooFilter.for_capacity(capacity)
            )
            if pid in new:
                # sorted: the table does not depend on shuffle arrival order
                hs = np.sort(np.concatenate(new[pid]))
                bloom.add_many(hs)
                cf.add_many(hs)
            pids.append(pid)
            blobs.append(cf.to_bytes())
        yield pd.DataFrame({"pid": pids + [-1], "blob": blobs + [bloom.to_bytes()]})

    return build


class CrawlEngine:
    def __init__(self, spark: SparkSession, pages: DataFrame, config: CrawlConfig):
        self.spark = spark
        self.pages = pages
        self.cfg = config
        self.ckpt = Path(config.checkpoint_dir)
        (self.ckpt / "manifests").mkdir(parents=True, exist_ok=True)
        self._extract = make_page_extractor(
            nreviews=config.nreviews, with_reviews=True, with_links=True, strict=False
        )
        self._robots = robots_df(spark, config.robots_rules)
        self._politeness = politeness_df(spark, config.host_budgets)
        if config.pages_path and config.pages_buckets:
            self._validate_pages_buckets()

    def _validate_pages_buckets(self) -> None:
        """Refuse to prune against a mismatched bucket layout.

        The fetch scan's ``pbucket.isin(...)`` filter is only correct when
        ``cfg.pages_buckets`` equals the modulus the pages table was
        MATERIALIZED with — a mismatch silently drops pages (fewer URLs
        fetched, no error). ``materialize_corpus`` records the modulus in
        ``_fps_corpus_meta.json``; absent that, fall back to the
        ``pbucket=N`` partition directory names (max index + 1 — exact
        whenever the top bucket is non-empty, which any corpus bigger than
        a few × buckets satisfies).
        """
        cfg = self.cfg
        root = Path(cfg.pages_path)
        meta = root / "_fps_corpus_meta.json"
        if meta.exists():
            actual = int(json.loads(meta.read_text())["pages_buckets"])
            src = "metadata file"
        else:
            idx = [
                int(p.name.split("=", 1)[1])
                for p in root.glob("pbucket=*")
                if p.is_dir()
            ]
            if not idx:
                raise ValueError(
                    f"pages_path {cfg.pages_path} has no pbucket=N "
                    "partition directories: bucket pruning would drop every "
                    "page. Re-materialize bucketed or set pages_buckets=None."
                )
            actual = max(idx) + 1
            src = "pbucket= directory layout"
        if actual != cfg.pages_buckets:
            raise ValueError(
                f"pages_buckets mismatch: config says {cfg.pages_buckets} "
                f"but the table at {cfg.pages_path} was materialized with "
                f"{actual} (from {src}). Bucket pruning with the wrong "
                "modulus silently drops pages."
            )

    # -- state io -----------------------------------------------------------

    def last_committed_epoch(self) -> int:
        epochs = [
            int(p.stem.split("_")[1])
            for p in (self.ckpt / "manifests").glob("epoch_*.json")
        ]
        return max(epochs, default=-1)

    def _frontier_path(self, epoch: int) -> str:
        if epoch == -1:
            # the epoch -1 pending snapshot IS the seed delta — one table
            return self._delta_path(-1)
        return str(self.ckpt / "frontier" / f"epoch={epoch}")

    def _delta_path(self, epoch: int) -> str:
        """Newly-enqueued URLs of one epoch (epoch -1 = the seed list).

        The union of deltas through epoch N IS the URL-seen set after N —
        one table serves both the frontier expansion and the seen-set reads
        (column-pruned to ``url`` by the parquet scan).
        """
        return str(self.ckpt / "new" / f"epoch={epoch}")

    def _read_seen_through(self, epoch: int) -> DataFrame:
        paths = [self._delta_path(e) for e in range(-1, epoch + 1)]
        return self.spark.read.schema(FRONTIER_SCHEMA).parquet(*paths).select("url")

    def _pending_count(self, prev_epoch: int) -> int | None:
        """Pending-frontier row count after ``prev_epoch``, from its committed
        manifest (zero-cost — no Spark job). None when unknown."""
        m = _manifest_path(self.ckpt, prev_epoch)
        if not m.exists():
            return None
        s = json.loads(m.read_text())
        if "pending_after" in s:
            return int(s["pending_after"])
        if "seeded" in s:
            return int(s["seeded"])
        return None

    def _drain_batch(
        self, admitted: DataFrame, k: int, pending_n: int | None
    ) -> DataFrame:
        """Exact (score desc, url asc) global top-``k`` micro-batch without a
        single-task sort or driver-side merge of the full frontier.

        * Fast path: when the whole pending frontier provably fits the batch
          (``pending_n <= k``, read from the previous epoch's manifest),
          every admitted row is in the batch — no ordering work at all
          (the batch is a set downstream; order never matters past the rank).
        * Otherwise two-phase, the same shape as
          ``politeness.admit_per_host``: phase 1 shuffles by a url-hash
          drain salt and keeps each salt group's local top-k (P parallel
          bounded sorts — no task ever sorts more than its hash share of the
          frontier); phase 2 ranks only the <= P*k phase-1 survivors. The
          phase-2 sort is one executor task, but its input is bounded by the
          prune and it spills to disk — unlike ``orderBy().limit(k)``
          (TakeOrderedAndProject), whose final merge materializes the whole
          multi-million-row batch in driver memory.
        """
        if pending_n is not None and pending_n <= k:
            return admitted
        from pyspark.sql import Window

        P = max(self.spark.sparkContext.defaultParallelism * 2, 8)
        w_local = Window.partitionBy("dsalt").orderBy(
            F.desc("score"), F.asc("url")
        )
        pruned = (
            admitted.withColumn(
                "dsalt", F.pmod(F.xxhash64("url"), F.lit(P)).cast("int")
            )
            .withColumn("dr", F.row_number().over(w_local))
            .filter(F.col("dr") <= k)
            .drop("dsalt", "dr")
        )
        w_global = Window.orderBy(F.desc("score"), F.asc("url"))
        return (
            pruned.withColumn("gr", F.row_number().over(w_global))
            .filter(F.col("gr") <= k)
            .drop("gr")
        )

    # -- sketches -----------------------------------------------------------

    def _sketch_dir(self, epoch: int) -> Path:
        return self.ckpt / "sketches" / f"epoch={epoch}"

    def _cuckoo_dir(self, epoch: int) -> str:
        return str(self._sketch_dir(epoch) / "cuckoo")

    def _sketch_rows(
        self,
        urls: DataFrame,
        epoch: int,
        bloom: BloomFilter,
        include_prev_cuckoo: bool = True,
    ) -> DataFrame:
        """The one-stage sketch build of ``epoch`` (a single ``mapInPandas``).

        Its input is the url hashes of ``urls`` unioned with the previous
        epoch's cuckoo table (one row per pid), repartitioned by pid =
        pmod(xxhash64(url), P): each pid's table is carried forward and takes
        only the new hashes (``include_prev_cuckoo=False`` on the
        rebuild-from-deltas path, where ``urls`` already is the whole seen
        set). Output: one (pid, cuckoo table) row per pid, plus one pid -1
        bloom fragment (``bloom``'s shape) of each task's new hashes.
        """
        P = self.cfg.cuckoo_partitions
        rows = urls.select(
            F.pmod(F.xxhash64("url"), F.lit(P)).cast("int").alias("pid"),
            F.xxhash64("url").alias("h"),
            F.lit(None).cast("binary").alias("blob"),
        )
        prev_dir = self._cuckoo_dir(epoch - 1)
        if include_prev_cuckoo and Path(prev_dir).exists():
            # carried rows get h = 0, not null: Arrow hands pandas a column
            # holding nulls as float64, which would round every 64-bit hash
            rows = rows.unionByName(
                self.spark.read.parquet(prev_dir).select(
                    "pid", F.lit(0).cast("long").alias("h"), "blob"
                )
            )
        # pid is the LOGICAL cuckoo partition; the physical shuffle width
        # follows cluster parallelism (several pids may share one task).
        width = min(P, self.spark.sparkContext.defaultParallelism)
        return rows.repartition(width, "pid").mapInPandas(
            sketch_builder(
                bloom.n_bits, bloom.n_hashes, self.cfg.cuckoo_capacity_per_partition
            ),
            "pid int, blob binary",
        )

    def _build_sketches(
        self,
        urls: DataFrame,
        prev_bloom: bytes | None,
        epoch: int,
        include_prev_cuckoo: bool = True,
    ) -> bytes:
        """Build and commit BOTH sketches of ``epoch`` in one job: the
        Python stage of :meth:`_sketch_rows` writes this epoch's cuckoo
        table, and its bloom fragments ride that write as an observed metric
        and are or-ed into ``prev_bloom`` — the one sketch the driver keeps,
        because broadcasting it is the point. The driver never holds cuckoo
        state, so P and capacity can scale with the corpus.

        ``bloom.bin`` is the completion marker: it is removed before the
        cuckoo write and written after it and after ``layout.json``, so a
        kill in between (on any attempt) leaves no marker. Returns the
        merged bloom blob.
        """
        (self._sketch_dir(epoch) / "bloom.bin").unlink(missing_ok=True)
        bloom = (
            BloomFilter.from_bytes(prev_bloom)
            if prev_bloom is not None
            else BloomFilter.for_capacity(self.cfg.bloom_capacity, self.cfg.bloom_fpp)
        )
        obs = Observation(f"sketches_{epoch}")
        self._sketch_rows(urls, epoch, bloom, include_prev_cuckoo).observe(
            obs,
            F.collect_list(F.when(F.col("pid") == -1, F.col("blob"))).alias("blooms"),
        ).filter(F.col("pid") >= 0).write.mode("overwrite").parquet(
            self._cuckoo_dir(epoch)
        )
        (self._sketch_dir(epoch) / "layout.json").write_text(
            json.dumps(self._sketch_layout())
        )
        for fragment in obs.get["blooms"]:
            bloom.merge(BloomFilter.from_bytes(bytes(fragment)))
        blob = bloom.to_bytes()
        self._write_bloom(epoch, blob)
        return blob

    def _sketch_prefilter(
        self, links: DataFrame, bloom_blob: bytes, cuckoo_epoch: int
    ) -> DataFrame:
        """Adds ``maybe_seen`` to the (url, depth) links: False ⇒ provably
        never enqueued (bloom, then cuckoo, both no-false-negative) ⇒ skips
        the exact anti-join.

        One cogroup of the links with the PARTITIONED cuckoo table on pid:
        each group tests the broadcast bloom, then the pid's cuckoo for the
        bloom-positive rows only — executor-side lookups against
        executor-side state, no driver collect and no multi-GB broadcast
        dict at high P. Bloom-negative links ride the pid exchange too; that
        costs a shuffle of (url, depth) and saves a second Python stage.
        """
        b_bloom = self.spark.sparkContext.broadcast(bloom_blob)
        P = self.cfg.cuckoo_partitions

        def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            hs = left["h"].to_numpy().view(np.uint64)
            maybe = BloomFilter.from_bytes(b_bloom.value).contains_many(hs)
            if right.empty:  # no url of this pid was ever inserted
                maybe[:] = False
            elif maybe.any():
                cf = CuckooFilter.from_bytes(bytes(right["blob"].iloc[0]))
                maybe[maybe] = cf.contains_many(hs[maybe])
            return left.assign(maybe_seen=maybe)

        hashed = links.select(
            "url",
            "depth",
            F.xxhash64("url").alias("h"),
            F.pmod(F.xxhash64("url"), F.lit(P)).cast("int").alias("pid"),
        )
        cuckoo_tbl = self.spark.read.parquet(self._cuckoo_dir(cuckoo_epoch))
        return (
            hashed.groupBy("pid")
            .cogroup(cuckoo_tbl.groupBy("pid"))
            .applyInPandas(probe, "url string, depth int, h long, pid int, maybe_seen boolean")
            .drop("h", "pid")
        )

    # -- fetch source -------------------------------------------------------

    def _fetch_corpus(self, batch: DataFrame, buckets: list | None = None) -> DataFrame:
        """The pages table the epoch's fetch join scans.

        When the corpus is committed bucketed by url hash
        (``pbucket = pmod(xxhash64(url), pages_buckets)``), the cached batch
        yields its distinct bucket set (a metadata-sized list, precomputed by
        the drain action when available) and the scan carries a partition
        filter — only matching bucket directories are read. Otherwise the
        full ``pages`` DataFrame is used as-is.
        """
        cfg = self.cfg
        if not (cfg.pages_path and cfg.pages_buckets):
            return self.pages.select("url", "warc_ts", "html")
        if buckets is None:
            buckets = [
                r["b"]
                for r in batch.select(
                    F.pmod(F.xxhash64("url"), F.lit(cfg.pages_buckets))
                    .cast("int")
                    .alias("b")
                )
                .distinct()
                .collect()
            ]
        return (
            self.spark.read.parquet(cfg.pages_path)
            .filter(F.col("pbucket").isin(buckets))
            .select("url", "warc_ts", "html")
        )

    # -- epoch step ---------------------------------------------------------

    def run(self, max_epochs: int | None = None) -> dict:
        """Run (or resume) the crawl; returns the summary of the whole run."""
        cfg = self.cfg
        limit = max_epochs if max_epochs is not None else cfg.max_epochs
        start_epoch = self.last_committed_epoch() + 1

        if start_epoch == 0:
            from .frontier import seeds_frontier

            frontier = seeds_frontier(self.spark, cfg.seeds)
            frontier.write.mode("overwrite").parquet(self._delta_path(-1))
            # no seed sketches here: epoch 0's _resolve_bloom(-1) builds them
            # from this delta
            _manifest_path(self.ckpt, -1).parent.mkdir(exist_ok=True)
            _manifest_path(self.ckpt, -1).write_text(
                json.dumps({"epoch": -1, "seeded": len(set(cfg.seeds))})
            )
            start_epoch = 0

        summaries = []
        for epoch in range(start_epoch, limit):
            summary = self._run_epoch(epoch, last=epoch == limit - 1)
            summaries.append(summary)
            if summary["pending_after"] == 0:
                break
        return {
            "epochs": summaries,
            "total_fetched": sum(s["urls_fetched"] for s in summaries),
        }

    def _write_bloom(self, epoch: int, bloom: bytes) -> None:
        """The bloom blob is the one driver-held sketch (it exists to be
        broadcast); the cuckoo table is committed distributedly by
        :meth:`_build_sketches` under the same epoch directory. Written
        atomically (tmp + rename) and strictly AFTER the cuckoo table, so
        ``bloom.bin`` present ⇒ the epoch's whole sketch set is complete."""
        import os

        d = self._sketch_dir(epoch)
        d.mkdir(parents=True, exist_ok=True)
        tmp = d / "bloom.bin.tmp"
        tmp.write_bytes(bloom)
        os.replace(tmp, d / "bloom.bin")

    def _sketch_layout(self) -> dict:
        """The pid modulus and hash bit layout a cuckoo table is built under."""
        return {"cuckoo_partitions": self.cfg.cuckoo_partitions, "layout": CuckooFilter.LAYOUT}

    def _resolve_bloom(self, epoch: int) -> bytes | None:
        """Bloom blob AFTER ``epoch``: the committed blob, or a rebuild from
        the delta union when it is missing (the last epoch of a run skips
        its build; a kill inside a rebuild leaves no marker) or was built
        under another layout (a resume with another ``cuckoo_partitions``),
        whose cuckoo tables the probe would misread."""
        if not self.cfg.use_sketches:
            return None
        d = self._sketch_dir(epoch)
        built = (d / "bloom.bin").exists() and (d / "layout.json").exists()
        if built and json.loads((d / "layout.json").read_text()) == self._sketch_layout():
            return (d / "bloom.bin").read_bytes()
        return self._rebuild_sketches(epoch)

    def _rebuild_sketches(self, epoch: int) -> bytes:
        """Sketches for ``epoch`` are missing or of another layout: rebuild
        BOTH sketches from the committed delta union (the exact seen set
        through ``epoch``) and commit them under this epoch.
        ``include_prev_cuckoo=False`` because the rebuild inserts every seen
        URL itself — unioning the previous cuckoo table would double-insert
        every fingerprint."""
        urls = self._read_seen_through(epoch)
        return self._build_sketches(urls, None, epoch, include_prev_cuckoo=False)

    def _run_epoch(self, epoch: int, last: bool = False) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        cfg = self.cfg
        t0 = time.time()
        steps: dict = {}

        def _lap(name: str, since: float) -> float:
            now = time.time()
            steps[name] = round(now - since, 3)
            return now

        # One pool per epoch carries the epoch's concurrent jobs: the bloom
        # resolve, delta, frontier and sketches (at most three at a time:
        # the resolve is joined before the last three are submitted).
        # The try/finally opens IMMEDIATELY after the pool exists: an
        # exception anywhere in the epoch must still join every in-flight
        # job, or an epoch retry could race a stale thread's mode=overwrite
        # parquet into the same epoch directory.
        epoch_pool = ThreadPoolExecutor(3)
        try:
            # bloom(epoch-1) is first needed at the expand; resolving it on
            # the pool overlaps a rebuild (epoch 0's seed sketches, or a
            # resume's first epoch) with the drain and fetch.
            fut_bloom = epoch_pool.submit(self._resolve_bloom, epoch - 1)
            t_step = t0
            pending = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
                self._frontier_path(epoch - 1)
            )

            # 1. robots + politeness admission, then the ordered global micro-batch.
            # Fast paths (semantics-preserving): an empty robots dim filters
            # nothing; a per-host budget >= global_batch can never exclude a row
            # that survives the ordered global limit (host rank <= global rank).
            allowed = (
                apply_robots(pending, self._robots) if cfg.robots_rules else pending
            )
            has_delay = any(
                d and d > 0 for _, d in cfg.robots_rules.values()
            )
            if cfg.host_budgets or cfg.default_budget < cfg.global_batch or has_delay:
                admitted = admit_per_host(
                    allowed,
                    self._politeness,
                    cfg.default_budget,
                    robots=self._robots if has_delay else None,
                    epoch_seconds=cfg.epoch_seconds,
                )
            else:
                admitted = allowed
            batch = self._drain_batch(
                admitted, cfg.global_batch, self._pending_count(epoch - 1)
            ).cache()
            # one action materializes the cache AND (for a bucketed corpus)
            # collects the batch's url-hash bucket set — no separate job for the
            # fetch-scan pruning metadata.
            if cfg.pages_path and cfg.pages_buckets:
                agg_row = batch.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.collect_set(
                        F.pmod(F.xxhash64("url"), F.lit(cfg.pages_buckets)).cast("int")
                    ).alias("bks"),
                ).first()
                batch_n, batch_buckets = int(agg_row["n"]), list(agg_row["bks"])
            else:
                batch_n, batch_buckets = batch.count(), None
            t_step = _lap("drain", t_step)

            # 2. fetch = join against the pages corpus. The batch (urls only) is
            # BROADCAST so the fat ``html`` column never shuffles — the corpus
            # side streams through scan → hash-probe → extract in one stage.
            # At 10^10 scale a multi-million-URL batch is still only a few
            # hundred MB of urls vs petabytes of pages; if the batch ever
            # outgrows broadcast, the fallback is a bucket-co-located join,
            # never an html shuffle. With a bucketed corpus (pages_path +
            # pages_buckets) the scan is further pruned to the url-hash
            # partitions the batch can actually hit — K epochs no longer cost
            # K full corpus scans.
            fetched = F.broadcast(batch.select("url", "depth")).join(
                self._fetch_corpus(batch, buckets=batch_buckets), "url", "inner"
            )

            # 3. extract (one Arrow batch per partition chunk) on the corpus scan
            # partitions — no repartition of page bytes. Extraction runs exactly
            # ONCE: the flattened results (links included) commit to the epoch's
            # results table in the same job, counts ride along as an observed
            # metric, and every downstream step re-reads the committed, column-
            # pruned parquet instead of re-evaluating (or caching) the UDF plan.
            # The same write carries the lineage (north rule fields): the
            # scan → join → UDF → write stage has no shuffle, so
            # ``spark_partition_id()`` is the fetch-scan task that writes the
            # row's ``part-NNNNN`` file.
            extracted = fetched.select(
                "url", "depth", "warc_ts", self._extract("html").alias("x")
            )
            results_dir = str(self.ckpt / "results" / f"epoch={epoch}")
            fetch_ts = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
            obs = Observation(f"results_{epoch}")
            results = extracted.select(
                "url", "depth", "warc_ts",
                F.col("x.company").alias("company"),
                F.col("x.reviews").alias("reviews"),
                F.col("x.links").alias("links"),
                F.col("x.error").alias("extract_error"),
                F.spark_partition_id().alias("partition_id"),
                F.lit(epoch).cast("int").alias("frontier_epoch"),
                F.lit(fetch_ts).cast("timestamp").alias("fetch_ts"),
            ).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count("extract_error").alias("extract_errors"),
            )
            # written straight off the scan partitions: extraction + write is ONE
            # stage, and the fat extracted structs (company/reviews/links) never
            # shuffle — one results file per fetch-scan task
            results.write.mode("overwrite").parquet(results_dir)
            fetched_n = int(obs.get["n"])
            extract_errors = int(obs.get["extract_errors"])
            res = self.spark.read.parquet(results_dir)
            t_step = _lap("fetch_extract_write", t_step)

            # 4. expand: normalize links, min-depth dedupe, sketch
            #    prefilter, exact residual anti-join against the full seen
            #    set; the epoch's delta commits once and is the seen-set
            #    increment.
            links = (
                res.select(
                    F.explode_outer("links").alias("url"),
                    (F.col("depth") + 1).alias("depth"),
                )
                .filter(F.col("url").startswith("http"))
                .groupBy("url")
                .agg(F.min("depth").alias("depth"))
            )
            seen = self._read_seen_through(epoch - 1)
            flagged = None
            bloom = fut_bloom.result()
            if bloom is not None:
                # pinned: both branches below read it, and the probe is a
                # Python stage; unpersisted once the commits are done
                flagged = self._sketch_prefilter(
                    links, bloom, cuckoo_epoch=epoch - 1
                ).persist()
                definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
                residual = (
                    flagged.filter(F.col("maybe_seen"))
                    .drop("maybe_seen")
                    .join(seen, "url", "left_anti")
                )
                new_urls = definitely_new.unionByName(residual)
            else:
                new_urls = links.join(seen, "url", "left_anti")
            # the expansion (prefilter + anti-join) is pinned; it materializes
            # exactly once INSIDE the concurrent commit jobs below (Spark's
            # per-block cache locks make later arrivals wait, never recompute),
            # so its compute overlaps the delta/frontier/sketch writes instead
            # of running as a separate serialized count pass. The row count
            # rides the delta write as an observed metric.
            new_frontier = with_frontier_columns(
                new_urls, F.col("depth"), epoch + 1
            ).persist()
            obs_delta = Observation(f"delta_{epoch}")
            t_step = _lap("expand", t_step)

            # 5. next frontier snapshot: survivors (pending minus this batch) +
            #    the newly discovered URLs; laid out by (host_prefix, salt).
            survivors = pending.join(batch.select("url"), "url", "left_anti")
            obs_front = Observation(f"frontier_{epoch}")
            next_frontier = (
                survivors.unionByName(new_frontier)
                .observe(obs_front, F.count(F.lit(1)).alias("n"))
                .repartition(
                    max(self.spark.sparkContext.defaultParallelism, 4),
                    "host_prefix",
                    "salt",
                )
            )

            # 4b+5+6 run CONCURRENTLY on the epoch pool: the delta commit,
            # the frontier snapshot and the sketch build all read the pinned
            # expansion and touch disjoint outputs — driver threads submit
            # the jobs so the cluster is never idle between them. The
            # manifest (the atomic commit point) writes strictly after every
            # one of them has finished. The LAST epoch of the run skips the
            # sketch build: nothing in this run reads its sketches, and a
            # resume rebuilds them from the delta union on first need.

            def _commit_delta() -> int:
                new_frontier.observe(
                    obs_delta, F.count(F.lit(1)).alias("n")
                ).write.mode("overwrite").parquet(self._delta_path(epoch))
                return int(obs_delta.get["n"])

            def _commit_frontier() -> int:
                next_frontier.write.mode("overwrite").parquet(
                    self._frontier_path(epoch)
                )
                return int(obs_front.get["n"])

            fut_delta = epoch_pool.submit(_commit_delta)
            fut_frontier = epoch_pool.submit(_commit_frontier)
            if bloom is not None and not last:
                epoch_pool.submit(
                    self._build_sketches, new_frontier.select("url"), bloom, epoch
                ).result()
            new_n = fut_delta.result()
            pending_after = fut_frontier.result()
        finally:
            epoch_pool.shutdown(wait=True)
        new_frontier.unpersist()
        if flagged is not None:
            flagged.unpersist()
        t_step = _lap("frontier_commit", t_step)

        summary = {
            "epoch": epoch,
            "batch": batch_n,
            "urls_fetched": fetched_n,
            "urls_missing": batch_n - fetched_n,
            "extract_errors": extract_errors,
            "new_urls": new_n,
            "pending_after": pending_after,
            "wall_sec": round(time.time() - t0, 3),
            "steps": steps,
        }
        _manifest_path(self.ckpt, epoch).write_text(json.dumps(summary))
        batch.unpersist()
        return summary

    # -- views over committed results ----------------------------------------

    def results_df(self) -> DataFrame:
        return self.spark.read.parquet(str(self.ckpt / "results"))

    def companies_df(self) -> DataFrame:
        r = self.results_df()
        return r.select("url", F.col("company.*"), "extract_error")

    def reviews_df(self) -> DataFrame:
        r = self.results_df()
        return r.select(
            "url", F.posexplode_outer("reviews").alias("review_idx", "rv")
        ).select("url", "review_idx", "rv.*")

    def fetched_urls_in_order(self) -> list:
        """Crawl order: per epoch, the fetched URLs sorted by url — the
        form ``oracle_crawl`` reports and the order tests must match."""
        out = []
        for epoch in range(self.last_committed_epoch() + 1):
            path = self.ckpt / "results" / f"epoch={epoch}"
            if not path.exists():
                continue
            rows = (
                self.spark.read.parquet(str(path))
                .select("url")
                .collect()
            )
            out.append(sorted(r["url"] for r in rows))
        return out
