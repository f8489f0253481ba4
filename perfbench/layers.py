"""Per-layer figures measured from outside the package for the traced run:
direct calls into each layer's public functions, the engine's manifests and
committed artifacts. Spark's own task and SQL metrics come from
``eventlog.fold``."""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

import numpy as np


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


def extraction(pages: list) -> dict:
    """``htmlmini.parse`` and the ``fields`` extractors on sample pages, in
    the order the UDF calls them; each figure is a per-page median of 3 calls."""
    from fakepilot_spark.extract.fields import company_record, link_hrefs, review_records
    from fakepilot_spark.htmlmini import parse

    samples: dict = {k: [] for k in ("parse", "company", "reviews", "links")}
    counts: dict = {"nodes": [], "reviews": [], "links": []}
    for blob in pages:
        per: dict = {k: [] for k in samples}
        for _ in range(3):
            dom, per_parse = _timed(parse, blob)
            _, per_company = _timed(company_record, dom)
            reviews, per_reviews = _timed(review_records, dom, 20)
            links, per_links = _timed(link_hrefs, dom)
            for k, v in zip(samples, (per_parse, per_company, per_reviews, per_links)):
                per[k].append(v)
        for k in samples:
            samples[k].append(statistics.median(per[k]))
        counts["nodes"].append(sum(1 for _ in dom.descendants))
        counts["reviews"].append(len(reviews))
        counts["links"].append(len(links))
    mean = statistics.fmean
    return {
        "htmlmini.parse_ms": 1e3 * mean(samples["parse"]),
        "htmlmini.nodes": mean(counts["nodes"]),
        "fields.company_ms": 1e3 * mean(samples["company"]),
        "fields.reviews_ms": 1e3 * mean(samples["reviews"]),
        "fields.links_ms": 1e3 * mean(samples["links"]),
        "fields.reviews": mean(counts["reviews"]),
        "fields.links": mean(counts["links"]),
    }


def sketch_calls(hashes: np.ndarray, cfg) -> dict:
    """Bloom and cuckoo calls on the run's seen-URL hashes at the configured
    sizes, per key, with keys split into cuckoo partitions as the engine
    splits them (``pmod(xxhash64(url), P)``)."""
    from fakepilot_spark.crawl.sketches import BloomFilter, CuckooFilter

    keys = hashes.view(np.uint64)
    n = len(keys)
    bloom = BloomFilter.for_capacity(cfg.bloom_capacity, cfg.bloom_fpp)
    _, add = _timed(bloom.add_many, keys)
    _, probe = _timed(bloom.contains_many, keys)
    cuckoo_add = cuckoo_probe = merge = 0.0
    merged = 0
    pids = hashes % cfg.cuckoo_partitions
    for pid in range(cfg.cuckoo_partitions):
        group = keys[pids == pid]
        cf = CuckooFilter.for_capacity(cfg.cuckoo_capacity_per_partition)
        cuckoo_add += _timed(cf.add_many, group)[1]
        cuckoo_probe += _timed(cf.contains_many, group)[1]
        half = len(group) // 2
        a = CuckooFilter.for_capacity(cfg.cuckoo_capacity_per_partition)
        b = CuckooFilter.for_capacity(cfg.cuckoo_capacity_per_partition)
        a.add_many(group[:half])
        b.add_many(group[half:])
        merge += _timed(a.merge, b)[1]
        merged += len(group) - half
    return {
        "sketches.bloom_add_us": 1e6 * add / n,
        "sketches.bloom_probe_us": 1e6 * probe / n,
        "sketches.cuckoo_add_us": 1e6 * cuckoo_add / n,
        "sketches.cuckoo_probe_us": 1e6 * cuckoo_probe / n,
        "sketches.cuckoo_merge_us": 1e6 * merge / max(merged, 1),
    }


def du(path: Path) -> tuple:
    """(bytes, files) under ``path``."""
    files = [f for f in path.rglob("*") if f.is_file()]
    return sum(f.stat().st_size for f in files), len(files)


def crawl_artifacts(spark, runs: list) -> dict:
    """Figures read back from the crawls' checkpoints: manifest step walls,
    table sizes, sketch health and what each sketch removed from the exact
    anti-join. ``runs``: (engine, summary, wall_s) per crawl."""
    import pyspark.sql.functions as F

    from fakepilot_spark.crawl.sketches import BloomFilter, CuckooFilter

    steps: dict = {}
    batch = pending = fetched = new = epochs = 0
    laps = walls = 0.0
    sizes: dict = {}
    files = 0
    for engine, _, wall in runs:
        ckpt = engine.ckpt
        manifests = {
            int(p.stem.split("_")[1]): json.loads(p.read_text())
            for p in (ckpt / "manifests").glob("epoch_*.json")
        }
        for e in sorted(k for k in manifests if k >= 0):
            m, prev = manifests[e], manifests[e - 1]
            for k, v in m["steps"].items():
                steps[k] = steps.get(k, 0.0) + v
            laps += sum(v for k, v in m["steps"].items() if k not in ("lineage_concurrent", "sketch_wait"))
            batch += m["batch"]
            pending += prev.get("pending_after", prev.get("seeded", 0))
            fetched += m["urls_fetched"]
            new += m["new_urls"]
            epochs += 1
        walls += wall
        for table in ("results", "new", "frontier", "lineage", "sketches"):
            size, count = du(ckpt / table)
            sizes[table] = sizes.get(table, 0) + size
            files += count
        files += du(ckpt / "manifests")[1]

    # sketch effect, replayed on the first crawl (every crawl of a run is
    # the same crawl): the links each epoch expanded, probed against the
    # sketches of the epoch before, as the engine probed them
    engine = runs[0][0]
    ckpt, cfg = engine.ckpt, engine.cfg
    links = bloom_new = cuckoo_new = seen_rows = sk_epochs = 0
    last_sketch = None
    for e in range(engine.last_committed_epoch() + 1):
        sk = ckpt / "sketches" / f"epoch={e - 1}"
        if not (sk / "bloom.bin").exists():
            continue
        last_sketch = sk
        hs = np.array([
            r["h"] for r in spark.read.parquet(str(ckpt / "results" / f"epoch={e}"))
            .select(F.explode("links").alias("url")).distinct()
            .select(F.xxhash64("url").alias("h")).collect()
        ], dtype=np.int64)
        bloom = BloomFilter.from_bytes((sk / "bloom.bin").read_bytes())
        maybe = bloom.contains_many(hs.view(np.uint64))
        tables = {
            r["pid"]: CuckooFilter.from_bytes(bytes(r["blob"]))
            for r in spark.read.parquet(str(sk / "cuckoo")).collect()
        }
        pids = hs % cfg.cuckoo_partitions
        in_cuckoo = np.zeros(len(hs), dtype=bool)
        for pid, cf in tables.items():
            mask = maybe & (pids == pid)
            in_cuckoo[mask] = cf.contains_many(hs[mask].view(np.uint64))
        links += len(hs)
        bloom_new += int((~maybe).sum())
        cuckoo_new += int((maybe & ~in_cuckoo).sum())
        seen_rows += spark.read.parquet(
            *[str(ckpt / "new" / f"epoch={k}") for k in range(-1, e)]
        ).count()
        sk_epochs += 1

    fill = load = 0.0
    if last_sketch is not None:
        bits = BloomFilter.from_bytes((last_sketch / "bloom.bin").read_bytes()).bits
        fill = float(np.unpackbits(bits.view(np.uint8)).mean())
        tables = [CuckooFilter.from_bytes(bytes(r["blob"]))
                  for r in spark.read.parquet(str(last_sketch / "cuckoo")).collect()]
        load = sum(int((t.table != 0).sum()) for t in tables) / sum(t.table.size for t in tables)

    per_epoch = 1 / max(epochs, 1)
    per_crawl = 1 / len(runs)
    return {
        "drain.s": steps.get("drain", 0.0) * per_epoch,
        "drain.admitted_frac": batch / max(pending, 1),
        "fetch_extract_write.s": steps.get("fetch_extract_write", 0.0) * per_epoch,
        "fetch.hit_frac": fetched / max(batch, 1),
        "sketch_wait.s": steps.get("sketch_wait", 0.0) * per_epoch,
        "sketches.bloom_fill": fill,
        "sketches.cuckoo_load": load,
        "sketches.bloom_new_frac": bloom_new / max(links, 1),
        "sketches.cuckoo_new_frac": cuckoo_new / max(links, 1),
        "expand.s": steps.get("expand", 0.0) * per_epoch,
        "expand.links": links / max(sk_epochs, 1),
        "expand.new_urls": new * per_epoch,
        "expand.antijoin_rows": (links - bloom_new - cuckoo_new) / max(sk_epochs, 1),
        "expand.seen_rows_read": seen_rows / max(sk_epochs, 1),
        "commit.s": steps.get("frontier_commit", 0.0) * per_epoch,
        "lineage.s": steps.get("lineage_concurrent", 0.0) * per_epoch,
        **{f"commit.bytes.{t}": v * per_crawl for t, v in sizes.items()},
        "commit.files": files * per_crawl,
        "commit.results_bytes_per_url": sizes["results"] / max(fetched, 1),
        "steps.coverage": laps / walls,
        "epochs": epochs,
    }
