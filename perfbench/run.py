"""Crawl and extraction benchmark for fakepilot_spark.

    python3 perfbench/run.py --workload crawl_fat --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts one Spark session on
``local[<cores this process may use>]``, builds the workload's inputs from
``--seed`` inside a private directory of the checkout, warms up untimed, then
runs closed-loop units (a whole crawl, or one extraction pass) until
``--seconds`` of timed wall have passed. Every unit's output is checked
afterwards. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` Spark writes an event log and the line carries
the per-layer metrics. Names and units come from ``BENCHMARK.json``; what each
metric means is in ``perfbench/README.md``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _isolate(run_dir: Path) -> None:
    """Keep every scratch file of this process, the JVM and the Python
    workers inside ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    (run_dir / "events").mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # a 2 GB heap fits a 15 GB host beside the Python workers, and these
    # inputs fill it, so the peak memory reads the same from run to run
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _session(run_dir: Path, cores: int, trace: bool):
    from fakepilot_spark.session import get_spark

    conf = {
        # the heap is committed and touched up front, so the JVM's share of
        # rss_peak_mb does not depend on when the collector grew the heap
        "spark.driver.defaultJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker has exited."""
    import procfs

    children = {p: st for p, st in procfs.tree().items() if p != os.getpid()}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procfs.wait_gone(children, timeout=30)


def _measure(w, seconds: float) -> dict:
    """The timed window: closed-loop units until ``seconds`` have passed."""
    import procfs

    sampler = procfs.RssPeak()
    cpu0 = procfs.cpu_by_group(procfs.tree())
    t0_ms = time.time() * 1e3
    sampler.start()
    t0 = time.perf_counter()
    urls, walls = 0, []
    while True:
        n, epoch_walls = w.unit()
        urls += n
        walls += epoch_walls
        if time.perf_counter() - t0 >= seconds:
            break
    wall = time.perf_counter() - t0
    t1_ms = time.time() * 1e3
    rss = sampler.stop()
    cpu1 = procfs.cpu_by_group(procfs.tree())
    return {
        "urls": urls, "wall": wall, "walls": walls, "rss": rss,
        "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0}, "window_ms": (t0_ms, t1_ms),
    }


def _trace_metrics(w, m: dict) -> dict:
    """Per-layer figures that need the live session; the event-log fold is
    added after the session stops."""
    import layers

    out = layers.extraction(w.sample_pages(8))
    out["corpus.write_s"] = w.write_s
    out["corpus.bytes"] = float(layers.du(w.corpus_dir)[0])
    out.update(w.trace_metrics())
    out["proc.jvm_cpu_s"] = m["cpu"]["jvm"]
    out["proc.python_cpu_s"] = m["cpu"]["python"]
    out["trace.urls_per_s"] = m["urls"] / m["wall"]
    return out


def _fold_event_log(run_dir: Path, m: dict, out: dict) -> str:
    """Add Spark's task and SQL metrics; return the per-layer table as text."""
    import eventlog

    (log,) = list((run_dir / "events").iterdir())
    with open(log) as f:
        folded = eventlog.fold(f, *m["window_ms"])
    epochs = max(out.pop("epochs"), 1)
    html = out.pop("html_fetched_bytes")
    py = folded["python"]
    udfs = py.get("udfs", {})
    out.update({
        "udfs.python_s": udfs.get("python_s", 0.0),
        "udfs.boot_s": udfs.get("boot_s", 0.0),
        "udfs.bytes_to_python": udfs.get("bytes_to_python", 0.0),
        "udfs.bytes_from_python": udfs.get("bytes_from_python", 0.0),
        "sketches.build_python_s": py.get("sketch_build", {}).get("python_s", 0.0),
        "sketches.probe_python_s": py.get("sketch_probe", {}).get("python_s", 0.0),
        "fetch.scan_bytes": float(folded["fetch_scan_bytes"]),
        "fetch.scan_per_fetched": folded["fetch_scan_bytes"] / html if html else 0.0,
        "fetch.task_skew": folded["fetch_task_skew"],
        "spark.jobs_per_epoch": folded["jobs"] / epochs,
        "spark.tasks_per_epoch": folded["tasks"] / epochs,
        "spark.other.share": folded["other_share"],
    })
    total = sum(r["run_s"] for r in folded["layers"].values()) or 1.0
    lines = [f"{'layer':<14}{'run_s':>9}{'cpu_s':>9}{'gc_s':>8}{'shuffle_MB':>12}{'share':>8}"]
    for layer, row in folded["layers"].items():
        for k, v in row.items():
            out[f"spark.{layer}.{k}"] = float(v)
        lines.append(
            f"{layer:<14}{row['run_s']:>9.2f}{row['cpu_s']:>9.2f}{row['gc_s']:>8.2f}"
            f"{row['shuffle_bytes'] / 1e6:>12.2f}{row['run_s'] / total:>8.1%}"
        )
    return "\n".join(lines)


def main(argv=None) -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    bench = ROOT / "BENCHMARK.json"
    if not (ROOT / "fakepilot_spark").is_dir() or not bench.is_file():
        print(f"perfbench: no fakepilot_spark package or BENCHMARK.json under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads(bench.read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    runs_root = ROOT / ".perfbench_runs"
    run_dir = runs_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    _isolate(run_dir)
    try:
        cores = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        spark = _session(run_dir, cores, bool(args.trace))
        session_s = time.perf_counter() - t
        try:
            w = workloads.WORKLOADS[args.workload](spark, run_dir, args.seed)
            w.build()
            w.warm_up()
            setup_s = time.perf_counter() - _T0
            m = _measure(w, args.seconds)
            attempted, failed = w.check()
            if args.trace:
                values = _trace_metrics(w, m)
                values["session.start_s"] = session_s
        finally:
            _stop(spark)
        detail = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "timed_s": m["wall"], "urls": m["urls"], "epoch_walls_s": m["walls"],
            "epoch_samples": len(m["walls"]),
        }
        if args.trace:
            print(_fold_event_log(run_dir, m, values))
        else:
            values = {
                "urls_per_s": m["urls"] / m["wall"],
                "cpu_ms_per_url": 1e3 * sum(m["cpu"].values()) / m["urls"],
                "epoch_s.p50": statistics.median(m["walls"]),
                "rss_peak_mb": m["rss"] / 2**20,
                "setup_s": setup_s,
            }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            runs_root.rmdir()
        except OSError:
            pass
    if args.trace:  # a layer the workload does not run reads 0
        values = {**dict.fromkeys((x["name"] for x in wanted), 0.0), **values}
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            x["name"]: {"value": float(values[x["name"]]), "unit": x["unit"]} for x in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
