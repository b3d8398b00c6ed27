"""End-to-end benchmark of the indexer: the ``serve`` and ``ingest`` workloads.

Usage (from the repository root)::

    python3 e2ebench/run.py --workload serve --seed 1 --seconds 28 --trace 0

The run makes its inputs from ``--seed`` inside a private work directory
(``.bench_work/``), sets up, measures for ``--seconds`` seconds, checks the
outputs and prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the run also writes a Spark
event log, opens a span around every call into a layer, and prints the
per-layer metrics. The line before it records the host (calibration probe
and load average). See ``e2ebench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E = ["setup_s", "req_p50_ms", "req_p90_ms", "req_per_s", "backfill_logs_per_s",
       "tail_batch_p50_ms", "tail_rows_per_s"]
E2E_UNITS = {"setup_s": "s", "req_p50_ms": "ms", "req_p90_ms": "ms", "req_per_s": "1/s",
             "backfill_logs_per_s": "1/s", "tail_batch_p50_ms": "ms",
             "tail_rows_per_s": "1/s"}
LAYERS = ["sources.ingest", "sources.tables", "sources.sinks", "ledger.prep", "agg",
          "operators.candles", "ledger.build", "ledger.pnl", "streaming.incremental",
          "serve.api", "serve.http_server"]
LAYER_FIGURES = {"wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
                 "exec_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
                 "spill_bytes": "bytes", "driver_gap_s": "s"}
ROUTES = ["activity", "trades", "candles", "market_stats", "discover", "leaderboard",
          "user_stats", "chart", "pnl", "positions", "ledger", "snapshots",
          "portfolio_history", "explain", "holders"]
EXTRA = {
    "serve.api.jobs_per_request": "count",
    "serve.http_server.health_p50_ms": "ms",
    "sources.tables.load_ms": "ms",
    "sources.ingest.decode_s": "s",
    "agg.mv_build_s": "s",
    "ledger.build.replay_s": "s",
    "ledger.build.wallets": "count",
    "streaming.incremental.candle_fold_ms": "ms",
    "streaming.incremental.balance_fold_ms": "ms",
    "streaming.incremental.jobs_per_batch": "count",
    "streaming.incremental.state_bytes_rewritten_per_batch": "bytes",
    "sources.sinks.bytes_written_per_log_byte": "ratio",
    "host.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    out = {f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_FIGURES.items()}
    out.update({f"serve.api.{r}_p50_ms": "ms" for r in ROUTES})
    out.update(EXTRA)
    return out


def _env(work: str) -> None:
    """Point every temporary, local and worker path into the work dir."""
    for sub in ("tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData") if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # mapInPandas workers import the package, so they need the repo root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def _start_spark(work: str, cores: int, trace: bool):
    from neomarket_clickhouse_indexer_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    return get_spark("e2ebench", cores=cores, extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit, so runs never overlap."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _calib_sec(spark) -> float:
    """The repository bench's host probe: a fixed CPU-bound 200M-row job."""
    t0 = time.perf_counter()
    (spark.range(0, 200_000_000, 1, 32)
     .selectExpr("sum(id * 2 + 1) AS s", "sum(id % 7) AS m")
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def _serve(spark, work, seed, seconds, tracer) -> dict:
    import serve_load

    state = serve_load.setup(spark, work, seed, tracer)
    try:
        res = serve_load.measure(state, seed, seconds, tracer)
    finally:
        serve_load.stop(state)
    res["errors"] = serve_load.check(state, res)
    res["setup_s"] = state["setup_s"]
    res["backfill_logs_per_s"] = state["backfill_logs_per_s"]
    layer = {"sources.tables.load_ms": state["load_ms"]}
    if tracer.enabled:
        for r in ROUTES:
            d = tracer.durations("serve.api", r) + (
                tracer.durations("serve.api", "leaderboard_volume")
                + tracer.durations("serve.api", "leaderboard_pnl")
                if r == "leaderboard" else [])
            layer[f"serve.api.{r}_p50_ms"] = median(d) * 1e3 if d else 0.0
        layer["serve.http_server.health_p50_ms"] = res["health_p50_ms"]
        layer["trace.overhead_pct"] = res["trace_overhead_pct"]
        res["units"] = res["traced_requests"]
    # jobs the measured requests launched; set-up calls are not under it
    res["jobs_per_unit"] = ("serve.api.jobs_per_request", "serve.http_server.jobs")
    res["layer"] = layer
    return res


def _ingest(spark, work, seed, seconds, tracer) -> dict:
    import ingest

    state = ingest.setup_ingest(spark, work, seed, tracer)
    tail = state["tail"]
    try:
        res = ingest.measure_ingest(spark, state, work, seconds, tracer)
    finally:
        tail.stop()
    res["setup_s"] = state["setup_s"]
    res["failed"] = 0
    res["errors"], wallets = ingest.backfill_check(spark, res["out"], state["logs"], seed)
    res["errors"] += tail.check()
    files = res["files"]
    res["groups"] = tail.groups
    res["units"] = len(files)
    res["jobs_per_unit"] = ("streaming.incremental.jobs_per_batch",
                            "streaming.incremental.jobs")
    ls = res["layer_s"]
    res["layer"] = {
        "streaming.incremental.candle_fold_ms": median(f["candle_ms"] for f in files),
        "streaming.incremental.balance_fold_ms": median(f["balance_ms"] for f in files),
        "sources.tables.load_ms": ls["sources.tables"] * 1e3,
        "sources.ingest.decode_s": ls["sources.ingest"],
        "agg.mv_build_s": ls["agg"],
        "ledger.build.replay_s": ls["ledger.build"],
        "ledger.build.wallets": wallets,
        "sources.sinks.bytes_written_per_log_byte": res["bytes_written_per_log_byte"],
        "trace.overhead_pct": res["trace_overhead_pct"],
    }
    if tracer.enabled:
        res["layer"]["streaming.incremental.state_bytes_rewritten_per_batch"] = median(
            f["state_bytes"] for f in files)
    return res


RUNNERS = {"serve": _serve, "ingest": _ingest}


def _layer_metrics(work: str, tracer, res: dict) -> dict[str, float]:
    import eventlog

    jobs = eventlog.fold(os.path.join(work, "eventlog"))
    stream_groups = res.get("groups", set())
    out = {name: 0.0 for name in per_layer_units()}
    for layer in LAYERS:
        owned = [j for j in jobs
                 if layer in j.group.split("/")
                 or (layer == "streaming.incremental" and j.group in stream_groups)]
        figs = eventlog.layer_figures(owned, tracer.intervals(layer))
        for k, v in figs.items():
            out[f"{layer}.{k}"] = float(v)
    name, jobs = res["jobs_per_unit"]
    if res["units"]:
        out[name] = out[jobs] / res["units"]
    out.update({k: float(v) for k, v in res["layer"].items()})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        _env(work)
        try:
            import neomarket_clickhouse_indexer_spark  # noqa: F401
        except ImportError as e:
            print(f"e2ebench: the program is not importable: {e}", file=sys.stderr)
            return 2
        from spans import Tracer, log

        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count() or 4
        host = {"cpus": cores, "loadavg_start": os.getloadavg()[0]}
        t0 = time.perf_counter()
        spark = _start_spark(work, cores, bool(args.trace))
        log(f"spark up: {time.perf_counter() - t0:.2f}s")
        try:
            host["calib_sec"] = _calib_sec(spark)
            log(f"calib_sec: {host['calib_sec']:.2f}s")
            tracer = Tracer(spark.sparkContext if args.trace else None)
            res = RUNNERS[args.workload](spark, work, args.seed, args.seconds, tracer)
        finally:
            t0 = time.perf_counter()
            _stop_spark(spark)
            log(f"spark down: {time.perf_counter() - t0:.2f}s")
        host["loadavg_end"] = os.getloadavg()[0]
        rss_kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss)
        for e in res["errors"]:
            print(f"e2ebench: check failed: {e}", file=sys.stderr)
        if args.trace:
            metrics = _layer_metrics(work, tracer, res)
            metrics["host.peak_rss_mb"] = rss_kb / 1024
            units = per_layer_units()
        else:
            metrics = {k: res[k] for k in E2E}
            units = E2E_UNITS
        print(json.dumps({"host": host}))
        print(json.dumps({
            "correct": not res["errors"],
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
