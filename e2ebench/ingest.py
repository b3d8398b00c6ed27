"""``ingest`` workload: the indexer's write path, as a backfill and a tail.

Backfill: seeded raw logs go one pass through
decode (``sources.ingest``) → bronze sinks (``sources.sinks``) →
``sources.tables`` → ``ledger.prep`` → the ``agg`` MV builders and the 1m
candle tier (``operators.candles``) → the FIFO replay (``ledger.build``) →
the daily rollup (``ledger.pnl``). Every layer writes its output through
``sources.sinks``, so its span includes the action that runs its plan.

Tail: more logs from the same generator, cut into block-ordered files that
land one at a time. Two ``streaming.incremental`` folds run side by side,
the candle fold over decoded fills and the additive balance fold over
decoded transfers; after each file lands both are driven to completion.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import duckdb
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from neomarket_clickhouse_indexer_spark import agg
from neomarket_clickhouse_indexer_spark.ledger import build, pnl, prep
from neomarket_clickhouse_indexer_spark.ledger.engine import LedgerEngine
from neomarket_clickhouse_indexer_spark.operators.candles import finalize, ohlcv
from neomarket_clickhouse_indexer_spark.sources import ingest, sinks
from neomarket_clickhouse_indexer_spark.sources.tables import load_table
from neomarket_clickhouse_indexer_spark.streaming.incremental import (
    incremental_additive_stream,
    incremental_candles_stream,
    merge_candle_states,
)
from neomarket_clickhouse_indexer_spark.verify.invariants import check_non_negative_inventory

import gen
from spans import log

BACKFILL_LOGS = 25_000
WARMUP_LOGS = 1_000
TAIL_FILES, TAIL_LOGS_PER_FILE, TAIL_WARMUP_FILES = 24, 2_500, 3
SETUP_REPS = 3
BALANCE_BUCKETS = 8
MVS = ("user_balances", "token_last_price", "token_volume_1h",
       "wallet_token_buys", "wallet_leaderboard_stats")


def _fills(trades):
    """Decoded fills as candle input: price per token, a total log order."""
    return trades.filter(F.col("token_amount") > 0).select(
        "token_id",
        "block_timestamp",
        (F.col("usdc_amount").cast("double") / F.col("token_amount").cast("double")).alias("price"),
        (F.col("block_number") * 100_000 + F.col("log_index")).alias("ord"),
    )


def _balance_partials(transfers):
    return agg.user_balances(transfers).withColumn(
        "bucket", F.pmod(F.hash("wallet"), F.lit(BALANCE_BUCKETS))
    )


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- backfill ---------------------------------------------------------------

def backfill_pass(spark, raw_dir: str, out: str, tracer) -> dict:
    """One pass over the raw logs in ``raw_dir``; returns per-layer seconds."""
    times: dict[str, float] = {}

    def step(layer: str, label: str, fn):
        t0 = time.perf_counter()
        with tracer.span(layer, label):
            fn()
        times[layer] = times.get(layer, 0.0) + time.perf_counter() - t0

    def write(df, name: str, partition_by=None):
        with tracer.span("sources.sinks", name):
            if partition_by:
                sinks.replace_partitions(df, os.path.join(out, name), partition_by)
            else:
                sinks.append(df, os.path.join(out, name))

    raw = spark.read.schema(ingest.RAW_LOG_SCHEMA).parquet(raw_dir)
    step("sources.ingest", "decode", lambda: (
        write(ingest.decode_order_filled(raw), "trades.parquet"),
        write(ingest.decode_transfer_single(raw), "transfers.parquet"),
    ))
    tables = {}

    def load():
        tables["trades"] = load_table(spark, out, "trades")
        tables["transfers"] = load_table(spark, out, "transfers")

    step("sources.tables", "load", load)
    trades, transfers = tables["trades"], tables["transfers"]
    step("ledger.prep", "normalize", lambda: write(
        prep.normalize_trades(trades).unionByName(prep.normalize_transfers(
            transfers, skip_tx_hashes=trades.select("tx_hash"),
            operator_whitelist=[gen.EXCHANGE],
        )),
        "ledger_events",
    ))
    step("agg", "mv_build", lambda: [
        write(getattr(agg, mv)(transfers if mv == "user_balances" else trades), mv)
        for mv in MVS
    ])
    step("operators.candles", "candles_1m", lambda: write(
        ohlcv(_fills(trades), key="token_id", ts="block_timestamp", price="price",
              ord_col="ord"),
        "candles_1m",
    ))
    step("ledger.build", "wallet_ledger", lambda: write(
        build.build_wallet_ledger(sinks.read(spark, os.path.join(out, "ledger_events"))),
        "wallet_ledger",
    ))
    step("ledger.pnl", "rollup_realized_1d", lambda: write(
        pnl.rollup_realized_1d(sinks.read(spark, os.path.join(out, "wallet_ledger"))),
        "rollup_realized_1d", partition_by=["day"],
    ))
    return times


def backfill_check(spark, out: str, logs: gen.RawLogs, seed: int) -> tuple[list[str], int]:
    """Check the last pass's outputs; returns (errors, distinct ledger wallets)."""
    errors = []
    con = duckdb.connect()
    for name in ("trades", "transfers", "user_balances", "token_volume_1h",
                 "wallet_ledger", "ledger_events"):
        path = os.path.join(out, name if name.startswith(("user", "token", "wallet", "ledger"))
                            else f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    t = logs.tallies
    got = con.execute(
        "SELECT (SELECT count(*) FROM trades), (SELECT count(*) FROM transfers), "
        "(SELECT sum(usdc_amount) FROM trades), (SELECT sum(token_amount) FROM trades), "
        "(SELECT sum(fee) FROM trades), (SELECT sum(value) FROM transfers)"
    ).fetchone()
    want = (t["fills"], t["transfers"], t["usdc_amount"], t["token_amount"], t["fee"],
            t["transfer_value"])
    if tuple(int(g or 0) for g in got) != want:
        errors.append(f"decoded tallies {got} != generator {want}")
    diff = con.execute(
        "WITH d AS (SELECT \"to\" AS wallet, token_id, CAST(value AS DECIMAL(38,0)) AS v "
        "FROM transfers WHERE \"to\" <> '0x' || repeat('0', 40) UNION ALL "
        "SELECT \"from\", token_id, -CAST(value AS DECIMAL(38,0)) FROM transfers "
        "WHERE \"from\" <> '0x' || repeat('0', 40)), "
        "o AS (SELECT wallet, token_id, sum(v) AS balance FROM d GROUP BY ALL) "
        "SELECT count(*) FROM o FULL JOIN user_balances u USING (wallet, token_id) "
        "WHERE o.balance IS DISTINCT FROM u.balance"
    ).fetchone()[0]
    if diff:
        errors.append(f"user_balances differs from DuckDB on {diff} rows")
    diff = con.execute(
        "WITH o AS (SELECT token_id, date_trunc('hour', block_timestamp) AS hour, "
        "sum(CAST(usdc_amount AS DOUBLE) / 1e6) AS volume, count(*) AS trades "
        "FROM trades GROUP BY ALL) "
        "SELECT count(*) FROM o FULL JOIN token_volume_1h v "
        "ON o.token_id = v.token_id AND o.hour = v.hour "
        "WHERE o.trades IS DISTINCT FROM v.trades OR abs(o.volume - v.volume) > 1e-6"
    ).fetchone()[0]
    if diff:
        errors.append(f"token_volume_1h differs from DuckDB on {diff} rows")
    wallets = con.execute("SELECT count(DISTINCT wallet) FROM wallet_ledger").fetchone()[0]

    entries = sinks.read(spark, os.path.join(out, "wallet_ledger"))
    flagged = {r["wallet"] for r in check_non_negative_inventory(entries)
               .select("wallet").distinct().collect()}
    if flagged != logs.oversold:
        errors.append(f"oversold wallets: {len(flagged ^ logs.oversold)} differ "
                      f"({len(flagged)} flagged, generator {len(logs.oversold)})")

    # a few sampled wallets: distributed ledger == serial LedgerEngine replay
    sample = [r[0] for r in con.execute(
        "SELECT DISTINCT wallet FROM ledger_events ORDER BY hash(wallet || ?) LIMIT 5",
        [str(seed)],
    ).fetchall()]
    cols = ["event_type", "token_id", "quantity", "usdc_delta", "cost_basis", "realized_pnl"]
    for w in sample:
        ev = con.execute("SELECT * FROM ledger_events WHERE wallet = ?", [w]).df()
        eng = LedgerEngine(w)
        eng.replay([_engine_event(r) for r in ev.itertuples(index=False)])
        want_df = pd.DataFrame(eng.entries)
        got_df = con.execute("SELECT * FROM wallet_ledger WHERE wallet = ?", [w]).df()
        if not _same_entries(got_df, want_df, cols):
            errors.append(f"ledger of {w} differs from a serial replay")
    con.close()
    return errors, wallets


def _engine_event(row) -> dict:
    return {
        "ts": pd.Timestamp(row.ts), "block_number": row.block_number,
        "log_index": row.log_index, "type": row.type, "token_id": row.token_id,
        "condition_id": row.condition_id, "qty": row.qty, "usdc": row.usdc,
        "fee": row.fee, "is_buy": bool(row.is_buy), "is_in": bool(row.is_in),
        "outcome_token_ids": [], "payout_ratios": [],
    }


def _same_entries(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    if len(got) != len(want):
        return False
    order = ["block_number", "log_index", "event_type", "token_id"]
    g = got.sort_values(order).reset_index(drop=True)
    w = want.sort_values(order).reset_index(drop=True)
    for c in cols:
        if g[c].dtype.kind == "f":
            if not ((g[c] - w[c].astype(float)).abs() <= 1e-9 * (1 + w[c].abs())).all():
                return False
        elif not (g[c].astype(str) == w[c].astype(str)).all():
            return False
    return True


# -- tail -------------------------------------------------------------------

class Tail:
    """Landing directory, the two running folds, and their state dirs."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.tracer = spark, tracer
        self.land = os.path.join(work, "landing")
        self.stage = os.path.join(work, "staging")
        self.candles = os.path.join(work, "candle_state")
        self.balances = os.path.join(work, "balance_state")
        os.makedirs(self.land)
        os.makedirs(self.stage)
        logs = gen.raw_logs(seed + 7919, TAIL_FILES * TAIL_LOGS_PER_FILE)
        self.files = gen.split_by_block(logs.table, TAIL_FILES)
        self.landed = 0
        stream = spark.readStream.schema(ingest.RAW_LOG_SCHEMA).parquet(self.land)
        self.q_candle = incremental_candles_stream(
            _fills(ingest.decode_order_filled(stream)), self.candles,
            os.path.join(work, "ckpt_candles"), key="token_id", ts="block_timestamp",
            price="price", ord_col="ord",
        ).start()
        self.q_balance = incremental_additive_stream(
            ingest.decode_transfer_single(stream), self.balances,
            os.path.join(work, "ckpt_balances"), _balance_partials,
            keys=["wallet", "token_id", "bucket"], sum_cols=["balance"],
            partition_col="bucket",
        ).start()
        self.groups = {str(self.q_candle.runId), str(self.q_balance.runId),
                       str(self.q_candle.id), str(self.q_balance.id)}

    def land_next(self) -> dict:
        """Land one file and wait for both folds; returns its figures."""
        i = self.landed
        staged = os.path.join(self.stage, f"logs_{i:04d}.parquet")
        pq.write_table(self.files[i], staged)
        before = self._state_files() if self.tracer.enabled else {}
        t0 = time.perf_counter()
        with self.tracer.span("streaming.incremental", f"file{i}"):
            os.rename(staged, os.path.join(self.land, os.path.basename(staged)))
            self.q_candle.processAllAvailable()
            self.q_balance.processAllAvailable()
        dt = time.perf_counter() - t0
        self.landed += 1
        fig = {
            "batch_s": dt,
            "rows": self.files[i].num_rows,
            "candle_ms": self.q_candle.lastProgress["durationMs"].get("triggerExecution", 0),
            "balance_ms": self.q_balance.lastProgress["durationMs"].get("triggerExecution", 0),
        }
        if self.tracer.enabled:
            after = self._state_files()
            fig["state_bytes"] = sum(s for p, s in after.items() if p not in before)
        return fig

    def _state_files(self) -> dict[str, int]:
        out = {}
        for d in (self.candles, self.balances):
            for root, _, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        p = os.path.join(root, f)
                        out[p] = os.path.getsize(p)
        return out

    def stop(self) -> None:
        for q in (self.q_candle, self.q_balance):
            q.stop()

    def check(self) -> list[str]:
        """Final states == one-shot batch aggregation of every landed file."""
        spark, errors = self.spark, []
        landed = spark.read.schema(ingest.RAW_LOG_SCHEMA).parquet(self.land)
        want = finalize(merge_candle_states(ohlcv(
            _fills(ingest.decode_order_filled(landed)), key="token_id",
            ts="block_timestamp", price="price", ord_col="ord",
        )).drop("bucket_date"))
        got = finalize(spark.read.parquet(self.candles).drop("bucket_date"))
        if not _frames_equal(got, want, ["key", "bucket"]):
            errors.append("candle state differs from the batch aggregation")
        want_b = agg.user_balances(ingest.decode_transfer_single(landed))
        got_b = spark.read.parquet(self.balances).select("wallet", "token_id", "balance")
        if not _frames_equal(got_b, want_b, ["wallet", "token_id"]):
            errors.append("balance state differs from the batch aggregation")
        return errors


def _frames_equal(a, b, keys: list[str]) -> bool:
    cols = sorted(a.columns)
    pa_ = a.select(*cols).toPandas().sort_values(keys).reset_index(drop=True)
    pb = b.select(*cols).toPandas().sort_values(keys).reset_index(drop=True)
    return pa_.equals(pb)


# -- the workloads ----------------------------------------------------------

def _overhead_pct(on: list[float], off: list[float]) -> float:
    return (median(on) / median(off) - 1) * 100 if on and off else 0.0


def setup_backfill(spark, work: str, seed: int, tracer) -> dict:
    """Land the raw logs ``SETUP_REPS`` times (the median counts), then
    warm the JVM with one pass over a small slice."""
    logs = gen.raw_logs(seed, BACKFILL_LOGS)
    reps = []
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        raw_dir = os.path.join(work, f"raw{i}")
        os.makedirs(raw_dir)
        pq.write_table(logs.table, os.path.join(raw_dir, "logs.parquet"))
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_raw = os.path.join(work, "warm_raw")
    os.makedirs(warm_raw)
    pq.write_table(gen.raw_logs(seed + 1, WARMUP_LOGS).table,
                   os.path.join(warm_raw, "logs.parquet"))
    tracer.thread_on(False)  # a warm-up, not a layer figure
    backfill_pass(spark, warm_raw, os.path.join(work, "warm_out"), tracer)
    tracer.thread_on(True)
    warm_pass_s = time.perf_counter() - t0
    return {"logs": logs, "raw_dir": raw_dir, "warm_pass_s": warm_pass_s,
            "setup_s": median(reps) + warm_pass_s}


def measure_backfill(spark, state: dict, work: str, seconds: float, tracer) -> dict:
    """Repeat the pass over fresh outputs while another one fits the window."""
    passes, layer_times = [], []
    t_start = time.perf_counter()
    out = None
    # start another pass only if it should end inside the window
    while not passes or time.perf_counter() + median(passes) < t_start + seconds:
        if out:
            shutil.rmtree(out)
        out = os.path.join(work, f"out{len(passes)}")
        t0 = time.perf_counter()
        layer_times.append(backfill_pass(spark, state["raw_dir"], out, tracer))
        passes.append(time.perf_counter() - t0)
    return {
        "out": out,
        "passes": passes,
        "elapsed": time.perf_counter() - t_start,
        "bytes_written_per_log_byte": _dir_bytes(out) / _dir_bytes(state["raw_dir"]),
        "layer_s": {k: median(t[k] for t in layer_times) for k in layer_times[0]},
    }


def setup_tail(spark, work: str, seed: int, tracer) -> dict:
    """Generate the files, start both folds and fold the warm-up files."""
    t0 = time.perf_counter()
    tail = Tail(spark, work, seed, tracer)
    tracer.thread_on(False)
    for _ in range(TAIL_WARMUP_FILES):
        tail.land_next()
    tracer.thread_on(True)
    return {"tail": tail, "setup_s": time.perf_counter() - t0}


def setup_ingest(spark, work: str, seed: int, tracer) -> dict:
    """The tail's folds and warm-up files first, then the backfill's, so
    the JVM is warmest when the window starts."""
    tail = setup_tail(spark, work, seed, tracer)
    log(f"tail set-up: {tail['setup_s']:.2f}s")
    state = setup_backfill(spark, work, seed, tracer)
    log(f"backfill set-up: {state['setup_s']:.2f}s")
    state["tail"] = tail["tail"]
    state["setup_s"] += tail["setup_s"]
    return state


def measure_ingest(spark, state: dict, work: str, seconds: float, tracer) -> dict:
    """One backfill pass, then tail files for the rest of the window. Each
    landed file is a request: the time until its rows are queryable."""
    bf = measure_backfill(spark, state, work, 0.0, tracer)
    log(f"backfill: {len(bf['passes'])} passes {[round(p, 2) for p in bf['passes']]}")
    tl = measure_tail(state, max(seconds - bf["elapsed"], 0.0), tracer)
    log(f"tail: {len(tl['batch'])} files {[round(b, 2) for b in tl['batch']]}")
    lat = pd.Series(tl["batch"]) * 1e3
    return {
        **bf,
        "attempted": len(bf["passes"]) + len(tl["batch"]),
        "req_p50_ms": float(lat.quantile(0.5)),
        "req_p90_ms": float(lat.quantile(0.9)),
        "req_per_s": len(lat) / tl["elapsed"],
        "backfill_logs_per_s": BACKFILL_LOGS / median(bf["passes"]),
        "tail_batch_p50_ms": median(tl["batch"]) * 1e3,
        "tail_rows_per_s": tl["rows"] / tl["elapsed"],
        "files": tl["files"],
        "trace_overhead_pct": tl["trace_overhead_pct"],
    }


def measure_tail(state: dict, seconds: float, tracer) -> dict:
    """Land files one at a time while another one fits the window. A traced
    run alternates traced and untraced files to show its own cost."""
    tail: Tail = state["tail"]
    files, batch, traced = [], [], []
    t_start = time.perf_counter()
    while (not files or time.perf_counter() + median(batch) < t_start + seconds) \
            and tail.landed < len(tail.files):
        on = tracer.enabled and len(files) % 2 == 1
        tracer.thread_on(on)
        files.append(tail.land_next())
        batch.append(files[-1]["batch_s"])
        traced.append(on)
    tracer.thread_on(True)
    return {
        "batch": batch,
        "rows": sum(f["rows"] for f in files),
        "elapsed": time.perf_counter() - t_start,
        "files": [f for f, on in zip(files, traced) if on] or files,
        "trace_overhead_pct": _overhead_pct(
            [b for b, on in zip(batch, traced) if on],
            [b for b, on in zip(batch, traced) if not on]),
    }
