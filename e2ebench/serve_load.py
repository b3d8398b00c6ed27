"""``serve`` workload: a closed loop of HTTP clients against ``serve.http_server``.

Set-up writes a seeded ``events`` table (25k events, 1,500 users), builds
the 1m candle tier (``operators.candles``) and the snapshot tier (built by
the first ``/portfolio/history`` call), binds one ``ServeContext``, and
warms every route once. The loop then runs ``CLIENTS`` client threads, each
sending its next GET only after the previous reply. Requests come in fixed
blocks of the same mix: two-thirds scan or pre-aggregated reads, one third
per-wallet ledger reads. The seed orders each block and draws Zipf-skewed
user ids.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.error
import urllib.request
from http.server import ThreadingHTTPServer
from statistics import median
from urllib.parse import parse_qs, urlparse

import duckdb
import numpy as np
import pyarrow.parquet as pq

from neomarket_clickhouse_indexer_spark.operators.candles import ohlcv
from neomarket_clickhouse_indexer_spark.queries.events import FIXED_NOW
from neomarket_clickhouse_indexer_spark.serve import ServeContext
from neomarket_clickhouse_indexer_spark.serve.http_server import make_handler
from neomarket_clickhouse_indexer_spark.sources.tables import load_table

import gen
from spans import log

N_EVENTS, N_USERS = 25_000, 1_500
SETUP_REPS = 3
SCAN = ["activity", "trades", "candles", "market_stats", "discover",
        "leaderboard_volume", "user_stats", "chart"]
LEDGER = ["pnl", "positions", "ledger", "snapshots", "portfolio_history",
          "explain", "holders", "leaderboard_pnl"]
BLOCK = SCAN * 2 + LEDGER  # 2/3 scan or pre-aggregated, 1/3 ledger
KEYS = list(gen.EVENT_TYPES)
CLIENTS = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count() or 4


def request_path(route: str, user: int, key: str) -> str:
    return {
        "activity": f"/activity?user_id={user}",
        "trades": f"/trades?user_id={user}",
        "candles": f"/market/candles?key={key}&interval=5m",
        "market_stats": f"/market/stats?key={key}",
        "discover": "/discover/markets",
        "leaderboard_volume": "/leaderboard?sort=volume",
        "user_stats": f"/user/stats?user_id={user}",
        "chart": f"/chart?event_type={key}",
        "pnl": f"/pnl/{user}",
        "positions": f"/positions?user_id={user}",
        "ledger": f"/ledger/{user}",
        "snapshots": f"/snapshots/{user}",
        "portfolio_history": f"/portfolio/history?user_id={user}",
        "explain": f"/leaderboard/explain?user_id={user}",
        "holders": "/market/holders",
        "leaderboard_pnl": "/leaderboard?sort=pnl",
    }[route]


def route_of(path: str) -> str:
    """The route name of a request path (leaderboard split by sort)."""
    url = urlparse(path)
    parts = [p for p in url.path.split("/") if p]
    if parts and parts[0] in ("pnl", "ledger", "snapshots"):
        return parts[0]  # /:resource/:wallet
    name = "_".join(parts)
    if name == "leaderboard":
        return "leaderboard_" + parse_qs(url.query).get("sort", ["volume"])[0]
    return {"market_candles": "candles", "discover_markets": "discover",
            "leaderboard_explain": "explain", "market_holders": "holders"}.get(name, name)


class _TracedContext:
    """Forwards to a ``ServeContext``, opening a ``serve.api`` span per call."""

    def __init__(self, ctx: ServeContext, tracer):
        self._ctx, self._tracer = ctx, tracer
        self._local = threading.local()

    def __getattr__(self, name):
        fn = getattr(self._ctx, name)

        def call(*a, **kw):
            with self._tracer.span("serve.api", getattr(self._local, "route", name)):
                return fn(*a, **kw)

        return call


def _server(ctx: ServeContext, tracer) -> ThreadingHTTPServer:
    traced = _TracedContext(ctx, tracer)
    base = make_handler(traced)

    class Handler(base):
        def do_GET(self):
            route = route_of(self.path)
            traced._local.route = route
            tracer.thread_on(self.headers.get("X-Trace") == "1")
            with tracer.span("serve.http_server", route):
                super().do_GET()

    return ThreadingHTTPServer(("127.0.0.1", 0), Handler)


def _get(base: str, path: str, trace: bool) -> tuple[int, dict | None]:
    """(status, JSON body); status 0 when the request got no reply."""
    req = urllib.request.Request(base + path, headers={"X-Trace": "1" if trace else "0"})
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None
    except (urllib.error.URLError, OSError):
        return 0, None


def _rows(payload) -> int:
    """Rows in a response: the length of its list field, else 1."""
    if isinstance(payload, dict):
        for v in payload.values():
            if isinstance(v, list):
                return len(v)
    return 1


def setup(spark, work: str, seed: int, tracer) -> dict:
    """Land the table and build the candle tier ``SETUP_REPS`` times (the
    last is kept), then build the snapshot tier, start the server and warm
    each route once. ``setup_s`` is the median rep plus the rest."""
    reps, loads, tiers = [], [], []
    table = gen.events_table(seed, N_EVENTS, N_USERS)
    tier = None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf = os.path.join(work, f"serve{i}")
        os.makedirs(sf)
        pq.write_table(table, os.path.join(sf, "events.parquet"))
        t1 = time.perf_counter()
        with tracer.span("sources.tables"):
            ev = load_table(spark, sf, "events")
        t2 = time.perf_counter()
        if tier is not None:
            tier.unpersist()
        with tracer.span("operators.candles"):
            tier = ohlcv(ev, key="event_type", ts="ts", price="value",
                         ord_col="event_id").localCheckpoint(eager=True)
        t3 = time.perf_counter()
        loads.append((t2 - t1) * 1e3)
        tiers.append(t3 - t2)
        reps.append(t3 - t0)
    t0 = time.perf_counter()
    ctx = ServeContext(spark, sf, candle_state=tier)
    with tracer.span("serve.api", "portfolio_history"):
        ctx.portfolio_history(0)  # builds the snapshot tier once
    snap_s = time.perf_counter() - t0
    srv = _server(ctx, tracer)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    warm = [request_path(r, 1, "purchase") for r in dict.fromkeys(BLOCK)]
    _closed_loop(base, warm, deadline=None, trace_block=lambda i: False)
    rest = time.perf_counter() - t0
    log(f"serve set-up reps {[round(r, 2) for r in reps]}, snapshot tier {snap_s:.2f}s, "
        f"rest {rest:.2f}s")
    return {
        "srv": srv, "thread": thread, "base": base, "sf": sf,
        "setup_s": median(reps) + rest,
        "load_ms": median(loads),
        # the serving tiers backfill from the raw table: events per second
        "backfill_logs_per_s": N_EVENTS / (median(tiers) + snap_s),
    }


def _closed_loop(base, paths, deadline, trace_block, clients: int = 0):
    """Run ``paths`` in order on ``clients`` threads, each sending its next
    request after the previous reply; stop issuing at ``deadline``."""
    clients = clients or CLIENTS
    out: list[tuple[int, str, float, float, int, dict | None]] = []
    lock = threading.Lock()
    it = iter(enumerate(paths))

    def client():
        while deadline is None or time.perf_counter() < deadline:
            with lock:
                nxt = next(it, None)
            if nxt is None:
                return
            i, path = nxt
            t0 = time.perf_counter()
            status, payload = _get(base, path, trace_block(i))
            t1 = time.perf_counter()
            with lock:
                out.append((i, path, t0, t1, status, payload))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(out)


def requests_for(seed: int, n_blocks: int) -> list[str]:
    """Blocks of the fixed mix in seeded order. A block is 8 triples of
    (scan, scan, ledger) in shuffled order, so every prefix of a block,
    such as the one the window cuts, keeps the 2:1 mix."""
    rng = np.random.default_rng(seed + 1)
    p = 1.0 / np.arange(1, N_USERS + 1) ** 1.1
    users = rng.permutation(N_USERS)  # which user gets which Zipf rank
    paths = []
    for _ in range(n_blocks):
        scan, ledger = rng.permutation(SCAN * 2), rng.permutation(LEDGER)
        for k in range(len(LEDGER)):
            for route in rng.permutation([scan[2 * k], scan[2 * k + 1], ledger[k]]):
                user = int(users[rng.choice(N_USERS, p=p / p.sum())])
                key = KEYS[rng.integers(len(KEYS))]
                paths.append(request_path(str(route), user, key))
    return paths


def measure(state: dict, seed: int, seconds: float, tracer) -> dict:
    paths = requests_for(seed, n_blocks=100)
    traced = tracer.enabled
    # a traced run alternates traced and untraced blocks to show its cost
    trace_block = (lambda i: (i // len(BLOCK)) % 2 == 1) if traced else (lambda i: False)
    t0 = time.perf_counter()
    done = _closed_loop(state["base"], paths, t0 + seconds, trace_block)
    elapsed = max(t1 for _, _, _, t1, _, _ in done) - t0
    lat = [(t1 - ts) * 1e3 for _, _, ts, t1, _, _ in done]
    ok = [d for d in done if d[4] == 200]
    # a block's time: its requests' latencies shared over the clients;
    # only complete blocks count, so each holds the same mix
    blocks: dict[int, list] = {}
    for i, _, ts, t1, status, payload in done:
        rows = _rows(payload) if status == 200 else 0
        blocks.setdefault(i // len(BLOCK), []).append((t1 - ts, rows))
    full = [b for b in blocks.values() if len(b) == len(BLOCK)] or list(blocks.values())
    block_s = [sum(lat for lat, _ in b) / CLIENTS for b in full]
    res = {
        "done": done,
        "attempted": len(done),
        "failed": len(done) - len(ok),
        "req_p50_ms": float(np.percentile(lat, 50)),
        "req_p90_ms": float(np.percentile(lat, 90)),
        "req_per_s": len(ok) / elapsed,
        "tail_batch_p50_ms": median(block_s) * 1e3,
        "tail_rows_per_s": sum(r for b in full for _, r in b) / sum(block_s),
    }
    if traced:
        on = [(t1 - ts) for i, _, ts, t1, _, _ in done if trace_block(i)]
        off = [(t1 - ts) for i, _, ts, t1, _, _ in done if not trace_block(i)]
        res["trace_overhead_pct"] = (median(on) / median(off) - 1) * 100
        health = []
        for _ in range(30):
            h0 = time.perf_counter()
            _get(state["base"], "/health", False)
            health.append((time.perf_counter() - h0) * 1e3)
        res["health_p50_ms"] = median(health)
        res["traced_requests"] = len(on)
    return res


def stop(state: dict) -> None:
    state["srv"].shutdown()
    state["srv"].server_close()
    state["thread"].join(timeout=30)


def check(state: dict, res: dict) -> list[str]:
    """Every response is 200; the first activity, trades and market/stats
    responses equal DuckDB over the same ``events.parquet``."""
    errors = [f"{p} -> {s}" for _, p, _, _, s, _ in res["done"] if s != 200]
    con = duckdb.connect()
    events = os.path.join(state["sf"], "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
    seen = set()
    for _, path, _, _, status, payload in res["done"]:
        route = route_of(path)
        if status != 200 or route in seen or route not in ("activity", "trades", "market_stats"):
            continue
        seen.add(route)
        qs = {k: v[0] for k, v in parse_qs(urlparse(path).query).items()}
        want = _oracle(con, route, qs)
        if not _same(payload, want):
            errors.append(f"{path}: response differs from DuckDB")
    con.close()
    return errors


def _oracle(con, route: str, qs: dict) -> dict:
    if route == "activity":
        uid = int(qs["user_id"])
        rows = con.execute(
            "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS time, event_type, value "
            "FROM events WHERE user_id = ? ORDER BY ts DESC, event_id DESC LIMIT 200",
            [uid],
        ).fetchall()
        cols = ["event_id", "time", "event_type", "value"]
        return {"userId": uid, "events": [dict(zip(cols, r)) for r in rows]}
    if route == "trades":
        uid = int(qs["user_id"])

        def window(days):
            return con.execute(
                "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS time, value FROM events "
                "WHERE user_id = ? AND event_type = 'purchase' "
                f"AND ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL {days} DAY "
                "ORDER BY ts DESC, event_id DESC LIMIT 200",
                [uid],
            ).fetchall()

        rows, widened = window(30), False
        if len(rows) < 10:
            rows, widened = window(365), True
        cols = ["event_id", "time", "value"]
        return {"userId": uid, "trades": [dict(zip(cols, r)) for r in rows],
                "windowWidened": widened}
    key = qs["key"]
    n, vol, users = con.execute(
        "SELECT count(*), round(sum(CAST(value AS DECIMAL(30,10))), 4), "
        "count(DISTINCT user_id) FROM events WHERE event_type = ? "
        f"AND ts >= TIMESTAMP '{FIXED_NOW}' - INTERVAL 24 HOUR",
        [key],
    ).fetchone()
    last = con.execute(
        "SELECT arg_max(value, event_id) FROM events WHERE event_type = ?", [key]
    ).fetchone()[0]
    return {"key": key, "trades24h": n, "volume24h": float(vol or 0.0),
            "uniqueUsers24h": users, "lastPrice": last}


def _same(a, b) -> bool:
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return b is not None and a is not None and abs(float(a) - float(b)) <= 1e-9 * max(1.0, abs(float(b)))
    return a == b
