"""Seeded, vectorised input generators for the end-to-end benchmark.

Two inputs come from one ``--seed``:

- ``raw_logs``: EVM logs in the ``sources.ingest.RAW_LOG_SCHEMA`` shape.
  Each fill is an ``OrderFilled`` log followed, in the same transaction, by
  the exchange-operated ``TransferSingle`` that settles it; plain
  wallet-to-wallet ``TransferSingle`` logs sit in their own transactions.
  Wallets and tokens are Zipf-skewed. The generator also returns its own
  tallies (row counts, amount sums, the wallets it knows oversell), which
  the ``backfill`` correctness check compares against.
- ``events_table``: the generic ``events`` table that ``serve.api`` reads
  (same columns and shape as the repository's sf0.1 test data).

Every hex word is built as a fixed-width uint8 matrix, so no Python loop
runs per log; only the oversell replay walks the events one by one.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

from neomarket_clickhouse_indexer_spark.sources.ingest import (
    SIG_ORDER_FILLED,
    SIG_TRANSFER_SINGLE,
)

T0_S = 1_704_067_200  # 2024-01-01T00:00:00Z
EXCHANGE = "0x4bfb41d5b3570defd03c39a9a4d8de6bd8b8982e"
TXS_PER_BLOCK = 8
SECONDS_PER_BLOCK = 30
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

_ZERO = ord("0")


@dataclass
class RawLogs:
    table: pa.Table  # RAW_LOG_SCHEMA columns, block-ordered
    tallies: dict  # what decode must reproduce
    oversold: set  # wallets whose ledger inventory must dip below zero
    fills: pd.DataFrame  # per OrderFilled log: the values it encodes
    transfers: pd.DataFrame  # per TransferSingle log: the values it encodes


def _zipf(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=p / p.sum())


def _hex_bytes(rng: np.random.Generator, n: int, nbytes: int) -> np.ndarray:
    """(n, 2*nbytes) ascii-hex matrix of random bytes."""
    return np.frombuffer(rng.bytes(n * nbytes).hex().encode(), np.uint8).reshape(n, 2 * nbytes)


def _word_u64(vals: np.ndarray) -> np.ndarray:
    """uint64 values as 32-byte ABI words (64 ascii-hex chars)."""
    out = np.full((len(vals), 64), _ZERO, np.uint8)
    hexed = vals.astype(">u8").tobytes().hex().encode()
    out[:, 48:] = np.frombuffer(hexed, np.uint8).reshape(-1, 16)
    return out


def _word_addr(addr40: np.ndarray) -> np.ndarray:
    out = np.full((len(addr40), 64), _ZERO, np.uint8)
    out[:, 24:] = addr40
    return out


def _strings(*parts: np.ndarray) -> pa.Array:
    """Row-wise '0x' + concat(parts) as an arrow string array."""
    n = len(parts[0])
    width = 2 + sum(p.shape[1] for p in parts)
    buf = np.empty((n, width), np.uint8)
    buf[:, 0], buf[:, 1] = ord("0"), ord("x")
    pos = 2
    for p in parts:
        buf[:, pos:pos + p.shape[1]] = p
        pos += p.shape[1]
    return pa.array(buf.view(f"S{width}").ravel()).cast(pa.string())


def raw_logs(seed: int, n_logs: int = 100_000, n_wallets: int = 2_000,
             n_tokens: int = 200) -> RawLogs:
    """About ``n_logs`` logs: 40% fill/settle pairs, 20% plain transfers."""
    rng = np.random.default_rng(seed)
    n_fill = int(n_logs * 0.4)
    n_plain = n_logs - 2 * n_fill
    wallets = _hex_bytes(rng, n_wallets, 20)
    tokens = _hex_bytes(rng, n_tokens, 32)

    # fills: maker/taker distinct, amounts in 0.01-token steps so any
    # inventory deficit is at least 0.01 (well above the checker's eps)
    maker = _zipf(rng, n_wallets, n_fill, 1.0)
    taker = _zipf(rng, n_wallets, n_fill, 1.0)
    taker = np.where(taker == maker, (maker + 1) % n_wallets, taker)
    f_tok = _zipf(rng, n_tokens, n_fill, 0.8)
    maker_buys = rng.random(n_fill) < 0.5
    qty = rng.integers(1, 5_001, n_fill, dtype=np.int64) * 10_000
    usdc = qty * rng.integers(1, 100, n_fill, dtype=np.int64) // 100
    fee = (usdc // 100) * rng.integers(0, 2, n_fill, dtype=np.int64)

    p_from = _zipf(rng, n_wallets, n_plain, 1.0)
    p_to = _zipf(rng, n_wallets, n_plain, 1.0)
    p_to = np.where(p_to == p_from, (p_from + 1) % n_wallets, p_to)
    p_tok = _zipf(rng, n_tokens, n_plain, 0.8)
    p_val = rng.integers(1, 2_001, n_plain, dtype=np.int64) * 10_000

    # transactions in random order: fills first in id space, then plains
    n_tx = n_fill + n_plain
    order = rng.permutation(n_tx)  # order[pos] = tx id at position pos
    tx_size = np.where(order < n_fill, 2, 1)
    block = np.arange(n_tx) // TXS_PER_BLOCK
    ends = np.cumsum(tx_size)
    block_start = np.zeros(n_tx, np.int64)
    first = np.r_[True, block[1:] != block[:-1]]
    block_start[first] = (ends - tx_size)[first]
    block_start = np.maximum.accumulate(block_start)
    first_log = ends - tx_size - block_start  # log_index of a tx's first log
    tx_hash = _hex_bytes(rng, n_tx, 32)
    order_hash = _hex_bytes(rng, n_fill, 32)

    # expand transactions to logs (a fill's settle log follows it)
    is_fill_tx = order < n_fill
    log_tx = np.repeat(np.arange(n_tx), tx_size)
    second = np.r_[False, log_tx[1:] == log_tx[:-1]]
    kind = np.where(is_fill_tx[log_tx], np.where(second, 1, 0), 2)  # 0 fill, 1 settle, 2 plain
    n = len(log_tx)
    fid = np.where(kind < 2, order[log_tx], 0)
    pid = np.where(kind == 2, order[log_tx] - n_fill, 0)
    log_index = first_log[log_tx] + second
    blk = block[log_tx]

    seller = np.where(maker_buys, taker, maker)
    buyer = np.where(maker_buys, maker, taker)
    tok_idx = np.where(kind == 2, p_tok[pid], f_tok[fid])
    token_word = tokens[tok_idx]
    # OrderFilled data: makerAssetId, takerAssetId, makerAmt, takerAmt, fee;
    # TransferSingle data: id, value
    f = kind == 0
    ff = fid[f]
    mb = maker_buys[ff]
    qty_u, usdc_u = qty[ff].astype(np.uint64), usdc[ff].astype(np.uint64)
    zero_word = _word_u64(np.zeros(len(ff), np.uint64))
    tok_f = token_word[f]
    data = np.empty(n, object)
    data[f] = _strings(
        np.where(mb[:, None], zero_word, tok_f),
        np.where(mb[:, None], tok_f, zero_word),
        _word_u64(np.where(mb, usdc_u, qty_u)),
        _word_u64(np.where(mb, qty_u, usdc_u)),
        _word_u64(fee[ff].astype(np.uint64)),
    ).to_numpy(zero_copy_only=False)
    value = np.where(kind == 2, p_val[pid], qty[fid]).astype(np.uint64)
    data[~f] = _strings(token_word[~f], _word_u64(value[~f])).to_numpy(
        zero_copy_only=False
    )

    src = np.where(kind == 0, maker[fid], np.where(kind == 1, seller[fid], p_from[pid]))
    dst = np.where(kind == 0, taker[fid], np.where(kind == 1, buyer[fid], p_to[pid]))
    t_from = _strings(_word_addr(wallets[src])).to_numpy(zero_copy_only=False)
    t_to = _strings(_word_addr(wallets[dst])).to_numpy(zero_copy_only=False)
    exch = "0x" + "0" * 24 + EXCHANGE[2:]
    operator = np.where(kind == 1, exch, t_from)
    oh = _strings(order_hash[fid]).to_numpy(zero_copy_only=False)
    topic0 = np.where(kind == 0, SIG_ORDER_FILLED, SIG_TRANSFER_SINGLE)
    # OrderFilled: [sig, orderHash, maker, taker]; TransferSingle:
    # [sig, operator, from, to]
    topics = np.stack([
        topic0,
        np.where(kind == 0, oh, operator),
        t_from,
        t_to,
    ], axis=1)
    topics_arr = pa.ListArray.from_arrays(
        pa.array(np.arange(0, 4 * n + 1, 4, dtype=np.int32)),
        pa.array(topics.ravel(), pa.string()),
    )
    table = pa.table({
        "block_number": pa.array(blk.astype(np.int64) + 1),
        "block_timestamp": pa.array(
            ((T0_S + blk * SECONDS_PER_BLOCK) * 1_000_000).astype("datetime64[us]")
        ).cast(pa.timestamp("us", tz="UTC")),
        "log_index": pa.array(log_index.astype(np.int32)),
        "tx_hash": _strings(tx_hash[log_tx]),
        "address": pa.array(np.full(n, EXCHANGE, object), pa.string()),
        "topics": topics_arr,
        "data": pa.array(data, pa.string()),
    })

    tallies = {
        "fills": n_fill,
        "transfers": n_fill + n_plain,
        "usdc_amount": int(usdc.sum()),
        "token_amount": int(qty.sum()),
        "fee": int(fee.sum()),
        "transfer_value": int(qty.sum() + p_val.sum()),
    }
    oversold = _oversold_wallets(
        wallets, kind, fid, pid, buyer, seller, p_from, p_to, tok_idx, qty, p_val
    )

    def addr(idx):
        return np.char.add("0x", wallets[idx].view("S40").ravel().astype(str))

    tx = table.column("tx_hash").to_numpy(zero_copy_only=False)
    tok = np.char.add("0x", tokens[tok_idx].view("S64").ravel().astype(str))
    fills = pd.DataFrame({
        "tx_hash": tx[f], "maker": addr(maker[ff]), "taker": addr(taker[ff]),
        "token_id": tok[f], "is_maker_buy": mb, "usdc_amount": usdc[ff],
        "token_amount": qty[ff], "fee": fee[ff],
    })
    x = ~f
    transfers = pd.DataFrame({
        "tx_hash": tx[x], "log_index": log_index[x].astype(np.int32),
        "operator": np.where(kind[x] == 1, EXCHANGE, addr(src[x])),
        "from": addr(src[x]), "to": addr(dst[x]), "token_id": tok[x],
        "value": value[x].astype(np.int64),
    })
    return RawLogs(table, tallies, oversold, fills, transfers)


def _oversold_wallets(wallets, kind, fid, pid, buyer, seller, p_from, p_to,
                      tok_idx, qty, p_val) -> set:
    """Replay the ledger's inventory rule per (wallet, token) in log order.

    A sell books its full quantity (oversells show as a negative running
    sum); a transfer out books only what the FIFO book holds. The settle
    logs are explained by their fill and skipped, as ``ledger.prep`` does.
    """
    fills = kind == 0
    plains = kind == 2
    pos = np.arange(len(kind))
    # (wallet, token, position, signed delta, is_transfer_out)
    w = np.concatenate([buyer[fid[fills]], seller[fid[fills]],
                        p_to[pid[plains]], p_from[pid[plains]]])
    t = np.concatenate([tok_idx[fills], tok_idx[fills],
                        tok_idx[plains], tok_idx[plains]])
    p = np.concatenate([pos[fills], pos[fills], pos[plains], pos[plains]])
    q = np.concatenate([qty[fid[fills]], -qty[fid[fills]],
                        p_val[pid[plains]], -p_val[pid[plains]]])
    out = np.concatenate([np.zeros(2 * fills.sum() + plains.sum(), bool),
                          np.ones(plains.sum(), bool)])
    idx = np.lexsort((p, t, w))
    bad: set[int] = set()
    key = None
    book = run = 0
    for i in idx.tolist():
        k = (w[i], t[i])
        if k != key:
            key, book, run = k, 0, 0
        d = int(q[i])
        if d >= 0:
            book += d
            run += d
        elif out[i]:
            take = min(book, -d)
            book -= take
            run -= take
        else:
            book = max(book + d, 0)
            run += d
        if run < 0:
            bad.add(int(w[i]))
    return {"0x" + wallets[b].tobytes().decode() for b in bad}


def split_by_block(table: pa.Table, n_files: int) -> list[pa.Table]:
    """Cut block-ordered logs into ``n_files`` files at block boundaries."""
    blocks = table.column("block_number").to_numpy()
    edges = np.searchsorted(blocks, np.linspace(blocks[0], blocks[-1] + 1, n_files + 1))
    return [table.slice(a, b - a) for a, b in zip(edges[:-1], edges[1:])]


def events_table(seed: int, n_events: int = 100_000, n_users: int = 1_500,
                 days: int = 30) -> pa.Table:
    """The generic ``events`` table: uniform users, types and times over
    ``days`` days from 2024-01-01, exponential values, ``props.k`` in 0..99."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, days * 86_400 * 1_000_000, n_events))
    k = rng.integers(0, 100, n_events)
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array((T0_S * 1_000_000 + ts).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', k.astype(str)), "}")),
    })
