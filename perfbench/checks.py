"""Reference computations the benchmark checks the program against.

* ``fold_trades``: an independent pure-Python order-book fold over
  stock orders, per security in ``seq`` order, cancels skipped. It is
  written from the matching rules (price-time priority, partial fills,
  trade at the resting order's price), not from the program's code.
* ``oracle_rows`` / ``same_rows``: the registry's DuckDB oracle over the
  benchmark's own parquet files, compared order-insensitively after
  sorting columns by name.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

TRADE_KEY = ("match_seq", "buy_no", "sell_no")


def _cents(v: float) -> int:
    x = v * 100.0
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def fold_trades(event_id: np.ndarray, user_id: np.ndarray, value: np.ndarray) -> dict:
    """Trades of the order stream given as events columns, keyed by
    (match_seq, buy_no, sell_no) -> (sec_code, trade_price, trade_vol).
    Order derivation follows ``sources.stock``: security = user_id % 50,
    buy iff event_id is even, volume = (event_id % 10 + 1) * 100, and
    every 20th order (event_id % 20 == 19) is a cancel."""
    books: dict[int, tuple[list, list]] = {}
    out: dict[tuple[int, int, int], tuple[str, int, int]] = {}
    for eid, uid, val in zip(event_id.tolist(), user_id.tolist(), value.tolist()):
        if eid % 20 == 19:
            continue
        sec = uid % 50
        buys, sells = books.setdefault(sec, ([], []))
        price, vol = _cents(val), (eid % 10 + 1) * 100
        code = f"SEC{sec}"
        if eid % 2 == 0:
            while vol and sells and sells[0][0] <= price:
                rest = sells[0]
                t = min(vol, rest[2])
                out[(eid, eid, rest[3])] = (code, rest[0], t)
                vol -= t
                rest[2] -= t
                if rest[2] == 0:
                    heapq.heappop(sells)
            if vol:
                heapq.heappush(buys, [-price, eid, vol, eid])
        else:
            while vol and buys and -buys[0][0] >= price:
                rest = buys[0]
                t = min(vol, rest[2])
                out[(eid, rest[3], eid)] = (code, -rest[0], t)
                vol -= t
                rest[2] -= t
                if rest[2] == 0:
                    heapq.heappop(buys)
            if vol:
                heapq.heappush(sells, [price, eid, vol, eid])
    return out


def trade_map(rows) -> dict:
    """Spark trade rows -> the ``fold_trades`` mapping."""
    return {
        (int(r["match_seq"]), int(r["buy_no"]), int(r["sell_no"])): (
            r["sec_code"], int(r["trade_price"]), int(r["trade_vol"])
        )
        for r in rows
    }


def trade_mismatches(got: dict, want: dict) -> int:
    """Trades missing, extra, or with different contents."""
    keys = got.keys() | want.keys()
    return sum(1 for k in keys if got.get(k) != want.get(k))


def _normalize(rows, columns):
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(r[i] for i in idx) for r in rows]
    return [columns[i] for i in idx], sorted(out, key=lambda t: tuple(map(str, t)))


def oracle_rows(con, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]


def same_rows(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    sc, sr = _normalize([tuple(r) for r in spark_rows], list(spark_cols))
    dc, dr = _normalize(duck_rows, list(duck_cols))
    return sc == dc and sr == dr
