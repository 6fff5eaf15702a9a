"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs, a different seed gives different ones
(``self_check`` proves both on every run). The program under test only
ever sees what these functions write: parquet files and frames.

Three generators:

* ``events``: the ``events`` table shape of the repo's test data
  (event_id, ts, user_id, event_type, value, props): 5 event types,
  ~1500 users with Zipf-skewed activity, values exponential with mean
  50, ``{"k": n}`` props.
* ``orders``: the same schema, shaped for the stock matchmaker
  (``sources.stock.stock_orders``): ``user_id % 50`` is the security,
  Zipf-skewed over the 50 securities, and each security's price is a
  mean-reverting walk so most orders cross.
* ``ingest_plan``: seeded documents and embeddings for the admission
  funnel, with planted exact text copies, planted near-identical
  embeddings, short documents that fail the quality floor, and fresh
  documents that are admitted. Embeddings are codewords of the
  extended BCH(64,16,24) code mapped to +-1/8: two distinct codewords
  differ in at least 24 of 64 signs, so their cosine is at most 0.25,
  below the funnel's 0.30 near-duplicate threshold. Fresh documents
  are therefore never near-duplicates of anything, by construction,
  and every verdict is known in advance.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Base of every generated ``ts``: 2024-01-01T00:00:00 in microseconds.
TS_BASE_US = 1_704_067_200_000_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
N_USERS = 1500
N_SEC = 50
ZIPF_S = 1.1

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
#: The same schema as a Spark DDL string, for file-stream readers.
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose), so adding draws to one
    input never shifts another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _zipf_ranks(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    return rng.choice(n_keys, size=size, p=p / p.sum())


def events_table(columns: dict) -> pa.Table:
    return pa.Table.from_pydict(columns, schema=EVENTS_SCHEMA)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ------------------------------------------------------------ events ----


def events(seed: int, n: int, span_days: float = 30.0) -> pa.Table:
    """``n`` events over ``span_days``, shaped like the test-data table."""
    rng = _rng(seed, "events")
    gaps = rng.exponential(span_days * 86_400e6 / n, size=n)
    ts = TS_BASE_US + np.cumsum(gaps).astype(np.int64)
    # Zipf over users; a seeded permutation spreads the hot users over
    # the id space so ``user_id % k`` keys inherit the skew unevenly.
    users = rng.permutation(N_USERS)[_zipf_ranks(rng, N_USERS, n)]
    return events_table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": users.astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


# ------------------------------------------------------------ orders ----


def orders(seed: int, n: int, purpose: str = "orders") -> dict[str, np.ndarray]:
    """``n`` stock orders as events columns, without ``ts`` (the caller
    stamps each order with its due time). Security = ``user_id % 50``,
    Zipf-skewed; price = a per-security mean-reverting walk around 50
    plus per-order noise, so buys (even event_id) and sells (odd)
    keep crossing the book. ``purpose`` selects an independent stream
    of the same seed (e.g. a warm-up stream)."""
    rng = _rng(seed, purpose)
    sec = _zipf_ranks(rng, N_SEC, n)
    users = sec + N_SEC * rng.integers(0, N_USERS // N_SEC, n)
    price = np.full(N_SEC, 50.0)
    shocks = rng.normal(0.0, 0.6, n)
    noise = rng.normal(0.0, 1.5, n)
    value = np.empty(n)
    for i in range(n):
        s = sec[i]
        price[s] += 0.05 * (50.0 - price[s]) + shocks[i]
        value[i] = price[s] + noise[i]
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": users.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(np.clip(value, 1.0, None), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def orders_slice(cols: dict, lo: int, hi: int, ts_us: np.ndarray) -> pa.Table:
    """Orders ``[lo, hi)`` as an events table with the given ``ts``."""
    part = {k: v[lo:hi] for k, v in cols.items()}
    part["ts"] = ts_us
    return events_table(part)


# ------------------------------------------- BCH(64,16,24) embeddings ----


def _gf64_tables() -> tuple[list[int], list[int]]:
    """exp/log tables of GF(2^6) with primitive polynomial x^6 + x + 1."""
    exp, log = [0] * 126, [0] * 64
    x = 1
    for i in range(63):
        exp[i] = exp[i + 63] = x
        log[x] = i
        x <<= 1
        if x & 0x40:
            x ^= 0x43
    return exp, log


def _poly_mul_gf64(a: list[int], b: list[int], exp, log) -> list[int]:
    out = [0] * (len(a) + len(b) - 1)
    for i, ai in enumerate(a):
        for j, bj in enumerate(b):
            if ai and bj:
                out[i + j] ^= exp[log[ai] + log[bj]]
    return out


def bch_generator() -> list[int]:
    """Generator polynomial (coefficients low to high, over GF(2)) of
    the narrow-sense binary BCH code of length 63 and designed distance
    23: the product of the minimal polynomials of alpha^1..alpha^22."""
    exp, log = _gf64_tables()
    roots: set[int] = set()
    for i in range(1, 23):
        r = i
        while r not in roots:
            roots.add(r)
            r = (2 * r) % 63
    g = [1]
    for r in sorted(roots):
        g = _poly_mul_gf64(g, [exp[r], 1], exp, log)
    if any(c not in (0, 1) for c in g) or len(g) - 1 != 47:
        raise RuntimeError("BCH generator is not a degree-47 binary polynomial")
    return g


def bch_codewords() -> np.ndarray:
    """All 65536 codewords of the extended BCH(64,16) code as a
    (65536, 64) uint8 bit matrix (row j = message j times g(x), plus an
    overall parity bit)."""
    g = np.array(bch_generator(), dtype=np.uint8)
    basis = np.zeros((16, 64), dtype=np.uint8)
    for k in range(16):
        basis[k, k : k + 48] = g
        basis[k, 63] = g.sum() % 2
    msgs = (np.arange(65536)[:, None] >> np.arange(16)) & 1
    return (msgs.astype(np.int64) @ basis.astype(np.int64) % 2).astype(np.uint8)


def codeword_vectors(code: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Codewords ``idx`` as unit vectors with entries +-1/8."""
    return (1.0 - 2.0 * code[idx].astype(np.float64)) / 8.0


# ------------------------------------------------------ ingest plan ----

VOCAB = 20_000
#: Share of each wave by planted verdict; the rest is fresh (admitted).
WAVE_SHARES = {"dup_text": 0.15, "dup_semantic": 0.15, "quality": 0.10}
NEAR_DUP_JITTER = 0.05


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    out = []
    for k in rng.integers(lo, hi, n):
        words = rng.integers(0, VOCAB, k)
        out.append(" ".join(f"w{np.base_repr(int(w), 36).lower()}x" for w in words))
    return out


def ingest_plan(seed: int, n_store: int, n_waves: int, wave_size: int) -> dict:
    """Store corpus plus ``n_waves`` waves with the verdict each document
    must get. Returns {"store": {doc_id, text, embedding}, "waves":
    [{doc_id, source, text, embedding, expect, expect_of}]}; planted
    duplicates point at the store or at fresh documents of earlier
    waves, which are admitted by then."""
    rng = _rng(seed, "ingest")
    code = bch_codewords()
    # distinct codewords for every document that needs one
    n_docs = n_store + n_waves * wave_size
    cw = rng.permutation(np.arange(1, 65536))[:n_docs]
    store_ids = np.arange(n_store, dtype=np.int64)
    store_emb = codeword_vectors(code, cw[:n_store])
    store = {
        "doc_id": store_ids,
        "text": _texts(rng, n_store, 30, 90),
        "embedding": store_emb,
    }
    known_text = dict(zip(store_ids.tolist(), store["text"]))
    known_emb = dict(zip(store_ids.tolist(), store_emb))
    n_plant = {k: int(round(wave_size * s)) for k, s in WAVE_SHARES.items()}
    n_fresh = wave_size - sum(n_plant.values())
    waves = []
    next_id = n_store
    for w in range(n_waves):
        ids = np.arange(next_id, next_id + wave_size, dtype=np.int64)
        next_id += wave_size
        emb = codeword_vectors(code, cw[ids])
        text = _texts(rng, wave_size, 30, 90)
        expect = np.array(
            ["admitted"] * n_fresh
            + [k for k, m in n_plant.items() for _ in range(m)],
            dtype=object,
        )
        rng.shuffle(expect)
        expect_of = np.full(wave_size, -1, dtype=np.int64)
        pool = np.array(sorted(known_text), dtype=np.int64)
        refs = rng.choice(pool, size=wave_size, replace=False)
        for i in range(wave_size):
            if expect[i] == "dup_text":
                text[i] = known_text[int(refs[i])]
                expect_of[i] = refs[i]
            elif expect[i] == "dup_semantic":
                jitter = 1.0 + NEAR_DUP_JITTER * rng.random(64)
                emb[i] = known_emb[int(refs[i])] * jitter
                expect_of[i] = refs[i]
            elif expect[i] == "quality":
                text[i] = " ".join(text[i].split()[:3])
        waves.append(
            {
                "doc_id": ids,
                "source": np.array([f"src{w % 4}"] * wave_size),
                "text": text,
                "embedding": emb,
                "expect": expect,
                "expect_of": expect_of,
            }
        )
        for i in np.flatnonzero(expect == "admitted"):
            known_text[int(ids[i])] = text[i]
            known_emb[int(ids[i])] = emb[i]
    return {"store": store, "waves": waves}


def docs_table(d: dict) -> pa.Table:
    """(doc_id, [source,] text, embedding) of a store corpus or a wave."""
    cols = {k: d[k] for k in ("doc_id", "source", "text") if k in d}
    cols["embedding"] = [list(map(float, v)) for v in d["embedding"]]
    return pa.table(cols)


# -------------------------------------------------------- self-check ----


def _digest(obj) -> str:
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, dict):
            for k in sorted(x):
                h.update(k.encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            for v in x:
                feed(v)
        elif isinstance(x, np.ndarray):
            h.update(np.ascontiguousarray(x).tobytes() if x.dtype != object
                     else json.dumps(x.tolist()).encode())
        elif isinstance(x, pa.Table):
            h.update(x.to_pandas().to_json().encode())
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()


def self_check(seed: int) -> None:
    """Same seed, byte-identical inputs; another seed, different ones;
    and the embedding code really has minimum distance 24. Raises on
    any failure."""
    small = [
        lambda s: events(s, 500),
        lambda s: orders(s, 500),
        lambda s: ingest_plan(s, 40, 2, 20),
    ]
    for make in small:
        a, b, c = _digest(make(seed)), _digest(make(seed)), _digest(make(seed + 1))
        if a != b:
            raise RuntimeError("generator is not deterministic for a fixed seed")
        if a == c:
            raise RuntimeError("generator ignores its seed")
    code = bch_codewords()
    weights = code[1:].sum(axis=1)
    if int(weights.min()) != 24:
        raise RuntimeError(f"code minimum distance {weights.min()} != 24")
