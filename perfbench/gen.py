"""Seeded inputs for the benchmark: Kafka message payloads and the query corpus.

Every payload value is a pure function of ``(seed, partition, offset)``, so a
reader can recompute what any visible row must contain without being told
what was sent. The corpus mimics the schemas of the engine's test corpus
(TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``) at
a chosen scale factor.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)

# Partition weights for 4 partitions, Zipf with s = 1.1: the hot partition
# carries about half the traffic.
ZIPF_WEIGHTS = np.array([1.0 / (k + 1) ** 1.1 for k in range(4)])
ZIPF_WEIGHTS /= ZIPF_WEIGHTS.sum()

_WORDS = (
    "key agg row scan slow fast table value part hash a merge batch spark the "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
_LEVELS = ("debug", "info", "warn", "error")


def _splitmix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return x ^ (x >> np.uint64(31))


def record_hash(seed: int, partition, offset, salt: int = 0) -> np.ndarray:
    """64-bit hash of (seed, partition, offset, salt), vectorised."""
    p = np.asarray(partition, dtype=np.int64).astype(np.uint64)
    o = np.asarray(offset, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        x = np.uint64(seed & 0xFFFFFFFF) * np.uint64(0x100000001B3)
        x = _splitmix(x ^ (p << np.uint64(48)) ^ o)
        return _splitmix(x ^ np.uint64(salt))


def expected_chk(seed: int, partition, offset) -> np.ndarray:
    """The ``chk`` payload field every message carries (31-bit int)."""
    return (record_hash(seed, partition, offset) >> np.uint64(33)).astype(np.int64)


def expected_amount_cents(seed: int, partition, offset) -> np.ndarray:
    """``amount`` payload field in cents (always 1..99999 with nonzero cents
    in most rows, so the sampled schema infers a double)."""
    return (record_hash(seed, partition, offset, 1) % np.uint64(99_999)).astype(np.int64) + 1


def payloads(seed: int, partition: int, offsets: range) -> list[bytes]:
    """JSON payloads of about 200 bytes with mixed types: ints, floats,
    strings, RFC3339 timestamps and nested objects. ``note`` and ``meta``
    are missing from some messages."""
    offs = np.arange(offsets.start, offsets.stop, dtype=np.int64)
    chk = expected_chk(seed, partition, offs)
    cents = expected_amount_cents(seed, partition, offs)
    h = record_hash(seed, partition, offs, 2)
    out = []
    base = datetime(2026, 1, 1, tzinfo=timezone.utc)
    for i, off in enumerate(offs.tolist()):
        r = int(h[i])
        doc = {
            "id": off,
            "chk": int(chk[i]),
            "amount": int(cents[i]) / 100,
            "user": f"u{r % 5000:05d}",
            "ok": bool(r & 1),
            "at": (base + timedelta(seconds=r % 31_536_000)).strftime("%Y-%m-%dT%H:%M:%SZ"),
            "msg": " ".join(_WORDS[(r >> (5 * k)) % len(_WORDS)] for k in range(8)),
        }
        if (r >> 40) % 5:
            doc["meta"] = {"lvl": _LEVELS[(r >> 44) % 4], "n": (r >> 46) % 100}
        if (r >> 52) % 4:
            doc["note"] = f"n{(r >> 54) % 1000}"
        out.append(json.dumps(doc, separators=(",", ":")).encode())
    return out


# --- query corpus -----------------------------------------------------------


def _ts_us(start: datetime, seconds: np.ndarray) -> np.ndarray:
    epoch = int(start.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)
    return (epoch + seconds.astype(np.int64) * 1_000_000).astype("datetime64[us]")


def write_corpus(directory: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten corpus tables as parquet under ``directory``; returns
    row counts. Row counts scale with ``sf`` like the engine's test corpus
    (lineitem = 6M x sf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(directory, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    n_users = max(150, int(15_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n, p=None):
        return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(), pa.string())

    day = 86_400
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pick(
                [f"{c} {t}" for c in ("red", "blue", "green", "small", "large", "black", "white", "steel")
                 for t in ("ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "nut")],
                n_part,
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
            "o_orderdate": pa.array(_ts_us(datetime(1995, 1, 1), rng.integers(0, 2400, n_ord) * day)),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 105_000, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": pa.array(_ts_us(datetime(1995, 1, 2), rng.integers(0, 2500, n_li) * day)),
        },
    }
    ev_seconds = np.sort(rng.uniform(0, 30 * day, n_ev))
    ev_start = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1_000_000)
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array((ev_start + (ev_seconds * 1_000_000).astype(np.int64)).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # planted positives
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[k] for k in rng.integers(0, len(_WORDS), n_words)))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    centroids = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
