"""Seeded corpus for the benchmark: TPC-H-shaped tables plus an
``events`` table whose ``props`` are nested JSON documents.

One base replica is generated from the seed, then replicated ``K``
times with key offsets, so every join (customer -> orders -> lineitem,
user -> events) stays inside its replica and the registry queries'
DuckDB oracles keep holding. ``events.props`` keeps an integer ``$.k``
in ``[0, 100)`` (what the oracles extract) inside a document with a
shared key vocabulary, rare keys, depth up to 3, arrays and strings.

``ingest_raw.parquet`` carries the same documents in a separate
column in which a fixed share of rows is malformed (truncated, or an
invalid token), for the tolerant-ingest op.

Output is cached by (seed, K, GENERATOR_VERSION) under the work dir.
``stats.json`` beside the tables records row counts, byte sizes, the
doc-shape statistics and the answers the benchmark-defined ops must
return.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

#: Row counts of one replica.
BASE_ROWS = {
    "customer": 200,
    "orders": 2000,
    "lineitem": 8000,
    "events": 1000,
    "documents": 100,
}
N_USERS = 200
MALFORMED_SHARE = 0.01

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector customer the join dup"
).split()

#: Shredded-store layout used by the shredded_ingest op and its reads.
SHRED_SPEC = {
    "k": ("$.k", "bigint"),
    "item_prices": ("$.items[*].price", "array<double>"),
}
RESIDUAL_PATH = "$.session.pages"


# --- nested documents ----------------------------------------------------


def _word(r: random.Random) -> str:
    return r.choice(WORDS)


def _words(r: random.Random, lo: int, hi: int) -> str:
    return " ".join(_word(r) for _ in range(r.randint(lo, hi)))


def _cents(r: random.Random, hi: int) -> float:
    return r.randint(0, hi) / 100


_FIELDS = {
    "session": lambda r: {
        "id": "%012x" % r.getrandbits(48),
        "pages": r.randint(1, 40),
        "new": r.random() < 0.3,
    },
    "device": lambda r: {
        "os": r.choice(["linux", "ios", "android", "windows", "macos"]),
        "browser": r.choice(["firefox", "chrome", "safari", "edge"]),
        "mobile": r.random() < 0.5,
        "screen": {"w": r.choice([360, 768, 1280, 1920]), "h": r.choice([640, 1024, 1080])},
    },
    "geo": lambda r: {
        "country": r.choice(["US", "DE", "FR", "ES", "CN", "BR", "IN"]),
        "city": _word(r),
        "lat": round(r.uniform(-60, 60), 4),
        "lon": round(r.uniform(-180, 180), 4),
    },
    "items": lambda r: [
        {"sku": "SKU-%05d" % r.randrange(50000), "qty": r.randint(1, 5), "price": _cents(r, 50000)}
        for _ in range(r.randint(0, 4))
    ],
    "tags": lambda r: [_word(r) for _ in range(r.randint(0, 5))],
    "page": lambda r: "/" + "/".join(_word(r) for _ in range(r.randint(1, 3))),
    "referrer": lambda r: None if r.random() < 0.4 else "https://%s.example/%s" % (_word(r), _word(r)),
    "ab_test": lambda r: {"exp": _word(r), "arm": r.choice(["A", "B"])},
    "latency_ms": lambda r: r.randint(1, 5000),
    "score": lambda r: round(r.uniform(0, 1), 6),
    "currency": lambda r: r.choice(["USD", "EUR", "GBP", "JPY"]),
    "ok": lambda r: r.random() < 0.9,
    "error": lambda r: None if r.random() < 0.7 else {"code": r.randint(400, 599), "msg": _words(r, 2, 6)},
    "lang": lambda r: r.choice(LANGS),
    "version": lambda r: "%d.%d.%d" % (r.randint(1, 3), r.randint(0, 9), r.randint(0, 20)),
    "flags": lambda r: [r.random() < 0.5 for _ in range(r.randint(1, 4))],
    "note": lambda r: _words(r, 3, 12),
}
_FIELD_NAMES = sorted(_FIELDS)
N_RARE_KEYS = 400


def make_doc(r: random.Random, k: int) -> dict:
    """One event document: ``k`` plus 6-10 vocabulary fields and, for
    about one doc in six, a rare key."""
    keys = r.sample(_FIELD_NAMES, r.randint(6, 10))
    items = [(name, _FIELDS[name](r)) for name in keys]
    if r.random() < 0.15:
        items.append(("x_%d" % r.randrange(N_RARE_KEYS), r.randint(0, 999)))
    items.insert(r.randint(0, len(items)), ("k", k))
    return dict(items)


def _depth(v) -> int:
    if isinstance(v, dict):
        return 1 + max((_depth(x) for x in v.values()), default=0)
    if isinstance(v, list):
        return 1 + max((_depth(x) for x in v), default=0)
    return 0


def _count_keys(v, into: set) -> int:
    n = 0
    if isinstance(v, dict):
        for key, x in v.items():
            into.add(key)
            n += 1 + _count_keys(x, into)
    elif isinstance(v, list):
        for x in v:
            n += _count_keys(x, into)
    return n


def malform(r: random.Random, text: str) -> str:
    """A row that is not valid JSON: a truncation, or one invalid token."""
    kind = r.randrange(5)
    if kind == 0:
        return text[: r.randint(1, len(text) - 1)]
    colon = text.index(":")
    if kind == 1:
        return text[: colon + 1] + " tru" + text[colon + 1 :]
    if kind == 2:
        return text[:colon] + text[colon + 1 :]
    if kind == 3:
        return text[:-1] + ", }"
    return "{'" + text[2:].replace('"', "'", 1)


# --- tables ----------------------------------------------------------------


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    base_s = int((base - datetime(1970, 1, 1)).total_seconds())
    micros = base_s * 1_000_000 + (seconds * 1_000_000).astype(np.int64)
    return pa.array(micros, type=pa.timestamp("us"))


def _base_tables(seed: int) -> tuple[dict[str, pa.Table], list[dict], list[str]]:
    rng = np.random.default_rng(seed)
    r = random.Random(seed)
    n = BASE_ROWS
    epoch = datetime(1970, 1, 1)  # naive datetimes here are UTC

    ck = np.arange(n["customer"], dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": ["Customer#%09d" % i for i in ck],
        "c_nationkey": rng.integers(0, 25, len(ck)).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, len(ck)), 2),
        "c_mktsegment": rng.choice(SEGMENTS, len(ck)),
    })

    ok = np.arange(n["orders"], dtype=np.int64)
    order_day = rng.integers(0, (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days + 1, len(ok))
    order_secs = (datetime(1995, 1, 1) - epoch).days * 86400 + order_day * 86400
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], len(ok)).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)),
        "o_totalprice": np.round(rng.uniform(900, 500000, len(ok)), 2),
        "o_orderdate": _ts(epoch, order_secs.astype(np.float64)),
        "o_orderpriority": rng.choice(PRIORITIES, len(ok)),
    })

    nl = n["lineitem"]
    l_order = rng.integers(0, n["orders"], nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship_secs = order_secs[l_order] + rng.integers(1, 122, nl) * 86400
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, 20000, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(epoch, ship_secs.astype(np.float64)),
    })

    ne = n["events"]
    ks = rng.integers(0, 100, ne)
    docs = [make_doc(r, int(k)) for k in ks]
    props = [json.dumps(d) for d in docs]
    ev_secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    events = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(datetime(2024, 1, 1), ev_secs),
        "user_id": rng.integers(0, N_USERS, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0, 560, ne), 2),
        "props": props,
    })

    texts = []
    for i in range(n["documents"]):
        if texts and r.random() < 0.06:  # near-duplicate of an earlier doc
            words = r.choice(texts).split()
            words[r.randrange(len(words))] = _word(r)
            texts.append(" ".join(words))
        else:
            texts.append(_words(r, 8, 90))
    documents = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, len(texts), p=LANG_P),
        "source": ["src%d" % (i % 5) for i in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    raw = list(props)
    bad = r.sample(range(ne), max(1, round(ne * MALFORMED_SHARE)))
    for i in bad:
        raw[i] = malform(r, raw[i])
    ingest = pa.table({"row_id": np.arange(ne, dtype=np.int64), "raw": raw})

    tables = {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "events": events, "documents": documents, "ingest_raw": ingest,
    }
    return tables, docs, raw


#: Key columns shifted per replica, by the row count of the table whose
#: keys they hold.
_OFFSETS = {
    "customer": {"c_custkey": "customer"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders"},
    "events": {"event_id": "events", "user_id": N_USERS},
    "documents": {"doc_id": "documents"},
    "ingest_raw": {"row_id": "events"},
}


def _replicate(name: str, t: pa.Table, k: int) -> pa.Table:
    parts = []
    for rep in range(k):
        cols = {}
        for col in t.column_names:
            arr = t.column(col)
            base = _OFFSETS[name].get(col)
            if base is not None and rep:
                step = base if isinstance(base, int) else BASE_ROWS[base]
                arr = pa.array(arr.to_numpy() + rep * step)
            cols[col] = arr
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def _known_answers(docs: list[dict], raw: list[str], events: pa.Table, k: int) -> dict:
    """Results the benchmark-defined ops must return, computed from the
    generator's own values (never from the code under test)."""
    valid = []
    for text in raw:
        try:
            valid.append(json.loads(text))
        except ValueError:
            valid.append(None)
    etypes = events.column("event_type").to_pylist()
    hot = {}
    for d, et in zip(docs, etypes):
        if d["k"] > 90:
            hot[et] = hot.get(et, 0) + k
    price_cents = sum(round(it["price"] * 100) for d in docs for it in d.get("items", []))
    n_items = sum(len(d.get("items", [])) for d in docs)
    pages = [d["session"]["pages"] for d in docs if "session" in d]
    return {
        "ingest": {
            "n_rows": len(raw) * k,
            "n_malformed": sum(v is None for v in valid) * k,
            "sum_k": sum(v["k"] for v in valid if v is not None) * k,
        },
        "shredded": {
            "hot_k_by_type": sorted([et, n] for et, n in hot.items()),
            "residual_rows": len(pages) * k,
            "residual_sum": sum(pages) * k,
            "n_items": n_items * k,
            "price_cents": price_cents * k,
        },
    }


def _doc_stats(docs: list[dict], props: list[str]) -> dict:
    keys: set = set()
    n_keys = [_count_keys(d, keys) for d in docs]
    depth = [_depth(d) for d in docs]
    size = [len(p.encode()) for p in props]
    return {
        "docs": len(docs),
        "keys_per_doc": round(sum(n_keys) / len(docs), 2),
        "top_level_keys_per_doc": round(sum(len(d) for d in docs) / len(docs), 2),
        "max_depth": max(depth),
        "mean_depth": round(sum(depth) / len(depth), 2),
        "bytes_per_doc": round(sum(size) / len(size), 1),
        "distinct_keys": len(keys),
    }


def generate(work_dir: str, seed: int, k: int) -> tuple[str, dict]:
    """Return (directory of the K-replicated corpus, its stats), building
    and caching it on first use."""
    out = os.path.join(work_dir, "corpus", f"s{seed}-k{k}-v{GENERATOR_VERSION}")
    stats_path = os.path.join(out, "stats.json")
    if os.path.exists(stats_path):
        with open(stats_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables, docs, raw = _base_tables(seed)
    rows, sizes = {}, {}
    for name, t in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(_replicate(name, t, k), path)
        rows[name] = t.num_rows * k
        sizes[name] = os.path.getsize(path)
    props = tables["events"].column("props").to_pylist()
    stats = {
        "seed": seed,
        "replicas": k,
        "generator_version": GENERATOR_VERSION,
        "rows": rows,
        "file_bytes": sizes,
        "json_bytes": {
            "events": sum(len(p.encode()) for p in props) * k,
            "ingest_raw": sum(len(t.encode()) for t in raw) * k,
        },
        "doc_shape": _doc_stats(docs, props),
        "answers": _known_answers(docs, raw, tables["events"], k),
    }
    with open(os.path.join(tmp, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, stats
