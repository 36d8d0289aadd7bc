"""Seeded input generators.

Every input the benchmark hands to the engine comes from here, as a pure
function of ``(seed, size)``: the same seed writes byte-identical parquet
files (fixed column types, one row group, snappy, no pandas metadata).
The tables follow the engine's ten-table catalog (FIXTURES.md section A):
same column names and types, the same value domains (region names,
``NATION_<k>``, ``Brand#<k>``, the 30-word document vocabulary, ...), so
every declared query and its DuckDB oracle run on them unchanged.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

# CDC sync rounds: nations touched per round, and the share of their
# rows each round updates, deletes and inserts.
SYNC_NATIONS = 3
SYNC_CHURN = 0.1
# Ingest micro-batches: documents per batch, planted corpus copies among
# them (half verbatim, half edited), first fresh document id.
BATCH_SIZE = 100
BATCH_COPIES = 20
INGEST_KEY_OFFSET = 10_000_000

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a stream never
    shifts the values another stream draws."""
    return np.random.default_rng([seed, *stream.encode()])


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(
        table,
        path,
        compression="snappy",
        row_group_size=max(1, table.num_rows),
        store_schema=False,
    )


def _pick(r: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = r.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def customers(seed: int, n: int, key_offset: int = 0) -> pa.Table:
    r = rng(seed, "customer")
    keys = np.arange(n, dtype=np.int64) + key_offset
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": _names("Customer", keys),
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(r, SEGMENTS, n),
        }
    )


def documents(
    seed: int,
    n: int,
    key_offset: int = 0,
    stream: str = "documents",
    plant_copies: bool = True,
) -> pa.Table:
    """Random word documents over the 30-word vocabulary, 10-100 words.
    With ``plant_copies`` every 20th document is a near copy
    (``... dup``) of an earlier one, as in the engine's own corpus."""
    r = rng(seed, stream)
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lens.tolist()):
        texts.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    for i in range(11, n, 20) if plant_copies else ():
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    keys = np.arange(n, dtype=np.int64) + key_offset
    return pa.table(
        {
            "doc_id": pa.array(keys),
            "text": pa.array(texts),
            "lang": _pick(r, LANGS, n, LANG_P),
            "source": pa.array([f"src{k % 20}" for k in keys.tolist()]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def catalog(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten-table catalog at scale factor ``sf`` (sf 1 = 150k
    customers, 6M lineitems)."""
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_docs = max(200, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
            }
        ),
        "customer": customers(seed, n_cust),
    }

    r = rng(seed, "supplier")
    keys = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(keys),
            "s_name": _names("Supplier", keys),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }
    )

    r = rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    adj = r.integers(0, len(PART_ADJ), n_part)
    noun = r.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in r.integers(1, 26, n_part).tolist()]
            ),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 2)),
        }
    )

    r = rng(seed, "orders")
    keys = np.arange(n_ord, dtype=np.int64)
    order_days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(r, ORDER_STATUS, n_ord),
            "o_totalprice": pa.array(_money(r, 1000, 500_000, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )

    r = rng(seed, "lineitem")
    lk = r.integers(0, n_ord, n_line)
    ship_days = np.minimum(order_days[lk] + r.integers(1, 122, n_line), 2499)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lk),
            "l_partkey": pa.array(r.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(r, 900, 105_000, n_line)),
            "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(r, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(r, ("F", "O"), n_line),
            "l_shipdate": _ts(_EPOCH_1995 + ship_days * _US_PER_DAY),
        }
    )

    r = rng(seed, "events")
    ts = np.sort(r.integers(0, 30 * _US_PER_DAY, n_ev)) + _EPOCH_2024
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(r.integers(0, n_users, n_ev)),
            "event_type": _pick(r, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(r.exponential(60.0, n_ev), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev).tolist()]
            ),
        }
    )

    out["documents"] = documents(seed, n_docs)

    r = rng(seed, "embeddings")
    labels = r.integers(0, 10, n_vec)
    centroids = r.normal(size=(10, EMBED_DIM))
    vecs = centroids[labels] + r.normal(scale=1.5, size=(n_vec, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return out


def stage_catalog(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the catalog as ``<out_dir>/<table>.parquet``; returns row
    counts."""
    counts = {}
    for name, table in catalog(seed, sf).items():
        write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def sync_rounds(seed: int, base: pa.Table, rounds: int):
    """Successive source snapshots of ``customer``: each round picks
    ``SYNC_NATIONS`` nations and, within them, updates, deletes and
    inserts a seeded ``SYNC_CHURN`` share of rows. Yields ``(snapshot, counts)`` where
    ``counts`` are the planted change types against the previous
    snapshot."""
    r = rng(seed, "sync")
    cols = {c: base.column(c).to_numpy(zero_copy_only=False) for c in base.column_names}
    next_key = int(cols["c_custkey"].max()) + 1_000_000
    for _ in range(rounds):
        nations = r.choice(25, size=SYNC_NATIONS, replace=False)
        in_scope = np.isin(cols["c_nationkey"], nations)
        idx = np.flatnonzero(in_scope)
        k = max(1, int(len(idx) * SYNC_CHURN))
        chosen = r.permutation(idx)
        upd, dele = chosen[:k], chosen[k : 2 * k]
        cols["c_acctbal"] = cols["c_acctbal"].copy()
        cols["c_acctbal"][upd] = np.round(cols["c_acctbal"][upd] + 10.0, 2)
        keep = np.ones(len(cols["c_custkey"]), dtype=bool)
        keep[dele] = False
        new_keys = np.arange(next_key, next_key + k, dtype=np.int64)
        next_key += k
        fresh = {
            "c_custkey": new_keys,
            "c_name": np.array([f"Customer#{x:09d}" for x in new_keys.tolist()], dtype=object),
            "c_nationkey": r.choice(nations, size=k).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[r.integers(0, 5, k)],
        }
        cols = {c: np.concatenate([cols[c][keep], fresh[c]]) for c in cols}
        counts = {
            "UPDATED": len(upd),
            "DELETED": len(dele),
            "NEW": k,
            "UNCHANGED": int(keep.sum()) - len(upd),
        }
        yield pa.table({c: pa.array(v, base.schema.field(c).type) for c, v in cols.items()}), counts


def ingest_batches(seed: int, corpus: pa.Table, n_batches: int):
    """Micro-batches for the ingest gate: ``BATCH_SIZE - BATCH_COPIES``
    fresh documents (ids from ``INGEST_KEY_OFFSET``) plus
    ``BATCH_COPIES`` copies of seeded corpus documents of at least 40
    words, half verbatim and half with one word replaced. Yields
    ``(batch, exact_copy_ids, edited_copy_ids)``."""
    r = rng(seed, "ingest")
    texts = corpus.column("text").to_pylist()
    long_docs = [i for i, t in enumerate(texts) if len(t.split()) >= 40]
    fresh_n = BATCH_SIZE - BATCH_COPIES
    half = fresh_n + BATCH_COPIES // 2
    for b in range(n_batches):
        base_key = INGEST_KEY_OFFSET + b * BATCH_SIZE
        fresh_texts = documents(
            seed, fresh_n, base_key, stream=f"ingest-{b}", plant_copies=False
        ).column("text").to_pylist()
        copy_texts = []
        picked = r.choice(long_docs, size=BATCH_COPIES, replace=False)
        for c, src in enumerate(picked.tolist()):
            words = texts[src].split()
            if c >= BATCH_COPIES // 2:
                words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            copy_texts.append(" ".join(words))
        all_texts = fresh_texts + copy_texts
        ids = np.arange(base_key, base_key + BATCH_SIZE, dtype=np.int64)
        yield pa.table(
            {
                "doc_id": pa.array(ids),
                "text": pa.array(all_texts),
                "lang": _pick(r, LANGS, BATCH_SIZE, LANG_P),
                "source": pa.array([f"src{k % 20}" for k in ids.tolist()]),
                "n_chars": pa.array([len(t) for t in all_texts], pa.int64()),
            }
        ), ids[fresh_n:half].tolist(), ids[half:].tolist()


def digest(path: str) -> str:
    """Content digest of a staged file (generator-determinism check)."""
    import hashlib

    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def manifest(paths: list[str]) -> str:
    return json.dumps({os.path.basename(p): digest(p) for p in sorted(paths)})
