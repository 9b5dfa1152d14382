"""Seeded benchmark inputs, written as parquet under a work directory.

Every table is a pure function of ``(seed, size)``: the same arguments
give byte-identical rows, a different seed gives different rows. The
program under test only ever sees the files written here.

Two families:

- ``write_registry_fixture``: the ten star-schema/event/text/vector
  tables the query registry reads (``sources.parquet.TABLES``), shaped
  like the test fixtures (same columns, types and value domains).
- ``write_archive_tables``: OpenStack-shaped soft-delete tables
  (``instances`` and its FK child ``instance_metadata``). Each row's
  random fields come from a hash of ``(primary key, seed, field)``,
  not from a sequential generator or Spark ``rand(seed)``, so a row's
  content does not depend on how many rows are generated or how a
  writer partitions them.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_COLORS = ["blue", "old", "hot", "large", "cold", "small", "new", "red"]
PART_NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.44, 0.14, 0.13, 0.15]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EMBED_DIM = 64

EPOCH = datetime(2026, 1, 1)
US = 1_000_000


def _ts_us(base: datetime, offsets_us: np.ndarray, null: np.ndarray | None = None) -> pa.Array:
    base_us = int((base - datetime(1970, 1, 1)).total_seconds()) * US
    return pa.array(base_us + offsets_us.astype(np.int64), type=pa.timestamp("us"), mask=null)


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_registry_fixture(out_dir: str, seed: int, scale: float = 0.01, n_vectors: int | None = None) -> dict:
    """The registry's ten tables at ``scale`` (1.0 would be 6M
    lineitems; 0.01 is the 60k-row test fixture size). Returns the
    row count of every table written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1_500, int(1_500_000 * scale))
    n_line = n_orders * 4
    n_events = max(1_000, int(1_000_000 * scale))
    n_users = max(15, n_events * 15 // 1_000)
    n_docs = max(500, int(50_000 * scale))
    n_vecs = n_vectors or max(500, int(50_000 * scale))
    counts = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        counts[name] = t.num_rows
        _write(t, out_dir, name)

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )

    def acctbal(n: int) -> np.ndarray:
        return np.round(rng.integers(-99_999, 999_999, n) / 100.0, 2)

    put(
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": acctbal(n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": acctbal(n_supp),
        },
    )
    pk = np.arange(n_part, dtype=np.int64)
    put(
        "part",
        {
            "p_partkey": pk,
            "p_name": [
                f"{PART_COLORS[c]} {PART_NOUNS[n]}"
                for c, n in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        },
    )
    order_days = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days
    put(
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.integers(100_000, 50_000_000, n_orders) / 100.0, 2),
            "o_orderdate": _ts_us(datetime(1995, 1, 1), rng.integers(0, order_days + 1, n_orders) * 86_400 * US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        },
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship_days = (datetime(2001, 11, 4) - datetime(1995, 1, 2)).days
    put(
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.integers(90_000, 210_000, n_line) / 100.0, 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts_us(datetime(1995, 1, 2), rng.integers(0, ship_days + 1, n_line) * 86_400 * US),
        },
    )
    ts = np.sort(rng.integers(0, 30 * 86_400 * US, n_events))
    put(
        "events",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts_us(datetime(2024, 1, 1), ts),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    )
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators
            # have real clusters to find
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = [WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    put(
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_WEIGHTS)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    # clustered like real embeddings (32 topics, within-topic cosine
    # ~0.7), so ANN recall measures the index, not uniform-noise luck
    centers = rng.standard_normal((32, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.standard_normal((n_vecs, EMBED_DIM)) * 0.08
    emb = (centers[rng.integers(0, 32, n_vecs)] + noise).astype(np.float32)
    # ~5% near-duplicates (cosine ~0.99 to an earlier vector), so the
    # embedding dedup operators have pairs to find
    for i in np.flatnonzero(rng.random(n_vecs) < 0.05):
        if i >= 10:
            j = int(rng.integers(0, i))
            emb[i] = emb[j] / np.linalg.norm(emb[j]) + 0.02 * noise[i] / 0.08 / np.sqrt(EMBED_DIM)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put(
        "embeddings",
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        },
    )
    return counts


# --- archive tables -------------------------------------------------------


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        z = x + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def key_hash(keys: np.ndarray, seed: int, field: int) -> np.ndarray:
    """Uniform uint64 per (key, seed, field): a row's value depends on
    nothing but its own key."""
    with np.errstate(over="ignore"):
        salt = _mix64(np.array([seed * 1_000_003 + field], dtype=np.uint64))[0]
        return _mix64(keys.astype(np.uint64) ^ salt)


def _unit(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# Soft-delete timestamps of deleted rows spread over this many days
# before EPOCH; the archive cycles walk a retention cutoff through them.
DELETE_SPAN_DAYS = 720
METADATA_PER_INSTANCE = 4


def write_archive_tables(out_dir: str, seed: int, n_instances: int) -> dict:
    """``instances`` (~60% live rows with NULL ``deleted_at``) and
    ``instance_metadata`` (4 rows per instance, inheriting the parent's
    ``deleted_at``; ~2% of a deleted parent's children stay NULL — the
    orphan case). Single leading int64 primary keys throughout."""
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(1, n_instances + 1, dtype=np.int64)
    deleted = _unit(key_hash(ids, seed, 1)) < 0.4
    del_off = (_unit(key_hash(ids, seed, 2)) * DELETE_SPAN_DAYS * 86_400 * US).astype(np.int64)
    created_off = (_unit(key_hash(ids, seed, 3)) * 365 * 86_400 * US).astype(np.int64)
    start = EPOCH - timedelta(days=DELETE_SPAN_DAYS + 400)
    created = _ts_us(start, created_off)
    del_base = EPOCH - timedelta(days=DELETE_SPAN_DAYS)
    deleted_at = _ts_us(del_base, del_off, null=~deleted)
    uuid_h = key_hash(ids, seed, 4)
    host_h = key_hash(ids, seed, 5) % np.uint64(4096)
    inst = pa.table(
        {
            "id": ids,
            "uuid": [f"{h:016x}-{i:08x}" for h, i in zip(uuid_h.tolist(), ids.tolist())],
            "hostname": [f"compute-{h:04d}" for h in host_h.tolist()],
            "created_at": created,
            "deleted_at": deleted_at,
        }
    )
    _write(inst, out_dir, "instances")

    mids = np.arange(1, n_instances * METADATA_PER_INSTANCE + 1, dtype=np.int64)
    parent = (mids - 1) // METADATA_PER_INSTANCE + 1
    orphan = _unit(key_hash(mids, seed, 6)) < 0.02
    child_del = _ts_us(del_base, del_off[parent - 1], null=~deleted[parent - 1] | orphan)
    val_h = key_hash(mids, seed, 7)
    meta = pa.table(
        {
            "id": mids,
            "instance_id": parent,
            "key": [f"key{k}" for k in ((mids - 1) % METADATA_PER_INSTANCE).tolist()],
            "value": [f"{h:012x}" for h in (val_h >> np.uint64(16)).tolist()],
            "deleted_at": child_del,
        }
    )
    _write(meta, out_dir, "instance_metadata")
    return {"instances": inst.num_rows, "instance_metadata": meta.num_rows}
