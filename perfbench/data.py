"""Seeded benchmark inputs.

``write_tables`` writes the star schema of TESTDATA.md (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as one parquet file per table, a pure function of ``--seed``.  Column
names and types are the read-only testdata's.  Row counts are the
testdata's own at sf0.001 (``SF0_001``) or sf0.01 (``SF0_01``), so the
tables keep its ratios (4 lines per order, 2/3 of an event per order, 67
events per user, 5% planted near-duplicate documents).  The value
distributions follow figures measured on the testdata; ``perfbench/README.md``
lists them next to the same figures of these tables.  The registered
``__spark_entry__`` queries and their DuckDB oracles run on these files
unchanged.

Row counts never depend on the seed, only values do, so every seed costs
the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# words of the testdata's documents table ("dup" marks planted near-dups)
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
PART_ADJ = "blue cold hot large red small".split()
PART_NOUN = "anvil bolt gizmo plate ring rod widget gear".split()
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

# rows per table of the testdata at sf0.001 and sf0.01 (``users``: distinct
# user_id of events)
SF0_001 = dict(customer=150, supplier=10, part=200, orders=1500,
               lineitem=6000, events=1000, users=15, documents=500,
               embeddings=500)
SF0_01 = dict(customer=1500, supplier=100, part=2000, orders=15000,
              lineitem=60000, events=10000, users=150, documents=500,
              embeddings=500)

_EPOCH = np.datetime64("1970-01-01", "us")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    return base + n_days.astype(np.int64) * 86_400_000_000


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB, size=n_words))


def tables(seed: int, sizes: dict) -> dict[str, pa.Table]:
    """The star schema as Arrow tables (deterministic in ``seed``) with the
    row counts of ``sizes`` (keys as in ``SF0_001``)."""
    rng = np.random.default_rng(seed)
    s = sizes
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, ns), 2)})
    npart = s["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                               rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = s["orders"]
    odate = _days("1995-01-01", rng.integers(0, 2404, no))
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = s["lineitem"]
    # uniform order keys: 4.07 lines per order with lines, 1.8% of orders
    # without any, as in the testdata
    okey = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3600, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        # the testdata draws ship dates independently of order dates
        "l_shipdate": _ts(_days("1995-01-02", rng.integers(0, 2498, nl)))})
    ne = s["events"]
    t0 = int((np.datetime64("2024-01-01", "us") - _EPOCH).astype(np.int64))
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = s["documents"]
    texts = [_text(rng, int(k)) for k in rng.integers(10, 100, nd)]
    # planted near-duplicates, 5% of the documents as in the testdata: a
    # copy of another document plus the marker word "dup" (word-trigram
    # Jaccard >= 8/9, the recall certificates' ground truth)
    dups = rng.choice(nd, size=nd // 20, replace=False)
    originals = np.setdiff1d(np.arange(nd), dups)
    for j in dups:
        texts[j] = texts[originals[int(rng.integers(0, len(originals)))]] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = s["embeddings"]
    emb = rng.normal(0.0, 0.125, (nv, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write_tables(out_dir: str, seed: int, sizes: dict) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables(seed, sizes).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
