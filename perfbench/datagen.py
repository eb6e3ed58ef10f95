"""Seeded inputs for the benchmark: the ten catalog tables, written as one
parquet file with one row group each.

The table *contents* come from a fixed base seed, so every run sees the
same row counts, value distributions and duplicate structure.  The run's
``--seed`` then applies one random bijection to each surrogate-key domain
(customer, order, part, supplier, user, event, document and vector ids),
the same bijection in every column that references the domain, and
orders every table by its relabelled key.  Different seeds therefore give
the same histograms under a different key assignment, and the same seed
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

# Row counts of the TPC-H-shaped tables at scale factor 0.01, plus the
# event stream, the document corpus and the embedding table.
N_CUSTOMER = 1500
N_SUPPLIER = 100
N_PART = 2000
N_ORDERS = 15000
N_LINEITEM = 60000
N_USERS = 150
N_EVENTS = 10000
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
EMB_DIM = 64

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
VOCAB = (
    "spark table join order sort merge scan hash filter group query row "
    "data slow fast small big key value line batch stream window column "
    "vector customer part agg the a"
).split()

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# key domain -> (domain size, [(table, column), ...] that hold its ids)
KEY_DOMAINS = {
    "custkey": (N_CUSTOMER, [("customer", "c_custkey"), ("orders", "o_custkey")]),
    "suppkey": (N_SUPPLIER, [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")]),
    "partkey": (N_PART, [("part", "p_partkey"), ("lineitem", "l_partkey")]),
    "orderkey": (N_ORDERS, [("orders", "o_orderkey"), ("lineitem", "l_orderkey")]),
    "user_id": (N_USERS, [("events", "user_id")]),
    "event_id": (N_EVENTS, [("events", "event_id")]),
    "doc_id": (N_DOCUMENTS, [("documents", "doc_id")]),
    "vec_id": (N_EMBEDDINGS, [("embeddings", "vec_id")]),
}

# columns each table is ordered by after relabelling
SORT_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_DAY_US = 86_400_000_000


def _days_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype("int64")
    hi_d = np.datetime64(hi, "D").astype("int64")
    return rng.integers(lo_d, hi_d + 1, n) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng) -> dict[str, pa.Table]:
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(N_PART, dtype="int64"),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
    })
    # TPC-H leaves every third customer without orders
    buyers = np.array([c for c in range(N_CUSTOMER) if c % 3 != 0], dtype="int64")
    orderdate = _days_us(rng, "1995-01-01", "2001-08-01", N_ORDERS)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.choice(buyers, N_ORDERS),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(orderdate),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    l_order = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    first = np.searchsorted(l_order, l_order, side="left")
    linenumber = (np.arange(N_LINEITEM) - first + 1).astype("int32")
    out["lineitem"] = pa.table({
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype("int64"),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype("int64"),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
        "l_shipdate": _ts(
            orderdate[l_order] + rng.integers(1, 122, N_LINEITEM) * _DAY_US
        ),
    })
    return out


def _events(rng) -> pa.Table:
    start = np.datetime64("2024-01-01", "us").astype("int64")
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": _ts(start + offsets),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def _documents(rng) -> pa.Table:
    """Random-vocabulary documents with planted duplicate structure: 5%
    verbatim copies, 5% one-word edits of another document, 3% sharing
    one 12-word passage, and 1% copies re-emitted under another source."""

    def words(n: int) -> str:
        return " ".join(rng.choice(VOCAB, n))

    n = N_DOCUMENTS
    texts = [words(int(rng.integers(8, 90))) for _ in range(n)]
    slots = rng.permutation(n)
    n_exact, n_edit, n_passage, n_leak = n // 20, n // 20, (3 * n) // 100, n // 100
    cut = np.cumsum([n_exact, n_edit, n_passage, n_leak])
    exact, edit, passage_docs, leak = np.split(slots[: cut[-1]], cut[:-1])
    originals = slots[cut[-1]:]
    for i in exact:
        texts[i] = texts[int(rng.choice(originals))]
    for i in edit:
        ws = texts[int(rng.choice(originals))].split()
        ws[len(ws) // 2] = "edited"
        texts[i] = " ".join(ws)
    passage = words(12)
    for i in passage_docs:
        texts[i] = f"{words(8)} {passage} {words(8)}"
    sources = [f"src{i % N_SOURCES}" for i in range(n)]
    for i in leak:
        j = int(rng.choice(originals))
        texts[i] = texts[j]
        sources[i] = f"src{(j + 1) % N_SOURCES}"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng) -> pa.Table:
    """Unit-norm Gaussian vectors; 4% are small perturbations of another
    vector, so the near-duplicate operators have pairs to find."""
    n = N_EMBEDDINGS
    vecs = rng.standard_normal((n, EMB_DIM))
    slots = rng.permutation(n)
    near, originals = slots[: n // 25], slots[n // 25:]
    for i in near:
        vecs[i] = vecs[int(rng.choice(originals))] + rng.normal(0, 0.01, EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype("int32"),
    })


def base_tables() -> dict[str, pa.Table]:
    """The fixed table contents, before the seeded key relabelling."""
    rng = np.random.default_rng(BASE_SEED)
    out = _tpch(rng)
    out["events"] = _events(rng)
    out["documents"] = _documents(rng)
    out["embeddings"] = _embeddings(rng)
    return out


def relabel(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Apply one seeded bijection per key domain and re-order every table
    by its relabelled key."""
    rng = np.random.default_rng(seed)
    out = dict(tables)
    for size, refs in KEY_DOMAINS.values():
        perm = rng.permutation(size)
        for table, col in refs:
            t = out[table]
            idx = t.schema.get_field_index(col)
            new = perm[t.column(col).to_numpy()].astype("int64")
            out[table] = t.set_column(idx, t.schema.field(idx), pa.array(new))
    for name in ("customer", "supplier"):
        key, label, prefix = {
            "customer": ("c_custkey", "c_name", "Customer"),
            "supplier": ("s_suppkey", "s_name", "Supplier"),
        }[name]
        t = out[name]
        idx = t.schema.get_field_index(label)
        names = [f"{prefix}#{k:09d}" for k in t.column(key).to_pylist()]
        out[name] = t.set_column(idx, t.schema.field(idx), pa.array(names))
    for name, keys in SORT_KEYS.items():
        out[name] = out[name].sort_by([(k, "ascending") for k in keys])
    return out


def write_inputs(out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write the seed's tables to ``out_dir``; returns rows and bytes per
    table."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, table in relabel(base_tables(), seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=max(1, table.num_rows))
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats
