"""Seeded input generators: the same seed writes byte-identical files.

Two input sets:

- ``write_registry_tables`` writes the ten tables the query registry reads
  (region nation customer supplier part orders lineitem events documents
  embeddings) with the schemas and value domains of the engine's testdata,
  at a chosen row scale.
- ``write_edge_stream`` writes a timestamped edge stream as numbered
  parquet files, one per micro-batch, with Zipf-skewed sources and a
  seeded share of edges that arrive after the watermark.

Everything is generated with numpy on one thread and written with pyarrow
as single-row-group files, as the testdata is.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1.0; these are the testdata's sf0.01 counts.
TABLE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()
_PART_ADJ = "blue hot small old red new cold big".split()
_PART_NOUN = "bolt gear anvil widget ring rod plate nut".split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "fr", "es"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400 * 1_000_000
_MTIME_BASE = 1_700_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_registry_tables(out_dir: str, seed: int, scale: float = 1.0) -> None:
    """Write the registry's ten tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * scale)) for k, v in TABLE_ROWS.items()}
    ids = {k: np.arange(v, dtype=np.int64) for k, v in n.items()}
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": ids["customer"],
        "c_name": [f"Customer#{i:09d}" for i in ids["customer"]],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": ids["supplier"],
        "s_name": [f"Supplier#{i:09d}" for i in ids["supplier"]],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    tables["part"] = pa.table({
        "p_partkey": ids["part"],
        "p_name": [
            f"{a} {b}"
            for a, b in zip(
                rng.choice(_PART_ADJ, n["part"]), rng.choice(_PART_NOUN, n["part"])
            )
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (ids["part"] % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": ids["orders"],
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n["orders"]) * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    lines = n["lineitem"]
    orderkey = np.sort(rng.integers(0, n["orders"], lines))
    linenumber = np.ones(lines, dtype=np.int32)
    for i in range(1, lines):
        if orderkey[i] == orderkey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    perm = rng.permutation(lines)
    quantity = rng.integers(1, 51, lines).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": orderkey[perm],
        "l_partkey": rng.integers(0, n["part"], lines),
        "l_suppkey": rng.integers(0, n["supplier"], lines),
        "l_linenumber": linenumber[perm],
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, lines), 2),
        "l_discount": rng.integers(0, 11, lines) / 100.0,
        "l_tax": rng.integers(0, 9, lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lines),
        "l_linestatus": rng.choice(["O", "F"], lines),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, lines) * _DAY_US),
    })
    n_users = max(10, n["events"] // 66)
    tables["events"] = pa.table({
        "event_id": ids["events"],
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n["events"]))),
        "user_id": rng.integers(0, n_users, n["events"]),
        "event_type": rng.choice(_EVENT_TYPES, n["events"]),
        "value": _money(rng, 0.01, 490.0, n["events"]),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
    })
    texts = [
        " ".join(rng.choice(_WORDS, int(k)))
        for k in rng.integers(10, 100, n["documents"])
    ]
    tables["documents"] = pa.table({
        "doc_id": ids["documents"],
        "text": texts,
        "lang": rng.choice(_LANGS, n["documents"]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n["embeddings"])
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n["embeddings"], 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": ids["embeddings"],
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def write_edge_stream(
    out_dir: str,
    seed: int,
    files: int,
    edges_per_file: int,
    vertices: int,
    late_share: float,
    late_by_s: int,
    step_s: int = 2,
) -> list[str]:
    """Write ``files`` parquet files of ``src, dst, val, ts`` edges.

    Sources follow a Zipf(1.1) law over ``vertices`` ids, destinations are
    uniform, self-loops are re-drawn. Event time advances ``step_s``
    seconds per edge in whole seconds; a ``late_share`` of edges carries a
    time ``late_by_s`` seconds earlier than its arrival position.
    Returns the file paths in arrival order.
    """
    os.makedirs(out_dir, exist_ok=True)
    # the file source reads every file in the directory: drop stale ones
    for name in os.listdir(out_dir):
        os.remove(os.path.join(out_dir, name))
    rng = np.random.default_rng([seed, 2])
    total = files * edges_per_file
    weights = np.arange(1, vertices + 1, dtype=np.float64) ** -1.1
    src = rng.choice(vertices, size=total, p=weights / weights.sum())
    dst = rng.integers(0, vertices, total)
    loops = src == dst
    dst[loops] = (dst[loops] + 1 + rng.integers(0, vertices - 1, loops.sum())) % vertices
    offsets = np.arange(total, dtype=np.int64) * step_s
    late = rng.random(total) < late_share
    offsets[late] = np.maximum(0, offsets[late] - late_by_s)
    val = _money(rng, 0.0, 100.0, total)
    paths = []
    for i in range(files):
        part = slice(i * edges_per_file, (i + 1) * edges_per_file)
        table = pa.table({
            "src": src[part].astype(np.int64),
            "dst": dst[part].astype(np.int64),
            "val": val[part],
            "ts": _ts("2024-01-01", offsets[part] * 1_000_000),
        })
        path = os.path.join(out_dir, f"chunk-{i:05d}.parquet")
        _write(table, path)
        # the file source takes files oldest first: pin the arrival order
        os.utime(path, (_MTIME_BASE + i, _MTIME_BASE + i))
        paths.append(path)
    return paths


def digest(directory: str) -> str:
    """SHA-256 over the names and bytes of every file in ``directory``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode())
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
