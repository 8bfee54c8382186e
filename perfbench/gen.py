"""Seeded input generator for the benchmark workloads.

Builds a 1x base with the shapes and value domains of the project's
sf0.1 fixture tables (TPC-H-like star schema, an event log, a text
corpus with planted near-duplicates, unit embeddings), entirely from
``--seed``. The 4x tables replicate the base the way
``scripts/gen_scaled_probe_data.py`` does: replica k shifts every key
column by ``k * OFFSET`` (so joins keep their 1x selectivity) and
prefixes document text with a replica token (so dedup does not collapse
the corpus). Rows of every 4x table are shuffled with the seed.

``duckdb_source`` copies tables into a DuckDB database file: the source
the JDBC operations read.

Usage: python3 perfbench/gen.py OUT_DIR SEED [table ...]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10_000_000
# rows per parquet row group: a 4x lineitem file splits into enough row
# groups for every core to scan a share
ROW_GROUP = 1 << 17

# 1x row counts (the sf0.1 fixture sizes)
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter order batch query sort customer big line row a scan key part "
    "group slow agg hash fast the"
).split()
PART_ADJ = "large hot blue old cold small red new".split()
PART_NOUN = "ring bolt plate gear nut screw pipe valve".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400 * 1_000_000


def _ts_days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    idx = pa.array(rng.choice(len(values), n, p=p).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values, pa.string())).cast(pa.string())


def _fmt(prefix, keys):
    return pa.array([f"{prefix}{k:09d}" for k in keys], pa.string())


def _base(name: str, rng: np.random.Generator, rows: dict[str, int]) -> pa.Table:
    n = rows.get(name)
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    keys = np.arange(n, dtype=np.int64)
    if name == "customer":
        return pa.table({
            "c_custkey": keys,
            "c_name": _fmt("Customer#", keys),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": keys,
            "s_name": _fmt("Supplier#", keys),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        })
    if name == "part":
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table({
            "p_partkey": keys,
            "p_name": _pick(rng, names, n),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n) / 10.0,
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, rows["customer"], n),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _ts_days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": rng.integers(0, rows["orders"], n),
            "l_partkey": rng.integers(0, rows["part"], n),
            "l_suppkey": rng.integers(0, rows["supplier"], n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _ts_days(rng, n, "1995-01-02", "2001-11-04"),
        })
    if name == "events":
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n))
        return pa.table({
            "event_id": keys,
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        })
    if name == "documents":
        words = np.asarray(VOCAB, dtype=object)
        lens = rng.integers(10, 101, n)
        texts = [" ".join(words[rng.integers(0, len(VOCAB), m)]) for m in lens]
        # plant near-duplicates: ~5% of docs copy an earlier doc and
        # append one token, the shape of the fixture corpus
        for i in np.flatnonzero(rng.random(n) < 0.05):
            if i > 0:
                texts[i] = texts[int(rng.integers(0, i))] + " dup"
        return pa.table({
            "doc_id": keys,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
        })
    if name == "embeddings":
        v = rng.standard_normal((n, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * 64 + 1, 64), pa.int32()),
            pa.array(v.ravel(), pa.float32()),
        )
        return pa.table({
            "vec_id": keys,
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        })
    raise ValueError(f"unknown table {name}")


def _replicate(name: str, base: pa.Table, r: int, rng) -> pa.Table:
    reps = []
    for k in range(r):
        rep = base
        if k > 0:
            for col in KEY_COLS.get(name, ()):
                i = rep.schema.get_field_index(col)
                shifted = pc.add(rep.column(col), k * OFFSET)
                rep = rep.set_column(i, rep.schema.field(i), shifted)
            if name == "documents":
                i = rep.schema.get_field_index("text")
                text = pc.binary_join_element_wise(f"rdup{k}", rep.column("text"), " ")
                rep = rep.set_column(i, rep.schema.field(i), text)
        reps.append(rep)
    out = pa.concat_tables(reps)
    if name in KEY_COLS and name != "events":
        # events keep their time order (event_id is monotonic in ts)
        out = out.take(rng.permutation(out.num_rows))
    return out


def generate(out_dir: str, seed: int, tables: list[str], scale: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for each name into ``out_dir`` and return
    rows per table. ``scale`` is an integer replication factor of the 1x
    base, or a fraction below 1 that shrinks the base (the warm-up
    inputs). The same seed gives the same files."""
    os.makedirs(out_dir, exist_ok=True)
    base_rows = {k: max(int(v * min(scale, 1)), 10) for k, v in ROWS.items()}
    rows = {}
    for name in tables:
        # one stream per table, so a table's content does not depend on
        # which other tables were requested
        rng = np.random.default_rng([seed, sorted(ROWS).index(name) if name in ROWS else 99, len(name)])
        t = _base(name, rng, base_rows)
        if scale > 1 and name in KEY_COLS:
            t = _replicate(name, t, int(scale), rng)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP)
        rows[name] = t.num_rows
    return rows


def duckdb_source(parquet_dir: str, db_path: str, tables: list[str]) -> None:
    """DuckDB database file with ``tables`` copied from ``parquet_dir``:
    the JDBC source of the export workload."""
    import duckdb

    con = duckdb.connect(db_path)
    try:
        con.execute("SET enable_progress_bar = false")
        for t in tables:
            con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(parquet_dir, t)}.parquet')"
            )
    finally:
        con.close()


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    names = sys.argv[3:] or ["region", "nation", *ROWS]
    print(generate(sys.argv[1], int(sys.argv[2]), names, 1))
