"""The workloads: their inputs and their operation lists.

Registered queries run by name (each has a DuckDB oracle or is checked
rows-only). The export operations run the reference's pipeline: a
full-pushdown JDBC query written to parquet (``jdbc_*``), the CLI's
table-directory export and the CLI's snapshot fold (``cli_*``).

``relational`` holds the Tier B queries and the export pipeline over the
same 4x tables; ``curation`` holds the Tier C operators at 1x.
"""

from __future__ import annotations

WORKLOADS = {
    "relational": {
        "scale": 4,
        "tables": ["customer", "orders", "lineitem"],
        "ops": ["tpch_q1", "tpch_q3_shape", "tpch_q6", "jdbc_full", "jdbc_join",
                "cli_export", "cli_fold"],
    },
    "curation": {
        "scale": 1,
        "tables": ["documents", "embeddings"],
        "ops": ["dedup_exact", "dedup_minhash", "pipeline_curate", "multimodal_frames"],
    },
}


def writes(workload: str) -> bool:
    """True for workloads whose operations write parquet."""
    return any(op in JDBC_QUERIES or op.startswith("cli_") for op in WORKLOADS[workload]["ops"])


# tables copied into the DuckDB file that the JDBC source reads
JDBC_TABLES = ["orders", "customer"]
JDBC_DRIVER = "org.duckdb.DuckDBDriver"

JDBC_QUERIES = {
    "jdbc_full": "SELECT * FROM customer",
    "jdbc_join": (
        "SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, c.c_name, "
        "c.c_mktsegment FROM orders o JOIN customer c "
        "ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderstatus = 'F' AND c.c_mktsegment = 'BUILDING'"
    ),
}

CLI_EXPORT_QUERY = (
    "SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_discount, "
    "l_shipdate FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01'"
)

SNAPSHOT_KEY = "c_custkey"
SNAPSHOT_BOOTSTRAP = "SELECT * FROM customer"
# fold i rewrites the segment of the customers whose key is i mod
# FOLD_SLICES, so every key is touched by at most one fold of a run
FOLD_SLICES = 97


def fold_query(i: int) -> str:
    if not 1 <= i < FOLD_SLICES:
        raise ValueError(f"fold {i} outside 1..{FOLD_SLICES - 1}")
    return (
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
        f"'fold-{i}' AS c_mktsegment FROM customer "
        f"WHERE c_custkey % {FOLD_SLICES} = {i}"
    )


def snapshot_expected(n_folds: int) -> str:
    """DuckDB SQL for the snapshot after folds 1..n_folds."""
    return (
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
        f"CASE WHEN c_custkey % {FOLD_SLICES} BETWEEN 1 AND {n_folds} "
        f"THEN 'fold-' || CAST(c_custkey % {FOLD_SLICES} AS VARCHAR) "
        "ELSE c_mktsegment END AS c_mktsegment FROM customer"
    )
