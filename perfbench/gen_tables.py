"""Seeded generator for the query tables the benchmark's query workload reads.

The graph queries (Louvain, k-truss, PageRank) read only
``lineitem(l_orderkey, l_partkey)``: parts are nodes, and two parts bought in
the same order are linked. ``lineitem`` follows the engine's reference test
tables at the same scale: about 6M x sf rows, ``l_orderkey`` drawn uniformly
from 1.5M x sf orders and ``l_partkey`` from 200k x sf parts, so the number
of lines per order, and with it the co-purchase graph, has the same shape.

The DuckDB oracle (``tools/oracle_check.duckdb_connection``) creates a view
over each of the ten reference tables, so the other nine are written as
empty placeholders with their key column: enough for the views to bind.

Usage: ``generate(out_dir, sf, seed)``; the same (sf, seed) always writes the
same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The tables no workload reads, with the key column each placeholder keeps.
PLACEHOLDERS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def lineitem(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_ord = max(100, int(1_500_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``, one row group each
    like the reference tables; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {"lineitem": lineitem(sf, seed)}
    for name, key in PLACEHOLDERS.items():
        tables[name] = pa.table({key: pa.array([], pa.int64())})
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return {name: table.num_rows for name, table in tables.items()}
