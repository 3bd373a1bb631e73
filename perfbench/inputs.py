"""Seeded benchmark inputs.

Two generators, both driven only by the workload seed:

* :func:`write_tpch_tables` writes the five TPC-H-shaped parquet tables
  the engine's graph derivation reads (``tpch_graph.GRAPH_TABLES``), with
  the key distributions of the repository's TPC-H testdata: 0-based
  keys, uniform foreign keys, about four lineitems per order. At sf0.1
  that is 25 nations, 1,000 suppliers, 15,000 customers, 150,000 orders
  and 600,000 lineitems, which derive to a 16,025-vertex graph with
  about 603k edges.
* :func:`ngs_pair` builds a NetGameSim-style original/perturbed graph
  pair following the FIXTURES.md section 1 constraints: id 0 exists,
  several in-degree-0 start nodes, sink nodes, and the golden-YAML
  perturbation taxonomy (about 7% of nodes removed, 5% added under an
  existing node, 5% modified, plus edge additions, removals and
  modifications).

Nothing here imports Spark; the caller turns the pandas frames into a
``NetGraph`` and serializes it with ``ngs_text.serialize_graph``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_NATIONS = 25
#: edges per node of the original NetGameSim graph (FIXTURES.md section 1)
EDGES_PER_NODE = 1.7


def write_tpch_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write nation/supplier/customer/orders/lineitem parquet files."""
    rng = np.random.default_rng([seed, 1])
    n_supp = max(1, round(10_000 * sf))
    n_cust = max(1, round(150_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    tables = {
        "nation": {"n_nationkey": np.arange(N_NATIONS, dtype=np.int32)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_nationkey": rng.integers(0, N_NATIONS, n_supp).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_nationkey": rng.integers(0, N_NATIONS, n_cust).astype(np.int32),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
        },
        "lineitem": {
            "l_orderkey": np.sort(rng.integers(0, n_ord, n_line)),
            "l_suppkey": rng.integers(0, n_supp, n_line),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _vertices(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame(
        {
            "id": ids.astype(np.int64),
            "children": rng.integers(0, 8, n),
            "props": rng.integers(0, 20, n),
            "current_depth": rng.integers(1, 5, n),
            "prop_value_range": rng.integers(0, 100, n),
            "max_depth": rng.integers(0, 5, n),
            "max_branching_factor": rng.integers(0, 7, n),
            "max_properties": rng.integers(0, 20, n),
            "stored_value": rng.random(n),
            "valuable_data": rng.random(n) < 0.5,
        }
    )


def _edges(rng: np.random.Generator, src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    n = len(src)
    rv = rng.integers(0, 100, n).astype(float)
    rv[rng.random(n) < 0.2] = np.nan
    return pd.DataFrame(
        {
            "src": src.astype(np.int64),
            "dst": dst.astype(np.int64),
            "action_type": rng.integers(0, 20, n),
            "from_field": rng.integers(0, 1000, n),
            "to_field": rng.integers(0, 1000, n),
            "resulting_value": pd.array(rv, dtype="Int64"),
            "cost": rng.random(n),
        }
    )


def ngs_pair(
    n_nodes: int, seed: int
) -> tuple[tuple[pd.DataFrame, pd.DataFrame], tuple[pd.DataFrame, pd.DataFrame]]:
    """((og_vertices, og_edges), (pg_vertices, pg_edges)) as pandas frames.

    The original graph is a forward DAG over ids 0..n-1: about 3% of the
    nodes (always including 0) are roots with no in-edge, every other
    node hangs under one earlier node, and extra forward edges bring the
    total to ``EDGES_PER_NODE`` per node. Nodes that draw no out-edge
    are the sinks.
    """
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(n_nodes)
    og_v = _vertices(rng, ids)

    is_root = rng.random(n_nodes) < 0.03
    is_root[0] = True
    children = ids[~is_root]
    parents = (rng.random(len(children)) * children).astype(np.int64)
    n_extra = max(0, round(EDGES_PER_NODE * n_nodes) - len(children))
    a = rng.integers(0, n_nodes - 1, 4 * n_extra + 8)
    b = rng.integers(0, n_nodes, 4 * n_extra + 8)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    keep = (lo != hi) & ~is_root[hi]
    pairs = pd.DataFrame(
        {"src": np.concatenate([parents, lo[keep]]),
         "dst": np.concatenate([children, hi[keep]])}
    ).drop_duplicates()
    pairs = pairs.iloc[: len(children) + n_extra]
    og_e = _edges(rng, pairs["src"].to_numpy(), pairs["dst"].to_numpy())

    # perturbation: removed / modified / added nodes, then edge changes
    removable = ids[1:]
    removed = rng.choice(removable, round(0.07 * n_nodes), replace=False)
    pg_v = og_v[~og_v["id"].isin(removed)].reset_index(drop=True)
    modified = rng.choice(len(pg_v), round(0.05 * n_nodes), replace=False)
    attrs = ["children", "props", "max_depth", "max_properties", "prop_value_range"]
    for row in modified:
        col = attrs[rng.integers(0, len(attrs))]
        pg_v.loc[row, col] = pg_v.loc[row, col] + 1
    n_added = round(0.05 * n_nodes)
    added_ids = np.arange(n_nodes, n_nodes + n_added)
    pg_v = pd.concat([pg_v, _vertices(rng, added_ids)], ignore_index=True)

    pg_e = og_e[~og_e["src"].isin(removed) & ~og_e["dst"].isin(removed)]
    pg_e = pg_e.drop(
        index=rng.choice(pg_e.index, round(0.03 * len(pg_e)), replace=False)
    ).reset_index(drop=True)
    changed = rng.choice(len(pg_e), round(0.03 * len(pg_e)), replace=False)
    pg_e.loc[changed, "cost"] = rng.random(len(changed))
    survivors = pg_v["id"].to_numpy()[: len(pg_v) - n_added]
    attach = _edges(rng, rng.choice(survivors, n_added), added_ids)
    s = rng.choice(survivors, 4 * n_added)
    d = rng.choice(survivors, 4 * n_added)
    fwd = (s < d) & (d != 0)
    extra = (
        pd.DataFrame({"src": s[fwd], "dst": d[fwd]})
        .merge(pg_e[["src", "dst"]], how="left", indicator=True)
        .query("_merge == 'left_only'")
        .drop_duplicates(["src", "dst"])
        .iloc[:n_added]
    )
    pg_e = pd.concat(
        [pg_e, attach, _edges(rng, extra["src"].to_numpy(), extra["dst"].to_numpy())],
        ignore_index=True,
    )
    return (og_v, og_e), (pg_v, pg_e)
