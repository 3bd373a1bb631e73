"""The benchmark's workloads: inputs, one operation, and output checks.

Each workload builds its inputs from the seed (``prepare``), runs one
operation (``op``) and checks that operation's output (``check``, which
returns a list of problems and runs outside every timed region). Both
``prepare`` and ``op`` take a ``span(name, layer)`` context factory,
which is a no-op in untraced runs. The traced run additionally installs
``wraps``: the engine functions whose calls become spans, with the row
counters recorded for them.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import yaml

import inputs

from big_data_graph_analysis_with_spark_spark import EDGE_SCHEMA, VERTEX_SCHEMA, NetGraph
from big_data_graph_analysis_with_spark_spark.config import SimConfig
from big_data_graph_analysis_with_spark_spark.plans import pipeline
from big_data_graph_analysis_with_spark_spark.sources import ngs_text, tpch_graph

HERE = os.path.dirname(os.path.abspath(__file__))

#: Registry builders timed by ``graph_queries``: one triangle-family
#: query and one iterative fixpoint.
GRAPH_QUERIES = ["triangle_counts", "label_propagation"]

#: (workload, size) -> parameters. ``tiny`` is the smoke-test size.
SIZES = {
    ("mitm_ngs", "full"): {"nodes": 1000, "walks": 20, "iters": 20, "accum": 10},
    ("mitm_ngs", "tiny"): {"nodes": 50, "walks": 4, "iters": 4, "accum": 2},
    ("graph_queries", "full"): {"sf": 0.01},
    ("graph_queries", "tiny"): {"sf": 0.001},
}


def _digest(obj: Any) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


@dataclass
class Wrap:
    module: str
    attr: str
    layer: str
    counters: Callable[[Any, tuple], dict[str, int]] | None = None


class MitmNgs:
    """``run_pipeline`` on a seeded NetGameSim-format graph pair."""

    name = "mitm_ngs"

    def __init__(self, spark, seed: int, size: str) -> None:
        p = SIZES[(self.name, size)]
        self.spark, self.seed, self.size = spark, seed, size
        self.n_nodes = p["nodes"]
        self.cfg = SimConfig(
            num_of_parallel_walks=p["walks"],
            num_iters_per_comp_node=p["iters"],
            iters_before_accum=p["accum"],
            seed=seed,
        )
        self.first_stats: dict[str, str] | None = None
        with open(os.path.join(HERE, "pinned.json"), encoding="utf-8") as f:
            self.pinned = json.load(f).get(f"{self.name}/{size}/{seed}")
        self.pinned_checked = False

    def prepare(self, rep_dir: str, span) -> dict[str, int]:
        """Generate the pair, write it as NetGameSim text, load it back."""
        (ov, oe), (pv, pe) = inputs.ngs_pair(self.n_nodes, self.seed)
        paths = {}
        for tag, v, e in (("og", ov, oe), ("pg", pv, pe)):
            g = NetGraph(
                self.spark.createDataFrame(v, VERTEX_SCHEMA),
                self.spark.createDataFrame(e, EDGE_SCHEMA),
            )
            paths[tag] = os.path.join(rep_dir, f"{tag}.txt")
            with open(paths[tag], "w", encoding="utf-8") as f:
                f.write(ngs_text.serialize_graph(g))
        with span("load_graph", "sources"):
            self.og = ngs_text.load_graph(self.spark, paths["og"])
            self.pg = ngs_text.load_graph(self.spark, paths["pg"])
            counts = {
                "vertices": self.og.num_vertices() + self.pg.num_vertices(),
                "edges": self.og.num_edges() + self.pg.num_edges(),
            }
        self.valuable = sorted(int(i) for i in ov.loc[ov["valuable_data"], "id"])
        self.expect_counts = {"vertices": len(ov) + len(pv), "edges": len(oe) + len(pe)}
        self.yaml_path = os.path.join(rep_dir, "stats.yaml")
        return counts

    def check_inputs(self, counts: dict[str, int]) -> list[str]:
        if counts != self.expect_counts:
            return [f"loaded graph sizes {counts} != generated {self.expect_counts}"]
        return []

    def op(self, span):
        # spans come from the wrapped engine functions
        return pipeline.run_pipeline(
            self.spark, self.og, self.pg, self.cfg, yaml_path=self.yaml_path
        )

    def check(self, res) -> list[str]:
        errs = []
        st = res.stats
        if self.first_stats is None:
            self.first_stats = st
        elif st != self.first_stats:
            errs.append("stats block differs from the first call in this process")
        if self.pinned is not None:
            self.pinned_checked = True
            if _digest(st) != self.pinned:
                errs.append("stats block differs from the pinned block for this seed")
        with open(self.yaml_path, encoding="utf-8") as f:
            if yaml.safe_load(f) != st:
                errs.append("YAML sink content differs from the returned stats")
        m = res.matches.toPandas()
        valuable = set(self.valuable)
        if not set(m["og_id"]).issubset(valuable):
            errs.append("a matched og_id is not a valuable original node")
        if st["valuableOriginalNodeIds"] != "[" + ", ".join(map(str, self.valuable)) + "]":
            errs.append("valuableOriginalNodeIds differs from the generated graph")
        uncovered = sorted(valuable - set(m["pg_id"]))
        if st["uncoveredValuableNodeIds"] != "[" + ", ".join(map(str, uncovered)) + "]":
            errs.append("uncoveredValuableNodeIds inconsistent with the matches")
        above = m[m["score"] > self.cfg.node_match_threshold]
        tp = int((above["pg_id"] == above["og_id"]).sum())
        if (st["numTruePositiveMatches"], st["numFalsePositiveMatches"]) != (
            str(tp), str(len(above) - tp)
        ):
            errs.append("TP/FP counts inconsistent with the matches")
        for kind in ("successful", "unsuccessful"):
            per_part = yaml.safe_load(st[f"{kind}WalksPerPartition"])
            total = int(st[f"total{kind[0].upper()}{kind[1:]}Walks"])
            if len(per_part) != self.cfg.num_of_parallel_walks or sum(per_part.values()) != total:
                errs.append(f"{kind} walk counts inconsistent")
        return errs

    @property
    def digest(self) -> str | None:
        return None if self.first_stats is None else _digest(self.first_stats)

    def wraps(self) -> list[Wrap]:
        ops = "big_data_graph_analysis_with_spark_spark.operators."
        rows = lambda out, args: {"rows": out.count()}  # noqa: E731
        return [
            Wrap(ops + "walks", "sample_start_assignments_dist", "walks"),
            Wrap(ops + "walks", "ensure_sideload", "walks"),
            Wrap(ops + "walks", "run_walks", "walks", rows),
            Wrap(ops + "walks", "walk_visited_sets", "walks", rows),
            Wrap(ops + "simrank", "init_scores", "simrank"),
            Wrap(ops + "walk_simrank", "walk_simrank_round", "walk_simrank", rows),
            Wrap(ops + "matching", "best_match", "matching",
                 lambda out, args: {"candidates": args[0].count()}),
            Wrap(ops + "matching", "valuable_matches", "matching", rows),
            Wrap(ops + "matching", "merge_matches", "matching", rows),
            Wrap(ops + "stats", "assemble_stats", "stats"),
            # pipeline.py imports the sink by name, so it is wrapped there
            Wrap(pipeline.__name__, "write_yaml_stats", "sinks"),
        ]


class GraphQueries:
    """A fixed list of registry builders, each collected with toPandas."""

    name = "graph_queries"

    def __init__(self, spark, seed: int, size: str, duckdb_conf: dict[str, Any]) -> None:
        import __spark_entry__

        self.spark, self.seed = spark, seed
        self.sf = SIZES[(self.name, size)]["sf"]
        builders = __spark_entry__.queries()
        oracles = __spark_entry__.oracle_sql()
        self.builders = {q: builders[q] for q in GRAPH_QUERIES}
        self.oracle_sql = {q: oracles[q] for q in GRAPH_QUERIES}
        self.duckdb_conf = duckdb_conf
        self.oracle: dict[str, pd.DataFrame] | None = None
        self.pinned_checked = False
        self.digest = None

    def prepare(self, rep_dir: str, span) -> dict[str, int]:
        self.sf_dir = rep_dir
        inputs.write_tpch_tables(rep_dir, self.sf, self.seed)
        with span("derive_graphs", "sources"):
            og, pg = tpch_graph.derive_graphs(self.spark, rep_dir)
            return {
                "vertices": og.num_vertices() + pg.num_vertices(),
                "edges": og.num_edges() + pg.num_edges(),
            }

    def check_inputs(self, counts: dict[str, int]) -> list[str]:
        """Recount the derived pair from the tables with pandas, following
        the derivation rules documented in ``tpch_graph``."""
        import pyarrow.parquet as pq

        t = {n: pq.read_table(os.path.join(self.sf_dir, f"{n}.parquet")).to_pandas()
             for n in tpch_graph.GRAPH_TABLES}
        trade = t["lineitem"].merge(t["orders"], left_on="l_orderkey", right_on="o_orderkey")
        trade = trade[["l_suppkey", "o_custkey"]].drop_duplicates()
        og_ids = np.concatenate([
            t["nation"]["n_nationkey"].to_numpy(np.int64),
            tpch_graph.SUPPLIER_OFFSET + t["supplier"]["s_suppkey"].to_numpy(),
            tpch_graph.CUSTOMER_OFFSET + t["customer"]["c_custkey"].to_numpy(),
        ])
        src = np.concatenate([
            t["supplier"]["s_nationkey"].to_numpy(np.int64),
            t["customer"]["c_nationkey"].to_numpy(np.int64),
            tpch_graph.SUPPLIER_OFFSET + trade["l_suppkey"].to_numpy(),
        ])
        dst = np.concatenate([
            tpch_graph.SUPPLIER_OFFSET + t["supplier"]["s_suppkey"].to_numpy(),
            tpch_graph.CUSTOMER_OFFSET + t["customer"]["c_custkey"].to_numpy(),
            tpch_graph.CUSTOMER_OFFSET + trade["o_custkey"].to_numpy(),
        ])
        m = tpch_graph.REMOVE_MOD
        n_nation = len(t["nation"])
        expect = {
            "vertices": 2 * len(og_ids) - int((og_ids % m == 0).sum()) + n_nation,
            "edges": 2 * len(src) - int(((src % m == 0) | (dst % m == 0)).sum()) + n_nation,
        }
        if counts != expect:
            return [f"derived graph sizes {counts} != {expect} recounted from the tables"]
        return []

    def wraps(self) -> list[Wrap]:
        return []  # op spans each builder itself

    def op(self, span):
        out = {}
        for q, fn in self.builders.items():
            with span(q, "graphalg"):
                out[q] = fn(self.spark, self.sf_dir).toPandas()
        return out

    def _oracles(self) -> dict[str, pd.DataFrame]:
        import duckdb

        con = duckdb.connect(config=self.duckdb_conf)
        try:
            con.execute("SET enable_progress_bar = false")
            for t in tpch_graph.GRAPH_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            return {q: con.execute(sql).df() for q, sql in self.oracle_sql.items()}
        finally:
            con.close()

    def check(self, res) -> list[str]:
        if self.oracle is None:
            self.oracle = self._oracles()
        errs = []
        for q, got in res.items():
            err = compare(got, self.oracle[q])
            if err is None and len(got) == 0:
                err = "0 rows: an empty match verifies nothing"
            if err:
                errs.append(f"{q}: {err}")
        return errs


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive equality of two result frames; floats compared
    exactly as doubles, everything else by its string form."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols, ignore_index=True)
    w = want[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            a, b = g[c].astype(float).to_numpy(), w[c].astype(float).to_numpy()
            same = (a == b) | (np.isnan(a) & np.isnan(b))
            if not same.all():
                return f"float column {c} differs"
        elif not (g[c].astype(str) == w[c].astype(str)).all():
            return f"column {c} differs"
    return None


WORKLOADS = {"mitm_ngs": MitmNgs, "graph_queries": GraphQueries}
