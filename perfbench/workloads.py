"""The benchmark's workloads: set-up, one op, and the check of one op.

Each workload calls only the public functions of the program's
``session``, ``hierarchy`` and ``rollup`` modules (plus the ``fixtures``
node builders) and wraps every such call in a span. An op returns its
latency (the summed durations of its timed calls), those durations by
call, and whatever its check needs; checks, and the count of rows the
op emitted in the workload's own unit, run after the timed phase.
"""

from __future__ import annotations

import os
import time

import numpy as np

import datagen
import model

# op inputs generated per run; a run never gets near this many ops
POOL = 256


class _Timer:
    """Sums the durations of the spans that make up an op's latency."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.total = 0.0
        self.parts: dict[str, float] = {}

    def timed(self, name: str, layer: str, fn):
        with self.tracer.span(name, layer):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.total += dt
        self.parts[name] = dt
        return out


class _DimWorkload:
    """Set-up shared by the workloads: load the tables, build the
    hierarchy dimension and materialize both of its dims."""

    tables: tuple[str, ...]
    # the timed phase ends on a whole number of rounds of this many ops
    round_ops = 1

    def setup(self, spark) -> dict[str, float]:
        from ibis_olap_aggregation_spark import HierarchyDimension, load_tables

        self.spark = spark
        t = _Timer(self.tracer)
        tables = t.timed(
            "load_tables", "session", lambda: load_tables(spark, self.data_dir, self.tables)
        )
        nodes = self.nodes(tables)
        self.dim = t.timed(
            "HierarchyDimension", "hierarchy",
            lambda: HierarchyDimension(nodes, dimension_name=self.name),
        )
        t.timed("materialize", "hierarchy", self._materialize)
        return {
            "load": t.parts["load_tables"],
            "build": t.parts["HierarchyDimension"],
            "materialize": t.parts["materialize"],
        }

    def _materialize(self) -> None:
        for dim in (self.dim.aggregation_dim, self.dim.reporting_dim):
            dim.write.format("noop").mode("overwrite").save()

    def check_setup(self) -> str | None:
        """The built closure must equal the model's."""
        got = self.dim.aggregation_dim.select(*model.CHECKED).toArrow()
        self.expected_closure = model.closure(self.adjacency)
        return model.diff(self.expected_closure, model.rows_of(got))

    def warmup_op(self):
        # the warm-up takes its input from the end of the pool, timed ops from its start
        return self.op(POOL - 1)


class RollupRead(_DimWorkload):
    """``hierarchical_rollup`` (sum + count + COUNT DISTINCT) of a seeded
    l_shipdate window of ``lineitem`` over the part hierarchy."""

    name = "rollup_read"
    tables = ("part", "lineitem")
    round_ops = 3
    N_FACTS = 300_000
    N_PARTS = 10_000

    def __init__(self, seed: int, data_dir: str, tracer):
        self.data_dir, self.tracer = data_dir, tracer
        part = datagen.part_table(seed, self.N_PARTS)
        lineitem = datagen.lineitem_table(seed, self.N_FACTS, self.N_PARTS)
        datagen.write_tables({"part": part, "lineitem": lineitem}, data_dir)
        self.adjacency = datagen.part_adjacency(part)
        self.windows = datagen.ship_windows(seed, POOL, self.round_ops)
        ship = np.sort(lineitem.column("l_shipdate").to_numpy())
        self.window_rows = [
            int(np.searchsorted(ship, np.datetime64(hi), "right")
                - np.searchsorted(ship, np.datetime64(lo), "left"))
            for lo, hi in self.windows
        ]

    def nodes(self, tables):
        from ibis_olap_aggregation_spark.fixtures import part_nodes

        self.facts = tables["lineitem"]
        return part_nodes(tables["part"])

    def check_setup(self) -> str | None:
        """Also learn the node_sort_order -> node id map the op checks use."""
        rep = self.dim.reporting_dim.select("node_sort_order", "node_id").toArrow()
        self.node_of = dict(model.rows_of(rep))
        return super().check_setup()

    def warmup_op(self):
        # the whole span: the same cost for every seed
        return self._rollup(datagen.FULL_WINDOW)

    def op(self, i: int):
        return self._rollup(self.windows[i % POOL])

    def _rollup(self, window):
        from pyspark.sql import functions as F

        from ibis_olap_aggregation_spark import hierarchical_rollup

        lo, hi = window
        facts = self.facts.filter(F.col("l_shipdate").between(lo, hi))
        measures = [
            F.sum("l_extendedprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        ]
        t = _Timer(self.tracer)
        out = t.timed(
            "hierarchical_rollup", "rollup",
            lambda: hierarchical_rollup(facts, self.dim.aggregation_dim, "l_partkey", measures),
        )
        rows = t.timed("collect", "rollup", out.collect)
        return t.total, t.parts, [tuple(r) for r in rows]

    def rows(self, i: int, out) -> int:
        return self.window_rows[i % POOL]

    def check(self, i: int, rows) -> str | None:
        """Against DuckDB over the same parquet, window and (model) closure:
        counts and distinct counts exact, double sums to 1e-9 relative."""
        import duckdb
        import pyarrow as pa

        if not hasattr(self, "_duck"):
            key = {r[0]: r[1] for r in self.adjacency}
            pairs = [(a, key[d]) for (a, d) in self.expected_closure if key[d] is not None]
            self._duck = duckdb.connect()
            self._duck.execute("SET threads TO 2")
            self._duck.register(
                "closure",
                pa.table({"anc": [p[0] for p in pairs], "leaf_key": [p[1] for p in pairs]}),
            )
            path = os.path.join(self.data_dir, "lineitem.parquet")
            self._duck.execute(f"CREATE VIEW li AS SELECT * FROM read_parquet('{path}')")
        lo, hi = self.windows[i % POOL]
        want = {
            a: (s, n, d)
            for a, s, n, d in self._duck.execute(
                "SELECT anc, sum(l_extendedprice), count(*), count(DISTINCT l_orderkey) "
                "FROM li JOIN closure ON l_partkey = leaf_key "
                "WHERE l_shipdate BETWEEN ? AND ? GROUP BY anc",
                [lo, hi],
            ).fetchall()
        }
        if len(rows) != len(want):
            return f"{len(rows)} result rows, want {len(want)}"
        orders = [r[3] for r in rows]
        if orders != sorted(orders):
            return "result not in node_sort_order"
        for name, _, depth, order, s, n, d in rows:
            node = self.node_of.get(order)
            if node not in want:
                return f"unexpected node {node!r} (sort order {order})"
            ws, wn, wd = want[node]
            info = self.expected_closure[(node, node)]
            if (name, depth) != (info[5], info[1]):
                return f"node {node}: name/level {(name, depth)}, want {(info[5], info[1])}"
            if (n, d) != (wn, wd) or abs(s - ws) > 1e-9 * max(1.0, abs(ws)):
                return f"node {node}: got {(s, n, d)}, want {(ws, wn, wd)}"
        return None


class DimMaintain(_DimWorkload):
    """One seeded change set per op against the base geo closure: extend,
    update, move and remove. Each result is materialized by collecting
    the checked columns to the driver as Arrow, so the check needs no
    second execution: with the noop sink, re-executing every result for
    its check doubled the run and did not fit the run budget."""

    name = "dim_maintain"
    tables = ("region", "nation", "customer")
    N_CUSTOMERS = 5_000
    NEW_LEAVES = 100
    RENAMES = 20
    KINDS = ("extend", "update", "move", "remove")

    def __init__(self, seed: int, data_dir: str, tracer):
        self.data_dir, self.tracer = data_dir, tracer
        tables = datagen.geo_tables(seed, self.N_CUSTOMERS)
        datagen.write_tables(tables, data_dir)
        self.adjacency = datagen.geo_adjacency(tables)
        self.changes = datagen.change_sets(
            seed, POOL, self.N_CUSTOMERS, new_leaves=self.NEW_LEAVES, renames=self.RENAMES
        )

    def nodes(self, tables):
        from ibis_olap_aggregation_spark.fixtures import geo_nodes

        return geo_nodes(tables["region"], tables["nation"], tables["customer"])

    def op(self, i: int):
        cs = self.changes[i % POOL]
        new = self.spark.createDataFrame(datagen.nodes_table(cs["extend"]))
        upd = self.spark.createDataFrame(cs["update"], "node_id string, node_name string")
        calls = {
            "extend": lambda: self.dim.extend_closure_with_leaves(new),
            "update": lambda: self.dim.update_node_attributes(upd),
            "move": lambda: self.dim.move_subtree_in_closure(*cs["move"]),
            "remove": lambda: self.dim.remove_subtree_from_closure(cs["remove"]),
        }
        t = _Timer(self.tracer)
        results = {}
        for kind in self.KINDS:
            df = t.timed(f"{kind}.call", "hierarchy", calls[kind])
            results[kind] = t.timed(
                f"{kind}.exec", "hierarchy", lambda: df.select(*model.CHECKED).toArrow()
            )
        return t.total, t.parts, results

    def rows(self, i: int, results) -> int:
        return sum(r.num_rows for r in results.values())

    def check(self, i: int, results) -> str | None:
        cs, base = self.changes[i % POOL], self.adjacency
        expected = {
            "extend": model.closure(base + cs["extend"]),
            "update": model.closure(model.renamed(base, cs["update"])),
            "move": model.closure(model.moved(base, *cs["move"])),
            "remove": model.closure(model.removed(base, cs["remove"])),
        }
        for kind in self.KINDS:
            err = model.diff(expected[kind], model.rows_of(results[kind]))
            if err:
                return f"{kind}: {err}"
        return None


WORKLOADS = {w.name: w for w in (RollupRead, DimMaintain)}
