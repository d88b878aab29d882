"""The ``graph_fixpoint`` workload: iterative registry queries.

Four queries whose plans are built by driver-side loops (``operators.graph``,
``operators.skew``, ``operators.spatial_cluster``, ``operators.raster``)
plus the two streaming gates, whose availableNow micro-batch loop is also
run by the Spark driver.
They run on the sf0.01 ``documents`` and ``events`` tables vendored under
``data/``; the seed sets the query order of each pass. The first timed pass
of every query is compared with its DuckDB oracle from ``ORACLES`` (row
count, columns and values, ignoring row order); later passes check the row
count.
"""

from __future__ import annotations

import math
import os
import random

import pandas as pd

from plateau_gis_converter_spark.plans.entry_queries import ORACLES, QUERIES
from spans import median

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")
TABLES = ("documents", "events")
# One query per driver-bound loop layer: k-core peeling (operators.graph,
# ~40 jobs), grid clustering over connected components
# (operators.spatial_cluster), the skew level loop (operators.skew) and
# hot-pixel region labelling by alternating connected components
# (operators.raster). scc_components (operators.graph, ~255 jobs) is left
# out: it would double the pass and the warm-up, and a run affords too few
# passes with it.
GRAPH = ("k_core", "grid_cluster", "adaptive_cell_split", "hotspot_regions")
STREAMING = ("stream_windowed_counts", "stream_first_seen")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(
        drop=True)


def same_answer(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Row count, column names and order-insensitive values; doubles must
    match exactly."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    a, b = _canon(got), _canon(want)
    for c in a.columns:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            for x, y in zip(a[c], b[c]):
                if pd.isna(x) != pd.isna(y) or (
                        not pd.isna(x) and not math.isclose(
                            float(x), float(y), rel_tol=0, abs_tol=0)):
                    return False
        elif not a[c].astype(str).eq(b[c].astype(str)).all():
            return False
    return True


class GraphFixpoint:
    name = "graph_fixpoint"
    queries = GRAPH + STREAMING

    def stage(self, ctx) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS FROM "
                        f"'{os.path.join(DATA, t)}.parquet'")
            self.want = {q: con.sql(ORACLES[q]).df() for q in self.queries}
            self.n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
        finally:
            con.close()
        self.checked: set[str] = set()

    def pages_per_s(self, p: dict) -> float:
        return self.n_docs * len(self.queries) / p["wall"]

    def ops(self, ctx, index: int):
        order = list(self.queries)
        random.Random(ctx.seed * 1000 + index).shuffle(order)
        return [(q, lambda c, r, q=q: self.run_query(c, q)) for q in order]

    def warm_groups(self, ctx, index: int):
        return [[op] for op in self.ops(ctx, index)]

    def after_pass(self, ctx, index: int) -> None:
        pass

    def run_query(self, ctx, name: str) -> bool:
        with ctx.tracer.span(f"{name}.build"):
            df = QUERIES[name](ctx.spark, DATA)
        with ctx.tracer.span(f"{name}.exec") as rec:
            got = df.toPandas()
            rec["df"] = df
        if not ctx.timing or name in self.checked:
            return len(got) == len(self.want[name])
        self.checked.add(name)
        return same_answer(got, self.want[name])

    def layers(self, ctx) -> dict[str, float]:
        """Per-query build and exec times and jobs, streaming-gate wall
        times and per-pass registry sums, from the traced passes' spans."""
        spans = ctx.tracer.spans
        children: dict = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)

        def part_s(op, kind):
            return sum(c["end"] - c["start"] for c in children.get(op["id"], [])
                       if c["name"] == f"{op['name']}.{kind}")

        per_query: dict[str, list[dict]] = {}
        sums: dict[str, list[float]] = {"build": [], "exec": []}
        for p in (s for s in spans if s["name"] == "pass"):
            ops = children.get(p["id"], [])
            for op in ops:
                per_query.setdefault(op["name"], []).append(op)
            for kind, values in sums.items():
                values.append(sum(part_s(op, kind) for op in ops))
        out = {f"entry_queries.{k}_s": median(v) for k, v in sums.items()}
        for q in GRAPH:
            ops = per_query.get(q, [])
            out[f"graph.{q}.build_s"] = median([part_s(op, "build")
                                                 for op in ops])
            out[f"graph.{q}.exec_s"] = median([part_s(op, "exec")
                                                for op in ops])
            out[f"graph.{q}.jobs"] = median(
                [ctx.tracer.totals([op])["jobs"] for op in ops])
        for q in STREAMING:
            out[f"streaming.{q}.wall_s"] = median(
                [op["end"] - op["start"] for op in per_query.get(q, [])])
        return out
