"""corpus_dedup: the dedup / near-dup query family through the query
registry. One pass runs every query of QUERY_NAMES once, clearing the
DataFrame cache before each; an op is one query (registry call, then
the sink action), and its kind is the query's name. It never touches node, catalog or graph, so a
write-path change should leave it unchanged.

The sink computes every column of every row (like the noop sink) and
returns the row count and an order-insensitive content hash in the same
job, so each query executes exactly once per pass and every pass is
checked: count and hash must be the same on every pass, and the
first warm-up pass's collected rows must match the DuckDB oracle from
``__spark_entry__.oracle_sql()``.
"""
from __future__ import annotations

import os

import numpy as np
import pandas as pd

from . import ROOT, Base, content_hash, generator, write_parquet

QUERY_NAMES = (
    "q189_minhash_calibration",
    "q259_prefix_filter_t80",
)
N_DOCUMENTS = 500
TABLES = ("documents",)


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype.kind == "f":
            pdf[c] = col.round(6)
        elif col.dtype.kind == "M":
            pdf[c] = col.astype("datetime64[us]")
        elif col.dtype == object:
            pdf[c] = col.map(lambda v: tuple(np.round(np.asarray(v, dtype=float), 6).tolist())
                             if isinstance(v, (list, np.ndarray)) else v)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    """None when the two results hold the same rows, else what differs."""
    a, b = _canonical(a), _canonical(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} vs {len(b)} rows"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = np.allclose(pd.to_numeric(x).fillna(-9e18), pd.to_numeric(y).fillna(-9e18),
                             rtol=0, atol=1.5e-6)
        else:
            ok = x.astype(str).equals(y.astype(str))
        if not ok:
            return f"column {c} differs"
    return None


class Workload(Base):
    warmup_passes = 2

    def generate(self, spark) -> None:
        g = generator(self.seed)
        write_parquet(g.gen_documents(spark, N_DOCUMENTS), os.path.join(self.inputs, "documents.parquet"))

    def setup(self, spark, i: int) -> None:
        from patterns_devkit_spark import queries

        self.spark = spark
        self.expected: dict[str, tuple] = {}
        for name in TABLES:
            queries.t(spark, self.inputs, name).count()

    def run_pass(self, run, i: int) -> None:
        from patterns_devkit_spark.plans.inspect import executed_exchanges
        from patterns_devkit_spark.queries import QUERIES

        tracer = run.tracer
        for name in QUERY_NAMES:
            self.spark.catalog.clearCache()

            def one():
                with tracer.span("queries.plan"):
                    df = QUERIES[name](self.spark, self.inputs)
                with tracer.span("queries.exec"):
                    # the first warm-up pass collects the rows for the oracle check
                    res = df.toPandas() if i == -1 else content_hash(df)
                if tracer.enabled:
                    with tracer.span("plans.inspect") as c:
                        c["plans.exchanges"] = float(executed_exchanges(df))
                return res

            res = run.op(name, one)
            if res is None:
                continue
            if i == -1:
                diff = self._oracle_mismatch(name, res)
                run.check(diff is None, f"{name} vs DuckDB oracle: {diff}")
                self.expected[name] = (len(res), None)
                continue
            n, h = res[0], res[1:]
            exp_n, exp_h = self.expected[name]
            run.check(n == exp_n, f"{name}: {n} rows, warm-up had {exp_n}")
            if exp_h is None:
                self.expected[name] = (exp_n, h)
            else:
                run.check(h == exp_h, f"{name}: content hash changed between passes")

    def _oracle_mismatch(self, name: str, got: pd.DataFrame) -> str | None:
        import importlib.util

        import duckdb

        spec = importlib.util.spec_from_file_location(
            "perfbench_spark_entry", os.path.join(ROOT, "__spark_entry__.py"))
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        con = duckdb.connect()
        try:
            for t in TABLES:
                path = os.path.join(self.inputs, f"{t}.parquet", "*.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            want = con.execute(entry.oracle_sql()[name]).df()
        finally:
            con.close()
        return same_rows(got, want)
