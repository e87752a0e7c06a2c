"""The benchmark's workloads. Each module defines ``Workload``, a
subclass of ``Base``; worker.py drives it (generate, setup x3, warmup,
timed passes, check)."""
from __future__ import annotations

import importlib.util
import os
import runpy

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def generator(seed: int):
    """tools/gen_testdata.py as a module, with its SEED set to ``seed``
    (the file itself is not modified)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen_testdata", os.path.join(ROOT, "tools", "gen_testdata.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.SEED = seed
    return mod


def write_parquet(df, path: str) -> None:
    df.coalesce(1).write.mode("overwrite").parquet(path)


def content_hash(df) -> tuple[int, int, int]:
    """(rows, two order-insensitive 64-bit digests) of ``df`` in one job:
    every column of every row is hashed, doubles rounded to 6 places."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(f):
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            return F.round(c.cast("double"), 6)
        if isinstance(t, T.ArrayType) and isinstance(t.elementType, (T.DoubleType, T.FloatType)):
            return F.transform(c, lambda x: F.round(x.cast("double"), 6))
        return c

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[canon(f) for f in fields]) if fields else F.lit(0).cast("long")
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)).alias("lo"),
        F.coalesce(F.bit_xor("h"), F.lit(0)).alias("x"),
    ).collect()[0]
    return int(row["n"]), int(row["lo"]), int(row["x"])


def same(a, b) -> bool:
    """The two frames hold the same rows (compared by content hash)."""
    return sorted(a.columns) == sorted(b.columns) and content_hash(a) == content_hash(b)


def dir_bytes(root: str) -> int:
    """Bytes on disk under ``root``, each hardlinked file once."""
    sizes = {}
    for d, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except OSError:
                continue
            sizes[st.st_ino] = st.st_size
    return sum(sizes.values())


class Base:
    warmup_passes = 1

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")

    def generate(self, spark) -> None:
        raise NotImplementedError

    def setup(self, spark, i: int) -> None:
        """Open the engine on a fresh warehouse and load the base tables."""
        raise NotImplementedError

    def instrument(self, tracer) -> None:
        """Install the traced run's span wrappers."""

    def warmup(self, run) -> None:
        for j in range(self.warmup_passes):
            self.run_pass(run, -1 - j)

    def run_pass(self, run, i: int) -> None:
        raise NotImplementedError

    def check(self, run) -> list[str]:
        """Untimed end-of-run output checks; returns the mismatches."""
        return []

    def extra_metrics(self, ops: list[dict]) -> dict[str, tuple[float, str, int]]:
        """Workload-only metrics for the printed report: name -> (value, unit, samples)."""
        return {}

    def catalog_kb(self) -> float:
        """Size of the warehouse's catalog document, 0 without one."""
        return 0.0


def instrument_engine(tracer) -> None:
    """Spans around the engine's public entry points, for the node,
    skipping, matview, catalog and graph layers."""
    from patterns_devkit_spark.catalog.backends import JsonFileBackend
    from patterns_devkit_spark.catalog.catalog import Catalog
    from patterns_devkit_spark.graph.runner import GraphRunner
    from patterns_devkit_spark.node.matview import MaterializedView
    from patterns_devkit_spark.node.node import Stream, Table

    for attr in ("append", "upsert", "flush", "delete_where", "compact", "read_pruned",
                 "change_feed", "write_dataframe_as_new_version"):
        name = "write_version" if attr == "write_dataframe_as_new_version" else attr
        tracer.wrap(Table, attr, f"node.{name}")
    tracer.wrap(Stream, "consume_spark", "node.consume")
    tracer.wrap(Table, "prune_files", "skipping.prune_files", counts=_prune_counts)
    tracer.wrap(MaterializedView, "refresh", "matview.refresh",
                counts=lambda c, out, a: c.__setitem__("matview.rows_applied", float(out)))
    tracer.wrap(GraphRunner, "run_all", "graph.run_all",
                counts=lambda c, out, a: c.__setitem__("graph.nodes_run", float(len(out))))
    tracer.wrap(runpy, "run_path", "script.node")
    tracer.wrap_context(JsonFileBackend, "transaction", "catalog.txn")
    tracer.wrap(Catalog, "create_new_version", "catalog.new_version",
                counts=lambda c, out, a: c.__setitem__("node.versions_created", 1.0))


def _prune_counts(c: dict, out, args) -> None:
    kept, total = out
    c["skipping.files_kept"] = float(len(kept) if total else 0)
    c["skipping.files_total"] = float(total)


def parquet_inodes(root: str) -> set[int]:
    out = set()
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    out.add(os.stat(os.path.join(d, f)).st_ino)
                except OSError:
                    pass
    return out
