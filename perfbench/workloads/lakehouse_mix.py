"""lakehouse_mix: the engine's write path end to end, one client, one
warehouse. One pass is:

1. one tick of the incremental graph (incremental_graph.py): append a
   batch of events, run the graph once (stream consume + upsert node,
   materialized view fold, SQL node);
2. one cycle on a keyed merge-on-read orders table (N_ORDERS rows,
   per-file min/max stats and a Bloom filter on the key): a scattered
   upsert (about 1% of the keys updated plus INSERTS new ones), a
   vectorized delete, POINT_READS pruned point reads, the change feed
   since the pass started, a full scan, and a compaction to one file
   (one file, so that every pass compacts: coalescing to n files can
   leave fewer, and the next pass would then skip its compaction).

Writes are tick, upsert, delete and compact; reads are point read,
change feed and scan.

Checks: every point read, scan, delete count and change feed is
compared with a replay of the op sequence on plain Python data; at the
end the orders table is compared with a plain-Spark replay (anti-join
+ union per upsert, filter per delete) over the same inputs, and the
graph's tables with a recompute (incremental_graph.check).
"""
from __future__ import annotations

import os
import random
import statistics

from pyspark.sql import functions as F

from . import Base, dir_bytes, generator, incremental_graph, instrument_engine, same

N_ORDERS = 150_000
N_CUSTOMERS = 15_000
UPDATE_MODULUS = 97  # an upsert rewrites the base keys of one residue: about 1% of them
UPDATE_STEP = 6  # pass p updates residue (seed + 6p) mod 97: distinct for every pass
_UPDATE_STEP_INV = 81  # 6 * 81 = 1 (mod 97)
INSERTS = 150  # new keys per upsert
DELETE_MODULUS = 997  # a delete matches the keys of one residue: about 0.1% of them
POINT_READS = 2
MAX_PASSES = 16  # upsert batches generated for at most this many passes
KEY = "o_orderkey"
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")


def _cents(x: float) -> int:
    return int(round(x * 100))


class Workload(Base):
    warmup_passes = 1

    def __init__(self, seed: int, work: str) -> None:
        super().__init__(seed, work)
        self.graph = incremental_graph.Workload(seed, work)
        self.graph.ticks_per_pass = 1
        self.graph.max_ticks = MAX_PASSES

    def generate(self, spark) -> None:
        self.graph.generate(spark)
        g = generator(self.seed)
        total = N_ORDERS + MAX_PASSES * INSERTS
        orders = g.gen_orders(spark, total, N_CUSTOMERS)
        # spark.range partitions are contiguous key ranges: each base file
        # covers one range of the key, as a table loaded in key order would
        orders.filter(F.col(KEY) < N_ORDERS).write.mode("overwrite").parquet(self._path("base"))
        base = spark.read.parquet(self._path("base"))  # read back: cheaper than generating again
        # batch p: the base keys of one residue mod UPDATE_MODULUS (about 1%,
        # scattered over every file) with a new price and status, plus
        # INSERTS new keys
        p_of_key = F.pmod((F.pmod(F.col(KEY), F.lit(UPDATE_MODULUS)) - self.seed) * _UPDATE_STEP_INV,
                          F.lit(UPDATE_MODULUS))
        upd = base.select(p_of_key.cast("int").alias("p"), *COLS).filter(F.col("p") < MAX_PASSES).select(
            "p", KEY, "o_custkey",
            F.element_at(F.array(F.lit("F"), F.lit("O"), F.lit("P")), F.col("p") % 3 + 1).alias("o_orderstatus"),
            F.round(F.col("o_totalprice") + F.col("p") + 1.25, 2).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority")
        ins = orders.filter(F.col(KEY) >= N_ORDERS).select(
            ((F.col(KEY) - N_ORDERS) / INSERTS).cast("int").alias("p"), *COLS)
        upd.unionByName(ins).repartition("p").write.partitionBy("p").mode("overwrite").parquet(
            self._path("upserts"))

        # the replay's inputs: each pass's delete matches, the point-read
        # keys, and the base rows any of them (or an update) touches
        self.delete_keys = [set(range(self._delete_residue(p), total, DELETE_MODULUS))
                            for p in range(MAX_PASSES)]
        rng = random.Random(self.seed)
        self.read_keys = [[rng.randrange(total) for _ in range(POINT_READS)] for _ in range(MAX_PASSES)]
        touched = sorted(set().union(*self.delete_keys, *map(set, self.read_keys)))
        updated = [(self.seed + UPDATE_STEP * p) % UPDATE_MODULUS for p in range(MAX_PASSES)]
        rows = base.filter(F.pmod(F.col(KEY), F.lit(UPDATE_MODULUS)).isin(updated) | F.col(KEY).isin(touched))
        self.base_rows = {r[KEY]: r.asDict() for r in rows.collect()}
        agg = base.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c")).collect()[0]
        self.base_totals = (int(agg["n"]), int(agg["c"]))

    def _path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def _batch(self, p: int):
        return self.spark.read.parquet(os.path.join(self._path("upserts"), f"p={p}")).select(*COLS)

    def _delete_residue(self, p: int) -> int:
        return (self.seed * 7919 + p * 104729) % DELETE_MODULUS

    def _delete_sql(self, p: int) -> str:
        return f"{KEY} % {DELETE_MODULUS} = {self._delete_residue(p)}"

    def setup(self, spark, i: int) -> None:
        from patterns_devkit_spark import Engine, Table

        self.spark = spark
        self.warehouse = os.path.join(self.work, f"warehouse-{i}")
        self.engine = Engine(self.warehouse, spark=spark)
        with self.engine.node_context("client", outputs={"orders": "orders"}):
            t = Table("orders", "w")
            t.init(unique_on=[KEY], merge_on_read=True, stat_columns=[KEY], bloom_columns=[KEY])
            t.append(spark.read.parquet(self._path("base")))
        self.graph.setup(spark, i, engine=self.engine)
        self.changed: dict[int, dict | None] = {}  # replay: key -> row, None once deleted
        self.count, self.cents = self.base_totals
        self.batches = 0
        self.log: list[tuple] = []  # (kind, arg) for the plain-Spark replay

    def _row(self, k: int) -> dict | None:
        if k in self.changed:
            return self.changed[k]
        return self.base_rows.get(k) if k < N_ORDERS else None

    def warehouse_dir(self) -> str:
        return self.warehouse

    def catalog_kb(self) -> float:
        return os.path.getsize(os.path.join(self.engine.catalog.root, "catalog.json")) / 1024.0

    def instrument(self, tracer) -> None:
        instrument_engine(tracer)

    def _table(self, fn):
        from patterns_devkit_spark import Table

        with self.engine.node_context("client", inputs={"orders": "orders"}, outputs={"orders": "orders"}):
            return fn(Table("orders", "w"))

    def run_pass(self, run, i: int) -> None:
        self.graph.run_pass(run, i)

        p = self.batches
        if p >= MAX_PASSES:
            raise RuntimeError(f"input holds only {MAX_PASSES} upsert batches")
        self.batches += 1
        v0 = self._table(lambda t: t.get_active_version().version_id)
        batch = self._batch(p)
        rows = [r.asDict() for r in batch.collect()]
        before: dict[int, dict | None] = {}  # replay state of every key this pass touches

        def upsert(t):
            t.upsert(batch)
            t.flush()
        run.op("upsert", lambda: self._table(upsert), cls="write")
        for r in rows:
            k, old = r[KEY], self._row(r[KEY])
            before.setdefault(k, old)
            if old is None:
                self.count += 1
            else:
                self.cents -= _cents(old["o_totalprice"])
            self.cents += _cents(r["o_totalprice"])
            self.changed[k] = r
        self.log.append(("upsert", p))

        pred = self._delete_sql(p)
        n = run.op("delete", lambda: self._table(lambda t: t.delete_where(pred, vectorized=True)), cls="write")
        doomed = [k for k in self.delete_keys[p] if self._row(k) is not None]
        run.check(n == len(doomed), f"delete removed {n} rows, replay {len(doomed)}")
        for k in doomed:
            before.setdefault(k, self._row(k))
            self.count -= 1
            self.cents -= _cents(self._row(k)["o_totalprice"])
            self.changed[k] = None
        self.log.append(("delete", pred))

        for k in self.read_keys[p]:
            got = run.op("point_read", lambda: self._table(
                lambda t: [r.asDict() for r in t.read_pruned([(KEY, "=", k)]).select(*COLS).collect()]),
                cls="read")
            want = [self._row(k)] if self._row(k) is not None else []
            run.check(got is not None and _rows_equal(got, want), f"point read of key {k}")

        feed = run.op("change_feed", lambda: self._table(
            lambda t: t.change_feed(v0).groupBy("op").count().collect()), cls="read")
        feed_want: dict[str, int] = {}
        for k, old in before.items():
            new = self._row(k)
            kind = ("I" if old is None else "D") if (old is None) != (new is None) else (
                "U" if new is not None and new != old else None)
            if kind:
                feed_want[kind] = feed_want.get(kind, 0) + 1
        got = None if feed is None else {r["op"]: r["count"] for r in feed}
        run.check(got == feed_want, f"change feed {got}, replay {feed_want}")

        scan = run.op("scan", lambda: self._table(lambda t: t.read_spark().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("c")).collect()[0]), cls="read")
        want = (self.count, self.cents)
        run.check(scan is not None and (scan["n"], scan["c"]) == want, f"scan {scan}, replay {want}")

        run.op("compact", lambda: self._table(lambda t: t.compact(target_files=1)), cls="write")

    def check(self, run) -> list[str]:
        from patterns_devkit_spark import Table

        fails = self.graph.check(run)
        state = self.spark.read.parquet(self._path("base"))
        for kind, arg in self.log:
            if kind == "upsert":
                b = self._batch(arg)
                state = state.join(b.select(KEY), KEY, "left_anti").unionByName(b)
            else:
                state = state.filter(~F.coalesce(F.expr(arg), F.lit(False)))
        with self.engine.node_context("check", inputs={"orders": "orders"}):
            table = Table("orders", "r").read_spark().select(*COLS)
        if not same(table, state.select(*COLS)):
            fails.append("orders differs from a plain-Spark replay")
        return fails

    def extra_metrics(self, ops) -> dict[str, tuple[float, str, int]]:
        out = {}
        for cls in ("write", "read"):
            lat = [o["s"] for o in ops if o["cls"] == cls]
            if lat:
                out[f"{cls}_p50_s"] = (statistics.median(lat), "s", len(lat))
        used = self.graph.input_bytes() + dir_bytes(self._path("base")) + sum(
            dir_bytes(os.path.join(self._path("upserts"), f"p={p}")) for p in range(self.batches))
        out["storage_amp"] = (dir_bytes(self.warehouse) / used, "ratio", 1)
        return out


def _rows_equal(got: list[dict], want: list[dict]) -> bool:
    def norm(r):
        return tuple(_cents(r[c]) if c == "o_totalprice" else r[c] for c in COLS)
    return sorted(map(norm, got)) == sorted(map(norm, want))
