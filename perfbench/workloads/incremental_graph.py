"""incremental_graph: one client appends a small batch of events and
runs the graph once per tick (GraphRunner.run_all): a Python node
consumes the new rows as a stream and upserts per-user totals, the
engine folds the batch into a materialized view, and a SQL node
republishes the top users. An op is one tick, append -> downstream
tables published; a pass is TICKS_PER_PASS ticks. Fixed per-op costs
dominate: Spark job launches, catalog commits, runner overhead.

Checks: after every tick the raw table holds exactly the rows appended
so far (catalog row count); at the end the raw table has each appended
event once, and user_stats, the view and top_users equal a recompute
from scratch over the appended events.
"""
from __future__ import annotations

import os

from pyspark.sql import functions as F

from . import Base, dir_bytes, generator, instrument_engine, same

APP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "incremental_app")
N_USERS = 2000
BATCH_ROWS = 1500
BASE_BATCHES = 10  # loaded during set-up
MAX_TICKS = 48  # input batches generated for at most this many ticks
TICKS_PER_PASS = 3
STAT_COLS = ("n_events", "n_purchases", "value_cents", "last_event")


class Workload(Base):
    warmup_passes = 2
    ticks_per_pass = TICKS_PER_PASS
    max_ticks = MAX_TICKS

    def generate(self, spark) -> None:
        g = generator(self.seed)
        n = (BASE_BATCHES + self.max_ticks) * BATCH_ROWS
        events = g.gen_events(spark, n, N_USERS).select(
            "event_id", "user_id", "event_type", "value",
            F.greatest(F.lit(0), (F.col("event_id") / BATCH_ROWS).cast("int") - BASE_BATCHES + 1)
            .alias("batch"),
        )
        # batch 0 is the base load, batch i >= 1 is tick i's append: one file each
        events.coalesce(1).write.partitionBy("batch").mode("overwrite").parquet(
            os.path.join(self.inputs, "events"))
        self.batch_bytes = {b: dir_bytes(self._batch_dir(b)) for b in range(self.max_ticks + 1)}

    def _batch_dir(self, b: int) -> str:
        return os.path.join(self.inputs, "events", f"batch={b}")

    def setup(self, spark, i: int, engine=None) -> None:
        """Open the engine (or share ``engine``), build the runner and
        the view, and load the base batch of events."""
        from patterns_devkit_spark import Engine, Table
        from patterns_devkit_spark.graph.runner import GraphRunner

        self.spark = spark
        self.warehouse = os.path.join(self.work, f"warehouse-{i}")
        self.engine = engine or Engine(self.warehouse, spark=spark)
        self.runner = GraphRunner(self.engine, APP)
        self.engine.create_materialized_view(
            "events_by_type", source="events_raw", order_by="event_id", dims=["event_type"],
            measures={"n_events": ("count", "*"),
                      "value_cents": ("sum", "CAST(round(value * 100) AS BIGINT)")},
        )
        with self.engine.node_context("client", outputs={"raw": "events_raw"}):
            Table("raw", "w").append(spark.read.parquet(self._batch_dir(0)))
        self.ticks = 0
        self.rows = BASE_BATCHES * BATCH_ROWS

    def warehouse_dir(self) -> str:
        return self.warehouse

    def catalog_kb(self) -> float:
        return os.path.getsize(os.path.join(self.engine.catalog.root, "catalog.json")) / 1024.0

    def instrument(self, tracer) -> None:
        instrument_engine(tracer)

    def _raw_count(self) -> int | None:
        from patterns_devkit_spark import Table

        with self.engine.node_context("check", inputs={"raw": "events_raw"}):
            return Table("raw", "r").record_count

    def tick(self) -> None:
        from patterns_devkit_spark import Table

        if self.ticks >= self.max_ticks:
            raise RuntimeError(f"input holds only {self.max_ticks} ticks")
        self.ticks += 1
        with self.engine.node_context("client", outputs={"raw": "events_raw"}):
            Table("raw", "w").append(self.spark.read.parquet(self._batch_dir(self.ticks)))
        self.rows += BATCH_ROWS
        self.runner.run_all()

    def run_pass(self, run, i: int) -> None:
        for _ in range(self.ticks_per_pass):
            run.op("tick", self.tick, cls="write")
            n = self._raw_count()
            run.check(n == self.rows, f"events_raw holds {n} rows after tick {self.ticks}, appended {self.rows}")

    def check(self, run) -> list[str]:
        from patterns_devkit_spark import Table

        fails = []
        src = self.spark.read.parquet(os.path.join(self.inputs, "events")).filter(
            F.col("batch") <= self.ticks).drop("batch")
        with self.engine.node_context("check", inputs={"raw": "events_raw", "s": "user_stats",
                                                        "t": "top_users"}):
            raw = Table("raw", "r").read_spark()
            stats = Table("s", "r").read_spark().select("user_id", *STAT_COLS)
            top = Table("t", "r").read_spark()
        n_raw, n_ids = raw.agg(F.count(F.lit(1)), F.countDistinct("event_id")).collect()[0]
        if not n_raw == n_ids == self.rows:
            fails.append(f"events_raw: {n_raw} rows, {n_ids} ids, {self.rows} appended")
        want = src.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("long").alias("n_purchases"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.max("event_id").alias("last_event"),
        )
        if not same(stats, want):
            fails.append("user_stats differs from a recompute")
        want_top = want.orderBy(F.desc("value_cents"), "user_id").limit(10).drop("last_event")
        if not same(top, want_top):
            fails.append("top_users differs from a recompute")
        mv = self.engine.materialized_view("events_by_type").read_spark().select(
            "event_type", "n_events", "value_cents")
        want_mv = src.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"))
        if not same(mv, want_mv):
            fails.append("events_by_type differs from a recompute")
        return fails

    def input_bytes(self) -> int:
        """Parquet bytes of the events appended so far."""
        return sum(self.batch_bytes[b] for b in range(self.ticks + 1))

    def extra_metrics(self, ops) -> dict[str, tuple[float, str, int]]:
        return {"storage_amp": (dir_bytes(self.warehouse) / self.input_bytes(), "ratio", 1)}
