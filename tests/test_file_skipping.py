"""File-level data skipping (node/skipping.py, Table.read_pruned).

The engine's catalog keeps per-file column min/max/null stats harvested
from parquet footers at write time; reads plan file pruning from that
metadata (the lakehouse zone-map pattern — at 100 TB the planner must
not open O(files) footers per query). Correctness never depends on the
stats: read_pruned re-applies the predicate as a real Spark filter and
must equal read_spark().filter(...) in every case.
"""
import os

import pytest

from patterns_devkit_spark import Table
from patterns_devkit_spark.node import skipping


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_records_file_stats_and_pruned_read_matches_full(engine):
    """Three appends -> >=3 files; a range predicate on the ordering
    column prunes non-overlapping files and returns identical rows."""
    with engine.node_context("w", outputs={"out": "fs1"}):
        t = Table("out", "w")
        t.init(strictly_monotonic_ordering="id")
        for lo in (0, 100, 200):
            t.append([{"id": lo + i, "v": f"x{lo + i}"} for i in range(10)])
            t.flush()
    with engine.node_context("r", inputs={"in": "fs1"}):
        t = Table("in", "r")
        vid = engine.catalog.get_active_version("fs1")
        stats = engine.catalog.get_file_stats("fs1", vid)
        assert stats and len(stats) >= 3
        assert all("id" in e["cols"] and e["cols"]["id"]["min"] is not None for e in stats.values())
        kept, total = t.prune_files([("id", ">=", 200)])
        assert total == len(stats) and 0 < len(kept) < total
        pruned = t.read_pruned([("id", ">=", 200)])
        full = t.read_spark().filter("id >= 200")
        assert _rows(pruned) == _rows(full)
        # the scan actually lists fewer files, not just filters rows
        assert len(set(pruned.inputFiles())) < len(set(t.read_spark().inputFiles()))


def test_partition_column_pruning_from_hive_path(engine):
    """partition_by columns are not stored in the files; stats recover
    their per-file value from the hive path segment."""
    with engine.node_context("w", outputs={"out": "fs2"}):
        t = Table("out", "w")
        t.init(partition_by="region")
        t.append([{"region": r, "v": i} for i, r in enumerate(["a", "a", "b", "c"])])
    with engine.node_context("r", inputs={"in": "fs2"}):
        t = Table("in", "r")
        kept, total = t.prune_files([("region", "=", "b")])
        assert total >= 3 and len(kept) < total
        assert all("region=b" in rel for rel in kept)
        assert _rows(t.read_pruned([("region", "=", "b")])) == _rows(
            t.read_spark().filter("region = 'b'")
        )


def test_absent_column_prunes_pre_evolution_files(engine):
    """Files written before a column existed read as NULL for it, so a
    value predicate provably never matches them."""
    with engine.node_context("w", outputs={"out": "fs3"}):
        t = Table("out", "w")
        t.init(stat_columns=["id", "extra"])
        t.append([{"id": 1}])
        t.flush()
        t.append([{"id": 2, "extra": "y"}])
        t.flush()
    with engine.node_context("r", inputs={"in": "fs3"}):
        t = Table("in", "r")
        kept, total = t.prune_files([("extra", "=", "y")])
        assert total == 2 and len(kept) == 1
        assert _rows(t.read_pruned([("extra", "=", "y")])) == _rows(
            t.read_spark().filter("extra = 'y'")
        )


def test_lazy_backfill_covers_undeclared_columns_and_caches(engine):
    """Predicate on a column outside the write-time stat set: one
    footer walk backfills the catalog, then pruning works."""
    with engine.node_context("w", outputs={"out": "fs4"}):
        t = Table("out", "w")
        t.init(strictly_monotonic_ordering="id")
        t.append([{"id": 1, "score": 10}])
        t.flush()
        t.append([{"id": 2, "score": 99}])
        t.flush()
    with engine.node_context("r", inputs={"in": "fs4"}):
        t = Table("in", "r")
        vid = engine.catalog.get_active_version("fs4")
        before = engine.catalog.get_file_stats("fs4", vid)
        assert all("score" not in e["cols"] for e in before.values())
        kept, total = t.prune_files([("score", ">", 50)])
        assert total == 2 and len(kept) == 1
        after = engine.catalog.get_file_stats("fs4", vid)
        assert all("score" in e["cols"] for e in after.values())
        # id stats from write time must survive the merge
        assert all("id" in e["cols"] for e in after.values())


def test_missing_stats_graceful_full_scan(engine):
    """A version with no stats at all (simulated wipe) still answers
    correctly via the fallback full scan + filter."""
    with engine.node_context("w", outputs={"out": "fs5"}):
        t = Table("out", "w")
        t.append([{"id": i} for i in range(5)])
    meta = engine.catalog.ensure_table("fs5")
    meta.pop("file_stats", None)
    with engine.node_context("r", inputs={"in": "fs5"}):
        t = Table("in", "r")
        # backfill path recomputes; also exercise an op with no stats value overlap
        assert _rows(t.read_pruned([("id", "between", (1, 3))])) == _rows(
            t.read_spark().filter("id between 1 and 3")
        )


def test_gc_drops_file_stats_with_version(engine):
    with engine.node_context("w", outputs={"out": "fs6"}):
        t = Table("out", "w")
        t.init(strictly_monotonic_ordering="id", schema={"id": "Integer"})
        for i in range(6):  # enough flushed versions to trip retention GC
            t.replace([{"id": i}])
            t.flush()
    meta = engine.catalog.table_meta("fs6")
    live = set(meta["versions"])
    assert set(meta.get("file_stats", {})) <= live


def test_prune_ops_matrix(engine):
    """Every supported op both prunes when provable and matches the
    plain filtered read."""
    with engine.node_context("w", outputs={"out": "fs7"}):
        t = Table("out", "w")
        t.init(stat_columns=["k"])
        for lo in (0, 50):
            t.append([{"k": lo + i} for i in range(10)])
            t.flush()
    cases = [
        (("k", "=", 55), "k = 55"),
        (("k", "<", 5), "k < 5"),
        (("k", "<=", 9), "k <= 9"),
        (("k", ">", 55), "k > 55"),
        (("k", ">=", 50), "k >= 50"),
        (("k", "between", (2, 4)), "k between 2 and 4"),
        (("k", "in", [3, 4, 5]), "k in (3,4,5)"),
    ]
    with engine.node_context("r", inputs={"in": "fs7"}):
        t = Table("in", "r")
        for pred, sql in cases:
            kept, total = t.prune_files([pred])
            # sorted writes give disjoint per-file ranges: every op must
            # prove SOME files out (each flush spans multiple files)
            assert 0 < len(kept) < total, (pred, kept, total)
            assert _rows(t.read_pruned([pred])) == _rows(t.read_spark().filter(sql)), pred


def test_unknown_op_rejected(engine):
    with engine.node_context("w", outputs={"out": "fs8"}):
        Table("out", "w").append([{"k": 1}])
    with engine.node_context("r", inputs={"in": "fs8"}):
        with pytest.raises(ValueError, match="unknown predicate op"):
            Table("in", "r").prune_files([("k", "!=", 1)])


def test_collect_file_stats_all_null_file(engine, tmp_path, spark):
    """All-null files are bounded (min=max=None, nulls==rows) and
    prunable by any value predicate."""
    d = str(tmp_path / "nulls")
    spark.createDataFrame([(None,), (None,)], "v int").coalesce(1).write.parquet(d)
    stats = skipping.collect_file_stats(d, ["v"])
    (entry,) = stats.values()
    assert entry["cols"]["v"] == {"min": None, "max": None, "nulls": 2}
    assert skipping.prune(stats, [("v", "=", 1)]) == []


def _mor_table(engine, spark, name):
    """Keyed merge-on-read table of three interleaved files (id mod 3):
    bounds overlap, so only the Bloom bitmaps tell the files apart."""
    t = Table("out", "w")
    t.init(unique_on=["id"], merge_on_read=True, stat_columns=["id"], bloom_columns="id")
    for r in range(3):
        t.append(spark.createDataFrame([(i, "a") for i in range(r, 300, 3)], "id long, v string").coalesce(1))
        t.flush()
    return t


def test_carry_modes_agree_and_point_reads_stay_read_only(engine, spark, monkeypatch):
    """append -> upsert -> DV delete -> compact keeps the same pruning
    under hardlink and reference carries: carried files keep their
    entries (bitmaps included) in both modes. After the DV delete a
    point read prunes from the committed entries and opens no catalog
    transaction (no lazy backfill commit)."""
    preds = [("id", "=", v) for v in (4, 5, 151, 299, 1_000, 5_000)] + [("id", "between", (10, 20))]

    def signature(t, name):
        stats = engine.catalog.get_file_stats(name, engine.catalog.get_active_version(name))
        out = []
        for p in preds:
            kept, total = t.prune_files([p])
            ids = [stats[k]["cols"]["id"] for k in kept]
            out.append((total, sorted((i["min"], i["max"]) for i in ids)))
        return out, stats

    backend = engine.catalog._backend
    txns = []
    transaction = backend.transaction
    monkeypatch.setattr(backend, "transaction", lambda: (txns.append(1), transaction())[1])
    runs = {}
    for mode in ("hardlink", "reference"):
        monkeypatch.setenv("PDS_LINK_MODE", mode)
        name = f"fsc_{mode}"
        sigs = []
        with engine.node_context("w", outputs={"out": name}):
            t = _mor_table(engine, spark, name)
            sigs.append(signature(t, name)[0])
            t.upsert(spark.createDataFrame([(4, "b"), (1_000, "b")], "id long, v string"))
            t.flush()
            sig, stats = signature(t, name)
            sigs.append(sig)
            assert all("bloom" in e["cols"]["id"] for e in stats.values()), mode
            assert t.delete_where("id = 151", vectorized=True) == 1
            sig, stats = signature(t, name)
            sigs.append(sig)
            assert len(stats) >= 4 and all("bloom" in e["cols"]["id"] for e in stats.values()), mode

            n0 = len(txns)
            got = sorted(r["id"] for r in t.read_pruned([("id", "=", 5)]).collect())
            kept, total = t.prune_files([("id", "=", 5)])
            assert got == [5] and total >= 2 and len(kept) < total, (mode, kept, total)
            assert len(txns) == n0, mode

            # one output file: coalesce groups files in read order, which
            # differs between the modes' manifests
            t.compact(target_files=1)
            sig, stats = signature(t, name)
            sigs.append(sig)
            assert all("bloom" in e["cols"]["id"] for e in stats.values()), mode
        runs[mode] = sigs
    assert runs["hardlink"] == runs["reference"]


def test_stats_collect_outside_commit(engine, spark, monkeypatch):
    """No data file is opened for the skipping index while a
    commit_batch document is open: every write collects its stats first
    and commits metadata only (the catalog's cross-process lock is held
    for the whole batch)."""
    import pyarrow.parquet as pq

    seen = []
    opener = pq.ParquetFile

    def guarded(*a, **kw):
        seen.append(getattr(engine.catalog._batch_tls, "doc", None) is not None)
        return opener(*a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", guarded)
    with engine.node_context("w", outputs={"out": "fsl"}):
        t = _mor_table(engine, spark, "fsl")
        t.upsert(spark.createDataFrame([(4, "b"), (1_000, "b")], "id long, v string"))
        t.flush()
        t.update_where({"v": "'c'"}, "id = 7", vectorized=True)
        t.delete_where("id = 8", vectorized=True)
        t.purge_deletes()
        t.delete_where("id = 10")
        t.compact(target_files=1)
        assert sorted(r["id"] for r in t.read_pruned([("id", "in", [4, 7, 8, 10])]).collect()) == [4, 7]
        # the SQL-node / CTAS path records its own entries too
        t.write_dataframe_as_new_version(spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string"))
        stats = engine.catalog.get_file_stats("fsl", engine.catalog.get_active_version("fsl"))
        assert stats and all("bloom" in e["cols"]["id"] for e in stats.values())
    assert seen and not any(seen)
