"""Per-file Bloom value index (node/skipping.py): equality skipping
where min/max bounds cannot prune — overlapping ranges, disjoint value
sets. Bloom bitmaps ride the same catalog stats entries as the bounds;
a Bloom 'no' is definitive, results stay identical to the plain
filtered scan (pruning is never a correctness dependency)."""
import pytest

from patterns_devkit_spark import Table
from patterns_devkit_spark.node import skipping


def test_bloom_positions_deterministic_and_membership():
    bm = bytearray(skipping.BLOOM_BITS // 8)
    for v in (7, "abc", 3.0):
        for p in skipping._bloom_positions(v):
            bm[p >> 3] |= 1 << (p & 7)
    hx = bytes(bm).hex()
    assert skipping.bloom_may_contain(hx, 7)
    assert skipping.bloom_may_contain(hx, "abc")
    assert skipping.bloom_may_contain(hx, 3)  # 3.0 canonicalizes to "3"
    assert not skipping.bloom_may_contain(hx, 8)
    assert not skipping.bloom_may_contain(hx, "abd")


def test_equality_prunes_interleaved_files(engine, spark):
    """Even/odd ids across two files: min/max ranges fully overlap
    ([0,18] vs [1,19]), so bounds keep both; the Bloom prunes to one.
    Single-partition batches pin one parquet file per flush."""
    with engine.node_context("w", outputs={"out": "bl1"}):
        t = Table("out", "w")
        t.init(bloom_columns="id", stat_columns=["id"])
        t.append(spark.createDataFrame([(i,) for i in range(0, 20, 2)], "id long").coalesce(1))
        t.flush()
        t.append(spark.createDataFrame([(i,) for i in range(1, 20, 2)], "id long").coalesce(1))
        t.flush()
        # bounds alone cannot separate these files (between bypasses the
        # bloom): both ranges span 3
        kept_bounds, total = t.prune_files([("id", "between", (3, 3))])
        assert total == 2 and len(kept_bounds) == 2
        kept, _ = t.prune_files([("id", "=", 3)])
        assert len(kept) == 1  # bloom knows the even file lacks 3
        # absent value: Bloom prunes EVERY file (bounds keep both)
        kept_none, _ = t.prune_files([("id", "=", 7)])
        assert len(kept_none) == 1
        kept_none, _ = t.prune_files([("id", "=", 4_000)])
        assert kept_none == []


def test_read_pruned_equals_plain_filter(engine, spark):
    with engine.node_context("w", outputs={"out": "bl2"}):
        t = Table("out", "w")
        t.init(bloom_columns=["name"])
        t.append(spark.createDataFrame([(f"user{i}", i) for i in range(0, 10)], "name string, v long").coalesce(1))
        t.flush()
        t.append(spark.createDataFrame([(f"user{i}", i) for i in range(10, 20)], "name string, v long").coalesce(1))
        t.flush()
        got = sorted(r["v"] for r in t.read_pruned([("name", "=", "user13")]).collect())
        want = sorted(
            r["v"] for r in t.read_spark().filter("name = 'user13'").collect()
        )
        assert got == want == [13]
        # IN probes consult the bloom per value
        kept, total = t.prune_files([("name", "in", ["user3", "user17"])])
        assert total == 2 and len(kept) == 2
        kept, _ = t.prune_files([("name", "in", ["userX", "userY"])])
        assert kept == []


def test_bloom_survives_delete_rewrite(engine):
    """delete_where writes a new version; its stats harvest re-collects
    blooms so pruning keeps working on the rewritten table."""
    with engine.node_context("w", outputs={"out": "bl3"}):
        t = Table("out", "w")
        t.init(bloom_columns="k")
        t.append([{"k": "a"}, {"k": "b"}])
        t.flush()
        t.append([{"k": "c"}, {"k": "d"}])
        t.flush()
        t.delete_where("k = 'a'")
        kept, total = t.prune_files([("k", "=", "c")])
        assert total >= 1 and len(kept) == 1
        assert [r["k"] for r in t.read_pruned([("k", "=", "c")]).collect()] == ["c"]


@pytest.mark.parametrize("mode", ["hardlink", "reference"])
def test_upsert_hashes_only_the_batch_keys(engine, spark, monkeypatch, mode):
    """A merge-on-read upsert of k keys hashes at most k values into
    bitmaps: the new version's carried files copy their parent's
    entries (bitmaps included) instead of being re-read. The old-image
    probe's hashing inside skipping.prune is read work, not counted."""
    monkeypatch.setenv("PDS_LINK_MODE", mode)
    name = f"blh_{mode}"
    with engine.node_context("w", outputs={"out": name}):
        t = Table("out", "w")
        t.init(unique_on=["id"], merge_on_read=True, stat_columns=["id"], bloom_columns="id")
        for lo in (0, 300, 600):
            t.append(spark.createDataFrame([(i, "a") for i in range(lo, lo + 300)], "id long, v string").coalesce(1))
            t.flush()
        hashed, probing = [], [False]
        prune, positions = skipping.prune, skipping._bloom_positions

        def counting_prune(*a, **kw):
            probing[0] = True
            try:
                return prune(*a, **kw)
            finally:
                probing[0] = False

        def counting_positions(value, *a, **kw):
            if not probing[0]:
                hashed.append(value)
            return positions(value, *a, **kw)

        monkeypatch.setattr(skipping, "prune", counting_prune)
        monkeypatch.setattr(skipping, "_bloom_positions", counting_positions)
        batch = [(5, "b"), (650, "b"), (2_000, "b")]
        t.upsert(spark.createDataFrame(batch, "id long, v string"))
        t.flush()
    assert 0 < len(hashed) <= len(batch)
    stats = engine.catalog.get_file_stats(name, engine.catalog.get_active_version(name))
    assert len(stats) >= 4 and all("bloom" in e["cols"]["id"] for e in stats.values())


def test_bloom_cap_boundary(engine, spark):
    """A file with BLOOM_MAX_KEYS distinct keys gets a bitmap (and it
    prunes absent keys); one more key and the entry keeps bounds only.
    Pruned reads equal the plain filter either way."""
    cap = skipping.BLOOM_MAX_KEYS
    for name, n in (("blcap_at", cap), ("blcap_over", cap + 1)):
        with engine.node_context("w", outputs={"out": name}):
            t = Table("out", "w")
            t.init(bloom_columns="k")
            t.append(spark.range(n).selectExpr("id * 2 AS k").coalesce(1))
            t.flush()
            (entry,) = engine.catalog.get_file_stats(name, engine.catalog.get_active_version(name)).values()
            info = entry["cols"]["k"]
            assert ("bloom" in info) == (n == cap)
            assert (info["min"], info["max"]) == (0, 2 * (n - 1))
            # odd keys are absent but inside the bounds: only a bitmap prunes them
            pruned = sum(not t.prune_files([("k", "=", v)])[0] for v in range(1, 101, 2))
            assert pruned >= 40 if n == cap else pruned == 0
            for pred, sql in ((("k", "=", 7), "k = 7"), (("k", "=", 10), "k = 10"), (("k", "in", [3, 4]), "k in (3, 4)")):
                got = sorted(r["k"] for r in t.read_pruned([pred]).collect())
                assert got == sorted(r["k"] for r in t.read_spark().filter(sql).collect()), (name, pred)
