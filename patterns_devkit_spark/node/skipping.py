"""File-level data skipping for engine tables.

Spark's parquet reader already does ROW-GROUP pruning from footer
stats once a file is opened — but opening footers is itself O(files)
planning work, which at 100 TB (millions of files) dominates query
startup. Lakehouse formats solve this by keeping per-file column
min/max stats in table METADATA and pruning the file list before the
scan is planned (the reference's hosted runtime gets the equivalent
from its warehouse's zone maps; our SURVEY.md §4 notes min/max
pruning as the physical-design lever). This module is that index for
the engine's versioned tables:

- ``file_entry(path, rel, cols, bloom_cols)``: the stats entry of ONE
  file, {"rows", "cols": {col: bounds}} from its footer, plus a Bloom
  bitmap per declared bloom column when the file holds at most
  BLOOM_MAX_KEYS distinct values (a fuller bitmap saturates and can
  never prune). Hive ``col=value`` path segments are parsed so
  partition columns get exact per-file bounds even though they are
  not stored in the files themselves. Writers call it only for the
  files they wrote, BEFORE their catalog commit, and copy the parent
  version's entries for carried files (node.py Table._write_stats;
  ``entry_covers`` says when a copied entry is complete), so a
  write's stats cost is proportional to the write, not the table.
- ``collect_file_stats(root, cols)``: footer bounds for every file of
  a version directory — the lazy backfill for legacy versions and
  columns outside the write-time stat set.
- ``prune(stats, predicates)``: conjunctive predicate evaluation
  against those bounds. A file is dropped only when its stats PROVE
  no row can match; any uncertainty (missing stats, cross-type
  comparison) keeps the file — pruning is an optimization, never a
  correctness dependency (the caller re-applies the predicate as a
  real Spark filter).

Predicates are ``(col, op, value)`` triples, op in
``= < <= > >= between in`` (``between`` takes a (lo, hi) tuple,
``in`` a list). Comparison predicates never match NULL, so all-null
files (and files where the column is ABSENT — schema evolution fills
them with NULL on read) are provably prunable.
"""
from __future__ import annotations

import math
import os
import urllib.parse
from typing import Any, Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

Predicate = tuple  # (col, op, value)

_OPS = {"=", "<", "<=", ">", ">=", "between", "in"}


def _parse_partition_value(raw: str) -> Any:
    """Hive dir names encode values as url-quoted strings; recover a
    comparable python value (int/float when the text is numeric,
    else the decoded string)."""
    s = urllib.parse.unquote(raw)
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        return s


def _partition_values(relpath: str) -> dict[str, Any]:
    """{col: value} for every hive `col=value` segment on the path;
    value None for the hive null-partition sentinel."""
    out: dict[str, Any] = {}
    for seg in relpath.split(os.sep)[:-1]:
        if "=" not in seg:
            continue
        col, _, raw = seg.partition("=")
        out[col] = None if raw == HIVE_NULL else _parse_partition_value(raw)
    return out


def _footer_bounds(md, names: list[str], rel: str, cols: list[str]) -> dict[str, Any]:
    """Per-column bounds of one file from its parquet footer (see
    collect_file_stats for the shapes)."""
    pvals = _partition_values(rel)
    entry: dict[str, Any] = {}
    for col in cols:
        if col in pvals:
            v = pvals[col]
            entry[col] = (
                {"min": None, "max": None, "nulls": md.num_rows}
                if v is None
                else {"min": v, "max": v, "nulls": 0}
            )
            continue
        if col not in names:
            entry[col] = {"absent": True}
            continue
        ci = names.index(col)
        mn = mx = None
        nulls = 0
        usable = True
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            st = rgm.column(ci).statistics
            if st is None:
                usable = False
                break
            n_null = st.null_count
            if st.has_min_max:
                if n_null is None:
                    n_null = 0  # unknown nulls don't affect min/max pruning
                try:
                    mn = st.min if mn is None or st.min < mn else mn
                    mx = st.max if mx is None or st.max > mx else mx
                except TypeError:
                    usable = False
                    break
            elif n_null is not None and n_null == rgm.num_rows:
                pass  # all-null row group: contributes no values
            else:
                usable = False
                break
            nulls += n_null
        if usable:
            entry[col] = {"min": mn, "max": mx, "nulls": nulls}
    return entry


def file_entry(path: str, rel: str, cols: Iterable[str], bloom_cols: Iterable[str] = ()) -> dict:
    """The stats entry of ONE data file: footer bounds for ``cols``
    (``rel`` is the file's path inside its version directory, whose
    hive segments give partition columns exact bounds), plus a Bloom
    bitmap for each of ``bloom_cols`` stored in the file with at most
    BLOOM_MAX_KEYS distinct non-null values. Bloom columns read the
    column's data (pyarrow, no Spark job); bounds read the footer only."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    names = md.schema.to_arrow_schema().names
    entry = {"rows": md.num_rows, "cols": _footer_bounds(md, names, rel, list(cols))}
    present = [c for c in bloom_cols if c in names]
    if present:
        tbl = pf.read(columns=present)
        for col in present:
            vals = tbl.column(col).unique().drop_null()
            if len(vals) <= BLOOM_MAX_KEYS:
                entry["cols"].setdefault(col, {})["bloom"] = bloom_bitmap(vals.to_pylist())
    return entry


def collect_file_stats(root: str, cols: Iterable[str]) -> dict[str, dict]:
    """Per-file bounds for `cols` under a version dir — parquet FOOTER
    reads only, never a data scan. Per column one of:
      {"min": v, "max": v, "nulls": n}  -- bounded (min/max None only
                                           when every row is null)
      {"absent": True}                  -- column not in this file's
                                           schema (reads as NULL)
      missing key                       -- stats unavailable: never
                                           prune on this column
    """
    cols = list(cols)
    out: dict[str, dict] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root)
            out[rel] = file_entry(full, rel, cols)
    return out


def entry_covers(entry: dict, cols: Iterable[str], bloom_cols: Iterable[str]) -> bool:
    """True when ``entry`` already holds what a write harvests for its
    file: bounds for every column, and a bitmap for every Bloom column
    the file stores, unless the file may exceed the cap (a file of at
    most BLOOM_MAX_KEYS rows without a bitmap was never indexed)."""
    info = entry.get("cols") or {}
    if any(c not in info for c in cols):
        return False
    rows = entry.get("rows")
    for col in bloom_cols:
        ci = info.get(col) or {}
        if ci.get("absent") or "bloom" in ci:
            continue
        if rows is None or rows <= BLOOM_MAX_KEYS:
            return False
    return True


# -- per-file Bloom value index (equality skipping beyond min/max) -----
#
# min/max bounds cannot prune equality predicates when files have
# overlapping value RANGES but disjoint value SETS (round-robin writes,
# hash-bucketed ids, UUID keys). Lakehouse formats add per-file Bloom
# filters for exactly this; here the bitmap lives in the same catalog
# stats entry as the bounds ({"bloom": hex}), so pruning stays a
# metadata-only decision. A Bloom "no" is definitive (prune); a "yes"
# keeps the file — the caller's re-applied Spark filter makes false
# positives harmless, as with every other stat here.

BLOOM_BITS = 8192  # 1 KiB bitmap per (file, column)
BLOOM_K = 4
# The most distinct values the bitmap holds at its optimal fill (half
# the bits set): m*ln2/k ~= 1,419 keys at ~6 % false positives. Past it
# the bitmap saturates (a ~37.5k-key file sets all 8,192 bits), so a
# file with more distinct values gets bounds only.
BLOOM_MAX_KEYS = int(BLOOM_BITS * math.log(2) / BLOOM_K)


def _bloom_canon(value: Any) -> str:
    """Canonical string hashed into the bloom: write side and probe
    side must agree, so normalize bools/ints/floats through str()."""
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, float) and value.is_integer():
        return str(int(value))
    return str(value)


def _bloom_positions(value: Any, bits: int = BLOOM_BITS, k: int = BLOOM_K) -> list[int]:
    import hashlib

    s = _bloom_canon(value)
    return [
        int.from_bytes(hashlib.md5(f"{j}|{s}".encode()).digest()[:8], "big") % bits
        for j in range(k)
    ]


def bloom_bitmap(values: list, bits: int = BLOOM_BITS, k: int = BLOOM_K) -> str:
    """Hex bitmap of distinct non-null values (equality predicates never
    match NULL, so nulls are never inserted). Callers hold it to
    BLOOM_MAX_KEYS values."""
    bitmap = bytearray(bits // 8)
    for v in values:
        for pos in _bloom_positions(v, bits, k):
            bitmap[pos >> 3] |= 1 << (pos & 7)
    return bytes(bitmap).hex()


def bloom_may_contain(hex_bitmap: str, value: Any, bits: int = BLOOM_BITS, k: int = BLOOM_K) -> bool:
    bitmap = bytes.fromhex(hex_bitmap)
    return all(bitmap[p >> 3] & (1 << (p & 7)) for p in _bloom_positions(value, bits, k))


def _could_match(entry: dict, col: str, op: str, value: Any) -> bool:
    """True unless this file's stats PROVE no row satisfies the
    predicate. Conservative on any uncertainty."""
    info = (entry.get("cols") or {}).get(col)
    if info is None:
        return True  # no stats for this column: cannot prune
    if info.get("absent"):
        return False  # column reads as NULL: value predicates never match
    bloom = info.get("bloom")
    if bloom:
        # a Bloom "no" is definitive for equality, regardless of bounds
        if op == "=" and not bloom_may_contain(bloom, value):
            return False
        if op == "in" and not any(bloom_may_contain(bloom, v) for v in value):
            return False
    if "min" not in info and "max" not in info:
        return True  # bloom-only entry: bounds unavailable
    mn, mx = info.get("min"), info.get("max")
    if mn is None and mx is None:
        # bounded with no values => every row is null
        return not (info.get("nulls") == entry.get("rows"))
    try:
        if op == "=":
            return mn <= value <= mx
        if op == "<":
            return mn < value
        if op == "<=":
            return mn <= value
        if op == ">":
            return mx > value
        if op == ">=":
            return mx >= value
        if op == "between":
            lo, hi = value
            return not (mx < lo or mn > hi)
        if op == "in":
            return any(mn <= v <= mx for v in value)
    except TypeError:
        return True  # cross-type compare (e.g. str stats vs int value)
    raise ValueError(f"unknown predicate op {op!r} (use one of {sorted(_OPS)})")


def prune(stats: dict[str, dict], predicates: list[Predicate]) -> list[str]:
    """Relpaths of files that may contain matching rows (conjunctive
    predicates: a file pruned by ANY predicate is out)."""
    for col, op, _v in predicates:
        if op not in _OPS:
            raise ValueError(f"unknown predicate op {op!r} (use one of {sorted(_OPS)})")
    return [
        rel
        for rel, entry in stats.items()
        if all(_could_match(entry, col, op, value) for col, op, value in predicates)
    ]


def predicates_to_filter(predicates: list[Predicate]) -> Column:
    """The same conjunction as a real Spark filter — applied on top of
    the pruned scan so results never depend on stats correctness."""
    cond = F.lit(True)
    for col, op, value in predicates:
        c = F.col(col)
        if op == "=":
            piece = c == F.lit(value)
        elif op == "<":
            piece = c < F.lit(value)
        elif op == "<=":
            piece = c <= F.lit(value)
        elif op == ">":
            piece = c > F.lit(value)
        elif op == ">=":
            piece = c >= F.lit(value)
        elif op == "between":
            lo, hi = value
            piece = (c >= F.lit(lo)) & (c <= F.lit(hi))
        elif op == "in":
            piece = c.isin(list(value))
        else:
            raise ValueError(f"unknown predicate op {op!r}")
        cond = cond & piece
    return cond
