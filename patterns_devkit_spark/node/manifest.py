"""Manifest-based table versions — the object-storage zero-copy design.

A TableVersion is logically a FILE MANIFEST: the catalog stores, per
version, the list of data files that make up the version, as refs
relative to ``<warehouse>/tables/`` (``<table>/<version>/<partition
dirs>/<file>.parquet``). Files are immutable once written; versions
SHARE files by referencing them, and retention GC ref-counts files
across every retained manifest of every table (catalog.gc_versions)
before deleting anything. Zero-copy operations — clone, restore,
partition-scoped MERGE, file-scoped DELETE/UPDATE, WAP — are manifest
edits: the new version's manifest lists its own freshly written files
plus refs carried verbatim from the parent.

This is the same version=manifest contract as a Delta transaction log
/ Iceberg manifest list: on the object storage a 100 TB deployment
runs on there are no hardlinks and no atomic directory semantics, so
"carry a file into the new version" MUST be a metadata edit, never a
filesystem operation. (Reference parity note: the reference devkit
delegates all storage to its hosted warehouse — patterns/node/
node.py:96-99 — which is manifest-based for the same reason.)

Two carry modes, selected by ``PDS_LINK_MODE``:

- ``hardlink`` (default): carried files are ALSO hardlinked into the
  new version's directory (``os.link``; inode refcounts), so every
  version directory stays self-contained on a POSIX filesystem — the
  local fast path. Manifest refs then point into the version's own
  directory.
- ``reference``: nothing is copied or linked; the new manifest simply
  references the parent's files — the only zero-copy semantics
  available on object storage. Readers resolve manifests (grouped by
  source version directory so hive partition columns keep resolving
  from ``basePath``), so both modes read identically.

Versions written before manifests existed have no manifest entry and
keep the legacy directory-is-the-version behavior end to end.
"""
from __future__ import annotations

import os
import re
import shutil

# "<table>/<vXXXXXXX>/..." — table names are identifier-validated, so
# a version-RELATIVE key (hive "col=value" dirs + filename) can never
# match: hive segments always contain '='.
_REF_RE = re.compile(r"^[A-Za-z0-9_]+/v\d{7}/")


def link_mode() -> str:
    """'hardlink' (default; local-FS fast path) or 'reference'
    (manifest-only carries — the object-storage mode)."""
    return os.environ.get("PDS_LINK_MODE", "hardlink")


def tables_root(catalog) -> str:
    return os.path.join(catalog.root, "tables")


def is_ref(key: str) -> bool:
    """True for a tables-root-relative manifest ref; False for a legacy
    version-relative stats key."""
    return bool(_REF_RE.match(key))


def ref_source(ref: str) -> tuple[str, str]:
    """(table, version) a ref points into."""
    t, v, _ = ref.split("/", 2)
    return t, v


def ref_relpath(ref: str) -> str:
    """Path of a ref inside its source version dir (partition dirs +
    filename)."""
    return ref.split("/", 2)[2]


def resolve(catalog, table: str, version: str, key: str) -> str:
    """Absolute path of a manifest ref OR a legacy version-relative
    key (file-stats entries predating manifests use the latter)."""
    if is_ref(key):
        return os.path.join(tables_root(catalog), key)
    return os.path.join(catalog.version_dir(table, version), key)


def walk_version_files(version_dir: str) -> list[str]:
    """Version-relative paths of every parquet data file under a
    version directory (sorted; metadata-only walk)."""
    out: list[str] = []
    for root, _dirs, files in os.walk(version_dir):
        rel = os.path.relpath(root, version_dir)
        for fn in files:
            if fn.endswith(".parquet"):
                out.append(fn if rel == "." else os.path.join(rel, fn).replace(os.sep, "/"))
    return sorted(out)


def own_refs(catalog, table: str, version: str) -> list[str]:
    """Refs for the files physically PRESENT in the version's own
    directory."""
    vdir = catalog.version_dir(table, version)
    return [f"{table}/{version}/{rel}" for rel in walk_version_files(vdir)]


def version_refs(catalog, table: str, version: str) -> list[str]:
    """The version's full file list: its manifest, or (legacy versions
    without one) a directory walk synthesized into own-refs."""
    m = catalog.get_manifest(table, version)
    return list(m) if m is not None else own_refs(catalog, table, version)


def carry(catalog, table: str, dst_version: str, refs: list[str]) -> list[str]:
    """Carry parent/source files into ``dst_version`` and return the
    refs to record for them. hardlink mode: materialize each file into
    the destination directory (link, copy2 on cross-device) and return
    own-dir refs — the version dir stays self-contained. reference
    mode: return the refs unchanged (a pure metadata carry)."""
    if link_mode() != "hardlink":
        return list(refs)
    troot = tables_root(catalog)
    out: list[str] = []
    for ref in refs:
        rel = ref_relpath(ref)
        src = os.path.join(troot, ref)
        dst = os.path.join(catalog.version_dir(table, dst_version), rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if not os.path.exists(dst):
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        out.append(f"{table}/{dst_version}/{rel}")
    return out


def refs_for(catalog, table: str, version: str, carried: list[str] | None = None) -> list[str]:
    """The manifest ``record`` would persist: every file in the
    version's own directory plus ``carried`` refs (deduplicated —
    hardlink-mode carries are already own files). Metadata-only."""
    refs = own_refs(catalog, table, version)
    seen = set(refs)
    for ref in carried or []:
        if ref not in seen:
            refs.append(ref)
            seen.add(ref)
    return refs


def record(catalog, table: str, version: str, carried: list[str] | None = None) -> list[str]:
    """Persist the version's manifest (refs_for). Call after ANY
    physical write into a version directory; appends must re-pass
    previously carried external refs (see external_refs) or they would
    be dropped."""
    refs = refs_for(catalog, table, version, carried)
    catalog.set_manifest(table, version, refs)
    return refs


def external_refs(catalog, table: str, version: str) -> list[str]:
    """Previously recorded refs that live OUTSIDE the version's own
    directory (reference-mode carries) — preserve these across
    in-place appends."""
    m = catalog.get_manifest(table, version) or []
    prefix = f"{table}/{version}/"
    return [r for r in m if not r.startswith(prefix)]


def has_external_refs(catalog, table: str, version: str) -> bool:
    m = catalog.get_manifest(table, version)
    if not m:
        return False
    prefix = f"{table}/{version}/"
    return any(not r.startswith(prefix) for r in m)


def stats_key(ref: str, table: str, version: str) -> str:
    """Catalog file-stats key for a manifest ref: version-relative for
    the version's own files (matching what the write-time footer walk
    produces), the full ref for carried files."""
    prefix = f"{table}/{version}/"
    return ref[len(prefix):] if ref.startswith(prefix) else ref


def partition_segment_value(ref_or_rel: str, part_col: str) -> str | None:
    """URL-decoded value of the ``part_col=...`` hive segment on a
    ref/relpath, or None if the path has no such segment (a flat
    file — rows of ANY partition may be inside)."""
    from urllib.parse import unquote

    prefix = f"{part_col}="
    for seg in ref_or_rel.split("/")[:-1]:
        if seg.startswith(prefix):
            return unquote(seg[len(prefix):])
    return None
