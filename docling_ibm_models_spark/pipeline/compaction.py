"""Small-file compaction — the Iceberg ``rewrite_data_files`` analogue for
the plain-parquet lake this sandbox stands in for.

Long-running ingestion (per-chunk lineage commits) leaves directories with
many small files; at 10^12-doc scale the scan-planning and
open() overhead of millions of tiny files dominates. ``compact_parquet_dir``
bin-packs the existing data files into groups of ~``target_bytes`` (first-fit
over the size-sorted listing — same planning shape as lineage file groups),
rewrites each group with ``coalesce(1)`` (narrow — no shuffle, a group's
files stream through one task), and commits via a directory snapshot swap
(:func:`_swap`) — in-process failures roll back to the original, hard
crashes are repaired by the :func:`_recover` every run performs on entry.
Non-parquet sidecar entries (lineage ``_manifest_v2``, ``_metadata`` …)
are carried into the new snapshot by hardlink.

Files already ≥ target_bytes are carried over untouched (copied by group
membership of exactly one file — no rewrite cost beyond the copy, which a
real table format would avoid via manifest pointers; documented trade-off
of the format-less stand-in).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class CompactionReport:
    files_before: int
    files_after: int
    bytes_total: int
    groups: int


# Atomic directory commit — the plain-parquet stand-in for an Iceberg
# snapshot commit: readers see the whole old table or the whole new one,
# never a mix.
#
# Protocol: build the complete new table in ``<dir>.<suffix>_tmp`` (hardlinks
# for unchanged files — no data copy), then
#     1. rename <dir>      -> <dir>.<suffix>_bak
#     2. rename tmp        -> <dir>
#     3. rmtree bak
# A failure of (2) rolls (1) back in-process. A hard crash between (1) and
# (2) leaves <dir> absent but the bak complete; :func:`_recover` (called by
# every writer on entry) renames it back. A crash after (2) leaves a stale
# bak that :func:`_recover` garbage-collects. In both cases the table stays
# readable with exactly one committed snapshot.


def _bak(data_dir: str, suffix: str) -> str:
    return data_dir.rstrip("/") + f".{suffix}_bak"


def _recover(data_dir: str, suffix: str) -> bool:
    """Repair an interrupted swap. Returns True if a rollback happened."""
    bak = _bak(data_dir, suffix)
    if not os.path.exists(bak):
        return False
    if not os.path.exists(data_dir):
        # crashed between rename(dir->bak) and rename(tmp->dir): roll back
        os.rename(bak, data_dir)
        return True
    # crashed after the new dir was committed: the bak is garbage
    shutil.rmtree(bak)
    return False


def _swap(data_dir: str, tmp_dir: str, suffix: str) -> None:
    """Commit ``tmp_dir`` as the new content of ``data_dir`` (see the
    protocol comment above for the crash matrix)."""
    bak = _bak(data_dir, suffix)
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(data_dir, bak)
    try:
        os.rename(tmp_dir, data_dir)
    except BaseException:
        os.rename(bak, data_dir)  # roll back: the original stays committed
        raise
    shutil.rmtree(bak)


def _link_tree(src: str, dst: str) -> None:
    """Copy a file/dir into dst by hardlink (zero data copy, bit-identical
    inodes — unchanged content keeps its exact bytes AND mtime)."""
    if os.path.isdir(src):
        shutil.copytree(src, dst, copy_function=os.link)
    else:
        os.link(src, dst)


def _plan_groups(files: list[tuple[str, int]], target_bytes: int) -> list[list[str]]:
    """First-fit-decreasing bin pack of (path, size) into ~target_bytes
    groups; a file ≥ target gets its own group."""
    groups: list[tuple[int, list[str]]] = []
    for path, size in sorted(files, key=lambda fs: -fs[1]):
        if size >= target_bytes:
            groups.append((size, [path]))
            continue
        for i, (gsize, paths) in enumerate(groups):
            if gsize + size <= target_bytes:
                groups[i] = (gsize + size, paths + [path])
                break
        else:
            groups.append((size, [path]))
    return [paths for _, paths in groups]


def compact_parquet_dir(
    spark: SparkSession, data_dir: str, target_bytes: int = 128 * 1024 * 1024
) -> CompactionReport:
    _recover(data_dir, "compact")  # repair any interrupted run

    entries = os.listdir(data_dir)
    files = [
        (os.path.join(data_dir, f), os.path.getsize(os.path.join(data_dir, f)))
        for f in entries
        if f.endswith(".parquet")
    ]
    if not files:
        return CompactionReport(0, 0, 0, 0)
    groups = _plan_groups(files, target_bytes)
    tmp = data_dir.rstrip("/") + ".compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    for i, group in enumerate(groups):
        out = os.path.join(tmp, f"group-{i:05d}")
        spark.read.parquet(*group).coalesce(1).write.mode("overwrite").parquet(out)
        # hoist the single part file up; keep deterministic names
        for f in os.listdir(out):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(out, f), os.path.join(tmp, f"part-{i:05d}.parquet")
                )
        shutil.rmtree(out)
    # carry over every sidecar entry (lineage _manifest_v2, _metadata, …)
    # by hardlink — only the data files are rewritten. _SUCCESS is
    # recreated fresh for downstream marker checks.
    for entry in entries:
        if entry.endswith(".parquet") or entry == "_SUCCESS":
            continue
        _link_tree(os.path.join(data_dir, entry), os.path.join(tmp, entry))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()

    _swap(data_dir, tmp, "compact")

    n_after = len([f for f in os.listdir(data_dir) if f.endswith(".parquet")])
    return CompactionReport(
        files_before=len(files),
        files_after=n_after,
        bytes_total=sum(s for _, s in files),
        groups=len(groups),
    )
