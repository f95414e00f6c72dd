"""Table-maintenance operators: small-file compaction.

A streaming or highly-parallel writer leaves thousands of small parquet
files per partition (each micro-batch × each task writes one); at 100 TB
the resulting footer/open overhead dominates scan time and NameNode/
listing pressure. Compaction is the standard maintenance pass every
table format ships (Delta OPTIMIZE, Iceberg rewrite_data_files) — this
is the plain-parquet stand-in for unkeyed tables; keyed tables compact
through ``table_format.optimize_table``.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # one HDFS-block-ish file


def heal_swap_residue(path: str) -> None:
    """Self-heal a crash between the two swap renames of
    ``atomic_swap_dir``: a stranded ``-old`` with no live table means we
    died mid-swap — restore it; a leftover ``-tmp`` is a half-written
    rewrite — discard it (source of truth is path/old)."""
    tmp = path.rstrip("/") + ".compact-tmp"
    old = path.rstrip("/") + ".compact-old"
    if os.path.exists(old):
        if not os.path.exists(path):
            os.rename(old, path)
        else:
            shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


def atomic_swap_dir(staged: str, path: str) -> None:
    """Replace directory ``path`` with ``staged`` via two renames (no
    copies): readers see the old tree or the new tree, never a partial
    one. A crash between the renames strands the old tree at
    ``<path>.compact-old``, which ``heal_swap_residue`` (called by every
    maintenance entry point before swapping) restores on the next run.
    ``staged`` must live on the same filesystem as ``path``."""
    old = path.rstrip("/") + ".compact-old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet directory."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> dict:
    """Rewrite the parquet directory into ⌈total/target_bytes⌉ files.

    - No-op (returns stats unchanged) when the directory already has
      fewer than ``min_files`` files or one file would not shrink it —
      compaction must be safe to run on a schedule.
    - The rewrite goes through a sibling temp directory and a directory
      swap, so a reader never sees a half-written table (the poor-man's
      version of a table format's atomic commit; on a real object store
      this is the manifest swap). The swap itself is two renames, so a
      crash BETWEEN them can leave the table path missing with the data
      stranded at ``<path>.compact-old``; every call therefore starts
      with a self-healing pass that restores a stranded ``-old`` dir and
      clears a leftover ``-tmp``, so a rerun recovers instead of failing
      on the missing path.
    - ``coalesce`` (not ``repartition``): compaction must not add a
      shuffle — it only merges input splits, which is exactly the
      narrow-dependency case coalesce exists for.
    """
    tmp = path.rstrip("/") + ".compact-tmp"
    heal_swap_residue(path)
    n_before, total = _dir_stats(path)
    n_target = max(1, -(-total // target_bytes))
    if n_before < min_files or n_target >= n_before:
        return {
            "compacted": False,
            "files_before": n_before,
            "files_after": n_before,
        }
    df = spark.read.parquet(path)
    df.coalesce(n_target).write.mode("overwrite").parquet(tmp)
    atomic_swap_dir(tmp, path)
    n_after, _ = _dir_stats(path)
    return {
        "compacted": True,
        "files_before": n_before,
        "files_after": n_after,
    }


# -- versioned snapshots / time travel ---------------------------------------
#
# The time-travel half of a table format (Delta VERSION AS OF, Iceberg
# snapshot ids), over plain parquet: each write lands a complete
# snapshot under ``v=N``; the ``_COMMITS`` log file (one committed
# version per line, rewritten atomically via os.replace on every
# commit) IS the table — a version exists iff it is in the log, so a
# crash between the data write and the log swap leaves an orphan v-dir
# that NO reader ever resolves, even after later versions commit over
# it (the failure a bare latest-pointer can't distinguish; vacuum reaps
# orphans). Readers either see the previous log or the new one, never a
# torn state. Old versions stay readable until vacuumed — snapshot
# isolation for free, at the cost of full-copy snapshots (the honest
# tradeoff vs a manifest format's shared data files; incremental state
# lives in operators/table_format.py).

_COMMITS = "_COMMITS"


def _version_dirs(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("v="):
            try:
                out.append(int(d[2:]))
            except ValueError:
                continue
    return sorted(out)


def committed_versions(path: str) -> list[int]:
    """Versions in the commit log — the only ones that exist to readers."""
    try:
        with open(os.path.join(path, _COMMITS)) as f:
            return [int(line) for line in f.read().split() if line]
    except FileNotFoundError:
        return []


def versioned_write(df, path: str) -> int:
    """Commit ``df`` as the next snapshot version; returns the version.

    Write order is data-first, log-last: the snapshot parquet must be
    fully on disk before the log names it. The next version number
    skips over orphan dirs so a crashed write is never overwritten."""
    os.makedirs(path, exist_ok=True)
    dirs = _version_dirs(path)
    n = (dirs[-1] + 1) if dirs else 1
    df.write.mode("errorifexists").parquet(os.path.join(path, f"v={n}"))
    log = committed_versions(path) + [n]
    tmp = os.path.join(path, _COMMITS + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(str(v) for v in log))
    os.replace(tmp, os.path.join(path, _COMMITS))  # atomic commit
    return n


def latest_table_version(path: str) -> int:
    committed = committed_versions(path)
    if not committed:
        raise FileNotFoundError(f"no committed versions at {path}")
    return committed[-1]


def read_table_version(spark: SparkSession, path: str, version: int | None = None):
    """Time travel: ``version=None`` reads the committed latest; a
    version absent from the commit log (orphan or vacuumed) refuses."""
    committed = committed_versions(path)
    n = committed[-1] if version is None else version
    if n not in committed:
        raise ValueError(
            f"version {n} is not committed (log: {committed})"
        )
    return spark.read.parquet(os.path.join(path, f"v={n}"))


def vacuum_table_versions(path: str, keep_last: int = 2) -> list[int]:
    """Drop every v-dir except the newest ``keep_last`` COMMITTED
    versions — older committed snapshots and orphan dirs from crashed
    writes alike. Rewrites the log first (so a reader never resolves a
    version whose data is mid-delete), then removes the dirs. Returns
    the versions removed."""
    committed = committed_versions(path)
    keep = set(committed[-keep_last:])
    survivors = [v for v in committed if v in keep]
    tmp = os.path.join(path, _COMMITS + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(str(v) for v in survivors))
    os.replace(tmp, os.path.join(path, _COMMITS))
    removed = []
    for v in _version_dirs(path):
        if v not in keep:
            shutil.rmtree(os.path.join(path, f"v={v}"))
            removed.append(v)
    return removed
