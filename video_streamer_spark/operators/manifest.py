"""The versioned table's manifest rules — the one reader of its log.

``operators/table_format.py`` writes the log; three readers interpret
it: the table format itself, the streaming change feed
(``sources/cdf_source.py``) and the batch snapshot source
(``sources/snapshot_source.py``). Every rule they share lives here:

- manifest naming and version listing;
- data-ref resolution (``abs_ref``: shallow clones carry absolute refs);
- ``TIMESTAMP AS OF`` resolution and the timestamp-option parser;
- the per-bucket effective-content diff and the changed-bucket walk
  that skips layout-only commits;
- the lossless type-widening ladder;
- the task-side merge-on-read rule: declared Spark types as Arrow
  types, field-id mapping, null backfill and the tombstone anti-join.

The rules take manifests, version lists or loader callables, never a
storage backend: ``table_format`` feeds them through its LogStore,
while the DataSources read the same entries as plain files
(``read_manifest_file``; both LogStores persist plain files at the
same paths).

DataSource methods run in Spark's Python data-source runner, which
cannot import this package when the driver runs outside the repo. So
this module uses only the standard library and pyarrow, and ships
itself by value (``ship_module``): a DataSource that calls into it
carries the code in its pickle.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable, Iterable
from datetime import datetime, timezone

from video_streamer_spark.functions.shipping import ship_module

ship_module(sys.modules[__name__])

MANIFEST_DIR = "_manifests"

# Lossless widenings only (the Iceberg type-promotion set plus the
# small-int ladder): every value representable in the old type is
# exactly representable in the new, so old data files read under the
# widened schema are value-identical (Spark's parquet reader upcasts
# natively — probed on int32→int64/float32→float64 files). bigint →
# double is deliberately ABSENT (lossy past 2^53), as is any
# narrowing. Read as: values of the key type fit every type listed.
SAFE_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def manifest_name(version: int) -> str:
    return f"v{version:09d}.json"


def versions(names: Iterable[str]) -> list[int]:
    """Committed versions in a manifest-dir listing, ascending. A
    manifest entry IS a commit."""
    return sorted(
        int(f.removeprefix("v").removesuffix(".json"))
        for f in names
        if f.startswith("v") and f.endswith(".json")
    )


def latest(vs: list[int], path: str) -> int:
    if not vs:
        raise FileNotFoundError(f"no committed version at {path}")
    return vs[-1]


def abs_ref(path: str, rel: str) -> str:
    """Resolve a manifest data ref to a filesystem path. Refs this
    table wrote are table-relative (``data/commit-.../pb=N``); a
    SHALLOW CLONE's manifest (``clone_table``) instead carries
    ABSOLUTE refs into its source table's layout — zero bytes copied,
    the clone owns metadata only until copy-on-write gives it local
    dirs. Every consumer of ``doc["buckets"]`` / ``doc["tombstones"]``
    refs must resolve through here; writers always mint relative refs
    under their own table root."""
    return rel if os.path.isabs(rel) else os.path.join(path, rel)


def read_manifest_file(path: str, version: int) -> dict:
    """One manifest read as a plain file (FileNotFoundError if it was
    never committed or was vacuumed)."""
    with open(os.path.join(path, MANIFEST_DIR, manifest_name(version))) as fh:
        return json.load(fh)


def file_versions(path: str) -> list[int]:
    return versions(os.listdir(os.path.join(path, MANIFEST_DIR)))


def version_at_timestamp(
    vs: list[int],
    load: Callable[[int], dict],
    ts: float,
    path: str,
    remedy: str,
) -> int:
    """Resolve ``TIMESTAMP AS OF``: the LATEST retained version whose
    ``committed_at`` is ≤ ``ts`` (Delta's rule), over the retained
    versions ``vs`` read through ``load``.

    Loud edges: a timestamp before the oldest retained commit raises
    (there is no state to serve — the honest answer after vacuum too);
    a retained manifest WITHOUT a stamp (written before this feature)
    raises by name, with the caller's ``remedy``, rather than guessing
    its age. Wall-clock skew between writers can make stamps locally
    non-monotonic; taking the max qualifying VERSION (not the max
    timestamp) keeps resolution deterministic and supremum-correct
    under skew."""
    best = None
    for v in vs:
        at = load(v).get("committed_at")
        if at is None:
            raise ValueError(
                f"version {v} at {path} has no committed_at stamp "
                f"(written before timestamp support): {remedy}"
            )
        if at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no retained version at {path} is as old as timestamp "
            f"{ts} (oldest retained commit is newer, or was vacuumed)"
        )
    return best


def parse_ts_option(text) -> float:
    """ISO-8601 (naive = UTC) or epoch seconds → epoch seconds; raises
    ValueError on anything else."""
    t = str(text).strip()
    try:
        return float(t)
    except ValueError:
        pass
    dt = datetime.fromisoformat(t)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def buckets_changed_between(a: dict, b: dict) -> set[str]:
    """Bucket ids whose effective content differs between two manifests
    of the SAME layout: a repointed data dir or a changed tombstone
    list (delete_keys changes rows without repointing the dir). Data
    dirs are immutable and commit-uuid-unique, so a pointer can never
    revert — diffing the endpoints sees every bucket any intermediate
    commit touched."""
    out: set[str] = set()
    for fam in ("buckets", "tombstones"):
        fa, fb = a.get(fam, {}), b.get(fam, {})
        out |= {k for k in set(fa) | set(fb) if fa.get(k) != fb.get(k)}
    return out


class BucketLayoutChanged(Exception):
    """The version window spans a ``rebucket_table`` commit: the bucket
    COUNT changed, so key→bucket assignment differs between manifests
    and bucket ids are not comparable across the window. Callers must
    fall back to a key-level (global) diff."""


def changed_buckets_walk(
    v_from: int, v_to: int, load: Callable[[int], dict]
) -> set[str]:
    """Buckets that MAY contain a changed row in (v_from, v_to]: walk
    the manifest chain (``load`` reads one version; v_from = 0 is the
    empty table) and collect the effective-content changes of
    non-layout commits. A bucket rewritten only by ``optimize_table``
    or ``rebucket_table`` (``layout_only`` manifests) holds
    byte-different files with identical rows, so skipping it is exact
    — and the walk is pure JSON, so an OPTIMIZE of a 100 TB table costs
    its CDC readers a metadata scan, not a full-table diff.

    Raises ``BucketLayoutChanged`` if ``n_buckets`` varies anywhere in
    the window AND some non-layout commit changed rows: bucket ids then
    name DIFFERENT key partitions in different manifests, so comparing
    ids across the two layouts emits false inserts/deletes and can
    silently drop real changes. A window whose only commits are
    layout_only still returns the exact empty set (rows identical end
    to end), keeping rebucket/OPTIMIZE zero-read for the feed. A
    vacuumed manifest inside the window propagates ``load``'s
    FileNotFoundError."""
    cur = {"buckets": {}} if v_from == 0 else load(v_from)
    anchor_n = cur.get("n_buckets")
    varied = False
    changed: set[str] = set()
    for v in range(v_from + 1, v_to + 1):
        nxt = load(v)
        if anchor_n is None:
            anchor_n = nxt.get("n_buckets")
        elif nxt.get("n_buckets") != anchor_n:
            varied = True
        if not nxt.get("layout_only"):
            changed |= buckets_changed_between(cur, nxt)
        cur = nxt
    if varied and changed:
        raise BucketLayoutChanged(
            f"n_buckets changed within versions ({v_from}, {v_to}] "
            "alongside data commits: bucket ids are not comparable "
            "across the window"
        )
    return changed


# -- task-side merge-on-read ------------------------------------------


def arrow_type(dt):
    """Declared Spark type → pyarrow type: the table format's atomic
    set plus ARRAY/STRUCT/MAP recursion over it (an embeddings table's
    ``array<float>`` is a core payload type). KEY columns stay atomic
    (enforced at ``create_table``); only payload columns nest.
    Anything else refuses loudly. Dispatches on the type's names, so
    pyspark need not be importable here."""
    import pyarrow as pa

    s = dt.simpleString()
    atoms = {
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
        "date": pa.date32(),
        # an INSTANT: Spark's INT96 files read as naive UTC wall times;
        # stamping UTC keeps a consumer session in any timezone exact
        "timestamp": pa.timestamp("us", tz="UTC"),
        "timestamp_ntz": pa.timestamp("us"),
    }
    if s in atoms:
        return atoms[s]
    kind = dt.typeName()
    if kind == "array":
        return pa.list_(arrow_type(dt.elementType))
    if kind == "struct":
        return pa.struct(
            [pa.field(f.name, arrow_type(f.dataType)) for f in dt.fields]
        )
    if kind == "map":
        return pa.map_(arrow_type(dt.keyType), arrow_type(dt.valueType))
    raise NotImplementedError(
        "table sources support the table format's atomic columns plus "
        f"array/struct/map over them; got {s!r}"
    )


def arrow_schema(fields):
    import pyarrow as pa

    return pa.schema([pa.field(f.name, arrow_type(f.dataType)) for f in fields])


def to_logical(t, target, mapping: dict):
    """One data file's table under the declared ``target`` schema:
    each logical column reads its PHYSICAL name (``mapping``: the
    manifest's ``column_mapping``, logical → physical), columns a
    pre-evolution file lacks backfill NULL, and narrower stored types
    widen by cast. A pre-drop file may carry dead bytes under a
    remapped column's LOGICAL name — the physical name always wins, so
    those bytes backfill NULL and never resurrect."""
    import pyarrow as pa

    have = set(t.column_names)
    cols = {}
    for name in target.names:
        phys = mapping.get(name, name)
        cols[name] = t.column(phys) if phys in have else pa.nulls(len(t))
    return pa.table(cols).cast(target)


def dead_mask(rows, tomb_dirs: list[str], key_cols: list[str]):
    """Boolean mask over ``rows``: True where the row's key is in the
    tombstone files. Equality is SQL's — a null key component matches
    nothing, so null dead keys kill nothing and null-keyed rows
    survive, exactly like the batch readers' anti-join. Keys compare
    in Arrow, exact at any integer magnitude."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    keys = rows.select(key_cols)
    dead = pa.concat_tables(
        [pq.read_table(d, columns=key_cols) for d in tomb_dirs]
    ).cast(keys.schema)
    row_id = pa.array(range(len(rows)), pa.int64())
    hit = (
        keys.append_column("__row", row_id)
        .join(dead, key_cols, join_type="left semi")
        .column("__row")
    )
    return pc.is_in(row_id, value_set=hit.combine_chunks())


def read_live(
    dirs: list[str],
    tomb_dirs: list[str],
    target,
    key_cols: list[str],
    mapping: dict,
):
    """A bucket's live rows as one Arrow table under ``target``: its
    data dirs (``to_logical``) minus its tombstoned keys."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rows = (
        pa.concat_tables(
            [to_logical(pq.read_table(d), target, mapping) for d in dirs]
        )
        if dirs
        else target.empty_table()
    )
    if tomb_dirs and len(rows):
        rows = rows.filter(pc.invert(dead_mask(rows, tomb_dirs, key_cols)))
    return rows
