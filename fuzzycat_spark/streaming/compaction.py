"""Offline compaction of the incremental-dedup state.

The streaming state (streaming/dedup_stream.py) is grow-only and
epoch-partitioned: every micro-batch appends `epoch=N` directories to the
band index, feature table, substring gram/probe tables, pairs sink, and
label table. Correct and crash-atomic — but after ten thousand epochs a
single `_read_state` fans in ten thousand directories of small files,
and LISTING them (one metadata round-trip per directory on an object
store) starts to dominate the read, exactly the small-file pathology
Iceberg's `rewrite_data_files` exists to fix. This module is that
maintenance action for the parquet state layout: merge all committed
epochs into one compacted BASE table, atomically re-point reads at it,
and delete the merged epoch directories.

Layout after compaction (per state table):

- `<parent>/_base/gen=G/`  the compacted rows of every epoch ≤ upto(G)
                           (underscore-prefixed, so the tail read's
                           partition discovery never sees it)
- `<parent>/_BASE`         the base pointer: JSON `{"gen": G, "upto": E}`
- `<parent>/epoch=N/`      only epochs N > upto(G) remain (the tail)

`_read_state` reads base ∪ tail; the stream keeps appending new epochs
exactly as before — compaction changes WHERE history lives, never what
the view contains.

Crash atomicity (same pointer-last discipline as the epoch commit):

1. write `_base/gen=G+1` with overwrite semantics — a crashed attempt
   leaves a partial gen dir that the next attempt overwrites in place;
   no reader follows a gen the pointer doesn't name
2. swap `_BASE` to `{"gen": G+1, "upto": committed}` (atomic_put: local
   rename / single object-store PUT)
3. delete merged `epoch=N` dirs (N ≤ committed), the previous gen,
   stale snapshot epochs, and lineage manifests below the commit
   pointer — pure garbage collection: reads are pointer-driven and the
   tail filter is `epoch > upto`, so a crash mid-delete leaves ignored
   directories, never a wrong answer; re-running compaction finishes
   the sweep even with nothing new to merge (the already-compacted
   branch still sweeps leftover epoch and gen dirs)

Concurrency contract: run compaction while the stream is STOPPED (or
between `availableNow` drains). It only reads committed state and only
deletes epochs ≤ the commit pointer, so a concurrent epoch N+1 write
cannot be corrupted — but an in-flight batch READING history while
compaction deletes the dirs under it would see task failures mid-job.
Same contract as Iceberg table maintenance.

Snapshot tables need no base: `<index>_sizes` (cumulative bucket counts)
and `<index>_remap` (composed label remap) are full snapshots read only
at `epoch=committed` — compaction deletes their epochs < committed.

Reference analog: fuzzycat rebuilds all state from scratch per run
(`/root/reference/notes/2021_09_review.md:97-101`), so it never faces
this; any long-lived incremental index does.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

BASE_POINTER = "_BASE"


def _base_pointer_path(parent: str) -> str:
    return f"{parent}/{BASE_POINTER}"


def base_pointer(parent: str) -> tuple[int, int] | None:
    """(gen, upto_epoch) of a state table's compacted base, or None if the
    table has never been compacted. One read of one small key. Only a
    missing pointer means never compacted: a pointer that cannot be read
    or parsed raises, since the epochs it covers are gone from the tail."""
    from fuzzycat_spark.plans.checkpoint import read_control

    path = _base_pointer_path(parent)
    raw = read_control(path)
    if raw is None:
        return None
    try:
        d = json.loads(raw)
        return int(d["gen"]), int(d["upto"])
    except (ValueError, KeyError, TypeError):
        raise RuntimeError(
            f"base pointer {path} holds {raw!r}, not a gen/upto record; "
            "refusing to serve a truncated view"
        ) from None


def _write_base_pointer(parent: str, gen: int, upto: int) -> None:
    from fuzzycat_spark.plans.checkpoint import atomic_put

    atomic_put(
        _base_pointer_path(parent), json.dumps({"gen": gen, "upto": upto})
    )


def _list_child_dirs(parent: str) -> list[str]:
    """Child directory basenames of `parent` ([] if the path is absent; a
    listing that fails for any other reason raises)."""
    from pyarrow import fs as pafs

    from fuzzycat_spark.plans.checkpoint import resolve_fs

    fs, p = resolve_fs(parent)
    infos = fs.get_file_info(
        pafs.FileSelector(p, recursive=False, allow_not_found=True)
    )
    return [
        i.base_name for i in infos if i.type == pafs.FileType.Directory
    ]


def _delete_dir(parent: str, child: str) -> bool:
    from fuzzycat_spark.plans.checkpoint import resolve_fs

    try:
        fs, p = resolve_fs(f"{parent}/{child}")
        fs.delete_dir(p)
        return True
    except (OSError, FileNotFoundError):
        return False


def _epoch_dirs(parent: str) -> list[tuple[int, str]]:
    out = []
    for name in _list_child_dirs(parent):
        if name.startswith("epoch="):
            try:
                out.append((int(name.split("=", 1)[1]), name))
            except ValueError:
                continue
    return out


def compact_table(
    spark: SparkSession,
    parent: str,
    committed: int,
    partition_by: tuple[str, ...] = (),
    target_partitions: int | None = None,
) -> dict:
    """Compact one grow-only state table: rewrite base ∪ epochs ≤
    committed as `_base/gen=G+1`, swap the pointer, sweep merged epochs
    and the old gen. Returns a stats record (epochs merged, dirs swept).

    `partition_by` preserves layout the readers prune on (the band index
    is sub-partitioned by band_id). `target_partitions` coalesces the
    write — the whole point is fewer, larger files; default leaves
    Spark's planning alone (AQE already coalesces the union's output).
    """
    from fuzzycat_spark.streaming.dedup_stream import _read_state

    epochs = [(e, name) for e, name in _epoch_dirs(parent) if e <= committed]
    ptr = base_pointer(parent)
    if ptr is None and len(epochs) <= 1:
        # nothing to merge: zero or one epoch and no base — compaction
        # would just copy it
        return {"parent": parent, "skipped": "nothing to merge"}
    if ptr is not None and ptr[1] >= committed:
        # already compacted through the commit pointer; finish whatever
        # a crashed previous sweep left behind — leftover epoch dirs AND
        # stale _base/gen dirs (a crash after the pointer swap but
        # before step 3 leaves the full previous gen on disk) — but
        # don't rewrite
        swept = sum(1 for _, name in epochs if _delete_dir(parent, name))
        gens_swept = sum(
            1
            for g in _list_child_dirs(f"{parent}/_base")
            if g.startswith("gen=")
            and g != f"gen={ptr[0]}"
            and _delete_dir(f"{parent}/_base", g)
        )
        return {
            "parent": parent,
            "skipped": "already compacted through committed",
            "epoch_dirs_swept": swept,
            "gen_dirs_swept": gens_swept,
        }
    view = _read_state(spark, parent, committed)
    if view is None:
        return {"parent": parent, "skipped": "no committed state"}
    gen = 0 if ptr is None else ptr[0] + 1
    if target_partitions is not None:
        view = view.coalesce(target_partitions)
    w = view.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(f"{parent}/_base/gen={gen}")
    _write_base_pointer(parent, gen, committed)
    swept = sum(1 for _, name in epochs if _delete_dir(parent, name))
    for g in _list_child_dirs(f"{parent}/_base"):
        if g.startswith("gen=") and g != f"gen={gen}":
            _delete_dir(f"{parent}/_base", g)
    return {
        "parent": parent,
        "gen": gen,
        "upto": committed,
        "epochs_merged": len(epochs),
        "epoch_dirs_swept": swept,
    }


def _prune_manifests(index_path: str, committed: int) -> int:
    """Per-epoch lineage manifests (`<index>_sizes/_manifest_epoch_N.json`)
    describe epoch dirs this compaction deletes — sweep every manifest
    below the commit pointer (the committed epoch's manifest stays: it is
    the live lineage record matching the kept snapshot tables). Without
    this the _sizes directory re-accumulates one small key per epoch —
    the very listing pathology compaction removes."""
    from pyarrow import fs as pafs

    from fuzzycat_spark.plans.checkpoint import resolve_fs

    parent = index_path + "_sizes"
    try:
        fs, p = resolve_fs(parent)
        infos = fs.get_file_info(pafs.FileSelector(p, recursive=False))
    except (OSError, FileNotFoundError):
        return 0
    pruned = 0
    for i in infos:
        name = i.base_name
        if i.type != pafs.FileType.File:
            continue
        if not (name.startswith("_manifest_epoch_") and name.endswith(".json")):
            continue
        try:
            epoch = int(name[len("_manifest_epoch_"):-len(".json")])
        except ValueError:
            continue
        if epoch < committed:
            try:
                fs.delete_file(f"{p}/{name}")
                pruned += 1
            except (OSError, FileNotFoundError):
                continue
    return pruned


def _prune_snapshots(parent: str, committed: int) -> int:
    """Snapshot tables (sizes, remap): only `epoch=committed` is ever
    read — delete the older epochs outright."""
    return sum(
        1
        for e, name in _epoch_dirs(parent)
        if e < committed and _delete_dir(parent, name)
    )


def compact_state(
    spark: SparkSession,
    index_path: str,
    pairs_path: str,
    target_partitions: int | None = None,
) -> dict:
    """Compact every state table of one incremental-dedup deployment.
    Tables that were never written (substring/labels under configs that
    don't produce them) are skipped. Returns per-table stats."""
    from fuzzycat_spark.streaming.dedup_stream import committed_epoch

    committed = committed_epoch(index_path)
    if committed is None:
        return {"skipped": "no committed epochs"}
    stats: dict = {"committed": committed, "tables": {}}
    grow_tables: tuple[tuple[str, str, tuple[str, ...]], ...] = (
        ("index", index_path, ("band_id",)),
        ("features", index_path + "_features", ()),
        ("ssgrams", index_path + "_ssgrams", ()),
        ("ssmeta", index_path + "_ssmeta", ()),
        ("labels", index_path + "_labels", ()),
        ("pairs", pairs_path, ()),
    )
    for name, parent, part_by in grow_tables:
        if not _epoch_dirs(parent) and base_pointer(parent) is None:
            stats["tables"][name] = {"skipped": "absent"}
            continue
        stats["tables"][name] = compact_table(
            spark, parent, committed, part_by, target_partitions
        )
    stats["tables"]["sizes"] = {
        "snapshots_pruned": _prune_snapshots(index_path + "_sizes", committed),
        "manifests_pruned": _prune_manifests(index_path, committed),
    }
    stats["tables"]["remap"] = {
        "snapshots_pruned": _prune_snapshots(index_path + "_remap", committed)
    }
    return stats
