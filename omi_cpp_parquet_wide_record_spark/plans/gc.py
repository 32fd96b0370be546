"""Snapshot expiry + orphan cleanup for the chunk store (Iceberg-style
maintenance: expire_snapshots / remove_orphan_files).

A crashed run leaves chunk files no manifest references (the commit pointer
never flipped); expired snapshots leave manifests no live snapshot
references. Both are safe to delete because readers only ever follow
_current -> snapshot -> manifests -> chunk files.

Concurrency: like Iceberg's remove_orphan_files, orphan deletion honors an
age threshold (``older_than_s``) — an in-flight encode/delete writes its
chunk files, manifest shards, and delete parquet BEFORE the commit flips
the pointer, so a GC racing that window would otherwise delete files the
imminent commit references. The library default is 0 (tests and
single-process callers); the maintain.py CLI defaults to one hour.
"""

from __future__ import annotations

import json
import os
import time

from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
    ChunkStore, _snapshot_name, read_shard,
)


def _load_snapshots(store: ChunkStore) -> tuple[list[tuple[str, dict]],
                                                list[str]]:
    """(parsable snapshots ordered by commit number, unparsable names).

    A crash can no longer leave truncated snapshot JSON (commits write
    tmp+rename), but GC must still not be blocked by debris from older
    stores or foreign files: unparsable snapshots are surfaced so the
    caller can treat non-live ones as dead."""
    good, bad = [], []
    for name in store._snapshot_names():
        try:
            with open(os.path.join(store.snapshots_dir, name)) as f:
                good.append((name, json.load(f)))
        except (json.JSONDecodeError, OSError):
            bad.append(name)
    return good, bad


def _old_enough(path: str, older_than_s: float) -> bool:
    if older_than_s <= 0:
        return True
    try:
        return (time.time() - os.path.getmtime(path)) >= older_than_s
    except OSError:
        return False        # vanished concurrently: nothing to delete


def expire_snapshots(store: ChunkStore, keep_last: int = 1,
                     older_than_s: float = 0) -> dict:
    """Drop all but the newest `keep_last` snapshots plus any manifests and
    chunk files only they referenced. Returns a deletion report.

    Only the METADATA phase (snapshot/refs read through snapshot-JSON
    removal) runs under the store's commit lock: a commit writes
    snapshot-N.json and only then flips `_current`/refs, so an unlocked
    GC racing that window classified the about-to-be-referenced snapshot
    as dead and removed it — leaving the pointer at a missing file.
    Snapshot JSON deletion additionally honors ``older_than_s`` like
    every other artifact class (belt and braces for lock-free callers).
    The file phase (orphan manifests, chunks and delete files) runs after
    the lock is released, so a long orphan scan never blocks commits;
    a commit landing meanwhile only references live manifests or files
    it just wrote, which ``older_than_s`` protects."""
    keep_last = max(int(keep_last), 0)
    with store._commit_lock():
        dead, retained = _expire_snapshot_metadata(store, keep_last,
                                                   older_than_s)
    live_manifests = {m for _, s in retained for m in s["manifests"]}
    removed_manifests = []
    for m in os.listdir(store.manifests_dir):
        p = os.path.join(store.manifests_dir, m)
        if m not in live_manifests and _old_enough(p, older_than_s):
            os.remove(p)
            removed_manifests.append(m)
    orphans = _remove_orphan_chunks(store, retained, older_than_s)
    removed_deletes = _remove_orphan_delete_files(store, retained,
                                                 older_than_s)
    return {"removed_snapshots": dead,
            "removed_manifests": removed_manifests,
            "removed_orphan_chunks": orphans,
            "removed_delete_files": removed_deletes}


def _expire_snapshot_metadata(store: ChunkStore, keep_last: int,
                              older_than_s: float
                              ) -> tuple[list[str], list[tuple[str, dict]]]:
    """Under the commit lock: classify snapshots live/dead, remove the
    dead snapshot JSONs, return (dead names, retained snapshots)."""
    snaps, unparsable = _load_snapshots(store)
    names = [n for n, _ in snaps]
    # the snapshot _current points to is live unconditionally — a crash
    # between snapshot-json write and the pointer flip leaves a
    # newer snapshot file that _current does NOT reference; keep-last must
    # never delete the pointed-to one (ADVICE r1 #3)
    current = store.current_name()
    # tolerate minimal/foreign snapshot JSON (missing ids): such entries
    # simply can't participate in ancestry walks
    by_id = {s["snapshot_id"]: (name, s) for name, s in snaps
             if "snapshot_id" in s}
    by_n = {s["n"]: (name, s) for name, s in snaps if "n" in s}
    by_name = dict(snaps)
    # keep_last counts MAIN-LINEAGE snapshots (the parent chain from
    # `_current`), not the interleaved global n sequence: branch-staged
    # snapshots share the global numbering, so "newest K by n" could be
    # all branch commits — expiring the main history the operator asked
    # to keep for time travel
    main_chain: list[str] = []
    walk = (current, by_name.get(current)) if current in by_name else None
    while walk is not None and walk[1] is not None:
        main_chain.append(walk[0])
        walk = by_id.get(walk[1].get("parent_id"))
    if not main_chain:
        # no pointer yet (crash before the first flip) or foreign
        # minimal snapshots: fall back to global newest-K
        main_chain = list(reversed(names))
    live = set(main_chain[:keep_last] if keep_last > 0 else [])
    if current is not None:
        live.add(current)
    # ref'd snapshots are retained unconditionally (Iceberg ref
    # retention): tags are durable handles and branch heads are
    # unpublished staged work — everything they reference must survive
    # keep_last. Branch heads additionally retain their ANCESTOR CHAIN
    # (snapshot JSONs — tiny commit metadata): fast_forward verifies
    # main is an ancestor by walking parent_id, so expiring a mid-chain
    # snapshot would strand a publishable branch.
    refs = store.refs()
    for n in refs.get("tags", {}).values():
        live.add(_snapshot_name(int(n)))
    for n in refs.get("branches", {}).values():
        walk = by_n.get(int(n))
        while walk is not None:
            name, s = walk
            if name == current:
                break       # reached the published lineage (always live)
            # retain the FULL chain — stopping at any other live
            # snapshot could still strand the segment between it and
            # main (e.g. a keep_last-retained mid-branch snapshot)
            live.add(name)
            walk = by_id.get(s.get("parent_id"))
    if current is not None and current in unparsable:
        raise ValueError(
            f"live snapshot {current} is unreadable — refusing to GC a "
            "broken store")
    dead = []
    for n in [n for n in names if n not in live] + unparsable:
        if _old_enough(os.path.join(store.snapshots_dir, n), older_than_s):
            dead.append(n)
    for name in dead:
        os.remove(os.path.join(store.snapshots_dir, name))
    return dead, [(n, s) for n, s in snaps if n in live]


def remove_orphan_chunks(store: ChunkStore,
                         older_than_s: float = 0) -> list[str]:
    """Delete chunk files not referenced by ANY retained snapshot's
    manifests (failed-attempt leftovers; the commit protocol makes them
    invisible). A REPLACE commit drops old manifests from the live view,
    but expire_snapshots(keep_last>1) retains older snapshots whose time
    travel contract still needs their chunk files — so the referenced set
    is the union over every snapshot still on disk, not just _current
    (ADVICE r2 #1)."""
    snaps, _ = _load_snapshots(store)
    return _remove_orphan_chunks(store, snaps, older_than_s)


def _remove_orphan_chunks(store: ChunkStore, snaps: list[tuple[str, dict]],
                          older_than_s: float) -> list[str]:
    # union of UNIQUE manifest names first: retained snapshots share
    # manifests by append, so reading per snapshot was O(S x M) full
    # manifest reads; one (cached, ``read_shard``) read per unique
    # manifest suffices
    manifest_names = {m for _, s in snaps for m in s["manifests"]}
    referenced: set[str] = set()
    for m in manifest_names:
        p = os.path.join(store.manifests_dir, m)
        if not os.path.exists(p):
            continue
        # pid-scoped rewrites: a row is live in a snapshot only until a
        # later rewrite supersedes its pid there. A chunk is referenced
        # iff SOME retained snapshot containing this manifest still
        # serves its pid from it — pids rewritten away in EVERY such
        # snapshot are dead weight the rewrite paid to retire.
        holders = [s for _, s in snaps if m in s["manifests"]]
        dropped_everywhere: set[int] | None = None
        for s in holders:
            d = ChunkStore.rewritten_pids_for(s, m)
            dropped_everywhere = d if dropped_everywhere is None \
                else (dropped_everywhere & d)
        if dropped_everywhere:
            t = read_shard(p)
            import pyarrow.compute as pc
            import pyarrow as pa
            keep = pc.invert(pc.is_in(
                t.column("pid"),
                value_set=pa.array(sorted(dropped_everywhere),
                                   type=t.schema.field("pid").type)))
            referenced.update(
                t.column("chunk_file").filter(keep).to_pylist())
        else:
            referenced.update(read_shard(p).column("chunk_file").to_pylist())
    removed = []
    for f in os.listdir(store.chunks_dir):
        p = os.path.join(store.chunks_dir, f)
        if f not in referenced and _old_enough(p, older_than_s):
            os.remove(p)
            removed.append(f)
    return removed


def _remove_orphan_delete_files(store: ChunkStore,
                                snaps: list[tuple[str, dict]],
                                older_than_s: float) -> list[str]:
    """Delete equality-delete files no retained snapshot references (same
    union-over-retained-snapshots rule as chunks)."""
    referenced = {d["file"] for _, s in snaps
                  for d in s.get("delete_files", [])}
    removed = []
    if os.path.isdir(store.deletes_dir):
        for f in os.listdir(store.deletes_dir):
            p = os.path.join(store.deletes_dir, f)
            if f not in referenced and _old_enough(p, older_than_s):
                os.remove(p)
                removed.append(f)
    return removed
