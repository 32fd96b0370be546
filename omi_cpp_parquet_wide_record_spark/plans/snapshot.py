"""Iceberg-style chunk store: manifests + snapshots + atomic commit.

The store replaces the reference's single output Parquet file (converter ctor
+ close, ref NQ:3385-3398/3772-3774) with a resumable table of compressed
column chunks:

    <root>/chunks/chunk-p<pid>-s<seq>-<tag>.owrc     column payloads + footer
    <root>/manifests/manifest-shard-*.parquet        one row per column chunk,
                                                     one shard per write task
    <root>/deletes/delete-<n>-*.parquet              equality-delete keys
    <root>/snapshots/snapshot-<n>.json               manifest list + lineage
    <root>/_current                                  name of live snapshot
    <root>/refs.json                                 tags and branch heads
    <root>/_commit.lock                              writer lock (transient)

Commit protocol (Iceberg-flavored): writers serialize on ``_commit.lock``
and every metadata change - append, delete, evolve, rollback, branch
commit - publishes through one step, ``ChunkStore._publish``: write
snapshot-<n>.json (tmp + rename), then advance the branch ref or
atomically rename a new _current pointer into place (``fast_forward``
flips _current to an existing snapshot). A crash before the flip leaves the
previous snapshot live and the new files orphaned (ignored by readers,
removable by GC). Resume = the set of committed partition ids in the
live snapshot; the encode job anti-joins its work units against it
(SURVEY.md §2.2).

Manifest shard reads are cached per process (``read_shard``): every read
of a store re-reads the same immutable shards, so the driver's planning,
each Python worker's distributed planning, GC and ``metadata_table`` take a
shard's parquet read from memory after the first. The same cache
(``cached``) holds the pruning index of each live manifest view, keyed by
``ChunkStore.view_key``, and each parsed chunk footer. A shard or footer
entry is keyed by its file's path and identity (inode, size, mtime), so a
store deleted and re-created at the same path, or a file rewritten in
place, is read again. The cache holds at most ``SHARD_CACHE_BYTES`` and
evicts the least recently used entries first.

No Iceberg runtime jar exists in this sandbox (verified); the snapshot JSON
convention keeps identical semantics and would swap for Iceberg REPLACE
commits on a real deployment.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from collections import OrderedDict

import pyarrow as pa
import pyarrow.parquet as pq

from omi_cpp_parquet_wide_record_spark.version import (
    engine_fingerprint as _engine_fingerprint,
)

MANIFEST_SCHEMA = pa.schema([
    ("chunk_file", pa.string()),
    ("pid", pa.int32()),          # resume/partition unit
    ("seq", pa.int32()),          # chunk sequence within pid
    ("column", pa.string()),
    ("codec", pa.string()),
    ("params", pa.string()),      # JSON
    ("rows", pa.int64()),
    ("nulls", pa.int64()),
    ("bytes_in", pa.int64()),     # plain-equivalent input bytes
    ("bytes_out", pa.int64()),
    ("offset", pa.int64()),
    ("length", pa.int64()),
    ("sha256", pa.string()),
    ("run_id", pa.string()),
    # zone maps: JSON-encoded min/max of the chunk's non-null values
    # (Iceberg's lower_bounds/upper_bounds) — readers prune whole chunk
    # files whose stats cannot satisfy a predicate
    ("stat_min", pa.string()),
    ("stat_max", pa.string()),
    # per-chunk Bloom filter over bytes-like columns (Iceberg's
    # bloom-filter metadata): base64 bitset for equality pruning where
    # min/max ranges are too wide to help (high-cardinality urls).
    # Nullable — older manifests pad, non-eligible columns stay null.
    ("bloom", pa.string()),
])

# the live manifest view (``ChunkStore.shard_view``): MANIFEST_SCHEMA plus
# each row's manifest commit number, which scopes sequence-scoped deletes
LIVE_MANIFEST_SCHEMA = MANIFEST_SCHEMA.append(pa.field("commit_n", pa.int32()))


# Bytes of metadata the process-wide cache (``cached``) keeps: manifest
# shard tables (``read_shard``), pruning indexes of live manifest views
# (``operators.decode.view_index``) and parsed chunk footers
# (``operators.decode.chunk_footer``). A shard holds one row per chunk
# column, at most ~2 KB of Arrow each (params JSON, zone maps, and a 1.4 KB
# base64 bloom on byte columns); an index and a footer take about as much
# per chunk column again. The benchmark stores' 120-540 manifest rows take
# a few MiB in all, and 32 MiB holds at least 5k chunk columns of each.
SHARD_CACHE_BYTES = 32 << 20

_SHARDS: OrderedDict = OrderedDict()     # key -> value, oldest use first
_SHARDS_LOCK = threading.Lock()
_shards_bytes = 0


def cached(key: tuple, build):
    """``build()``'s value under ``key`` in the process-wide LRU cache of
    immutable metadata, built on a miss. A value reports its size as
    ``nbytes``; the cache holds at most ``SHARD_CACHE_BYTES`` and evicts
    the least recently used values first (a value larger than the bound
    is returned but not kept). Keys start with a file identity
    (``file_key``) or a tag naming what they cache."""
    global _shards_bytes
    with _SHARDS_LOCK:
        v = _SHARDS.get(key)
        if v is not None:
            _SHARDS.move_to_end(key)
            return v
    v = build()
    with _SHARDS_LOCK:
        if key not in _SHARDS:
            _SHARDS[key] = v
            _shards_bytes += v.nbytes
        while _shards_bytes > SHARD_CACHE_BYTES:
            _shards_bytes -= _SHARDS.popitem(last=False)[1].nbytes
    return v


def file_key(path: str) -> tuple:
    """(absolute path, inode, size, mtime in ns) of the file at ``path``:
    the cache key of what is parsed from it. Files the store writes are
    written once under unique names, so the key only has to catch a store
    re-created at the same path and a file replaced or truncated in
    place; a same-size rewrite of the same inode within one mtime tick of
    the filesystem is the one change it cannot see."""
    st = os.stat(path)
    return (os.path.abspath(path), st.st_ino, st.st_size, st.st_mtime_ns)


def read_shard(path: str) -> pa.Table:
    """The parquet table of the manifest shard at ``path``, from the
    metadata cache when the file is unchanged since it was read."""
    return cached(file_key(path), lambda: pq.read_table(path))


# lineage fields ``_publish`` stamps on every snapshot; the rest is content
_HEADER = ("n", "snapshot_id", "parent_id", "created_ms", "run_id")


def _snapshot_name(n: int) -> str:
    return f"snapshot-{n:05d}.json"


def _snapshot_n(name: str) -> int:
    """Commit number of a snapshot file name (-1 for foreign files) —
    numeric, because the 05d padding overflows past 99999 commits."""
    try:
        return int(name.split("-")[1].split(".")[0])
    except (IndexError, ValueError):
        return -1


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the table head moved between the
    snapshot a commit was derived from and the commit itself (Iceberg's
    validation failure). Re-derive and retry."""


class ChunkStore:
    def __init__(self, root: str):
        self.root = root
        self.chunks_dir = os.path.join(root, "chunks")
        self.manifests_dir = os.path.join(root, "manifests")
        self.snapshots_dir = os.path.join(root, "snapshots")
        self.deletes_dir = os.path.join(root, "deletes")
        self.current_path = os.path.join(root, "_current")
        self.refs_path = os.path.join(root, "refs.json")

    def create(self) -> "ChunkStore":
        for d in (self.chunks_dir, self.manifests_dir, self.snapshots_dir,
                  self.deletes_dir):
            os.makedirs(d, exist_ok=True)
        return self

    # ------------------------------------------------------------- reading

    def current_name(self) -> str | None:
        """File name of the live snapshot (what `_current` holds)."""
        if not os.path.exists(self.current_path):
            return None
        with open(self.current_path) as f:
            return f.read().strip()

    def current_snapshot(self) -> dict | None:
        name = self.current_name()
        if name is None:
            return None
        with open(os.path.join(self.snapshots_dir, name)) as f:
            return json.load(f)

    def snapshot_at(self, n: int) -> dict:
        """Time travel: load committed snapshot #n (Iceberg's
        snapshot-id / as-of read). Raises if expired or never committed."""
        path = os.path.join(self.snapshots_dir, _snapshot_name(n))
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"snapshot {n} not found under {self.snapshots_dir} "
                "(expired by GC or never committed)")
        with open(path) as f:
            return json.load(f)

    # ------------------------------------------------------- refs (tags)

    def refs(self) -> dict:
        """Named snapshot refs (Iceberg table refs):
        {"tags": {name: n}, "branches": {name: n}}. Tags are immutable
        pointers into history; branches are mutable heads that advance
        with branch commits (the write-audit-publish staging lane). GC
        retains ref'd snapshots (and everything they reference)
        regardless of keep_last."""
        if not os.path.exists(self.refs_path):
            return {"tags": {}, "branches": {}}
        with open(self.refs_path) as f:
            out = json.load(f)
        out.setdefault("tags", {})
        out.setdefault("branches", {})
        return out

    def _write_refs(self, refs: dict) -> None:
        tmp = self.refs_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(refs, f)
        os.replace(tmp, self.refs_path)

    def _commit_lock(self, timeout_s: float = 120.0,
                     stale_s: float = 600.0):
        """Exclusive lock over the metadata critical section (parent
        read -> snapshot/refs write -> pointer flip). Two concurrent
        commits previously raced read-modify-write on `_current`/
        `refs.json` — the loser's commit silently vanished from the
        lineage. O_CREAT|O_EXCL on a lock file serializes writers on a
        POSIX filesystem (commits are metadata-fast, so contention is
        milliseconds); a holder that crashed is broken after
        ``stale_s`` via the lock file's mtime. On an object store this
        slot is where a catalog's atomic compare-and-swap goes —
        exactly Iceberg's commit protocol."""
        from contextlib import contextmanager

        @contextmanager
        def _lock():
            path = os.path.join(self.root, "_commit.lock")
            deadline = time.time() + timeout_s
            token = f"{os.getpid()}-{uuid.uuid4().hex}"
            while True:
                try:
                    fd = os.open(path,
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    os.write(fd, token.encode())
                    os.close(fd)
                    break
                except FileExistsError:
                    try:
                        if time.time() - os.path.getmtime(path) > stale_s:
                            # break a crashed holder by RENAME, not
                            # remove: two waiters both judging the lock
                            # stale race their breaks, and a remove
                            # could delete the lock a faster waiter
                            # already re-acquired (double-holder); only
                            # ONE rename of the same source succeeds,
                            # the loser gets ENOENT and loops. The
                            # winner alone owns the renamed file.
                            stale = path + f".stale.{uuid.uuid4().hex[:8]}"
                            os.rename(path, stale)
                            os.remove(stale)
                            continue
                    except OSError:
                        continue                # vanished: retry acquire
                    if time.time() > deadline:
                        raise TimeoutError(
                            f"commit lock at {path} held for over "
                            f"{timeout_s}s — concurrent writer stuck?")
                    time.sleep(0.02)
            try:
                yield
            finally:
                # release only OUR lock: if this holder overran stale_s
                # and a waiter broke+reacquired, the file now carries a
                # different token — removing it would unseat the new
                # holder (double-holder)
                try:
                    with open(path) as f:
                        if f.read() == token:
                            os.remove(path)
                except OSError:
                    pass
        return _lock()

    def create_tag(self, name: str, snapshot: int | None = None) -> dict:
        """Tag a committed snapshot (default: the live one). Rejects
        duplicates — retag by removing first (tags are immutable)."""
        snap = self.snapshot_at(snapshot) if snapshot is not None \
            else self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under "
                                    f"{self.root}")
        with self._commit_lock():
            refs = self.refs()
            if name in refs["tags"]:
                raise ValueError(f"tag {name!r} already exists "
                                 f"(at snapshot {refs['tags'][name]})")
            self._check_ref_name(name, "tag")
            refs["tags"][name] = int(snap["n"])
            self._write_refs(refs)
        return {"tag": name, "snapshot": int(snap["n"])}

    def _check_ref_name(self, name: str, kind: str) -> None:
        """Ref names are path-safe, and 'main', tags and branches share
        one namespace (checked under the commit lock)."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name or ""):
            raise ValueError(f"invalid {kind} name {name!r} "
                             "(use letters, digits, . _ -)")
        others = "branches" if kind == "tag" else "tags"
        if name == "main" or name in self.refs()[others]:
            raise ValueError(f"{kind} name {name!r} collides with 'main' "
                             f"or existing {others}")

    def remove_tag(self, name: str) -> dict:
        with self._commit_lock():
            refs = self.refs()
            if name not in refs["tags"]:
                raise KeyError(f"no tag {name!r} "
                               f"(tags: {sorted(refs['tags'])})")
            n = refs["tags"].pop(name)
            self._write_refs(refs)
        return {"tag": name, "snapshot": int(n)}

    def resolve_ref(self, ref: str) -> dict:
        """Snapshot a ref name points at (branch or tag lookup; 'main'
        is the live snapshot). Branches shadow tags on a name clash
        (creation rejects clashes, so only pre-existing stores hit
        this)."""
        if ref == "main":
            snap = self.current_snapshot()
            if snap is None:
                raise FileNotFoundError(
                    f"no committed snapshot under {self.root}")
            return snap
        refs = self.refs()
        if ref in refs["branches"]:
            return self.snapshot_at(int(refs["branches"][ref]))
        if ref not in refs["tags"]:
            raise KeyError(
                f"no ref {ref!r} (tags: {sorted(refs['tags'])}, "
                f"branches: {sorted(refs['branches'])})")
        return self.snapshot_at(int(refs["tags"][ref]))

    def branch_head(self, branch: str) -> dict | None:
        """The snapshot a branch currently points at, or — before the
        branch's first commit — the fork point (the live main snapshot),
        or None on an empty store."""
        refs = self.refs()
        if branch in refs["branches"]:
            return self.snapshot_at(int(refs["branches"][branch]))
        return self.current_snapshot()

    def _snapshot_names(self) -> list[str]:
        """Snapshot file names, oldest commit first (numeric order)."""
        if not os.path.isdir(self.snapshots_dir):
            return []
        return sorted(os.listdir(self.snapshots_dir),
                      key=lambda name: (_snapshot_n(name), name))

    def _next_n(self) -> int:
        """Globally unique next commit number: branch commits and main
        commits share one n sequence (snapshot filenames embed n), so
        the next n is max-over-all-snapshots + 1, not parent.n + 1."""
        names = self._snapshot_names()
        return _snapshot_n(names[-1]) + 1 if names else 0

    def fast_forward(self, branch: str) -> dict:
        """Publish a branch (Iceberg fast_forward / the P of
        write-audit-publish): flip `_current` to the branch head in one
        atomic pointer swap — every row staged on the branch becomes
        visible to main readers at once, or not at all. Requires the
        current main head to be an ancestor of the branch head (walked
        over parent_id), so a fast-forward can never silently discard
        main commits that landed after the fork."""
        with self._commit_lock():
            refs = self.refs()
            if branch not in refs["branches"]:
                raise KeyError(f"no branch {branch!r} "
                               f"(branches: {sorted(refs['branches'])})")
            head_n = int(refs["branches"][branch])
            head = self.snapshot_at(head_n)
            cur = self.current_snapshot()
            if cur is not None:
                # one snapshots() load, dict-walked — the per-ancestor
                # re-scan was O(chain x snapshots) file reads under the lock
                by_id = {s["snapshot_id"]: s for s in self.snapshots()
                         if "snapshot_id" in s}
                ids = set()
                walk: dict | None = head
                while walk is not None:
                    ids.add(walk["snapshot_id"])
                    walk = by_id.get(walk.get("parent_id"))
                if cur["snapshot_id"] not in ids:
                    raise ValueError(
                        f"cannot fast-forward: main head {cur['n']} is not "
                        f"an ancestor of branch {branch!r} head {head_n} — "
                        "main advanced since the fork; re-stage the branch")
            self._set_current(_snapshot_name(head_n))
        return {"branch": branch, "published": head_n}

    def drop_branch(self, branch: str) -> dict:
        with self._commit_lock():
            refs = self.refs()
            if branch not in refs["branches"]:
                raise KeyError(f"no branch {branch!r} "
                               f"(branches: {sorted(refs['branches'])})")
            n = refs["branches"].pop(branch)
            self._write_refs(refs)
        return {"branch": branch, "snapshot": int(n)}

    def rollback_to(self, snapshot: int, run_id: str | None = None) -> dict:
        """Iceberg rollback: commit a NEW snapshot whose content is
        exactly snapshot #``snapshot``'s — manifests, deletes, schema,
        aliases, rewrite state all restored — under a fresh commit
        number. History is preserved: the undone snapshots stay readable
        by time travel until GC expires them, and the rollback itself is
        one atomic pointer flip."""
        with self._commit_lock():
            target = self.snapshot_at(int(snapshot))
            head = self.current_snapshot()
            if head is None:
                raise FileNotFoundError(f"no committed snapshot under "
                                        f"{self.root}")
            body = {k: v for k, v in target.items() if k not in _HEADER}
            body["rollback_of"] = int(snapshot)
            return self._publish(self._next_n(), head,
                                 run_id or uuid.uuid4().hex, body)

    def snapshots(self) -> list[dict]:
        """All retained snapshots, oldest first (the table history)."""
        out = []
        for name in self._snapshot_names():
            with open(os.path.join(self.snapshots_dir, name)) as f:
                out.append(json.load(f))
        return out

    @staticmethod
    def manifest_commit_n(snap: dict, manifest_name: str) -> int:
        """Commit (sequence) number of one manifest in a snapshot — from
        the snapshot's manifest_n record, falling back to the number
        encoded in pre-sharding manifest filenames. The single source of
        truth for delete-scoping epochs (decode_store AND the owrc
        DataSource reader)."""
        man_n = snap.get("manifest_n", {})
        if manifest_name in man_n:
            return int(man_n[manifest_name])
        return int(manifest_name.split("-")[1])

    def committed_pids(self) -> set[int]:
        snap = self.current_snapshot()
        return set(snap["committed_pids"]) if snap else set()

    def committed_run_ids(self, snapshot: dict | None = None) -> set[str]:
        """Every run_id in the live (or given — e.g. a branch head's)
        snapshot's manifest lineage (commits append parent manifests, so
        this covers the whole history) — the epoch-level replay guard
        for streaming encode. Reads ONLY the run_id column of each
        manifest: the streaming sink calls this per micro-batch and a
        full manifest_table() read grew linearly with stream history."""
        snap = snapshot if snapshot is not None \
            else self.current_snapshot()
        if not snap:
            return set()
        out: set[str] = set()
        for m in snap.get("manifests", []):
            t = pq.read_table(os.path.join(self.manifests_dir, m),
                              columns=["run_id"])
            out.update(t.column("run_id").to_pylist())
        return out

    @staticmethod
    def alias_map(snap: dict | None) -> dict[str, list[str]]:
        """Schema-evolution aliases: {live column name: [retired physical
        names, oldest first]}. A chunk written before a rename carries a
        retired name; readers resolve it to the live name. Name reuse is
        blocked at evolve time (``retired_names``), so a physical name
        maps to at most one live column — the poor man's Iceberg field
        id."""
        return {k: list(v)
                for k, v in ((snap or {}).get("column_aliases") or {})
                .items()}

    @staticmethod
    def live_name_of(snap: dict | None, physical: str) -> str:
        """The live column name a physical (chunk/delete-file) column
        resolves to under this snapshot's aliases — itself if never
        renamed."""
        for live, olds in ChunkStore.alias_map(snap).items():
            if physical in olds:
                return live
        return physical

    @staticmethod
    def rewritten_pids_for(snap: dict | None, manifest_name: str
                           ) -> set[int]:
        """Pids whose rows in ``manifest_name`` were superseded by a
        later pid-scoped rewrite in this snapshot's lineage: every pid p
        with pid_rewrites[p] > the manifest's commit number. Readers
        must drop those rows — the rewrite manifest holds their live
        replacement."""
        rw = (snap or {}).get("pid_rewrites") or {}
        if not rw:
            return set()
        n_m = ChunkStore.manifest_commit_n(snap, manifest_name)
        return {int(p) for p, rn in rw.items() if int(rn) > n_m}

    def shard_view(self, snap: dict, manifest_name: str) -> pa.Table:
        """One manifest shard's LIVE rows under ``snap`` — the single
        definition of the live manifest view, shared by driver planning
        (``manifest_table`` concatenates it) and distributed planning (a
        ``mapInArrow`` over shard names calls it per shard):

        - manifests written before the zone-map columns pad with nulls;
        - rows of pids superseded by a later pid-scoped rewrite drop;
        - the shard's commit number rides along as an int32 ``commit_n``
          column for sequence-scoped deletes;
        - retired physical column names canonicalize to live names, so
          pre-rename chunks keep pruning.

        The shard's parquet read comes from ``read_shard``'s cache.
        """
        import pyarrow.compute as pc
        t = read_shard(os.path.join(self.manifests_dir, manifest_name))
        for f in MANIFEST_SCHEMA:
            if f.name not in t.schema.names:
                t = t.append_column(f.name,
                                    pa.nulls(t.num_rows, type=f.type))
        t = t.select(MANIFEST_SCHEMA.names)
        drop_pids = self.rewritten_pids_for(snap, manifest_name)
        if drop_pids:
            t = t.filter(pc.invert(pc.is_in(
                t.column("pid"), value_set=pa.array(
                    sorted(drop_pids), type=t.schema.field("pid").type))))
        t = t.append_column("commit_n", pa.array(
            [self.manifest_commit_n(snap, manifest_name)] * t.num_rows,
            type=pa.int32()))
        aliases = self.alias_map(snap)
        if aliases and t.num_rows:
            col = t.column("column").combine_chunks()
            for live, olds in aliases.items():
                col = pc.if_else(pc.is_in(col, value_set=pa.array(olds)),
                                 pa.scalar(live), col)
            t = t.set_column(t.schema.get_field_index("column"),
                             t.schema.field("column"), col)
        return t

    def view_key(self, snap: dict) -> tuple:
        """The identity of ``snap``'s live manifest view: each manifest
        shard's file identity, commit number and superseded pids, and
        the column aliases, which are everything ``shard_view`` reads.
        Snapshots with equal keys have equal views: a rollback to N
        shares N's key, a ``since_snapshot`` trim does not, and a store
        re-created at the same path has new file identities."""
        return ("view", tuple(
            (file_key(os.path.join(self.manifests_dir, m)),
             self.manifest_commit_n(snap, m),
             tuple(sorted(self.rewritten_pids_for(snap, m))))
            for m in snap.get("manifests", [])), tuple(
            (k, tuple(v)) for k, v in sorted(self.alias_map(snap).items())))

    def manifest_table(self, snapshot: dict | None = None) -> pa.Table:
        """All LIVE manifest rows of a snapshot (default: the live one):
        the ``shard_view`` of every manifest, concatenated — so every
        driver-side consumer (planning, metrics, pruning, GC's
        per-snapshot liveness) sees the post-rewrite, alias-canonical
        view, with each row's ``commit_n`` (LIVE_MANIFEST_SCHEMA)."""
        snap = snapshot or self.current_snapshot()
        tables = [t for m in (snap or {}).get("manifests", [])
                  if (t := self.shard_view(snap, m)).num_rows]
        if tables:
            return pa.concat_tables(tables)
        return LIVE_MANIFEST_SCHEMA.empty_table()

    def arrow_schema(self, snapshot: dict | None = None) -> pa.Schema:
        snap = snapshot or self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot under {self.root}")
        import base64
        return pa.ipc.read_schema(
            pa.py_buffer(base64.b64decode(snap["schema_ipc"])))

    # ------------------------------------------------------------ commit

    def commit(self, shard_files: list[str],
               schema: pa.Schema | None,
               run_id: str,
               replace: bool = False,
               new_pids: set[int] | None = None,
               add_delete: tuple[pa.Table, str] | None = None,
               rewrite_pids: set[int] | None = None,
               column_aliases: dict[str, list[str]] | None = None,
               retired_names: list[str] | None = None,
               branch: str | None = None,
               expected_parent_id: str | None = None) -> dict:
        """Append manifest shards and flip the snapshot pointer atomically.

        ``shard_files`` are manifest SHARD file names already written into
        ``manifests_dir`` (by ``operators.encode.write_chunks``, the one
        manifest writer): chunk-level manifest rows scale with the data
        (one row per chunk column — tens of millions at corpus scale), so
        they must never be collected to the driver; only the shard NAMES
        (one per task) and the pid-level rollup (``new_pids``, required)
        reach the commit.

        ``schema=None`` keeps the parent's schema (``commit_deletes``
        uses it); it is resolved under the lock, so a concurrent schema
        evolution is never undone.

        ``replace=True`` is the Iceberg REPLACE commit: the new snapshot
        references only these shards (prior data, deletes, and pids drop
        out of the live view but stay readable via time travel until GC).

        ``add_delete=(keys, key_col)`` commits an equality-delete file IN
        THE SAME snapshot as the appended shards (the MERGE/upsert
        shape): the delete is sequence-scoped at this commit's n, so it
        anti-joins only data from manifests committed BEFORE it — the
        rows appended here are exempt. One atomic pointer flip gives
        replace-by-key semantics with no intermediate deleted-but-not-
        replaced state ever visible to readers.

        ``rewrite_pids`` marks this commit as a pid-scoped REWRITE
        (Iceberg rewrite_data_files): the committed shards hold the
        compacted replacement for those work units, and the snapshot's
        ``pid_rewrites`` map records {pid: this n} so readers drop each
        rewritten pid's rows from every manifest committed BEFORE this
        one — the same sequence-scoping deletes use, at pid granularity.
        This commit's manifests are also recorded in
        ``rewrite_manifests`` so INCREMENTAL readers (since_snapshot)
        skip them: a rewrite reorganizes bytes, it appends no logical
        rows (Iceberg's incremental scans skip replace snapshots the
        same way).

        ``column_aliases`` / ``retired_names`` replace the carried-forward
        schema-evolution state (set by ``evolve_schema`` when a commit
        renames or drops columns); by default both carry over from the
        parent unchanged.

        ``branch="name"`` stages the commit on a branch (Iceberg
        write-audit-publish): the parent is the branch head (or the
        current main snapshot at the fork), and the commit advances the
        branch ref instead of `_current` — main readers see nothing
        until ``fast_forward`` publishes the branch in one atomic
        pointer flip.

        The whole parent-read -> write -> pointer-flip section runs
        under the store's commit lock (see ``_commit_lock``), so
        concurrent writers serialize instead of silently losing the
        race on `_current`/`refs.json`.

        ``expected_parent_id`` is the optimistic-concurrency check
        (Iceberg's commit CAS): the caller derived this commit's
        content from a snapshot read BEFORE the lock — schema
        evolution from the head schema, a pid rewrite from a planned
        file set — and a head that moved in between would make that
        derivation stale (lost columns, lost rows). On mismatch the
        commit raises ``CommitConflict`` instead of clobbering.
        """
        import base64
        self.create()
        with self._commit_lock():
            if branch is not None:
                self._check_ref_name(branch, "branch")
                parent = self.branch_head(branch)
            else:
                parent = self.current_snapshot()
            if expected_parent_id is not None and (
                    parent is None
                    or parent.get("snapshot_id") != expected_parent_id):
                raise CommitConflict(
                    f"head moved since this commit was derived (expected "
                    f"parent {expected_parent_id}, found "
                    f"{parent.get('snapshot_id') if parent else None}) — "
                    "re-derive against the new head and retry")
            if schema is None and parent is None:
                raise FileNotFoundError(
                    f"no committed snapshot under {self.root} to take "
                    "the schema from")
            # retired-name guard UNDER the lock (ADVICE r5): writers check
            # it against the head they read before the lock, but a
            # concurrent evolve can retire a name in between — re-validate
            # against the true parent here, for every commit path. Evolve
            # commits pass their own alias/retired sets and are exempt
            # (their schema is derived from the head under their own CAS).
            if (parent is not None and not replace and schema is not None
                    and retired_names is None and column_aliases is None):
                bad = set(parent.get("retired_names", [])) & set(schema.names)
                if bad:
                    raise CommitConflict(
                        f"column name(s) {sorted(bad)} were retired by a "
                        "concurrent schema evolution and cannot be reused; "
                        "pick a fresh name")
            if new_pids is None:
                raise ValueError("commit needs new_pids")
            n = self._next_n()
            mnames = list(shard_files)
            new_pids = set(int(p) for p in new_pids)
            base = parent if parent is not None and not replace else {}
            delete_files = list(base.get("delete_files", []))
            if add_delete is not None:
                keys, key_col = add_delete
                dname = f"delete-{n:05d}-{uuid.uuid4().hex[:8]}.parquet"
                pq.write_table(keys, os.path.join(self.deletes_dir, dname))
                # "n" scopes the delete (Iceberg sequence numbers): it
                # applies only to data from manifests committed BEFORE
                # this snapshot, so a re-inserted key stays visible
                delete_files.append({"file": dname, "key": key_col, "n": n})
            body = {
                "manifests": base.get("manifests", []) + mnames,
                # commit number per manifest (Iceberg sequence number) —
                # the delete-scoping reader needs it, and shard filenames
                # written executor-side cannot encode a number the driver
                # only assigns at commit time
                "manifest_n": {**base.get("manifest_n", {}),
                               **{m: n for m in mnames}},
                "committed_pids": sorted(
                    set(base.get("committed_pids", [])) | new_pids),
                "delete_files": delete_files,
                # pid-scoped rewrite epochs (JSON keys are strings) + the
                # manifests incremental readers must skip
                "pid_rewrites": {**base.get("pid_rewrites", {}),
                                 **{str(p): n for p in rewrite_pids or ()}},
                "rewrite_manifests": base.get("rewrite_manifests", [])
                + (mnames if rewrite_pids else []),
                # schema-evolution state: live-name -> retired physical
                # names, and every name ever renamed-away or dropped
                "column_aliases": base.get("column_aliases", {})
                if column_aliases is None else column_aliases,
                "retired_names": base.get("retired_names", [])
                if retired_names is None else retired_names,
                "schema_ipc": parent["schema_ipc"] if schema is None
                else base64.b64encode(schema.serialize().to_pybytes())
                .decode(),
            }
            # no new chunk bytes: the parent's chunks keep their writer's
            # fingerprint
            if not mnames and "engine_fingerprint" in base:
                body["engine_fingerprint"] = base["engine_fingerprint"]
            return self._publish(n, parent, run_id, body, branch)

    def _publish(self, n: int, parent: dict | None, run_id: str,
                 body: dict, branch: str | None = None) -> dict:
        """The one step every snapshot mutation ends in (the caller holds
        the commit lock): stamp the lineage header on ``body``, write
        snapshot-<n>.json (tmp + rename, so a crash never leaves a
        truncated JSON), then advance ``branch``'s ref or flip `_current`.
        A crash before that last step leaves an orphaned snapshot JSON
        that readers never follow and GC removes."""
        snap = {"n": n, "snapshot_id": uuid.uuid4().hex,
                "parent_id": parent["snapshot_id"] if parent else None,
                "created_ms": int(time.time() * 1000), "run_id": run_id,
                **body}
        # content hash of the encode/decode code that wrote the chunks —
        # cached-store reuse checks it against the loaded code so a codec
        # edit can never serve stale bytes
        snap.setdefault("engine_fingerprint", _engine_fingerprint())
        name = _snapshot_name(n)
        path = os.path.join(self.snapshots_dir, name)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, path)
        if branch is None:
            self._set_current(name)
        else:
            # staged commit: advance the branch ref, leave `_current`
            # (and thus every main reader) untouched
            refs = self.refs()
            refs["branches"][branch] = n
            self._write_refs(refs)
        return snap

    def _set_current(self, name: str) -> None:
        """Atomic pointer flip — the only writer of `_current`."""
        tmp = self.current_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(name)
        os.replace(tmp, self.current_path)

    # ----------------------------------------------------------- deletes

    def delete_files(self, snapshot: dict | None = None) -> list[dict]:
        """Live (or given) snapshot's delete files:
        [{"file": name, "key": key_col}, ...]."""
        snap = snapshot or self.current_snapshot()
        return list((snap or {}).get("delete_files", []))

    def commit_deletes(self, keys: pa.Table, key_col: str,
                       run_id: str) -> dict:
        """Merge-on-read row deletes (Iceberg equality-delete files): write
        the key values as a delete file and commit a snapshot that carries
        it; readers anti-join the keys at decode time. Data chunks are
        untouched — compaction can materialize the deletes later. A
        ``commit`` with no manifests that keeps the parent's schema."""
        return self.commit([], None, run_id, new_pids=set(),
                           add_delete=(keys, key_col))

    # ------------------------------------------------------------ stats

    def metrics(self) -> dict:
        """Rollup over the live snapshot's manifest rows."""
        m = self.manifest_table()
        if m.num_rows == 0:
            return {"chunks": 0, "bytes_in": 0, "bytes_out": 0, "ratio": None}
        import pyarrow.compute as pc
        bi = pc.sum(m.column("bytes_in")).as_py()
        bo = pc.sum(m.column("bytes_out")).as_py()
        by_codec = {}
        for codec in pc.unique(m.column("codec")).to_pylist():
            mask = pc.equal(m.column("codec"), codec)
            sub = m.filter(mask)
            by_codec[codec] = {
                "bytes_in": pc.sum(sub.column("bytes_in")).as_py(),
                "bytes_out": pc.sum(sub.column("bytes_out")).as_py(),
                "chunks": sub.num_rows,
            }
        # rows per chunk FILE (max over its column rows — identical by
        # construction), summed: a first-column filter under-counted
        # chunks lacking that column (schema evolution)
        _per_file = m.group_by("chunk_file").aggregate([("rows", "max")])
        return {"chunks": m.num_rows, "pids": len(set(m.column("pid").to_pylist())),
                "rows": pc.sum(_per_file.column("rows_max")).as_py()
                if m.num_rows else 0,
                "bytes_in": bi, "bytes_out": bo,
                "ratio": (bi / bo) if bo else None, "by_codec": by_codec}
