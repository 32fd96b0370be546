"""Table maintenance: row-level deletes (merge-on-read) and compaction.

The Iceberg maintenance surface for the chunk store: `delete_rows` commits
an equality-delete file (data chunks untouched; readers anti-join the keys),
`compact_store` materializes deletes + rewrites the store into right-sized
chunks under a fresh snapshot lineage, and `rewrite_small_chunks` is the
in-place incremental variant (rewrite_data_files binpack): only fragmented
work units are rewritten, under ONE pid-scoped rewrite commit in the same
lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore


def delete_rows(store_dir: str, keys: DataFrame, key_col: str,
                run_id: str | None = None) -> dict:
    """Merge-on-read delete: commit the key values as a delete file.

    `keys` is a (small) DataFrame holding the key column; only metadata
    plus the key list touch the driver. O(1) in data size — no chunk is
    rewritten; decode anti-joins the keys until compaction materializes
    them.
    """
    import uuid
    store = ChunkStore(store_dir)
    schema_names = store.arrow_schema().names
    if key_col not in schema_names:
        # a typo'd key would commit a delete the readers silently ignore
        # (decode filters delete files to known columns) — the caller
        # would believe rows were deleted while every one stays visible
        raise ValueError(
            f"delete key {key_col!r} is not a column of the store "
            f"(schema: {schema_names})")
    tbl = keys.select(key_col).distinct().toArrow()
    return store.commit_deletes(tbl, key_col, run_id or uuid.uuid4().hex)


def compact_store(spark: SparkSession, store_dir: str, out_dir: str,
                  salt_key: str | None = None,
                  num_pids: int | None = None,
                  sort_by: list[str] | None = None,
                  zorder_by: list[str] | None = None,
                  chunk_rows: int = 65536) -> dict:
    """Materialize deletes and rewrite the table into right-sized chunks
    (Iceberg's rewrite_data_files): decode the live snapshot (deletes
    applied) and encode it into a fresh store. The old store stays intact
    for time travel until the caller swaps/GCs it.

    ``sort_by`` rewrites with a write sort order (Iceberg's sort-strategy
    rewrite): an existing store — e.g. one written by streaming commits
    in arrival order — adopts tight per-chunk zone maps on the given
    columns during the compaction it was already paying for;
    ``zorder_by`` does the same with the Morton multi-column layout
    (Delta/Iceberg OPTIMIZE ZORDER BY) so zone maps prune on any of the
    named columns."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    if ChunkStore(out_dir).current_snapshot() is not None:
        # commit() appends to a parent lineage: compacting INTO an
        # existing store would duplicate every row (and inherit the old
        # delete files) — the contract is a fresh lineage
        raise ValueError(
            f"compact target {out_dir} already holds a committed store; "
            "compact into a fresh directory and swap afterwards")
    live = decode_store(spark, store_dir)
    res = encode_dataframe(live, out_dir, salt_key=salt_key,
                           num_pids=num_pids, resume=False,
                           sort_by=sort_by, zorder_by=zorder_by,
                           chunk_rows=chunk_rows)
    return {"rows": res.rows, "bytes_out": res.bytes_out,
            "chunks": ChunkStore(out_dir).metrics()["chunks"]}


def evolve_schema(store_dir: str, drop: list[str] | None = None,
                  rename: dict[str, str] | None = None,
                  run_id: str | None = None) -> dict:
    """Iceberg schema evolution beyond add-column: RENAME and DROP as a
    metadata-only commit — zero bytes rewritten at any table size.

    - ``rename={"old": "new"}``: the live schema carries the new name;
      chunks written before the rename keep their physical name and are
      resolved through the snapshot's ``column_aliases`` at read time
      (zone-map/bloom pruning included — the manifest view canonicalizes
      names). New appends write the new name. Same-type only.
    - ``drop=["col"]``: the column leaves the live schema; its bytes stay
      in existing chunks (time travel still reads them) and are never
      decoded by live reads. Compaction/rewrite physically sheds them.

    Retired names (dropped or renamed-away) can never be reused — chunks
    still carry them physically, so reuse would make alias resolution
    ambiguous. This is the name-based stand-in for Iceberg's field ids,
    enforced here and at encode time. Dropping the key column of a live
    equality-delete file is rejected (readers could no longer apply the
    delete); compact first.

    Time travel semantics: each snapshot reads with ITS OWN schema and
    aliases, so pre-evolution snapshots see pre-evolution names.
    """
    import uuid as _uuid

    import pyarrow as pa

    store = ChunkStore(store_dir)
    snap = store.current_snapshot()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {store_dir}")
    schema = store.arrow_schema(snap)
    drop = list(drop or [])
    rename = dict(rename or {})
    if not drop and not rename:
        raise ValueError("evolve_schema: nothing to do "
                         "(pass drop= and/or rename=)")
    names = set(schema.names)
    retired = set(snap.get("retired_names", []))
    for c in drop:
        if c not in names:
            raise ValueError(f"cannot drop {c!r}: not a live column "
                             f"(schema: {sorted(names)})")
    for old, new in rename.items():
        if old not in names:
            raise ValueError(f"cannot rename {old!r}: not a live column")
        if old in drop:
            raise ValueError(f"{old!r} is both dropped and renamed")
        if new in names or new in retired \
                or list(rename.values()).count(new) > 1:
            # includes swap attempts ({a: b, b: a}): a physical name may
            # resolve to at most ONE live column, ever
            raise ValueError(
                f"rename target {new!r} collides with a live or retired "
                "column name (names are never reused)")
    # a live delete file whose key is dropped could no longer apply
    aliases = ChunkStore.alias_map(snap)
    _live_of = {o: l for l, olds in aliases.items() for o in olds}
    for d in store.delete_files(snap):
        lk = _live_of.get(d["key"], d["key"])
        if lk in drop:
            raise ValueError(
                f"cannot drop {lk!r}: it is the key of live equality-"
                f"delete file {d['file']} — compact the store first")

    fields, new_aliases = [], dict(aliases)
    for f in schema:
        if f.name in drop:
            # physical names this live column ever had are all retired
            retired.update(new_aliases.pop(f.name, []) + [f.name])
            continue
        if f.name in rename:
            new = rename[f.name]
            new_aliases[new] = new_aliases.pop(f.name, []) + [f.name]
            retired.add(f.name)
            fields.append(pa.field(new, f.type, nullable=f.nullable))
        else:
            fields.append(f)
    new_schema = pa.schema(fields)
    # CAS: the new schema/aliases were DERIVED from `snap` — if another
    # commit lands first (e.g. an append adding a column), committing the
    # stale derivation would silently drop that column from the live
    # schema. expected_parent_id makes the conflict loud instead.
    committed = store.commit([], new_schema,
                             run_id or _uuid.uuid4().hex,
                             new_pids=set(),
                             column_aliases=new_aliases,
                             retired_names=sorted(retired),
                             expected_parent_id=snap["snapshot_id"])
    return {"snapshot": committed["n"], "schema": new_schema.names,
            "dropped": drop, "renamed": rename}


def rewrite_small_chunks(spark: SparkSession, store_dir: str,
                         target_rows: int = 65536,
                         min_avg_frac: float = 0.5,
                         pids: list[int] | None = None,
                         sort_by: list[str] | None = None) -> dict:
    """Iceberg ``rewrite_data_files`` (binpack strategy), IN PLACE:
    coalesce only the FRAGMENTED work units instead of recompacting the
    whole table (`compact_store`) — at corpus scale streaming/CDC commits
    fragment a sliver of pids per batch, and rewriting 10^12 rows to fix
    10^6 is the difference between a maintenance job and a migration.

    Selection: pids whose average chunk is under ``min_avg_frac *
    target_rows`` rows and that hold 2+ chunks (or an explicit ``pids``
    list). Each selected pid's live rows (merge-on-read deletes
    MATERIALIZED, sequence scoping respected per source chunk) are
    re-chunked at ``target_rows`` and committed as a pid-scoped rewrite:
    the snapshot's ``pid_rewrites`` map hides the old rows from every
    earlier manifest — one atomic commit, time travel intact, incremental
    readers skip it (they re-read original appends instead). The rewrite
    runs as ONE Spark job with a task per fragmented pid; nothing
    driver-side scales with data.

    ``sort_by`` re-clusters each pid's rows during the rewrite (the
    binpack+sort combo); default preserves (commit, chunk) order.
    """
    import json as _json
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.compute as pc

    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        ScanPlan, _names_df,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        SUMMARY_SCHEMA, _summary_ddl, write_chunks,
    )

    plan = ScanPlan.resolve(store_dir)
    store, snap = plan.store, plan.snap
    schema = store.arrow_schema(snap)
    m = store.manifest_table(snap)   # live view
    if m.num_rows == 0:
        return {"rewritten_pids": [], "chunks_before": 0, "chunks_after": 0}
    # one row per (pid, chunk FILE): every column of a chunk shares its
    # row count, and a chunk may LACK any particular column (add-column
    # evolution, post-drop appends) — the old reference-column filter
    # (first manifest row's column name) silently omitted such chunks
    # from the rewrite while pid_rewrites hid their rows: row loss
    files_t = m.group_by(["pid", "chunk_file"]).aggregate(
        [("rows", "max"), ("commit_n", "max")])
    gb = files_t.group_by("pid").aggregate([("rows_max", "sum"),
                                            ("chunk_file", "count")])
    wanted = None if pids is None else {int(p) for p in pids}
    cand: list[int] = []
    for pid, rows_, nchunks in zip(gb.column("pid").to_pylist(),
                                   gb.column("rows_max_sum").to_pylist(),
                                   gb.column("chunk_file_count").to_pylist()):
        if wanted is not None:
            if pid in wanted:
                cand.append(int(pid))
        elif nchunks >= 2 and rows_ / nchunks < min_avg_frac * target_rows:
            cand.append(int(pid))
    chunks_before = files_t.num_rows
    if not cand:
        return {"rewritten_pids": [], "chunks_before": chunks_before,
                "chunks_after": chunks_before}

    # (pid -> ordered [(chunk_file, commit_n)]) from the live manifest view
    want = files_t.filter(pc.is_in(files_t.column("pid"),
                                   value_set=pa.array(sorted(cand),
                                                      type=pa.int32())))
    per_pid: dict[int, list[tuple[str, int]]] = {}
    for pid, f, n in zip(want.column("pid").to_pylist(),
                         want.column("chunk_file").to_pylist(),
                         want.column("commit_n_max").to_pylist()):
        per_pid.setdefault(int(pid), []).append((f, int(n)))
    for v in per_pid.values():
        v.sort(key=lambda t: (t[1], t[0]))

    run_id = uuid.uuid4().hex
    chunks_dir, manifests_dir = store.chunks_dir, store.manifests_dir

    def pid_tables(batches):
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            read_chunk_table,
        )
        for b in batches:
            for work in b.column("work").to_pylist():
                pid, files = _json.loads(work)
                # alias-aware read into the nullable live schema:
                # pre-rename chunks decode their retired names (the
                # rewrite physically migrates them to live names) and
                # pre-add-column chunks null-fill. Scoped deletes are
                # MATERIALIZED: the rewritten chunks carry this commit's
                # n, which exempts them from older deletes
                tbl = pa.concat_tables([
                    read_chunk_table(os.path.join(chunks_dir, fname),
                                     plan.schema, plan.aliases,
                                     deletes=plan.deletes_for(n_f))
                    for fname, n_f in files])
                if sort_by:
                    tbl = tbl.sort_by([(c, "ascending") for c in sort_by])
                for batch in tbl.to_batches():
                    yield pid, batch

    def task(batches):
        # rows-only budget: every rewritten chunk but a pid's last holds
        # exactly target_rows
        yield from write_chunks(
            pid_tables(batches), chunks_dir=chunks_dir,
            manifests_dir=manifests_dir, run_id=run_id,
            chunk_rows=target_rows, chunk_bytes=1 << 62)

    work = [_json.dumps([p, fs]) for p, fs in sorted(per_pid.items())]
    summaries = _names_df(spark, work, "work").mapInArrow(
        task, _summary_ddl()).toArrow().cast(SUMMARY_SCHEMA)
    shard_files = sorted(set(summaries.column("shard_file").to_pylist()))
    # CAS: the rewrite read its file plan (and materialized deletes) from
    # `snap` — rows appended or deleted for a selected pid while the
    # Spark job ran would be hidden by pid_rewrites without having been
    # rewritten (row loss / delete resurrection). A moved head fails the
    # commit loudly; the orphaned rewrite chunks are GC-able.
    store.commit(shard_files, schema, run_id,
                 new_pids=set(cand), rewrite_pids=set(cand),
                 expected_parent_id=snap["snapshot_id"])
    after = store.manifest_table()
    chunks_after = len(pc.unique(after.column("chunk_file")))
    return {"rewritten_pids": sorted(cand),
            "chunks_before": chunks_before,
            "chunks_after": chunks_after}
