"""End-to-end engine tests (SURVEY.md §5.2 items 4-5): Spark encode ->
chunk store -> Spark decode -> bit-identical join vs source, size <= the
reference-config golden Parquet, and resumability."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from omi_cpp_parquet_wide_record_spark import fixtures as FX
from omi_cpp_parquet_wide_record_spark.operators import decode as D
from omi_cpp_parquet_wide_record_spark.operators.decode import (
    decode_store, read_chunk_file,
)
from omi_cpp_parquet_wide_record_spark.operators.encode import encode_dataframe
from omi_cpp_parquet_wide_record_spark.operators.verify import verify_roundtrip
from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
    MANIFEST_SCHEMA, ChunkStore,
)

ROWS = 4000


def same_rows(a, b) -> bool:
    """Equal row counts and ``exceptAll`` empty both ways (map columns
    compare as their entry arrays: set operations reject maps)."""
    from pyspark.sql import functions as F

    def comparable(df):
        return df.select([F.map_entries(c).alias(c) if t.startswith("map<")
                          else F.col(c) for c, t in df.dtypes])
    a, b = comparable(a), comparable(b)
    return a.count() == b.count() and a.exceptAll(b).count() == 0 \
        and b.exceptAll(a).count() == 0


def decode_paths(monkeypatch, read) -> list:
    """``read()`` decoded on the driver and as a Spark job: driver
    planning's cut forced above, then below, every read."""
    out = []
    for cut in (1 << 62, -1):
        with monkeypatch.context() as m:
            m.setattr(D, "DRIVER_DECODE_BYTES", cut)
            out.append(read())
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    return FX.web_pages_df(spark, ROWS, partitions=4).cache()


def test_encode_decode_bit_identical(spark, corpus, tmp_path):
    out = str(tmp_path / "store")
    res = encode_dataframe(corpus, out, partition_by=["lang"],
                           salt_key="url", num_pids=16, salt=4,
                           chunk_rows=1000)
    assert res.rows == ROWS
    assert res.ratio > 1.5, res.ratio

    decoded = decode_store(spark, out, check_sha=True)
    v = verify_roundtrip(corpus, decoded, key="url")
    assert v.ok, v

    # column pruning decodes only requested columns
    two = decode_store(spark, out, columns=["url", "lang"])
    assert two.columns == ["url", "lang"]
    assert two.count() == ROWS


def test_size_beats_reference_golden(spark, corpus, tmp_path):
    out = str(tmp_path / "store")
    encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                     num_pids=8, salt=2)
    chunks_dir = os.path.join(out, "chunks")
    chunk_bytes = sum(os.path.getsize(os.path.join(chunks_dir, f))
                      for f in os.listdir(chunks_dir))
    golden = str(tmp_path / "golden.parquet")
    golden_bytes = FX.write_golden_parquet(FX.web_pages_table(ROWS), golden)
    # north rule: total compressed size <= reference-config Parquet output
    assert chunk_bytes <= golden_bytes, (chunk_bytes, golden_bytes)


def test_resume_skips_committed(spark, corpus, tmp_path):
    out = str(tmp_path / "store")
    r1 = encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                          num_pids=12, salt=4)
    assert r1.pids_skipped == 0
    # second run: everything committed -> nothing re-encoded
    r2 = encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                          num_pids=12, salt=4)
    assert r2.pids_encoded == 0
    assert r2.pids_skipped == r1.pids_encoded
    # decode still yields the full corpus exactly once
    assert decode_store(spark, out).count() == ROWS


def test_encode_local_colocation_zero_shuffle(spark, corpus, tmp_path):
    """colocate='local' writes per-(task, pid) chunks with NO repartition —
    the 100 TB path that removes the job's only full-data shuffle. Decode
    must still be bit-identical, pid-level resume must still hold, and the
    physical plan must contain no Exchange."""
    out = str(tmp_path / "store")
    r1 = encode_dataframe(corpus, out, partition_by=["lang"],
                          num_pids=16, salt=1, colocate="local")
    assert r1.rows == ROWS
    v = verify_roundtrip(corpus, decode_store(spark, out, check_sha=True),
                         key="url")
    assert v.ok, v
    # chunks stay single-language (the local grouping preserves
    # partition_by homogeneity without the shuffle)
    store = ChunkStore(out)
    man = store.manifest_table()
    import collections
    rows_per_chunk_col = collections.Counter(
        man.column("chunk_file").to_pylist())
    assert all(c == len(corpus.columns) for c in rows_per_chunk_col.values())
    # resume: a second run over the same corpus encodes nothing
    r2 = encode_dataframe(corpus, out, partition_by=["lang"],
                          num_pids=16, salt=1, colocate="local")
    assert r2.pids_encoded == 0 and r2.pids_skipped == r1.pids_encoded
    assert decode_store(spark, out).count() == ROWS
    # plan check: no Exchange between the scan and the encode projection
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        PID_COL, pid_expr,
    )
    from pyspark.sql import functions as F
    plan = corpus.withColumn(
        PID_COL, pid_expr(["lang"], None, 16, 1)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_sharded_manifest_commit(spark, corpus, tmp_path):
    """Encode tasks keep chunk-level manifest rows executor-side: only
    shard names + a pid rollup reach the driver (the 100 TB commit
    path). The rollup's totals must match the input and the store's
    metrics, and the snapshot must reference one shard per reporting
    task, each carrying its commit number for delete scoping."""
    sh_dir = str(tmp_path / "sharded")
    r_sh = encode_dataframe(corpus, sh_dir, partition_by=["lang"],
                            salt_key="url", num_pids=12, salt=4)
    assert r_sh.rows == ROWS
    m_sh = ChunkStore(sh_dir).metrics()
    assert (m_sh["rows"], m_sh["bytes_in"]) == (r_sh.rows, r_sh.bytes_in)
    snap = ChunkStore(sh_dir).current_snapshot()
    assert len(snap["manifests"]) > 1          # one shard per task
    assert set(snap["manifest_n"]) == set(snap["manifests"])
    v = verify_roundtrip(corpus, decode_store(spark, sh_dir), key="url")
    assert v.ok, v
    # resume works off a sharded commit, including the
    # broadcast anti-join path used when the committed set is too large
    # for isin literals
    from omi_cpp_parquet_wide_record_spark.operators import encode as E
    old = E._ISIN_MAX
    E._ISIN_MAX = 0
    try:
        r2 = encode_dataframe(corpus, sh_dir, partition_by=["lang"],
                              salt_key="url", num_pids=12, salt=4)
    finally:
        E._ISIN_MAX = old
    assert r2.pids_encoded == 0
    assert r2.pids_skipped == r_sh.pids_encoded
    assert decode_store(spark, sh_dir).count() == ROWS


def test_distributed_planning_matches_driver(spark, corpus, tmp_path,
                                            monkeypatch):
    """planning='distributed' reads the manifests as a Spark job — the
    chunk-file list never materializes on the driver (Iceberg-style
    distributed planning for corpus-scale stores). Results must equal
    driver planning exactly: plain scans, numeric zone-pruned filtered
    scans, projections, and sequence-scoped delete branching. Driver
    planning is checked both ways it decodes: on the driver and in a
    Spark job."""
    import datetime
    out = str(tmp_path / "store")
    encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                     num_pids=12, salt=4)
    a = decode_store(spark, out)
    b = decode_store(spark, out, planning="distributed")
    assert a.count() == b.count() == ROWS
    assert a.exceptAll(b).count() == 0
    # numeric (timestamp) filter: distributed zone pruning + residual
    cut = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    fa = decode_store(spark, out, filters=[("warc_ts", ">", cut)])
    fb = decode_store(spark, out, filters=[("warc_ts", ">", cut)],
                      planning="distributed")
    assert fa.count() == fb.count()
    assert fa.exceptAll(fb).count() == 0
    # projection
    pa_ = decode_store(spark, out, columns=["url", "lang"],
                       planning="distributed")
    assert pa_.columns == ["url", "lang"] and pa_.count() == ROWS
    # sequence-scoped deletes: epoch branching must agree across modes
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows,
    )
    victims = corpus.limit(7).select("url")
    delete_rows(out, victims, "url")
    da = decode_store(spark, out)
    db = decode_store(spark, out, planning="distributed")
    assert da.count() == db.count() == ROWS - 7
    assert da.exceptAll(db).count() == 0

    # further inputs: re-inserted keys, a delete keyed on a column renamed
    # afterwards, a pid rewrite and an incremental read across it
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema, rewrite_small_chunks,
    )
    from omi_cpp_parquet_wide_record_spark.operators.metadata import (
        metadata_table,
    )

    def same(**kw):
        a, *rest = decode_paths(
            monkeypatch, lambda: decode_store(spark, out, **kw))
        rest.append(decode_store(spark, out, planning="distributed", **kw))
        for x in rest:
            assert same_rows(a, x), kw
        return a.count()

    n_del = ChunkStore(out).current_snapshot()["n"]
    encode_dataframe(corpus.limit(7), out, partition_by=["lang"],
                     salt_key="url", num_pids=12, salt=4, resume=False)
    assert same() == ROWS
    delete_rows(out, corpus.limit(1).select("text"), "text")
    evolve_schema(out, rename={"text": "body"})
    n_live = same()
    assert n_live < ROWS
    assert rewrite_small_chunks(spark, out)["rewritten_pids"]
    assert same() == n_live
    assert 0 < same(since_snapshot=n_del) < 7
    # the distributed files table is the driver's live manifest view
    rows_of = lambda rows: sorted(map(tuple, rows), key=repr)  # noqa: E731
    assert rows_of(metadata_table(spark, out, "files").collect()) == \
        rows_of(r.values() for r in ChunkStore(out).manifest_table()
                .to_pylist())


def test_small_pruned_reads_decode_on_driver(spark, tmp_path, monkeypatch):
    """A read that pruning cuts to at most ``DRIVER_DECODE_BYTES`` decodes
    in this process, with no Python-worker job: a one-file lookup reads
    its one chunk here, an absent key reads none and still returns the
    full schema, and with the cut forced below every read no chunk
    decodes in this process."""
    from pyspark.sql import functions as F
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 2000).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("url")), out,
        salt_key="id", num_pids=1, chunk_rows=250, sort_by=["id"])
    hit, miss = [("id", "==", 1234)], [("id", "==", 10 ** 9)]
    cut = D.DRIVER_DECODE_BYTES
    plan = D.ScanPlan.resolve(out)
    assert len(plan.kept_files(hit)) == 1 and not plan.kept_files(miss)
    calls = []
    real = D.read_chunk_table

    def counting(path, *a, **kw):
        calls.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(D, "read_chunk_table", counting)
    rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
    assert rows(decode_store(spark, out, filters=hit)) == [(1234, "u1234")]
    assert len(calls) == 1
    calls.clear()
    none = decode_store(spark, out, filters=miss)
    assert rows(none) == [] and not calls
    assert none.dtypes == [("id", "bigint"), ("url", "string")]
    monkeypatch.setattr(D, "DRIVER_DECODE_BYTES", -1)
    assert rows(decode_store(spark, out, filters=hit)) == [(1234, "u1234")]
    assert not calls
    # the whole store is below the cut: bytes_in sums the kept files
    assert 0 < plan.kept_files(None).bytes_in <= cut


def test_fully_deleted_chunk_loses_no_later_rows(spark, tmp_path,
                                                 monkeypatch):
    """A chunk whose every row is deleted reads as a table with no rows,
    and every read path still returns the rows of the chunks after it
    (Spark's createDataFrame of an Arrow table drops the rows that follow
    a zero-length batch)."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 300), out, salt_key="id", num_pids=1,
                     chunk_rows=100, sort_by=["id"])
    encode_dataframe(spark.range(300, 400).select(
        F.col("id"), (F.col("id") * 2).alias("y")), out, salt_key="id",
        num_pids=1, resume=False)
    delete_rows(out, spark.range(100, 200), "id")
    want = [i for i in range(400) if not 100 <= i < 200]
    reads = decode_paths(monkeypatch, lambda: decode_store(spark, out))
    reads.append(decode_store(spark, out, planning="distributed"))
    for df in reads:
        assert df.count() == 300
        assert sorted(r.id for r in df.select("id").collect()) == want


def test_filter_first_read_decodes_only_what_survives(spark, tmp_path,
                                                      monkeypatch):
    """``read_chunk_table`` decodes the filter columns first: a chunk
    with no surviving row decodes nothing else, a chunk with a few
    survivors decodes the other columns for those rows only, and one
    whose rows all survive decodes them whole. ``check_sha`` still
    hashes the payloads a no-survivor read never decodes."""
    import shutil

    from pyspark.sql import functions as F
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 200).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") / 7).alias("v")), out, salt_key="id", num_pids=1,
        chunk_rows=100, sort_by=["id"])
    plan = D.ScanPlan.resolve(out)
    path = os.path.join(plan.store.chunks_dir,
                        sorted(plan.kept_files(None))[0])
    whole = D.read_chunk_table(path, plan.schema)
    lo = min(whole.column("id").to_pylist())
    names = {"int64": "id", "string": "url", "float64": "v"}
    calls = []
    real = D.decode_column

    def counting(payload, params, **kw):
        rows = kw.get("rows")
        calls.append((names[params["atype"]],
                      None if rows is None else list(rows)))
        return real(payload, params, **kw)

    monkeypatch.setattr(D, "decode_column", counting)

    def read(flt, p=path, check_sha=False):
        calls.clear()
        return D.read_chunk_table(p, plan.schema, check_sha=check_sha,
                                  filters=[flt])

    none = read(("id", "<", -1))
    assert none.num_rows == 0 and none.column("url").num_chunks == 0
    assert none.schema == plan.schema and calls == [("id", None)]
    few = read(("id", "in", [lo + 5, lo + 9]))
    assert few.equals(whole.take([5, 9]))
    assert calls == [("id", None), ("url", [5, 9]), ("v", [5, 9])]
    assert read(("id", ">=", lo)).equals(whole)
    assert calls == [("id", None), ("url", None), ("v", None)]
    # a flipped byte in a payload a no-survivor read never decodes
    bad = str(tmp_path / "bad.owrc")
    shutil.copy(path, bad)
    with open(bad, "r+b") as f:
        col = next(c for c in D._chunk_footer(f, bad)["columns"]
                   if c["name"] == "url")
        f.seek(col["offset"] + 1)
        byte = f.read(1)[0]
        f.seek(col["offset"] + 1)
        f.write(bytes([byte ^ 0xFF]))
    assert read(("id", "<", -1), bad).num_rows == 0
    with pytest.raises(ValueError, match="sha256 mismatch for url"):
        read(("id", "<", -1), bad, check_sha=True)


def test_resume_after_partial_commit(spark, corpus, tmp_path):
    """Kill-after-K-commits simulation: commit a manifest for a subset of
    pids, rerun, assert only the missing pids are encoded (SURVEY §5.2.5)."""
    out = str(tmp_path / "store")
    r1 = encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                          num_pids=12, salt=4)
    store = ChunkStore(out)
    full = store.manifest_table()
    all_pids = sorted(set(full.column("pid").to_pylist()))
    keep = all_pids[: len(all_pids) // 2]
    # rebuild the store as if the run died after committing `keep`
    import shutil
    partial_dir = str(tmp_path / "partial")
    shutil.copytree(os.path.join(out, "chunks"),
                    os.path.join(partial_dir, "chunks"))
    pstore = ChunkStore(partial_dir).create()
    mask = pa.compute.is_in(full.column("pid"),
                            value_set=pa.array(keep, type=pa.int32()))
    shard = "manifest-shard-partial.parquet"
    pq.write_table(full.filter(mask).select(MANIFEST_SCHEMA.names),
                   os.path.join(pstore.manifests_dir, shard))
    pstore.commit([shard], store.arrow_schema(), "partial-run",
                  new_pids=set(keep))
    assert pstore.committed_pids() == set(keep)

    r2 = encode_dataframe(corpus, partial_dir, partition_by=["lang"],
                          salt_key="url", num_pids=12, salt=4)
    assert r2.pids_skipped == len(keep)
    assert r2.pids_encoded == len(all_pids) - len(keep)
    decoded = decode_store(spark, partial_dir)
    v = verify_roundtrip(corpus, decoded, key="url")
    assert v.ok, v


def test_chunk_file_self_describing(spark, corpus, tmp_path):
    out = str(tmp_path / "store")
    encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                     num_pids=4, salt=2)
    chunks_dir = os.path.join(out, "chunks")
    fname = sorted(os.listdir(chunks_dir))[0]
    t = read_chunk_file(os.path.join(chunks_dir, fname), check_sha=True)
    assert set(t.schema.names) == {"url", "warc_ts", "html", "text", "lang"}
    assert t.num_rows > 0


def test_salting_spreads_skewed_lang(spark, tmp_path):
    """90%-one-lang corpus (FIXTURES F1 skew variant): the salt bucket in
    the work-unit hash must spread the hot lang over ~salt distinct pids so
    no single task owns 90% of the data (SURVEY §2.2 skew taming)."""
    import pyarrow.compute as pc
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    skewed = FX.web_pages_df(spark, 3000, skew=True, partitions=4)
    out = str(tmp_path / "store")
    encode_dataframe(skewed, out, partition_by=["lang"], salt_key="url",
                     num_pids=32, salt=8)
    m = ChunkStore(out).manifest_table()
    rows_per_pid = {}
    url_rows = m.filter(pc.equal(m.column("column"), "url"))
    for pid, rows in zip(url_rows.column("pid").to_pylist(),
                         url_rows.column("rows").to_pylist()):
        rows_per_pid[pid] = rows_per_pid.get(pid, 0) + rows
    top = max(rows_per_pid.values())
    # hot lang is 90% of 3000; with salt=8 no pid should exceed ~1/8 of it
    assert top < 0.25 * 3000, rows_per_pid
    assert len(rows_per_pid) >= 8


def test_snapshot_time_travel(spark, tmp_path):
    """Iceberg-style as-of read: decode_store(snapshot=N) reproduces the
    table exactly as committed at snapshot N, after later appends."""
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "store")
    corpus = FX.web_pages_df(spark, 2000, partitions=2).persist()
    first = corpus.limit(800)
    encode_dataframe(first, out, salt_key="url", num_pids=4)
    # second commit appends more data as a fresh run
    encode_dataframe(corpus.subtract(first), out, salt_key="url",
                     num_pids=16, resume=False)
    store = ChunkStore(out)
    hist = store.snapshots()
    assert [s["n"] for s in hist] == [0, 1]
    assert decode_store(spark, out).count() > 800          # live = both
    assert decode_store(spark, out, snapshot=0).count() == 800
    urls0 = {r.url for r in
             decode_store(spark, out, snapshot=0).select("url").collect()}
    assert urls0 == {r.url for r in first.select("url").collect()}
    corpus.unpersist()


def test_zone_map_pruning(spark, tmp_path):
    """Predicate pushdown into the store: chunk files whose zone maps
    cannot satisfy the filter are never opened; surviving rows get the
    exact filter, so results equal a post-hoc .filter()."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        decode_store, prune_files,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "store")
    df = (spark.range(0, 20000)
          .select(F.col("id"),
                  (F.col("id") / 2000).cast("long").alias("bucket"),
                  (F.col("id") % 97).alias("v")))
    # clustered by id ranges: partition on the bucket -> tight zone maps
    encode_dataframe(df, out, partition_by=["bucket"], salt_key="id",
                     num_pids=20, salt=1)
    manifest = ChunkStore(out).manifest_table()
    all_files = set(manifest.column("chunk_file").to_pylist())
    pruned = prune_files(manifest, [("id", "<", 3000)])
    assert len(pruned) < len(all_files)          # pruning really happened
    got = decode_store(spark, out, filters=[("id", "<", 3000)])
    assert got.count() == 3000
    assert got.agg(F.max("id")).collect()[0][0] == 2999
    # string zone maps too
    assert sorted(prune_files(manifest, [("id", ">=", 19000)])) \
        != sorted(pruned)


def test_write_sort_order_tightens_zone_maps(spark, tmp_path):
    """sort_by (Iceberg write.sort-order): a task-local sort before
    chunking narrows each chunk's zone-map range on the sort key, so a
    range filter opens ~one chunk per pid instead of every chunk —
    results identical to the unsorted store."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    df = (spark.range(0, 60000)
          .select(F.col("id"),
                  F.pmod(F.col("id") * 7919, F.lit(60000)).alias("k"),
                  (F.col("id") % 5).alias("g")))
    # k is a scrambled permutation of [0, 60000): without a write sort
    # every chunk spans nearly the whole k range. Row count is sized so
    # each pid spans several Arrow batches (~10k rows each) — chunk
    # boundaries come from batch arrival, and only a pre-sorted stream
    # gives consecutive chunks disjoint key ranges.
    kw = dict(partition_by=["g"], salt_key="id", num_pids=5, salt=1,
              chunk_rows=1000)
    unsorted_dir, sorted_dir = str(tmp_path / "u"), str(tmp_path / "s")
    encode_dataframe(df, unsorted_dir, **kw)
    encode_dataframe(df, sorted_dir, sort_by=["k"], **kw)
    flt = [("k", "<", 1000)]
    pu = prune_files(ChunkStore(unsorted_dir).manifest_table(), flt)
    ps = prune_files(ChunkStore(sorted_dir).manifest_table(), flt)
    assert len(ps) < len(pu), (len(ps), len(pu))
    a = decode_store(spark, unsorted_dir, filters=flt)
    b = decode_store(spark, sorted_dir, filters=flt)
    assert a.count() == b.count() == 1000
    assert sorted(r.k for r in a.select("k").collect()) \
        == sorted(r.k for r in b.select("k").collect())


def test_owrc_reader_filter_pushdown(spark, tmp_path):
    """format('owrc') scans prune chunk files from pushed comparison
    filters while Spark still applies the exact predicate."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out = str(tmp_path / "store")
    df = (spark.range(0, 10000)
          .select(F.col("id"),
                  (F.col("id") / 1000).cast("long").alias("bucket")))
    encode_dataframe(df, out, partition_by=["bucket"], salt_key="id",
                     num_pids=10, salt=1)
    spark.dataSource.register(OwrcDataSource)
    scan = spark.read.format("owrc").load(out).filter("id >= 9000")
    assert scan.count() == 1000
    assert scan.agg(F.min("id")).collect()[0][0] == 9000
    # a filter that prunes every chunk file plans no partitions at all
    assert spark.read.format("owrc").load(out).filter(
        "id > 100000").count() == 0
    # isin() pushes as an In filter -> zone/bloom pruning, exact results
    got = (spark.read.format("owrc").load(out)
           .filter(F.col("id").isin(5, 4321, 999999)).collect())
    assert sorted(r.id for r in got) == [5, 4321]


def test_zone_map_prune_everything_and_type_mismatch(spark, tmp_path):
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    out = str(tmp_path / "store")
    df = spark.range(0, 3000).select(F.col("id"),
                                     F.lit("x").alias("s"))
    encode_dataframe(df, out, salt_key="id", num_pids=3)
    # a filter nothing satisfies prunes every chunk -> empty result
    assert decode_store(spark, out, filters=[("id", ">", 10**9)]).count() == 0
    # type-mismatched filter value never prunes (conservative), and the
    # residual exact filter still errors upstream in Spark? no — it is a
    # valid comparison for Spark (casts), so rows just pass through
    got = decode_store(spark, out, filters=[("id", ">=", 0)])
    assert got.count() == 3000


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style add-column evolution: chunks committed before the
    column existed decode as nulls; the live snapshot's schema wins."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    out = str(tmp_path / "store")
    old = spark.range(0, 400).select(F.col("id"),
                                     (F.col("id") * 2).alias("a"))
    encode_dataframe(old, out, salt_key="id", num_pids=4)
    new = spark.range(400, 700).select(
        F.col("id"), (F.col("id") * 2).alias("a"),
        F.concat(F.lit("v"), F.col("id")).alias("b"))
    # an append of NEW data is a fresh run, not a resume (the pid
    # anti-filter is for re-running the SAME input)
    encode_dataframe(new, out, salt_key="id", num_pids=16, resume=False)
    got = decode_store(spark, out)
    assert set(got.columns) == {"id", "a", "b"}
    assert got.count() == 700
    assert got.filter(F.col("b").isNull()).count() == 400   # old rows
    assert got.filter("id = 500").collect()[0].b == "v500"
    # projecting only the added column still reads every old row
    assert decode_store(spark, out, columns=["b"]).count() == 700
    # time travel still returns the OLD schema for the old snapshot
    past = decode_store(spark, out, snapshot=0)
    assert set(past.columns) == {"id", "a"} and past.count() == 400


def test_merge_on_read_deletes_and_compaction(spark, tmp_path):
    """Row-level deletes: an equality-delete file commits in O(1) (no chunk
    rewritten); readers anti-join the keys; time travel still sees the
    pre-delete table; compaction materializes the deletes."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        compact_store, delete_rows,
    )
    out = str(tmp_path / "store")
    df = spark.range(0, 1000).select(F.col("id"),
                                     (F.col("id") % 7).alias("v"))
    encode_dataframe(df, out, salt_key="id", num_pids=4)
    delete_rows(out, spark.range(0, 100).select("id"), "id")
    live = decode_store(spark, out)
    assert live.count() == 900
    assert live.agg(F.min("id")).collect()[0][0] == 100
    # second delete stacks on the first
    delete_rows(out, spark.range(500, 600).select("id"), "id")
    assert decode_store(spark, out).count() == 800
    # time travel to the pre-delete snapshot
    assert decode_store(spark, out, snapshot=0).count() == 1000
    # appending data does not lose the deletes
    encode_dataframe(spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") % 7).alias("v")), out,
        salt_key="id", num_pids=4, resume=False)
    assert decode_store(spark, out).count() == 900
    # compaction materializes: new store has the rows, no delete files
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out2 = str(tmp_path / "compacted")
    rep = compact_store(spark, out, out2, salt_key="id", num_pids=4)
    assert rep["rows"] == 900
    assert ChunkStore(out2).delete_files() == []
    assert decode_store(spark, out2).count() == 900


def test_compact_adopts_sort_order(spark, tmp_path):
    """compact_store(sort_by=...) — Iceberg's sort-strategy rewrite: an
    arrival-ordered store gains tight zone maps on the sort key during
    compaction; contents identical."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        compact_store,
    )
    out = str(tmp_path / "store")
    df = (spark.range(0, 60000)
          .select(F.col("id"),
                  F.pmod(F.col("id") * 7919, F.lit(60000)).alias("k")))
    encode_dataframe(df, out, salt_key="id", num_pids=3, salt=1,
                     chunk_rows=5000)
    out2 = str(tmp_path / "sorted")
    compact_store(spark, out, out2, salt_key="id", num_pids=3,
                  sort_by=["k"], chunk_rows=5000)
    flt = [("k", "<", 2000)]
    pu = prune_files(ChunkStore(out).manifest_table(), flt)
    ps = prune_files(ChunkStore(out2).manifest_table(), flt)
    assert len(ps) < len(pu), (len(ps), len(pu))
    a = decode_store(spark, out, filters=flt)
    b = decode_store(spark, out2, filters=flt)
    assert a.count() == b.count() == 2000
    assert sorted(r.k for r in a.select("k").collect()) \
        == sorted(r.k for r in b.select("k").collect())


def test_sql_over_store_and_corruption_detection(spark, tmp_path):
    """Plain Spark SQL over the store via the owrc view, and the two
    corruption error paths: bad magic and sha mismatch."""
    import glob
    import os
    import pytest
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        read_chunk_file,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out = str(tmp_path / "store")
    df = spark.range(0, 2000).select(F.col("id"), (F.col("id") % 5).alias("v"))
    encode_dataframe(df, out, salt_key="id", num_pids=4)
    spark.dataSource.register(OwrcDataSource)
    spark.read.format("owrc").load(out).createOrReplaceTempView("store_v")
    row = spark.sql(
        "SELECT v, count(*) AS n FROM store_v WHERE id < 1000 "
        "GROUP BY v ORDER BY v").collect()
    assert sum(r.n for r in row) == 1000 and len(row) == 5

    chunk = glob.glob(os.path.join(out, "chunks", "*.owrc"))[0]
    data = bytearray(open(chunk, "rb").read())
    # flip a payload byte: sha check must catch it
    data[0] ^= 0xFF
    bad = str(tmp_path / "bad.owrc")
    open(bad, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="sha256 mismatch"):
        read_chunk_file(bad, check_sha=True)
    # truncate the magic: framing must refuse
    open(bad, "wb").write(bytes(data)[:-3])
    with pytest.raises(ValueError, match="bad chunk magic"):
        read_chunk_file(bad)
    # a length trailer naming a footer longer than the file
    open(bad, "wb").write(bytes(data)[:-9] + (len(data) + 7).to_bytes(
        4, "little") + bytes(data)[-5:])
    with pytest.raises(ValueError, match="footer length .*bad.owrc"):
        read_chunk_file(bad)
    # the flipped byte inside the store: a small read decodes eagerly on
    # the driver, so the typed error raises from the call itself
    open(chunk, "wb").write(bytes(data))
    with pytest.raises(ValueError, match="sha256 mismatch"):
        decode_store(spark, out, check_sha=True)


def test_gc_age_threshold_spares_young_orphans(spark, corpus, tmp_path):
    """older_than_s guards GC against racing an in-flight commit: a just-
    written unreferenced chunk (what a concurrent encode produces before
    its pointer flip) must survive a thresholded GC and die without one."""
    from omi_cpp_parquet_wide_record_spark.plans.gc import (
        remove_orphan_chunks,
    )
    out = str(tmp_path / "store")
    encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                     num_pids=8, salt=2)
    store = ChunkStore(out)
    orphan = os.path.join(store.chunks_dir, "chunk-p99999-s0000-fresh.owrc")
    with open(orphan, "wb") as f:
        f.write(b"in-flight")
    assert remove_orphan_chunks(store, older_than_s=3600) == []
    assert os.path.exists(orphan)
    assert remove_orphan_chunks(store, older_than_s=0) == [
        os.path.basename(orphan)]
    assert not os.path.exists(orphan)
    # keep_last=0 keeps only the _current-pointed snapshot
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    encode_dataframe(corpus.limit(50), out, partition_by=["lang"],
                     salt_key="url", num_pids=8, salt=2, resume=False)
    rep = expire_snapshots(store, keep_last=0)
    assert len(os.listdir(store.snapshots_dir)) == 1
    assert decode_store(spark, out).count() > 0


def test_gc_keeps_time_travel_chunks_after_replace(spark, tmp_path):
    """expire_snapshots(keep_last=2) after a REPLACE commit must keep the
    chunk files the retained OLD snapshot references — GC previously
    computed the referenced set from the live snapshot only, silently
    breaking the time travel keep_last promised (ADVICE r2 #1)."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).alias("v")), out,
        salt_key="id", num_pids=2)
    # REPLACE commit: new snapshot references ONLY the new manifest
    spark.dataSource.register(OwrcDataSource)
    spark.range(1000, 1100).select(F.col("id"), (F.col("id") % 3).alias("v")) \
        .write.format("owrc").mode("overwrite").save(out)
    store = ChunkStore(out)
    assert len(store.snapshots()) == 2
    report = expire_snapshots(store, keep_last=2)
    assert report["removed_snapshots"] == []
    # snapshot 0's data must still decode bit-for-bit (its chunks survived)
    past = decode_store(spark, out, snapshot=0)
    assert past.count() == 300
    assert past.agg(F.max("id")).collect()[0][0] == 299
    assert decode_store(spark, out).count() == 100
    # keep_last=1 then legitimately drops snapshot 0 and its chunks
    report = expire_snapshots(store, keep_last=1)
    assert report["removed_snapshots"] == ["snapshot-00000.json"]
    assert len(report["removed_orphan_chunks"]) > 0
    assert decode_store(spark, out).count() == 100


def test_delete_scoped_to_prior_commits(spark, tmp_path):
    """Equality deletes carry the commit sequence (Iceberg sequence-number
    scoping, ADVICE r2 #2): re-inserting a previously deleted key AFTER the
    delete commit stays visible — the delete applies only to earlier data."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("old"), F.col("id")).alias("s")), out,
        salt_key="id", num_pids=2)
    delete_rows(out, spark.range(0, 10).select("id"), "id")
    assert decode_store(spark, out).count() == 90
    # re-insert ids 0..4 with new content AFTER the delete commit
    encode_dataframe(spark.range(0, 5).select(
        F.col("id"), F.concat(F.lit("new"), F.col("id")).alias("s")), out,
        salt_key="id", num_pids=2, resume=False)
    got = decode_store(spark, out)
    assert got.count() == 95
    re_ins = {r.s for r in got.filter(F.col("id") < 10).collect()}
    assert re_ins == {"new0", "new1", "new2", "new3", "new4"}
    # a LATER delete still removes both old and re-inserted rows
    delete_rows(out, spark.range(0, 10).select("id"), "id")
    assert decode_store(spark, out).count() == 90
    # projection that excludes the key column still applies the delete
    assert decode_store(spark, out, columns=["s"]).count() == 90


def test_null_delete_key_parity_across_read_paths(spark, tmp_path,
                                                  monkeypatch):
    """A null delete key deletes nothing, and a row with a null key is
    never deleted (anti-join semantics) — on every read path: both
    decode_store planning modes (driver planning decoding on the driver
    and in a Spark job), format('owrc'), and a read after
    rewrite_small_chunks materialized the delete."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows, rewrite_small_chunks,
    )
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 20).select(
        F.col("id"),
        F.when(F.col("id") % 5 == 0, F.lit(None))
         .otherwise(F.col("id") % 10).alias("k")), out,
        salt_key="id", num_pids=2, chunk_rows=4)
    delete_rows(out, spark.createDataFrame([(3,), (None,)], "k long"), "k")
    want = [i for i in range(20) if i not in (3, 13)]
    ids = lambda df: sorted(r.id for r in df.collect())  # noqa: E731
    for df in decode_paths(monkeypatch, lambda: decode_store(spark, out)):
        assert ids(df) == want
    assert ids(decode_store(spark, out, planning="distributed")) == want
    spark.dataSource.register(OwrcDataSource)
    assert ids(spark.read.format("owrc").load(out)) == want
    assert rewrite_small_chunks(spark, out)["rewritten_pids"]
    assert ids(decode_store(spark, out)) == want


NAN = float("nan")
T0 = datetime.datetime(2024, 3, 1, 12, 0)
TZ5 = datetime.timezone(datetime.timedelta(hours=5))

# (col, op, value) filters, one per op, accessor and edge the row filter
# must reproduce from Spark: NaN, nulls, time zones, empty and null-member
# IN lists, an added and a renamed column, list/struct/map accessors
FILTER_CASES = [
    ("x", ">", 7.0), ("x", ">=", 6.5), ("x", "in", [NAN]),
    ("x", "==", NAN), ("x", "<", NAN), ("id", "<", NAN),
    ("x", "is_null", None), ("s", "is_not_null", None),
    ("ts", ">=", T0.replace(hour=18, minute=10, tzinfo=TZ5)),
    ("ts", "<", T0.replace(minute=30)), ("ts", ">", "2024-03-01 14:00:00"),
    ("s", "in", []), ("s", "in", ["k1", None, "k5"]),
    ("s", "startswith", "k1"),
    ("added", "is_null", None), ("added", ">", 215), ("yy", "<", 50),
    ("l#len", "==", 2), ("l#val", ">", 30.0), ("l#val", "==", NAN),
    ("st#f:a", "is_null", None), ("st#f:b", "startswith", "b1"),
    ("m#len", "is_null", None), ("m#val", "in", [3, 4]),
]


def spark_filter(c, op, v):
    """The Spark column expression meaning the same as filter (c, op, v)."""
    from pyspark.sql import functions as F
    base, _, acc = c.partition("#")

    def pred(col):
        if op in ("is_null", "is_not_null"):
            return col.isNull() if op == "is_null" else col.isNotNull()
        if op == "in":
            return col.isin(*v)
        if op == "startswith":
            return col.startswith(v)
        return getattr(col, {"<": "__lt__", "<=": "__le__", ">": "__gt__",
                             ">=": "__ge__", "==": "__eq__"}[op])(v)
    if acc == "len":
        return pred(F.size(base))
    if acc == "val":
        return F.exists(F.map_values(base) if base == "m" else F.col(base),
                        pred)
    if acc.startswith("f:"):
        return pred(F.col(base).getField(acc[2:]))
    return pred(F.col(base))


@pytest.fixture(scope="module")
def filter_store(spark, tmp_path_factory):
    """240 rows over 12+ chunks: every tenth x NaN, nulls in every
    column, a column renamed (y -> yy) after the first commit and one
    added (``added``) by the second."""
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema,
    )

    def row(i):
        return (i, NAN if i % 10 == 0 else None if i % 17 == 3 else i * 0.05,
                None if i % 19 == 7 else T0 + datetime.timedelta(minutes=i),
                None if i % 11 == 4 else f"k{i % 13}", i * 2,
                None if i % 23 == 1 else [] if i % 29 == 2 else
                [i * 0.2, NAN if i % 7 == 0 else i * 0.1],
                None if i % 31 == 6 else
                (None if i % 41 == 9 else i % 37, f"b{i % 5}"),
                None if i % 43 == 10 else {} if i % 47 == 11 else
                {"p": i % 9, "q": i % 4})
    cols = ("id long, x double, ts timestamp, s string, {} long, "
            "l array<double>, st struct<a: long, b: string>, "
            "m map<string, long>")
    out = str(tmp_path_factory.mktemp("filters") / "store")
    encode_dataframe(spark.createDataFrame([row(i) for i in range(200)],
                                           cols.format("y")),
                     out, salt_key="id", num_pids=2, chunk_rows=20,
                     sort_by=["id"])
    evolve_schema(out, rename={"y": "yy"})
    encode_dataframe(spark.createDataFrame(
        [row(i) + (None if i % 3 == 0 else i,) for i in range(200, 240)],
        cols.format("yy") + ", added long"),
        out, salt_key="id", num_pids=2, chunk_rows=20, sort_by=["id"],
        resume=False)
    # not cached: Spark's in-memory cache skips batches by min/max
    # stats that leave NaN out, so a cached x IN (NaN) keeps no row
    full = decode_store(spark, out)
    assert full.count() == 240
    return out, full


@pytest.mark.parametrize("flt", FILTER_CASES,
                         ids=lambda f: f"{f[0]} {f[1]} {f[2]}")
def test_row_filter_parity_across_read_paths(spark, filter_store,
                                             monkeypatch, flt):
    """Every op and accessor returns, on each read path (driver decode,
    Spark-job decode, distributed planning, format('owrc')), exactly the
    rows Spark's own .filter keeps from the unfiltered decode. Each
    path's rows are collected once and compared, tagged by path, in one
    ``same_rows``."""
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out, full = filter_store
    reads = decode_paths(monkeypatch, lambda: decode_store(
        spark, out, filters=[flt]))
    reads.append(decode_store(spark, out, filters=[flt],
                              planning="distributed"))
    spark.dataSource.register(OwrcDataSource)
    reads.append(spark.read.format("owrc").load(out)
                 .filter(spark_filter(*flt)))
    paths = ("driver", "job", "distributed", "owrc")
    got = [r.toArrow() for r in reads]
    tagged = pa.concat_tables([t.append_column("path", pa.array(
        [p] * t.num_rows, pa.string())) for p, t in zip(paths, got)])
    want = full.filter(spark_filter(*flt)).crossJoin(
        spark.createDataFrame([(p,) for p in paths], "path string"))
    assert same_rows(spark.createDataFrame(tagged, schema=want.schema),
                     want), [(p, t.num_rows) for p, t in zip(paths, got)]


def test_nan_float_chunks_never_prune_nan_rows():
    """A float chunk holding a NaN records no zone-map bounds (min_max
    skips NaN, which Spark sorts above every number), and no NaN literal
    prunes a chunk."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        _column_stats,
    )
    assert _column_stats(pa.array([1.0, NAN, 2.0])) == (None, None)
    # a list keeps its length bounds but records no element bounds
    assert _column_stats(pa.array([[1.0], [NAN]])) == ('{"len": 1}',
                                                       '{"len": 1}')
    assert _column_stats(pa.array([1.0, None, 2.0])) == ("1.0", "2.0")
    man = pa.table({"chunk_file": ["c0"], "column": ["x"],
                    "stat_min": ["1.0"], "stat_max": ["2.0"],
                    "nulls": [0], "rows": [2]})
    for op, v in (("==", NAN), ("<", NAN), (">=", NAN), ("in", [NAN, 9.0])):
        assert prune_files(man, [("x", op, v)]) == ["c0"], (op, v)
    assert prune_files(man, [("x", ">", 7.0)]) == []


def test_bloom_probe_finds_every_stored_value():
    """The writer's bitset and the reader's probe share one hash: no
    stored value — non-ASCII, or longer than the 64-byte hash prefix —
    ever probes absent, alone or in an IN list."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        _column_bloom,
    )
    vals = ["", "plain", "naïve café", "日本語のテキスト", "emoji 🎉🎉",
            "x" * 64 + "tail", "ü" * 40 + "end", "🎉" * 30,
            "long prefix " * 10 + "€"]
    man = pa.table({"chunk_file": ["c0"], "column": ["s"],
                    "stat_min": pa.nulls(1, pa.string()),
                    "stat_max": pa.nulls(1, pa.string()),
                    "bloom": [_column_bloom(pa.array(vals))]})
    for v in vals:
        assert prune_files(man, [("s", "==", v)]) == ["c0"], v
        assert prune_files(man, [("s", "in", ["nope-1", v])]) == ["c0"], v
        assert prune_files(man, [("s", "==", v.encode())]) == ["c0"], v
    assert prune_files(man, [("s", "in", [f"absent-{i}" for i in
                                          range(3)])]) == []


def test_zone_map_ms_timestamp_pruning(spark, tmp_path):
    """Zone-map stats must normalize timestamps to epoch micros regardless
    of the column's storage unit — a ms-unit column used to store raw ms
    ints that prune_files compared against micros (ADVICE r2 #4)."""
    import datetime
    import pyarrow as pa
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        _column_stats,
    )
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    vals = [base + datetime.timedelta(seconds=i) for i in range(5)]
    for unit in ("ms", "us", "ns"):
        arr = pa.array(vals, type=pa.timestamp(unit, tz="UTC"))
        lo, hi = _column_stats(arr)
        import json as _json
        assert _json.loads(lo) == int(base.timestamp() * 1_000_000), unit
        assert _json.loads(hi) == int(
            (base + datetime.timedelta(seconds=4)).timestamp() * 1_000_000)


def test_fsst_truncated_trailing_marker():
    """A corrupt token stream ending in a bare 0xFF escape marker must raise
    a clean ValueError, not IndexError (ADVICE r2 #3)."""
    import pyarrow as pa
    import pytest
    from omi_cpp_parquet_wide_record_spark.codecs.fsst import FsstCodec
    from omi_cpp_parquet_wide_record_spark.codecs.base import type_name
    codec = FsstCodec()
    arr = pa.array(["hello world the quick brown fox"] * 64)
    sections, params = codec.encode(arr)
    params = {**params, "atype": type_name(arr.type)}
    # sections = [tab_lens, tab_flat, row_lens, enc]; append a bare marker
    corrupt = list(sections)
    corrupt[3] = bytes(corrupt[3]) + b"\xff"
    with pytest.raises(ValueError, match="escape marker"):
        codec.decode(corrupt, params)


def test_owrc_reader_snapshot_options(spark, tmp_path):
    """format('owrc') supports snapshot=N (time travel) and
    sinceSnapshot=M (incremental append scan), mirroring decode_store."""
    from pyspark.sql import functions as F
    out = str(tmp_path / "store")
    mk = lambda lo, hi: spark.range(lo, hi).select(F.col("id"))  # noqa: E731
    encode_dataframe(mk(0, 80), out, salt_key="id", num_pids=4)
    encode_dataframe(mk(80, 200), out, salt_key="id", num_pids=4,
                     resume=False)
    rd = lambda **opts: (spark.read.format("owrc")  # noqa: E731
                         .options(path=out, **opts).load())
    assert rd().count() == 200
    assert rd(snapshot=0).count() == 80
    inc = rd(sinceSnapshot=0)
    assert sorted(r.id for r in inc.select("id").collect()) \
        == list(range(80, 200))


def test_owrc_reader_applies_deletes_and_evolution(spark, tmp_path):
    """format('owrc') reads must match decode_store on stores with
    merge-on-read deletes (sequence-scoped: re-inserted keys visible) and
    add-column evolution (old chunks null-fill) — the DataSource path
    used to bypass both."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows,
    )
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("old"), F.col("id")).alias("s")), out,
        salt_key="id", num_pids=2)
    delete_rows(out, spark.range(0, 10).select("id"), "id")
    # re-insert 0..4 AND evolve: the new commit adds column v
    encode_dataframe(spark.range(0, 5).select(
        F.col("id"), F.concat(F.lit("new"), F.col("id")).alias("s"),
        (F.col("id") * 10).alias("v")), out,
        salt_key="id", num_pids=2, resume=False)
    spark.dataSource.register(OwrcDataSource)
    got = spark.read.format("owrc").load(out)
    assert set(got.columns) == {"id", "s", "v"}
    rows = {r.id: (r.s, r.v) for r in got.collect()}
    assert len(rows) == 95                       # 100 - 10 deleted + 5 new
    assert rows[0] == ("new0", 0)                # re-inserted, visible
    assert rows[4] == ("new4", 40)
    assert 5 not in rows and 9 not in rows       # deleted, not re-inserted
    assert rows[50] == ("old50", None)           # evolution null-fill
    # projection that drops the delete-key column still applies deletes
    assert spark.read.format("owrc").load(out).select("s").count() == 95
    # same rows as decode_store (both planning modes) on further inputs:
    # a delete keyed on a column renamed afterwards (the retired key
    # resolves to the live name), a pid rewrite, and an incremental read
    # across that rewrite
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema, rewrite_small_chunks,
    )
    delete_rows(out, spark.createDataFrame([("old50",), ("new1",)],
                                           "s string"), "s")
    evolve_schema(out, rename={"s": "t"})

    def parity(**opts):
        rows_of = lambda df: sorted(map(tuple, df.collect()),  # noqa: E731
                                    key=repr)
        owrc_opts = {"sinceSnapshot" if k == "since_snapshot" else k: v
                     for k, v in opts.items()}
        want = rows_of(spark.read.format("owrc")
                       .options(path=out, **owrc_opts).load())
        for planning in ("driver", "distributed"):
            assert rows_of(decode_store(spark, out, planning=planning,
                                        **opts)) == want, (planning, opts)
        return want

    live = parity()
    assert len(live) == 93 and not {r[0] for r in live} & {1, 50}
    assert rewrite_small_chunks(spark, out)["rewritten_pids"]
    assert parity() == live
    assert [r[0] for r in parity(since_snapshot=0)] == [0, 2, 3, 4]


def test_bloom_filter_pruning_on_equality(spark, tmp_path):
    """Per-chunk Bloom filters prune point lookups on high-cardinality
    string columns where min/max ranges exclude nothing. Missing blooms
    stay conservative; results equal a post-hoc filter."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        decode_store, prune_files,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "store")
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.concat(F.lit("https://example.org/page/"), F.col("id"))
         .alias("url"))
    encode_dataframe(df, out, salt_key="url", num_pids=16)
    m = ChunkStore(out).manifest_table()
    n_files = len(set(m.column("chunk_file").to_pylist()))
    assert n_files >= 8
    # the target url lives in exactly one content-derived pid: bloom
    # pruning must cut the candidate file set hard (fpr ~1e-3)
    hit = prune_files(m, [("url", "==", "https://example.org/page/1234")])
    assert 1 <= len(hit) < n_files / 2, (len(hit), n_files)
    got = decode_store(spark, out,
                       filters=[("url", "==",
                                 "https://example.org/page/1234")]).collect()
    assert len(got) == 1 and got[0].id == 1234
    # absent value: bloom prunes everything (or nearly), result is empty
    miss = decode_store(spark, out,
                        filters=[("url", "==", "nope://missing")]).count()
    assert miss == 0
    # int equality still handled by zone maps (bloom only on bytes-like)
    one = decode_store(spark, out, filters=[("id", "==", 77)]).collect()
    assert len(one) == 1 and one[0].url.endswith("/77")
    # distributed planning probes the same blooms as a vectorized UDF
    # over the manifest rows — identical results on hit and miss
    dgot = decode_store(spark, out,
                        filters=[("url", "==",
                                  "https://example.org/page/1234")],
                        planning="distributed").collect()
    assert len(dgot) == 1 and dgot[0].id == 1234
    assert decode_store(spark, out,
                        filters=[("url", "==", "nope://missing")],
                        planning="distributed").count() == 0


def test_pruning_parity_driver_vs_distributed(spark, tmp_path):
    """Driver and distributed planning must open the SAME chunk-file set
    for string zone-map filters and (multi-literal) bloom equality — at
    corpus scale distributed planning is mandatory, so a plan that prunes
    less there would quietly lose exactly the point-lookup wins."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import prune_files
    out = str(tmp_path / "store")
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.concat(F.lit("https://example.org/page/"), F.col("id"))
         .alias("url"),
        F.concat(F.lit("site-"), (F.col("id") % 7).cast("string"))
         .alias("domain"))
    encode_dataframe(df, out, salt_key="url", num_pids=16)
    store = ChunkStore(out)
    snap = store.current_snapshot()
    m = store.manifest_table(snap)
    plan = D.ScanPlan.resolve(out)

    cases = [
        # string range: zone maps on url bounds
        [("url", ">=", "https://example.org/page/39")],
        [("url", "<", "https://example.org/page/1")],
        # string equality: bloom + zone maps together
        [("url", "==", "https://example.org/page/1234")],
        # multi-literal conjunction (one unsatisfiable -> prunes hard)
        [("url", "==", "https://example.org/page/1234"),
         ("url", "==", "nope://missing")],
        # two columns, mixed types
        [("domain", "==", "site-3"), ("id", ">=", 2000)],
        [("url", "==", "nope://missing")],
        # prefix pushdown: pruned as the range [p, prefix_upper(p))
        [("url", "startswith", "https://example.org/page/12")],
        [("url", "startswith", "nope")],
        [("domain", "startswith", "site-")],
    ]
    for filters in cases:
        drv = prune_files(m, filters)
        dist = sorted(r.chunk_file for r in
                      plan.shard_files(spark, filters)
                      .collect())
        assert drv == dist, (filters, len(drv), len(dist))
    # a real string-pruned case must actually prune
    assert len(prune_files(
        m, [("url", "==", "https://example.org/page/1234")])) \
        < len(prune_files(m, []))


def test_pruning_fuzz_never_loses_rows(spark, tmp_path):
    """Seeded random filter fuzz over mixed-type columns: for ANY
    conjunction of </<=/>/>=/==/IN filters, the pruned + residual-
    filtered read must return exactly the rows a full decode +
    post-filter returns (over-pruning is silent data loss), and driver
    vs distributed planning must open the same file set."""
    import random

    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import prune_files
    rnd = random.Random(20260817)
    N = 6000
    df = spark.range(0, N).select(
        F.col("id"),
        (F.col("id") * 37 % 101).alias("v"),
        F.concat(F.lit("u-"), F.pmod(F.col("id") * 7919, F.lit(N)))
         .alias("key"),
        F.concat(F.lit("d-"), (F.col("id") % 13).cast("string"))
         .alias("cat"),
        F.when(F.col("id") % 5 != 0, F.col("id") * 11).alias("w"),
        # a few NaN rows: chunks holding one record no float bounds
        F.when(F.col("id") % 400 == 7, F.lit(NAN))
         .when(F.col("id") % 13 != 1, F.col("id") * 0.25).alias("f"))
    out = str(tmp_path / "store")
    encode_dataframe(df, out, salt_key="key", num_pids=12,
                     chunk_rows=500, sort_by=["id"])
    full = decode_store(spark, out)    # uncached: see filter_store
    assert full.count() == N
    store = ChunkStore(out)
    snap = store.current_snapshot()
    m = store.manifest_table(snap)
    plan = D.ScanPlan.resolve(out)

    def rand_filter():
        col = rnd.choice(["id", "v", "key", "cat", "w", "f"])
        if col == "f":
            op = rnd.choice(["<", "<=", ">", ">=", "==", "in"])
            top = N // 4 + 50
            mk = lambda: NAN if rnd.random() < 0.4 else float(  # noqa: E731
                rnd.randrange(0, top))
            if op == "in":
                return (col, op, [mk() for _ in range(rnd.randrange(1, 4))])
            return (col, op, mk())
        if col == "w":
            op = rnd.choice(["is_null", "is_not_null", "<", ">="])
            if op in ("is_null", "is_not_null"):
                return (col, op, None)
            return (col, op, rnd.randrange(0, N * 11))
        if col in ("id", "v"):
            top = N if col == "id" else 101
            op = rnd.choice(["<", "<=", ">", ">=", "==", "in"])
            if op == "in":
                return (col, op,
                        [rnd.randrange(0, top + 50)
                         for _ in range(rnd.randrange(1, 5))])
            return (col, op, rnd.randrange(0, top + 50))
        prefix, top = ("u-", N) if col == "key" else ("d-", 16)
        mk = lambda: prefix + str(rnd.randrange(0, top))  # noqa: E731
        op = rnd.choice(["<", ">=", "==", "in", "startswith"])
        if op == "in":
            return (col, op, [mk() for _ in range(rnd.randrange(1, 4))])
        if op == "startswith":
            # vary prefix length: from the constant head to a full key
            return (col, op, mk()[:rnd.randrange(1, 6)])
        return (col, op, mk())

    exprs = {"<": lambda c, v: F.col(c) < v,
             "<=": lambda c, v: F.col(c) <= v,
             ">": lambda c, v: F.col(c) > v,
             ">=": lambda c, v: F.col(c) >= v,
             "==": lambda c, v: F.col(c) == v,
             "in": lambda c, v: F.col(c).isin(v),
             "startswith": lambda c, v: F.col(c).startswith(v),
             "is_null": lambda c, v: F.col(c).isNull(),
             "is_not_null": lambda c, v: F.col(c).isNotNull()}
    nan_cases = [[("f", "==", NAN)], [("f", "in", [NAN, 250.0])],
                 [("f", ">", 1000.0)], [("f", "<", NAN), ("v", "<", 50)]]
    for trial in range(25 + len(nan_cases)):
        filters = nan_cases[trial] if trial < len(nan_cases) else \
            [rand_filter() for _ in range(rnd.randrange(1, 4))]
        cond = None
        for c, op, v in filters:
            e = exprs[op](c, v)
            cond = e if cond is None else (cond & e)
        want = sorted(r.id for r in full.filter(cond)
                      .select("id").collect())
        got = sorted(r.id for r in
                     decode_store(spark, out, filters=filters)
                     .select("id").collect())
        assert got == want, (trial, filters, len(got), len(want))
        if trial % 5 == 0:   # cross-mode parity on a sample of trials
            drv = prune_files(m, filters)
            dist = sorted(r.chunk_file for r in
                          plan.shard_files(spark, filters)
                          .collect())
            assert drv == dist, (trial, filters)
    # Iceberg semantics: a filter may reference a non-projected column —
    # it decodes for the residual filter and drops in the projection
    pf = decode_store(spark, out, columns=["id"],
                      filters=[("v", "==", 3), ("cat", "==", "d-3")])
    assert pf.columns == ["id"]
    want = sorted(r.id for r in full.filter(
        (F.col("v") == 3) & (F.col("cat") == "d-3")).select("id").collect())
    assert sorted(r.id for r in pf.collect()) == want and want


def test_incremental_append_scan(spark, tmp_path):
    """since_snapshot=M reads only data committed after snapshot M
    (Iceberg incremental append scan) and composes with time travel,
    filters, and projection."""
    from pyspark.sql import functions as F
    out = str(tmp_path / "store")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id"), (F.col("id") % 5).alias("v"))
    encode_dataframe(mk(0, 100), out, salt_key="id", num_pids=4)
    encode_dataframe(mk(100, 250), out, salt_key="id", num_pids=4,
                     resume=False)
    encode_dataframe(mk(250, 300), out, salt_key="id", num_pids=4,
                     resume=False)
    # full reads unchanged
    assert decode_store(spark, out).count() == 300
    # incremental windows
    inc1 = decode_store(spark, out, since_snapshot=0)
    assert sorted(r.id for r in inc1.select("id").collect()) \
        == list(range(100, 300))
    inc2 = decode_store(spark, out, since_snapshot=1)
    assert sorted(r.id for r in inc2.select("id").collect()) \
        == list(range(250, 300))
    # bounded window: (0, 1] = commit 1 only
    win = decode_store(spark, out, snapshot=1, since_snapshot=0)
    assert sorted(r.id for r in win.select("id").collect()) \
        == list(range(100, 250))
    # composes with filters + projection; empty window is empty
    f = decode_store(spark, out, columns=["id"], since_snapshot=0,
                     filters=[("v", "==", 3)])
    assert f.columns == ["id"]
    assert f.count() == sum(1 for i in range(100, 300) if i % 5 == 3)
    assert decode_store(spark, out, snapshot=1,
                        since_snapshot=1).count() == 0
    # distributed planning sees the same incremental window
    assert decode_store(spark, out, since_snapshot=1,
                        planning="distributed").count() == 50


def test_array_columns_roundtrip(spark, tmp_path, monkeypatch):
    """list<T> columns (the embeddings shape) flow through the store:
    lengths + flattened values each take their own codec; bit-identical
    decode including null rows and inner nulls."""
    from pyspark.sql import functions as F
    df = (spark.range(0, 2000)
          .select(F.col("id"),
                  F.when(F.col("id") % 97 == 0, F.lit(None))
                   .otherwise(F.array(
                       (F.col("id") % 7).cast("float"),
                       F.lit(0.5), (F.col("id") * 3).cast("float")))
                   .alias("vec"),
                  F.array(F.concat(F.lit("t"), F.col("id")))
                   .alias("tags"),
                  F.struct((F.col("id") % 9).alias("a"),
                           F.concat(F.lit("m"), F.col("id")).alias("b"))
                   .alias("meta"),
                  F.create_map(F.lit("k"), F.col("id") % 11)
                   .alias("props")))
    out = str(tmp_path / "store")
    res = encode_dataframe(df, out, salt_key="id", num_pids=4,
                           chunk_rows=500)
    assert res.rows == 2000
    decoded = decode_store(spark, out, check_sha=True)
    v = verify_roundtrip(df, decoded, key="id")
    assert v.ok, v
    # projection still prunes to one list column
    one = decode_store(spark, out, columns=["id", "vec"])
    assert one.columns == ["id", "vec"] and one.count() == 2000
    # list, struct and map columns survive the driver's local relation
    # exactly as they do a Spark-job decode
    assert same_rows(*decode_paths(monkeypatch, lambda: decode_store(
        spark, out, check_sha=True)))


def test_string_pruning_unicode_edges(spark, tmp_path):
    """String zone-map/bloom pruning on non-ASCII data: distributed
    planning compares UTF-8 binary, the driver path Python strings —
    both must equal code-point order on astral-plane, combining-char,
    CJK, and empty-string bounds, with no row ever lost."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import prune_files
    vals = ["", "a", "zz", "éclair", "中文", "\U0001F600emoji",
            "Ácombining", "￿", "~tilde",
            'he said "hi"', "back\\slash", "line\nbreak"]
    rows = [(i, vals[i % len(vals)] + str(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, s string")
    out = str(tmp_path / "store")
    encode_dataframe(df, out, salt_key="id", num_pids=6,
                     chunk_rows=300, sort_by=["s"])
    full = decode_store(spark, out)    # uncached: see filter_store
    assert full.count() == 2000
    store = ChunkStore(out)
    snap = store.current_snapshot()
    m = store.manifest_table(snap)
    plan = D.ScanPlan.resolve(out)
    cases = [
        [("s", ">=", "中")], [("s", "<", "b")],
        [("s", "==", "\U0001F600emoji5")], [("s", ">=", "\U0001F600")],
        [("s", "<", "é")], [("s", "in", ["中文88", "zz2", "missing"])],
        [("s", ">", "")], [("s", "<=", "")],
        # JSON-escape stress: stats travel as JSON in the manifest
        [("s", "==", 'he said "hi"9')], [("s", ">=", "back\\slash")],
        [("s", "in", ["line\nbreak11", 'he said "hi"21'])],
    ]
    for flt in cases:
        col, op, v = flt[0]
        e = F.col(col).isin(v) if op == "in" else \
            {"<": F.col(col) < v, "<=": F.col(col) <= v,
             ">": F.col(col) > v, ">=": F.col(col) >= v,
             "==": F.col(col) == v}[op]
        want = sorted(r.id for r in full.filter(e).select("id").collect())
        got = sorted(r.id for r in
                     decode_store(spark, out, filters=flt)
                     .select("id").collect())
        assert got == want, (flt, len(got), len(want))
        drv = prune_files(m, flt)
        dist = sorted(r.chunk_file for r in
                      plan.shard_files(spark, flt).collect())
        assert drv == dist, (flt, drv, dist)


def test_zero_shuffle_then_compaction_bounds_files(spark, tmp_path):
    """Close the zero-shuffle loop: colocate='local' multiplies chunk
    files (tasks x per-task pid groups — the price of removing the
    full-data shuffle); compact_store must rewrite the store into a
    pid-bounded file count with a bit-identical decode. This is the
    at-scale maintenance cycle: stream-encode shuffle-free, compact
    off-peak, read amplification bounded by num_pids again."""
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        compact_store,
    )
    corpus = FX.web_pages_df(spark, ROWS, partitions=16).cache()
    out = str(tmp_path / "local_store")
    encode_dataframe(corpus, out, partition_by=["lang"], num_pids=64,
                     salt=1, colocate="local")
    files_local = len(os.listdir(os.path.join(out, "chunks")))
    # local mode: up to tasks x languages files — strictly more than the
    # language count, or this test exercises nothing
    n_langs = corpus.select("lang").distinct().count()
    assert files_local > n_langs, (files_local, n_langs)

    comp = str(tmp_path / "compacted")
    target_pids = 8
    compact_store(spark, out, comp, salt_key="url", num_pids=target_pids)
    files_comp = len(os.listdir(os.path.join(comp, "chunks")))
    # file count is bounded by the pid count (one chunk file per pid at
    # this size — chunk_rows splitting would add a bounded factor)
    assert files_comp <= target_pids, (files_comp, target_pids)
    assert files_comp < files_local / 4, (files_comp, files_local)
    v = verify_roundtrip(corpus, decode_store(spark, comp, check_sha=True),
                         key="url")
    assert v.ok, v
    corpus.unpersist()


def test_in_list_filter_pushdown(spark, tmp_path):
    """IN-list filters push down like equality: zone maps and blooms
    prune (a chunk survives if ANY member may be present, and a bloom
    excludes it only when EVERY member is provably absent — one batched
    probe pass); the residual isin keeps results exact. Driver and
    distributed planning must open the same file set."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import prune_files
    out = str(tmp_path / "store")
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.concat(F.lit("https://example.org/page/"), F.col("id"))
         .alias("url"))
    encode_dataframe(df, out, salt_key="url", num_pids=16)
    store = ChunkStore(out)
    m = store.manifest_table()
    n_files = len(set(m.column("chunk_file").to_pylist()))

    urls = ["https://example.org/page/7",
            "https://example.org/page/3888"]
    # results exact, including an absent member and an empty list
    got = decode_store(spark, out, filters=[("url", "in", urls)]).collect()
    assert sorted(r.id for r in got) == [7, 3888]
    got2 = decode_store(
        spark, out,
        filters=[("url", "in", urls + ["nope://missing"])]).collect()
    assert sorted(r.id for r in got2) == [7, 3888]
    assert decode_store(spark, out,
                        filters=[("url", "in", [])]).count() == 0
    assert decode_store(spark, out,
                        filters=[("id", "in", [5, 77])]).count() == 2
    # bloom pruning: two target urls live in <= 2 content-derived pids
    hit = prune_files(m, [("url", "in", urls)])
    assert 1 <= len(hit) < n_files / 2, (len(hit), n_files)
    # an all-absent IN prunes everything the blooms cover
    miss = prune_files(m, [("url", "in", ["nope://a", "nope://b"])])
    assert len(miss) < n_files / 2
    # driver/distributed parity on IN (string and numeric)
    plan = D.ScanPlan.resolve(out)
    for filters in ([("url", "in", urls)],
                    [("url", "in", ["nope://a", "nope://b"])],
                    [("id", "in", [5, 77, 9999999])]):
        drv = prune_files(m, filters)
        dist = sorted(r.chunk_file for r in
                      plan.shard_files(spark, filters)
                      .collect())
        assert drv == dist, (filters, len(drv), len(dist))
    # distributed-mode results match driver-mode results
    a = decode_store(spark, out, filters=[("url", "in", urls)])
    b = decode_store(spark, out, filters=[("url", "in", urls)],
                     planning="distributed")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_engine_fingerprint_invalidates_cached_store(spark, tmp_path):
    """The r4 stale-store hazard: snapshot records the engine fingerprint
    at commit time, and cached-store reuse (__spark_entry__._store_valid)
    must reject a store whose recorded fingerprint differs from the code
    currently loaded — a codec edit may never serve stale bytes to the
    correctness gate."""
    import pyspark.sql.functions as F

    from omi_cpp_parquet_wide_record_spark import version
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore

    out = str(tmp_path / "fp_store")
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 5).cast("string").alias("s"))
    encode_dataframe(df, out, salt_key="id", num_pids=2)

    snap = ChunkStore(out).current_snapshot()
    assert snap["engine_fingerprint"] == version.engine_fingerprint()

    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry
    assert entry._store_valid(out, 200)
    assert not entry._store_valid(out, 199)          # row-count mismatch

    # simulate a codec-layer edit: the loaded code's fingerprint changes,
    # so the SAME on-disk store must now be rejected
    saved = version._FINGERPRINT
    try:
        version._FINGERPRINT = "deadbeef00000000"
        assert not entry._store_valid(out, 200)
    finally:
        version._FINGERPRINT = saved
    assert entry._store_valid(out, 200)

    # a store written before fingerprints existed (no key) is rejected too
    import json
    import os
    with open(os.path.join(out, "_current")) as f:
        sname = f.read().strip()
    spath = os.path.join(out, "snapshots", sname)
    with open(spath) as f:
        sj = json.load(f)
    sj.pop("engine_fingerprint")
    with open(spath, "w") as f:
        json.dump(sj, f)
    assert not entry._store_valid(out, 200)


def test_nested_zone_map_pruning(spark, tmp_path, monkeypatch):
    """Nested-column zone maps (r5): list/struct/map chunks record length
    bounds + flattened child value bounds as JSON-object stats, and the
    virtual filter columns c#len / c#val / c#f:<field> prune chunk files
    AND apply exact residuals. Checks: real file reduction, residual
    exactness vs full-decode + the equivalent Spark filter, and
    driver/distributed planning parity."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import prune_files
    N = 4000
    # embedding length and values both correlate with id, and the store
    # sorts by id, so per-chunk [len, val] zone ranges are tight
    df = spark.range(0, N).select(
        F.col("id"),
        (F.col("id") / 400).cast("long").alias("bucket"),
        F.transform(F.sequence(F.lit(1), F.col("id") % 8 + 2),
                    lambda i: (F.col("id") * 10 + i).cast("double"))
         .alias("emb"),
        F.struct((F.col("id") % 97).cast("long").alias("x"),
                 F.concat(F.lit("s-"), (F.col("id") % 5)).alias("tag"))
         .alias("pt"),
        F.create_map(F.lit("a"), F.col("id"),
                     F.lit("b"), F.col("id") * 2).alias("props"))
    out = str(tmp_path / "store")
    # partition on id-range buckets: chunks cluster id ranges, so the
    # value-correlated nested stats (emb values = id*10+i) get tight
    # per-chunk zones — the layout a sort-ordered ingest produces
    encode_dataframe(df, out, partition_by=["bucket"], salt_key="id",
                     num_pids=12, salt=1, sort_by=["id"])
    full = decode_store(spark, out)    # uncached: see filter_store
    assert full.count() == N
    store = ChunkStore(out)
    snap = store.current_snapshot()
    m = store.manifest_table(snap)
    plan = D.ScanPlan.resolve(out)
    all_files = prune_files(m, [])

    # 1) pruning actually reduces the file set on nested filters
    f_len = [("emb#len", "==", 2)]                  # only ids % 8 == 0
    f_val = [("emb#val", ">=", float((N - 200) * 10))]  # top id slice
    f_fld = [("pt#f:x", "==", 5)]
    assert len(prune_files(m, f_val)) < len(all_files)
    for filters in (f_len, f_val, f_fld):
        assert prune_files(m, filters), filters     # never empty: rows exist

    # 2) residual exactness: pruned read == full decode + Spark filter
    cases = [
        (f_len, F.size("emb") == 2),
        ([("emb#len", ">", 7)], F.size("emb") > 7),
        (f_val, F.exists("emb", lambda x: x >= float((N - 200) * 10))),
        ([("emb#val", "<", 25.0)],
         F.exists("emb", lambda x: x < 25.0)),
        (f_fld, F.col("pt.x") == 5),
        ([("pt#f:tag", "==", "s-3")], F.col("pt.tag") == "s-3"),
        ([("props#len", "==", 2)], F.size("props") == 2),
        ([("props#val", ">=", float(2 * (N - 100)))],
         F.exists(F.map_values("props"),
                  lambda x: x >= 2 * (N - 100))),
        # conjunction across nested + scalar
        ([("emb#len", ">=", 8), ("id", "<", 500)],
         (F.size("emb") >= 8) & (F.col("id") < 500)),
    ]
    for filters, expr in cases:
        want = sorted(r.id for r in full.filter(expr)
                      .select("id").collect())
        got = sorted(r.id for r in
                     decode_store(spark, out, filters=filters)
                     .select("id").collect())
        assert got == want and want, (filters, len(got), len(want))
        # 3) driver/distributed parity on the same chunk-file set
        drv = prune_files(m, filters)
        dist = sorted(r.chunk_file for r in
                      plan.shard_files(spark, filters)
                      .collect())
        assert drv == dist, (filters, len(drv), len(dist))

    # 4) filter on a non-projected nested column decodes it for the
    # residual and drops it in the projection (Iceberg semantics)
    pf = decode_store(spark, out, columns=["id"],
                      filters=[("emb#len", "==", 2)])
    assert pf.columns == ["id"]
    want = sorted(r.id for r in full.filter(F.size("emb") == 2)
                  .select("id").collect())
    assert sorted(r.id for r in pf.collect()) == want and want

    # 5) a nested-accessor residual over the driver's local relation
    # returns the rows a Spark-job decode does
    small, job = decode_paths(monkeypatch, lambda: decode_store(
        spark, out, filters=[("emb#val", "<", 25.0), ("pt#f:x", "<", 50)]))
    assert small.count() == 3 and same_rows(small, job)


def test_nested_pruning_fuzz_never_loses_rows(spark, tmp_path):
    """Seeded fuzz over nested accessors: any conjunction mixing
    c#len / c#val / c#f: and scalar filters must return exactly the
    full-decode + post-filter rows (over-pruning on the new stats would
    be silent data loss), driver == distributed file sets."""
    import random

    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import prune_files
    rnd = random.Random(20260818)
    N = 3000
    df = spark.range(0, N).select(
        F.col("id"),
        F.transform(F.sequence(F.lit(1), F.col("id") % 6 + 1),
                    lambda i: ((F.col("id") + i * 13) % 500).cast("long"))
         .alias("vals"),
        F.struct((F.col("id") % 41).cast("long").alias("a"),
                 ((F.col("id") * 7) % 29).cast("long").alias("b"))
         .alias("st"))
    out = str(tmp_path / "store")
    encode_dataframe(df, out, salt_key="id", num_pids=8,
                     chunk_rows=300, sort_by=["id"])
    full = decode_store(spark, out)    # uncached: see filter_store
    assert full.count() == N
    store = ChunkStore(out)
    snap = store.current_snapshot()
    m = store.manifest_table(snap)
    plan = D.ScanPlan.resolve(out)

    def rand_filter():
        kind = rnd.choice(["len", "val", "fld", "scalar"])
        op = rnd.choice(["<", "<=", ">", ">=", "=="])
        if kind == "len":
            return ("vals#len", op, rnd.randrange(0, 8))
        if kind == "val":
            return ("vals#val", op, rnd.randrange(0, 520))
        if kind == "fld":
            f = rnd.choice(["a", "b"])
            return (f"st#f:{f}", op, rnd.randrange(0, 45))
        return ("id", op, rnd.randrange(0, N + 100))

    def as_expr(c, op, v):
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            _split_filter_col,
        )
        base, acc = _split_filter_col(c)
        ops = {"<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
               ">": lambda a, b: a > b, ">=": lambda a, b: a >= b,
               "==": lambda a, b: a == b}
        if acc == "len":
            return ops[op](F.size(base), v)
        if acc == "val":
            return F.exists(base, lambda x: ops[op](x, v))
        if acc and acc.startswith("f:"):
            return ops[op](F.col(f"{base}.{acc[2:]}"), v)
        return ops[op](F.col(c), v)

    for trial in range(20):
        filters = [rand_filter() for _ in range(rnd.randrange(1, 4))]
        cond = None
        for c, op, v in filters:
            e = as_expr(c, op, v)
            cond = e if cond is None else (cond & e)
        want = sorted(r.id for r in full.filter(cond)
                      .select("id").collect())
        got = sorted(r.id for r in
                     decode_store(spark, out, filters=filters)
                     .select("id").collect())
        assert got == want, (trial, filters, len(got), len(want))
        if trial % 4 == 0:
            drv = prune_files(m, filters)
            dist = sorted(r.chunk_file for r in
                          plan.shard_files(spark, filters)
                          .collect())
            assert drv == dist, (trial, filters)


def test_delete_scoping_reads_each_manifest_once(spark, tmp_path,
                                                 monkeypatch):
    """Driver planning with sequence-scoped deletes must not re-read
    manifest parquets to learn commit epochs — commit_n rides the
    manifest table the planner loads anyway (one read per manifest
    total, delete or no delete)."""
    from pyspark.sql import functions as F

    from omi_cpp_parquet_wide_record_spark.operators import encode as enc
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        decode_store,
    )
    out = str(tmp_path / "store")
    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("k"))
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows,
    )
    enc.encode_dataframe(df, out, salt_key="id", num_pids=4)
    delete_rows(out, spark.range(10, 20).select(F.col("id")), "id")
    enc.encode_dataframe(
        spark.range(10, 15).select(
            F.col("id"), (F.col("id") % 7).cast("string").alias("k")),
        out, salt_key="id", num_pids=4, resume=False)

    import pyarrow.parquet as pq_mod
    calls = {"n": 0}
    real = pq_mod.read_table

    def counting(path, *a, **kw):
        if "manifests" in str(path):
            calls["n"] += 1
        return real(path, *a, **kw)

    monkeypatch.setattr(pq_mod, "read_table", counting)
    # counted from an empty shard cache (``read_shard``): the encodes and
    # the delete above already read every manifest in this process
    from collections import OrderedDict
    from omi_cpp_parquet_wide_record_spark.plans import snapshot as S
    monkeypatch.setattr(S, "_SHARDS", OrderedDict())
    monkeypatch.setattr(S, "_shards_bytes", 0)
    got = decode_store(spark, out).count()
    store = ChunkStore(out)
    n_manifests = len(store.current_snapshot()["manifests"])
    assert calls["n"] == n_manifests, (calls["n"], n_manifests)
    # a second read of the unchanged snapshot reads none again
    assert decode_store(spark, out).count() == got
    assert calls["n"] == n_manifests, (calls["n"], n_manifests)
    # rows 10-19 deleted from commit 0, 10-14 re-inserted after -> 395
    assert got == 395, got
    # the owrc reader plans in a Python planner worker, out of this
    # monkeypatch's reach; it builds the same scan plan, so count there:
    # with deletes present, planning reads each manifest once
    from omi_cpp_parquet_wide_record_spark.operators.decode import ScanPlan
    calls["n"] = 0
    S._SHARDS.clear()
    monkeypatch.setattr(S, "_shards_bytes", 0)
    plan = ScanPlan.resolve(out)
    kept = plan.kept_files(None)
    assert calls["n"] == n_manifests, (calls["n"], n_manifests)
    # each kept file carries its commit epoch: the delete (commit 1)
    # scopes commit 0's chunks only
    assert set(kept.values()) == {0, 2} and len(plan.deletes) == 1
    assert all(bool(plan.deletes_for(n)) == (n == 0)
               for n in kept.values())


def test_upsert_single_commit_merge(spark, tmp_path):
    """``upsert_key`` is a single-commit MERGE: the batch's keys are
    committed as an equality delete IN THE SAME snapshot as the appended
    data (sequence-scoped at that commit, so the new rows are exempt).
    Exactly one snapshot is added; time travel to the parent still sees
    the old rows; no intermediate deleted-but-not-replaced state exists."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    import pytest

    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("old"), F.col("id")).alias("s")), out,
        salt_key="id", num_pids=2)
    store = ChunkStore(out)
    n0 = store.current_snapshot()["n"]

    # upsert: replace ids 50..59, insert ids 100..104 — one commit
    batch = spark.range(50, 60).union(spark.range(100, 105)).select(
        F.col("id"), F.concat(F.lit("new"), F.col("id")).alias("s"))
    encode_dataframe(batch, out, salt_key="id", num_pids=2,
                     resume=False, upsert_key="id")
    snap = store.current_snapshot()
    assert snap["n"] == n0 + 1          # exactly one snapshot added
    assert len(snap["delete_files"]) == 1

    got = decode_store(spark, out)
    assert got.count() == 105
    replaced = {r.s for r in got.filter(
        (F.col("id") >= 50) & (F.col("id") < 60)).collect()}
    assert replaced == {f"new{i}" for i in range(50, 60)}
    kept = {r.s for r in got.filter(F.col("id") < 3).collect()}
    assert kept == {"old0", "old1", "old2"}
    # projection that excludes the key still applies the upsert delete
    assert decode_store(spark, out, columns=["s"]).count() == 105

    # time travel to the parent snapshot: pre-upsert world intact
    old = decode_store(spark, out, snapshot=n0)
    assert old.count() == 100
    assert {r.s for r in old.filter(F.col("id") == 55).collect()} == {"old55"}

    # upsert into an EMPTY store still carries its equality delete (r6:
    # the delete-less empty-store shortcut raced a concurrent first
    # commit — see ADVICE r5); sequence scoping makes it hide nothing,
    # so the live view is a plain insert
    out2 = str(tmp_path / "store2")
    encode_dataframe(spark.range(0, 10).select(
        F.col("id"), F.col("id").cast("string").alias("s")), out2,
        salt_key="id", num_pids=2, resume=False, upsert_key="id")
    snap2 = ChunkStore(out2).current_snapshot()
    assert len(snap2["delete_files"]) == 1
    assert decode_store(spark, out2).count() == 10

    # guard rails: resume=True and unknown key column are rejected
    with pytest.raises(ValueError, match="resume"):
        encode_dataframe(batch, out, upsert_key="id")
    with pytest.raises(ValueError, match="not a column"):
        encode_dataframe(batch, out, resume=False, upsert_key="nope")


def test_upsert_idempotent_reapply(spark, tmp_path):
    """Re-upserting the same batch is idempotent in the visible view: the
    second upsert's delete hides the first upsert's rows, count unchanged."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 50).select(
        F.col("id"), F.lit("base").alias("s")), out,
        salt_key="id", num_pids=2)
    batch = spark.range(10, 20).select(
        F.col("id"), F.lit("v2").alias("s"))
    encode_dataframe(batch, out, salt_key="id", num_pids=2,
                     resume=False, upsert_key="id")
    encode_dataframe(batch, out, salt_key="id", num_pids=2,
                     resume=False, upsert_key="id")
    got = decode_store(spark, out)
    assert got.count() == 50
    assert got.filter(F.col("s") == "v2").count() == 10


def test_zorder_layout_prunes_every_z_column(spark, tmp_path):
    """zorder_by (OPTIMIZE ZORDER BY): the Morton-interleaved write
    layout gives BOTH participating columns partially tight zone maps,
    so a range filter on EITHER column prunes chunk files — where a
    lexicographic sort_by=[k1] only ever prunes on k1. Results stay
    identical to the unsorted store (layout-only)."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    df = (spark.range(0, 60000)
          .select(F.col("id"),
                  F.pmod(F.col("id") * 7919, F.lit(60000)).alias("k1"),
                  F.pmod(F.col("id") * 104729, F.lit(60000)).alias("k2")))
    kw = dict(salt_key="id", num_pids=2, salt=1, chunk_rows=1000)
    plain_dir = str(tmp_path / "plain")
    lex_dir = str(tmp_path / "lex")
    z_dir = str(tmp_path / "z")
    encode_dataframe(df, plain_dir, **kw)
    encode_dataframe(df, lex_dir, sort_by=["k1"], **kw)
    encode_dataframe(df, z_dir, zorder_by=["k1", "k2"], **kw)
    f1 = [("k1", "<", 4000)]
    f2 = [("k2", "<", 4000)]
    n_all = len(prune_files(ChunkStore(plain_dir).manifest_table(), []))
    for flt in (f1, f2):
        pz = len(prune_files(ChunkStore(z_dir).manifest_table(), flt))
        pp = len(prune_files(ChunkStore(plain_dir).manifest_table(), flt))
        assert pz < pp, (flt, pz, pp)
        # z-order must beat the unsorted layout by a real margin on BOTH
        # columns (each z-column keeps ~sqrt of the domain per chunk)
        assert pz <= n_all // 2, (flt, pz, n_all)
    # the lexicographic store prunes k1 hard but k2 not at all
    lex_k2 = len(prune_files(ChunkStore(lex_dir).manifest_table(), f2))
    z_k2 = len(prune_files(ChunkStore(z_dir).manifest_table(), f2))
    assert z_k2 < lex_k2, (z_k2, lex_k2)
    # correctness: identical rows with and without the z layout
    for flt in (f1, f2):
        a = decode_store(spark, plain_dir, filters=flt)
        b = decode_store(spark, z_dir, filters=flt)
        assert a.count() == b.count() == 4000
        assert sorted(r.id for r in a.collect()) \
            == sorted(r.id for r in b.collect())


def test_zorder_types_nulls_and_guards(spark, tmp_path):
    """zorder_key handles string/timestamp columns and NULLs (sort as the
    column minimum); constant columns quantize to 0; bad inputs raise."""
    import datetime
    import pytest
    from omi_cpp_parquet_wide_record_spark.operators.zorder import (
        zorder_key,
    )
    from pyspark.sql import functions as F
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    df = spark.createDataFrame(
        [(None, None, None)]
        + [(f"w{i:03d}", base + datetime.timedelta(hours=i), float(i))
           for i in range(50)],
        "s string, t timestamp, v double")
    out = df.select(zorder_key(df, ["s", "t", "v"]).alias("z"))
    vals = [r.z for r in out.collect()]
    assert len(vals) == 51 and all(v is not None and v >= 0 for v in vals)
    # the all-NULL row interleaves three zero ordinals -> key 0
    assert min(vals) == 0
    # monotone inputs produce increasing keys overall (locality sanity)
    assert vals[1] < vals[-1]
    # constant column contributes 0 bits but doesn't break the key
    cdf = df.withColumn("v", F.lit(7.0))
    cout = cdf.select(zorder_key(cdf, ["t", "v"]).alias("z"))
    assert cout.count() == 51
    with pytest.raises(ValueError, match="2-4"):
        zorder_key(df, ["v"])
    with pytest.raises(ValueError, match="does not support"):
        adf = df.withColumn("a", F.array(F.lit(1)))
        zorder_key(adf, ["v", "a"])
    with pytest.raises(ValueError, match="mutually exclusive"):
        encode_dataframe(df, str(tmp_path / "x"), salt_key="v",
                         num_pids=2, sort_by=["v"], zorder_by=["v", "t"])


def test_compact_adopts_zorder(spark, tmp_path):
    """compact_store(zorder_by=...) rewrites an arrival-ordered store
    into the multi-column layout; rows identical, both columns prune."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        compact_store,
    )
    df = (spark.range(0, 30000)
          .select(F.col("id"),
                  F.pmod(F.col("id") * 7919, F.lit(30000)).alias("k1"),
                  F.pmod(F.col("id") * 104729, F.lit(30000)).alias("k2")))
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    encode_dataframe(df, src, salt_key="id", num_pids=2, salt=1,
                     chunk_rows=1000)
    compact_store(spark, src, dst, salt_key="id", num_pids=2,
                  zorder_by=["k1", "k2"], chunk_rows=1000)
    for flt in ([("k1", "<", 2000)], [("k2", "<", 2000)]):
        ps = len(prune_files(ChunkStore(src).manifest_table(), flt))
        pd_ = len(prune_files(ChunkStore(dst).manifest_table(), flt))
        assert pd_ < ps, (flt, pd_, ps)
    assert decode_store(spark, dst).count() == 30000
    assert sorted(r.id for r in decode_store(spark, dst).collect()) \
        == list(range(30000))


def test_startswith_prefix_pushdown(spark, tmp_path):
    """startswith filters prune via the [p, prefix_upper(p)) range on a
    url-sorted store, and the owrc DataSource pushes StringStartsWith
    into the same pruning; _prefix_upper handles the carry edge cases."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        _prefix_upper, prune_files,
    )
    assert _prefix_upper("abc") == "abd"
    assert _prefix_upper("ab\U0010FFFF") == "ac"
    assert _prefix_upper("\U0010FFFF") is None
    assert _prefix_upper("") is None
    df = spark.range(0, 8000).select(
        F.col("id"),
        F.concat(F.lit("https://"),
                 F.element_at(F.array(F.lit("alpha"), F.lit("beta"),
                                      F.lit("gamma"), F.lit("delta")),
                              (F.col("id") % 4 + 1).cast("int")),
                 F.lit(".example/"), F.col("id")).alias("url"))
    out = str(tmp_path / "store")
    encode_dataframe(df, out, salt_key="id", num_pids=2, salt=1,
                     chunk_rows=500, sort_by=["url"])
    m = ChunkStore(out).manifest_table()
    flt = [("url", "startswith", "https://beta.example/")]
    pruned = prune_files(m, flt)
    assert len(pruned) < len(prune_files(m, []))
    got = decode_store(spark, out, filters=flt)
    assert got.count() == 2000
    assert all(r.url.startswith("https://beta.example/")
               for r in got.collect())
    # DataSource path: .filter(startswith) prunes AND returns exact rows
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    spark.dataSource.register(OwrcDataSource)
    sdf = (spark.read.format("owrc").load(out)
           .filter(F.col("url").startswith("https://gamma.example/")))
    assert sdf.count() == 2000


def test_null_count_pruning(spark, tmp_path):
    """is_null / is_not_null prune on the manifest's per-chunk null
    counts: chunks with zero nulls can't serve IS NULL, all-null chunks
    (which carry no zone-map stats at all) can't serve IS NOT NULL —
    and both planning modes open the same files."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import prune_files
    # sorted by id so chunks are id-contiguous: v is NULL only for
    # id < 1000 -> the null rows concentrate in a few chunks
    df = spark.range(0, 8000).select(
        F.col("id"),
        F.when(F.col("id") >= 1000, F.col("id") * 3).alias("v"))
    out = str(tmp_path / "store")
    encode_dataframe(df, out, salt_key="id", num_pids=2, salt=1,
                     chunk_rows=500, sort_by=["id"])
    store = ChunkStore(out)
    snap = store.current_snapshot()
    m = store.manifest_table(snap)
    plan = D.ScanPlan.resolve(out)
    n_all = len(prune_files(m, []))
    for flt, want in ([("v", "is_null", None)], 1000), \
                     ([("v", "is_not_null", None)], 7000):
        pruned = prune_files(m, flt)
        assert len(pruned) < n_all, (flt, len(pruned), n_all)
        dist = sorted(r.chunk_file for r in
                      plan.shard_files(spark, flt).collect())
        assert pruned == dist, flt
        assert decode_store(spark, out, filters=flt).count() == want
    # DataSource pushdown: isNull()/isNotNull() reach the same pruning
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    spark.dataSource.register(OwrcDataSource)
    sdf = spark.read.format("owrc").load(out)
    assert sdf.filter(F.col("v").isNull()).count() == 1000
    assert sdf.filter(F.col("v").isNotNull()).count() == 7000


def test_rewrite_small_chunks_binpack(spark, tmp_path):
    """rewrite_small_chunks (Iceberg rewrite_data_files binpack): three
    streaming-sized commits fragment each pid into many small chunks; the
    in-place rewrite coalesces them under ONE pid-scoped rewrite commit —
    same rows, far fewer chunks, time travel intact, incremental readers
    skip the rewrite and still see the original appends."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        rewrite_small_chunks,
    )
    out = str(tmp_path / "store")
    for i in range(3):
        encode_dataframe(
            spark.range(i * 2000, (i + 1) * 2000).select(
                F.col("id"), (F.col("id") * 3).alias("v")),
            out, salt_key="id", num_pids=2, salt=1, chunk_rows=100,
            resume=False)
    store = ChunkStore(out)
    n0 = store.current_snapshot()["n"]
    res = rewrite_small_chunks(spark, out, target_rows=100000)
    assert res["rewritten_pids"], res
    assert res["chunks_after"] < res["chunks_before"] // 5, res
    snap = store.current_snapshot()
    assert snap["n"] == n0 + 1
    # live read: identical rows, both planning modes, same file set
    for planning in ("driver", "distributed"):
        got = decode_store(spark, out, planning=planning)
        assert got.count() == 6000
        assert sorted(r.id for r in got.collect()) == list(range(6000))
    m = store.manifest_table()
    drv = sorted(set(m.column("chunk_file").to_pylist()))
    # distributed planning must exclude the rewritten-away rows too
    dist = sorted(r.chunk_file for r in
                  D.ScanPlan.resolve(out).shard_files(spark, None).collect())
    assert drv == dist
    # time travel: pre-rewrite snapshot still reads the ORIGINAL layout
    old = decode_store(spark, out, snapshot=n0)
    assert old.count() == 6000
    # incremental read across the rewrite: only the later appends, no
    # duplicates from the rewrite manifest
    inc = decode_store(spark, out, since_snapshot=n0 - 1)
    assert sorted(r.id for r in inc.collect()) == list(range(4000, 6000))


def test_rewrite_materializes_deletes(spark, tmp_path):
    """Rewritten chunks carry the rewrite commit's sequence number, which
    EXEMPTS them from older equality deletes — so the rewrite must
    materialize those deletes into the bytes, and a delete committed
    AFTER the rewrite still applies."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows, rewrite_small_chunks,
    )
    out = str(tmp_path / "store")
    for i in range(2):
        encode_dataframe(
            spark.range(i * 500, (i + 1) * 500).select(
                F.col("id"), F.concat(F.lit("s"), F.col("id")).alias("s")),
            out, salt_key="id", num_pids=2, salt=1, chunk_rows=50,
            resume=False)
    delete_rows(out, spark.range(0, 100).select("id"), "id")
    assert decode_store(spark, out).count() == 900
    res = rewrite_small_chunks(spark, out, target_rows=100000)
    assert res["rewritten_pids"]
    got = decode_store(spark, out)
    assert got.count() == 900
    assert got.filter(F.col("id") < 100).count() == 0   # stays deleted
    # post-rewrite delete applies to the rewritten chunks
    delete_rows(out, spark.range(100, 150).select("id"), "id")
    assert decode_store(spark, out).count() == 850
    # re-insert after everything: visible (sequence scoping)
    encode_dataframe(spark.range(0, 10).select(
        F.col("id"), F.lit("new").alias("s")), out,
        salt_key="id", num_pids=2, salt=1, resume=False)
    assert decode_store(spark, out).count() == 860


def test_rewrite_then_gc_reclaims_old_chunks(spark, tmp_path):
    """After a pid-scoped rewrite, expire_snapshots(keep_last=1) reclaims
    the fragmented old chunk files (no retained snapshot serves those
    pids from them anymore); with the pre-rewrite snapshot retained they
    survive for time travel."""
    import os
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        rewrite_small_chunks,
    )
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    out = str(tmp_path / "store")
    for i in range(3):
        encode_dataframe(
            spark.range(i * 1000, (i + 1) * 1000).select(
                F.col("id"), (F.col("id") % 7).alias("g")),
            out, salt_key="id", num_pids=2, salt=1, chunk_rows=100,
            resume=False)
    store = ChunkStore(out)
    n_files_before = len(os.listdir(store.chunks_dir))
    rewrite_small_chunks(spark, out, target_rows=100000)
    # keep the pre-rewrite snapshot: old chunks must survive
    expire_snapshots(store, keep_last=2)
    assert decode_store(
        spark, out, snapshot=store.current_snapshot()["n"] - 1
    ).count() == 3000
    # keep only the live snapshot: fragmented originals get reclaimed
    rep = expire_snapshots(store, keep_last=1)
    assert len(rep["removed_orphan_chunks"]) > 0
    assert len(os.listdir(store.chunks_dir)) < n_files_before
    got = decode_store(spark, out)
    assert got.count() == 3000
    assert sorted(r.id for r in got.collect()) == list(range(3000))


def test_evolve_rename_and_drop(spark, tmp_path):
    """Schema evolution beyond add-column (Iceberg rename/drop as a
    metadata-only commit): pre-rename chunks resolve through column
    aliases at read time, filters on the new name still prune them,
    appends after the rename write the new name, time travel keeps the
    old names, and retired names can never come back."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema,
    )
    out = str(tmp_path / "store")
    df = spark.range(0, 2000).select(
        F.col("id"), (F.col("id") * 2).alias("a"),
        F.concat(F.lit("v"), F.col("id")).alias("b"))
    encode_dataframe(df, out, salt_key="id", num_pids=4, chunk_rows=100,
                     resume=False, sort_by=["id"])
    res = evolve_schema(out, rename={"a": "x"}, drop=["b"])
    assert res["schema"] == ["id", "x"]
    store = ChunkStore(out)
    n_evolved = store.current_snapshot()["n"]

    # live read resolves old chunks through aliases; dropped col is gone
    for planning in ("driver", "distributed"):
        got = decode_store(spark, out, planning=planning)
        assert got.columns == ["id", "x"]
        assert got.count() == 2000
        assert got.filter(F.col("x") != F.col("id") * 2).count() == 0

    # zone maps keep pruning on the NEW name for pre-rename chunks
    pruned = decode_store(spark, out, filters=[("x", "<", 100)])
    assert sorted(r.id for r in pruned.collect()) == list(range(50))
    files_all = set(store.manifest_table().column("chunk_file").to_pylist())
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    kept = prune_files(store.manifest_table(), [("x", "<", 100)])
    assert len(kept) < len(files_all)

    # append AFTER the rename: new chunks carry the new physical name
    encode_dataframe(
        spark.range(2000, 2500).select(
            F.col("id"), (F.col("id") * 2).alias("x")),
        out, salt_key="id", num_pids=4, resume=False)
    got = decode_store(spark, out)
    assert got.count() == 2500
    assert got.filter(F.col("x") != F.col("id") * 2).count() == 0

    # owrc DataSource read resolves aliases the same way
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    spark.dataSource.register(OwrcDataSource)
    sdf = spark.read.format("owrc").load(out)
    assert sorted(sdf.columns) == ["id", "x"]
    assert sdf.filter(F.col("x") != F.col("id") * 2).count() == 0

    # time travel: the pre-evolution snapshot keeps its names
    old = decode_store(spark, out, snapshot=n_evolved - 1)
    assert old.columns == ["id", "a", "b"]
    assert old.count() == 2000

    # retired names never come back (encode AND owrc write)
    with pytest.raises(ValueError, match="retired"):
        encode_dataframe(
            spark.range(0, 10).select(F.col("id"), F.lit(1).alias("a")),
            out, salt_key="id", resume=False)
    with pytest.raises(Exception, match="retired"):
        spark.range(0, 10).select(
            F.col("id"), F.lit(1).alias("b")
        ).write.format("owrc").mode("append").save(out)


def test_evolve_guards(spark, tmp_path):
    """Ambiguity guards: swaps, collisions with live or retired names,
    unknown columns, and dropping a live delete key are all rejected."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows, evolve_schema,
    )
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 200).select(
            F.col("id"), (F.col("id") % 5).alias("g"),
            F.concat(F.lit("s"), F.col("id")).alias("s")),
        out, salt_key="id", num_pids=2, resume=False)
    with pytest.raises(ValueError, match="collides"):
        evolve_schema(out, rename={"g": "s", "s": "g"})   # swap
    with pytest.raises(ValueError, match="collides"):
        evolve_schema(out, rename={"g": "id"})
    with pytest.raises(ValueError, match="not a live column"):
        evolve_schema(out, drop=["nope"])
    with pytest.raises(ValueError, match="nothing to do"):
        evolve_schema(out)
    delete_rows(out, spark.range(0, 5).select("id"), "id")
    with pytest.raises(ValueError, match="delete"):
        evolve_schema(out, drop=["id"])
    evolve_schema(out, rename={"s": "t"})
    with pytest.raises(ValueError, match="collides"):
        evolve_schema(out, rename={"g": "s"})   # retired name reuse


def test_evolve_delete_key_rename(spark, tmp_path):
    """A delete committed BEFORE a key rename still applies after it
    (the delete file keeps the physical name; readers resolve it), and
    deletes by the new name work on pre-rename chunks."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows, evolve_schema,
    )
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")),
        out, salt_key="k", num_pids=2, chunk_rows=100, resume=False)
    delete_rows(out, spark.range(0, 100).select(F.col("id").alias("k")),
                "k")
    evolve_schema(out, rename={"k": "key"})
    for planning in ("driver", "distributed"):
        got = decode_store(spark, out, planning=planning)
        assert got.columns == ["key", "v"]
        assert got.count() == 900
        assert got.filter(F.col("key") < 100).count() == 0
    # owrc source applies the pre-rename delete too
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    spark.dataSource.register(OwrcDataSource)
    sdf = spark.read.format("owrc").load(out)
    assert sdf.count() == 900
    # delete by the NEW name reaches pre-rename chunks
    delete_rows(out, spark.range(100, 150).select(F.col("id").alias("key")),
                "key")
    assert decode_store(spark, out).count() == 850


def test_evolve_then_rewrite_migrates_names(spark, tmp_path):
    """The binpack rewrite physically migrates pre-rename chunks to the
    live names (and sheds dropped columns): after rewrite, the chunk
    footers carry only live names and reads are unchanged."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema, rewrite_small_chunks,
    )
    out = str(tmp_path / "store")
    for i in range(2):
        encode_dataframe(
            spark.range(i * 500, (i + 1) * 500).select(
                F.col("id"), (F.col("id") * 2).alias("a"),
                F.lit("junk").alias("z")),
            out, salt_key="id", num_pids=2, chunk_rows=50, resume=False)
    evolve_schema(out, rename={"a": "x"}, drop=["z"])
    res = rewrite_small_chunks(spark, out, target_rows=100000)
    assert res["rewritten_pids"]
    store = ChunkStore(out)
    # every live chunk footer now carries live names only
    m = store.manifest_table()
    for f in set(m.column("chunk_file").to_pylist()):
        t = read_chunk_file(os.path.join(store.chunks_dir, f))
        assert sorted(t.schema.names) == ["id", "x"], f
    got = decode_store(spark, out)
    assert got.count() == 1000
    assert got.filter(F.col("x") != F.col("id") * 2).count() == 0


def test_tags_ref_reads_and_gc_retention(spark, tmp_path):
    """Snapshot tags (Iceberg table refs): named immutable pointers into
    history, readable via decode_store(ref=) and the owrc DataSource,
    retained by GC regardless of keep_last until untagged."""
    import os
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    out = str(tmp_path / "store")
    for i in range(3):
        encode_dataframe(
            spark.range(i * 1000, (i + 1) * 1000).select(
                F.col("id"), (F.col("id") * 2).alias("v")),
            out, salt_key="id", num_pids=2, chunk_rows=100, resume=False)
    store = ChunkStore(out)
    store.create_tag("v1", snapshot=0)
    store.create_tag("audit-2026.08")        # live head
    with pytest.raises(ValueError, match="already exists"):
        store.create_tag("v1")
    with pytest.raises(ValueError, match="invalid tag name"):
        store.create_tag("bad name!")

    # ref reads resolve to the tagged snapshot
    assert decode_store(spark, out, ref="v1").count() == 1000
    assert decode_store(spark, out, ref="audit-2026.08").count() == 3000
    assert decode_store(spark, out, ref="main").count() == 3000
    with pytest.raises(KeyError, match="no ref"):
        decode_store(spark, out, ref="nope").count()
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    spark.dataSource.register(OwrcDataSource)
    sdf = spark.read.format("owrc").option("ref", "v1").load(out)
    assert sdf.count() == 1000

    # GC keeps the tagged snapshot 0 (and its chunks) despite keep_last=1
    expire_snapshots(store, keep_last=1)
    assert decode_store(spark, out, ref="v1").count() == 1000
    # untag releases it: the next GC expires snapshot 0
    store.remove_tag("v1")
    rep = expire_snapshots(store, keep_last=1)
    assert "snapshot-00000.json" in rep["removed_snapshots"]
    with pytest.raises(FileNotFoundError):
        decode_store(spark, out, snapshot=0).count()
    assert decode_store(spark, out).count() == 3000


def test_rollback_restores_state_with_history(spark, tmp_path):
    """rollback_to commits a NEW snapshot with the target's exact content
    (manifests, deletes, schema, aliases) — one atomic pointer flip, the
    undone commits stay time-travelable, and appends after the rollback
    continue from the restored state."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows, evolve_schema,
    )
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 1000).select(F.col("id"), (F.col("id") % 7)
                                    .alias("g")),
        out, salt_key="id", num_pids=2, chunk_rows=100, resume=False)
    # n=1: delete, n=2: evolve rename
    delete_rows(out, spark.range(0, 100).select("id"), "id")
    evolve_schema(out, rename={"g": "grp"})
    store = ChunkStore(out)
    assert decode_store(spark, out).count() == 900
    assert decode_store(spark, out).columns == ["id", "grp"]

    # roll all the way back to n=0: delete undone, old names restored
    snap = store.rollback_to(0)
    assert snap["n"] == 3 and snap["rollback_of"] == 0
    got = decode_store(spark, out)
    assert got.count() == 1000
    assert got.columns == ["id", "g"]
    # history intact: the undone snapshots still read
    assert decode_store(spark, out, snapshot=1).count() == 900
    assert decode_store(spark, out, snapshot=2).columns == ["id", "grp"]
    # appends continue from the restored state (old names live again)
    encode_dataframe(
        spark.range(1000, 1200).select(F.col("id"), (F.col("id") % 7)
                                       .alias("g")),
        out, salt_key="id", num_pids=2, resume=False)
    assert decode_store(spark, out).count() == 1200
    # a delete after a rollback is not itself a rollback
    store.rollback_to(0)
    delete_rows(out, spark.range(0, 10).select("id"), "id")
    from omi_cpp_parquet_wide_record_spark.operators.metadata import (
        metadata_table,
    )
    hist = metadata_table(spark, out, "snapshots").orderBy("n").collect()
    assert hist[-2]["rollback_of"] == 0
    assert hist[-1]["rollback_of"] is None


def test_metadata_tables(spark, tmp_path):
    """Iceberg-style metadata tables: snapshots/refs/deletes are commit
    metadata, files/partitions read the manifests distributed; the live
    files view hides rewritten-away rows and canonicalizes renamed
    columns, and ref/snapshot pins read historical views."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows, evolve_schema, rewrite_small_chunks,
    )
    from omi_cpp_parquet_wide_record_spark.operators.metadata import (
        metadata_table,
    )
    out = str(tmp_path / "store")
    for i in range(2):
        encode_dataframe(
            spark.range(i * 1000, (i + 1) * 1000).select(
                F.col("id"), (F.col("id") * 2).alias("a")),
            out, salt_key="id", num_pids=2, chunk_rows=100, resume=False)
    delete_rows(out, spark.range(0, 50).select("id"), "id")
    evolve_schema(out, rename={"a": "x"})
    store = ChunkStore(out)
    store.create_tag("t0", snapshot=0)

    snaps = metadata_table(spark, out, "snapshots").collect()
    assert [r.n for r in snaps] == [0, 1, 2, 3]
    assert [r.is_current for r in snaps] == [False] * 3 + [True]

    refs = metadata_table(spark, out, "refs").collect()
    assert [(r.name, r.type, r.snapshot) for r in refs] == [("t0", "tag", 0)]

    dels = metadata_table(spark, out, "deletes").collect()
    assert len(dels) == 1 and dels[0].key == "id" and dels[0].n == 2

    files = metadata_table(spark, out, "files")
    # live view canonicalizes the renamed column
    assert sorted(r["column"] for r in
                  files.select("column").distinct().collect()) == \
        ["id", "x"]
    # per-column row totals equal the table size
    tot = {r["column"]: r.s for r in
           files.groupBy("column").agg(F.sum("rows").alias("s")).collect()}
    assert tot == {"id": 2000, "x": 2000}
    # commit_n distinguishes the two appends
    assert sorted(r.commit_n for r in
                  files.select("commit_n").distinct().collect()) == [0, 1]
    # a tagged (pre-rename) snapshot keeps its physical names
    f0 = metadata_table(spark, out, "files", ref="t0")
    assert sorted(r["column"] for r in
                  f0.select("column").distinct().collect()) == ["a", "id"]

    parts = metadata_table(spark, out, "partitions").collect()
    assert sum(r.rows for r in parts) == 2000
    assert all(r.chunks >= 2 for r in parts)

    # after a binpack rewrite the files view shrinks to the live chunks
    n_before = files.count()
    rewrite_small_chunks(spark, out, target_rows=100000)
    n_after = metadata_table(spark, out, "files").count()
    assert n_after < n_before // 5
    assert {r["column"]: r.s for r in
            metadata_table(spark, out, "files").groupBy("column")
            .agg(F.sum("rows").alias("s")).collect()} == \
        {"id": 1950, "x": 1950}   # rewrite materialized the delete


def test_exact_partition_key_matches_spark_hash(spark):
    """The encode shuffle's exact pid routing relies on a driver-side
    replica of Spark's Murmur3 int hash (preimage search): pin
    bit-equality against F.hash over negatives and large ints, and pin
    the resulting layout — every partition holds its exact pid share."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        PID_COL, _exact_partition_key, _spark_murmur3_int32,
    )
    vals = np.array([0, 1, 2, 41, 42, -1, -42, 2**31 - 1, -2**31,
                     123456789, -987654321], dtype=np.int64)
    got = _spark_murmur3_int32(vals)
    exp = spark.createDataFrame(
        [(int(v),) for v in vals], "k int").select(
        F.hash("k").alias("h")).collect()
    assert [int(x) for x in got] == [r.h for r in exp]

    # layout: 123 pids into 50 partitions -> every partition holds
    # ceil/floor(123/50) pids, none empty, zero collisions beyond that
    num_pids, T = 123, 50
    key = _exact_partition_key(T)
    df = spark.range(0, num_pids * 4).select(
        (F.col("id") % num_pids).cast("int").alias(PID_COL))

    def probe(batches):
        pids = set()
        for b in batches:
            pids.update(b.column(PID_COL).to_pylist())
        yield pa.RecordBatch.from_pydict({"np": [len(pids)]})
    parts = [r.np for r in
             df.repartition(T, key).mapInArrow(probe, "np long").collect()]
    assert len(parts) == T and min(parts) >= 123 // 50
    assert max(parts) <= -(-123 // 50)


@pytest.mark.parametrize("seed", [7, 23])
def test_store_lifecycle_model_fuzz(spark, tmp_path, seed):
    """Model-based wall over the whole table-lifecycle surface: a seeded
    random sequence of appends, upserts, equality deletes, renames,
    drops, binpack rewrites, and rollbacks runs against the store AND a
    driver-side model; the decoded table must equal the model after
    every step, and both planning modes + GC must agree at the end.
    This is the interaction net for the r5 features — any pairwise
    composition bug (e.g. a delete keyed on a since-renamed column, a
    rewrite over aliased chunks, a rollback across an evolution)
    surfaces as a model divergence."""
    import random
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows, evolve_schema, rewrite_small_chunks,
    )
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    rng = random.Random(seed)
    out = str(tmp_path / "store")

    # model: rows[k] = {col: val}; cols = live schema (ordered)
    cols = ["k", "a", "b"]
    rows: dict[int, dict] = {}
    history: dict[int, tuple[list, dict]] = {}   # snapshot n -> (cols, rows)
    next_key = 0
    fresh = iter(f"c{i}" for i in range(100))

    def mkrow(k):
        return {c: (k if c == "k" else hash((c, k)) % 10007)
                for c in cols}

    def batch_df(ks, as_cols):
        data = [tuple(mkrow(k)[c] for c in as_cols) for k in ks]
        return spark.createDataFrame(
            data, ", ".join(f"{c} long" for c in as_cols))

    def snap_model():
        # keyed by the store's ACTUAL snapshot number (a no-op rewrite
        # commits nothing, so list indexing would drift)
        n = ChunkStore(out).current_snapshot()["n"]
        history[n] = (list(cols), {k: dict(v) for k, v in rows.items()})

    def verify(planning="driver"):
        got = decode_store(spark, out, planning=planning)
        assert got.columns == cols, (got.columns, cols)
        have = sorted((tuple(r[c] for c in cols)
                       for r in got.collect()))
        want = sorted(tuple(v[c] for c in cols) for v in rows.values())
        assert have == want, f"divergence at op {opi} ({op})"

    # op 0 is always an append so the store exists
    ops = ["append"]
    ops += [rng.choice(["append", "upsert", "delete", "rename", "drop",
                        "rewrite", "append", "upsert", "rollback"])
           for _ in range(12)]
    for opi, op in enumerate(ops):
        if op == "append":
            ks = list(range(next_key, next_key + rng.randint(50, 150)))
            next_key = ks[-1] + 1
            encode_dataframe(batch_df(ks, cols), out, salt_key="k",
                             num_pids=3, chunk_rows=40, resume=False)
            for k in ks:
                rows[k] = mkrow(k)
            snap_model()
        elif op == "upsert":
            if not rows:
                continue
            ks = rng.sample(sorted(rows), min(30, len(rows)))
            encode_dataframe(batch_df(ks, cols), out, salt_key="k",
                             num_pids=3, resume=False, upsert_key="k")
            for k in ks:
                rows[k] = mkrow(k)
            snap_model()
        elif op == "delete":
            if not rows:
                continue
            ks = rng.sample(sorted(rows), min(20, len(rows)))
            delete_rows(out, spark.createDataFrame(
                [(k,) for k in ks], "k long"), "k")
            for k in ks:
                rows.pop(k, None)
            snap_model()
        elif op == "rename":
            src = rng.choice([c for c in cols if c != "k"])
            dst = next(fresh)
            evolve_schema(out, rename={src: dst})
            cols[cols.index(src)] = dst
            for v in rows.values():
                v[dst] = v.pop(src)
            snap_model()
        elif op == "drop":
            cand = [c for c in cols if c != "k"]
            if len(cand) < 2:
                continue           # keep at least one value column
            src = rng.choice(cand)
            evolve_schema(out, drop=[src])
            cols.remove(src)
            for v in rows.values():
                v.pop(src, None)
            snap_model()
        elif op == "rewrite":
            rewrite_small_chunks(spark, out, target_rows=100000)
            snap_model()
        elif op == "rollback":
            cur = ChunkStore(out).current_snapshot()["n"]
            cand_n = [n for n in history if n < cur]
            if not cand_n:
                continue
            n = rng.choice(cand_n)
            ChunkStore(out).rollback_to(n)
            c0, r0 = history[n]
            cols = list(c0)
            rows = {k: dict(v) for k, v in r0.items()}
            snap_model()
        if opi % 3 == 0 or opi == len(ops) - 1:
            verify()
    verify("driver")
    verify("distributed")
    # GC keeping only the live snapshot must not change the live view
    expire_snapshots(ChunkStore(out), keep_last=1)
    verify("driver")


def test_branch_write_audit_publish(spark, tmp_path):
    """Write-audit-publish: commits staged on a branch are invisible to
    main readers, auditable via ref reads, survive GC, and publish to
    main in one atomic fast-forward; a diverged main rejects the
    fast-forward instead of discarding commits."""
    from pyspark.sql import functions as F
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 1000).select(F.col("id"), (F.col("id") * 2)
                                    .alias("v")),
        out, salt_key="id", num_pids=2, resume=False)
    store = ChunkStore(out)

    # W: stage two commits on the branch — main stays at 1000 rows
    for i in range(2):
        encode_dataframe(
            spark.range(1000 + i * 500, 1000 + (i + 1) * 500).select(
                F.col("id"), (F.col("id") * 2).alias("v")),
            out, salt_key="id", num_pids=2, resume=False, branch="audit")
    assert decode_store(spark, out).count() == 1000
    # A: audit the staged state through the ref (decode + owrc)
    assert decode_store(spark, out, ref="audit").count() == 2000
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    spark.dataSource.register(OwrcDataSource)
    assert spark.read.format("owrc").option("ref", "audit").load(out) \
        .count() == 2000
    # GC with keep_last=1 must retain the unpublished branch lineage
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    expire_snapshots(store, keep_last=1)
    assert decode_store(spark, out, ref="audit").count() == 2000
    # P: one atomic pointer flip
    rep = store.fast_forward("audit")
    assert decode_store(spark, out).count() == 2000
    assert rep["published"] == store.current_snapshot()["n"]

    # divergence guard: main advances past the fork -> publish rejected
    encode_dataframe(
        spark.range(2000, 2100).select(F.col("id"), (F.col("id") * 2)
                                       .alias("v")),
        out, salt_key="id", num_pids=2, resume=False, branch="audit2")
    encode_dataframe(
        spark.range(3000, 3100).select(F.col("id"), (F.col("id") * 2)
                                       .alias("v")),
        out, salt_key="id", num_pids=2, resume=False)   # main moves
    with pytest.raises(ValueError, match="not an ancestor"):
        store.fast_forward("audit2")
    store.drop_branch("audit2")
    with pytest.raises(KeyError):
        store.fast_forward("audit2")
    # name hygiene: branch/tag namespaces are disjoint, 'main' reserved
    store.create_tag("v9")
    with pytest.raises(ValueError, match="collides"):
        encode_dataframe(
            spark.range(0, 10).select(F.col("id"), F.lit(1).alias("v")),
            out, salt_key="id", resume=False, branch="v9")
    with pytest.raises(ValueError, match="collides"):
        store.create_tag("main")


def test_branch_upsert_and_resume_read_branch_head(spark, tmp_path):
    """Branch commits stage against the BRANCH head: an upsert on the
    branch replaces rows staged there (not just main's), and the
    branch's own lineage carries the equality delete."""
    from pyspark.sql import functions as F
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 100).select(F.col("id"),
                                   F.lit("old").alias("s")),
        out, salt_key="id", num_pids=2, resume=False)
    encode_dataframe(
        spark.range(100, 200).select(F.col("id"),
                                     F.lit("staged").alias("s")),
        out, salt_key="id", num_pids=2, resume=False, branch="b")
    # upsert on the branch replaces keys from BOTH prior commits
    encode_dataframe(
        spark.range(50, 150).select(F.col("id"),
                                    F.lit("new").alias("s")),
        out, salt_key="id", num_pids=2, resume=False, branch="b",
        upsert_key="id")
    got = {r.id: r.s for r in
           decode_store(spark, out, ref="b").collect()}
    assert len(got) == 200
    assert got[49] == "old" and got[50] == "new"
    assert got[149] == "new" and got[150] == "staged"
    # main still untouched
    assert decode_store(spark, out).count() == 100
    ChunkStore(out).fast_forward("b")
    assert decode_store(spark, out).count() == 200


def test_concurrent_commits_serialize_no_lost_update(tmp_path):
    """The commit lock: N processes committing manifest shards
    concurrently must ALL land in the final lineage (before the lock,
    the read-modify-write race on `_current` silently dropped the
    losers' commits). Pure metadata — no Spark session needed."""
    import multiprocessing as mp
    import pyarrow as pa
    out = str(tmp_path / "store")
    schema = pa.schema([("k", pa.int64())])

    def one_commit(i):
        store = ChunkStore(out)
        store.commit(_one_chunk_shard(store, i), schema, f"r{i}",
                     new_pids={i})

    procs = [mp.Process(target=one_commit, args=(i,)) for i in range(8)]
    [p.start() for p in procs]
    [p.join() for p in procs]
    assert all(p.exitcode == 0 for p in procs)
    store = ChunkStore(out)
    snap = store.current_snapshot()
    # every commit present exactly once, n strictly sequential
    assert len(snap["manifests"]) == 8
    assert sorted(store.committed_pids()) == list(range(8))
    assert snap["n"] == 7
    assert sorted(s["n"] for s in store.snapshots()) == list(range(8))
    # the lock file is released
    import os
    assert not os.path.exists(os.path.join(out, "_commit.lock"))


_KV = pa.schema([("k", pa.int64()), ("v", pa.int64())])


def _one_chunk_shard(store: ChunkStore, pid: int) -> list[str]:
    """Write a manifest shard naming one chunk of ``pid`` into ``store``
    and return the shard names to commit (metadata-only stores: the chunk
    file itself is never read)."""
    import uuid

    row = {f.name: [None] for f in MANIFEST_SCHEMA}
    row.update({"chunk_file": [f"c{pid}.owrc"], "pid": [pid], "seq": [0],
                "column": ["k"], "codec": ["plain"], "params": ["{}"],
                "rows": [1], "nulls": [0], "bytes_in": [8],
                "bytes_out": [8], "offset": [0], "length": [8],
                "sha256": ["x"], "run_id": [f"r{pid}"]})
    name = f"manifest-shard-p{pid}-{uuid.uuid4().hex[:8]}.parquet"
    pq.write_table(pa.table(row, schema=MANIFEST_SCHEMA),
                   os.path.join(store.create().manifests_dir, name))
    return [name]


@pytest.mark.parametrize("mutation", ["append", "branch", "delete",
                                      "evolve", "rollback", "fast_forward"])
def test_snapshot_crash_before_flip_keeps_head(tmp_path, monkeypatch,
                                               mutation):
    """A crash after the snapshot JSON is written but before `_current`
    or the branch ref moves leaves every head where it was; the next
    commit numbers past the orphaned JSON and GC removes it. Pure
    metadata — no Spark session needed."""
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema,
    )
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import _snapshot_n
    out = str(tmp_path / "store")
    store = ChunkStore(out)
    store.commit(_one_chunk_shard(store, 0), _KV, "r0", new_pids={0})
    store.commit(_one_chunk_shard(store, 1), _KV, "r1", new_pids={1})
    if mutation == "fast_forward":
        store.commit(_one_chunk_shard(store, 2), _KV, "r2", new_pids={2},
                     branch="b")
    head = store.current_snapshot()["snapshot_id"]
    refs = store.refs()
    before = set(store._snapshot_names())

    class Crash(RuntimeError):
        pass

    def crash(*args, **kwargs):
        raise Crash

    monkeypatch.setattr(ChunkStore, "_set_current", crash)
    monkeypatch.setattr(ChunkStore, "_write_refs", crash)
    mutate = {
        "append": lambda: store.commit(_one_chunk_shard(store, 3), _KV,
                                       "r3", new_pids={3}),
        "branch": lambda: store.commit(_one_chunk_shard(store, 3), _KV,
                                       "r3", new_pids={3}, branch="b2"),
        "delete": lambda: store.commit_deletes(
            pa.table({"k": pa.array([0], pa.int64())}), "k", "rd"),
        "evolve": lambda: evolve_schema(out, rename={"v": "w"}),
        "rollback": lambda: store.rollback_to(0),
        "fast_forward": lambda: store.fast_forward("b"),
    }[mutation]
    with pytest.raises(Crash):
        mutate()
    monkeypatch.undo()

    assert store.current_snapshot()["snapshot_id"] == head
    assert store.refs() == refs
    orphans = set(store._snapshot_names()) - before
    assert len(orphans) == (0 if mutation == "fast_forward" else 1)
    newest = max(_snapshot_n(name) for name in before | orphans)
    assert all(_snapshot_n(name) == newest for name in orphans)
    snap = store.commit(_one_chunk_shard(store, 4), _KV, "r4",
                        new_pids={4})
    assert snap["n"] == newest + 1
    rep = expire_snapshots(store, keep_last=1)
    assert orphans <= set(rep["removed_snapshots"])
    assert not orphans & set(store._snapshot_names())


def test_snapshots_order_by_commit_number_past_99999(tmp_path):
    """History is ordered by commit number, not file name: the 05d
    padding overflows at 100000, where text order puts it first."""
    import json
    out = str(tmp_path / "store")
    store = ChunkStore(out)
    store.commit(_one_chunk_shard(store, 0), _KV, "r0", new_pids={0})
    for n in (99999, 100000):
        with open(os.path.join(store.snapshots_dir,
                               f"snapshot-{n:05d}.json"), "w") as f:
            json.dump({"n": n, "manifests": [], "committed_pids": []}, f)
    assert [s["n"] for s in store.snapshots()] == [0, 99999, 100000]
    assert store._next_n() == 100001


def test_snapshot_commit_removes_broken_stale_lock(tmp_path):
    """A commit that breaks a crashed holder's lock removes the renamed
    lock file itself: no `_commit.lock*` debris remains."""
    import time
    out = str(tmp_path / "store")
    store = ChunkStore(out).create()
    lock = os.path.join(out, "_commit.lock")
    with open(lock, "w") as f:
        f.write("crashed-holder")
    hour_ago = time.time() - 3600
    os.utime(lock, (hour_ago, hour_ago))
    store.commit(_one_chunk_shard(store, 0), _KV, "r0", new_pids={0})
    assert store.current_snapshot()["n"] == 0
    assert not [f for f in os.listdir(out) if f.startswith("_commit.lock")]


def test_delete_after_branch_stage_no_clobber(spark, tmp_path):
    """commit_deletes shares the global commit-number sequence and the
    commit lock: with a branch-staged snapshot at n=1, a main-side
    delete must take n=2 — the old parent.n+1 numbering os.replace()d
    the staged snapshot file, destroying the branch commit."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        delete_rows,
    )
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 200).select(F.col("id"), (F.col("id") * 2)
                                   .alias("v")),
        out, salt_key="id", num_pids=2, resume=False)
    encode_dataframe(
        spark.range(200, 300).select(F.col("id"), (F.col("id") * 2)
                                     .alias("v")),
        out, salt_key="id", num_pids=2, resume=False, branch="b")
    delete_rows(out, spark.range(0, 50).select("id"), "id")
    store = ChunkStore(out)
    assert store.current_snapshot()["n"] == 2       # NOT 1
    assert decode_store(spark, out).count() == 150
    # the staged branch commit survived intact
    assert decode_store(spark, out, ref="b").count() == 300
    # and main genuinely diverged (the delete), so the ancestry guard
    # correctly refuses to publish the now-stale branch
    with pytest.raises(ValueError, match="not an ancestor"):
        store.fast_forward("b")


def test_rewrite_covers_chunks_missing_first_column(spark, tmp_path):
    """Rewrite selection must enumerate chunk FILES per pid, not rows of
    one reference column: chunks lacking that column (appended after a
    drop evolution) were previously omitted from the rewrite while
    pid_rewrites hid their rows — silent row loss."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        evolve_schema, rewrite_small_chunks,
    )
    out = str(tmp_path / "store")
    # 'a' first so it becomes the old code's reference column
    encode_dataframe(
        spark.range(0, 500).select((F.col("id") * 3).alias("a"),
                                   F.col("id").alias("k")),
        out, salt_key="k", num_pids=2, chunk_rows=50, resume=False)
    evolve_schema(out, drop=["a"])
    # post-drop chunks carry only k — no 'a' rows in their manifests
    encode_dataframe(
        spark.range(500, 1000).select(F.col("id").alias("k")),
        out, salt_key="k", num_pids=2, chunk_rows=50, resume=False)
    assert decode_store(spark, out).count() == 1000
    res = rewrite_small_chunks(spark, out, target_rows=100000)
    assert res["rewritten_pids"]
    got = decode_store(spark, out)
    assert got.count() == 1000
    assert sorted(r.k for r in got.collect()) == list(range(1000))
    # partitions metadata agrees (per-chunk row counting)
    from omi_cpp_parquet_wide_record_spark.operators.metadata import (
        metadata_table,
    )
    parts = metadata_table(spark, out, "partitions").collect()
    assert sum(r.rows for r in parts) == 1000


def test_commit_cas_rejects_moved_head(spark, tmp_path):
    """expected_parent_id is the optimistic-concurrency check: a commit
    derived from a stale head fails loudly instead of clobbering."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
        CommitConflict,
    )
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 100).select(F.col("id"), (F.col("id") % 3)
                                   .alias("g")),
        out, salt_key="id", num_pids=2, resume=False)
    store = ChunkStore(out)
    stale_id = store.current_snapshot()["snapshot_id"]
    # head moves
    encode_dataframe(
        spark.range(100, 200).select(F.col("id"), (F.col("id") % 3)
                                     .alias("g")),
        out, salt_key="id", num_pids=2, resume=False)
    schema = store.arrow_schema()
    with pytest.raises(CommitConflict, match="head moved"):
        store.commit([], schema, "r-cas", new_pids=set(),
                     expected_parent_id=stale_id)
    # matching id commits fine
    store.commit([], schema, "r-cas2", new_pids=set(),
                 expected_parent_id=store.current_snapshot()["snapshot_id"])


def test_gc_keep_last_counts_main_lineage_only(spark, tmp_path):
    """keep_last retention is per MAIN lineage: branch-staged snapshots
    share the global commit numbering, so 'newest K by n' used to evict
    main-history snapshots the operator asked to keep."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    out = str(tmp_path / "store")
    for i in range(3):      # main n = 0, 1, 2
        encode_dataframe(
            spark.range(i * 100, (i + 1) * 100).select(
                F.col("id"), (F.col("id") * 2).alias("v")),
            out, salt_key="id", num_pids=2, resume=False)
    for i in range(2):      # branch n = 3, 4
        encode_dataframe(
            spark.range(1000 + i * 100, 1000 + (i + 1) * 100).select(
                F.col("id"), (F.col("id") * 2).alias("v")),
            out, salt_key="id", num_pids=2, resume=False, branch="b")
    expire_snapshots(ChunkStore(out), keep_last=2)
    # the 2 newest MAIN snapshots (1, 2) survive for time travel
    assert decode_store(spark, out, snapshot=1).count() == 200
    assert decode_store(spark, out, snapshot=2).count() == 300
    with pytest.raises(FileNotFoundError):
        decode_store(spark, out, snapshot=0).count()
    # the staged branch is untouched
    assert decode_store(spark, out, ref="b").count() == 500


def test_incomparable_filter_literal_raises_value_error(spark, tmp_path):
    """A filter literal Arrow cannot compare with its column raises a
    ``ValueError`` naming the column, op and literal type from
    ``decode_store`` on both planning modes, and the owrc reader hands
    such a filter back to Spark instead of pushing it."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import EqualTo, GreaterThan, In
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcReader,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 300).select(
        F.col("id"), F.concat(F.lit("s"), F.col("id")).alias("s")),
        out, salt_key="id", num_pids=3)
    bad = [("s", "==", 1), ("s", ">", 1), ("s", "in", [1, 2])]
    for planning in ("driver", "distributed"):
        for c, op, v in bad:
            with pytest.raises(ValueError, match=rf"'s'.*'{op}'.*int.*"
                               r"column 's' of type string"):
                decode_store(spark, out, filters=[(c, op, v)],
                             planning=planning)
        assert decode_store(spark, out, filters=[("s", "==", "s7")],
                            planning=planning).count() == 1
    reader = OwrcReader(decode_store(spark, out).schema, {"path": out})
    pushed = [EqualTo(("s",), 1), GreaterThan(("s",), 1), In(("s",), (1, 2)),
              EqualTo(("s",), "s7")]
    assert list(reader.pushFilters(pushed)) == pushed[:3]
    assert reader._filters == [("s", "==", "s7")]


def test_unknown_filter_column_raises_value_error(spark, tmp_path):
    """A filter on a column the store does not have raises a
    ``ValueError`` naming the column from ``decode_store`` on both
    planning modes (pyarrow's ``KeyError`` before), and the owrc reader
    hands such a filter back to Spark instead of pushing it."""
    from pyspark.sql.datasource import EqualTo
    from omi_cpp_parquet_wide_record_spark.operators.decode import _row_mask
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcReader,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 100), out, salt_key="id", num_pids=2)
    t = pa.table({"id": [1, 2, 3]})
    for f in [("zz", "==", 1), ("zz#len", ">", 0), ("zz", "is_null", None)]:
        with pytest.raises(ValueError, match="no column 'zz'"):
            _row_mask(t, [f])
        for planning in ("driver", "distributed"):
            with pytest.raises(ValueError, match="no column 'zz'"):
                decode_store(spark, out, filters=[f], planning=planning)
    reader = OwrcReader(decode_store(spark, out).schema, {"path": out})
    pushed = [EqualTo(("zz",), 1), EqualTo(("id",), 7)]
    assert list(reader.pushFilters(pushed)) == pushed[:1]
    assert reader._filters == [("id", "==", 7)]


def test_store_recreated_at_same_path_reads_new_rows(spark, tmp_path,
                                                     monkeypatch):
    """A store deleted and re-encoded with other rows at the same path
    reads back the new rows on every read path, though the old store's
    manifest shards were read (and cached) first."""
    import shutil
    from pyspark.sql import functions as F
    out = str(tmp_path / "store")

    def reads():
        return decode_paths(monkeypatch, lambda: decode_store(spark, out)) \
            + [decode_store(spark, out, planning="distributed")]

    encode_dataframe(spark.range(0, 300).select(
        F.col("id"), (F.col("id") * 2).alias("v")), out, salt_key="id",
        num_pids=3)
    assert [r.count() for r in reads()] == [300] * 3
    shutil.rmtree(out)
    encode_dataframe(spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") * 3).alias("v")), out, salt_key="id",
        num_pids=3)
    want = [(i, 3 * i) for i in range(1000, 1100)]
    for r in reads():
        assert sorted(map(tuple, r.collect())) == want


def test_shard_cache_sees_rewritten_and_truncated_shards(tmp_path):
    """The manifest shard cache keys on the file's identity: a shard
    overwritten in place with other rows, or replaced by a rename, reads
    anew, and a truncated one raises. Pure metadata, no Spark session."""
    out = str(tmp_path / "store")
    store = ChunkStore(out)
    [name] = _one_chunk_shard(store, 0)
    store.commit([name], _KV, "r0", new_pids={0})
    path = os.path.join(store.manifests_dir, name)

    def pids():
        return store.manifest_table().column("pid").to_pylist()

    assert pids() == pids() == [0]
    row = pq.read_table(path)

    def with_pid(p):
        return row.set_column(1, "pid", pa.array([p], pa.int32()))

    pq.write_table(pa.concat_tables([row, with_pid(7)]), path)
    assert pids() == [0, 7]
    pq.write_table(with_pid(5), path + ".tmp")
    os.replace(path + ".tmp", path)
    assert pids() == [5]
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    with pytest.raises(pa.ArrowInvalid):
        store.manifest_table()


def test_shard_cache_evicts_least_recently_used(tmp_path, monkeypatch):
    """The shard cache stays within ``SHARD_CACHE_BYTES``, dropping the
    least recently read shard first, and keeps no shard larger than the
    bound."""
    from collections import OrderedDict
    from omi_cpp_parquet_wide_record_spark.plans import snapshot as S
    store = ChunkStore(str(tmp_path / "store"))
    paths = [os.path.abspath(os.path.join(
        store.manifests_dir, _one_chunk_shard(store, p)[0]))
        for p in range(4)]
    one = max(pq.read_table(p).nbytes for p in paths)
    monkeypatch.setattr(S, "_SHARDS", OrderedDict())
    monkeypatch.setattr(S, "_shards_bytes", 0)
    monkeypatch.setattr(S, "SHARD_CACHE_BYTES", 2 * one + one // 2)

    def cached():
        assert S._shards_bytes <= S.SHARD_CACHE_BYTES
        return [key[0] for key in S._SHARDS]

    for p in (0, 1, 0, 2):
        S.read_shard(paths[p])
    assert cached() == [paths[0], paths[2]]
    assert S.read_shard(paths[3]).column("pid").to_pylist() == [3]
    assert cached() == [paths[2], paths[3]]
    monkeypatch.setattr(S, "SHARD_CACHE_BYTES", one // 2)
    S.read_shard(paths[1])
    assert cached() == []


def test_shard_cache_byte_count_under_threads(tmp_path, monkeypatch):
    """Threads reading shards through a cache too small for all of them
    leave its byte count equal to what it holds and within the bound."""
    import sys
    import threading
    from collections import OrderedDict
    from omi_cpp_parquet_wide_record_spark.plans import snapshot as S
    store = ChunkStore(str(tmp_path / "store"))
    paths = [os.path.join(store.manifests_dir, _one_chunk_shard(store, p)[0])
             for p in range(6)]
    one = max(pq.read_table(p).nbytes for p in paths)
    monkeypatch.setattr(S, "_SHARDS", OrderedDict())
    monkeypatch.setattr(S, "_shards_bytes", 0)
    monkeypatch.setattr(S, "SHARD_CACHE_BYTES", 3 * one)
    errors = []

    def reader(k):
        try:
            for i in range(60):
                p = (k + i) % len(paths)
                assert S.read_shard(paths[p]).column("pid")[0].as_py() == p
        except Exception as e:      # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,))
                   for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert S._shards_bytes == sum(t.nbytes for t in S._SHARDS.values())
    assert S._shards_bytes <= S.SHARD_CACHE_BYTES


def test_zero_column_read_keeps_rows(spark, tmp_path, monkeypatch):
    """``columns=[]`` keeps every row the filters keep on each read path
    (driver decode, Spark-job decode, distributed planning), as Spark's
    ``select()`` does on the owrc reader: ``count()`` is the row count
    (0 on every decode path before: a chunk table without columns had
    no rows)."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 7).alias("k")), out, salt_key="id",
        num_pids=3, chunk_rows=64)
    spark.dataSource.register(OwrcDataSource)
    for flt, want in ((None, 300), (("k", "==", 3), 43),
                      (("id", "<", 0), 0)):
        filters = None if flt is None else [flt]
        reads = decode_paths(monkeypatch, lambda: decode_store(
            spark, out, columns=[], filters=filters))
        reads.append(decode_store(spark, out, columns=[], filters=filters,
                                  planning="distributed"))
        owrc = spark.read.format("owrc").load(out)
        reads.append((owrc if flt is None else owrc.filter(
            spark_filter(*flt))).select())
        assert [r.count() for r in reads] == [want] * 4, flt
        assert all(r.columns == [] for r in reads)


def test_bad_columns_raise_value_error(spark, tmp_path):
    """A ``columns`` name the store lacks, or one named twice, raises a
    ``ValueError`` naming it from ``decode_store`` on both planning modes
    (pyarrow's ``KeyError`` and schema-mismatch errors before)."""
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 50), out, salt_key="id", num_pids=1)
    for planning in ("driver", "distributed"):
        with pytest.raises(ValueError, match="no column 'zz'"):
            decode_store(spark, out, columns=["id", "zz"], planning=planning)
        with pytest.raises(ValueError, match="'id' is named more than once"):
            decode_store(spark, out, columns=["id", "id"], planning=planning)
    assert decode_store(spark, out, columns=["id"]).count() == 50


def test_chunk_footer_cache_sees_rewritten_replaced_and_truncated_chunks(
        spark, tmp_path):
    """Chunk footers are cached by the file's identity: a chunk file
    rewritten in place with another chunk's bytes, or replaced by a
    rename, reads as its new content through both chunk readers, and a
    truncated one raises ``ValueError``."""
    import shutil
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 200), out, salt_key="id", num_pids=1,
                     chunk_rows=50, sort_by=["id"])
    plan = D.ScanPlan.resolve(out)
    a, b, c = [os.path.join(plan.store.chunks_dir, f)
               for f in sorted(plan.kept_files(None))[:3]]

    def ids(path):
        t = D.read_chunk_table(path, plan.schema)
        assert read_chunk_file(path).equals(t)
        return t.column("id").to_pylist()

    want = {p: ids(p) for p in (a, b, c)}
    assert len({tuple(v) for v in want.values()}) == 3
    with open(b, "rb") as f:
        b_bytes = f.read()
    st = os.stat(a)
    with open(a, "r+b") as f:       # same inode, other content
        f.write(b_bytes)
        f.truncate()
    # a later mtime even where the filesystem's clock tick is coarse
    os.utime(a, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert os.stat(a).st_ino == st.st_ino
    assert ids(a) == want[b]
    shutil.copy(c, a + ".tmp")
    os.replace(a + ".tmp", a)       # replaced by a rename
    assert ids(a) == want[c]
    with open(a, "r+b") as f:
        f.truncate(os.path.getsize(a) // 2)
    with pytest.raises(ValueError):
        D.read_chunk_table(a, plan.schema)
    with pytest.raises(ValueError):
        read_chunk_file(a)


def test_prune_index_follows_commit_since_rollback_and_recreate(
        spark, tmp_path, monkeypatch):
    """The cached pruning index of a live manifest view is keyed by the
    view: it follows a new commit, a ``since_snapshot`` read, a rollback
    and a store re-created at the same path, on driver and distributed
    planning, and a repeat read of an unchanged snapshot builds none."""
    import shutil
    built = []

    class Counting(D.PruneIndex):
        def __init__(self, manifest):
            built.append(manifest.num_rows)
            super().__init__(manifest)

    monkeypatch.setattr(D, "PruneIndex", Counting)
    out = str(tmp_path / "store")

    def ids(**kw):
        got = [sorted(r.id for r in decode_store(
            spark, out, columns=["id"], filters=[("id", ">=", 0)],
            planning=p, **kw).collect()) for p in ("driver", "distributed")]
        assert got[0] == got[1]
        return got[0]

    encode_dataframe(spark.range(0, 100), out, salt_key="id", num_pids=2)
    first = ChunkStore(out).current_snapshot()["n"]
    assert ids() == list(range(100))
    built.clear()
    assert ids() == list(range(100))
    assert built == []              # the unchanged view's index is reused
    encode_dataframe(spark.range(100, 150), out, salt_key="id", num_pids=2,
                     resume=False)
    assert ids() == list(range(150))
    assert ids(since_snapshot=first) == list(range(100, 150))
    ChunkStore(out).rollback_to(first)
    assert ids() == list(range(100))
    shutil.rmtree(out)
    encode_dataframe(spark.range(500, 520), out, salt_key="id", num_pids=2)
    assert ids() == list(range(500, 520))


def test_metadata_cache_under_threads(spark, tmp_path, monkeypatch):
    """Threads reading chunks and planning through a metadata cache too
    small for every footer, pruning index and shard of the store get the
    right rows and files, and leave its byte count equal to what it
    holds and within the bound."""
    import sys
    import threading
    from collections import OrderedDict
    from omi_cpp_parquet_wide_record_spark.plans import snapshot as S
    out = str(tmp_path / "store")
    encode_dataframe(spark.range(0, 400), out, salt_key="id", num_pids=1,
                     chunk_rows=50, sort_by=["id"])
    plan = D.ScanPlan.resolve(out)
    paths = [os.path.join(plan.store.chunks_dir, f)
             for f in sorted(plan.kept_files(None))]
    want = [D.read_chunk_table(p, plan.schema).column("id").to_pylist()
            for p in paths]
    low = sorted(plan.kept_files([("id", "<", 50)]))
    assert len(paths) == 8 and len(low) == 1
    bound = D.view_index(plan.store, plan.snap).nbytes + 3 * max(
        D.chunk_footer(p).nbytes for p in paths)
    monkeypatch.setattr(S, "_SHARDS", OrderedDict())
    monkeypatch.setattr(S, "_shards_bytes", 0)
    monkeypatch.setattr(S, "SHARD_CACHE_BYTES", bound)
    errors = []

    def reader(k):
        try:
            for i in range(40):
                j = (k + i) % len(paths)
                t = D.read_chunk_table(paths[j], plan.schema,
                                       filters=[("id", ">=", 0)])
                assert t.column("id").to_pylist() == want[j]
                if i % 4 == 0:
                    assert sorted(plan.kept_files([("id", "<", 50)])) == low
        except Exception as e:      # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(k,))
                   for k in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert S._shards_bytes == sum(v.nbytes for v in S._SHARDS.values())
    assert S._shards_bytes <= S.SHARD_CACHE_BYTES


def test_prune_index_sees_rewritten_shards(tmp_path):
    """The pruning index is keyed by its manifest shards' file
    identities: a shard rewritten in place under its name, or replaced
    by a rename, plans its new chunk files. Pure metadata, no Spark
    session."""
    store = ChunkStore(str(tmp_path / "store"))
    [name] = _one_chunk_shard(store, 0)
    store.commit([name], _KV, "r0", new_pids={0})
    path = os.path.join(store.manifests_dir, name)

    def files():
        return sorted(D.ScanPlan.resolve(store.root).kept_files(None))

    assert files() == files() == ["c0.owrc"]
    row = pq.read_table(path)

    def named(f):
        return row.set_column(0, "chunk_file", pa.array([f], pa.string()))

    pq.write_table(pa.concat_tables([row, named("c7.owrc")]), path)
    assert files() == ["c0.owrc", "c7.owrc"]
    pq.write_table(named("c5.owrc"), path + ".tmp")
    os.replace(path + ".tmp", path)
    assert files() == ["c5.owrc"]
