"""Operator-level tests over deterministic fixtures: dedup family,
similarity search, text analysis, multimodal plumbing, ETL builders,
streaming aggregate."""

from __future__ import annotations

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from omi_cpp_parquet_wide_record_spark.operators import (
    dedup, etl, multimodal, similarity, text,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup
        (2, "the quick brown fox jumps over the lazy cat", "en"),   # near dup
        (3, "der schnelle braune fuchs und der faule hund", "de"),
        (4, "completely different content about spark engines", "en"),
        (5, "the quick brown fox jumps over the lazy dog !", "en"),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(spark, docs):
    kept = dedup.dedup_exact(docs)
    assert kept.count() == 5
    assert kept.filter(F.col("doc_id") == 1).count() == 0  # min-id kept
    groups = dedup.exact_duplicates(docs)
    assert groups.filter(F.col("n_dups") == 2).count() == 1


def test_ngram_jaccard(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got                     # identical docs -> jaccard 1.0
    assert (0, 2) in got or (1, 2) in got    # one-word change -> high overlap
    assert all(r.jaccard <= 1.0 for r in pairs)


def test_rolling_fingerprint_unaffected_by_trailing_empty_doc(spark):
    # regression: the r3 reduceat index clip stole the last byte-term of
    # the doc PRECEDING a trailing empty doc — fp must not depend on
    # batch neighbors
    df_pair = spark.createDataFrame([(1, "abcdef"), (2, "")],
                                    ["doc_id", "text"]).coalesce(1)
    df_solo = spark.createDataFrame([(1, "abcdef")], ["doc_id", "text"])
    fp_pair = {r.id: r.fp for r in
               dedup.rolling_fingerprints(df_pair).collect()}
    fp_solo = {r.id: r.fp for r in
               dedup.rolling_fingerprints(df_solo).collect()}
    assert fp_pair[1] == fp_solo[1]
    # scalar Horner reference for the same doc
    p, b = 2147483647, 257
    fp = (42 * 1000003 + 1) % p
    for ch in b"abcdef":
        fp = (fp * b + ch) % p
    assert fp_pair[1] == fp


def test_prefix_jaccard_matches_brute_force_at_awkward_threshold(spark):
    # 0.55*sz is 55.000000000000007 in doubles at sz=100: an unguarded
    # ceil shrinks the prefix window and can silently miss a true pair —
    # the prefix variant must stay a superset of brute force at ANY t
    import random
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(20, 120))))
            for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for t in (0.55, 0.67):
        brute = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(
            df, threshold=t, n=2, max_doc_freq=None).collect()}
        pref = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs_prefix(
            df, threshold=t, n=2).collect()}
        assert pref == brute, (t, brute - pref, pref - brute)


def test_asof_join_carries_latest_rows_null_value(spark):
    # regression: last(ignorenulls) over individual value columns skipped
    # right rows whose VALUE was null, returning a stale older value; the
    # struct-packed carry must yield the latest row's actual (null) value
    from omi_cpp_parquet_wide_record_spark.operators.etl import asof_join
    left = spark.createDataFrame([("k", 30), ("k", 15)], ["key", "ts"])
    right = spark.createDataFrame(
        [("k", 10, 5.0), ("k", 20, None)],
        "key string, ts int, value double")
    got = {r.ts: r.value_asof for r in asof_join(
        left, right, "key", "ts", ["value"]).collect()}
    assert got[15] == 5.0          # latest right row at ts<=15 is (10, 5.0)
    assert got[30] is None         # latest right row at ts<=30 is (20, NULL)


def test_dense_row_index_timestamp_order_column(spark):
    # the counter must work over ANY orderable column (the r3 count pass
    # forced the per-partition min through int() and crashed on timestamps)
    import datetime
    from omi_cpp_parquet_wide_record_spark.operators.etl import (
        dense_row_index,
    )
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [(i, base + datetime.timedelta(seconds=i * 7 % 100))
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, t timestamp")
    out = dense_row_index(df, "t", "rn").collect()
    assert sorted(r.rn for r in out) == list(range(1, 101))
    by_rn = sorted(out, key=lambda r: r.rn)
    ts = [r.t for r in by_rn]
    assert ts == sorted(ts)        # index follows the order column


def test_connected_components(spark):
    # chain, star, isolated pair — every node labeled with the MIN id
    # reachable (the transitive fixpoint, not pairwise drop-the-higher-id)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
        ["id_a", "id_b"])
    got = sorted((r.id, r.component)
                 for r in dedup.connected_components(pairs).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10),
                   (12, 10), (13, 10), (20, 20), (21, 20)]
    # long path: pointer jumping must converge well inside max_iter
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"])
    comps = {r.component for r in
             dedup.connected_components(chain, max_iter=12).collect()}
    assert comps == {0}
    # empty pair set -> empty result, no loop
    assert dedup.connected_components(
        spark.createDataFrame([], "id_a long, id_b long")).count() == 0


def test_curate_components_policy_keeps_one_per_cluster(spark):
    # three near-identical docs in a transitive chain: the components
    # policy keeps exactly one survivor; pairwise keeps whatever is never
    # a higher pair id (a superset)
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(1, base), (2, base + "x"), (3, base + "x y"),
            (50, "the cat and the hat sat on top of the mat " * 8)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept_pw = {r.doc_id for r in dedup.curate_corpus(
        df, min_quality=0.0, langs=("en",), near_dup_threshold=0.5
    ).collect()}
    kept_cc = {r.doc_id for r in dedup.curate_corpus(
        df, min_quality=0.0, langs=("en",), near_dup_threshold=0.5,
        near_dup_policy="components").collect()}
    assert 50 in kept_pw and 50 in kept_cc
    assert kept_cc - {50} == {1}          # exactly one survivor
    assert kept_cc <= kept_pw             # components is the stricter set


def test_connected_components_random_vs_union_find(spark):
    # random graphs vs a plain union-find reference: component labels must
    # be the min id of each component, for every node that has an edge
    import random
    rng = random.Random(1234)
    for trial in range(3):
        n = 60
        edges = sorted({tuple(sorted(rng.sample(range(n), 2)))
                        for _ in range(rng.randint(5, 70))})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        nodes = {v for e in edges for v in e}
        comp_min: dict[int, int] = {}
        for v in nodes:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        expected = sorted((v, comp_min[find(v)]) for v in nodes)
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = sorted((r.id, r.component)
                     for r in dedup.connected_components(pairs).collect())
        assert got == expected, (trial, edges, got, expected)


def test_rotate_cache_reuses_same_plan_and_rotates_on_change(spark):
    # same logical plan -> the SAME persisted DataFrame object comes back
    # (no eviction, no recompute); a different plan rotates the cache
    df1 = spark.range(100).withColumn("x", F.col("id") * 2)
    a = dedup._rotate_cache("test_site", df1)
    a.count()
    b = dedup._rotate_cache(
        "test_site", spark.range(100).withColumn("x", F.col("id") * 2))
    assert a is b
    c = dedup._rotate_cache(
        "test_site", spark.range(200).withColumn("x", F.col("id") * 2))
    assert c is not a
    assert c.count() == 200
    dedup._LIVE_CACHES.pop("test_site").unpersist()


def test_ngram_jaccard_short_docs(spark):
    # docs shorter than n words contribute no shingles (they used to hit
    # an element_at(0) error pre-hashed-shingles); the oracle's empty
    # range(1, 1) agrees
    df = spark.createDataFrame(
        [(0, "one two"), (1, "a"), (2, ""),
         (3, "the quick brown fox jumps"), (4, "the quick brown fox jumps")],
        ["doc_id", "text"])
    pairs = dedup.ngram_jaccard_pairs_prefix(df, threshold=0.5, n=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(3, 4)}


def test_minhash_lsh_finds_exact_dup(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9, n_shingle=4)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got
    assert (0, 4) not in got and (1, 4) not in got


def test_simhash(spark, docs):
    sigs = {r.id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]                # identical text, identical hash
    pairs = dedup.simhash_pairs(docs, max_hamming=0)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in got


def test_text_profile(spark, docs):
    prof = {r.doc_id: r for r in text.text_profile(docs).collect()}
    assert prof[0].fp == prof[1].fp
    assert prof[0].lang_pred == "en"
    assert prof[3].lang_pred == "de"
    assert prof[0].n_tokens_ws == 9


def test_similarity_topk(spark):
    vecs = [(i, [float(i == j) for j in range(8)]) for i in range(6)]
    vecs.append((6, [1.0, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=1)
    row = top.collect()[0]
    assert row.neighbor_id == 6 and row.cosine > 0.99


def test_lsh_and_ivf_consistency(spark):
    vecs = [(i, [float((i * 7 + j) % 5 - 2) for j in range(16)])
            for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    sigs = similarity.lsh_bucket_signatures(df, n_planes=8)
    assert sigs.count() == 40
    # deterministic across runs
    a = sorted((r.id, r.bucket) for r in sigs.collect())
    b = sorted((r.id, r.bucket)
               for r in similarity.lsh_bucket_signatures(df, n_planes=8).collect())
    assert a == b
    ivf = similarity.ivf_assign(df, n_centroids=4)
    assert ivf.select("centroid").distinct().count() <= 4


def test_multimodal_pipeline(spark, docs):
    media = multimodal.fake_media_df(docs)
    feats = multimodal.media_features(media)
    rows = feats.collect()
    assert len(rows) == 6
    assert all(8 <= r.width <= 31 and 8 <= r.height <= 31 for r in rows)
    resized = multimodal.resize_media(media, out_w=4, out_h=4)
    out = multimodal.media_features(resized).collect()
    assert all(r.width == 4 and r.height == 4 for r in out)


def test_multimodal_stub_rejects_real_media(spark):
    with pytest.raises(NotImplementedError):
        multimodal._decode_payload(b"\x89PNG\r\n\x1a\nxxxxxxxx")


def test_dense_row_index(spark):
    df = spark.range(0, 1000).select((F.col("id") * 3).alias("k"))
    out = etl.dense_row_index(df, "k", out_col="idx").collect()
    pairs = sorted((r.k, r.idx) for r in out)
    assert [p[1] for p in pairs] == list(range(1, 1001))


def test_dense_row_index_sees_rewritten_input(spark, tmp_path):
    """A parquet file rewritten in place under the same name and indexed
    again in the same session indexes the new rows, not a cached copy
    of the old ones."""
    import pyarrow.parquet as pq
    path = str(tmp_path / "ev.parquet")
    pq.write_table(pa.table({"ts": pa.array(range(100), pa.int64())}), path)
    first = etl.dense_row_index(spark.read.parquet(path), "ts").collect()
    assert max(r.ts for r in first) == 99
    pq.write_table(pa.table({"ts": pa.array(range(1100), pa.int64())}),
                   path)
    again = etl.dense_row_index(spark.read.parquet(path), "ts").collect()
    assert sorted((r.ts, r.pcap_index) for r in again) == [
        (i, i + 1) for i in range(1100)]


def test_streaming_tumbling(spark, tmp_path):
    from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
        run_stream_once,
    )
    src = spark.createDataFrame(
        [(i, f"2024-01-01 00:{i % 50:02d}:00", "click", 1.0 * i)
         for i in range(100)],
        "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    p = str(tmp_path / "stream_src")
    src.write.parquet(p)
    out = run_stream_once(spark, p, src.schema, query_name="t_stream")
    assert out.count() == 10  # 50 distinct minutes / 5-minute windows
    assert out.agg(F.sum("n")).collect()[0][0] == 100


def test_owrc_datasource(spark, tmp_path):
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    out = str(tmp_path / "store")
    corpus = FX.web_pages_df(spark, 1500, partitions=2)
    encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                     num_pids=4, salt=2)
    spark.dataSource.register(OwrcDataSource)
    df = spark.read.format("owrc").load(out)
    assert df.count() == 1500
    assert set(df.columns) == {"url", "warc_ts", "html", "text", "lang"}
    # column pruning path
    two = spark.read.format("owrc").load(out).select("url", "lang")
    assert two.count() == 1500


def test_stateful_sessionization(spark, tmp_path):
    from omi_cpp_parquet_wide_record_spark.streaming.stateful import (
        run_stateful_once,
    )
    # user 1: two sessions (40-minute gap); user 2: one session
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 00:55:00"),
            (2, "2024-01-01 02:00:00"), (2, "2024-01-01 02:05:00")]
    src = spark.createDataFrame(rows, "user_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    p = str(tmp_path / "src")
    src.write.parquet(p)
    out = {r.user_id: r for r in
           run_stateful_once(spark, p, src.schema,
                             query_name="t_stateful").collect()}
    assert out[1].n_events == 3 and out[1].n_sessions == 2
    assert out[2].n_events == 2 and out[2].n_sessions == 1


def test_snapshot_gc(spark, tmp_path):
    import os
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.gc import (
        expire_snapshots, remove_orphan_chunks,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "store")
    corpus = FX.web_pages_df(spark, 1200, partitions=2)
    encode_dataframe(corpus, out, partition_by=["lang"], salt_key="url",
                     num_pids=4, salt=2)
    store = ChunkStore(out)
    # plant an orphan (failed-attempt leftover)
    orphan = os.path.join(store.chunks_dir, "chunk-p99999-s0000-dead.owrc")
    open(orphan, "wb").write(b"junk")
    removed = remove_orphan_chunks(store)
    assert os.path.basename(orphan) in removed
    report = expire_snapshots(store, keep_last=1)
    assert report["removed_snapshots"] == []   # only one snapshot: kept
    # store still fully readable after GC
    assert decode_store(spark, out).count() == 1200


def test_asof_join(spark):
    trades = spark.createDataFrame(
        [(1, 10, "t1"), (1, 25, "t2"), (2, 5, "t3"), (2, 100, "t4")],
        "sym long, ts long, trade string")
    quotes = spark.createDataFrame(
        [(1, 8, 1.0), (1, 20, 2.0), (2, 50, 3.0)],
        "sym long, ts long, px double")
    out = {(r.sym, r.ts): r.px_asof for r in
           etl.asof_join(trades, quotes, key="sym", ts="ts",
                         right_cols=["px"]).collect()}
    assert out[(1, 10)] == 1.0 and out[(1, 25)] == 2.0
    assert out[(2, 5)] is None and out[(2, 100)] == 3.0


def test_bitpack_fallback_outside_sample(spark, tmp_path):
    """An auto-chosen bitpack (from a non-negative sample head) must fall
    back, not abort, when the full column holds a negative value
    (ADVICE r1 #1: choose_codec samples head+stride; a negative outside the
    sample used to raise ValueError mid-job)."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    n = 20000
    rows = [(i, 7 if i != n - 1 else -5) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v long").coalesce(1)
    out = str(tmp_path / "store")
    encode_dataframe(df, out, salt_key="id", num_pids=1, chunk_rows=1 << 20)
    got = decode_store(spark, out)
    assert got.count() == n
    assert got.agg({"v": "min"}).collect()[0][0] == -5


def test_stream_encode_multi_batch_no_loss(spark, tmp_path):
    """Multi-batch streaming encode must keep every row even when a later
    batch's content-derived pids collide with committed ones (ADVICE r1 #2:
    the pid resume filter used to silently drop colliding new rows)."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
        stream_encode,
    )
    src_dir = str(tmp_path / "src")
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(100)],
                                "id long, s string")
    df2 = spark.createDataFrame([(i, f"b{i}") for i in range(100, 200)],
                                "id long, s string")
    df1.coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "store")
    # first micro-batch
    q = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                      num_pids=2, query_name="t_se1")
    q.awaitTermination(120)
    # second file arrives -> second micro-batch; pids (hash mod 2) collide
    # with batch 1's committed pids with certainty
    df2.coalesce(1).write.mode("append").parquet(src_dir)
    q2 = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                       num_pids=2, query_name="t_se2")
    q2.awaitTermination(120)
    assert decode_store(spark, out).count() == 200
    # replay from the SAME checkpoint: no new files -> no new epochs ->
    # nothing re-encoded (the stream id persisted in the checkpoint makes
    # the run_id guard effective across restarts)
    q3 = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                       num_pids=2, query_name="t_se3")
    q3.awaitTermination(120)
    assert decode_store(spark, out).count() == 200
    # a DIFFERENT checkpoint is a new stream identity: its epoch ids
    # collide with the first lineage's, and the bare epoch-N run_ids of
    # r3 would have silently DROPPED all of its batches — the stream-id
    # scoped guard re-encodes them instead (duplicates, never loss)
    q4 = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                       num_pids=2, query_name="t_se4",
                       checkpoint_dir=str(tmp_path / "ckpt2"))
    q4.awaitTermination(120)
    assert decode_store(spark, out).count() == 400


def test_gc_keeps_pointed_snapshot(spark, tmp_path):
    """expire_snapshots must never delete the snapshot _current points to,
    even when a crashed run left a lexically newer snapshot file
    (ADVICE r1 #3)."""
    import json
    import os
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.gc import expire_snapshots
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    out = str(tmp_path / "store")
    corpus = FX.web_pages_df(spark, 400, partitions=1)
    encode_dataframe(corpus, out, salt_key="url", num_pids=2)
    store = ChunkStore(out)
    # simulate a crash after snapshot write but before the pointer flip:
    # a newer snapshot json exists that _current does not reference
    with open(store.current_path) as f:
        live_name = f.read().strip()
    crashed = os.path.join(store.snapshots_dir, "snapshot-99999.json")
    with open(crashed, "w") as f:
        json.dump({"n": 99999, "manifests": [], "committed_pids": []}, f)
    expire_snapshots(store, keep_last=1)
    assert os.path.exists(os.path.join(store.snapshots_dir, live_name))
    assert store.current_snapshot() is not None
    assert decode_store(spark, out).count() == 400


def test_multimodal_batch_matches_scalar(spark, docs):
    """The whole-batch media kernels must agree value-for-value with a
    scalar per-image recomputation through the documented stub decoder
    (independent-implementation check, same pattern as the pcap golden)."""
    import numpy as np
    from omi_cpp_parquet_wide_record_spark.operators.multimodal import (
        _decode_payload,
    )
    media = multimodal.fake_media_df(docs)
    raw = {r.id: bytes(r.media) for r in media.collect()}
    feats = {r.id: r for r in multimodal.media_features(media).collect()}
    assert set(feats) == set(raw)
    for i, buf in raw.items():
        img = _decode_payload(buf)
        r = feats[i]
        assert (r.height, r.width) == img.shape
        assert r.mean == round(float(img.astype(np.float64).mean()), 4)
        # scalar 8x8 average hash
        h, w = img.shape
        ys = (np.arange(8) * h) // 8
        xs = (np.arange(8) * w) // 8
        small = img[ys][:, xs].astype(np.float64)
        bits = (small > small.mean()).astype(np.uint64).ravel()
        phash = int((bits << np.arange(64, dtype=np.uint64)).sum())
        assert np.uint64(r.phash) == np.uint64(phash)
    resized = {r.id: bytes(r.media)
               for r in multimodal.resize_media(media, 4, 4).collect()}
    for i, buf in raw.items():
        img = _decode_payload(buf)
        h, w = img.shape
        ys = np.minimum((np.arange(4) * h) // 4, h - 1)
        xs = np.minimum((np.arange(4) * w) // 4, w - 1)
        assert _decode_payload(resized[i]).tolist() == \
            img[ys][:, xs].tolist()


def test_session_windows_stream(spark, tmp_path):
    from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
        run_session_stream_once,
    )
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
            (1, "2024-01-01 00:55:00"),
            (2, "2024-01-01 02:00:00"), (2, "2024-01-01 02:05:00")]
    src = spark.createDataFrame(rows, "user_id long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    p = str(tmp_path / "src")
    src.write.parquet(p)
    out = run_session_stream_once(spark, p, src.schema,
                                  query_name="t_sessw").collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[1]) == 2            # 45-min gap splits user 1
    assert len(per_user[2]) == 1
    s1 = sorted(per_user[1], key=lambda r: r.sess_start_us)[0]
    assert s1.n_events == 2                 # 00:00 + 00:10 merge
    # end = last event + gap (30 min)
    assert s1.sess_end_us - s1.sess_start_us == 40 * 60 * 1_000_000


def test_ngram_prefix_filter_exact(spark, docs):
    """Prefix filtering must return exactly the brute-force pair set (its
    candidates are a proven superset; the exact re-rank trims them)."""
    brute = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(
        docs, threshold=0.5, n=3, max_doc_freq=None).collect())
    pref = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs_prefix(
        docs, threshold=0.5, n=3).collect())
    assert brute == pref and len(pref) > 0


def test_ivf_topk_recall(spark):
    """IVF probe search must recover most of the exact top-k: nprobe=2 of
    16 cells on smooth synthetic vectors. Also pins determinism (integer
    assignment) across two runs."""
    import numpy as np
    from omi_cpp_parquet_wide_record_spark.fixtures import splitmix64
    n, dim = 240, 16
    raw = splitmix64(np.arange(n * dim, dtype=np.uint64) + np.uint64(7))
    vecs = (raw.astype(np.float64) / 2.0**64 - 0.5).reshape(n, dim)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = df.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(df, qdf, k=3).collect()}
    got1 = similarity.ivf_topk(df, qdf, k=3, nprobe=4, n_centroids=8)
    res1 = {(r.query_id, r.neighbor_id) for r in got1.collect()}
    res2 = {(r.query_id, r.neighbor_id)
            for r in similarity.ivf_topk(df, qdf, k=3, nprobe=4,
                                         n_centroids=8).collect()}
    assert res1 == res2                      # deterministic index
    recall = len(exact & res1) / len(exact)
    assert recall >= 0.5, recall             # probing 4/8 cells finds most
    # the large-query-side join fallback must produce the identical result
    # (row-for-row, including cosine and rank) as the fused broadcast path
    fused = sorted(tuple(r) for r in got1.collect())
    joined = sorted(tuple(r) for r in similarity._ivf_topk_join(
        df, qdf, k=3, nprobe=4, n_centroids=8).collect())
    assert fused == joined


def test_vector_kernels_null_and_ragged(spark):
    """A null corpus vector must never score OR misalign the batch
    (fused and join IVF plans agree row-for-row), and ragged embedding
    dims fail loudly — the _pair_cosine_quantized contract applied to
    every vector kernel (assign, LSH buckets, probes, fused top-k)."""
    import random

    import pytest as _pytest
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)])
            for i in range(200)]
    rows[50] = (50, None)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qdf = spark.createDataFrame(rows[:5], "vec_id long, embedding array<double>")
    fused = sorted(tuple(r) for r in
                   similarity.ivf_topk(df, qdf, k=3).collect())
    joined = sorted(tuple(r) for r in
                    similarity._ivf_topk_join(df, qdf, k=3).collect())
    assert fused == joined and fused
    assert 50 not in {r[1] for r in fused}       # the null row never scores
    # assignment drops the null row instead of shifting every later row
    assigned = similarity.ivf_assign(df)
    assert assigned.count() == 199
    # ragged dims: loud error, not silent misalignment (enough rows that
    # a ragged row shares an Arrow batch with uniform ones)
    bad = spark.createDataFrame(
        [(i, [1.0] * (7 if i == 60 else 8)) for i in range(200)],
        "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="ragged"):
        similarity.ivf_assign(bad).collect()


def test_closed_sessions_timeout_eviction(spark, tmp_path):
    """Sessions must emit when they CLOSE: by a later event past the gap,
    or by event-time timeout once the watermark passes session end — the
    state-bounding behavior that matters at stream scale."""
    import os
    from omi_cpp_parquet_wide_record_spark.streaming.stateful import (
        run_closed_sessions_once,
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema_df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "user_id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))

    def put(name, rows):
        import glob
        import shutil
        tmp = os.path.join(str(tmp_path), f"stage_{name}")
        (spark.createDataFrame(rows, "user_id long, ts string")
         .withColumn("ts", F.to_timestamp("ts")).coalesce(1)
         .write.parquet(tmp))
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"{name}.parquet"))

    # batch 1: user 1 session A (2 events)
    put("b0", [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00")])
    # batch 2: user 1 returns 3h later -> closes A by gap; opens B
    put("b1", [(1, "2024-01-01 03:00:00")])
    # batch 3: unrelated user far in the future -> watermark passes B's
    # end -> B closes by TIMEOUT and its state is evicted
    put("b2", [(9, "2024-01-01 10:00:00")])

    out = run_closed_sessions_once(spark, src, schema_df.schema,
                                   query_name="t_closed").collect()
    sess = sorted([(r.user_id, r.sess_start_us, r.n_events) for r in out])
    base = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
    assert (1, base, 2) in sess                       # A closed by gap
    assert (1, base + 3 * 3600 * 1_000_000, 1) in sess  # B closed by timeout
    assert all(u != 9 for u, *_ in sess)              # user 9 still open


def test_owrc_datasource_write_path(spark, tmp_path):
    """df.write.format('owrc') — Spark's two-phase writer protocol mapped
    onto the store's snapshot commit: encoded by the engine's kernels,
    committed atomically, readable back bit-identically by both the
    DataSource reader and decode_store."""
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    from omi_cpp_parquet_wide_record_spark.sources.owrc_source import (
        OwrcDataSource,
    )
    spark.dataSource.register(OwrcDataSource)
    out = str(tmp_path / "wstore")
    corpus = FX.web_pages_df(spark, 1200, partitions=3).persist()
    corpus.write.format("owrc").mode("overwrite").save(out)
    m = ChunkStore(out).metrics()
    assert m["rows"] == 1200 and m["bytes_out"] < m["bytes_in"]
    back = decode_store(spark, out)
    assert back.count() == 1200
    a = sorted(corpus.select("url", "text").collect())
    b = sorted(back.select("url", "text").collect())
    assert a == b
    # overwrite replaces, not appends
    corpus.limit(300).write.format("owrc").mode("overwrite").save(out)
    assert spark.read.format("owrc").load(out).count() == 300
    # chunk_rows splits oversize partitions: 1000-row partitions at 700
    FX.web_pages_df(spark, 2000, partitions=2).write.format("owrc") \
        .option("chunk_rows", 700).mode("overwrite").save(out)
    store = ChunkStore(out)
    files = store.manifest_table().group_by("chunk_file").aggregate(
        [("rows", "max")]).column("rows_max").to_pylist()
    assert sum(files) == 2000 and max(files) <= 700, files
    # each task commits its own manifest shard, numbered for delete scoping
    snap = store.current_snapshot()
    assert snap["manifests"] and all(
        m.startswith("manifest-shard-") for m in snap["manifests"])
    assert set(snap["manifest_n"]) == set(snap["manifests"])
    # an empty overwrite empties the live table; time travel keeps the old
    corpus.limit(0).write.format("owrc").mode("overwrite").save(out)
    assert decode_store(spark, out).count() == 0
    assert spark.read.format("owrc").load(out).count() == 0
    assert decode_store(spark, out, snapshot=snap["n"]).count() == 2000
    corpus.unpersist()


def test_corpus_curation(spark, docs):
    """The composed curation plan: exact dups collapse to min id, near dups
    drop the higher id, the gate keeps scored docs."""
    out = dedup.curate_corpus(docs, min_quality=0.2,
                              langs=("en", "de"), near_dup_threshold=0.8)
    kept = {r.doc_id for r in out.collect()}
    assert 0 in kept          # canonical copy survives
    assert 1 not in kept      # exact dup of 0 (higher id) dropped
    assert 5 not in kept      # near dup of 0 (higher id) dropped
    assert 3 in kept          # German doc passes the lang gate
    assert 4 not in kept      # no marker words -> lang 'und' -> gated out


def test_ngram_prefix_ppjoin_bound_exact_random(spark):
    """The PPJoin positional + size prunes must preserve the exact pair
    set on a randomized shared-vocab corpus across thresholds (the bound
    only ever removes pairs the verify would reject)."""
    import random
    rnd = random.Random(1234)
    vocab = [f"w{i}" for i in range(120)]
    rows = []
    for i in range(160):
        base = [rnd.choice(vocab) for _ in range(rnd.randrange(8, 40))]
        rows.append((i, " ".join(base)))
        if i % 5 == 0:                       # planted near-duplicates
            mut = list(base)
            for _ in range(rnd.randrange(0, 3)):
                mut[rnd.randrange(len(mut))] = rnd.choice(vocab)
            rows.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.3, 0.5, 0.8):
        brute = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs(
            df, threshold=t, n=2, max_doc_freq=None).collect())
        pref = sorted(tuple(r) for r in dedup.ngram_jaccard_pairs_prefix(
            df, threshold=t, n=2).collect())
        assert brute == pref, t
        assert len(pref) > 0, t


def test_stream_encode_two_interleaved_lineages(spark, tmp_path):
    """Two independent stream lineages (own sources + checkpoints) feeding
    ONE store, interleaved and each restarted: every batch must land
    exactly once. Both lineages use the same small epoch numbers (0, 1,
    ...), so a run_id guard keyed on bare epoch ids would make lineage
    B's batches collide with A's and silently DROP them — the
    checkpoint-persisted stream id scopes the guard per lineage, and a
    same-checkpoint replay still dedupes within its own lineage."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
        stream_encode,
    )
    schema = "id long, s string"
    src_a, src_b = str(tmp_path / "srcA"), str(tmp_path / "srcB")
    ck_a, ck_b = str(tmp_path / "ckA"), str(tmp_path / "ckB")
    out = str(tmp_path / "store")

    def feed(src, lo, hi, tag):
        spark.createDataFrame([(i, f"{tag}{i}") for i in range(lo, hi)],
                              schema).coalesce(1) \
            .write.mode("append").parquet(src)

    def run(src, ck, name):
        q = stream_encode(spark, src, spark.createDataFrame([], schema)
                          .schema, out, salt_key="id", num_pids=2,
                          query_name=name, checkpoint_dir=ck)
        q.awaitTermination(120)

    feed(src_a, 0, 100, "a")
    run(src_a, ck_a, "t_l2_a0")                      # A epoch 0
    feed(src_b, 1000, 1100, "b")
    run(src_b, ck_b, "t_l2_b0")                      # B epoch 0 (same id!)
    assert decode_store(spark, out).count() == 200
    feed(src_a, 100, 150, "a")
    feed(src_b, 1100, 1150, "b")
    run(src_a, ck_a, "t_l2_a1")                      # A restart -> epoch 1
    run(src_b, ck_b, "t_l2_b1")                      # B restart -> epoch 1
    got = decode_store(spark, out)
    assert got.count() == 300
    # replay with no new input: nothing re-encoded in either lineage
    run(src_a, ck_a, "t_l2_a2")
    run(src_b, ck_b, "t_l2_b2")
    assert decode_store(spark, out).count() == 300
    # exactly-once, row-level: every id appears exactly once with its tag
    rows = {(r.id, r.s) for r in got.collect()}
    expect = {(i, f"a{i}") for i in range(150)} | \
             {(i, f"b{i}") for i in range(1000, 1150)}
    assert rows == expect


def test_materialized_ivf_index_parity_and_pruning(spark, tmp_path):
    """build_ivf_index + ivf_topk_indexed (r5): the materialized index
    must (a) return the BIT-IDENTICAL result of the ad-hoc ivf_topk on
    the same corpus/params — including null-surface rows dropped at
    build time — and (b) open only the probed cells' chunk files (the
    centroid zone maps must exclude a real fraction of the index)."""
    import numpy as np

    from omi_cpp_parquet_wide_record_spark.fixtures import splitmix64
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        prune_files,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore

    n, dim = 600, 16
    raw = splitmix64(np.arange(n * dim, dtype=np.uint64) + np.uint64(11))
    vecs = (raw.astype(np.float64) / 2.0**64 - 0.5).reshape(n, dim)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    # null surface: NULL vector, empty vector, null element — build must
    # drop them exactly like every other plan shape
    rows += [(n, None), (n + 1, []),
             (n + 2, [None] + [0.5] * (dim - 1))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = df.filter(F.col("vec_id") < 8)

    out = str(tmp_path / "ivf_index")
    res = similarity.build_ivf_index(df, out, n_centroids=8)
    assert res.rows == n                       # invalid vectors excluded

    adhoc = sorted(tuple(r) for r in similarity.ivf_topk(
        df, qdf, k=3, nprobe=2, n_centroids=8).collect())
    indexed = sorted(tuple(r) for r in similarity.ivf_topk_indexed(
        spark, out, qdf, k=3, nprobe=2, n_centroids=8).collect())
    assert adhoc == indexed and adhoc

    # probe reads touch a strict subset of the index's chunk files
    store = ChunkStore(out)
    m = store.manifest_table()
    all_files = prune_files(m, [])
    probed = prune_files(m, [("centroid", "in", [0, 3])])
    assert 0 < len(probed) < len(all_files), (len(probed), len(all_files))


def test_stream_encode_cdc_upsert(spark, tmp_path):
    """stream_encode(upsert_key=...) is a streaming CDC apply: each
    micro-batch's keys replace prior rows in ONE snapshot per batch, so
    the store always holds exactly one live row per key; a replay from
    the same checkpoint changes nothing."""
    from pyspark.sql import functions as F
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
        stream_encode,
    )
    src_dir = str(tmp_path / "src")
    df1 = spark.createDataFrame([(i, f"v1_{i}") for i in range(100)],
                                "id long, s string")
    df1.coalesce(1).write.parquet(src_dir)
    out = str(tmp_path / "store")
    q = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                      num_pids=2, query_name="t_cdc1", upsert_key="id")
    q.awaitTermination(120)
    assert decode_store(spark, out).count() == 100
    # CDC batch: updates for 40..59, inserts for 100..119
    df2 = spark.createDataFrame(
        [(i, f"v2_{i}") for i in range(40, 60)]
        + [(i, f"v2_{i}") for i in range(100, 120)], "id long, s string")
    df2.coalesce(1).write.mode("append").parquet(src_dir)
    q2 = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                       num_pids=2, query_name="t_cdc2", upsert_key="id")
    q2.awaitTermination(120)
    got = decode_store(spark, out)
    assert got.count() == 120
    upd = {r.s for r in got.filter((F.col("id") >= 40)
                                   & (F.col("id") < 60)).collect()}
    assert upd == {f"v2_{i}" for i in range(40, 60)}
    assert {r.s for r in got.filter(F.col("id") == 0).collect()} == {"v1_0"}
    # replay: no new files, run_id guard skips everything
    q3 = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                       num_pids=2, query_name="t_cdc3", upsert_key="id")
    q3.awaitTermination(120)
    assert decode_store(spark, out).count() == 120


def test_stream_encode_to_branch_then_publish(spark, tmp_path):
    """Streaming write-audit-publish: micro-batches staged on a branch
    are invisible to main until one atomic fast-forward, and the replay
    guard reads the BRANCH lineage (a replayed epoch is skipped even
    though main never saw it)."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
        stream_encode,
    )
    from pyspark.sql import functions as F
    out = str(tmp_path / "store")
    encode_dataframe(
        spark.range(0, 50).select(F.col("id"),
                                  F.lit("base").alias("s")),
        out, salt_key="id", num_pids=2, resume=False)
    src_dir = str(tmp_path / "src")
    df1 = spark.createDataFrame([(i, f"a{i}") for i in range(100, 200)],
                                "id long, s string")
    df1.coalesce(1).write.parquet(src_dir)
    q = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                      num_pids=2, query_name="t_br1", branch="stage")
    q.awaitTermination(120)
    assert decode_store(spark, out).count() == 50           # main blind
    assert decode_store(spark, out, ref="stage").count() == 150
    # replay from the same checkpoint: branch-lineage guard skips it
    q2 = stream_encode(spark, src_dir, df1.schema, out, salt_key="id",
                       num_pids=2, query_name="t_br2", branch="stage")
    q2.awaitTermination(120)
    assert decode_store(spark, out, ref="stage").count() == 150
    ChunkStore(out).fast_forward("stage")
    assert decode_store(spark, out).count() == 150
