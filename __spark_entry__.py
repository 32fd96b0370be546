"""Driver contract for the spark-graft builder (PySpark target).

Registers every implemented operator from SURVEY.md §2 as a (spark, sf_dir)
-> DataFrame callable, with a DuckDB-equivalent oracle where the semantics
are ANSI-SQL-expressible. Conventions shared by both sides:

- floating-point outputs are floor-truncated (floor(x*10^d)/10^d), never
  round()ed — Spark rounds half-up, DuckDB half-even, and double summation
  order differs between engines, so ranking/filtering always uses the
  truncated value;
- timestamps are returned as epoch microseconds (unix_micros/epoch_us) to
  dodge timezone rendering differences;
- every computed column is aliased identically on both sides.

Engine-roundtrip queries encode the driver tables into a chunk store under
/tmp and decode them back — the decoded DataFrame must hash-match
`SELECT ... FROM t` exactly, which is the bit-identity gate run per-codec.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

TRUNC6 = "floor({} * 1000000) / 1000000"


# --------------------------------------------------------------------------
# engine roundtrip helpers
# --------------------------------------------------------------------------

_STORE_ROOT = "/tmp/owr_entry_stores"


def _store_path(sf_dir: str, table: str, cols: list[str],
                overrides: dict[str, str], variant: str) -> str:
    """Cache path of a _roundtrip chunk store — the single place the cache
    key is derived (callers must never reconstruct the hash by hand)."""
    key = hashlib.sha256(
        f"{sf_dir}|{table}|{cols}|{sorted(overrides.items())}|{variant}"
        .encode()).hexdigest()[:16]
    return os.path.join(_STORE_ROOT, key)


def _store_valid(out: str, n_src: int, n_snapshots: int | None = None) -> bool:
    """Is a cached chunk store safe to reuse? True only when (a) a live
    snapshot exists, (b) its committed row count matches the source, and
    (c) the snapshot's recorded engine_fingerprint matches the code
    currently loaded. (c) replaces the old hand-maintained version tag in
    the cache key — a codec edit now invalidates every cached store
    automatically instead of relying on someone remembering a bump."""
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
    from omi_cpp_parquet_wide_record_spark.version import engine_fingerprint
    if not os.path.exists(os.path.join(out, "_current")):
        return False
    try:
        st = ChunkStore(out)
        snap = st.current_snapshot()
        if snap.get("engine_fingerprint") != engine_fingerprint():
            return False
        if n_snapshots is not None and len(st.snapshots()) != n_snapshots:
            return False
        return st.metrics()["rows"] == n_src
    except Exception:
        return False


def _roundtrip(spark: SparkSession, sf_dir: str, table: str,
               cols: list[str], overrides: dict[str, str],
               variant: str, ts_cols: tuple[str, ...] = ()) -> DataFrame:
    """Encode table[cols] into a cached chunk store, decode it back."""
    from omi_cpp_parquet_wide_record_spark.operators.decode import decode_store
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    _tune(spark)
    src = spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet")) \
        .select(*cols)
    # expected rows from the parquet footer (metadata-only read — the old
    # src.count() here was a full extra Spark action per roundtrip query)
    import pyarrow.parquet as _pq
    n_src = _pq.ParquetFile(
        os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows
    out = _store_path(sf_dir, table, cols, overrides, variant)
    if not _store_valid(out, n_src):
        shutil.rmtree(out, ignore_errors=True)
        encode_dataframe(src, out, salt_key=cols[0], num_pids=8,
                         codec_overrides=overrides)
    decoded = decode_store(spark, out)
    for c in ts_cols:
        decoded = decoded.withColumn(c, F.unix_micros(F.col(c)))
    return decoded


def _ts_us(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.unix_micros(F.col(c)))
    return df


def _tune(spark: SparkSession) -> SparkSession:
    """The driver supplies its own SparkSession; pin the runtime confs the
    oracle comparison depends on (UTC session TZ so epoch micros match
    DuckDB's naive timestamps; TIMESTAMP not TIMESTAMP_NTZ from parquet so
    unix_micros/watermarks resolve; Arrow execution for the kernels)."""
    for k, v in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # size(NULL) must be NULL (not -1) to match DuckDB len(NULL);
        # this default has flipped across Spark versions, so pin it
        ("spark.sql.legacy.sizeOfNull", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    _tune(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


_CAPTURE_DIR = "/tmp/owr_capture_v2"   # v2: u32 columns carried as int64


def _ensure_capture_fixtures() -> tuple[str, str]:
    """Deterministic pcap capture + golden parquets under /tmp, created once
    (both queries() and oracle_sql() call this, so the files exist no matter
    which side the driver evaluates first).

    - capture_nasdaq.pcap: 4000 wide rows serialized to real pcap bytes
      (Ethernet / VLAN / IPv4 / UDP framing + non-UDP noise frames)
    - golden_pcap_nasdaq.parquet: the capture decoded by the independent
      scalar reference-style parser (fixtures.reference_parse_pcap),
      written with the reference writer config
    - golden_wide_nasdaq.parquet: the wide fixture itself (the expected
      output of packets_table -> parse_packets)
    """
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    os.makedirs(_CAPTURE_DIR, exist_ok=True)
    pcap_path = os.path.join(_CAPTURE_DIR, "capture_nasdaq.pcap")
    golden_pcap = os.path.join(_CAPTURE_DIR, "golden_pcap_nasdaq.parquet")
    golden_wide = os.path.join(_CAPTURE_DIR, "golden_wide_nasdaq.parquet")
    pcap_jnx = os.path.join(_CAPTURE_DIR, "capture_jnx.pcap")
    golden_jnx = os.path.join(_CAPTURE_DIR, "golden_pcap_jnx.parquet")
    if not all(os.path.exists(p) for p in
               (pcap_path, golden_pcap, golden_wide, pcap_jnx, golden_jnx)):
        # every artifact goes through tmp+rename with a unique suffix: a
        # crash mid-write must never leave a truncated file that the
        # exists() guard above would then treat as a valid golden forever,
        # and two concurrent processes must not interleave one tmp path
        import uuid as _uuid

        def _atomic_write(dst, write_fn):
            tmp = dst + f".tmp.{_uuid.uuid4().hex[:8]}"
            write_fn(tmp)
            os.replace(tmp, dst)

        for which, cap, gp in (("nasdaq", pcap_path, golden_pcap),
                               ("jnx", pcap_jnx, golden_jnx)):
            data = FX.pcap_capture(4000, which)
            _atomic_write(cap, lambda t: open(t, "wb").write(data))
            _atomic_write(gp, lambda t: FX.write_golden_parquet(
                FX.reference_parse_pcap(data, which), t))
        _atomic_write(golden_wide, lambda t: FX.write_golden_parquet(
            FX.wide_itch_table(4000, "nasdaq"), t))
    return pcap_path, golden_pcap


def _ensure_media_golden() -> str:
    """Golden (id, width, height, mean, std, phash, resize_md5) parquet from
    the scalar per-image reference implementation. Fake payloads depend only
    on (id, seed) — never on the sf — so a 10k-id golden covers every driver
    scale; the oracle intersects on the actual doc_ids."""
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    os.makedirs(_CAPTURE_DIR, exist_ok=True)
    path = os.path.join(_CAPTURE_DIR, "golden_media.parquet")
    if not os.path.exists(path):
        import pyarrow.parquet as pq
        tmp = path + ".tmp"
        pq.write_table(FX.reference_media_features(10000), tmp)
        os.replace(tmp, path)
    return path


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full encode->decode roundtrip of the documents table at
    sf0.001 through the chunk store (codec auto-selection, salted
    partitioning, snapshot commit) — the engine's O11+O13 pipeline."""
    return _roundtrip(spark, "/root/testdata/sf0.001", "documents",
                      ["doc_id", "text", "lang", "source", "n_chars"],
                      {}, "flagship")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from omi_cpp_parquet_wide_record_spark.operators import (
        dedup, etl, multimodal, similarity, text,
    )

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # Registration order is deliberate: the driver evaluates queries in
    # dict order, and in round 2 it recorded rows for exactly the first 50
    # entries — so the queries that missed r2 rows (the flagship pcap
    # pipeline, streaming, multimodal, metrics) now come FIRST, and the
    # registry is consolidated to 50 entries total (same-table showcase
    # pairs merged, multi-codec roundtrips fused) with no operator dropped.

    # ---------------- binary capture pipeline (O1-O10 on real binary data)
    def _pcap_parse(s, d):
        """O1+O2 on real capture bytes: pcap file scan (per-file reads +
        record framing) -> eth/VLAN/IPv4/UDP strip -> full wide-record decode, all
        67 columns hash-compared against a golden parquet produced by an
        independent scalar reference-style parser from the same bytes."""
        from omi_cpp_parquet_wide_record_spark.operators.wide_record import (
            parse_packets,
        )
        from omi_cpp_parquet_wide_record_spark.sources.pcap import read_pcap
        pcap_path, _ = _ensure_capture_fixtures()
        _tune(s)
        out = parse_packets(read_pcap(s, pcap_path), "nasdaq")
        return (out.withColumn("pcap_ts_us", F.unix_micros("pcap_timestamp"))
                .drop("pcap_timestamp"))
    q["pcap_parse"] = _pcap_parse

    def _pcap_parse_jnx(s, d):
        """The JNX twin (31-col wide record, split timestamps kept raw,
        11-way dispatch) decoded from real capture bytes."""
        from omi_cpp_parquet_wide_record_spark.operators.wide_record import (
            parse_packets,
        )
        from omi_cpp_parquet_wide_record_spark.sources.pcap import read_pcap
        _ensure_capture_fixtures()
        _tune(s)
        out = parse_packets(
            read_pcap(s, os.path.join(_CAPTURE_DIR, "capture_jnx.pcap")),
            "jnx")
        return (out.withColumn("pcap_ts_us", F.unix_micros("pcap_timestamp"))
                .drop("pcap_timestamp"))
    q["pcap_parse_jnx"] = _pcap_parse_jnx

    def _parse_packets(s, d, which="nasdaq"):
        from omi_cpp_parquet_wide_record_spark import fixtures as FX
        from omi_cpp_parquet_wide_record_spark.operators.wide_record import (
            parse_packets,
        )
        _ensure_capture_fixtures()
        pkts = FX.packets_table(4000, which)
        pdf = s.createDataFrame(pkts.to_pandas()).repartition(4)
        out = parse_packets(pdf, which)
        return out.select(
            "pcap_index", "message_sequence", "message_index", "message_type",
            "stock", "price", "shares", "order_reference_number",
            F.unix_micros("pcap_timestamp").alias("pcap_ts_us"))
    q["wide_record_parse"] = _parse_packets

    def _qtag(d: str) -> str:
        """Deterministic per-sf-dir tag for memory-sink query names —
        hash() is salted per interpreter (PYTHONHASHSEED), so reruns
        minted a new sink table every run and could collide mod 99999."""
        import hashlib
        return hashlib.sha1(d.encode()).hexdigest()[:8]

    # ---------------- streaming
    def _stream(s, d):
        from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
            run_stream_once,
        )
        schema = _read(s, d, "events").schema
        out = run_stream_once(s, os.path.join(d, "events.parquet"), schema,
                              query_name=f"owr_stream_{_qtag(d)}")
        return out.select(F.unix_micros("w_start").alias("w_start_us"),
                          "event_type", "n",
                          F.col("total_value").cast("decimal(18,2)")
                           .cast("double").alias("total_value"))
    q["streaming_tumbling_counts"] = _stream

    def _session_stream(s, d):
        from omi_cpp_parquet_wide_record_spark.streaming.encode_stream import (
            run_session_stream_once,
        )
        schema = _read(s, d, "events").schema
        return run_session_stream_once(
            s, os.path.join(d, "events.parquet"), schema,
            query_name=f"owr_sess_{_qtag(d)}")
    q["streaming_session_windows"] = _session_stream

    def _stateful(s, d):
        from omi_cpp_parquet_wide_record_spark.streaming.stateful import (
            run_stateful_once,
        )
        schema = _read(s, d, "events").schema
        return run_stateful_once(
            s, os.path.join(d, "events.parquet"), schema,
            query_name=f"owr_stateful_{_qtag(d)}"
        ).select("user_id", "n_sessions", "n_events")
    q["streaming_stateful_sessionize"] = _stateful

    # ---------------- multimodal plumbing
    def _mm_features(s, d):
        """Feature extraction over binary media PLUS the metadata column
        (media_bytes = real octet_length of the payload; the oracle golden
        recomputes it as 11 + width*height, the fake format's exact size).
        Absorbs the former mm_metadata query."""
        # the pregenerated golden covers ids < 10000 — bound BOTH sides
        # so the query stays oracle-checkable at every sf (at sf<=0.1 the
        # filter is a no-op: documents has <=5000 rows)
        mdf = multimodal.fake_media_df(
            _read(s, d, "documents").filter(F.col("doc_id") < 10000))
        feats = multimodal.media_features(mdf)
        return feats.join(
            mdf.select("id", F.octet_length("media").cast("int")
                       .alias("media_bytes")), "id")
    q["mm_media_features"] = _mm_features
    q["mm_resize"] = lambda s, d: multimodal.resize_media(
        multimodal.fake_media_df(
            _read(s, d, "documents").filter(F.col("doc_id") < 10000))
    ).select("id", F.md5("media").alias("resize_md5"))

    def _metrics(s, d):
        """Manifest metrics rollup, oracle-checked as an ACCOUNTING
        invariant: per column, the manifest's summed rows and bytes_in
        (plain-equivalent input bytes) must equal what DuckDB recomputes
        from the raw table (fixed width x rows; utf8 bytes + 4/len for
        strings). Codec choices and bytes_out stay engine-internal (no
        external oracle can rederive a decision), but the sizes the
        engine CLAIMS to have consumed are now independently audited."""
        from omi_cpp_parquet_wide_record_spark.plans.snapshot import ChunkStore
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        _roundtrip(s, d, "documents", cols, {}, "auto")
        # _store_path is the single source of the cache key (a hand-rebuilt
        # hash here silently pointed at a stale store version once before)
        m = ChunkStore(_store_path(d, "documents", cols, {}, "auto")) \
            .manifest_table()
        mdf = s.createDataFrame(m.to_pandas())
        return (mdf.groupBy(F.col("column").alias("col"))
                .agg(F.sum("rows").alias("rows"),
                     F.sum("bytes_in").alias("bytes_in")))
    q["encode_metrics_rollup"] = _metrics

    # ---------------- engine core: per-codec bit-identity roundtrips (O11/O13)
    q["o11_encode_roundtrip"] = lambda s, d: _roundtrip(
        s, d, "documents", ["doc_id", "text", "lang", "source", "n_chars"],
        {}, "auto")
    # one store, four pinned codecs (RLE, DELTA, BITPACK, PLAIN) — each
    # column is a separate chunk payload, so per-codec bit-identity is
    # still isolated in the manifest even though the query is fused
    q["codec_multi_roundtrip_events"] = lambda s, d: _roundtrip(
        s, d, "events",
        ["event_id", "event_type", "user_id", "ts", "value", "props"],
        {"event_id": "delta", "event_type": "rle", "user_id": "bitpack",
         "ts": "delta", "value": "plain", "props": "plain"},
        "multi", ts_cols=("ts",))
    # DICT (lang/source) + FSST (text) over documents, one store
    q["codec_dict_fsst_roundtrip"] = lambda s, d: _roundtrip(
        s, d, "documents", ["doc_id", "lang", "source", "text"],
        {"doc_id": "plain", "lang": "dict", "source": "dict",
         "text": "fsst"}, "dict_fsst")
    # FOR (vec_id/label) fused with the composite LIST codec over the
    # embeddings table: lengths + flattened floats each take their own
    # codec inside the store. The decoded array reduces to an exact
    # fixed-point element sum (floor(x * 2^20) as BIGINT — float32 ->
    # double is exact, integer sums are order-free) so the DuckDB oracle
    # reproduces the decoded list without float-summation ambiguity.
    def _for_list_roundtrip(s, d):
        dec = _roundtrip(s, d, "embeddings",
                         ["vec_id", "label", "embedding"],
                         {"vec_id": "for", "label": "for",
                          "embedding": "list"}, "for_list")
        # NULL semantics pinned to the oracle's (r4 driver red row): a NULL
        # embedding folds to 0 (DuckDB: coalesce(list_sum(...), 0)) and a
        # NULL *element* contributes 0 instead of poisoning the whole fold
        # to NULL (DuckDB's list_sum skips NULL elements). size(NULL) stays
        # NULL on both sides (legacy.sizeOfNull pinned false in _tune).
        zero = F.lit(0).cast("long")
        # esum_fp is DECIMAL(38,0), not BIGINT: DuckDB's list_sum over a
        # BIGINT list returns HUGEINT (arrow decimal128(38,0) -> Decimal
        # cells), and the driver's value normalization distinguishes
        # Decimal from int even when numerically equal (the sessionize
        # HUGEINT lesson, in reverse: the oracle text is what it is, so
        # the Spark side mirrors its result class). The long fold is
        # exact; the final cast widens losslessly.
        return dec.select(
            "vec_id", "label",
            F.size("embedding").alias("dim"),
            F.coalesce(
                F.aggregate(
                    "embedding", zero,
                    lambda a, x: a + F.coalesce(
                        F.floor(x.cast("double")
                                * F.lit(1048576.0)).cast("long"), zero)
                ), zero).cast("decimal(38,0)").alias("esum_fp"))
    q["codec_for_roundtrip"] = _for_list_roundtrip
    # ALP (decimal floats, r5): TPC-H money/rate doubles scale to exact
    # 10^e digits; decode is bit-identical so raw doubles compare safely.
    # (ALP-RD, the high-entropy sibling, is exercised as the flattened-
    # float child stream inside codec_for_roundtrip's list codec.)
    q["codec_alp_roundtrip"] = lambda s, d: _roundtrip(
        s, d, "lineitem",
        ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
         "l_discount", "l_tax"],
        {"l_quantity": "alp", "l_extendedprice": "alp",
         "l_discount": "alp", "l_tax": "alp"}, "alp")

    def _upsert_merge(s, d):
        """O11/O13 + single-commit MERGE (r5 upsert): commit 0 writes all
        of documents, commit 1 upserts every doc_id % 5 == 0 row with
        rewritten lang/n_chars. The upsert's equality delete lands in the
        SAME snapshot as its data (sequence-scoped), so the live read must
        show exactly one row per key — the batch version for replaced
        keys, the original elsewhere. The oracle recomputes that MERGE
        view relationally (anti-join + union) from the raw table."""
        import pyarrow.parquet as _pq
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        _tune(s)
        n_src = _pq.ParquetFile(
            os.path.join(d, "documents.parquet")).metadata.num_rows
        batch_n = (n_src + 4) // 5        # doc_id is dense 0..n_src-1
        out = _store_path(d, "documents", ["upsert"], {}, "merge")
        if not _store_valid(out, n_src + batch_n, n_snapshots=2):
            shutil.rmtree(out, ignore_errors=True)
            docs = _read(s, d, "documents").select("doc_id", "lang",
                                                   "n_chars")
            encode_dataframe(docs, out, salt_key="doc_id", num_pids=8)
            batch = docs.filter(F.col("doc_id") % 5 == 0).select(
                "doc_id", F.upper("lang").alias("lang"),
                (F.col("n_chars") + 100000).alias("n_chars"))
            encode_dataframe(batch, out, salt_key="doc_id", num_pids=8,
                             resume=False, upsert_key="doc_id")
        return decode_store(s, out)
    q["o11_upsert_merge"] = _upsert_merge

    def _rewrite_binpack(s, d):
        """O11/O13 + in-place compaction (r5 rewrite_data_files binpack):
        three streaming-sized commits fragment every pid into tiny
        chunks; ``rewrite_small_chunks`` coalesces them under ONE
        pid-scoped rewrite commit. The live read after the rewrite is
        byte-identical to the pre-rewrite view — the oracle is simply
        the source table, thirds re-unioned."""
        import pyarrow.parquet as _pq
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
            rewrite_small_chunks,
        )
        _tune(s)
        n_src = _pq.ParquetFile(
            os.path.join(d, "documents.parquet")).metadata.num_rows
        out = _store_path(d, "documents", ["rewrite"], {}, "rw1")
        if not _store_valid(out, n_src, n_snapshots=4):
            shutil.rmtree(out, ignore_errors=True)
            docs = _read(s, d, "documents").select("doc_id", "lang",
                                                   "n_chars")
            third = (n_src + 2) // 3
            for i in range(3):
                encode_dataframe(
                    docs.filter((F.col("doc_id") >= i * third)
                                & (F.col("doc_id") < (i + 1) * third)),
                    out, salt_key="doc_id", num_pids=4, chunk_rows=64,
                    resume=False)
            res = rewrite_small_chunks(s, out, target_rows=65536)
            assert res["rewritten_pids"], res
        return decode_store(s, out)
    q["o11_rewrite_binpack"] = _rewrite_binpack

    def _schema_evolution(s, d):
        """O12/O13 + rename/drop evolution (r5): encode four document
        columns, then a metadata-only commit renames n_chars -> chars and
        drops source. The live read resolves pre-rename chunks through
        column aliases (zone maps included — the filter on the NEW name
        prunes chunks written under the old one); the oracle is the
        relational restatement (AS chars, source unselected)."""
        import pyarrow.parquet as _pq
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
            evolve_schema,
        )
        _tune(s)
        n_src = _pq.ParquetFile(
            os.path.join(d, "documents.parquet")).metadata.num_rows
        out = _store_path(d, "documents", ["evolve"], {}, "ev1")
        if not _store_valid(out, n_src, n_snapshots=2):
            shutil.rmtree(out, ignore_errors=True)
            docs = _read(s, d, "documents").select(
                "doc_id", "lang", "source", "n_chars")
            encode_dataframe(docs, out, salt_key="doc_id", num_pids=4,
                             chunk_rows=64, sort_by=["doc_id"])
            evolve_schema(out, rename={"n_chars": "chars"},
                          drop=["source"])
        return decode_store(s, out, filters=[("chars", "<", 300)])
    q["schema_evolution_scan"] = _schema_evolution

    def _meta_files_rollup(s, d):
        """Metadata tables (r5): the store's ``files`` table (one row per
        chunk column, read as a distributed manifest scan) rolled up to
        per-column row totals — every column of every chunk accounts for
        each table row exactly once, so the rollup equals the source
        row count per column. Reuses o11_encode_roundtrip's cached
        store."""
        from omi_cpp_parquet_wide_record_spark.operators.metadata import (
            metadata_table,
        )
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        _roundtrip(s, d, "documents", cols, {}, "auto")  # ensure store
        out = _store_path(d, "documents", cols, {}, "auto")
        files = metadata_table(s, out, "files")
        return (files.groupBy("column")
                .agg(F.sum("rows").alias("n_rows"))
                .withColumnRenamed("column", "col"))
    q["meta_files_rollup"] = _meta_files_rollup

    def _zorder_scan(s, d):
        """O11/O13 + multi-column layout (r5 zorder): the store is written
        with the Morton interleave of (doc_id, n_chars), so zone maps
        prune chunk files for a conjunctive filter touching BOTH columns
        (a lexicographic sort could only serve one). Results are layout-
        independent — the oracle is the plain relational filter."""
        import pyarrow.parquet as _pq
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        _tune(s)
        n_src = _pq.ParquetFile(
            os.path.join(d, "documents.parquet")).metadata.num_rows
        out = _store_path(d, "documents", ["zorder"], {}, "z1")
        if not _store_valid(out, n_src):
            shutil.rmtree(out, ignore_errors=True)
            docs = _read(s, d, "documents").select("doc_id", "lang",
                                                   "n_chars")
            encode_dataframe(docs, out, salt_key="doc_id", num_pids=4,
                             chunk_rows=64, zorder_by=["doc_id", "n_chars"])
        return decode_store(s, out, filters=[("doc_id", "<", 300),
                                             ("n_chars", "<", 300)])
    q["zorder_pruned_scan"] = _zorder_scan

    def _prefix_scan(s, d):
        """O13 + string-prefix pushdown (r5): ``startswith`` prunes chunk
        files via the [p, prefix_upper(p)) zone-map range — src1* covers
        src1, src10..src19 (true prefix semantics, not equality)."""
        import pyarrow.parquet as _pq
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        _tune(s)
        n_src = _pq.ParquetFile(
            os.path.join(d, "documents.parquet")).metadata.num_rows
        out = _store_path(d, "documents", ["prefix"], {}, "sw1")
        if not _store_valid(out, n_src):
            shutil.rmtree(out, ignore_errors=True)
            docs = _read(s, d, "documents").select("doc_id", "source",
                                                   "n_chars")
            encode_dataframe(docs, out, salt_key="doc_id", num_pids=4,
                             chunk_rows=64, sort_by=["source"])
        return decode_store(s, out,
                            filters=[("source", "startswith", "src1")])
    q["prefix_pruned_scan"] = _prefix_scan

    def _notnull_scan(s, d):
        """O13 + null-count pruning (r5): IS NOT NULL prunes all-null
        chunks via the manifest's per-chunk null counts (those chunks
        carry no zone-map stats at all, so only the null counts can
        exclude them). Shares the prefix store."""
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        _prefix_scan(s, d)   # builds/validates the shared store
        out = _store_path(d, "documents", ["prefix"], {}, "sw1")
        return decode_store(
            s, out, filters=[("n_chars", "is_not_null", None)])
    q["notnull_pruned_scan"] = _notnull_scan

    # ---------------- reference operators O2-O14 over the driver tables
    def _pruned_scan(s, d):
        """O13 with real I/O pruning AND cross-snapshot schema evolution:
        commit 0 writes the low half of documents with 3 columns, commit 1
        appends the high half with a 4th column (n_chars). The live read
        then exercises, in one query: footer-seek column pruning, zone-map
        file skipping (doc_id < 200), read-time null-fill for rows from
        chunks committed before the column existed (Iceberg add-column
        semantics), and the multi-commit manifest union."""
        import pyarrow.parquet as _pq
        from omi_cpp_parquet_wide_record_spark.operators.decode import (
            decode_store,
        )
        from omi_cpp_parquet_wide_record_spark.operators.encode import (
            encode_dataframe,
        )
        from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
            ChunkStore,
        )
        _tune(s)
        n_src = _pq.ParquetFile(
            os.path.join(d, "documents.parquet")).metadata.num_rows
        half = n_src // 2
        out = _store_path(d, "documents", ["evolved"], {}, "v2")
        if not _store_valid(out, n_src, n_snapshots=2):
            shutil.rmtree(out, ignore_errors=True)
            docs = _read(s, d, "documents")
            # sort_by=doc_id: the write sort order keeps each chunk's
            # doc_id zone map a tight range, so the filter below prunes
            # chunk files instead of just rows (results are order-
            # insensitive — layout only)
            encode_dataframe(
                docs.filter(F.col("doc_id") < half)
                    .select("doc_id", "text", "lang"),
                out, salt_key="doc_id", num_pids=8, sort_by=["doc_id"])
            encode_dataframe(
                docs.filter(F.col("doc_id") >= half)
                    .select("doc_id", "text", "lang", "n_chars"),
                out, salt_key="doc_id", num_pids=8, resume=False,
                sort_by=["doc_id"])
        # 300 straddles the sf0.01 commit boundary (250), so the driver
        # sees null-filled OLD rows and populated NEW rows side by side
        return decode_store(s, out, columns=["doc_id", "lang", "n_chars"],
                            filters=[("doc_id", "<", 300)])
    q["pruned_filtered_scan"] = _pruned_scan

    q["o2_protocol_filter"] = lambda s, d: etl.protocol_filter(
        _read(s, d, "events"), "event_type", "click"
    ).select("event_id", "user_id", "value")

    # O3 + O6 fused: dense row index then sequence rewrite over the same
    # event stream (both pure per-row transforms of event_id)
    q["o3_o6_index_sequence"] = lambda s, d: etl.sequence_rewrite(
        etl.dense_row_index(_read(s, d, "events").select("event_id"),
                            "event_id"), "event_id"
    ).select("event_id", "pcap_index", "message_index", "message_sequence")

    q["o5_explode_messages"] = lambda s, d: etl.explode_messages(
        _read(s, d, "documents").filter(F.col("doc_id") < 100),
        "text", "doc_id")

    q["o7_type_dispatch"] = lambda s, d: etl.type_dispatch(
        _read(s, d, "events"), "event_type", "value",
        ["click", "view", "purchase", "signup", "error"]
    ).select("event_id", "click_value", "view_value", "purchase_value",
             "signup_value", "error_value")

    q["o8_field_projection"] = lambda s, d: _read(s, d, "events").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"))

    # O4 + O9 fused: envelope projection (session) and the wire field
    # decoders over the same payload column
    q["o4_o9_envelope_field_decoders"] = lambda s, d: etl.field_decoders(
        etl.envelope_projection(_read(s, d, "documents"), "text"), "text"
    ).select("doc_id", "session", "stock", "be_u16", "be_u32", "u48_fold")

    q["o10_wide_record_assembly"] = lambda s, d: _read(s, d, "events").select(
        "event_id",
        F.col("event_type").alias("message_type"),
        F.when(F.col("event_type") == "click", F.col("user_id"))
         .otherwise(F.lit(None).cast("long")).alias("click_user"),
        F.lit(None).cast("int").alias("locate_code"),
        F.lit(None).cast("string").alias("mpid"))

    q["o14_csv_sink"] = lambda s, d: etl.csv_sink_format(
        _read(s, d, "events").select("event_id", "event_type", "user_id"),
        ["event_id", "event_type", "user_id"])

    # ---------------- general query surface (SURVEY §2.2 engine needs)
    # spread_input after the pushed-down filter (guide §2.5): the driver
    # tables are small single-row-group parquet files, so the scan is ONE
    # task and the decimal-cast aggregation would run single-core; the
    # repartition is a no-op whenever the scan already has enough splits.
    # Decimal sums are exact (order-free), so results are unchanged.
    from omi_cpp_parquet_wide_record_spark.operators.etl import spread_input
    q["tpch_q1_pricing_summary"] = lambda s, d: (
        spread_input(_read(s, d, "lineitem")
                     .filter(F.col("l_shipdate") <= "1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
              .alias("sum_qty"),
             F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
              .alias("sum_base_price"),
             F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                   .cast("decimal(18,6)")).alias("sum_disc_price"),
             F.count(F.lit(1)).alias("count_order"))
        .select("l_returnflag", "l_linestatus",
                F.col("sum_qty").cast("double").alias("sum_qty"),
                F.col("sum_base_price").cast("double").alias("sum_base_price"),
                F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
                "count_order"))

    # TPC-H Q6 runs through the SQL API surface (sql_api_q6_revenue below)
    q["tpch_q3_shipping_priority"] = lambda s, d: (
        _read(s, d, "lineitem")
        .join(_read(s, d, "orders"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") < "1998-01-01")
                & (F.col("l_shipdate") > "1997-06-01"))
        .groupBy("l_orderkey", F.unix_micros("o_orderdate").alias("o_date_us"))
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                   .cast("decimal(18,6)")).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10))

    q["cube_rollup_counts"] = lambda s, d: (
        _read(s, d, "events")
        .rollup("event_type", (F.col("user_id") % 4).alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)"))
              .cast("double").alias("total")))

    q["set_ops_except_intersect"] = lambda s, d: (
        _read(s, d, "events").filter(F.col("event_type") == "click")
        .select("user_id")
        .intersect(_read(s, d, "events")
                   .filter(F.col("event_type") == "purchase")
                   .select("user_id"))
        .exceptAll(_read(s, d, "events")
                   .filter((F.col("event_type") == "error")
                           & (F.col("value") > 195))
                   .select("user_id").distinct()))

    # scalar + array function showcases fused (both row-wise over documents)
    q["scalar_array_functions_showcase"] = lambda s, d: (
        _read(s, d, "documents").select(
            "doc_id",
            F.upper(F.substring("text", 1, 5)).alias("up5"),
            F.length(F.trim(F.col("lang"))).alias("lang_len"),
            F.abs(F.col("n_chars") - 500).alias("dist500"),
            F.greatest("n_chars", F.lit(100)).alias("gmax"),
            (F.col("n_chars") % 7).alias("mod7"),
            F.pow(F.lit(2), F.col("n_chars") % 10).cast("long").alias("p2"),
            F.concat_ws("-", "lang", "source").alias("tag"),
            F.reverse(F.col("lang")).alias("rlang"),
            F.array_join(F.slice(F.split("text", " "), 1, 3), "_")
             .alias("first3"),
            F.coalesce(F.nullif(F.col("lang"), F.lit("en")),
                       F.lit("english")).alias("nz"),
            F.size(F.split("text", " ")).alias("n_words"),
            F.array_join(F.sort_array(F.slice(F.split("text", " "), 1, 4)),
                         "|").alias("first4_sorted"),
            # int, not bool: the driver's value normalization is only
            # proven for numerics/strings (sessionize's HUGEINT lesson)
            F.array_contains(F.split("text", " "), "the").cast("int")
             .alias("has_the"),
            F.size(F.array_distinct(F.split("text", " ")))
             .alias("n_distinct_words"),
            F.element_at(F.split("text", " "), -1).alias("last_word"),
            F.aggregate(F.transform(F.split("text", " "),
                                    lambda w: F.length(w)),
                        F.lit(0), lambda a, b: a + b).alias("sum_word_len")))

    def _sql_api(s, d):
        """The SQL surface (absent in the reference, SURVEY §2.2): TPC-H Q6
        (forecast revenue) expressed as plain Spark SQL over a temp view —
        one query covers both the SQL API and the Q6 semantics."""
        _read(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        return s.sql(
            "SELECT CAST(sum(CAST(l_extendedprice * l_discount "
            "AS DECIMAL(18,6))) AS DOUBLE) AS revenue, count(*) AS n "
            "FROM lineitem_v WHERE l_shipdate >= '1997-01-01' "
            "AND l_shipdate < '1998-01-01' "
            "AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 25")
    q["sql_api_q6_revenue"] = _sql_api

    def _topk(s, d):
        from pyspark.sql import Window
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), F.col("event_id").asc())
        return (_read(s, d, "events")
                .withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= 3)
                .select("event_type", "rk", "event_id", "value"))
    q["topk_per_group"] = _topk

    # spread the PROBE side: the broadcast join and the partial decimal
    # aggregation run inside the scan task, and the driver's orders file
    # is one scan split (same rationale as tpch_q1; exact sums, so
    # results are unchanged)
    q["broadcast_join_enrich"] = lambda s, d: (
        spread_input(_read(s, d, "orders"))
        .join(F.broadcast(_read(s, d, "customer")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").alias("total")))

    def _windows(s, d):
        from pyspark.sql import Window
        wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
        running = Window.partitionBy("user_id").orderBy("ts", "event_id") \
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return (_read(s, d, "events").select(
            "event_id", "user_id",
            F.row_number().over(wo).alias("rn"),
            F.lag("event_type").over(wo).alias("prev_type"),
            F.lead("event_type").over(wo).alias("next_type"),
            F.ntile(4).over(wo).alias("quartile"),
            F.sum(F.col("value").cast("decimal(18,2)")).over(running)
             .cast("double").alias("running_value"),
            F.count(F.lit(1)).over(running).alias("running_n")))
    q["window_functions_showcase"] = _windows

    q["date_functions_showcase"] = lambda s, d: (
        _read(s, d, "orders").select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("dom"),
            (F.dayofweek("o_orderdate") - 1).alias("dow"),   # 0 = Sunday
            F.quarter("o_orderdate").alias("q"),
            F.unix_micros(F.date_trunc("month", "o_orderdate"))
             .alias("month_start_us"),
            F.datediff(F.lit("1998-01-01").cast("date"),
                       F.col("o_orderdate").cast("date")).alias("days_to_98"),
            F.unix_micros(F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS"))
             .alias("plus_week_us")))

    q["semi_anti_joins"] = lambda s, d: (
        _read(s, d, "orders")
        .join(_read(s, d, "customer").filter(F.col("c_acctbal") > 5000),
              F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey")
        .unionAll(
            _read(s, d, "orders")
            .join(_read(s, d, "customer"),
                  F.col("o_custkey") == F.col("c_custkey"), "left_anti")
            .select("o_orderkey", (-F.col("o_custkey")).alias("o_custkey"))))

    def _range_join(s, d):
        """Interval join, scale-shaped: clicks within 24 hours after a
        signup by the same user. The equi-join key is a time BUCKET (pairs
        can only match inside the same or adjacent bucket), which keeps the
        join sub-quadratic; the exact range predicate filters after."""
        ev = _read(s, d, "events")
        bucket_us = 86400 * 1_000_000
        sig = (ev.filter(F.col("event_type") == "signup")
               .select(F.col("user_id").alias("s_user"),
                       F.unix_micros("ts").alias("s_us")))
        clk = (ev.filter(F.col("event_type") == "click")
               .select(F.col("event_id").alias("click_id"),
                       F.col("user_id").alias("c_user"),
                       F.unix_micros("ts").alias("c_us")))
        sig = sig.withColumn("bk", F.explode(F.array(
            (F.col("s_us") / bucket_us).cast("long"),
            (F.col("s_us") / bucket_us).cast("long") + 1)))
        clk = clk.withColumn("bk", (F.col("c_us") / bucket_us).cast("long"))
        return (clk.join(sig, (clk.c_user == sig.s_user)
                         & (clk.bk == sig.bk))
                .filter((F.col("c_us") > F.col("s_us"))
                        & (F.col("c_us") <= F.col("s_us") + bucket_us))
                .groupBy("click_id")
                .agg(F.count(F.lit(1)).alias("n_signups"),
                     F.min("s_us").alias("first_signup_us")))
    q["range_interval_join"] = _range_join

    def _sessionize(s, d):
        from pyspark.sql import Window
        # event_id secondary sort: (user_id, ts) has no ties in the driver
        # data, but a deterministic lag ordering must not depend on that
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
        new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1) \
            .otherwise(0)
        return (_read(s, d, "events")
                .withColumn("new_sess", new_sess)
                .groupBy("user_id")
                .agg(F.sum("new_sess").cast("long").alias("n_sessions"),
                     F.count(F.lit(1)).alias("n_events")))
    q["sessionize"] = _sessionize

    def _asof(s, d):
        ev = _read(s, d, "events")
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value")
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", "ts", "value")
        out = etl.asof_join(clicks, views, key="user_id", ts="ts",
                            right_cols=["value"])
        return out.select("event_id", "user_id",
                          F.unix_micros("ts").alias("ts_us"),
                          "value", "value_asof")
    q["asof_join_enrich"] = _asof

    # ---------------- training-data pipeline: dedup family
    q["dedup_exact_groups"] = lambda s, d: dedup.exact_duplicates(
        _read(s, d, "documents"))
    # prefix-filtered exact Jaccard: sub-quadratic candidates WITHOUT any
    # frequency cap, so no capped-vs-oracle divergence class exists at all
    q["dedup_ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs_prefix(
        _read(s, d, "documents"), threshold=0.5, n=3)
    q["dedup_minhash_lsh"] = lambda s, d: dedup.minhash_lsh_pairs(
        _read(s, d, "documents"), threshold=0.6)
    q["dedup_simhash"] = lambda s, d: dedup.simhash_pairs(
        _read(s, d, "documents"), max_hamming=3)

    q["text_rolling_fingerprint"] = lambda s, d: dedup.rolling_fingerprints(
        _read(s, d, "documents"))

    # ---------------- text analysis
    q["text_profile"] = lambda s, d: text.text_profile(
        _read(s, d, "documents"))

    # composed curation pipeline: quality/lang gate -> exact dedup ->
    # MinHash near-dup removal, all in one plan (every stage individually
    # oracle-proven; this checks the composition)
    q["corpus_curation"] = lambda s, d: dedup.curate_corpus(
        _read(s, d, "documents"), min_quality=0.5,
        langs=("en", "de", "fr", "es"), near_dup_threshold=0.6)

    # near-dup clusters: one row per node with its connected-component
    # representative (min reachable id) over the MinHash pair graph —
    # the closing step of corpus dedup (pairwise drop-the-higher-id
    # over-deletes transitive clusters); min-label propagation with
    # pointer jumping, oracle = DuckDB recursive-CTE transitive closure
    q["dedup_connected_components"] = lambda s, d: (
        dedup.connected_components(
            dedup.minhash_lsh_pairs(_read(s, d, "documents"), threshold=0.6))
        .select(F.col("id").alias("doc_id"), "component"))

    # corpus text stats, one query: top-50 tokens by document frequency
    # (kind='token'; the training-data "heavy hitters", a distributed
    # sort-limit) UNION the 100-char document-length histogram
    # (kind='bucket') — fused so the registry stays at the driver's
    # 50-row record limit (COVERAGE.md)
    def _text_stats(s, d):
        from pyspark.sql import Window
        w = Window.orderBy(F.col("df").desc(), F.col("token"))
        vocab = (_read(s, d, "documents")
                 .select(F.explode(F.array_distinct(F.split("text", " ")))
                         .alias("token"))
                 .groupBy("token").agg(F.count(F.lit(1)).alias("df"))
                 .orderBy(F.col("df").desc(), F.col("token")).limit(50)
                 .withColumn("rk", F.row_number().over(w))
                 .select(F.lit("token").alias("kind"),
                         F.col("token").alias("key"),
                         F.col("df").cast("long").alias("n"),
                         F.col("rk").cast("double").alias("metric")))
        hist = (_read(s, d, "documents")
                .groupBy((F.floor(F.col("n_chars") / 100) * 100)
                         .alias("bucket"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("n_chars").cast("decimal(18,0)"))
                      .cast("double").alias("total_chars"))
                .select(F.lit("bucket").alias("kind"),
                        F.col("bucket").cast("string").alias("key"),
                        F.col("n").cast("long").alias("n"),
                        F.col("total_chars").alias("metric")))
        return vocab.unionByName(hist)
    q["text_corpus_stats"] = _text_stats

    # ---------------- similarity search
    q["ann_cosine_topk"] = lambda s, d: similarity.cosine_topk(
        _read(s, d, "embeddings"),
        _read(s, d, "embeddings").filter(F.col("vec_id") < 10), k=5)
    # exact O(n^2) crossJoin demoted to a bounded validation subsample —
    # the scale path for embedding near-dup is ann_lsh_candidates below
    q["dedup_embedding_cosine"] = lambda s, d: similarity.cosine_pairs(
        _read(s, d, "embeddings").filter(F.col("vec_id") < 200),
        threshold=0.25)
    q["ann_lsh_candidates"] = lambda s, d: similarity.lsh_cosine_candidates(
        _read(s, d, "embeddings"), threshold=0.2)
    q["ann_ivf_assign"] = lambda s, d: similarity.ivf_assign(
        _read(s, d, "embeddings"))
    q["ann_ivf_topk"] = lambda s, d: similarity.ivf_topk(
        _read(s, d, "embeddings"),
        _read(s, d, "embeddings").filter(F.col("vec_id") < 10),
        k=5, nprobe=2)

    # materialized IVF index (r5): built once into a cached chunk store
    # partitioned by centroid; probes read only the probed cells' files.
    # Result is bit-identical to ann_ivf_topk, so it shares that oracle.
    def _ivf_indexed(s, d):
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq
        _tune(s)
        t = _pq.read_table(os.path.join(d, "embeddings.parquet"),
                           columns=["embedding"])
        col = t.column("embedding").combine_chunks()
        lens = _pc.fill_null(_pc.list_value_length(col), 0) \
            .to_numpy(zero_copy_only=False)
        import numpy as np
        nonempty = col.is_valid().to_numpy(zero_copy_only=False) \
            & (lens > 0)
        flat = col.flatten()
        childbad = np.zeros(len(col), dtype=bool)
        if flat.null_count:
            cv = flat.is_valid().to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            ln = np.where(nonempty, lens, 0).astype(np.int64)
            seg = np.zeros(len(ln) + 1, dtype=np.int64)
            np.cumsum(ln, out=seg[1:])
            nz = ln > 0
            cnt = np.zeros(len(ln), dtype=np.int64)
            if nz.any():
                cnt[nz] = np.add.reduceat(cv, seg[:-1][nz])
            childbad = nonempty & (cnt != ln)
        n_valid = int((nonempty & ~childbad).sum())
        out = _store_path(d, "embeddings", ["ivf_index"], {}, "ivf")
        if not _store_valid(out, n_valid):
            shutil.rmtree(out, ignore_errors=True)
            similarity.build_ivf_index(_read(s, d, "embeddings"), out)
        return similarity.ivf_topk_indexed(
            s, out, _read(s, d, "embeddings").filter(F.col("vec_id") < 10),
            k=5, nprobe=2)
    q["ann_ivf_topk_indexed"] = _ivf_indexed

    return q


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect) — keys mirror queries(); rows-only ops omitted
# --------------------------------------------------------------------------

def _vv(col: str) -> str:
    """DuckDB twin of similarity.valid_vector: a scorable vector is
    non-null, non-empty, and has no null elements (r5 null-surface
    audit — driver embeddings carry such rows)."""
    return (f"({col} IS NOT NULL AND len({col}) > 0 "
            f"AND len(list_filter({col}, x -> x IS NULL)) = 0)")


def oracle_sql() -> dict[str, str]:
    t6 = TRUNC6
    sql: dict[str, str] = {}

    sql["o11_encode_roundtrip"] = \
        "SELECT doc_id, text, lang, source, n_chars FROM documents"
    sql["codec_multi_roundtrip_events"] = (
        "SELECT event_id, event_type, user_id, epoch_us(ts) AS ts, "
        "value, props FROM events")
    sql["codec_dict_fsst_roundtrip"] = \
        "SELECT doc_id, lang, source, text FROM documents"
    sql["codec_for_roundtrip"] = (
        "SELECT vec_id, label, len(embedding) AS dim, "
        "coalesce(list_sum(list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))), 0) "
        "AS esum_fp FROM embeddings")
    sql["codec_alp_roundtrip"] = (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_tax FROM lineitem")

    # single-commit MERGE view: the upsert replaced every doc_id%5==0 row
    # (upper lang, n_chars+100000) and kept the rest — the relational
    # restatement of "batch's delete hides prior rows with its keys"
    sql["o11_upsert_merge"] = (
        "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 <> 0 "
        "UNION ALL "
        "SELECT doc_id, upper(lang) AS lang, n_chars + 100000 AS n_chars "
        "FROM documents WHERE doc_id % 5 = 0")

    # the binpack rewrite reorganizes bytes only — the live view it must
    # reproduce is just the source table (doc_id is dense, the three
    # commit thirds cover it exactly)
    sql["o11_rewrite_binpack"] = \
        "SELECT doc_id, lang, n_chars FROM documents"

    # rename/drop evolution relationally: the renamed column is an AS,
    # the dropped column is simply unselected
    sql["schema_evolution_scan"] = (
        "SELECT doc_id, lang, n_chars AS chars FROM documents "
        "WHERE n_chars < 300")

    # the files metadata table accounts for every row once per column
    sql["meta_files_rollup"] = (
        "SELECT 'doc_id' AS col, count(*) AS n_rows FROM documents "
        "UNION ALL SELECT 'text', count(*) FROM documents "
        "UNION ALL SELECT 'lang', count(*) FROM documents "
        "UNION ALL SELECT 'source', count(*) FROM documents "
        "UNION ALL SELECT 'n_chars', count(*) FROM documents")

    # layout-independent view of the z-ordered store: a plain filter
    sql["zorder_pruned_scan"] = (
        "SELECT doc_id, lang, n_chars FROM documents "
        "WHERE doc_id < 300 AND n_chars < 300")

    # prefix pushdown is LIKE 'p%' relationally
    sql["prefix_pruned_scan"] = (
        "SELECT doc_id, source, n_chars FROM documents "
        "WHERE source LIKE 'src1%'")

    sql["notnull_pruned_scan"] = (
        "SELECT doc_id, source, n_chars FROM documents "
        "WHERE n_chars IS NOT NULL")

    # evolved store: rows encoded before n_chars existed read back NULL
    # (Iceberg add-column null-fill); the commit boundary is count/2
    sql["pruned_filtered_scan"] = (
        "SELECT doc_id, lang, CASE WHEN doc_id >= "
        "(SELECT count(*) // 2 FROM documents) THEN n_chars END AS n_chars "
        "FROM documents WHERE doc_id < 300")

    sql["o2_protocol_filter"] = (
        "SELECT event_id, user_id, value FROM events "
        "WHERE event_type = 'click'")
    sql["o3_o6_index_sequence"] = (
        "SELECT event_id, "
        "ROW_NUMBER() OVER (ORDER BY event_id) AS pcap_index, "
        "CAST((event_id % 4) + 1 AS INT) AS message_index, "
        "CAST((event_id // 4) * 7 + 1 + (event_id % 4) + 1 AS BIGINT) "
        "AS message_sequence FROM events")
    sql["o5_explode_messages"] = (
        "SELECT doc_id, unnest(string_split(text, ' ')) AS token "
        "FROM documents WHERE doc_id < 100")
    sql["o7_type_dispatch"] = (
        "SELECT event_id, "
        "CASE WHEN event_type='click' THEN value END AS click_value, "
        "CASE WHEN event_type='view' THEN value END AS view_value, "
        "CASE WHEN event_type='purchase' THEN value END AS purchase_value, "
        "CASE WHEN event_type='signup' THEN value END AS signup_value, "
        "CASE WHEN event_type='error' THEN value END AS error_value "
        "FROM events")
    sql["o8_field_projection"] = (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) "
        "AS prop_k FROM events")
    a = lambda i: f"ascii(substr(text,{i},1))::BIGINT"  # noqa: E731
    sql["o4_o9_envelope_field_decoders"] = (
        "SELECT doc_id, substr(text, 1, 10) AS session, "
        "string_split(substr(text, 1, 8), ' ')[1] AS stock, "
        f"CAST({a(1)}*256 + {a(2)} AS INT) AS be_u16, "
        f"(({a(1)}*256 + {a(2)})*256 + {a(3)})*256 + {a(4)} AS be_u32, "
        f"(((({a(1)}*256 + {a(2)})*256 + {a(3)})*256 + {a(4)})*256 + "
        f"{a(5)})*256 + {a(6)} AS u48_fold "
        "FROM documents")
    sql["o10_wide_record_assembly"] = (
        "SELECT event_id, event_type AS message_type, "
        "CASE WHEN event_type='click' THEN user_id END AS click_user, "
        "CAST(NULL AS INT) AS locate_code, CAST(NULL AS VARCHAR) AS mpid "
        "FROM events")
    # NULL fields serialize as EMPTY csv cells (concat_ws SKIPS nulls,
    # which would drop the comma — r5 null-surface audit)
    sql["o14_csv_sink"] = (
        "SELECT concat_ws(',', coalesce(CAST(event_id AS VARCHAR), ''), "
        "coalesce(event_type, ''), coalesce(CAST(user_id AS VARCHAR), '')) "
        "|| ',' AS csv_row FROM events")

    sql["tpch_q1_pricing_summary"] = (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sum_qty, "
        "CAST(sum(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) "
        "AS sum_base_price, "
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))"
        " AS DOUBLE) AS sum_disc_price, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus")
    sql["sql_api_q6_revenue"] = (
        "SELECT CAST(sum(CAST(l_extendedprice * l_discount AS "
        "DECIMAL(18,6))) AS DOUBLE) AS revenue, count(*) AS n FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 25")
    sql["tpch_q3_shipping_priority"] = (
        "SELECT l_orderkey, epoch_us(o_orderdate) AS o_date_us, "
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))"
        " AS DOUBLE) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE o_orderdate < TIMESTAMP '1998-01-01' "
        "AND l_shipdate > TIMESTAMP '1997-06-01' "
        "GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10")

    sql["cube_rollup_counts"] = (
        "SELECT event_type, user_id % 4 AS user_bucket, count(*) AS n, "
        "CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS total "
        "FROM events GROUP BY ROLLUP (event_type, user_bucket)")
    sql["set_ops_except_intersect"] = (
        "SELECT user_id FROM events WHERE event_type = 'click' "
        "INTERSECT "
        "SELECT user_id FROM events WHERE event_type = 'purchase' "
        "EXCEPT ALL "
        "SELECT DISTINCT user_id FROM events "
        "WHERE event_type = 'error' AND value > 195")
    sql["scalar_array_functions_showcase"] = (
        "WITH w AS (SELECT doc_id, text, lang, source, n_chars, "
        "string_split(text, ' ') AS a FROM documents) "
        "SELECT doc_id, upper(substr(text, 1, 5)) AS up5, "
        "length(trim(lang)) AS lang_len, abs(n_chars - 500) AS dist500, "
        "greatest(n_chars, 100) AS gmax, n_chars % 7 AS mod7, "
        "CAST(pow(2, n_chars % 10) AS BIGINT) AS p2, "
        "concat_ws('-', lang, source) AS tag, reverse(lang) AS rlang, "
        "array_to_string(a[1:3], '_') AS first3, "
        "coalesce(nullif(lang, 'en'), 'english') AS nz, "
        "len(a) AS n_words, "
        "array_to_string(list_sort(a[1:4]), '|') AS first4_sorted, "
        "CAST(list_contains(a, 'the') AS INT) AS has_the, "
        "len(list_distinct(a)) AS n_distinct_words, "
        "a[-1] AS last_word, "
        "CAST(list_sum(list_transform(a, x -> length(x))) AS INT) "
        "AS sum_word_len FROM w")

    sql["topk_per_group"] = (
        "SELECT event_type, rk, event_id, value FROM ("
        "SELECT event_type, event_id, value, ROW_NUMBER() OVER ("
        "PARTITION BY event_type ORDER BY value DESC, event_id) AS rk "
        "FROM events) WHERE rk <= 3")
    sql["broadcast_join_enrich"] = (
        "SELECT c_nationkey, count(*) AS n_orders, "
        "CAST(sum(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS total "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_nationkey")
    sql["window_functions_showcase"] = (
        "SELECT event_id, user_id, ROW_NUMBER() OVER w AS rn, "
        "lag(event_type) OVER w AS prev_type, "
        "lead(event_type) OVER w AS next_type, "
        "ntile(4) OVER w AS quartile, "
        "CAST(sum(value::DECIMAL(18,2)) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) "
        "AS running_value, "
        "count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING) AS running_n "
        "FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)")

    sql["date_functions_showcase"] = (
        "SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,"
        " day(o_orderdate) AS dom, dayofweek(o_orderdate) AS dow, "
        "quarter(o_orderdate) AS q, "
        "epoch_us(date_trunc('month', o_orderdate)) AS month_start_us, "
        "date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') "
        "AS days_to_98, "
        "epoch_us(o_orderdate + INTERVAL 7 DAY) AS plus_week_us "
        "FROM orders")

    sql["semi_anti_joins"] = (
        "SELECT o_orderkey, o_custkey FROM orders o "
        "WHERE EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = "
        "o.o_custkey AND c.c_acctbal > 5000) "
        "UNION ALL "
        "SELECT o_orderkey, -o_custkey AS o_custkey FROM orders o "
        "WHERE NOT EXISTS (SELECT 1 FROM customer c "
        "WHERE c.c_custkey = o.o_custkey)")

    sql["range_interval_join"] = (
        "WITH sig AS (SELECT user_id, epoch_us(ts) AS s_us FROM events "
        "WHERE event_type = 'signup'), "
        "clk AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us "
        "FROM events WHERE event_type = 'click') "
        "SELECT click_id, count(*) AS n_signups, min(s_us) "
        "AS first_signup_us FROM clk JOIN sig USING (user_id) "
        "WHERE c_us > s_us AND c_us <= s_us + 86400000000 "
        "GROUP BY click_id")

    # CAST(sum(...) AS BIGINT): DuckDB sum(INTEGER) yields HUGEINT, which
    # the driver's value normalization hashes differently from Spark's
    # bigint even when numerically equal — pin both sides to int64.
    _sessionize_sql = (
        "WITH g AS (SELECT user_id, "
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
        " IS NULL "
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id)) > 30*60*1000000 THEN 1 ELSE 0 END "
        "AS new_sess FROM events) "
        "SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions, "
        "count(*) AS n_events FROM g GROUP BY user_id")
    sql["sessionize"] = _sessionize_sql

    # stateful streaming totals == the batch sessionize aggregate
    sql["streaming_stateful_sessionize"] = _sessionize_sql

    # session_window end == last event + gap; same-session rule is
    # "gap to previous event <= 30 min" => new session on strict >
    sql["streaming_session_windows"] = (
        "WITH g AS (SELECT user_id, ts, event_id, "
        "CASE WHEN lag(ts) OVER w IS NULL OR epoch_us(ts) - "
        "epoch_us(lag(ts) OVER w) > 30*60*1000000 THEN 1 ELSE 0 END AS brk "
        "FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM g) "
        "SELECT user_id, min(epoch_us(ts)) AS sess_start_us, "
        "max(epoch_us(ts)) + 30*60*1000000 AS sess_end_us, "
        "count(*) AS n_events FROM s GROUP BY user_id, sid")

    sql["asof_join_enrich"] = (
        "WITH clicks AS (SELECT event_id, user_id, ts, value FROM events "
        "WHERE event_type = 'click'), "
        "views AS (SELECT user_id, ts, value FROM events "
        "WHERE event_type = 'view') "
        "SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, "
        "c.value AS value, v.value AS value_asof "
        "FROM clicks c ASOF LEFT JOIN views v "
        "ON c.user_id = v.user_id AND c.ts >= v.ts")

    sql["dedup_exact_groups"] = (
        "SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups "
        "FROM documents GROUP BY md5(text)")
    # the Spark side uses exact prefix filtering (no frequency cap), so the
    # oracle is the plain uncapped exact Jaccard — identical by the prefix
    # filter's superset-of-candidates guarantee
    sql["dedup_ngram_jaccard"] = (
        "WITH words AS (SELECT doc_id, string_split(text, ' ') AS w "
        "FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s "
        "FROM words, UNNEST(range(1, greatest(len(w) - 2, 0) + 1)) AS t(i)), "
        "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i "
        "FROM sh a JOIN sh b USING (s) WHERE a.doc_id < b.doc_id "
        "GROUP BY 1, 2) "
        "SELECT id_a, id_b, "
        f"{t6.format('i * 1.0 / (sa.sz + sb.sz - i)')} AS jaccard "
        "FROM inter JOIN sizes sa ON sa.doc_id = id_a "
        "JOIN sizes sb ON sb.doc_id = id_b "
        "WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5")

    # whole-word regexp counts, mirroring text.word_count (RE2 and Java
    # regex agree on \b for ASCII words)
    _occ = lambda w: f"len(regexp_extract_all(text, '\\b{w}\\b'))"  # noqa
    mk = {lang: " + ".join(_occ(m) for m in toks)
          for lang, toks in
          [("en", ["the", "and", "of"]), ("de", ["der", "und", "die"]),
           ("fr", ["le", "et", "les"]), ("es", ["el", "de", "los"])]}
    stop = " + ".join(_occ(w)
                      for w in ["the", "a", "of", "and", "to", "in", "is",
                                "on", "for"])
    ws_tokens = r"len(regexp_split_to_array(text, '\s+'))"
    bpe_tokens = (r"len(regexp_extract_all(text, "
                  r"'[A-Za-z0-9]+|[^A-Za-z0-9\s]'))")
    punct = (r"length(text) - length(regexp_replace(text, "
             r"'[\.,;:!\?\"''()\[\]{}]', '', 'g'))")
    punct_ratio = f"floor(({punct}) * 1.0 / greatest(length(text), 1) * 1000000) / 1000000"
    lang_case = (
        f"CASE WHEN ({mk['en']}) > 0 AND ({mk['en']}) >= ({mk['de']}) AND "
        f"({mk['en']}) >= ({mk['fr']}) AND ({mk['en']}) >= ({mk['es']}) "
        "THEN 'en' "
        f"WHEN ({mk['de']}) > 0 AND ({mk['de']}) >= ({mk['fr']}) AND "
        f"({mk['de']}) >= ({mk['es']}) AND ({mk['de']}) >= ({mk['en']}) "
        "THEN 'de' "
        f"WHEN ({mk['fr']}) > 0 AND ({mk['fr']}) >= ({mk['es']}) AND "
        f"({mk['fr']}) >= ({mk['en']}) AND ({mk['fr']}) >= ({mk['de']}) "
        "THEN 'fr' "
        f"WHEN ({mk['es']}) > 0 AND ({mk['es']}) >= ({mk['en']}) AND "
        f"({mk['es']}) >= ({mk['de']}) AND ({mk['es']}) >= ({mk['fr']}) "
        "THEN 'es' ELSE 'und' END")
    quality_expr = (
        "floor(((CASE WHEN length(text) < 100 THEN length(text) / 100.0 "
        "WHEN length(text) > 20000 THEN 0.5 ELSE 1.0 END) + "
        f"(CASE WHEN length(text) * 1.0 / greatest({ws_tokens}, 1) "
        "BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END) + "
        f"(CASE WHEN {punct_ratio} > 0.1 THEN 0.3 ELSE 1.0 END)) / 3.0 "
        "* 1000000) / 1000000")
    sql["text_profile"] = (
        "SELECT doc_id, length(text) AS n_chars, "
        f"CAST({ws_tokens} AS INT) AS n_tokens_ws, "
        f"CAST({bpe_tokens} AS INT) AS n_tokens_bpe, "
        f"{punct_ratio} AS punct_ratio, "
        f"floor(({stop}) * 1.0 / greatest({ws_tokens}, 1) * 1000000) / 1000000"
        " AS stopword_ratio, "
        f"{quality_expr} AS quality, "
        f"{lang_case} AS lang_pred, "
        r"md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp "
        "FROM documents")

    sql["text_corpus_stats"] = (
        "WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' '))"
        " AS token FROM documents), "
        "df AS (SELECT token, count(*) AS df FROM tok GROUP BY token), "
        "r AS (SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token)"
        " AS rk FROM df) "
        "SELECT 'token' AS kind, token AS key, CAST(df AS BIGINT) AS n, "
        "CAST(rk AS DOUBLE) AS metric FROM r WHERE rk <= 50 "
        "UNION ALL "
        "SELECT 'bucket' AS kind, CAST((n_chars // 100) * 100 AS VARCHAR) "
        "AS key, count(*) AS n, "
        "CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) AS metric "
        "FROM documents GROUP BY (n_chars // 100) * 100")

    cos = ("list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /"
           " (sqrt(list_dot_product(q.embedding::DOUBLE[], "
           "q.embedding::DOUBLE[])) * sqrt(list_dot_product("
           "c.embedding::DOUBLE[], c.embedding::DOUBLE[])))")
    sql["ann_cosine_topk"] = (
        "WITH scored AS (SELECT q.vec_id AS query_id, c.vec_id AS "
        f"neighbor_id, floor(({cos}) * 10000) / 10000 AS cosine "
        "FROM embeddings q, embeddings c "
        "WHERE q.vec_id < 10 AND q.vec_id != c.vec_id "
        f"AND {_vv('q.embedding')} AND {_vv('c.embedding')}), "
        "ranked AS (SELECT query_id, neighbor_id, cosine, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk "
        "FROM scored) "
        "SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk "
        "FROM ranked WHERE rk <= 5")
    cos_ab = cos.replace("q.embedding", "a.embedding").replace(
        "c.embedding", "b.embedding")
    # quantized-exact cosine for the numpy re-rank paths (LSH / IVF): the
    # Spark kernel quantizes to fixed point (floor(v * 2^20)) so dots and
    # norms are exact integers < 2^48 — exactly representable in DOUBLE,
    # making the value bit-identical regardless of summation order
    qa = "list_transform(a.embedding, x -> floor(CAST(x AS DOUBLE) * 1048576))"
    qb = "list_transform(b.embedding, x -> floor(CAST(x AS DOUBLE) * 1048576))"
    qcos_ab = (f"list_dot_product({qa}, {qb}) / "
               f"(sqrt(list_dot_product({qa}, {qa})) * "
               f"sqrt(list_dot_product({qb}, {qb})))")
    sql["dedup_embedding_cosine"] = (
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"floor(({cos_ab}) * 10000) / 10000 AS cosine "
        "FROM embeddings a, embeddings b "
        "WHERE a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200 "
        f"AND {_vv('a.embedding')} AND {_vv('b.embedding')} "
        f"AND floor(({cos_ab}) * 10000) / 10000 >= 0.25")

    # integer-exact LSH: hyperplane weights are lowbias32 ints (every
    # intermediate < 2^63, so DuckDB BIGINT reproduces them term-for-term)
    # and embeddings are quantized to fixed-point by a power-of-two scale
    # (exact in binary FP) — bucket membership is therefore bit-identical
    # between the numpy kernel and this SQL, making the sub-quadratic path
    # itself oracle-checked, not just its re-rank.
    # constants: seed 42 -> 42*131071 = 5504982; 12 planes x 64 dims = 768;
    # 3 bands of width 4; fixed-point scale 2^20 = 1048576.
    sql["ann_lsh_candidates"] = (
        "WITH w0 AS (SELECT i, ((i + 5504982) * 2654435761) % 4294967296 "
        "AS v FROM range(768) t(i)), "
        "w1 AS (SELECT i, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM w0), "
        "w2 AS (SELECT i, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM w1), "
        "w AS (SELECT i // 64 AS plane, i % 64 AS d, "
        "xor(v, v >> 16) % 2001 - 1000 AS wt FROM w2), "
        "q AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, "
        "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) "
        f"AS qv FROM embeddings WHERE {_vv('embedding')}), "
        "bits AS (SELECT q.vec_id, w.plane, "
        "CASE WHEN sum(q.qv * w.wt) > 0 THEN 1 ELSE 0 END AS bit "
        "FROM q JOIN w USING (d) GROUP BY 1, 2), "
        "bk AS (SELECT vec_id, CAST(plane // 4 AS INT) AS band, "
        "CAST(sum(bit << (plane % 4)) AS BIGINT) AS bh FROM bits "
        "GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM bk a JOIN bk b USING (band, bh) WHERE a.vec_id < b.vec_id) "
        "SELECT id_a, id_b, "
        f"floor(({qcos_ab}) * 10000) / 10000 AS cosine "
        "FROM cand JOIN embeddings a ON a.vec_id = id_a "
        "JOIN embeddings b ON b.vec_id = id_b "
        f"WHERE floor(({qcos_ab}) * 10000) / 10000 >= 0.2")

    # mod-p MinHash (p = 2^31-1, base-257 char 5-gram polynomial, lowbias32
    # perm params with seed 42 -> 42*1000003 = 42000126): every intermediate
    # fits in BIGINT, so the oracle regenerates the exact signatures, band
    # hashes, candidate set, and lane-match fractions. 32 perms, 8 bands of
    # 4 lanes, band hash = base-31 positional fold.
    sql["dedup_minhash_lsh"] = (
        "WITH pm0 AS (SELECT u, ((u + 42000126) * 2654435761) % 4294967296 "
        "AS v FROM range(64) t(u)), "
        "pm1 AS (SELECT u, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM pm0), "
        "pm2 AS (SELECT u, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM pm1), "
        "pm AS (SELECT u, xor(v, v >> 16) AS v FROM pm2), "
        "perms AS (SELECT CAST(a.u // 2 AS INT) AS k, "
        "a.v % 2147483646 + 1 AS pa, b.v % 2147483647 AS pb "
        "FROM pm a JOIN pm b ON b.u = a.u + 1 WHERE a.u % 2 = 0), "
        "d0 AS (SELECT doc_id, text FROM documents WHERE length(text) >= 5), "
        "win AS (SELECT doc_id, "
        "((((CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) "
        "% 2147483647 * 257 "
        "+ ascii(substr(text, CAST(i AS INT)+1, 1))) % 2147483647 * 257 "
        "+ ascii(substr(text, CAST(i AS INT)+2, 1))) % 2147483647 * 257 "
        "+ ascii(substr(text, CAST(i AS INT)+3, 1))) % 2147483647 * 257 "
        "+ ascii(substr(text, CAST(i AS INT)+4, 1))) % 2147483647 AS h "
        "FROM d0, UNNEST(range(1, length(text) - 3)) t(i)), "
        "sig AS (SELECT doc_id, k, min((pa * h + pb) % 2147483647) AS lane "
        "FROM win CROSS JOIN perms GROUP BY 1, 2), "
        "bands AS (SELECT doc_id, CAST(k // 4 AS INT) AS band, "
        "CAST(sum(lane * (CASE k % 4 WHEN 0 THEN 1 WHEN 1 THEN 31 "
        "WHEN 2 THEN 961 ELSE 29791 END)) AS BIGINT) AS bh "
        "FROM sig GROUP BY 1, 2), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM bands a JOIN bands b USING (band, bh) "
        "WHERE a.doc_id < b.doc_id), "
        "est AS (SELECT c.id_a, c.id_b, "
        "sum(CASE WHEN sa.lane = sb.lane THEN 1 ELSE 0 END) / 32.0 "
        "AS est_jaccard "
        "FROM cand c JOIN sig sa ON sa.doc_id = c.id_a "
        "JOIN sig sb ON sb.doc_id = c.id_b AND sb.k = sa.k GROUP BY 1, 2) "
        "SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.6")

    # connected components over the SAME MinHash pair graph: the oracle
    # computes the transitive closure with a recursive CTE and labels each
    # node with the min reachable id — exactly the fixpoint the Spark-side
    # min-label propagation with pointer jumping converges to
    sql["dedup_connected_components"] = (
        "WITH RECURSIVE mh AS (SELECT id_a, id_b FROM ("
        + sql["dedup_minhash_lsh"] + ") __mh), "
        "und AS (SELECT id_a AS a, id_b AS b FROM mh "
        "UNION SELECT id_b, id_a FROM mh), "
        "reach(a, b) AS (SELECT a, b FROM und "
        "UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a) "
        "SELECT a AS doc_id, least(a, min(b)) AS component "
        "FROM reach GROUP BY a")

    # mod-p SimHash (62-bit): per token INSTANCE (bag semantics), two
    # lowbias32-mixed Horner hashes mod
    # p=2^31-1 (bases 257/263, seeds 42*1000003+1 / 42*2000003+1) provide
    # 31 bits each; +/-1 votes per bit; 4 bands of 16 bits block the pairs;
    # hamming = bit_count(xor). Every intermediate is BIGINT-safe, so this
    # SQL reproduces the numpy kernel bit-for-bit (closes the r2 no_oracle).
    sql["dedup_simhash"] = (
        "WITH tok0 AS (SELECT doc_id, substr(unnest(string_split(text, ' '))"
        ", 1, 64) AS t FROM documents WHERE text IS NOT NULL), "
        "cs AS (SELECT doc_id, t, list_transform(range(1, length(t)+1), "
        "i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT)) AS c "
        "FROM tok0), "
        "th AS (SELECT doc_id, "
        "list_reduce(list_prepend(CAST(42000127 AS BIGINT), c), "
        "(a,b) -> (a*257+b) % 2147483647) AS h1, "
        "list_reduce(list_prepend(CAST(84000127 AS BIGINT), c), "
        "(a,b) -> (a*263+b) % 2147483647) AS h2 FROM cs), "
        # lowbias32 avalanche on both hashes (mirrors fixtures.lowbias32)
        "mx0 AS (SELECT doc_id, (h1 * 2654435761) % 4294967296 AS a, "
        "(h2 * 2654435761) % 4294967296 AS b FROM th), "
        "mx1 AS (SELECT doc_id, (xor(a, a >> 16) * 73244475) % 4294967296 "
        "AS a, (xor(b, b >> 16) * 73244475) % 4294967296 AS b FROM mx0), "
        "mx2 AS (SELECT doc_id, (xor(a, a >> 16) * 73244475) % 4294967296 "
        "AS a, (xor(b, b >> 16) * 73244475) % 4294967296 AS b FROM mx1), "
        "mx AS (SELECT doc_id, xor(a, a >> 16) AS h1, xor(b, b >> 16) AS h2 "
        "FROM mx2), "
        "bits AS (SELECT doc_id, j, sum(CASE WHEN "
        "((CASE WHEN j < 31 THEN h1 >> j ELSE h2 >> (j - 31) END) & 1) = 1 "
        "THEN 1 ELSE -1 END) AS v FROM mx, range(62) r(j) GROUP BY 1, 2), "
        "sig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN "
        "(CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sh "
        "FROM bits GROUP BY doc_id), "
        "bk AS (SELECT doc_id, band, (sh >> CAST(band * 16 AS INT)) & 65535 "
        "AS bh, sh FROM sig, range(4) rb(band)), "
        "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "a.sh AS ha, b.sh AS hb FROM bk a JOIN bk b USING (band, bh) "
        "WHERE a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming "
        "FROM pairs WHERE bit_count(xor(ha, hb)) <= 3")

    # Rabin-Karp fingerprint mod p=2^31-1: Horner fold over the document's
    # chars with base 257 and seed prefix — list_reduce IS the same fold
    sql["text_rolling_fingerprint"] = (
        "SELECT doc_id AS id, "
        "list_reduce(list_prepend(CAST(42000127 AS BIGINT), "
        "list_transform(range(1, length(text)+1), "
        "i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))), "
        "(a,b) -> (a*257+b) % 2147483647) AS fp FROM documents "
        "WHERE text IS NOT NULL")

    # composition: the minhash-losers subquery is the exact
    # dedup_minhash_lsh statement, nested — but running over the GATED
    # docs (matching curate_corpus: a survivor must not be dropped because
    # its only near-dup was already gate-rejected)
    _minhash_on_gated = sql["dedup_minhash_lsh"].replace(
        "d0 AS (SELECT doc_id, text FROM documents "
        "WHERE length(text) >= 5)",
        "d0 AS (SELECT doc_id, text FROM gated WHERE length(text) >= 5)")
    # a reworded d0 clause would make the replace a silent no-op and
    # un-gate the near-dup subquery — fail loudly instead
    assert _minhash_on_gated != sql["dedup_minhash_lsh"], \
        "corpus_curation oracle: minhash d0 substitution did not apply"
    sql["corpus_curation"] = (
        "WITH prof AS (SELECT doc_id, text, "
        f"{quality_expr} AS quality, {lang_case} AS lang_pred "
        "FROM documents), "
        "gated AS (SELECT * FROM prof WHERE quality >= 0.5 "
        "AND lang_pred IN ('en', 'de', 'fr', 'es')), "
        "uniq AS (SELECT doc_id, quality, lang_pred, ROW_NUMBER() OVER "
        "(PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM gated), "
        "losers AS (SELECT DISTINCT id_b FROM "
        f"({_minhash_on_gated})) "
        "SELECT doc_id, quality, lang_pred FROM uniq WHERE rn = 1 "
        "AND doc_id NOT IN (SELECT id_b FROM losers)")

    # capture-pipeline oracles: DuckDB reads the golden parquets written by
    # the independent scalar reference-style parser / the wide fixture —
    # the Spark side decodes the same bytes through the vectorized path
    pcap_path, golden_pcap = _ensure_capture_fixtures()
    golden_wide = os.path.join(_CAPTURE_DIR, "golden_wide_nasdaq.parquet")
    sql["wide_record_parse"] = (
        "SELECT pcap_index, message_sequence, message_index, message_type, "
        "stock, price, shares, order_reference_number, "
        "epoch_us(pcap_timestamp) AS pcap_ts_us "
        f"FROM read_parquet('{golden_wide}')")
    sql["pcap_parse"] = (
        "SELECT * EXCLUDE (pcap_timestamp), "
        "epoch_us(pcap_timestamp) AS pcap_ts_us "
        f"FROM read_parquet('{golden_pcap}')")
    golden_jnx = os.path.join(_CAPTURE_DIR, "golden_pcap_jnx.parquet")
    sql["pcap_parse_jnx"] = (
        "SELECT * EXCLUDE (pcap_timestamp), "
        "epoch_us(pcap_timestamp) AS pcap_ts_us "
        f"FROM read_parquet('{golden_jnx}')")

    # IVF coarse quantizer: integer centroids (seed 43 -> 43*131071 =
    # 5636053; 16 centroids x 64 dims = 1024), fixed-point vectors, exact
    # integer max-inner-product with lowest-id tie-break — the assignment
    # itself is reproduced in SQL
    sql["ann_ivf_assign"] = (
        "WITH w0 AS (SELECT i, ((i + 5636053) * 2654435761) % 4294967296 "
        "AS v FROM range(1024) t(i)), "
        "w1 AS (SELECT i, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM w0), "
        "w2 AS (SELECT i, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM w1), "
        "w AS (SELECT i // 64 AS c, i % 64 AS d, "
        "xor(v, v >> 16) % 2001 - 1000 AS wt FROM w2), "
        "q AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, "
        "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) "
        f"AS qv FROM embeddings WHERE {_vv('embedding')}), "
        "s AS (SELECT q.vec_id, w.c, sum(q.qv * w.wt) AS s "
        "FROM q JOIN w USING (d) GROUP BY 1, 2), "
        "r AS (SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "ORDER BY s DESC, c ASC) AS rk FROM s) "
        "SELECT vec_id AS id, CAST(c AS INT) AS centroid FROM r WHERE rk = 1")

    # IVF probe search: same integer centroid/score arithmetic, so cell
    # assignment, probe selection, AND the re-ranked result all reproduce
    _ivf_cte = (
        "w0 AS (SELECT i, ((i + 5636053) * 2654435761) % 4294967296 AS v "
        "FROM range(1024) t(i)), "
        "w1 AS (SELECT i, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM w0), "
        "w2 AS (SELECT i, (xor(v, v >> 16) * 73244475) % 4294967296 AS v "
        "FROM w1), "
        "w AS (SELECT i // 64 AS c, i % 64 AS d, "
        "xor(v, v >> 16) % 2001 - 1000 AS wt FROM w2), "
        "q AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, "
        "CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1048576) AS BIGINT) "
        f"AS qv FROM embeddings WHERE {_vv('embedding')}), "
        "s AS (SELECT q.vec_id, w.c, sum(q.qv * w.wt) AS s "
        "FROM q JOIN w USING (d) GROUP BY 1, 2), "
        "r AS (SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id "
        "ORDER BY s DESC, c ASC) AS rk FROM s)")
    sql["ann_ivf_topk"] = (
        f"WITH {_ivf_cte}, "
        "assign AS (SELECT vec_id AS neighbor_id, c AS centroid FROM r "
        "WHERE rk = 1), "
        "probes AS (SELECT vec_id AS query_id, c AS centroid FROM r "
        "WHERE rk <= 2 AND vec_id < 10), "
        "cand AS (SELECT query_id, neighbor_id FROM probes "
        "JOIN assign USING (centroid) WHERE query_id != neighbor_id), "
        "scored AS (SELECT query_id, neighbor_id, "
        f"floor(({qcos_ab}) * 10000) / 10000 AS cosine FROM cand "
        "JOIN embeddings a ON a.vec_id = query_id "
        "JOIN embeddings b ON b.vec_id = neighbor_id), "
        "ranked AS (SELECT query_id, neighbor_id, cosine, ROW_NUMBER() "
        "OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) "
        "AS rk FROM scored) "
        "SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rk "
        "FROM ranked WHERE rk <= 5")
    # the materialized index returns the identical result by construction
    sql["ann_ivf_topk_indexed"] = sql["ann_ivf_topk"]

    # media kernels vs the scalar per-image golden (independent impl);
    # payloads depend only on (id, seed) so the golden is sf-agnostic
    golden_media = _ensure_media_golden()
    # media_bytes = the fake format's exact payload size (magic 7 + w 2 +
    # h 2 + w*h body) — recomputed from the golden's decoded dimensions,
    # while the Spark side measures octet_length of the real binary column
    sql["mm_media_features"] = (
        "SELECT id, width, height, mean, std, phash, "
        "CAST(11 + width * height AS INT) AS media_bytes "
        f"FROM read_parquet('{golden_media}') "
        "WHERE id IN (SELECT doc_id FROM documents WHERE doc_id < 10000)")
    sql["mm_resize"] = (
        f"SELECT id, resize_md5 FROM read_parquet('{golden_media}') "
        "WHERE id IN (SELECT doc_id FROM documents WHERE doc_id < 10000)")

    # the engine's manifest bytes_in accounting vs an independent
    # recomputation of the plain-equivalent sizes (int64 = 8/row,
    # string = utf8 bytes + 4/row length slot)
    sql["encode_metrics_rollup"] = (
        "SELECT 'doc_id' AS col, count(*) AS rows, "
        "8 * count(*) AS bytes_in FROM documents "
        "UNION ALL SELECT 'text', count(*), "
        "CAST(sum(octet_length(encode(text))) + 4 * count(*) AS BIGINT) "
        "FROM documents "
        "UNION ALL SELECT 'lang', count(*), "
        "CAST(sum(octet_length(encode(lang))) + 4 * count(*) AS BIGINT) "
        "FROM documents "
        "UNION ALL SELECT 'source', count(*), "
        "CAST(sum(octet_length(encode(source))) + 4 * count(*) AS BIGINT) "
        "FROM documents "
        "UNION ALL SELECT 'n_chars', count(*), 8 * count(*) FROM documents")

    sql["streaming_tumbling_counts"] = (
        "SELECT epoch_us(time_bucket(INTERVAL '5 minutes', ts)) AS w_start_us,"
        " event_type, count(*) AS n, "
        # mirror the Spark side exactly: per-value DECIMAL(18,4) cast,
        # exact decimal sum, then the wrapper's DECIMAL(18,2) display cast
        "CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) "
        "AS DECIMAL(18,2)) AS DOUBLE) AS total_value "
        "FROM events GROUP BY 1, 2")

    return sql
