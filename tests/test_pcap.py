"""pcap-file source: O1 (file scan) + O2 (eth/VLAN/IPv4/UDP strip) on real
capture bytes, verified against an independent scalar reference-style parser
(fixtures.reference_parse_pcap — row-at-a-time like the C++ original).
"""

from __future__ import annotations

import re

import pyarrow as pa
import pytest
from pyspark.errors import AnalysisException

from conftest import arrays_equal

from omi_cpp_parquet_wide_record_spark import fixtures as FX
from omi_cpp_parquet_wide_record_spark.operators.wide_record import (
    parse_packets, parse_packets_batch,
)
from omi_cpp_parquet_wide_record_spark.sources.pcap import (
    frame_records, packets_from_capture, read_pcap,
)


def _sorted(tbl: pa.Table) -> pa.Table:
    return tbl.sort_by([("pcap_index", "ascending"),
                        ("message_index", "ascending")])


def test_vectorized_matches_scalar_reference_nasdaq():
    data = FX.pcap_capture(1000, "nasdaq")
    golden = FX.reference_parse_pcap(data, "nasdaq")
    wide = pa.Table.from_batches(
        [parse_packets_batch(packets_from_capture(data), "nasdaq")])
    assert wide.num_rows == golden.num_rows == 1000
    for name in golden.column_names:
        assert arrays_equal(wide.column(name).combine_chunks(),
                            golden.column(name).combine_chunks()), name


def test_vectorized_matches_scalar_reference_jnx():
    data = FX.pcap_capture(800, "jnx")
    golden = FX.reference_parse_pcap(data, "jnx")
    wide = pa.Table.from_batches(
        [parse_packets_batch(packets_from_capture(data), "jnx")])
    assert wide.num_rows == golden.num_rows
    for name in golden.column_names:
        assert arrays_equal(wide.column(name).combine_chunks(),
                            golden.column(name).combine_chunks()), name


def test_non_udp_frames_bump_index_without_rows():
    data = FX.pcap_capture(400, "nasdaq")
    sec, usec, offs, lens = frame_records(data)
    n_frames = len(offs)
    pkts = packets_from_capture(data)
    idx = pkts.column("pcap_index").to_pylist()
    assert len(idx) < n_frames            # noise frames were dropped
    assert max(idx) == n_frames           # ...but still counted (NQ:3403)
    assert sorted(idx) == idx and len(set(idx)) == len(idx)


def test_capture_exercises_vlan_and_ip_options():
    """The fixture must contain single-VLAN, QinQ, and IHL=6 frames so the
    stepping loop and the IHL nibble path are actually executed."""
    data = FX.pcap_capture(300, "nasdaq")
    sec, usec, offs, lens = frame_records(data)
    import numpy as np
    corpus = np.frombuffer(data, dtype=np.uint8)
    et0 = (corpus[offs + 12].astype(int) << 8) | corpus[offs + 13]
    et1 = (corpus[offs + 16].astype(int) << 8) | corpus[offs + 17]
    assert (et0 == 0x8100).sum() > 0                      # VLAN present
    assert ((et0 == 0x8100) & (et1 == 0x8100)).sum() > 0  # stacked QinQ
    assert (et0 == 0x0806).sum() > 0                      # ARP noise
    # some IPv4 headers with options (IHL=6)
    ip0 = offs + 14
    plain_ipv4 = et0 == 0x0800
    assert ((corpus[ip0] & 0x0F) == 6)[plain_ipv4].sum() > 0


def test_read_pcap_spark_end_to_end(spark, tmp_path):
    data = FX.pcap_capture(1200, "nasdaq")
    (tmp_path / "cap.pcap").write_bytes(data)
    golden = _sorted(FX.reference_parse_pcap(data, "nasdaq"))
    df = parse_packets(read_pcap(spark, str(tmp_path / "cap.pcap")), "nasdaq")
    got = _sorted(pa.Table.from_batches(df.toArrow().to_batches())
                  .cast(golden.schema))
    assert got.num_rows == golden.num_rows
    for name in golden.column_names:
        assert arrays_equal(got.column(name).combine_chunks(),
                            golden.column(name).combine_chunks()), name


def test_read_pcap_many_files(spark, tmp_path):
    """Multiple capture files decode independently with per-file indexes —
    the cluster work unit at 100 TB is the file."""
    a = FX.pcap_capture(300, "nasdaq", seed=1)
    b = FX.pcap_capture(500, "nasdaq", seed=2)
    (tmp_path / "a.pcap").write_bytes(a)
    (tmp_path / "b.pcap").write_bytes(b)
    df = parse_packets(read_pcap(spark, str(tmp_path)), "nasdaq")
    assert df.count() == 800
    # each file restarts its packet counter at 1
    assert df.filter("pcap_index = 1").count() >= 1


def test_u32_full_range_survives_unwrapped():
    """u32 fields (e.g. shares) ride in int64: values >= 2^31 must come
    through the whole capture pipeline unwrapped (ADVICE r1 #5 — they used
    to wrap negative in the signed-int32 lane)."""
    import pyarrow.compute as pc
    data = FX.pcap_capture(300, "nasdaq")
    golden = FX.reference_parse_pcap(data, "nasdaq")
    wide = pa.Table.from_batches(
        [parse_packets_batch(packets_from_capture(data), "nasdaq")])
    mx = pc.max(golden.column("shares")).as_py()
    assert mx >= 2**31          # the fixture exercises the full u32 range
    assert golden.schema.field("shares").type == pa.int64()
    assert pc.min(wide.column("shares")).as_py() >= 0
    assert wide.column("shares").combine_chunks().equals(
        golden.column("shares").combine_chunks())


def test_pcap_datasource_format(spark, tmp_path):
    """spark.read.format('pcap') — the capture format as a first-class
    registered source, matching read_pcap's output exactly: the same
    files (``_``-prefixed names and directories included) and the same
    rows, and a path that names no capture fails on both."""
    from omi_cpp_parquet_wide_record_spark.sources.pcap import PcapDataSource
    a = FX.pcap_capture(300, "nasdaq", seed=5)
    b = FX.pcap_capture(200, "nasdaq", seed=6)
    c = FX.pcap_capture(100, "nasdaq", seed=7)
    d = FX.pcap_capture(150, "nasdaq", seed=8)
    (tmp_path / "a.pcap").write_bytes(a)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.pcap").write_bytes(b)
    (tmp_path / "_c.pcap").write_bytes(c)
    (tmp_path / "_sub").mkdir()
    (tmp_path / "_sub" / "d.pcap").write_bytes(d)
    spark.dataSource.register(PcapDataSource)
    df = spark.read.format("pcap").load(str(tmp_path))
    via_fn = read_pcap(spark, str(tmp_path))
    cols = ["pcap_index", "pcap_sec", "pcap_usec", "payload"]
    assert df.columns == via_fn.columns == cols
    assert sorted(df.collect()) == sorted(via_fn.collect())
    want = sum(packets_from_capture(x).num_rows for x in (a, b, c, d))
    assert df.count() == via_fn.count() == want
    wide = parse_packets(df, "nasdaq")
    assert wide.count() == 750

    empty = tmp_path / "empty"
    empty.mkdir()
    missing = re.escape(f"no .pcap files under {empty}")
    with pytest.raises(FileNotFoundError, match=missing):
        read_pcap(spark, str(empty))
    with pytest.raises(AnalysisException, match=missing):
        spark.read.format("pcap").load(str(empty)).count()


@pytest.mark.parametrize("layout", ["file", "dir"])
def test_capture_path_with_glob_metacharacters(spark, tmp_path, layout):
    """A capture file or directory whose name holds glob metacharacters
    is read as named, not as a pattern, and both readers return the same
    rows."""
    from omi_cpp_parquet_wide_record_spark.sources.pcap import PcapDataSource
    data = FX.pcap_capture(200, "nasdaq", seed=9)
    if layout == "file":
        path = tmp_path / "cap[1].pcap"
    else:
        (tmp_path / "run[1]").mkdir()
        path = tmp_path / "run[1]" / "a.pcap"
    path.write_bytes(data)
    target = str(path if layout == "file" else path.parent)
    spark.dataSource.register(PcapDataSource)
    via_fn = read_pcap(spark, target)
    via_fmt = spark.read.format("pcap").load(target)
    assert sorted(via_fn.collect()) == sorted(via_fmt.collect())
    assert via_fn.count() == packets_from_capture(data).num_rows > 0


def test_directory_named_like_a_capture_is_searched_not_read(spark,
                                                            tmp_path):
    """A directory whose name ends in ``.pcap`` is not a capture: both
    readers return the rows of the real captures (``b.pcap`` and
    ``run.pcap/a.pcap``), and a glob that matches the directory keeps
    only the regular files."""
    from omi_cpp_parquet_wide_record_spark.sources.pcap import (
        PcapDataSource, _list_captures,
    )
    a = FX.pcap_capture(200, "nasdaq", seed=10)
    b = FX.pcap_capture(100, "nasdaq", seed=11)
    (tmp_path / "run.pcap").mkdir()
    (tmp_path / "run.pcap" / "a.pcap").write_bytes(a)
    (tmp_path / "b.pcap").write_bytes(b)
    assert _list_captures(str(tmp_path / "*.pcap")) == [
        str(tmp_path / "b.pcap")]
    spark.dataSource.register(PcapDataSource)
    want = sorted(
        tuple(r.values()) for x in (a, b)
        for r in packets_from_capture(x).to_pylist())
    for df in (read_pcap(spark, str(tmp_path)),
               spark.read.format("pcap").load(str(tmp_path))):
        assert sorted(tuple(r) for r in df.collect()) == want


def _all_sorted(df) -> pa.Table:
    tbl = df.toArrow()
    return tbl.sort_by([(c, "ascending") for c in tbl.column_names])


@pytest.mark.parametrize("layout", ["nasdaq_dir", "jnx", "empty_member",
                                    "torn_tail"])
def test_fused_capture_parse_matches_chained(spark, tmp_path, layout):
    """``parse_packets(read_pcap(p))`` frames and parses in one task per
    capture; it returns the same rows as the chained parse of a derived
    packets DataFrame (``.select("*")``)."""
    which = "jnx" if layout == "jnx" else "nasdaq"
    if layout == "nasdaq_dir":
        (tmp_path / "sub").mkdir()
        (tmp_path / "_sub").mkdir()
        for name, n, seed in (("a.pcap", 300, 1), ("sub/b.pcap", 200, 2),
                              ("_c.pcap", 100, 3), ("_sub/d.pcap", 150, 4)):
            (tmp_path / name).write_bytes(FX.pcap_capture(n, which, seed))
        path = tmp_path
    elif layout == "jnx":
        path = tmp_path / "jnx.pcap"
        path.write_bytes(FX.pcap_capture(400, which, seed=5))
    elif layout == "empty_member":
        from omi_cpp_parquet_wide_record_spark.sources.pcap import (
            write_pcap_header,
        )
        (tmp_path / "a.pcap").write_bytes(FX.pcap_capture(300, which, 6))
        (tmp_path / "empty.pcap").write_bytes(write_pcap_header())
        path = tmp_path
    else:
        data = FX.pcap_capture(300, which, seed=7)
        path = tmp_path / "torn.pcap"
        path.write_bytes(data[:len(data) - 7])
    fused = _all_sorted(parse_packets(read_pcap(spark, str(path)), which))
    chained = _all_sorted(
        parse_packets(read_pcap(spark, str(path)).select("*"), which))
    assert fused.num_rows > 0
    assert fused.equals(chained)


def _python_maps(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("MapInArrow")


def test_fused_capture_parse_plan_shape(spark, tmp_path):
    """Only ``read_pcap``'s own DataFrame takes the fused path: its parse
    plans one Python map, a derived or cached packets DataFrame is parsed
    by a second one, and a filter on the packets is honoured."""
    from omi_cpp_parquet_wide_record_spark.sources.pcap import capture_files
    (tmp_path / "a.pcap").write_bytes(FX.pcap_capture(300, "nasdaq", 1))
    (tmp_path / "b.pcap").write_bytes(FX.pcap_capture(200, "nasdaq", 2))
    pk = read_pcap(spark, str(tmp_path))
    assert _python_maps(parse_packets(pk, "nasdaq")) == 1
    assert _python_maps(parse_packets(pk.select("*"), "nasdaq")) == 2

    even = parse_packets(pk.filter("pcap_index % 2 = 0"), "nasdaq")
    idx = even.select("pcap_index").toArrow().column(0).to_pylist()
    assert idx and all(i % 2 == 0 for i in idx)

    assert capture_files(pk) is not None
    try:
        assert capture_files(pk.cache()) is None
    finally:
        pk.unpersist()


def test_truncated_capture_tail():
    """A capture cut off mid-record (killed tcpdump) must decode every
    complete frame and drop the torn tail — identically in the vectorized
    and scalar reference paths."""
    data = FX.pcap_capture(200, "nasdaq")
    full = packets_from_capture(data)
    torn = data[:len(data) - 7]            # cut inside the last record
    part = packets_from_capture(torn)
    assert 0 < part.num_rows <= full.num_rows
    golden = FX.reference_parse_pcap(torn, "nasdaq")
    wide = pa.Table.from_batches([parse_packets_batch(part, "nasdaq")])
    assert wide.num_rows == golden.num_rows
    for name in ("pcap_index", "message_sequence", "stock", "price"):
        assert arrays_equal(wide.column(name).combine_chunks(),
                            golden.column(name).combine_chunks()), name


def test_ns_resolution_magic():
    """ns-timestamped captures (magic 0xa1b23c4d) decode with the fraction
    field converted to us — libpcap's default-precision behavior
    (ref NQ:3780 accepts both magics)."""
    import numpy as np
    from omi_cpp_parquet_wide_record_spark.sources.pcap import (
        PCAP_MAGIC_NS_LE, frame_records,
    )
    data = FX.pcap_capture(300, "nasdaq")
    sec_us, usec_us, off_us, len_us = frame_records(data)
    ns_data = PCAP_MAGIC_NS_LE + data[4:]
    sec_ns, frac_ns, off_ns, len_ns = frame_records(ns_data)
    assert np.array_equal(sec_ns, sec_us)
    assert np.array_equal(off_ns, off_us)
    assert np.array_equal(len_ns, len_us)
    # the stored fraction (written as us by the fixture) is treated as ns
    assert np.array_equal(frac_ns, usec_us // 1000)
    import pytest
    with pytest.raises(ValueError, match="bad magic"):
        frame_records(b"\x00\x11\x22\x33" + data[4:])


def test_capture_chunks_when_payload_exceeds_offset_limit(monkeypatch):
    """A capture whose total UDP payload exceeds int32 binary offsets must
    split into multiple batches instead of failing the cast — forced here
    by shrinking the limit instead of building a real 2 GB capture."""
    import pyarrow as pa
    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    from omi_cpp_parquet_wide_record_spark.sources import pcap as P
    data = FX.pcap_capture(600, "nasdaq")
    full = P.packets_from_capture(data)
    total = sum(len(v) for v in full.column("payload").to_pylist())
    monkeypatch.setattr(P, "_BINARY_OFFSET_LIMIT", max(total // 4, 64))
    chunked = P.packets_from_capture(data)
    assert isinstance(chunked, pa.Table)
    assert chunked.num_rows == full.num_rows
    assert len(chunked.column("payload").chunks) >= 2
    assert chunked.column("pcap_index").to_pylist() == \
        full.column("pcap_index").to_pylist()
    assert chunked.column("payload").to_pylist() == \
        full.column("payload").to_pylist()


def test_frame_walk_vectorized_speed_and_parity():
    """The candidate-filter + pointer-doubling framer must (a) agree
    record-for-record with the sequential reference-shape walk on a
    100k-packet capture, and (b) beat the r2 per-record int.from_bytes
    walk by a wide margin (measured ~6x on this box; assert >=2.5x to
    survive the noisy-VM band)."""
    import time
    import numpy as np
    from omi_cpp_parquet_wide_record_spark.sources.pcap import (
        _scalar_walk, frame_records,
    )
    rng = np.random.default_rng(11)
    n = 100_000
    plens = rng.choice([60, 74, 74, 118, 246], size=n)
    buf = bytearray(b"\xd4\xc3\xb2\xa1" + bytes(16)
                    + (1).to_bytes(4, "little"))   # linktype: Ethernet
    for i in range(n):
        L = int(plens[i])
        buf += ((1_700_000_000 + i // 977).to_bytes(4, "little")
                + (i % 1_000_000).to_bytes(4, "little")
                + L.to_bytes(4, "little") * 2)
        buf += bytes(rng.integers(0, 256, L, dtype=np.uint8))
    data = bytes(buf)

    def walk_r2(data):
        """The pre-vectorization framer, verbatim shape (r2 baseline)."""
        mv = memoryview(data)
        size = len(data)
        pos = 24
        secs, usecs, offs, lens = [], [], [], []
        while pos + 16 <= size:
            incl = int.from_bytes(mv[pos + 8:pos + 12], "little")
            if pos + 16 + incl > size:
                break
            secs.append(int.from_bytes(mv[pos:pos + 4], "little"))
            usecs.append(int.from_bytes(mv[pos + 4:pos + 8], "little"))
            offs.append(pos + 16)
            lens.append(incl)
            pos += 16 + incl
        return offs

    frame_records(data)                       # warm numpy pools
    # interleaved PAIRS: the box's load swings 2-3x, and a spike landing
    # on only the new-path reps could eat the whole ~6x margin — back-to-
    # back pairs see the same load, so the best pairwise ratio is robust
    ratios = []
    for _ in range(4):
        t_new = _timed(frame_records, data)
        t_old = _timed(walk_r2, data)
        ratios.append(t_old / t_new)
    sec, usec, offs, lens = frame_records(data)
    assert len(offs) == n
    assert np.array_equal(offs - 16, np.asarray(_scalar_walk(
        data, len(data), 24, False)))
    assert int(sec[5000]) == 1_700_000_000 + 5000 // 977
    assert max(ratios) >= 2.5, ratios


def _timed(fn, *args):
    import time
    t0 = time.time()
    fn(*args)
    return time.time() - t0


def test_frame_walk_fallback_on_clock_jump_and_zero_len():
    """The vectorized framer's sec-plausibility filter can drop true
    boundaries when the capture clock jumps wildly mid-file; the scalar
    mop-up must recover them so the result still equals the sequential
    reference walk. Also covers zero-length records (incl=0 advances the
    chain by exactly the 16-byte header)."""
    import numpy as np
    from omi_cpp_parquet_wide_record_spark.sources.pcap import (
        _scalar_walk, frame_records,
    )
    rng = np.random.default_rng(3)
    buf = bytearray(b"\xd4\xc3\xb2\xa1" + bytes(16)
                    + (1).to_bytes(4, "little"))   # linktype: Ethernet
    n = 4000
    for i in range(n):
        if i % 7 == 3:
            L = 0                            # zero-length record
        else:
            L = int(rng.choice([60, 74, 118]))
        # clock jumps ~300 years mid-file, far outside the +/-1 top-byte
        # window derived from the first record
        sec = 1_700_000_000 if i < n // 2 else 11_400_000_000 % (1 << 32)
        buf += (sec.to_bytes(4, "little") + (i).to_bytes(4, "little")
                + L.to_bytes(4, "little") * 2)
        buf += bytes(L)
    # force the buffer over the scalar cutoff so the vectorized path runs
    pad = 300 << 10
    buf += (1_700_000_000).to_bytes(4, "little") + (0).to_bytes(4, "little") \
        + pad.to_bytes(4, "little") * 2 + bytes(pad)
    data = bytes(buf)
    assert len(data) > 256 << 10
    sec, usec, offs, lens = frame_records(data)
    ref = _scalar_walk(data, len(data), 24, False)
    assert np.array_equal(offs - 16, np.asarray(ref))
    assert len(offs) == n + 1
