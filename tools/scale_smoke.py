"""Large-slice end-to-end smoke (SCALE.md evidence, VERDICT r3 #5/#9).

Three legs, each printing one JSON line:

1. --gb 8 shuffle smoke: encode the deterministic web corpus at ~N GB
   (num_pids sized for ~2 MB units), decode with planning="distributed",
   bit-identical verify_roundtrip.
2. kill-after-K resume at the same scale: rebuild the store as if the
   run died after committing half the pids (same method as
   test_resume_after_partial_commit), re-run, assert exactly N-K pids
   re-encode and the final store verifies bit-identical.
3. --local-gb 2 zero-shuffle leg: colocate="local" encode, count chunk
   files, compact_store, count again, decode-verify the compacted store
   — the measured read-amplification bound for SCALE.md.

Usage: python tools/scale_smoke.py [--gb 8] [--local-gb 2] [--skip ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

BYTES_PER_ROW = 5200          # measured plain-equivalent of FIXTURES F1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gb", type=float, default=8.0)
    ap.add_argument("--local-gb", type=float, default=2.0)
    ap.add_argument("--workdir", default="/tmp/owr_scale_smoke")
    ap.add_argument("--skip", nargs="*", default=[],
                    choices=["shuffle", "resume", "local"])
    args = ap.parse_args()

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from omi_cpp_parquet_wide_record_spark import fixtures as FX
    from omi_cpp_parquet_wide_record_spark.operators.decode import (
        decode_store,
    )
    from omi_cpp_parquet_wide_record_spark.operators.encode import (
        encode_dataframe,
    )
    from omi_cpp_parquet_wide_record_spark.operators.maintenance import (
        compact_store,
    )
    from omi_cpp_parquet_wide_record_spark.operators.verify import (
        verify_roundtrip,
    )
    from omi_cpp_parquet_wide_record_spark.plans.snapshot import (
        MANIFEST_SCHEMA, ChunkStore,
    )
    from omi_cpp_parquet_wide_record_spark.session import get_spark

    spark = get_spark("owr-scale-smoke", cores=32)
    wd = args.workdir
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(wd)

    rows = int(args.gb * 1e9 / BYTES_PER_ROW)
    corpus = FX.web_pages_df(spark, rows, partitions=256)
    num_pids = max(256, rows * BYTES_PER_ROW // (2 << 20))

    if "shuffle" not in args.skip:
        out = os.path.join(wd, "store")
        t0 = time.time()
        res = encode_dataframe(corpus, out, partition_by=["lang"],
                               salt_key="url", num_pids=num_pids, salt=128)
        enc_s = time.time() - t0
        t0 = time.time()
        decoded = decode_store(spark, out, planning="distributed")
        v = verify_roundtrip(corpus, decoded, key="url")
        ver_s = time.time() - t0
        print(json.dumps({
            "leg": "shuffle", "rows": res.rows, "gb": round(args.gb, 2),
            "num_pids": num_pids,
            "encode_s": round(enc_s, 1),
            "encode_mbps": round(res.bytes_in / enc_s / 1e6, 1),
            "ratio": round(res.ratio, 3),
            "decode_verify_s": round(ver_s, 1),
            "planning": "distributed",
            "verify_ok": v.ok, "mismatches": v.mismatches}), flush=True)
        assert v.ok, v

        if "resume" not in args.skip:
            store = ChunkStore(out)
            full = store.manifest_table()
            all_pids = sorted(set(full.column("pid").to_pylist()))
            keep = all_pids[: len(all_pids) // 2]
            partial = os.path.join(wd, "partial")
            os.makedirs(partial)
            # chunks are content-addressed per (run, pid): hard-link
            # instead of copying ~GBs
            os.makedirs(os.path.join(partial, "chunks"))
            for f in os.listdir(os.path.join(out, "chunks")):
                os.link(os.path.join(out, "chunks", f),
                        os.path.join(partial, "chunks", f))
            pstore = ChunkStore(partial).create()
            mask = pc.is_in(full.column("pid"),
                            value_set=pa.array(keep, type=pa.int32()))
            shard = "manifest-shard-partial.parquet"
            pq.write_table(full.filter(mask).select(MANIFEST_SCHEMA.names),
                           os.path.join(pstore.manifests_dir, shard))
            pstore.commit([shard], store.arrow_schema(), "partial-run",
                          new_pids=set(keep))
            t0 = time.time()
            r2 = encode_dataframe(corpus, partial, partition_by=["lang"],
                                  salt_key="url", num_pids=num_pids,
                                  salt=128)
            res_s = time.time() - t0
            v2 = verify_roundtrip(
                corpus, decode_store(spark, partial,
                                     planning="distributed"), key="url")
            print(json.dumps({
                "leg": "resume", "pids_total": len(all_pids),
                "pids_committed_before": len(keep),
                "pids_skipped": r2.pids_skipped,
                "pids_encoded": r2.pids_encoded,
                "exact": r2.pids_encoded == len(all_pids) - len(keep)
                and r2.pids_skipped == len(keep),
                "resume_s": round(res_s, 1),
                "verify_ok": v2.ok}), flush=True)
            assert r2.pids_skipped == len(keep)
            assert r2.pids_encoded == len(all_pids) - len(keep)
            assert v2.ok, v2
            shutil.rmtree(partial, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)

    if "local" not in args.skip:
        lrows = int(args.local_gb * 1e9 / BYTES_PER_ROW)
        lcorpus = FX.web_pages_df(spark, lrows, partitions=128)
        lout = os.path.join(wd, "local_store")
        t0 = time.time()
        lres = encode_dataframe(lcorpus, lout, partition_by=["lang"],
                                num_pids=64, salt=1, colocate="local")
        lenc_s = time.time() - t0
        files_local = len(os.listdir(os.path.join(lout, "chunks")))
        comp = os.path.join(wd, "compacted")
        t0 = time.time()
        compact_store(spark, lout, comp, salt_key="url", num_pids=256)
        comp_s = time.time() - t0
        files_comp = len(os.listdir(os.path.join(comp, "chunks")))
        v3 = verify_roundtrip(lcorpus, decode_store(spark, comp),
                              key="url")
        print(json.dumps({
            "leg": "local+compact", "rows": lres.rows,
            "gb": round(args.local_gb, 2),
            "encode_s": round(lenc_s, 1),
            "encode_mbps": round(lres.bytes_in / lenc_s / 1e6, 1),
            "files_zero_shuffle": files_local,
            "compact_s": round(comp_s, 1),
            "files_compacted": files_comp,
            "amplification_before": files_local,
            "verify_ok": v3.ok}), flush=True)
        assert files_comp <= 256 and v3.ok
        shutil.rmtree(wd, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
