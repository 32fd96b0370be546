#!/usr/bin/env python3
"""Benchmark of record for the columnar encode engine.

    python3 perfbench/run.py --workload web_read --seed 1 --seconds 20 \
        --trace 0

Workloads (perfbench/README.md has the full map):
  itch_convert  read_pcap -> parse_packets -> encode over one NASDAQ ITCH
                capture per core, then reads of the converted store
  web_read      encode of the synthetic web corpus into a read-serving
                store, then point lookups, warc_ts-window scans, projected
                and full scans against it

Both run the same way, in two rounds. A round is set-up (session (re)start
+ one store build, which is also an ingest op), an unmeasured warm-up whose
full scan checks the build against the input, then a measured slice of a
closed loop with one client over the dataset's read cycle against that
build. The slices together last --seconds.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The line before it holds the run's context (seed, input sizes,
box canary, error rate, pruning fractions, sample counts).

Launch settings are explicit flags so BENCHMARK.json records them:
  --cores nproc          SPARK_GRAFT_CPUS = usable cores (local[nproc])
  --driver-heap auto     SPARK_DRIVER_MEMORY = a sixteenth of RAM, 1-2 GB
  --worker-path checkout the checkout root goes on the Python workers'
                         PYTHONPATH, so workers import the engine from the
                         tree under test wherever the command is launched
  --jit c1               the Spark JVM compiles with C1 only
                         (-XX:TieredStopAtLevel=1)
Everything the run writes stays under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
ENGINE = "omi_cpp_parquet_wide_record_spark"

WORKLOADS = ("itch_convert", "web_read")
SETUP_ROUNDS = 2
READ_KINDS = ("lookup", "filtered", "projected", "full")


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------- launch

def _cores(spec: str) -> int:
    if spec == "nproc":
        return len(os.sched_getaffinity(0))
    return int(spec)


def _heap(spec: str) -> str:
    if spec != "auto":
        return spec
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemTotal:"))
    # a sixteenth of RAM, 1-2 GB: the inputs are tens of MB and the heap
    # is committed whole at launch (see spark_conf)
    return f"{min(max(total_kb // 16384, 1024), 2048)}m"


def launch_env(args, run_dir: str) -> dict:
    """Set the environment the engine's session and Spark's Python workers
    read; must run before the first SparkSession starts."""
    cores, heap = _cores(args.cores), _heap(args.driver_heap)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return {"cores": cores, "driver_heap": heap,
            "worker_pythonpath": os.environ.get("PYTHONPATH", "")}


def spark_conf(run_dir: str, jit: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    # the whole heap is committed and touched at launch, so the JVM's share
    # of peak_rss_mb does not depend on when GC grows the heap; no
    # hsperfdata file in the system temp dir
    opts = (f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData")
    if jit == "c1":
        # C1 only: the JVM lives about a minute, and C2 would spend most of
        # it compiling Spark on the cores the ops need (see README)
        opts += " -XX:TieredStopAtLevel=1"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": opts,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


# --------------------------------------------------- process tree / RSS

def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants: the
    largest sum, over samples taken every second from /proc, of each live
    process's own peak RSS (VmHWM). The kernel keeps each peak, so a short
    spike between samples still counts, and the walk over /proc is rare
    enough to keep it off the timed ops' critical path (it holds the GIL)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        total = 0
        for p in _tree(os.getpid()):
            try:
                total += _hwm_bytes(p)
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(1.0):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait until every child
    process (JVM, Python worker daemon) has exited."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    while True:
        left = [p for p in _tree(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def canary_mbps() -> float:
    """Box canary from bench.py (memcpy + random gather, 64 MB lanes): its
    MB/s depends only on the memory system and current load."""
    import numpy as np
    src = np.arange(8 << 20, dtype=np.int64)
    dst = np.empty_like(src)
    idx = (src * 2654435761 % len(src)).astype(np.int64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        _ = src[idx]
        best = min(best, time.perf_counter() - t0)
    return src.nbytes * 2 / best / 1e6


# ------------------------------------------------------------ the run

def _median(xs):
    return statistics.median(xs) if xs else None


def measure(args) -> tuple[dict, dict]:
    import workloads as WL
    from omi_cpp_parquet_wide_record_spark import session

    t_start = time.perf_counter()
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    ctx: dict = {"workload": args.workload, "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace}
    ctx.update(launch_env(args, run_dir))
    ctx["canary_mbps"] = canary_mbps()
    rss = RssSampler()
    rss.start()

    # input synthesis (cached per seed; not part of setup_s)
    scale = args.scale
    if args.workload == "itch_convert":
        ds = WL.ItchCaptures(WORK, ctx["cores"],
                             max(200, int(WL.ITCH_MESSAGES_PER_FILE * scale)),
                             args.seed)
    else:
        ds = WL.WebCorpus(WORK, max(200, int(WL.WEB_READ_ROWS * scale)),
                          args.seed)
    ctx["input"] = ds.input_sizes()
    _log(f"inputs ready at {time.perf_counter() - t_start:.1f}s")

    tracer = None
    if args.trace:
        import tracing
        tracer = tracing.Tracer()
        tracer.install()

    spark = None
    runner = WL.Runner(None, ds, run_dir, args.seed,
                       corrupt=args.corrupt_store, tracer=tracer)
    setup_s = []
    ctx["setup_rounds_s"] = setup_s
    store, pos = None, 0
    try:
        for n in range(SETUP_ROUNDS):
            # a set-up round: session (re)start and one store build. The
            # build is also an ingest op: the first ingest of a fresh
            # session, as a convert or encode job runs it.
            if tracer is not None:
                tracer.enabled = True
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = session.get_spark(
                "perfbench", extra_conf=spark_conf(run_dir, args.jit))
            runner.spark = spark
            built, rec = runner.ingest()
            setup_s.append(time.perf_counter() - t0)
            if store is not None:
                shutil.rmtree(store, ignore_errors=True)
            store = built
            if runner.expected is None:
                runner.expected = ds.expected_digest(spark)
            _log(f"set-up round {n + 1} done at "
                 f"{time.perf_counter() - t_start:.1f}s")

            # warm-up, checked but not measured: one pass over the read
            # cycle, whose full scan is the build's ingest gate. Reads of
            # each type run slower for their first few times in a session.
            if tracer is not None:
                tracer.enabled = False
            for kind in ds.read_cycle:
                runner.read(kind, store, rec.bytes_in, cold=True)
            gc.freeze()     # set-up's objects stay out of the collector's way

            # the measured reads come in one slice per round, so that they
            # span most of the run and not only its end: the machine's
            # speed drifts over tens of seconds
            pos = run_loop(args.seconds / SETUP_ROUNDS, runner, store,
                           rec.bytes_in, tracer, pos)
            _log(f"read slice {n + 1} done at "
                 f"{time.perf_counter() - t_start:.1f}s")

        per_layer = None
        if tracer is not None:
            import tracing
            tracer.enabled = True
            captures = getattr(ds, "capture_paths", [])
            per_layer = tracing.replay(tracer, store, ds.partition_col,
                                       captures, ctx["cores"])
            tracer.dump(os.path.join(
                WORK, "traces",
                f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(runner.records, setup_s, rss.peak, ds.read_cycle)
    ctx.update(run_context(runner.records, e2e))
    if tracer is not None:
        return layer_metrics(tracer, runner.records, per_layer), ctx
    return e2e, ctx


def run_loop(seconds, runner, store, store_bytes, tracer, i: int) -> int:
    """One slice of the measured phase: a closed loop with one client over
    the dataset's read cycle, from its ``i``-th op on, for ``seconds`` of
    wall time and at least one full cycle. Returns where the next slice
    picks the cycle up, so that a slice shorter than a cycle does not
    starve the cycle's last read types."""
    cycle = runner.ds.read_cycle
    deadline = time.perf_counter() + seconds
    end = i + len(cycle)
    while i < end or time.perf_counter() < deadline:
        if tracer is not None:
            # alternate traced and untraced cycles for the overhead figure
            tracer.enabled = (i // len(cycle)) % 2 == 0
        runner.read(cycle[i % len(cycle)], store, store_bytes)
        i += 1
    return i


def end_to_end(records, setup_s, peak_rss, cycle) -> dict:
    # absent-key lookups take another path (2-5x as long) and a run has
    # only one or two: in the lookup median they would shift it by whether
    # the run's lookup count is odd or even. They go to the context line.
    ok = [r for r in records if r.ok and not r.cold and not r.absent]

    def secs(kind):
        return [r.seconds for r in ok if r.kind == kind]

    ingest = [r for r in ok if r.kind == "ingest"]
    full = [r for r in ok if r.kind == "full"]
    # the read cycle's throughput at each read type's median time: which
    # reads a run's last, partial cycle reached does not move it
    p50 = {k: _median(secs(k)) for k in set(cycle)}
    m = {
        "setup_s": (_median(setup_s), "s"),
        "ingest_mbps": (_median([r.bytes_in / 1e6 / r.seconds
                                 for r in ingest]), "MB/s"),
        "stored_bytes_per_input_byte": (
            ingest[-1].bytes_out / ingest[-1].bytes_in
            if ingest and ingest[-1].bytes_in else None, "ratio"),
        "scan_mbps": (_median([r.bytes_in / 1e6 / r.seconds
                               for r in full]), "MB/s"),
        "projected_scan_p50_s": (_median(secs("projected")), "s"),
        "filtered_scan_p50_s": (_median(secs("filtered")), "s"),
        "point_lookup_p50_s": (_median(secs("lookup")), "s"),
        "read_ops_per_s": (
            len(cycle) / sum(p50[k] for k in cycle)
            if None not in p50.values() else None, "1/s"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()
            if v is not None}


def run_context(records, e2e) -> dict:
    attempted = len(records)
    failed = sum(not r.ok for r in records)
    ctx = {"attempted": attempted, "failed": failed,
           "error_rate": failed / attempted if attempted else 1.0,
           "samples": {}, "files_kept_fraction": {},
           "bytes_read_per_op": {}}
    ctx["op_seconds"] = {}
    measured = [r for r in records if not r.cold]
    for kind in ("ingest",) + READ_KINDS:
        rs = [r for r in measured if r.kind == kind]
        ctx["samples"][kind] = len(rs)
        ctx["op_seconds"][kind] = [r.seconds for r in rs]
        kept = [r.files_kept for r in rs if r.files_kept is not None]
        if kept:
            ctx["files_kept_fraction"][kind] = _median(kept)
            ctx["bytes_read_per_op"][kind] = _median(
                [r.bytes_read for r in rs])
    lookups = sorted(r.seconds for r in measured
                     if r.kind == "lookup" and r.ok)
    ctx["absent_lookup_s"] = [r.seconds for r in measured
                              if r.kind == "lookup" and r.absent]
    # p90 only when at least ten lookups lie beyond it
    if len(lookups) >= 100:
        ctx["point_lookup_p90_s"] = statistics.quantiles(lookups, n=10)[-1]
    ctx["end_to_end"] = e2e
    return ctx


def layer_metrics(tracer, records, replayed) -> dict:
    import tracing
    m = dict(replayed)
    commits = tracer.durations("commit")
    tables = tracer.durations("manifest_table")
    m["snapshot.commit_s"] = _median(commits) or 0.0
    m["snapshot.manifest_table_s"] = _median(tables) or 0.0
    prune_by_op: dict[int, float] = {}
    for s in tracer.spans:
        if s.name == "prune_files" and s.op is not None:
            prune_by_op[s.op] = prune_by_op.get(s.op, 0.0) + s.end - s.start
    for kind in READ_KINDS:
        idx = [i for i, r in enumerate(records)
               if r.kind == kind and r.traced]
        rs = [records[i] for i in idx]
        m[f"decode.{kind}.prune_s"] = _median(
            [prune_by_op.get(i, 0.0) for i in idx]) or 0.0
        m[f"decode.{kind}.files_kept_fraction"] = _median(
            [r.files_kept for r in rs if r.files_kept is not None]) or 0.0
        m[f"decode.{kind}.bytes_read_per_op"] = float(_median(
            [r.bytes_read for r in rs if r.bytes_read is not None]) or 0)
    measured = [r for r in records if not r.cold]
    n = max(len(measured), 1)
    for key in ("jobs", "stages", "tasks"):
        m[f"spark.{key}_per_op"] = sum(r.spark.get(key, 0)
                                       for r in measured) / n
    m["spark.failed_tasks"] = float(sum(r.spark.get("failed_tasks", 0)
                                        for r in measured))
    for name, v in tracer.self_times().items():
        m[f"span.{name}.self_s"] = v
    on = off = 0.0
    for kind in ("ingest",) + READ_KINDS:
        rs = [r for r in measured if r.kind == kind and r.ok]
        a = _median([r.seconds for r in rs if r.traced])
        b = _median([r.seconds for r in rs if not r.traced])
        if a is not None and b is not None:
            on, off = on + a, off + b
    m["trace.overhead_share"] = on / off - 1 if off else 0.0
    units = tracing.layer_units()
    return {k: {"value": float(v), "unit": units.get(k, "count")}
            for k, v in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", default="nproc")
    ap.add_argument("--driver-heap", default="auto")
    ap.add_argument("--jit", choices=("c1",), default="c1")
    ap.add_argument("--worker-path", choices=("checkout",),
                    default="checkout")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every input size (the self-test runs "
                         "tiny sizes)")
    ap.add_argument("--corrupt-store", action="store_true",
                    help="flip one payload byte in every store written "
                         "(self-test of the correctness gates)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        _log(f"engine package {ENGINE}/ not found next to perfbench/; "
             "run from a checkout of the repository")
        return 2
    sys.path[:0] = [HERE, ROOT]

    metrics, ctx = measure(args)
    attempted, failed = ctx["attempted"], ctx["failed"]
    print(json.dumps({"context": ctx}), flush=True)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
