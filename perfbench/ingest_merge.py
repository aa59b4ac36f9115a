"""ingest_merge: the write path alone, through Spark.

Set-up starts Spark as local[min(4, nproc)], generates the seeded corpus
with the program's `corpus_df`, caches it and warms the JVM and the Python
workers with one untimed build and merge of the whole corpus (the JIT
keeps speeding up the first cycles). Each timed cycle runs the default
`build_index` path (routing shuffle included) into a fresh directory up to
a published manifest, then `run_merges` with a policy that collapses the
build's segments into one. The Python workers' peak RSS is reset after
set-up, so peak_rss_mb is the largest worker peak of the timed cycles."""

from __future__ import annotations

import os
import shutil
import time

from . import common as C

N_DOCS = 50_000
N_PARTITIONS = 8
MIN_CYCLES = 4


def start_spark(work: str, trace_dir: str | None):
    # Spark Python workers import this checkout (program and benchmark)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (C.ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{C.workers()}]")
         .appName("perfbench-ingest-merge")
         .config("spark.sql.shuffle.partitions", str(C.workers()))
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp}"))
    if trace_dir is not None:
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
        b = b.config("spark.python.daemon.module", "perfbench.tracedaemon")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spark_workers() -> list[int]:
    """The Spark Python daemon and worker processes."""
    from pyspark import SparkContext
    return C.python_descendants(SparkContext._gateway.proc.pid)


def workers_peak_rss_mb() -> float:
    peaks = []
    for pid in spark_workers():
        try:
            peaks.append(C.peak_rss_mb(pid))
        except OSError:  # an idle worker the daemon reaped meanwhile
            pass
    return max(peaks)


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait()


def policy():
    from quickwit_spark.config import MergePolicyConfig
    from quickwit_spark.index.merge_policy import StableLogMergePolicy
    return StableLogMergePolicy(MergePolicyConfig(
        merge_factor=N_PARTITIONS, max_merge_factor=N_PARTITIONS + 4,
        min_level_num_docs=10_000_000))


def prepare(spark, work: str, n_docs: int, seed: int):
    """Generate and cache the corpus, then warm the JVM and the Python
    workers with a full-size build and merge."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.merge import run_merges
    df = C.corpus_spark(spark, n_docs, seed, C.workers()).cache()
    raw = int(df.selectExpr("sum(length(content))").collect()[0][0])
    warm = os.path.join(work, "warm")
    build_index(spark, df,
                IndexConfig(index_uid="warm", index_dir=warm),
                num_partitions=N_PARTITIONS)
    run_merges(warm, spark=spark, policy=policy())
    shutil.rmtree(warm, ignore_errors=True)
    return df, raw


def cycle(spark, df, work: str, n_docs: int, i: int) -> dict:
    """One timed build + merge; returns timings and correctness."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.index.merge import run_merges
    index_dir = os.path.join(work, f"idx-{i}")
    cfg = IndexConfig(index_uid="bench", index_dir=index_dir)
    t0 = time.perf_counter()
    build_index(spark, df, cfg, num_partitions=N_PARTITIONS)
    t1 = time.perf_counter()
    built = Manifest.load(index_dir).segments()
    t2 = time.perf_counter()
    run_merges(index_dir, spark=spark, policy=policy())
    t3 = time.perf_counter()
    merged = Manifest.load(index_dir).segments()
    out = {
        "build_s": t1 - t0, "merge_s": t3 - t2, "wall_s": t3 - t0,
        "build_ok": sum(s["num_docs"] for s in built) == n_docs,
        "merge_ok": (len(merged) == 1
                     and merged[0]["num_docs"] == n_docs
                     and len(built) > 1),
        "segments_built": len(built),
        "index_bytes": C.live_segment_bytes(index_dir),
    }
    shutil.rmtree(index_dir, ignore_errors=True)
    return out


def loop(spark, df, work, n_docs, seconds, start_i=0) -> list[dict]:
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < MIN_CYCLES or time.perf_counter() < t_end:
        out.append(cycle(spark, df, work, n_docs, start_i + len(out)))
    return out


def run(args) -> dict:
    from . import layers, tracing
    n_docs = args.docs or N_DOCS
    work = C.make_workdir()
    trace_dir = None
    if args.trace:
        trace_dir = os.path.join(work, "trace")
        os.makedirs(trace_dir)
    spark = None
    try:
        spark = start_spark(work, trace_dir)
        df, raw = prepare(spark, work, n_docs, args.seed)
        for pid in spark_workers():
            try:
                C.reset_peak_rss(pid)
            except OSError:
                pass
        setup_s = C.process_age_s()
        cycles = loop(spark, df, work, n_docs, args.seconds)
        rss = workers_peak_rss_mb()
        out_layers = None
        traced = []
        if args.trace:
            tracer = tracing.Tracer(tracing.DRIVER_WRITE_TARGETS)
            open(os.path.join(trace_dir, "ON"), "w").close()
            tracer.start()
            traced = loop(spark, df, work, n_docs, args.seconds,
                          start_i=len(cycles))
            tracer.stop()
            os.remove(os.path.join(trace_dir, "ON"))
            spans = list(tracer.spans) + tracing.load_spans(
                os.path.join(trace_dir, f) for f in os.listdir(trace_dir)
                if f.startswith("spans-"))
            vals = layers.compute(
                spans, cycles=len(traced), cores=C.workers(),
                driver_pids={os.getpid()}, raw_bytes=raw,
                roots=("spark.build_index", "spark.run_merges"),
                window=sum(c["wall_s"] for c in traced),
                overhead=(C.median([c["wall_s"] for c in traced])
                          / C.median([c["wall_s"] for c in cycles]) - 1))
            out_layers = {k: (v, layers.UNITS[k]) for k, v in vals.items()}

        every = cycles + traced
        failed = sum((not c["build_ok"]) + (not c["merge_ok"])
                     for c in every)
        build_s = C.median([c["build_s"] for c in cycles])
        merge_s = C.median([c["merge_s"] for c in cycles])
        wall_s = C.median([c["wall_s"] for c in cycles])
        slowest_s = max(c["wall_s"] for c in cycles)
        ratio = C.median([c["index_bytes"] for c in cycles]) / raw
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (wall_s * 1e3, "ms"),
            "op_tail_ms": (slowest_s * 1e3, "ms"),
            "write_ms": (merge_s * 1e3, "ms"),
            "work_per_s": (n_docs / build_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "index_bytes_per_input_byte": (ratio, "ratio"),
        }
        report = {
            "setup_s": (setup_s, "s"),
            "index_docs_per_s": (n_docs / build_s, "docs/s"),
            "merge_s": (merge_s, "s"),
            "cycle_ms": (wall_s * 1e3, "ms"),
            "slowest_cycle_ms": (slowest_s * 1e3, "ms"),
            "index_bytes_per_input_byte": (ratio, "ratio"),
            "peak_rss_mb": (rss, "MB"),
            "failed_ratio": (failed / (2 * len(every)), "ratio"),
        }
        return {"metrics": metrics, "report": report, "layers": out_layers,
                "attempted": 2 * len(every), "failed": failed,
                "details": {"n_docs": n_docs, "raw_bytes": raw,
                            "partitions": N_PARTITIONS,
                            "spark_cores": C.workers(),
                            "cycles": len(cycles),
                            "build_s": [c["build_s"] for c in cycles],
                            "merge_s": [c["merge_s"] for c in cycles],
                            "segments_built":
                                cycles[0]["segments_built"]}}
    finally:
        if spark is not None:
            stop_spark(spark)
        C.remove_workdir(work)
