"""query_unique: distinct queries against an in-process IndexSearcher.

One caller runs a closed loop. Every request is a query string never seen
before in the run, so the leaf partial-result cache cannot hit, and each
request fetches its documents (k=10). Each op records its wall latency and
the CPU time of the calling thread; the window records the process's CPU
time (README.md, "Wall time and CPU time")."""

from __future__ import annotations

import os
import time

from . import common as C

N_DOCS = 50_000
N_SEGMENTS = 8


def _build(work: str, n_docs: int, seed: int, tag: str):
    """Generate the corpus, build the index (N_SEGMENTS segments, left
    unmerged), open the searcher and warm every segment's reader. Returns
    the corpus, the index directory, the searcher and the build's wall and
    process CPU seconds."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search.engine import IndexSearcher
    pdf = C.corpus(n_docs, seed)
    index_dir = os.path.join(work, f"idx-{tag}")
    t0, c0 = time.perf_counter(), time.process_time()
    build_index_pandas(pdf, IndexConfig(index_uid="bench",
                                        index_dir=index_dir),
                       num_partitions=N_SEGMENTS)
    build = (time.perf_counter() - t0, time.process_time() - c0)
    searcher = IndexSearcher(index_dir)
    # reader warm-up: term dicts, doc stores and fieldnorms of every
    # segment; the strings are never reused by the timed stream
    for q in ("warmupterm", "get AND value", "set OR run OR init",
              "load AND lang:python", "parse -merge", '"split index"'):
        searcher.search(q, k=10)
    return pdf, index_dir, searcher, build


def hit_rows(res) -> list[tuple]:
    return [(C.doc_key(h.doc), float(h.score), h.doc.get("sha256"))
            for h in res.hits]


def run_loop(searcher, qgen, seconds: float) -> tuple[list[dict], float,
                                                       float]:
    """Closed loop for `seconds`; returns the ops, the elapsed wall and
    the process CPU seconds spent meanwhile."""
    ops = []
    p_start = time.process_time()
    t_start = time.perf_counter()
    t_end = t_start + seconds
    while time.perf_counter() < t_end:
        shape, q, count_all = qgen.distinct()
        t0, c0 = time.perf_counter(), time.thread_time()
        try:
            res = searcher.search(q, k=10, count_all=count_all)
            err = None
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            res, err = None, f"{type(e).__name__}: {e}"
        dt, dc = time.perf_counter() - t0, time.thread_time() - c0
        ops.append({"shape": shape, "q": q, "count_all": count_all,
                    "ms": dt * 1e3, "cpu_ms": dc * 1e3, "err": err,
                    "hits": hit_rows(res) if res is not None else None,
                    "num_hits": res.num_hits if res is not None else None})
    return (ops, time.perf_counter() - t_start,
            time.process_time() - p_start)


def verify(ops: list[dict], searcher, sha: dict) -> int:
    """Count ops whose answer is wrong: top-k (doc key, score) must equal
    the exhaustive answer (count_all=True, leaf cache cleared first), and
    every fetched document's sha256 must be the generator's."""
    from quickwit_spark.search.engine import clear_leaf_cache
    clear_leaf_cache()
    failed = 0
    for op in ops:
        if op["err"] is not None:
            failed += 1
            continue
        exp = searcher.search(op["q"], k=10, count_all=True)
        ok = ([(k, s) for k, s, _ in op["hits"]]
              == [(k, s) for k, s, _ in hit_rows(exp)])
        if op["count_all"]:
            ok = ok and op["num_hits"] == exp.num_hits
        else:
            ok = ok and op["num_hits"] <= exp.num_hits
        ok = ok and all(sha.get(k) == s for k, _, s in op["hits"])
        failed += not ok
    return failed


def run(args) -> dict:
    from quickwit_spark.search import wand
    from quickwit_spark.search.engine import leaf_cache_stats

    from . import layers, tracing
    n_docs = args.docs or N_DOCS
    work = C.make_workdir()
    try:
        pdf, index_dir, searcher, (build_s, build_cpu_s) = _build(
            work, n_docs, args.seed, "run")
        sha = C.expected_sha(pdf)
        raw_bytes = int(pdf["content"].str.len().sum())
        index_bytes = C.live_segment_bytes(index_dir)
        del pdf
        qgen = C.QueryGen(args.seed)

        leaf0 = leaf_cache_stats()
        setup_s = C.process_age_s()
        ops, elapsed, proc_cpu_s = run_loop(searcher, qgen, args.seconds)
        leaf1 = leaf_cache_stats()
        all_ops = list(ops)
        lat = [o["ms"] for o in ops]
        cpu = [o["cpu_ms"] for o in ops]
        out_layers = None
        if args.trace:
            tracer = tracing.Tracer(tracing.READ_TARGETS)
            w0, l0 = dict(wand.STATS), leaf_cache_stats()
            tracer.start()
            tops, window, _ = run_loop(searcher, qgen, args.seconds)
            tracer.stop()
            all_ops += tops
            traced_p50 = C.median([o["cpu_ms"] for o in tops])
            vals = layers.compute(
                tracer.spans, searches=len(tops), wand0=w0,
                wand1=dict(wand.STATS), leaf0=l0, leaf1=leaf_cache_stats(),
                roots=("engine.search",), window=window,
                overhead=traced_p50 / C.median(cpu) - 1)
            out_layers = {k: (v, layers.UNITS[k]) for k, v in vals.items()}
        failed = verify(all_ops, searcher, sha)

        qps = len(ops) / elapsed
        per_cpu_s = len(ops) / proc_cpu_s
        t, tc = C.tail(lat), C.tail(cpu)
        rss = C.peak_rss_mb()
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (C.median(cpu), "ms"),
            "op_tail_ms": (tc["value"], "ms"),
            "write_ms": (build_cpu_s * 1e3, "ms"),
            "work_per_s": (per_cpu_s, "1/s"),
            "peak_rss_mb": (rss, "MB"),
            "index_bytes_per_input_byte": (index_bytes / raw_bytes,
                                           "ratio"),
        }
        report = {
            "setup_s": (setup_s, "s"),
            "search_p50_ms": (C.median(lat), "ms"),
            "search_tail_ms": (t["value"], "ms",
                               {"percentile": t["percentile"],
                                "n": t["n"]}),
            "search_qps": (qps, "1/s"),
            "search_cpu_p50_ms": (C.median(cpu), "ms"),
            "search_cpu_tail_ms": (tc["value"], "ms",
                                   {"percentile": tc["percentile"],
                                    "n": tc["n"]}),
            "searches_per_cpu_s": (per_cpu_s, "1/s"),
            "build_ms": (build_s * 1e3, "ms"),
            "build_cpu_ms": (build_cpu_s * 1e3, "ms"),
            "peak_rss_mb": (rss, "MB"),
            "index_bytes_per_input_byte": (index_bytes / raw_bytes,
                                           "ratio"),
            "failed_ratio": (failed / len(all_ops), "ratio"),
        }
        return {"metrics": metrics, "report": report, "layers": out_layers,
                "attempted": len(all_ops), "failed": failed,
                "details": {"n_docs": n_docs, "segments": N_SEGMENTS,
                            "leaf_cache_hits": leaf1["hits"] - leaf0["hits"],
                            "leaf_cache_misses":
                                leaf1["misses"] - leaf0["misses"],
                            "shapes": {sh: sum(o["shape"] == sh
                                               for o in ops)
                                       for sh in C.QueryGen.SHAPES}}}
    finally:
        C.remove_workdir(work)
