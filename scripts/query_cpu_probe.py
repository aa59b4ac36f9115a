"""Time the in-process query path alone, and fingerprint its answers.

Builds the `query_unique` benchmark index once (50k docs, 8 segments,
left unmerged), warms it the way that workload does, then runs N distinct
`perfbench.common.QueryGen(seed)` queries through
`IndexSearcher.search(q, k=10, count_all=...)` and prints:

- the total thread CPU of the timed searches, and the p50 per shape;
- a sha256 over the (query, num_hits, hit doc keys, f32 scores) list.

Each timed query also runs as `sort_search(q, k=10, sort_by=(("path",
"asc"),))`, timed apart, which adds the sorted p50 and a
`sorted_sha256` over the (query, num_hits, hit doc keys) list.

Run it against two checkouts, alternating, for a paired timing of the
search path and a parity check of its answers:

    python scripts/query_cpu_probe.py --queries 700
    python scripts/query_cpu_probe.py --queries 700 --repo ../other-checkout

`--repo` imports `quickwit_spark` and `perfbench` from that checkout
instead of this one. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

CORPUS_SEED = 1        # the query_unique corpus
WARMUP_QUERIES = 100   # distinct untimed queries run first
SORT_BY = (("path", "asc"),)  # the sorted twin of each timed query


def main(argv=None) -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=here,
                    help="checkout to import the program from")
    ap.add_argument("--queries", type=int, default=700,
                    help="distinct timed queries")
    ap.add_argument("--seed", type=int, default=11, help="QueryGen seed")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.path.abspath(args.repo))
    import numpy as np

    from perfbench import common as C
    from perfbench import query_unique as QU

    work = tempfile.mkdtemp(prefix="qprobe-")
    try:
        _pdf, _index_dir, searcher, _build = QU._build(
            work, QU.N_DOCS, CORPUS_SEED, "probe")
        del _pdf
        qgen = C.QueryGen(args.seed)
        for _ in range(WARMUP_QUERIES):
            _shape, q, count_all = qgen.distinct()
            searcher.search(q, k=10, count_all=count_all)
            searcher.sort_search(q, k=10, sort_by=SORT_BY)
        per_shape: dict[str, list[float]] = {}
        answers = []
        sorted_cpu: list[float] = []
        sorted_answers = []
        total = 0.0
        for _ in range(args.queries):
            shape, q, count_all = qgen.distinct()
            c0 = time.thread_time()
            res = searcher.search(q, k=10, count_all=count_all)
            dc = (time.thread_time() - c0) * 1e3
            total += dc
            per_shape.setdefault(shape, []).append(dc)
            answers.append([q, res.num_hits,
                            [list(C.doc_key(h.doc)) for h in res.hits],
                            [float(np.float32(h.score)).hex()
                             for h in res.hits]])
            c0 = time.thread_time()
            res = searcher.sort_search(q, k=10, sort_by=SORT_BY)
            sorted_cpu.append((time.thread_time() - c0) * 1e3)
            sorted_answers.append([q, res.num_hits,
                                   [list(C.doc_key(h.doc))
                                    for h in res.hits]])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    digest, sorted_digest = (hashlib.sha256(
        json.dumps(a, separators=(",", ":")).encode()).hexdigest()
        for a in (answers, sorted_answers))
    p50 = {s: C.median(v) for s, v in sorted(per_shape.items())}
    sorted_p50 = C.median(sorted_cpu)
    print(f"repo {os.path.abspath(args.repo)}")
    print(f"queries {args.queries} (seed {args.seed}, after "
          f"{WARMUP_QUERIES} warm-up)  total thread CPU {total:.1f} ms")
    for s, v in p50.items():
        print(f"  {s:<10} p50 {v:8.3f} ms  n={len(per_shape[s])}")
    print(f"  {'sorted':<10} p50 {sorted_p50:8.3f} ms  "
          f"n={len(sorted_cpu)}  (sort_search by path asc)")
    print(f"parity sha256 {digest}")
    print(f"parity sorted_sha256 {sorted_digest}")
    print(json.dumps({"total_cpu_ms": total, "p50_ms": p50,
                      "queries": args.queries, "sha256": digest,
                      "sorted_p50_ms": sorted_p50,
                      "sorted_sha256": sorted_digest}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
