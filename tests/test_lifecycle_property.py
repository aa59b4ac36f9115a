"""Randomized index-lifecycle property: any interleaving of micro-batch
ingests, delete queries, and merge waves must leave an index that is
equivalent to a fresh single-shot build over the surviving documents:

- per query, the MATCH SET (doc keys) is identical — per-split BM25
  scores legitimately depend on segmentation (the reference scores per
  split and merges top-k; splits don't share stats), so raw scores are
  NOT compared across layouts here;
- through the GLOBAL term-partitioned layout, whose df/avg-fieldnorm
  stats are corpus-global and therefore layout-independent, the scored
  result (hit count + ordered score vector) IS identical.

Segmentation, merge history, and delete rewrites are layout; the doc
set and global-stat scoring are state — the two must never mix.
"""

import random

import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.deletes import apply_delete_query
from quickwit_spark.index.global_index import (GlobalIndexSearcher,
                                               build_term_partitioned)
from quickwit_spark.index.merge import run_merges
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.streaming.incremental import ingest_batch

_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
          "golf", "hotel", "india", "juliet"]


def _mk_doc(rng, i):
    n = rng.randint(3, 12)
    words = [rng.choice(_WORDS) for _ in range(n)]
    return {"repo": f"r{i % 3}", "path": f"d{i}.py", "commit": "c",
            "lang": rng.choice(["py", "rs"]),
            "content": " ".join(words)}


def _match_keys(searcher, query):
    k = searcher.count("*") + 10
    res = searcher.search(query, k=k, fetch_fields=True)
    return sorted(h.doc["path"] for h in res.hits)


def _global_profile(g, terms, op):
    clauses = tuple(A.Term("content", t) for t in terms)
    res = g.search(A.Bool(must=clauses) if op == "and"
                   else A.Bool(should=clauses), k=1000, fetch_fields=False)
    return res.num_hits, [round(float(s), 5) for s in
                          sorted((h.score for h in res.hits), reverse=True)]


@pytest.mark.parametrize("seed", [5, 19])
def test_lifecycle_equivalent_to_fresh_build(spark, tmp_path, seed):
    rng = random.Random(seed)
    cfg = IndexConfig(index_uid=f"life{seed}",
                      index_dir=str(tmp_path / f"life{seed}"),
                      sha_col=None)
    alive: dict[str, dict] = {}
    next_id = 0
    batch_id = 0

    def ingest(n):
        nonlocal next_id, batch_id
        rows = [_mk_doc(rng, next_id + j) for j in range(n)]
        next_id += n
        for r in rows:
            alive[r["path"]] = r
        batch_id += 1
        ingest_batch(spark.createDataFrame(pd.DataFrame(rows)), cfg,
                     batch_id=batch_id, partitions_per_batch=2)

    ingest(rng.randint(20, 40))
    for _ in range(7):
        op = rng.choice(["ingest", "delete", "merge"])
        if op == "ingest":
            ingest(rng.randint(5, 25))
        elif op == "delete":
            word = rng.choice(_WORDS)
            doomed = [p for p, r in alive.items()
                      if word in r["content"].split()]
            for p in doomed:
                del alive[p]
            apply_delete_query(cfg.index_dir,
                               A.Term("content", word), spark=spark)
        else:
            run_merges(cfg.index_dir, spark=spark)

    fresh_cfg = IndexConfig(index_uid=f"fresh{seed}",
                            index_dir=str(tmp_path / f"fresh{seed}"),
                            sha_col=None)
    fresh_pdf = pd.DataFrame(sorted(alive.values(),
                                    key=lambda r: r["path"]))
    build_index_pandas(fresh_pdf, fresh_cfg, num_partitions=3)

    s_life = IndexSearcher(cfg.index_dir)
    s_fresh = IndexSearcher(fresh_cfg.index_dir)
    assert s_life.count("*") == s_fresh.count("*") == len(alive)

    key_queries = [A.Term("content", w) for w in _WORDS[:4]] + [
        A.Bool(must=(A.Term("content", "alpha"),
                     A.Term("content", "bravo"))),
        A.Bool(should=(A.Term("content", "echo"),
                       A.Term("content", "golf")),
               minimum_should_match=1),
        A.Bool(must=(A.Term("content", "delta"),),
               must_not=(A.Term("content", "india"),)),
    ]
    for qi, query in enumerate(key_queries):
        assert _match_keys(s_life, query) == \
            _match_keys(s_fresh, query), f"query {qi}: match set diverged"

    # global layout: corpus-global stats, so the scored result must be
    # layout-independent (hit counts + ordered score vectors)
    build_term_partitioned(spark, cfg.index_dir, num_term_partitions=4)
    build_term_partitioned(spark, fresh_cfg.index_dir,
                           num_term_partitions=4)
    g_life = GlobalIndexSearcher(cfg.index_dir)
    g_fresh = GlobalIndexSearcher(fresh_cfg.index_dir)
    global_queries = [(["alpha"], "or"), (["bravo"], "or"),
                      (["alpha", "bravo"], "and"),
                      (["echo", "golf", "delta"], "or")]
    for terms, op in global_queries:
        assert _global_profile(g_life, terms, op) == \
            _global_profile(g_fresh, terms, op), (terms, op)
