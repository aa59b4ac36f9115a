"""Global term-partitioned index (FIXTURES F6 + north-rule P6): scoring
must be rank-identical to a single fully-merged segment (same global
stats), and hot-term salting must not change results."""

import os
import shutil

import numpy as np
import pytest

from quickwit_spark.config import IndexConfig, MergePolicyConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.index.global_index import (
    GlobalIndexSearcher,
    build_term_partitioned,
)
from quickwit_spark.index.merge import run_merges
from quickwit_spark.index.merge_policy import StableLogMergePolicy
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher

N_DOCS = 300


@pytest.fixture(scope="module")
def dirs(tmp_path_factory, spark):
    tmp = tmp_path_factory.mktemp("gidx")
    pdf = corpus_pandas(N_DOCS, seed=42)
    cfg = IndexConfig(index_uid="g", index_dir=str(tmp / "base"))
    build_index_pandas(pdf, cfg, num_partitions=8)

    merged_dir = str(tmp / "merged")
    shutil.copytree(cfg.index_dir, merged_dir)
    pol = StableLogMergePolicy(MergePolicyConfig(
        merge_factor=8, max_merge_factor=12, min_level_num_docs=10,
        split_num_docs_target=10_000_000))
    run_merges(merged_dir, policy=pol)

    build_term_partitioned(spark, cfg.index_dir, num_term_partitions=4,
                           salt_df_threshold=10**9)
    return cfg.index_dir, merged_dir, pdf


def _bool(terms, op):
    clauses = tuple(A.Term("content", t) for t in terms)
    return A.Bool(must=clauses) if op == "and" else A.Bool(should=clauses)


def _ranked(res):
    """(segment_id, doc_id, score) of each hit, in rank order."""
    return [(h.segment_id, h.doc_id, h.score) for h in res.hits]


QUERIES = [
    (["merge"], "and"),
    (["query", "index"], "and"),
    (["fetch", "codec"], "or"),
    (["value", "get", "snapshot"], "or"),
    (["value", "get"], "and"),
]


def test_global_matches_merged_segment(dirs):
    base_dir, merged_dir, pdf = dirs
    gs = GlobalIndexSearcher(base_dir)
    ms = IndexSearcher(merged_dir)
    for terms, op in QUERIES:
        node = _bool(terms, op)
        k = 400
        mres = ms.search(node, k=k, fetch_fields=True)
        gres = gs.search(node, k=k)
        assert gres.num_hits == mres.num_hits, (terms, op)
        got = sorted((round(float(np.float32(h.score)), 7),
                      h.doc["repo"], h.doc["path"]) for h in gres.hits)
        want = sorted((round(float(np.float32(h.score)), 7),
                       h.doc["repo"], h.doc["path"]) for h in mres.hits)
        assert got == want, (terms, op)


ES_BODIES = [
    {"match": {"content": "fetch codec"}},
    {"match": {"content": {"query": "query index", "operator": "and"}}},
    {"term": {"content": "merge"}},
]


def test_es_search_matches_merged_segment(dirs):
    """The ES facade reaches the global layout through the one search
    pipeline: hits.total and every (score, repo, path) equal the
    fully-merged segment's."""
    from quickwit_spark.search.es_dsl import es_search
    base_dir, merged_dir, _ = dirs
    gs = GlobalIndexSearcher(base_dir)
    ms = IndexSearcher(merged_dir)

    def hits(resp):
        return sorted((round(float(np.float32(h["_score"])), 7),
                       h["_source"]["repo"], h["_source"]["path"])
                      for h in resp["hits"]["hits"])
    for query in ES_BODIES:
        body = {"query": query, "size": N_DOCS + 10}
        want = es_search(ms, body)
        got = es_search(gs, body)
        assert want["hits"]["total"]["value"] > 0, query
        assert got["hits"]["total"] == want["hits"]["total"], query
        assert hits(got) == hits(want), query


def test_global_refuses_what_it_cannot_answer(dirs):
    """No positions, filters or cursors in the term-partitioned layout:
    a phrase, a filter and a search_after are refused, not mis-scored."""
    base_dir, _, _ = dirs
    gs = GlobalIndexSearcher(base_dir)
    with pytest.raises(ValueError):
        gs.search(A.Phrase("content", "merge query"), k=5)
    with pytest.raises(ValueError):
        gs.search(A.Bool(must=(A.Term("content", "merge"),),
                         filter=(A.Term("lang", "python"),)), k=5)
    first = gs.search(A.Term("content", "merge"), k=5)
    with pytest.raises(ValueError):
        gs.search(A.Term("content", "merge"), k=5,
                  search_after=first.next_cursor)


def test_global_matches_merged_segment_under_a_one_byte_budget(
        dirs, monkeypatch):
    """Fieldnorms come from the segment readers, pinned under the reader
    byte budget: with every reader evicted as soon as another opens, the
    global layout still equals the merged segment."""
    import quickwit_spark.search.engine as eng
    monkeypatch.setattr(eng, "_READER_CACHE", type(eng._READER_CACHE)())
    monkeypatch.setattr(eng, "READER_CACHE_BUDGET_BYTES", 1)
    base_dir, merged_dir, _ = dirs
    gs = GlobalIndexSearcher(base_dir)
    ms = IndexSearcher(merged_dir)
    for terms, op in QUERIES:
        for count_all in (True, False):
            node = _bool(terms, op)
            mres = ms.search(node, k=N_DOCS, count_all=True)
            gres = gs.search(node, k=N_DOCS, count_all=count_all)
            if count_all or op == "and" or len(terms) == 1:
                assert gres.num_hits == mres.num_hits, (terms, op)
            got = sorted((np.float32(h.score), h.doc["repo"],
                          h.doc["path"]) for h in gres.hits)
            want = sorted((np.float32(h.score), h.doc["repo"],
                           h.doc["path"]) for h in mres.hits)
            assert got == want, (terms, op, count_all)
    assert len(eng._READER_CACHE) == 1


def test_salting_does_not_change_results(dirs, spark, tmp_path):
    base_dir, merged_dir, pdf = dirs
    salted_dir = str(tmp_path / "salted")
    shutil.copytree(base_dir, salted_dir)
    shutil.rmtree(os.path.join(salted_dir, "global"))
    build_term_partitioned(spark, salted_dir, num_term_partitions=4,
                           salt_df_threshold=10, salt_group_segments=2)
    gs_plain = GlobalIndexSearcher(base_dir)
    gs_salt = GlobalIndexSearcher(salted_dir)
    # salting must actually fire: some term has multiple salt rows
    import pyarrow.parquet as pq
    from quickwit_spark.index.global_index import posting_dir_paths
    rows = pq.read_table(posting_dir_paths(salted_dir)[0]).to_pandas()
    assert rows.groupby("term")["salt"].nunique().max() > 1
    for terms, op in QUERIES:
        r1 = gs_plain.search(_bool(terms, op), k=50, fetch_fields=False)
        r2 = gs_salt.search(_bool(terms, op), k=50, fetch_fields=False)
        assert r1.num_hits == r2.num_hits
        assert _ranked(r1) == _ranked(r2)


def test_global_touches_only_term_partitions(dirs):
    """A 1-term query must read exactly one tpid directory."""
    base_dir, _, _ = dirs
    gs = GlobalIndexSearcher(base_dir)
    from quickwit_spark.index.global_index import term_partition
    pid = term_partition("merge", gs.gm["num_term_partitions"])
    rows = gs._term_rows(["merge"])
    assert (rows["tpid"] == pid).all() if "tpid" in rows.columns else True
    assert len(rows) >= 1


def test_salting_bounds_hot_term_group_size(tmp_path, spark):
    """The north rule's skew defusal, measured: without salting the
    Zipf-head term forms one giant reduce group; with salting its postings
    split across contiguous seg_ord ranges, bounding the largest group a
    single reducer must merge."""
    import pandas as pd
    import pyarrow.parquet as pq

    pdf = corpus_pandas(600, seed=11)
    cfg = IndexConfig(index_uid="skew", index_dir=str(tmp_path / "skew"))
    build_index_pandas(pdf, cfg, num_partitions=12)

    def max_group(salt_threshold, group_segments):
        shutil.rmtree(os.path.join(cfg.index_dir, "global"),
                      ignore_errors=True)
        build_term_partitioned(spark, cfg.index_dir, num_term_partitions=4,
                               salt_df_threshold=salt_threshold,
                               salt_group_segments=group_segments)
        from quickwit_spark.index.global_index import posting_dir_paths
        post_dir = posting_dir_paths(cfg.index_dir)[0]
        frames = []
        for pid in range(4):
            p = os.path.join(post_dir, f"tpid={pid}")
            if os.path.isdir(p):
                frames.append(pq.read_table(
                    p, columns=["term", "salt", "doc_freq"]).to_pandas())
        allp = pd.concat(frames, ignore_index=True)
        # one output row == one reduce group's merged postings
        return allp, int(allp["doc_freq"].max())

    unsalted, max_unsalted = max_group(10**9, 4)
    salted, max_salted = max_group(50, 3)

    # the head term was split: more rows, smaller biggest group
    assert max_salted < max_unsalted
    hot = unsalted.sort_values("doc_freq").iloc[-1]["term"]
    n_salts = (salted["term"] == hot).sum()
    assert n_salts > 1, "hot term should occupy multiple salt groups"
    # and totals are preserved (no postings lost)
    assert salted[salted["term"] == hot]["doc_freq"].sum() == \
        unsalted[unsalted["term"] == hot]["doc_freq"].iloc[0]


def test_global_wand_pruned_or(spark, tmp_path):
    """Block-max WAND on the term-partitioned layout (the north rule's
    pruned query path at the global scale): identical top-k to the
    exhaustive f32 scorer, majority of blocks skipped on an
    idf-asymmetric OR over a score-skewed corpus; salted hot terms
    contribute one cursor per salt row."""
    import glob

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from quickwit_spark.search import wand
    pdf = corpus_pandas(6000, seed=7, skew=True)
    cfg = IndexConfig(index_uid="gw", index_dir=str(tmp_path / "gw"))
    build_index_pandas(pdf, cfg, num_partitions=4)
    # low salt threshold so the head terms are salted (multi-cursor path)
    build_term_partitioned(spark, cfg.index_dir, num_term_partitions=4,
                           salt_df_threshold=2000, salt_group_segments=2)
    g = GlobalIndexSearcher(cfg.index_dir)
    from quickwit_spark.index.global_index import posting_dir_paths
    frames = [pq.read_table(p, columns=["term", "doc_freq"]).to_pandas()
              for p in glob.glob(os.path.join(
                  posting_dir_paths(cfg.index_dir)[0], "tpid=*"))]
    dfsum = pd.concat(frames).groupby("term")["doc_freq"].sum() \
        .sort_values()
    mid = dfsum[(dfsum >= 30) & (dfsum <= 120)].index[0]
    terms = [mid, *dfsum.index[-2:]]
    node = _bool(terms, "or")
    ex = g.search(node, k=10, fetch_fields=False)
    wand.STATS["blocks_decoded"] = wand.STATS["blocks_total"] = 0
    pr = g.search(node, k=10, fetch_fields=False, count_all=False)
    assert [h[:2] for h in _ranked(ex)] == [h[:2] for h in _ranked(pr)]
    assert np.array_equal(np.float32([h.score for h in ex.hits]),
                          np.float32([h.score for h in pr.hits]))
    assert pr.num_hits <= ex.num_hits
    skip = 1 - wand.STATS["blocks_decoded"] / wand.STATS["blocks_total"]
    assert skip >= 0.5, wand.STATS


def test_global_wand_pruned_and(spark, tmp_path):
    """Pruned AND on the global layout (skip-pointer intersection over
    salt-cursor groups): the fully-merged segment's exact count, hits
    and f32 scores, with fewer blocks decoded than total."""
    from quickwit_spark.search import wand
    pdf = corpus_pandas(3000, seed=7, skew=True)
    cfg = IndexConfig(index_uid="ga", index_dir=str(tmp_path / "ga"))
    build_index_pandas(pdf, cfg, num_partitions=4)
    merged_dir = str(tmp_path / "ga_merged")
    shutil.copytree(cfg.index_dir, merged_dir)
    run_merges(merged_dir, policy=StableLogMergePolicy(MergePolicyConfig(
        merge_factor=4, max_merge_factor=12, min_level_num_docs=10,
        split_num_docs_target=10_000_000)))
    assert len(IndexSearcher(merged_dir).manifest.segments()) == 1
    build_term_partitioned(spark, cfg.index_dir, num_term_partitions=4,
                           salt_df_threshold=1000, salt_group_segments=2)
    g = GlobalIndexSearcher(cfg.index_dir)
    import glob

    import pandas as pd
    import pyarrow.parquet as pq
    from quickwit_spark.index.global_index import posting_dir_paths
    frames = [pq.read_table(p, columns=["term", "doc_freq"]).to_pandas()
              for p in glob.glob(os.path.join(
                  posting_dir_paths(cfg.index_dir)[0], "tpid=*"))]
    dfsum = pd.concat(frames).groupby("term")["doc_freq"].sum() \
        .sort_values()
    rare = dfsum[(dfsum >= 5) & (dfsum <= 30)].index[0]
    terms = [rare, dfsum.index[-1]]  # rare + universal (salted) term
    node = _bool(terms, "and")
    ex = IndexSearcher(merged_dir).search(node, k=10, count_all=True)
    wand.STATS["blocks_decoded"] = wand.STATS["blocks_total"] = 0
    pr = g.search(node, k=10, count_all=False)
    assert pr.num_hits == ex.num_hits  # AND count stays exact
    assert [(h.doc["repo"], h.doc["path"]) for h in ex.hits] == \
        [(h.doc["repo"], h.doc["path"]) for h in pr.hits]
    assert np.array_equal(np.float32([h.score for h in ex.hits]),
                          np.float32([h.score for h in pr.hits]))
    assert wand.STATS["blocks_decoded"] < wand.STATS["blocks_total"]


def test_term_hash_vectorized_contract(dirs):
    """Routing-hash contract (quickwit-doc-mapper
    routing_expression/mod.rs:107-141): ONE deterministic hash shared by
    writers (stage-2 reducers stamping tpid) and readers (driver lookup).
    Asserts batch==scalar agreement, chunk/padding-width independence,
    golden pins (catch silent drift — stale layouts must be refused via
    layout_version, not produce wrong routing), and that every term stored
    under tpid=K actually hashes to K."""
    import glob

    import pandas as pd
    import pyarrow.parquet as pq

    from quickwit_spark.index.global_index import (
        _hash_terms_u64,
        _term_pid,
        term_partition,
    )
    probe = ["merge", "a\x00b", "ab", "", "\x01path\x00v", "x" * 255]
    for t in probe:
        assert int(_hash_terms_u64([t])[0]) == \
            int(_hash_terms_u64([t, "y" * 300])[0])  # padding-independent
        assert term_partition(t, 16) == int(_term_pid(
            pd.Series([t]), 16)[0])
    # golden pins: if these move, LAYOUT_VERSION must be bumped
    assert [int(x) for x in _hash_terms_u64(["foo", "bar", "\x01k\x00v"])] \
        == [3334522124964276173, 14113469487526901272,
            10257267855825416166]
    # chunk-boundary independence (chunked path vs scalar path)
    big = pd.Series([f"t{i}" for i in range(70_000)])
    assert int(_hash_terms_u64(big)[69_999]) == \
        int(_hash_terms_u64(["t69999"])[0])
    # stored layout agrees with the driver-side hash
    base_dir, _, _ = dirs
    from quickwit_spark.index.global_index import posting_dir_paths
    for p in glob.glob(os.path.join(posting_dir_paths(base_dir)[0],
                                    "tpid=*")):
        pid = int(p.rsplit("=", 1)[1])
        terms = pq.read_table(p, columns=["term"]).column(0).to_pylist()
        got = _term_pid(pd.Series(sorted(set(terms))), 4)
        assert (got == pid).all()


def test_row_cache_eviction_keeps_current_query_terms(dirs):
    """Regression (round-2 advice): when the row cache overflows while
    serving a query that mixes cached and new terms, eviction must not
    drop the current query's cache hits — the frame gather used to
    KeyError exactly there."""
    base_dir, _, _ = dirs
    gs = GlobalIndexSearcher(base_dir)
    gs._ROW_CACHE_MAX = 2  # instance override; force overflow fast
    r1 = gs._term_rows(["merge"])          # caches "merge"
    assert len(r1) >= 1
    # mixes the cached term with enough new ones to trip eviction
    r2 = gs._term_rows(["merge", "query", "index", "fetch"])
    assert set(r2["term"]) >= {"merge"}
    # subsequent all-new query still works after the evictions
    r3 = gs._term_rows(["value", "get"])
    assert len(r3) >= 1


def test_global_build_idempotent_and_staleness(spark, tmp_path):
    """Re-running the global build against an unchanged manifest is a
    no-op; publishing new segments marks the layout stale."""
    import time as _time
    pdf = corpus_pandas(200, seed=4)
    cfg = IndexConfig(index_uid="gi", index_dir=str(tmp_path / "gi"))
    build_index_pandas(pdf, cfg, num_partitions=2)
    gm1 = build_term_partitioned(spark, cfg.index_dir,
                                 num_term_partitions=2)
    g = GlobalIndexSearcher(cfg.index_dir)
    assert not g.stale
    t0 = _time.perf_counter()
    gm2 = build_term_partitioned(spark, cfg.index_dir,
                                 num_term_partitions=2)
    assert _time.perf_counter() - t0 < 1.0  # fast-path skip, no job
    assert gm2 == gm1
    # a new publish bumps the manifest version -> stale
    from quickwit_spark.index.manifest import Manifest
    m = Manifest.load(cfg.index_dir)
    m.publish([], checkpoint_delta={999: (None, "poke")})
    assert GlobalIndexSearcher(cfg.index_dir).stale
    gm3 = build_term_partitioned(spark, cfg.index_dir,
                                 num_term_partitions=2)
    assert gm3["source_manifest_version"] == \
        Manifest.load(cfg.index_dir).data["version"]
    assert not GlobalIndexSearcher(cfg.index_dir).stale


def test_global_single_term_fast_path(spark, dirs):
    """Single-term queries: exact metadata count + bound-ordered top-k,
    rank/score-identical to an exhaustive reference: the f64 twin
    scoring every posting of the fully-merged segment (same corpus
    statistics), ranked by (score desc, global doc desc)."""
    from quickwit_spark.index.global_index import GlobalIndexSearcher
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.search.engine import get_reader
    from quickwit_spark.testing.bm25_f64 import hit_scores_f64
    base_dir, merged_dir, _ = dirs
    g = GlobalIndexSearcher(base_dir)
    res = g.search(A.Term("content", "merge"), k=10, fetch_fields=False)
    cnt_fast = res.num_hits
    fast = [int(g.offsets[g.segment_ids.index(h.segment_id)]) + h.doc_id
            for h in res.hits]

    def keys(r):
        return zip(r.doc_column("repo"), r.doc_column("path"),
                   r.doc_column("commit"))
    global_doc = {}
    for sid, off in zip(g.segment_ids, g.offsets):
        r = get_reader(os.path.join(base_dir, "segments", sid))
        global_doc.update((key, int(off) + i)
                          for i, key in enumerate(keys(r)))
    [seg] = Manifest.load(merged_dir).segments()
    merged = get_reader(os.path.join(merged_dir, "segments",
                                     seg["segment_id"]))
    merged_global = np.array([global_doc[key] for key in keys(merged)])
    docids, _tfs, df = merged.term_postings("merge")
    hits = merged_global[docids]
    scores = hit_scores_f64(merged, merged_global, ["merge"], hits)
    top = np.lexsort((-hits, -scores))[:10]
    assert cnt_fast == df
    assert fast == list(hits[top])
    for a, b in zip([h.score for h in res.hits], scores[top]):
        assert abs(float(a) - float(b)) < 1e-3


def test_global_build_with_empty_segment(spark, tmp_path):
    """An index containing a valid EMPTY segment (blank-text chunk) must
    still build/refresh the global layout — stage 1 previously crashed
    on the zero-term termdict."""
    import pandas as pd
    import quickwit_spark as q
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.global_index import (
        GlobalIndexSearcher, build_term_partitioned)

    pdf = pd.DataFrame({
        "repo": ["a", "a", "b"], "path": ["f0", "f1", "f2"],
        "commit": ["c"] * 3, "lang": ["py"] * 3,
        # partition b is all-blank => empty segment
        "content": ["merge sort impl", "quick merge here", ""],
    })
    cfg = IndexConfig(index_uid="ge", index_dir=str(tmp_path / "ge"),
                      sha_col=None, partition_cols=("repo",))
    q.build_index_pandas(pdf, cfg, num_partitions=2)
    build_term_partitioned(spark, cfg.index_dir, num_term_partitions=4)
    g = GlobalIndexSearcher(cfg.index_dir)
    assert g.num_docs == 3
    res = g.search(A.Term("content", "merge"), k=5)
    assert res.num_hits == 2 and len(res.hits) == 2
