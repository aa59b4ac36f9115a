"""End-to-end rank-identity gate (FIXTURES.md F5): the engine's top-k
(score f32, segment_id, doc_id) must equal the pure-Python scalar oracle,
including tie order, on a deterministic query set spanning the df spectrum.
Also checks num_hits and the per-row sha256 invariant."""

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher
from tests.oracle import (OracleEngine, OracleSegment, prune_segments,
                          scalar_analyze)

N_DOCS = 240


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("idx")
    pdf = corpus_pandas(N_DOCS, seed=42)
    cfg = IndexConfig(index_uid="e2e", index_dir=str(tmp / "e2e"))
    manifest = build_index_pandas(pdf, cfg, num_partitions=4)
    return pdf, cfg, manifest


@pytest.fixture(scope="module")
def oracle(built):
    pdf, cfg, manifest = built
    key = pdf.set_index(list(cfg.key_cols))
    segs = []
    for seg in sorted(manifest.segments(), key=lambda s: s["segment_id"]):
        seg_dir = os.path.join(cfg.index_dir, "segments", seg["segment_id"])
        docs_t = pq.read_table(os.path.join(seg_dir, "docs.parquet")
                               ).to_pandas()
        docs = []
        for r in docs_t.itertuples():
            src = key.loc[(r.repo, r.path, r.commit)]
            docs.append({"repo": r.repo, "path": r.path, "commit": r.commit,
                         "lang": r.lang, "content": src["content"],
                         "sha256": src["sha256"]})
        segs.append(OracleSegment(seg["segment_id"], docs, "content",
                                  cfg.tokenizer))
    return OracleEngine(segs)


@pytest.fixture(scope="module")
def query_set(oracle):
    """Deterministic query set across the term-df spectrum (F5)."""
    df_counts = {}
    for seg in oracle.segments:
        for t, pl in seg.postings.items():
            df_counts[t] = df_counts.get(t, 0) + len(pl)
    terms = sorted(df_counts, key=lambda t: (-df_counts[t], t))
    head = terms[:10]
    mid = terms[len(terms) // 2: len(terms) // 2 + 10]
    tail = terms[-10:]
    queries = []
    for t in head + mid + tail:
        queries.append(A.FullText("content", t))
    for a, b in zip(head, mid):
        queries.append(A.Bool(must=(A.Term("content", a),
                                    A.Term("content", b))))
    for a, b in zip(head, tail):
        queries.append(A.Bool(should=(A.Term("content", a),
                                      A.Term("content", b))))
    for a, b, c in zip(head[:5], mid[:5], tail[:5]):
        queries.append(A.Bool(must=(
            A.Term("content", a),
            A.Bool(should=(A.Term("content", b), A.Term("content", c))))))
    for t, lang in zip(head[:6], ["python", "rust", "java", "go", "js", "c"]):
        queries.append(A.Bool(must=(A.Term("content", t),),
                              filter=(A.Term("lang", lang),)))
    for t in head[:3]:
        queries.append(A.Bool(must=(A.Term("content", t),),
                              must_not=(A.Term("content", tail[0]),)))
    return queries


@pytest.mark.parametrize("k", [10, 100])
def test_rank_identity(built, oracle, query_set, k):
    pdf, cfg, manifest = built
    searcher = IndexSearcher(cfg.index_dir)
    for qi, node in enumerate(query_set):
        want_hits, want = oracle.search(node, k=k)
        res = searcher.search(node, k=k, fetch_fields=False)
        got = [(float(np.float32(h.score)), h.segment_id, h.doc_id)
               for h in res.hits]
        want_cmp = [(float(np.float32(s)), sid, d) for s, sid, d in want]
        assert res.num_hits == want_hits, f"query {qi}: num_hits"
        assert got == want_cmp, f"query {qi}: {node}"


def test_sha256_invariant(built):
    pdf, cfg, manifest = built
    searcher = IndexSearcher(cfg.index_dir)
    src = pdf.set_index(list(cfg.key_cols))
    res = searcher.search(A.MatchAll(), k=50)
    assert res.hits
    for h in res.hits:
        row = src.loc[(h.doc["repo"], h.doc["path"], h.doc["commit"])]
        assert hashlib.sha256(row["content"].encode()).hexdigest() \
            == h.doc["sha256"]


def test_docid_assignment_deterministic(built, tmp_path):
    """Re-building from a shuffled input yields byte-identical segments."""
    pdf, cfg, manifest = built
    shuffled = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    cfg2 = IndexConfig(index_uid="e2e", index_dir=str(tmp_path / "e2e2"))
    m2 = build_index_pandas(shuffled, cfg2, num_partitions=4)
    ids1 = sorted(s["segment_id"] for s in manifest.segments())
    ids2 = sorted(s["segment_id"] for s in m2.segments())
    assert ids1 == ids2
    for sid in ids1:
        for fname in ("postings.parquet", "termdict.parquet", "docs.parquet"):
            a = open(os.path.join(cfg.index_dir, "segments", sid, fname),
                     "rb").read()
            b = open(os.path.join(cfg2.index_dir, "segments", sid, fname),
                     "rb").read()
            assert a == b, (sid, fname)


def test_count_and_list_terms(built):
    pdf, cfg, manifest = built
    searcher = IndexSearcher(cfg.index_dir)
    assert searcher.count("*") == N_DOCS
    terms = searcher.list_terms(start="a", end="c", limit=50)
    assert terms == sorted(terms)
    assert all("a" <= t < "c" for t in terms)


def test_minimum_should_match_with_must(built, oracle):
    """Explicit minimum_should_match is enforced even alongside must
    clauses (ES/bool_query.rs semantics); None keeps the round-1
    default (should only boosts)."""
    searcher = IndexSearcher(built[1].index_dir)
    df_counts = {}
    for seg in oracle.segments:
        for t, pl in seg.postings.items():
            df_counts[t] = df_counts.get(t, 0) + len(pl)
    terms = sorted(df_counts, key=lambda t: (-df_counts[t], t))
    a, b, c = terms[0], terms[1], terms[2]
    base = A.Bool(must=(A.Term("content", a),),
                  should=(A.Term("content", b), A.Term("content", c)))
    gated1 = A.Bool(must=base.must, should=base.should,
                    minimum_should_match=1)
    gated2 = A.Bool(must=base.must, should=base.should,
                    minimum_should_match=2)
    n_base = searcher.search(base, k=1, fetch_fields=False).num_hits
    n_g1 = searcher.search(gated1, k=1, fetch_fields=False).num_hits
    n_g2 = searcher.search(gated2, k=1, fetch_fields=False).num_hits
    assert n_base >= n_g1 >= n_g2
    # oracle agreement incl. scores (scores of gated docs = boosted sums)
    for node in (base, gated1, gated2):
        want_hits, want = oracle.search(node, k=20)
        res = searcher.search(node, k=20, fetch_fields=False)
        got = [(float(np.float32(h.score)), h.segment_id, h.doc_id)
               for h in res.hits]
        assert res.num_hits == want_hits, node
        assert got == [(float(np.float32(s)), sid, d)
                       for s, sid, d in want], node
    # hand-check: gated2 == docs matching a AND b AND c
    inter = searcher.search(A.Bool(must=(A.Term("content", a),
                                         A.Term("content", b),
                                         A.Term("content", c))),
                            k=1, fetch_fields=False).num_hits
    assert n_g2 == inter


def test_phrase_prefix_requires_adjacency(built):
    """`c:"x y"*` is a prefix phrase; `c:"x y" *` is phrase AND match-all
    (parser span tracking, query-language.md grammar)."""
    from quickwit_spark.search.parser import parse_query
    adj = parse_query('content:"quick sort"*')
    assert isinstance(adj, A.PhrasePrefix)
    spaced = parse_query('content:"quick sort" *')
    assert isinstance(spaced, A.Bool)
    assert any(isinstance(n, A.MatchAll) for n in spaced.must)
    assert any(isinstance(n, A.Phrase) for n in spaced.must)


def test_range_and_termset_and_wildcard(built):
    pdf, cfg, manifest = built
    searcher = IndexSearcher(cfg.index_dir)
    # attribute termset
    res = searcher.search(A.TermSet("lang", ("python", "rust")), k=500,
                          fetch_fields=True)
    langs = {h.doc["lang"] for h in res.hits}
    assert langs <= {"python", "rust"}
    want = int((pdf["lang"].isin(["python", "rust"])).sum())
    assert res.num_hits == want
    # wildcard over the term dict
    res2 = searcher.search(A.Wildcard("content", "merge*"), k=500,
                           fetch_fields=False)
    assert res2.num_hits > 0


def test_prune_index_equivalent_to_loop(built):
    """The vectorized PruneIndex must keep exactly the segments the
    reference row-walk keeps, across tag/range/mixed constraints."""
    import random
    from quickwit_spark.search.engine import PruneIndex
    rng = random.Random(0)
    segs = []
    for i in range(3000):
        seg = {"segment_id": f"s{i}", "num_docs": 100}
        seg["tags"] = {"lang": (rng.sample(
            ["python", "rust", "go", "js", "c"], rng.randrange(1, 4))
            if rng.random() < 0.9 else None)}
        if rng.random() < 0.95:
            lo = rng.randrange(0, 10**6)
            seg["col_stats"] = {"n": [lo, lo + rng.randrange(1, 1000)]}
        segs.append(seg)
    pi = PruneIndex(segs, ["lang"])
    queries = [
        A.Bool(filter=(A.Term("lang", "python"),)),
        A.Bool(filter=(A.Range("n", gte=500_000),)),
        A.Bool(filter=(A.Term("lang", "rust"),
                       A.Range("n", gte=100_000, lt=200_000))),
        A.Bool(filter=(A.TermSet("lang", ("go", "js")),)),
        A.Term("content", "x"),
        A.Bool(filter=(A.Range("n", gt=999_000),)),
        A.Bool(filter=(A.Range("n", lte=123_456),)),
        A.Bool(filter=(A.Range("n", lt=1),)),
    ]
    for q in queries:
        a = [s["segment_id"] for s in prune_segments(segs, q, ["lang"])]
        b = [s["segment_id"] for s in pi.prune(q, ["lang"])]
        assert a == b, q


def test_termdict_prefix_pushdown_paths(built):
    """The wildcard/regex literal-prefix pushdown (wildcard_query.rs
    automaton-over-term-dict analog): the cached binary-search slice and
    the cold parquet-range-filtered read must both return exactly what
    the unpruned predicate scan returns."""
    from quickwit_spark.search.engine import IndexSearcher, get_reader
    _pdf, cfg, manifest = built
    searcher = IndexSearcher(cfg.index_dir)
    seg = sorted(manifest.segments(), key=lambda s: s["segment_id"])[0]
    rd = get_reader(os.path.join(cfg.index_dir, "segments",
                                 seg["segment_id"]), cfg.tokenizer)
    full = rd.scan_terms(lambda s: s.str.startswith("mer"))
    pruned = rd.scan_terms(lambda s: s.str.startswith("mer"),
                           prefix="mer")
    assert full["term"].tolist() == pruned["term"].tolist()
    assert len(full) > 0
    # cold path: force the parquet-filtered read
    cached = rd._cached_termdict
    try:
        rd._cached_termdict = lambda: None
        cold = rd.scan_terms(lambda s: s.str.startswith("mer"),
                             prefix="mer")
        assert cold["term"].tolist() == full["term"].tolist()
    finally:
        rd._cached_termdict = cached
    # engine-level equivalence: wildcard and regex with literal prefixes
    from quickwit_spark.search import ast as A
    for node in (A.Wildcard("content", "mer*e"),
                 A.Regex("content", "mer.*e"),
                 A.Wildcard("content", "merge")):
        res = searcher.search(node, k=500)
        naive = searcher.search(A.Wildcard("content", "*"), k=10**6)
        import re as _re
        pat = node.pattern if isinstance(node, A.Regex) else \
            "".join(".*" if c == "*" else "." if c == "?" else
                    _re.escape(c) for c in node.pattern)
        assert res.num_hits <= naive.num_hits
        assert res.num_hits > 0


# ---------------------------------------------------------------------------
# scan_terms pushdown soundness (round-3 review regressions)
# ---------------------------------------------------------------------------

def test_regex_toplevel_alternation_no_prefix_pushdown(tmp_path):
    # "foo|bar": a naive literal-prefix pushdown of "foo" would slice the
    # termdict to foo* and silently drop every "bar" match
    pdf = pd.DataFrame({
        "repo": ["r"] * 3, "path": ["a", "b", "c"], "commit": ["c"] * 3,
        "lang": ["py"] * 3,
        "content": ["foothing here", "barthing here", "neither one"],
    })
    cfg = IndexConfig(index_uid="rx", index_dir=str(tmp_path / "rx"))
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    hits = s.search(A.Regex("content", "foothing|barthing"), k=10).hits
    assert sorted(h.doc["path"] for h in hits) == ["a", "b"]


def test_wildcard_prefix_bound_includes_astral_terms(tmp_path):
    # a term with a supplementary-plane char sorts ABOVE "ab￿", so
    # the old upper bound dropped it from the prefix slice
    astral = "ab\U00020000x"
    pdf = pd.DataFrame({
        "repo": ["r"] * 2, "path": ["a", "b"], "commit": ["c"] * 2,
        "lang": ["py"] * 2,
        "content": [f"{astral} stuff", "abplain stuff"],
    })
    cfg = IndexConfig(index_uid="as", index_dir=str(tmp_path / "as"))
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    hits = s.search(A.Wildcard("content", "ab*"), k=10).hits
    assert sorted(h.doc["path"] for h in hits) == ["a", "b"]
    # cold path (no cached termdict) takes the parquet range filter
    from quickwit_spark.search import engine as eng
    old = eng.SegmentReader.CACHE_FILE_BYTES
    eng.clear_leaf_cache()
    try:
        eng.SegmentReader.CACHE_FILE_BYTES = 0
        eng._READER_CACHE.clear()
        s2 = IndexSearcher(cfg.index_dir)
        hits2 = s2.search(A.Wildcard("content", "ab*"), k=10).hits
        assert sorted(h.doc["path"] for h in hits2) == ["a", "b"]
    finally:
        eng.SegmentReader.CACHE_FILE_BYTES = old
        eng._READER_CACHE.clear()


def test_prefix_upper_helper():
    from quickwit_spark.search.engine import _prefix_upper
    assert _prefix_upper("ab") == "ac"
    assert _prefix_upper("a\U0010FFFF") == "b"
    assert _prefix_upper("\U0010FFFF") is None
    # never a lone surrogate (unencodable in a parquet filter)
    assert _prefix_upper("\ud7ff") == "\ue000"


def test_must_not_only_bool_matches_all_minus(built, oracle):
    """A bool with ONLY must_not clauses carries an implicit match-all
    (tantivy_query_ast.rs:310-321) — previously it matched nothing."""
    pdf, cfg, manifest = built
    s = IndexSearcher(cfg.index_dir)
    node = A.Bool(must_not=(A.Term("lang", "python"),))
    res = s.search(node, k=10)
    n_not_python = int((pdf["lang"] != "python").sum())
    assert res.num_hits == n_not_python > 0
    assert all(h.doc["lang"] != "python" for h in res.hits)
    # engine == scalar oracle on the same node
    ocount = sum(len(seg.eval(node)) for seg in oracle.segments)
    assert ocount == n_not_python
    # the parser's pure negation goes through the same path
    res2 = s.search('-lang:python', k=5)
    assert res2.num_hits == n_not_python
    # explicit msm>0 with no shoulds: reference matches nothing
    none = s.search(A.Bool(must_not=(A.Term("lang", "python"),),
                           minimum_should_match=1), k=5)
    assert none.num_hits == 0


def test_reference_negative_search_scenario(tmp_path):
    """qw_search_api/0002_negative_search.yaml: '-a AND -b', 'NOT a AND
    NOT b', and the mixed forms all mean match-all minus both — the
    reference pins all four spellings to the same hit count."""
    pdf = pd.DataFrame({
        "repo": ["r"] * 6, "path": [f"f{i}" for i in range(6)],
        "commit": ["c"] * 6,
        "lang": ["a", "a", "b", "b", "c", "c"],
        "content": [f"doc {i}" for i in range(6)],
    })
    cfg = IndexConfig(index_uid="neg", index_dir=str(tmp_path / "neg"),
                      sha_col=None)
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    for qs in ["-lang:a AND -lang:b",
               "NOT lang:a AND NOT lang:b",
               "NOT lang:a AND -lang:b",
               "-lang:a AND NOT lang:b"]:
        assert s.search(qs, k=10).num_hits == 2, qs
        assert all(h.doc["lang"] == "c" for h in s.search(qs, k=10).hits)


def test_bool_scores_f64_rejects_mismatched_boosts(built):
    """A boosts list shorter than terms would silently zip-truncate the
    terms — dropping a term's score from every hit, not just changing
    its weight. The f64 oracle twin must fail loudly instead."""
    import numpy as np

    from quickwit_spark.search.engine import get_reader
    from quickwit_spark.testing.bm25_f64 import hit_scores_f64

    pdf, cfg, manifest = built
    seg = manifest.segments()[0]
    reader = get_reader(
        os.path.join(cfg.index_dir, "segments", seg["segment_id"]),
        cfg.tokenizer)
    keys = np.arange(reader.num_docs)
    with pytest.raises(ValueError, match="boosts length"):
        hit_scores_f64(reader, keys, ["scan", "slow"], keys, boosts=[2.0])
    ok = hit_scores_f64(reader, keys, ["scan", "slow"], keys,
                        boosts=[2.0, 1.0])
    assert ok.shape == (reader.num_docs,)


def test_filter_plus_should_scores_zero_base(built):
    """The reference wraps filter clauses in ConstScoreQuery(q, 0.0)
    (tantivy_query_ast.rs:367): a doc matched only by filters scores
    0.0. Previously the base was filled with ones, shifting every
    filter+should score by +1.0 and letting filter-only docs outrank
    genuine sub-1.0 BM25 hits when the bool was nested in a should."""
    from quickwit_spark.search.engine import get_reader

    pdf, cfg, manifest = built
    seg = manifest.segments()[0]
    reader = get_reader(
        os.path.join(cfg.index_dir, "segments", seg["segment_id"]),
        cfg.tokenizer)
    lang = pdf["lang"].iloc[0]
    term = A.Term("content", "merge")
    flt = A.Term("lang", str(lang))

    pure = reader.eval(term, "content", scoring=True)
    fs = reader.eval(A.Bool(filter=(flt,), should=(term,)),
                     "content", scoring=True)
    pure_by_id = dict(zip(pure.docids.tolist(), pure.scores.tolist()))
    flt_ids = set(reader.eval(flt, "content",
                              scoring=False).docids.tolist())
    assert set(fs.docids.tolist()) == flt_ids  # should stays optional
    for d, s in zip(fs.docids.tolist(), fs.scores.tolist()):
        want = pure_by_id.get(d, 0.0)  # filter base contributes 0.0
        assert s == pytest.approx(want, abs=1e-6), d

    # filter-only bool: every hit scores exactly 0.0 (not 1.0)
    fo = reader.eval(A.Bool(filter=(flt,)), "content", scoring=True)
    assert set(fo.docids.tolist()) == flt_ids
    assert fo.scores is not None and float(np.abs(fo.scores).max()) == 0.0

    # nested: a filter-only bool inside a should must not add +1.0
    nested = reader.eval(
        A.Bool(should=(A.Bool(filter=(flt,)), term)),
        "content", scoring=True)
    for d, s in zip(nested.docids.tolist(), nested.scores.tolist()):
        assert s == pytest.approx(pure_by_id.get(d, 0.0), abs=1e-6), d


def test_k_zero_count_paths_do_not_crash(built):
    """k=0 with count_all semantics: the 'how many match' shape. The
    two-phase seed (iloc[need-1]) and the sort early-exit (iloc[k-1])
    previously indexed an empty frame."""
    pdf, cfg, manifest = built
    s = IndexSearcher(cfg.index_dir)
    r = s.search(A.Term("content", "merge"), k=0, count_all=False,
                 fetch_fields=False)
    assert r.hits == []
    r2 = s.sort_search(A.Term("content", "merge"), k=0,
                       sort_by=(("fieldnorm", "desc"),), count_all=False,
                       fetch_fields=False)
    assert r2.hits == []
    assert r2.num_hits >= 0


def test_postings_rows_prunes_columns_and_dedups(built):
    """Warm (cached-table) postings_rows must honor the columns request
    (a wildcard union asking for docid_blob alone shouldn't convert the
    other per-block list columns) and dedup ids like the cold path's
    `in` filter."""
    from quickwit_spark.search.engine import SegmentReader

    pdf, cfg, manifest = built
    seg = manifest.segments()[0]
    rd = SegmentReader(
        os.path.join(cfg.index_dir, "segments", seg["segment_id"]),
        cfg.tokenizer)
    warm = rd.postings_rows([1, 0, 1], columns=["docid_blob"])
    assert list(warm.columns) == ["docid_blob"]
    assert len(warm) == 2  # deduped
    cold = pq.read_table(
        os.path.join(rd.seg_dir, "postings.parquet"),
        filters=[("term_id", "in", [0, 1])],
        columns=["docid_blob"]).to_pandas()
    assert list(cold["docid_blob"]) == list(warm["docid_blob"])


def test_reader_budget_counts_live_pinned_bytes(built, monkeypatch):
    """The byte budget bounds what readers ACTUALLY pin (decompressed
    structures, touched columns), not on-disk sizes — and re-enforces
    on lazy growth, not only at insertion."""
    import quickwit_spark.search.engine as eng

    pdf, cfg, manifest = built
    segs = manifest.segments()
    assert len(segs) >= 2
    monkeypatch.setattr(eng, "_READER_CACHE", type(eng._READER_CACHE)())
    monkeypatch.setattr(eng, "READER_CACHE_BUDGET_BYTES", 50_000)
    r0 = eng.get_reader(os.path.join(cfg.index_dir, "segments",
                                     segs[0]["segment_id"]),
                        cfg.tokenizer)
    assert r0.cache_footprint == 0  # nothing touched yet
    r0.fieldnorm_ids()
    grew = r0.cache_footprint
    assert grew >= r0._fn_ids.nbytes
    r0.doc_column("lang")
    assert r0.cache_footprint > grew  # object col deep-counted
    # grow r0 past the tiny budget, then insert a second reader: the
    # oldest (r0) must be evicted by the live-size accounting
    r0._cached_termdict()
    eng.get_reader(os.path.join(cfg.index_dir, "segments",
                                segs[1]["segment_id"]), cfg.tokenizer)
    assert len(eng._READER_CACHE) == 1


def test_reader_budget_check_survives_a_concurrent_reader_open(
        tmp_path, monkeypatch):
    """The budget check reads each reader's footprint while another
    server thread may open a reader. A footprint that opens one itself
    stands in for that thread, deterministically: the check must not
    iterate the live cache (OrderedDict mutated during iteration)."""
    import quickwit_spark.search.engine as eng

    dirs = []
    for name in ("a", "b", "c"):
        d = tmp_path / name
        d.mkdir()
        (d / "meta.json").write_text(json.dumps({"num_docs": 0}))
        dirs.append(str(d))

    class OpensAReader(eng.SegmentReader):
        opened = False

        @property
        def cache_footprint(self):
            if not OpensAReader.opened:
                OpensAReader.opened = True
                eng.get_reader(dirs[2])
            return 0

    monkeypatch.setattr(eng, "_READER_CACHE", type(eng._READER_CACHE)())
    eng._READER_CACHE[dirs[0]] = OpensAReader(dirs[0])
    eng.get_reader(dirs[1])
    assert OpensAReader.opened
    assert list(eng._READER_CACHE) == dirs


def test_concurrent_cold_searches_pin_each_structure_once(
        tmp_path, monkeypatch):
    """Four threads searching one cold segment at once share its term
    dictionary, postings table and fieldnorms: each is decoded and
    pinned once, so the reader's footprint equals one cold search's."""
    import threading

    import quickwit_spark.search.engine as eng

    cfg = IndexConfig(index_uid="cold", index_dir=str(tmp_path / "cold"))
    build_index_pandas(corpus_pandas(3000, seed=5), cfg, num_partitions=1)
    # exact-count OR: term dict, postings and fieldnorms, no WAND cursors
    node = A.Bool(should=(A.Term("content", "merge"),
                          A.Term("content", "query")))

    def cold_footprint(n_threads) -> tuple[int, list]:
        monkeypatch.setattr(eng, "_READER_CACHE", type(eng._READER_CACHE)())
        eng.clear_leaf_cache()
        s = IndexSearcher(cfg.index_dir)
        barrier = threading.Barrier(n_threads, timeout=60)
        out = [None] * n_threads

        def run(i):
            barrier.wait()
            res = s.search(node, k=10, fetch_fields=False)
            out[i] = [(h.segment_id, h.doc_id, h.score) for h in res.hits]

        ts = [threading.Thread(target=run, args=(i,))
              for i in range(n_threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
            assert not t.is_alive()
        (reader,) = eng._READER_CACHE.values()
        return reader.cache_footprint, out

    single, (hits,) = cold_footprint(1)
    assert hits and single > 0
    threaded, outs = cold_footprint(4)
    assert outs == [hits] * 4
    assert threaded == single


def test_claim_router_refuses_mixed_resume(built, tmp_path):
    """Partition checkpoints are only resumable under the SAME routing
    hash + partition count; a mixed resume would silently duplicate and
    drop documents, so it must refuse loudly."""
    from quickwit_spark.index.manifest import Manifest

    pdf, cfg, manifest = built  # built with num_partitions=4 (pandas)
    with pytest.raises(ValueError, match="routed with"):
        build_index_pandas(pdf, cfg, num_partitions=8)
    with pytest.raises(ValueError, match="routed with"):
        Manifest.load(cfg.index_dir).claim_router("spark-xxhash64/p4")
    # same router re-claims fine (resume path)
    Manifest.load(cfg.index_dir).claim_router("pandas-sha256/p4")


def test_rerun_on_completed_legacy_index_is_noop(tmp_path):
    """A COMPLETE index built before the router key existed must keep
    its old contract: re-running the builder is an idempotent no-op,
    not a hard failure (nothing is resumed, so the routing scheme is
    irrelevant). A PARTIAL legacy index must still refuse."""
    from quickwit_spark.index.manifest import Manifest

    pdf = corpus_pandas(40, seed=7)
    cfg = IndexConfig(index_uid="legacy", index_dir=str(tmp_path / "lg"))
    m = build_index_pandas(pdf, cfg, num_partitions=2)
    # simulate a pre-router-era manifest
    del m.data["router"]
    m.data["version"] += 1
    m._write()

    m2 = build_index_pandas(pdf, cfg, num_partitions=2)  # no-op rerun
    assert "router" not in m2.data
    assert {s["segment_id"] for s in m2.segments()} == \
        {s["segment_id"] for s in m.segments()}

    # partial legacy index: resume is unprovable -> loud refusal
    del m2.data["checkpoints"]["1"]
    m2.data["version"] += 1
    m2._write()
    with pytest.raises(ValueError, match="no recorded router"):
        build_index_pandas(pdf, cfg, num_partitions=2)


def test_stream_checkpoint_keys_namespaced_from_builder(tmp_path):
    """ingest_batch checkpoint keys are namespaced ('stream-<p>'), so
    they never collide with the builder's integer partition keys: a
    builder over a previously-streamed index builds normally instead of
    mistaking batch-0 stream keys 0..N-1 for its own checkpoints, and
    legacy bare-integer stream keys (pre-namespace indexes) are still
    recognized as replays."""
    import hashlib as _h

    from quickwit_spark.index.manifest import (CheckpointConflict,
                                               Manifest)
    from quickwit_spark.streaming.incremental import \
        _cleanup_replayed_segments  # noqa: F401  (import sanity)

    cfg = IndexConfig(index_uid="st", index_dir=str(tmp_path / "st"))
    m = Manifest.load_or_create(cfg.index_dir, cfg.index_uid,
                                cfg.manifest_config())
    # modern streaming index: namespaced keys only
    sig = _h.sha256(b"").hexdigest()[:12]
    m.publish([], checkpoint_delta={
        f"stream-{p}": (None, f"batch=0;docs=0;ids={sig}")
        for p in range(4)})
    assert m.published_partitions() == set()  # invisible to builders

    # the builder proceeds normally: no integer keys to mis-resume
    pdf = corpus_pandas(20, seed=3)
    m2 = build_index_pandas(pdf, cfg, num_partitions=2)
    assert m2.data["router"] == "pandas-sha256/p2"
    assert m2.published_partitions() == {0, 1}
