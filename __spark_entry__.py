"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the engine's operator surface (SURVEY.md §2) over the
driver's test tables; oracle_sql() holds the equivalent ANSI SQL for DuckDB.

BM25 rows take their hits, and the hits' order, from the production f32
engine (tokenize -> termdict -> posting decode -> BM25 -> top-k -> root
merge): IndexSearcher.search on the one-segment index, and the global
term-partitioned layout on the three-segment one. DuckDB has no f32 log,
so each row reports its hits with the f64 value of the same formula over
the same quantized fieldnorms (quickwit_spark/testing/bm25_f64.py); the
SQL reproduces that formula exactly, so value hashes match.
"""

from __future__ import annotations

import os
import re
import tempfile
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.bm25 import FIELD_NORMS_TABLE
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher, SegmentReader
from quickwit_spark.testing.bm25_f64 import hit_scores_f64

# ---------------------------------------------------------------------------
# documents-table index (built once per sf_dir, cached on disk)
# ---------------------------------------------------------------------------

_READERS: dict[str, tuple[SegmentReader, np.ndarray, IndexSearcher]] = {}


def _cache_tag(sf_dir: str) -> str:
    """On-disk cache key: path + source fingerprint, so a regenerated
    documents.parquet never reuses a stale index."""
    tag = re.sub(r"\W+", "_", os.path.abspath(sf_dir)).strip("_")
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        tag += f"_{int(st.st_mtime)}_{st.st_size}"
    except OSError:
        pass
    return tag


def _doc_index(sf_dir: str):
    """Build (or reuse) the inverted index over the documents table."""
    if sf_dir in _READERS:
        return _READERS[sf_dir]
    tag = _cache_tag(sf_dir)
    index_dir = os.path.join(tempfile.gettempdir(), "qw_entry_idx_pos", tag)
    cfg = IndexConfig(
        index_uid=f"docs-{tag}", index_dir=index_dir,
        key_cols=("doc_id",), text_col="text", tokenizer="default",
        tag_cols=("lang",), store_cols=("source", "n_chars"), sha_col=None,
        record="position")
    if not os.path.exists(Manifest.path(index_dir)):
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        build_index_pandas(pdf, cfg, num_partitions=1)
    manifest = Manifest.load(index_dir)
    segs = manifest.segments()
    assert len(segs) == 1
    seg_dir = os.path.join(index_dir, "segments", segs[0]["segment_id"])
    reader = SegmentReader(seg_dir, tokenizer="default")
    doc_map = reader.doc_column("doc_id").astype(np.int64)
    searcher = IndexSearcher(index_dir)
    _READERS[sf_dir] = (reader, doc_map, searcher)
    return _READERS[sf_dir]


def _spark_df(spark: SparkSession, pdf: pd.DataFrame, schema: str) -> DataFrame:
    return spark.createDataFrame(pdf, schema=schema)


_GLOBAL_IDX: dict[str, object] = {}


def _doc_multiseg_dir(sf_dir: str) -> str:
    """3-segment documents index (built once per sf_dir, cached on disk)
    under the global term-partitioned layout."""
    tag = _cache_tag(sf_dir)
    index_dir = os.path.join(tempfile.gettempdir(), "qw_entry_gidx", tag)
    cfg = IndexConfig(
        index_uid=f"gdocs-{tag}", index_dir=index_dir,
        key_cols=("doc_id",), text_col="text", tokenizer="default",
        tag_cols=("lang",), store_cols=("n_chars",), sha_col=None)
    if not os.path.exists(Manifest.path(index_dir)):
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        build_index_pandas(pdf, cfg, num_partitions=3)
    return index_dir


def _doc_global_index(spark, sf_dir: str):
    """Global term-partitioned layout over the 3-segment index."""
    if sf_dir in _GLOBAL_IDX:
        return _GLOBAL_IDX[sf_dir]
    from quickwit_spark.index.global_index import (
        GLOBAL_DIR, GlobalIndexSearcher, build_term_partitioned)
    index_dir = _doc_multiseg_dir(sf_dir)
    # always route through the builder: it is idempotent (skips when the
    # manifest version, partitioning params AND layout_version all match)
    # and transparently rebuilds a layout left behind by an older routing
    # hash instead of handing the searcher a stale one
    build_term_partitioned(spark, index_dir, num_term_partitions=4)
    g = GlobalIndexSearcher(index_dir)
    _GLOBAL_IDX[sf_dir] = g
    return g


_IP_IDX: dict[str, IndexSearcher] = {}


def _ip_index(sf_dir: str) -> IndexSearcher:
    """ip-typed fast-field index over documents: the ip column is
    synthesized arithmetically from doc_id, so IP-range queries have a
    pure-arithmetic SQL oracle (numeric IP order is exactly what the
    oracle computes — a lexical-string implementation would diverge)."""
    if sf_dir in _IP_IDX:
        return _IP_IDX[sf_dir]
    tag = _cache_tag(sf_dir)
    index_dir = os.path.join(tempfile.gettempdir(), "qw_entry_ip", tag)
    cfg = IndexConfig(
        index_uid=f"ip-{tag}", index_dir=index_dir,
        key_cols=("doc_id",), text_col="text", tokenizer="default",
        tag_cols=(), sha_col=None, store_cols=("client_ip",),
        field_types={"client_ip": "ip"})
    if not os.path.exists(Manifest.path(index_dir)):
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        d = pdf["doc_id"].to_numpy(np.int64)
        pdf["client_ip"] = [
            f"{10 + (i * 3) % 160}.{(i * 7) % 256}.{(i * 13) % 256}"
            f".{i % 256}" for i in d]
        build_index_pandas(pdf, cfg, num_partitions=2)
    s = IndexSearcher(index_dir)
    _IP_IDX[sf_dir] = s
    return s


_DYN_IDX: dict[str, IndexSearcher] = {}


def _dyn_index(sf_dir: str) -> IndexSearcher:
    """Dynamic-mapping index over documents: the unmapped-JSON column is
    synthesized from table columns, so dynamic-path queries have literal
    SQL oracles on those columns."""
    if sf_dir in _DYN_IDX:
        return _DYN_IDX[sf_dir]
    import json as _json
    tag = _cache_tag(sf_dir)
    # v2: cache namespace versioned with the dynamic-term encoding (an
    # mtime-keyed cache would otherwise survive an encoding change)
    index_dir = os.path.join(tempfile.gettempdir(), "qw_entry_dyn_v2", tag)
    cfg = IndexConfig(
        index_uid=f"dyn-{tag}", index_dir=index_dir,
        key_cols=("doc_id",), text_col="text", tokenizer="default",
        tag_cols=(), sha_col=None, dynamic_col="extra")
    if not os.path.exists(Manifest.path(index_dir)):
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        pdf["extra"] = [
            _json.dumps({"meta": {"lang": l, "n": int(n)}})
            for l, n in zip(pdf["lang"], pdf["n_chars"])]
        build_index_pandas(pdf, cfg, num_partitions=2)
    s = IndexSearcher(index_dir)
    _DYN_IDX[sf_dir] = s
    return s


_MAP_IDX: dict[str, IndexSearcher] = {}


def _mapping_update_index(spark, sf_dir: str) -> IndexSearcher:
    """Two-GENERATION index (doc-mapping update flow, split_metadata.rs
    doc_mapping_uid analog): gen v1 = even doc_ids under the `default`
    analyzer (lowercase alnum split); then update_index bumps the rev to
    v2 with the case-preserving `whitespace` analyzer and the odd half
    is ingested with UPPERCASED text through the streaming path. Segments
    keep the rev they were built under; queries compile PER SEGMENT REV,
    so the two halves see different analyzers — exactly what the oracle
    SQL encodes per doc_id parity."""
    if sf_dir in _MAP_IDX:
        return _MAP_IDX[sf_dir]
    from quickwit_spark.index.builder import update_index
    from quickwit_spark.streaming.incremental import ingest_batch
    tag = _cache_tag(sf_dir)
    index_dir = os.path.join(tempfile.gettempdir(), "qw_entry_maprev", tag)
    cfg = IndexConfig(
        index_uid=f"maprev-{tag}", index_dir=index_dir,
        key_cols=("doc_id",), text_col="text", tokenizer="default",
        tag_cols=(), sha_col=None, schema_rev="v1")
    if not os.path.exists(Manifest.path(index_dir)):
        pdf = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))
        even = pdf[pdf["doc_id"] % 2 == 0]
        build_index_pandas(even, cfg, num_partitions=1)
        cfg2 = update_index(cfg, "v2", tokenizer="whitespace")
        odd = pdf[pdf["doc_id"] % 2 == 1].copy()
        odd["text"] = odd["text"].str.upper()
        ingest_batch(spark.createDataFrame(odd), cfg2, batch_id=1,
                     partitions_per_batch=1)
    s = IndexSearcher(index_dir)
    _MAP_IDX[sf_dir] = s
    return s


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# SQL building blocks for the oracle side
# ---------------------------------------------------------------------------

_FNT_VALUES = ",".join(f"({int(v)})" for v in np.unique(FIELD_NORMS_TABLE))

_BM25_CTE = f"""
WITH tok AS (
  SELECT doc_id, t AS term
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
        FROM documents)
  WHERE t <> '' AND length(t) <= 255
),
dl AS (
  SELECT d.doc_id, count(t.term) AS n_tok
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY d.doc_id
),
dlq AS (
  SELECT doc_id,
         (SELECT max(flen) FROM (VALUES {_FNT_VALUES}) fnt(flen)
          WHERE flen <= n_tok) AS qlen
  FROM dl
),
stats AS (
  SELECT count(*)::DOUBLE AS n, sum(qlen)::DOUBLE AS total FROM dlq
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ln(1 + (s.n - dfreq.df + 0.5)/(dfreq.df + 0.5)) * (1.2 + 1.0)
           * tf.tf
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dlq.qlen / (s.total / s.n)))
           AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dlq ON dlq.doc_id = tf.doc_id
  CROSS JOIN stats s
)
"""


def _bm25_topk_sql(terms: list[str], op: str, k: int,
                   extra_join: str = "", must_not: list[str] | None = None,
                   boosts: list[float] | None = None) -> str:
    tl = ",".join(f"'{t}'" for t in terms)
    having = f"count(*) = {len(terms)}" if op == "and" else "count(*) >= 1"
    mn = ""
    if must_not:
        mnl = ",".join(f"'{t}'" for t in must_not)
        mn = (f" AND doc_id NOT IN (SELECT doc_id FROM scored "
              f"WHERE term IN ({mnl}))")
    sum_expr = "sum(score)"
    if boosts is not None:
        w = ("CASE term "
             + " ".join(f"WHEN '{t}' THEN {float(b)}"
                        for t, b in zip(terms, boosts))
             + " ELSE 1.0 END")
        sum_expr = f"sum(score * {w})"
    return f"""{_BM25_CTE}
SELECT doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, {sum_expr} AS score
  FROM scored WHERE term IN ({tl}){mn} {extra_join}
  GROUP BY doc_id HAVING {having}
) ORDER BY score DESC, doc_id DESC LIMIT {k}
"""


def _hits_df(spark, sf_dir, hit_doc_ids, terms, boosts=None) -> DataFrame:
    """The engine's hits, in the engine's order, each with the f64 score
    the oracle SQL computes (rounded as the SQL rounds)."""
    reader, doc_map, _ = _doc_index(sf_dir)
    scores = hit_scores_f64(reader, doc_map, terms, hit_doc_ids, boosts)
    pdf = pd.DataFrame({"doc_id": np.asarray(hit_doc_ids, np.int64),
                        "score": [round(float(x), 6) for x in scores]})
    return _spark_df(spark, pdf, "doc_id long, score double")


def _bool_node(terms, op, lang=None, must_not=None, nchars_range=None,
               boosts=None) -> A.Bool:
    leaves = tuple(A.Term("text", t) for t in terms)
    if boosts is not None:
        leaves = tuple(A.Boost(n, b) if b != 1.0 else n
                       for n, b in zip(leaves, boosts))
    filters = ()
    if lang is not None:
        filters += (A.Term("lang", lang),)
    if nchars_range is not None:
        filters += (A.Range("n_chars", gte=nchars_range[0],
                            lt=nchars_range[1]),)
    return A.Bool(must=leaves if op == "and" else (),
                  should=leaves if op == "or" else (),
                  must_not=tuple(A.Term("text", t) for t in must_not or ()),
                  filter=filters)


def _engine_bool_topk(spark, sf_dir, terms, op, k, lang=None, must_not=None,
                      nchars_range=None, boosts=None):
    """Top-k of a bool query by IndexSearcher.search on the one-segment
    index."""
    _, doc_map, searcher = _doc_index(sf_dir)
    res = searcher.search(_bool_node(terms, op, lang, must_not,
                                     nchars_range, boosts),
                          k=k, fetch_fields=False)
    return _hits_df(spark, sf_dir, doc_map[[h.doc_id for h in res.hits]],
                    terms, boosts)


def _global_topk(spark, sf_dir, terms, k):
    """AND top-k from the global term-partitioned layout over the
    3-segment index (GlobalIndexSearcher.search: f32 BM25, root merge,
    then the doc fetch).

    The layout scores with whole-corpus statistics (N, df, average
    fieldnorm), as the oracle SQL does. IndexSearcher over the same
    segments scores each segment with its own statistics, as the
    reference scores each split, so its top-k legitimately differs from
    the oracle's."""
    g = _doc_global_index(spark, sf_dir)
    res = g.search(A.Bool(must=tuple(A.Term(g.text_field, t)
                                     for t in terms)),
                   k=k, fetch_fields=True)
    return _hits_df(spark, sf_dir,
                    np.array([h.doc["doc_id"] for h in res.hits],
                             dtype=np.int64), terms)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: two-term AND BM25 top-10."""
    sf_dir = "/root/testdata/sf0.001"
    return _engine_bool_topk(spark, sf_dir, ["merge", "query"], "and", 10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Rows are defined in verification order: the correctness gate
    # checks the first 50, and tests/test_entry_contract.py runs all of
    # them. The one row past that window is agg_es_terms_spec, whose
    # oracle is the in-window agg_terms_matched_docs one.
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- full-text / BM25 (SURVEY §2.4-2.5) ---
    q["bm25_term_topk"] = lambda s, d: _global_topk(s, d, ["merge"], 20)
    q["bm25_and_topk"] = lambda s, d: _global_topk(
        s, d, ["merge", "query"], 20)
    q["bm25_or_topk"] = lambda s, d: _engine_bool_topk(
        s, d, ["scan", "slow"], "or", 20)
    q["bm25_filter_lang"] = lambda s, d: _engine_bool_topk(
        s, d, ["table"], "and", 20, lang="en")
    q["bm25_must_not"] = lambda s, d: _engine_bool_topk(
        s, d, ["fast"], "and", 20, must_not=["slow"])
    q["bm25_range_filter"] = lambda s, d: _engine_bool_topk(
        s, d, ["query"], "and", 20, nchars_range=(150, 350))
    q["bm25_global_term_partitioned"] = lambda s, d: _global_topk(
        s, d, ["merge", "query"], 20)

    def term_set(s, d):
        _, _, searcher = _doc_index(d)
        res = searcher.search(A.TermSet("lang", ("fr", "es")), k=10_000_000,
                              fetch_fields=True)
        pdf = pd.DataFrame({"doc_id": sorted(
            int(h.doc["doc_id"]) for h in res.hits)})
        return _spark_df(s, pdf, "doc_id long")
    q["term_set_lang"] = term_set

    def docmapper_dynamic_search(s, d):
        """The session-9 doc-mapper path end to end: documents rows
        re-nested as schemaless JSON ({"meta": {lang, source,
        n_chars}}), ingested through a reference-shaped config (mode
        dynamic, tokenizer default, fast normalizer lowercase,
        autogenerated doc ids, __source storage), then queried over
        the ES facade with dynamic-path predicates — a term on
        meta.lang, a numeric range on meta.n_chars — and answered
        from the dynamic namespace + stored source
        (pipeline/doc_mapper.py; quickwit-doc-mapper analog)."""
        import json as _json

        from quickwit_spark.search import es_dsl, mgmt_api
        tag = _cache_tag(d)
        root = os.path.join(tempfile.gettempdir(),
                            "qw_entry_docmapper", tag)
        index_dir = os.path.join(root, "dmdocs")
        if not os.path.exists(Manifest.path(index_dir)):
            os.makedirs(root, exist_ok=True)
            cfg_doc = {
                "version": "0.7", "index_id": "dmdocs",
                "doc_mapping": {
                    "mode": "dynamic",
                    "field_mappings": [
                        {"name": "text", "type": "text",
                         "tokenizer": "default",
                         "record": "position"}],
                    "dynamic_mapping": {
                        "tokenizer": "default", "expand_dots": True,
                        "fast": {"normalizer": "lowercase"},
                        "record": "position"}}}
            mgmt_api.create_index(root, cfg_doc)
            cfg = mgmt_api.load_index_config(index_dir)
            pdf0 = pd.read_parquet(
                os.path.join(d, "documents.parquet"))
            docs = [{"doc_id": int(r.doc_id), "text": r.text,
                     "meta": {"lang": r.lang, "source": r.source,
                              "n_chars": int(r.n_chars)}}
                    for r in pdf0.itertuples()]
            mgmt_api.ingest_ndjson(cfg, docs)
        searcher = IndexSearcher(index_dir)
        body = {"size": 10_000_000,
                "query": {"bool": {"filter": [
                    {"term": {"meta.lang": "en"}},
                    {"range": {"meta.n_chars": {"gte": 200,
                                                "lt": 400}}}]}}}
        resp = es_dsl.es_search(searcher, body)
        rows = sorted(
            (int(h["_source"]["doc_id"]),
             int(h["_source"]["meta"]["n_chars"]))
            for h in resp["hits"]["hits"])
        pdf = pd.DataFrame(rows, columns=["doc_id", "n_chars"])
        return _spark_df(s, pdf, "doc_id long, n_chars long")
    q["docmapper_dynamic_search"] = docmapper_dynamic_search

    def presence_range(s, d):
        _, _, searcher = _doc_index(d)
        node = A.Bool(filter=(A.FieldPresence("source"),
                              A.Range("n_chars", gte=200, lt=400)),
                      must=(A.MatchAll(),))
        res = searcher.search(node, k=10_000_000, fetch_fields=True)
        pdf = pd.DataFrame({"doc_id": sorted(
            int(h.doc["doc_id"]) for h in res.hits)})
        return _spark_df(s, pdf, "doc_id long")
    q["presence_and_range"] = presence_range

    def ip_range(s, d):
        searcher = _ip_index(d)
        # [96.0.0.0, 160.0.0.0): NUMERIC IP order — under lexical string
        # order nothing matches ("96.x" > "160.x" as text), so this row
        # fails for any implementation that skips ip normalization
        node = A.Range("client_ip", gte="96.0.0.0", lt="160.0.0.0")
        res = searcher.search(node, k=10_000_000, fetch_fields=True)
        pdf = pd.DataFrame({"doc_id": sorted(
            int(h.doc["doc_id"]) for h in res.hits)})
        return _spark_df(s, pdf, "doc_id long")
    q["ip_range_filter"] = ip_range

    def wildcard(s, d):
        reader, doc_map, searcher = _doc_index(d)
        res = searcher.search(A.Wildcard("text", "sc*"), k=10_000_000,
                              fetch_fields=False)
        ids = sorted(int(doc_map[h.doc_id]) for h in res.hits)
        return _spark_df(s, pd.DataFrame({"doc_id": ids}), "doc_id long")
    q["wildcard_scan"] = wildcard

    def regex_scan(s, d):
        """Regex query (regex_query.rs:1-377 analog): full-match over
        the term dictionary, postings union. The top-level alternation
        voids the literal-prefix pushdown (engine.py), so this row also
        pins that planner edge."""
        reader, doc_map, searcher = _doc_index(d)
        res = searcher.search(A.Regex("text", "sc[a-z]n|m[ae]rge"),
                              k=10_000_000, fetch_fields=False)
        ids = sorted(int(doc_map[h.doc_id]) for h in res.hits)
        return _spark_df(s, pd.DataFrame({"doc_id": ids}), "doc_id long")
    q["regex_scan"] = regex_scan

    # term^2 boost (query_ast/mod.rs:207-218): 'scan' contributes twice
    # its BM25 weight to the OR sum; ranking provably differs from the
    # unboosted bm25_or_topk row on this corpus
    q["bm25_boost_or_topk"] = lambda s, d: _engine_bool_topk(
        s, d, ["scan", "slow"], "or", 20, boosts=[2.0, 1.0])

    def match_all_count(s, d):
        _, _, searcher = _doc_index(d)
        return _spark_df(s, pd.DataFrame({"cnt": [searcher.count("*")]}),
                         "cnt long")
    q["match_all_count"] = match_all_count

    def list_terms(s, d):
        _, _, searcher = _doc_index(d)
        terms = searcher.list_terms(start="p", end="t", limit=100_000)
        return _spark_df(s, pd.DataFrame({"term": terms}), "term string")
    q["list_terms_range"] = list_terms

    def _match_ids(s, searcher, node):
        res = searcher.search(node, k=1_000_000, fetch_fields=True)
        ids = sorted(int(h.doc["doc_id"]) for h in res.hits)
        return _spark_df(s, pd.DataFrame({"doc_id": ids}), "doc_id long")

    def phrase_match(s, d):
        _, _, searcher = _doc_index(d)
        return _match_ids(s, searcher, A.Phrase("text", "table scan"))
    q["phrase_match"] = phrase_match

    def phrase_slop_match(s, d):
        _, _, searcher = _doc_index(d)
        return _match_ids(s, searcher,
                          A.Phrase("text", "merge sort", slop=1))
    q["phrase_slop_match"] = phrase_slop_match

    def phrase_prefix_match(s, d):
        _, _, searcher = _doc_index(d)
        return _match_ids(s, searcher, A.PhrasePrefix("text", "order s"))
    q["phrase_prefix_match"] = phrase_prefix_match

    def search_after_page(s, d):
        """Second page (hits 11-20): page 1 is the engine's top 10, and
        page 2 is the engine's next 10 after page 1's search_after
        cursor."""
        _, doc_map, searcher = _doc_index(d)
        terms = ["merge", "query"]
        node = _bool_node(terms, "and")
        p1 = searcher.search(node, k=10, fetch_fields=False)
        p2 = searcher.search(node, k=10, fetch_fields=False,
                             search_after=p1.next_cursor)
        return _hits_df(s, d, doc_map[[h.doc_id for h in p2.hits]], terms)
    q["search_after_page2"] = search_after_page

    def sort2_search_after(s, d):
        """Two-field sort + search_after deep pagination in one flow
        (collector.rs:994-1145: ≤2 sort fields; tie-break by doc address
        in the FIRST order's direction; cursor = sort values + address).
        Returns PAGE 2 of docs matching `table` under
        (lang asc, n_chars desc)."""
        _, _, searcher = _doc_index(d)
        sb = (("lang", "asc"), ("n_chars", "desc"))
        p1 = searcher.sort_search(A.Term("text", "table"), k=10,
                                  sort_by=sb)
        p2 = searcher.sort_search(A.Term("text", "table"), k=10,
                                  sort_by=sb,
                                  search_after=p1.next_cursor)
        pdf = pd.DataFrame(
            {"doc_id": [int(h.doc["doc_id"]) for h in p2.hits],
             "lang": [str(h.doc["lang"]) for h in p2.hits],
             "n_chars": [int(h.doc["n_chars"]) for h in p2.hits]})
        return _spark_df(s, pdf, "doc_id long, lang string, n_chars long")
    q["sort2_search_after_page2"] = sort2_search_after

    def sort_by_field(s, d):
        """Top-k under an explicit fast-field sort (collector.rs sort
        spec): docs matching `table`, by (n_chars desc, doc_id desc)."""
        _, _, searcher = _doc_index(d)
        res = searcher.sort_search(A.Term("text", "table"), k=15,
                                   sort_by=(("n_chars", "desc"),))
        pdf = pd.DataFrame(
            {"doc_id": [int(h.doc["doc_id"]) for h in res.hits],
             "n_chars": [int(h.doc["n_chars"]) for h in res.hits]})
        return _spark_df(s, pdf, "doc_id long, n_chars long")
    q["sort_by_field_topk"] = sort_by_field

    # --- aggregations (SURVEY §2.6) as native DataFrame plans ---
    q["agg_terms_lang"] = lambda s, d: (
        _read(s, d, "documents").groupBy("lang")
        .agg(F.count("*").alias("doc_count"),
             F.round(F.avg("n_chars"), 4).alias("avg_chars")))

    q["agg_histogram_nchars"] = lambda s, d: (
        _read(s, d, "documents")
        .groupBy(F.floor(F.col("n_chars") / 50).alias("bucket"))
        .agg(F.count("*").alias("doc_count")))

    q["agg_date_histogram_events"] = lambda s, d: (
        _read(s, d, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum("value"), 4).alias("sum_value")))

    q["agg_stats_by_type"] = lambda s, d: (
        _read(s, d, "events").groupBy("event_type")
        .agg(F.count("*").alias("cnt"),
             F.round(F.min("value"), 4).alias("min_value"),
             F.round(F.max("value"), 4).alias("max_value"),
             F.round(F.avg("value"), 4).alias("avg_value"),
             F.round(F.stddev_samp("value"), 4).alias("std_value")))

    q["agg_percentiles_value"] = lambda s, d: (
        _read(s, d, "events").groupBy("event_type")
        .agg(F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
             F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
             F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99")))

    q["agg_cardinality_users"] = lambda s, d: (
        _read(s, d, "events").groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users")))

    q["agg_range_buckets"] = lambda s, d: (
        _read(s, d, "events")
        .withColumn("bucket",
                    F.when(F.col("value") < 10, "low")
                    .when(F.col("value") < 50, "mid")
                    .otherwise("high"))
        .groupBy("bucket").agg(F.count("*").alias("cnt")))

    def top_hits(s, d):
        from pyspark.sql.window import Window
        w = Window.partitionBy("event_type").orderBy(
            F.col("value").desc(), F.col("event_id").asc())
        return (_read(s, d, "events")
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") <= 3)
                .select("event_type", "event_id",
                        F.round("value", 4).alias("value"), "rn"))
    q["agg_top_hits"] = top_hits

    def agg_over_matched(s, d):
        """Aggregation over the query-matched doc set (reference model:
        per-segment matched docids -> partial aggs -> merge; Catalyst's
        partial/final agg does the merge on the returned relation)."""
        _, _, searcher = _doc_index(d)
        matched = searcher.matched_docs(A.FullText("text", "merge"),
                                        ["lang", "n_chars"])
        mdf = s.createDataFrame(matched[["lang", "n_chars"]])
        return (mdf.groupBy("lang")
                .agg(F.count("*").alias("cnt"),
                     F.round(F.avg("n_chars"), 4).alias("avg_chars")))
    q["agg_terms_matched_docs"] = agg_over_matched

    def agg_es_top_hits(s, d):
        """top_hits as a metric in the ES aggregation front-end
        (aggregations.rs:85-172): per terms bucket, the top-2 matched
        docs by n_chars — executed as one window row_number over the
        bucket partitions."""
        from quickwit_spark.search.aggregations import aggregate
        from quickwit_spark.search.engine import IndexSearcher
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, A.FullText("text", "merge"), {
            "langs": {"terms": {"field": "lang"},
                      "aggs": {"top": {"top_hits": {
                          "size": 2,
                          "sort": [{"n_chars": {"order": "desc"}},
                                   {"doc_id": {"order": "asc"}}],
                          "docvalue_fields": ["doc_id"]}}}}})
        return out.select(F.col("langs").alias("lang"), "doc_id",
                          "n_chars", F.col("top_rank").alias("rn"))
    q["agg_es_top_hits"] = agg_es_top_hits

    def agg_es_range_empty(s, d):
        """Range agg through the ES front-end: EVERY declared range is
        emitted, including empty ones (reference rest-api-tests
        aggregations/0001 — the 'medium' bucket appears with
        doc_count 0). The [-3,-2) range matches nothing by
        construction (n_chars >= 0)."""
        from quickwit_spark.search.aggregations import aggregate
        from quickwit_spark.search.engine import IndexSearcher
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, A.FullText("text", "merge"), {
            "sizes": {"range": {"field": "n_chars", "ranges": [
                {"to": -2, "key": "impossible"},
                {"from": -2, "to": 500, "key": "short"},
                {"from": 500, "key": "long"}]}}})
        return out.select(F.col("sizes").alias("bucket"),
                          F.col("doc_count").alias("cnt"))
    q["agg_es_range_empty"] = agg_es_range_empty

    def dynamic_mapping_query(s, d):
        """Dynamic mode (doc_mapping.rs mode:dynamic): exact term +
        numeric range on UNMAPPED JSON paths, no schema changes. The
        paths mirror table columns, so the oracle is literal SQL."""
        searcher = _dyn_index(d)
        node = A.Bool(must=(A.Term("text", "merge"),),
                      filter=(A.Term("meta.lang", "en"),
                              A.Range("meta.n", gte=200, lt=400)))
        res = searcher.search(node, k=1_000_000, fetch_fields=True)
        ids = sorted(int(h.doc["doc_id"]) for h in res.hits)
        return _spark_df(s, pd.DataFrame({"doc_id": ids}), "doc_id long")
    q["dynamic_mapping_query"] = dynamic_mapping_query

    def mapping_update_union(s, d):
        """Doc-mapping update (doc_mapping_uid bump): one index, two
        mapping generations, queries compiled per segment rev. Term
        nodes are raw tokens, so `scan` hits only the v1 (default-
        analyzed, even-doc_id) generation and `SCAN` only the v2
        (whitespace-analyzed, uppercased, odd-doc_id) one; an engine
        that applied ONE analyzer across generations would return a
        different doc set."""
        searcher = _mapping_update_index(s, d)
        node = A.Bool(should=(A.Term("text", "scan"),
                              A.Term("text", "SCAN")))
        res = searcher.search(node, k=1_000_000, fetch_fields=True)
        ids = sorted(int(h.doc["doc_id"]) for h in res.hits)
        return _spark_df(s, pd.DataFrame({"doc_id": ids}), "doc_id long")
    q["mapping_update_union"] = mapping_update_union

    def agg_extended_stats(s, d):
        """extended_stats metric under a terms bucket (aggregations.rs
        extended stats: sum_of_squares / population variance / stddev)."""
        from quickwit_spark.search.aggregations import aggregate
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, "*", {
            "langs": {"terms": {"field": "lang"},
                      "aggs": {"st": {"extended_stats":
                                      {"field": "n_chars"}}}}})
        return out.select(
            F.col("langs").alias("lang"),
            F.col("doc_count").alias("cnt"),
            F.col("st_count").cast("long").alias("st_count"),
            F.col("st_min").cast("long").alias("st_min"),
            F.col("st_max").cast("long").alias("st_max"),
            F.round("st_avg", 4).alias("st_avg"),
            F.col("st_sum").cast("long").alias("st_sum"),
            F.round("st_sum_of_squares", 2).alias("st_sumsq"),
            F.round("st_variance", 4).alias("st_var"),
            F.round("st_std_deviation", 4).alias("st_std"))
    q["agg_extended_stats"] = agg_extended_stats

    def agg_nested_2level(s, d):
        """Two bucket levels (terms > histogram) with a leaf metric —
        arbitrary-depth nesting (collector.rs sub-agg tree)."""
        from quickwit_spark.search.aggregations import aggregate
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, A.FullText("text", "merge"), {
            "langs": {"terms": {"field": "lang"},
                      "aggs": {"hist": {
                          "histogram": {"field": "n_chars",
                                        "interval": 100},
                          "aggs": {"chars": {
                              "avg": {"field": "n_chars"}}}}}}})
        return out.select(
            F.col("langs").alias("lang"),
            F.col("hist").cast("long").alias("bucket"),
            F.col("doc_count").alias("cnt"),
            F.round("chars", 4).alias("avg_chars"))
    q["agg_nested_2level"] = agg_nested_2level

    def agg_terms_sum_other(s, d):
        """terms with size + sum_other_doc_count (the ES response field:
        matched docs outside the returned buckets)."""
        from quickwit_spark.search.aggregations import aggregate
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, "*", {"langs": {"terms": {"field": "lang",
                                                      "size": 3}}})
        return out.select(
            F.col("langs").alias("lang"),
            F.col("doc_count").alias("cnt"),
            F.col("langs_sum_other_doc_count").alias("sum_other"))
    q["agg_terms_sum_other"] = agg_terms_sum_other

    def agg_terms_order_metric(s, d):
        """terms ordered by a sub-metric (tantivy TermsAggregation
        custom order, reference aggregations.rs:162): top-3 langs by
        avg(n_chars) DESC, keeping sum_other_doc_count semantics (docs
        outside the returned buckets) under the custom order."""
        from quickwit_spark.search.aggregations import aggregate
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, "*", {"langs": {
            "terms": {"field": "lang", "size": 3,
                      "order": {"chars": "desc"}},
            "aggs": {"chars": {"avg": {"field": "n_chars"}}}}})
        return out.select(
            F.col("langs").alias("lang"),
            F.col("doc_count").alias("cnt"),
            F.round("chars", 4).alias("avg_chars"),
            F.col("langs_sum_other_doc_count").alias("sum_other"))
    q["agg_terms_order_metric"] = agg_terms_order_metric

    def agg_histogram_gap_filled(s, d):
        """histogram with min_doc_count=0 + extended_bounds: empty
        buckets zero-filled across the widened key range."""
        from quickwit_spark.search.aggregations import aggregate
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, "*", {"hist": {"histogram": {
            "field": "n_chars", "interval": 50, "min_doc_count": 0,
            "extended_bounds": {"min": 0, "max": 800}}}})
        return out.select(F.col("hist").cast("long").alias("bucket"),
                          F.col("doc_count").alias("cnt"))
    q["agg_histogram_gap_filled"] = agg_histogram_gap_filled

    # --- Iceberg source (BASELINE.json north star: the source corpus
    # is an Iceberg table). The fixture is a REAL Iceberg v2 table —
    # metadata JSON + Avro OCF manifests written by
    # sources.avro_ocf/iceberg from the public specs — built
    # deterministically from documents.parquet in two snapshots (even
    # doc_ids @ts=1000, odd @ts=2000), partitioned by (lang identity,
    # doc_id bucket[4]). The rows gate scan planning (manifest
    # decode, partition + column-bounds pruning — over-pruning drops
    # rows and fails the hash) and snapshot time travel; the oracle
    # recomputes from documents.parquet directly.
    def _iceberg_fixture(d):
        import hashlib
        import shutil

        import pyarrow as pa

        from quickwit_spark.sources import iceberg as ice
        # v5: the writer now embeds PARQUET:field_id footers (rename/
        # drop support) — regenerate cached fixtures built without them
        key = hashlib.sha256(f"icefix-v5|{d}".encode()).hexdigest()[:16]
        base = os.path.join(tempfile.gettempdir(), f"qw_icefix_{key}")
        root = os.path.join(base, "docs")
        done = os.path.join(base, "_DONE")
        if not os.path.exists(done):
            shutil.rmtree(base, ignore_errors=True)
            pdf = (pd.read_parquet(os.path.join(d, "documents.parquet"))
                   .sort_values("doc_id").reset_index(drop=True))
            ice.create_table(root, pa.Schema.from_pandas(pdf),
                             partition_by=[("lang", "identity"),
                                           ("doc_id", "bucket[4]")])
            ice.append_pandas(root, pdf[pdf.doc_id % 2 == 0],
                              timestamp_ms=1000)
            ice.append_pandas(root, pdf[pdf.doc_id % 2 == 1],
                              timestamp_ms=2000)
            # snapshot 3: position-delete doc_id < 50 (merge-on-read;
            # earlier snapshots stay complete, so the time-travel row
            # is unaffected, and scan_filter's doc_id >= 100 never
            # touches the deleted range either way)
            ice.delete_where(root, [("doc_id", "<", 50)],
                             timestamp_ms=3000)
            # snapshot 4: CDC upsert — rewrite doc_ids 100..149 with
            # n_chars+1000 (equality delete on doc_id + new rows in
            # one snapshot); iceberg_delete_read pins the pre-upsert
            # state via as_of_ms=3500
            upd = pdf[(pdf.doc_id >= 100) & (pdf.doc_id < 150)].copy()
            upd["n_chars"] = upd["n_chars"] + 1000
            ice.upsert_pandas(root, upd, ["doc_id"], timestamp_ms=4000)
            with open(done, "w") as f:
                f.write("ok")
        return root

    def iceberg_scan_filter(s, d):
        # pinned to snapshot 2 (both appends, before the delete and
        # the upsert) — this row gates pure scan planning + pruning
        from quickwit_spark.sources import iceberg as ice
        t = ice.load_table(_iceberg_fixture(d))
        df = t.read(s, as_of_ms=2500,
                    filter=[("lang", "in", ["en", "de"]),
                            ("doc_id", ">=", 100)])
        return (df.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"),
                     F.min("doc_id").alias("min_id"),
                     F.max("doc_id").alias("max_id"))
                .orderBy("lang"))
    q["iceberg_scan_filter"] = iceberg_scan_filter

    def iceberg_time_travel(s, d):
        from quickwit_spark.sources import iceberg as ice
        t = ice.load_table(_iceberg_fixture(d))
        df = t.read(s, as_of_ms=1500)   # snapshot 1: even doc_ids only
        return (df.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"))
                .orderBy("lang"))
    q["iceberg_time_travel"] = iceberg_time_travel

    def iceberg_delete_read(s, d):
        # snapshot 3 (as_of 3500) = both appends minus the
        # position-deleted doc_id < 50 range, suppressed merge-on-read
        # via the (_metadata.file_path, row_index) anti-join
        from quickwit_spark.sources import iceberg as ice
        t = ice.load_table(_iceberg_fixture(d))
        return (t.read(s, as_of_ms=3500).groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"),
                     F.min("doc_id").alias("min_id"))
                .orderBy("lang"))
    q["iceberg_delete_read"] = iceberg_delete_read

    def iceberg_upsert_read(s, d):
        # current snapshot = delete_read state with doc_ids 100..149
        # rewritten (n_chars+1000) by an equality-delete + append
        # upsert; the oracle recomputes the CASE arithmetic directly,
        # so key-uniqueness AND the strictly-smaller-sequence rule are
        # both hashed (a double-counted key or a self-deleted upsert
        # row shifts n_docs/sum_chars)
        from quickwit_spark.sources import iceberg as ice
        t = ice.load_table(_iceberg_fixture(d))
        return (t.read(s).groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.sum("n_chars").alias("sum_chars"))
                .orderBy("lang"))
    q["iceberg_upsert_read"] = iceberg_upsert_read

    def _iceberg_rename_fixture(d):
        # separate table so the four rows above stay byte-stable: even
        # doc_ids written under the ORIGINAL column name n_chars
        # (snapshot 1), the column renamed to char_count (field id
        # kept), odd doc_ids written under the NEW name (snapshot 2) —
        # a mixed-generation table whose read is only correct if old
        # files resolve by the embedded parquet field id
        import hashlib
        import shutil

        import pyarrow as pa

        from quickwit_spark.sources import iceberg as ice
        key = hashlib.sha256(
            f"icerenfix-v1|{d}".encode()).hexdigest()[:16]
        base = os.path.join(tempfile.gettempdir(), f"qw_iceren_{key}")
        root = os.path.join(base, "docs")
        done = os.path.join(base, "_DONE")
        if not os.path.exists(done):
            shutil.rmtree(base, ignore_errors=True)
            pdf = (pd.read_parquet(os.path.join(d, "documents.parquet"))
                   [["doc_id", "lang", "n_chars"]]
                   .sort_values("doc_id").reset_index(drop=True))
            ice.create_table(root, pa.Schema.from_pandas(pdf),
                             partition_by=[("lang", "identity")])
            ice.append_pandas(root, pdf[pdf.doc_id % 2 == 0],
                              timestamp_ms=1000)
            ice.rename_column(root, "n_chars", "char_count")
            ice.append_pandas(
                root,
                pdf[pdf.doc_id % 2 == 1].rename(
                    columns={"n_chars": "char_count"}),
                timestamp_ms=2000)
            with open(done, "w") as f:
                f.write("ok")
        return root

    def iceberg_rename_read(s, d):
        # gates the field-id read path end-to-end: if pre-rename files
        # bound by NAME instead of id, every even doc's char_count
        # would read null and sum_chars/n_nonnull shift
        from quickwit_spark.sources import iceberg as ice
        t = ice.load_table(_iceberg_rename_fixture(d))
        df = t.read(s)
        return (df.groupBy("lang")
                .agg(F.count("*").alias("n_docs"),
                     F.count("char_count").alias("n_nonnull"),
                     F.sum("char_count").alias("sum_chars"),
                     F.min("doc_id").alias("min_id"))
                .orderBy("lang"))
    q["iceberg_rename_read"] = iceberg_rename_read

    def _iceberg_sync_fixture(d):
        # separate table + INDEX kept in lockstep by sync_iceberg:
        # snapshot 1 = all 500 docs (synced), snapshot 2 = CDC upsert
        # rewriting doc_ids 10..29 with a marker text, snapshot 3 =
        # delete_where doc_id < 5 (position deletes) — second sync must
        # retire the 20 old versions + 5 deleted docs and index the 20
        # new versions, nothing else
        import hashlib
        import shutil

        import pyarrow as pa

        from quickwit_spark.sources import iceberg as ice
        key = hashlib.sha256(
            f"icesyncfix-v1|{d}".encode()).hexdigest()[:16]
        base = os.path.join(tempfile.gettempdir(), f"qw_icesync_{key}")
        root = os.path.join(base, "docs")
        idx = os.path.join(base, "idx")
        done = os.path.join(base, "_DONE")
        cfg = IndexConfig(
            index_uid="icesync", index_dir=idx, key_cols=("doc_id",),
            text_col="text", tokenizer="default", tag_cols=("lang",),
            store_cols=("n_chars",), sha_col=None)
        if not os.path.exists(done):
            from quickwit_spark.sources.iceberg_ingest import \
                sync_iceberg
            shutil.rmtree(base, ignore_errors=True)
            spark = SparkSession.getActiveSession() or \
                SparkSession.builder.getOrCreate()
            pdf = (pd.read_parquet(os.path.join(d, "documents.parquet"))
                   .sort_values("doc_id").reset_index(drop=True))
            ice.create_table(root, pa.Schema.from_pandas(pdf))
            ice.append_pandas(root, pdf, timestamp_ms=1000)
            sync_iceberg(spark, root, cfg, partitions_per_ingest=2)
            upd = pdf[(pdf.doc_id >= 10) & (pdf.doc_id < 30)].copy()
            upd["text"] = "syncmarker fresh " + upd["text"]
            upd["n_chars"] = upd["text"].str.len().astype("int64")
            ice.upsert_pandas(root, upd, ["doc_id"], timestamp_ms=2000)
            ice.delete_where(root, [("doc_id", "<", 5)],
                             timestamp_ms=3000)
            sync_iceberg(spark, root, cfg, partitions_per_ingest=2)
            with open(done, "w") as f:
                f.write("ok")
        return idx

    def iceberg_sync_search(s, d):
        # the synced INDEX state, row for row: every doc's (doc_id,
        # lang) with a has_marker flag from a term search — a stale old
        # version duplicates a doc_id, a missed delete adds one, a
        # missed upsert flips has_marker, an over-retirement drops one
        from quickwit_spark.search import ast as A
        from quickwit_spark.search.engine import IndexSearcher
        searcher = IndexSearcher(_iceberg_sync_fixture(d))
        k = searcher.count("*") + 10  # never truncate the state dump
        hits = searcher.search(A.MatchAll(), k=k,
                               fetch_fields=True).hits
        marked = {h.doc["doc_id"] for h in searcher.search(
            A.Term("text", "syncmarker"), k=k,
            fetch_fields=True).hits}
        rows = sorted((int(h.doc["doc_id"]), str(h.doc["lang"]),
                       int(h.doc["doc_id"] in marked)) for h in hits)
        return s.createDataFrame(
            pd.DataFrame(rows,
                         columns=["doc_id", "lang", "has_marker"]),
            schema="doc_id long, lang string, has_marker int")
    q["iceberg_sync_search"] = iceberg_sync_search

    # --- OTLP input formats + trace collector (doc_processor.rs:142-190,
    # find_trace_ids_collector.rs) — events rows are deterministically
    # wrapped into real OTLP/JSON payloads, flattened back through the
    # production parser, then collected; the oracle computes the same
    # answer from events directly, so the whole JSON round-trip is gated
    def _otlp_attr(key, val_struct):
        return F.struct(F.lit(key).alias("key"), val_struct.alias("value"))

    def otlp_trace_topk(s, d):
        from quickwit_spark.pipeline import otlp
        ev = _read(s, d, "events")
        trace = F.md5(F.col("user_id").cast("string"))
        span = F.substring(F.md5(F.col("event_id").cast("string")), 1, 16)
        start_ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        end_ns = start_ns + (F.col("value") * F.lit(1e6)).cast("long")
        payload = F.to_json(F.struct(F.array(F.struct(
            F.struct(F.array(_otlp_attr(
                "service.name",
                F.struct(F.lit("events").alias("stringValue"))))
                .alias("attributes")).alias("resource"),
            F.array(F.struct(
                F.struct(F.lit("qw").alias("name"),
                         F.lit("1").alias("version")).alias("scope"),
                F.array(F.struct(
                    trace.alias("traceId"), span.alias("spanId"),
                    F.lit("").alias("parentSpanId"),
                    F.col("event_type").alias("name"),
                    F.lit(1).alias("kind"),
                    start_ns.cast("string").alias("startTimeUnixNano"),
                    end_ns.cast("string").alias("endTimeUnixNano"),
                )).alias("spans"),
            )).alias("scopeSpans"),
        )).alias("resourceSpans")))
        spans = otlp.otlp_spans_to_rows(ev.select(payload.alias("payload")))
        return otlp.find_trace_ids(spans, k=10)
    q["otlp_trace_topk"] = otlp_trace_topk

    def otlp_logs_severity(s, d):
        from quickwit_spark.pipeline import otlp
        ev = _read(s, d, "events")
        ns = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        k_attr = F.get_json_object(F.col("props"), "$.k")
        payload = F.to_json(F.struct(F.array(F.struct(
            F.struct(F.array(_otlp_attr(
                "service.name",
                F.struct(F.lit("events").alias("stringValue"))))
                .alias("attributes")).alias("resource"),
            F.array(F.struct(
                F.struct(F.lit("qw").alias("name"),
                         F.lit("1").alias("version")).alias("scope"),
                F.array(F.struct(
                    ns.cast("string").alias("timeUnixNano"),
                    F.upper(F.col("event_type")).alias("severityText"),
                    F.length("event_type").alias("severityNumber"),
                    F.struct(F.col("props").alias("stringValue"))
                    .alias("body"),
                    F.array(_otlp_attr(
                        "k", F.struct(k_attr.alias("intValue"))))
                    .alias("attributes"),
                )).alias("logRecords"),
            )).alias("scopeLogs"),
        )).alias("resourceLogs")))
        rows = otlp.otlp_logs_to_rows(ev.select(payload.alias("payload")))
        return (rows.groupBy("severity_text")
                .agg(F.count("*").alias("cnt"),
                     F.max("timestamp_nanos").alias("max_ns"),
                     F.sum(F.element_at("attributes", F.lit("k"))
                           .cast("long")).alias("k_sum"),
                     F.max("severity_number").alias("sev_num"))
                .orderBy("severity_text"))
    q["otlp_logs_severity"] = otlp_logs_severity

    # protobuf twins: the same events rows are encoded to REAL
    # ExportLogs/ExportTraceServiceRequest wire bytes (mapInPandas),
    # decoded back through the production protobuf input path
    # (doc_processor.rs:143-177 OtlpLogsProtobuf/OtlpTracesProtobuf;
    # otlp_pb.py), and must reach the same oracle answer as the
    # events table — gating the whole binary round-trip
    def otlp_logs_pb_severity(s, d):
        import json as _json

        from quickwit_spark.pipeline import otlp_pb
        ev = _read(s, d, "events").select(
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
            .alias("ns"),
            F.upper(F.col("event_type")).alias("sev"),
            F.length("event_type").alias("sev_num"),
            F.col("props"),
            F.get_json_object(F.col("props"), "$.k").alias("k"))

        def enc(batches):
            for pdf in batches:
                payloads = [otlp_pb.encode_logs_request({
                    "resourceLogs": [{
                        "resource": {"attributes": [
                            {"key": "service.name",
                             "value": {"stringValue": "events"}}]},
                        "scopeLogs": [{
                            "scope": {"name": "qw", "version": "1"},
                            "logRecords": [{
                                "timeUnixNano": int(ns),
                                "severityText": sev,
                                "severityNumber": int(sev_num),
                                "body": {"stringValue": props},
                                "attributes": [] if k is None else [
                                    {"key": "k",
                                     "value": {"intValue": int(k)}}],
                            }]}]}]})
                    for ns, sev, sev_num, props, k in zip(
                        pdf["ns"], pdf["sev"], pdf["sev_num"],
                        pdf["props"], pdf["k"])]
                yield pd.DataFrame({"payload": payloads})

        rows = otlp_pb.otlp_logs_pb_to_rows(
            ev.mapInPandas(enc, "payload binary"))
        return (rows.groupBy("severity_text")
                .agg(F.count("*").alias("cnt"),
                     F.max("timestamp_nanos").alias("max_ns"),
                     F.sum(F.element_at("attributes", F.lit("k"))
                           .cast("long")).alias("k_sum"),
                     F.max("severity_number").alias("sev_num"))
                .orderBy("severity_text"))
    q["otlp_logs_pb_severity"] = otlp_logs_pb_severity

    def otlp_trace_pb_topk(s, d):
        from quickwit_spark.pipeline import otlp, otlp_pb
        ev = _read(s, d, "events").select(
            F.md5(F.col("user_id").cast("string")).alias("trace"),
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 16)
            .alias("span"),
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000))
            .alias("start_ns"),
            F.col("event_type").alias("name"))

        def enc(batches):
            for pdf in batches:
                payloads = [otlp_pb.encode_spans_request({
                    "resourceSpans": [{
                        "resource": {"attributes": [
                            {"key": "service.name",
                             "value": {"stringValue": "events"}}]},
                        "scopeSpans": [{
                            "scope": {"name": "qw", "version": "1"},
                            "spans": [{
                                "traceId": trace, "spanId": span,
                                "name": name, "kind": 1,
                                "startTimeUnixNano": int(ns),
                                "endTimeUnixNano": int(ns) + 1_000_000,
                            }]}]}]})
                    for trace, span, ns, name in zip(
                        pdf["trace"], pdf["span"], pdf["start_ns"],
                        pdf["name"])]
                yield pd.DataFrame({"payload": payloads})

        spans = otlp_pb.otlp_spans_pb_to_rows(
            ev.mapInPandas(enc, "payload binary"))
        return otlp.find_trace_ids(spans, k=10)
    q["otlp_trace_pb_topk"] = otlp_trace_pb_topk

    def agg_es_spec(s, d):
        """Same computation through the ES-style aggregation front-end
        (search/aggregations.py): terms bucket + sub-metric, executed as
        matched_docs -> Catalyst partial/final agg."""
        from quickwit_spark.search.aggregations import aggregate
        from quickwit_spark.search.engine import IndexSearcher
        _, _, searcher = _doc_index(d)
        sp = IndexSearcher(searcher.index_dir, spark=s)
        out = aggregate(sp, A.FullText("text", "merge"),
                        {"langs": {"terms": {"field": "lang"},
                                   "aggs": {"chars": {
                                       "avg": {"field": "n_chars"}}}}})
        return out.select(F.col("langs").alias("lang"),
                          F.col("doc_count").alias("cnt"),
                          F.round("chars", 4).alias("avg_chars"))
    q["agg_es_terms_spec"] = agg_es_spec
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["bm25_term_topk"] = _bm25_topk_sql(["merge"], "and", 20)
    o["bm25_and_topk"] = _bm25_topk_sql(["merge", "query"], "and", 20)
    o["bm25_or_topk"] = _bm25_topk_sql(["scan", "slow"], "or", 20)
    o["bm25_filter_lang"] = _bm25_topk_sql(
        ["table"], "and", 20,
        extra_join="AND doc_id IN (SELECT doc_id FROM documents "
                   "WHERE lang = 'en')")
    o["bm25_must_not"] = _bm25_topk_sql(["fast"], "and", 20,
                                        must_not=["slow"])
    o["bm25_global_term_partitioned"] = _bm25_topk_sql(
        ["merge", "query"], "and", 20)
    o["bm25_range_filter"] = _bm25_topk_sql(
        ["query"], "and", 20,
        extra_join="AND doc_id IN (SELECT doc_id FROM documents "
                   "WHERE n_chars >= 150 AND n_chars < 350)")
    o["term_set_lang"] = ("SELECT doc_id FROM documents "
                          "WHERE lang IN ('fr','es') ORDER BY doc_id")
    o["docmapper_dynamic_search"] = (
        "SELECT doc_id, n_chars FROM documents "
        "WHERE lang = 'en' AND n_chars >= 200 AND n_chars < 400 "
        "ORDER BY doc_id")
    o["presence_and_range"] = (
        "SELECT doc_id FROM documents WHERE source IS NOT NULL "
        "AND n_chars >= 200 AND n_chars < 400 ORDER BY doc_id")
    o["ip_range_filter"] = (
        "SELECT doc_id FROM documents "
        "WHERE (doc_id * 3) % 160 >= 86 AND (doc_id * 3) % 160 < 150 "
        "ORDER BY doc_id")
    o["wildcard_scan"] = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
  FROM documents)
SELECT DISTINCT doc_id FROM tok WHERE t LIKE 'sc%' ORDER BY doc_id
"""
    o["regex_scan"] = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
  FROM documents)
SELECT DISTINCT doc_id FROM tok
WHERE regexp_full_match(t, 'sc[a-z]n|m[ae]rge') ORDER BY doc_id
"""
    o["bm25_boost_or_topk"] = _bm25_topk_sql(
        ["scan", "slow"], "or", 20, boosts=[2.0, 1.0])
    o["match_all_count"] = "SELECT count(*) AS cnt FROM documents"
    _TK_CTE = ("WITH tk AS (SELECT doc_id, "
               "list_filter(regexp_split_to_array(lower(text), "
               "'[^a-z0-9]+'), x -> x <> '') AS ts FROM documents)")
    o["phrase_match"] = f"""
{_TK_CTE}
SELECT doc_id FROM tk
WHERE len(ts) >= 2 AND list_contains(
  list_transform(generate_series(1, len(ts) - 1),
                 i -> ts[i] = 'table' AND ts[i+1] = 'scan'), true)
ORDER BY doc_id
"""
    o["phrase_slop_match"] = f"""
{_TK_CTE}
SELECT doc_id FROM tk
WHERE len(ts) >= 2 AND list_contains(
  list_transform(generate_series(1, len(ts) - 1),
                 i -> ts[i] = 'merge'
                      AND (ts[i+1] = 'sort' OR COALESCE(ts[i+2] = 'sort',
                                                        false))), true)
ORDER BY doc_id
"""
    o["phrase_prefix_match"] = f"""
{_TK_CTE}
SELECT doc_id FROM tk
WHERE len(ts) >= 2 AND list_contains(
  list_transform(generate_series(1, len(ts) - 1),
                 i -> ts[i] = 'order' AND starts_with(ts[i+1], 's')), true)
ORDER BY doc_id
"""
    o["search_after_page2"] = _bm25_topk_sql(
        ["merge", "query"], "and", 20).replace(
        "LIMIT 20", "LIMIT 10 OFFSET 10")
    o["sort_by_field_topk"] = f"""
{_TK_CTE}
SELECT d.doc_id, d.n_chars FROM documents d JOIN tk USING (doc_id)
WHERE list_contains(tk.ts, 'table')
ORDER BY d.n_chars DESC, d.doc_id DESC LIMIT 15
"""
    # page 2 under (lang asc, n_chars desc); the address tie-break follows
    # the FIRST order's direction (asc) and the single-segment doc address
    # equals doc_id order here
    o["sort2_search_after_page2"] = f"""
{_TK_CTE}
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN tk USING (doc_id)
WHERE list_contains(tk.ts, 'table')
ORDER BY d.lang ASC, d.n_chars DESC, d.doc_id ASC
LIMIT 10 OFFSET 10
"""
    o["list_terms_range"] = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
  FROM documents)
SELECT DISTINCT t AS term FROM tok
WHERE t >= 'p' AND t < 't' AND t <> '' ORDER BY term
"""
    o["agg_terms_lang"] = (
        "SELECT lang, count(*) AS doc_count, "
        "round(avg(n_chars), 4) AS avg_chars FROM documents GROUP BY lang")
    o["agg_histogram_nchars"] = (
        "SELECT CAST(floor(n_chars / 50) AS BIGINT) AS bucket, "
        "count(*) AS doc_count FROM documents GROUP BY 1")
    o["agg_date_histogram_events"] = (
        "SELECT date_trunc('day', ts) AS day, count(*) AS cnt, "
        "round(sum(value), 4) AS sum_value FROM events GROUP BY 1")
    o["agg_stats_by_type"] = (
        "SELECT event_type, count(*) AS cnt, "
        "round(min(value), 4) AS min_value, "
        "round(max(value), 4) AS max_value, "
        "round(avg(value), 4) AS avg_value, "
        "round(stddev_samp(value), 4) AS std_value "
        "FROM events GROUP BY event_type")
    o["agg_percentiles_value"] = (
        "SELECT event_type, "
        "round(quantile_cont(value, 0.5), 4) AS p50, "
        "round(quantile_cont(value, 0.95), 4) AS p95, "
        "round(quantile_cont(value, 0.99), 4) AS p99 "
        "FROM events GROUP BY event_type")
    o["agg_cardinality_users"] = (
        "SELECT event_type, count(DISTINCT user_id) AS users "
        "FROM events GROUP BY event_type")
    o["agg_range_buckets"] = (
        "SELECT CASE WHEN value < 10 THEN 'low' "
        "WHEN value < 50 THEN 'mid' ELSE 'high' END AS bucket, "
        "count(*) AS cnt FROM events GROUP BY 1")
    o["agg_top_hits"] = (
        "SELECT event_type, event_id, round(value, 4) AS value, rn FROM ("
        "  SELECT event_type, event_id, value, row_number() OVER ("
        "    PARTITION BY event_type ORDER BY value DESC, event_id ASC"
        "  ) AS rn FROM events) WHERE rn <= 3")
    o["agg_es_top_hits"] = """
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
    FROM documents) WHERE t = 'merge'),
hits AS (
  SELECT d.lang, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM documents d JOIN matched USING (doc_id))
SELECT lang, doc_id, n_chars, rn FROM hits WHERE rn <= 2
ORDER BY lang, rn
"""
    o["agg_terms_matched_docs"] = """
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
    FROM documents) WHERE t = 'merge')
SELECT lang, count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars
FROM documents JOIN matched USING (doc_id)
GROUP BY lang
"""
    o["agg_es_terms_spec"] = o["agg_terms_matched_docs"]
    o["agg_es_range_empty"] = """
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
    FROM documents) WHERE t = 'merge'),
labeled AS (
  SELECT CASE WHEN n_chars < -2 THEN 'impossible'
              WHEN n_chars < 500 THEN 'short' ELSE 'long' END AS bucket
  FROM documents JOIN matched USING (doc_id)),
declared(bucket) AS (VALUES ('impossible'), ('short'), ('long'))
SELECT d.bucket, COALESCE(c.cnt, 0) AS cnt
FROM declared d LEFT JOIN (
  SELECT bucket, count(*) AS cnt FROM labeled GROUP BY bucket) c
ON c.bucket = d.bucket
"""
    o["dynamic_mapping_query"] = """
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
    FROM documents) WHERE t = 'merge')
SELECT doc_id FROM documents JOIN matched USING (doc_id)
WHERE lang = 'en' AND n_chars >= 200 AND n_chars < 400
ORDER BY doc_id
"""
    # two analyzer generations, one per doc_id parity: v1 = lowercase
    # alnum split over the original text; v2 = whitespace split over the
    # UPPERCASED text (case preserved -> the raw query token is 'SCAN')
    o["mapping_update_union"] = r"""
SELECT doc_id FROM documents
WHERE (doc_id % 2 = 0 AND list_contains(
         regexp_split_to_array(lower(text), '[^a-z0-9]+'), 'scan'))
   OR (doc_id % 2 = 1 AND list_contains(
         regexp_split_to_array(upper(text), '\s+'), 'SCAN'))
ORDER BY doc_id
"""
    o["agg_extended_stats"] = """
SELECT lang, count(*) AS cnt,
       count(n_chars) AS st_count,
       CAST(min(n_chars) AS BIGINT) AS st_min,
       CAST(max(n_chars) AS BIGINT) AS st_max,
       round(avg(n_chars), 4) AS st_avg,
       CAST(sum(n_chars) AS BIGINT) AS st_sum,
       round(sum(n_chars::DOUBLE * n_chars::DOUBLE), 2) AS st_sumsq,
       round(sum(n_chars::DOUBLE * n_chars::DOUBLE) / count(*)
             - avg(n_chars) * avg(n_chars), 4) AS st_var,
       round(sqrt(sum(n_chars::DOUBLE * n_chars::DOUBLE) / count(*)
                  - avg(n_chars) * avg(n_chars)), 4) AS st_std
FROM documents GROUP BY lang
"""
    o["agg_nested_2level"] = """
WITH matched AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t
    FROM documents) WHERE t = 'merge')
SELECT lang, CAST(floor(n_chars / 100) * 100 AS BIGINT) AS bucket,
       count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars
FROM documents JOIN matched USING (doc_id)
GROUP BY 1, 2
"""
    o["agg_terms_sum_other"] = """
WITH b AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
ranked AS (
  SELECT lang, cnt,
         row_number() OVER (ORDER BY cnt DESC, lang ASC) AS rn,
         sum(cnt) OVER () AS total
  FROM b)
SELECT lang, cnt, CAST(total - sum(cnt) OVER () AS BIGINT) AS sum_other
FROM ranked WHERE rn <= 3
"""
    o["agg_terms_order_metric"] = """
WITH b AS (SELECT lang, count(*) AS cnt, avg(n_chars) AS raw_avg
           FROM documents GROUP BY lang),
ranked AS (
  -- rank by the RAW average (what the engine's order key is); rounding
  -- happens only in the displayed column
  SELECT lang, cnt, round(raw_avg, 4) AS avg_chars,
         row_number() OVER (ORDER BY raw_avg DESC, lang ASC) AS rn,
         sum(cnt) OVER () AS total
  FROM b)
SELECT lang, cnt, avg_chars,
       CAST(total - sum(cnt) OVER () AS BIGINT) AS sum_other
FROM ranked WHERE rn <= 3
"""
    o["agg_histogram_gap_filled"] = """
WITH counts AS (
  SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS bucket,
         count(*) AS cnt
  FROM documents GROUP BY 1),
rng AS (SELECT least(0, (SELECT min(bucket) FROM counts)) AS lo,
               greatest(800, (SELECT max(bucket) FROM counts)) AS hi),
keys AS (SELECT unnest(generate_series(lo // 50, hi // 50)) * 50 AS bucket
         FROM rng)
SELECT CAST(k.bucket AS BIGINT) AS bucket,
       COALESCE(c.cnt, 0) AS cnt
FROM keys k LEFT JOIN counts c USING (bucket)
"""
    # iceberg rows: the Spark side reads a real Iceberg v2 table built
    # from documents.parquet (two snapshots: even doc_ids @ts=1000,
    # odd @ts=2000); the oracle recomputes over documents directly
    o["iceberg_scan_filter"] = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents WHERE lang IN ('en', 'de') AND doc_id >= 100
GROUP BY lang ORDER BY lang
"""
    o["iceberg_time_travel"] = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 2 = 0
GROUP BY lang ORDER BY lang
"""
    o["iceberg_delete_read"] = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id
FROM documents WHERE doc_id >= 50
GROUP BY lang ORDER BY lang
"""
    o["iceberg_upsert_read"] = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars
                + CASE WHEN doc_id >= 100 AND doc_id < 150
                       THEN 1000 ELSE 0 END) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id >= 50
GROUP BY lang ORDER BY lang
"""
    o["iceberg_rename_read"] = """
SELECT lang, count(*) AS n_docs,
       count(n_chars) AS n_nonnull,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_id
FROM documents GROUP BY lang ORDER BY lang
"""
    # the synced index must equal the post-CDC table state row for row:
    # doc_id < 5 deleted, doc_ids 10..29 replaced by marker versions
    o["iceberg_sync_search"] = """
SELECT doc_id, lang,
       CASE WHEN doc_id BETWEEN 10 AND 29 THEN 1 ELSE 0 END
           AS has_marker
FROM documents
WHERE doc_id >= 5
ORDER BY doc_id
"""
    o["otlp_trace_topk"] = """
WITH sp AS (
  SELECT md5(CAST(user_id AS VARCHAR)) AS trace_id,
         epoch_ns(ts) AS ns
  FROM events)
SELECT trace_id, max(ns) AS span_timestamp_nanos
FROM sp GROUP BY trace_id
ORDER BY span_timestamp_nanos DESC, trace_id ASC LIMIT 10
"""
    o["otlp_logs_severity"] = """
SELECT upper(event_type) AS severity_text,
       count(*) AS cnt,
       max(epoch_ns(ts)) AS max_ns,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum,
       max(length(event_type)) AS sev_num
FROM events
GROUP BY 1 ORDER BY 1
"""

    # protobuf twins: same answers computed from events directly — the
    # Spark side must survive the encode->wire-bytes->decode round-trip
    o["otlp_logs_pb_severity"] = o["otlp_logs_severity"]
    o["otlp_trace_pb_topk"] = o["otlp_trace_topk"]
    return o
