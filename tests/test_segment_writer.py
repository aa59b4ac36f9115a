"""Segment file encoding (index/builder.py write_segment).

The three Parquet files of a segment carry no dictionary pages, and
min/max statistics only on the columns a reader prunes with: termdict
`term` (cold prefix scans, list_terms) and postings `term_id` (cold
posting reads). A segment written with the Parquet defaults (dictionary
pages, statistics everywhere) is read by the same code with the same
results.
"""

import os

import pyarrow.parquet as pq

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.index.merge import merge_segments
from quickwit_spark.search import engine
from quickwit_spark.search.engine import IndexSearcher

FILES = ("postings.parquet", "termdict.parquet", "docs.parquet")
STATS = {("termdict.parquet", "term"), ("postings.parquet", "term_id")}


def _build(root: str) -> None:
    build_index_pandas(corpus_pandas(1200, seed=9),
                       IndexConfig(index_uid="w", index_dir=root,
                                   record="position"),
                       num_partitions=3)


def _chunks(path: str):
    md = pq.read_metadata(path)
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            yield rg.column(c)


def _encoding_of(seg_dir: str) -> tuple[set, set]:
    """(files.column paths with a dictionary page, ... with statistics)"""
    dicts, stats = set(), set()
    for f in FILES:
        for col in _chunks(os.path.join(seg_dir, f)):
            name = col.path_in_schema
            if col.has_dictionary_page or any(
                    "DICTIONARY" in e for e in col.encodings):
                dicts.add((f, name))
            if col.is_stats_set:
                stats.add((f, name))
    return dicts, stats


def _seg_dirs(root: str) -> list[str]:
    return [os.path.join(root, "segments", s["segment_id"])
            for s in Manifest.load(root).segments()]


def test_no_dictionary_pages_and_pruning_stats_only(tmp_path):
    root = str(tmp_path / "idx")
    _build(root)
    m = Manifest.load(root)
    parents = m.segments()
    child = merge_segments(root, parents[:2])
    m.publish([child], replaced_segment_ids=[p["segment_id"]
                                             for p in parents[:2]])
    dirs = _seg_dirs(root)
    assert len(dirs) == 2  # one merged, one built
    for seg_dir in dirs:
        dicts, stats = _encoding_of(seg_dir)
        assert dicts == set()
        assert stats == STATS


QUERIES = ["session", "session AND time", "session OR fetch OR sort",
           "session -time", '"meta sort"', "session AND lang:python",
           "sess*"]


def _results(root: str) -> list:
    engine._READER_CACHE.clear()
    engine.clear_leaf_cache()
    s = IndexSearcher(root)
    out = []
    for q in QUERIES:
        for count_all in (True, False):
            r = s.search(q, k=20, count_all=count_all)
            out.append((r.num_hits, r.max_score,
                        [(h.score, h.segment_id, h.doc_id, h.doc)
                         for h in r.hits]))
    out.append(s.list_terms(start="se", end="sf", limit=50))
    return out


def test_default_encoded_segment_reads_the_same(tmp_path):
    root = str(tmp_path / "idx")
    _build(root)
    before = _results(root)
    assert all(r[0] > 0 for r in before[:-1]) and before[-1]
    seg_dir = _seg_dirs(root)[1]
    for f in FILES:
        path = os.path.join(seg_dir, f)
        pq.write_table(pq.read_table(path), path, compression="zstd")
    dicts, stats = _encoding_of(seg_dir)
    assert ("termdict.parquet", "term") in dicts
    assert ("docs.parquet", "_seg_doc") in stats
    assert _results(root) == before


def test_default_encoded_segment_cold_reads(tmp_path, monkeypatch):
    """With the termdict and postings too large to cache, lookups are
    filtered Parquet reads (`term`, `term_id`); both encodings give the
    same answers."""
    root = str(tmp_path / "idx")
    _build(root)
    monkeypatch.setattr(engine.SegmentReader, "CACHE_FILE_BYTES", 0)
    before = _results(root)
    for f in FILES:
        path = os.path.join(_seg_dirs(root)[0], f)
        pq.write_table(pq.read_table(path), path, compression="zstd")
    assert _results(root) == before
