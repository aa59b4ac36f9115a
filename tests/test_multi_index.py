"""Multi-index search (root.rs multi-index planning + index-id
patterns): global rank merge across indexes, pattern resolution."""

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.search.multi import (UnionSearcher,
                                         resolve_index_patterns)


@pytest.fixture(scope="module")
def root(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("multi")
    for i, uid in enumerate(["logs-red", "logs-blue", "metrics-1"]):
        pdf = corpus_pandas(120, seed=30 + i)
        cfg = IndexConfig(index_uid=uid, index_dir=str(tmp / uid))
        build_index_pandas(pdf, cfg, num_partitions=2)
    return tmp


def test_pattern_resolution(root):
    dirs = resolve_index_patterns(str(root), ["logs-*"])
    assert [d.split("/")[-1] for d in dirs] == ["logs-blue", "logs-red"]
    assert len(resolve_index_patterns(str(root), ["*"])) == 3
    assert resolve_index_patterns(str(root), ["nope-*"]) == []


def test_multi_index_global_rank_merge(root):
    dirs = resolve_index_patterns(str(root), ["logs-*"])
    m = UnionSearcher(dirs)
    res = m.search("content:merge", k=15, fetch_fields=False)
    total = res.num_hits
    # union hits carry a namespaced "uid/segment" id
    hits = [(*h.segment_id.split("/", 1), h) for h in res.hits]
    # totals are the per-index sums
    singles = [IndexSearcher(d).search("content:merge", k=1000,
                                       fetch_fields=False) for d in dirs]
    assert total == sum(s.num_hits for s in singles)
    # globally sorted by (score desc, index desc, segment desc, doc desc)
    keys = [(-float(np.float32(h.score)), uid, seg, h.doc_id)
            for uid, seg, h in hits]
    assert keys == sorted(
        keys, key=lambda r: (r[0],) + tuple(
            _inv(x) for x in r[1:3]) + (-r[3],))
    # the merged top-15 equals the best 15 of the union
    union = []
    for d, s in zip(dirs, singles):
        uid = IndexSearcher(d).manifest.data["index_uid"]
        union.extend((float(np.float32(h.score)), uid, h.segment_id,
                      h.doc_id) for h in s.hits)
    union.sort(key=lambda r: (-r[0], _inv(r[1]), _inv(r[2]), -r[3]))
    got = [(float(np.float32(h.score)), uid, seg, h.doc_id)
           for uid, seg, h in hits]
    assert got == union[:15]
    # count() sums across indexes
    assert m.count("*") == 240


class _inv(str):
    def __lt__(self, other):
        return str.__gt__(self, other)

    def __gt__(self, other):
        return str.__lt__(self, other)
