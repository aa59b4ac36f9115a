"""F3 golden BM25 micro-corpus: exact f32 scores from the reference's
test_sort_bm25 (quickwit-search/src/tests.rs:617-709)."""

import ctypes
import ctypes.util
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher


def _build(tmp_path, name, values, record="freq", fieldnorms=True):
    pdf = pd.DataFrame({
        "id": ["0", "1", "2"],
        "body": values,
    })
    cfg = IndexConfig(
        index_uid=name, index_dir=str(tmp_path / name),
        key_cols=("id",), text_col="body", tokenizer="default",
        tag_cols=(), sha_col=None, record=record, fieldnorms=fieldnorms)
    build_index_pandas(pdf, cfg, num_partitions=1)
    return IndexSearcher(str(tmp_path / name))


def _hits(searcher, term):
    res = searcher.search(A.Term("body", term), k=10, fetch_fields=False)
    return [(np.float32(h.score).item(), h.doc_id) for h in res.hits]


def test_bm25_freq_fieldnorms(tmp_path):
    s = _build(tmp_path, "title", ["one pad", "one", "one one"])
    hits = _hits(s, "one")
    expected = [(0.1738279, 2), (0.15965714, 1), (0.12343242, 0)]
    for (gs, gd), (es, ed) in zip(expected, hits):
        assert np.float32(gs) == np.float32(es)
        assert gd == ed


def test_bm25_basic_fieldnorms(tmp_path):
    s = _build(tmp_path, "nofreq", ["two pad", "two", "two two"],
               record="basic")
    hits = _hits(s, "two")
    expected = [(0.15965714, 1), (0.12343242, 2), (0.12343242, 0)]
    for (gs, gd), (es, ed) in zip(expected, hits):
        assert np.float32(gs) == np.float32(es)
        assert gd == ed


def test_bm25_and_sum(tmp_path):
    """AND of the two term scores sums in f32
    (golden: (0.31931427, 1), (0.2972603, 2), (0.24686484, 0))."""
    s1 = _build(tmp_path, "title2", ["one pad", "one", "one one"])
    s2 = _build(tmp_path, "nofreq2", ["two pad", "two", "two two"],
                record="basic")
    h1 = dict((d, np.float32(sc)) for sc, d in _hits(s1, "one"))
    h2 = dict((d, np.float32(sc)) for sc, d in _hits(s2, "two"))
    sums = sorted(((np.float32(h1[d] + h2[d]).item(), d) for d in h1),
                  key=lambda x: (-x[0], -x[1]))
    expected = [(0.31931427, 1), (0.2972603, 2), (0.24686484, 0)]
    for (gs, gd), (es, ed) in zip(expected, sums):
        assert np.float32(gs) == np.float32(es)
        assert gd == ed


def test_bm25_nofieldnorms_is_idf(tmp_path):
    """fieldnorms disabled => constant length norm => score == idf."""
    from quickwit_spark.functions.bm25 import idf_f32
    s = _build(tmp_path, "nfn", ["two pad", "two", "two two"],
               record="basic", fieldnorms=False)
    hits = _hits(s, "two")
    idf = float(idf_f32(3, 3))
    assert [h[0] for h in hits] == pytest.approx([idf] * 3)
    assert [h[1] for h in hits] == [2, 1, 0]  # pure address tie-break, desc


def test_idf_f32_is_libm_logf():
    """idf's log is libm logf, as the reference's f32::ln is. numpy's f32
    np.log dispatches to its own AVX2/AVX512 kernels, which are 1-2 ulp
    off logf for about a quarter of these pairs on hosts that have
    them."""
    from quickwit_spark.functions.bm25 import idf_f32
    logf = ctypes.CDLL(ctypes.util.find_library("m")).logf
    logf.restype = ctypes.c_float
    logf.argtypes = (ctypes.c_float,)
    f32 = np.float32
    off = [(df, n) for n in range(1, 201) for df in range(1, n + 1)
           if idf_f32(df, n) != f32(logf(
               f32(1.0) + (f32(n) - f32(df) + f32(0.5))
               / (f32(df) + f32(0.5))))]
    assert off == []


# numpy's SIMD dispatch switched off down to its SSE baseline: on an
# AVX2/AVX512 host this selects the other log kernel
NPY_BASELINE_ONLY = ("AVX512F AVX512CD AVX512_SKX AVX512_CLX AVX512_CNL "
                     "AVX512_ICL AVX2 FMA3")


def test_goldens_under_baseline_numpy_dispatch():
    """The goldens above hold whichever kernels numpy picks: re-run them
    in a subprocess with the SIMD dispatch disabled."""
    env = dict(os.environ, NPY_DISABLE_CPU_FEATURES=NPY_BASELINE_ONLY)
    r = subprocess.run(
        [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
         "-k", "not baseline_numpy_dispatch", __file__],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stdout[-3000:] + r.stderr[-3000:]
