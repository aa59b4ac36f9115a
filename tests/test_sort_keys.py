"""Sort keys: each sort value is an order-preserving u64 with missing at
u64::MAX (plus a missing flag, so a value whose key is u64::MAX still
precedes a missing one). Sorting and values-only search_after paging
must stay exact at the i64, u64 and f64 corners, in both directions,
against a python oracle over the same values."""

import math

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search import engine as E
from quickwit_spark.search.engine import IndexSearcher

I64_MIN, I64_MAX = -2 ** 63, 2 ** 63 - 1
U64_MAX = 2 ** 64 - 1

COLS = {
    "i": pd.array([I64_MAX, None, I64_MIN, 0, I64_MAX - 1, -1, None,
                   I64_MIN + 1], dtype="Int64"),
    "u": pd.array([0, U64_MAX, None, 1, U64_MAX - 1, 2 ** 63, None, 0],
                  dtype="UInt64"),
    "f": [math.inf, -0.0, None, -math.inf, 1.5, 0.0, math.nan, -1e300],
    "b": pd.array([True, None, False, True, False, None, True, False],
                  dtype="boolean"),
    "s": ["b", None, "a", "ab", "b", None, "", "a"],
}


@pytest.fixture(scope="module")
def idx(tmp_path_factory):
    n = len(COLS["i"])
    pdf = pd.DataFrame({"repo": [f"r{j}" for j in range(n)],
                        "path": [f"p{j}" for j in range(n)],
                        "commit": ["c"] * n, "lang": ["x"] * n,
                        "content": ["alpha"] * n, **COLS})
    cfg = IndexConfig(index_uid="keys",
                      index_dir=str(tmp_path_factory.mktemp("k") / "i"),
                      sha_col=None, store_cols=tuple(COLS))
    build_index_pandas(pdf, cfg, num_partitions=3)
    return cfg.index_dir


def _value(v):
    return None if v is None or v is pd.NA or v != v else v


def _expected(s, field, desc):
    rows = []
    for seg in s.manifest.segments():
        r = E.get_reader(f"{s.index_dir}/segments/{seg['segment_id']}",
                         s.tokenizer)
        for d, v in enumerate(r._docs_column(field).to_pylist()):
            rows.append((_value(v), seg["segment_id"], d))
    # the address tie-break first, then a stable sort by value
    rows.sort(key=lambda t: (t[1], t[2]), reverse=desc)
    present = [t for t in rows if t[0] is not None]
    present.sort(key=lambda t: t[0], reverse=desc)
    return present + [t for t in rows if t[0] is None]


@pytest.mark.parametrize("field", list(COLS))
@pytest.mark.parametrize("desc", [False, True])
def test_sort_is_exact(idx, field, desc):
    s = IndexSearcher(idx)
    want = _expected(s, field, desc)
    res = s.sort_search(A.MatchAll(), k=100,
                        sort_by=((field, "desc" if desc else "asc"),),
                        fetch_fields=False)
    got = [(h.sort[0], h.segment_id, h.doc_id) for h in res.hits]
    assert got == want
    # the decoded values keep their exact types (i64::MAX is not a float)
    assert [type(v) for v, _s, _d in got] == [type(v) for v, _s, _d in want]


@pytest.mark.parametrize("field", list(COLS))
@pytest.mark.parametrize("desc", [False, True])
def test_values_only_cursor_is_strictly_after(idx, field, desc):
    s = IndexSearcher(idx)
    sort_by = ((field, "desc" if desc else "asc"),)
    want = _expected(s, field, desc)
    for pos, (v, _sid, _d) in enumerate(want):
        res = s.sort_search(A.MatchAll(), k=100, sort_by=sort_by,
                            fetch_fields=False, search_after=[v])
        got = [(h.segment_id, h.doc_id) for h in res.hits]
        # strictly after v: every later value, missing ones included;
        # a missing cursor has nothing after it
        after = [(sid, d) for w, sid, d in want[pos:]
                 if v is not None and w != v]
        assert got == after, (v, got, after)


@pytest.mark.parametrize("field", list(COLS))
@pytest.mark.parametrize("desc", [False, True])
def test_address_cursor_pages_each_hit_once(idx, field, desc):
    s = IndexSearcher(idx)
    sort_by = ((field, "desc" if desc else "asc"),)
    want = [(sid, d) for _v, sid, d in _expected(s, field, desc)]
    got, cursor = [], None
    for _ in range(len(want) + 1):
        res = s.sort_search(A.MatchAll(), k=3, sort_by=sort_by,
                            fetch_fields=False, search_after=cursor)
        if not res.hits:
            break
        got.extend((h.segment_id, h.doc_id) for h in res.hits)
        cursor = res.next_cursor
    assert got == want


def test_cursor_between_values_and_echoed_as_text(idx):
    s = IndexSearcher(idx)

    def after(field, desc, cursor):
        res = s.sort_search(A.MatchAll(), k=100,
                            sort_by=((field, "desc" if desc else "asc"),),
                            fetch_fields=False, search_after=[cursor])
        return [h.sort[0] for h in res.hits]

    # 0.5 on an int field sits between 0 and 1, both ways
    assert after("i", False, 0.5) == [I64_MAX - 1, I64_MAX, None, None]
    assert after("i", True, -0.5) == [-1, I64_MIN + 1, I64_MIN, None, None]
    # past either end of the u64 range
    assert after("u", False, -3) == [0, 0, 1, 2 ** 63, U64_MAX - 1,
                                     U64_MAX, None, None]
    assert after("u", False, 2 ** 70) == [None, None]
    assert after("u", True, 2 ** 70)[0] == U64_MAX
    # numeric cursors echoed back as strings compare as numbers
    assert after("i", False, str(I64_MAX - 1)) == after("i", False,
                                                        I64_MAX - 1)
    assert after("u", True, str(U64_MAX)) == after("u", True, U64_MAX)


def test_key_encoding_round_trips():
    i = np.array([I64_MIN, -1, 0, 1, I64_MAX], dtype=np.int64)
    ki = E._encode_keys(i, "i64")
    assert list(ki) == sorted(ki)
    assert [E._decode_key(int(x), "i64") for x in ki] == i.tolist()
    f = np.array([-math.inf, -1e300, -1.0, 0.0, 5e-324, 1.5, math.inf])
    kf = E._encode_keys(f, "f64")
    assert list(kf) == sorted(kf)
    assert [E._decode_key(int(x), "f64") for x in kf] == f.tolist()
    assert E._encode_keys([-0.0], "f64")[0] == E._encode_keys([0.0],
                                                              "f64")[0]
