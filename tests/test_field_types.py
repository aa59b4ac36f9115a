"""Typed fast fields (ip / bytes) + the multilang tokenizer.

Reference behaviors pinned here:
  - ip stored as IPv6 u128, v4 mapped (field_mapping_type.rs:42):
    ordering is NUMERIC — "9.0.0.1" < "100.0.0.1" as IPs even though
    the opposite holds lexically; v6 literals sort above mapped v4.
  - bytes accepted as base64 text, matched on decoded value
    (field_mapping_type.rs:44).
  - multilang tokenizer (tokenizers/mod.rs:94-102): CJK text is
    searchable without whitespace; Latin fallback matches simple+lower.
"""

import base64

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.fieldtypes import (
    bytes_from_b64, hex_to_ip_display, ip_norm_one, ip_to_hex)
from quickwit_spark.functions.tokenizers import (
    multilang_tokenize, tokenize_batch)
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.search.engine import IndexSearcher, InvalidQueryValue
from quickwit_spark.search import ast as A
from tests.oracle import prune_segments


# ---------------------------------------------------------------------------
# codec unit behavior
# ---------------------------------------------------------------------------

def test_ip_norm_v4_mapped():
    assert ip_norm_one("192.168.0.1") == \
        "00000000000000000000ffffc0a80001"
    # vectorized path agrees with the scalar path
    s = ip_to_hex(pd.Series(["192.168.0.1", "9.0.0.1", "100.0.0.1",
                             "::1", None]))
    assert s[0] == ip_norm_one("192.168.0.1")
    assert s[1] == ip_norm_one("9.0.0.1")
    assert s[2] == ip_norm_one("100.0.0.1")
    assert s[3] == ip_norm_one("::1")
    assert s[4] is None


def test_ip_order_is_numeric_not_lexical():
    a, b = ip_norm_one("9.0.0.1"), ip_norm_one("100.0.0.1")
    assert a < b          # numeric: 9.* < 100.*
    assert "9.0.0.1" > "100.0.0.1"  # lexically the opposite
    # v6 above the whole mapped-v4 block
    assert ip_norm_one("2001:db8::1") > ip_norm_one("255.255.255.255")


def test_ip_display_roundtrip():
    for lit in ("10.1.2.3", "2001:db8::1", "::1"):
        assert hex_to_ip_display(ip_norm_one(lit)) == lit


def test_ip_invalid_rejected():
    with pytest.raises(ValueError):
        ip_norm_one("999.0.0.1")
    with pytest.raises(ValueError):
        ip_to_hex(pd.Series(["1.2.3.999"]))
    with pytest.raises(ValueError):
        ip_to_hex(pd.Series(["not-an-ip"]))


def test_bytes_from_b64():
    raw = b"\x00\xffquick"
    dec = bytes_from_b64([base64.b64encode(raw).decode(), None, b"abc"])
    assert dec == [raw, None, b"abc"]
    with pytest.raises(ValueError):
        bytes_from_b64(["!!not base64!!"])


# ---------------------------------------------------------------------------
# end-to-end: index with typed fast fields
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def ip_index(tmp_path_factory):
    root = tmp_path_factory.mktemp("ipidx")
    n = 64
    ips = [f"10.{(i * 7) % 256}.0.{i % 256}" for i in range(n)]
    ips[5] = "9.0.0.1"
    ips[6] = "100.0.0.1"
    ips[7] = "2001:db8::1"
    payloads = [base64.b64encode(bytes([i, 255 - i])).decode()
                for i in range(n)]
    pdf = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": [f"event number{i} common" for i in range(n)],
        "client_ip": ips,
        "payload": payloads,
    })
    cfg = IndexConfig(
        index_uid="ipidx", index_dir=str(root), key_cols=("doc_id",),
        text_col="text", tokenizer="default", tag_cols=(), sha_col=None,
        store_cols=("client_ip", "payload"),
        field_types={"client_ip": "ip", "payload": "bytes"})
    build_index_pandas(pdf, cfg, num_partitions=2)
    return str(root), pdf


def _ids(result):
    return sorted(h.doc["doc_id"] for h in result.hits)


def test_ip_term_equality(ip_index):
    root, pdf = ip_index
    s = IndexSearcher(root)
    r = s.search(A.Term("client_ip", "9.0.0.1"), k=10)
    assert _ids(r) == [5]
    r = s.search(A.Term("client_ip", "2001:db8::1"), k=10)
    assert _ids(r) == [7]


def test_ip_range_numeric_order(ip_index):
    root, pdf = ip_index
    s = IndexSearcher(root)
    # [9.0.0.0, 100.0.0.0): includes 9.0.0.1 and every 10.* doc,
    # excludes 100.0.0.1 and the v6 literal — lexical string order
    # would get this wrong in both directions
    r = s.search(A.Range("client_ip", gte="9.0.0.0", lt="100.0.0.0"),
                 k=100)
    expect = [i for i in range(len(pdf))
              if pdf["client_ip"][i].startswith("10.")
              or pdf["client_ip"][i] == "9.0.0.1"]
    assert _ids(r) == sorted(expect)


def test_ip_fetch_renders_text_form(ip_index):
    root, _ = ip_index
    s = IndexSearcher(root)
    r = s.search(A.Term("client_ip", "10.7.0.1"), k=5)
    assert [h.doc["client_ip"] for h in r.hits] == ["10.7.0.1"]


def test_ip_segment_pruning(ip_index):
    root, _ = ip_index
    segs = Manifest.load(root).segments()
    assert all("client_ip" in s["col_stats"] for s in segs)
    # [200.0.0.0, 200.0.0.9] sits above every v4 doc; only the segment
    # holding the lone v6 literal (whose max is above the range) survives
    node = A.Range("client_ip", gte="200.0.0.0", lte="200.0.0.9")
    bound = ip_norm_one("200.0.0.0")
    expect = [s for s in segs if s["col_stats"]["client_ip"][1] >= bound]
    got = prune_segments(segs, node, [])
    assert got == expect
    assert len(got) < len(segs)
    node = A.Range("client_ip", gte="9.0.0.0")   # unbounded above: keep all
    assert prune_segments(segs, node, []) == segs


def test_ip_invalid_query_value(ip_index):
    root, _ = ip_index
    s = IndexSearcher(root)
    with pytest.raises(InvalidQueryValue):
        s.search(A.Term("client_ip", "zzz"), k=5)


def test_bytes_term_equality(ip_index):
    root, pdf = ip_index
    s = IndexSearcher(root)
    q = base64.b64encode(bytes([9, 246])).decode()
    r = s.search(A.Term("payload", q), k=10)
    assert _ids(r) == [9]


def test_ip_sort_spec(ip_index):
    root, pdf = ip_index
    s = IndexSearcher(root)
    r = s.sort_search(A.MatchAll(), k=3,
                      sort_by=(("client_ip", "asc"),))
    got = [h.doc["client_ip"] for h in r.hits]
    assert got[0] == "9.0.0.1"  # numerically smallest, not "10.x"


def test_ip_sort_values_page_as_cursor(ip_index):
    """An ip field's sort values show the text form, as on fetch, and
    page exactly when fed back as a values-only cursor."""
    root, pdf = ip_index
    s = IndexSearcher(root)
    r = s.sort_search(A.MatchAll(), k=3,
                      sort_by=(("client_ip", "asc"),))
    got = [h.doc["client_ip"] for h in r.hits]
    assert [h.sort[0] for h in r.hits] == got
    page2 = s.sort_search(A.MatchAll(), k=3, search_after=[got[-1]],
                          sort_by=(("client_ip", "asc"),))
    whole = s.sort_search(A.MatchAll(), k=6,
                          sort_by=(("client_ip", "asc"),))
    assert [h.doc["doc_id"] for h in page2.hits] == \
        [h.doc["doc_id"] for h in whole.hits[3:]]


# ---------------------------------------------------------------------------
# multilang tokenizer
# ---------------------------------------------------------------------------

def test_multilang_cjk_bigrams_consecutive():
    # Lucene-CJKAnalyzer semantics: runs >= 2 emit ONLY adjacent bigrams
    # (consecutive positions => phrase-exact); unigrams would interleave
    # and corrupt position adjacency for phrase queries.
    toks = multilang_tokenize("Hello世界平 world")
    assert toks == ["hello", "世界", "界平", "world"]


def test_multilang_isolated_cjk_char_is_unigram():
    assert multilang_tokenize("x 界 y") == ["x", "界", "y"]


def test_multilang_phrase_positions_exact(tmp_path):
    # doc contains the phrase 世界平 inside a longer run; the bigram
    # stream [世界, 界平] must sit at consecutive positions so the
    # phrase matches (the old unigram+bigram interleave never could)
    import pandas as pd
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.search import ast as A

    df = pd.DataFrame({
        "repo": ["r"] * 3, "path": ["a", "b", "c"], "commit": ["c"] * 3,
        "lang": ["zh"] * 3,
        "content": ["前世界平後 tail", "世平界 scrambled", "plain latin"],
    })
    cfg = IndexConfig(index_uid="ml", index_dir=str(tmp_path / "ml"),
                      tokenizer="multilang", record="position")
    build_index_pandas(df, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    hits = s.search(A.Phrase("content", "世界平"), k=10).hits
    assert [h.doc["path"] for h in hits] == ["a"]


def test_multilang_latin_matches_simple_pipeline():
    toks = multilang_tokenize("The Quick-Brown Fox42")
    assert toks == ["the", "quick", "brown", "fox42"]


def test_multilang_batch_analyzer_registered():
    docs, toks = tokenize_batch(
        ["日本語 text"], analyzer="multilang")
    assert "日本" in toks and "text" in toks
    assert (docs == 0).all()


def test_ip_null_values_range_and_term(tmp_path):
    """Docs with null ip survive indexing; ranges and terms skip them
    instead of raising (object-column comparison vs None)."""
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a b", "c d", "e f"],
        "ip": ["10.0.0.1", None, "10.0.0.3"]})
    cfg = IndexConfig(index_uid="nulls", index_dir=str(tmp_path / "i"),
                      key_cols=("doc_id",), text_col="text",
                      tokenizer="default", tag_cols=(), sha_col=None,
                      store_cols=("ip",), field_types={"ip": "ip"})
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    r = s.search(A.Range("ip", gte="10.0.0.0", lte="10.0.0.9"), k=10)
    assert _ids(r) == [0, 2]
    r = s.search(A.Term("ip", "10.0.0.3"), k=10)
    assert _ids(r) == [2]


def test_ip_leading_zero_rejected_consistently():
    """Leading-zero octets are rejected on BOTH paths (ipaddress
    semantics) — the vectorized build path must not accept values the
    scalar query path refuses."""
    with pytest.raises(ValueError):
        ip_norm_one("010.1.2.3")
    with pytest.raises(ValueError):
        ip_to_hex(pd.Series(["010.1.2.3"]))
    # plain zero octets are fine everywhere
    assert ip_to_hex(pd.Series(["0.0.0.0"]))[0] == ip_norm_one("0.0.0.0")


def test_ip_tag_col_rejected():
    with pytest.raises(ValueError, match="tag_cols"):
        IndexConfig(index_uid="x", index_dir="/tmp/x",
                    tag_cols=("ip",), field_types={"ip": "ip"})
