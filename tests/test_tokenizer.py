"""Golden-vector tests for the code tokenizer, copied from the reference
engine's own unit tests (quickwit-query/src/tokenizers/code_tokenizer.rs:427-801
and tokenizers/mod.rs:162-172)."""

import numpy as np
import pytest

from quickwit_spark.functions.tokenizers import (
    code_tokenize,
    code_token_spans_exact,
    tokenize_batch,
    tokenize_one,
)

NOHEX_VECTORS = [
    ("PigCaféFactory2", ["Pig", "Café", "Factory", "2"]),
    ("PIG_CAFE_FACTORY", ["PIG", "CAFE", "FACTORY"]),
    ("TPigCafeFactory", ["T", "Pig", "Cafe", "Factory"]),
    ("PIG# Cafe@FACTORY", ["PIG", "Cafe", "FACTORY"]),
    ("RPCResult", ["RPC", "Result"]),
]

HEX_VECTORS = [
    ("PigCaféFactory2", ["Pig", "Café", "Factory", "2"]),
    ("PIG_CAFE_FACTORY", ["PIG", "CAFE", "FACTORY"]),
    ("TPigCafeFactory", ["T", "Pig", "Cafe", "Factory"]),
    ("PIG# Cafe@FACTORY", ["PIG", "Cafe", "FACTORY"]),
    (
        "fa63bbbf-0fb9-5ec8-ae63-561dc0f444aa",
        ["fa63bbbf", "0fb9", "5ec8", "ae63", "561dc0f444aa"],
    ),
    (
        "FA63BBBF-0FB9-5EC8-AE63-561DC0F444AA",
        ["FA63BBBF", "0FB9", "5EC8", "AE63", "561DC0F444AA"],
    ),
    (
        "fa63bbbf-0fb9-5ec8-ae63-561dc0f444a",
        ["fa63bbbf", "0fb9", "5ec8", "ae63", "561", "dc", "0", "f", "444", "a"],
    ),
    (
        "fa63bbbf-0fb9-5ec8-ae6-561dc0f444aa",
        ["fa63bbbf", "0fb9", "5ec8", "ae", "6", "561dc0f444aa"],
    ),
    (
        "Fa63bbbf-0fb9-5ec8-ae63-561dc0f444aa",
        ["Fa", "63", "bbbf", "0fb9", "5ec8", "ae63", "561dc0f444aa"],
    ),
    (
        "fa63Bbbf-0fb9-5ec8-ae63-561dc0f444aa",
        ["fa", "63", "Bbbf", "0fb9", "5ec8", "ae63", "561dc0f444aa"],
    ),
    (
        "fa63bbBf-0fb9-5ec8-ae63-561dc0f444aa",
        ["fa", "63", "bb", "Bf", "0fb9", "5ec8", "ae63", "561dc0f444aa"],
    ),
    (
        "fA63BBBF-0FB9-5EC8-AE63-561DC0F444AA",
        ["f", "A", "63", "BBBF", "0FB9", "5EC8", "AE63", "561DC0F444AA"],
    ),
    (
        "fa63bgbf-0fb9-5ec8-ae63-561dc0f444aa",
        ["fa", "63", "bgbf", "0fb9", "5ec8", "ae63", "561dc0f444aa"],
    ),
    (
        "fa6③bbbf-0fb9-5ec8-ae63-561dc0f444aa",
        ["fa", "6③", "bbbf", "0fb9", "5ec8", "ae63", "561dc0f444aa"],
    ),
    ("301ms", ["301", "ms"]),
    ("301cd", ["301", "cd"]),
    ("30ms", ["30", "ms"]),
    ("30cd", ["30cd"]),
    ("ABCDef", ["ABC", "Def"]),
]


@pytest.mark.parametrize("text,expected", NOHEX_VECTORS)
def test_code_tokenizer_golden(text, expected):
    assert code_tokenize(text, hex_support=False) == expected


@pytest.mark.parametrize("text,expected", HEX_VECTORS)
def test_code_tokenizer_hex_golden(text, expected):
    assert code_tokenize(text, hex_support=True) == expected


def test_byte_offsets_cafe():
    # reference pins byte offsets: Café spans bytes [3, 8) (é is 2 bytes)
    text = "PigCaféFactory2"
    spans = code_token_spans_exact(text)
    byte_spans = []
    for a, b in spans:
        byte_spans.append((len(text[:a].encode()), len(text[:b].encode())))
    assert byte_spans == [(0, 3), (3, 8), (8, 15), (15, 16)]


def test_full_analyzer_golden():
    # tokenizers/mod.rs:162-172: source_code_default lowers + ascii-folds
    assert tokenize_one("PigCaféFactory2") == ["pig", "cafe", "factory", "2"]


def test_batch_matches_scalar_on_goldens():
    texts = [t for t, _ in NOHEX_VECTORS]
    docs, toks = tokenize_batch(texts, analyzer="source_code_default")
    # regroup
    got = [[] for _ in texts]
    for d, t in zip(docs.tolist(), toks):
        got[d].append(t)
    for i, (text, expected) in enumerate(NOHEX_VECTORS):
        from quickwit_spark.functions.tokenizers import ascii_fold
        want = [ascii_fold(t.lower()) for t in expected]
        assert got[i] == want, text


def test_batch_matches_scalar_random():
    rng = np.random.default_rng(42)
    alphabet = list("abcXYZ09_ -.éÉ③汉/") + ["aa", "AB", "Ab", "1a", "F2"]
    texts = []
    for _ in range(200):
        n = int(rng.integers(0, 40))
        texts.append("".join(rng.choice(alphabet) for _ in range(n)))
    docs, toks = tokenize_batch(texts, analyzer="source_code_default")
    got = [[] for _ in texts]
    for d, t in zip(docs.tolist(), toks):
        got[d].append(t)
    from quickwit_spark.functions.tokenizers import ascii_fold
    for i, text in enumerate(texts):
        want = [ascii_fold(w.lower()) for w in code_tokenize(text)
                if len(w) <= 255]
        assert got[i] == want, repr(text)


def test_batch_hex_matches_scalar_random():
    rng = np.random.default_rng(7)
    alphabet = list("abcdefgABCDEF019-_ .")
    texts = []
    for _ in range(200):
        n = int(rng.integers(0, 30))
        texts.append("".join(rng.choice(alphabet) for _ in range(n)))
    docs, toks = tokenize_batch(texts, analyzer="source_code_with_hex")
    got = [[] for _ in texts]
    for d, t in zip(docs.tolist(), toks):
        got[d].append(t)
    for i, text in enumerate(texts):
        want = [w.lower() for w in code_tokenize(text, hex_support=True)
                if len(w) <= 255]
        assert got[i] == want, repr(text)


def test_simple_and_whitespace():
    docs, toks = tokenize_batch(["Hello, World_42 foo"], analyzer="default")
    assert toks == ["hello", "world", "42", "foo"]
    docs, toks = tokenize_batch(["Hello, World_42 foo"], analyzer="whitespace")
    assert toks == ["Hello,", "World_42", "foo"]


def test_raw_and_lowercase():
    docs, toks = tokenize_batch(["Hello World"], analyzer="raw")
    assert toks == ["Hello World"]
    docs, toks = tokenize_batch(["Hello World"], analyzer="raw_lowercase")
    assert toks == ["hello world"]
    docs, toks = tokenize_batch(["x" * 256], analyzer="raw")
    assert toks == []  # RemoveLong(255)


def test_en_stem():
    docs, toks = tokenize_batch(["running caresses ponies"], analyzer="en_stem")
    assert toks == ["run", "caress", "poni"]


def test_chinese_compatible():
    from quickwit_spark.functions.tokenizers import tokenize_batch
    docs, toks = tokenize_batch(["Hello世界abc 你好"],
                                analyzer="chinese_compatible")
    assert toks == ["hello", "世", "界", "abc", "你", "好"]
    assert docs.tolist() == [0] * 6


def test_multilang_bigrams_batch():
    from quickwit_spark.functions.tokenizers import tokenize_batch
    docs, toks = tokenize_batch(["Hello世界観abc 你", "rust 東京大学"],
                                analyzer="multilang")
    assert toks == ["hello", "世界", "界観", "abc", "你",
                    "rust", "東京", "京大", "大学"]
    assert docs.tolist() == [0] * 5 + [1] * 4


# CJK-heavy alphabet mixing Han/Hiragana/Katakana/Hangul with latin,
# digits, accents, punctuation and the boundary chars around the CJK
# ranges — the shapes that distinguish the vectorized batch path from
# the scalar per-doc functions
_CJK_ALPHABET = ("世界観你好東京大学研究所の件でハンguల Abc09_-#.\t\n"
                 "caféΣσς䶿一鿿가힯぀ヿ")


@pytest.mark.parametrize("analyzer", ["chinese_compatible", "multilang"])
def test_cjk_batch_equals_scalar_property(analyzer):
    """The vectorized batch path must equal the per-doc scalar
    functions token-for-token (the same property the source_code
    analyzers are held to)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from quickwit_spark.functions.tokenizers import (
        chinese_compatible_tokenize, multilang_tokenize, tokenize_batch)

    scalar = (chinese_compatible_tokenize
              if analyzer == "chinese_compatible" else multilang_tokenize)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.text(alphabet=_CJK_ALPHABET, max_size=40),
                    max_size=6))
    def check(texts):
        docs, toks = tokenize_batch(texts, analyzer=analyzer)
        exp_toks, exp_docs = [], []
        for i, t in enumerate(texts):
            parts = scalar(t)
            exp_toks.extend(parts)
            exp_docs.extend([i] * len(parts))
        assert toks == exp_toks
        assert docs.tolist() == exp_docs

    check()


def test_custom_regex_analyzer_end_to_end(tmp_path):
    import pandas as pd
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.functions.tokenizers import (
        get_custom_analyzer, register_custom_analyzer)
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search.engine import IndexSearcher

    register_custom_analyzer("hashtags", "regex", pattern=r"#\w+",
                            filters=("lower_caser",))
    assert get_custom_analyzer("hashtags") is not None
    pdf = pd.DataFrame({
        "repo": ["r"] * 3, "path": [f"f{i}" for i in range(3)],
        "commit": ["c"] * 3, "lang": ["x"] * 3,
        "content": ["see #Spark and #Index", "plain text only",
                    "#spark again"],
    })
    cfg = IndexConfig(index_uid="rx", index_dir=str(tmp_path / "rx"),
                      sha_col=None, tokenizer="hashtags")
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    from quickwit_spark.search import ast as A
    r = s.search(A.Term("content", "#spark"), k=10)
    assert sorted(h.doc["path"] for h in r.hits) == ["f0", "f2"]
    assert s.search(A.Term("content", "plain"), k=10).num_hits == 0


def test_custom_ngram_analyzer():
    from quickwit_spark.functions.tokenizers import CustomAnalyzer
    a = CustomAnalyzer("ngram", min_gram=2, max_gram=3)
    assert a.tokenize("abcd") == ["ab", "abc", "bc", "bcd", "cd"]
    p = CustomAnalyzer("ngram", min_gram=1, max_gram=2, prefix_only=True)
    assert p.tokenize("abc") == ["a", "ab"]
    import pytest as _pt
    with _pt.raises(ValueError):
        CustomAnalyzer("ngram", min_gram=0, max_gram=2)
    with _pt.raises(ValueError):
        CustomAnalyzer("regex")


def test_concat_field_indexing(tmp_path):
    """Concatenate virtual field (field_mapping_entry.rs:357-365): several
    source columns indexed as one searchable field."""
    import pandas as pd
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    pdf = pd.DataFrame({
        "repo": ["r"] * 2, "path": ["a.py", "b.py"], "commit": ["c"] * 2,
        "lang": ["x"] * 2,
        "title": ["alpha topic", "beta topic"],
        "body": ["body beta text", "body gamma text"],
    })
    cfg = IndexConfig(index_uid="cc", index_dir=str(tmp_path / "cc"),
                      sha_col=None, text_col="all_text",
                      concat_cols=("title", "body"), tokenizer="default")
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    # matches whether the term came from title OR body
    assert {h.doc["path"] for h in
            s.search(A.Term("all_text", "beta"), k=10).hits} == \
        {"a.py", "b.py"}
    assert [h.doc["path"] for h in
            s.search(A.Term("all_text", "alpha"), k=10).hits] == ["a.py"]


def test_batch_ids_hex_matches_string_path():
    """The no-string term-id fast path must produce the same (doc, term)
    multiset as tokenize_batch for source_code_with_hex (r4: the hex
    analyzer joined the vectorized ids path)."""
    import random
    from collections import Counter

    from quickwit_spark.functions.tokenizers import tokenize_batch_ids

    rng = random.Random(77)
    alpha = "0123456789abcdefABCDEFgxyzGXYZ ._-"
    texts = ["".join(rng.choice(alpha)
                     for _ in range(rng.randrange(0, 60)))
             for _ in range(800)]
    texts += ["DEADBEEF cafe12 0xFF", "f" * 254, ""]
    docs_s, toks_s = tokenize_batch(texts, analyzer="source_code_with_hex")
    di, codes, terms = tokenize_batch_ids(
        texts, analyzer="source_code_with_hex")
    got = Counter((int(d), terms[c])
                  for d, c in zip(di.tolist(), codes.tolist()))
    want = Counter(zip(docs_s.tolist(), toks_s))
    assert got == want


@pytest.mark.parametrize("analyzer", ["chinese_compatible", "multilang"])
def test_batch_ids_cjk_matches_string_path(analyzer):
    """The CJK uint64-key ids path must produce the same (doc, term)
    SEQUENCE as tokenize_batch (order matters: positions for phrase
    queries derive from token order) and the same sorted vocabulary."""
    import random

    from quickwit_spark.functions.tokenizers import tokenize_batch_ids

    rng = random.Random(42)
    texts = ["".join(rng.choice(_CJK_ALPHABET)
                     for _ in range(rng.randrange(0, 80)))
             for _ in range(400)]
    texts += ["Hello世界観abc 你", "", "pure ascii only", "観" * 300]
    docs_s, toks_s = tokenize_batch(texts, analyzer=analyzer)
    di, codes, terms = tokenize_batch_ids(texts, analyzer=analyzer)
    got = [(int(d), terms[c]) for d, c in zip(di.tolist(), codes.tolist())]
    assert got == list(zip(docs_s.tolist(), toks_s))
    assert terms.tolist() == sorted(set(toks_s))


def test_multilang_dictionary_segmentation(tmp_path):
    """Dictionary-backed multilang (the reference's feature-gated
    Lindera path re-expressed as forward maximum matching): longest
    dictionary word wins at each offset, unmatched chars emit
    unigrams, tokens stay position-consecutive (phrase adjacency), and
    clearing the dictionary restores the bigram fallback. End-to-end:
    a dictionary-segmented index answers a word query."""
    import pandas as pd

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.functions.tokenizers import (
        multilang_tokenize, register_multilang_dictionary)
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher

    text = "東京大学の研究report 2024"
    try:
        register_multilang_dictionary(["東京", "大学", "東京大学", "研究"])
        toks = multilang_tokenize(text)
        # longest match: 東京大学 (not 東京+大学); の unmatched -> unigram
        assert toks == ["東京大学", "の", "研究", "report", "2024"]

        docs = [{"repo": "r", "path": "a.md", "commit": "c", "lang": "ja",
                 "content": text},
                {"repo": "r", "path": "b.md", "commit": "c", "lang": "ja",
                 "content": "大学の図書館"}]
        cfg = IndexConfig(index_uid="ml", index_dir=str(tmp_path / "ml"),
                          sha_col=None, tokenizer="multilang")
        build_index_pandas(pd.DataFrame(docs), cfg, num_partitions=1)
        s = IndexSearcher(cfg.index_dir)
        assert s.count("content:研究") == 1
        assert s.count("content:大学") == 1      # b.md only: a.md has the
        assert s.count("content:東京大学") == 1  # compound, not the parts
    finally:
        register_multilang_dictionary(None)
    # fallback restored: adjacent-pair bigrams
    assert multilang_tokenize("東京大学") == ["東京", "京大", "大学"]


def test_multilang_remove_long_applies_to_cjk_grams():
    """RemoveLong(max_len) filters CJK unigrams/bigrams in the
    vectorized multilang path exactly like the scalar tokenizer and the
    ids path: max_len=1 keeps unigrams but drops bigrams (len 2),
    max_len=0 drops everything. An index built via the string path and
    queried via the ids path must not disagree on max_len<2 configs."""
    from quickwit_spark.functions.tokenizers import (multilang_tokenize,
                                                     tokenize_batch)
    texts = ["中文漢字 test", "中", "中文", "abc 中 def"]
    for ml in (0, 1, 2):
        for t in texts:
            _, toks = tokenize_batch([t], analyzer="multilang", max_len=ml)
            assert toks == multilang_tokenize(t, ml), (ml, t, toks)


def _ascii_batch(rng, tail_len):
    """Seeded random ASCII docs whose tokens straddle every key bucket
    edge (7/8/9, 16/17, 32/33) and the RemoveLong limit (255/256), with
    camelCase and ALLCAPS runs, empty and None docs, and a last doc that
    ends on a token of `tail_len` bytes (the batch's last byte)."""
    lower, upper = "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

    def word(n, chars=lower + "0123456789"):
        return "".join(rng.choice(chars) for _ in range(n))

    def token():
        kind = rng.randrange(5)
        if kind == 0:  # a bucket or RemoveLong edge
            return word(rng.choice((7, 8, 9, 16, 17, 32, 33, 255, 256)))
        if kind == 1:  # camelCase
            return word(rng.randrange(1, 6)) + "".join(
                rng.choice(upper) + word(rng.randrange(1, 9), lower)
                for _ in range(rng.randrange(1, 4)))
        if kind == 2:  # ALLCAPS run, alone or before a capitalized word
            return word(rng.randrange(2, 12), upper) + (
                rng.choice(upper) + word(rng.randrange(1, 7), lower)
                if rng.random() < 0.5 else "")
        return word(rng.randrange(1, 12), lower + upper + "0123456789")

    texts = []
    for _ in range(300):
        r = rng.random()
        if r < 0.05:
            texts.append(None)
        elif r < 0.1:
            texts.append("")
        else:
            parts = []
            for _ in range(rng.randrange(1, 12)):
                parts.append(token())
                parts.append(rng.choice([" ", ".", "_", "-", "/", "(",
                                         ") ", "\n", ", "]))
            texts.append("".join(parts))
    texts.append(" ".join([token(), token(), word(tail_len, lower)]))
    return texts


@pytest.mark.parametrize("analyzer", ["source_code_default", "default"])
@pytest.mark.parametrize("tail_len", [1, 7, 8, 9, 16, 17, 32, 33])
def test_batch_ids_ascii_matches_string_path(analyzer, tail_len):
    """The no-string ids path (u64 word keys, flatnonzero spans) must give
    the same (doc, term) sequence as tokenize_batch, and the same sorted
    vocabulary."""
    import random

    from quickwit_spark.functions.tokenizers import tokenize_batch_ids

    texts = _ascii_batch(random.Random(1000 + tail_len), tail_len)
    docs_s, toks_s = tokenize_batch(texts, analyzer=analyzer)
    di, codes, terms = tokenize_batch_ids(texts, analyzer=analyzer)
    got = [(int(d), terms[c]) for d, c in zip(di.tolist(), codes.tolist())]
    assert got == list(zip(docs_s.tolist(), toks_s))
    assert terms.tolist() == sorted(set(toks_s))
    assert toks_s[-1] == texts[-1][-tail_len:].lower()


def _scalar_spans(nondelim, breaks):
    """Reference span walk: a token starts at a nondelim char after a
    delimiter (or at 0) or at a break, and ends before the next delimiter,
    break or the end."""
    brk = set(breaks.tolist())
    spans, start = [], None
    for i in range(len(nondelim) + 1):
        inside = i < len(nondelim) and bool(nondelim[i])
        if start is not None and (not inside or i in brk):
            spans.append((start, i))
            start = None
        if inside and start is None:
            start = i
    return spans


def test_token_spans_matches_scalar_walk():
    """_token_spans against the scalar walk. Breaks cover every position
    class a run offers: right after its start, right before its last
    char, in its middle, at adjacent positions, on the batch's last char,
    and at every interior position at once."""
    from quickwit_spark.functions.tokenizers import _token_spans

    rng = np.random.default_rng(5)
    cases = [np.zeros(0, dtype=bool), np.zeros(5, dtype=bool),
             np.ones(1, dtype=bool), np.ones(6, dtype=bool)]
    cases += [rng.random(int(rng.integers(1, 60))) < p
              for p in (0.3, 0.7, 0.95) for _ in range(150)]
    for nondelim in cases:
        # a break needs nondelim chars on both sides
        valid = np.flatnonzero(nondelim[1:] & nondelim[:-1]) + 1
        for p in (0.0, 0.3, 0.7, 1.0):
            breaks = valid[rng.random(valid.size) < p].astype(np.int64)
            starts, ends = _token_spans(nondelim, breaks)
            assert list(zip(starts.tolist(), ends.tolist())) == \
                _scalar_spans(nondelim, breaks), (nondelim, breaks)
