"""Code-aware tokenizers, re-implemented from scratch against the reference
engine's observable behavior.

Reference behavior pinned by:
  - quickwit-query/src/tokenizers/code_tokenizer.rs:427-801 (golden vectors)
  - quickwit-query/src/tokenizers/mod.rs:36-104 (analyzer registry)
  - quickwit-query/src/tokenizers/mod.rs:162-172 (full source_code_default
    pipeline golden: "PigCaféFactory2" -> ["pig","cafe","factory","2"])

Semantics (derived from the reference's tests, NOT a code translation):

The code tokenizer classifies every char as Upper (unicode uppercase letter),
Lower (other letters), Numeric (unicode numeric) or Delimiter, and emits a
token on every class change, with one camelCase exception: an Upper run
followed by a Lower char keeps its *last* upper char with the lower run
("RPCResult" -> [RPC, Result], "Pig" stays whole).

With hex support, a token *starting a delimiter-separated run* may instead be
scanned as one hexadecimal token (ASCII [0-9a-fA-F], single letter case,
even total length). If the hex scan fails:
  - prefix was single-class (only digits / only lowers / only uppers): the
    prefix is handed to the class machine as an in-flight token and scanning
    continues (char not consumed twice);
  - prefix saw mixed classes: the whole attempt is abandoned and the run is
    re-scanned in pure class mode from the start of the attempt; crucially,
    the class-machine state then persists, so hex mode is NOT re-entered
    until after the next delimiter.

Two implementations are provided:
  - `code_token_spans` — an exact per-char state machine (used for golden
    tests, the query-time tokenizer, and as the oracle for the batch path);
  - `tokenize_batch` — a vectorized numpy batch tokenizer (no-hex class
    mode) used in the indexing hot path; property-tested equal to the
    scalar machine.
"""

from __future__ import annotations

import unicodedata
from typing import Iterable

import numpy as np
import pandas as pd

DELIM, UPPER, LOWER, DIGIT = 0, 1, 2, 3

_ASCII_HEX = set("0123456789abcdefABCDEF")


def _char_type(c: str) -> int:
    if c.isalpha():
        # Rust char::is_uppercase == Lu; everything else alphabetic is Lower
        # for tokenization purposes (matches reference get_char_type).
        return UPPER if c.isupper() else LOWER
    if c.isnumeric():
        return DIGIT
    return DELIM


# ---------------------------------------------------------------------------
# Exact scalar state machine
# ---------------------------------------------------------------------------

class _PendingScanner:
    """Stateful faithful tokenizer: exact port of the reference semantics
    including cross-emit in-flight state (hex only re-entered after a
    delimiter)."""

    def __init__(self, text: str, hex_support: bool):
        self.text = text
        self.n = len(text)
        self.i = 0
        self.hex_support = hex_support
        self.chars_st = None  # [start, cur, cur_type, is_first]
        self.hex_st = None

    def tokens(self) -> list[tuple[int, int]]:
        out = []
        while True:
            s = self._advance(self.hex_support)
            if s is None:
                return out
            out.append(s)

    def _advance(self, enable_hex: bool):
        text, n = self.text, self.n
        checkpoint = self.i
        cp_chars = list(self.chars_st) if self.chars_st else None
        while self.i < n:
            c = text[self.i]
            t = _char_type(c)
            if self.chars_st is None and self.hex_st is None:
                if t != DELIM:
                    if enable_hex and c in _ASCII_HEX:
                        self.hex_st = [self.i, self.i, t == UPPER, t == LOWER,
                                       t == DIGIT]
                    else:
                        self.chars_st = [self.i, self.i, t, True]
                self.i += 1
                continue
            if self.hex_st is not None:
                res = self._hex_step(c, t)
                if res == "emit":
                    start = self.hex_st[0]
                    end = self.i
                    self.hex_st = None
                    self.i += 1
                    return (start, end)
                if res == "backtrack":
                    self.i = checkpoint
                    self.chars_st = cp_chars
                    self.hex_st = None
                    return self._advance(False)
                if res == "recover":
                    continue  # char re-processed by chars state
                self.i += 1
                continue
            emit = self._chars_step(c, t)
            self.i += 1
            if emit is not None:
                return emit
        # finalize
        if self.hex_st is not None:
            start, cur = self.hex_st[0], self.hex_st[1]
            if (cur + 1 - start) % 2 == 0:
                self.hex_st = None
                return (start, cur + 1)
            st = _hex_to_chars(self.hex_st)
            if st is None:
                self.i = checkpoint
                self.chars_st = cp_chars
                self.hex_st = None
                return self._advance(False)
            self.chars_st = st
            self.hex_st = None
        if self.chars_st is not None:
            span = (self.chars_st[0], self.chars_st[1] + 1)
            self.chars_st = None
            return span
        return None

    def _chars_step(self, c, t):
        start, cur, cur_type, is_first = self.chars_st
        if t == DELIM:
            self.chars_st = None  # reset: hex may re-engage after delimiter
            return (start, cur + 1)
        if cur_type == UPPER and t == LOWER:
            if is_first:
                self.chars_st = [start, self.i, LOWER, False]
                return None
            self.chars_st = [cur, self.i, LOWER, False]
            return (start, cur)
        if t == cur_type:
            self.chars_st = [start, self.i, cur_type, False]
            return None
        self.chars_st = [self.i, self.i, t, True]
        return (start, cur + 1)

    def _hex_step(self, c, t):
        st = self.hex_st
        if "0" <= c <= "9":
            st[4] = True
        elif "a" <= c <= "f":
            if st[2]:
                return self._hex_recover()
            st[3] = True
        elif "A" <= c <= "F":
            if st[3]:
                return self._hex_recover()
            st[2] = True
        else:
            if t == DELIM and (self.i - st[0]) % 2 == 0:
                return "emit"
            return self._hex_recover()
        st[1] = self.i
        return None

    def _hex_recover(self):
        st = _hex_to_chars(self.hex_st)
        if st is None:
            return "backtrack"
        self.chars_st = st
        self.hex_st = None
        return "recover"


def _hex_to_chars(hex_st):
    start, cur, seen_u, seen_l, seen_n = hex_st
    flags = (seen_u, seen_l, seen_n)
    if flags == (True, False, False):
        t = UPPER
    elif flags == (False, True, False):
        t = LOWER
    elif flags == (False, False, True):
        t = DIGIT
    else:
        return None
    return [start, cur, t, cur == start]


def code_tokenize(text: str, hex_support: bool = False) -> list[str]:
    return [text[a:b] for a, b in _PendingScanner(text, hex_support).tokens()]


def code_token_spans_exact(text: str, hex_support: bool = False):
    return _PendingScanner(text, hex_support).tokens()


# ---------------------------------------------------------------------------
# Token filters
# ---------------------------------------------------------------------------

def ascii_fold(s: str) -> str:
    """Fold accented chars to ASCII where a decomposition exists; leave other
    chars untouched (approximates the reference's ASCII-folding filter)."""
    if s.isascii():
        return s
    out = []
    for ch in s:
        if ord(ch) < 128:
            out.append(ch)
            continue
        d = unicodedata.normalize("NFKD", ch)
        kept = "".join(c for c in d if not unicodedata.combining(c))
        out.append(kept if kept else ch)
    return "".join(out)


def porter_stem(w: str) -> str:
    """Compact Porter stemmer (public algorithm, Porter 1980) for en_stem."""
    if len(w) <= 2:
        return w

    def m(stem):
        # measure: number of VC sequences == count of v->c transitions
        # (per-token hot path: a counting loop, no regex/string build)
        count = 0
        prev_v = False
        for i in range(len(stem)):
            is_v = not _p_cons(stem, i)
            if prev_v and not is_v:
                count += 1
            prev_v = is_v
        return count

    def _p_cons(s, i):
        c = s[i]
        if c in "aeiou":
            return False
        if c == "y":
            return i == 0 or not _p_cons(s, i - 1)
        return True

    def has_vowel(stem):
        return any(not _p_cons(stem, i) for i in range(len(stem)))

    def ends_cvc(s):
        if len(s) < 3:
            return False
        if not (_p_cons(s, len(s) - 3) and not _p_cons(s, len(s) - 2)
                and _p_cons(s, len(s) - 1)):
            return False
        return s[-1] not in "wxy"

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    flag = False
    if w.endswith("eed"):
        if m(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed") and has_vowel(w[:-2]):
        w = w[:-2]
        flag = True
    elif w.endswith("ing") and has_vowel(w[:-3]):
        w = w[:-3]
        flag = True
    if flag:
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif len(w) >= 2 and w[-1] == w[-2] and _p_cons(w, len(w) - 1) \
                and w[-1] not in "lsz":
            w = w[:-1]
        elif m(w) == 1 and ends_cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in (("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
                     ("anci", "ance"), ("izer", "ize"), ("abli", "able"),
                     ("alli", "al"), ("entli", "ent"), ("eli", "e"),
                     ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
                     ("ator", "ate"), ("alism", "al"), ("iveness", "ive"),
                     ("fulness", "ful"), ("ousness", "ous"), ("aliti", "al"),
                     ("iviti", "ive"), ("biliti", "ble")):
        if w.endswith(suf):
            if m(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 3
    for suf, rep in (("icate", "ic"), ("ative", ""), ("alize", "al"),
                     ("iciti", "ic"), ("ical", "ic"), ("ful", ""),
                     ("ness", "")):
        if w.endswith(suf):
            if m(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break
    # step 4 (suffix list in Porter's order; "ion" carries the s/t guard)
    for suf in ("al", "ance", "ence", "er", "ic", "able", "ible", "ant",
                "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
                "ous", "ive", "ize"):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and not (stem and stem[-1] in "st"):
                continue
            if m(stem) > 1:
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        if m(stem) > 1 or (m(stem) == 1 and not ends_cvc(stem)):
            w = stem
    # step 5b
    if len(w) >= 2 and w[-1] == "l" and w[-2] == "l" and m(w) > 1:
        w = w[:-1]
    return w


# ---------------------------------------------------------------------------
# Vectorized batch tokenization (indexing hot path)
# ---------------------------------------------------------------------------

# 256-entry class LUT for the ASCII/latin-1 fast path (one np.take pass,
# 1 byte per char instead of 4 — memory traffic is the bottleneck)
_CLS_LUT8 = np.zeros(256, dtype=np.int8)
for _i in range(256):
    _CLS_LUT8[_i] = _char_type(chr(_i))

# dense lazily-filled full-plane LUT (0x110000 int8 = ~1.1 MB): value is
# the char class, with bit 2 (_CJK_BIT) set for chars in the CJK ranges.
# -1 = not classified yet. Python touches each distinct codepoint ONCE
# per process; every later occurrence is a single np.take — the
# unique+searchsorted scheme this replaces was still ~40% of the CJK
# batch wall.
_CJK_BIT = 4
_CLS_LUT_FULL = np.full(0x110000, -1, dtype=np.int8)
_CLS_LUT_FULL[:256] = _CLS_LUT8


def _classify_codes_full(codes: np.ndarray) -> np.ndarray:
    """One-pass codepoint -> (class | CJK bit) via the dense LUT."""
    out = _CLS_LUT_FULL[codes]
    miss = out < 0
    if miss.any():
        for cp in np.unique(codes[miss]).tolist():
            v = _char_type(chr(cp))
            if _is_cjk(cp):
                v |= _CJK_BIT
            _CLS_LUT_FULL[cp] = v
        out = _CLS_LUT_FULL[codes]
    return out


def _classify_codes(codes: np.ndarray) -> np.ndarray:
    """Map UTF-32 codepoints to char classes, vectorized."""
    return _classify_codes_full(codes) & ~np.int8(_CJK_BIT)


_SEP = "\x00"

# hex-category flag LUT for the ASCII fast path:
# digit=1, lowerhex=2, upperhex=4, everything else (non-hex)=8
_HEXFLAG_LUT8 = np.full(256, 8, dtype=np.uint8)
for _i in range(256):
    _c = chr(_i)
    if "0" <= _c <= "9":
        _HEXFLAG_LUT8[_i] = 1
    elif "a" <= _c <= "f":
        _HEXFLAG_LUT8[_i] = 2
    elif "A" <= _c <= "F":
        _HEXFLAG_LUT8[_i] = 4


def _spans_to_sentinel_string(big: str, codes: np.ndarray, cls: np.ndarray,
                              extra_breaks: np.ndarray) -> str:
    """Replace delimiter chars by SEP and insert SEP at extra break points,
    returning one splittable string (single C-level pass)."""
    out = codes.copy()
    out[cls == DELIM] = 0  # SEP codepoint
    if extra_breaks.size:
        # scatter-insert SEPs (np.insert is O(n) with huge temporaries)
        m = out.size + extra_breaks.size
        res = np.zeros(m, dtype=out.dtype)
        ins_pos = extra_breaks + np.arange(extra_breaks.size)
        mask = np.ones(m, dtype=bool)
        mask[ins_pos] = False
        res[mask] = out
        out = res
    if out.dtype == np.uint8:
        return out.tobytes().decode("ascii")
    return out.tobytes().decode("utf-32-le")


def _token_spans(nondelim: np.ndarray, breaks: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Token [start, end) spans from the nondelim mask + internal break
    positions, as two boolean marks and one flatnonzero each: a token
    starts at a run start or a break and ends (exclusive) at a run end or
    a break. A break has nondelim chars on both sides, so it is never a
    run start or end: each set is the disjoint union of its two parts,
    and the sorted starts and ends pair up in order."""
    d = np.zeros(nondelim.size + 2, dtype=bool)
    d[1:-1] = nondelim
    starts = d[1:-1] > d[:-2]  # nondelim[i] and not nondelim[i-1]
    ends = d[:-1] > d[1:]      # nondelim[e-1] and not nondelim[e]
    starts[breaks] = True
    ends[breaks] = True
    return np.flatnonzero(starts), np.flatnonzero(ends)


def _token_docs(texts: list[str], starts: np.ndarray) -> np.ndarray:
    """Doc index of each token, from its sorted start offsets in the
    SEP-joined batch: the docs' first tokens by one searchsorted of the
    (few) doc starts into the token starts, then one repeat."""
    doc_starts = np.zeros(len(texts), dtype=np.int64)
    doc_starts[1:] = np.cumsum(
        np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))[:-1]
        + 1)
    first = np.searchsorted(starts, doc_starts)
    return np.repeat(np.arange(len(texts), dtype=np.int64),
                     np.diff(first, append=len(starts)))


def _code_class_breaks(cls: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Compute token start mask and internal break positions for the code
    tokenizer's class mode (camelCase rule included), vectorized."""
    n = cls.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool), np.zeros(0, dtype=np.int64)
    nondelim = cls != DELIM
    change = np.zeros(n, dtype=bool)
    change[1:] = (cls[1:] != cls[:-1]) & nondelim[1:] & nondelim[:-1]
    # camel rule: UPPER run followed by LOWER. Only the run length CLASS
    # matters (1 vs >=2), and "run length >= 2 ending at ti-1" is exactly
    # "cls[ti-2] is UPPER" — no run-length scan needed.
    trans = np.zeros(n, dtype=bool)
    trans[1:] = (cls[:-1] == UPPER) & (cls[1:] == LOWER)
    ti = np.nonzero(trans)[0]
    if ti.size:
        change[ti] = False  # merge single upper with following lowers
        long_ti = ti[(ti >= 2) & (cls[ti - 2] == UPPER)]
        change[long_ti - 1] = True  # split before the run's last upper
    return nondelim, np.nonzero(change)[0]


def _simple_breaks(cls: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """SimpleTokenizer: maximal alphanumeric runs, no internal breaks."""
    return cls != DELIM, np.zeros(0, dtype=np.int64)


def _hex_class_breaks(codes: np.ndarray,
                      cls: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized source_code_with_hex: class-mode breaks, minus all
    internal breaks inside runs the hex machine emits whole.

    The scalar machine (_PendingScanner, pinned by the reference goldens
    code_tokenizer.rs:335-419) reduces per delimiter-separated run to:

      emit the WHOLE run as one hex token  iff  every char is ASCII hex,
      letter case is consistent (never both a-f and A-F), and the length
      is even OR the run is single-class (all digits / all a-f / all A-F
      — the odd-length recover path hands the prefix to the class machine
      which then emits the same whole-run span);

      otherwise every failure path ("recover" with a single-class prefix,
      "backtrack" on a mixed prefix) produces EXACTLY the plain class-mode
      tokens for the run: a single-class hex prefix already carries the
      uniform char class the class machine would have assigned, so the
      recovered in-flight state is indistinguishable from a plain scan.

    Property-tested equal to the scalar machine (test_tokenizer)."""
    nondelim, breaks = _code_class_breaks(cls)
    if breaks.size == 0 or not nondelim.any():
        # a run with no internal class breaks is single-class: whole-run
        # hex emit and class mode produce the same one-token span, so
        # only break-containing runs ever need hex analysis
        return nondelim, breaks
    starts_mask = nondelim.copy()
    starts_mask[1:] &= ~nondelim[:-1]
    starts = np.nonzero(starts_mask)[0]
    ends_mask = nondelim.copy()
    ends_mask[:-1] &= ~nondelim[1:]
    ends = np.nonzero(ends_mask)[0] + 1  # exclusive
    # breaks always sit strictly inside a run (both neighbors nondelim)
    run_of = np.searchsorted(starts, breaks, side="right") - 1
    u = np.unique(run_of)
    s_u, e_u = starts[u], ends[u]
    ln = e_u - s_u
    # the hex decision only needs per-run PRESENCE of each category
    # (digit=1, lowerhex=2, upperhex=4, nonhex=8): one uint8 flag gather
    # + one bitwise_or.reduceat, no counting
    if codes.dtype == np.uint8:
        flags = _HEXFLAG_LUT8[codes]
    else:
        flags = np.full(codes.shape, 8, dtype=np.uint8)
        flags[(codes >= 48) & (codes <= 57)] = 1
        flags[(codes >= 97) & (codes <= 102)] = 2
        flags[(codes >= 65) & (codes <= 70)] = 4
    bounds = np.empty(2 * u.size, dtype=np.int64)
    bounds[0::2] = s_u
    bounds[1::2] = e_u
    if bounds[-1] >= codes.shape[0]:
        bounds = bounds[:-1]  # reduceat's last segment runs to EOF
    red = np.bitwise_or.reduceat(flags, bounds)[0::2]
    all_hex = (red & 8) == 0
    single_class = all_hex & ((red == 1) | (red == 2) | (red == 4))
    case_mixed = (red & 6) == 6  # both lowerhex and upperhex present
    whole = all_hex & ~case_mixed & ((ln % 2 == 0) | single_class)
    if whole.any():
        sel = np.searchsorted(u, run_of)
        breaks = breaks[~whole[sel]]
    return nondelim, breaks


def _cjk_mask_vec(codes: np.ndarray) -> np.ndarray:
    """Vectorized _is_cjk over UTF-32 codepoints (via the dense LUT —
    one take pass instead of ten range comparisons)."""
    return (_classify_codes_full(codes) & _CJK_BIT) != 0


def _chinese_breaks(codes: np.ndarray, cls: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """chinese_compatible as (nondelim, breaks, cls) for the shared
    vectorized pipeline: every CJK char is its own token, so a break
    lands before any nondelim char whose left neighbor or self is CJK.
    The returned cls promotes CJK codepoints to a letter class — the
    scalar tokenizer emits EVERY char in the CJK ranges, including
    non-alphanumeric ones (unassigned points), so they must not be
    treated as delimiters. ASCII batches cannot contain CJK — pure
    simple-tokenizer breaks."""
    if codes.dtype == np.uint8 or codes.size == 0:
        return cls != DELIM, np.zeros(0, dtype=np.int64), cls
    cjk = _cjk_mask_vec(codes)
    cls = np.where(cjk, np.int8(LOWER), cls)
    nondelim = cls != DELIM
    br = np.zeros(codes.shape, dtype=bool)
    br[1:] = nondelim[1:] & nondelim[:-1] & (cjk[1:] | cjk[:-1])
    return nondelim, np.nonzero(br)[0], cls


def _multilang_batch(texts: list[str], max_len: int
                     ) -> tuple[np.ndarray, list[str]]:
    """Vectorized multilang analyzer: simple alnum runs for non-CJK
    text + CONSECUTIVE-position CJK bigrams (unigram for isolated CJK
    chars), exactly multilang_tokenize's semantics. Bigrams overlap, so
    they can't ride the sentinel-split trick — they are gathered as a
    (nbigrams, 2) codepoint matrix and decoded in one pass instead.
    Property-tested equal to the scalar function (test_tokenizer)."""
    big = _SEP.join(texts)
    if big.isascii():
        # no CJK possible: identical to the simple tokenizer + lowercase
        return tokenize_batch(texts, analyzer="default", max_len=max_len)
    codes = np.frombuffer(big.encode("utf-32-le"), dtype="<u4")
    cls = _classify_codes(codes)
    nondelim = cls != DELIM
    cjk = _cjk_mask_vec(codes)
    if cjk.any() and _MULTILANG_DICT is not None:
        # dictionary segmentation (forward maximum matching) keeps the
        # per-doc scalar path — stateful longest-match over a frozenset
        toks, docs = [], []
        for i, t in enumerate(texts):
            parts = multilang_tokenize(t, max_len)
            toks.extend(parts)
            docs.extend([i] * len(parts))
        return np.asarray(docs, dtype=np.int64), toks

    # --- non-CJK word tokens via the sentinel split (CJK acts as SEP)
    word = nondelim & ~cjk
    word_cls = np.where(word, LOWER, DELIM).astype(np.int8)
    sentinel = _spans_to_sentinel_string(big, codes, word_cls,
                                         np.zeros(0, dtype=np.int64))
    lowered = sentinel.lower()
    wtoks = [t for t in lowered.split(_SEP) if t]
    wstart_mask = word.copy()
    wstart_mask[1:] &= ~word[:-1]
    wstarts = np.nonzero(wstart_mask)[0]
    # RemoveLong on original span lengths (lower() can change lengths
    # for a few non-ASCII chars; use the pre-lower spans like the
    # scalar filter does)
    wsrc = [t for t in sentinel.split(_SEP) if t]
    wlens = np.fromiter(map(len, wsrc), dtype=np.int64, count=len(wsrc))
    if (wlens > max_len).any():
        keep = wlens <= max_len
        from itertools import compress
        wtoks = list(compress(wtoks, keep.tolist()))
        wstarts = wstarts[keep]

    # --- CJK runs -> unigrams (len 1) / adjacent bigrams (len >= 2)
    rs_mask = cjk.copy()
    rs_mask[1:] &= ~cjk[:-1]
    rs = np.nonzero(rs_mask)[0]
    re_mask = cjk.copy()
    re_mask[:-1] &= ~cjk[1:]
    re_ = np.nonzero(re_mask)[0] + 1
    ln = re_ - rs
    # RemoveLong applies to the CJK grams too (scalar parity: multilang
    # _tokenize filters ALL tokens by max_len; _cjk_batch_ids does the
    # same). Hoisted above the gather: bigrams are len 2 and unigrams
    # len 1, so a max_len<2 config skips building them entirely rather
    # than constructing and discarding
    uni_starts = (rs[ln == 1] if max_len >= 1
                  else np.zeros(0, dtype=np.int64))
    uni_s = codes[uni_starts].tobytes().decode("utf-32-le").lower()
    utoks = list(uni_s)
    multi = ln >= 2
    nb = ln[multi] - 1 if max_len >= 2 else np.zeros(0, dtype=np.int64)
    if nb.size:
        off = np.arange(int(nb.sum())) - np.repeat(
            np.r_[0, np.cumsum(nb)[:-1]], nb)
        bstarts = np.repeat(rs[multi], nb) + off
        pairs = np.stack([codes[bstarts], codes[bstarts + 1]], axis=1)
        bs = pairs.astype("<u4").tobytes().decode("utf-32-le").lower()
        btoks = [bs[2 * i:2 * i + 2] for i in range(len(bstarts))]
    else:
        bstarts = np.zeros(0, dtype=np.int64)
        btoks = []

    # --- merge in text order (all start offsets are distinct)
    starts = np.concatenate([wstarts, uni_starts, bstarts])
    toks_all = np.array(wtoks + utoks + btoks, dtype=object)
    order = np.argsort(starts, kind="stable")
    starts = starts[order]
    toks = toks_all[order].tolist()

    return _token_docs(texts, starts), toks


def tokenize_batch(texts: Iterable[str], analyzer: str = "source_code_default",
                   max_len: int = 255) -> tuple[np.ndarray, list[str]]:
    """Tokenize a batch of documents with one vectorized pass.

    Returns (doc_index_per_token int64 array, token list). The expensive
    parts (classification, boundary logic, splitting, lowercasing) run at
    C speed over the concatenated batch; no per-char Python.

    Supported analyzers here: source_code_default (class-mode code
    tokenizer + lowercase + ascii-fold), source_code_with_hex (class-mode
    breaks minus whole-hex-run internal breaks, see _hex_class_breaks —
    fully vectorized, no per-doc state machine), default (simple +
    lowercase), whitespace, lowercase, raw, raw_lowercase, en_stem,
    chinese_compatible (CJK unigrams via _chinese_breaks, vectorized),
    multilang (CJK bigrams via _multilang_batch, vectorized; the
    dictionary-segmentation variant stays per-doc).
    """
    # nulls in a text column arrive as NaN (float) from pandas: normalize
    # to "" up front so EVERY analyzer path sees strings — the remaining
    # per-doc loop paths (whitespace / raw / custom / multilang-dict)
    # would otherwise crash the whole indexing task on one null cell
    # ('if not t' is truthy NaN), and the vectorized join needs str
    texts = [t if isinstance(t, str) else "" for t in texts]
    if not texts:
        return np.zeros(0, dtype=np.int64), []

    if analyzer in ("raw", "raw_lowercase", "lowercase"):
        toks, docs = [], []
        for i, t in enumerate(texts):
            if len(t) > max_len or len(t) == 0:  # nulls already ""
                continue
            toks.append(t if analyzer == "raw" else t.lower())
            docs.append(i)
        return np.asarray(docs, dtype=np.int64), toks

    if analyzer == "whitespace":
        toks, docs = [], []
        for i, t in enumerate(texts):
            if not t:
                continue
            parts = [p for p in t.split() if len(p) <= max_len]
            toks.extend(parts)
            docs.extend([i] * len(parts))
        return np.asarray(docs, dtype=np.int64), toks

    if analyzer == "multilang":
        return _multilang_batch(texts, max_len)
    # chinese_compatible joins the shared vectorized pipeline below via
    # _chinese_breaks (no per-doc Python loop)

    custom = _CUSTOM_ANALYZERS.get(analyzer)
    if custom is not None:
        toks, docs = [], []
        for i, t in enumerate(texts):
            if not t:
                continue
            parts = custom.tokenize(t, max_len)
            toks.extend(parts)
            docs.extend([i] * len(parts))
        return np.asarray(docs, dtype=np.int64), toks

    if analyzer not in ("source_code_default", "source_code_with_hex",
                        "default", "en_stem", "chinese_compatible"):
        # fail loudly: silently falling back to another tokenizer would
        # build a wrong index with no error (e.g. a custom analyzer
        # registered on the driver but not inside a Spark worker process)
        raise ValueError(
            f"unknown analyzer {analyzer!r}; built-ins: {ANALYZERS}; "
            "custom analyzers must be registered with "
            "register_custom_analyzer IN THIS PROCESS (Spark workers "
            "re-import modules — register inside the UDF closure or a "
            "module imported by it)")

    # vectorized paths: source_code_default, source_code_with_hex,
    # default, en_stem, chinese_compatible (texts already
    # null-normalized to str above)
    big = _SEP.join(texts)
    ascii_fast = big.isascii()
    if ascii_fast:
        codes = np.frombuffer(big.encode("ascii"), dtype=np.uint8)
        cls = _CLS_LUT8[codes]
    else:
        codes = np.frombuffer(big.encode("utf-32-le"), dtype="<u4")
        cls = _classify_codes(codes)

    if analyzer == "source_code_default":
        nondelim, breaks = _code_class_breaks(cls)
    elif analyzer == "source_code_with_hex":
        nondelim, breaks = _hex_class_breaks(codes, cls)
    elif analyzer == "chinese_compatible":
        nondelim, breaks, cls = _chinese_breaks(codes, cls)
    else:  # default / en_stem -> simple tokenizer
        nondelim, breaks = _simple_breaks(cls)

    sentinel = _spans_to_sentinel_string(big, codes, cls, breaks)
    lowered = sentinel.lower()
    if not lowered.isascii() and analyzer.startswith("source_code"):
        lowered = ascii_fold(lowered)
    toks = [t for t in lowered.split(_SEP) if t]

    # token [start, end) spans in `big` coords: doc mapping + RemoveLong
    # from span arithmetic (no second split / per-token len pass)
    starts, ends = _token_spans(nondelim, breaks)
    docs = _token_docs(texts, starts)
    raw_lens = ends - starts  # original (pre-lowercase/fold) lengths
    if (raw_lens > max_len).any():
        from itertools import compress
        keep = raw_lens <= max_len
        toks = list(compress(toks, keep.tolist()))
        docs = docs[keep]
    if analyzer == "en_stem":
        toks = [porter_stem(t) for t in toks]
    return docs, toks


def tokenize_one(text: str, analyzer: str = "source_code_default",
                 max_len: int = 255) -> list[str]:
    """Tokenize a single string (query-time path)."""
    _, toks = tokenize_batch([text], analyzer=analyzer, max_len=max_len)
    return toks


# ---------------------------------------------------------------------------
# No-string term-id path (indexing hot path)
# ---------------------------------------------------------------------------

_ID_BUCKETS = (8, 16, 32)  # padded key widths; > 32 falls back to strings

# _KEY_MASKS[j][n]: the bytes of key word j (bytes 8j..8j+7, little-endian)
# that lie inside a token of length n
_KEY_MASKS = np.array(
    [[(1 << 8 * min(max(n - 8 * j, 0), 8)) - 1
      for n in range(_ID_BUCKETS[-1] + 1)]
     for j in range(_ID_BUCKETS[-1] // 8)], dtype="<u8")


def _ids_via_strings(texts, analyzer, max_len):
    """Fallback: materialize token strings, then factorize + sort."""
    doc_idx, toks = tokenize_batch(texts, analyzer=analyzer, max_len=max_len)
    if not toks:
        return doc_idx, np.zeros(0, dtype=np.int64), np.array([], dtype=object)
    raw_codes, uniques = pd.factorize(np.array(toks, dtype=object),
                                      sort=False)
    order = np.argsort(uniques, kind="stable")
    terms_sorted = uniques[order]
    remap = np.empty(len(order), dtype=np.int64)
    remap[order] = np.arange(len(order))
    return doc_idx, remap[raw_codes], terms_sorted


def _merge_sorted_idx(a: np.ndarray, b: np.ndarray
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Positions of a's and b's elements in their merged sorted order
    (a and b each sorted; ties place a first). One searchsorted of b
    into a instead of an argsort over the concatenation."""
    ins = np.searchsorted(a, b, side="right")
    ib = ins + np.arange(b.size)
    mask = np.ones(a.size + b.size, dtype=bool)
    mask[ib] = False
    ia = np.nonzero(mask)[0]
    return ia, ib


def _cjk_batch_ids(clean: list[str], analyzer: str, max_len: int
                   ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ids path for chinese_compatible / multilang (bigram mode): CJK
    tokens are 1-2 codepoints, so they dedup as uint64 keys built
    straight from the UTF-32 code stream — no Python string is created
    per token, only per UNIQUE term at decode time. Non-CJK word runs
    (sparse in CJK text) go through the string pipeline. The CJK ranges
    contain no cased codepoints, so the lowercase filter is an identity
    on the key side. Property-tested equal to tokenize_batch +
    factorize."""
    big = _SEP.join(clean)
    codes = np.frombuffer(big.encode("utf-32-le"), dtype="<u4")
    full = _classify_codes_full(codes)
    cls = full & ~np.int8(_CJK_BIT)
    cjk = (full & _CJK_BIT) != 0

    # --- CJK token starts + uint64 keys -------------------------------
    # key layout (cp1 << 32) | cp2, cp2 = 0 for 1-char terms: numeric
    # u64 order == lexicographic term order (cp1 first, absent-second
    # sorts before any cp2), so the vocabulary sorts as a u64 array
    # instead of an object-string argsort
    if analyzer == "chinese_compatible":
        c_starts = np.nonzero(cjk)[0]
        c_keys = codes[c_starts].astype(np.uint64) << np.uint64(32)
        c_lens = np.ones(c_starts.size, dtype=np.int64)
    else:  # multilang: unigram for isolated chars, adjacent bigrams
        rs_mask = cjk.copy()
        rs_mask[1:] &= ~cjk[:-1]
        rs = np.nonzero(rs_mask)[0]
        re_mask = cjk.copy()
        re_mask[:-1] &= ~cjk[1:]
        re_ = np.nonzero(re_mask)[0] + 1
        ln = re_ - rs
        uni = rs[ln == 1]
        multi = ln >= 2
        nb = ln[multi] - 1
        if nb.size:
            off = np.arange(int(nb.sum())) - np.repeat(
                np.r_[0, np.cumsum(nb)[:-1]], nb)
            bst = np.repeat(rs[multi], nb) + off
        else:
            bst = np.zeros(0, dtype=np.int64)
        # uni and bst are each sorted and disjoint: scatter-merge to
        # text order (no argsort later)
        ia, ib = _merge_sorted_idx(uni, bst)
        c_starts = np.empty(uni.size + bst.size, dtype=np.int64)
        c_starts[ia] = uni
        c_starts[ib] = bst
        c_keys = np.empty(c_starts.size, dtype=np.uint64)
        c_keys[ia] = codes[uni].astype(np.uint64) << np.uint64(32)
        c_keys[ib] = (codes[bst].astype(np.uint64) << np.uint64(32)
                      | codes[bst + 1].astype(np.uint64))
        c_lens = np.ones(c_starts.size, dtype=np.int64)
        c_lens[ib] = 2
    if max_len < 2 and c_starts.size:
        keep = c_lens <= max_len
        c_starts, c_keys = c_starts[keep], c_keys[keep]

    # --- non-CJK word tokens via the string pipeline ------------------
    word = (cls != DELIM) & ~cjk
    if word.any():
        word_cls = np.where(word, LOWER, DELIM).astype(np.int8)
        sentinel = _spans_to_sentinel_string(
            big, codes, word_cls, np.zeros(0, dtype=np.int64))
        wtoks = [t for t in sentinel.lower().split(_SEP) if t]
        w_starts, w_ends = _token_spans(word, np.zeros(0, dtype=np.int64))
        w_lens = w_ends - w_starts
        if (w_lens > max_len).any():
            from itertools import compress
            keep = w_lens <= max_len
            wtoks = list(compress(wtoks, keep.tolist()))
            w_starts = w_starts[keep]
    else:
        wtoks, w_starts = [], np.zeros(0, dtype=np.int64)

    # --- per-space vocabularies, each sorted ---------------------------
    ntok = len(wtoks) + c_starts.size
    if ntok == 0:
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64),
                np.array([], dtype=object))
    if wtoks:
        w_inv, w_uniq = pd.factorize(np.array(wtoks, dtype=object),
                                     sort=False)
        w_order = np.argsort(w_uniq, kind="stable")
        w_terms = np.asarray(w_uniq, dtype=object)[w_order]
        w_rank = np.empty(len(w_order), dtype=np.int64)
        w_rank[w_order] = np.arange(len(w_order))
        w_codes = w_rank[w_inv]
    else:
        w_terms = np.array([], dtype=object)
        w_codes = np.zeros(0, dtype=np.int64)
    if c_starts.size:
        c_inv, c_uniq = pd.factorize(c_keys)
        u = np.asarray(c_uniq, dtype=np.uint64)
        c_order = np.argsort(u, kind="stable")  # u64 sort == lex order
        u_sorted = u[c_order]
        c_rank = np.empty(u.size, dtype=np.int64)
        c_rank[c_order] = np.arange(u.size)
        c_codes = c_rank[c_inv]
        # decode UNIQUE keys only: (hi, lo) -> utf-32; lo == 0 means a
        # 1-char term (tokens never contain NUL)
        mat = np.empty((u.size, 2), dtype="<u4")
        mat[:, 0] = (u_sorted >> np.uint64(32)).astype("<u4")
        mat[:, 1] = (u_sorted & np.uint64(0xFFFFFFFF)).astype("<u4")
        s = mat.tobytes().decode("utf-32-le")
        c_terms = np.array(
            [s[2 * i:2 * i + 2].rstrip("\x00") for i in range(u.size)],
            dtype=object)
    else:
        c_terms = np.array([], dtype=object)
        c_codes = np.zeros(0, dtype=np.int64)

    # --- merge the two sorted vocabularies -----------------------------
    # word terms never contain CJK chars and CJK terms are pure CJK, so
    # the vocabularies are disjoint; merge positions come from one
    # searchsorted over the (usually small) word vocabulary
    via, vib = _merge_sorted_idx(w_terms, c_terms)
    terms_sorted = np.empty(w_terms.size + c_terms.size, dtype=object)
    terms_sorted[via] = w_terms
    terms_sorted[vib] = c_terms
    token_codes = np.empty(ntok, dtype=np.int64)
    token_codes[:len(wtoks)] = via[w_codes] if wtoks else 0
    if c_starts.size:
        token_codes[len(wtoks):] = vib[c_codes]

    # --- text order (scatter-merge of two sorted start arrays) ---------
    ia, ib = _merge_sorted_idx(w_starts, c_starts)
    starts = np.empty(ntok, dtype=np.int64)
    starts[ia] = w_starts
    starts[ib] = c_starts
    ordered_codes = np.empty(ntok, dtype=np.int64)
    ordered_codes[ia] = token_codes[:len(wtoks)]
    ordered_codes[ib] = token_codes[len(wtoks):]

    return _token_docs(clean, starts), ordered_codes, terms_sorted


def tokenize_batch_ids(texts: Iterable[str],
                       analyzer: str = "source_code_default",
                       max_len: int = 255
                       ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Tokenize a batch straight to sorted term ids — no per-token Python
    string is ever created on the fast path.

    Returns (doc_idx int64, term_codes int64, terms_sorted). term_codes[i]
    is the rank of token i's term in terms_sorted. Tokens are keyed by
    their lowered bytes, gathered as 1, 2 or 4 little-endian u64 words
    (widths 8/16/32) and zeroed past the token's end (tokens never contain
    NUL, so zero-padding is injective within a length bucket and buckets
    hold disjoint length ranges), then deduplicated by a hash factorize
    of the uint64/void keys — C-speed dedup with exact keys.

    Fast path requires ASCII input and analyzer in {source_code_default,
    source_code_with_hex, default}; anything else falls back to
    tokenize_batch + factorize, which is property-tested equal.
    """
    texts = list(texts)
    if not texts:
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64),
                np.array([], dtype=object))
    if analyzer in ("chinese_compatible", "multilang"):
        if analyzer == "multilang" and _MULTILANG_DICT is not None:
            # dictionary segmentation stays on the scalar path
            return _ids_via_strings(texts, analyzer, max_len)
        clean = [(t if isinstance(t, str) else "") for t in texts]
        return _cjk_batch_ids(clean, analyzer, max_len)
    if analyzer not in ("source_code_default", "source_code_with_hex",
                        "default"):
        return _ids_via_strings(texts, analyzer, max_len)
    clean = [(t if isinstance(t, str) else "") for t in texts]
    big = _SEP.join(clean)
    if not big.isascii():
        return _ids_via_strings(texts, analyzer, max_len)

    codes = np.frombuffer(big.encode("ascii"), dtype=np.uint8)
    cls = _CLS_LUT8[codes]
    if analyzer == "source_code_default":
        nondelim, breaks = _code_class_breaks(cls)
    elif analyzer == "source_code_with_hex":
        nondelim, breaks = _hex_class_breaks(codes, cls)
    else:
        nondelim, breaks = _simple_breaks(cls)
    if not nondelim.any():
        return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64),
                np.array([], dtype=object))

    # token spans in `big` coordinates
    starts, ends = _token_spans(nondelim, breaks)
    lengths = ends - starts

    # doc mapping + RemoveLong(255)
    doc_idx = _token_docs(clean, starts)
    if (lengths > max_len).any():
        keep = lengths <= max_len
        starts, lengths, doc_idx = starts[keep], lengths[keep], doc_idx[keep]

    # lowercase (ASCII: UPPER class is exactly A-Z) + pad for gathers;
    # `words` views it as one little-endian u64 starting at EVERY byte
    lowbuf = np.zeros(len(codes) + _ID_BUCKETS[-1], dtype=np.uint8)
    np.add(codes, (cls == UPPER).view(np.uint8) << 5,
           out=lowbuf[:len(codes)])
    words = np.ndarray(len(lowbuf) - 7, dtype="<u8", buffer=lowbuf,
                       strides=(1,))

    ntok = len(starts)
    token_codes = np.empty(ntok, dtype=np.int64)
    all_terms: list[np.ndarray] = []
    offset = 0
    lo = 0
    handled = np.zeros(ntok, dtype=bool)
    for W in _ID_BUCKETS:
        sel = (lengths > lo) & (lengths <= W)
        lo = W
        if not sel.any():
            continue
        handled |= sel
        s_b = starts[sel]
        l_b = lengths[sel]
        # one unaligned u64 gather per 8 key bytes, masked to the token's
        # length: the bytes past its end read as the zero padding
        nw = W // 8
        mat = np.empty((len(s_b), nw), dtype="<u8")
        for j in range(nw):
            np.bitwise_and(words[s_b + 8 * j], _KEY_MASKS[j][l_b],
                           out=mat[:, j])
        if W == 8:
            keys = mat.ravel()
        else:
            keys = mat.view(np.dtype((np.void, W))).ravel()
        # hash-based factorize, NOT sort-based np.unique: O(n) with a
        # hashtable vs an argsort of every token occurrence (~5x on the
        # dominant 8-byte bucket); uniques come back first-seen-ordered,
        # which is fine — the final vocabulary argsort remaps all codes
        inv, uniq = pd.factorize(keys)
        token_codes[sel] = inv + offset
        ub = np.asarray(uniq, dtype=keys.dtype).tobytes()  # key byte order
        all_terms.append(np.array(
            [ub[i * W:(i + 1) * W].rstrip(b"\x00").decode("ascii")
             for i in range(len(uniq))], dtype=object))
        offset += len(uniq)
    rest = ~handled
    if rest.any():
        # rare long tokens (> 32 chars): materialize just these as strings
        idx = np.nonzero(rest)[0]
        toks = [big[starts[i]:starts[i] + lengths[i]].lower()
                for i in idx.tolist()]
        raw, uniq = pd.factorize(np.array(toks, dtype=object), sort=False)
        token_codes[idx] = raw + offset
        all_terms.append(uniq.astype(object))
        offset += len(uniq)

    terms = np.concatenate(all_terms) if all_terms else np.array([], object)
    order = np.argsort(terms, kind="stable")
    terms_sorted = terms[order]
    remap = np.empty(len(order), dtype=np.int64)
    remap[order] = np.arange(len(order))
    return doc_idx, remap[token_codes], terms_sorted


ANALYZERS = (
    "raw", "raw_lowercase", "lowercase", "default", "en_stem", "whitespace",
    "source_code_default", "source_code_with_hex", "chinese_compatible",
    "multilang",
)


# ---------------------------------------------------------------------------
# chinese_compatible + custom tokenizer registry
# ---------------------------------------------------------------------------

def _is_cjk(cp: int) -> bool:
    return (0x4E00 <= cp <= 0x9FFF or 0x3400 <= cp <= 0x4DBF
            or 0xF900 <= cp <= 0xFAFF or 0x3040 <= cp <= 0x30FF
            or 0xAC00 <= cp <= 0xD7AF)


def chinese_compatible_tokenize(text: str, max_len: int = 255) -> list[str]:
    """CJK-aware tokenizer (reference registry entry
    quickwit-query/src/tokenizers/mod.rs:71-75, chinese_compatible.rs):
    every CJK character is its own token; other text forms simple
    alphanumeric runs; lowercased, RemoveLong(255)."""
    out: list[str] = []
    run: list[str] = []
    for ch in text:
        cp = ord(ch)
        if _is_cjk(cp):
            if run:
                out.append("".join(run))
                run = []
            out.append(ch)
        elif ch.isalnum():
            run.append(ch)
        else:
            if run:
                out.append("".join(run))
                run = []
    if run:
        out.append("".join(run))
    return [t.lower() for t in out if len(t) <= max_len]


# process-local CJK segmentation dictionary for `multilang`
# (words frozenset, max word length); None => bigram fallback
_MULTILANG_DICT: tuple[frozenset, int] | None = None


def register_multilang_dictionary(words) -> None:
    """Dictionary-backed CJK segmentation for the `multilang` analyzer
    — the reference's feature-gated Lindera path
    (quickwit-query/src/tokenizers/mod.rs:94-102), re-expressed as
    forward maximum matching (the classic public dictionary
    segmentation: at each offset take the LONGEST dictionary word;
    unmatched chars emit unigrams). Deterministic, no morphological
    model needed; pass None/empty to reset to the bigram fallback.

    Per-process registration like register_custom_analyzer: Spark
    workers re-import modules, so register inside the UDF closure (or
    a module it imports) for distributed builds."""
    global _MULTILANG_DICT
    ws = frozenset(w for w in (words or ()) if w)
    _MULTILANG_DICT = (ws, max(len(w) for w in ws)) if ws else None


def _segment_cjk_dict(run: str, out: list) -> None:
    """Forward maximum matching of one CJK run against the registered
    dictionary; single chars fall out as unigrams. Tokens occupy
    consecutive positions (phrase adjacency stays exact, like the
    bigram path)."""
    ws, maxw = _MULTILANG_DICT
    i, n = 0, len(run)
    while i < n:
        for ln in range(min(maxw, n - i), 1, -1):
            if run[i:i + ln] in ws:
                out.append(run[i:i + ln])
                i += ln
                break
        else:
            out.append(run[i])
            i += 1


def multilang_tokenize(text: str, max_len: int = 255) -> list[str]:
    """Multi-language tokenizer (reference registry entry `multilang`,
    quickwit-query/src/tokenizers/mod.rs:94-102 — feature-gated
    Lindera morphological segmentation + Whatlang detection). The
    morphological dictionaries are not public-dependency-free, so this
    is the classic dictionary-less CJK-bigram fallback (Lucene
    CJKAnalyzer semantics): a CJK run of length >= 2 emits its
    adjacent-pair bigrams at CONSECUTIVE positions — never interleaved
    with unigrams, which would corrupt position adjacency and silently
    break phrase queries (doc "ABC" as [a,b,c,ab,bc] puts ab two
    positions after b, so phrase "AB" = [a,b,ab] could never match).
    An isolated CJK char emits its unigram. Tradeoff (same as
    Lucene's): a single-char query only matches single-char runs — use
    `chinese_compatible` (pure unigrams) when single-char recall
    matters more than phrase exactness. Non-CJK text takes the simple
    alphanumeric-run + lowercase pipeline the reference defaults to
    for undetected languages."""
    out: list[str] = []
    run: list[str] = []
    cjk_run: list[str] = []

    def flush_cjk():
        if _MULTILANG_DICT is not None and cjk_run:
            # dictionary path (register_multilang_dictionary): forward
            # maximum matching — real word boundaries instead of the
            # recall-lossy bigram approximation
            _segment_cjk_dict("".join(cjk_run), out)
        elif len(cjk_run) == 1:
            out.append(cjk_run[0])
        elif cjk_run:
            out.extend(a + b for a, b in zip(cjk_run, cjk_run[1:]))
        cjk_run.clear()

    for ch in text:
        if _is_cjk(ord(ch)):
            if run:
                out.append("".join(run))
                run = []
            cjk_run.append(ch)
        elif ch.isalnum():
            flush_cjk()
            run.append(ch)
        else:
            flush_cjk()
            if run:
                out.append("".join(run))
                run = []
    flush_cjk()
    if run:
        out.append("".join(run))
    return [t.lower() for t in out if len(t) <= max_len]


class CustomAnalyzer:
    """User tokenizer: base tokenizer + filter chain (reference:
    quickwit-doc-mapper/src/doc_mapper/tokenizer_entry.rs — types
    simple | regex | ngram; filters lower_caser | remove_long |
    ascii_folding)."""

    def __init__(self, kind: str, pattern: str | None = None,
                 min_gram: int = 2, max_gram: int = 3,
                 prefix_only: bool = False,
                 filters: tuple[str, ...] = ("remove_long", "lower_caser")):
        if kind not in ("simple", "regex", "ngram"):
            raise ValueError(f"unknown tokenizer type {kind!r}")
        if kind == "regex":
            if not pattern:
                raise ValueError("regex tokenizer requires a pattern")
            import re as _re
            self._rx = _re.compile(pattern)
        if kind == "ngram" and not 0 < min_gram <= max_gram:
            raise ValueError("ngram requires 0 < min_gram <= max_gram")
        self.kind = kind
        self.min_gram, self.max_gram = min_gram, max_gram
        self.prefix_only = prefix_only
        self.filters = filters

    def tokenize(self, text: str, max_len: int = 255) -> list[str]:
        if not text:
            return []
        if self.kind == "regex":
            # full matches, not capture groups (findall would return the
            # groups and corrupt tokens for patterns like (\w+)@(\w+))
            toks = [m.group(0) for m in self._rx.finditer(text)]
        elif self.kind == "ngram":
            toks = []
            starts = (0,) if self.prefix_only else range(len(text))
            for i in starts:
                for g in range(self.min_gram, self.max_gram + 1):
                    if i + g <= len(text):
                        toks.append(text[i:i + g])
        else:  # simple: maximal alphanumeric runs, case PRESERVED —
            # the filter chain below decides about lowercasing
            import re as _re
            toks = _re.findall(r"[^\W_]+", text, _re.UNICODE)
        for f in self.filters:
            if f == "lower_caser":
                toks = [t.lower() for t in toks]
            elif f == "remove_long":
                toks = [t for t in toks if len(t) <= max_len]
            elif f == "ascii_folding":
                toks = [ascii_fold(t) for t in toks]
            else:
                raise ValueError(f"unknown token filter {f!r}")
        return toks


_CUSTOM_ANALYZERS: dict[str, CustomAnalyzer] = {}
# bumped by every registration: a name can be redefined at runtime, so a
# cache of analyzed results keys on this, not on the analyzer's name alone
_ANALYZER_GENERATION = 0


def register_custom_analyzer(name: str, kind: str, **kwargs) -> None:
    """Register a user tokenizer usable anywhere an analyzer name is
    accepted (IndexConfig.tokenizer, query-time tokenization)."""
    global _ANALYZER_GENERATION
    if name in ANALYZERS:
        raise ValueError(f"{name!r} is a built-in analyzer")
    _CUSTOM_ANALYZERS[name] = CustomAnalyzer(kind, **kwargs)
    _ANALYZER_GENERATION += 1


def analyzer_generation() -> int:
    """Changes whenever a custom analyzer is (re)defined."""
    return _ANALYZER_GENERATION


def get_custom_analyzer(name: str) -> CustomAnalyzer | None:
    return _CUSTOM_ANALYZERS.get(name)
