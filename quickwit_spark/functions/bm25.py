"""BM25 scoring in float32, matching the reference engine's golden scores.

The reference (quickwit-search/src/tests.rs:617-709, test_sort_bm25) pins
exact f32 scores for three indexing regimes:
  - record=freq + fieldnorms: full BM25
  - record=basic + fieldnorms: term frequency treated as 1
  - fieldnorms disabled: constant length norm

Formula (Lucene-style, k1=1.2, b=0.75):
    idf        = ln(1 + (N - df + 0.5) / (df + 0.5))      [computed in f32]
    weight     = idf * (k1 + 1)                            [f32]
    tf_norm(d) = tf / (tf + k1 * (1 - b + b * len(d)/avg)) [f32]
    score      = weight * tf_norm                          [f32]

The f32 evaluation order above reproduces the reference goldens bit-for-bit
(e.g. title:one -> [(0.1738279, 2), (0.15965714, 1), (0.12343242, 0)]).

Field lengths are stored quantized to a byte id via FIELD_NORMS_TABLE
(exact for lengths <= 40, geometric with 8 steps per doubling beyond — the
precise >40 table of the underlying library is not pinned by the reference
repo; ours is documented here and shared by engine and test oracle).
"""

from __future__ import annotations

import ctypes
import ctypes.util
import functools

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)


@functools.cache
def _libm_logf():
    """libm's logf, which the reference's f32::ln calls. numpy's np.log
    on an f32 dispatches to its own AVX2/AVX512 kernel where the CPU has
    one, and that kernel is 1-2 ulp off logf for about a quarter of
    (df, N) pairs. Bound on first use, not at import: find_library runs
    ldconfig."""
    logf = ctypes.CDLL(ctypes.util.find_library("m")).logf
    logf.restype = ctypes.c_float
    logf.argtypes = (ctypes.c_float,)
    return logf


def _build_fieldnorm_table() -> np.ndarray:
    table = list(range(41))
    v = 40.0
    while len(table) < 256:
        v *= 2.0 ** (1.0 / 8.0)
        nxt = max(table[-1] + 1, int(v))
        table.append(min(nxt, 2**32 - 1))
    return np.asarray(table, dtype=np.int64)


FIELD_NORMS_TABLE = _build_fieldnorm_table()


def fieldnorm_to_id(lengths: np.ndarray) -> np.ndarray:
    """Quantize token counts to byte ids (largest id whose value <= len)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    ids = np.searchsorted(FIELD_NORMS_TABLE, lengths, side="right") - 1
    return np.clip(ids, 0, 255).astype(np.uint8)


def id_to_fieldnorm(ids: np.ndarray) -> np.ndarray:
    return FIELD_NORMS_TABLE[np.asarray(ids, dtype=np.int64)]


def idf_f32(doc_freq: int, doc_count: int) -> np.float32:
    """IDF in f32 arithmetic (order matters for bit-exactness), with the
    log taken by libm logf on every host."""
    x = np.float32(1.0) + (
        (np.float32(doc_count) - np.float32(doc_freq) + np.float32(0.5))
        / (np.float32(doc_freq) + np.float32(0.5))
    )
    return np.float32(_libm_logf()(x))


class Bm25Weight:
    """Per-(term, segment) BM25 weight with a precomputed norm cache
    indexed by fieldnorm id (mirrors the reference's cached tf-norm table)."""

    __slots__ = ("weight", "cache")

    def __init__(self, doc_freq: int, doc_count: int, avg_fieldnorm: float,
                 boost: float = 1.0):
        idf = idf_f32(doc_freq, doc_count)
        self.weight = np.float32(idf * (K1 + np.float32(1.0))) * np.float32(boost)
        lens = id_to_fieldnorm(np.arange(256)).astype(np.float32)
        avg = np.float32(avg_fieldnorm) if avg_fieldnorm > 0 else np.float32(1.0)
        self.cache = (K1 * (np.float32(1.0) - B + B * lens / avg)).astype(
            np.float32)

    def score(self, tfs: np.ndarray, fieldnorm_ids: np.ndarray) -> np.ndarray:
        """Vectorized f32 scores for posting entries."""
        tf = np.asarray(tfs, dtype=np.float32)
        norm = self.cache[np.asarray(fieldnorm_ids, dtype=np.int64)]
        return (self.weight * (tf / (tf + norm))).astype(np.float32)

    def max_score(self, max_tf: np.ndarray, min_fieldnorm_id: np.ndarray
                  ) -> np.ndarray:
        """Upper bound of score for a block given its max tf and min
        fieldnorm id (block-max WAND metadata)."""
        return self.score(max_tf, min_fieldnorm_id)
