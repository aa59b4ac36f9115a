"""f64 BM25 scores for hits the engine has already chosen.

The engine scores in f32 (functions/bm25.py) to stay rank-identical to
the reference. The gate's DuckDB oracle (`oracle_sql()` in
`__spark_entry__.py`) computes the same formula in doubles over the same
quantized fieldnorms:

    idf   = ln(1 + (N - df + 0.5)/(df + 0.5))
    score = idf * (k1+1) * tf / (tf + k1*(1 - b + b*qlen/avg))
    qlen  = FIELD_NORMS_TABLE[fieldnorm_id]   (quantized length)
    avg   = total_quantized_fieldnorm / N

so the gate reports each engine hit with this module's f64 score. It
never selects, filters or orders hits: which docs come back, and in
which order, is the engine's answer. Nothing on the serving path
imports it."""

from __future__ import annotations

import math

import numpy as np

from ..functions.bm25 import id_to_fieldnorm

# exact doubles: float(np.float32(1.2)) != 1.2, and the oracle SQL uses
# the literals
K1 = 1.2
B = 0.75


def term_scores_f64(reader, term: str) -> tuple[np.ndarray, np.ndarray]:
    """(docids ascending, f64 scores) of one term's postings, with the
    reader's own N, df and average fieldnorm."""
    docids, tfs, df = reader.term_postings(term)
    if df == 0:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    n = reader.num_docs
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    qlen = id_to_fieldnorm(reader.fieldnorm_ids()).astype(np.float64)
    avg = float(reader.meta["total_fieldnorm"]) / float(n)
    tf = tfs.astype(np.float64)
    norm = K1 * (1.0 - B + B * qlen[docids] / avg)
    return np.asarray(docids, np.int64), idf * (K1 + 1.0) * tf / (tf + norm)


def hit_scores_f64(reader, keys: np.ndarray, terms: list[str],
                   hit_keys, boosts: list[float] | None = None
                   ) -> np.ndarray:
    """f64 score of each hit, in the order given: the sum, in query
    order, of boost * score over the terms the hit contains.

    `keys` holds one unique key per doc of `reader` (its doc_id column),
    and `hit_keys` names the hits by those keys. Because the statistics
    are the reader's, a one-segment reader scores hits found on any
    layout of the same corpus. boosts are the per-term `term^2`
    multipliers (query_ast/mod.rs:207-218)."""
    if boosts is None:
        boosts = [1.0] * len(terms)
    elif len(boosts) != len(terms):
        # zip would silently drop terms, and with them their scores
        raise ValueError(
            f"boosts length {len(boosts)} != terms length {len(terms)}")
    doc_of = {key: doc for doc, key in enumerate(np.asarray(keys).tolist())}
    docs = np.array([doc_of[key] for key in np.asarray(hit_keys).tolist()],
                    dtype=np.int64)
    out = np.zeros(len(docs), np.float64)
    for term, boost in zip(terms, boosts):
        docids, scores = term_scores_f64(reader, term)
        if not len(docids):
            continue
        i = np.clip(np.searchsorted(docids, docs), 0, len(docids) - 1)
        has = docids[i] == docs
        out[has] += boost * scores[i[has]]
    return out
