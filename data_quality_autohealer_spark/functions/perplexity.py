"""KenLM-style word n-gram language model with stupid backoff, for per-doc
perplexity scoring inside the Arrow-batched scoring crossing.

Reference analogue: the distribution-shift MLP detector
(/root/reference/src/detectors/distribution_shift_detector.py:31-51) — a
learned score thresholded into an issue flag. Here the score is the mean
negative log-probability per word (log-perplexity) under a bigram model with
stupid backoff (Brants et al. 2007, "Large Language Models in Machine
Translation" — public): deterministic closed-form counts, no discounting
estimation.

Storage is two hashed count tables (unigram, bigram) as numpy arrays so
scoring is a pure vectorized gather — no dict lookups in the hot path.
Collisions at HASH_DIM=2^20 are negligible for seed-corpus vocabularies.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

HASH_DIM = 1 << 20
_BACKOFF = 0.4
_OOV_LOGP = np.log(1e-7)  # penalty for words unseen even at unigram level
MAX_PPLX_WORDS = 512  # score a prefix; plenty to classify word salad


def _hash_tokens_blob(tokens: list[bytes]) -> np.ndarray:
    """FNV-1a per token, vectorized over a flat token list."""
    if not tokens:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=len(tokens))
    blob = np.frombuffer(b" ".join(tokens) + b" ", dtype=np.uint8)
    # positions of token bytes: tokens separated by single spaces
    n = len(tokens)
    ends = np.cumsum(lens + 1)
    starts = ends - lens - 1
    h = np.full(n, 2166136261, dtype=np.int64)
    max_len = int(lens.max()) if n else 0
    for j in range(max_len):
        alive = lens > j
        idx = starts[alive] + j
        h_alive = h[alive]
        h[alive] = ((h_alive ^ blob[idx]) * 16777619) & 0x7FFFFFFFFFFFFFFF
    return h & (HASH_DIM - 1)


class PerplexityModel:
    """Hashed unigram/bigram counts + totals; stupid-backoff scoring."""

    def __init__(self, uni: np.ndarray, bi: np.ndarray, total: float):
        self.uni = uni  # float32[HASH_DIM] unigram counts
        self.bi = bi    # float32[HASH_DIM] bigram counts (hash of pair)
        self.total = total

    @staticmethod
    def _pair_hash(h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        return ((h1 * np.int64(1000003)) ^ h2) & (HASH_DIM - 1)

    @classmethod
    def train(cls, corpora: dict[str, str] | None = None) -> "PerplexityModel":
        if corpora is None:
            from .langid import SEED_CORPORA
            corpora = SEED_CORPORA
        uni = np.zeros(HASH_DIM, dtype=np.float32)
        bi = np.zeros(HASH_DIM, dtype=np.float32)
        total = 0.0
        for text in corpora.values():
            toks = [w.encode("utf-8") for w in text.lower().split()]
            h = _hash_tokens_blob(toks)
            np.add.at(uni, h, 1.0)
            if len(h) > 1:
                np.add.at(bi, cls._pair_hash(h[:-1], h[1:]), 1.0)
            total += len(toks)
        return cls(uni, bi, total)

    @classmethod
    def train_texts(cls, texts) -> "PerplexityModel":
        """(Re)train from observed documents — the drift-retrain path
        (reference distribution_shift_remediation.py:69-104 retrains on the
        shifted distribution). Deterministic given the text sequence."""
        return cls.train({str(i): t for i, t in enumerate(texts)})

    def save(self, path: str) -> None:
        np.savez_compressed(path, uni=self.uni, bi=self.bi,
                            total=np.array([self.total]))

    @classmethod
    def load(cls, path: str) -> "PerplexityModel":
        z = np.load(path, allow_pickle=False)
        return cls(z["uni"], z["bi"], float(z["total"][0]))

    def log_perplexity_series(self, texts: pd.Series) -> pd.Series:
        """Mean negative log-prob per word (natural log), rounded to 6dp."""
        return pd.Series(self.log_perplexity_array(texts.tolist()),
                         index=texts.index, name="log_pplx")

    def log_perplexity_array(self, texts: list) -> np.ndarray:
        """:meth:`log_perplexity_series` on a list, as a float64 array; a
        non-string entry scores 0.0.

        Vectorized across the batch: one flat token list, one hash pass, one
        gather per table, per-doc means via ``np.add.reduceat``.
        """
        tok_lists = [
            (t.lower().split()[:MAX_PPLX_WORDS] if isinstance(t, str) else [])
            for t in texts
        ]
        counts = np.fromiter((len(t) for t in tok_lists), dtype=np.int64,
                             count=len(tok_lists))
        flat = [w.encode("utf-8") for toks in tok_lists for w in toks]
        h = _hash_tokens_blob(flat)
        n_docs = len(texts)
        out = np.zeros(n_docs, dtype=np.float64)
        if len(h):
            uni_c = self.uni[h].astype(np.float64)
            # unigram logp with OOV floor
            p_uni = np.where(uni_c > 0, uni_c / self.total, np.exp(_OOV_LOGP))
            logp = np.log(p_uni)
            # bigram where both in same doc and bigram seen:
            offsets = np.cumsum(counts) - counts
            if len(h) > 1:
                ph = self._pair_hash(h[:-1], h[1:])
                bi_c = self.bi[ph].astype(np.float64)
                prev_c = uni_c[:-1]
                # position i (i>=1 within doc): pair (i-1, i)
                pos = np.arange(1, len(h))
                doc_idx = np.searchsorted(np.cumsum(counts), pos, side="right")
                same_doc = pos != offsets[np.minimum(doc_idx, n_docs - 1)]
                use_bi = (bi_c > 0) & (prev_c > 0) & same_doc
                logp_bi = np.where(
                    use_bi, np.log(np.maximum(bi_c, 1e-12) / np.maximum(prev_c, 1e-12)),
                    np.log(_BACKOFF) + np.log(p_uni[1:]),
                )
                logp[1:] = np.where(same_doc, logp_bi, logp[1:])
            nonempty = counts > 0
            if nonempty.any():
                sums = np.add.reduceat(logp, offsets[nonempty])
                out[nonempty] = -sums / counts[nonempty]
        out[counts == 0] = 0.0
        return np.round(out, 6)


_MODEL: PerplexityModel | None = None

# Env override so a drift-retrained artifact (pipeline.drift_retrain saves
# <warehouse>/models/pplx_<run>.npz) is actually USED by the scoring tasks:
# set DQA_PPLX_MODEL on the session / spark-submit --conf
# spark.executorEnv.DQA_PPLX_MODEL=... and every Python worker loads it
# instead of training the embedded seed model.
MODEL_PATH_ENV = "DQA_PPLX_MODEL"


def get_model() -> PerplexityModel:
    global _MODEL
    if _MODEL is None:
        import os
        path = os.environ.get(MODEL_PATH_ENV)
        _MODEL = (PerplexityModel.load(path) if path
                  else PerplexityModel.train())
    return _MODEL


def reset_model_cache() -> None:
    """Clear the per-process model cache (tests / model swap)."""
    global _MODEL
    _MODEL = None
