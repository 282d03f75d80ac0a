"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows on every machine. The program under test only ever sees these
generated inputs; the seed itself never reaches it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# filter_batch: synth row ids start at seed * FILTER_ID_STRIDE, so each seed
# scores a disjoint slice of the synth id space while keeping the
# row_id % 100 slice layout that oracle/rules.py labels.
FILTER_DOCS = 6_000
FILTER_ID_STRIDE = 1_000_000
FILTER_ORACLE_SAMPLE = 200

# dedup_neardup corpus shape
DEDUP_DOCS = 6_000
DEDUP_DUP_SHARE = 0.25        # share of docs that are edited copies
DEDUP_VOCAB = 8_000           # uniform vocabulary: unrelated docs share ~no shingles
DEDUP_MAX_CLUSTER = 48
DEDUP_CLUSTER_ALPHA = 2.2     # P(size = s) ~ s^-alpha: mostly pairs, a few big
DEDUP_EDIT_RATE = 0.05        # per-word edit probability of a copy

# api_check request pool
API_DOCS_PER_REQUEST = 8
API_BODIES = 48

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def filter_pages(seed: int, n: int = FILTER_DOCS) -> pd.DataFrame:
    """Synthetic web pages (pages schema) for ``run_filter``."""
    from data_quality_autohealer_spark import synth

    start = seed * FILTER_ID_STRIDE
    return synth.gen_pages_pdf(np.arange(start, start + n))


def oracle_sample_urls(pages: pd.DataFrame, seed: int,
                       k: int = FILTER_ORACLE_SAMPLE) -> list[str]:
    rng = np.random.default_rng([seed, 1])
    idx = rng.choice(len(pages), size=min(k, len(pages)), replace=False)
    return sorted(pages["url"].iloc[idx])


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    words: set[str] = set()
    while len(words) < size:
        n_syl = rng.integers(2, 5)
        words.add("".join(_SYLLABLES[i] for i in
                          rng.integers(0, len(_SYLLABLES), n_syl)))
    return np.array(sorted(words), dtype=object)


def _edit(words: list[str], rng: np.random.Generator, vocab: np.ndarray,
          rate: float) -> list[str]:
    """Copy ``words`` with per-word replace/delete/insert edits; at least one
    replacement, so a copy is never an exact duplicate of its base."""
    out: list[str] = []
    ops = rng.random(len(words))
    for w, u in zip(words, ops):
        if u < rate * 0.6:
            out.append(str(vocab[rng.integers(len(vocab))]))
        elif u < rate * 0.8:
            continue
        elif u < rate:
            out.extend([w, str(vocab[rng.integers(len(vocab))])])
        else:
            out.append(w)
    j = int(rng.integers(len(out)))
    out[j] = out[j] + "x"
    return out


def dedup_corpus(seed: int, n: int = DEDUP_DOCS) -> pd.DataFrame:
    """Pages-schema corpus with known near-duplicate clusters.

    A ``DEDUP_DUP_SHARE`` share of the docs are edited copies of a base doc;
    cluster sizes follow a power law (mostly pairs, a few clusters of tens).
    Columns: the pages schema plus ``doc_id`` and ``cluster`` (the base
    doc's id for every cluster member, -1 for a doc with no near-duplicate).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, DEDUP_VOCAB)
    n_dup_target = int(n * DEDUP_DUP_SHARE)
    sizes = np.arange(2, DEDUP_MAX_CLUSTER + 1)
    p = sizes.astype(float) ** -DEDUP_CLUSTER_ALPHA
    p /= p.sum()
    cluster_sizes: list[int] = []
    n_dup = 0
    while n_dup < n_dup_target:
        s = int(min(rng.choice(sizes, p=p), n_dup_target - n_dup + 1))
        cluster_sizes.append(s)
        n_dup += s - 1
    n_base = n - n_dup
    texts: list[str] = []
    cluster: list[int] = []
    bases = [list(vocab[rng.integers(0, len(vocab), rng.integers(60, 160))])
             for _ in range(n_base)]
    for i, words in enumerate(bases):
        texts.append(" ".join(words))
        cluster.append(-1)
    for c, s in enumerate(cluster_sizes):
        base_id = c  # the first len(cluster_sizes) base docs seed clusters
        cluster[base_id] = base_id
        for _ in range(s - 1):
            texts.append(" ".join(_edit(bases[base_id], rng, vocab,
                                        DEDUP_EDIT_RATE)))
            cluster.append(base_id)
    # shuffle so cluster members are spread over ids and buckets
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    cluster_arr = np.array(cluster)[order]
    new_id = np.empty(n, dtype=np.int64)
    new_id[order] = np.arange(n)
    cluster_out = np.where(cluster_arr >= 0, new_id[np.maximum(cluster_arr, 0)], -1)
    ids = np.arange(n, dtype=np.int64)
    ts = np.datetime64("2026-01-01T00:00:00") + ids.astype("timedelta64[s]")
    return pd.DataFrame({
        "url": [f"https://d{int(i) % 97}.example.org/doc/{int(i)}" for i in ids],
        "warc_ts": pd.Series(ts.astype("datetime64[ns]")).dt.tz_localize("UTC"),
        "html": [t.encode("utf-8") for t in texts],
        "text": texts,
        "lang": "en",
        "doc_id": ids,
        "cluster": cluster_out,
    })


def twin_subset(corpus: pd.DataFrame, seed: int, n_clusters: int = 3,
                n_single: int = 30, n_words: int = 20) -> pd.DataFrame:
    """A small slice of the dedup corpus (whole clusters plus singletons,
    each text cut to its first ``n_words`` words) that the DuckDB
    recursive-CTE twin can close over in a few seconds: its cost grows
    with the shingles per doc far more than with the doc count."""
    rng = np.random.default_rng([seed, 3])
    reps = corpus.loc[corpus["cluster"] >= 0, "cluster"].unique()
    sizes = corpus.loc[corpus["cluster"] >= 0].groupby("cluster").size()
    small = [r for r in reps if sizes[r] <= 8]
    pick = set(rng.choice(small, size=min(n_clusters, len(small)),
                          replace=False).tolist())
    singles = corpus.index[corpus["cluster"] < 0]
    single_pick = rng.choice(singles, size=min(n_single, len(singles)),
                             replace=False)
    mask = corpus["cluster"].isin(pick) | corpus.index.isin(single_pick)
    sub = corpus.loc[mask, ["doc_id", "text"]].reset_index(drop=True)
    sub["text"] = sub["text"].str.split().str[:n_words].str.join(" ")
    return sub


def api_bodies(seed: int, n: int = API_BODIES,
               per_request: int = API_DOCS_PER_REQUEST) -> list[list[dict]]:
    """Request bodies for ``POST /quality/check``: ``n`` fixed groups of
    ``per_request`` synth pages (text + claimed lang), cycled by clients."""
    from data_quality_autohealer_spark import synth

    start = seed * FILTER_ID_STRIDE + 500_000
    pages = synth.gen_pages_pdf(np.arange(start, start + n * per_request))
    docs = [{"text": t, "lang": lg} for t, lg in zip(pages["text"],
                                                      pages["lang"])]
    return [docs[i * per_request:(i + 1) * per_request] for i in range(n)]
