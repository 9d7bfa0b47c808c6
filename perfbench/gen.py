"""Seeded input generators.  The same seed always yields the same inputs;
the program under test only ever sees what these functions return.

Sizes are module constants so every run of a workload does the same
amount of work; only the values change with the seed.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# sensor_fleet: many small 6-minute sensor series
# ---------------------------------------------------------------------------
FLEET_SIGNALS = 2            # sensors per pass (each becomes 5 versioned series)
FLEET_POINTS = 1440          # 6 days of 6-minute samples per sensor
FLEET_NAN_SHARE = 0.05       # share of raw samples that are missing
FLEET_RESAMPLE = "5min"      # the reference's resample frequency
FLEET_CAL_HOURS = 3          # calibration window replaced by NaN
FLEET_ALPHA = 0.3            # exponential smoothing factor


@dataclass
class Fleet:
    raw: list[pd.Series]          # one "RAW" series per sensor
    calibration: list[list[str]]  # one [start, end] window per sensor


def sensor_fleet(seed: int, signals: int = FLEET_SIGNALS, points: int = FLEET_POINTS) -> Fleet:
    """Random-walk sensor readings with ~5% NaN and one calibration window
    per sensor, all on a regular 6-minute grid."""
    rng = np.random.default_rng(seed)
    start = pd.Timestamp("2024-01-01") + pd.Timedelta(days=int(rng.integers(0, 300)))
    idx = pd.date_range(start, freq="6min", periods=points)
    raw, cal = [], []
    for _ in range(signals):
        level = rng.uniform(5.0, 50.0)
        values = level + np.cumsum(rng.normal(0.0, 0.2, points))
        values[rng.random(points) < FLEET_NAN_SHARE] = np.nan
        raw.append(pd.Series(values, index=idx, name="RAW"))
        # window strictly inside the series, on whole minutes
        first = int(rng.integers(points // 10, points - points // 10 - 40))
        lo = idx[first].floor("min")
        hi = lo + pd.Timedelta(hours=FLEET_CAL_HOURS)
        cal.append([str(lo), str(hi)])
    return Fleet(raw=raw, calibration=cal)


# ---------------------------------------------------------------------------
# corpus_curation: documents with planted near-duplicates, and embeddings
# ---------------------------------------------------------------------------
DOCS = 1_500                 # documents in the corpus
DOC_WORDS = 40               # words per document
VOCAB = 20_000               # distinct words (background docs share ~no 3-grams)
DUP_CLUSTERS = 75            # planted near-duplicate clusters
DUP_MAX_SIZE = 4             # cluster sizes are drawn from 2..DUP_MAX_SIZE
DEDUP_THRESHOLD = 0.5        # Jaccard threshold passed to minhash_lsh_pairs

VECTORS = 1_500              # indexed 64-dim vectors
DIM = 64
LATENT = 4                   # intrinsic dimension of the vector mixture
MIXTURE = 16                 # Gaussian components in the latent space
QUERIES = 32                 # distinct query vectors in the closed loop
TOP_K = 10


@dataclass
class Corpus:
    doc_ids: np.ndarray           # int64, seeded shuffled order
    texts: list[str]
    clusters: list[list[int]]     # planted near-duplicate clusters (doc ids)
    vec_ids: np.ndarray           # int64, a seeded permutation of 0..VECTORS-1
    vectors: np.ndarray           # float32 (VECTORS, DIM), inside [-2, 2]
    query_ids: np.ndarray         # int64, disjoint from vec_ids
    queries: np.ndarray           # float32 (QUERIES, DIM), inside [-2, 2]


def corpus(seed: int, docs: int = DOCS, vectors: int = VECTORS, clusters: int = DUP_CLUSTERS) -> Corpus:
    """A random-word corpus with planted clusters, plus a vector mixture.

    Each planted cluster is a base document and 1..DUP_MAX_SIZE-1 variants
    that each replace one word (at distinct, non-adjacent positions away
    from the ends), so base-variant Jaccard is 35/41 ~ 0.85 and
    variant-variant Jaccard is 32/44 ~ 0.73, both above DEDUP_THRESHOLD.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(VOCAB)])
    texts: list[str] = []
    groups: list[list[int]] = []
    for _ in range(clusters):
        base = list(vocab[rng.integers(0, VOCAB, DOC_WORDS)])
        size = int(rng.integers(2, DUP_MAX_SIZE + 1))
        # positions 2..DOC_WORDS-3, at least 3 apart, so no two
        # substitutions touch the same 3-gram
        slots = rng.choice(np.arange(2, DOC_WORDS - 2, 3), size - 1, replace=False)
        members = [len(texts)]
        texts.append(" ".join(base))
        for pos in slots:
            variant = list(base)
            variant[pos] = f"x{int(rng.integers(0, 10**9))}"
            members.append(len(texts))
            texts.append(" ".join(variant))
        groups.append(members)
    while len(texts) < docs:
        texts.append(" ".join(vocab[rng.integers(0, VOCAB, DOC_WORDS)]))
    doc_ids = rng.permutation(len(texts)).astype(np.int64)

    # a Gaussian mixture in a LATENT-dim space, mapped linearly into DIM
    # dims plus small noise (embeddings have low intrinsic dimension, so
    # nearest neighbours are well defined), then scaled into the
    # quantizer's exact range [-2, 2]
    n = vectors + QUERIES
    centers = rng.normal(0.0, 1.0, (MIXTURE, LATENT))
    latent = centers[rng.integers(0, MIXTURE, n)] + rng.normal(0.0, 0.3, (n, LATENT))
    lift = rng.normal(0.0, 1.0, (LATENT, DIM)) / np.sqrt(LATENT)
    points = latent @ lift + rng.normal(0.0, 0.03, (n, DIM))
    points = (points * (1.99 / np.abs(points).max())).astype(np.float32)
    return Corpus(
        doc_ids=doc_ids,
        texts=texts,
        clusters=[[int(doc_ids[m]) for m in g] for g in groups],
        # the index samples its coarse centroids and PQ codebook from fixed
        # vec_id ranges, so ids are shuffled to make those random samples
        vec_ids=rng.permutation(vectors).astype(np.int64),
        vectors=points[:vectors],
        query_ids=np.arange(vectors, vectors + QUERIES, dtype=np.int64),
        queries=points[vectors:],
    )


def exact_topk(vectors: np.ndarray, vec_ids: np.ndarray, query: np.ndarray, k: int = TOP_K) -> set[int]:
    """Exact L2 top-k ids for one query (float64 over the float32 values)."""
    d = ((vectors.astype(np.float64) - query.astype(np.float64)) ** 2).sum(axis=1)
    return {int(vec_ids[i]) for i in np.argsort(d, kind="stable")[:k]}
