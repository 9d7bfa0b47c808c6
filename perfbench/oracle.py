"""Independent numpy model of the IVF-PQ index, used to check search results.

It follows the index contract documented in ``ext/simsearch.py``: values
quantized as round-half-up(x * 2**20) to int64 (Spark's ``round``); coarse centroids are the vectors
with vec_id 100..115; the residual PQ codebook of each 8-dim subspace is
the residual subvectors of vec_id 0..15; every distance is an exact
integer squared L2 and ties go to the lowest id.  A search probes the 4
nearest lists and ranks candidates by the sum of per-subspace lookup
distances, then by vec_id.
"""

from __future__ import annotations

import numpy as np

Q = 1 << 20
SUBS, SUBDIM = 8, 8
COARSE_IDS = range(100, 116)
N_PROBE = 4


def quantize(v: np.ndarray) -> np.ndarray:
    """Spark's ``round(CAST(x AS DOUBLE) * 2**20)``: half away from zero."""
    x = v.astype(np.float64) * Q
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def _sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Exact int64 squared L2 between rows of ``a`` and rows of ``b``."""
    return ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)


class IvfPq:
    def __init__(self, vectors: np.ndarray, vec_ids: np.ndarray):
        x = quantize(vectors)
        pos = {int(v): i for i, v in enumerate(vec_ids)}
        self.centroid_ids = np.array(list(COARSE_IDS), dtype=np.int64)
        self.centroids = x[[pos[c] for c in COARSE_IDS]]
        assign = np.concatenate([_sq(x[i:i + 2048], self.centroids).argmin(axis=1)
                                 for i in range(0, len(x), 2048)])
        resid = x - self.centroids[assign]
        train = resid[[pos[c] for c in range(16)]]
        self.codebook = [train[:, s * SUBDIM:(s + 1) * SUBDIM] for s in range(SUBS)]
        self.codes = np.stack(
            [_sq(resid[:, s * SUBDIM:(s + 1) * SUBDIM], self.codebook[s]).argmin(axis=1)
             for s in range(SUBS)], axis=1)
        self.assign = assign
        self.vec_ids = vec_ids.astype(np.int64)

    def search(self, query: np.ndarray, k: int) -> list[tuple[int, int]]:
        """[(vec_id, approx_sqdist)] in rank order for one query."""
        qq = quantize(query)
        cd = _sq(qq[None, :], self.centroids)[0]
        probed = np.lexsort((self.centroid_ids, cd))[:N_PROBE]
        cand_ids, cand_d = [], []
        for c in probed:
            members = np.nonzero(self.assign == c)[0]
            qr = qq - self.centroids[c]
            lut = [_sq(qr[None, s * SUBDIM:(s + 1) * SUBDIM], self.codebook[s])[0] for s in range(SUBS)]
            d = sum(lut[s][self.codes[members, s]] for s in range(SUBS))
            cand_ids.append(self.vec_ids[members])
            cand_d.append(d)
        ids, d = np.concatenate(cand_ids), np.concatenate(cand_d)
        order = np.lexsort((ids, d))[:k]
        return [(int(ids[i]), int(d[i])) for i in order]
