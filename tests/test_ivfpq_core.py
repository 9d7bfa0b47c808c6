"""The IVF-PQ search core (``simsearch._ivfpq_search_codes``) against
a small numpy IVF-PQ model written here, and its Spark job count.

The model follows the index contract: values quantized as
round-half-away(x * 2**20) to int64; coarse centroids are vec_id
100..115; the residual codebook of each 8-dim subspace is the residual
subvectors of vec_id 0..15; every distance is an exact integer squared
L2 with ties to the lowest id; a query probes its 4 nearest lists,
never matches its own vec_id, and ranks by (approx_sqdist, vec_id)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

SUBS, SUBDIM, N_PROBE = 8, 8, 4
CIDS = np.arange(100, 116)


def _quantize(v):
    x = np.asarray(v, dtype=np.float64) * (1 << 20)
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def _sq(a, b):
    return ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)


class _Model:
    def __init__(self, ids, vecs):
        x = _quantize(vecs)
        pos = {int(v): i for i, v in enumerate(ids)}
        self.ids = np.asarray(ids, dtype=np.int64)
        self.cents = x[[pos[c] for c in CIDS]]
        self.assign = _sq(x, self.cents).argmin(axis=1)
        resid = x - self.cents[self.assign]
        train = resid[[pos[c] for c in range(16)]]
        self.books = [train[:, s * SUBDIM:(s + 1) * SUBDIM] for s in range(SUBS)]
        self.codes = np.stack(
            [_sq(resid[:, s * SUBDIM:(s + 1) * SUBDIM], self.books[s]).argmin(axis=1)
             for s in range(SUBS)], axis=1)

    def probes(self, vec):
        cd = _sq(_quantize(vec)[None, :], self.cents)[0]
        return np.lexsort((CIDS, cd))[:N_PROBE]

    def search(self, qid, vec, k):
        """[(vec_id, approx_sqdist, rank)] for one query."""
        qq = _quantize(vec)
        ids, dist = [], []
        for c in self.probes(vec):
            members = np.nonzero((self.assign == c) & (self.ids != qid))[0]
            qr = qq - self.cents[c]
            lut = [_sq(qr[None, s * SUBDIM:(s + 1) * SUBDIM], self.books[s])[0]
                   for s in range(SUBS)]
            ids.append(self.ids[members])
            dist.append(sum(lut[s][self.codes[members, s]] for s in range(SUBS)))
        ids, dist = np.concatenate(ids), np.concatenate(dist)
        order = np.lexsort((ids, dist))[:k]
        return [(int(ids[i]), int(dist[i]), r + 1) for r, i in enumerate(order)]


def _by_query(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["approx_sqdist"], r["rank"])
        )
    return out


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """300 clustered float32 vectors in [-2, 2]; vec_ids 300 and 301
    are copies of 200 (same list, same codes: a three-way distance
    tie).  Queries: 5 (indexed, so it must not find itself), 9001
    (next to 200) and 9002 (far side of the space)."""
    from meteaudata_spark.ext.simsearch import build_ivfpq_index

    rng = np.random.default_rng(7)
    centers = rng.uniform(-1.5, 1.5, size=(12, 64))
    vecs = centers[rng.integers(0, 12, 300)] + rng.normal(0, 0.25, (300, 64))
    vecs = np.clip(vecs, -2, 2).astype(np.float32)
    vecs = np.concatenate([vecs, vecs[[200, 200]]])
    ids = np.arange(302)
    base = str(tmp_path_factory.mktemp("ivfpq_core"))
    spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id bigint, embedding array<float>",
    ).write.parquet(f"{base}/emb")
    q_vecs = [
        vecs[5],
        np.clip(vecs[200] + rng.normal(0, 0.01, 64), -2, 2).astype(np.float32),
        (-vecs[50]).astype(np.float32),
    ]
    spark.createDataFrame(
        [(q, v.tolist()) for q, v in zip((5, 9001, 9002), q_vecs)],
        "vec_id bigint, embedding array<float>",
    ).write.parquet(f"{base}/queries")
    emb = spark.read.parquet(f"{base}/emb")
    build_ivfpq_index(emb, f"{base}/idx")
    return {
        "model": _Model(ids, vecs),
        "queries": dict(zip((5, 9001, 9002), q_vecs)),
        "emb": emb,
        "qdf": spark.read.parquet(f"{base}/queries"),
        "idx": f"{base}/idx",
    }


def _split_list_of(idx, vec_id):
    """Rewrite the inverted list holding ``vec_id`` as two parquet
    files, cut inside that vector's 8 code rows."""
    import pyarrow.parquet as pq

    for d in os.listdir(f"{idx}/codes"):
        p = f"{idx}/codes/{d}"
        if not d.startswith("centroid_id="):
            continue
        t = pq.read_table(p).sort_by([("vec_id", "ascending"), ("sub_id", "ascending")])
        vids = t.column("vec_id").to_numpy()
        if vec_id not in vids:
            continue
        cut = int(np.flatnonzero(vids == vec_id)[0]) + 3
        for f in os.listdir(p):
            os.remove(f"{p}/{f}")
        pq.write_table(t.slice(0, cut), f"{p}/part-00000-a.parquet")
        pq.write_table(t.slice(cut), f"{p}/part-00001-b.parquet")
        return int(d.split("=", 1)[1])
    raise AssertionError(f"vec_id {vec_id} is in no list")


def test_ivfpq_search_core_equals_numpy_model(spark, corpus):
    from meteaudata_spark.ext.simsearch import ivfpq_search, ivfpq_topk

    model, queries, idx = corpus["model"], corpus["queries"], corpus["idx"]
    # the three queries probe different list sets
    probe_sets = {tuple(sorted(model.probes(v))) for v in queries.values()}
    assert len(probe_sets) == 3
    # the copies of 200 tie with it, and the tie is inside 9001's top-10
    top = model.search(9001, queries[9001], 10)
    tied = [v for v, d, _ in top if d == top[0][1]]
    assert tied == [200, 300, 301], top
    split_cid = _split_list_of(idx, 200)
    assert split_cid == CIDS[model.assign[200]]

    def want(k):
        return {q: model.search(q, v, k) for q, v in queries.items()}

    for k in (10, 1000):
        got = _by_query(ivfpq_search(spark, idx, corpus["qdf"], k=k).collect())
        assert got == want(k), k
        assert all(v != q for q, rows in got.items() for v, _, _ in rows)
    # batches of 5 rows cut every vector's 8 code rows apart
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        got = _by_query(ivfpq_search(spark, idx, corpus["qdf"], k=1000).collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got == want(1000)
    # the in-memory search runs the same core over the same model
    emb = corpus["emb"]
    got = _by_query(ivfpq_topk(emb, n_queries=3, k=10).collect())
    vec = {r["vec_id"]: np.array(r["embedding"], dtype=np.float32)
           for r in emb.filter(F.col("vec_id") < 3).collect()}
    assert got == {q: model.search(q, vec[q], 10) for q in range(3)}


def test_ivfpq_search_empty_query_batch(spark, corpus):
    from meteaudata_spark.ext.simsearch import ivfpq_search

    out = ivfpq_search(spark, corpus["idx"], corpus["qdf"].filter(F.col("vec_id") < 0))
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,vec_id:bigint,approx_sqdist:bigint,rank:bigint>"
    )
    assert out.collect() == []


def test_ivfpq_search_runs_at_most_three_spark_jobs(spark, corpus):
    """One collected search on a warm session: the query collect plus
    the scorer's one exchange (two jobs under AQE)."""
    from meteaudata_spark.ext.simsearch import ivfpq_search

    idx, qdf = corpus["idx"], corpus["qdf"].filter(F.col("vec_id") == 9001)
    ivfpq_search(spark, idx, qdf).collect()  # warm: codebook memo, plan shapes
    sc = spark.sparkContext
    sc.setJobGroup("ivfpq-search-job-count", "one ivfpq_search")
    try:
        rows = ivfpq_search(spark, idx, qdf).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("ivfpq-search-job-count")
    assert len(rows) == 10
    assert 0 < len(jobs) <= 3, jobs
