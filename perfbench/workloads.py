"""The benchmark's workloads, driven through the library's public API.

Each workload has the same shape:

* ``generate(seed)`` makes the inputs, ``stage(inputs, dir)`` puts them
  where the timed part starts from (set-up, not timed as work);
* ``warm_up(spark, dir)`` runs the workload once at full size on other
  inputs, so JIT compilation and Python worker start-up are paid in
  set-up, not in the first timed pass;
* ``measure(...)`` runs the timed part for the requested seconds and
  returns a ``Measurement``;
* ``check(...)`` compares every output with an independent oracle
  (untimed); each failed check is one failed operation.

Calls into the library sit inside ``tracer.span(layer, name)`` so a
traced run can attribute time and Spark jobs to layers.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import gen
import oracle
from tracing import Tracer

# for the untraced passes of a traced run
OFF = Tracer("off", enabled=False)

MIN_QUERIES = 8         # timed closed-loop searches per run, at least


@dataclass
class Measurement:
    wall_s: list[float]                 # one per untraced pass
    items: int                          # work items per pass
    items_s: float                      # time the items took, per pass (median)
    latency_s: list[float]              # untraced per-request latencies
    traced_wall_s: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)   # per-pass layer figures
    outputs: list = field(default_factory=list)             # for check()


def _dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose name ends with ``suffix``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _traced_fn(tracer, layer, fn):
    """Wrap a transform function so its call is a span of ``layer``."""
    @functools.wraps(fn)
    def call(*args, **kwargs):
        with tracer.span(layer, fn.__name__):
            return fn(*args, **kwargs)
    return call


# ---------------------------------------------------------------------------
# sensor_fleet
# ---------------------------------------------------------------------------
class SensorFleet:
    """Per sensor: resample -> replace_ranges -> linear_interpolation ->
    exponential_smoothing (Signal.process); then Dataset.process
    (average_signals), Dataset.save (per-series layout), Dataset.load, a
    lineage read (metadata_dict and name parsing) and a read of every
    series.  Work item: one output series."""

    name = "sensor_fleet"
    # measured passes per run, at least: the host's speed wanders, so one
    # run takes the median of several
    passes = 3
    item = "output series"
    request = "series reads after reload"
    layers = ("session", "orchestration", "metadata", "operators", "store", "opcache")

    def generate(self, seed):
        return gen.sensor_fleet(seed)

    def stage(self, fleet, stage_dir):
        # the timed part starts from the generated pandas series
        return fleet

    def warm_up(self, spark, work_dir, tracer):
        # one full-size pass on other inputs: after a one-sensor warm-up the
        # first measured pass still took ~9.5 s against ~7.5 s for the rest
        self._pass(spark, gen.sensor_fleet(0), os.path.join(work_dir, "warm"), tracer)

    def _pass(self, spark, fleet, out_dir, tracer):
        from meteaudata_spark import Dataset, DataProvenance, Signal
        from meteaudata_spark.naming import parse_version, split_full_name
        from meteaudata_spark.operators.multivariate import average_signals
        from meteaudata_spark.operators.univariate import (
            exponential_smoothing, linear_interpolation, replace_ranges, resample)

        op = (lambda f: _traced_fn(tracer, "operators", f)) if tracer.enabled else (lambda f: f)
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        signals = {}
        for k, raw in enumerate(fleet.raw):
            with tracer.span("orchestration", "Signal"):
                sig = Signal(input_data=raw, name=f"S{k}", units="mg/l",
                             provenance=DataProvenance(parameter="COD", equipment=f"sensor-{k}"),
                             spark=spark)
            n = sig.name
            chain = [
                (f"{n}_RAW#1", resample, (gen.FLEET_RESAMPLE,), {}),
                (f"{n}_RESAMPLED#1", replace_ranges, (),
                 {"index_pairs": [fleet.calibration[k]], "reason": "calibration"}),
                (f"{n}_REPLACED-RANGES#1", linear_interpolation, (), {}),
                (f"{n}_LIN-INT#1", exponential_smoothing, (), {"alpha": gen.FLEET_ALPHA}),
            ]
            for src, fn, args, kwargs in chain:
                with tracer.span("orchestration", "Signal.process"):
                    sig.process([src], op(fn), *args, **kwargs)
            signals[n] = sig
        with tracer.span("orchestration", "Dataset.process"):
            ds = Dataset(name="fleet", owner="perfbench", signals=signals)
            ds.process([f"{n}_EWMA#1" for n in signals], op(average_signals))
        probe, probe_s = {}, 0.0
        if tracer.enabled:
            raw_names = {f"{n}_RAW#1" for n in signals}
            probe, probe_s = self._run_kernels(ds, raw_names, tracer)
        with tracer.span("store", "Dataset.save"):
            path = ds.save(out_dir)
        with tracer.span("store", "Dataset.load"):
            loaded = Dataset.load(spark, path)
        # a user's lineage read after reload: the metadata layer
        with tracer.span("metadata", "Dataset.metadata_dict"):
            lineage = loaded.metadata_dict()
        with tracer.span("metadata", "naming.parse"):
            parts = {name: tuple(parse_version(p) for p in split_full_name(name))
                     for name in loaded.all_series_names()}
        latency, series = [], {}
        for sig in loaded.signals.values():
            for ts_name, ts in sig.time_series.items():
                q = time.perf_counter()
                with tracer.span("store", "read"):
                    series[ts_name] = ts.to_pandas()
                latency.append(time.perf_counter() - q)
        t1 = time.perf_counter()
        return {"wall": t1 - t0 - probe_s, "latency": latency, "series": series,
                "dataset": ds, "loaded": loaded, "lineage": lineage, "parts": parts,
                "probe": probe, "path": path}

    def _run_kernels(self, ds, raw_names, tracer):
        """Traced passes only, and left out of their wall time: run each
        derived series' kernel chain once in an operators span, as
        ``Dataset.save`` will again, so the kernels' execution shows as
        operator jobs.  Returns {series: (rows, sum of values, missing
        values)} and the seconds it took."""
        from pyspark.sql import functions as F

        v = F.col("value")
        missing = v.isNull() | F.isnan(v)
        t0 = time.perf_counter()
        out = {}
        for sig in ds.signals.values():
            for name, ts in sig.time_series.items():
                if name in raw_names:
                    continue
                with tracer.span("operators", "execute"):
                    row = ts.df.agg(F.count(F.lit(1)), F.sum(F.when(~missing, v)),
                                    F.sum(missing.cast("int"))).first()
                out[name] = (row[0], row[1], row[2])
        return out, time.perf_counter() - t0

    def measure(self, spark, fleet, seconds, tracer, work_dir):
        wall, traced_wall, latency, outputs, layer_rows = [], [], [], [], []
        start = time.perf_counter()
        i = 0
        # a traced run adds a pass: untraced, traced, untraced, so the
        # overhead estimate is not biased by passes still getting faster
        while i < self.passes + tracer.enabled or time.perf_counter() - start < seconds:
            traced = tracer.enabled and i % 2 == 1
            tr = tracer if traced else OFF
            n_spans = len(tracer.spans)
            res = self._pass(spark, fleet, os.path.join(work_dir, f"pass{i}"), tr)
            if traced:
                traced_wall.append(res["wall"])
                layer_rows.append(self._layer_figures(res, tracer.spans[n_spans:], fleet))
            else:
                wall.append(res["wall"])
                latency.extend(res["latency"])
            outputs.append(res)
            i += 1
        items = len(outputs[0]["series"])
        return Measurement(
            wall_s=wall, items=items, items_s=statistics.median(wall), latency_s=latency,
            traced_wall_s=traced_wall, layer=_median_rows(layer_rows), outputs=outputs)

    def _layer_figures(self, res, spans, fleet):
        files, nbytes = _dir_stats(res["path"])
        _, data_bytes = _dir_stats(res["path"], ".parquet")
        _, manifest_bytes = _dir_stats(res["path"], "manifest.yaml")
        values = sum(len(s) for s in res["series"].values())
        orch = [sp for sp in spans if sp.layer == "orchestration"]
        busy = lambda names: sum(sp.end - sp.start for sp in spans if sp.name in names)  # noqa: E731
        return {
            "orchestration.calls": len(orch),
            "orchestration.busy_s": sum(sp.end - sp.start for sp in orch),
            "orchestration.call_p50_ms": 1000 * statistics.median(sp.end - sp.start for sp in orch),
            "metadata.steps_total": sum(len(ts.processing_steps) for sig in res["loaded"].signals.values()
                                        for ts in sig.time_series.values()),
            "metadata.manifest_bytes": manifest_bytes,
            "operators.exec_s": busy({"execute"}),
            "operators.rows_in": len(fleet.raw) * len(fleet.raw[0]),
            "operators.rows_out": sum(rows for rows, _, _ in res["probe"].values()),
            "store.save_s": busy({"Dataset.save"}),
            "store.load_s": busy({"Dataset.load", "read"}),
            "store.files_written": files,
            "store.bytes_written": nbytes,
            "store.bytes_per_value": data_bytes / values,
        }

    def check(self, fleet, m, spark):
        """Per pass: every series against pandas, plus names, lineage step
        counts and metadata round-trip; per traced pass, the kernel
        summaries against pandas too."""
        n_sig = len(fleet.raw)
        expected = {}
        ewmas = []
        for k, raw in enumerate(fleet.raw):
            n = f"S{k}#1"
            rs = raw.resample(gen.FLEET_RESAMPLE).mean()
            lo, hi = (pd.Timestamp(x) for x in fleet.calibration[k])
            rr = rs.copy()
            rr[(rr.index >= lo) & (rr.index <= hi)] = np.nan
            li = rr.interpolate()
            ew = li.ewm(alpha=gen.FLEET_ALPHA, adjust=False, ignore_na=True).mean()
            ewmas.append(ew)
            expected.update({f"{n}_RAW#1": (raw, 0), f"{n}_RESAMPLED#1": (rs, 1),
                             f"{n}_REPLACED-RANGES#1": (rr, 2), f"{n}_LIN-INT#1": (li, 3),
                             f"{n}_EWMA#1": (ew, 4)})
        expected["AVERAGE#1_RAW#1"] = (pd.concat(ewmas, axis=1).mean(axis=1), 4 * n_sig + 1)

        attempted = failed = 0
        notes = []
        for p, res in enumerate(m.outputs):
            attempted += 1
            if set(res["series"]) != set(expected):
                failed += 1
                notes.append(f"pass {p}: series names {sorted(res['series'])}")
            steps = {ts_name: len(ts.processing_steps) for sig in res["loaded"].signals.values()
                     for ts_name, ts in sig.time_series.items()}
            attempted += 1
            if steps != {k: v[1] for k, v in expected.items()}:
                failed += 1
                notes.append(f"pass {p}: lineage step counts {steps}")
            attempted += 1
            if res["lineage"] != res["dataset"].metadata_dict():
                failed += 1
                notes.append(f"pass {p}: metadata differs after save/load")
            attempted += 1
            want_parts = {k: tuple((part.rsplit("#", 1)[0], 1) for part in k.split("_")) for k in expected}
            if res["parts"] != want_parts:
                failed += 1
                notes.append(f"pass {p}: parsed names {res['parts']}")
            for name, (rows, total, missing) in res["probe"].items():
                attempted += 1
                want = expected[name][0] if name in expected else None
                if (want is None or rows != len(want) or missing != int(want.isna().sum())
                        or not np.isclose(total or 0.0, want.sum(), rtol=1e-9, atol=1e-9)):
                    failed += 1
                    notes.append(f"pass {p}: kernel summary of {name} {(rows, total, missing)}")
            for name, (want, _) in expected.items():
                attempted += 1
                got = res["series"].get(name)
                if got is None or not _series_close(got, want):
                    failed += 1
                    notes.append(f"pass {p}: {name} differs from pandas")
        return attempted, failed, notes, {}


def _series_close(got: pd.Series, want: pd.Series) -> bool:
    if len(got) != len(want) or not (got.index == want.index).all():
        return False
    return bool(np.allclose(got.to_numpy(float), want.to_numpy(float),
                            rtol=1e-9, atol=1e-9, equal_nan=True))


def _median_rows(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------
class CorpusCuration:
    """Dedup (minhash_lsh_pairs -> dedup_clusters) over a corpus with
    planted near-duplicates and build_ivfpq_index over a 64-dim mixture,
    then a closed loop of single-query ivfpq_search calls from one client.
    Work item: one deduplicated document."""

    name = "corpus_curation"
    passes = 2            # measured dedup + build passes (fixed: ~11 s each)
    item = "documents deduplicated"
    request = "single-query searches"
    layers = ("session", "dedup", "simsearch", "opcache")

    def generate(self, seed):
        return gen.corpus(seed)

    def stage(self, corpus, stage_dir):
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(stage_dir, exist_ok=True)
        pq.write_table(pa.table({"doc_id": corpus.doc_ids, "text": corpus.texts}),
                       os.path.join(stage_dir, "docs.parquet"))
        emb = pa.FixedSizeListArray.from_arrays(pa.array(corpus.vectors.ravel()), gen.DIM)
        pq.write_table(pa.table({"vec_id": corpus.vec_ids,
                                 "embedding": emb.cast(pa.list_(pa.float32()))}),
                       os.path.join(stage_dir, "emb.parquet"))
        return corpus, stage_dir

    def warm_up(self, spark, work_dir, tracer):
        # one small dedup + build pass and one search on other inputs: a
        # cold dedup takes ~3x a warm one, a cold search ~2x, and the cold
        # cost is per plan shape, not per row.  Without the search the
        # measured searches were still getting faster at the eighth
        from meteaudata_spark import release_operator_caches

        other = gen.corpus(0, docs=300, vectors=400, clusters=10)
        staged = self.stage(other, os.path.join(work_dir, "stage"))
        index = os.path.join(work_dir, "index")
        self._dedup_build(spark, staged, index, tracer)
        release_operator_caches()
        self._query(spark, index, other, 0, tracer)

    def _dedup_build(self, spark, staged, index_dir, tracer):
        from meteaudata_spark.ext.dedup import dedup_clusters, minhash_lsh_pairs
        from meteaudata_spark.ext.simsearch import build_ivfpq_index

        _, stage_dir = staged
        t0 = time.perf_counter()
        with tracer.span("dedup", "minhash_lsh_pairs+dedup_clusters"):
            docs = spark.read.parquet(os.path.join(stage_dir, "docs.parquet"))
            pairs = minhash_lsh_pairs(docs, threshold=gen.DEDUP_THRESHOLD)
            clusters = dedup_clusters(pairs).collect()
        t1 = time.perf_counter()
        with tracer.span("simsearch", "build_ivfpq_index"):
            build_ivfpq_index(spark.read.parquet(os.path.join(stage_dir, "emb.parquet")), index_dir)
        t2 = time.perf_counter()
        return {"clusters": clusters, "pairs": pairs, "dedup_s": t1 - t0, "build_s": t2 - t1}

    def _query(self, spark, index_dir, corpus, q, tracer):
        from meteaudata_spark.ext.simsearch import ivfpq_search

        with tracer.span("simsearch", "ivfpq_search"):
            qdf = spark.createDataFrame(
                [(int(corpus.query_ids[q]), corpus.queries[q].tolist())],
                "vec_id bigint, embedding array<float>")
            return ivfpq_search(spark, index_dir, qdf, k=gen.TOP_K).collect()

    def measure(self, spark, staged, seconds, tracer, work_dir):
        from meteaudata_spark import release_operator_caches

        corpus, _ = staged
        index_dir = os.path.join(work_dir, "index")
        start = time.perf_counter()
        wall, dedup_s, traced_wall, passes, layer = [], [], [], [], {}
        for p in range(self.passes + tracer.enabled):  # traced: as in SensorFleet.measure
            traced = tracer.enabled and p % 2 == 1
            res = self._dedup_build(spark, staged, index_dir, tracer if traced else OFF)
            passes.append(res)
            if traced:
                traced_wall.append(res["dedup_s"] + res["build_s"])
                files, nbytes = _dir_stats(index_dir, ".parquet")
                layer.update({
                    "dedup.busy_s": res["dedup_s"],
                    "dedup.pairs_out": res["pairs"].count(),
                    "simsearch.build_s": res["build_s"],
                    "simsearch.index_bytes": nbytes,
                    "simsearch.index_files": files,
                })
            else:
                wall.append(res["dedup_s"] + res["build_s"])
                dedup_s.append(res["dedup_s"])
            # untimed: dedup persists intermediates, and Spark would serve
            # the next pass's identical plans from them
            release_operator_caches()

        latency, results, q_spans = [], [], []
        i = 0
        while i < MIN_QUERIES or time.perf_counter() - start < seconds:
            q = i % gen.QUERIES
            traced = tracer.enabled and i % 2 == 1
            n_spans = len(tracer.spans)
            t = time.perf_counter()
            rows = self._query(spark, index_dir, corpus, q, tracer if traced else OFF)
            dt = time.perf_counter() - t
            if traced:
                q_spans.extend(tracer.spans[n_spans:])
            else:
                latency.append(dt)
            results.append((q, rows))
            i += 1
        if tracer.enabled:
            layer["simsearch.search_busy_s"] = sum(sp.end - sp.start for sp in q_spans)
            layer["simsearch.jobs_per_query"] = statistics.median(len(sp.jobs) for sp in q_spans)
        return Measurement(
            wall_s=wall, items=len(corpus.texts), items_s=statistics.median(dedup_s),
            latency_s=latency, traced_wall_s=traced_wall, layer=layer,
            outputs=[passes, results, index_dir])

    def check(self, staged, m, spark):
        """Dedup, every pass: no false merges, planted-pair recall >= 0.9.
        Index: one code row per vector and subspace.  Each query: exactly
        the ranked (vec_id, distance) list of the numpy IVF-PQ model.
        Recall@10 is measured against exact L2 top-10."""
        corpus, _ = staged
        passes, results, index_dir = m.outputs
        attempted, failed, notes = 0, 0, []
        member_of = {d: c for c, members in enumerate(corpus.clusters) for d in members}
        for p, res in enumerate(passes):
            attempted += 1
            label = {r["doc_id"]: r["cluster_id"] for r in res["clusters"]}
            planted_of_label: dict[int, set] = {}
            for d, lbl in label.items():
                planted_of_label.setdefault(lbl, set()).add(member_of.get(d, -1 - d))
            planted = found = 0
            for members in corpus.clusters:
                for a in range(len(members)):
                    for b in range(a + 1, len(members)):
                        planted += 1
                        la = label.get(members[a])
                        found += la is not None and la == label.get(members[b])
            dedup_recall = found / planted
            false_merges = sum(len(v) > 1 for v in planted_of_label.values())
            if false_merges or dedup_recall < 0.9:
                failed += 1
                notes.append(f"pass {p} dedup: recall {dedup_recall:.3f}, {false_merges} false merges")

        attempted += 1
        codes = spark.read.parquet(os.path.join(index_dir, "codes")).count()
        if codes != len(corpus.vec_ids) * oracle.SUBS:
            failed += 1
            notes.append(f"index: {codes} code rows")

        model = oracle.IvfPq(corpus.vectors, corpus.vec_ids)
        want, recalls = {}, {}
        for q, rows in results:
            attempted += 1
            if q not in want:
                want[q] = model.search(corpus.queries[q], gen.TOP_K)
                truth = gen.exact_topk(corpus.vectors, corpus.vec_ids, corpus.queries[q])
                recalls[q] = len(truth & {v for v, _ in want[q]}) / gen.TOP_K
            qid = int(corpus.query_ids[q])
            got = sorted(rows, key=lambda r: r["rank"])
            if ([r["rank"] for r in got] != list(range(1, len(got) + 1))
                    or any(r["query_id"] != qid for r in got)
                    or [(r["vec_id"], r["approx_sqdist"]) for r in got] != want[q]):
                failed += 1
                notes.append(f"query {q}: differs from the numpy IVF-PQ model")
        recall = float(np.mean(list(recalls.values())))
        return attempted, failed, notes, {"dedup.recall": dedup_recall, "simsearch.recall_at_10": recall}


WORKLOADS = {w.name: w for w in (SensorFleet(), CorpusCuration())}
