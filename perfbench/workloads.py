"""The product entry points the benchmark calls, each materialized to a
result and checked against the generator's answers, and the workloads
built from them.

Every part owns what its calls create and releases it in ``cleanup()``:
cached blocks, streaming queries and checkpoint dirs.
"""

from __future__ import annotations

import os
import shutil

from potoos_spark import DetectorConfig, PotoosSession, TimeSeriesConfig
from potoos_spark.operators import dedup
from potoos_spark.streaming import monitor as stream_monitor

import gen

STREAM_SCHEMA = "series_key string, ts_ms bigint, value double"
STREAM_THRESHOLD = 2.5  # absolute score threshold for the streaming flag


class Part:
    def __init__(self, spark, inputs, work_dir):
        self.spark, self.inputs = spark, inputs

    def warmup(self):
        return self.call()

    def progress(self, result) -> list:
        """Streaming progress of the call's non-empty micro-batches."""
        return []

    def cleanup(self):
        self.spark.catalog.clearCache()


class TsMonitor(Part):
    """``PotoosSession.monitor``: filter, latest-dedup, 10 s avg buckets,
    derivative detector, anomaly windows and per-series metadata."""

    ts_cfg = TimeSeriesConfig(
        latest=True,
        filter_by_min_value=gen.VALUE_FLOOR,
        aggregation_type="avg",
        bucket_size_msec=gen.BUCKET_MS,
    )
    det_cfg = DetectorConfig(score_percent_threshold=0.5)

    def call(self):
        points = self.spark.read.parquet(self.inputs.path)
        res = PotoosSession(self.spark).monitor(points, self.ts_cfg, self.det_cfg)
        return res.anomalies.collect(), res.meta.collect()

    def check(self, result) -> list:
        anomalies, meta = result
        exp = self.inputs.expect
        errors = []
        if len(meta) != exp["series"] or len({r.series_key for r in meta}) != exp["series"]:
            errors.append(f"meta rows {len(meta)} != {exp['series']} series")
        short = [r.series_key for r in meta if r.data_points_analyzed != exp["buckets_per_series"]]
        if short:
            errors.append(f"{len(short)} series with wrong bucket count, e.g. {short[0]}")
        windows = {}
        for r in anomalies:
            windows.setdefault(r.series_key, []).append((r.start_ts_ms, r.end_ts_ms))
        missed = [
            k for k, b in exp["spikes"].items()
            if not any(lo <= b <= hi for lo, hi in windows.get(k, ()))
        ]
        if missed:
            errors.append(f"{len(missed)} planted spikes not in a window, e.g. {missed[0]}")
        return errors


class FuzzyDedup(Part):
    """``fuzzy_dedup_e2e``: shingle, MinHash, LSH, verify, components,
    centrality keeper."""

    def call(self):
        return dedup.fuzzy_dedup_e2e(self.spark.read.parquet(self.inputs.path)).collect()

    def check(self, rows) -> list:
        exp = self.inputs.expect
        originals = set(range(exp["originals"]))
        sources = set(exp["copy_of"].values())
        errors = []
        kept = [r.keep_id for r in rows]
        if len(kept) != len(originals) or set(kept) != originals:
            errors.append(f"kept {len(kept)} docs; expected the {len(originals)} originals")
        # a component's id is its smallest member, which is the original
        wrong = [
            r.keep_id for r in rows
            if r.component != r.keep_id
            or r.n_members != (2 if r.keep_id in sources else 1)
        ]
        if wrong:
            errors.append(f"{len(wrong)} components with wrong members, e.g. {wrong[0]}")
        return errors


class TsStream(Part):
    """``score_stream`` over a file-source replay, one file per trigger,
    ``availableNow``, into the noop sink with a fresh checkpoint."""

    ts_cfg = TimeSeriesConfig(aggregation_type="avg", bucket_size_msec=gen.BUCKET_MS)
    det_cfg = DetectorConfig(score_threshold=STREAM_THRESHOLD)

    def __init__(self, spark, inputs, work_dir):
        super().__init__(spark, inputs, work_dir)
        self.ckpt_root = os.path.join(work_dir, "checkpoints")
        self.n_calls = 0
        self.query = None

    def _replay(self, writer):
        self.n_calls += 1
        ckpt = os.path.join(self.ckpt_root, str(self.n_calls))
        sdf = (
            self.spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.inputs.path)
        )
        scored = stream_monitor.score_stream(sdf, self.ts_cfg, self.det_cfg)
        self.query = (
            writer(scored.writeStream)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        self.query.awaitTermination()
        return [p for p in self.query.recentProgress if p.numInputRows > 0]

    def call(self):
        progress = self._replay(lambda w: w.format("noop"))
        return {"progress": progress, "rows": sum(p.sink.numOutputRows for p in progress)}

    def warmup(self):
        """The same replay into ``foreachBatch``, so the checks also see
        which rows were flagged."""
        flagged, n_out = [], [0]

        def sink(df, batch_id):
            rows = df.select("series_key", "ts_ms", "is_anomaly").collect()
            n_out[0] += len(rows)
            flagged.extend((r.series_key, r.ts_ms) for r in rows if r.is_anomaly)

        progress = self._replay(lambda w: w.foreachBatch(sink))
        return {"progress": progress, "rows": n_out[0], "flagged": flagged}

    def check(self, result) -> list:
        exp = self.inputs.expect
        progress = result["progress"]
        errors = []
        if len(progress) != exp["batches"]:
            errors.append(f"{len(progress)} non-empty batches != {exp['batches']}")
        n_in = sum(p.numInputRows for p in progress)
        if n_in != self.inputs.rows:
            errors.append(f"read {n_in} rows != {self.inputs.rows}")
        if result["rows"] != exp["closed_buckets"]:
            errors.append(f"emitted {result['rows']} rows != {exp['closed_buckets']} closed buckets")
        if "flagged" in result:
            got = set(result["flagged"])
            missed = [k for k, b in exp["spikes"].items() if (k, b) not in got]
            if missed:
                errors.append(f"{len(missed)} planted spikes not flagged, e.g. {missed[0]}")
        return errors

    def progress(self, result) -> list:
        return result["progress"]

    def cleanup(self):
        if self.query is not None:
            self.query.stop()
            self.query = None
        for q in self.spark.streams.active:
            q.stop()
        super().cleanup()
        shutil.rmtree(self.ckpt_root, ignore_errors=True)


class Workload:
    """One closed-loop caller making each call of its parts in turn."""

    def __init__(self, parts):
        self.parts = parts
        self.rows = sum(p.inputs.rows for p in parts)

    def warmup(self):
        return [p.warmup() for p in self.parts]

    def call(self):
        return [p.call() for p in self.parts]

    def check(self, results) -> list:
        return [e for p, r in zip(self.parts, results) for e in p.check(r)]

    def progress(self, results) -> list:
        return [b for p, r in zip(self.parts, results) for b in p.progress(r)]

    def batch_ms(self, results, seconds) -> list:
        """Micro-batch durations of a streaming call; a batch call is one
        batch."""
        progress = self.progress(results)
        if progress:
            return [b.durationMs["triggerExecution"] for b in progress]
        return [seconds * 1000.0]

    def cleanup(self):
        for p in self.parts:
            p.cleanup()


PARTS = {"ts_monitor": TsMonitor, "fuzzy_dedup": FuzzyDedup, "ts_stream": TsStream}

# workload name -> parts (input kinds), called in this order
WORKLOADS = {
    "ts_monitor_stream": ("ts_monitor", "ts_stream"),
    "fuzzy_dedup": ("fuzzy_dedup",),
}


def generate(name, seed, work_dir, size="full") -> list:
    """The inputs of every part of workload ``name``."""
    return [
        gen.generate(kind, os.path.join(work_dir, "in"), seed, size)
        for kind in WORKLOADS[name]
    ]


def build(name, spark, inputs, work_dir) -> Workload:
    return Workload(
        [PARTS[k](spark, i, work_dir) for k, i in zip(WORKLOADS[name], inputs)]
    )
