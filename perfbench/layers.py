"""The traced run: which public functions are spans, and how the spans,
Spark job counts and streaming progress become per-layer metrics.

Every per-layer metric is reported on every workload; a layer the
workload does not enter reads 0.
"""

from __future__ import annotations

import os
import statistics
import time

from tracer import Tracer, drain_listener_bus, job_counts, job_group, materialize


def _count_input(tracer, args):
    """``read_series(df, cfg)``: rows entering retrieval, counted in a
    span of its own so no layer's self time includes the count."""
    with tracer.span("tracing.count_input"):
        n = args[0].count()
    return args, {"rows_in": n}


def _signature_boundary(tracer, args):
    """``lsh_candidate_pairs(sig, ...)``: ``minhash_dedup_pairs`` computes
    the signatures with ``minhash_signatures``' aggregation inline, so the
    signature layer is timed where its output enters the LSH layer."""
    with tracer.span("dedup.minhash_signatures") as rec:
        rec["counts"]["rows_out"] = materialize(args[0])
    return args, {}


# (module, attribute, span name, before-hook)
LAYERS = [
    ("potoos_spark.api", "PotoosSession.monitor", "api.monitor", None),
    ("potoos_spark.operators.retrieval", "read_series", "retrieval.read_series", _count_input),
    ("potoos_spark.operators.retrieval", "min_points_guard", "retrieval.min_points_guard", None),
    ("potoos_spark.operators.retrieval", "series_metadata", "retrieval.series_metadata", None),
    ("potoos_spark.detectors.base", "score", "detectors.score", None),
    ("potoos_spark.detectors.windows", "extract_anomalies", "windows.extract_anomalies", None),
    ("potoos_spark.operators.dedup", "fuzzy_dedup_e2e", "dedup.fuzzy_dedup_e2e", None),
    ("potoos_spark.operators.dedup", "minhash_dedup_pairs", "dedup.minhash_dedup_pairs", None),
    ("potoos_spark.operators.dedup", "shingle_frame", "dedup.shingle_frame", None),
    ("potoos_spark.operators.dedup", "lsh_candidate_pairs", "dedup.lsh_candidate_pairs", _signature_boundary),
    ("potoos_spark.operators.dedup", "edge_components", "dedup.edge_components", None),
    ("potoos_spark.operators.dedup", "capped_pagerank", "dedup.capped_pagerank", None),
    ("potoos_spark.streaming.monitor", "score_stream", "streaming.score_stream", None),
    ("potoos_spark.streaming.stateful", "streaming_bucket_scores", "streaming.bucket_scores", None),
]


def _med(xs):
    return statistics.median(xs) if xs else 0


def _stream_call(progress) -> dict:
    """One replay's streaming-layer numbers from its non-empty batches."""
    if not progress:
        return {}
    d = [p.durationMs for p in progress]
    ops = [p.stateOperators[0] for p in progress]
    return {
        "add_batch_ms": _med([x["addBatch"] for x in d]),
        "query_planning_ms": _med([x["queryPlanning"] for x in d]),
        "offsets_ms": _med([x["latestOffset"] + x["getBatch"] for x in d]),
        "commit_ms": _med([x["walCommit"] + x["commitOffsets"] for x in d]),
        "batches": len(progress),
        "rows_per_batch": _med([p.numInputRows for p in progress]),
        "state_rows": ops[-1].numRowsTotal,
        "state_rows_updated": _med([o.numRowsUpdated for o in ops]),
        "state_memory_bytes": ops[-1].memoryUsedBytes,
        "output_rows": sum(p.sink.numOutputRows for p in progress),
    }


STREAM_UNITS = {
    "add_batch_ms": "ms", "query_planning_ms": "ms", "offsets_ms": "ms",
    "commit_ms": "ms", "batches": "count", "rows_per_batch": "count",
    "state_rows": "count", "state_rows_updated": "count",
    "state_memory_bytes": "bytes", "output_rows": "count",
}


def per_layer(summaries, plain_counts, streams, overhead_s, error_rate, gen_s, session_s):
    def span(name, field="s"):
        return _med([c.get(name, {}).get(field, 0.0) for c in summaries])

    def count(name, key):
        return _med([c.get(name, {}).get("counts", {}).get(key, 0) for c in summaries])

    def yield_(c):
        cand = c.get("dedup.lsh_candidate_pairs", {}).get("counts", {}).get("rows_out", 0)
        ver = c.get("dedup.minhash_dedup_pairs", {}).get("counts", {}).get("rows_out", 0)
        return ver / cand if cand else 0.0

    in_dedup = any("dedup.fuzzy_dedup_e2e" in c for c in summaries)
    whole = plain_counts if in_dedup else []
    m = {
        "session.start_s": (session_s, "s"),
        "api.self_s": (span("api.monitor", "self_s"), "s"),
        "retrieval.read_series_s": (span("retrieval.read_series"), "s"),
        "retrieval.rows_in": (count("retrieval.read_series", "rows_in"), "count"),
        "retrieval.rows_out": (count("retrieval.read_series", "rows_out"), "count"),
        "retrieval.jobs": (count("retrieval.read_series", "jobs"), "count"),
        "retrieval.tasks": (count("retrieval.read_series", "tasks"), "count"),
        "retrieval.guard_s": (span("retrieval.min_points_guard"), "s"),
        "retrieval.metadata_s": (span("retrieval.series_metadata"), "s"),
        "detectors.score_s": (span("detectors.score"), "s"),
        "detectors.points_scored": (count("detectors.score", "rows_out"), "count"),
        "detectors.jobs": (count("detectors.score", "jobs"), "count"),
        "detectors.tasks": (count("detectors.score", "tasks"), "count"),
        "windows.extract_s": (span("windows.extract_anomalies"), "s"),
        "windows.anomalies_out": (count("windows.extract_anomalies", "rows_out"), "count"),
        "windows.jobs": (count("windows.extract_anomalies", "jobs"), "count"),
        "dedup.shingle_s": (span("dedup.shingle_frame"), "s"),
        "dedup.shingles_out": (count("dedup.shingle_frame", "rows_out"), "count"),
        "dedup.signature_s": (span("dedup.minhash_signatures"), "s"),
        "dedup.candidates_s": (span("dedup.lsh_candidate_pairs"), "s"),
        "dedup.candidate_pairs": (count("dedup.lsh_candidate_pairs", "rows_out"), "count"),
        "dedup.verify_s": (span("dedup.minhash_dedup_pairs", "self_s"), "s"),
        "dedup.verified_pairs": (count("dedup.minhash_dedup_pairs", "rows_out"), "count"),
        "dedup.verify_yield": (_med([yield_(c) for c in summaries]), "ratio"),
        "dedup.components_s": (span("dedup.edge_components"), "s"),
        "dedup.components_jobs": (count("dedup.edge_components", "jobs"), "count"),
        "dedup.pagerank_s": (span("dedup.capped_pagerank"), "s"),
        "dedup.pagerank_jobs": (count("dedup.capped_pagerank", "jobs"), "count"),
        "dedup.keeper_self_s": (span("dedup.fuzzy_dedup_e2e", "self_s"), "s"),
        "dedup.kept_docs": (count("dedup.fuzzy_dedup_e2e", "rows_out"), "count"),
        "dedup.jobs": (_med([c["jobs"] for c in whole]), "count"),
        "dedup.stages": (_med([c["stages"] for c in whole]), "count"),
        "dedup.tasks": (_med([c["tasks"] for c in whole]), "count"),
    }
    for key, unit in STREAM_UNITS.items():
        m[f"streaming.{key}"] = (_med([s[key] for s in streams if s]), unit)
    m["tracing.overhead_s"] = (overhead_s, "s")
    m["error_rate"] = (error_rate, "ratio")
    m["bench.gen_s"] = (gen_s, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def traced_run(spark, w, runner, seconds, gen_s, session_s, spans_path):
    """Plain calls (whole-call Spark job counts only) alternating with
    traced calls, plain first and last so a warm-up trend cancels out of
    the overhead, until ``seconds`` have passed; at least plain, traced,
    plain."""
    sc = spark.sparkContext
    tracer = Tracer(spark)
    walls = {False: [], True: []}
    plain_counts, summaries, streams = [], [], []

    def plain(i):
        group = f"perfbench-call-{i}"
        with job_group(sc, group, "plain call"):
            dt, _ = runner.run(w.call)
        drain_listener_bus(sc)
        plain_counts.append(job_counts(sc, group))
        return dt

    def traced(i):
        tracer.call_id = i
        tracer.install(LAYERS)
        try:
            dt, result = runner.run(w.call)
        finally:
            tracer.uninstall()
        tracer.harvest()
        summaries.append(tracer.call_summary(i))
        if result is not None:
            streams.append(_stream_call(w.progress(result)))
        return dt

    t_end = time.perf_counter() + seconds
    walls[False].append(plain(0))
    i = 1
    while True:
        walls[True].append(traced(i))
        walls[False].append(plain(i + 1))
        i += 2
        if time.perf_counter() >= t_end:
            break

    overhead = statistics.median(walls[True]) - statistics.median(walls[False])
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    tracer.write(
        spans_path,
        {
            "plain_walls": walls[False],
            "traced_walls": walls[True],
            "plain_counts": plain_counts,
            "streaming": streams,
        },
    )
    return per_layer(
        summaries, plain_counts, streams, overhead,
        runner.failed / runner.attempted, gen_s, session_s,
    )
