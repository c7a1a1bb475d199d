"""Per-layer metrics of a traced run, from its spans, probes, query
progress and sink outputs.  Layer names are the program's module
names; times are seconds per traced batch, counts are per traced batch,
ratios are ratios of sums over the traced batches."""

from __future__ import annotations

from collections import defaultdict

from gen import TOPICS

UNITS = {
    "json_stream.rows_in": "count",
    "json_stream.rows_dropped": "count",
    "json_stream.source_s": "s",
    "json_stream.source_reads": "ratio",
    "upsert_join.upsert_s": "s",
    "upsert_join.buckets_rewritten": "count",
    "upsert_join.rows_rewritten": "count",
    "upsert_join.rewrite_ratio": "ratio",
    "upsert_join.store_files": "count",
    "upsert_join.join_s": "s",
    "upsert_join.match_ratio": "ratio",
    "pipeline.process_batch_s": "s",
    "pipeline.enrich_s": "s",
    "window_stats.build_s": "s",
    "window_stats.exec_s": "s",
    "window_stats.rows_in": "count",
    "window_stats.rows_out": "count",
    "window_stats.jobs": "count",
    "window_stats.tasks": "count",
    "geofence.build_s": "s",
    "geofence.exec_s": "s",
    "geofence.rows_out": "count",
    "geofence.match_ratio": "ratio",
    "anomaly.build_s": "s",
    "anomaly.exec_s": "s",
    "anomaly.points": "count",
    "anomaly.outlier_ratio": "ratio",
    "anomaly.jobs": "count",
    **{f"payloads.{t}.msgs_out": "count" for t in TOPICS},
    **{f"payloads.{t}.bytes_out": "bytes" for t in TOPICS},
    "engine.trigger_s": "s",
    "engine.add_batch_s": "s",
    "engine.wal_commit_s": "s",
    "engine.query_planning_s": "s",
    "engine.jobs_per_batch": "count",
    "engine.tasks_per_batch": "count",
    "engine.unattributed_s": "s",
    "trace.events_per_s_traced": "events/s",
    "trace.events_per_s_untraced": "events/s",
    "trace.overhead_frac": "ratio",
}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(d, timed: list[int], expected: list[dict]) -> dict:
    """``d``: the finished traced Drain; ``timed``: its timed batches
    that passed the output check."""
    tr = d.tracer
    incl, _, work = tr.durations()  # work: probe-free seconds per span
    jt = tr.jobs_and_tasks()
    traced = sorted({s[4] for s in tr.spans} & set(timed))
    plain = [b for b in timed if b not in traced]
    n = len(traced)

    time_by = defaultdict(float)  # (batch, span name) -> seconds
    jobs_by = defaultdict(int)  # (batch, layer) -> jobs
    tasks_by = defaultdict(int)
    top_level = defaultdict(float)  # batch -> layer spans directly under "batch"
    probe_s = defaultdict(float)
    for i, (name, _, _, parent, batch) in enumerate(tr.spans):
        time_by[batch, name] += work[i]
        layer = name.split(".")[0]
        jobs_by[batch, layer] += jt[i][0]
        tasks_by[batch, layer] += jt[i][1]
        jobs_by[batch, "*"] += jt[i][0]
        tasks_by[batch, "*"] += jt[i][1]
        if name.startswith("probe."):
            probe_s[batch] += incl[i]
        elif parent is not None and tr.spans[parent][0] == "batch":
            top_level[batch] += work[i]

    def per_batch(f) -> float:
        return sum(f(b) for b in traced) / n

    def dur(name: str) -> float:
        return per_batch(lambda b: time_by[b, name])

    def prog(b: int, key: str) -> float:
        return d.progress[b].durationMs.get(key, 0) / 1000

    probes, seen = d.probes, d.seen
    cells = sum(probes[b]["cells"] for b in traced)
    attaches = sum(probes[b]["attaches"] for b in traced)
    enriched = sum(probes[b]["enriched"] for b in traced)
    rows_in = sum(probes[b]["lines"] for b in traced)
    # the source counts the rows of every scan of the batch; the probes'
    # own scans are taken out
    rows_read = sum(
        d.progress[b].numInputRows - probes[b]["source_scans"] * probes[b]["lines"] for b in traced
    )
    geo = sum(seen[b]["geofence"] for b in traced)
    points = sum(seen[b]["points"] for b in traced)

    def eps(batches: list[int]) -> float:
        lat = sum(d.progress[b].durationMs["triggerExecution"] for b in batches) / 1000
        return _ratio(sum(expected[b]["valid_events"] for b in batches), lat)

    m = {
        "json_stream.rows_in": rows_in / n,
        "json_stream.rows_dropped": (rows_in - cells - attaches) / n,
        "json_stream.source_s": per_batch(lambda b: prog(b, "latestOffset") + prog(b, "getBatch")),
        "json_stream.source_reads": _ratio(rows_read, rows_in),
        "upsert_join.upsert_s": dur("upsert_join.upsert"),
        "upsert_join.buckets_rewritten": per_batch(lambda b: probes[b].get("buckets_rewritten", 0)),
        "upsert_join.rows_rewritten": per_batch(lambda b: probes[b].get("rows_rewritten", 0)),
        "upsert_join.rewrite_ratio": _ratio(
            sum(probes[b].get("rows_rewritten", 0) for b in traced), attaches),
        "upsert_join.store_files": per_batch(lambda b: probes[b].get("store_files", 0)),
        "upsert_join.join_s": dur("upsert_join.join"),
        "upsert_join.match_ratio": _ratio(enriched, cells),
        "pipeline.process_batch_s": dur("pipeline.process_batch"),
        "pipeline.enrich_s": dur("pipeline.enrich"),
        "window_stats.build_s": dur("window_stats.build"),
        "window_stats.exec_s": dur("window_stats.exec"),
        "window_stats.rows_in": per_batch(lambda b: probes[b]["metric_rows"]),
        "window_stats.rows_out": per_batch(lambda b: probes[b]["stats_rows_out"]),
        "window_stats.jobs": per_batch(lambda b: jobs_by[b, "window_stats"]),
        "window_stats.tasks": per_batch(lambda b: tasks_by[b, "window_stats"]),
        "geofence.build_s": dur("geofence.build"),
        "geofence.exec_s": dur("geofence.exec"),
        "geofence.rows_out": geo / n,
        "geofence.match_ratio": _ratio(geo, enriched),
        "anomaly.build_s": dur("anomaly.build"),
        "anomaly.exec_s": dur("anomaly.exec"),
        "anomaly.points": points / n,
        "anomaly.outlier_ratio": _ratio(sum(seen[b]["outliers"] for b in traced), points),
        "anomaly.jobs": per_batch(lambda b: jobs_by[b, "anomaly"]),
        **{f"payloads.{t}.msgs_out": per_batch(lambda b, t=t: seen[b][t]) for t in TOPICS},
        **{f"payloads.{t}.bytes_out": per_batch(lambda b, t=t: seen[b][f"{t}.bytes"]) for t in TOPICS},
        "engine.trigger_s": per_batch(lambda b: prog(b, "triggerExecution")),
        "engine.add_batch_s": per_batch(lambda b: prog(b, "addBatch")),
        "engine.wal_commit_s": per_batch(lambda b: prog(b, "walCommit") + prog(b, "commitOffsets")),
        "engine.query_planning_s": per_batch(lambda b: prog(b, "queryPlanning")),
        "engine.jobs_per_batch": per_batch(lambda b: jobs_by[b, "*"]),
        "engine.tasks_per_batch": per_batch(lambda b: tasks_by[b, "*"]),
        "engine.unattributed_s": per_batch(
            lambda b: prog(b, "addBatch") - top_level[b] - probe_s[b]),
        "trace.events_per_s_traced": eps(traced),
        "trace.events_per_s_untraced": eps(plain) if plain else 0.0,
    }
    m["trace.overhead_frac"] = (
        _ratio(m["trace.events_per_s_untraced"], m["trace.events_per_s_traced"]) - 1 if plain else 0.0
    )
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}
