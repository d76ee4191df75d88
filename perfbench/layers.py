"""Per-layer metrics of a traced run.

Each metric is computed per traced pass from the spans of that pass
(annotated with the event log's jobs and stages) and reported as the
median over the traced passes. A layer a workload never calls reads 0.
"""

from __future__ import annotations

import json
import os

from perfbench import stats
from perfbench.spans import (
    LAYERS,
    annotate,
    channel_overlaps,
    event_log_files,
    event_log_stats,
    self_time_tree,
    subtree_ids,
    untagged_into_passes,
)


def _sum(spans, name, key):
    return sum(s[key] for s in spans if s["name"] == name)


def _sum_attr(spans, name, key):
    return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name)


def _maneuver_write(spans, key):
    """The maneuver query's plan building plus the JSON write that runs it."""
    return _sum(spans, "queries.nmea.maneuver_metrics_from", key) + sum(
        s[key] for s in spans
        if s["name"] == "sources.io.write_json_docs"
        and s["attrs"].get("target") == "maneuvers.json"
    )


def _root(spans):
    return next(s for s in spans if s["name"] == "pass")


def _layer_self(layer):
    prefix = f"{layer}."
    return lambda S, p: sum(s["self_s"] for s in S if s["name"].startswith(prefix))


def _overlap(S, p):
    ratios = channel_overlaps(S)
    return stats.median(ratios) if ratios else 0.0


#: name → (unit, better, fn(pass spans, pass record)).
METRICS = {
    "queries.nmea.pipeline_from_log.self_s": ("s", "lower", lambda S, p: _sum(S, "queries.nmea.pipeline_from_log", "self_s")),
    "queries.nmea.pipeline_from_log.executor_cpu_s": ("s", "lower", lambda S, p: _sum(S, "queries.nmea.pipeline_from_log", "executor_cpu_s")),
    "queries.nmea.pipeline_from_log.shuffle_write_bytes": ("bytes", "lower", lambda S, p: _sum(S, "queries.nmea.pipeline_from_log", "shuffle_write_bytes")),
    "queries.nmea.maneuver_metrics_from.jobs": ("count", "lower", lambda S, p: _maneuver_write(S, "jobs")),
    "queries.nmea.maneuver_metrics_from.wall_s": ("s", "lower", lambda S, p: _maneuver_write(S, "wall_s")),
    "sources.io.write_json_docs.wall_s": ("s", "lower", lambda S, p: _sum(S, "sources.io.write_json_docs", "wall_s")),
    "sources.io.write_json_docs.bytes": ("bytes", "lower", lambda S, p: _sum_attr(S, "sources.io.write_json_docs", "bytes")),
    "cli.process.self_s": ("s", "lower", lambda S, p: _sum(S, "cli.process", "self_s")),
    "operators.retrieval.write_postings_index.wall_s": ("s", "lower", lambda S, p: _sum(S, "operators.retrieval.write_postings_index", "wall_s")),
    "operators.retrieval.write_postings_index.bytes": ("bytes", "lower", lambda S, p: _sum_attr(S, "operators.retrieval.write_postings_index", "bytes")),
    "operators.retrieval.write_postings_index.files": ("count", "lower", lambda S, p: _sum_attr(S, "operators.retrieval.write_postings_index", "files")),
    "operators.retrieval.bm25_probe_postings.wall_s": ("s", "lower", lambda S, p: _sum(S, "operators.retrieval.bm25_probe_postings", "wall_s")),
    "operators.retrieval.bm25_probe_postings.jobs": ("count", "lower", lambda S, p: _sum(S, "operators.retrieval.bm25_probe_postings", "jobs")),
    "operators.similarity.ivf_build.wall_s": ("s", "lower", lambda S, p: _sum(S, "operators.similarity.ivf_build", "wall_s")),
    "operators.similarity.ivf_search.wall_s": ("s", "lower", lambda S, p: _sum(S, "operators.similarity.ivf_search", "wall_s")),
    "queries.retrieval.channel_overlap": ("ratio", "higher", _overlap),
    "operators.retrieval.rrf_fuse.self_s": ("s", "lower", lambda S, p: _sum(S, "operators.retrieval.rrf_fuse", "self_s")),
    "operators.retrieval.mmr_rerank.self_s": ("s", "lower", lambda S, p: _sum(S, "operators.retrieval.mmr_rerank", "self_s")),
    "operators.retrieval.topk_ranked.self_s": ("s", "lower", lambda S, p: _sum(S, "operators.retrieval.topk_ranked", "self_s")),
    "operators.dedup.minhash_lsh_pairs.driver_s": ("s", "lower", lambda S, p: _sum(S, "operators.dedup.minhash_lsh_pairs", "driver_s")),
    "operators.dedup.connected_components.jobs": ("count", "lower", lambda S, p: _sum(S, "operators.dedup.connected_components", "jobs")),
    "operators.dedup.connected_components.wall_s": ("s", "lower", lambda S, p: _sum(S, "operators.dedup.connected_components", "wall_s")),
    **{
        f"pass.{k}": (unit, "lower", (lambda k: lambda S, p: _root(S)[k])(k))
        for k, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("failed_tasks", "count"), ("driver_s", "s"),
            ("executor_cpu_s", "s"), ("gc_s", "s"),
            ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
        )
    },
    "pins.rdds": ("count", "lower", lambda S, p: p["pins"][0]),
    "pins.bytes": ("bytes", "lower", lambda S, p: p["pins"][1]),
    **{
        f"layer.{layer}.self_s": ("s", "lower", _layer_self(layer))
        for layer in LAYERS
        if layer != "session"  # called only during set-up, never in a pass
    },
    "layer.other.self_s": ("s", "lower", lambda S, p: sum(
        s["self_s"] for s in S if s["name"] == "pass" or s["name"].startswith("task."))),
}

#: Whole-run metrics, not per pass.
RUN_METRICS = {
    "session.get_spark.wall_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def per_layer_report(tracer, passes, work, workload, seed, peak_rss_mb) -> tuple[dict, str]:
    """(metric name → median value over the traced passes, a readable
    report with the self-time tree). Writes the annotated spans of the
    traced passes next to the run's work directory."""
    traced = [p for p in passes if p["traced"] and p["ok"]]
    untraced = [p["wall_s"] for p in passes[1:] if not p["traced"] and p["ok"]]
    if not traced or not untraced:
        return {}, "# no traced pass completed"
    log = event_log_stats(event_log_files(os.path.join(work, "eventlog")))
    spans = [s for s in tracer.spans if s["end"] is not None]
    untagged_into_passes(spans, log)
    annotate(spans, log)
    by_id = {s["id"]: s for s in spans}
    per_pass = []
    for p in traced:
        ids = subtree_ids(spans, p["span"])
        per_pass.append([by_id[i] for i in ids])
    out = {
        name: stats.median([fn(S, p) for S, p in zip(per_pass, traced)])
        for name, (_, _, fn) in METRICS.items()
    }
    get_spark = [s for s in spans if s["name"] == "session.get_spark"]
    out["session.get_spark.wall_s"] = get_spark[0]["wall_s"] if get_spark else 0.0
    out["session.peak_rss_mb"] = peak_rss_mb
    out["trace.overhead_s"] = (
        stats.median([p["wall_s"] for p in traced]) - stats.median(untraced)
    )

    pass_spans = [by_id[i] for i in sorted(
        set().union(*(subtree_ids(spans, p["span"]) for p in traced)))]
    path = os.path.normpath(os.path.join(work, os.pardir, f"trace-{workload}-seed{seed}.json"))
    with open(path, "w") as f:
        json.dump({
            "workload": workload,
            "seed": seed,
            "passes": [{"span": p["span"], "wall_s": p["wall_s"]} for p in traced],
            "spans": get_spark + pass_spans,
        }, f)
    lines = [f"# {workload} seed {seed}: self-time tree, mean of {len(traced)} traced "
             f"passes (spans in {path})", self_time_tree(pass_spans, len(traced))]
    for p in traced:
        root = by_id[p["span"]]
        lines.append(
            f"# pass span {root['id']}: timed {p['wall_s']:.3f}s; span "
            f"{root['wall_s']:.3f}s = children {root['wall_s'] - root['self_s']:.3f}s "
            f"+ self {root['self_s']:.3f}s")
    return out, "\n".join(lines)
