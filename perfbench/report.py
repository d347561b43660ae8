"""Turn a run's records into the end-to-end metrics, the per-layer
summary and the human-readable lines."""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from .stats import percentile
from .trace import (
    attribute_jobs, layer_coverage, self_times, union_length, write_trace,
)

# (name, unit) of every end-to-end metric; each workload reports all
END_TO_END = [("latency_p50_ms", "ms"), ("throughput_per_s", "1/s"),
              ("setup_s", "s")]

# (name, unit) of every per-layer metric, named by the module it times.
# A workload that never reaches a layer reports 0 for it.
PER_LAYER = [
    ("commands.self_ms", "ms"),
    ("parser.parse_ms", "ms"),
    ("plans.translate_ms", "ms"), ("plans.probe_ms", "ms"),
    ("plans.probe_jobs", "count"),
    ("catalog.build_s", "s"), ("catalog.rebind_ms", "ms"),
    ("catalog.cache_mb", "MB"),
    ("search.build_ms", "ms"), ("search.build_jobs", "count"),
    ("aggregate.build_ms", "ms"),
    ("reply.self_ms", "ms"), ("reply.rows", "count"),
    ("spark.catalyst_ms", "ms"), ("spark.jobs", "count"),
    ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.job_ms", "ms"), ("spark.sched_gap_ms", "ms"),
    ("spark.shuffle_bytes", "bytes"), ("spark.python_ms", "ms"),
    ("spark.failed_tasks", "count"),
    ("hnsw.build_s", "s"), ("hnsw.graph_rows_read", "count"),
    ("hnsw.kernel_ms", "ms"),
    ("ann.build_s", "s"), ("ann.rows_scanned", "count"),
    ("ann.mirror_ms", "ms"),
    ("pipeline.curate_s", "s"),
    ("dedup.jaccard_s", "s"), ("dedup.jaccard_candidates", "count"),
    ("dedup.jaccard_useful_frac", "ratio"),
    ("ranking.bm25_s", "s"), ("ranking.bm25_build_jobs", "count"),
    ("ingest.apply_ms", "ms"), ("ingest.buckets_rewritten", "count"),
    ("ingest.write_amp", "ratio"),
    ("trace.layer_coverage", "ratio"), ("trace.overhead_pct", "%"),
    ("host.canary_ms", "ms"),
]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def primary_ms(wl, records) -> list[float]:
    return [r["lat"] * 1e3 for r in records if r["phase"] == wl.primary]


def end_to_end(wl, records, walls, setup_s) -> tuple[dict, list[str]]:
    """The END_TO_END metrics plus the workload's own named figures, from
    the untraced operations."""
    untraced = [r for r in records if not r["traced"]]
    tput, named = wl.figures(untraced, walls)
    metrics = {"latency_p50_ms": percentile(primary_ms(wl, untraced), 50),
               "throughput_per_s": tput, "setup_s": setup_s}
    lines = [f"  {n:<28} {v:>14.4f} {u:<7} n={k}" for n, v, u, k in named]
    return metrics, lines


def per_layer(wl, ctx, records, setup_s, cache_bytes, canary,
              untraced_p50) -> tuple[dict, dict]:
    """Per-layer metrics from the traced records and their spans."""
    traced = [r for r in records if r["traced"]]
    spans = ctx.tracer.spans
    by_req = defaultdict(list)
    for s in spans:
        by_req[s.req].append(s)
    st = self_times(spans)
    names = defaultdict(list)
    for s in spans:
        names[s.name].append(s)

    def dur_ms(n):
        return _mean((s.end - s.start) * 1e3 for s in names[n])

    def self_ms(n):
        return _mean(st[s.sid] * 1e3 for s in names[n])

    # jobs -> the innermost span they were submitted in; the side calls'
    # jobs (their own job group) count for their spans only, never for
    # the request's spark.* figures
    jobs_in = {}
    for r in traced:
        jobs_in.update(attribute_jobs(r["jobs"] + r["side_jobs"],
                                      by_req[r["rid"]]))
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)

    def jobs_under(s):
        out = list(jobs_in.get(s.sid, []))
        for c in kids[s.sid]:
            out += jobs_under(c)
        return out

    def jobs_per(n):
        return _mean(len(jobs_under(s)) for s in names[n])

    def fig(r, where, k):
        return r.get("figs", {}).get(where, {}).get(k, 0.0)

    sched = []
    for s in names["reply"]:
        own = [(j["start"], j["end"]) for j in jobs_in.get(s.sid, [])]
        sched.append(st[s.sid] * 1e3 - union_length(own) * 1e3)

    def reaching(span_name):
        """Traced requests that made a call recorded as ``span_name``."""
        reqs = {s.req for s in names[span_name]}
        return [r for r in traced if r["rid"] in reqs]

    hnsw_reqs, ivf_reqs = reaching("hnsw.search"), reaching("ann.search")
    cand = _mean(fig(r, "dedup.jaccard", "join_rows_max") for r in traced)
    pairs = _mean(r.get("pairs", 0) for r in traced)
    mirror = defaultdict(float)
    for s in names["ann.mirror"]:
        mirror[s.req] += (s.end - s.start) * 1e3
    traced_p50 = percentile(primary_ms(wl, traced), 50)
    # the share of each request's wall time that the layer spans below
    # the command dispatcher explain
    cov_by = layer_coverage(spans, "request", skip=("commands",))
    phase_of = {r["rid"]: r["phase"] for r in traced}
    cov_phase = defaultdict(list)
    for s in names["request"]:
        cov_phase[phase_of[s.req]].append(cov_by[s.sid])
    cov = list(cov_by.values())
    parts = wl.setup_parts
    m = {
        "commands.self_ms": self_ms("commands"),
        "parser.parse_ms": dur_ms("parser.parse"),
        "plans.translate_ms": dur_ms("plans.translate"),
        "plans.probe_ms": dur_ms("plans.probe"),
        "plans.probe_jobs": jobs_per("plans.probe"),
        "catalog.build_s": parts.get("catalog_build", 0.0),
        "catalog.rebind_ms": dur_ms("catalog.rebind"),
        "catalog.cache_mb": cache_bytes / 1e6,
        "search.build_ms": dur_ms("search.build"),
        "search.build_jobs": jobs_per("search.build"),
        "aggregate.build_ms": dur_ms("aggregate.build"),
        "reply.self_ms": self_ms("reply"),
        "reply.rows": _mean(r["rows"] for r in traced if "rows" in r),
        "spark.catalyst_ms": _mean(fig(r, "*", "catalyst_ms")
                                   for r in traced),
        "spark.jobs": _mean(len(r["jobs"]) for r in traced),
        "spark.stages": _mean(sum(j["stages"] for j in r["jobs"])
                              for r in traced),
        "spark.tasks": _mean(sum(j["tasks"] for j in r["jobs"])
                             for r in traced),
        "spark.job_ms": _mean(union_length([(j["start"], j["end"])
                                            for j in r["jobs"]]) * 1e3
                              for r in traced),
        "spark.sched_gap_ms": _mean(sched),
        "spark.shuffle_bytes": _mean(sum(j["shuffle_bytes"]
                                         for j in r["jobs"])
                                     for r in traced),
        "spark.python_ms": _mean(fig(r, "*", "python_ms") for r in traced),
        "spark.failed_tasks": _mean(sum(j["failed_tasks"]
                                        for j in r["jobs"])
                                    for r in traced),
        "hnsw.build_s": parts.get("hnsw_build", 0.0),
        "hnsw.graph_rows_read": _mean(fig(r, "*", "hnsw_rows")
                                      for r in hnsw_reqs),
        "hnsw.kernel_ms": _mean(fig(r, "*", "python_ms")
                                for r in hnsw_reqs),
        "ann.build_s": parts.get("ann_build", 0.0),
        "ann.rows_scanned": _mean(fig(r, "*", "ivf_rows")
                                  for r in ivf_reqs),
        "ann.mirror_ms": _mean(mirror[r["rid"]] for r in traced)
        if names["ann.mirror"] else 0.0,
        "pipeline.curate_s": dur_ms("pipeline.curate") / 1e3,
        "dedup.jaccard_s": dur_ms("dedup.jaccard") / 1e3,
        "dedup.jaccard_candidates": cand,
        "dedup.jaccard_useful_frac": pairs / cand if cand else 0.0,
        "ranking.bm25_s": dur_ms("ranking.bm25") / 1e3,
        "ranking.bm25_build_jobs": jobs_per("ranking.bm25.build"),
        "ingest.apply_ms": dur_ms("ingest.apply"),
        "ingest.buckets_rewritten": _mean(r["buckets_rewritten"]
                                          for r in traced
                                          if "buckets_rewritten" in r),
        "ingest.write_amp": _mean(r["write_amp"] for r in traced
                                  if "write_amp" in r),
        "trace.layer_coverage": statistics.median(cov) if cov else 0.0,
        "trace.overhead_pct": (traced_p50 / untraced_p50 - 1.0) * 100.0,
        "host.canary_ms": canary,
    }
    detail = {
        "setup_parts_s": parts, "setup_s": setup_s,
        "traced_requests": len(traced),
        "untraced_p50_ms": untraced_p50, "traced_p50_ms": traced_p50,
        "layer_coverage_min": min(cov) if cov else None,
        "layer_coverage_by_phase": {
            ph: {"median": statistics.median(v), "min": min(v), "n": len(v)}
            for ph, v in cov_phase.items()},
        "spans": {n: {"count": len(v), "mean_ms": dur_ms(n),
                      "self_ms": self_ms(n), "jobs": jobs_per(n)}
                  for n, v in sorted(names.items())},
    }
    return m, detail


def build(wl, ctx, records, walls, setup_s, canary, cache_bytes, space,
          base) -> dict:
    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"])
    e2e, named = end_to_end(wl, records, walls, setup_s)
    lines = [f"perfbench {wl.name} seed={ctx.seed} seconds={ctx.seconds} "
             f"trace={int(ctx.trace)} cpus={ctx.cpus} phases="
             + ", ".join(f"{p.name}:{p.clients} clients x "
                         + (f"{p.ops} ops" if p.ops else "--seconds")
                         for p in wl.phases),
             f"  sizes: {wl.SIZES}",
             "  setup parts (s): " + ", ".join(
                 f"{k}={v:.3f}" for k, v in wl.setup_parts.items())]
    lines += [f"  {n:<28} {e2e[n]:>14.4f} {u:<7} (end-to-end)"
              for n, u in END_TO_END]
    lines += named
    lines.append(f"  {'space_ratio':<28} {space:>14.4f} ratio")
    lines.append(f"  {'error_frac':<28} {failed / attempted:>14.4f} ratio "
                 f"  failed={failed} attempted={attempted}")
    lines.append(f"  {'host_canary_ms':<28} {canary:>14.4f} ms      "
                 "(drift indicator, gates nothing)")
    metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    if ctx.trace:
        layer, detail = per_layer(wl, ctx, records, setup_s, cache_bytes,
                                  canary, e2e["latency_p50_ms"])
        metrics = {n: {"value": layer[n], "unit": u} for n, u in PER_LAYER}
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{wl.name}-{ctx.seed}-"
                                     f"{os.getpid()}.json")
        reqs = [{k: v for k, v in r.items()} for r in records]
        write_trace(path, ctx.tracer, reqs, {"per_layer": layer, **detail})
        lines.append(f"  trace file: {os.path.relpath(path, os.getcwd())}")
        lines += [f"  {n:<28} {layer[n]:>14.4f} {u}" for n, u in PER_LAYER]
    return {"lines": lines,
            "result": {"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics}}
