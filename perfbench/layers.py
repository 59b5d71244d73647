"""Per-layer metrics of a traced run: attribution of the event log and
the plan probe to each operation, aggregation per pass, and the
per-query breakdown table.

Every metric is reported on every workload; a layer the workload does not
exercise reads 0 (for example ``streaming.*`` on ``queries``). Times
and counts are per measured pass, the median over the measured passes,
except ``streaming.*_ms`` and ``streaming.overhead_frac``, which are
medians over every micro-batch of the measured passes.
"""

from __future__ import annotations

from workloads import WARMUP_PASSES, Run, measured, median

PER_LAYER = {  # name -> unit
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.action_s": "s",
    "spark.plan.analysis_ms": "ms",
    "spark.plan.optimization_ms": "ms",
    "spark.plan.planning_ms": "ms",
    "spark.plan.exchanges": "count",
    "spark.sched.jobs": "count",
    "spark.sched.stages": "count",
    "spark.sched.tasks": "count",
    "spark.sched.driver_s": "s",
    "spark.exec.task_s": "s",
    "spark.exec.cpu_s": "s",
    "spark.exec.gc_s": "s",
    "spark.exec.slot_util": "ratio",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
    "spark.exec.scan_rows": "count",
    "spark.exec.scan_bytes": "bytes",
    "spark.exec.stage_skew": "ratio",
    "spark.arrow.rows": "count",
    "spark.arrow.bytes": "bytes",
    "spark.arrow.stage_s": "s",
    "caching.persisted_peak": "count",
    "caching.release_s": "s",
    "caching.leaked": "count",
    "ingest.decode_s": "s",
    "ingest.derive_s": "s",
    "ingest.sink_s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_written": "count",
    "ingest.rows_dropped": "count",
    "ingest.files_written": "count",
    "ingest.bytes_per_row": "bytes/row",
    "ingest.sink_jobs": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.overhead_frac": "ratio",
    "streaming.batches": "count",
    "streaming.rows": "count",
    "trace.setup_s": "s",
    "trace.first_pass_s": "s",
    "trace.pass_s": "s",
    "trace.pass_cpu_s": "s",
    "trace.op_mean_s": "s",
    "trace.op_p50_s": "s",
    "trace.op_p90_s": "s",
    "trace.passes": "count",
    "trace.ops": "count",
}
# Aggregated over a pass by maximum; everything else is summed.
_MAXED = ("caching.persisted_peak", "spark.exec.stage_skew")
_STREAM_MS = {"streaming.add_batch_ms": "addBatch", "streaming.query_planning_ms": "queryPlanning",
              "streaming.wal_commit_ms": "walCommit", "streaming.commit_offsets_ms": "commitOffsets",
              "streaming.latest_offset_ms": "latestOffset", "streaming.get_batch_ms": "getBatch"}


def op_layers(r: Run, evlog, cpus: int) -> None:
    """Fill ``op.layers`` for every operation from its timed window."""
    for op in r.ops:
        recs = r.probe.between(op.t0, op.t1)
        L = op.layers
        L.update(evlog.window(op.t0, op.t1, cpus))
        L["spark.plan.analysis_ms"] = op.analysis_ms + sum(x.get("analysis", 0) for x in recs)
        L["spark.plan.optimization_ms"] = sum(x.get("optimization", 0) for x in recs)
        L["spark.plan.planning_ms"] = sum(x.get("planning", 0) for x in recs)
        L["spark.plan.exchanges"] = sum(x["exchanges"] for x in recs)
        L["spark.arrow.rows"] = sum(x["arrow_rows"] for x in recs)
        L["spark.arrow.bytes"] = sum(x["arrow_bytes"] for x in recs)
        L["caching.persisted_peak"] = op.persisted
        L["caching.release_s"] = op.release_s
        L["caching.leaked"] = op.leaked
        if op.kind == "query":
            L["queries.build_s"] = op.build_s
            L["queries.action_s"] = op.action_s
        elif op.kind == "backfill":
            L["ingest.sink_jobs"] = L["spark.sched.jobs"]


def _pass_layers(p: dict, cpus: int) -> dict:
    agg: dict = {}
    for op in p["ops"]:
        for k, v in op.layers.items():
            agg[k] = max(agg.get(k, 0), v) if k in _MAXED else agg.get(k, 0) + v
    agg["spark.exec.slot_util"] = agg.get("spark.exec.task_s", 0) / (p["wall_s"] * cpus)
    return agg


def layer_report(r: Run, cpus: int, e2e: dict, start_s: float, warmup_s: float):
    """Returns (per-layer metrics, breakdown table lines)."""
    warm = [r.passes[i] for i in measured(r)]
    per_pass = [_pass_layers(p, cpus) for p in warm]
    m = {k: median([pp.get(k, 0) for pp in per_pass]) for k in PER_LAYER}
    m["session.start_s"], m["session.warmup_s"] = start_s, warmup_s
    m["session.peak_rss_mb"] = r.rss_mb
    if r.ingest:
        acc = [r.ingest.get(f"{k}_accounting", {}) for k in ("backfill", "stream")]
        for k in ("rows_in", "rows_written", "rows_dropped"):
            m[f"ingest.{k}"] = sum(a.get(k, 0) for a in acc)
        written = acc[0].get("rows_written", 0)
        bytes_written = median([pp.get("ingest.bytes_written", 0) for pp in per_pass])
        m["ingest.bytes_per_row"] = bytes_written / written if written else 0
        replays = [r.stream_batches[i] for i in measured(r)]
        batches = [b for bs in replays for b in bs]
        for name, key in _STREAM_MS.items():
            m[name] = median([b.get(key, 0) for b in batches])
        m["streaming.overhead_frac"] = median(
            [(b["triggerExecution"] - b.get("addBatch", 0)) / b["triggerExecution"]
             for b in batches if b["triggerExecution"] > 0])
        m["streaming.batches"] = median([len(bs) for bs in replays])
        m["streaming.rows"] = median([sum(b["rows"] for b in bs) for bs in replays])
    for k in ("setup_s", "first_pass_s", "pass_s", "pass_cpu_s", "op_mean_s", "op_p50_s",
              "op_p90_s"):
        m[f"trace.{k}"] = e2e[k]
    m["trace.passes"] = len(warm)
    m["trace.ops"] = sum(len(p["ops"]) for p in warm)
    m = {k: m.get(k, 0) for k in PER_LAYER}
    return m, _breakdown(r)


_COLUMNS = [  # (header, layer key or op attribute, format)
    ("wall_s", "wall_s", ".3f"), ("build_s", "build_s", ".3f"), ("action_s", "action_s", ".3f"),
    ("ana_ms", "spark.plan.analysis_ms", ".0f"), ("opt_ms", "spark.plan.optimization_ms", ".0f"),
    ("plan_ms", "spark.plan.planning_ms", ".0f"), ("exch", "spark.plan.exchanges", ".0f"),
    ("jobs", "spark.sched.jobs", ".0f"), ("stages", "spark.sched.stages", ".0f"),
    ("tasks", "spark.sched.tasks", ".0f"), ("driver_s", "spark.sched.driver_s", ".3f"),
    ("task_s", "spark.exec.task_s", ".3f"), ("cpu_s", "spark.exec.cpu_s", ".3f"),
    ("gc_s", "spark.exec.gc_s", ".3f"), ("shuf_w_B", "spark.exec.shuffle_write_bytes", ".0f"),
    ("shuf_r_B", "spark.exec.shuffle_read_bytes", ".0f"),
    ("spill_B", "spark.exec.spill_bytes", ".0f"), ("scan_rows", "spark.exec.scan_rows", ".0f"),
    ("scan_B", "spark.exec.scan_bytes", ".0f"), ("skew", "spark.exec.stage_skew", ".2f"),
    ("arrow_rows", "spark.arrow.rows", ".0f"), ("arrow_B", "spark.arrow.bytes", ".0f"),
    ("arrow_s", "spark.arrow.stage_s", ".3f"), ("persisted", "caching.persisted_peak", ".0f"),
    ("release_s", "caching.release_s", ".4f"), ("leaked", "caching.leaked", ".0f"),
]


def _breakdown(r: Run) -> list[str]:
    """One row per operation name: the cold pass, then the median of the
    measured passes."""
    names = list(dict.fromkeys(op.name for op in r.ops))
    lines = ["# per-operation layer breakdown (cold = first pass; warm = median of "
             "measured passes, n = samples)",
             "op pass n " + " ".join(h for h, _, _ in _COLUMNS)]
    for name in names:
        ops = [op for op in r.ops if op.name == name]
        for label, group in (("cold", [o for o in ops if o.pass_no == 0]),
                             ("warm", [o for o in ops if o.pass_no > WARMUP_PASSES])):
            if not group:
                continue
            vals = [median([getattr(o, key) if hasattr(o, key) else o.layers.get(key, 0)
                            for o in group]) for _, key, _ in _COLUMNS]
            lines.append(f"{name} {label} {len(group)} " + " ".join(
                format(v, fmt) for v, (_, _, fmt) in zip(vals, _COLUMNS)))
    return lines
