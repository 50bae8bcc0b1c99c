"""Per-layer metrics of a traced run, from its spans, the Spark job and
stage counters read after the timed region, and the workload's own
samples. A metric that does not apply to a workload reads 0."""

from __future__ import annotations

import statistics

import analytics
from common import Context, median
from spans import Span, driver_only_s, job_totals, jobs_in, spark_counters

# Layers whose self time is reported by name; every other wrapped
# operator module is summed into ``self.other_operators_s``.
SELF_LAYERS = (
    "bench", "queries", "spark_action", "ann", "sharding", "pq",
    "vector_ops", "oplayout", "tag_ops",
)
SPARK_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "shuffle_bytes",
)


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if name.startswith("host.loadavg"):
        return "load"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("qps"):
        return "1/s"
    if "jobs" in name or "files" in name:
        return "count"
    if any(w in name for w in ("share", "rate", "amp", "recall", "per_")):
        return "ratio"
    return "count"


def metric_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    names = ["session.start_s", "peak_rss_mb", "mem.jvm_peak_rss_mb", "suite_s"]
    names += [f"queries.{k}" for k in ("build_s", "exec_s", "jobs_build", "jobs_exec")]
    for q in analytics.QUERIES:
        names += [f"queries.{q}.{k}" for k in ("build_s", "exec_s", "jobs_build")]
    names += [f"spark.{k}" for k in SPARK_KEYS] + ["spark.driver_only_s"]
    names += [
        "index_build_s", "sharding.label_centroids_s", "sharding.write_sharded_s",
        "sharding.write_sharded_jobs", "sharding.files_written", "pq.train_pq_s",
        "ann.write_tag_postings_s", "search_qps",
        "ann.raw.p50_s", "ann.pq.p50_s", "ann.filtered.p50_s", "ann.live.p50_s", "ann.build_s",
        "ann.exec_s", "ann.jobs_per_search", "ann.open_probed_shards_s",
        "ann.pq_pool_s", "ann.shards_probed_per_query", "ann.rows_scanned_per_result",
        "ann.recall_at_10", "ann.pq.recall_at_10", "ann.live.recall_at_10",
        "space_amp_served", "space_amp",
        "vector_ops.contested_ids", "vector_ops.live_probed_view_s",
        "vector_ops.upsert_s", "vector_ops.delete_s", "write_p50_s",
        "vector_ops.jobs_per_write", "vector_ops.compact_jobs", "compact_s",
        "oplayout.files_per_op", "oplayout.bytes_written_per_user_byte",
        "error_rate",
    ]
    names += [f"self.{layer}_s" for layer in SELF_LAYERS] + ["self.other_operators_s"]
    names += [
        "trace.overhead_s", "trace.overhead_share", "traced.latency_p50_s", "traced.qps",
        "spark.default_parallelism", "host.loadavg_before", "host.loadavg_after",
    ]
    return names


def compute(ctx: Context, e2e: dict[str, float]) -> dict[str, float]:
    tracer = ctx.tracer
    jobs, stages, by_req = spark_counters(ctx.spark, tracer)
    job_by_id = {j.id: j for j in jobs}
    spans = tracer.spans
    kids = tracer.children()
    out = {n: 0.0 for n in metric_names()}
    out.update({k: v for k, v in ctx.layer.items() if k in out})

    loop = [r for r in ctx.requests if r.req_id in tracer.requests]
    root = {r.req_id: tracer.requests[r.req_id] for r in loop}
    req_jobs = {rid: [job_by_id[i] for i in sorted(by_req.get(rid, ())) if i in job_by_id] for rid in root}

    def under(span: Span) -> list[Span]:
        """All descendants of a span."""
        todo, acc = [span], []
        while todo:
            s = todo.pop()
            for c in kids.get(s.id, []):
                acc.append(c)
                todo.append(c)
        return acc

    desc = {rid: under(s) for rid, s in root.items()}

    def span_sum(rid: str, name: str) -> float:
        return sum(s.duration for s in desc[rid] if s.name == name)

    def setup_spans(name: str) -> list[Span]:
        return [s for s in spans if s.name == name and s.request is None]

    # -- Spark, per request of the timed loop
    per_req = [job_totals(req_jobs[rid], stages) for rid in root]
    ctx.request_counts = {
        rid: dict(t, job_ids=[j.id for j in req_jobs[rid]], driver_only_s=driver_only_s(root[rid], req_jobs[rid]))
        for rid, t in zip(root, per_req)
    }
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = _mean(t[k] for t in per_req)
    out["spark.driver_only_s"] = _mean(c["driver_only_s"] for c in ctx.request_counts.values())

    # -- analytics: per pass sums and per-query medians
    out["suite_s"] = median(ctx.samples.get("suite_s", []))
    q_reqs = [r for r in loop if r.kind.startswith("query.")]
    if q_reqs:
        per_q: dict[str, dict[str, list]] = {}
        for r in q_reqs:
            name = r.kind[len("query."):]
            b = next(s for s in desc[r.req_id] if s.name.endswith(".build"))
            e = next(s for s in desc[r.req_id] if s.name.endswith(".exec"))
            d = per_q.setdefault(name, {"build_s": [], "exec_s": [], "jobs_build": [], "jobs_exec": []})
            d["build_s"].append(b.duration)
            d["exec_s"].append(e.duration)
            d["jobs_build"].append(len(jobs_in(req_jobs[r.req_id], b.start, b.end)))
            d["jobs_exec"].append(len(jobs_in(req_jobs[r.req_id], e.start, e.end)))
        passes = max(ctx.passes, 1)
        for k in ("build_s", "exec_s", "jobs_build", "jobs_exec"):
            out[f"queries.{k}"] = sum(sum(d[k]) for d in per_q.values()) / passes
        for name, d in per_q.items():
            for k in ("build_s", "exec_s", "jobs_build"):
                if f"queries.{name}.{k}" in out:
                    out[f"queries.{name}.{k}"] = median(d[k])

    # -- index build (set-up, outside the timed loop)
    for metric, name in (
        ("sharding.label_centroids_s", "sharding.label_centroids"),
        ("sharding.write_sharded_s", "sharding.write_sharded"),
        ("pq.train_pq_s", "pq.train_pq"),
        ("ann.write_tag_postings_s", "ann.write_tag_postings_layout"),
    ):
        out[metric] = sum(s.duration for s in setup_spans(name))
    out["sharding.write_sharded_jobs"] = sum(
        len(jobs_in(jobs, s.start, s.end)) for s in setup_spans("sharding.write_sharded")
    )

    # -- search path
    # serve-phase searches; the mutate phase's are "search.live_*"
    s_reqs = [r for r in loop if r.kind in ("search.raw", "search.pq", "search.filtered")]
    live_kinds = ("search.live_upsert", "search.live_delete")
    live_reqs = [r for r in loop if r.kind in live_kinds]
    for kind in ("raw", "pq", "filtered"):
        out[f"ann.{kind}.p50_s"] = median(ctx.latencies(f"search.{kind}"))
    out["ann.live.p50_s"] = median(ctx.latencies(*live_kinds))
    busy = sum(r.latency_s for r in s_reqs if r.ok)
    out["search_qps"] = sum(r.queries for r in s_reqs if r.ok) / busy if busy else 0.0
    if s_reqs:
        def phase(r, suffix):
            return sum(s.duration for s in desc[r.req_id] if s.name.startswith("search.") and s.name.endswith(suffix))

        out["ann.build_s"] = median([phase(r, ".build") for r in s_reqs])
        out["ann.exec_s"] = median([phase(r, ".exec") for r in s_reqs])
        out["ann.jobs_per_search"] = _mean(len(req_jobs[r.req_id]) for r in s_reqs)
        out["ann.open_probed_shards_s"] = _mean(span_sum(r.req_id, "ann.open_probed_shards") for r in s_reqs)
        pq_reqs = [r for r in s_reqs if r.kind == "search.pq"]
        out["ann.pq_pool_s"] = _mean(span_sum(r.req_id, "ann.pq_pool") for r in pq_reqs)
        shards = sum(
            s.args.get("shards", 0) for r in s_reqs for s in desc[r.req_id] if s.name == "ann.open_probed_shards"
        )
        out["ann.shards_probed_per_query"] = shards / max(1, sum(r.queries for r in s_reqs))
        scanned = sum(job_totals(req_jobs[r.req_id], stages)["input_records"] for r in s_reqs)
        out["ann.rows_scanned_per_result"] = scanned / max(1, sum(r.results for r in s_reqs))
    out["vector_ops.live_probed_view_s"] = _mean(
        span_sum(r.req_id, "vector_ops.live_probed_view") for r in live_reqs
    )
    out["ann.recall_at_10"] = _mean(ctx.samples.get("recall.raw", []))
    out["ann.pq.recall_at_10"] = _mean(ctx.samples.get("recall.pq", []))
    out["ann.live.recall_at_10"] = _mean(
        ctx.samples.get("recall.live_upsert", []) + ctx.samples.get("recall.live_delete", [])
    )
    out["space_amp"] = _mean(ctx.samples.get("space_amp", []))

    # -- writes and compaction
    w_reqs = [r for r in loop if r.kind.startswith("write.")]
    out["vector_ops.contested_ids"] = _mean(ctx.samples.get("contested", []))
    out["vector_ops.upsert_s"] = median(ctx.latencies("write.upsert"))
    out["vector_ops.delete_s"] = median(ctx.latencies("write.delete"))
    out["write_p50_s"] = median(ctx.latencies("write.upsert", "write.delete"))
    out["vector_ops.jobs_per_write"] = _mean(len(req_jobs[r.req_id]) for r in w_reqs)
    c_reqs = [
        r for r in loop
        if r.kind.startswith("maint.") and any(s.name == "vector_ops.compact_in_place" for s in desc[r.req_id])
    ]
    out["vector_ops.compact_jobs"] = _mean(len(req_jobs[r.req_id]) for r in c_reqs)
    out["compact_s"] = median(ctx.samples.get("compact_s", []))
    out["oplayout.files_per_op"] = _mean(ctx.samples.get("files_per_op", []))
    out["oplayout.bytes_written_per_user_byte"] = _mean(ctx.samples.get("bytes_per_user_byte", []))
    out["error_rate"] = ctx.failed / max(1, ctx.attempted)

    # -- self time per layer, per request of the timed loop
    loop_ids = set(root)
    loop_spans = [s for s in spans if s.request in loop_ids]
    for layer, t in tracer.self_times(loop_spans).items():
        key = f"self.{layer}_s" if layer in SELF_LAYERS else "self.other_operators_s"
        out[key] += t / max(1, len(root))

    # -- the cost of tracing itself
    loop_wall = sum(r.latency_s for r in loop)
    overhead = tracer.bookkeeping_s - ctx.bookkeeping_at_setup
    out["trace.overhead_s"] = overhead / max(1, len(root))
    out["trace.overhead_share"] = overhead / loop_wall if loop_wall else 0.0
    out["traced.latency_p50_s"] = e2e["latency_p50_s"]
    out["traced.qps"] = e2e["qps"]
    return out
