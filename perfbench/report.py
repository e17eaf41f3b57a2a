"""Metrics from a run's op records (end to end) and from its spans and
counts (per layer). ``README.md`` defines each metric."""

from __future__ import annotations

import statistics

import harness
from harness import median, metric


def end_to_end(
    records, setup: dict, wall_s: float, rss_mb: float, rows_metrics: bool
) -> tuple[dict, dict]:
    """Returns the gated metrics (steady on every workload) and the full
    table with sample counts. ``rows_metrics``: the ops' rows are rows
    moved through the connector, so rows per second are reported."""
    done = [r for r in records if not r.failed]
    lat = {k: [r.ms for r in done if r.kind == k] for k in ("read", "write", "kernel")}
    setup_s = setup["total_s"]
    ops_per_s = len(done) / wall_s
    op_p50 = median([r.ms for r in done])
    gated = {
        "setup_s": metric(setup_s, "s"),
        "ops_per_s": metric(ops_per_s, "op/s"),
    }
    detail = {
        "setup_s": metric(setup_s, "s", 1),
        "ops_per_s": metric(ops_per_s, "op/s", len(done)),
        "op_p50_ms": metric(op_p50, "ms", len(done)),
        "failed_op_ratio": metric((len(records) - len(done)) / len(records), "fraction", len(records)),
        "peak_rss_mb": metric(rss_mb, "MB", 1),
    }
    for kind, values in lat.items():
        if values:
            detail[f"{kind}_p50_ms"] = metric(median(values), "ms", len(values))
    reads = lat["read"]
    if len(reads) >= 200:  # at least ten samples beyond the 95th percentile
        detail["read_p95_ms"] = metric(statistics.quantiles(reads, n=20)[-1], "ms", len(reads))
    if rows_metrics:
        for kind in ("read", "write"):
            ops = [r for r in done if r.kind == kind]
            rows_per_s = sum(r.rows for r in ops) / (sum(r.ms for r in ops) / 1000)
            detail[f"{kind}_rows_per_s"] = metric(rows_per_s, "rows/s", len(ops))
    return gated, detail


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(tracer: harness.Tracer, records, setup: dict, wall_s: float) -> dict:
    spans = tracer.spans
    selfs = harness.self_times(spans)
    dur = [s.end - s.start for s in spans]
    ops = [i for i, s in enumerate(spans) if s.name == "op"]
    n_ops = max(1, len(ops))
    op_ms = sum(dur[i] for i in ops) or 1.0

    def named(prefix: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s.name.startswith(prefix)]

    def children(i: int, name: str) -> list[int]:
        return [j for j, s in enumerate(spans) if s.parent == i and s.name == name]

    kinds = {r.op_id: r.kind for r in records}

    def count(name: str, op_kind: str | None = None) -> float:
        return sum(
            v for op, n, v in tracer.counts
            if n == name and (op_kind is None or kinds.get(op) == op_kind)
        )

    def mean_ms(prefix: str) -> float:
        return _mean(dur[i] for i in named(prefix))

    stages = [spans[i] for i in named("spark.stage")]
    jobs = named("spark.job")
    width = harness.cpus()
    out = {
        "session.start_s": metric(setup["session_s"], "s"),
        "catalog.load_ms": metric(setup["catalog_s"] * 1000, "ms"),
        "catalog.memo_builds": metric(count("catalog.memo_builds"), "count"),
        "catalog.memo_entries": metric(len(harness.memo(tracer.spark)), "count"),
        "catalog.cached_mb": metric(tracer.cached_mb(), "MB"),
        "cypher_frontend.read_call_ms": metric(mean_ms("cypher_frontend.read"), "ms/call"),
        "cypher_frontend.write_call_ms": metric(mean_ms("cypher_frontend.write"), "ms/call"),
    }
    calls = named("cypher_frontend.")
    out["cypher_frontend.jobs_per_call"] = metric(
        _mean(len(children(i, "spark.job")) for i in calls), "jobs/call"
    )
    out["cypher_frontend.error_logs"] = metric(count("jvm.error_logs") / n_ops, "count/op")

    kernels = named("graph_algos.")
    job_ms = [sum(dur[j] for j in children(i, "spark.job")) for i in kernels]
    out["graph_algos.call_ms"] = metric(_mean(dur[i] for i in kernels), "ms/call")
    out["graph_algos.eager_jobs"] = metric(
        _mean(len(children(i, "spark.job")) for i in kernels), "jobs/call"
    )
    out["graph_algos.eager_job_ms"] = metric(_mean(job_ms), "ms/call")
    out["graph_algos.construct_ms"] = metric(_mean(selfs[i] for i in kernels), "ms/call")

    for variant in ("b100", "b1000", "b10000", "ds"):
        out[f"sources.write_call_ms.{variant}"] = metric(mean_ms(f"sources.write.{variant}"), "ms/call")
    for variant in ("fn", "ds"):
        reads = named(f"sources.read.{variant}")
        actions = [
            j for i in reads for j in children(spans[i].parent, "spark.action")
        ]
        out[f"sources.read_call_ms.{variant}"] = metric(
            _mean(dur[i] for i in reads) + _mean(dur[j] for j in actions), "ms/call"
        )
    rows_written = sum(r.rows for r in records if r.kind == "write" and r.name.startswith("write."))
    rows_read = sum(r.rows for r in records if r.kind == "read" and r.name.startswith("read."))
    out["sources.requests_per_op"] = metric(count("endpoint.requests") / n_ops, "count/op")
    out["sources.connections_per_op"] = metric(count("endpoint.connections") / n_ops, "count/op")
    out["sources.bytes_sent_per_row"] = metric(
        count("endpoint.bytes_in", "write") / rows_written if rows_written else 0.0, "B/row"
    )
    out["sources.bytes_received_per_row"] = metric(
        count("endpoint.bytes_out", "read") / rows_read if rows_read else 0.0, "B/row"
    )
    out["endpoint.busy_ms"] = metric(count("endpoint.busy_ms") / n_ops, "ms/op")

    actions = named("spark.action")
    out["spark.plan_ms"] = metric(
        sum(spans[i].attrs.get("plan_ms", 0.0) for i in actions) / n_ops, "ms/op"
    )
    out["spark.action_ms"] = metric(sum(dur[i] for i in actions) / n_ops, "ms/op")
    out["spark.jobs"] = metric(len(jobs) / n_ops, "jobs/op")
    out["spark.stages"] = metric(len(stages) / n_ops, "stages/op")
    out["spark.tasks"] = metric(sum(s.attrs["tasks"] for s in stages) / n_ops, "tasks/op")
    run_ms = sum(s.attrs["run_ms"] for s in stages)
    out["spark.executor_run_ms"] = metric(run_ms / n_ops, "ms/op")
    out["spark.executor_cpu_ms"] = metric(sum(s.attrs["cpu_ms"] for s in stages) / n_ops, "ms/op")
    stage_wall = sum(s.end - s.start for s in stages)
    out["spark.slot_idle_ms"] = metric((stage_wall * width - run_ms) / n_ops, "ms/op")
    for key, attr in (("shuffle_read_mb", "shuffle_read_b"), ("shuffle_write_mb", "shuffle_write_b"), ("spill_mb", "spill_b")):
        out[f"spark.{key}"] = metric(sum(s.attrs[attr] for s in stages) / 2**20 / n_ops, "MB/op")
    out["spark.failed_tasks"] = metric(sum(s.attrs["failed_tasks"] for s in stages), "count")

    # each layer's share of op time: calls including the Spark jobs they
    # fire, the final actions, and the endpoint's busy time
    for layer in ("cypher_frontend", "graph_algos", "sources"):
        out[f"{layer}.call_share"] = metric(100 * sum(dur[i] for i in named(f"{layer}.")) / op_ms, "%")
    out["spark.action_share"] = metric(100 * sum(dur[i] for i in actions) / op_ms, "%")
    out["endpoint.busy_share"] = metric(100 * count("endpoint.busy_ms") / op_ms, "%")

    done = [r for r in records if not r.failed]
    out["trace.ops_per_s"] = metric(len(done) / wall_s, "op/s")
    out["trace.overhead_ms"] = metric(tracer.overhead_ms / n_ops, "ms/op")
    return out
