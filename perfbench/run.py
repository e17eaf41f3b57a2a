"""The repository benchmark: one named workload, one seed, one Spark session
on ``local[<cores>]``.

    python3 perfbench/run.py --workload cypher-session --seed 1 --seconds 5 --trace 0

The run makes its inputs, then sets up once, cold: session start (the JVM
launch), catalog loads, the workload's build and a warm-up. Then come timed
rounds of ops until ``--seconds`` have passed, always finishing the round,
then the output checks. The last line of standard output is the result:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run. The line before it holds every metric of the run
with its unit and sample count. See ``README.md`` for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import report  # noqa: E402

sys.path.insert(0, harness.ROOT)

WORKLOADS = ("cypher-session", "graph-kernels", "connector-http")
SCALE, WARM_SCALE = 0.1, 0.001


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def make_workload(name: str, seed: int, run_dir: str):
    import datagen

    data = os.path.join(harness.BUILD, "data")
    if name == "cypher-session":
        from cypher_session import CypherSession

        return CypherSession(seed, datagen.ensure_tables(data, SCALE))
    if name == "graph-kernels":
        from graph_kernels import GraphKernels

        return GraphKernels(
            seed, datagen.ensure_tables(data, SCALE), datagen.ensure_tables(data, WARM_SCALE)
        )
    from connector_http import ConnectorHttp

    return ConnectorHttp(seed, run_dir)


def set_up(workload) -> tuple[object, dict]:
    """The run's set-up: session start, catalog loads, workload build and
    warm-up, in a process that has not started a JVM yet."""
    from flink_neo4j_spark.catalog import load_table
    from flink_neo4j_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload.name}")
    t1 = time.perf_counter()
    for table in workload.tables:
        load_table(spark, workload.data_dir, table)
    t2 = time.perf_counter()
    workload.build(spark)
    t3 = time.perf_counter()
    workload.warm_up()
    t4 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "catalog_s": t2 - t1, "build_s": t3 - t2, "warmup_s": t4 - t3}


def run_op(op: harness.Op, op_id: int, tracer) -> harness.OpRecord:
    if op.before is not None:
        op.before()
    rows, check, error = 0, None, None
    with tracer.op(op_id, op.kind, op.name):
        t0 = time.perf_counter()
        try:
            rows, check = op.run(tracer)
        except Exception as exc:  # a failed op is counted, and the run goes on
            error = f"{type(exc).__name__}: {exc}"[:400]
        ms = (time.perf_counter() - t0) * 1000.0
    if op.after is not None and error is None:
        rows, check = op.after(tracer, rows, check)
    return harness.OpRecord(op_id, op.kind, op.name, ms, rows, error, check)


def run_checks(records: list[harness.OpRecord]) -> None:
    for rec in records:
        if rec.error is not None or rec.check is None:
            continue
        try:
            problem = rec.check()
        except Exception as exc:  # a check that cannot run fails its op
            problem = f"check raised {type(exc).__name__}: {exc}"[:400]
        if problem is not None:
            rec.error = f"check: {problem}"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    try:
        import flink_neo4j_spark  # noqa: F401  the engine under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    run_dir = os.path.join(harness.BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(harness.BUILD, "logs"), exist_ok=True)
    os.makedirs(os.path.join(harness.BUILD, "traces"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tmp = os.path.join(run_dir, "tmp")
    harness.configure_environment(tmp)
    tempfile.tempdir = tmp
    log = harness.JvmLog(os.path.join(harness.BUILD, "logs", f"{tag}.log"))
    workload = spark = None
    try:
        t0 = time.perf_counter()
        workload = make_workload(args.workload, args.seed, run_dir)
        inputs_s = time.perf_counter() - t0
        spark, setup = set_up(workload)
        # from the start of this command to the first timed op, less the
        # time the benchmark spent making its own inputs
        setup["total_s"] = time.perf_counter() - START - inputs_s

        tracer = harness.Tracer(spark, log) if args.trace else harness.NullTracer()
        records: list[harness.OpRecord] = []
        rounds = 0
        ticks0 = harness.cpu_ticks()
        t_start = time.perf_counter()
        while True:
            for op in workload.round(rounds):
                records.append(run_op(op, len(records), tracer))
            rounds += 1
            if time.perf_counter() - t_start >= args.seconds:
                break
        wall_s = time.perf_counter() - t_start
        busy, steal = (b - a for a, b in zip(ticks0, harness.cpu_ticks()))
        jvm_errors = log.errors_since(0)
        t0 = time.perf_counter()
        run_checks(records)
        checks_s = time.perf_counter() - t0
        rss = harness.peak_rss_mb()
        if args.trace:
            layer = report.per_layer(tracer, records, setup, wall_s)
            spans_path = os.path.join(harness.BUILD, "traces", f"{tag}.jsonl")
            tracer.dump(spans_path)
    finally:
        if workload is not None:
            workload.close()
        if spark is not None:
            spark.stop()
        harness.shutdown_jvm()
        log.restore()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, detail = report.end_to_end(
        records, setup, wall_s, sum(rss), rows_metrics=args.workload == "connector-http"
    )
    failures = [f"op {r.op_id} {r.name}: {r.error}" for r in records if r.failed]
    for line in failures[:20]:
        print(f"perfbench: failed {line}", file=sys.stderr)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rounds": rounds, "ops": len(records), "inputs_s": inputs_s,
        "setup": setup, "timed_s": wall_s, "checks_s": checks_s,
        "host_steal_share": steal / max(1, busy + steal), "jvm_error_logs": jvm_errors,
        "driver_rss_mb": rss[0], "jvm_rss_mb": rss[1],
        "metrics": detail, "failures": failures[:20],
        "op_ms": [[r.name, round(r.ms, 1)] for r in records],
    }
    if args.trace:
        info["spans"] = os.path.relpath(spans_path, harness.ROOT)
        info["metrics"] = {**detail, **layer}
    print(json.dumps(info))
    result = {
        "correct": not failures,
        "attempted": len(records),
        "failed": len(failures),
        "metrics": layer if args.trace else e2e,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
