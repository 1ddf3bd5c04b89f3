"""PostGraph benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload cypher_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from the seed
(``perfbench/datagen.py``), the engine is driven through its public API
only, every output is checked, and the last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a report with the
workload-specific end-to-end figures, the session sizing and the error
rate. Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: scale factor of the generated tables (1,500 customers, 15,000
#: orders, ~60,000 lineitems, 500 documents)
SF = 0.01

HEAP_CAP_MB = 4096


def size_session() -> dict:
    """Cores from the CPUs this process may run on; the driver heap is a
    quarter of physical memory, at most HEAP_CAP_MB. Handed to the
    engine's session factory through its environment variables, and
    every scratch directory of Spark and the JVM is kept in WORK."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = min(HEAP_CAP_MB, total_kb // 1024 // 4)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise keep a perf file in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    return {"cores": cores, "driver_heap_mb": heap_mb}


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(run, outcome, tracer) -> dict:
    """Per-layer figures of a traced run, per operation of the measured
    window unless the name says otherwise."""
    from perfbench.tracing import wrapper_cost_s

    ops = run.ops
    ids = {op.id for op in ops}
    n = max(len(ops), 1)
    writes = [op for op in ops if op.kind == "write"]

    def per_op_ms(name, base=n):
        return tracer.total(name, ids)[0] * 1000 / max(base, 1)

    # a Cypher read either compiled or was served from the plan cache;
    # SQL passthrough and write statements have no such choice
    parsed = tracer.ops_with("plans.parse") - tracer.ops_with("writes.run")
    reads = {op.id for op in ops if op.kind == "read"} & parsed
    compiled = tracer.ops_with("plans.compile")
    counters = {k: sum(op.counters[k] for op in ops) for k in ops[0].counters} if ops else {}
    stage_wall = counters.get("stage_wall_ms", 0.0)
    spans_in_window = sum(1 for s in tracer.spans if s[4] in ids)
    busy = sum(op.seconds for op in ops) or 1.0
    m = {
        "plans.parse_ms": (per_op_ms("plans.parse"), "ms"),
        "plans.compile_ms": (per_op_ms("plans.compile"), "ms"),
        "plans.compile_calls": (tracer.total("plans.compile", ids)[1] / n, "count"),
        "engine.plan_cache_hit_ratio": (
            len(reads - compiled) / len(reads) if reads else 0.0, "ratio"),
        "engine.execute_self_ms": (self_ms_per_op(tracer, ops).get("engine.execute", 0.0), "ms"),
        "writes.run_ms": (per_op_ms("writes.run", len(writes)), "ms"),
        "writes.jobs_per_write": (
            sum(op.counters["jobs"] for op in writes) / len(writes) if writes else 0.0, "count"),
        "graph.persist_ms": (per_op_ms("graph.persist", len(writes)), "ms"),
        "graph.alloc_ids_ms": (per_op_ms("graph.alloc_ids", len(writes)), "ms"),
        "graph.durable_files": (0, "count"),
        "graph.bytes_per_user_byte": (0.0, "ratio"),
        "graph.build_s": (0.0, "s"),
        "sources.load_s": (tracer.total("sources.load", {None})[0], "s"),
        "operators.vle_ms": (per_op_ms("operators.vle"), "ms"),
        "spark.jobs_per_op": (counters.get("jobs", 0.0) / n, "count"),
        "spark.stages_per_op": (counters.get("stages", 0.0) / n, "count"),
        "spark.tasks_per_op": (counters.get("tasks", 0.0) / n, "count"),
        "spark.stage_wall_ms": (stage_wall / n, "ms"),
        "spark.driver_gap_ms": ((busy * 1000 - stage_wall) / n, "ms"),
        "spark.shuffle_bytes": (counters.get("shuffle_bytes", 0.0) / n, "bytes"),
        "spark.spill_bytes": (counters.get("spill_bytes", 0.0) / n, "bytes"),
        "trace.spans_per_op": (spans_in_window / n, "count"),
        "trace.overhead_pct": (100 * spans_in_window * wrapper_cost_s() / busy, "%"),
        "trace.kind_p50_gmean_ms": (kind_p50_gmean_ms(ops), "ms"),
    }
    m.update(outcome.layers)
    return m


def self_ms_per_op(tracer, ops) -> dict[str, float]:
    """Self time (span time not covered by child spans) per span name,
    per operation of the measured window. The benchmark's own "op.*"
    spans fold into "op": their self time is what no traced layer
    covers (Spark execution, row decoding, untraced code)."""
    ids = {op.id for op in ops}
    out: dict[str, float] = {}
    for span, t in zip(tracer.spans, tracer.self_times()):
        if span[4] in ids:
            name = "op" if span[0].startswith("op.") else span[0]
            out[name] = out.get(name, 0.0) + t * 1000 / max(len(ops), 1)
    return out


def by_label(ops) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for op in ops:
        out.setdefault(op.label, []).append(op.seconds)
    return out


def kind_p50_gmean_ms(ops) -> float:
    """Geometric mean over operation kinds (op labels) of each kind's
    median latency: every kind weighs the same whatever the mix, and a
    burst of host noise moves one kind's median, not the whole figure."""
    meds = [statistics.median(v) * 1000 for v in by_label(ops).values()]
    return statistics.geometric_mean(meds)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["corpus_batch", "cypher_interactive", "graph_writes"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "postgraph_spark")):
        print(f"perfbench: no postgraph_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    sizing = size_session()
    from perfbench import datagen
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Run

    data = datagen.materialize(os.path.join(WORK, "data"), args.seed, SF)
    n_rows = datagen.rows_at(SF)

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()

    t0 = time.perf_counter()
    from postgraph_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).write.format("noop").mode("overwrite").save()
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, data, WORK, args.seed, args.seconds, tracer)
        outcome = WORKLOADS[args.workload](run, n_rows)
        layers = layer_metrics(run, outcome, tracer) if tracer else None
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_session(spark)

    ops = run.ops
    setup_s = session_s + outcome.setup_s
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": SF,
        **sizing,
        "ops": len(ops),
        "window_s": round(outcome.window_s, 4),
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "session_s": {"value": session_s, "unit": "s"},
            "ops_per_s": {"value": len(ops) / outcome.window_s, "unit": "1/s"},
            "kind_p50_gmean_ms": {"value": kind_p50_gmean_ms(ops), "unit": "ms"},
            "error_rate": {"value": outcome.failed / outcome.attempted, "unit": "ratio"},
            **{k: {"value": v, "unit": u} for k, (v, u) in outcome.report.items()},
        },
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "label_p50_ms": {
            label: round(statistics.median(v) * 1000, 3)
            for label, v in sorted(by_label(ops).items())
        },
    }
    if tracer is not None:
        trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(trace_path)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        report["self_ms_per_op"] = {
            k: round(v, 3) for k, v in sorted(self_ms_per_op(tracer, ops).items())
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "kind_p50_gmean_ms": {"value": kind_p50_gmean_ms(ops), "unit": "ms"},
        }
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
