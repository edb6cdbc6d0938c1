"""Ingest and query benchmark of the clickstream engine.

    python3 perfbench/run.py --workload ingest_fanout --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``. Set-up starts one Spark session (``local[2]``, driver
memory pinned to 2g), builds the workload's state and makes its untimed
warm-up passes; timed passes then run for at least ``--seconds``
seconds and at least the workload's ``min_passes``. Warm-up passes are
checked like the others but not timed.

The end-to-end metrics (``--trace 0``) are in CPU seconds of the process
tree less the JVM's compiler threads (``proctree.CpuMeter``): on a
shared host wall time moves with the neighbours, CPU time far less.
Wall-clock figures are printed as ``#`` lines beside them and are
metrics of the traced run (``--trace 1``), which alternates untraced and
traced passes: the wall figures come from its untraced passes, the
per-layer numbers are per traced pass and ``trace.overhead_s`` is the
traced minus the untraced median pass time.

Every metric is printed as ``name value unit``, then the environment,
and the last line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

Everything the run writes stays under the repository root: scratch
files in ``.perfbench_work/`` (deleted on exit) and the span dump of a
traced run in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

import layers
import proctree
from spans import Tracer
from workloads import WORKLOADS, PassResult, util_snapshot

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: task threads: half the cores of a four-core host, so the JVM's compiler
#: and collector threads and the Python driver do not queue behind tasks
CORES = 2
DRIVER_MEM = "2g"
#: operations beyond the tail percentile
TAIL_BEYOND = 10

END_TO_END_UNITS = {
    "setup_s": "s", "cpu_s": "s", "query_p50_cpu_s": "s", "query_tail_cpu_s": "s",
    "peak_rss_mb": "MB",
}
WALL_UNITS = {"wall_s": "s", "events_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s"}
#: span name -> what is reported per traced pass: inclusive seconds
#: (<span>_s), Spark jobs including child spans' (_jobs), calls (_calls)
SPAN_METRICS = {
    "sources.read_ndjson": ("s", "jobs"),
    "sources.flatten": ("s", "jobs"),
    "pipeline.ingest_json_dir": ("s", "jobs"),
    "pipeline.process": ("s", "jobs"),
    "app.store_result": ("s", "jobs"),
    "app.store_table": ("s", "calls"),
    "app.empty_check": ("s", "calls"),
    "operators.coerce.reconcile": ("s",),
    "sinks.ensure_table_structure": ("s", "jobs"),
    "sinks.insert_df": ("s", "calls", "jobs"),
    "sinks.read_table": ("s", "jobs"),
    "sinks.read_view": ("s", "jobs"),
    "plans.build": ("s", "jobs"),
    "plans.execute": ("s", "jobs"),
}
#: span name prefixes; "ops" is the benchmark's own action on a returned
#: DataFrame (the count or collect of a lake read)
LAYERS = ("sources", "pipeline", "app", "operators", "sinks", "plans", "ops")
SPARK_METRICS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("scheduler_floor_s", "s"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
    ("gc_s", "s"), ("failed_tasks", "count"),
)
COUNT_METRICS = (
    ("sources.input_mb", "MB"), ("sources.corrupt_lines", "count"),
    ("pipeline.tables_out", "count"), ("operators.coerce.misfit_rows", "count"),
    ("sinks.files_written", "count"), ("sinks.bytes_written_mb", "MB"),
    ("sinks.bytes_per_input_byte", "ratio"), ("sinks.files_scanned", "count"),
    ("operators.dedup.rows_in", "count"), ("operators.dedup.rows_out", "count"),
    ("util.persisted_rdds", "count"), ("util.storage_held_mb", "MB"),
    ("util.session_cache_entries", "count"),
)


@dataclass
class Pass:
    result: PassResult
    #: Tracer.summarize of the pass, for a traced pass
    summary: dict | None


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    units = dict(WALL_UNITS)
    for span, kinds in SPAN_METRICS.items():
        for kind in kinds:
            units[f"{span}_{kind}"] = "s" if kind == "s" else "count"
    for layer in LAYERS:
        units[f"{layer}.self_s"] = "s"
    for key, unit in SPARK_METRICS:
        units[f"spark.{key}"] = unit
    units.update(dict(COUNT_METRICS))
    units["trace.overhead_s"] = "s"
    return units


def tail(values: list[float]) -> tuple[float, float]:
    """The highest nearest-rank percentile that leaves TAIL_BEYOND
    operations beyond it: (value, percentile)."""
    ordered = sorted(values)
    rank = max(len(ordered) - TAIL_BEYOND, 1)
    return ordered[rank - 1], 100 * rank / len(ordered)


def start_spark(work: str):
    from clickstreamtoclickhouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=CORES,
        driver_memory=DRIVER_MEM,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.sql.catalogImplementation": "in-memory",
            # the whole heap is committed and touched at start, so peak RSS
            # moves with off-heap, metaspace and Python memory rather than
            # with when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                                             " -XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environment(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "nproc": os.cpu_count(),
    }


def run(args, work: str) -> dict:
    """Prepare, set up and measure one workload; return the raw results."""
    workload = WORKLOADS[args.workload]()
    workload.prepare(work, args.seed)

    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        tracer = Tracer(spark, enabled=False)
        workload.setup(spark)
        layers.install(tracer, args.workload)
        warmup = [workload.run_pass(spark, tracer) for _ in range(workload.warmup_passes)]
        setup_s = time.perf_counter() - t0

        passes = []
        deadline = time.perf_counter() + args.seconds
        min_passes = max(workload.min_passes, 3 if args.trace else 1)
        while len(passes) < min_passes or time.perf_counter() < deadline:
            # a traced run starts with an untraced pass, then alternates
            tracer.enabled = bool(args.trace) and len(passes) % 2 == 1
            mark = len(tracer.spans)
            res = workload.run_pass(spark, tracer)
            summary = None
            if tracer.enabled:
                summary = tracer.summarize(mark)
                snaps = [tracer.spans[i] for i in range(mark, len(tracer.spans))]
                snaps = [r for r in snaps if "util.persisted_rdds" in r] + [util_snapshot(spark)]
                for key in snaps[-1]:
                    res.counts[key] = max(r[key] for r in snaps)
            tracer.enabled = False
            passes.append(Pass(res, summary))
        peak_rss = proctree.peak_rss_mb(proctree.tree_pids())
        env = environment(spark)
        tracer.unwrap()
        workload.teardown()
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}.json"))
    finally:
        stop_spark(spark)
    return {"setup_s": setup_s, "warmup": warmup, "passes": passes, "peak_rss_mb": peak_rss, "env": env}


def end_to_end(raw: dict) -> dict[str, float]:
    passes = [p.result for p in raw["passes"]]
    ops = [cpu for p in passes for _label, _wall, cpu in p.ops]
    return {
        "setup_s": raw["setup_s"],
        "cpu_s": statistics.median(p.cpu_s for p in passes),
        "query_p50_cpu_s": statistics.median(ops),
        "query_tail_cpu_s": tail(ops)[0],
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def wall_clock(passes: list[PassResult]) -> dict[str, float]:
    ops = [wall for p in passes for _label, wall, _cpu in p.ops]
    return {
        "wall_s": statistics.median(p.wall_s for p in passes),
        "events_per_s": statistics.median(p.events / p.wall_s for p in passes),
        "query_p50_s": statistics.median(ops),
        "query_tail_s": tail(ops)[0],
    }


def per_layer(raw: dict) -> dict[str, float]:
    """Per-layer metrics, each the mean over the traced passes."""
    traced = [p for p in raw["passes"] if p.summary]
    n = len(traced)
    out = {name: 0.0 for name in per_layer_units()}
    out.update(wall_clock([p.result for p in raw["passes"] if not p.summary]))
    for p in traced:
        for span, kinds in SPAN_METRICS.items():
            agg = p.summary["by_name"].get(span)
            for kind in kinds if agg else ():
                out[f"{span}_{kind}"] += agg[kind] / n
        for layer in LAYERS:
            out[f"{layer}.self_s"] += p.summary["layer_self"].get(layer, 0.0) / n
        for key, _unit in SPARK_METRICS:
            out[f"spark.{key}"] += p.summary["spark"].get(key, 0.0) / n
        for key, _unit in COUNT_METRICS:
            out[key] += p.result.counts.get(key, 0.0) / n
    # the first timed pass runs before any traced one and is still warming
    untraced = [p.result.wall_s for p in raw["passes"][1:] if not p.summary]
    out["trace.overhead_s"] = (
        statistics.median(p.result.wall_s for p in traced) - statistics.median(untraced)
    )
    return out


def report(args, raw: dict) -> dict:
    warmup = raw.get("warmup", [])
    passes = [p.result for p in raw["passes"]]
    ops = [wall for p in passes for _label, wall, _cpu in p.ops]
    attempted = sum(p.attempted for p in warmup + passes)
    failed = sum(p.failed for p in warmup + passes)
    for i, p in enumerate(warmup + passes):
        for label, msg in p.failures:
            kind = f"warm-up pass {i}" if i < len(warmup) else f"pass {i - len(warmup)}"
            print(f"# check failed in {kind}, {label}: {msg}", file=sys.stderr)
    print(f"# workload {args.workload} seed {args.seed} warm-up passes {len(warmup)} passes {len(passes)} "
          f"operations {attempted} timed {len(ops)} tail percentile p{tail(ops)[1]:.0f} "
          f"failed_ratio {failed / attempted:.4f}")
    for i, p in enumerate(warmup):
        print(f"# warm-up pass {i} wall {p.wall_s:.3f} s cpu {p.cpu_s:.3f} s")
    for i, p in enumerate(passes):
        print(f"# pass {i} wall {p.wall_s:.3f} s cpu {p.cpu_s:.3f} s; operations wall/cpu: "
              + ", ".join(f"{label} {wall:.3f}/{cpu:.2f}" for label, wall, cpu in p.ops))
    for key, val in sorted(raw["env"].items()):
        print(f"# env {key} {val}")
    if args.trace:
        metrics, units = per_layer(raw), per_layer_units()
        for p in raw["passes"]:
            for row in p.summary["roots"] if p.summary else ():
                print(
                    f"# span {row['name']} {row['label']}: wall {row['wall_s']:.3f} s, "
                    f"scheduler floor {row['scheduler_floor_s']:.3f} s, "
                    f"executor run {row['executor_run_s']:.3f} s, jobs {int(row['jobs'])}"
                )
    else:
        metrics, units = end_to_end(raw), END_TO_END_UNITS
        for name, val in wall_clock(passes).items():
            print(f"# {name} {val:.6g} {WALL_UNITS[name]}")
    for name in units:
        print(f"{name} {metrics[name]:.6g} {units[name]}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    package = os.path.join(ROOT, "clickstreamtoclickhouse_spark")
    if not os.path.isdir(package):
        print(f"engine package not found at {package}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)
    try:
        raw = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = report(args, raw)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
