"""Benchmark entry point.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, starts a Spark session sized to the machine, warms up, measures
for ``--seconds`` seconds in a closed loop with one client, checks the
outputs, and prints two JSON lines.  The first holds every metric of the
workload under its own name (``query_p50_s``, ``drop_commit_p50_s``, ...)
with the machine and the set-up phases; the last holds the metrics
BENCHMARK.json names: its ``end_to_end`` list with ``--trace 0``, its
``per_layer`` list with ``--trace 1``.  A traced run wraps the engine's
public functions with spans and enables the Spark event log.  All scratch
files live in a fresh directory under ``.perfbench_tmp/`` that is removed
on exit; a traced run leaves its spans there as JSON lines.  See perfbench/README.md for the workloads and metrics."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PKG = "european_emissions_data_warehouse_spark"


def machine() -> tuple[int, int]:
    """(cores, RAM in MB): cores honour SPARK_GRAFT_CPUS like the engine's
    own session factory, else the CPUs this process may run on."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return cores, mem_kb // 1024


def session_conf(root: str, ram_mb: int, trace: bool) -> dict[str, str]:
    # an eighth of RAM, at most 2 GB: the inputs are small and the box may
    # be shared.  The heap is committed and touched whole at start, so peak
    # RSS moves with off-heap and Python memory, not with when G1 chose to
    # grow the heap or touch a region; the heap the engine holds is
    # measured on its own, as jvm_live_heap_mb.
    heap_mb = min(2048, ram_mb // 8)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(root, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={root}/jvm-tmp -Dderby.system.home={root}/derby",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(root, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            }
        )
    return conf


def install_wrappers(tracer) -> None:
    """Spans around the engine's public functions.  Names a module bound
    at import time (``streaming.ingest`` imports ``dedupe_last`` and
    ``upsert_anti_join``; the plan modules import ``load_table``) are
    rebound there too."""
    import __spark_entry__  # noqa: F401  (loads every plan module first)
    from european_emissions_data_warehouse_spark.operators import merge, snapshots
    from european_emissions_data_warehouse_spark.sources import readers

    for owner, attr, name in [
        (readers, "load_table", "readers.load_table"),
        (readers, "read_csv", "readers.read_csv"),
        (merge, "dedupe_last", "merge.build"),
        (merge, "upsert_anti_join", "merge.build"),
    ]:
        tracer.wrap(owner, attr, name, rebind_prefix=PKG)
    for attr in ("commit", "history", "read", "vacuum", "last_applied_batch"):
        tracer.wrap(snapshots.SnapshotTable, attr, f"snapshots.{attr}")


def layer_metrics(tracer, res, cores: int, exec_totals: dict, counts: dict, phases: dict) -> dict:
    """Every per-layer figure of a traced run.  Span figures are self time
    per traced operation; Spark figures cover every operation of the
    window, traced or not, per operation."""
    n_traced = max(1, sum(res.traced))
    n_all = max(1, len(res.latencies))

    def per_op(name: str) -> float:
        return tracer.self_total(name) / n_traced

    out = {
        "session.start_s": phases["start_s"],
        "session.warmup_s": phases["warmup_s"],
        "readers.load_table_s": per_op("readers.load_table"),
        "readers.load_table_calls": tracer.counts["readers.load_table"] / n_traced,
        "readers.read_csv_s": per_op("readers.read_csv"),
        "plans.build_s": per_op("plans.build"),
        "exec.action_s": per_op("exec.action"),
        "merge.build_s": per_op("merge.build"),
    }
    for attr in ("commit", "history", "read", "vacuum"):
        out[f"snapshots.{attr}_s"] = per_op(f"snapshots.{attr}")
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"exec.{k}"] = counts[k] / n_all
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "executor_run_s"):
        out[f"exec.{k}"] = exec_totals[k] / n_all
    out["exec.core_busy_share"] = exec_totals["executor_run_s"] / (res.window_s * cores)
    # workload-only layers (merge rows, ingest, dedup) default to 0 where
    # the workload bypasses them
    out.update(dict.fromkeys(LAYER_ONLY, 0.0))
    out.update(res.layers)
    out["trace.traced_ops"] = float(sum(res.traced))
    out["trace.overhead_share"] = tracing_overhead(res)
    return out


# per-layer figures only one workload produces
LAYER_ONLY = (
    "merge.rows_in",
    "merge.rows_inserted",
    "merge.rows_updated",
    "snapshots.bytes_written_per_drop_byte",
    "snapshots.versions_live",
    "ingest.trigger_s",
    "ingest.overhead_s",
    "ingest.batches",
    "ingest.replays_skipped",
    "corpus.prep_s",
    "dedup.minhash_lsh_s",
    "dedup.components_s",
    "dedup.components_jobs",
    "dedup.lsh_pairs",
    "dedup.lsh_precision",
    "dedup.lsh_recall",
)


def tracing_overhead(res) -> float:
    """Median over operation kinds of (traced median / untraced median) - 1:
    paired by kind so a mix of cheap and dear queries compares like with
    like."""
    from harness import median

    ratios = []
    for kind in set(res.kinds):
        on = [t for t, k, tr in zip(res.latencies, res.kinds, res.traced) if k == kind and tr]
        off = [t for t, k, tr in zip(res.latencies, res.kinds, res.traced) if k == kind and not tr]
        if on and off:
            ratios.append(median(on) / median(off) - 1)
    return median(ratios) if ratios else 0.0


def end_to_end(res, phases: dict, rss_mb: float, live_heap_mb: float) -> dict:
    from harness import median

    return {
        "setup_s": phases["inputs_s"] + phases["start_s"] + phases["warmup_s"],
        "op_p50_s": median(res.latencies),
        "driver_peak_rss_mb": rss_mb,
        "jvm_live_heap_mb": live_heap_mb,
    }


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("_share", "_precision", "_recall", "_per_drop_byte")):
        return "ratio"
    return "count"


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for it (and any
    Python workers it started) to exit."""
    from pyspark import SparkContext

    import harness

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while harness.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO)
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
    # the engine and its driver contract live beside this directory; a
    # checkout without them must fail here, before any measurement
    if not os.path.isfile(os.path.join(REPO, PKG, "session.py")):
        print(f"perfbench: engine package {PKG} not found beside {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from european_emissions_data_warehouse_spark.session import get_session

    cores, ram_mb = machine()
    base = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for sub in ("spark-local", "jvm-tmp", "eventlog", "py-tmp"):
        os.makedirs(os.path.join(root, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(root, "py-tmp")
    tempfile.tempdir = None

    tracer = harness.Tracer(run_id=f"{args.workload}-{args.seed}")
    if args.trace:
        install_wrappers(tracer)
    ctx = workloads.Context(args.seed, args.seconds, bool(args.trace), root, tracer)
    sessions = []

    def start_session():
        t = time.perf_counter()
        spark = get_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            extra_conf=session_conf(root, ram_mb, bool(args.trace)),
        )
        spark.sparkContext.setLogLevel("ERROR")
        ctx.phases["start_s"] = time.perf_counter() - t
        sessions.append(spark)
        return spark

    try:
        res = workloads.WORKLOADS[args.workload](ctx, start_session)
        spark = sessions.pop()
        job_ids = {j for first, end in res.jobs for j in range(first, end)}
        counts = harness.job_counts(spark._sc, job_ids) if args.trace else {}
        stop_session(spark)
        e2e = end_to_end(res, ctx.phases, ctx.rss.mb(), ctx.live_heap_mb)
        layers = {}
        if args.trace:
            spans = os.path.join(base, f"{args.workload}-seed{args.seed}.spans.jsonl")
            tracer.dump(spans)
            totals = harness.event_log_totals(os.path.join(root, "eventlog"), job_ids)
            layers = layer_metrics(tracer, res, cores, totals, counts, ctx.phases)
    finally:
        for spark in sessions:
            stop_session(spark)
        tracer.unwrap()
        shutil.rmtree(root, ignore_errors=True)

    attempted = len(res.latencies)
    named = {
        "setup_s": (e2e["setup_s"], "s"),
        **res.named,
        "failed_ops_ratio": (res.failed / attempted, "ratio"),
        "driver_peak_rss_mb": (ctx.rss.mb(), "MB"),
        "python_peak_rss_mb": (ctx.rss.own_mb(), "MB"),
        "jvm_live_heap_mb": (ctx.live_heap_mb, "MB"),
        "samples": (attempted, "count"),
    }
    named.update((k, (v, layer_unit(k))) for k, v in layers.items())
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "ram_mb": ram_mb,
        "phases_s": ctx.phases,
        "latencies_s": res.latencies,
        **({"spans": os.path.relpath(spans, REPO)} if args.trace else {}),
        "metrics": {k: {"value": v[0], "unit": v[1], **({"note": v[2]} if len(v) > 2 else {})} for k, v in named.items()},
    }
    print(json.dumps(info))
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    result = {
        "correct": res.failed == 0,
        "attempted": attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
