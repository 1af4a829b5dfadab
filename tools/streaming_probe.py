"""Streaming-family decade probe — the committed rig
behind SCALING.md's streaming section, protocol-matched to
tools/embedding_probe.py (one fresh process per invocation; the caller
loops invocations for isolation).

The streaming operators' scale claims are about PER-BATCH cost against
GROWING standing state:

- run_hll_stream / run_sketch_stream: state is a fixed set of sketches
  (per-key HLL registers / one depth x width CMS table), so a micro-batch
  costs O(batch) regardless of how much history the store has absorbed.
- run_neardup_dedup_stream: the standing corpus grows with every batch,
  but a batch touches it only through bucket-equality joins — per-batch
  cost O(new x bands + matching buckets + one corpus scan), NOT the
  O(corpus x new) re-pairing a naive full-batch LSH would do per trigger.
- the ledgered-commit protocol itself (generation probe + replay skip)
  must stay O(1)-ish per trigger as commits accumulate.

Protocol per invocation: build a scaled source (cached per scale in the
work dir), BOOTSTRAP the standing state through the stream's own first
drain (one availableNow batch carrying `--scale` rows), then land and
drain three FIXED-SIZE probe batches one at a time, timing every drain
wall-clock around the run_* call (so checkpoint probe, ledger, merge, and
publish are all inside the measurement — the honest per-trigger cost).
Decades come from the caller invoking this at 10x scales: the probe-drain
wall should stay ~flat while the bootstrap wall tracks the data.

    python tools/streaming_probe.py hll     --scale 1000000  [--probe 100000]
    python tools/streaming_probe.py cms     --scale 1000000  [--probe 100000]
    python tools/streaming_probe.py neardup --scale 100000   [--probe 2000]

Prints one JSON line:
    {"arm", "scale", "probe_rows", "bootstrap_sec",
     "probe_secs": [s1, s2, s3], "probe_min", "state_rows"}

Commit-count ladder mode — the decade the standard protocol can't see:
per-trigger cost as COMMITS accumulate (the corpus's appended data dirs,
its commit log and the checkpoint history), with an optional mid-ladder
``SnapshotTable.optimize`` of the corpus, which folds the appended dirs into
one, to show the O(n_batches) dir-listing term recovering:

    python tools/streaming_probe.py neardup --scale 100000 \
        --ladder 400 [--ladder-probe 500] [--compact-at 200]

One big disjoint source is generated once and split into `--ladder`
fixed-size trigger slices (fresh ids/tokens per trigger, so every drain
measures probing, not an all-duplicates batch); each drain is timed
wall-clock like the standard protocol.  Prints one JSON line:
    {"arm": "neardup", "mode": "ladder", "scale", "ladder", "probe_rows",
     "bootstrap_sec", "walls": [...], "data_dirs": [...],
     "compact": {"at", "sec", "dirs_before", "dirs_after", "version"} | null,
     "state_rows"}

Each drain includes ~1-2 s of structured-streaming query startup (constant,
part of real per-trigger cost under availableNow batch scheduling); the
flatness claim is therefore conservative — startup noise can only push the
measured ratio TOWARD 1, and the bootstrap walls carry the linear-in-new
pin independently.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
PROBE_REPEATS = 3


def _per_copy_rows(table: str) -> int:
    """Rows per copy in the sf0.1 source (parquet footer read, no Spark)."""
    import pyarrow.parquet as pq

    return pq.read_metadata(f"{SRC}/{table}.parquet").num_rows


def _make_source(table: str, out: str, n_rows: int, first_copy: int) -> None:
    """Materialize a scaled slice via tools/make_scale.py — the ONE corpus
    growth model every SCALING.md measurement uses (code-review r8: the
    first version of this probe re-implemented the copy-stacking and
    perturbed-docs semantics inline, leaving two copies to drift).
    `--first-copy` keeps independently generated slices disjoint in id and
    perturbation-tag space; `--rows` caps the slice."""
    n_copies = max(1, (n_rows + _per_copy_rows(table) - 1) // _per_copy_rows(table))
    flags = {
        "events": ["--events-only"],
        "documents": ["--perturb-docs", "--docs-only"],
    }[table]
    subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(os.path.abspath(__file__)), "make_scale.py"),
         out, str(n_copies), *flags,
         "--first-copy", str(first_copy), "--rows", str(n_rows)],
        check=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("arm", choices=["hll", "cms", "neardup"])
    ap.add_argument("--scale", type=int, required=True,
                    help="rows bootstrapped into the standing state")
    ap.add_argument("--probe", type=int, default=None,
                    help="rows per probe batch (default: 100000 events / "
                         "2000 docs)")
    ap.add_argument("--work", default="/tmp/streaming_probe")
    ap.add_argument("--sp", type=int, default=32)
    ap.add_argument("--ladder", type=int, default=None,
                    help="commit-count ladder: drain this many fixed-size "
                         "probe triggers after bootstrap (neardup only)")
    ap.add_argument("--ladder-probe", type=int, default=500,
                    help="rows per ladder trigger (default 500, the r8 "
                         "40-drain ladder's size)")
    ap.add_argument("--compact-at", type=int, default=None,
                    help="after this 0-based ladder trigger, optimize the "
                         "corpus table (one data dir) and time it")
    args = ap.parse_args()
    if args.ladder is not None and args.arm != "neardup":
        raise SystemExit("--ladder is the LSH-store commit ladder: neardup only")
    probe_rows = args.probe or (2000 if args.arm == "neardup" else 100000)

    from european_emissions_data_warehouse_spark.session import get_session

    spark = get_session(
        app_name=f"stream-probe-{args.arm}",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=args.sp,
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("FATAL")

    table = "documents" if args.arm == "neardup" else "events"

    # sources are cached per (table, rows, tag); stream dirs are always
    # fresh per invocation
    def source(tag: str, n_rows: int, first_copy: int) -> str:
        path = f"{args.work}/src_{table}_{tag}_{n_rows}"
        if not os.path.isdir(path):
            _make_source(table, path, n_rows, first_copy)
        return f"{path}/{table}.parquet"

    # probe copy offsets start far above any bootstrap copy range and are
    # spaced by the copies a probe batch consumes (code-review r8: +i
    # spacing overlapped whenever a probe spanned >1 copy, making
    # consecutive probe batches mostly identical), so probe ids/tokens are
    # fresh and neardup probes measure probing cost, not a pathological
    # all-duplicates batch
    probe_copies = max(
        1, (probe_rows + _per_copy_rows(table) - 1) // _per_copy_rows(table)
    )
    boot_src = source("boot", args.scale, 0)
    probe_srcs = []
    ladder_split = None
    if args.ladder is None:
        probe_srcs = [
            source(f"probe{i}", probe_rows, 100_000 + i * probe_copies)
            for i in range(PROBE_REPEATS)
        ]
    else:
        # one big disjoint slice (copy space 1M+, far above boot/probe
        # offsets), split ONCE into fixed-size trigger dirs by doc_id
        # order — fresh ids/tokens every trigger, one generation job
        total = args.ladder * args.ladder_probe
        base = source("ladder", total, 1_000_000)
        ladder_split = (
            f"{args.work}/split_{table}_ladder_{args.ladder}x{args.ladder_probe}"
        )
        if not os.path.isdir(ladder_split):
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            df = spark.read.parquet(base)
            df = df.withColumn(
                "_rn", F.row_number().over(Window.orderBy("doc_id")) - 1
            )
            df = df.withColumn(
                "trig", (F.col("_rn") / args.ladder_probe).cast("int")
            ).drop("_rn")
            tmp = f"{ladder_split}__tmp"
            df.write.mode("overwrite").partitionBy("trig").parquet(tmp)
            os.rename(tmp, ladder_split)

    run = f"{args.work}/run_{args.arm}_{args.scale}"
    shutil.rmtree(run, ignore_errors=True)
    landing = f"{run}/landing"
    ckpt = f"{run}/ckpt"
    state = f"{run}/state"
    os.makedirs(landing)

    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_hll_stream,
        run_neardup_dedup_stream,
        run_sketch_stream,
        stream_from_directory,
    )
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )

    schema = spark.read.parquet(boot_src).schema

    def land(src_path: str, tag: str) -> None:
        # hard-link into the flat landing dir under tag-unique names — the
        # file source tracks seen files, so each drain sees only new ones
        for j, fn in enumerate(sorted(os.listdir(src_path))):
            if fn.endswith(".parquet"):
                os.link(f"{src_path}/{fn}", f"{landing}/{tag}_{j}.parquet")

    def drain() -> float:
        stream = stream_from_directory(spark, landing, schema)
        t0 = time.perf_counter()
        if args.arm == "hll":
            run_hll_stream(stream, state, ckpt,
                           key_cols=["event_type"], value_col="user_id")
        elif args.arm == "cms":
            run_sketch_stream(
                stream.withColumn("token", stream["user_id"].cast("string")),
                state, ckpt,
            )
        else:
            run_neardup_dedup_stream(stream, state, ckpt)
        return time.perf_counter() - t0

    # Warm the streaming machinery (micro-batch planner, file-source
    # listing, foreachBatch JIT) on a throwaway 25-row stream with its own
    # checkpoint/sink BEFORE the timed bootstrap drain: invocations that
    # happen to rebuild a source in-process otherwise arrive at the drain
    # with a warmer JVM than cache-hit invocations, skewing bootstrap
    # walls by 2x at the small scales where startup dominates.
    warm = f"{run}/warmup"
    os.makedirs(f"{warm}/landing")
    spark.read.parquet(f"{SRC}/nation.parquet").write.mode("overwrite").parquet(
        f"{warm}/landing"
    )
    (
        spark.readStream.schema(
            spark.read.parquet(f"{warm}/landing").schema
        )
        .format("parquet")
        .load(f"{warm}/landing")
        .writeStream.foreachBatch(lambda b, i: b.count())
        .option("checkpointLocation", f"{warm}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    land(boot_src, "b0")
    bootstrap_sec = drain()

    if args.ladder is not None:
        corpus = SnapshotTable(spark, state)

        def data_dir_count() -> int:
            return len(corpus._dirs(corpus.latest_version()))

        walls: list[float] = []
        data_dirs: list[int] = []
        compact_rec = None
        for t in range(args.ladder):
            land(f"{ladder_split}/trig={t}", f"l{t}")
            walls.append(round(drain(), 3))
            data_dirs.append(data_dir_count())
            if (t + 1) % 50 == 0:
                print(
                    f"ladder {t + 1}/{args.ladder}: wall {walls[-1]}s, "
                    f"data dirs {data_dirs[-1]}",
                    file=sys.stderr, flush=True,
                )
            if args.compact_at is not None and t == args.compact_at:
                dirs_before = data_dir_count()
                t0 = time.perf_counter()
                version = corpus.optimize()
                compact_rec = {
                    "at": t,
                    "sec": round(time.perf_counter() - t0, 3),
                    "dirs_before": dirs_before,
                    "dirs_after": data_dir_count(),
                    "version": version,
                }
                print(f"compact @{t}: {compact_rec}", file=sys.stderr,
                      flush=True)
        print(json.dumps({
            "arm": args.arm,
            "mode": "ladder",
            "scale": args.scale,
            "ladder": args.ladder,
            "probe_rows": args.ladder_probe,
            "bootstrap_sec": round(bootstrap_sec, 3),
            "walls": walls,
            "data_dirs": data_dirs,
            "compact": compact_rec,
            "state_rows": corpus.read().count(),
        }))
        spark.stop()
        return

    probe_secs = []
    for i, src_path in enumerate(probe_srcs):
        land(src_path, f"p{i}")
        probe_secs.append(round(drain(), 3))

    state_rows = SnapshotTable(spark, state).read().count()

    print(json.dumps({
        "arm": args.arm,
        "scale": args.scale,
        "probe_rows": probe_rows,
        "bootstrap_sec": round(bootstrap_sec, 3),
        "probe_secs": probe_secs,
        "probe_min": min(probe_secs),
        "state_rows": state_rows,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
