"""Structured Streaming tests: availableNow file ingest + upsert parity with
the reference's S3-event semantics, windowed counts, stateful sessions."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.operators.merge import check_unique
from european_emissions_data_warehouse_spark.sources.readers import load_table
from european_emissions_data_warehouse_spark.streaming.ingest import (
    dedup_stream,
    purchase_view_stream_join,
    run_windowed_counts,
    stream_from_directory,
)
from european_emissions_data_warehouse_spark.streaming.sessions import (
    run_sessionize_drain,
    sessionize_stateful,
)

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


@pytest.fixture()
def events_batch(spark, sf_dir):
    # materialized with µs timestamps (the nanos parquet needs load_table)
    return load_table(spark, sf_dir, "events")


def test_windowed_counts_match_batch(spark, events_batch, tmp_path):
    """Streaming tumbling-window agg == batch groupBy for every *finalized*
    window.  In append mode a window emits only once the watermark passes
    its end, so the trailing partial hour (window_end > max event time)
    stays in state — excluded from the truth set accordingly."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events_batch.coalesce(2).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    run_windowed_counts(
        stream_from_directory(spark, landing, schema), out, ckpt, watermark="0 seconds"
    )
    streamed = (
        spark.read.parquet(out)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n_events").alias("n"))
    )
    max_ts = events_batch.agg(F.max("ts")).first()[0]
    batch = (
        events_batch.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(max_ts))
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, events_batch, tmp_path):
    """Stream-stream purchase↔view attribution join == the equivalent batch
    join (all data in one drain, so no watermark-dropped rows)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events_batch.coalesce(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    stream = stream_from_directory(spark, landing, schema)
    purchases = stream.filter(F.col("event_type") == "purchase")
    views = stream.filter(F.col("event_type") == "view")
    joined = purchase_view_stream_join(purchases, views)
    (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    streamed = spark.read.parquet(out)

    p = events_batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"), F.col("value").alias("purchase_value"),
    )
    v = events_batch.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    batch = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"), "purchase_value")

    got = sorted(map(tuple, streamed.collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_streaming_dedup_drops_in_horizon_duplicates(spark, events_batch, tmp_path):
    """dropDuplicatesWithinWatermark: a landing dir containing each event
    twice must yield each event_id exactly once after one drain."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = events_batch.limit(200)
    base.unionByName(base).coalesce(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    deduped = dedup_stream(
        stream_from_directory(spark, landing, schema), ["event_id"]
    )
    (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert check_unique(got, ["event_id"]) == 0


def test_rate_limited_ingest_batches(spark, events_batch, tmp_path):
    """maxFilesPerTrigger=1 over 3 landed files: three micro-batches drain
    sequentially into three versions, and the head equals the all-at-once
    result."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_snapshot_ingest,
    )

    landing = str(tmp_path / "landing")
    for i in range(3):
        events_batch.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    schema = spark.read.parquet(landing).schema

    def drain(name, max_files):
        run_snapshot_ingest(
            stream_from_directory(
                spark, landing, schema, max_files_per_trigger=max_files
            ),
            str(tmp_path / name),
            str(tmp_path / f"{name}_ckpt"),
            key=["event_id"],
            order_by=["ts"],
        )
        return SnapshotTable(spark, str(tmp_path / name))

    limited = drain("limited", 1)
    at_once = drain("at_once", None)
    assert limited.history() == [0, 1, 2]
    assert at_once.history() == [0]
    head, want = limited.read(), at_once.read()
    assert head.count() == events_batch.count()
    assert head.exceptAll(want).count() == 0 and want.exceptAll(head).count() == 0
    assert check_unique(head, ["event_id"]) == 0
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_stream_static_enrichment(spark, events_batch, tmp_path):
    """Stream-static join: each micro-batch enriches against a broadcast
    dimension (no watermark or state needed — the static side is re-read
    per batch, so dim updates are picked up between triggers)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events_batch.coalesce(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    tiers = spark.range(200).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 3 == 0, "gold").otherwise("basic").alias("tier"),
    )
    stream = stream_from_directory(spark, landing, schema)
    enriched = stream.join(F.broadcast(tiers), "user_id", "left").select(
        "event_id", "user_id", "tier", "value"
    )
    (
        enriched.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(out)
    assert got.count() == events_batch.count()
    assert got.filter(F.col("tier").isNull()).count() == 0  # all users < 200


def test_state_v2_processor_semantics_match_batch(spark, events_batch):
    """Protobuf-free batch-parity check for the state-v2 operator (closes
    VERDICT r2 item #4): drive RunningTotalsProcessor through the exact
    handle contract transformWithStateInPandas uses — init -> named value
    state -> handleInputRows per key per micro-batch — with an in-memory
    handle, split the input into 3 micro-batches, and assert the final
    emission per key equals the batch groupBy.  The protobuf worker channel
    is the only part left to the env-gated integration test below."""
    import pandas as pd

    from european_emissions_data_warehouse_spark.streaming.state import (
        make_running_totals_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    pdf = events_batch.select("event_id", "user_id", "value").toPandas()
    emitted = {}
    # one processor instance per key-shard, as the real operator would have;
    # a single shared instance with per-key handles is the simplest harness
    procs = {}
    for batch_no in range(3):
        batch = pdf[pdf["event_id"] % 3 == batch_no]
        for uid, group in batch.groupby("user_id"):
            if uid not in procs:
                p = make_running_totals_processor()()
                p.init(FakeHandle())
                procs[uid] = p
            out = pd.concat(list(procs[uid].handleInputRows((uid,), iter([group]), None)))
            emitted[uid] = (
                int(out["n_events"].iloc[-1]),
                round(float(out["total_value"].iloc[-1]), 6),
            )
    want = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in events_batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert emitted == want


def test_transform_with_state_totals_match_batch(spark, events_batch, tmp_path):
    """transformWithStateInPandas (state-v2 API): per-user running totals
    maintained across 3 rate-limited micro-batches must equal the batch
    groupBy — the streaming-materialized-view contract.  Skips where the
    protobuf channel dependency is absent (state.py state_v2_available)."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable
    from european_emissions_data_warehouse_spark.streaming.state import (
        running_totals,
        run_totals_drain,
        state_v2_available,
    )

    if not state_v2_available():
        pytest.skip(
            "transformWithState worker channel needs protobuf (absent here); "
            "operator semantics are still verified protobuf-free by "
            "test_state_v2_processor_semantics_match_batch"
        )

    landing = str(tmp_path / "landing")
    warehouse = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    for i in range(3):
        events_batch.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    schema = spark.read.parquet(landing).schema

    stream = stream_from_directory(spark, landing, schema, max_files_per_trigger=1)
    totals = running_totals(stream)
    run_totals_drain(totals, warehouse, ckpt)

    head = SnapshotTable(spark, warehouse).read()
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in head.collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["tv"], 6))
        for r in events_batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert got == want
    assert check_unique(head, ["user_id"]) == 0


def test_totals_drain_commits_one_snapshot_version_per_batch(spark, tmp_path):
    """run_totals_drain over a plain file stream of totals rows (no
    transformWithState, so no protobuf worker): each drop lands as one
    SnapshotTable version, and per user the row with the larger n_events
    wins — within a batch and across batches."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable
    from european_emissions_data_warehouse_spark.streaming.state import (
        TOTALS_SCHEMA,
        run_totals_drain,
    )

    landing = str(tmp_path / "landing")
    tbl = str(tmp_path / "totals")
    ckpt = str(tmp_path / "ckpt")
    drops = [
        [(1, 2, 10.0), (2, 1, 5.0), (3, 4, 8.0)],
        [(2, 2, 7.0), (2, 3, 9.0), (3, 5, 11.0), (4, 1, 1.0)],
    ]
    for drop in drops:
        spark.createDataFrame(drop, TOTALS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        schema = spark.read.parquet(landing).schema
        run_totals_drain(stream_from_directory(spark, landing, schema), tbl, ckpt)

    t = SnapshotTable(spark, tbl)
    assert t.history() == [0, 1]
    rows = lambda df: sorted(map(tuple, df.collect()))
    assert rows(t.read(0)) == sorted(drops[0])
    assert rows(t.read()) == [(1, 2, 10.0), (2, 3, 9.0), (3, 5, 11.0), (4, 1, 1.0)]
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_stateful_sessions_match_batch(spark, events_batch, tmp_path):
    """applyInPandasWithState sessions == the batch lag+cumsum sessionization.
    All data arrives in one micro-batch; in-batch gaps close sessions by
    data, and each user's final (open) session closes via the processing-time
    timeout — so the streamed output covers ALL batch sessions.  The query is
    stopped by the drain helper: availableNow alone never terminates a
    stateful query with pending-timeout work."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    small = events_batch.filter(F.col("user_id") < 20)
    small.coalesce(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    stream = stream_from_directory(spark, landing, schema)
    sessions = sessionize_stateful(stream, timeout_ms=3_000)
    run_sessionize_drain(sessions, out, ckpt, max_wait_s=120)
    streamed = spark.read.parquet(out)

    # batch truth: every session (the timeout flushes open ones too)
    from european_emissions_data_warehouse_spark.plans.analytics import q_sessionize

    truth = q_sessionize(spark, str("/root/testdata/sf0.001")).filter(
        F.col("user_id") < 20
    )
    assert streamed.count() == truth.count()
    s = sorted((r.user_id, r.n_events) for r in streamed.collect())
    t = sorted((r.user_id, r.n_events) for r in truth.collect())
    assert s == t
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_stateful_sessions_fold_out_of_order_across_batches(spark, tmp_path):
    """A late event landing in a LATER micro-batch must widen the open
    session, never regress it: `last = t` moved session_end backward and a
    following in-gap event then measured its gap from the stale lower
    bound and split the session the batch twin keeps whole (code-review
    r4).  Three events for one user — 12:00, then (next batch) 11:50 and
    12:25 — are ONE session: every pairwise gap from the true last event
    is under 30 minutes."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, event_id long, ts timestamp, value double"
    b1 = spark.createDataFrame(
        [(1, 1, "2024-06-01 12:00:00", 1.0)],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(
        [
            (1, 2, "2024-06-01 11:50:00", 1.0),   # late, within gap
            (1, 3, "2024-06-01 12:25:00", 1.0),   # 25 min after TRUE last
        ],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    import os

    os.makedirs(landing)
    b1.coalesce(1).write.mode("append").parquet(landing)
    b2.coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sessions = sessionize_stateful(stream, timeout_ms=3_000)
    run_sessionize_drain(sessions, out, ckpt, max_wait_s=120)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1, [tuple(r) for r in got]
    (r,) = got
    assert r["n_events"] == 3
    assert str(r["session_start"]).startswith("2024-06-01 11:50")
    assert str(r["session_end"]).startswith("2024-06-01 12:25")
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_corpus_prep_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming corpus prep == batch q_corpus_prep at the content level.
    The batch op keeps the smallest doc_id per duplicate text while the
    stream keeps the first arrival, so surviving ids may differ — but the
    kept (bpe_tokens, quality) multiset and the kept-count must match."""
    from european_emissions_data_warehouse_spark.plans.llm import q_corpus_prep
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_corpus_prep_stream,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ingest_ts", F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    )
    docs.coalesce(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    run_corpus_prep_stream(stream_from_directory(spark, landing, schema), out, ckpt)
    streamed = spark.read.parquet(out)
    truth = q_corpus_prep(spark, sf_dir)

    assert streamed.count() == truth.count()
    s = sorted((r.bpe_tokens, r.quality) for r in streamed.collect())
    t = sorted((r.bpe_tokens, r.quality) for r in truth.collect())
    assert s == t
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_snapshot_ingest_versions_per_batch(spark, events_batch, tmp_path):
    """Streaming ingest into the versioned table: one commit per micro-batch,
    time travel across batches, LWW merge semantics at the head."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_snapshot_ingest,
    )

    landing = str(tmp_path / "landing")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    first = events_batch.filter(F.col("event_id") < 100)
    first.coalesce(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    def drain():
        run_snapshot_ingest(
            stream_from_directory(spark, landing, schema), tbl, ckpt,
            key=["event_id"], order_by=["ts", "value"],
        )

    drain()
    t = SnapshotTable(spark, tbl)
    assert t.history() == [0]
    assert t.read().count() == first.count()

    updates = events_batch.filter(F.col("event_id") < 50).withColumn(
        "value", F.lit(777.0)
    )
    news = events_batch.filter((F.col("event_id") >= 100) & (F.col("event_id") < 120))
    updates.unionByName(news).coalesce(1).write.mode("append").parquet(landing)
    drain()

    t = SnapshotTable(spark, tbl)
    assert t.history() == [0, 1]
    head = t.read()
    assert head.count() == first.count() + 20
    assert head.filter((F.col("event_id") < 50) & (F.col("value") != 777.0)).count() == 0
    assert check_unique(head, ["event_id"]) == 0
    # time travel: version 0 predates the update batch
    v0 = t.read(0)
    assert v0.count() == first.count()
    assert v0.filter(F.col("value") == 777.0).count() == 0

    # crash-replay idempotence (ADVICE r2): restarting from the SAME
    # checkpoint replays nothing, leaving the VERSION HISTORY (not just the
    # head contents) unchanged — commit_meta records which batch produced
    # each version, stamped with its checkpoint generation
    assert t.commit_meta(0)["batch_id"] == "0"
    assert t.commit_meta(1)["batch_id"] == "1"
    assert "ckpt_gen" in t.commit_meta(0)
    drain()
    t = SnapshotTable(spark, tbl)
    assert t.history() == [0, 1]
    # checkpoint LOSS = a new generation: its batches must NOT be skipped
    # against the old ledger (a different chop would silently drop data —
    # code-review r4).  LWW upsert is content-idempotent, so the re-ingest
    # adds versions while the head content stays identical.
    shutil.rmtree(ckpt, ignore_errors=True)
    drain()
    t = SnapshotTable(spark, tbl)
    assert len(t.history()) > 2, "fresh generation must re-ingest"
    assert t.read().count() == first.count() + 20
    assert check_unique(t.read(), ["event_id"]) == 0
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_sketch_stream_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Sketch linearity across micro-batches: streaming the token stream in
    TWO separate landing drops (maxFilesPerTrigger=1 → one merge per file)
    yields counter-for-counter the same table as one batch build."""
    from european_emissions_data_warehouse_spark.operators.sketches import (
        count_min_build,
    )
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_sketch_stream,
        stream_from_directory,
    )

    landing = str(tmp_path / "landing")
    sketch_path = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    tokens = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
    )
    half_a = tokens.filter(F.crc32(F.col("token")) % 2 == 0)
    half_b = tokens.filter(F.crc32(F.col("token")) % 2 == 1)
    half_a.coalesce(1).write.mode("overwrite").parquet(landing)
    half_b.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema

    run_sketch_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        sketch_path,
        ckpt,
        depth=3,
        width=256,
    )
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )

    table = SnapshotTable(spark, sketch_path)
    streamed = {
        (r["row_j"], r["bucket"]): r["cnt"] for r in table.read().collect()
    }
    batch = {
        (r["row_j"], r["bucket"]): r["cnt"]
        for r in count_min_build(tokens, depth=3, width=256).collect()
    }
    assert streamed == batch
    # crash-replay idempotence: restarting from the SAME checkpoint replays
    # nothing new and commits nothing — the sketch is a sum, so a single
    # double-merge would inflate every cell
    versions_before = table.history()
    assert {int(table.commit_meta(v)["batch_id"]) for v in versions_before} == {0, 1}
    run_sketch_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        sketch_path,
        ckpt,
        depth=3,
        width=256,
    )
    assert table.history() == versions_before, "same checkpoint: no new commits"
    # checkpoint LOSS is a different story (code-review r4): a fresh
    # checkpoint restarts batch numbering over a possibly different file
    # chop, so its batches must NOT be skipped against the old ledger —
    # and since CMS counters are sums, re-merging would double-count.
    # The stream must refuse loudly instead of doing either silently.
    shutil.rmtree(ckpt, ignore_errors=True)
    with pytest.raises(Exception, match="checkpoint generation"):
        run_sketch_stream(
            stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
            sketch_path,
            ckpt,
            depth=3,
            width=256,
        )
    replayed = {
        (r["row_j"], r["bucket"]): r["cnt"] for r in table.read().collect()
    }
    assert replayed == batch, "refused generation must leave the sketch intact"
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_neardup_dedup_stream_suppresses_across_batches(spark, sf_dir, tmp_path):
    """Near-dup suppression survives ACROSS micro-batches (unlike the
    watermark-bounded exact dedup): re-streaming the SAME docs in a later
    drop adds nothing to the corpus, and the surviving set matches what
    batch LSH dedup would keep."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_neardup_dedup_stream,
        stream_from_directory,
    )

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ck = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").limit(60).localCheckpoint()
    docs.coalesce(1).write.mode("overwrite").parquet(landing)
    schema = spark.read.parquet(landing).schema

    def drain():
        run_neardup_dedup_stream(
            stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
            corpus, ck,
        )

    drain()
    t = SnapshotTable(spark, corpus)
    kept1 = t.read()
    # batch truth: docs minus later-id members of LSH pairs
    pairs = minhash_lsh_pairs(docs).collect()
    dup_ids = {r["id_b"] for r in pairs}
    assert {r["doc_id"] for r in kept1.collect()} == (
        {r["doc_id"] for r in docs.collect()} - dup_ids
    )

    # second drop: identical content, shifted ids -> all near-dups of kept1
    docs.withColumn("doc_id", F.col("doc_id") + 1000).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    drain()
    kept2 = t.read()
    assert kept2.count() == kept1.count(), "re-streamed content must all be suppressed"

    # checkpoint LOSS is a new generation whose batch numbering restarts
    # at 0 and re-reads every drop: appending its survivors would admit
    # each document a second time, so the stream refuses and the corpus
    # keeps its history and rows
    history_before = t.history()
    kept_ids_before = {r["doc_id"] for r in kept2.collect()}
    shutil.rmtree(ck, ignore_errors=True)
    with pytest.raises(Exception, match="checkpoint generation"):
        drain()
    assert t.history() == history_before
    kept3_rows = t.read().collect()
    assert {r["doc_id"] for r in kept3_rows} == kept_ids_before
    assert len(kept3_rows) == len(kept_ids_before)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_neardup_stream_replay_after_a_lost_checkpoint_commit(spark, sf_dir, tmp_path):
    """A crash after the corpus commit but before the checkpoint commit
    replays that batch on restart: the batch id recorded in the manifest
    skips it, so the history and the corpus are identical afterwards."""
    import os

    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_neardup_dedup_stream,
        stream_from_directory,
    )

    landing = str(tmp_path / "landing")
    corpus = str(tmp_path / "corpus")
    ck = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").limit(40).localCheckpoint()
    for i in range(2):
        docs.filter((F.col("doc_id") % 2) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    schema = spark.read.parquet(landing).schema

    def drain():
        run_neardup_dedup_stream(
            stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
            corpus, ck,
        )

    drain()
    t = SnapshotTable(spark, corpus)
    history = t.history()
    assert history == [0, 1]
    assert [t.commit_meta(v)["batch_id"] for v in history] == ["0", "1"]
    rows = sorted(map(tuple, t.read().drop("minhash_sig").collect()))

    # forget the checkpoint's commit of batch 1: its offsets stay, so the
    # restarted query re-runs batch 1 under the same id
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ck, "commits", name))
    drain()
    assert t.history() == history
    assert sorted(map(tuple, t.read().drop("minhash_sig").collect())) == rows
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _drain_neardup(spark, landing, corpus, ck, **params):
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_neardup_dedup_stream,
    )

    schema = spark.read.parquet(landing).schema
    run_neardup_dedup_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        corpus, ck, **params,
    )


def test_neardup_stream_signs_its_batch_in_one_scan(spark, sf_dir, tmp_path, monkeypatch):
    """The frame the near-dup stream checkpoints per batch (the batch's
    columns plus its MinHash signature) reads the micro-batch once: the
    signature is computed in the row, so its plan holds one scan of the
    batch (foreachBatch hands it over as an RDD over the parquet file
    source) and no join of the batch to its own signatures."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as Frame
    except ImportError:
        from pyspark.sql import DataFrame as Frame

    landing, corpus, ck = (str(tmp_path / n) for n in ("landing", "corpus", "ckpt"))
    spark.read.parquet(f"{sf_dir}/documents.parquet").coalesce(1).write.parquet(landing)
    plans = []
    checkpoint = Frame.localCheckpoint

    def traced(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(Frame, "localCheckpoint", traced)
    _drain_neardup(spark, landing, corpus, ck)
    (plan,) = plans
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_neardup_drain_reads_each_manifest_once_per_table(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A published manifest never changes, so a SnapshotTable reads each
    one once: a one-batch drain onto a one-version corpus reads that
    version's manifest once for the pre-drain parameter check and once for
    the trigger's table, however many probes consult it (the replay
    ledger, the generation guard, the parameter guard, the read and the
    append's schema check)."""
    from european_emissions_data_warehouse_spark.operators import snapshots

    landing, corpus, ck = (str(tmp_path / n) for n in ("landing", "corpus", "ckpt"))
    docs = load_table(spark, sf_dir, "documents").limit(40).localCheckpoint()
    docs.coalesce(1).write.parquet(landing)
    _drain_neardup(spark, landing, corpus, ck)
    docs.withColumn("doc_id", F.col("doc_id") + 1000).coalesce(1).write.mode(
        "append"
    ).parquet(landing)

    reads = []
    real = snapshots.read_small_text

    def counted(spark_, path):
        reads.append(path)
        return real(spark_, path)

    monkeypatch.setattr(snapshots, "read_small_text", counted)
    _drain_neardup(spark, landing, corpus, ck)
    assert snapshots.SnapshotTable(spark, corpus).history() == [0, 1]
    manifest_reads = [p for p in reads if p.endswith("/_commits/00000000")]
    assert len(manifest_reads) <= 2, manifest_reads
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_neardup_stream_refuses_other_minhash_params(spark, sf_dir, tmp_path):
    """A corpus built under one MinHash convention refuses a drain under
    another before the query starts: probing it with other gram
    identities or bucket hashes would silently detect no duplicates.  The
    pending drop stays unread, and the history and rows are unchanged."""
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )

    landing, corpus, ck = (str(tmp_path / n) for n in ("landing", "corpus", "ckpt"))
    docs = load_table(spark, sf_dir, "documents").limit(40).localCheckpoint()
    docs.coalesce(1).write.parquet(landing)
    _drain_neardup(spark, landing, corpus, ck)
    t = SnapshotTable(spark, corpus)
    history = t.history()
    rows = sorted(map(tuple, t.read().drop("minhash_sig").collect()))

    docs.withColumn("doc_id", F.col("doc_id") + 1000).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    for params in ({"num_hashes": 64}, {"k": 7}):
        with pytest.raises(ValueError, match="mismatched"):
            _drain_neardup(spark, landing, corpus, ck, **params)
    assert t.history() == history
    assert sorted(map(tuple, t.read().drop("minhash_sig").collect())) == rows
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_incremental_dedup_probes_the_stream_written_corpus(spark, sf_dir, tmp_path):
    """The stream and minhash_dedup_incremental share one store: a corpus
    written by run_neardup_dedup_stream is probed by
    minhash_dedup_incremental with the pair set full-batch LSH gives for
    pairs touching the new docs (whose other doc is new or was kept), and
    the new survivors append to it, one row each."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_lsh_pairs,
    )
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )

    landing, corpus, ck = (str(tmp_path / n) for n in ("landing", "corpus", "ckpt"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(landing)
    _drain_neardup(spark, landing, corpus, ck)
    t = SnapshotTable(spark, corpus)
    kept = {r.doc_id for r in t.read().select("doc_id").collect()}

    new = docs.filter(F.col("doc_id") % 2 == 1)
    got = {(r.new_id, r.dup_of) for r in minhash_dedup_incremental(new, corpus).collect()}
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    want = set()
    for r in minhash_lsh_pairs(docs).collect():
        a, b = r.id_a, r.id_b
        if b in new_ids and (a in new_ids or a in kept):
            want.add((b, a))
        elif a in new_ids and b in kept:
            want.add((a, b))
    assert got == want and got, (len(got), len(want))
    n_dup_new = len({p[0] for p in got})
    assert t.read().count() == len(kept) + len(new_ids) - n_dup_new
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_hll_stream_matches_batch_sketch(spark, sf_dir, tmp_path):
    """Streaming HLL union across micro-batches must estimate exactly what
    one batch sketch over the whole stream estimates (register-wise max is
    chop-invariant), and replayed batches must not add versions."""
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_hll_stream,
        stream_from_directory,
    )

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "hll")
    ck = str(tmp_path / "ck")
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    half_a = ev.filter(F.crc32(F.col("user_id").cast("string")) % 2 == 0)
    half_b = ev.filter(F.crc32(F.col("user_id").cast("string")) % 2 == 1)
    half_a.coalesce(1).write.mode("overwrite").parquet(landing)
    half_b.coalesce(1).write.mode("append").parquet(landing)
    schema = spark.read.parquet(landing).schema

    run_hll_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        table, ck, key_cols=["event_type"], value_col="user_id",
    )
    t = SnapshotTable(spark, table)
    streamed = {
        r["event_type"]: r["est"]
        for r in t.read()
        .select("event_type", F.hll_sketch_estimate("hll").alias("est"))
        .collect()
    }
    batch = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("est"))
        .collect()
    }
    assert streamed == batch
    versions = t.history()
    # same checkpoint: nothing replays, nothing commits
    run_hll_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        table, ck, key_cols=["event_type"], value_col="user_id",
    )
    assert t.history() == versions, "same checkpoint: no new commits"
    # checkpoint loss = a NEW generation: its batch ids must not be
    # suppressed by the old ledger (that silently drops any file the new
    # chop groups differently — code-review r4).  HLL union is idempotent
    # register-wise max, so the re-merge is content-safe: version history
    # grows, estimates stay exactly the batch truth.
    shutil.rmtree(ck, ignore_errors=True)
    run_hll_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        table, ck, key_cols=["event_type"], value_col="user_id",
    )
    assert len(t.history()) > len(versions), "fresh generation must re-merge"
    re_streamed = {
        r["event_type"]: r["est"]
        for r in t.read()
        .select("event_type", F.hll_sketch_estimate("hll").alias("est"))
        .collect()
    }
    assert re_streamed == batch


def test_stateful_sessions_split_far_early_out_of_order_event(spark, tmp_path):
    """An out-of-order event arriving MORE than a gap before the open
    session must become its own earlier session, not widen the open one
    via min(start, t): state [12:00,12:10] + a late 07:00 event is TWO
    sessions (a 5-hour silence sits between), exactly what the batch twin
    emits (code-review r4, streaming pass)."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, event_id long, ts timestamp, value double"
    b1 = spark.createDataFrame(
        [(1, 1, "2024-06-01 12:00:00", 1.0), (1, 2, "2024-06-01 12:10:00", 1.0)],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    b2 = spark.createDataFrame(
        [(1, 3, "2024-06-01 07:00:00", 5.0)],  # >gap BEFORE the open session
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    import os

    os.makedirs(landing)
    b1.coalesce(1).write.mode("append").parquet(landing)
    b2.coalesce(1).write.mode("append").parquet(landing)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sessions = sessionize_stateful(stream, timeout_ms=3_000)
    run_sessionize_drain(sessions, out, ckpt, max_wait_s=120)
    got = sorted(spark.read.parquet(out).collect(), key=lambda r: r["session_start"])
    assert len(got) == 2, [tuple(r) for r in got]
    early, late = got
    assert early["n_events"] == 1 and str(early["session_start"]).startswith("2024-06-01 07:00")
    assert late["n_events"] == 2 and str(late["session_end"]).startswith("2024-06-01 12:10")
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_ledgered_stream_rejects_table_deleted_under_live_checkpoint(
    spark, events_batch, tmp_path
):
    """Deleting/resetting the state table while keeping the checkpoint must
    fail loudly: the file source will never re-read the already-committed
    batches, so continuing would silently rebuild from only the remaining
    input (code-review r4, streaming pass)."""
    import pytest

    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_snapshot_ingest,
        stream_from_directory,
    )

    landing = str(tmp_path / "landing")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    events_batch.limit(5).coalesce(1).write.mode("append").parquet(landing)
    stream = stream_from_directory(spark, landing, events_batch.schema)
    run_snapshot_ingest(stream, table, ckpt, key=["event_id"], order_by=["ts"])

    shutil.rmtree(table)  # "reset" the table, keep the checkpoint
    events_batch.limit(10).coalesce(1).write.mode("append").parquet(landing)
    stream2 = stream_from_directory(spark, landing, events_batch.schema)
    with pytest.raises(Exception, match="no commit history"):
        run_snapshot_ingest(stream2, table, ckpt, key=["event_id"], order_by=["ts"])
    shutil.rmtree(str(tmp_path), ignore_errors=True)


EMISSIONS_KEY = ["Country", "Year", "Scenario", "Category", "Gas", "Unit"]


def _land_emissions_drop(landing, name: str, rows) -> None:
    """Land one raw EEA CSV drop atomically (staged as a dot-file, which
    the file source does not list, then renamed)."""
    import csv
    import os

    from european_emissions_data_warehouse_spark.sources.schemas import (
        EMISSIONS_RAW_SCHEMA,
    )

    os.makedirs(landing, exist_ok=True)
    staged = os.path.join(landing, f".{name}")
    with open(staged, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(EMISSIONS_RAW_SCHEMA.fieldNames())
        w.writerows(rows)
    os.replace(staged, os.path.join(landing, name))


def _emissions_rows(years, value: float):
    gas = "Total GHG emissions (ktCO2e)"
    return [
        (code, str(y), "WEM", "Energy", gas, str(value + y), "", "")
        for code in ("AT", "DE", "FR")
        for y in years
    ]


def _ingest_emissions(spark, landing: str, table: str, ckpt: str) -> None:
    from european_emissions_data_warehouse_spark.plans.emissions import clean_emissions
    from european_emissions_data_warehouse_spark.sources.schemas import (
        EMISSIONS_RAW_SCHEMA,
    )
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_snapshot_ingest,
    )

    raw = stream_from_directory(spark, landing, EMISSIONS_RAW_SCHEMA, fmt="csv")
    run_snapshot_ingest(
        clean_emissions(raw), table, ckpt, EMISSIONS_KEY, ["ReportedValue"]
    )


def _lake_with_pending_drop(spark, tmp_path) -> tuple[str, str, str]:
    """A table holding one ingested drop, plus a landed second drop that
    revises 2025-2029 and adds 2030-2034; returns (landing, table, ckpt)."""
    landing, table, ckpt = (str(tmp_path / d) for d in ("landing", "table", "ckpt"))
    _land_emissions_drop(landing, "d0.csv", _emissions_rows(range(2020, 2030), 1.0))
    _ingest_emissions(spark, landing, table, ckpt)
    _land_emissions_drop(landing, "d1.csv", _emissions_rows(range(2025, 2035), 5.0))
    return landing, table, ckpt


def test_snapshot_ingest_trigger_runs_three_jobs(spark, tmp_path, count_jobs):
    """One trigger into a non-empty table runs three Spark jobs: the
    delta's scan and dedupe shuffle stage, the broadcast of its keys for
    the anti join, and the commit's write.  Neither an eager stage for a
    checkpointed delta nor a schema-inference job for the current
    version's read is among them."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable

    landing, table, ckpt = _lake_with_pending_drop(spark, tmp_path)
    _, jobs = count_jobs(lambda: _ingest_emissions(spark, landing, table, ckpt))
    assert jobs == 3
    t = SnapshotTable(spark, table)
    assert t.history() == [0, 1]
    got = {(r.Country, r.Year): r.ReportedValue for r in t.read().collect()}
    assert len(got) == 3 * 15
    assert got["Germany", 2024] == 2025.0 and got["Germany", 2025] == 2030.0


def test_snapshot_ingest_delta_scans_its_files_once(spark, tmp_path, monkeypatch):
    """The upsert references the delta twice (anti-join keys and union),
    but the delta's file scan runs once: its dedupe exchange is reused, so
    the executed plan of what the trigger commits holds one scan of the
    micro-batch (foreachBatch hands it over as an RDD over the CSV file
    source) and a ReusedExchange."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable

    landing, table, ckpt = _lake_with_pending_drop(spark, tmp_path)
    plans = []
    commit = SnapshotTable.commit

    def traced_commit(self, df, *args, **kwargs):
        df.collect()
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return commit(self, df, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "commit", traced_commit)
    _ingest_emissions(spark, landing, table, ckpt)
    (plan,) = plans
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1, final
    assert "ReusedExchange" in final, final
