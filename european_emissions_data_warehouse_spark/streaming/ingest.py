"""Incremental ingest — the reference's event-driven path, Spark-native.

Reference mechanism (SURVEY.md §3.1): S3 ObjectCreated -> Lambda ->
Glue job -> CSV sink -> second Lambda -> Postgres COPY + ON CONFLICT upsert
(reference aws_service_classes.py:805-815, lambda_handler_etl.py:5-12,
lambda_handler_warehouse.py:79-106).  Five process boundaries to get one
file into the warehouse.

Spark-native equivalent: a Structured Streaming file source watching the
landing directory.  `trigger(availableNow=True)` reproduces exactly the
drop-a-file-and-it-ingests semantics — each new file becomes a micro-batch,
processed then committed to the checkpoint, and the query drains and stops
(so it composes with batch orchestration).  The warehouse upsert runs in
`foreachBatch` via the same merge operator the batch path uses (O16 parity:
last write wins on the logical key), and every batch lands as one commit of
a versioned :class:`SnapshotTable` (:func:`run_snapshot_ingest`).

Exactly-once story: the file-source checkpoint deduplicates *inputs* across
restarts; each commit records its micro-batch id and checkpoint generation
in the manifest, so a batch replayed after a crash between the table commit
and the checkpoint commit is recognised and skipped
(:func:`_run_ledgered_stream`, the one commit protocol of the snapshot
ingest, CMS, HLL and near-dup streams).  The merge is also idempotent on
the key, which matches the reference's at-least-once delivery + idempotent
upsert (SURVEY.md §2.2 streaming row).

At scale: maxFilesPerTrigger bounds micro-batch size; the merge's anti-join
broadcasts the (small) incoming batch against the warehouse, so steady-state
cost is one snapshot scan and rewrite per trigger — switch the sink to a
transactional format (Delta/Iceberg MERGE) to avoid even that rewrite."""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from european_emissions_data_warehouse_spark.operators.merge import (
    dedupe_last,
    upsert_anti_join,
)


def _checkpoint_generation(spark: SparkSession, checkpoint_path: str) -> str | None:
    """The streaming query id Spark pins in ``{checkpoint}/metadata`` —
    stable across restarts FROM THE SAME checkpoint, different for a fresh
    one.  Micro-batch ids are only unique within a generation: a new
    checkpoint restarts numbering at 0 over a possibly different file
    chop, so a batch-id replay ledger must be generation-scoped.  Returns
    None if the metadata file does not exist yet (foreachBatch always runs
    after Spark writes it, so None only happens outside a live query)."""
    from european_emissions_data_warehouse_spark.operators.snapshots import read_small_text

    text = read_small_text(spark, f"{checkpoint_path}/metadata")
    return None if text is None else json.loads(text).get("id")


def stream_from_directory(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory (the raw-bucket stand-in).
    ``max_files_per_trigger`` bounds each micro-batch to that many files."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(src_dir)


def run_snapshot_ingest(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key: Sequence[str],
    order_by: Sequence[str],
) -> None:
    """Streaming ingest into a versioned SnapshotTable: every micro-batch
    merges (last-write-wins on ``key``) into the CURRENT snapshot and
    commits the result as a NEW version — so the warehouse history is one
    time-travelable snapshot per micro-batch, with rollback and vacuum from
    operators/snapshots.py for free.

    Publish is the commit log's compare-and-swap: concurrent writers
    conflict cleanly (ConcurrentCommitError) instead of clobbering, and
    readers pin a version and never observe a half-written table.  Each
    commit records its micro-batch id in the manifest, so a batch replayed
    after a crash between snapshot commit and checkpoint commit is
    recognized and skipped — the version history is identical across
    failure replays, not merely content-identical."""
    key = list(key)
    _run_ledgered_stream(
        stream,
        table_path,
        checkpoint_path,
        delta_fn=lambda batch: dedupe_last(batch, key, order_by),
        merge_fn=lambda current, delta: upsert_anti_join(current, delta, key),
    )


def _run_ledgered_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    delta_fn,
    merge_fn,
    guard=None,
    meta: dict[str, str] | None = None,
    append: bool = False,
) -> None:
    """THE ledgered-commit protocol for streaming snapshot maintenance —
    run_snapshot_ingest, run_sketch_stream, run_hll_stream and
    run_neardup_dedup_stream all run through it.

    Per micro-batch: probe the checkpoint generation, skip batches at or
    below the generation's newest committed batch id (crash replays — a
    FRESH checkpoint restarts ids at 0, so another generation's ledger
    never suppresses its batches; ids are monotonic per generation, so the
    newest matching commit is the whole ledger), run ``guard(table, gen,
    history)`` if given (the hook where additive-state streams refuse
    foreign generations), build the batch delta, merge it into the current
    snapshot, and commit with batch_id/ckpt_gen stamped in the manifest.
    The commits-dir history is listed ONCE per trigger and threaded
    through every probe (each listStatus is O(commits) driver RPC).

    ``delta_fn(batch) -> DataFrame``; ``merge_fn(current, delta) ->
    DataFrame`` (only called when the table has history); ``guard(table,
    gen, history) -> None`` raises to refuse the batch; ``meta``: extra
    key=value pairs recorded on every commit.  With ``append`` the table
    only grows: ``merge_fn`` returns just the rows to add, runs on the
    first batch too (``current`` None), and each batch commits as an
    append (operators/snapshots.py)."""
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable

    spark = stream.sparkSession

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        table = SnapshotTable(spark, table_path)
        gen = _checkpoint_generation(spark, checkpoint_path)
        hist = table.history()
        if not hist and batch_id > 0:
            # torn checkpoint/table pair: the checkpoint says batches
            # 0..batch_id-1 were read and committed, but the table has no
            # history — someone deleted/reset the table under a live
            # checkpoint.  The file source will never re-read those
            # batches, so continuing would silently rebuild from only the
            # remaining input.
            raise RuntimeError(
                f"ledgered stream at {table_path}: checkpoint "
                f"{checkpoint_path} is at batch {batch_id} but the table "
                "has no commit history — the table was deleted/reset under "
                "a live checkpoint; reset the checkpoint too (the input "
                "will be re-read) or restore the table"
            )
        applied = table.last_applied_batch(gen, history=hist)
        if applied is not None and batch_id <= applied:
            return  # crash-replay of an already-committed batch
        if guard is not None:
            guard(table, gen, hist)
        # not checkpointed: upsert_anti_join references the delta twice
        # (anti-join keys + union), but its expensive part, the file scan
        # and dedupe_last's key exchange, sits below an Exchange that AQE
        # reuses, so only the per-partition window runs twice; the sketch
        # and HLL merges reference it once, and the near-dup delta_fn
        # checkpoints its own narrow signature stage (CHECKPOINT_POLICY.md
        # class 2)
        delta = delta_fn(batch)
        base = hist[-1] if hist else -1
        current = table.read(base) if hist else None
        rows = delta if current is None and not append else merge_fn(current, delta)
        stamp = {**(meta or {}), "batch_id": str(batch_id)}
        if gen is not None:
            stamp["ckpt_gen"] = gen
        # expected_base pins the merge's read version: a commit landing
        # between the history() above and this publish (another stream, a
        # GDPR delete_where) fails the CAS with ConcurrentCommitError
        # instead of being silently merged-over; the failed batch is
        # retried from a fresh read
        table.commit(rows, meta=stamp, expected_base=base, append=append)

    (
        stream.writeStream.foreachBatch(commit_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _refuse_foreign_generation(table, gen: str | None, hist: list[int]) -> None:
    """Ledger guard for streams whose merge is not idempotent (the CMS
    sketch sums counters; the near-dup corpus appends rows): a fresh
    checkpoint re-reads all input, and merging it into state built by
    another generation would count every row twice.  Checkpoint and table
    live and die together, so refuse loudly.  The guard has held since
    the table's first commit, so only ONE generation can be stamped: the
    newest stamp is the whole check (O(1) per trigger)."""
    newest = table.newest_generation(history=hist)
    if gen is not None and hist and newest != gen:
        origin = (
            f"checkpoint generation {newest!r}"
            if newest is not None
            else "commits without a generation stamp (provenance unprovable)"
        )
        raise RuntimeError(
            f"table {table.path} was built by {origin} but this query runs "
            f"generation {gen!r}; a fresh checkpoint re-reads all input and "
            "would merge every row a second time. Restore the original "
            "checkpoint or start a fresh table."
        )


def purchase_view_stream_join(
    purchases: DataFrame,
    views: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a prior view by the
    same user within the attribution window.

    Both sides carry event-time watermarks and the join predicate bounds the
    time skew (view_ts <= purchase_ts <= view_ts + window), so Spark can
    expire join state: each side buffers only rows younger than
    watermark + window — bounded state at any stream rate, the prerequisite
    for running this on an unbounded feed."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    v = views.withWatermark("ts", watermark).select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    return p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {attribution_window}")),
        "inner",
    ).select("purchase_id", "view_id", F.col("p_user").alias("user_id"), "purchase_value")


def dedup_stream(
    stream: DataFrame,
    key: Sequence[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup — first occurrence of each key wins, duplicate
    arrivals within the watermark horizon are dropped.

    `dropDuplicatesWithinWatermark` bounds the dedup state to keys younger
    than the watermark (plain dropDuplicates on a stream accumulates every
    key ever seen — unbounded at 100 TB/day).  The horizon is the
    deduplication guarantee: duplicates farther apart than the watermark
    pass through and are caught by the idempotent warehouse merge instead
    (defense in depth, same as the reference's ON CONFLICT backstop)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key)
    )


def run_corpus_prep_stream(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ingest_ts",
    watermark: str = "2 hours",
    min_quality: float = 0.5,
) -> None:
    """Streaming twin of plans.llm.q_corpus_prep: the training-corpus
    pipeline (clean/mask -> quality filter -> exact content dedup -> token
    budget) as a continuous ingest job over a landing directory.

    Stage mapping to the batch operator set:
    - clean/mask and quality scoring are the SAME JVM expressions
      (functions/text.py) — stateless, so they stream unchanged;
    - batch's keep-smallest-id-per-text window becomes
      dropDuplicatesWithinWatermark on the cleaned text's hash: state is
      bounded to the watermark horizon, and duplicates that arrive farther
      apart are the warehouse merge's job (same defense-in-depth contract
      as dedup_stream).  First-arrival-wins replaces smallest-id-wins —
      the streaming-correct policy (ids carry no arrival meaning);
    - append-mode parquet sink: each doc finalizes immediately (row-level
      ops need no window to close).

    At 100 TB/day the only state is the dedup hash set within the horizon;
    everything else is narrow and scales with input partitions.  Every
    text-derived output (bpe_tokens, quality) is computed BEFORE the dedup
    exchange and ctext is dropped pre-shuffle, exactly like the batch twin,
    so only numeric columns move: a post-dedup token count would ship
    ~full document bodies through the shuffle and state store — the whole
    day's corpus — where the hash pair plus three numerics is ~50
    bytes/row.  The dedup key is the codebase-standard 128-bit content_keys
    xxhash64 pair (two 8-byte longs), not an md5 hex string: ~2.5x less
    state per key and a non-cryptographic hash on the hot path, same
    collision-safety class as every batch dedup operator."""
    from european_emissions_data_warehouse_spark.functions.text import (
        bpe_token_count,
        clean_text,
        mask_pii,
        quality_score,
    )
    from european_emissions_data_warehouse_spark.operators.dedup import content_keys

    ctext = mask_pii(clean_text(F.col("text")))
    h1, h2 = content_keys(F.col("ctext"))
    prepped = (
        stream.select("doc_id", ts_col, ctext.alias("ctext"))
        .withColumn("quality", quality_score(F.col("ctext")))
        .filter(F.col("quality") >= min_quality)
        .select(
            "doc_id",
            ts_col,
            h1.alias("_h1"),
            h2.alias("_h2"),
            bpe_token_count(F.col("ctext")).alias("bpe_tokens"),
            F.round("quality", 6).alias("quality"),
        )
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h1", "_h2"])
        .select("doc_id", "bpe_tokens", "quality")
    )
    (
        prepped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_windowed_counts(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> None:
    """Streaming twin of plans.analytics.q_events_hourly: event-time tumbling
    window with a watermark for late data, append-mode parquet sink.

    The watermark bounds state: windows older than max(event_time) - watermark
    finalize and emit; later-arriving events for them are dropped — the
    explicit late-data policy the reference never had (its Lambda chain would
    silently double-import)."""
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_sketch_stream(
    stream: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    token_col: str = "token",
    depth: int = 4,
    width: int = 4096,
    seed: str = "cms",
) -> None:
    """Maintain a count-min sketch over a token stream (operators/
    sketches.py, streaming form): every micro-batch builds its own
    depth×width sketch and merges it cell-wise into the stored table.

    Sketches are LINEAR — per-batch sketches add counter-for-counter — so
    the stored table is bit-identical to the batch sketch of everything
    ingested, no matter how the stream was chopped into micro-batches
    (asserted by the batch-parity test).  This is the streaming answer to
    token-frequency tracking at corpus scale: state is a constant
    depth×width table, never a vocabulary — the stream's distinct-token
    cardinality is irrelevant to memory.

    The sketch lives in a :class:`SnapshotTable` (one version per merged
    batch; read it with ``SnapshotTable(spark, path).read()``): each commit
    records its micro-batch id, so a batch replayed after a crash between
    sketch publish and checkpoint commit is recognized and SKIPPED instead
    of double-counted (sketch counters are sums — re-merging a replay would
    silently inflate every cell); and publish is the log's
    compare-and-swap, so no crash window ever leaves the table half
    replaced.
    The ledger is scoped to the CHECKPOINT GENERATION (the query id Spark
    pins in the checkpoint): batch ids restart at 0 in a fresh checkpoint
    over a possibly different file chop, so another generation's ledger
    must never suppress them — and since re-merging would double-count,
    a fresh checkpoint against an existing sketch table raises instead
    of doing either silently (:func:`_refuse_foreign_generation`)."""
    from european_emissions_data_warehouse_spark.operators.sketches import (
        count_min_build,
    )

    _run_ledgered_stream(
        stream,
        sketch_path,
        checkpoint_path,
        delta_fn=lambda batch: count_min_build(
            batch, token_col=token_col, depth=depth, width=width, seed=seed
        ),
        merge_fn=lambda current, delta: (
            current.unionByName(delta)
            .groupBy("row_j", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        ),
        guard=_refuse_foreign_generation,
    )


def run_hll_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    value_col: str,
    lg_k: int = 14,
) -> None:
    """Maintain per-key HLL distinct-count sketches over a stream — the
    streaming twin of the batch ``hll_sketch_agg`` rollup (plans.analytics
    q_hll_distinct), mirroring run_sketch_stream's shape for CMS.

    Each micro-batch builds one DataSketches HLL per key and merges it
    into the stored table with ``hll_union_agg``.  HLL union is a
    register-wise max — associative, commutative, idempotent on re-union
    of the SAME sketch — so the stored estimates equal the batch sketch
    of everything ingested no matter how the stream was chopped
    (batch-parity test).  State per key is 2^lg_k registers, independent
    of the value cardinality: the streaming answer to "distinct users per
    key over all time", where dropDuplicates state would grow unboundedly.

    Same exactly-once discipline as run_sketch_stream: the table is a
    SnapshotTable, each commit records its micro-batch id, replayed
    batches are skipped (a re-merge would be harmless for HLL's max — but
    version history stays replay-stable), and publish is the log's CAS."""
    keys = list(key_cols)
    # HLL union is a register-wise max (idempotent on re-union), so a
    # cross-generation re-merge cannot inflate estimates — no
    # foreign-generation guard needed, only the generation-scoped replay
    # skip the shared protocol provides.
    _run_ledgered_stream(
        stream,
        table_path,
        checkpoint_path,
        delta_fn=lambda batch: batch.groupBy(*keys).agg(
            F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("hll")
        ),
        merge_fn=lambda current, delta: (
            current.unionByName(delta)
            .groupBy(*keys)
            .agg(F.hll_union_agg("hll").alias("hll"))
        ),
    )


def run_neardup_dedup_stream(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
    unit: str = "word",
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Continuous corpus ingestion with NEAR-duplicate suppression into the
    MinHash store at ``table_path`` (operators/dedup.py: a
    :class:`SnapshotTable` of the surviving documents plus their signature
    in column ``minhash_sig``, NULL for token-less docs — the layout
    minhash_dedup_incremental reads and appends).  Each micro-batch gets
    its signatures in the row, is probed against the whole corpus
    (operators/dedup._minhash_probe), and only the survivors are appended.

    Contrast with dedup_stream (exact content keys, state bounded by a
    watermark): here the corpus itself is the state, so a duplicate is
    caught no matter how far apart the copies arrive — the trade is a
    bucket-equality join per batch instead of in-memory dropDuplicates
    state.  Per batch, the corpus's band table is derived from the stored
    signatures (a narrow explode, never re-hashing text), so the cost is
    O(batch·bands + corpus scan + matching buckets); the old corpus is
    never re-paired.  The first batch dedups against itself only.

    Exactly-once comes from the shared ledger (:func:`_run_ledgered_stream`):
    each batch is one append commit stamped with its batch id, so a batch
    replayed after a crash between the commit and the checkpoint is
    skipped and the history stays identical; a fresh checkpoint against an
    existing corpus is refused (:func:`_refuse_foreign_generation`), since
    re-reading the input would append documents a second time; and a
    corpus deleted under a live checkpoint is refused too.  Appends write
    only their own rows; ``SnapshotTable.optimize`` folds the accreted
    dirs into one and ``vacuum`` reclaims the rest.

    The MinHash parameters (``k``/``unit``/``num_hashes``/``bands``) are
    recorded in every commit and checked against the newest recorded ones
    before the query starts and again per batch (a corpus probed under
    another convention silently detects no duplicates), so a mismatched
    drain raises ValueError without reading or committing anything."""
    from european_emissions_data_warehouse_spark.operators.dedup import (
        _check_minhash_meta,
        _minhash_meta,
        _minhash_probe,
        _minhash_survivors,
        _with_minhash_sig,
    )
    from european_emissions_data_warehouse_spark.operators.snapshots import SnapshotTable

    meta = _minhash_meta(k, unit, num_hashes, bands)
    _check_minhash_meta(SnapshotTable(stream.sparkSession, table_path), meta)

    def with_signature(batch: DataFrame) -> DataFrame:
        # the probe's band self-join and the commit both read it
        return _with_minhash_sig(
            batch, id_col, text_col, k, unit, num_hashes
        ).localCheckpoint(eager=True)

    def survivors(corpus: DataFrame | None, delta: DataFrame) -> DataFrame:
        pairs = _minhash_probe(delta, corpus, id_col, num_hashes, bands, threshold)
        return _minhash_survivors(delta, pairs, id_col)

    def guard(table, gen, hist) -> None:
        _refuse_foreign_generation(table, gen, hist)
        _check_minhash_meta(table, meta, hist)

    _run_ledgered_stream(
        stream,
        table_path,
        checkpoint_path,
        delta_fn=with_signature,
        merge_fn=survivors,
        guard=guard,
        meta={"minhash": meta},
        append=True,
    )
