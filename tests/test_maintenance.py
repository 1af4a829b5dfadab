"""Maintenance: the z-order key, z-ordered optimize layout, and the
batch-store fold."""

from __future__ import annotations

from pyspark.sql import functions as F

from european_emissions_data_warehouse_spark.sources.readers import load_table


def test_z_value_bit_interleaving(spark):
    from european_emissions_data_warehouse_spark.operators.maintenance import z_value

    df = spark.createDataFrame(
        [(0b11, 0b00), (0b00, 0b11), (0b01, 0b01), (0b10, 0b11)], "a long, b long"
    )
    got = [r.z for r in df.select(z_value(F.col("a"), F.col("b")).alias("z")).collect()]
    # a's bit i -> position 2i+1, b's bit i -> position 2i
    assert got == [0b1010, 0b0101, 0b0011, 0b1101]


def test_z_value_rejects_out_of_domain(spark):
    """Values past 2^bits silently collided on low bits (65536 and 0 got
    identical keys) and negatives produced garbage — both must raise
    (code-review r4)."""
    import pytest

    from european_emissions_data_warehouse_spark.operators.maintenance import z_value

    big = spark.createDataFrame([(1 << 20, 1)], "a long, b long")
    with pytest.raises(Exception, match="outside"):
        big.select(z_value(F.col("a"), F.col("b"), bits=16)).collect()
    neg = spark.createDataFrame([(-1, 1)], "a long, b long")
    with pytest.raises(Exception, match="outside"):
        neg.select(z_value(F.col("a"), F.col("b"), bits=16)).collect()
    # and in-domain values still interleave
    ok = spark.createDataFrame([(1 << 19, 1)], "a long, b long")
    assert ok.select(z_value(F.col("a"), F.col("b"), bits=20)).collect()


def test_zorder_cluster_preserves_data_with_disjoint_file_ranges(spark, tmp_path):
    """SnapshotTable.optimize(zorder_by=...) keeps every row and lays the
    new version out so each file covers a disjoint z range."""
    import os

    from european_emissions_data_warehouse_spark.operators.maintenance import z_value
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "zfrag"))
    # hashed columns compress poorly, so the table spans several 1 MB files;
    # user_id reaches past 2^16
    ev = spark.range(0, 200_000).select(
        F.col("id").alias("event_id"),
        F.pmod(F.xxhash64("id"), F.lit(1 << 20)).alias("user_id"),
        F.pmod(F.hash("id"), F.lit(366)).cast("long").alias("day"),
    )
    t.commit(ev.repartition(12))
    want = sorted(map(tuple, ev.collect()))

    v = t.optimize(target_file_mb=1, zorder_by=["user_id", "day"])
    out_dir = str(tmp_path / "zfrag" / t._manifest(v))
    assert len([f for f in os.listdir(out_dir) if f.endswith(".parquet")]) >= 2
    got_df = t.read(v)
    assert sorted(map(tuple, got_df.collect())) == want

    # clustering contract: per-file z ranges are pairwise disjoint
    spans = (
        got_df.withColumn("z", z_value(F.col("user_id"), F.col("day"), bits=31))
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in spans)
    assert len(spans) >= 2
    assert all(prev_hi <= lo for (_, prev_hi), (lo, _) in zip(spans, spans[1:]))


def test_z_value_rejects_bad_bits_and_null_inputs(spark):
    """bits >= 32 interleaves into the sign bit (negative z keys range-sort
    FIRST — silent pruning corruption) and a NULL input used to die with a
    message-less raise_error(NULL): both now fail with real diagnostics
    (code-review r4, operators pass)."""
    import pytest
    from pyspark.sql import functions as F

    from european_emissions_data_warehouse_spark.operators.maintenance import z_value

    with pytest.raises(ValueError, match="bits must be in"):
        z_value(F.col("a"), F.col("b"), bits=32)

    df = spark.createDataFrame([(1, None)], "a long, b long")
    with pytest.raises(Exception, match="NULL in a z-order column"):
        df.select(z_value(F.col("a"), F.col("b"), bits=8)).collect()


# --- compact_batch_store: the streaming store's commit-count retention lever


def _fake_batch_store(spark, root, n_parts, rows_per=50):
    for n in range(n_parts):
        spark.range(n * rows_per, (n + 1) * rows_per).withColumn(
            "val", F.col("id") * 2
        ).repartition(3).write.mode("overwrite").parquet(f"{root}/batch_id={n}")


def test_compact_batch_store_folds_committed_partitions(spark, tmp_path):
    from european_emissions_data_warehouse_spark.operators.maintenance import (
        compact_batch_store,
    )

    store = str(tmp_path / "store")
    _fake_batch_store(spark, store, 6)
    want = sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    )

    res = compact_batch_store(spark, store, upto_batch_id=4)
    assert res["folded"] == 5
    assert res["partitions_before"] == 6
    assert res["partitions_after"] == 2  # batch_id=0 (folded) + batch_id=5
    assert res["files_after"] < res["files_before"]

    got = spark.read.parquet(store)
    assert sorted(map(tuple, got.select("id", "val").collect())) == want
    # folded rows landed in the LOWEST folded id; the newest partition is
    # untouched and stays individually overwritable
    ids = {r["batch_id"] for r in got.select("batch_id").distinct().collect()}
    assert ids == {0, 5}


def test_compact_batch_store_guards(spark, tmp_path):
    import pytest as _pytest

    from european_emissions_data_warehouse_spark.operators.maintenance import (
        compact_batch_store,
    )

    store = str(tmp_path / "store")
    _fake_batch_store(spark, store, 3)
    # the newest partition must stay replay-overwritable
    with _pytest.raises(ValueError, match="replay-overwritable"):
        compact_batch_store(spark, store, upto_batch_id=2)
    # fewer than two foldable partitions: free no-op
    res = compact_batch_store(spark, store, upto_batch_id=0)
    assert res["folded"] == 0
    assert res["partitions_after"] == 3
    with _pytest.raises(FileNotFoundError):
        compact_batch_store(spark, str(tmp_path / "nope"), upto_batch_id=0)


def test_compact_batch_store_keeps_neardup_stream_semantics(
    spark, sf_dir, tmp_path
):
    """End-to-end: fold the LSH store mid-stream, then prove a later batch
    still suppresses near-dups of docs whose band rows were folded."""
    from european_emissions_data_warehouse_spark.operators.maintenance import (
        compact_batch_store,
    )
    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_neardup_dedup_stream,
        stream_from_directory,
    )

    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").limit(60).localCheckpoint()
    # three disjoint 20-doc slices -> three micro-batches
    for i in range(3):
        docs.filter((F.col("doc_id") % 3) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    schema = spark.read.parquet(landing).schema
    run_neardup_dedup_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        store, out, ck,
    )
    kept1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    store_rows = spark.read.parquet(store).count()

    res = compact_batch_store(spark, store, upto_batch_id=1)
    assert res["folded"] == 2
    assert spark.read.parquet(store).count() == store_rows

    # fourth batch: same content as the WHOLE corpus under shifted ids ->
    # every doc is a near-dup of something already in the (folded) store
    docs.withColumn("doc_id", F.col("doc_id") + 1000).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run_neardup_dedup_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        store, out, ck,
    )
    kept2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept2 == kept1, "folded store must still suppress its duplicates"


def test_compact_batch_store_recovery_windows(spark, tmp_path):
    import json as _json
    import os
    import shutil as _shutil

    from european_emissions_data_warehouse_spark.operators.maintenance import (
        compact_batch_store,
        recover_interrupted_compaction,
    )

    store = str(tmp_path / "store")
    _fake_batch_store(spark, store, 4)
    want = sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    )

    # window A: stage written, crash BEFORE the manifest -> roll back
    os.makedirs(f"{store}/_compact_stage")
    with open(f"{store}/_compact_stage/junk.parquet", "w") as f:
        f.write("partial")
    recover_interrupted_compaction(spark, store)
    assert not os.path.exists(f"{store}/_compact_stage")
    assert sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    ) == want

    # window B: manifest + stage + sources partially moved -> roll forward.
    # Build the stage the same way the real fold does (batches 0 and 1).
    spark.read.parquet(
        f"{store}/batch_id=0", f"{store}/batch_id=1"
    ).repartition(1).write.mode("overwrite").parquet(f"{store}/_compact_stage")
    with open(f"{store}/_compact_manifest", "w") as f:
        f.write(_json.dumps({"lo": 0, "ids": [0, 1]}))
    os.makedirs(f"{store}/_compact_trash")
    os.rename(f"{store}/batch_id=0", f"{store}/_compact_trash/batch_id=0")
    # crash here: batch_id=1 not yet moved, stage not yet published
    recover_interrupted_compaction(spark, store)
    assert not os.path.exists(f"{store}/_compact_manifest")
    assert not os.path.exists(f"{store}/_compact_trash")
    assert sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    ) == want

    # window C: published but trash+manifest linger -> cleanup only
    with open(f"{store}/_compact_manifest", "w") as f:
        f.write(_json.dumps({"lo": 0, "ids": [0, 1]}))
    os.makedirs(f"{store}/_compact_trash/batch_id=9")
    recover_interrupted_compaction(spark, store)
    assert not os.path.exists(f"{store}/_compact_manifest")
    assert not os.path.exists(f"{store}/_compact_trash")
    assert sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    ) == want

    # and a straight-through compact still works on the healed store:
    # window B's roll-forward already folded 0+1 into batch_id=0, so the
    # foldable set at upto=2 is {0, 2}
    res = compact_batch_store(spark, store, upto_batch_id=2)
    assert res["folded"] == 2
    assert sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    ) == want
    _shutil.rmtree(store)


def test_compact_manifest_publish_is_atomic_and_tmp_is_healed(spark, tmp_path):
    """A half-written manifest temp (crash mid-write, pre-commit) must be
    discarded by recovery, and a completed compact leaves neither the temp
    nor the manifest behind (code-review r9: the manifest used to be
    created in place, so a torn write wedged every later recover)."""
    import os

    from european_emissions_data_warehouse_spark.operators.maintenance import (
        compact_batch_store,
        recover_interrupted_compaction,
    )

    store = str(tmp_path / "store")
    _fake_batch_store(spark, store, 3)
    want = sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    )
    with open(f"{store}/_compact_manifest__tmp", "w") as f:
        f.write('{"lo": 0, "ids"')  # torn json
    recover_interrupted_compaction(spark, store)
    assert not os.path.exists(f"{store}/_compact_manifest__tmp")

    res = compact_batch_store(spark, store, upto_batch_id=1)
    assert res["folded"] == 2
    assert not os.path.exists(f"{store}/_compact_manifest__tmp")
    assert not os.path.exists(f"{store}/_compact_manifest")
    assert sorted(
        map(tuple, spark.read.parquet(store).select("id", "val").collect())
    ) == want


def test_neardup_stream_heals_interrupted_compaction(spark, sf_dir, tmp_path):
    """A stream restarted over a mid-compact crash must NOT probe the
    partial store (folded band rows invisible -> near-dups silently
    admitted); run_neardup_dedup_stream heals via
    recover_interrupted_compaction before its first trigger
    (code-review r9)."""
    import json as _json
    import os

    from european_emissions_data_warehouse_spark.streaming.ingest import (
        run_neardup_dedup_stream,
        stream_from_directory,
    )

    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").limit(60).localCheckpoint()
    for i in range(2):
        docs.filter((F.col("doc_id") % 2) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    schema = spark.read.parquet(landing).schema
    run_neardup_dedup_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        store, out, ck,
    )
    kept1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}

    # simulate the worst crash window: batch 0's rows staged+moved aside,
    # stage not yet published — the store is missing batch-0 band rows
    spark.read.parquet(f"{store}/batch_id=0").repartition(1).write.mode(
        "overwrite"
    ).parquet(f"{store}/_compact_stage")
    with open(f"{store}/_compact_manifest", "w") as f:
        f.write(_json.dumps({"lo": 0, "ids": [0]}))
    os.makedirs(f"{store}/_compact_trash")
    os.rename(f"{store}/batch_id=0", f"{store}/_compact_trash/batch_id=0")

    # third batch: near-dups of the WHOLE corpus (shifted ids) — without
    # the heal, every dup of a batch-0 doc would be admitted
    docs.withColumn("doc_id", F.col("doc_id") + 1000).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run_neardup_dedup_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        store, out, ck,
    )
    kept2 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept2 == kept1, "healed store must suppress all re-streamed docs"
    assert not os.path.exists(f"{store}/_compact_manifest")
    assert not os.path.exists(f"{store}/_compact_trash")
