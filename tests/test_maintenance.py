"""Maintenance: the z-order key, z-ordered optimize layout, and optimize
in the middle of a near-dup stream."""

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
    out_dir = str(tmp_path / "zfrag" / t._dirs(v)[0])
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


def test_optimize_keeps_neardup_stream_semantics(spark, sf_dir, tmp_path):
    """End-to-end: fold the near-dup corpus's appended dirs with optimize
    mid-stream, then prove a later batch still suppresses near-dups of the
    folded documents."""
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
    # three disjoint 20-doc slices -> three micro-batches
    for i in range(3):
        docs.filter((F.col("doc_id") % 3) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    schema = spark.read.parquet(landing).schema
    run_neardup_dedup_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        corpus, ck,
    )
    t = SnapshotTable(spark, corpus)
    kept1 = {r["doc_id"] for r in t.read().collect()}
    assert len(t._dirs(t.latest_version())) == 3

    v = t.optimize()
    assert len(t._dirs(v)) == 1
    assert {r["doc_id"] for r in t.read(v).collect()} == kept1

    # fourth batch: same content as the WHOLE corpus under shifted ids ->
    # every doc is a near-dup of something already in the (folded) corpus
    docs.withColumn("doc_id", F.col("doc_id") + 1000).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    run_neardup_dedup_stream(
        stream_from_directory(spark, landing, schema, max_files_per_trigger=1),
        corpus, ck,
    )
    kept2 = {r["doc_id"] for r in t.read().collect()}
    assert kept2 == kept1, "folded corpus must still suppress its duplicates"
