"""Lake maintenance: the z-order key, output sizing, and the batch-store fold.

Committed tables compact and z-order through ``SnapshotTable.optimize``
(operators/snapshots.py), which commits the rewrite as a new version behind
the same log readers pin, so no reader ever sees a half-rewritten layout.
This module supplies what optimize uses — ``z_value``, the bit-interleaved
clustering key, and ``_target_file_count``, the one output-sizing rule — plus
``compact_batch_store``, the retention fold for the ``batch_id=N`` store of
streaming/ingest.run_neardup_dedup_stream, a layout a SnapshotTable cannot
hold without a whole-store rewrite per batch.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def z_value(c1: Column, c2: Column, bits: int = 16) -> Column:
    """Bit-interleaved Z-order key for two non-negative integer columns
    (c1's bit i lands at 2i+1, c2's at 2i).  Sorting by this key clusters
    rows that are close in *both* dimensions, so parquet row-group min/max
    stats prune scans filtered on either column.  Pure shift/and/or
    expressions: whole-stage codegen, no UDF; 2*bits ≤ 62 keeps the key in
    a signed long under ANSI mode."""
    # at bits >= 32 the interleave shifts into the sign bit: those rows get
    # negative keys that range-sort first and pruning silently breaks
    if not 1 <= bits <= 31:
        raise ValueError(f"z_value: bits must be in [1, 31] (2*bits <= 62), got {bits}")
    bound = 1 << bits

    # domain guard: bits above `bits` would be silently discarded, so
    # far-apart values would collide on their low bits; negatives and NULLs
    # would yield garbage keys — fail loudly instead
    def checked(c: Column) -> Column:
        v = c.cast("long")
        return (
            F.when(
                v.isNull(),
                F.raise_error(
                    F.lit(
                        "z_value: NULL in a z-order column — fill or filter "
                        "nulls before clustering"
                    )
                ).cast("long"),
            )
            .when((v >= 0) & (v < bound), v)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("z_value: column value "),
                        v.cast("string"),
                        F.lit(
                            f" outside [0, 2^{bits}) — raise `bits` (2*bits <= 62)"
                            " or pre-scale the column"
                        ),
                    )
                )
            )
        )

    v1, v2 = checked(c1), checked(c2)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(v1, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(v2, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def _target_file_count(fs, dirs, target_file_mb: int) -> int:
    """Output file count for a rewrite of ``dirs`` (Hadoop Paths on ``fs``):
    their ``.parquet`` bytes over ``target_file_mb``, rounded, at least one.
    Only data files count — ``.crc`` and ``_SUCCESS`` siblings do not."""
    parquet_bytes = sum(
        st.getLen()
        for d in dirs
        for st in fs.listStatus(d)
        if st.getPath().getName().endswith(".parquet")
    )
    return max(1, round(parquet_bytes / (target_file_mb * 1024 * 1024)))


# --- batch-partitioned store compaction (streaming ingest layout) -----------
#
# streaming/ingest.run_neardup_dedup_stream lays its LSH store and output
# corpus out as one `batch_id=N/` partition directory per trigger, written
# with per-partition OVERWRITE so a crash-replayed batch rewrites its own
# slice (the replay-safe layout).  The cost of that layout grows with
# COMMIT COUNT, not data: after thousands of triggers every probe pays
# O(n_batches) partition discovery and opens thousands of tiny files.
# compact_batch_store is the retention lever: it folds FULLY-COMMITTED
# partitions (ids <= a caller-supplied high-water mark, strictly below the
# newest partition, which must stay replay-overwritable) into the lowest
# folded id as right-sized files.  New triggers keep appending fresh
# batch_id partitions above the mark; ids never collide.
#
# Crash safety: stage, then swap by renames, with a root-level manifest so
# every window is resumable (roll forward once sources start moving, roll
# back before):
#   1. write the folded data to `_compact_stage/` (underscore-prefixed —
#      invisible to partition discovery), copy the store's `_minhash_params`
#      convention file in if present;
#   2. write `_compact_manifest` (the folded ids + target) at the root —
#      the commit point: no source directory moves before it exists;
#   3. rename each folded `batch_id=N/` into `_compact_trash/`;
#   4. rename the stage over `batch_id=<lo>/`;
#   5. delete the trash, then the manifest.
# recover_interrupted_compaction heals any window at the next entry.  A
# reader racing steps 3-4 can see missing rows for an instant — this is a
# single-writer maintenance op, run between triggers.

_COMPACT_STAGE = "_compact_stage"
_COMPACT_TRASH = "_compact_trash"
_COMPACT_MANIFEST = "_compact_manifest"


def _store_fs(spark: SparkSession, store_path: str):
    # snapshots._fs is the one jvm+path-aware FS resolver; this only adds
    # the Path class handle callers need
    from european_emissions_data_warehouse_spark.operators.snapshots import _fs

    jvm, fs = _fs(spark, store_path)
    return jvm, jvm.org.apache.hadoop.fs.Path, fs


def _batch_partitions(path_cls, fs, store_path: str) -> dict[int, object]:
    """{batch_id: Path} for every `batch_id=N` directory under the store."""
    root = path_cls(store_path)
    out: dict[int, object] = {}
    if not fs.exists(root):
        return out
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            out[int(name.split("=", 1)[1])] = st.getPath()
    return out


def recover_interrupted_compaction(spark: SparkSession, store_path: str) -> None:
    """Heal a crashed compact_batch_store at any protocol window; no-op on
    a clean store.  Called at compact entry; safe to call any time the
    store is quiescent (e.g. before restarting the stream)."""
    import json as _json

    from european_emissions_data_warehouse_spark.operators.snapshots import (
        read_small_text,
    )

    _jvm, path_cls, fs = _store_fs(spark, store_path)
    root = store_path.rstrip("/")
    stage_p = path_cls(f"{root}/{_COMPACT_STAGE}")
    trash_p = path_cls(f"{root}/{_COMPACT_TRASH}")
    manifest = read_small_text(spark, f"{root}/{_COMPACT_MANIFEST}")
    if manifest is None:
        # crash before the commit point: sources untouched, discard stage
        # and any half-written manifest temp (both pre-commit artifacts)
        if fs.exists(stage_p):
            fs.delete(stage_p, True)
        tmp_p = path_cls(f"{root}/{_COMPACT_MANIFEST}__tmp")
        if fs.exists(tmp_p):
            fs.delete(tmp_p, False)
        # trash without a manifest cannot be left by this protocol (the
        # manifest outlives the trash); nothing else to do
        return
    meta = _json.loads(manifest)
    lo, ids = int(meta["lo"]), [int(i) for i in meta["ids"]]
    if fs.exists(stage_p):
        # crash mid-roll-forward: finish moving sources, publish the stage
        fs.mkdirs(trash_p)
        for n in ids:
            src = path_cls(f"{root}/batch_id={n}")
            if fs.exists(src) and not fs.rename(
                src, path_cls(f"{root}/{_COMPACT_TRASH}/batch_id={n}")
            ):
                raise IOError(f"compact recover: rename batch_id={n} failed")
        if not fs.rename(stage_p, path_cls(f"{root}/batch_id={lo}")):
            raise IOError(f"compact recover: publish batch_id={lo} failed")
    # stage published (just now or before the crash): clear trash, THEN the
    # manifest — and only on a confirmed trash delete.  Hadoop delete
    # reports several failure modes by returning false rather than
    # raising; removing the manifest after a silently-failed trash delete
    # would strand `_compact_trash/` in the exact "trash without a
    # manifest" state the pre-commit branch above declares impossible and
    # skips, leaking every folded partition on disk permanently
    # (code-review r9, second pass).  Raising instead keeps the manifest,
    # so the next recover retries this cleanup.
    if fs.exists(trash_p) and not fs.delete(trash_p, True):
        raise IOError(f"compact recover: delete {root}/{_COMPACT_TRASH} failed")
    fs.delete(path_cls(f"{root}/{_COMPACT_MANIFEST}"), False)


def compact_batch_store(
    spark: SparkSession,
    store_path: str,
    upto_batch_id: int,
    target_file_mb: int = 128,
) -> dict:
    """Fold the store's `batch_id=N` partitions with N <= upto_batch_id
    into one right-sized `batch_id=<lowest folded>` partition.

    ``upto_batch_id`` must be strictly below the newest partition id: the
    newest batch is the only one a crash-restarted stream can re-deliver
    (earlier ids are committed in the checkpoint), and its partition must
    remain individually overwritable.  Enforced here from the layout alone.

    Returns {"partitions_before", "partitions_after", "files_before",
    "files_after", "folded"}; a no-op (fewer than two foldable partitions)
    returns with folded == 0.
    """
    import json as _json

    recover_interrupted_compaction(spark, store_path)
    _jvm, path_cls, fs = _store_fs(spark, store_path)
    root = store_path.rstrip("/")
    parts = _batch_partitions(path_cls, fs, root)
    if not parts:
        raise FileNotFoundError(f"compact: no batch_id partitions at {root}")
    max_id = max(parts)
    if upto_batch_id >= max_id:
        raise ValueError(
            f"compact: upto_batch_id={upto_batch_id} must be < the newest "
            f"partition ({max_id}) — the newest batch must stay "
            "replay-overwritable"
        )
    fold = sorted(n for n in parts if n <= upto_batch_id)

    def _count_files(paths) -> int:
        return sum(
            1
            for p in paths
            for st in fs.listStatus(p)
            if st.getPath().getName().endswith(".parquet")
        )

    files_before = _count_files(parts.values())
    if len(fold) < 2:
        return {
            "partitions_before": len(parts), "partitions_after": len(parts),
            "files_before": files_before, "files_after": files_before,
            "folded": 0,
        }
    lo = fold[0]
    n_target = _target_file_count(fs, [parts[n] for n in fold], target_file_mb)

    # 1. stage: one read over exactly the folded partition dirs (no
    # batch_id column in the data files, so the fold is schema-neutral)
    stage = f"{root}/{_COMPACT_STAGE}"
    spark.read.parquet(*[f"{root}/batch_id={n}" for n in fold]).repartition(
        n_target
    ).write.mode("overwrite").parquet(stage)
    # preserve the store's recorded MinHash convention (underscore file,
    # consulted by _read_minhash_params one level down): the folded lo
    # partition may be the only one carrying it
    from european_emissions_data_warehouse_spark.operators.dedup import (
        _read_minhash_params,
        _write_minhash_params,
    )

    params = _read_minhash_params(spark, root)
    if params is not None and {"k", "unit", "num_hashes", "bands"} <= set(params):
        _write_minhash_params(
            spark, stage, int(params["k"]), params["unit"],
            int(params["num_hashes"]), int(params["bands"]),
        )

    # 2. commit point — written to a temp name and renamed into place:
    # the manifest must appear atomically, or a crash mid-write would
    # leave a torn file that wedges every later recover (json parse
    # error) even though no source has moved (code-review r9)
    from european_emissions_data_warehouse_spark.operators.snapshots import (
        write_small_text,
    )

    manifest_p = path_cls(f"{root}/{_COMPACT_MANIFEST}")
    manifest_tmp = path_cls(f"{root}/{_COMPACT_MANIFEST}__tmp")
    write_small_text(
        spark, manifest_tmp.toString(), _json.dumps({"lo": lo, "ids": fold})
    )
    if not fs.rename(manifest_tmp, manifest_p):
        raise IOError("compact: manifest publish rename failed")

    # 3.-5. move sources aside, publish, clean up
    trash_p = path_cls(f"{root}/{_COMPACT_TRASH}")
    fs.mkdirs(trash_p)
    for n in fold:
        if not fs.rename(
            parts[n], path_cls(f"{root}/{_COMPACT_TRASH}/batch_id={n}")
        ):
            raise IOError(f"compact: rename batch_id={n} aside failed")
    if not fs.rename(path_cls(stage), path_cls(f"{root}/batch_id={lo}")):
        raise IOError(f"compact: publish batch_id={lo} failed")
    # confirmed trash delete BEFORE the manifest goes: deleting the
    # manifest after a silently-failed trash delete (Hadoop delete returns
    # false on several failure modes) would leave trash-without-manifest —
    # the one state recover_interrupted_compaction's pre-commit branch
    # skips by protocol invariant — permanently leaking the folded
    # partitions (code-review r9, second pass).  Raising keeps the
    # manifest, and the next recover (or compact entry) retries cleanup.
    if not fs.delete(trash_p, True):
        raise IOError(f"compact: delete {root}/{_COMPACT_TRASH} failed")
    fs.delete(manifest_p, False)

    parts_after = _batch_partitions(path_cls, fs, root)
    return {
        "partitions_before": len(parts),
        "partitions_after": len(parts_after),
        "files_before": files_before,
        "files_after": _count_files(parts_after.values()),
        "folded": len(fold),
    }
