"""Lake maintenance: small-file compaction and layout rewrite.

Streaming ingest (streaming/ingest.py) and frequent merges leave parquet
directories with many small files; at 100 TB, scan cost becomes dominated by
file-open overhead and the driver's listing.  Compaction rewrites a
directory into right-sized files (aiming at `spark.sql.files.maxPartitionBytes`
so one file ≈ one scan split), optionally sorted so downstream predicate
columns cluster into row groups (min/max pruning — the parquet-native
analogue of Z-ordering on one dimension).

The rewrite is staging-then-swap: write to `<path>__compact` (or
`__zorder`), then publish by renaming the OLD directory to `<path>__trash`
and the staging dir over the final path — never delete-then-rename, so no
crash leaves the published path without a copy.  Every rename's boolean
return is checked, a failed promote restores the old directory, and a
crash between the two renames leaves the previous data intact under
`__trash`, which the next run restores before it reads.  A reader racing
the swap can still see a missing path for an instant — for log-committed
publishes use SnapshotTable.optimize, which this module's in-place form
complements for plain directories.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def z_value(c1: Column, c2: Column, bits: int = 16) -> Column:
    """Bit-interleaved Z-order key for two non-negative integer columns
    (c1's bit i lands at 2i+1, c2's at 2i).  Sorting by this key clusters
    rows that are close in *both* dimensions, so parquet row-group min/max
    stats prune scans filtered on either column — the multi-dimensional
    extension of compact_parquet's single-key range clustering.  Pure
    shift/and/or expressions: whole-stage codegen, no UDF; 2*bits ≤ 62 keeps
    the key in a signed long under ANSI mode."""
    # domain guard: bits above `bits` are silently DISCARDED by the
    # interleave, so ids beyond 2^bits collide on their low bits and rows
    # far apart in the column co-locate — min/max pruning quietly stops
    # working with no error; negative inputs likewise produce garbage
    # keys.  Fail loudly instead (code-review r4).
    if not 1 <= bits <= 31:
        # the invariant the docstring states, now enforced: at bits >= 32
        # the interleave shifts into the SIGN bit, rows with that bit set
        # get negative z keys that range-sort FIRST, and min/max pruning is
        # silently destroyed — the exact silent-garbage failure the value
        # guard below exists to prevent (code-review r4, operators pass)
        raise ValueError(f"z_value: bits must be in [1, 31] (2*bits <= 62), got {bits}")
    bound = 1 << bits
    def checked(c: Column) -> Column:
        v = c.cast("long")
        return (
            # explicit NULL branch: a NULL fell into the otherwise() whose
            # concat message was itself NULL, so the job died with 'null'
            # as the entire diagnostic (code-review r4, operators pass)
            F.when(
                v.isNull(),
                F.raise_error(
                    F.lit(
                        "z_value: NULL in a z-order column — fill or filter "
                        "nulls before clustering (code-review r4)"
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
                            " or pre-scale the column (code-review r4)"
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


def _swap_into(spark: SparkSession, staging: str, final: str) -> None:
    """Publish ``staging`` over ``final`` via rename-to-trash (module
    docstring): checked renames, restore-on-failure, previous data never
    deleted before the new data is in place."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    fs = path_cls(final).getFileSystem(conf)  # the path's FS, not the default
    final_p, staging_p = path_cls(final), path_cls(staging)
    trash_p = path_cls(f"{final}__trash")
    if fs.exists(trash_p):
        fs.delete(trash_p, True)  # leftover from a crashed prior swap
    had_final = fs.exists(final_p)
    if had_final and not fs.rename(final_p, trash_p):
        raise IOError(f"swap: rename {final} -> {final}__trash failed")
    if not fs.rename(staging_p, final_p):
        if had_final:
            fs.rename(trash_p, final_p)  # put the old data back
        raise IOError(f"swap: rename {staging} -> {final} failed")
    if had_final:
        fs.delete(trash_p, True)


def _recover_interrupted_swap(spark: SparkSession, final: str) -> None:
    """Heal a crash between _swap_into's two renames: the data then lives
    only under ``{final}__trash`` and ``final`` is missing — restore it so
    the next maintenance run (or reader) sees the full table instead of
    crashing on a nonexistent path."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path_cls = jvm.org.apache.hadoop.fs.Path
    final_p = path_cls(final)
    fs = final_p.getFileSystem(conf)
    if fs.exists(final_p):
        return
    trash_p = path_cls(f"{final}__trash")
    if fs.exists(trash_p) and not fs.rename(trash_p, final_p):
        raise IOError(f"recover: rename {final}__trash -> {final} failed")


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a FLAT parquet directory.

    Hive-partitioned layouts (``col=value`` subdirectories) are refused:
    the whole-directory rewrite reads every partition but writes ONE flat
    directory — silently destroying partition pruning for every reader —
    and the old top-level-only listing measured them as 0 bytes, funneling
    the entire table through a single task (code-review r4).  Compact each
    partition directory individually, or use SnapshotTable.optimize."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.exists(p):
        raise FileNotFoundError(
            f"compact: {path} does not exist (a crashed prior swap is "
            "auto-healed from __trash at entry; anything else is a caller bug)"
        )
    n, total = 0, 0
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if status.isDirectory() and "=" in name:
            raise ValueError(
                f"compact: {path} is hive-partitioned ({name}/ ...); a flat "
                "rewrite would flatten the partition layout and destroy "
                "partition pruning — compact each partition directory, or "
                "use SnapshotTable.optimize (code-review r4)"
            )
        if name.endswith(".parquet"):
            n += 1
            total += status.getLen()
    return n, total


def _rewrite(
    spark: SparkSession,
    path: str,
    staging_suffix: str,
    shape,
    target_file_mb: int,
    skip_if_sized: bool = False,
) -> tuple[int, int]:
    """THE recover → stat → read → reshape → stage → swap → re-stat
    skeleton shared by compact_parquet and cluster_zorder — previously two
    hand-synced copies of the crash-safety sequence (code-review r4,
    operators pass).  ``shape(df, n_target) -> DataFrame`` supplies the
    layout; ``skip_if_sized`` makes an already-at-target directory a free
    no-op instead of a full-table rewrite (a re-run maintenance job at
    100 TB otherwise re-wrote every byte for zero benefit)."""
    _recover_interrupted_swap(spark, path)
    n_before, total_bytes = _dir_stats(spark, path)
    n_target = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    if skip_if_sized and n_before == n_target:
        return n_before, n_before

    out = shape(spark.read.parquet(path), n_target)
    staging = f"{path}{staging_suffix}"
    out.write.mode("overwrite").parquet(staging)
    _swap_into(spark, staging, path)

    n_after, _ = _dir_stats(spark, path)
    return n_before, n_after


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_by: Sequence[str] | None = None,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ~target_file_mb files.

    Returns (files_before, files_after).  With `sort_by`, rows are
    range-sorted across and within files so min/max row-group stats prune
    scans on those columns.  Without `sort_by`, a directory already at the
    target file count returns immediately (no layout promise to re-make);
    sorted/z-ordered rewrites always run, since file COUNT says nothing
    about clustering."""

    def shape(df, n_target):
        if sort_by:
            # repartitionByRange + sortWithinPartitions: global clustering
            # on the sort key, one shuffle, each output file covers a
            # disjoint key range
            return df.repartitionByRange(n_target, *sort_by).sortWithinPartitions(
                *sort_by
            )
        return df.repartition(n_target)

    return _rewrite(
        spark, path, "__compact", shape, target_file_mb,
        skip_if_sized=not sort_by,
    )


def cluster_zorder(
    spark: SparkSession,
    path: str,
    col1: str,
    col2: str,
    target_file_mb: int = 128,
    bits: int = 16,
) -> tuple[int, int]:
    """Rewrite a parquet directory Z-order-clustered on two integer columns:
    compute the interleaved key, range-partition and sort by it, write, and
    atomically swap — data-skipping then works for filters on either column
    (compact_parquet's staging/swap protocol, same crash safety).  Returns
    (files_before, files_after)."""

    def shape(df, n_target):
        zed = df.withColumn("__z", z_value(F.col(col1), F.col(col2), bits))
        return (
            zed.repartitionByRange(n_target, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )

    return _rewrite(spark, path, "__zorder", shape, target_file_mb)


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
# Crash safety mirrors this module's swap protocol, extended to the
# multi-directory case with a root-level manifest so every window is
# resumable (roll forward once sources start moving, roll back before):
#   1. write the folded data to `_compact_stage/` (underscore-prefixed —
#      invisible to partition discovery), copy the store's `_minhash_params`
#      convention file in if present;
#   2. write `_compact_manifest` (the folded ids + target) at the root —
#      the commit point: no source directory moves before it exists;
#   3. rename each folded `batch_id=N/` into `_compact_trash/`;
#   4. rename the stage over `batch_id=<lo>/`;
#   5. delete the trash, then the manifest.
# recover_interrupted_compaction heals any window at the next entry.  Like
# compact_parquet's swap, a reader racing steps 3-4 can see missing rows
# for an instant — this is a single-writer maintenance op, run between
# triggers.

_COMPACT_STAGE = "_compact_stage"
_COMPACT_TRASH = "_compact_trash"
_COMPACT_MANIFEST = "_compact_manifest"


def _store_fs(spark: SparkSession, store_path: str):
    # snapshots._fs is THE consolidated jvm+path-aware FS resolver
    # (code-review r4); this only adds the Path class handle callers need
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
    fold_bytes = sum(
        st.getLen()
        for n in fold
        for st in fs.listStatus(parts[n])
        if st.getPath().getName().endswith(".parquet")
    )
    n_target = max(1, round(fold_bytes / (target_file_mb * 1024 * 1024)))

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
