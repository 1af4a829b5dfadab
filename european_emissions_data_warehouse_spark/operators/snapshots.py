"""Snapshot-versioned parquet tables: linear history, time travel, rollback.

The reference's durability story is a Postgres transaction per load
(scripts/lambda_handler_warehouse.py:73,106 — SURVEY.md O17); a data lake
has no transaction manager, so this module supplies the minimal equivalent
the way lakehouse formats do it: an **append-only commit log** beside the
data.

Layout:

    <table>/_commits/00000042        the manifest of version 42
    <table>/data_v00000042_ab12cd34/ immutable parquet dir (per-writer
                                     random suffix — racing writers never
                                     share a dir; the manifest is the only
                                     name readers follow)

A manifest is text: line 1 is the comma-separated list of the snapshot's
data dirs, and every later line is ``key=value`` metadata
(``commit_meta``).  A copy-on-write commit names one dir; an append commit
(``commit(..., append=True)``) names its base version's dirs plus the one
new dir it wrote, so an append writes only its own rows, and ``optimize``
folds the list back into one dir.  One-dir manifests are the one-element
case.  Every publisher records ``schema=<the snapshot's schema as one line
of JSON>``, so ``read`` hands Spark the schema and reading a version runs
no schema-inference job; manifests written before the schema line existed
still read, by inference.  Streaming ingest adds ``batch_id`` and
``ckpt_gen``.

A commit writes its data dir, then publishes its manifest by creating the
version's name only if it does not exist yet — a compare-and-swap: two
writers racing to the same version number produce one winner and one
clean ``ConcurrentCommitError`` (optimistic concurrency, the same protocol
as a Delta/Iceberg log commit).  The manifest is staged under a
per-writer temp name, then made visible with the filesystem's atomic
create-if-absent primitive, one per scheme:

- ``file:`` — ``java.nio.file.Files.createLink`` (``link(2)``), which
  fails atomically with ``FileAlreadyExistsException`` if the name exists.
  (Hadoop's local ``rename`` is check-then-rename: two racing renames can
  both return true, the later silently replacing the earlier manifest.)
- ``hdfs:`` — ``FileSystem.rename``, which is atomic and fails if the
  destination exists.
- any other scheme raises ``NotImplementedError`` naming it, rather than
  claim a compare-and-swap it does not have.

Readers resolve the max committed version; a reader never sees a
half-written snapshot because data dirs are immutable once their manifest
exists.

Rollback re-publishes an old snapshot as a *new* version (history is never
rewritten); vacuum deletes data dirs no commit in the retained window
references.  At 100 TB the snapshot write is the ordinary output job —
the log adds one tiny file per commit, and time travel is free (old dirs
just remain until vacuumed).
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — reload and retry."""


def _fs(spark: SparkSession, path: str):
    # the PATH's filesystem, not the default one — a table on s3a:// with
    # an hdfs:// default otherwise throws "Wrong FS"
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm, jvm.org.apache.hadoop.fs.Path(path).getFileSystem(conf)


def read_small_text(spark: SparkSession, path: str) -> str | None:
    """Driver-side read of one small text file through the path's Hadoop
    filesystem; None if the file does not exist.  The one helper for
    manifest and metadata reads."""
    jvm, fs = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_small_text(spark: SparkSession, path: str, body: str) -> None:
    """Driver-side overwrite-write of one small text file through the
    path's Hadoop filesystem — read_small_text's write twin.  THE shared
    helper for manifest and metadata writes.  Callers that need atomic
    visibility write to a temp name and publish it (SnapshotTable._publish)
    — this helper only writes."""
    jvm, fs = _fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(bytearray(body, "utf-8"))
    finally:
        out.close()


class SnapshotTable:
    """A versioned parquet table at ``path`` (see module docstring)."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path.rstrip("/")
        self.commits_dir = f"{self.path}/_commits"
        self._entries: dict[int, tuple[list[str], dict[str, str]]] = {}

    # --- log ------------------------------------------------------------

    def _jpath(self, p: str):
        jvm, _ = _fs(self.spark, p)
        return jvm.org.apache.hadoop.fs.Path(p)

    def history(self) -> list[int]:
        """Committed versions, ascending (empty for a fresh table)."""
        jvm, fs = _fs(self.spark, self.path)
        cd = self._jpath(self.commits_dir)
        if not fs.exists(cd):
            return []
        out = []
        for status in fs.listStatus(cd):
            name = status.getPath().getName()
            if name.isdigit():
                out.append(int(name))
        return sorted(out)

    def latest_version(self) -> int | None:
        h = self.history()
        return h[-1] if h else None

    def _current_version(self) -> int:
        """The latest version; raises ValueError on a table with no commits."""
        version = self.latest_version()
        if version is None:
            raise ValueError(f"no commits yet at {self.path}")
        return version

    def _manifest_text(self, version: int) -> str:
        text = read_small_text(self.spark, f"{self.commits_dir}/{version:08d}")
        if text is None:
            raise ValueError(f"version {version} does not exist at {self.path}")
        return text.strip()

    def _entry(self, version: int) -> tuple[list[str], dict[str, str]]:
        """A commit's data dirs and its key=value metadata, from one
        manifest read (layout in the module docstring).  A published
        manifest never changes (``_publish`` only creates absent names and
        ``vacuum`` deletes only ``.tmp_`` staging files), so each instance
        reads and parses a version's manifest once."""
        if version not in self._entries:
            first, *lines = self._manifest_text(version).splitlines()
            meta = dict(ln.split("=", 1) for ln in lines if "=" in ln)
            self._entries[version] = (first.split(","), meta)
        return self._entries[version]

    def _dirs(self, version: int) -> list[str]:
        """The data dirs a commit's snapshot reads."""
        return self._entry(version)[0]

    def commit_meta(self, version: int) -> dict[str, str]:
        """key=value metadata recorded with a commit (e.g. the streaming
        batch_id that produced it, and the snapshot ``schema``); empty for
        metadata-less commits."""
        return dict(self._entry(version)[1])

    def _cas_fs(self):
        """The table's JVM handle, filesystem and scheme; raises for a
        scheme without an atomic create-if-absent (module docstring)."""
        jvm, fs = _fs(self.spark, self.path)
        scheme = fs.getScheme()
        if scheme not in ("file", "hdfs"):
            raise NotImplementedError(
                f"SnapshotTable publishes manifests with an atomic "
                f"create-if-absent, which exists here only for file: and "
                f"hdfs:; cannot commit to {self.path!r} on scheme "
                f"{scheme!r} — use a local or HDFS table path"
            )
        return jvm, fs, scheme

    def _publish(
        self, version: int, data_dirs: str, meta: dict[str, str] | None = None
    ) -> None:
        """Publish ``version``'s manifest (``data_dirs`` is its line 1) as a
        compare-and-swap: stage the body under a per-writer temp name, then
        create the version's name only if it is absent (``link(2)`` on
        ``file:``, ``rename`` on ``hdfs:``).  The loser of a race gets
        ConcurrentCommitError.  The temp name is unique per writer, so a
        racing writer can never overwrite the winner's staged body."""
        jvm, fs, scheme = self._cas_fs()
        Path = jvm.org.apache.hadoop.fs.Path
        fs.mkdirs(Path(self.commits_dir))
        tmp = Path(f"{self.commits_dir}/.tmp_{version:08d}_{uuid.uuid4().hex[:8]}")
        final = Path(f"{self.commits_dir}/{version:08d}")
        body = data_dirs + "".join(f"\n{k}={v}" for k, v in (meta or {}).items())
        write_small_text(self.spark, tmp.toString(), body)
        if scheme == "hdfs":
            won = fs.rename(tmp, final)
        else:
            try:
                jvm.java.nio.file.Files.createLink(
                    fs.pathToFile(final).toPath(), fs.pathToFile(tmp).toPath()
                )
                won = True
            except Py4JJavaError as exc:
                cls = exc.java_exception.getClass().getName()
                if cls != "java.nio.file.FileAlreadyExistsException":
                    raise
                won = False
        # the staged body and, on the local checksummed FS, its .crc
        fs.delete(tmp, False)
        if not won:
            raise ConcurrentCommitError(
                f"version {version} of {self.path} was committed concurrently"
            )

    # --- write ----------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        meta: dict[str, str] | None = None,
        expected_base: int | None = None,
        append: bool = False,
    ) -> int:
        """Write ``df`` as the next snapshot; returns its version.  ``meta``
        key=value pairs are recorded in the commit manifest — streaming
        ingest stamps the micro-batch id there so a crash-replayed batch can
        be recognized and skipped (version-level idempotence, not just
        content-level).  The manifest also records ``df``'s schema, so
        ``schema`` is a reserved key and passing it raises.

        ``expected_base``: the version ``df`` was DERIVED from (-1 for an
        empty table), for read-modify-write callers.  The commit then
        publishes at exactly ``expected_base + 1`` so the publish CAS itself
        detects any commit that landed between the caller's read and this
        publish and raises ConcurrentCommitError (retry by re-reading),
        instead of merging over it.  A version that is already published
        raises before anything is written.  Blind writes that don't read
        the current snapshot may keep the fresh-listing form.

        ``append``: ``df`` holds only rows to ADD to the base version (the
        latest, or ``expected_base``).  The commit writes them as one new
        dir and publishes the base's dirs plus that dir, pinned to the base
        like ``expected_base``; ``df`` must have the base's schema.

        The data dir carries a per-writer random suffix, so two writers
        racing to one version never write the same dir: the loser's bytes
        are garbage the loser itself deletes on ConcurrentCommitError, and
        the manifest is the only name readers follow."""
        if meta and "schema" in meta:
            raise ValueError(
                "commit meta key 'schema' is reserved: the manifest records "
                "the snapshot's own schema"
            )
        _, fs, _ = self._cas_fs()  # a scheme that cannot publish fails first
        if expected_base is None:
            h = self.history()
            expected_base = h[-1] if h else -1
        version = expected_base + 1
        if fs.exists(self._jpath(f"{self.commits_dir}/{version:08d}")):
            raise ConcurrentCommitError(
                f"version {version} of {self.path} was committed concurrently"
            )
        schema = df.schema.json()
        dirs = []
        if append and expected_base >= 0:
            dirs, base_meta = self._entry(expected_base)
            if base_meta.get("schema", schema) != schema:
                raise ValueError(
                    f"append to {self.path}: the rows' schema {schema} is not "
                    f"version {expected_base}'s {base_meta['schema']}"
                )
        data_dir = f"data_v{version:08d}_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(f"{self.path}/{data_dir}")
        try:
            self._publish(
                version, ",".join([*dirs, data_dir]), {**(meta or {}), "schema": schema}
            )
        except ConcurrentCommitError:
            fs.delete(self._jpath(f"{self.path}/{data_dir}"), True)
            raise
        return version

    def last_applied_batch(
        self, gen: str | None = None, history: list[int] | None = None
    ) -> int | None:
        """The NEWEST batch_id committed for ``gen`` (None if none) — the
        O(recent-commits) replay probe for streaming ingest.  Micro-batch
        ids are monotonic within a checkpoint generation, so ``batch_id <=
        last_applied_batch(gen)`` is equivalent to membership in the set of
        the generation's committed batch ids while reading manifests
        newest-first and stopping at the first match, instead of O(full
        history) per batch — at 10k micro-batches the full scan made every
        trigger do 10k driver round-trips before any data work.

        ``gen``: a checkpoint-generation id (the streaming query id Spark
        pins in the checkpoint's metadata file).  Micro-batch ids are only
        meaningful WITHIN one checkpoint — a fresh checkpoint restarts at
        batch 0 with a possibly different file chop, so skipping its
        batches against another generation's ledger silently drops data.
        When given, only commits stamped with the same ``ckpt_gen`` count;
        commits WITHOUT a stamp never match a concrete generation —
        treating them as wildcards made a fresh checkpoint over an
        unstamped table silently skip its first batches (data loss); not
        matching merely re-merges, which the ledgered streams are
        content-idempotent against (the CMS stream, which is not, refuses
        unstamped tables at the guard instead).  ``history``: pass a
        pre-listed history to avoid re-listing the commits dir (per-trigger
        callers list once and thread it through)."""
        for v in reversed(self.history() if history is None else history):
            meta = self.commit_meta(v)
            b = meta.get("batch_id")
            if b is None:
                continue
            if gen is not None and meta.get("ckpt_gen") != gen:
                continue
            return int(b)
        return None

    def newest_generation(self, history: list[int] | None = None) -> str | None:
        """The ``ckpt_gen`` stamp of the newest stamped commit (None when
        no commit carries one).  For tables whose stream REFUSES foreign
        generations (the CMS sketch, the near-dup corpus), the newest stamp
        is the only one that can exist, so the per-batch guard reads one
        manifest, not the whole history.  ``history``: optional pre-listed
        history, as in last_applied_batch."""
        return self._newest_meta("ckpt_gen", history)

    def _newest_meta(self, key: str, history: list[int] | None = None) -> str | None:
        """``key``'s value in the newest commit that records it (None when
        none does); rewrites such as optimize and rollback record none."""
        for v in reversed(self.history() if history is None else history):
            value = self.commit_meta(v).get(key)
            if value is not None:
                return value
        return None

    def delete_where(self, condition) -> int:
        """Copy-on-write delete: commit the current snapshot minus rows
        matching ``condition`` (a Column); returns the new version.

        Logical deletion is immediate — readers of the new version never
        see the rows.  PHYSICAL erasure (the GDPR/right-to-be-forgotten
        guarantee) completes when ``vacuum`` drops the superseded data
        dirs, exactly like Delta/Iceberg's delete+vacuum contract; until
        then time travel can still reach the old bytes, which is the
        auditable retention window.  Rows where the predicate evaluates
        NULL are kept (three-valued logic must not silently erase).

        The commit is pinned to the version read, so a commit that lands in
        between raises ConcurrentCommitError instead of being published
        over (retry by calling again)."""
        current = self._current_version()
        keep = ~F.coalesce(condition, F.lit(False))
        return self.commit(self.read(current).filter(keep), expected_base=current)

    def rollback(self, version: int) -> int:
        """Re-publish an old snapshot as the new latest (history preserved),
        with the target version's schema line; returns the new version
        number.

        Raises if any of the target's data dirs has been vacuumed: its
        manifest still lists in history(), but re-publishing a deleted dir
        would make the dangling path the table's LATEST and break every
        subsequent read."""
        dirs, meta = self._entry(version)
        _, fs = _fs(self.spark, self.path)
        gone = [d for d in dirs if not fs.exists(self._jpath(f"{self.path}/{d}"))]
        if gone:
            raise ValueError(
                f"cannot rollback {self.path} to version {version}: its data "
                f"dirs {gone!r} were vacuumed — only versions within the "
                "vacuum retention window are restorable"
            )
        new_version = (self.latest_version() or 0) + 1
        schema = {"schema": meta["schema"]} if "schema" in meta else None
        self._publish(new_version, ",".join(dirs), schema)
        return new_version

    # --- read -----------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """The table as of ``version`` (default: latest).  A manifest with
        a schema line is read with that schema, so building the frame runs
        no Spark job; one without it infers the schema from the files."""
        if version is None:
            version = self._current_version()
        dirs, meta = self._entry(version)
        reader = self.spark.read
        if "schema" in meta:
            reader = reader.schema(StructType.fromJson(json.loads(meta["schema"])))
        return reader.parquet(*[f"{self.path}/{d}" for d in dirs])

    def diff(
        self,
        v_from: int,
        v_to: int,
        key: Sequence[str],
        check_unique: bool = True,
    ) -> DataFrame:
        """Change-data-feed between two committed versions: one row per
        change with ``_change_type`` in {insert, delete, update_preimage,
        update_postimage} — the Delta-CDF row contract, recomputed from the
        two snapshots (no per-commit change files to maintain).

        Shape: one full-outer join keyed on ``key``; payload comparison is
        a null-safe struct equality over the non-key columns, evaluated
        inside the join projection (codegen, no Python).  Both snapshot
        scans prune to key+payload columns; the join shuffles each side
        once on the key — the same cost envelope as the upsert that
        produced the new version.  Updates emit preimage AND postimage
        rows so downstream incremental consumers can subtract/add without
        re-reading either snapshot.

        The CDF row contract REQUIRES ``key`` unique within each snapshot
        — duplicate keys would fan the full-outer join out m×n and emit
        change rows with wrong multiplicities, silently corrupting the
        apply_cdf algebra downstream.  Each side therefore
        carries a per-key count window that raises at execution on the
        first duplicate (the check is folded into the payload column the
        join consumes, so the optimizer cannot prune it; the window
        partitions on the same key the join shuffles on, so it rides the
        join's own exchange — no extra shuffle).  Callers with known-
        unique keys by construction can pass ``check_unique=False``."""
        from pyspark.sql import Window

        key = list(key)
        old = self.read(v_from)
        new = self.read(v_to)
        payload = [c for c in old.columns if c not in key]
        if old.columns != new.columns:
            raise ValueError(
                f"schema changed between v{v_from} and v{v_to}: "
                f"{old.columns} vs {new.columns}; diff requires one schema"
            )
        # key-only tables have no payload to compare: rows can only appear
        # or disappear, so a constant stands in (updates become impossible)
        def payload_struct():
            return F.struct(*payload) if payload else F.lit(0)

        def side_frame(df: DataFrame, alias: str, version: int) -> DataFrame:
            out = df.select(F.struct(*key).alias("_k"), payload_struct().alias(alias))
            if not check_unique:
                return out
            n_per_key = F.count(F.lit(1)).over(Window.partitionBy("_k"))
            guarded = F.when(n_per_key == 1, F.col(alias)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"SnapshotTable.diff: duplicate key {key} in "
                            f"v{version} of {self.path}: "
                        ),
                        F.col("_k").cast("string"),
                    )
                ).cast(out.schema[alias].dataType.simpleString())
            )
            return out.select("_k", guarded.alias(alias))

        o = side_frame(old, "_old_p", v_from)
        n = side_frame(new, "_new_p", v_to)
        joined = o.join(n, "_k", "full_outer").select(
            "_k",
            "_old_p",
            "_new_p",
            F.when(F.col("_old_p").isNull(), F.lit("insert"))
            .when(F.col("_new_p").isNull(), F.lit("delete"))
            .when(F.col("_old_p").eqNullSafe(F.col("_new_p")), F.lit(None))
            .otherwise(F.lit("update"))
            .alias("_kind"),
        ).filter(F.col("_kind").isNotNull())
        # the preimage and postimage branches BOTH consume `joined`; without
        # a checkpoint each branch re-ran the full-outer join and both
        # snapshot scans, doubling the promised one-join cost envelope.
        # The checkpoint holds only the
        # CHANGE rows — unchanged keys are already filtered out.
        joined = joined.localCheckpoint(eager=False)
        unchanged_key_cols = [F.col(f"_k.{k}").alias(k) for k in key]

        def side(frame_col: str, kinds: dict[str, str]) -> DataFrame:
            mapped = F.create_map(
                *[x for k, v in kinds.items() for x in (F.lit(k), F.lit(v))]
            )
            return (
                joined.filter(F.col("_kind").isin(*kinds))
                .select(
                    *unchanged_key_cols,
                    *[
                        F.col(f"{frame_col}.{c}").alias(c)
                        for c in payload
                    ],
                    mapped[F.col("_kind")].alias("_change_type"),
                )
            )

        return (
            side("_old_p", {"delete": "delete", "update": "update_preimage"})
            .unionByName(
                side("_new_p", {"insert": "insert", "update": "update_postimage"})
            )
        )

    # --- maintenance ----------------------------------------------------

    def optimize(
        self,
        target_file_mb: int = 128,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """Delta-style OPTIMIZE: commit a compacted rewrite of the CURRENT
        snapshot as a new version — readers keep pinning versions, nothing
        is rewritten in place, and the superseded small-file snapshot is
        reclaimed by the normal ``vacuum``.

        Streaming ingest is the canonical caller: one commit per
        micro-batch accretes many small snapshots whose final one still
        carries per-batch file sizing, and an appended table accretes one
        dir per append; a periodic optimize folds the current state into
        one dir of ~``target_file_mb`` files (sized from the snapshot's
        parquet bytes, operators/maintenance._target_file_count).
        With ``zorder_by``, rows are range-partitioned and sorted on the
        interleaved z-value of the two named non-negative integer columns
        (operators/maintenance.z_value, over its full 31-bit domain), so
        each output file covers a disjoint z range and min/max footer stats
        turn predicates on either column into file skips.
        Returns the new version number.  Like ``delete_where``, the commit
        is pinned to the version read: an interleaved commit raises
        ConcurrentCommitError."""
        from european_emissions_data_warehouse_spark.operators.maintenance import (
            _target_file_count,
            z_value,
        )

        current = self._current_version()
        _jvm, fs = _fs(self.spark, self.path)
        dirs = [self._jpath(f"{self.path}/{d}") for d in self._dirs(current)]
        n_files = _target_file_count(fs, dirs, target_file_mb)
        df = self.read(current)
        if zorder_by is not None:
            cols = list(zorder_by)
            if len(cols) != 2:
                raise ValueError("zorder_by takes exactly two columns")
            df = (
                df.withColumn("_z", z_value(F.col(cols[0]), F.col(cols[1]), bits=31))
                .repartitionByRange(n_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        else:
            df = df.repartition(n_files)
        return self.commit(df, expected_base=current)

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Delete data dirs referenced only by commits older than the last
        ``keep_last`` (an appended version keeps every dir it lists);
        returns the deleted dir names.  Time travel reaches
        only retained versions afterwards.  ``keep_last`` must be at least 1:
        the latest version stays readable (as ``rollback`` also ensures), so
        a smaller value raises ValueError before anything is deleted.

        Also collects ORPHANED data dirs — written by a writer that crashed
        before publishing (or before its ConcurrentCommitError cleanup ran)
        and therefore named by NO manifest; the physical listing catches
        them.
        An orphan is collectable only once its CAS slot is burned: a dir at
        version N <= the latest committed version can never be published
        (``_publish`` would raise ConcurrentCommitError), while an orphan
        at version > latest may be an IN-FLIGHT writer's dir and is left
        alone — no mtime heuristics, the log itself decides."""
        if keep_last < 1:
            raise ValueError(
                f"vacuum(keep_last={keep_last}) would delete the latest "
                f"version of {self.path}; keep_last must be at least 1"
            )
        history = self.history()
        dirs_of = [self._dirs(v) for v in history]
        keep_dirs = {d for dirs in dirs_of[-keep_last:] for d in dirs}
        referenced = {d for dirs in dirs_of for d in dirs}
        latest = history[-1] if history else -1
        jvm, fs = _fs(self.spark, self.path)
        root = self._jpath(self.path)
        candidates = set()
        if fs.exists(root):
            for st in fs.listStatus(root):
                name = st.getPath().getName()
                if name.startswith("data_v"):
                    candidates.add(name)
        removed = []
        for d in sorted((candidates | referenced) - keep_dirs):
            if d not in referenced:
                ver = d[len("data_v"):].split("_", 1)[0]
                if not ver.isdigit() or int(ver) > latest:
                    continue  # in-flight writer (or foreign dir): keep
            # report only dirs that existed and were deleted NOW: referenced
            # dirs of already-vacuumed versions are not on disk, and
            # reporting them would repeat the same deletions on every run
            if fs.delete(self._jpath(f"{self.path}/{d}"), True):
                removed.append(d)
        # stale manifest-staging files: a writer that crashed between
        # fs.create and the CAS rename leaks its .tmp_ forever; any tmp for
        # a version <= latest lost (or already won) its race, and in-flight
        # tmps at version > latest are left alone (same rule as data dirs)
        cd = self._jpath(self.commits_dir)
        if fs.exists(cd):
            for st in fs.listStatus(cd):
                name = st.getPath().getName()
                if name.startswith(".tmp_"):
                    ver = name[len(".tmp_"):].split("_", 1)[0]
                    if ver.isdigit() and int(ver) <= latest:
                        fs.delete(st.getPath(), False)
        return removed
