"""Versioned parquet tables with copy-on-write MERGE — Iceberg-style
snapshot semantics without an Iceberg runtime (none in this env).  This
is the engine's one commit path: keyed tables, the tile sinks of
io/lineage.py (a table partitioned by tile_id, written by
``append_rows``) and the quicklook/pyramid checkpoints (``write_once``)
all commit through ``_staged_version``.

Layout::

    <path>/_versions/000001/...   immutable snapshot directories
    <path>/_versions/000001/_schema.json   that version's schema
    <path>/_versions/000002/...
    <path>/_staging/<uuid>/       a writer's unpublished stage

Every version carries its schema, partition column included, in
``_schema.json`` (Delta Lake keeps it in its log's metadata action),
so the one rename publishes it with the data and ``read_table`` scans
with it instead of inferring: ``p=1.50`` reads back as the
``decimal(5,2)`` it was written as, and files that predate a column
read it as null.  One partition value does not survive a commit: Spark
writes a string partition value ``''`` as the null partition
(``__HIVE_DEFAULT_PARTITION__``), so it reads back as ``None``.  Do not
key rows on an empty-string partition value.

A writer builds its whole new version in a stage under ``_staging/``
(same filesystem as ``_versions/``; the leading underscore hides it
from Spark scans) and publishes it with ONE ``os.rename`` onto
``_versions/<base+1>`` — the put-if-absent by which Delta Lake commits
log entry N.  rename(2) onto a non-empty directory fails, and a stage
is never empty (it holds at least ``_schema.json``), so of two writers
from the same base exactly one commits and the other raises
FileExistsError — after its Spark work, at publish time.  The current
version is the highest live version directory; there is no pointer
file.  A crash before the rename leaves only a stage, which no reader
lists and no writer trips on; ``recover_orphans`` sweeps such stages
when no writer is live.

``merge_into`` rewrites only the partitions an update batch touches;
untouched partitions are carried into the new version by hard links, so
every version directory is self-contained and a commit writes
O(changed partitions) bytes.  A filesystem that refuses links gets a
per-file copy of the carried partitions instead: still correct, but the
commit then pays for the carried bytes too.

``expire_versions`` turns a version into a tombstone: an empty
``_expired/`` created inside it hides it from every reader in one step,
then the rest of its contents go.  The slot stays non-empty, so a
writer frozen since an older base can never rename a stale snapshot
into it.

Concurrency: a table has a single writer by contract; a second writer
racing it fails loudly instead of silently discarding a commit.  Tables
written before versions carried ``_schema.json`` are refused (recreate
them); those of the earlier claim protocol (a ``_current`` pointer
file) are not read compatibly.
"""

from __future__ import annotations

import errno
import json
import os
import shutil
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def _staging_dir(path: str) -> str:
    return os.path.join(path, "_staging")


def _version_path(path: str, version: int) -> str:
    return os.path.join(_versions_dir(path), f"{version:06d}")


def _expired_marker(vdir: str) -> str:
    """The tombstone ``expire_versions`` leaves in an expired slot."""
    return os.path.join(vdir, "_expired")


def _is_live(path: str, version: int) -> bool:
    vdir = _version_path(path, version)
    return os.path.isdir(vdir) and not os.path.exists(_expired_marker(vdir))


def _slots(path: str) -> list[int]:
    """Every version number with a directory, live or tombstoned."""
    try:
        names = os.listdir(_versions_dir(path))
    except FileNotFoundError:
        return []
    return sorted(int(n) for n in names if n.isdigit())


def current_version(path: str) -> int | None:
    """The highest live version — the last one published."""
    return next(
        (v for v in reversed(_slots(path)) if _is_live(path, v)), None
    )


def create_table(
    df: DataFrame, path: str, partition_by: str | None = None
) -> int:
    """Write version 1 of a managed versioned table (FileExistsError
    when ``path`` already holds one).  A string ``partition_by`` value
    ``''`` is committed as the null partition and reads back as
    ``None``."""
    with _staged_version(path, 0, df.schema, partition_by) as stage:
        _write_stage(df, stage, partition_by)
    return 1


def _write_stage(df: DataFrame, stage: str, partition_by: str | None) -> None:
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(stage)


def _fingerprint_file(vdir: str) -> str:
    return os.path.join(vdir, "_fingerprint")


def write_once(
    df: DataFrame, path: str, fp: str, partition_by: str | None = None
) -> int:
    """A checkpoint: publish ``df`` as version 1 of the table at ``path``
    stamped with the parameter fingerprint ``fp``, or, when a version is
    already live there, write nothing and return its number.  The stamp
    is a ``_fingerprint`` file written INSIDE the stage, so the one
    rename publishes the data and the stamp together (Spark scans and
    ``restore_version`` skip ``_``-prefixed files): a killed attempt
    leaves only an unpublished stage and the next call starts over.
    A live version whose stamp differs from ``fp``, or that has none (a
    table written any other way), raises: resuming with different
    parameters must fail loudly, never reuse stale state.  (Input
    identity is the caller's contract: one checkpoint location per
    input.)"""
    cur = current_version(path)
    if cur is None:
        with _staged_version(path, 0, df.schema, partition_by) as stage:
            _write_stage(df, stage, partition_by)
            with open(_fingerprint_file(stage), "w") as f:
                f.write(fp)
        return 1
    try:
        with open(_fingerprint_file(_version_path(path, cur))) as f:
            prev = f.read()
    except FileNotFoundError:
        prev = None
    if prev != fp:
        raise ValueError(
            f"checkpoint {path} was written with different parameters "
            f"({prev or 'no fingerprint'}); use a fresh checkpoint "
            f"location for {fp}"
        )
    return cur


def _count_parquet(d: str) -> int:
    return sum(
        fn.endswith(".parquet") for _root, _dirs, files in os.walk(d)
        for fn in files
    )


def _partition_file_counts(
    path: str, version: int, partition_by: str
) -> dict[str, int]:
    """Parquet files per partition directory name of ``version``."""
    vdir = _version_path(path, version)
    return {
        name: _count_parquet(os.path.join(vdir, name))
        for name in _old_partitions(path, version, partition_by)
    }


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot (the current one, or ``version`` for
    time travel) with the schema stored in it — no inference, so no
    Spark job.  Unpublished stages are unreadable by construction —
    they never sit under ``_versions/``, and expired versions are
    tombstoned.  Every version directory is self-contained (carried
    partitions are hard links), so a snapshot is one scan of its
    directory; files that predate a column read it as null."""
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")
    v = cur if version is None else version
    if not _is_live(path, v):
        raise ValueError(f"version {v} does not exist (current={cur})")
    schema = _stored_schema(path, v)
    return spark.read.schema(schema).parquet(_version_path(path, v))


def _schema_file(vdir: str) -> str:
    return os.path.join(vdir, "_schema.json")


def _stored_schema(path: str, version: int) -> StructType:
    """The schema published in ``version``; a version without one was
    written before versions carried their schema and is refused."""
    fn = _schema_file(_version_path(path, version))
    try:
        with open(fn) as f:
            return StructType.fromJson(json.load(f))
    except FileNotFoundError:
        raise ValueError(
            f"{fn} is missing: the table at {path} was written before "
            "versions carried their schema; recreate it with create_table"
        ) from None


def _nullable(t: DataType) -> DataType:
    """``t`` with every field and element nullable, as a scan reads it."""
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in t
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _scan_schema(schema: StructType, partition_by: str | None) -> StructType:
    """``schema`` as a scan of a version returns it: nullable throughout,
    and the partition column last."""
    fields = _nullable(schema).fields
    return StructType(sorted(fields, key=lambda f: f.name == partition_by))


def _require_types(table: StructType, rows: StructType, op: str) -> None:
    """Raise when a column of ``rows`` has another type (nullability
    aside) in ``table``: a version's files hold its stored types."""
    tt = {f.name: _nullable(f.dataType) for f in table}
    bad = [
        f"{f.name!r} ({tt[f.name].simpleString()} in the table, "
        f"{f.dataType.simpleString()} here)"
        for f in rows if f.name in tt and _nullable(f.dataType) != tt[f.name]
    ]
    if bad:
        raise ValueError(
            f"{op}: column type differs: {', '.join(bad)} — schema changes "
            "are add-only, cast explicitly first"
        )


def list_versions(path: str) -> list[int]:
    """Every live version, oldest first (tombstones excluded)."""
    return [v for v in _slots(path) if _is_live(path, v)]


def _unescape_partition_dir(name: str):
    """Hive/Spark partition directory name → raw value string (or None
    for the NULL partition).  Spark escapes special characters as %XX
    ('%' itself included), so standard percent-decoding inverts it;
    matching DECODED values is robust where matching raw value strings
    against the escaped name is not."""
    from urllib.parse import unquote

    raw = name.split("=", 1)[1]
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    return unquote(raw)


def _link_file(src: str, dst: str) -> None:
    """Hard-link ``src`` to ``dst``, copying where the filesystem refuses
    links (EXDEV, EPERM): a link-less filesystem still commits correctly,
    it just pays for the carried bytes."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _link_tree(src: str, dst: str) -> None:
    """Hard-link a partition directory into the new version (COW: bytes
    are shared, directories are new), with ``_link_file``'s per-file
    copy fallback."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(tgt, exist_ok=True)
        for fn in files:
            _link_file(os.path.join(root, fn), os.path.join(tgt, fn))


def _old_partitions(path: str, cur: int, partition_by: str) -> list[str]:
    """The partition directory names of version ``cur``."""
    old_dir = _version_path(path, cur)
    physical = sorted(
        name for name in os.listdir(old_dir)
        if "=" in name and not name.startswith("_")
        and os.path.isdir(os.path.join(old_dir, name))
    )
    # layout guard (review r8 pass-6 #1): the caller's partition column
    # must AGREE with the snapshot's physical layout — a wrong name
    # would carry NOTHING as untouched and the commit would silently
    # drop every row outside the rewritten set
    prefixes = {n.split("=", 1)[0] for n in physical}
    if prefixes and prefixes != {partition_by}:
        raise ValueError(
            f"table at {path} is partitioned by "
            f"{sorted(prefixes - {partition_by})}, not {partition_by!r} — "
            "a wrong partition column would silently drop every "
            "untouched partition"
        )
    if not physical:
        raise ValueError(
            f"table at {path} (version {cur}) has no "
            f"'{partition_by}=' partitions — wrong partition_by, or an "
            "unpartitioned table (omit partition_by)"
        )
    return physical


def _carry_untouched(
    src_dir: str, stage: str, names: list[str], touched: set[str]
) -> None:
    """Hard-link every entry of ``src_dir`` named in ``names`` and NOT in
    ``touched`` into the stage: partition directories, or a restored
    snapshot's loose parquet files."""
    for name in names:
        if name in touched:
            continue
        src, dst = os.path.join(src_dir, name), os.path.join(stage, name)
        if os.path.isdir(src):
            _link_tree(src, dst)
        else:
            _link_file(src, dst)


def _touched(
    names: list[str], partition_by: str, found: DataFrame,
    new: DataFrame | None = None,
) -> set[str]:
    """The partition directory names (of ``names``) holding a value of
    ``found[partition_by]`` (values read from the table) or
    ``new[partition_by]`` (update values, which may open new
    partitions).  Values are matched as Spark renders them —
    ``cast(partition_by as string)``, collected distinct once — against
    the DECODED directory names: the partition writer names directories
    with Spark's rendering (``'true'`` for a boolean, where Python's
    str() gives ``'True'``) and %XX-escapes special characters, and a
    null value is the ``__HIVE_DEFAULT_PARTITION__`` directory.  Both
    frames carry the type the directories were written with (the
    version's stored schema), so the rendering round-trips.  A
    directory missed here would be linked as untouched AND rewritten:
    duplicated rows."""
    col = F.col(partition_by).cast("string")
    vals = found.select(col)
    if new is not None:
        vals = vals.union(new.select(col))
    wanted = {v for (v,) in vals.distinct().collect()}
    return {n for n in names if _unescape_partition_dir(n) in wanted}


def _rewrite(
    stage: str, path: str, cur: int, names: list[str], touched: set[str],
    partition_by: str, tgt: DataFrame,
    rows: Callable[[DataFrame], DataFrame],
) -> None:
    """The partition-granular copy-on-write of every table mutation:
    hard-link each partition of version ``cur`` not in ``touched`` into
    the stage, and write ``rows(tgt restricted to the touched
    partitions)`` there.  The restriction reads only the partition
    column (by ``_touched``'s string rule), so Catalyst prunes the scan
    to the touched directories.  The keyed repartition gives each
    rewritten partition one task, hence ONE file; without it every scan
    task writes its own file into each partition directory and every
    later read pays for the listing (round-9; unnumbered, so AQE sizes
    the exchange)."""
    _carry_untouched(_version_path(path, cur), stage, names, touched)
    vals = {_unescape_partition_dir(n) for n in touched}
    col = F.col(partition_by).cast("string")
    keep = col.isin(sorted(vals - {None})) if vals - {None} else F.lit(False)
    if None in vals:
        keep = keep | col.isNull()
    (
        rows(tgt.filter(keep))
        .repartition(F.col(partition_by))
        .write.mode("append")
        .partitionBy(partition_by)
        .parquet(stage)
    )


@contextmanager
def _staged_version(
    path: str, base: int | None, schema: StructType,
    partition_by: str | None = None,
):
    """THE commit path, in one place: yield a fresh stage under
    ``<path>/_staging/`` for the body to fill (hard links, parquet
    appends), write ``schema`` — the schema of the rows the version
    holds, as ``_scan_schema`` orders it — into the stage's
    ``_schema.json``, then publish it as version ``base+1`` with one
    rename (``_publish``).  An exception from the body publishes
    nothing.  The stage is removed on every exit; only a killed process
    leaves one behind, and no reader or writer looks at it."""
    stage = os.path.join(_staging_dir(path), uuid.uuid4().hex)
    os.makedirs(stage)
    os.makedirs(_versions_dir(path), exist_ok=True)
    try:
        yield stage
        with open(_schema_file(stage), "w") as f:
            f.write(_scan_schema(schema, partition_by).json())
        _publish(stage, _version_path(path, (base or 0) + 1))
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _publish(stage: str, vdir: str) -> None:
    """Put-if-absent of ``vdir``: one ``os.rename`` of the stage onto it.
    rename(2) fails onto a non-empty directory (ENOTEMPTY, or EEXIST on
    some filesystems) and replaces an empty one — every published
    version holds its ``_schema.json`` and a tombstone keeps its
    ``_expired/`` (``expire_versions``), so a version number is taken
    at most once."""
    try:
        os.rename(stage, vdir)
    except OSError as e:
        if e.errno in (errno.ENOTEMPTY, errno.EEXIST):
            raise FileExistsError(
                e.errno,
                "version already taken — another writer committed (or "
                "the slot was expired) since this write's base version; "
                "the table is untouched, retry on the new current version",
                vdir,
            ) from e
        raise


def recover_orphans(path: str) -> list[str]:
    """Delete every stage under ``<path>/_staging/`` — the debris of
    writers killed before they published.  A MANUAL sweep: run it only
    when no writer is live on the table, since a live writer's stage
    looks the same.  Stages are invisible to readers and never block a
    commit, so nothing waits on this.  Returns the removed stage
    names."""
    try:
        names = sorted(os.listdir(_staging_dir(path)))
    except FileNotFoundError:
        return []
    for name in names:
        shutil.rmtree(os.path.join(_staging_dir(path), name), ignore_errors=True)
    return names


def _evolve_schemas(
    tgt: DataFrame, updates: DataFrame, keys: list[str],
    partition_by: str | None
) -> tuple[DataFrame, DataFrame]:
    """Additive schema evolution for ``merge_into(schema_mode="evolve")``:
    align both frames onto the UNION of their columns, the table's first
    (new side fills null, typed from the side that has the column).
    Key and partition columns must exist on both sides (a null
    partition/key from evolution would silently misroute rows); shared
    columns with differing types raise — evolution is add-only, never a
    cast."""
    t_fields = {f.name: f.dataType for f in tgt.schema.fields}
    u_fields = {f.name: f.dataType for f in updates.schema.fields}
    # review r8 pass-3 #2: withColumn resolves names CASE-INSENSITIVELY
    # under the default spark.sql.caseSensitive=false, so a case-only
    # name delta classified as "new column" would silently null out the
    # existing column's data on both sides — raise instead
    t_lower = {n.lower(): n for n in t_fields}
    for n in u_fields:
        other = t_lower.get(n.lower())
        if other is not None and other != n:
            raise ValueError(
                f"merge_into schema evolution: updates column {n!r} "
                f"differs from table column {other!r} only in case — "
                "rename it explicitly (Spark resolves names "
                "case-insensitively, so evolving here would null the "
                "existing data)"
            )
    _require_types(tgt.schema, updates.schema, "merge_into schema evolution")
    required = set(keys) | ({partition_by} if partition_by else set())
    missing = sorted(required - set(u_fields))
    if missing:
        raise ValueError(
            f"merge_into schema evolution: updates lack key/partition "
            f"column(s) {missing} — these can never be null-filled"
        )
    for name in sorted(set(u_fields) - set(t_fields)):
        tgt = tgt.withColumn(name, F.lit(None).cast(u_fields[name]))
    for name in sorted(set(t_fields) - set(u_fields)):
        updates = updates.withColumn(name, F.lit(None).cast(t_fields[name]))
    return tgt, updates.select(tgt.columns)


def append_rows(df: DataFrame, path: str, partition_by: str) -> dict:
    """INSERT INTO: commit ``df``'s rows as a new version on top of the
    current one (version 1 when no table exists yet).  Every committed
    partition is hard-linked into the new version (copied where the fs
    refuses links) and the new rows are appended into the same
    partition directories — O(files of the current version) links plus
    the new rows' write.

    The new version's schema is the current one followed by ``df``'s
    new columns: older rows read those as null, and new rows read a
    column ``df`` lacks as null.  A column both have with different
    types raises before any write."""
    cur = current_version(path)
    schema, names = df.schema, []
    if cur is not None:
        stored = _stored_schema(path, cur)
        _require_types(stored, df.schema, f"append_rows to {path}")
        schema = StructType(
            stored.fields + [f for f in df.schema if f.name not in stored.names]
        )
        names = _old_partitions(path, cur, partition_by)
    with _staged_version(path, cur, schema, partition_by) as stage:
        if cur is not None:
            _carry_untouched(_version_path(path, cur), stage, names, set())
        df.write.mode("append").partitionBy(partition_by).parquet(stage)
    return {"version": (cur or 0) + 1, "previous": cur}


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
    schema_mode: str = "strict",
) -> dict:
    """Upsert (MERGE INTO): matched target rows are replaced by the
    update row, unmatched update rows are inserted, unmatched target
    rows are kept.  Produces a NEW committed version; readers of older
    versions are unaffected (snapshot isolation).

    Copy-on-write granularity: with ``partition_by``, only partitions
    present in the update batch are rewritten — every other partition is
    carried over by hard link (copied where the fs refuses links).  An
    update that MOVES a row across partitions must carry the new
    partition value; the row's old partition is rewritten too (both
    sides are affected).

    Concurrency: single writer.  The new version is staged under
    ``_staging/`` and published with one rename onto ``cur+1`` — if a
    concurrent writer published that version first, this merge raises
    FileExistsError (after its Spark work) instead of silently
    clobbering the other commit.  A crashed merge leaves only its stage,
    which blocks nothing.

    Scale: the per-partition rewrite is `target_partition ⊕ updates` —
    a broadcast-able anti-join when the update batch is small; the
    untouched bulk of a 100 TB table is never read, moved, or decoded.

    ``schema_mode``: ``"strict"`` (default) raises on any column-set
    difference; ``"evolve"`` is the Delta/Iceberg schema-evolution
    analog — NEW update columns widen the table schema (pre-existing
    rows read back as null), update batches MISSING table columns fill
    them with null in the inserted/replaced rows.  Only additive
    evolution: a column present on both sides with a different type
    still raises (no implicit casts).  Touched partitions are written
    under the evolved schema; carried-over partitions keep their old
    parquet files, which read the new columns as null under the evolved
    schema the new version stores, and old versions time-travel with
    their own stored schema.  In either mode a column the updates share
    with the table must have the table's type.
    """
    if schema_mode not in ("strict", "evolve"):
        raise ValueError(f"schema_mode must be strict|evolve, got {schema_mode!r}")
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")
    tgt = read_table(spark, path)
    if schema_mode == "strict":
        if set(tgt.columns) != set(updates.columns):
            raise ValueError(
                f"merge_into schema mismatch: target {sorted(tgt.columns)} "
                f"vs updates {sorted(updates.columns)} (pass "
                "schema_mode='evolve' for additive evolution)"
            )
        _require_types(tgt.schema, updates.schema, "merge_into schema mismatch")
    else:
        tgt, updates = _evolve_schemas(tgt, updates, keys, partition_by)
    # layout validation (and the partition inventory) runs BEFORE any
    # staging so a wrong partition_by fails with no Spark work
    # (review r8 pass-6)
    names = _old_partitions(path, cur, partition_by) if partition_by else []

    def upsert(df: DataFrame) -> DataFrame:
        # left_anti needs no distinct probe side (round-9)
        return df.join(updates.select(keys), keys, "left_anti").unionByName(updates)

    with _staged_version(path, cur, tgt.schema, partition_by) as stage:
        if not partition_by:
            upsert(tgt).write.mode("append").parquet(stage)
        else:
            # touched: the updates' own partitions PLUS the current
            # partition of any matched key (a key may move across
            # partitions); no per-branch distinct (round-9, guide §2.4)
            touched = _touched(
                names, partition_by,
                tgt.join(updates.select(keys), keys, "left_semi"), updates,
            )
            _rewrite(stage, path, cur, names, touched, partition_by, tgt, upsert)
    return {"version": cur + 1, "previous": cur}


def delete_rows(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
) -> dict:
    """DELETE by key (`DELETE FROM t WHERE (k) IN (SELECT k FROM d)`) —
    the right-to-be-forgotten primitive for training-data tables:
    every target row whose key tuple appears in ``keys_df`` is removed
    in a NEW committed version with the same partition-granular
    copy-on-write as ``merge_into`` (only partitions holding matched
    rows are rewritten; a partition whose rows ALL match simply
    disappears from the new version).

    Snapshot isolation means older versions still SERVE the deleted
    rows; physical removal is ``delete_rows`` + ``expire_versions`` —
    the documented GDPR erasure sequence (a carried partition shares
    its inodes, so its bytes go when the last version linking them
    does).

    Deleting EVERY row: allowed on an unpartitioned table but refused
    on a partitioned one — every partition dir would vanish, and a
    version with no partition directories fails every later mutation
    (``_old_partitions``); recreate with ``create_table`` in that
    case.

    Scale: finding the affected partitions is a semi-join of the table
    against the (typically tiny, broadcast) key set — a full scan of
    the current version; only the rewrite is pruned to the touched
    partitions.
    """
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")
    tgt = read_table(spark, path)
    missing = sorted(set(keys) - set(keys_df.columns))
    if missing:
        raise ValueError(f"delete_rows: keys_df lacks key column(s) {missing}")
    # validate against the TARGET too, before any staging — a typo'd
    # key name then fails with no Spark work (review r8 pass-4 #3)
    missing_t = sorted(set(keys) - set(tgt.columns))
    if missing_t:
        raise ValueError(
            f"delete_rows: table lacks key column(s) {missing_t}"
        )
    # no eager distinct: both consumers are semi/anti join probe sides
    # (round-9, guide §2.4)
    kcols = list(keys)
    dels = keys_df.select(kcols)

    def survivors(df: DataFrame) -> DataFrame:
        return df.join(dels, kcols, "left_anti")

    names = _old_partitions(path, cur, partition_by) if partition_by else []
    with _staged_version(path, cur, tgt.schema, partition_by) as stage:
        if not partition_by:
            survivors(tgt).write.mode("append").parquet(stage)
        else:
            touched = _touched(
                names, partition_by, tgt.join(dels, kcols, "left_semi")
            )
            _rewrite(stage, path, cur, names, touched, partition_by, tgt,
                     survivors)
            if not any("=" in n for n in os.listdir(stage)):
                # PARTITIONED delete-all: every partition directory
                # vanished, and a version without one fails every later
                # mutation in _old_partitions — refuse; the stage is
                # dropped unpublished.  (An empty unpartitioned version
                # takes later mutations as usual.)
                raise ValueError(
                    "delete_rows removed every row of the partitioned "
                    "table — a version with no partition directories "
                    "takes no later mutation; recreate with create_table "
                    "instead"
                )
    return {"version": cur + 1, "previous": cur}


def restore_version(path: str, version: int) -> dict:
    """Delta RESTORE analog: make an older snapshot current again by
    committing a NEW version whose content is ``version``'s — a
    metadata-only operation (hard links; zero data bytes move, or a
    copy where the fs refuses links).  Pure filesystem work: no
    SparkSession parameter, unlike its write siblings (review r8
    pass-5 — there is genuinely no Spark job here).

    The snapshot's layout is derived from the snapshot ITSELF, never
    from a caller-supplied partition column — review r8 pass-5 #1: a
    wrong/omitted partition argument used to stage nothing and commit
    an EMPTY snapshot, breaking every later read.  One path serves both
    layouts: the snapshot's top-level ``name=`` partition directories
    and loose ``.parquet`` files are linked into the new version, which
    stores the restored version's schema: a restore also restores the
    column set.  ``_``-prefixed entries (``_SUCCESS``, ``_schema.json``)
    are skipped.

    Non-destructive by design: later versions stay on disk and
    time-travel-readable until ``expire_versions``, and the new
    version is published like any other commit (one rename onto
    ``cur+1``), so a concurrent writer fails loudly instead of either
    commit being lost.  Composes with ``delete_rows`` as the
    oops-recovery path: restore(v_before_delete) un-deletes.
    """
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")
    if version == cur:
        raise ValueError(f"version {version} is already current")
    if not _is_live(path, version):
        raise ValueError(f"version {version} does not exist (current={cur})")
    src_dir = _version_path(path, version)
    names = [
        name for name in sorted(os.listdir(src_dir))
        if not name.startswith("_") and (
            name.endswith(".parquet")
            or ("=" in name and os.path.isdir(os.path.join(src_dir, name)))
        )
    ]
    if not names:
        raise ValueError(
            f"version {version} holds no partitions and no parquet "
            "files — refusing to restore an unreadable snapshot"
        )
    with _staged_version(path, cur, _stored_schema(path, version)) as stage:
        _carry_untouched(src_dir, stage, names, set())
    return {"version": cur + 1, "restored": version, "previous": cur}


def compact_table(
    spark: SparkSession,
    path: str,
    partition_by: str | None = None,
    max_files: int = 1,
) -> dict:
    """Small-file compaction (Iceberg OPTIMIZE / bin-packing analog) for
    versioned tables: partitions of the CURRENT version holding more
    than ``max_files`` parquet files are rewritten into a NEW committed
    version (ONE output file per compacted partition — ``max_files`` is
    the trigger threshold, not an output count; the unpartitioned path
    coalesces to ``max_files`` files); every other partition carries
    over by hard link exactly like ``merge_into`` — O(compacted
    partitions), the rest of a 100 TB table is never read.  Readers of
    older versions are unaffected (snapshot isolation); reclaim old
    bytes later with ``expire_versions``.

    Returns {version, compacted, files_before, files_after}; when no
    partition exceeds the threshold, NO new version is created
    (version=current, compacted=0).

    Streaming CDC tables are the motivating case: merge_stream commits a
    version per micro-batch, each appending one small file per touched
    partition — compaction folds them back to one file per partition.

    Concurrency vs a LIVE stream: the compactor and the stream race on
    the version number — whichever publishes ``cur+1`` second fails
    loudly with FileExistsError at its rename (retry after the other
    commits); neither commit is lost.  A compactor that CRASHES leaves
    only its stage under ``_staging/``, which the stream never looks
    at: its next batch commits as usual.
    """
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")

    # layout guard: compacting a partitioned table without partition_by
    # would FLATTEN it (and the next partitioned merge would then carry
    # nothing and silently drop untouched rows); the reverse mismatch
    # would silently no-op.  Fail loudly on either.
    cur_dir = _version_path(path, cur)
    is_partitioned = any(
        "=" in name and os.path.isdir(os.path.join(cur_dir, name))
        for name in os.listdir(cur_dir)
    )
    if is_partitioned and partition_by is None:
        raise ValueError(
            f"table at {path} is partitioned — pass partition_by to "
            "compact_table (compacting flat would drop the layout)"
        )
    if not is_partitioned and partition_by is not None:
        raise ValueError(
            f"table at {path} is not partitioned by {partition_by!r}"
        )

    if partition_by is None:
        before = _count_parquet(cur_dir)
        if before <= max_files:
            return {"version": cur, "compacted": 0,
                    "files_before": before, "files_after": before}
        tgt = read_table(spark, path)
        with _staged_version(path, cur, tgt.schema) as stage:
            tgt.coalesce(max_files).write.mode("append").parquet(stage)
        return {"version": cur + 1, "compacted": 1, "files_before": before,
                "files_after": _count_parquet(_version_path(path, cur + 1))}

    counts = _partition_file_counts(path, cur, partition_by)
    touched = {n for n, c in counts.items() if c > max_files}
    before = sum(counts.values())
    if not touched:
        return {"version": cur, "compacted": 0,
                "files_before": before, "files_after": before}
    tgt = read_table(spark, path)
    with _staged_version(path, cur, tgt.schema, partition_by) as stage:
        _rewrite(stage, path, cur, sorted(counts), touched, partition_by,
                 tgt, lambda df: df)
    after = sum(_partition_file_counts(path, cur + 1, partition_by).values())
    return {"version": cur + 1, "compacted": len(touched),
            "files_before": before, "files_after": after}


def expire_versions(path: str, keep: int = 2) -> list[int]:
    """Iceberg ``expire_snapshots`` analog: expire all but the newest
    ``keep`` live versions.  Hard-linked files make this safe — a
    partition directory shared with a surviving version keeps its bytes
    (the link count drops, the inode survives); only bytes referenced
    exclusively by expired versions are reclaimed.  The current version
    is never expired.  Returns the versions expired.

    Each expired slot becomes a tombstone, in two steps: an empty
    ``_expired/`` is created inside it — one atomic mkdir that hides the
    version from ``list_versions``, ``read_table`` and
    ``restore_version`` — and then everything else in it is deleted.  A
    crash between the steps leaves a hidden, half-deleted slot, never a
    truncated snapshot that still reads.  The slot stays non-empty, so a
    writer frozen since an older base can never rename a stale snapshot
    into it (``_publish`` raises FileExistsError).  Stages under
    ``_staging/`` are never touched: one may be a live writer's, already
    holding its carried links."""
    if keep < 1:
        raise ValueError("keep must be >= 1 (the current version survives)")
    expired = list_versions(path)[:-keep]
    for v in expired:
        vdir = _version_path(path, v)
        os.mkdir(_expired_marker(vdir))
        for name in os.listdir(vdir):
            entry = os.path.join(vdir, name)
            if entry == _expired_marker(vdir):
                continue
            if os.path.isdir(entry):
                shutil.rmtree(entry, ignore_errors=True)
            else:
                os.remove(entry)
    return expired
