"""Versioned parquet tables with copy-on-write MERGE — Iceberg-style
snapshot semantics without an Iceberg runtime (none in this env).  This
is the engine's one commit protocol: keyed tables and the tile sinks of
io/lineage.py (a table partitioned by tile_id, written by
``append_rows``) both commit through ``_claimed_version``.

Layout::

    <path>/_versions/000001/...   immutable snapshot directories
    <path>/_versions/000002/...
    <path>/_current               text file naming the committed version

The ``_current`` pointer is written LAST via an atomic rename, so a
crash mid-write leaves an orphan (invisible) version directory, never a
half-visible table.  ``merge_into`` rewrites only the partitions
an update batch touches; untouched partitions are carried into the new
version by hard links, so every version directory is self-contained
and a commit writes O(changed partitions) bytes.  A filesystem that
refuses links gets a per-file copy of the carried partitions instead:
still correct, but the commit then pays for the carried bytes too.

Concurrency: SINGLE WRITER per table.  The new version directory is
claimed with an exclusive ``os.mkdir`` — a second concurrent merge fails
loudly (FileExistsError) instead of silently discarding the first
writer's commit.  A crashed merge leaves an orphan claim; run
``recover_orphans`` to clear it before retrying.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def _version_path(path: str, version: int) -> str:
    return os.path.join(_versions_dir(path), f"{version:06d}")


def current_version(path: str) -> int | None:
    try:
        with open(os.path.join(path, "_current")) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _commit(path: str, version: int) -> None:
    tmp = os.path.join(path, "_current.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(path, "_current"))  # atomic commit point


def create_table(
    df: DataFrame, path: str, partition_by: str | None = None
) -> int:
    """Write version 1 of a managed versioned table."""
    os.makedirs(_versions_dir(path), exist_ok=True)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(_version_path(path, 1))
    _commit(path, 1)
    return 1


def _has_parquet(vdir: str) -> bool:
    """True when the directory holds parquet VISIBLE to a Spark scan.
    Underscore/dot-prefixed subdirs are skipped — Spark treats them as
    hidden."""
    for root, dirs, files in os.walk(vdir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(fn.endswith(".parquet") for fn in files):
            return True
    return False


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
    time travel).  Orphan (uncommitted) versions are unreadable by
    construction — nothing points at them.  Every version directory is
    self-contained (carried partitions are hard links), so a snapshot is
    one scan of its directory."""
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")
    v = version or cur
    vdir = _version_path(path, v)
    if v > cur or not os.path.isdir(vdir):
        raise ValueError(f"version {v} does not exist (current={cur})")
    r = spark.read
    # mergeSchema: after a schema-evolving merge (merge_into
    # schema_mode="evolve") a snapshot legitimately mixes parquet files
    # written under different schemas (carried partitions keep their old
    # files); schema union fills missing columns with nulls.  Gated on
    # the table-root marker an evolving merge writes (review r8 pass-3
    # #4): never-evolved tables keep the cheap single-footer schema
    # inference.
    if os.path.exists(_evolved_marker(path)):
        r = r.option("mergeSchema", "true")
    return r.parquet(vdir)


def list_versions(path: str) -> list[int]:
    cur = current_version(path)
    if cur is None:
        return []
    out = []
    for name in sorted(os.listdir(_versions_dir(path))):
        if name.isdigit() and int(name) <= cur:
            out.append(int(name))
    return out


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


#: Heartbeat refresh period stamped into claims by merge_into /
#: compact_table.  The stale-sweep threshold in ``recover_orphans`` is
#: expressed in multiples of the CLAIM'S OWN declared ``hb_s`` (not this
#: constant), so changing the default never makes old on-disk claims
#: look stale.
_CLAIM_HB_S = 5.0

#: ``recover_orphans(owner=...)`` clears an UNOWNED orphan (no readable
#: claim) only once it is this many seconds old.
_UNOWNED_GRACE_S = 300.0

#: ``recover_orphans(owner=...)`` sweeps a foreign claim that declares a
#: heartbeat promise only once its mtime is this many multiples of the
#: claim's own ``hb_s`` old.
_STALE_HB_MULTIPLE = 60.0


def _write_claim(
    vdir: str,
    owner: str | None,
    hb_s: float | None = None,
    nonce: str | None = None,
) -> None:
    """Stamp a freshly claimed version directory with the writer's
    identity (``_claim.json``).  Written immediately after the exclusive
    ``os.mkdir`` so an automated recoverer can tell WHOSE crash debris an
    orphan is — see ``recover_orphans(owner=...)``.  ATOMIC (tmp +
    os.replace): a torn claim file can never exist, so an orphan without
    a readable claim always means a crash in the microsecond
    mkdir→claim window (or pre-claim-era debris) — which is what lets
    the age-gated unowned-orphan recovery below stay safe.

    ``hb_s`` is the writer's PROMISE to refresh the claim file's mtime
    at least every ``hb_s`` seconds while it is alive (see
    ``_claim_heartbeat``).  Recording the interval in the claim itself
    lets ``recover_orphans`` age-sweep a crashed writer's claim — a
    claim whose mtime is many multiples of its own declared interval old
    can only be dead — while claims WITHOUT the promise (manual writers,
    crashed mid-stamp) keep the absolute never-touch safety.

    ``nonce`` is a per-invocation token (not just the owner string — an
    owner restarts with the same name) that the writer re-checks against
    the on-disk claim immediately before ``_commit`` (``_verify_claim``).
    If a recoverer swept this claim as stale (writer frozen past its
    heartbeat promise — SIGSTOP, VM pause, swap storm — then resumed)
    the nonce is gone or different, and the resumed writer ABORTS
    instead of publishing a version directory another writer may have
    re-claimed: the commit-time fence that closes the frozen-writer
    dual-commit window (ADVICE r6).

    Leading-underscore name keeps it invisible to parquet scans."""
    p = os.path.join(vdir, "_claim.json")
    tmp = p + ".tmp"
    body: dict = {"owner": owner}
    if hb_s is not None:
        body["hb_s"] = hb_s
    if nonce is not None:
        body["nonce"] = nonce
    with open(tmp, "w") as f:
        json.dump(body, f)
    os.replace(tmp, p)


def _verify_claim(vdir: str, nonce: str) -> None:
    """Commit-time fence: re-read ``_claim.json`` and require OUR nonce.

    Called after the staged write, before ``_promote_stage``/``_commit``.
    A frozen-then-resumed writer whose claim was age-swept (and possibly
    re-claimed by a recoverer under the same version number) finds the
    claim missing or carrying a different nonce and aborts loudly.
    Because everything it wrote landed in its own nonce-keyed
    ``_stage_*`` subdir (underscore = invisible to Spark/Hadoop readers;
    removed on abort), the new owner's committed snapshot is never
    contaminated — the remaining race is the microseconds between this
    check and the promote+rename, which the stale threshold (many
    heartbeat intervals, while OUR heartbeat is demonstrably alive
    again) makes unreachable."""
    try:
        with open(os.path.join(vdir, "_claim.json")) as f:
            body = json.load(f)
    except (FileNotFoundError, ValueError) as e:
        raise RuntimeError(
            f"commit fence: claim at {vdir} is missing/unreadable ({e}) — "
            "this writer's claim was swept while it was frozen (or the "
            "directory was recovered); ABORTING the commit. The table's "
            "committed state is untouched; retry the merge."
        ) from e
    if body.get("nonce") != nonce:
        raise RuntimeError(
            f"commit fence: claim at {vdir} carries nonce "
            f"{body.get('nonce')!r}, not ours — another writer re-claimed "
            "this version number after our claim went heartbeat-stale; "
            "ABORTING the commit to prevent dual-commit corruption."
        )


def _stage_dir(vdir: str, nonce: str) -> str:
    """Per-invocation staging subdirectory INSIDE the claimed version
    dir.  All of a writer's output (partition dirs, parquet files)
    lands here and is promoted into the version dir only
    AFTER the commit fence passes — so a writer frozen past the stale
    threshold whose version was swept and re-claimed can, at worst,
    recreate an underscore-prefixed subdir (invisible to Spark/Hadoop
    readers) inside the new owner's directory; it can never mix its
    part-files into a committed snapshot (review r7 #3 — the
    nonce-only fence stopped the PUBLISH but not the parquet append).
    The leading underscore is load-bearing: hidden to readers."""
    return os.path.join(vdir, f"_stage_{nonce}")


def _promote_stage(stage: str, vdir: str) -> list[str]:
    """Move every staged child up into the version dir (same-filesystem
    renames — metadata-only).  Runs strictly after ``_verify_claim``;
    collisions mean a protocol violation and fail loudly.  Returns the
    promoted child names so a post-promote fence failure can demote
    them (ADVICE r7: N partition renames on a slow FS can take far
    longer than the pre-promote check assumed, so the fence re-runs
    after promotion too — see ``_fenced_promote_commit``)."""
    names = sorted(os.listdir(stage))
    for name in names:
        dst = os.path.join(vdir, name)
        if os.path.exists(dst):
            raise RuntimeError(
                f"staged promote: {dst} already exists — version dir "
                "was mutated outside the claim protocol"
            )
        os.rename(os.path.join(stage, name), dst)
    os.rmdir(stage)
    return names


def _fenced_promote_commit(
    path: str, stage: str, vdir: str, nonce: str, version: int
) -> None:
    """Fence → promote → fence again → commit.  The second fence closes
    the window ADVICE r7 flagged: promoting N partition dirs is N
    sequential renames, which on a slow/network FS can dwarf the
    'microseconds' the first check assumed.  After the re-check the
    unguarded window is genuinely just the final ``_current`` rename.
    On a post-promote fence failure the promoted children are demoted
    back into the stage and the stage removed (best-effort — a
    re-claimer racing these renames collides loudly in its own
    ``_promote_stage``, never silently)."""
    try:
        _verify_claim(vdir, nonce)
    except RuntimeError:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    promoted = _promote_stage(stage, vdir)
    try:
        _verify_claim(vdir, nonce)
    except RuntimeError:
        os.makedirs(stage, exist_ok=True)
        for name in promoted:
            src = os.path.join(vdir, name)
            if os.path.exists(src):
                os.rename(src, os.path.join(stage, name))
        shutil.rmtree(stage, ignore_errors=True)
        raise
    _commit(path, version)


@contextmanager
def _claimed_version(path: str, new_v: int, owner: str | None):
    """THE claim protocol, in one place (review r8 pass-5 #3 — it was
    hand-rolled at five sites, and every hardening had to be re-applied
    to each): exclusive ``os.mkdir`` claim, ownership stamp + nonce,
    nonce-keyed stage dir (created eagerly), heartbeat while the body
    runs, then fence → promote → fence → commit.  Yields
    ``(new_dir, stage, nonce)``.  An exception from the body skips the
    commit and propagates (the claim stays for recover_orphans /
    owner-scoped recovery, exactly like the previous inline code); a
    body that wants to ABORT cleanly removes stage+claim+dir itself
    before raising."""
    new_dir = _version_path(path, new_v)
    # exclusive claim: fails loudly on a concurrent writer or a crashed
    # orphan (recover_orphans clears the latter) — never rmtree here
    os.mkdir(new_dir)
    nonce = uuid.uuid4().hex
    _write_claim(new_dir, owner, hb_s=_CLAIM_HB_S, nonce=nonce)
    stage = _stage_dir(new_dir, nonce)
    os.makedirs(stage, exist_ok=True)
    with _claim_heartbeat(new_dir):
        yield new_dir, stage, nonce
        _fenced_promote_commit(path, stage, new_dir, nonce, new_v)


def _claim_info(vdir: str) -> tuple[bool, str | None, float | None]:
    """(has_readable_claim, owner, hb_s).  A PRESENT claim with a null
    owner (``merge_into(owner=None)``) is distinct from NO claim: the
    former is some other writer — live or crashed — and owner-scoped
    recovery must never touch it UNLESS the claim itself declares a
    heartbeat promise (``hb_s``) it has visibly broken (review r5 pass-2
    #1: a long manual NON-heartbeating merge's st_mtime can go stale
    past any grace window while Spark writes inside the dir); only a
    MISSING claim marks the microsecond mkdir-window debris the
    unowned-age gate may clear."""
    try:
        with open(os.path.join(vdir, "_claim.json")) as f:
            body = json.load(f)
        hb = body.get("hb_s")
        return True, body.get("owner"), float(hb) if hb is not None else None
    except (FileNotFoundError, ValueError):
        return False, None, None


class _claim_heartbeat:
    """Context manager: while the body runs, a daemon thread refreshes
    the claim file's mtime every ``hb_s`` seconds (``os.utime`` — cheap,
    atomic metadata-only).  The writer's Spark jobs run synchronously in
    the claiming process, so the thread dying with the process is
    exactly the liveness signal: mtime stops advancing ⇒ writer crashed.
    Exceptions in the body propagate; the thread always stops."""

    def __init__(self, vdir: str, hb_s: float = _CLAIM_HB_S):
        self._path = os.path.join(vdir, "_claim.json")
        self._hb_s = hb_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        # refresh at half the promised interval so one missed wakeup
        # (GC pause, scheduler hiccup) still keeps the promise
        while not self._stop.wait(self._hb_s / 2.0):
            try:
                os.utime(self._path)
            except FileNotFoundError:
                return  # claim gone (committed/recovered) — nothing to do
            except OSError:
                # a TRANSIENT error (ESTALE/EIO on network FS) must not
                # kill the heartbeat — a frozen mtime on a LIVE writer
                # would get its claim swept and reopen the dual-commit
                # corruption (review r6 #5).  Keep trying; persistent
                # failure means the promise breaks, which is the honest
                # signal (the writer's storage is gone anyway).
                continue

    def __enter__(self) -> "_claim_heartbeat":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=self._hb_s)


def recover_orphans(path: str, owner: str | None = None) -> list[int]:
    """Delete uncommitted (orphan) version directories left by crashed
    merges.  Run this before retrying a merge that failed its exclusive
    claim — merge_into itself never removes an existing claim directory
    (doing so is exactly the lost-update race).

    With ``owner=None`` (manual recovery) ALL orphans are cleared —
    callers must ensure no writer is live on the table.  With an
    ``owner`` string, an automated recoverer (e.g. the CDC stream's
    merge_batch_handler) clears ONLY:

    - orphans whose ``_claim.json`` names exactly that owner (its own
      crash debris), and
    - UNOWNED orphans (no readable claim) older than
      ``_UNOWNED_GRACE_S`` seconds — claims are written atomically
      microseconds after the mkdir, so an unowned dir past the grace
      window can only be a crash in that microsecond gap or
      pre-claim-era debris, never a live writer; without this the
      stream would wedge forever on such debris (every batch raising
      FileExistsError), and
    - foreign claims that DECLARE a heartbeat promise (``hb_s`` in the
      claim — merge_into/compact_table refresh the claim file's mtime
      every ``hb_s`` seconds while alive) whose claim mtime is more
      than ``_STALE_HB_MULTIPLE × hb_s`` seconds old.  A live writer
      refreshes at ``hb_s/2``; the multiple (60 → 5 minutes at
      the stock ``hb_s=5``) sits far beyond any plausible driver pause
      (GC, VM migration, swap storm — ADVICE r6 judged 60 s reachable,
      so the old 12× default was raised), so a claim that stale can
      only be a crashed writer; a compactor that dies mid-rewrite no
      longer wedges a live CDC stream until manual recovery — the
      stream self-heals on its next batch.  Even the pathological
      frozen-past-threshold-then-resumed writer cannot dual-commit: the
      commit-time nonce fence (``_verify_claim``) makes it abort.

    A foreign claim WITHOUT the heartbeat marker is never touched (the
    writer made no liveness promise to judge it by — a long manual
    merge's mtime legitimately goes stale while Spark writes inside the
    dir); deleting another live writer's claim would let both commit
    into the same version directory, the exact corruption the
    exclusive-mkdir protocol exists to prevent."""
    import time

    if not os.path.isdir(_versions_dir(path)):
        return []
    # no _current yet: every version dir is a crashed first commit
    cur = current_version(path) or 0
    removed = []
    for name in sorted(os.listdir(_versions_dir(path))):
        if not (name.isdigit() and int(name) > cur):
            continue
        vdir = os.path.join(_versions_dir(path), name)
        if owner is not None:
            has_claim, claim, hb_s = _claim_info(vdir)
            if not (has_claim and claim == owner):
                try:
                    stamp = (
                        os.path.join(vdir, "_claim.json")
                        if has_claim else vdir
                    )
                    age = time.time() - os.stat(stamp).st_mtime
                except OSError:
                    continue  # vanished concurrently
                if has_claim:
                    # foreign claim: sweepable ONLY on a visibly broken
                    # heartbeat promise; no promise → never touch
                    if hb_s is None or age < _STALE_HB_MULTIPLE * hb_s:
                        continue
                elif age < _UNOWNED_GRACE_S:
                    continue  # possibly a just-claimed dir mid-stamp
        shutil.rmtree(vdir)
        removed.append(int(name))
    return removed


def _isin_or_null(col_name: str, vals: list, has_null: bool):
    """Null-safe membership filter: ``isin()`` never matches NULL, so
    the NULL partition needs its own disjunct — shared by merge_into
    and delete_rows (review r8 pass-4 #5)."""
    cond = F.col(col_name).isin(vals) if vals else F.lit(False)
    if has_null:
        cond = cond | F.col(col_name).isNull()
    return cond


def _evolved_marker(path: str) -> str:
    """Table-root marker an evolving merge writes once the column set
    actually changed: readers switch to mergeSchema scans +
    null-filling unions only from then on."""
    return os.path.join(path, "_schema_evolved")


def _mark_evolved(path: str) -> None:
    """Flip readers to schema-merging scans BEFORE any write: a marker
    without a commit is harmless (mergeSchema on a uniform table is just
    slower), the reverse is data loss."""
    if not os.path.exists(_evolved_marker(path)):
        with open(_evolved_marker(path), "w") as f:
            f.write("1")


def _evolve_schemas(
    tgt: DataFrame, updates: DataFrame, keys: list[str],
    partition_by: str | None
) -> tuple[DataFrame, DataFrame, bool]:
    """Additive schema evolution for ``merge_into(schema_mode="evolve")``:
    align both frames onto the UNION of their columns (new side fills
    null, typed from the side that has the column).  Key and partition
    columns must exist on both sides (a null partition/key from
    evolution would silently misroute rows); shared columns with
    differing types raise — evolution is add-only, never a cast."""
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
    _INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
    for name in sorted(set(t_fields) & set(u_fields)):
        ts, us = t_fields[name].simpleString(), u_fields[name].simpleString()
        if (
            name == partition_by
            and ts in _INTEGRAL and us in _INTEGRAL
        ):
            # the partition column's table-side type is INFERRED from
            # directory names (int for small values even when written
            # as long) — an integral-WIDTH delta there is an inference
            # artifact, not schema drift; the union coerces it.  Any
            # other partition type delta still raises (review r8 pass-3
            # #3: e.g. double-vs-int renders '0.0' directories that
            # bypass the touched-partition match and duplicate rows).
            continue
        if t_fields[name] != u_fields[name]:
            raise ValueError(
                f"merge_into schema evolution: column {name!r} has type "
                f"{ts} in the table but {us} in the updates — "
                "evolution is add-only, cast explicitly first"
            )
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
    # deterministic, matching column order for the union downstream
    cols = sorted(set(t_fields) | set(u_fields))
    widened = bool(set(u_fields) - set(t_fields))
    return tgt.select(cols), updates.select(cols), widened


def append_rows(
    df: DataFrame, path: str, partition_by: str, owner: str | None = None
) -> dict:
    """INSERT INTO: commit ``df``'s rows as a new version on top of the
    current one (version 1 when no table exists yet) through the claim
    protocol.  Every committed partition is hard-linked into the new
    version (copied where the fs refuses links) and the new rows are
    appended into the same partition directories — O(files of the
    current version) links plus the new rows' write.

    A column set that differs from the committed version's first flips
    the table to schema-merging reads (``_mark_evolved``), as
    ``merge_into(schema_mode="evolve")`` does: older rows read back with
    the new columns null."""
    cur = current_version(path)
    names: list[str] = []
    if cur is None:
        os.makedirs(_versions_dir(path), exist_ok=True)
    else:
        if not os.path.exists(_evolved_marker(path)) and set(df.columns) != set(
            read_table(df.sparkSession, path).columns
        ):
            _mark_evolved(path)
        names = _old_partitions(path, cur, partition_by)
    new_v = (cur or 0) + 1
    with _claimed_version(path, new_v, owner) as (_new_dir, stage, _nonce):
        _carry_untouched(_version_path(path, new_v - 1), stage, names, set())
        df.write.mode("append").partitionBy(partition_by).parquet(stage)
    return {"version": new_v, "previous": cur}


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
    owner: str | None = None,
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

    Concurrency: single writer.  The new version directory is claimed
    with exclusive ``os.mkdir`` — a concurrent merge (or a leftover
    orphan from a crash; see ``recover_orphans``) raises
    FileExistsError instead of silently clobbering the other writer.

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
    parquet files — ``read_table`` merges schemas at scan time
    (nulls for the missing columns), so old versions time-travel with
    their own schema.
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
    else:
        tgt, updates, widened = _evolve_schemas(
            tgt, updates, keys, partition_by
        )
        if widened:
            _mark_evolved(path)
    # layout validation (and the partition inventory) runs BEFORE the
    # version claim so a wrong partition_by fails cleanly with no
    # orphan claimed dir (review r8 pass-6)
    names = _old_partitions(path, cur, partition_by) if partition_by else []
    new_v = cur + 1
    with _claimed_version(path, new_v, owner) as (new_dir, stage, nonce):
        if partition_by:
            # partitions touched by the update batch: the updates' own
            # partition values PLUS the current partition of any matched key
            # (a key may move across partitions)
            # round-9 (guide §2.4): no per-branch distincts — the final
            # union.distinct() below is the only dedup the collect needs,
            # and a left_semi probe side needs no distinct either, so two
            # Exchanges (and their AQE stage jobs) disappear per merge
            upd_parts = updates.select(partition_by)
            moved_parts = (
                tgt.join(updates.select(keys), keys, "left_semi")
                .select(partition_by)
            )
            # collect each value twice: raw (for the typed isin filter) and
            # SPARK's cast-to-string (for directory-name matching — the
            # partition writer names directories with Spark's own string
            # rendering, which differs from Python str() for bool
            # ('true' vs 'True') and some floats)
            aff_rows = (
                upd_parts.union(moved_parts)
                .distinct()
                .select(
                    F.col(partition_by).alias("_v"),
                    F.col(partition_by).cast("string").alias("_s"),
                )
                .collect()
            )
            affected = [r["_v"] for r in aff_rows]
            affected_strs = [r["_s"] for r in aff_rows]
            # compare DECODED directory values against the affected set:
            # escaped characters and the NULL partition would otherwise be
            # linked as "untouched" AND rewritten → duplicated rows
            aff_vals = [a for a in affected if a is not None]  # raw typed values
            aff_set = {s for s in affected_strs if s is not None}  # Spark-rendered
            aff_null = any(a is None for a in affected)
            touched_names = {
                name for name in names
                if (
                    (v := _unescape_partition_dir(name)) is None and aff_null
                ) or (v is not None and v in aff_set)
            }
            # everything lands in the nonce-keyed STAGE subdir (carried
            # partitions and fresh writes) and is promoted only after the
            # commit fence passes — see _stage_dir
            _carry_untouched(
                _version_path(path, cur), stage, names, touched_names
            )
            tgt_aff = tgt.filter(
                _isin_or_null(partition_by, aff_vals, aff_null)
            )
            # every update row's partition is in `affected` by construction
            # (left_anti needs no distinct probe side — round-9)
            merged = tgt_aff.join(
                updates.select(keys), keys, "left_anti"
            ).unionByName(updates)
            # one task (hence one file) per rewritten partition: without
            # the keyed repartition every scan task writes its own file
            # into each partition dir (~50 tiny files per version), and
            # every later read_table/merge pays the listing + open cost
            # (round-9, guide §6 small files; unnumbered = AQE-sized)
            (
                merged.repartition(F.col(partition_by))
                .write.mode("append")
                .partitionBy(partition_by)
                .parquet(stage)
            )
        else:
            merged = tgt.join(
                updates.select(keys), keys, "left_anti"
            ).unionByName(updates)
            # append INTO the stage under the claimed dir —
            # mode("overwrite") would delete the directory first,
            # voiding the exclusive-mkdir claim
            merged.write.mode("append").parquet(stage)
        # the context manager runs the fenced promote+commit; our stage
        # is ours to clean even inside a re-claimed dir, and the
        # committed state is untouched on any fence failure
    return {"version": new_v, "previous": cur}


def delete_rows(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: list[str],
    partition_by: str | None = None,
    owner: str | None = None,
    trust_partition_hint: bool = False,
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

    Deleting EVERY row: allowed on an unpartitioned table (Spark
    writes a schema-only empty part file, so the empty snapshot stays
    readable) but refused on a partitioned one (every partition dir
    would vanish, leaving no parquet schema anywhere) — recreate with
    ``create_table`` in that case.

    Scale: finding the affected partitions is a semi-join of the table
    against the (typically tiny, broadcast) key set — a full scan at
    100 TB unless the keys carry their partition.  When ``keys_df``
    includes ``partition_by`` AND ``trust_partition_hint=True``, the
    scan is pruned to the hinted partitions up front; a WRONG hint
    then silently skips rows living elsewhere, which is why trusting
    it is opt-in.
    """
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")
    tgt = read_table(spark, path)
    missing = sorted(set(keys) - set(keys_df.columns))
    if missing:
        raise ValueError(f"delete_rows: keys_df lacks key column(s) {missing}")
    # validate against the TARGET too, before the version claim — a
    # typo'd key name failing inside the claim block would leave an
    # orphan claimed dir behind (review r8 pass-4 #3)
    missing_t = sorted(set(keys) - set(tgt.columns))
    if missing_t:
        raise ValueError(
            f"delete_rows: table lacks key column(s) {missing_t}"
        )
    kcols = list(keys)
    hint = (
        trust_partition_hint
        and partition_by is not None
        and partition_by in keys_df.columns
    )
    # no eager distinct: every consumer is a semi/anti join probe side or
    # re-distincts itself (the hint collect) — round-9, guide §2.4
    dels = keys_df.select(kcols + ([partition_by] if hint else []))
    names = _old_partitions(path, cur, partition_by) if partition_by else []
    new_v = cur + 1
    with _claimed_version(path, new_v, owner) as (new_dir, stage, nonce):
        if partition_by:
            scan = tgt
            if hint:
                hrows = dels.select(partition_by).distinct().collect()
                scan = tgt.filter(_isin_or_null(
                    partition_by,
                    [r[0] for r in hrows if r[0] is not None],
                    any(r[0] is None for r in hrows),
                ))
            aff_rows = (
                scan.join(dels.select(kcols), kcols, "left_semi")
                .select(
                    F.col(partition_by).alias("_v"),
                    F.col(partition_by).cast("string").alias("_s"),
                )
                .distinct()
                .collect()
            )
            aff_vals = [r["_v"] for r in aff_rows if r["_v"] is not None]
            aff_set = {r["_s"] for r in aff_rows if r["_s"] is not None}
            aff_null = any(r["_v"] is None for r in aff_rows)
            touched_names = {
                name for name in names
                if (
                    (v := _unescape_partition_dir(name)) is None and aff_null
                ) or (v is not None and v in aff_set)
            }
            _carry_untouched(
                _version_path(path, cur), stage, names, touched_names
            )
            remaining = tgt.filter(
                _isin_or_null(partition_by, aff_vals, aff_null)
            ).join(dels.select(kcols), kcols, "left_anti")
            (
                remaining.repartition(F.col(partition_by))
                .write.mode("append")
                .partitionBy(partition_by)
                .parquet(stage)
            )
            if not _has_parquet(stage):
                # PARTITIONED delete-all: every partition directory
                # vanished, so the snapshot has no parquet schema
                # anywhere — refuse and leave no orphan dir.  (The
                # unpartitioned path has no such hazard: Spark writes a
                # schema-only empty part file, so an empty snapshot
                # stays readable — verified on this Spark version.)
                shutil.rmtree(stage, ignore_errors=True)
                os.remove(os.path.join(new_dir, "_claim.json"))
                os.rmdir(new_dir)
                raise ValueError(
                    "delete_rows removed every row of the partitioned "
                    "table — an all-partitions-deleted snapshot has no "
                    "readable parquet schema; recreate with create_table "
                    "instead"
                )
        else:
            remaining = tgt.join(dels.select(kcols), kcols, "left_anti")
            remaining.write.mode("append").parquet(stage)
    return {"version": new_v, "previous": cur}


def restore_version(
    path: str,
    version: int,
    owner: str | None = None,
) -> dict:
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
    and loose ``.parquet`` files are linked into the new version.
    ``_``-prefixed entries (the old ``_claim.json``, ``_SUCCESS``) are
    skipped; the new claim would collide with them on promote.

    Non-destructive by design: later versions stay on disk and
    time-travel-readable until ``expire_versions``, and the new
    version slots into the normal claim protocol (``cur+1``), so
    concurrent writers keep failing loudly instead of colliding with a
    re-pointed ``_current``.  Composes with ``delete_rows`` as the
    oops-recovery path: restore(v_before_delete) un-deletes.
    """
    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed table at {path}")
    if version == cur:
        raise ValueError(f"version {version} is already current")
    src_dir = _version_path(path, version)
    if version > cur or not os.path.isdir(src_dir):
        raise ValueError(f"version {version} does not exist (current={cur})")
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
    new_v = cur + 1
    with _claimed_version(path, new_v, owner) as (new_dir, stage, nonce):
        _carry_untouched(src_dir, stage, names, set())
    return {"version": new_v, "restored": version, "previous": cur}


def compact_table(
    spark: SparkSession,
    path: str,
    partition_by: str | None = None,
    max_files: int = 1,
    owner: str | None = None,
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

    Concurrency vs a LIVE stream: the compactor's claim directory is
    stamped with ``owner`` (default: a unique
    ``compact_table:<uuid>`` per invocation — unique so that
    owner-scoped recovery can NEVER mistake a second, live compactor's
    claim for this one's debris), and the stream's automated orphan
    recovery only clears claims it stamped itself — so running
    compact_table against a live merge_stream table never has its claim
    deleted mid-write.  The two writers still race on the version
    number: whichever claims ``cur+1`` second fails loudly with
    FileExistsError (retry after the other commits).  A compactor that
    CRASHES leaves its claim behind, but the claim carries a heartbeat
    promise (mtime refreshed every ``_CLAIM_HB_S`` seconds while the
    compactor lives — ``_claim_heartbeat``); once the mtime goes stale
    past the promise, the stream's owner-scoped ``recover_orphans``
    sweeps it and the stream SELF-HEALS on its next batch — no manual
    recovery needed.  A live-but-slow compactor keeps heartbeating, so
    its claim is never raced.
    """
    if owner is None:
        owner = f"compact_table:{uuid.uuid4().hex[:12]}"
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
        vdir = _version_path(path, cur)
        before = _count_parquet(vdir)
        if before <= max_files:
            return {"version": cur, "compacted": 0,
                    "files_before": before, "files_after": before}
        new_v = cur + 1
        with _claimed_version(path, new_v, owner) as (new_dir, stage, nonce):
            read_table(spark, path).coalesce(max_files).write.mode(
                "append"
            ).parquet(stage)
        return {"version": new_v, "compacted": 1, "files_before": before,
                "files_after": _count_parquet(new_dir)}

    counts = _partition_file_counts(path, cur, partition_by)
    touched = {n for n, c in counts.items() if c > max_files}
    before = sum(counts.values())
    if not touched:
        return {"version": cur, "compacted": 0,
                "files_before": before, "files_after": before}
    new_v = cur + 1
    with _claimed_version(path, new_v, owner) as (new_dir, stage, nonce):
        _carry_untouched(cur_dir, stage, sorted(counts), touched)
        # rewrite the oversized partitions: the predicate is over the
        # partition column only, so Catalyst PRUNES the scan to exactly the
        # touched partition directories (O(compacted bytes), not O(table)).
        # The hash repartition on the partition column lands each value in
        # one task, so the partitioned write emits ONE file per compacted
        # partition (max_files is the trigger threshold, not an output
        # count — documented above).
        tgt = read_table(spark, path)
        touched_vals = [_unescape_partition_dir(n) for n in touched]
        has_null = any(v is None for v in touched_vals)
        vals = [v for v in touched_vals if v is not None]
        cond = (
            F.col(partition_by).cast("string").isin(vals)
            if vals else F.lit(False)
        )
        if has_null:
            cond = cond | F.col(partition_by).isNull()
        (
            tgt.filter(cond)
            .repartition(len(touched), partition_by)
            .write.mode("append")
            .partitionBy(partition_by)
            .parquet(stage)
        )
    after = sum(_partition_file_counts(path, new_v, partition_by).values())
    return {"version": new_v, "compacted": len(touched),
            "files_before": before, "files_after": after}


def expire_versions(path: str, keep: int = 2) -> list[int]:
    """Iceberg ``expire_snapshots`` analog: delete all but the newest
    ``keep`` committed versions.  Hard-linked files make this safe — a
    partition directory shared with a surviving version keeps its bytes
    (the link count drops, the inode survives); only bytes referenced
    exclusively by expired versions are reclaimed.  The current version
    is never expired.  Returns the versions removed."""
    if keep < 1:
        raise ValueError("keep must be >= 1 (the current version survives)")
    cur = current_version(path)
    if cur is None:
        return []
    versions = list_versions(path)
    survivors = set(versions[-keep:]) | {cur}
    removed = []
    for v in versions:
        if v in survivors:
            continue
        vdir = _version_path(path, v)
        # rename-then-delete: the rename either fully hides the version
        # (list_versions only matches digit names) or fails cleanly with
        # the version intact — a partial rmtree would leave a corrupt but
        # still-listed snapshot that read_table serves silently truncated
        trash = vdir + ".trash"
        os.rename(vdir, trash)
        shutil.rmtree(trash, ignore_errors=True)
        removed.append(v)
    return removed
