"""Versioned table MERGE: upsert semantics, snapshot isolation, COW."""

import os

import pytest

from veranda_spark.io.table import (
    create_table,
    current_version,
    list_versions,
    merge_into,
    read_table,
)


def _rows(df):
    return {(r["k"], r["p"], r["val"]) for r in df.collect()}


def _inodes(vdir, part):
    d = os.path.join(vdir, part)
    return {
        f: os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d)
        if f.endswith(".parquet")
    }


@pytest.fixture()
def base(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(20)], "k long, p long, val string"
    )
    create_table(df, path, partition_by="p")
    return path


def test_merge_upsert_semantics(spark, base):
    upd = spark.createDataFrame(
        [(3, 3, "updated3"), (100, 0, "new100")], "k long, p long, val string"
    )
    res = merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert res == {"version": 2, "previous": 1}
    got = _rows(read_table(spark, base))
    assert (3, 3, "updated3") in got and (3, 3, "v3") not in got
    assert (100, 0, "new100") in got
    assert (7, 3, "v7") in got  # untouched row in an affected partition
    assert len(got) == 21


def test_snapshot_isolation_time_travel(spark, base):
    upd = spark.createDataFrame([(0, 0, "X")], "k long, p long, val string")
    merge_into(spark, base, upd, keys=["k"], partition_by="p")
    v1 = _rows(read_table(spark, base, version=1))
    v2 = _rows(read_table(spark, base, version=2))
    assert (0, 0, "v0") in v1 and (0, 0, "X") not in v1
    assert (0, 0, "X") in v2
    assert list_versions(base) == [1, 2]
    with pytest.raises(ValueError, match="does not exist"):
        read_table(spark, base, version=9)


def test_cow_links_untouched_partitions(spark, base):
    upd = spark.createDataFrame([(1, 1, "Y")], "k long, p long, val string")
    merge_into(spark, base, upd, keys=["k"], partition_by="p")
    v1 = os.path.join(base, "_versions", "000001")
    v2 = os.path.join(base, "_versions", "000002")
    # untouched partition p=2: files are the SAME inodes (hard links)
    assert _inodes(v1, "p=2") == _inodes(v2, "p=2")
    # affected partition p=1 was rewritten (no shared inodes)
    assert not (
        set(_inodes(v1, "p=1").values()) & set(_inodes(v2, "p=1").values())
    )


def test_partition_move_rewrites_both_sides(spark, base):
    # key 2 moves from p=2 to p=0: old copy must vanish
    upd = spark.createDataFrame([(2, 0, "moved")], "k long, p long, val string")
    merge_into(spark, base, upd, keys=["k"], partition_by="p")
    got = _rows(read_table(spark, base))
    assert (2, 0, "moved") in got and (2, 2, "v2") not in got
    assert len(got) == 20


def test_crashed_merge_is_invisible(spark, base):
    from veranda_spark.io.table import recover_orphans

    # simulate a crash: orphan version dir exists but _current not bumped
    orphan = os.path.join(base, "_versions", "000002")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "garbage"), "w") as f:
        f.write("partial")
    assert current_version(base) == 1
    assert _rows(read_table(spark, base)) == _rows(read_table(spark, base, 1))
    # a merge must NOT silently clobber the claim (concurrent-writer
    # protection): it fails loudly; recover_orphans clears the crash debris
    upd = spark.createDataFrame([(0, 0, "Z")], "k long, p long, val string")
    with pytest.raises(FileExistsError):
        merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert recover_orphans(base) == [2]
    res = merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert res["version"] == 2
    assert (0, 0, "Z") in _rows(read_table(spark, base))


def test_unpartitioned_merge_and_schema_guard(spark, tmp_path):
    path = str(tmp_path / "flat")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, val string")
    create_table(df, path)
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k long, val string")
    merge_into(spark, path, upd, keys=["k"])
    got = {(r["k"], r["val"]) for r in read_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    bad = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="schema mismatch"):
        merge_into(spark, path, bad, keys=["k"])


def test_merge_stream_exactly_once(spark, tmp_path):
    import os

    from veranda_spark.io.table import list_versions
    from veranda_spark.streaming.append import merge_stream

    path = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(10)], "k long, p long, val string"
    )
    create_table(base, path, partition_by="p")

    src = str(tmp_path / "updates")
    upd = spark.createDataFrame(
        [(2, 2, "U2"), (50, 1, "new50")], "k long, p long, val string"
    )
    upd.write.mode("overwrite").parquet(src)

    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("k long, p long, val string").parquet(src)
    q = merge_stream(stream, path, keys=["k"], checkpoint_dir=ckpt,
                     partition_by="p")
    q.awaitTermination(120)
    q.stop()
    got = _rows(read_table(spark, path))
    assert (2, 2, "U2") in got and (50, 1, "new50") in got and len(got) == 11
    versions = list_versions(path)

    # crash-replay (the foreachBatch contract: Spark may re-invoke the
    # handler with an already-applied batch id after a crash between the
    # sink commit and the checkpoint commit) — direct handler call with
    # the SAME checkpoint identity must be a no-op
    from veranda_spark.streaming.append import merge_batch_handler

    replay = merge_batch_handler(path, ["k"], ckpt, partition_by="p")
    replay(spark.read.parquet(src), 0)
    assert list_versions(path) == versions  # no duplicate version
    assert _rows(read_table(spark, path)) == got

    # a genuinely NEW stream (its own checkpoint, new data) MUST apply
    # even though its batch ids restart at 0
    src2 = str(tmp_path / "updates2")
    spark.createDataFrame([(60, 0, "new60")], "k long, p long, val string")\
        .write.mode("overwrite").parquet(src2)
    stream3 = spark.readStream.schema("k long, p long, val string").parquet(src2)
    q3 = merge_stream(stream3, path, keys=["k"],
                      checkpoint_dir=str(tmp_path / "ckpt3"), partition_by="p")
    q3.awaitTermination(120)
    q3.stop()
    got3 = _rows(read_table(spark, path))
    assert (60, 0, "new60") in got3 and len(got3) == 12


def test_merge_escaped_and_null_partitions(spark, tmp_path):
    # review fix: escaped chars and the NULL partition must not be both
    # linked as untouched AND rewritten (row duplication)
    path = str(tmp_path / "esc")
    df = spark.createDataFrame(
        [(1, "a:b", "v1"), (2, "plain", "v2"), (3, None, "v3")],
        "k long, p string, val string",
    )
    create_table(df, path, partition_by="p")
    upd = spark.createDataFrame(
        [(1, "a:b", "U1"), (3, None, "U3"), (9, None, "new9")],
        "k long, p string, val string",
    )
    merge_into(spark, path, upd, keys=["k"], partition_by="p")
    got = sorted(
        (r["k"], r["p"], r["val"]) for r in read_table(spark, path).collect()
    )
    assert got == [
        (1, "a:b", "U1"), (2, "plain", "v2"), (3, None, "U3"), (9, None, "new9")
    ]


def test_expire_versions_keeps_shared_bytes(spark, base):
    import numpy as np

    from veranda_spark.io.table import expire_versions

    # three merges -> versions 1..4
    for i, (k, p) in enumerate([(1, 1), (5, 1), (9, 1)]):
        upd = spark.createDataFrame(
            [(k, p, f"u{i}")], "k long, p long, val string"
        )
        merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert list_versions(base) == [1, 2, 3, 4]
    latest = _rows(read_table(spark, base))

    removed = expire_versions(base, keep=2)
    assert removed == [1, 2]
    assert list_versions(base) == [3, 4]
    # untouched partitions were hard-linked from v1; expiry must not
    # break the surviving versions' bytes
    assert _rows(read_table(spark, base)) == latest
    assert _rows(read_table(spark, base, version=3)) is not None
    with pytest.raises(ValueError, match="does not exist"):
        read_table(spark, base, version=1)
    with pytest.raises(ValueError, match="keep"):
        expire_versions(base, keep=0)


def test_merge_boolean_partition_values(spark, tmp_path):
    # review fix: Spark renders bool partitions as 'true'/'false' in dir
    # names but Python str() gives 'True' — matching must use Spark's own
    # cast-to-string or the partition is linked AND rewritten (dup rows)
    path = str(tmp_path / "boolpart")
    df = spark.createDataFrame(
        [(1, True, "a"), (2, False, "b"), (3, True, "c")],
        "k long, p boolean, val string",
    )
    create_table(df, path, partition_by="p")
    upd = spark.createDataFrame([(1, True, "A")], "k long, p boolean, val string")
    merge_into(spark, path, upd, keys=["k"], partition_by="p")
    # parquet partition-dir inference reads bool partitions back as the
    # strings 'true'/'false'; the invariant under test is NO duplicated
    # rows and the matched row updated
    got = sorted(
        (r["k"], str(r["p"]).lower(), r["val"])
        for r in read_table(spark, path).collect()
    )
    assert got == [(1, "true", "A"), (2, "false", "b"), (3, "true", "c")]


def _no_links(monkeypatch):
    import errno

    def _exdev(*a, **k):
        raise OSError(errno.EXDEV, "Invalid cross-device link")

    monkeypatch.setattr(os, "link", _exdev)


def test_manifest_mode_merge_no_links(spark, base, monkeypatch):
    # a filesystem that refuses hard links: the untouched partitions are
    # COPIED into v2 (same files, new inodes) instead of being referenced
    # from v1, and the merge semantics are unchanged
    _no_links(monkeypatch)
    upd = spark.createDataFrame([(1, 1, "Y")], "k long, p long, val string")
    assert merge_into(spark, base, upd, keys=["k"], partition_by="p") == {
        "version": 2, "previous": 1,
    }
    got = _rows(read_table(spark, base))
    assert (1, 1, "Y") in got and (1, 1, "v1") not in got
    assert len(got) == 20
    v1 = os.path.join(base, "_versions", "000001")
    v2 = os.path.join(base, "_versions", "000002")
    for part in ("p=0", "p=2", "p=3"):
        old, new = _inodes(v1, part), _inodes(v2, part)
        assert old and old.keys() == new.keys()
        assert not set(old.values()) & set(new.values())


def test_manifest_table_survives_relocation(spark, tmp_path, monkeypatch):
    # every version directory is self-contained, with or without links:
    # moving the whole table directory must not break reads of any version
    import shutil

    _no_links(monkeypatch)
    src = str(tmp_path / "orig")
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(20)], "k long, p long, val string"
    )
    create_table(df, src, partition_by="p")
    upd = spark.createDataFrame([(1, 1, "Y")], "k long, p long, val string")
    merge_into(spark, src, upd, keys=["k"], partition_by="p")
    before = _rows(read_table(spark, src))
    dst = str(tmp_path / "moved")
    shutil.move(src, dst)
    got = _rows(read_table(spark, dst))
    assert got == before
    assert (1, 1, "Y") in got and len(got) == 20
    assert len(_rows(read_table(spark, dst, version=1))) == 20


def test_compact_table_partitioned(spark, tmp_path):
    from veranda_spark.io.table import compact_table

    path = str(tmp_path / "frag")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "k long, p long, val string"
    ).repartition(10)
    create_table(df, path, partition_by="p")
    v1 = os.path.join(path, "_versions", "000001")

    def files_in(vdir, part):
        d = os.path.join(vdir, part)
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_in(v1, "p=0")) > 1  # fragmented input
    res = compact_table(spark, path, partition_by="p")
    assert res["version"] == 2 and res["compacted"] == 3
    assert res["files_after"] == 3  # one file per partition
    v2 = os.path.join(path, "_versions", "000002")
    for part in ("p=0", "p=1", "p=2"):
        assert len(files_in(v2, part)) == 1
    got = _rows(read_table(spark, path))
    assert got == _rows(read_table(spark, path, version=1))
    assert len(got) == 30
    # idempotent: nothing left to compact -> NO new version
    res2 = compact_table(spark, path, partition_by="p")
    assert res2 == {"version": 2, "compacted": 0,
                    "files_before": 3, "files_after": 3}


def test_compact_table_partial_links(spark, tmp_path):
    # only the fragmented partition is rewritten; the rest carry over as
    # hard links (the same inodes in v3 as in v2)
    from veranda_spark.io.table import compact_table

    path = str(tmp_path / "frag2")
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(30)], "k long, p long, val string"
    ).coalesce(1)
    create_table(df, path, partition_by="p")
    upd = spark.createDataFrame(
        [(100 + j, 1, f"u{j}") for j in range(8)], "k long, p long, val string"
    ).repartition(8)
    merge_into(spark, path, upd, keys=["k"], partition_by="p")
    # fragment ONLY p=1: merge_into now writes one file per rewritten
    # partition (round-9), so fragmentation comes from outside the merge
    # path — append a schema-only empty part file (the shape an empty
    # CDC batch or a crashed external writer leaves behind)
    spark.createDataFrame([], "k long, val string").coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(path, "_versions", "000002", "p=1"))
    res = compact_table(spark, path, partition_by="p")
    assert res["version"] == 3 and res["compacted"] == 1
    v2 = os.path.join(path, "_versions", "000002")
    v3 = os.path.join(path, "_versions", "000003")
    for part in ("p=0", "p=2"):
        assert _inodes(v2, part) and _inodes(v2, part) == _inodes(v3, part)
    assert len(_inodes(v2, "p=1")) == 2 and len(_inodes(v3, "p=1")) == 1
    assert not (
        set(_inodes(v2, "p=1").values()) & set(_inodes(v3, "p=1").values())
    )
    got = _rows(read_table(spark, path))
    assert len(got) == 38 and (101, 1, "u1") in got


def test_compact_table_unpartitioned(spark, tmp_path):
    from veranda_spark.io.table import compact_table

    path = str(tmp_path / "flatfrag")
    df = spark.createDataFrame(
        [(i, 0, f"v{i}") for i in range(40)], "k long, p long, val string"
    ).repartition(16)
    create_table(df, path)
    res = compact_table(spark, path)
    assert res["compacted"] == 1 and res["files_after"] == 1
    assert len(_rows(read_table(spark, path))) == 40


def test_owner_scoped_orphan_recovery(spark, base):
    # ADVICE r4 (medium): the CDC stream's automated orphan recovery must
    # never delete a claim held by a concurrent compact_table / manual
    # merge — only claims the stream itself stamped.
    import json

    from veranda_spark.io.table import recover_orphans
    from veranda_spark.streaming.append import merge_batch_handler

    ckpt = str(base) + "_ckpt"
    handler = merge_batch_handler(base, ["k"], ckpt, partition_by="p")

    # a concurrent compactor's LIVE claim: version dir + foreign owner
    foreign = os.path.join(base, "_versions", "000002")
    os.makedirs(foreign)
    with open(os.path.join(foreign, "_claim.json"), "w") as f:
        json.dump({"owner": "compact_table"}, f)

    upd = spark.createDataFrame([(0, 0, "S")], "k long, p long, val string")
    # the stream must NOT clear the foreign claim; merge then fails loudly
    with pytest.raises(FileExistsError):
        handler(upd, 0)
    assert os.path.isdir(foreign), "stream deleted a foreign writer's claim"
    assert os.path.exists(os.path.join(foreign, "_claim.json"))

    # drop the compactor claim (as if it committed elsewhere / was
    # manually recovered), then simulate the STREAM's own crashed claim:
    # owner-scoped recovery clears it and the replayed batch applies
    import shutil

    shutil.rmtree(foreign)
    with pytest.raises(FileNotFoundError):
        # marker was never written (merge raised), so batch 0 replays
        open(os.path.join(base, "_stream_batch_zzz"))
    handler(upd, 0)  # claims 000002 itself now, commits
    assert current_version(base) == 2

    # stream's own crash debris: claim stamped with the stream's owner
    own = os.path.join(base, "_versions", "000003")
    os.makedirs(own)
    import hashlib
    tag = hashlib.md5(os.path.abspath(ckpt).encode()).hexdigest()[:12]
    with open(os.path.join(own, "_claim.json"), "w") as f:
        json.dump({"owner": f"merge_stream:{tag}"}, f)
    upd2 = spark.createDataFrame([(1, 1, "T")], "k long, p long, val string")
    handler(upd2, 1)  # recovery clears OUR orphan, merge proceeds
    assert current_version(base) == 3
    assert (1, 1, "T") in _rows(read_table(spark, base))

    # manual recovery (owner=None) still clears everything
    stray = os.path.join(base, "_versions", "000004")
    os.makedirs(stray)
    assert recover_orphans(base) == [4]


def test_unowned_orphan_age_gate_self_heals(spark, base):
    # review r5 #1: a crash in the microsecond mkdir->claim window leaves
    # an UNOWNED orphan; owner-scoped recovery must clear it once it is
    # older than the grace window (else the stream wedges forever), but
    # must SKIP a fresh unowned dir (possibly a live writer mid-stamp).
    import time

    from veranda_spark.io.table import recover_orphans

    fresh = os.path.join(base, "_versions", "000002")
    os.makedirs(fresh)
    assert recover_orphans(base, owner="merge_stream:x") == []
    assert os.path.isdir(fresh), "fresh unowned dir must survive the grace"
    old_t = time.time() - 3600
    os.utime(fresh, (old_t, old_t))
    assert recover_orphans(base, owner="merge_stream:x") == [2]
    assert not os.path.isdir(fresh)


def test_compact_owner_unique_per_invocation(spark, tmp_path):
    # review r5 #3: two compactors must never share an owner string, or
    # owner-scoped recovery could clear a live second compactor's claim
    import json

    from veranda_spark.io.table import compact_table, create_table

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(8)], "k long, val string")
    create_table(df, path)
    # force file counts above threshold by two single-row merges, then
    # compact; churn again so the SECOND compact also does real work
    for j in range(2):
        merge_into(spark, path,
                   spark.createDataFrame([(100 + j, "x")], "k long, val string"),
                   keys=["k"])
    assert compact_table(spark, path, max_files=1)["compacted"] >= 1
    for j in range(2):
        merge_into(spark, path,
                   spark.createDataFrame([(200 + j, "y")], "k long, val string"),
                   keys=["k"])
    assert compact_table(spark, path, max_files=1)["compacted"] >= 1
    owners = []
    for name in sorted(os.listdir(os.path.join(path, "_versions"))):
        cp = os.path.join(path, "_versions", name, "_claim.json")
        if os.path.exists(cp):
            with open(cp) as f:
                o = json.load(f)["owner"]
            if o and o.startswith("compact_table:"):
                owners.append(o)
    assert len(owners) >= 2 and len(set(owners)) == len(owners), owners


def test_null_owner_claim_is_never_age_swept(spark, base):
    # review r5 pass-2 #1: a manual merge_into(owner=None) stamps
    # {"owner": null} — PRESENT claim, distinct from NO claim.  The
    # stream's owner-scoped recovery must never clear it, however old
    # (a long manual merge's mtime can go stale while Spark writes).
    import json
    import time

    from veranda_spark.io.table import recover_orphans

    d = os.path.join(base, "_versions", "000002")
    os.makedirs(d)
    with open(os.path.join(d, "_claim.json"), "w") as f:
        json.dump({"owner": None}, f)
    old_t = time.time() - 7200
    os.utime(d, (old_t, old_t))
    assert recover_orphans(base, owner="merge_stream:x") == []
    assert os.path.isdir(d)
    # manual recovery still clears it
    assert recover_orphans(base) == [2]


def test_stale_heartbeat_claim_self_heals(spark, base):
    # VERDICT r5 #5: a compactor that crashes mid-rewrite leaves a claim
    # carrying a heartbeat promise (hb_s).  Once the claim mtime goes
    # stale past stale_hb_multiple*hb_s, the stream's owner-scoped
    # recovery sweeps it — the stream self-heals without manual
    # recover_orphans(path).
    import json
    import time

    from veranda_spark.io.table import recover_orphans

    d = os.path.join(base, "_versions", "000002")
    os.makedirs(d)
    cp = os.path.join(d, "_claim.json")
    with open(cp, "w") as f:
        json.dump({"owner": "compact_table:deadbeef", "hb_s": 5.0}, f)
    # fresh claim (heartbeat current): never touched
    assert recover_orphans(base, owner="merge_stream:x") == []
    assert os.path.isdir(d), "live compactor's claim must survive"
    # heartbeat visibly broken: mtime 12*hb_s+ old -> swept
    old_t = time.time() - 3600
    os.utime(cp, (old_t, old_t))
    assert recover_orphans(base, owner="merge_stream:x") == [2]
    assert not os.path.isdir(d)


def test_foreign_claim_without_promise_never_swept(spark, base):
    # The pass-2 safety is preserved: a claim WITHOUT hb_s (a manual /
    # pre-heartbeat-era writer made no liveness promise) is never
    # age-swept no matter how stale its mtime.
    import json
    import time

    from veranda_spark.io.table import recover_orphans

    d = os.path.join(base, "_versions", "000002")
    os.makedirs(d)
    cp = os.path.join(d, "_claim.json")
    with open(cp, "w") as f:
        json.dump({"owner": "compact_table:nopromise"}, f)
    old_t = time.time() - 7200
    os.utime(cp, (old_t, old_t))
    os.utime(d, (old_t, old_t))
    assert recover_orphans(base, owner="merge_stream:x") == []
    assert os.path.isdir(d)


def test_claim_heartbeat_refreshes_mtime(tmp_path):
    # The _claim_heartbeat context refreshes the claim file's mtime
    # while the body runs, and stops when the body exits.
    import time

    from veranda_spark.io.table import _claim_heartbeat, _write_claim

    d = str(tmp_path / "v2")
    os.makedirs(d)
    _write_claim(d, "compact_table:hb", hb_s=0.1)
    cp = os.path.join(d, "_claim.json")
    old_t = time.time() - 100
    os.utime(cp, (old_t, old_t))
    with _claim_heartbeat(d, hb_s=0.1):
        time.sleep(0.5)
        live_mtime = os.stat(cp).st_mtime
    assert time.time() - live_mtime < 10, "heartbeat must refresh mtime"
    after = os.stat(cp).st_mtime
    time.sleep(0.4)
    assert os.stat(cp).st_mtime == after, "heartbeat must stop on exit"


def test_stream_self_heals_after_compactor_crash(spark, base, tmp_path):
    # End-to-end: dead-compactor debris on the table; the CDC stream's
    # next batch recovers it automatically and the merge commits.
    import json
    import time

    from veranda_spark.streaming.append import merge_batch_handler

    d = os.path.join(base, "_versions", "000002")
    os.makedirs(d)
    cp = os.path.join(d, "_claim.json")
    with open(cp, "w") as f:
        json.dump({"owner": "compact_table:crashed", "hb_s": 5.0}, f)
    old_t = time.time() - 3600
    os.utime(cp, (old_t, old_t))
    handle = merge_batch_handler(
        base, keys=["k"], checkpoint_dir=str(tmp_path / "ck"),
        partition_by="p",
    )
    batch = spark.createDataFrame([(3, 3, "streamed3")],
                                  "k long, p long, val string")
    handle(batch, 0)  # would raise FileExistsError without self-heal
    got = _rows(read_table(spark, base))
    assert (3, 3, "streamed3") in got and (3, 3, "v3") not in got


def test_claim_heartbeat_survives_transient_oserror(tmp_path, monkeypatch):
    # review r6 #5: a transient utime failure (ESTALE/EIO on network
    # storage) must not permanently kill a LIVE writer's heartbeat —
    # only FileNotFoundError (claim gone = committed/recovered) stops it.
    import time

    import veranda_spark.io.table as tbl

    d = str(tmp_path / "v2")
    os.makedirs(d)
    tbl._write_claim(d, "compact_table:flaky", hb_s=0.1)
    cp = os.path.join(d, "_claim.json")
    old_t = time.time() - 100
    os.utime(cp, (old_t, old_t))
    real_utime = os.utime
    fails = {"n": 0}

    def flaky_utime(path, *a, **kw):
        if fails["n"] < 3:
            fails["n"] += 1
            raise OSError(116, "Stale file handle", path)
        return real_utime(path, *a, **kw)

    monkeypatch.setattr(tbl.os, "utime", flaky_utime)
    with tbl._claim_heartbeat(d, hb_s=0.1):
        time.sleep(0.6)
        assert fails["n"] == 3, "transient errors must have been retried"
        assert time.time() - os.stat(cp).st_mtime < 10, (
            "heartbeat must recover after transient errors"
        )


def test_verify_claim_raises_on_missing_and_foreign_nonce(tmp_path):
    # ADVICE r6 (medium): the commit-time fence must refuse to publish
    # when the claim vanished (swept) or carries another writer's nonce
    # (swept + re-claimed under the same version number).
    import json

    import pytest

    from veranda_spark.io.table import _verify_claim, _write_claim

    d = str(tmp_path / "v2")
    os.makedirs(d)
    _write_claim(d, "merge:a", hb_s=5.0, nonce="ours")
    _verify_claim(d, "ours")  # happy path: no raise
    with open(os.path.join(d, "_claim.json"), "w") as f:
        json.dump({"owner": "merge:b", "hb_s": 5.0, "nonce": "theirs"}, f)
    with pytest.raises(RuntimeError, match="another writer re-claimed"):
        _verify_claim(d, "ours")
    os.remove(os.path.join(d, "_claim.json"))
    with pytest.raises(RuntimeError, match="missing/unreadable"):
        _verify_claim(d, "ours")


def test_frozen_writer_aborts_instead_of_dual_commit(spark, base, monkeypatch):
    # End-to-end fence: simulate a writer frozen past the stale sweep
    # whose claim was swept and re-claimed by a recoverer before the
    # writer resumed.  The resumed writer's merge must ABORT loudly and
    # must NOT move the committed version pointer.
    import json

    import pytest

    import veranda_spark.io.table as tbl
    from veranda_spark.io.table import current_version

    real_write_claim = tbl._write_claim

    def swept_then_reclaimed(vdir, owner, hb_s=None, nonce=None):
        real_write_claim(vdir, owner, hb_s=hb_s, nonce=nonce)
        # a recoverer swept our claim while we were frozen and a second
        # writer re-claimed the same version number with its own nonce
        with open(os.path.join(vdir, "_claim.json"), "w") as f:
            json.dump(
                {"owner": "merge:other", "hb_s": hb_s, "nonce": "foreign"}, f
            )

    monkeypatch.setattr(tbl, "_write_claim", swept_then_reclaimed)
    before = current_version(base)
    upd = spark.createDataFrame([(1, 1, "clobber")],
                                "k long, p long, val string")
    with pytest.raises(RuntimeError, match="re-claimed"):
        merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert current_version(base) == before, (
        "aborted merge must not publish a version"
    )
    got = _rows(read_table(spark, base))
    assert all(v != "clobber" for *_ks, v in got)
    # review r7 #3: the aborted writer's output was STAGED — the version
    # dir it wrote under must contain no visible (non-underscore) files
    # that a reader of a re-claimed committed version would pick up
    v2 = os.path.join(base, "_versions", "000002")
    visible = [n for n in os.listdir(v2) if not n.startswith("_")]
    assert visible == [], f"parquet debris leaked into version dir: {visible}"


# ---- schema evolution (round 8: Delta/Iceberg mergeSchema analog) ----------


def test_merge_schema_evolve_adds_column(spark, base):
    upd = spark.createDataFrame(
        [(3, 3, "u3", "hot"), (100, 0, "n100", "cold")],
        "k long, p long, val string, tag string",
    )
    with pytest.raises(ValueError, match="schema_mode='evolve'"):
        merge_into(spark, base, upd, keys=["k"], partition_by="p")
    res = merge_into(
        spark, base, upd, keys=["k"], partition_by="p", schema_mode="evolve"
    )
    assert res["version"] == 2
    t = read_table(spark, base)
    assert "tag" in t.columns
    got = {(r["k"], r["tag"]) for r in t.collect()}
    assert (3, "hot") in got and (100, "cold") in got
    # untouched rows — both in affected partitions and in CARRIED
    # partitions whose parquet files predate the column — read as null
    assert (7, None) in got and (1, None) in got and (2, None) in got
    assert t.count() == 21
    # time travel: version 1 keeps its own schema
    v1 = read_table(spark, base, version=1)
    assert "tag" not in v1.columns and v1.count() == 20


def test_merge_schema_evolve_missing_update_column(spark, base):
    upd = spark.createDataFrame([(200, 1)], "k long, p long")
    res = merge_into(
        spark, base, upd, keys=["k"], partition_by="p", schema_mode="evolve"
    )
    assert res["version"] == 2
    t = read_table(spark, base)
    row = {r["k"]: (r["p"], r["val"]) for r in t.collect()}[200]
    assert row == (1, None)
    assert t.count() == 21


def test_merge_schema_evolve_guards(spark, base):
    # type conflict: add-only, never a cast
    upd = spark.createDataFrame([(3, 3, 7)], "k long, p long, val int")
    with pytest.raises(ValueError, match="add-only"):
        merge_into(spark, base, upd, keys=["k"], partition_by="p",
                   schema_mode="evolve")
    # case-only name delta: withColumn resolves case-insensitively, so
    # "evolving" here would null the existing column (review r8 #2)
    updc = spark.createDataFrame([(3, 3, "x")], "k long, p long, VAL string")
    with pytest.raises(ValueError, match="only in case"):
        merge_into(spark, base, updc, keys=["k"], partition_by="p",
                   schema_mode="evolve")
    # non-integral partition type delta: '0.0' directories would bypass
    # the touched-partition match and duplicate rows (review r8 #3)
    updd = spark.createDataFrame(
        [(3, 3.0, "x")], "k long, p double, val string"
    )
    with pytest.raises(ValueError, match="add-only"):
        merge_into(spark, base, updd, keys=["k"], partition_by="p",
                   schema_mode="evolve")
    # updates lacking the partition column can never be null-routed
    upd2 = spark.createDataFrame([(3, "x")], "k long, val string")
    with pytest.raises(ValueError, match="key/partition"):
        merge_into(spark, base, upd2, keys=["k"], partition_by="p",
                   schema_mode="evolve")
    with pytest.raises(ValueError, match="schema_mode"):
        merge_into(spark, base, upd2, keys=["k"], partition_by="p",
                   schema_mode="wat")


def test_merge_schema_evolve_then_compact(spark, base):
    from veranda_spark.io.table import compact_table

    upd = spark.createDataFrame(
        [(3, 3, "u3", 1.5)], "k long, p long, val string, score double"
    )
    merge_into(spark, base, upd, keys=["k"], partition_by="p",
               schema_mode="evolve")
    before = {(r["k"], r["val"], r["score"])
              for r in read_table(spark, base).collect()}
    compact_table(spark, base, partition_by="p", max_files=1)
    after = {(r["k"], r["val"], r["score"])
             for r in read_table(spark, base).collect()}
    assert after == before and (3, "u3", 1.5) in after


# ---- keyed DELETE (round 8: right-to-be-forgotten primitive) ---------------


def test_delete_rows_partitioned(spark, base):
    from veranda_spark.io.table import delete_rows

    dels = spark.createDataFrame([(3,), (7,), (999,)], "k long")
    res = delete_rows(spark, base, dels, keys=["k"], partition_by="p")
    assert res["version"] == 2
    t = read_table(spark, base)
    ks = {r["k"] for r in t.collect()}
    assert 3 not in ks and 7 not in ks and len(ks) == 18
    # snapshot isolation: v1 still serves the deleted rows
    v1 = {r["k"] for r in read_table(spark, base, version=1).collect()}
    assert v1 >= {3, 7}


@pytest.mark.parametrize("partitioned", [True, False])
def test_delete_rows_empty_keys_is_identity(spark, base, tmp_path, partitioned):
    # a zero-row local relation as the key set: the optimizer may prune
    # the empty semi/anti join side, and the new version must still read
    # back identical to the previous one
    from veranda_spark.io.table import delete_rows
    from veranda_spark.session import local_df

    path, part = base, "p"
    if not partitioned:
        path, part = str(tmp_path / "flat_empty_keys"), None
        create_table(read_table(spark, base), path)
    before = _rows(read_table(spark, path))
    res = delete_rows(spark, path, local_df(spark, [], "k long"), keys=["k"],
                      partition_by=part)
    assert res == {"version": 2, "previous": 1}
    assert current_version(path) == 2
    assert _rows(read_table(spark, path)) == before
    assert len(before) == 20


def test_delete_rows_whole_partition_disappears(spark, base):
    from veranda_spark.io.table import delete_rows

    # partition p=2 holds keys 2,6,10,14,18 — delete all of them
    dels = spark.createDataFrame([(k,) for k in (2, 6, 10, 14, 18)], "k long")
    delete_rows(spark, base, dels, keys=["k"], partition_by="p")
    t = read_table(spark, base)
    assert t.filter(t.p == 2).count() == 0
    assert t.count() == 15


def test_delete_rows_partition_hint(spark, base):
    from veranda_spark.io.table import delete_rows

    # correct hint: pruned scan, same result
    dels = spark.createDataFrame([(5, 1)], "k long, p long")
    delete_rows(spark, base, dels, keys=["k"], partition_by="p",
                trust_partition_hint=True)
    assert 5 not in {r["k"] for r in read_table(spark, base).collect()}
    # WRONG hint silently skips (the documented opt-in hazard)
    dels2 = spark.createDataFrame([(6, 0)], "k long, p long")  # 6 lives in p=2
    delete_rows(spark, base, dels2, keys=["k"], partition_by="p",
                trust_partition_hint=True)
    assert 6 in {r["k"] for r in read_table(spark, base).collect()}


def test_delete_rows_all_rows_guarded(spark, base):
    from veranda_spark.io.table import current_version, delete_rows

    dels = spark.createDataFrame([(k,) for k in range(20)], "k long")
    with pytest.raises(ValueError, match="every row"):
        delete_rows(spark, base, dels, keys=["k"], partition_by="p")
    # table untouched, no orphan version directory left behind
    # (version dirs are zero-padded — review r8 pass-4 #2 fixed an
    # assertion that checked the never-existing "2")
    assert current_version(base) == 1
    assert read_table(spark, base).count() == 20
    assert not os.path.isdir(os.path.join(base, "_versions", "000002"))
    # a typo'd key name fails BEFORE the version claim (no orphan)
    with pytest.raises(ValueError, match="table lacks key"):
        delete_rows(spark, base, spark.createDataFrame([(1,)], "K long"),
                    keys=["K"], partition_by="p")
    assert not os.path.isdir(os.path.join(base, "_versions", "000002"))


def test_delete_rows_all_rows_unpartitioned_ok(spark, tmp_path):
    # unpartitioned delete-all is SAFE: Spark writes a schema-only
    # empty part file, so the empty snapshot stays readable
    from veranda_spark.io.table import create_table, delete_rows

    path = str(tmp_path / "flat_all")
    create_table(
        spark.createDataFrame([(i,) for i in range(5)], "k long"), path
    )
    res = delete_rows(spark, path,
                      spark.createDataFrame([(i,) for i in range(5)],
                                            "k long"), keys=["k"])
    assert res["version"] == 2
    t = read_table(spark, path)
    assert t.count() == 0 and t.columns == ["k"]


def test_delete_rows_unpartitioned(spark, tmp_path):
    from veranda_spark.io.table import create_table, delete_rows

    path = str(tmp_path / "flat")
    create_table(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                              "k long, val string"),
        path,
    )
    delete_rows(spark, path, spark.createDataFrame([(4,)], "k long"),
                keys=["k"])
    assert {r["k"] for r in read_table(spark, path).collect()} == (
        set(range(10)) - {4}
    )


# ---- RESTORE (round 8: Delta RESTORE analog) --------------------------------


def test_restore_version_partitioned(spark, base):
    from veranda_spark.io.table import delete_rows, restore_version

    upd = spark.createDataFrame([(3, 3, "X3")], "k long, p long, val string")
    merge_into(spark, base, upd, keys=["k"], partition_by="p")       # v2
    delete_rows(spark, base,
                spark.createDataFrame([(7,)], "k long"),
                keys=["k"], partition_by="p")                         # v3
    res = restore_version(base, 1)                                   # v4
    assert res == {"version": 4, "restored": 1, "previous": 3}
    # content identical to v1: un-deleted, un-merged
    assert _rows(read_table(spark, base)) == _rows(
        read_table(spark, base, version=1)
    )
    # non-destructive: v2/v3 still time-travel
    assert (3, 3, "X3") in _rows(read_table(spark, base, version=2))
    assert 7 not in {r["k"]
                     for r in read_table(spark, base, version=3).collect()}
    # the table keeps working: a merge after restore claims v5
    upd2 = spark.createDataFrame([(0, 0, "Z")], "k long, p long, val string")
    assert merge_into(spark, base, upd2, keys=["k"],
                      partition_by="p")["version"] == 5
    assert (0, 0, "Z") in _rows(read_table(spark, base))


def test_restore_version_guards_and_unpartitioned(spark, tmp_path):
    from veranda_spark.io.table import delete_rows, restore_version

    path = str(tmp_path / "flat_r")
    create_table(
        spark.createDataFrame([(i, f"v{i}") for i in range(6)],
                              "k long, val string"), path,
    )
    delete_rows(spark, path, spark.createDataFrame([(2,)], "k long"),
                keys=["k"])                                           # v2
    with pytest.raises(ValueError, match="already current"):
        restore_version(path, 2)
    with pytest.raises(ValueError, match="does not exist"):
        restore_version(path, 9)
    restore_version(path, 1)                                          # v3
    got = {(r["k"], r["val"]) for r in read_table(spark, path).collect()}
    assert got == {(i, f"v{i}") for i in range(6)}


@pytest.mark.parametrize("links", [True, False], ids=["links", "no_links"])
def test_restore_then_expire_preserves_content(spark, base, monkeypatch, links):
    """restore_version's carried partitions must survive expire_versions:
    linked inodes outlive the expired directories, and on a filesystem
    that refuses links the restored version holds its own copies."""
    from veranda_spark.io.table import (
        delete_rows, expire_versions, restore_version,
    )

    if not links:
        _no_links(monkeypatch)

    delete_rows(spark, base, spark.createDataFrame([(3,), (7,)], "k long"),
                keys=["k"], partition_by="p")                         # v2
    restore_version(base, 1)                                          # v3
    want = _rows(read_table(spark, base))
    expire_versions(base, keep=1)
    assert _rows(read_table(spark, base)) == want
    assert len(want) == 20  # the restore really un-deleted


def test_restore_layout_self_derived(spark, base):
    """Review r8 pass-5 #1 regression: restore on a PARTITIONED table
    takes no partition argument — the snapshot's own layout drives the
    carry, so the old failure mode (wrong/omitted partition name →
    empty snapshot committed, table unreadable) is unrepresentable."""
    from veranda_spark.io.table import delete_rows, restore_version

    delete_rows(spark, base, spark.createDataFrame([(3,)], "k long"),
                keys=["k"], partition_by="p")                         # v2
    res = restore_version(base, 1)                                    # v3
    assert res["restored"] == 1
    t = read_table(spark, base)
    assert t.count() == 20 and 3 in {r["k"] for r in t.collect()}


def test_wrong_partition_column_is_loud(spark, base):
    """Review r8 pass-6 #1: a WRONG partition_by used to carry nothing
    as untouched and silently drop every row outside the rewritten set
    — _old_partitions now validates the caller's column against the
    snapshot's physical layout, so merge/delete/compact all fail
    loudly before any write."""
    from veranda_spark.io.table import compact_table, delete_rows

    upd = spark.createDataFrame([(3, 3, "x")], "k long, p long, val string")
    with pytest.raises(ValueError, match="partitioned by"):
        merge_into(spark, base, upd, keys=["k"], partition_by="val")
    with pytest.raises(ValueError, match="partitioned by"):
        delete_rows(spark, base, spark.createDataFrame([(3,)], "k long"),
                    keys=["k"], partition_by="val")
    with pytest.raises(ValueError, match="partitioned by|no .*partitions"):
        compact_table(spark, base, partition_by="val", max_files=0)
    # table untouched by all three
    assert current_version(base) == 1
    assert read_table(spark, base).count() == 20
