"""Versioned table MERGE: upsert semantics, snapshot isolation, COW."""

import json
import os

import pytest
from pyspark.sql.types import StructType

from veranda_spark.io.table import (
    create_table,
    current_version,
    list_versions,
    merge_into,
    read_table,
)


def _rows(df):
    return {(r["k"], r["p"], r["val"]) for r in df.collect()}


def _published_schema(path, version):
    vdir = os.path.join(path, "_versions", f"{version:06d}")
    with open(os.path.join(vdir, "_schema.json")) as f:
        return StructType.fromJson(json.load(f))


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
    for missing in (9, 0):
        with pytest.raises(ValueError, match="does not exist"):
            read_table(spark, base, version=missing)


def _merge_k1(spark, path):
    upd = spark.createDataFrame([(1, 1, "Y")], "k long, p long, val string")
    merge_into(spark, path, upd, keys=["k"], partition_by="p")


def _delete_k1(spark, path):
    from veranda_spark.io.table import delete_rows

    delete_rows(spark, path, spark.createDataFrame([(1,)], "k long"),
                keys=["k"], partition_by="p")


_MUTATIONS = pytest.mark.parametrize(
    "mutate", [_merge_k1, _delete_k1], ids=["merge_into", "delete_rows"]
)


@_MUTATIONS
def test_cow_links_untouched_partitions(spark, base, mutate):
    # key 1 lives in p=1: only that partition is rewritten
    mutate(spark, base)
    v1 = os.path.join(base, "_versions", "000001")
    v2 = os.path.join(base, "_versions", "000002")
    # untouched partitions: files are the SAME inodes (hard links)
    for part in ("p=0", "p=2", "p=3"):
        assert _inodes(v1, part) and _inodes(v1, part) == _inodes(v2, part)
    # the touched partition p=1 was rewritten into ONE new file
    assert len(_inodes(v2, "p=1")) == 1
    assert not (
        set(_inodes(v1, "p=1").values()) & set(_inodes(v2, "p=1").values())
    )


# Spark jobs of one merge_into or delete_rows on the `base` fixture at
# local[4] with 8 shuffle partitions (9 each; read_table runs none, as it
# scans with the version's stored schema): an upper bound, so neither
# the rewrite path nor schema inference can add a job unnoticed
_MAX_JOBS = 9


@_MUTATIONS
def test_mutation_job_count(spark, base, mutate):
    # the count depends on the shuffle partition count (10 for both at 2),
    # and get_spark on the live session resets it, so pin the fixture's 8
    sc = spark.sparkContext
    group = f"table_{mutate.__name__}"
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "8")
    sc.setJobGroup(group, "one table mutation")
    try:
        mutate(spark, base)
    finally:
        sc.setJobGroup("table_done", "")
        spark.conf.set(conf, old)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= _MAX_JOBS, n_jobs
    assert current_version(base) == 2


def test_partition_move_rewrites_both_sides(spark, base):
    # key 2 moves from p=2 to p=0: old copy must vanish
    upd = spark.createDataFrame([(2, 0, "moved")], "k long, p long, val string")
    merge_into(spark, base, upd, keys=["k"], partition_by="p")
    got = _rows(read_table(spark, base))
    assert (2, 0, "moved") in got and (2, 2, "v2") not in got
    assert len(got) == 20


def test_crashed_merge_is_invisible(spark, base):
    # a writer killed before its publish rename leaves only its stage —
    # parquet under _staging/<uuid>/ — which changes no read and blocks
    # no writer: the next merge commits version 2 with no recovery call
    import uuid

    from veranda_spark.io.table import recover_orphans

    before = _rows(read_table(spark, base))
    stage = os.path.join(base, "_staging", uuid.uuid4().hex)
    spark.createDataFrame([(0, 0, "ghost")], "k long, p long, val string")\
        .write.partitionBy("p").parquet(stage)
    assert current_version(base) == 1 and list_versions(base) == [1]
    assert _rows(read_table(spark, base)) == before
    upd = spark.createDataFrame([(0, 0, "Z")], "k long, p long, val string")
    res = merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert res == {"version": 2, "previous": 1}
    got = _rows(read_table(spark, base))
    assert (0, 0, "Z") in got and (0, 0, "ghost") not in got
    # the manual sweep removes the debris, and only the debris
    assert recover_orphans(base) == [os.path.basename(stage)]
    assert os.listdir(os.path.join(base, "_staging")) == []
    assert _rows(read_table(spark, base)) == got


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


def test_no_links_merge_copies_carried_partitions(spark, base, monkeypatch):
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


def test_no_links_table_survives_relocation(spark, tmp_path, monkeypatch):
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
    assert list_versions(dst) == [1, 2]


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


def test_same_base_race_exactly_one_commits(spark, base, monkeypatch):
    # two writers from the same base: the one that publishes second
    # finds its version number taken and fails loudly; the first
    # commit survives whole and the loser leaves no stage behind
    import veranda_spark.io.table as tbl

    real = tbl._publish
    rival = spark.createDataFrame([(2, 2, "rival")],
                                  "k long, p long, val string")

    def rival_publishes_first(stage, vdir):
        monkeypatch.setattr(tbl, "_publish", real)
        assert merge_into(spark, base, rival, keys=["k"],
                          partition_by="p")["version"] == 2
        real(stage, vdir)

    monkeypatch.setattr(tbl, "_publish", rival_publishes_first)
    upd = spark.createDataFrame([(1, 1, "loser")],
                                "k long, p long, val string")
    with pytest.raises(FileExistsError):
        merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert list_versions(base) == [1, 2]
    got = _rows(read_table(spark, base))
    assert (2, 2, "rival") in got and (1, 1, "v1") in got and len(got) == 20
    assert os.listdir(os.path.join(base, "_staging")) == []


def test_concurrent_publishers_take_each_version_once(tmp_path):
    # more racing writers than cores, no Spark: every published version
    # holds exactly the stage of the one writer told it won, losers get
    # FileExistsError, and no stage outlives its writer
    import sys
    import threading

    import veranda_spark.io.table as tbl

    path = str(tmp_path / "race")
    wins, twice, lock = {}, [], threading.Lock()

    def writer(wid):
        for i in range(25):
            base = current_version(path)
            try:
                with tbl._staged_version(path, base, StructType([])) as stage:
                    with open(os.path.join(stage, "who"), "w") as f:
                        f.write(f"{wid}:{i}")
            except FileExistsError:
                continue
            with lock:
                if (base or 0) + 1 in wins:
                    twice.append((base or 0) + 1)
                wins[(base or 0) + 1] = f"{wid}:{i}"

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(w,))
                   for w in range(2 * os.cpu_count())]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert twice == [], "a version number was won twice"
    assert list_versions(path) == sorted(wins) == list(range(1, len(wins) + 1))
    for v, who in wins.items():
        with open(os.path.join(path, "_versions", f"{v:06d}", "who")) as f:
            assert f.read() == who
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_stream_self_heals_after_compactor_crash(spark, base, tmp_path):
    # a compactor killed mid-rewrite leaves its stage (carried links and
    # parquet) under _staging/; the CDC stream's next batch commits
    # beside it with no recovery step, and the debris changes no read
    import shutil

    from veranda_spark.streaming.append import merge_batch_handler

    debris = os.path.join(base, "_staging", "0" * 32)
    shutil.copytree(os.path.join(base, "_versions", "000001"), debris)
    handle = merge_batch_handler(
        base, keys=["k"], checkpoint_dir=str(tmp_path / "ck"),
        partition_by="p",
    )
    batch = spark.createDataFrame([(3, 3, "streamed3")],
                                  "k long, p long, val string")
    handle(batch, 0)
    assert current_version(base) == 2
    got = _rows(read_table(spark, base))
    assert (3, 3, "streamed3") in got and (3, 3, "v3") not in got
    assert len(got) == 20
    assert os.path.isdir(debris)


def test_frozen_writer_aborts_instead_of_dual_commit(spark, base, monkeypatch):
    # a writer frozen after staging (base v1, publishing v2) while two
    # other commits land and expire_versions(keep=1) vacates v2: on
    # resume its rename hits v2's tombstone and fails, so its stale
    # snapshot never becomes readable under the vacated number
    import veranda_spark.io.table as tbl
    from veranda_spark.io.table import expire_versions

    real = tbl._publish

    def frozen(stage, vdir):
        monkeypatch.setattr(tbl, "_publish", real)
        for k, val in ((2, "w2"), (3, "w3")):                      # v2, v3
            merge_into(spark, base,
                       spark.createDataFrame([(k, k % 4, val)],
                                             "k long, p long, val string"),
                       keys=["k"], partition_by="p")
        assert expire_versions(base, keep=1) == [1, 2]
        real(stage, vdir)

    monkeypatch.setattr(tbl, "_publish", frozen)
    upd = spark.createDataFrame([(1, 1, "stale")],
                                "k long, p long, val string")
    with pytest.raises(FileExistsError):
        merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert list_versions(base) == [3] and current_version(base) == 3
    for v in (1, 2):
        with pytest.raises(ValueError, match="does not exist"):
            read_table(spark, base, version=v)
    got = _rows(read_table(spark, base))
    assert (3, 3, "w3") in got and all(v != "stale" for *_ks, v in got)
    assert os.listdir(os.path.join(base, "_staging")) == []


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
    # a typo'd key name fails BEFORE any staging (no orphan)
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
    # the table keeps working: a merge after restore commits v5
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


_PARTITION_TYPES = [
    ("decimal(5,2)", ("1.50", "2.00")),
    ("string", ("010", "020")),
    ("string", ("a:b/c%d", "plain")),
    ("string", ("", "x")),
    ("string", ("x", None)),
    ("date", ("2020-01-02", "1999-12-31")),
    ("timestamp", ("2020-01-02 03:04:05", "2020-01-02 03:04:05.123456")),
    ("boolean", (True, False)),
    ("double", (1e20, -0.0)),
    ("float", (1.5, -0.0)),
    ("int", (1, 2)),
    ("bigint", (2**40, 7)),
]


@pytest.mark.parametrize(
    "ptype,pvals", _PARTITION_TYPES,
    ids=["decimal", "leading_zero", "escaped", "empty", "null", "date",
         "timestamp", "boolean", "double", "float", "int", "bigint"],
)
@pytest.mark.parametrize("op", ["merge_into", "delete_rows"])
def test_mutation_round_trips_partition_types(spark, tmp_path, op, ptype, pvals):
    # read with its stored schema, a partition column comes back with the
    # type it was written with, so its values name their directories: a
    # matched key's partition is found, and a new key merged into an
    # existing partition keeps that partition's other rows (key 3 into
    # p=1.50 keeps key 1)
    from pyspark.sql import functions as F

    from veranda_spark.io.table import delete_rows

    path = str(tmp_path / "tbl")

    def frame(rows):
        # the values are Spark's own casts of the literals
        df = spark.createDataFrame(
            [(k, None if v is None else str(v), val) for k, v, val in rows],
            "k long, p string, val string",
        )
        return df.select("k", F.col("p").cast(ptype).alias("p"), "val")

    def rendered(df):
        # Spark writes an empty-string partition value as the NULL
        # partition, so '' reads back as null
        p = F.col("p").cast("string")
        return set(map(tuple, df.select("k", F.when(p != "", p), "val").collect()))

    a, b = pvals
    create_table(frame([(1, a, "v1"), (2, b, "v2")]), path, partition_by="p")
    if op == "merge_into":
        merge_into(spark, path, frame([(2, b, "U2"), (3, a, "v3")]),
                   keys=["k"], partition_by="p")
        want = [(1, a, "v1"), (2, b, "U2"), (3, a, "v3")]
    else:
        delete_rows(spark, path, spark.createDataFrame([(1,)], "k long"),
                    keys=["k"], partition_by="p")
        want = [(2, b, "v2")]
    assert list_versions(path) == [1, 2]
    t = read_table(spark, path)
    assert t.schema["p"].dataType.simpleString() == ptype
    assert t.schema == _published_schema(path, 2)
    assert rendered(t) == rendered(frame(want))


# ---- every version carries its schema ---------------------------------------


def _assert_versions_carry_schema(spark, path):
    # read_table returns exactly the published schema: order included
    for v in list_versions(path):
        got = read_table(spark, path, version=v).schema
        assert got == _published_schema(path, v), v


@pytest.mark.parametrize("part", ["p", None], ids=["partitioned", "flat"])
def test_every_writer_publishes_its_schema(spark, tmp_path, part):
    from veranda_spark.io.table import (
        compact_table, delete_rows, restore_version, write_once,
    )

    schema = "k long, p long, val string"
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(12)], schema
    ).repartition(4)
    path = str(tmp_path / "t")
    create_table(df, path, partition_by=part)                         # v1
    res = compact_table(spark, path, partition_by=part,
                        max_files=0 if part else 1)                   # v2
    assert res["version"] == 2
    upd = spark.createDataFrame([(1, 1, "U"), (50, 2, "n")], schema)
    merge_into(spark, path, upd, keys=["k"], partition_by=part)       # v3
    delete_rows(spark, path, spark.createDataFrame([(4,)], "k long"),
                keys=["k"], partition_by=part)                        # v4
    restore_version(path, 1)                                          # v5
    assert list_versions(path) == [1, 2, 3, 4, 5]
    order = ["k", "val", "p"] if part else ["k", "p", "val"]
    assert read_table(spark, path).columns == order
    _assert_versions_carry_schema(spark, path)

    once = str(tmp_path / "once")
    write_once(df, once, "fp", partition_by=part)
    assert read_table(spark, once).columns == order
    _assert_versions_carry_schema(spark, once)


def test_append_rows_unions_schemas_and_refuses_type_conflicts(spark, tmp_path):
    from veranda_spark.io.table import append_rows

    path = str(tmp_path / "sink")
    append_rows(spark.createDataFrame([(1, 0, "a")], "k long, p long, val string"),
                path, "p")                                            # v1
    # a new column, a missing one and another column order
    append_rows(spark.createDataFrame([(0, "hot", 2)], "p long, tag string, k long"),
                path, "p")                                            # v2
    t = read_table(spark, path)
    assert t.columns == ["k", "val", "tag", "p"]
    assert set(map(tuple, t.collect())) == {(1, "a", None, 0), (2, None, "hot", 0)}
    _assert_versions_carry_schema(spark, path)
    bad = spark.createDataFrame([(3, 1, 7)], "k long, p long, val int")
    with pytest.raises(ValueError, match=r"'val' \(string in the table, int here\)"):
        append_rows(bad, path, "p")
    assert list_versions(path) == [1, 2]
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_strict_merge_refuses_a_changed_column_type(spark, base):
    # unionByName would widen the rewritten partitions' files away from
    # the stored type; the merge raises before any write instead
    upd = spark.createDataFrame([(3, 3, 7)], "k long, p long, val int")
    with pytest.raises(ValueError, match="schema mismatch: column type differs"):
        merge_into(spark, base, upd, keys=["k"], partition_by="p")
    assert list_versions(base) == [1]
    assert (3, 3, "v3") in _rows(read_table(spark, base))


def test_version_without_schema_is_refused(spark, base):
    from veranda_spark.io.table import (
        append_rows, compact_table, delete_rows, restore_version,
    )

    upd = spark.createDataFrame([(1, 1, "Y")], "k long, p long, val string")
    merge_into(spark, base, upd, keys=["k"], partition_by="p")        # v2
    missing = r"_schema\.json is missing.*recreate it with create_table"
    os.remove(os.path.join(base, "_versions", "000001", "_schema.json"))
    with pytest.raises(ValueError, match=missing):
        read_table(spark, base, version=1)
    with pytest.raises(ValueError, match=missing):
        restore_version(base, 1)
    os.remove(os.path.join(base, "_versions", "000002", "_schema.json"))
    for mutate in (
        lambda: read_table(spark, base),
        lambda: merge_into(spark, base, upd, keys=["k"], partition_by="p"),
        lambda: delete_rows(spark, base, spark.createDataFrame([(1,)], "k long"),
                            keys=["k"], partition_by="p"),
        lambda: append_rows(upd, base, "p"),
        lambda: compact_table(spark, base, partition_by="p", max_files=0),
    ):
        with pytest.raises(ValueError, match=missing):
            mutate()
    assert list_versions(base) == [1, 2]
