"""Concurrent-writer safety (round 6, VERDICT r5 item 3): the snapshot
publish is an optimistic-concurrency CAS serialized by an flock on
``_meta/commit.lock`` — no interleaving of a streaming driver with a
maintenance job (or two drivers) can drop a commit. Every write plans
against ONE snapshot read and publishes as that snapshot's successor; on a
conflict the whole operation re-plans against the fresh snapshot (a commit
rebased onto a snapshot it never read would drop the concurrent append's
rows)."""

import datetime as dt
import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.sinks.lake import CommitConflictError, LakeTable

_SCHEMA = (
    "url string, op string, warc_ts timestamp, pos long, is_deleted int, val long"
)


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def _rows(spark, tag, n, base_pos):
    return spark.createDataFrame(
        [(f"{tag}-{i}", "c", _ts(base_pos + i), base_pos + i, 0, i) for i in range(n)],
        _SCHEMA,
    )


def test_publish_cas_rejects_raced_snapshot_id(spark, tmp_path):
    """Two handles build against the same parent; the second publish of the
    same snapshot id must fail with CommitConflictError, never overwrite."""
    t1 = LakeTable(str(tmp_path / "t"), key="url", n_buckets=2)
    t1.merge_lww(spark, _rows(spark, "a", 3, 0), epoch_id=0)
    cur = t1.current_snapshot()
    loser = dict(cur, snapshot_id=cur["snapshot_id"])  # id already taken
    with pytest.raises(CommitConflictError):
        t1._publish(loser)
    # and an id BEHIND the pointer is equally refused
    with pytest.raises(CommitConflictError):
        t1._publish(dict(cur, snapshot_id=cur["snapshot_id"] - 1))


def test_torn_publish_is_recovered(spark, tmp_path):
    """A writer that died between writing snap-N.json and swapping the
    pointer leaves a torn commit; the next writer (who can only reach that
    state holding the lock the dead writer no longer does) removes it and
    commits normally."""
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=2)
    t.merge_lww(spark, _rows(spark, "a", 3, 0), epoch_id=0)
    sid = t.current_snapshot()["snapshot_id"]
    orphan = os.path.join(t.meta_dir, f"snap-{sid + 1:012d}.json")
    with open(orphan, "w") as f:
        json.dump({"snapshot_id": sid + 1, "torn": True}, f)
    out = t.merge_lww(spark, _rows(spark, "b", 2, 100), epoch_id=1)
    assert out is not None and out["snapshot_id"] == sid + 1
    with open(orphan) as f:
        assert "torn" not in json.load(f)  # replaced by the real commit
    assert t.read(spark).count() == 5


def test_two_threads_interleaved_merges_lose_nothing(spark, tmp_path):
    """The real race: two writer handles on the same table path, merging
    from two threads concurrently. Every epoch must land (retry on
    conflict), the snapshot chain must be contiguous, and the final live
    set must be the union of both writers' keys."""
    path = str(tmp_path / "t")
    t1 = LakeTable(path, key="url", n_buckets=4)
    t2 = LakeTable(path, key="url", n_buckets=4)
    n_epochs, rows_per = 4, 5
    errs: list = []
    gate = threading.Barrier(2)

    def writer(table, tag, epoch_base):
        try:
            gate.wait()
            for e in range(n_epochs):
                table.merge_lww(
                    spark,
                    _rows(spark, f"{tag}{e}", rows_per, epoch_base * 10 + e * 1000),
                    epoch_id=epoch_base + e,
                )
        except Exception as ex:  # surfaced below
            errs.append(ex)

    th1 = threading.Thread(target=writer, args=(t1, "a", 0))
    th2 = threading.Thread(target=writer, args=(t2, "b", 100))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs, errs
    final = LakeTable(path, key="url", n_buckets=4)
    snap = final.current_snapshot()
    # all 8 epochs committed exactly once
    assert set(snap["epochs"]) == {str(e) for e in list(range(4)) + list(range(100, 104))}
    # contiguous snapshot chain: one commit per epoch, no lost/skipped sid
    assert snap["snapshot_id"] == 2 * n_epochs
    # the live set is the union of both writers' keys
    assert final.read(spark).count() == 2 * n_epochs * rows_per


def test_compact_replans_when_racing_an_append(spark, tmp_path):
    """Deterministic race: a concurrent merge lands between compact's read
    and its publish. The compaction's first attempt must CONFLICT (not
    silently drop the merge), and the re-planned attempt must fold the
    merged rows in."""
    path = str(tmp_path / "t")
    t1 = LakeTable(path, key="url", n_buckets=4)
    t2 = LakeTable(path, key="url", n_buckets=4)
    for e in range(3):
        t1.merge_lww(spark, _rows(spark, f"a{e}", 4, e * 100), epoch_id=e)
    orig = t1._publish
    fired = {"n": 0}

    def racy(snapshot):
        if fired["n"] == 0:
            fired["n"] += 1
            # the concurrent writer sneaks in AFTER compact staged its data
            t2.merge_lww(spark, _rows(spark, "race", 3, 9000), epoch_id=50)
        return orig(snapshot)

    t1._publish = racy
    out = t1.compact(spark)
    assert out is not None and out["kind"] == "compact"
    assert fired["n"] == 1  # the race actually happened
    final = LakeTable(path, key="url", n_buckets=4)
    live = {r["url"] for r in final.read(spark).collect()}
    assert {"race-0", "race-1", "race-2"} <= live  # nothing dropped
    assert len(live) == 3 * 4 + 3
    assert "50" in final.current_snapshot()["epochs"]  # epoch survived too



@pytest.mark.parametrize("op", ["compact", "compact_min_files", "replace_keys"])
def test_rewrite_replans_when_an_append_lands_after_its_planning_read(
    spark, tmp_path, op
):
    """A concurrent merge lands right AFTER the rewrite's planning read, so
    the snapshot the rewrite planned from is stale before its data job
    runs. The publish must conflict against THAT snapshot and the rewrite
    must re-plan: every raced row stays live, the raced epoch stays logged,
    and the rewrite's own effect still lands."""
    path = str(tmp_path / "t")
    t1 = LakeTable(path, key="url", n_buckets=4)
    t2 = LakeTable(path, key="url", n_buckets=4)
    for e in range(3):
        t1.merge_lww(spark, _rows(spark, f"a{e}", 4, e * 100), epoch_id=e)
    orig = t1._read_resolved
    fired = {"n": 0}

    def racy_read(*args, **kwargs):
        out = orig(*args, **kwargs)
        if fired["n"] == 0:
            fired["n"] += 1
            t2.merge_lww(spark, _rows(spark, "race", 3, 9000), epoch_id=50)
        return out

    t1._read_resolved = racy_read
    keys = [f"a0-{i}" for i in range(4)]
    if op == "replace_keys":
        new = spark.createDataFrame(
            [(k, "u", _ts(5000 + i), 5000 + i, 0, 999) for i, k in enumerate(keys)],
            _SCHEMA,
        )
        out = t1.replace_keys(spark, new, new.select("url"), epoch_id=7)
    else:
        out = t1.compact(spark, min_files=2 if op == "compact_min_files" else None)
    assert out is not None
    assert fired["n"] == 1  # the race actually happened
    final = LakeTable(path, key="url", n_buckets=4)
    got = {r["url"]: r["val"] for r in final.read(spark).collect()}
    assert {"race-0", "race-1", "race-2"} <= set(got)  # nothing dropped
    assert len(got) == 3 * 4 + 3
    epochs = final.current_snapshot()["epochs"]
    assert "50" in epochs
    if op == "replace_keys":
        assert [got[k] for k in keys] == [999] * 4 and "7" in epochs
        # the attempt that lost the publish race removed its sidecar
        sidecar = final.current_snapshot()["meta"]["replaced_keys"]
        assert os.listdir(os.path.join(path, "_meta", "replaced")) == [
            os.path.basename(sidecar)
        ]
    else:
        assert final.max_files_per_bucket() == 1

def test_append_retry_unions_concurrently_evolved_schema(spark, tmp_path):
    """A retried append must carry forward columns a concurrent writer
    evolved between its read and its publish."""
    path = str(tmp_path / "t")
    t1 = LakeTable(path, key="url", n_buckets=2)
    t2 = LakeTable(path, key="url", n_buckets=2)
    t1.merge_lww(spark, _rows(spark, "a", 2, 0), epoch_id=0)
    orig = t1._publish
    fired = {"n": 0}

    def racy(snapshot):
        if fired["n"] == 0:
            fired["n"] += 1
            t2.merge_lww(
                spark,
                _rows(spark, "evo", 2, 500).withColumn("x_new", F.lit("v")),
                epoch_id=10,
            )
        return orig(snapshot)

    t1._publish = racy
    t1.merge_lww(spark, _rows(spark, "b", 2, 100), epoch_id=1)
    final = LakeTable(path, key="url", n_buckets=2)
    cols = {n for n, _ in final.schema_columns()}
    assert "x_new" in cols  # not hidden by the retried append's snapshot
    got = {r["url"]: r["x_new"] for r in final.read(spark).collect()}
    assert got["evo-0"] == "v" and got["b-0"] is None


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER_SRC = '''
"""Two-process race worker: merge N disjoint epochs into a shared table."""
import sys

from pyspark.sql import SparkSession

sys.path.insert(0, "@REPO_ROOT@")
from changedatacapture_spark.sinks.lake import LakeTable

path, tag, e0, n = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
spark = (
    SparkSession.builder.master("local[2]")
    .appName(f"race-{tag}")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
import datetime as dt

t = LakeTable(path, key="url", n_buckets=4)
for k in range(n):
    e = e0 + k
    rows = spark.createDataFrame(
        [
            (f"{tag}-{e}-{i}", "c", dt.datetime(2024, 1, 1, 0, 0, e), e * 1000 + i, 0, i)
            for i in range(25)
        ],
        "url string, op string, warc_ts timestamp, pos long, is_deleted int, val long",
    )
    t.merge_lww(spark, rows, epoch_id=e)
spark.stop()
print("WORKER-DONE", tag)
'''


def test_two_processes_interleaved_merges_lose_nothing(spark, tmp_path):
    """The verdict's literal criterion: TWO OS PROCESSES (separate JVMs,
    separate Python drivers) merging disjoint epochs into the same table
    path concurrently — the flock on _meta/commit.lock and the CAS retry
    must serialize the publishes so that every commit lands. Threads share
    the driver JVM; only separate processes prove the advisory lock and
    the torn-publish recovery across real process boundaries."""
    import subprocess
    import sys as _sys

    path = str(tmp_path / "t")
    # seed the table so both workers adopt the same layout
    t = LakeTable(path, key="url", n_buckets=4)
    t.merge_lww(spark, _rows(spark, "seed", 10, 0), epoch_id=100)

    wf = str(tmp_path / "worker.py")
    with open(wf, "w") as f:
        # derive the repo root from this file's location (ADVICE r6: a
        # hardcoded /root/repo silently imported the wrong tree elsewhere)
        f.write(_WORKER_SRC.replace("@REPO_ROOT@", _REPO_ROOT))
    env = dict(os.environ, PYTHONPATH=_REPO_ROOT)
    procs = [
        subprocess.Popen(
            [_sys.executable, wf, path, tag, str(e0), "4"],
            env=env,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for tag, e0 in (("a", 0), ("b", 50))
    ]
    outs = [p.communicate(timeout=600)[0].decode() for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    # no lost commit: all 9 epochs present (seed + 2×4), all rows live
    t2 = LakeTable(path, key="url", n_buckets=4)
    eps = {int(e) for e in t2.current_snapshot()["epochs"]}
    assert {100, 0, 1, 2, 3, 50, 51, 52, 53} <= eps, eps
    live = t2.read(spark)
    assert live.count() == 10 + 2 * 4 * 25
    assert live.where(F.col("url").startswith("a-")).count() == 100
    assert live.where(F.col("url").startswith("b-")).count() == 100
