"""Round-6 part 2: change-feed preimages (`include_old=`) and the
feed-driven vector-index mirror (`VectorFeedMirror`) — the engine's literal
analogue of the reference's Pinecone updater loop
(incremental_pinecone_updater.py:97-202 tail + route, :245-277 upsert/delete
by id, full re-sync fallback)."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.sinks.lake import LakeTable


def _rows(spark, data):
    df = spark.createDataFrame(
        data, "url string, op string, us long, pos long, val int, is_deleted int"
    )
    return df.withColumn("warc_ts", F.timestamp_micros("us")).drop("us")


def _srows(spark, data):
    df = spark.createDataFrame(
        data,
        "url string, op string, us long, pos long, idx int, "
        "content string, is_deleted int",
    )
    return df.withColumn("warc_ts", F.timestamp_micros("us")).drop("us")


# ---------------------------------------------------------------- include_old


def test_row_feed_preimages_window_path(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4)
    t.merge_lww(
        spark,
        _rows(spark, [("a", "c", 1, 1, 10, 0), ("b", "c", 1, 2, 20, 0)]),
        epoch_id=0,
    )
    base = t.current_snapshot()["snapshot_id"]
    t.merge_lww(
        spark,
        _rows(
            spark,
            [("a", "u", 2, 3, 11, 0), ("b", "d", 2, 4, None, 1), ("d", "c", 2, 5, 40, 0)],
        ),
        epoch_id=1,
    )
    out = {r["url"]: r for r in t.read_changes(spark, base, include_old=True).collect()}
    assert out["a"]["_change_type"] == "update" and out["a"]["_old"]["val"] == 10
    assert out["b"]["_change_type"] == "delete" and out["b"]["_old"]["val"] == 20
    assert out["d"]["_change_type"] == "insert" and out["d"]["_old"] is None
    # opt-in only: the default feed carries no _old column
    assert "_old" not in t.read_changes(spark, base).columns


def test_row_feed_preimages_state_diff_path(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4)
    t.merge_lww(
        spark,
        _rows(spark, [("a", "c", 1, 1, 10, 0), ("c", "c", 1, 2, 30, 0)]),
        epoch_id=0,
    )
    base = t.current_snapshot()["snapshot_id"]
    live = t.read(spark)
    rw = live.where(F.col("url") == "a").withColumn("val", F.lit(99))
    dels = spark.createDataFrame([("c",)], "url string")
    t.replace_keys(spark, rw, rw.select("url").unionByName(dels), epoch_id=1)
    out = {r["url"]: r for r in t.read_changes(spark, base, include_old=True).collect()}
    # the rewrite kept the order key — only the preimage proves it changed
    assert out["a"]["_change_type"] == "update" and out["a"]["_old"]["val"] == 10
    assert out["c"]["_change_type"] == "delete" and out["c"]["_old"]["val"] == 30


def test_set_feed_member_preimages_both_paths(spark, tmp_path):
    s = LakeTable(str(tmp_path / "s"), key="url", n_buckets=4, mode="set")
    s.merge_sets(
        spark,
        _srows(
            spark,
            [
                ("a", "c", 1, 1, 0, "a0", 0),
                ("a", "c", 1, 1, 1, "a1", 0),
                ("b", "c", 1, 2, 0, "b0", 0),
            ],
        ),
        epoch_id=0,
        pre_reduced=True,
    )
    base = s.current_snapshot()["snapshot_id"]
    s.merge_sets(
        spark,
        _srows(
            spark,
            [
                ("a", "u", 2, 3, 0, "a0", 0),
                ("a", "u", 2, 3, 1, "A1", 0),
                ("b", "d", 2, 4, None, None, 1),
            ],
        ),
        epoch_id=1,
        pre_reduced=True,
    )
    f = s.read_changes(spark, base, member_key="idx", include_old=True)
    out = {(r["url"], r["idx"]): r for r in f.collect()}
    assert ("a", 0) not in out  # unchanged member suppressed
    assert out[("a", 1)]["_change_type"] == "update"
    assert out[("a", 1)]["_old"]["content"] == "a1"
    assert out[("b", 0)]["_change_type"] == "delete"
    assert out[("b", 0)]["_old"]["content"] == "b0"
    # state-diff (replace-in-window) path carries preimages too
    live = s.read(spark)
    rw = live.where((F.col("url") == "a") & (F.col("idx") == 1)).withColumn(
        "content", F.lit("ZZ")
    )
    keep = live.where((F.col("url") == "a") & (F.col("idx") == 0))
    s.replace_keys(
        spark,
        rw.unionByName(keep),
        spark.createDataFrame([("a",)], "url string"),
        epoch_id=2,
    )
    f2 = s.read_changes(spark, base, member_key="idx", include_old=True)
    out2 = {(r["url"], r["idx"]): r for r in f2.collect()}
    assert out2[("a", 1)]["_change_type"] == "update"
    assert out2[("a", 1)]["_old"]["content"] == "a1"


def test_row_feed_preimage_null_for_evolved_after_since(spark, tmp_path):
    """A column that evolved after `since` has a null preimage by definition
    (the pre-state frame simply lacks it)."""
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4)
    t.merge_lww(spark, _rows(spark, [("a", "c", 1, 1, 10, 0)]), epoch_id=0)
    base = t.current_snapshot()["snapshot_id"]
    nxt = _rows(spark, [("a", "u", 2, 2, 11, 0)]).withColumn(
        "x_new", F.lit("later")
    )
    t.merge_lww(spark, nxt, epoch_id=1)
    row = t.read_changes(spark, base, include_old=True).collect()[0]
    assert row["_change_type"] == "update"
    assert row["_old"]["val"] == 10 and row["_old"]["x_new"] is None


# --------------------------------------------------------- VectorFeedMirror


@pytest.fixture(scope="module")
def vm_world(spark, tmp_path_factory):
    """One streamed pipeline (embeddings) plus a feed-driven
    VectorFeedMirror synced across two event waves."""
    from changedatacapture_spark import gen
    from changedatacapture_spark.streaming.driver import CdcPipeline
    from changedatacapture_spark.streaming.mirror import VectorFeedMirror

    W = str(tmp_path_factory.mktemp("vecmirror"))
    gen.generate_small(
        f"{W}/binlog", n_urls=60, n_events=600, seed=7, hot_frac=0.3,
        testdata_dir="/root/testdata/sf0.001",
    )
    pipe = CdcPipeline(
        f"{W}/lake", n_buckets=8, with_embeddings=True, retention_snapshots=32
    )
    pipe.run_stream(
        spark, f"{W}/binlog", f"{W}/ckpt", max_files_per_trigger=3,
        timeout_sec=300,
    )
    vm = VectorFeedMirror(pipe.chunks, f"{W}/mirror_index", n_planes=4)
    assert vm.sync(spark) == "applied"
    # wave 2: updates move vectors across buckets, deletes remove them
    gen.generate_small(
        f"{W}/binlog2", n_urls=60, n_events=300, seed=8, hot_frac=0.3,
        testdata_dir="/root/testdata/sf0.001",
    )
    for f in glob.glob(f"{W}/binlog2/*"):
        shutil.copy(f, f"{W}/binlog/z_" + os.path.basename(f))
    pipe.run_stream(spark, f"{W}/binlog", f"{W}/ckpt", timeout_sec=300)
    assert vm.sync(spark) == "applied"
    return pipe, vm, W


def test_vector_mirror_equals_source_vectors(spark, vm_world):
    _, vm, _ = vm_world
    assert vm.diff_vs_source(spark) == 0


def test_vector_mirror_search_parity(spark, vm_world):
    _, vm, _ = vm_world
    row = vm.index.live_rows(spark).first()
    hit = vm.index.search(
        spark, [float(x) for x in row["embedding"]], k=1
    ).first()
    assert hit["chunk_id"] == row["chunk_id"] and hit["cos_micro"] == 1_000_000


def test_vector_mirror_restart_resumes_cursor(spark, vm_world):
    from changedatacapture_spark.streaming.mirror import VectorFeedMirror

    pipe, vm, W = vm_world
    vm2 = VectorFeedMirror(pipe.chunks, f"{W}/mirror_index", n_planes=4)
    assert vm2.cursor == vm.cursor > 0
    assert vm2.sync(spark) == "noop"


def test_vector_mirror_resyncs_after_vacuum(spark, vm_world):
    """Runs LAST in this module (mutates the shared lake): dropping
    retention and vacuuming makes the consumer's window unservable — the
    mirror must fall back to a full rebuild and still equal the source."""
    from changedatacapture_spark.streaming.mirror import VectorFeedMirror

    pipe, _, W = vm_world
    pipe.chunks.retention_snapshots = 0
    pipe.chunks.compact(spark)
    pipe.chunks.vacuum()
    vm2 = VectorFeedMirror(pipe.chunks, f"{W}/mirror_index", n_planes=4)
    # force a non-empty window: one more chunks commit after the vacuum
    assert vm2.sync(spark) in ("resync", "noop")
    assert vm2.diff_vs_source(spark) == 0


def test_vector_mirror_horizon_survives_snapshot_expiry(spark, tmp_path, monkeypatch):
    """The truncate horizon comes from the snapshot the sync already holds:
    if the source's ``until`` snapshot is expired right after the feed read
    (``snapshot()`` then answers None), the index commit must still carry
    the horizon — otherwise truncated urls' vectors stay live."""
    from changedatacapture_spark.streaming.mirror import VectorFeedMirror

    def vecs(urls, us):
        return (
            spark.createDataFrame([(u,) for u in urls], "url string")
            .select(
                "url",
                F.lit("u").alias("op"),
                F.timestamp_micros(F.lit(us)).alias("warc_ts"),
                F.lit(us).cast("long").alias("pos"),
                F.lit(0).alias("chunk_index"),
                F.concat("url", F.lit("_chunk_0")).alias("chunk_id"),
                F.transform(
                    F.sequence(F.lit(1), F.lit(4)),
                    lambda i: (F.xxhash64("url", i) % 1000).cast("float") / 1000.0,
                ).alias("embedding"),
                F.lit(0).alias("is_deleted"),
            )
        )

    t = LakeTable(str(tmp_path / "c"), key="url", n_buckets=2, mode="set")
    t.merge_sets(spark, vecs(["a", "b", "c"], 10), epoch_id=0, pre_reduced=True)
    vm = VectorFeedMirror(t, str(tmp_path / "ix"), n_planes=3)
    assert vm.sync(spark) == "applied"
    # truncate at us=20 kills a/b/c; d arrives after it
    horizon = [1, 20, 0]
    t.merge_sets(
        spark, vecs(["d"], 30), epoch_id=1, pre_reduced=True, truncate=horizon
    )
    assert t.current_snapshot()["truncate"] == horizon

    read_changes = t.read_changes

    def read_then_expire(*a, **kw):
        out = read_changes(*a, **kw)
        monkeypatch.setattr(t, "snapshot", lambda sid: None)
        return out

    monkeypatch.setattr(t, "read_changes", read_then_expire)
    assert vm.sync(spark) == "applied"
    monkeypatch.undo()
    assert vm.index.table.current_snapshot().get("truncate") == horizon
    assert {r["chunk_id"] for r in vm.index.live_rows(spark).collect()} == {"d_chunk_0"}
    assert vm.diff_vs_source(spark) == 0


# ------------------------------------------------------- persisted table mode


def test_reopen_by_path_adopts_persisted_mode_and_buckets(spark, tmp_path):
    """Table mode (row/set/replace resolution semantics) is physical layout
    like n_buckets: reopening a set-mode table by path with default ctor
    args must adopt BOTH from the snapshot — scripts/run_mirror.py relies
    on this to autodetect the source it tails."""
    s = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4, mode="set")
    s.merge_sets(
        spark,
        _srows(spark, [("a", "c", 1, 1, 0, "a0", 0), ("a", "c", 1, 1, 1, "a1", 0)]),
        epoch_id=0,
        pre_reduced=True,
    )
    reopened = LakeTable(str(tmp_path / "t"))  # all defaults: row/16
    assert reopened.mode == "set" and reopened.n_buckets == 4
    # resolution actually behaves set-mode: both members of the set are live
    assert reopened.read(spark).count() == 2


def test_preimage_serves_typed_evolved_columns(spark, tmp_path):
    """The `_old` preimage must serve evolved columns at the same logical
    type as the live row (read-time try_cast reaches inside the struct)."""
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4)
    r0 = _rows(spark, [("a", "c", 1, 1, 10, 0)]).withColumn("x_n", F.lit("5"))
    t.merge_lww(spark, r0, epoch_id=0, evolved_types={"x_n": "bigint"})
    base = t.current_snapshot()["snapshot_id"]
    r1 = _rows(spark, [("a", "u", 2, 2, 11, 0)]).withColumn("x_n", F.lit("7"))
    t.merge_lww(spark, r1, epoch_id=1, evolved_types={"x_n": "bigint"})
    f = t.read_changes(spark, base, include_old=True)
    assert f.schema["x_n"].dataType.simpleString() == "bigint"
    old_t = {x.name: x.dataType.simpleString() for x in f.schema["_old"].dataType}
    assert old_t["x_n"] == "bigint"
    row = f.collect()[0]
    assert row["x_n"] == 7 and row["_old"]["x_n"] == 5
    # inserts keep a null preimage through the cast
    t2 = LakeTable(str(tmp_path / "t2"), key="url", n_buckets=4)
    t2.merge_lww(spark, r0, epoch_id=0, evolved_types={"x_n": "bigint"})
    f2 = t2.read_changes(spark, 0, include_old=True)
    r2 = f2.collect()[0]
    assert r2["_change_type"] == "insert" and r2["_old"] is None


def test_vector_mirror_ivf_mode(spark, tmp_path):
    """VectorFeedMirror with IVF centroids (the data-adaptive bucketing
    family): the Arrow cell-assignment path routes both the NEW vectors and
    the preimage tombstones; equality and search must hold exactly as in
    LSH mode."""
    import numpy as np

    from changedatacapture_spark.streaming.mirror import VectorFeedMirror

    def srows_vec(tag, n, us):
        return (
            spark.range(n)
            .select(
                F.concat(F.lit("u"), F.col("id")).alias("url"),
                F.lit("u").alias("op"),
                F.timestamp_micros(F.lit(us)).alias("warc_ts"),
                (F.col("id") + us).alias("pos"),
                F.lit(0).cast("int").alias("chunk_index"),
            )
            .withColumn("chunk_id", F.md5(F.concat("url", F.lit(tag))))
            .withColumn("content", F.concat(F.lit(tag), "url"))
            .withColumn(
                "embedding",
                F.transform(
                    F.sequence(F.lit(1), F.lit(8)),
                    lambda i: (F.xxhash64(F.col("chunk_id"), i) % 1000).cast(
                        "float"
                    )
                    / 1000.0,
                ),
            )
            .withColumn("is_deleted", F.lit(0))
        )

    t = LakeTable(str(tmp_path / "c"), key="url", n_buckets=4, mode="set")
    t.merge_sets(spark, srows_vec("a", 300, 1), epoch_id=0, pre_reduced=True)
    base = t.current_snapshot()["snapshot_id"]
    t.merge_sets(spark, srows_vec("b", 120, 2), epoch_id=1, pre_reduced=True)

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(5, 8))
    vm = VectorFeedMirror(t, str(tmp_path / "ix"), centroids=cents)
    vm.resync(spark, snapshot_id=base)
    assert vm.sync(spark) == "applied"
    assert vm.diff_vs_source(spark) == 0
    row = vm.index.live_rows(spark).first()
    hit = vm.index.search(
        spark, [float(x) for x in row["embedding"]], k=1, n_probes=5
    ).first()
    assert hit["chunk_id"] == row["chunk_id"] and hit["cos_micro"] == 1_000_000
