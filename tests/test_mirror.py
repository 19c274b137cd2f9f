"""Feed-driven mirror harness (VERDICT r5 item 2): a consumer maintained
ONLY from read_changes must provably equal the source's live set across
epochs, compaction, vacuum-with-retention, truncate, and an
unavailability-triggered full re-sync — for BOTH the row-mode pages table
and the set-mode chunks table (member granularity)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.sinks.lake import LakeTable
from changedatacapture_spark.streaming.mirror import FeedMirror

_ROW_SCHEMA = (
    "url string, op string, warc_ts timestamp, pos long, is_deleted int, val long"
)
_SET_SCHEMA = (
    "url string, op string, warc_ts timestamp, pos long, is_deleted int, "
    "chunk_index int, content string"
)


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_row_mirror_tracks_source_through_lifecycle(spark, tmp_path):
    src = LakeTable(
        str(tmp_path / "src"), key="url", n_buckets=4, retention_snapshots=8
    )
    mir = FeedMirror(src, str(tmp_path / "mir"))

    def rows(data):
        return spark.createDataFrame(data, _ROW_SCHEMA)

    # epoch 0: inserts; sync; equal
    src.merge_lww(spark, rows([("a", "c", _ts(1), 1, 0, 10),
                               ("b", "c", _ts(2), 2, 0, 20)]), epoch_id=0)
    assert mir.sync(spark) == "applied"
    assert mir.diff_vs_source(spark) == 0
    # epochs 1+2 applied in ONE window: update, delete, insert, late no-op
    src.merge_lww(spark, rows([("a", "u", _ts(5), 5, 0, 11),
                               ("b", "d", _ts(6), 6, 1, None),
                               ("c", "c", _ts(7), 7, 0, 30)]), epoch_id=1)
    src.merge_lww(spark, rows([("a", "u", _ts(0), 0, 0, 99),  # late replay
                               ("d", "c", _ts(8), 8, 0, 40)]), epoch_id=2)
    assert mir.sync(spark) == "applied"
    assert mir.diff_vs_source(spark) == 0
    # compaction + vacuum with retention: feed stays consumable and the
    # compact commit itself is a transparent (possibly empty) window
    src.compact(spark)
    assert mir.sync(spark) in ("applied", "noop")
    assert mir.diff_vs_source(spark) == 0
    # truncate inside the window: consumed via allow_truncate + horizon
    src.merge_lww(
        spark,
        rows([("e", "c", _ts(20), 20, 0, 50)]),
        epoch_id=3,
        truncate=[1, int(_ts(9).replace(tzinfo=dt.timezone.utc).timestamp() * 1e6), 0],
    )
    assert mir.sync(spark) == "applied"
    assert mir.diff_vs_source(spark) == 0
    live = {r["url"] for r in src.read(spark).collect()}
    assert live == {"e"}  # horizon killed a,c,d (b already deleted)
    # durable cursor: a re-opened mirror resumes and is idempotent
    mir2 = FeedMirror(src, str(tmp_path / "mir"))
    assert mir2.cursor == mir.cursor
    assert mir2.sync(spark) == "noop"
    assert mir2.diff_vs_source(spark) == 0


def test_row_mirror_resyncs_when_window_unavailable(spark, tmp_path):
    src = LakeTable(str(tmp_path / "src"), key="url", n_buckets=4)  # retention 0
    mir = FeedMirror(src, str(tmp_path / "mir"))

    def rows(data):
        return spark.createDataFrame(data, _ROW_SCHEMA)

    src.merge_lww(spark, rows([("a", "c", _ts(1), 1, 0, 10)]), epoch_id=0)
    assert mir.sync(spark) == "applied"
    src.merge_lww(spark, rows([("b", "c", _ts(2), 2, 0, 20)]), epoch_id=1)
    src.compact(spark)  # vacuum reclaims the window the mirror hasn't seen
    assert mir.sync(spark) == "resync"
    assert mir.diff_vs_source(spark) == 0
    # and the mirror keeps tailing incrementally after the re-sync
    src.merge_lww(spark, rows([("a", "d", _ts(3), 3, 1, None)]), epoch_id=2)
    assert mir.sync(spark) == "applied"
    assert mir.diff_vs_source(spark) == 0


def test_resynced_mirror_equals_incrementally_built_one(spark, tmp_path):
    """A mirror's table does not depend on how it was built: one re-synced
    from the source and one fed window by window end with the same columns
    and the same rows."""
    src = LakeTable(str(tmp_path / "src"), key="url", n_buckets=4)
    inc = FeedMirror(src, str(tmp_path / "inc"))

    def rows(data):
        return spark.createDataFrame(data, _ROW_SCHEMA)

    src.merge_lww(spark, rows([("a", "c", _ts(1), 1, 0, 10),
                               ("b", "c", _ts(2), 2, 0, 20)]), epoch_id=0)
    assert inc.sync(spark) == "applied"
    src.merge_lww(spark, rows([("a", "u", _ts(5), 5, 0, 11),
                               ("b", "d", _ts(6), 6, 1, None),
                               ("c", "c", _ts(7), 7, 0, 30)]), epoch_id=1)
    assert inc.sync(spark) == "applied"
    resynced = FeedMirror(src, str(tmp_path / "rs"))
    resynced.resync(spark)
    a, b = inc.table.read(spark), resynced.table.read(spark)
    assert a.columns == b.columns
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_failed_resync_leaves_the_old_mirror_intact(spark, tmp_path, monkeypatch):
    """A rebuild whose commit fails must leave the previous mirror — its
    rows and its durable ``feed_cursor`` — as they were (the rebuild runs
    beside the mirror and is swapped in only once committed); a later
    resync then completes."""
    src = LakeTable(str(tmp_path / "src"), key="url", n_buckets=4)
    mir = FeedMirror(src, str(tmp_path / "mir"))

    def rows(data):
        return spark.createDataFrame(data, _ROW_SCHEMA)

    def live(table):
        df = table.read(spark)
        return [] if df is None else sorted(tuple(r) for r in df.collect())

    src.merge_lww(spark, rows([("a", "c", _ts(1), 1, 0, 10),
                               ("b", "c", _ts(2), 2, 0, 20)]), epoch_id=0)
    assert mir.sync(spark) == "applied"
    cursor, before = mir.cursor, live(mir.table)
    assert cursor > 0 and len(before) == 2
    src.merge_lww(spark, rows([("c", "c", _ts(3), 3, 0, 30)]), epoch_id=1)

    orig = LakeTable._publish
    fired = {"n": 0}

    def failing_once(self, snapshot):
        if fired["n"] == 0:
            fired["n"] += 1
            raise OSError("injected failure of the rebuild's commit")
        return orig(self, snapshot)

    monkeypatch.setattr(LakeTable, "_publish", failing_once)
    with pytest.raises(OSError):
        mir.resync(spark)
    assert fired["n"] == 1
    reopened = FeedMirror(src, str(tmp_path / "mir"))
    assert reopened.cursor == cursor and mir.cursor == cursor
    assert live(reopened.table) == before
    mir.resync(spark)
    assert mir.cursor == src.current_snapshot()["snapshot_id"]
    assert mir.diff_vs_source(spark) == 0

def test_set_mirror_member_granularity(spark, tmp_path):
    src = LakeTable(
        str(tmp_path / "src"), key="url", n_buckets=4, mode="set",
        retention_snapshots=8,
    )
    mir = FeedMirror(src, str(tmp_path / "mir"), member_key="chunk_index")

    def sets(data):
        return spark.createDataFrame(data, _SET_SCHEMA)

    src.merge_sets(
        spark,
        sets([("a", "c", _ts(1), 1, 0, 0, "a0"), ("a", "c", _ts(1), 1, 0, 1, "a1"),
              ("b", "c", _ts(2), 2, 0, 0, "b0")]),
        epoch_id=0, pre_reduced=True,
    )
    assert mir.sync(spark) == "applied"
    assert mir.diff_vs_source(spark) == 0
    # member update + member drop + member add + full-key delete
    src.merge_sets(
        spark,
        sets([("a", "u", _ts(5), 5, 0, 0, "a0"),       # unchanged → suppressed
              ("a", "u", _ts(5), 5, 0, 2, "a2"),       # added (1 dropped)
              ("b", "d", _ts(6), 6, 1, None, None)]),  # key delete
        epoch_id=1, pre_reduced=True,
    )
    assert mir.sync(spark) == "applied"
    assert mir.diff_vs_source(spark) == 0
    members = {
        (r["url"], r["chunk_index"]) for r in mir.table.read(spark).collect()
    }
    assert members == {("a", 0), ("a", 2)}
    # compaction transparency
    src.compact(spark)
    mir.sync(spark)
    assert mir.diff_vs_source(spark) == 0


def test_pipeline_mirrors_pages_and_chunks(spark, tmp_path):
    """End-to-end: mirrors of a pipeline-built lake (pages row feed + chunks
    member feed with embeddings) equal the live tables after incremental
    syncs between runs."""
    from changedatacapture_spark import gen
    from changedatacapture_spark.streaming.driver import CdcPipeline

    seg = str(tmp_path / "binlog")
    gen.generate_small(seg, n_urls=40, n_events=300, seed=7, hot_frac=0.3,
                       testdata_dir="/root/testdata/sf0.001")
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=8,
                       with_embeddings=True, retention_snapshots=16)
    pm = FeedMirror(pipe.pages, str(tmp_path / "pm"))
    cm = FeedMirror(pipe.chunks, str(tmp_path / "cm"), member_key="chunk_index")
    pipe.run_stream(spark, seg, str(tmp_path / "ckpt"),
                    max_files_per_trigger=2, timeout_sec=300)
    assert pm.sync(spark) == "applied"
    assert cm.sync(spark) == "applied"
    assert pm.diff_vs_source(spark) == 0
    assert cm.diff_vs_source(spark) == 0
    # a second feed of new events, then an incremental (not full) sync
    import os as _os
    import shutil as _sh

    gen.generate_small(str(tmp_path / "binlog2"), n_urls=40, n_events=200,
                       seed=8, hot_frac=0.3,
                       testdata_dir="/root/testdata/sf0.001")
    for f in _os.listdir(str(tmp_path / "binlog2")):
        _sh.copy(str(tmp_path / "binlog2" / f), str(tmp_path / "binlog" / ("b2-" + f)))
    pipe.run_stream(spark, seg, str(tmp_path / "ckpt"),
                    max_files_per_trigger=2, timeout_sec=300)
    assert pm.sync(spark) == "applied"
    assert cm.sync(spark) == "applied"
    assert pm.diff_vs_source(spark) == 0
    assert cm.diff_vs_source(spark) == 0
