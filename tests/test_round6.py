"""Round-6 pins: set-mode (chunks) change feed, rebucket feed guard,
read_since null-order semantics, and the unpersisted-feed contract.

The reference's product loop is syncing CHUNK VECTORS downstream
(incremental_pinecone_updater.py:97-202, main.py:1091-1102); round 5's feed
served only the row-mode pages table (VERDICT r5 item 1). Here the set-mode
table itself becomes a member-granular CDC source:

- ``read_changes(since, member_key="chunk_index")`` emits one row per
  (url, member) whose state differs — insert/update carry the new member,
  delete carries the OLD member (so a mirror deletes by its stored id),
  unchanged members (reused embeddings) are suppressed exactly.
- A rebucketing ``compact(n_buckets=...)`` after ``since`` makes the
  pre-state probe unsound → ``ChangeFeedUnavailableError`` (ADVICE r5 high).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.sinks.lake import (
    ChangeFeedUnavailableError,
    LakeTable,
)

_SET_SCHEMA = (
    "url string, op string, warc_ts timestamp, pos long, is_deleted int, "
    "chunk_index int, content string"
)


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=s)


def _mk(spark, rows):
    return spark.createDataFrame(rows, _SET_SCHEMA)


def _set(url, op, t, pos, members):
    """A live set: one row per member, all sharing the set's order key."""
    return [(url, op, _ts(t), pos, 0, i, c) for i, c in members.items()]


def _tomb(url, t, pos):
    return [(url, "d", _ts(t), pos, 1, None, None)]


def _chunks_table(spark, tmp_path, **kw):
    """Three epochs exercising every member-level feed rule:

    e0 (base): a={0:a0,1:a1}, b={0:b0}, c={0:c0}, f={0:f0}
    e1: a → {0:a0,1:A1,2:a2} (member 0 unchanged), b → tombstone,
        d → {0:d0} (new key), c → LATE replay {0:cX} (loses LWW → no-op)
    e2: e → tombstone (never live → no-op), a → {0:a0,1:A1b} (supersedes
        e1's set), f → exact redelivery of its base set (order tie → no-op)
    """
    t = LakeTable(str(tmp_path / "chunks"), key="url", n_buckets=4, mode="set", **kw)
    t.merge_sets(
        spark,
        _mk(
            spark,
            _set("a", "c", 1, 1, {0: "a0", 1: "a1"})
            + _set("b", "c", 2, 2, {0: "b0"})
            + _set("c", "c", 3, 3, {0: "c0"})
            + _set("f", "c", 4, 4, {0: "f0"}),
        ),
        epoch_id=0,
        pre_reduced=True,
    )
    base = t.current_snapshot()["snapshot_id"]
    t.merge_sets(
        spark,
        _mk(
            spark,
            _set("a", "u", 10, 10, {0: "a0", 1: "A1", 2: "a2"})
            + _tomb("b", 11, 11)
            + _set("d", "c", 12, 12, {0: "d0"})
            + _set("c", "u", 0, 0, {0: "cX"}),
        ),
        epoch_id=1,
        pre_reduced=True,
    )
    e1_sid = t.current_snapshot()["snapshot_id"]
    t.merge_sets(
        spark,
        _mk(
            spark,
            _tomb("e", 13, 13)
            + _set("a", "u", 14, 14, {0: "a0", 1: "A1b"})
            + _set("f", "c", 4, 4, {0: "f0"}),
        ),
        epoch_id=2,
        pre_reduced=True,
    )
    until = t.current_snapshot()["snapshot_id"]
    return t, base, e1_sid, until


def _feed(t, spark, base, until):
    return t.read_changes(spark, base, until, member_key="chunk_index")


def test_set_feed_member_classification(spark, tmp_path):
    t, base, e1_sid, until = _chunks_table(spark, tmp_path)
    rows = {
        (r["url"], r["chunk_index"]): r for r in _feed(t, spark, base, until).collect()
    }
    # a: member 0 unchanged across base→until → suppressed; member 1 updated
    #    to e2's value; e1's member 2 never survives to `until` NET state
    # b: full-key tombstone → member 0 delete carrying the OLD payload
    # d: new key → member 0 insert
    # c (late replay), e (dead delete), f (order-tie redelivery): absent
    assert set(rows) == {("a", 1), ("b", 0), ("d", 0)}
    a1 = rows[("a", 1)]
    assert a1["_change_type"] == "update" and a1["content"] == "A1b"
    assert a1["_commit_sid"] == until  # e2's set superseded e1's
    b0 = rows[("b", 0)]
    assert b0["_change_type"] == "delete" and b0["content"] == "b0"
    assert b0["op"] == "d" and b0["_commit_sid"] == e1_sid
    d0 = rows[("d", 0)]
    assert d0["_change_type"] == "insert" and d0["content"] == "d0"


def test_set_feed_applied_mirror_equals_live_state(spark, tmp_path):
    t, base, _e1, until = _chunks_table(spark, tmp_path)
    # mirror state at `base`, keyed by (url, chunk_index)
    mirror = {
        ("a", 0): "a0", ("a", 1): "a1", ("b", 0): "b0",
        ("c", 0): "c0", ("f", 0): "f0",
    }
    for r in _feed(t, spark, base, until).collect():
        k = (r["url"], r["chunk_index"])
        if r["_change_type"] == "delete":
            mirror.pop(k)
        else:
            mirror[k] = r["content"]
    live = {
        (r["url"], r["chunk_index"]): r["content"]
        for r in t.read(spark).collect()
    }
    assert mirror == live


def test_feed_columns_checked_against_window_schema(spark, tmp_path):
    """columns= is validated against the WINDOW's schema: a column evolved
    after the window's end is refused, not silently dropped; a window that
    holds the column serves it."""
    t, base, _e1, until = _chunks_table(spark, tmp_path)
    t.merge_sets(
        spark,
        spark.createDataFrame(
            [("g", "c", _ts(20), 20, 0, 0, "g0", "tag-g")],
            _SET_SCHEMA + ", x_tag string",
        ),
        epoch_id=3,
        pre_reduced=True,
    )
    with pytest.raises(ValueError, match="unknown feed columns"):
        t.read_changes(
            spark, base, until, member_key="chunk_index",
            columns=["content", "x_tag"],
        )
    got = t.read_changes(
        spark, until, member_key="chunk_index", columns=["content", "x_tag"]
    ).collect()
    assert [(r["url"], r["content"], r["x_tag"]) for r in got] == [
        ("g", "g0", "tag-g")
    ]


def test_set_feed_since_zero_is_insert_only(spark, tmp_path):
    t, base, _e1, until = _chunks_table(spark, tmp_path)
    rows = {
        (r["url"], r["chunk_index"]): r["_change_type"]
        for r in t.read_changes(spark, 0, until, member_key="chunk_index").collect()
    }
    # from empty pre-state every live member of every current winning set is
    # an insert; b/e tombstones are deletes of never-live keys → suppressed;
    # c's winner is its BASE set (the late window replay lost LWW)
    assert rows == {
        ("a", 0): "insert", ("a", 1): "insert",
        ("c", 0): "insert", ("d", 0): "insert", ("f", 0): "insert",
    }


def test_set_feed_window_ending_at_intermediate_commit(spark, tmp_path):
    t, base, e1_sid, _until = _chunks_table(spark, tmp_path)
    rows = {
        (r["url"], r["chunk_index"]): r
        for r in _feed(t, spark, base, e1_sid).collect()
    }
    # vs e1 only: a gains member 2 and updates member 1 (to A1, not A1b)
    assert {k: r["_change_type"] for k, r in rows.items()} == {
        ("a", 1): "update", ("a", 2): "insert",
        ("b", 0): "delete", ("d", 0): "insert",
    }
    assert rows[("a", 1)]["content"] == "A1"


def test_set_feed_survives_compaction_with_retention(spark, tmp_path):
    t, base, _e1, until = _chunks_table(spark, tmp_path, retention_snapshots=8)
    before = sorted(
        map(tuple, _feed(t, spark, base, until).collect())
    )
    t.compact(spark)
    after = sorted(map(tuple, _feed(t, spark, base, until).collect()))
    assert before == after
    # compaction inside the window (until = current) is transparent
    tail = t.read_changes(spark, base, member_key="chunk_index")
    assert sorted(map(tuple, tail.collect())) == before


def test_set_feed_raises_once_window_vacuumed(spark, tmp_path):
    t, base, _e1, until = _chunks_table(spark, tmp_path)  # retention 0
    t.compact(spark)
    with pytest.raises(ChangeFeedUnavailableError):
        _feed(t, spark, base, until)


def test_feed_refuses_rebucketed_window_row_mode(spark, tmp_path):
    """ADVICE r5 high: a rebucketing compact(n_buckets=...) between `since`
    and the read makes the bloom probe unsound (keys bucketed with the live
    count, manifests grouped by the old one) — the feed must refuse, not
    silently misclassify."""
    t = LakeTable(str(tmp_path / "row"), key="url", n_buckets=4, mode="row",
                  retention_snapshots=8)
    sch = "url string, op string, warc_ts timestamp, pos long, is_deleted int, val long"
    t.merge_lww(
        spark,
        spark.createDataFrame(
            [("a", "c", _ts(1), 1, 0, 10), ("b", "c", _ts(2), 2, 0, 20)], sch
        ),
        epoch_id=0,
    )
    base = t.current_snapshot()["snapshot_id"]
    t.merge_lww(
        spark,
        spark.createDataFrame([("a", "u", _ts(3), 3, 0, 11)], sch),
        epoch_id=1,
    )
    t.compact(spark, n_buckets=8)  # rebucket AFTER the window commits
    t.merge_lww(
        spark,
        spark.createDataFrame([("b", "u", _ts(4), 4, 0, 21)], sch),
        epoch_id=2,
    )
    with pytest.raises(ChangeFeedUnavailableError, match="n_buckets"):
        t.read_changes(spark, base)


def test_feed_refuses_rebucketed_window_set_mode(spark, tmp_path):
    t, base, _e1, until = _chunks_table(spark, tmp_path, retention_snapshots=8)
    t.compact(spark, n_buckets=8)
    with pytest.raises(ChangeFeedUnavailableError, match="n_buckets"):
        t.read_changes(spark, base, member_key="chunk_index")


def test_read_since_excludes_unorderable_rows_but_read_keeps_them(spark, tmp_path):
    """ADVICE r5 low: pinned semantics for rows with null order components —
    read() returns them, the stats job conservatively keeps their files
    (never order-pruned), and read_since excludes them at the final order
    filter ("since lo" is undecidable for an unorderable row)."""
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=2, mode="row")
    sch = "url string, op string, warc_ts timestamp, pos long, is_deleted int, val long"
    t.merge_lww(
        spark,
        spark.createDataFrame(
            [("a", "c", _ts(1), 1, 0, 10), ("n", "c", None, 2, 0, 20)], sch
        ),
        epoch_id=0,
    )
    full = {r["url"] for r in t.read(spark).collect()}
    assert full == {"a", "n"}  # read() keeps the unorderable row
    # same-class probe: the struct comparison reaches the null warc_ts
    # before resolving → undecidable → excluded
    lo = [1, -(1 << 62), -(1 << 62)]
    got = {r["url"] for r in t.read_since(spark, lo).collect()}
    assert got == {"a"}
    # cross-class probe: k0 decides first (stream row vs snapshot-class lo)
    # → the null field is never reached → the row IS returned
    lo0 = [0, (1 << 62), (1 << 62)]
    got0 = {r["url"] for r in t.read_since(spark, lo0).collect()}
    assert got0 == {"a", "n"}
    # its file was kept conservatively (no order bounds), not pruned
    assert set(t.files_for_since(lo)) >= {
        f for fs in t.bucket_files().values() for f in fs
        if "n" in {r["url"] for r in spark.read.parquet(f).collect()}
    }


def test_feed_leaves_no_cached_rdds(spark, tmp_path):
    """ADVICE r5 low: read_changes must not leak persisted frames — a
    polling consumer calling it per epoch would otherwise accumulate cache
    until LRU eviction."""
    t, base, _e1, until = _chunks_table(spark, tmp_path)
    spark.catalog.clearCache()
    _feed(t, spark, base, until).collect()
    t2 = LakeTable(str(tmp_path / "chunks"), key="url", n_buckets=4, mode="set")
    t2.read_changes(spark, base, until, member_key="chunk_index").collect()
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


# ---------------------------------------------------------------------------
# replace_keys windows (round 6): representable via the state-diff path, not
# refused — a replace commit records an equality-delete sidecar of touched
# keys; the feed diffs the probed pre/post states (a rewrite is not
# LWW-ordered, so payload changes at an UNCHANGED order key must still feed).
# ---------------------------------------------------------------------------

_ROW_SCHEMA = (
    "url string, op string, warc_ts timestamp, pos long, is_deleted int, val string"
)


def _rmk(spark, rows):
    return spark.createDataFrame(rows, _ROW_SCHEMA)


def test_row_feed_serves_replace_window_as_state_diff(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4, mode="row")
    t.merge_lww(
        spark,
        _rmk(spark, [("a", "c", _ts(1), 1, 0, "va"), ("b", "c", _ts(2), 2, 0, "vb"),
                     ("c", "c", _ts(3), 3, 0, "vc"), ("k", "c", _ts(4), 4, 0, "vk")]),
        epoch_id=0,
    )
    base = t.current_snapshot()["snapshot_id"]
    # the replace: a rewritten with a NEW payload at its OLD order key
    # (LWW-undetectable), b rewritten IDENTICALLY (must suppress), c
    # deleted (in keys, no row), d inserted; k untouched
    t.replace_keys(
        spark,
        _rmk(spark, [("a", "c", _ts(1), 1, 0, "va2"), ("b", "c", _ts(2), 2, 0, "vb"),
                     ("d", "c", _ts(9), 9, 0, "vd")]),
        spark.createDataFrame([("a",), ("b",), ("c",)], "url string"),
        epoch_id=1,
    )
    until = t.current_snapshot()["snapshot_id"]
    rows = {r["url"]: r for r in t.read_changes(spark, base, until).collect()}
    assert {u: r["_change_type"] for u, r in rows.items()} == {
        "a": "update", "c": "delete", "d": "insert"
    }
    assert rows["a"]["val"] == "va2"       # payload change at unchanged order
    assert rows["c"]["val"] == "vc"        # delete carries the OLD payload
    assert all(r["_commit_sid"] == until for r in rows.values())
    # live state sanity (untouched k kept, survivors correct)
    live = {r["url"]: r["val"] for r in t.read(spark).collect()}
    assert live == {"a": "va2", "b": "vb", "d": "vd", "k": "vk"}


def test_row_feed_mixed_append_and_replace_window(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4, mode="row")
    t.merge_lww(spark, _rmk(spark, [("a", "c", _ts(1), 1, 0, "va")]), epoch_id=0)
    base = t.current_snapshot()["snapshot_id"]
    t.merge_lww(spark, _rmk(spark, [("e", "c", _ts(5), 5, 0, "ve")]), epoch_id=1)
    t.replace_keys(
        spark,
        _rmk(spark, []),
        spark.createDataFrame([("a",)], "url string"),  # delete a, no reinsert
        epoch_id=2,
    )
    until = t.current_snapshot()["snapshot_id"]
    rows = {r["url"]: r["_change_type"] for r in t.read_changes(spark, base, until).collect()}
    # append-committed e (insert) AND replace-deleted a (delete), one window
    assert rows == {"a": "delete", "e": "insert"}


def test_set_feed_serves_replace_window_member_diff(spark, tmp_path):
    t = LakeTable(str(tmp_path / "chunks"), key="url", n_buckets=4, mode="set")
    t.merge_sets(
        spark,
        _mk(spark, _set("a", "c", 1, 1, {0: "a0", 1: "a1"}) + _set("b", "c", 2, 2, {0: "b0"})),
        epoch_id=0, pre_reduced=True,
    )
    base = t.current_snapshot()["snapshot_id"]
    # replace a's set wholesale at the SAME order key: member 0 unchanged,
    # member 1 changed, member 2 added; b fully deleted
    t.replace_keys(
        spark,
        _mk(spark, _set("a", "c", 1, 1, {0: "a0", 1: "A1", 2: "a2"})),
        spark.createDataFrame([("a",), ("b",)], "url string"),
        epoch_id=1,
    )
    until = t.current_snapshot()["snapshot_id"]
    rows = {
        (r["url"], r["chunk_index"]): r
        for r in t.read_changes(spark, base, until, member_key="chunk_index").collect()
    }
    assert {k: r["_change_type"] for k, r in rows.items()} == {
        ("a", 1): "update", ("a", 2): "insert", ("b", 0): "delete",
    }
    assert rows[("a", 1)]["content"] == "A1"
    assert rows[("b", 0)]["content"] == "b0"  # old payload on the delete


def test_mirror_tracks_source_across_replace_window(spark, tmp_path):
    from changedatacapture_spark.streaming.mirror import FeedMirror

    src = LakeTable(str(tmp_path / "src"), key="url", n_buckets=4, mode="row")
    mir = FeedMirror(src, str(tmp_path / "mir"))
    src.merge_lww(
        spark,
        _rmk(spark, [("a", "c", _ts(1), 1, 0, "va"), ("b", "c", _ts(2), 2, 0, "vb")]),
        epoch_id=0,
    )
    assert mir.sync(spark) == "applied"
    # rewrite a's payload at its unchanged order; delete b — a merge-based
    # mirror apply would TIE on a and keep the stale value
    src.replace_keys(
        spark,
        _rmk(spark, [("a", "c", _ts(1), 1, 0, "va2")]),
        spark.createDataFrame([("a",), ("b",)], "url string"),
        epoch_id=1,
    )
    assert mir.sync(spark) == "applied"
    assert mir.diff_vs_source(spark) == 0
    assert {r["url"]: r["val"] for r in mir.table.read(spark).collect()} == {"a": "va2"}


def test_expired_replace_sidecar_refuses_feed(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4, mode="row")
    t.merge_lww(spark, _rmk(spark, [("a", "c", _ts(1), 1, 0, "va")]), epoch_id=0)
    base = t.current_snapshot()["snapshot_id"]
    t.replace_keys(
        spark,
        _rmk(spark, [("a", "c", _ts(1), 1, 0, "va2")]),
        spark.createDataFrame([("a",)], "url string"),
        epoch_id=1,
    )
    t.merge_lww(spark, _rmk(spark, [("z", "c", _ts(8), 8, 0, "vz")]), epoch_id=2)
    # expire history: only the newest snapshots survive -> the replace
    # commit's sidecar is reclaimed with it
    t.expire_snapshots(keep_last=1)
    import os as _os

    rep = _os.path.join(t.meta_dir, "replaced")
    assert not _os.path.isdir(rep) or not _os.listdir(rep)
    with pytest.raises(ChangeFeedUnavailableError):
        t.read_changes(spark, base)
