"""Lake-sink semantics: cross-batch LWW MERGE, idempotent epoch commits,
tombstone anti-resurrection, schema evolution, key-replace for chunks."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark import gen, oracle
from changedatacapture_spark.operators import apply as apply_ops
from changedatacapture_spark.operators import envelope, evolution
from changedatacapture_spark.sinks.lake import LakeTable


def _apply_epochs(spark, table, seg_dir, n_epochs):
    """Split the log's segment files into n_epochs contiguous groups and
    merge each as its own epoch (simulating micro-batches)."""
    import os

    files = sorted(
        os.path.join(seg_dir, f) for f in os.listdir(seg_dir) if f.endswith(".parquet")
    )
    per = max(1, len(files) // n_epochs)
    groups = [files[i : i + per] for i in range(0, len(files), per)]
    for epoch, grp in enumerate(groups):
        batch = spark.read.schema(envelope.ENVELOPE_SCHEMA).parquet(*grp)
        parsed = envelope.parse_envelope(batch)
        deltas = apply_ops.upsert_deltas(parsed)
        keys = evolution.observed_extra_keys(deltas)
        deltas = evolution.promote_extra_columns(deltas, keys)
        table.merge_lww(spark, deltas, epoch_id=epoch)
    return len(groups)


def _table_state(spark, table):
    df = table.read(spark)
    return {r["url"]: r.asDict() for r in df.collect()} if df is not None else {}


def test_multi_epoch_merge_matches_oracle(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "log")
    events = gen.generate_small(
        seg_dir, n_urls=50, n_events=400, seed=5, n_segments=6, testdata_dir=testdata_dir
    )
    table = LakeTable(str(tmp_path / "pages"), key="url", n_buckets=8)
    _apply_epochs(spark, table, seg_dir, n_epochs=3)

    expected = oracle.fold_events(events)
    got = _table_state(spark, table)
    assert set(got) == set(expected)
    for url, exp in expected.items():
        assert got[url]["text"] == exp["text"]
        assert got[url]["warc_ts"] == exp["warc_ts"]


def test_epoch_idempotency_exactly_once(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "log")
    gen.generate_small(seg_dir, n_urls=30, n_events=150, seed=6, testdata_dir=testdata_dir)
    table = LakeTable(str(tmp_path / "pages"), key="url", n_buckets=4)

    batch = envelope.read_segments(spark, seg_dir)
    deltas = apply_ops.upsert_deltas(envelope.parse_envelope(batch)).drop("extra")

    snap1 = table.merge_lww(spark, deltas, epoch_id=0)
    assert snap1 is not None
    state1 = _table_state(spark, table)

    # replaying the same epoch is a no-op (exactly-once on restart)
    snap2 = table.merge_lww(spark, deltas, epoch_id=0)
    assert snap2 is None
    assert table.current_snapshot()["snapshot_id"] == snap1["snapshot_id"]
    assert _table_state(spark, table) == state1

    # a *different* epoch carrying the same rows is also harmless (LWW ties
    # resolve to identical content)
    table.merge_lww(spark, deltas, epoch_id=1)
    state3 = _table_state(spark, table)
    assert {u: s["text"] for u, s in state3.items()} == {
        u: s["text"] for u, s in state1.items()
    }


def test_tombstone_blocks_resurrection(spark, tmp_path):
    """A late replay of an *older* update must not resurrect a deleted url
    (SURVEY.md §7 'cross-batch LWW with deletes')."""
    table = LakeTable(str(tmp_path / "pages"), key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)

    def mk(op, pos, t, text):
        return (
            "u1",
            t,
            pos,
            op,
            1 if op == "d" else 0,
            None,
            text,
            "en",
        )

    schema = (
        "url string, warc_ts timestamp, pos long, op string, is_deleted int,"
        " html binary, text string, lang string"
    )
    # epoch 0: insert then delete (delete is the LWW winner)
    e0 = spark.createDataFrame(
        [mk("c", 1, ts, "v1"), mk("d", 5, ts + dt.timedelta(seconds=5), None)], schema
    )
    table.merge_lww(spark, apply_del := e0.groupBy("url").agg(
        F.max_by(F.struct(*[c for c in e0.columns if c != "url"]), F.struct("warc_ts", "pos")).alias("_w")
    ).select("url", "_w.*"), epoch_id=0)
    assert _table_state(spark, table) == {}

    # epoch 1: late replay of an OLDER update (warc_ts before the delete)
    e1 = spark.createDataFrame([mk("u", 3, ts + dt.timedelta(seconds=3), "old")], schema)
    table.merge_lww(spark, e1, epoch_id=1)
    assert _table_state(spark, table) == {}, "older update resurrected a deleted url"

    # epoch 2: a genuinely NEWER insert revives the url
    e2 = spark.createDataFrame([mk("c", 9, ts + dt.timedelta(seconds=9), "new")], schema)
    table.merge_lww(spark, e2, epoch_id=2)
    state = _table_state(spark, table)
    assert list(state) == ["u1"] and state["u1"]["text"] == "new"


def test_schema_evolution_widens_table(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "log")
    gen.generate_small(
        seg_dir,
        n_urls=30,
        n_events=200,
        seed=8,
        evolve_at=0.5,
        testdata_dir=testdata_dir,
        n_segments=4,
    )
    table = LakeTable(str(tmp_path / "pages"), key="url", n_buckets=4)

    import os

    files = sorted(os.path.join(seg_dir, f) for f in os.listdir(seg_dir))
    half = len(files) // 2
    for epoch, grp in enumerate([files[:half], files[half:]]):
        batch = spark.read.schema(envelope.ENVELOPE_SCHEMA).parquet(*grp)
        deltas = apply_ops.upsert_deltas(envelope.parse_envelope(batch))
        keys = evolution.observed_extra_keys(deltas)
        deltas = evolution.promote_extra_columns(deltas, keys)
        table.merge_lww(spark, deltas, epoch_id=epoch)
        if epoch == 0:
            assert "x_title" not in [c for c, _ in table.schema_columns()]

    cols = [c for c, _ in table.schema_columns()]
    assert "x_title" in cols and "x_fetch_status" in cols
    df = table.read(spark)
    # evolved rows carry values; pre-evolution rows are null-filled
    assert df.where(F.col("x_title").isNotNull()).count() > 0
    assert "x_title" in df.columns


def test_replace_keys_for_chunks(spark, tmp_path):
    table = LakeTable(str(tmp_path / "chunks"), key="url", n_buckets=2)
    rows0 = spark.createDataFrame(
        [("u1", 0, "a"), ("u1", 1, "b"), ("u2", 0, "c")], "url string, chunk_index int, content string"
    )
    table.replace_keys(spark, rows0, rows0.select("url"), epoch_id=0)
    assert table.read(spark).count() == 3

    # u1 re-chunks to ONE chunk; u2 untouched; u3 appears
    rows1 = spark.createDataFrame(
        [("u1", 0, "a2"), ("u3", 0, "d")], "url string, chunk_index int, content string"
    )
    table.replace_keys(spark, rows1, rows1.select("url"), epoch_id=1)
    state = {(r["url"], r["chunk_index"]): r["content"] for r in table.read(spark).collect()}
    assert state == {("u1", 0): "a2", ("u2", 0): "c", ("u3", 0): "d"}

    # deleted url: keys include u2, rows don't → u2's chunks drop
    empty = spark.createDataFrame([], "url string, chunk_index int, content string")
    table.replace_keys(spark, empty, spark.createDataFrame([("u2",)], "url string"), epoch_id=2)
    assert sorted(r["url"] for r in table.read(spark).collect()) == ["u1", "u3"]

    # idempotent replay
    assert table.replace_keys(spark, rows1, rows1.select("url"), epoch_id=1) is None


def test_snapshot_time_travel(spark, tmp_path):
    """Every commit publishes an immutable snapshot: read(snapshot_id=N)
    reproduces the table as of N (until vacuum reclaims superseded files)."""
    table = LakeTable(str(tmp_path / "tt"), key="url", n_buckets=2)
    schema = (
        "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
    )
    ts = dt.datetime(2024, 1, 1)
    table.merge_lww(
        spark, spark.createDataFrame([("u1", ts, 1, "c", 0, "v1")], schema), epoch_id=0
    )
    sid1 = table.current_snapshot()["snapshot_id"]
    table.merge_lww(
        spark,
        spark.createDataFrame(
            [("u1", ts + dt.timedelta(seconds=5), 2, "u", 0, "v2"),
             ("u2", ts + dt.timedelta(seconds=6), 3, "c", 0, "w1")],
            schema,
        ),
        epoch_id=1,
    )
    now = {r["url"]: r["text"] for r in table.read(spark).collect()}
    assert now == {"u1": "v2", "u2": "w1"}
    past = {r["url"]: r["text"] for r in table.read(spark, snapshot_id=sid1).collect()}
    assert past == {"u1": "v1"}
    assert table.snapshot_ids() == [1, 2]
    assert table.read(spark, snapshot_id=99) is None


def test_partial_compaction_rewrites_only_hot_buckets(spark, tmp_path):
    """min_files compaction is O(hot data): only buckets holding >= min_files
    delta files are folded; resolved state and read results are unchanged."""
    table = LakeTable(str(tmp_path / "pc"), key="url", n_buckets=4)
    schema = (
        "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
    )
    ts = dt.datetime(2024, 1, 1)
    # u-hot lands in one bucket repeatedly; u-cold written once
    for epoch in range(3):
        rows = [("hot", ts + dt.timedelta(seconds=epoch), epoch + 1, "u", 0, f"h{epoch}")]
        if epoch == 0:
            rows.append(("cold", ts, 100, "c", 0, "c0"))
        table.merge_lww(spark, spark.createDataFrame(rows, schema), epoch_id=epoch)

    before = {b: list(fs) for b, fs in table.bucket_files().items()}
    hot_buckets = [b for b, fs in before.items() if len(fs) >= 3]
    assert hot_buckets, "hot url should have stacked 3 delta files in its bucket"

    snap = table.compact(spark, min_files=3)
    assert snap["meta"] == {"compaction": True, "partial": True}
    after = table.bucket_files()
    for b in hot_buckets:
        assert len(after[b]) == 1, "hot bucket folded to one file"
    for b, fs in before.items():
        if b not in hot_buckets and len(fs) > 0:
            assert after[b] == fs, "cold buckets untouched"
    state = {r["url"]: r["text"] for r in table.read(spark).collect()}
    assert state == {"hot": "h2", "cold": "c0"}

    # below-threshold call is a no-op
    assert table.compact(spark, min_files=3) is None


def test_reopen_adopts_persisted_bucket_count_and_rebucket(spark, tmp_path):
    """The key→bucket mapping is physical layout: reopening a table with a
    different n_buckets argument must ADOPT the persisted count (a silent
    mismatch would split a key across buckets and defeat per-bucket LWW
    resolution); rebucketing happens only via compact(n_buckets=...)."""
    schema = (
        "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
    )
    ts = dt.datetime(2024, 1, 1)
    t1 = LakeTable(str(tmp_path / "t"), key="url", n_buckets=16)
    t1.merge_lww(spark, spark.createDataFrame([("k", ts, 1, "c", 0, "old")], schema), epoch_id=0)

    # reopen with a DIFFERENT count: adopted, not trusted
    t2 = LakeTable(str(tmp_path / "t"), key="url", n_buckets=64)
    assert t2.n_buckets == 16
    t2.merge_lww(
        spark,
        spark.createDataFrame([("k", ts + dt.timedelta(seconds=5), 2, "u", 0, "new")], schema),
        epoch_id=1,
    )
    rows = t2.read(spark).collect()
    assert len(rows) == 1 and rows[0]["text"] == "new", "LWW must still collapse k"

    # explicit rebucketing compact rewrites the whole layout
    snap = t2.compact(spark, n_buckets=4)
    assert snap["n_buckets"] == 4
    assert all(int(b) < 4 for b in snap["buckets"])
    t3 = LakeTable(str(tmp_path / "t"), key="url", n_buckets=16)
    assert t3.n_buckets == 4  # adopted again
    assert [r["text"] for r in t3.read(spark).collect()] == ["new"]


# ---------------------------------------------------------------------------
# Round 3: manifest split + file-level key skipping + ADVICE r2 fixes
# ---------------------------------------------------------------------------

_R3_SCHEMA = (
    "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
)


def test_file_skipping_prunes_point_reads(spark, tmp_path):
    """Per-file key blooms: a 1-url probe reads only the files whose bloom
    may contain it — not the bucket's whole delta stack (VERDICT r2 item 1:
    'a 1-url probe reads ≤1 file per bucket')."""
    table = LakeTable(str(tmp_path / "fs"), key="url", n_buckets=4)
    ts = dt.datetime(2024, 1, 1)
    for e in range(6):  # 6 epochs × disjoint urls → every bucket stacks deltas
        rows = [
            (f"u{e}_{i}", ts + dt.timedelta(seconds=e), e * 10 + i, "c", 0, f"v{e}")
            for i in range(8)
        ]
        table.merge_lww(spark, spark.createDataFrame(rows, _R3_SCHEMA), epoch_id=e)

    total_files = sum(len(v) for v in table.bucket_files().values())
    assert total_files >= 12, "setup: buckets should hold multiple delta files"

    pruned = table.files_for_keys(spark, ["u3_0"])
    assert len(pruned) <= 2, f"bloom skipping failed: {len(pruned)} files kept"
    got = table.read_keys(spark, ["u3_0"]).collect()
    assert [(r["url"], r["text"]) for r in got] == [("u3_0", "v3")]

    # a key the table never saw prunes to zero files (≈1% FP tolerance)
    assert len(table.files_for_keys(spark, ["never-written"])) <= 1

    # LWW across epochs still resolves through the pruned read
    table.merge_lww(
        spark,
        spark.createDataFrame(
            [("u3_0", ts + dt.timedelta(seconds=99), 999, "u", 0, "v-new")], _R3_SCHEMA
        ),
        epoch_id=6,
    )
    got = table.read_keys(spark, ["u3_0", "u1_2"]).collect()
    state = {r["url"]: r["text"] for r in got}
    assert state == {"u3_0": "v-new", "u1_2": "v1"}

    # a deleted key reads as absent through read_keys
    table.merge_lww(
        spark,
        spark.createDataFrame(
            [("u1_2", ts + dt.timedelta(seconds=100), 1000, "d", 1, None)], _R3_SCHEMA
        ),
        epoch_id=7,
    )
    df = table.read_keys(spark, ["u1_2"])
    assert df is None or df.count() == 0


def test_merge_reduces_unreduced_batch(spark, tmp_path):
    """ADVICE r2 (medium): a caller passing UNREDUCED deltas (several rows per
    key) must still read back exactly one LWW winner — merge_lww reduces by
    default; pre_reduced=True is the driver's opt-out."""
    table = LakeTable(str(tmp_path / "ur"), key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", ts, 1, "c", 0, "v1"),
        ("u1", ts + dt.timedelta(seconds=2), 2, "u", 0, "v2"),
        ("u1", ts + dt.timedelta(seconds=1), 3, "u", 0, "mid"),
    ]
    table.merge_lww(spark, spark.createDataFrame(rows, _R3_SCHEMA), epoch_id=0)
    got = table.read(spark).collect()
    assert len(got) == 1 and got[0]["text"] == "v2"


def test_set_mode_cross_epoch_duplicate_set(spark, tmp_path):
    """ADVICE r2 (low): the SAME chunk set redelivered in a different epoch
    (outside the epoch log) must not survive twice — the commit-file
    tiebreaker keeps exactly one copy."""
    schema = (
        "url string, warc_ts timestamp, pos long, op string, is_deleted int,"
        " chunk_index int, content string"
    )
    table = LakeTable(str(tmp_path / "dup"), key="url", n_buckets=2, mode="set")
    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", ts, 5, "u", 0, 0, "chunk-a"),
        ("u1", ts, 5, "u", 0, 1, "chunk-b"),
    ]
    df = spark.createDataFrame(rows, schema)
    table.merge_sets(spark, df, epoch_id=0, pre_reduced=True)
    table.merge_sets(spark, df, epoch_id=1, pre_reduced=True)  # duplicate delivery
    got = sorted(
        (r["chunk_index"], r["content"]) for r in table.read(spark).collect()
    )
    assert got == [(0, "chunk-a"), (1, "chunk-b")], f"duplicated set: {got}"


def test_expired_snapshot_reads_none_and_empty_commit_cleanup(spark, tmp_path):
    """ADVICE r2 (low ×2): a time-travel read of a vacuumed snapshot returns
    None (not a scan-time FileNotFoundException), and no-op-epoch commit dirs
    holding only _SUCCESS are reclaimed by vacuum."""
    import os

    table = LakeTable(str(tmp_path / "ex"), key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    table.merge_lww(
        spark, spark.createDataFrame([("u1", ts, 1, "c", 0, "v1")], _R3_SCHEMA), epoch_id=0
    )
    sid1 = table.current_snapshot()["snapshot_id"]
    table.merge_lww(
        spark,
        spark.createDataFrame(
            [("u1", ts + dt.timedelta(seconds=5), 2, "u", 0, "v2")], _R3_SCHEMA
        ),
        epoch_id=1,
    )
    assert table.read(spark, snapshot_id=sid1) is not None  # pre-vacuum: valid
    table.compact(spark)  # vacuums superseded files
    assert table.snapshot(sid1) is None
    assert table.read(spark, snapshot_id=sid1) is None

    # empty append (content-hash-skip epoch): dir must not accumulate
    empty = spark.createDataFrame([], _R3_SCHEMA)
    table.merge_lww(spark, empty, epoch_id=7)
    table.vacuum()
    for entry in os.listdir(table.data_dir):
        cdir = os.path.join(table.data_dir, entry)
        n_parquet = sum(
            1 for _r, _d, fs in os.walk(cdir) for f in fs if f.endswith(".parquet")
        )
        assert n_parquet > 0, f"_SUCCESS-only commit dir survived vacuum: {entry}"


def test_snapshot_metadata_stays_bounded(spark, tmp_path):
    """Manifest split (VERDICT r2 item 6): the snapshot JSON holds manifest
    references, so its size is O(buckets), not O(total live files)."""
    import os

    table = LakeTable(str(tmp_path / "mb"), key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    sizes = []
    for e in range(24):
        rows = [(f"u{e}", ts + dt.timedelta(seconds=e), e + 1, "c", 0, f"v{e}")]
        table.merge_lww(spark, spark.createDataFrame(rows, _R3_SCHEMA), epoch_id=e)
        sizes.append(os.path.getsize(os.path.join(table.meta_dir, "_current.json")))
    files = sum(len(v) for v in table.bucket_files().values())
    assert files >= 20
    # inline file lists grew ~linearly with files; manifest refs stay flat
    # (the epochs log adds ~20 bytes/epoch — allow that, nothing more)
    growth = sizes[-1] - sizes[3]
    assert growth < 30 * (24 - 4), f"snapshot grew {growth}B over 20 epochs: {sizes}"


def test_expire_snapshots_bounds_metadata(spark, tmp_path):
    """expire_snapshots reclaims old snap-*.json and unreferenced manifests
    while the current table (and the kept tail) stays readable — bounds
    _meta over a long-running stream."""
    import os

    table = LakeTable(str(tmp_path / "es"), key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    for e in range(20):
        rows = [(f"u{e}", ts + dt.timedelta(seconds=e), e + 1, "c", 0, f"v{e}")]
        table.merge_lww(spark, spark.createDataFrame(rows, _R3_SCHEMA), epoch_id=e)

    n_manifests_before = len(os.listdir(table.manifest_dir))
    removed = table.expire_snapshots(keep_last=3)
    assert removed > 0
    assert len(table.snapshot_ids()) == 3
    assert len(os.listdir(table.manifest_dir)) < n_manifests_before
    # current view intact, kept tail time-travels, expired ids read None
    assert table.read(spark).count() == 20
    ids = table.snapshot_ids()
    assert table.read(spark, snapshot_id=ids[0]) is not None
    assert table.read(spark, snapshot_id=ids[0] - 5) is None
    # a later commit + expire keeps working
    table.merge_lww(
        spark,
        spark.createDataFrame([("zz", ts, 999, "c", 0, "z")], _R3_SCHEMA),
        epoch_id=20,
    )
    table.expire_snapshots(keep_last=2)
    assert table.read(spark).count() == 21


# ---------------------------------------------------------------------------
# One-job commits: the write tasks write the bucket files and return the
# manifest entries; nothing is listed or read back
# ---------------------------------------------------------------------------

_WIDE_SCHEMA = (
    "url string, warc_ts timestamp, pos long, op string, is_deleted int, "
    "html binary, embedding array<float>"
)


def _live_files(table):
    return {p for ps in table.bucket_files().values() for p in ps}


def _parquet_on_disk(table):
    return {
        os.path.join(root, f)
        for root, _d, fs in os.walk(table.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }


def test_commit_round_trip_under_non_utc_session_zone(spark, tmp_path):
    """Files written by the commit's python tasks read back through Spark
    exactly as written — timestamp instants, binary html, array<float>
    embeddings and a column evolved in a later commit — under a non-UTC
    session zone; each entry's rows/bloom/order bounds describe its file."""
    from changedatacapture_spark.operators.lww import _order_key
    from changedatacapture_spark.sinks.lake import _bloom_build

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        ts = dt.datetime(2024, 3, 10, 1, 30)  # spans that zone's DST jump
        e0 = [
            (f"u{i}", ts + dt.timedelta(hours=i), i, "c", 0, bytes([i, 0, 255]),
             [float(i), -0.5])
            for i in range(12)
        ]
        e0[3] = e0[3][:5] + (None, None)
        e1 = [
            (f"v{i}", ts + dt.timedelta(days=1, seconds=i), 100 + i, "u", 0,
             b"<p>x</p>", [1.25, float(i)], f"title {i}")
            for i in range(6)
        ]
        df0 = spark.createDataFrame(e0, _WIDE_SCHEMA)
        df1 = spark.createDataFrame(e1, _WIDE_SCHEMA + ", x_title string")
        table = LakeTable(str(tmp_path / "rt"), key="url", n_buckets=4)
        table.merge_lww(spark, df0, epoch_id=0)
        table.merge_lww(spark, df1, epoch_id=1)

        def rows(df):
            df = df.withColumn("_us", F.unix_micros("warc_ts"))
            return sorted(
                (r.asDict() for r in df.collect()), key=lambda r: r["url"]
            )

        expected = rows(df0.withColumn("x_title", F.lit(None).cast("string")))
        expected += rows(df1)
        got = table.read(spark)
        assert got.columns == [
            "url", "warc_ts", "pos", "op", "is_deleted", "html", "embedding",
            "x_title",
        ]
        assert rows(got) == expected

        snap = table.current_snapshot()
        for es in table._entries(snap).values():
            for e in es:
                f = table._read_files(spark, [table._abs(e["p"])])
                ok = _order_key()
                r = f.select(
                    F.count("*").alias("n"),
                    F.min(ok).alias("lo"),
                    F.max(ok).alias("hi"),
                    F.collect_list("url").alias("keys"),
                ).first()
                assert e["rows"] == r["n"]
                assert e["bloom"] == _bloom_build(r["keys"])
                assert e["o"] == [list(r["lo"]), list(r["hi"])]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


@pytest.mark.parametrize("aqe,partitions", [("true", "4"), ("false", "3")])
def test_one_file_per_touched_bucket(spark, tmp_path, aqe, partitions):
    """Hash-partitioning on _bucket without a fixed count keeps each bucket
    in one task — one file per touched bucket with AQE coalescing on, and
    with AQE off and fewer shuffle partitions than buckets."""
    conf = {
        "spark.sql.adaptive.enabled": aqe,
        "spark.sql.shuffle.partitions": partitions,
    }
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        table = LakeTable(str(tmp_path / "ob"), key="url", n_buckets=8)
        ts = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(f"u{i}", ts, i, "c", 0, f"v{i}") for i in range(40)], _R3_SCHEMA
        )
        table.merge_lww(spark, df, epoch_id=0, pre_reduced=True)
        touched = {
            r["_b"] for r in df.select(table._bucket_expr().alias("_b")).collect()
        }
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    files = table.bucket_files()
    assert {int(b) for b in files} == touched and len(touched) > 1
    assert all(len(ps) == 1 for ps in files.values()), files
    assert _parquet_on_disk(table) == _live_files(table)
    assert table.read(spark).count() == 40


def test_small_merge_runs_at_most_two_jobs(spark, tmp_path):
    """A commit is one write job: the shuffle-map stage plus the stage whose
    tasks write the files and return their stats — no read-back job."""
    import uuid

    table = LakeTable(str(tmp_path / "jobs"), key="url", n_buckets=8)
    ts = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(f"u{i}", ts, i, "c", 0, f"v{i}") for i in range(40)], _R3_SCHEMA
    )
    sc = spark.sparkContext
    group = f"merge-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of one merge_lww")
    try:
        table.merge_lww(spark, df, epoch_id=0, pre_reduced=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 2, f"merge_lww ran {len(jobs)} Spark jobs"
    assert table.read(spark).count() == 40


def test_orphan_file_in_committed_bucket_dir_is_never_read(spark, tmp_path):
    """A parquet file left in a committed _bucket= dir (what a failed task
    attempt leaves) is not in the manifest: reads never see it, even when
    its rows would win LWW, and vacuum reclaims it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = LakeTable(str(tmp_path / "orph"), key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    table.merge_lww(
        spark,
        spark.createDataFrame(
            [(f"u{i}", ts, i, "c", 0, "kept") for i in range(10)], _R3_SCHEMA
        ),
        epoch_id=0,
    )
    victim = sorted(_live_files(table))[0]
    t = pq.read_table(victim)
    t = t.set_column(
        t.schema.get_field_index("pos"), "pos", pa.array([10**6] * t.num_rows)
    ).set_column(
        t.schema.get_field_index("text"), "text", pa.array(["orphan"] * t.num_rows)
    )
    orphan = os.path.join(os.path.dirname(victim), "part-orphan.parquet")
    pq.write_table(t, orphan)
    keys = t.column("url").to_pylist()

    assert orphan not in _live_files(table)
    assert {r["text"] for r in table.read(spark).collect()} == {"kept"}
    assert orphan not in table.files_for_keys(spark, keys)
    assert {r["text"] for r in table.read_keys(spark, keys).collect()} == {"kept"}
    assert table.vacuum() == 1
    assert not os.path.exists(orphan) and os.path.exists(victim)
    assert table.read(spark).count() == 10


def test_key_buckets_match_the_write_path_bucket(spark, tmp_path):
    """A point read looks for each key in the bucket the write path put it
    in: ``_buckets_of_keys`` (inline ``VALUES``, no job) ≡ ``_bucket_col``
    over a DataFrame, for keys on every hash code path (empty, 1 byte,
    below/at/above the 32-byte stripe, multi-byte UTF-8, SQL quote and
    escape characters, null) and several bucket counts."""
    import random

    from changedatacapture_spark.sinks.lake import _bucket_col

    rnd = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789/.-_'\\\"?"
    wide = "é日本語€𝄞ß"
    keys = ["", "a"]
    for n in (7, 8, 31, 32, 33, 64, 100):
        keys += ["".join(rnd.choice(alphabet) for _ in range(n)) for _ in range(20)]
    keys += [
        "".join(rnd.choice(alphabet + wide) for _ in range(rnd.randint(1, 80)))
        for _ in range(100)
    ]
    keys += [f"https://example.com/page/{i}" for i in range(100)] + [None]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    for n in (2, 8, 16, 256):
        want = {r["k"]: r["b"] for r in df.select("k", _bucket_col("k", n).alias("b")).collect()}
        table = LakeTable(str(tmp_path / f"b{n}"), key="url", n_buckets=n)
        got = {k: b for b, ks in table._buckets_of_keys(spark, keys).items() for k in ks}
        assert got == want, n


def test_read_keys_plans_without_a_spark_job(spark, tmp_path):
    """Finding a point read's buckets launches no Spark job: the keys are
    hashed over a local relation, so planning ``read_keys`` runs nothing
    until the returned DataFrame is used."""
    import uuid

    table = LakeTable(str(tmp_path / "pr"), key="url", n_buckets=8)
    ts = dt.datetime(2024, 1, 1)
    table.merge_lww(
        spark,
        spark.createDataFrame(
            [(f"u{i}", ts, i, "c", 0, f"v{i}") for i in range(40)], _R3_SCHEMA
        ),
        epoch_id=0,
    )
    sc = spark.sparkContext
    group = f"read-keys-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of planning one read_keys")
    try:
        df = table.read_keys(spark, ["u3", "u17", "absent"])
        files = table.files_for_keys(spark, ["u3"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert len(files) == 1
    assert sorted((r["url"], r["text"]) for r in df.collect()) == [
        ("u17", "v17"),
        ("u3", "v3"),
    ]
