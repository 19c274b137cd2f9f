"""Round-4 hardening pins (VERDICT r3 'do this' + ADVICE r3):

- per-file key blooms are built INSIDE Spark write-side jobs (never a
  driver-side parquet read) and byte-match the pure-python builder;
- the epoch idempotency window's eviction floor detects replays OLDER than
  the window instead of silently re-applying them;
- vacuum records expired snapshot ids so time-travel expiry is an O(1)
  membership test, not an O(total files) existence walk;
- MultiTablePipeline scans the raw batch ONCE for T tables (slices read the
  cache);
- IncrementalVectorIndex.build never occupies stream epoch 0;
- generator truncate events honor the snapshot-first ts contract.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from changedatacapture_spark import gen
from changedatacapture_spark.functions.vector_index import IncrementalVectorIndex
from changedatacapture_spark.sinks.lake import LakeTable, _bloom_build
from changedatacapture_spark.streaming.driver import MultiTablePipeline

_SCHEMA = (
    "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
)
TS = dt.datetime(2024, 1, 1)


def _rows(n, epoch, prefix="u"):
    return [
        (f"{prefix}{i}", TS + dt.timedelta(seconds=epoch), epoch * 1000 + i, "c", 0, f"v{epoch}")
        for i in range(n)
    ]


def test_bloom_stats_match_pure_python_builder(spark, tmp_path):
    """The executor-side bloom (applyInPandas over input_file_name groups)
    must be bit-identical to _bloom_build over the file's actual key column
    — same manifest format, same no-false-negative guarantee (VERDICT r3
    item 1: _file_entry's driver pyarrow read is gone)."""
    import pyarrow.parquet as pq

    table = LakeTable(str(tmp_path / "b"), key="url", n_buckets=4)
    table.merge_lww(spark, spark.createDataFrame(_rows(60, 1), _SCHEMA), epoch_id=1)
    table.merge_lww(spark, spark.createDataFrame(_rows(25, 2), _SCHEMA), epoch_id=2)

    snap = table.current_snapshot()
    entries = [e for es in table._entries(snap).values() for e in es]
    assert entries, "commits wrote no files"
    for e in entries:
        p = table._abs(e["p"])
        keys = [
            k
            for k in pq.read_table(p, columns=["url"]).column(0).to_pylist()
            if k is not None
        ]
        n = pq.ParquetFile(p).metadata.num_rows
        assert e["rows"] == n
        assert e["bloom"] == _bloom_build(keys), f"bloom mismatch for {e['p']}"
    # the driver-side reader is really gone
    assert not hasattr(table, "_file_entry")


def test_epoch_floor_detects_pre_window_replay(spark, tmp_path):
    """VERDICT r3 item 8: an epoch OLDER than the sliding idempotency window
    must be DETECTED (epoch_floor), never silently re-merged — and because a
    sub-floor id is indistinguishable from a new stream whose checkpoint was
    reset (where skipping would silently DROP its new events), the merge
    refuses loudly; reset_epoch_log() is the explicit adoption path."""
    from changedatacapture_spark.sinks.lake import StaleEpochError

    table = LakeTable(str(tmp_path / "w"), key="url", n_buckets=2)
    table.epoch_window = 3
    batches = {}
    for e in range(6):
        batches[e] = spark.createDataFrame(_rows(3, e, prefix=f"e{e}-"), _SCHEMA)
        assert table.merge_lww(spark, batches[e], epoch_id=e) is not None

    snap = table.current_snapshot()
    kept = sorted(int(k) for k in snap["epochs"])
    assert kept == [3, 4, 5], f"window should keep newest 3, got {kept}"
    assert snap["epoch_floor"] == 2

    # every evicted epoch still reads as committed (detection works)...
    for e in range(3):
        assert table.epoch_committed(e), f"evicted epoch {e} forgotten"
    # ...an in-window replay is still a silent no-op...
    state_before = table.read(spark).count()
    assert table.merge_lww(spark, batches[4], epoch_id=4) is None
    # ...but a sub-floor id REFUSES instead of silently re-applying (stale
    # replay) or silently skipping (checkpoint-reset data loss)
    with pytest.raises(StaleEpochError, match="idempotency floor"):
        table.merge_lww(spark, batches[0], epoch_id=0)
    assert table.current_snapshot()["snapshot_id"] == snap["snapshot_id"]
    assert table.read(spark).count() == state_before
    # a genuinely new epoch above the floor still applies
    assert table.merge_lww(
        spark, spark.createDataFrame(_rows(2, 9, prefix="new-"), _SCHEMA), epoch_id=9
    ) is not None
    # explicit adoption of a re-pointed stream: reset, then epoch 0 applies
    table.reset_epoch_log()
    assert table.merge_lww(
        spark, spark.createDataFrame(_rows(2, 0, prefix="fresh-"), _SCHEMA), epoch_id=0
    ) is not None
    assert {r["url"] for r in table.read(spark).collect()} >= {"fresh-0", "fresh-1"}


def test_vacuum_records_expired_ids_no_existence_walk(spark, tmp_path):
    """ADVICE r3: snapshot() expiry is a membership test against the
    expired-ids list vacuum writes at reclaim time — a live historical
    snapshot loads without stat-ing any data file."""
    import json
    import os

    table = LakeTable(str(tmp_path / "x"), key="url", n_buckets=2)
    table.merge_lww(spark, spark.createDataFrame(_rows(4, 1), _SCHEMA), epoch_id=1)
    sid1 = table.current_snapshot()["snapshot_id"]
    table.merge_lww(spark, spark.createDataFrame(_rows(4, 2), _SCHEMA), epoch_id=2)
    sid2 = table.current_snapshot()["snapshot_id"]

    # append-only history: nothing reclaimed yet → nothing expired
    table.vacuum()
    assert table._expired_ids() == set()
    assert table.snapshot(sid1) is not None

    table.compact(spark)  # full fold + vacuum reclaims sid1/sid2's deltas
    assert sid1 in table._expired_ids() and sid2 in table._expired_ids()
    assert table.snapshot(sid1) is None and table.snapshot(sid2) is None
    cur = table.current_snapshot()["snapshot_id"]
    assert table.snapshot(cur) is not None

    # a live historical snapshot must not pay a per-file existence walk:
    # delete a LIVE data file behind the table's back — snapshot() (pure
    # metadata now) still returns it, because expiry is decided by vacuum's
    # record, not by stat calls
    sid3 = cur
    table.merge_lww(spark, spark.createDataFrame(_rows(2, 5), _SCHEMA), epoch_id=5)
    victim = next(
        p for ps in table.bucket_files().values() for p in ps
    )
    os.remove(victim)
    assert table.snapshot(sid3) is not None

    # expire_snapshots prunes expired-id entries of dropped snap jsons
    table.expire_snapshots(keep_last=1)
    exp_path = table._expired_path()
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            ids = json.load(f)
        live_jsons = {
            int(fn[len("snap-"):-len(".json")])
            for fn in os.listdir(table.meta_dir)
            if fn.startswith("snap-")
        }
        assert set(ids) <= live_jsons


def test_legacy_table_without_expired_list_adopts_on_open(spark, tmp_path):
    """A table vacuumed BEFORE the expired-ids list existed (round-3 layout)
    must not serve a reclaimed snapshot as a scan-time
    FileNotFoundException: opening it existence-sweeps once, persists the
    list, and snapshot() stays a membership test afterwards."""
    import os

    table = LakeTable(str(tmp_path / "lg"), key="url", n_buckets=2)
    table.merge_lww(spark, spark.createDataFrame(_rows(4, 1), _SCHEMA), epoch_id=1)
    sid1 = table.current_snapshot()["snapshot_id"]
    table.merge_lww(spark, spark.createDataFrame(_rows(4, 2), _SCHEMA), epoch_id=2)
    table.compact(spark)  # vacuums sid1's deltas, records it expired

    # simulate the round-3 layout: the list never existed
    os.remove(table._expired_path())
    reopened = LakeTable(str(tmp_path / "lg"), key="url", n_buckets=2)
    assert os.path.exists(reopened._expired_path()), "adoption did not persist"
    assert reopened.snapshot(sid1) is None, "reclaimed snapshot resurfaced"
    assert reopened.read(spark, snapshot_id=sid1) is None
    cur = reopened.current_snapshot()["snapshot_id"]
    assert reopened.snapshot(cur) is not None
    assert reopened.read(spark).count() == 4


def test_multitable_slices_read_cache_not_raw_segments(spark, tmp_path, testdata_dir):
    """VERDICT r3 item 3: a T-table fan-in scans the raw segments once per
    epoch — each per-table slice's optimized plan reads the cached batch
    (InMemoryRelation), not the file source again."""
    seg_dir = str(tmp_path / "log")
    gen.generate_small(
        seg_dir,
        n_urls=20,
        n_events=120,
        seed=91,
        n_segments=2,
        second_table_frac=0.4,
        testdata_dir=testdata_dir,
    )
    from changedatacapture_spark.operators import envelope

    multi = MultiTablePipeline(str(tmp_path / "lake"), ["pages", "authors"], n_buckets=2)
    plans = {}
    for t, pipe in multi.pipes.items():
        def rec(df, epoch_id, _t=t):
            plans[_t] = df._jdf.queryExecution().optimizedPlan().toString()

        pipe.apply_batch = rec
    batch = envelope.read_segments(spark, seg_dir)
    multi.apply_batch(batch, epoch_id=0)

    assert set(plans) == {"pages", "authors"}
    for t, plan in plans.items():
        assert "InMemoryRelation" in plan, f"{t} slice bypasses the cache:\n{plan}"


def test_index_build_does_not_occupy_stream_epoch_zero(spark, tmp_path):
    """ADVICE r3 (medium): after a bulk build, a stream's FIRST micro-batch
    (epoch 0) must still apply — the build may not claim epoch 0 in the
    index's exactly-once log."""
    idx = IncrementalVectorIndex(str(tmp_path / "ix"), n_planes=3, dim=4)
    emb = spark.createDataFrame(
        [("a", [1.0, 0.0, 0.0, 0.0]), ("b", [0.0, 1.0, 0.0, 0.0])],
        "vec_id string, embedding array<float>",
    )
    idx.build(spark, emb)

    rows = spark.createDataFrame(
        [("a", "a", "u", TS, 7, [0.0, 0.0, 1.0, 0.0])],
        "chunk_id string, url string, op string, warc_ts timestamp, pos long,"
        " embedding array<float>",
    )
    assert idx.upsert(spark, rows, epoch_id=0) is not None, (
        "stream epoch 0 no-opped after bulk build (epoch-log collision)"
    )
    live = {r["chunk_id"]: list(r["embedding"]) for r in idx.live_rows(spark).collect()}
    assert live["a"] == [0.0, 0.0, 1.0, 0.0], "epoch-0 update not visible"


def test_kafka_reader_option_strings(spark):
    """VERDICT r3 item 7: no broker (and no kafka connector jar) exists in
    this sandbox, so ``read_kafka_stream`` can't execute — but its option
    strings CAN be pinned. A recording stand-in for DataStreamReader
    captures exactly what the builder sets; the names/casing are checked
    against the Structured-Streaming Kafka source's documented options, and
    load()'s result flows through the REAL projection over the source's
    exact wire schema. Residual (documented in COVERAGE.md): only the
    broker round-trip itself remains unexecuted."""
    from changedatacapture_spark.operators import envelope

    wire = spark.createDataFrame(
        [
            (
                b"u1",
                b'{"op":"c","before":null,"after":{"url":"u1","warc_ts":null,'
                b'"html":null,"text":"t","lang":"en","extra":null},'
                b'"source":{"db":"d","table":"pages","file":"f","pos":1},"ts_ms":1}',
            ),
            (b"u2", None),  # compaction tombstone: null Kafka value
        ],
        "key binary, value binary",
    )

    class FakeReader:
        def __init__(self):
            self.fmt = None
            self.options = {}

        def format(self, f):
            self.fmt = f
            return self

        def option(self, k, v):
            self.options[k] = v
            return self

        def load(self):
            return wire

    fake = FakeReader()

    class FakeSession:
        readStream = fake

    out = envelope.read_kafka_stream(
        FakeSession(),
        "broker1:9092,broker2:9092",
        "dbserver1.testdb.pages",
        starting_offsets="earliest",
        max_offsets_per_trigger=5000,
    )
    assert fake.fmt == "kafka"
    # exact documented option names — a typo here (e.g. startingOffset)
    # would be silently ignored by a real broker connection
    assert fake.options == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "dbserver1.testdb.pages",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": 5000,
    }
    # the projection really parses the Debezium value + keeps the record key
    rows = {r["_kafka_key"]: r for r in out.collect()}
    assert rows[b"u1".decode()]["op"] == "c"
    assert rows["u1"]["after"]["url"] == "u1"
    assert rows["u2"]["op"] is None  # tombstone → all-null envelope
    dropped = envelope.filter_tombstones(out).collect()
    assert {r["_kafka_key"] for r in dropped} == {"u1"}


def test_generator_truncate_honors_snapshot_first_contract(tmp_path, testdata_dir):
    """ADVICE r3: truncate events get the same ts clamp as data events —
    with many snapshot urls and an early truncate, every 't' must still sort
    AFTER every snapshot 'r' row (the contract both the oracle fold and the
    engine's horizon assume)."""
    events = gen.generate_small(
        str(tmp_path / "log"),
        n_urls=4000,  # n_snap=2000 > 1000*(1+i) for early i
        n_events=12,
        seed=7,
        n_segments=1,
        truncate_frac=0.5,
        testdata_dir=testdata_dir,
    )
    r_ts = [e["after"]["warc_ts"] for e in events if e["op"] == "r"]
    t_ts = [e["after"]["warc_ts"] for e in events if e["op"] == "t"]
    assert t_ts, "seed produced no truncate — pick another seed"
    assert max(r_ts) < min(t_ts), "a truncate sorted before a snapshot row"
