"""Event-log fold vs the sequential single-node oracle (FIXTURES.md
'Golden-state oracle'): generated logs with skew, late events, duplicate
deliveries and tombstones must fold to the oracle's final table state."""

import pytest

from changedatacapture_spark import gen, oracle
from changedatacapture_spark.operators import apply as apply_ops
from changedatacapture_spark.operators import envelope, lww


def _spark_state(spark, seg_dir, salt_buckets=None):
    parsed = envelope.parse_envelope(envelope.read_segments(spark, seg_dir))
    final = apply_ops.fold_final_state(parsed, salt_buckets=salt_buckets)
    return {
        r["url"]: r.asDict()
        for r in final.collect()
    }


def _assert_matches_oracle(spark_state, events):
    expected = oracle.fold_events(events)
    assert set(spark_state) == set(expected)
    for url, exp in expected.items():
        got = spark_state[url]
        assert got["text"] == exp["text"], f"text mismatch for {url}"
        assert got["warc_ts"] == exp["warc_ts"], f"warc_ts mismatch for {url}"
        assert got["lang"] == exp["lang"]
        assert bytes(got["html"]) == exp["html"]


@pytest.mark.parametrize("seed", [42, 7])
def test_fold_matches_oracle(spark, tmp_path, testdata_dir, seed):
    seg_dir = str(tmp_path / f"log{seed}")
    events = gen.generate_small(
        seg_dir, n_urls=60, n_events=500, seed=seed, testdata_dir=testdata_dir
    )
    _assert_matches_oracle(_spark_state(spark, seg_dir), events)


def test_fold_with_hot_key_skew_and_salting(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "skewlog")
    events = gen.generate_small(
        seg_dir, n_urls=40, n_events=600, seed=3, hot_frac=0.5, testdata_dir=testdata_dir
    )
    # salted two-phase LWW ≡ unsalted ≡ oracle
    _assert_matches_oracle(_spark_state(spark, seg_dir, salt_buckets=8), events)
    _assert_matches_oracle(_spark_state(spark, seg_dir), events)


def test_duplicate_deliveries_collapse(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "duplog")
    gen.generate_small(
        seg_dir, n_urls=20, n_events=200, seed=9, dup_frac=0.5, testdata_dir=testdata_dir
    )
    parsed = envelope.parse_envelope(envelope.read_segments(spark, seg_dir))
    deduped = lww.dedup_deliveries(parsed)
    assert deduped.count() == deduped.select("url", "pos").distinct().count()
    # raw log really contains duplicates
    assert parsed.count() > deduped.count()


def test_tombstones_filtered(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "tomblog")
    gen.generate_small(
        seg_dir, n_urls=20, n_events=200, seed=11, tombstone_frac=0.2, testdata_dir=testdata_dir
    )
    raw = envelope.read_segments(spark, seg_dir)
    parsed = envelope.parse_envelope(raw)
    assert raw.where("op is null").count() > 0
    assert parsed.where("op is null").count() == 0


def test_stream_event_beats_snapshot_regardless_of_event_time(spark):
    """Pins the LWW contract edge documented at operators.lww.order_key_cols:
    a stream event ('d' here) ALWAYS outranks a snapshot read ('r') of the
    same key, even when the 'r' carries a LATER warc_ts — the engine assumes
    the Debezium snapshot-first contract, and deviates deliberately from a
    global (warc_ts, pos) sort for feeds that violate it."""
    import datetime as dt

    from pyspark.sql import functions as F

    from changedatacapture_spark.operators.lww import lww_winners

    ts = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            ("u1", "d", ts, 5, None),                          # early delete
            ("u1", "r", ts + dt.timedelta(hours=1), 1, "snap"),  # later snapshot read
        ],
        "url string, op string, warc_ts timestamp, pos long, text string",
    )
    w = lww_winners(df).collect()
    assert len(w) == 1 and w[0]["op"] == "d", (
        "the stream tombstone must win over the later-timestamped snapshot row"
    )

    # and among snapshots alone, the FIRST wins (insert-if-absent)
    df2 = spark.createDataFrame(
        [
            ("u2", "r", ts, 1, "first"),
            ("u2", "r", ts + dt.timedelta(seconds=9), 2, "second"),
        ],
        "url string, op string, warc_ts timestamp, pos long, text string",
    )
    w2 = lww_winners(df2).collect()
    assert w2[0]["text"] == "first"
