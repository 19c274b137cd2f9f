"""Exactly-once across BOTH sink tables: a crash between the pages commit and
the chunks commit must not lose the chunks epoch on replay, and replays must
not double-apply either table. Plus the JSONL (wire-faithful) feed path."""

import os

import pytest

from changedatacapture_spark import gen, oracle
from changedatacapture_spark.operators import envelope
from changedatacapture_spark.sinks.lake import LakeTable
from changedatacapture_spark.streaming.driver import CdcPipeline


def test_crash_between_pages_and_chunks_commits(spark, tmp_path, testdata_dir):
    seg = str(tmp_path / "log")
    events = gen.generate_small(seg, n_urls=20, n_events=120, seed=31, testdata_dir=testdata_dir)
    batch = envelope.read_segments(spark, seg)

    # simulate the crash: apply the epoch with chunks disabled → pages commits
    # epoch 0, chunks never does (exactly what a kill between the two commits
    # leaves behind)
    crashed = CdcPipeline(str(tmp_path / "lake"), n_buckets=4, with_chunks=False)
    crashed.apply_batch(batch, epoch_id=0)
    assert crashed.pages.current_snapshot() is not None
    assert crashed.chunks.current_snapshot() is None

    # restart replay of the SAME epoch with the full pipeline
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4, with_chunks=True)
    pages_snap_before = pipe.pages.current_snapshot()["snapshot_id"]
    pipe.apply_batch(batch, epoch_id=0)

    # pages untouched (idempotent), chunks now applied
    assert pipe.pages.current_snapshot()["snapshot_id"] == pages_snap_before
    assert pipe.chunks.current_snapshot() is not None

    state = oracle.fold_events(events)
    exp_chunked = {u for u, p in state.items() if oracle.chunk_by_sections(p["text"])}
    got_urls = {r["url"] for r in pipe.chunks.read(spark).collect()}
    assert got_urls == exp_chunked

    # replaying again changes nothing in either table
    ps, cs = (
        pipe.pages.current_snapshot()["snapshot_id"],
        pipe.chunks.current_snapshot()["snapshot_id"],
    )
    pipe.apply_batch(batch, epoch_id=0)
    assert pipe.pages.current_snapshot()["snapshot_id"] == ps
    assert pipe.chunks.current_snapshot()["snapshot_id"] == cs


def _live_files(table):
    return {p for ps in table.bucket_files().values() for p in ps}


def _parquet_on_disk(table):
    return {
        os.path.join(root, f)
        for root, _d, fs in os.walk(table.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize("crash_at", ["pages", "chunks"])
def test_crash_after_data_files_before_publish(
    spark, tmp_path, testdata_dir, monkeypatch, crash_at
):
    """A crash after a commit's data files are written but before its
    snapshot is published: the files stay unreferenced, a fresh pipeline
    replaying the epoch reaches the oracle state with every manifest path
    present, and vacuum reclaims the unpublished files."""
    seg = str(tmp_path / "log")
    events = gen.generate_small(seg, n_urls=20, n_events=120, seed=33, testdata_dir=testdata_dir)
    batch = envelope.read_segments(spark, seg)
    lake = str(tmp_path / "lake")

    publish = LakeTable._publish
    crashed_once = []

    def crash_once(self, snap):
        if not crashed_once and self.path.endswith(crash_at):
            crashed_once.append(self.path)
            raise RuntimeError("simulated crash before publish")
        return publish(self, snap)

    monkeypatch.setattr(LakeTable, "_publish", crash_once)
    crashed = CdcPipeline(lake, n_buckets=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        crashed.apply_batch(batch, epoch_id=0)
    monkeypatch.undo()
    assert crashed_once
    unpublished = set()
    for t in (crashed.pages, crashed.chunks):
        unpublished |= _parquet_on_disk(t) - _live_files(t)
    assert unpublished, "the crashed commit wrote no data files"

    pipe = CdcPipeline(lake, n_buckets=4)
    pipe.apply_batch(batch, epoch_id=0)
    state = oracle.fold_events(events)
    pages = {r["url"]: r["text"] for r in pipe.pages.read(spark).collect()}
    assert pages == {u: p["text"] for u, p in state.items()}
    got_chunks: dict[str, list] = {}
    for r in sorted(
        pipe.chunks.read(spark).collect(), key=lambda r: (r["url"], r["chunk_index"])
    ):
        got_chunks.setdefault(r["url"], []).append(r["content"])
    exp_chunks = {
        u: [c["content"] for c in oracle.chunk_by_sections(p["text"])]
        for u, p in state.items()
    }
    assert got_chunks == {u: cs for u, cs in exp_chunks.items() if cs}

    for t in (pipe.pages, pipe.chunks):
        assert all(os.path.exists(p) for p in _live_files(t))
        t.vacuum()
        assert _parquet_on_disk(t) == _live_files(t)
    assert not any(os.path.exists(p) for p in unpublished)
    assert {r["url"]: r["text"] for r in pipe.pages.read(spark).collect()} == pages


def test_jsonl_feed_with_corrupt_rows(spark, tmp_path, testdata_dir):
    seg_pq = str(tmp_path / "pq")
    events = gen.generate_small(
        seg_pq, n_urls=15, n_events=100, seed=37, testdata_dir=testdata_dir
    )
    seg_jsonl = str(tmp_path / "jsonl")
    # serialize the SAME envelope rows as JSONL with 10% corrupt lines
    rows = [
        {
            "op": e["op"],
            "before": e.get("before"),
            "after": e.get("after"),
            "source": e["source"],
            "ts_ms": e["ts_ms"],
        }
        for e in events
    ]
    gen.write_jsonl_segments(rows, seg_jsonl, corrupt_frac=0.1, seed=37)

    parsed = envelope.parse_envelope(envelope.read_segments_jsonl(spark, seg_jsonl))
    # corrupt lines drop; real events survive byte-identically
    assert parsed.count() == len(events)

    from changedatacapture_spark.operators import apply as apply_ops

    got = {
        r["url"]: r.asDict() for r in apply_ops.fold_final_state(parsed).collect()
    }
    exp = oracle.fold_events(events)
    assert set(got) == set(exp)
    for url, p in exp.items():
        assert got[url]["text"] == p["text"]
        assert bytes(got[url]["html"]) == p["html"]  # base64 round-trip exact
