"""End-to-end Structured Streaming replay: final table state ≡ oracle fold,
chunks ≡ oracle chunker, checkpoint restart is exactly-once, lineage emitted
per epoch (north rule: resumable from checkpoint without duplicate or lost
upserts)."""

import os

from changedatacapture_spark import gen, oracle
from changedatacapture_spark.streaming.driver import CdcPipeline


def _expected(events):
    state = oracle.fold_events(events)
    chunks = {
        url: oracle.chunk_by_sections(p["text"]) for url, p in state.items()
    }
    return state, chunks


def _check_final(spark, pipe, events):
    state, chunks = _expected(events)
    pages = {r["url"]: r.asDict() for r in pipe.pages.read(spark).collect()}
    assert set(pages) == set(state)
    for url, exp in state.items():
        assert pages[url]["text"] == exp["text"], f"text mismatch {url}"

    got_chunks = {}
    for r in pipe.chunks.read(spark).collect():
        got_chunks.setdefault(r["url"], []).append(r)
    exp_nonempty = {u for u, c in chunks.items() if c}
    assert set(got_chunks) == exp_nonempty
    for url in exp_nonempty:
        got = sorted(got_chunks[url], key=lambda r: r["chunk_index"])
        exp = chunks[url]
        assert len(got) == len(exp)
        for g, e in zip(got, exp):
            assert g["content"] == e["content"], f"chunk bytes differ for {url}"
            assert g["section_title"] == e["section"]


def test_stream_replay_matches_oracle(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "log")
    events = gen.generate_small(
        seg_dir, n_urls=40, n_events=300, seed=13, n_segments=6, testdata_dir=testdata_dir
    )
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4)
    pipe.run_stream(
        spark, seg_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2, timeout_sec=300
    )
    _check_final(spark, pipe, events)

    # lineage: one record set per epoch, offsets cover the log
    lin = pipe.lineage.read(spark)
    assert lin is not None
    assert lin.select("epoch_id").distinct().count() >= 3  # 6 files / 2 per trigger
    assert lin.agg({"rows_in": "sum"}).first()[0] > 0


def test_stream_restart_from_checkpoint_exactly_once(spark, tmp_path, testdata_dir):
    seg_dir = str(tmp_path / "log")
    events = gen.generate_small(
        seg_dir, n_urls=30, n_events=240, seed=17, n_segments=8, testdata_dir=testdata_dir
    )
    lake_dir = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: only half the segments exist → stream drains them and stops
    hidden = {}
    files = sorted(f for f in os.listdir(seg_dir) if f.endswith(".parquet"))
    for f in files[4:]:
        hidden[f] = os.path.join(str(tmp_path), "hidden_" + f)
        os.rename(os.path.join(seg_dir, f), hidden[f])

    pipe1 = CdcPipeline(lake_dir, n_buckets=4)
    pipe1.run_stream(spark, seg_dir, ckpt, max_files_per_trigger=2, timeout_sec=300)
    mid_snapshot = pipe1.pages.current_snapshot()
    assert mid_snapshot is not None

    # phase 2: remaining segments appear; NEW pipeline object (fresh process
    # semantics) resumes from the same checkpoint
    for f, p in hidden.items():
        os.rename(p, os.path.join(seg_dir, f))
    pipe2 = CdcPipeline(lake_dir, n_buckets=4)
    pipe2.run_stream(spark, seg_dir, ckpt, max_files_per_trigger=2, timeout_sec=300)
    _check_final(spark, pipe2, events)

    # restart with nothing new: no further snapshots committed
    sid = pipe2.pages.current_snapshot()["snapshot_id"]
    pipe3 = CdcPipeline(lake_dir, n_buckets=4)
    pipe3.run_stream(spark, seg_dir, ckpt, max_files_per_trigger=2, timeout_sec=300)
    assert pipe3.pages.current_snapshot()["snapshot_id"] == sid


def test_batch_bootstrap_equals_stream(spark, tmp_path, testdata_dir):
    """EP3: batch bootstrap shares the apply path (Trigger.AvailableNow ≡
    one-epoch batch replay)."""
    seg_dir = str(tmp_path / "log")
    events = gen.generate_small(
        seg_dir, n_urls=25, n_events=150, seed=19, testdata_dir=testdata_dir
    )
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4)
    pipe.run_batch(spark, seg_dir)
    _check_final(spark, pipe, events)


def test_stream_with_periodic_compaction(spark, tmp_path, testdata_dir):
    """Auto-compaction mid-stream keeps results identical and bounds files."""
    seg_dir = str(tmp_path / "log")
    events = gen.generate_small(
        seg_dir, n_urls=20, n_events=160, seed=47, n_segments=6, testdata_dir=testdata_dir
    )
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4, compact_every=2)
    pipe.run_stream(
        spark, seg_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2, timeout_sec=300
    )
    _check_final(spark, pipe, events)
    assert any("compact" in m.get("phases", {}) for m in pipe.metrics)
    # merge-on-read: epochs since the last compaction each append ≤1 delta
    # file per bucket; compaction bounds the total
    files_per_bucket = [len(v) for v in pipe.pages.bucket_files().values()]
    assert all(n <= 1 + 2 for n in files_per_bucket)  # ≤ compact_every appends
    # a final compaction folds everything back to one file per bucket and the
    # resolved state is unchanged
    before = {r["url"]: r["text"] for r in pipe.pages.read(spark).collect()}
    pipe.pages.compact(spark)
    files_per_bucket = [len(v) for v in pipe.pages.bucket_files().values()]
    assert all(n <= 1 for n in files_per_bucket)
    after = {r["url"]: r["text"] for r in pipe.pages.read(spark).collect()}
    assert after == before


def test_auto_compaction_bounds_delta_stacks(spark, tmp_path, testdata_dir):
    """compact_min_files (read-cost-keyed auto-compaction): delta stacks are
    bounded by construction — no bucket ends deeper than the threshold, and
    the folded state still equals the oracle."""
    from changedatacapture_spark.streaming.driver import CdcPipeline

    seg_dir = str(tmp_path / "log")
    events = gen.generate_small(
        seg_dir, n_urls=30, n_events=240, seed=19, n_segments=8, testdata_dir=testdata_dir
    )
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4, compact_min_files=3)
    pipe.run_stream(
        spark, seg_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1, timeout_sec=300
    )
    assert pipe.pages.max_files_per_bucket() <= 3
    assert pipe.chunks.max_files_per_bucket() <= 3
    _check_final(spark, pipe, events)


def test_stream_maintenance_covers_index_and_expiry(spark, tmp_path, testdata_dir):
    """compact_every + expire_keep fold the pages/chunks delta stacks and
    bound _meta; state stays oracle-correct."""
    from changedatacapture_spark.streaming.driver import CdcPipeline

    seg_dir = str(tmp_path / "log")
    events = gen.generate_small(
        seg_dir, n_urls=25, n_events=160, seed=53, n_segments=6, testdata_dir=testdata_dir
    )
    pipe = CdcPipeline(
        str(tmp_path / "lake"),
        n_buckets=4,
        with_embeddings=True,
        compact_every=2,
        expire_keep=3,
    )
    pipe.run_stream(
        spark, seg_dir, str(tmp_path / "ckpt"), max_files_per_trigger=1, timeout_sec=300
    )
    assert len(pipe.pages.snapshot_ids()) <= 4  # expiry bounded _meta
    assert len(pipe.chunks.snapshot_ids()) <= 4
    assert pipe.chunks.max_files_per_bucket() <= 3  # chunks compacted too
    _check_final(spark, pipe, events)
