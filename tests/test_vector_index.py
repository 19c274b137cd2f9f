"""Incremental ANN index (VERDICT r2 item 2): the LSH-bucketed vector index
stays fresh per CDC epoch — updates/deletes are visible in search WITHOUT a
rebuild, moved vectors leave no stale rows, and a full compaction never
drops a live row (the live-wins tie-break pin)."""

import datetime as dt
import os

from pyspark.sql import functions as F

from changedatacapture_spark import gen
from changedatacapture_spark.functions import similarity
from changedatacapture_spark.functions.vector_index import IncrementalVectorIndex
from changedatacapture_spark.streaming.driver import CdcPipeline
from changedatacapture_spark.streaming.mirror import VectorFeedMirror

TS = dt.datetime(2024, 1, 1)
_ROWS_DDL = (
    "chunk_id string, url string, op string, warc_ts timestamp, pos long,"
    " embedding array<float>"
)


def _py_bucket(planes, v):
    return sum(
        (1 << p) for p in range(planes.shape[0]) if similarity._seq_dot(planes[p], v) > 0
    )


def test_build_then_search_finds_exact_vector(spark, tmp_path, testdata_dir):
    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet").limit(200)
    idx = IncrementalVectorIndex(str(tmp_path / "ix"), n_planes=6)
    idx.build(spark, emb, id_col="vec_id", vec_col="embedding")

    probe = emb.select("vec_id", "embedding").first()
    res = idx.search(spark, [float(x) for x in probe["embedding"]], k=3).collect()
    assert res and res[0]["chunk_id"] == str(probe["vec_id"])
    assert res[0]["cos_micro"] == 1_000_000  # exact self-match, unit cosine


def test_cdc_update_and_delete_visible_without_rebuild(spark, tmp_path):
    """The done-criterion: an update whose vector MOVES buckets is visible in
    search with no rebuild, its stale row is unreachable, a url delete drops
    its vectors, and compact() (a cross-bucket fold) keeps the live row."""
    idx = IncrementalVectorIndex(str(tmp_path / "ix"), n_planes=3, dim=4)
    planes = idx._planes()
    e1 = [1.0, 0.2, -0.3, 0.5]
    e2 = [-x for x in e1]  # all projections flip sign → different bucket
    e3 = [0.1, 1.0, 0.4, -0.2]
    assert _py_bucket(planes, e1) != _py_bucket(planes, e2)

    def rows(*rs):
        return spark.createDataFrame(list(rs), _ROWS_DDL)

    # epoch 0: two urls, one chunk each
    idx.upsert(
        spark,
        rows(("u1_chunk_0", "u1", "c", TS, 1, e1), ("u2_chunk_0", "u2", "c", TS, 2, e3)),
        epoch_id=0,
    )
    got = idx.search(spark, e1, k=1, n_probes=2).collect()
    assert got[0]["chunk_id"] == "u1_chunk_0"

    # epoch 1: u1's content changes — same chunk_id, embedding moves buckets
    new_order = ("u", TS + dt.timedelta(seconds=5), 5)
    replaced = spark.createDataFrame(
        [("u1_chunk_0", "u1", *new_order, _py_bucket(planes, e1))],
        "chunk_id string, url string, op string, warc_ts timestamp, pos long, bucket int",
    )
    idx.upsert(
        spark, rows(("u1_chunk_0", "u1", *new_order, e2)), replaced=replaced, epoch_id=1
    )

    # probe the OLD bucket's neighborhood: the stale vector must be gone
    old_side = idx.search(spark, e1, k=5, n_probes=4)
    hits = {r["chunk_id"]: r["cos_micro"] for r in old_side.collect()} if old_side else {}
    assert hits.get("u1_chunk_0") != 1_000_000, "stale vector still reachable"
    # probe the NEW side: the updated vector answers
    got = idx.search(spark, e2, k=1, n_probes=2).collect()
    assert got[0]["chunk_id"] == "u1_chunk_0" and got[0]["cos_micro"] == 1_000_000

    # index-wide invariant: exactly one live row per chunk_id, carrying e2
    live = {r["chunk_id"]: list(r["embedding"]) for r in idx.live_rows(spark).collect()}
    assert set(live) == {"u1_chunk_0", "u2_chunk_0"}
    assert [round(x, 4) for x in live["u1_chunk_0"]] == [round(x, 4) for x in e2]

    # epoch 2: u2 deleted → tombstone only (no new vectors for it)
    del_order = ("d", TS + dt.timedelta(seconds=8), 8)
    replaced2 = spark.createDataFrame(
        [("u2_chunk_0", "u2", *del_order, _py_bucket(planes, e3))],
        "chunk_id string, url string, op string, warc_ts timestamp, pos long, bucket int",
    )
    idx.upsert(spark, rows().limit(0), replaced=replaced2, epoch_id=2)
    live = {r["chunk_id"] for r in idx.live_rows(spark).collect()}
    assert live == {"u1_chunk_0"}

    # full compaction folds across buckets: the same-order tombstone/insert
    # pair of the moved chunk must resolve to the LIVE row
    idx.compact(spark)
    live = {r["chunk_id"]: list(r["embedding"]) for r in idx.live_rows(spark).collect()}
    assert set(live) == {"u1_chunk_0"}
    assert [round(x, 4) for x in live["u1_chunk_0"]] == [round(x, 4) for x in e2]
    got = idx.search(spark, e2, k=1, n_probes=2).collect()
    assert got[0]["chunk_id"] == "u1_chunk_0"

    # replaying an applied epoch is a no-op (index has its own epoch log)
    assert idx.upsert(spark, rows(("zz", "zz", "c", TS, 99, e1)), epoch_id=1) is None


def test_pipeline_keeps_index_consistent_with_chunks_table(spark, tmp_path, testdata_dir):
    """End-to-end: a VectorFeedMirror synced after a multi-epoch stream with
    creates/updates/deletes holds exactly the chunks table's live (chunk_id,
    vector) set, and a stored chunk's embedding finds its own chunk_id at
    cosine 1.0 with no rebuild."""
    seg_dir = str(tmp_path / "log")
    gen.generate_small(
        seg_dir, n_urls=25, n_events=160, seed=41, n_segments=6, testdata_dir=testdata_dir
    )
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4, with_embeddings=True)
    pipe.run_stream(
        spark, seg_dir, str(tmp_path / "ckpt"), max_files_per_trigger=2, timeout_sec=300
    )
    vm = VectorFeedMirror(pipe.chunks, str(tmp_path / "ix"), n_planes=4)
    assert vm.sync(spark) == "applied"
    assert vm.diff_vs_source(spark) == 0

    probe = (
        pipe.chunks.read(spark)
        .where(F.col("embedding").isNotNull())
        .select("chunk_id", "embedding")
        .first()
    )
    res = vm.index.search(spark, [float(x) for x in probe["embedding"]], k=1).collect()
    assert res and res[0]["chunk_id"] == probe["chunk_id"]
    assert res[0]["cos_micro"] == 1_000_000


def test_incremental_index_neardup_recall_sf01(spark, tmp_path):
    """Recall pin (VERDICT r2 done-criterion: 'recall stays ≥0.9'): the
    corpus enters the index INCREMENTALLY (two stream epochs, second half
    upserted on top of the first), then near-dup queries (perturbed corpus
    vectors, cos≈0.95) find their twin ≥90% of the time at 8 planes / 32
    margin-ordered probes — same workload and budget as the one-shot
    write_bucketed pin in test_similarity."""
    import numpy as np
    import pyarrow.parquet as pq

    sf = "/root/testdata/sf0.1"
    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    half = int(len(ids) // 2)
    idx = IncrementalVectorIndex(str(tmp_path / "ix"), n_planes=8)
    idx.build(spark, emb.where(F.col("vec_id") < half), id_col="vec_id", epoch_id=0)
    # second half arrives later as stream-order upserts (c at ts>snapshot)
    later = emb.where(F.col("vec_id") >= half).select(
        F.col("vec_id").cast("string").alias("chunk_id"),
        F.col("vec_id").cast("string").alias("url"),
        F.lit("c").alias("op"),
        F.timestamp_micros(F.lit(1_000_000)).alias("warc_ts"),
        F.col("vec_id").cast("long").alias("pos"),
        F.col("embedding"),
    )
    idx.upsert(spark, later, epoch_id=1)

    rng = np.random.default_rng(7)
    hit = tot = 0
    for qi in range(0, 400, 20):
        qv = vecs[qi] + rng.normal(0, 0.06, vecs.shape[1])
        got = idx.search(spark, list(qv), k=1, n_probes=32).collect()
        hit += int(bool(got) and got[0]["chunk_id"] == str(ids[qi]))
        tot += 1
    assert hit / tot >= 0.9, f"incremental near-dup recall {hit / tot:.2f}"


def test_truncate_reaches_the_index(spark, tmp_path, testdata_dir):
    """Code-review r3 fix: a TRUNCATE horizon must kill index vectors of
    urls the batch never mentions — unit (upsert(truncate=)) and end-to-end
    (a feed-driven index synced across a truncate ≡ chunks live set)."""
    # unit: u1 stored, truncate arrives with only u2's new vector
    idx = IncrementalVectorIndex(str(tmp_path / "ixu"), n_planes=3, dim=4)
    e1, e2 = [1.0, 0.2, -0.3, 0.5], [0.1, 1.0, 0.4, -0.2]

    def rows(*rs):
        return spark.createDataFrame(list(rs), _ROWS_DDL)

    idx.upsert(spark, rows(("u1_chunk_0", "u1", "c", TS, 1, e1)), epoch_id=0)
    horizon = [1, 1704067205000000, 5]  # 2024-01-01T00:00:05Z as epoch-us
    idx.upsert(
        spark,
        rows(("u2_chunk_0", "u2", "c", dt.datetime(2024, 1, 1, 0, 0, 6), 6, e2)),
        epoch_id=1,
        truncate=horizon,
    )
    live = {r["chunk_id"] for r in idx.live_rows(spark).collect()}
    assert live == {"u2_chunk_0"}, f"pre-truncate vector survived: {live}"

    # end-to-end: a VectorFeedMirror synced mid-stream, then across a window
    # holding a TRUNCATE, must track the chunks table
    seg_dir = str(tmp_path / "log")
    gen.generate_small(
        seg_dir,
        n_urls=20,
        n_events=140,
        seed=47,
        truncate_frac=0.03,
        n_segments=4,
        testdata_dir=testdata_dir,
    )
    later = sorted(os.listdir(seg_dir))[1:]
    os.makedirs(tmp_path / "held")
    for f in later:
        os.rename(os.path.join(seg_dir, f), str(tmp_path / "held" / f))
    pipe = CdcPipeline(str(tmp_path / "lake"), n_buckets=4, with_embeddings=True)
    ckpt = str(tmp_path / "ckpt")
    pipe.run_stream(spark, seg_dir, ckpt, max_files_per_trigger=1, timeout_sec=300)
    vm = VectorFeedMirror(pipe.chunks, str(tmp_path / "ix2"), n_planes=4)
    assert vm.sync(spark) == "applied"
    first = pipe.chunks.current_snapshot()["truncate"]
    for f in later:
        os.rename(str(tmp_path / "held" / f), os.path.join(seg_dir, f))
    pipe.run_stream(spark, seg_dir, ckpt, max_files_per_trigger=1, timeout_sec=300)
    horizon = pipe.chunks.current_snapshot()["truncate"]
    assert horizon > first  # a later truncate lands inside the second window
    assert vm.sync(spark) == "applied"
    assert vm.index.table.current_snapshot()["truncate"] == horizon
    assert vm.diff_vs_source(spark) == 0


def test_ivf_mode_incremental_update(spark, tmp_path, testdata_dir):
    """IVF bucketing family for the incremental index (VERDICT r2: 'bucket =
    LSH bucket/IVF cell'): build from trained centroids, self-match, a
    cell-moving update is fresh without rebuild, reopen validates layout."""
    import numpy as np

    emb = spark.read.parquet(f"{testdata_dir}/embeddings.parquet")
    cents = similarity.ivf_train(emb, n_cells=8, sample_rows=500)
    path = str(tmp_path / "ivf")
    idx = IncrementalVectorIndex(path, centroids=cents)
    assert idx.mode == "ivf" and idx.table.n_buckets == len(cents)
    idx.build(spark, emb, id_col="vec_id")

    probe = emb.select("vec_id", "embedding").first()
    res = idx.search(spark, [float(x) for x in probe["embedding"]], k=1, n_probes=2).collect()
    assert res[0]["chunk_id"] == str(probe["vec_id"])
    assert res[0]["cos_micro"] == 1_000_000

    # update vec 0 to the negated vector (different cell in general):
    # tombstone in the old cell, insert in the new one
    e0 = np.array(probe["embedding"], dtype=np.float64)
    old_cell = int(((cents - e0[None, :]) ** 2).sum(axis=1).argmin())
    new_order = ("u", TS + dt.timedelta(seconds=9), 9)
    new_vecs = spark.createDataFrame(
        [(str(probe["vec_id"]), str(probe["vec_id"]), *new_order,
          [-float(x) for x in probe["embedding"]])],
        _ROWS_DDL,
    )
    replaced = spark.createDataFrame(
        [(str(probe["vec_id"]), str(probe["vec_id"]), *new_order, old_cell)],
        "chunk_id string, url string, op string, warc_ts timestamp, pos long, bucket int",
    )
    idx.upsert(spark, new_vecs, replaced, epoch_id=1)

    # old neighborhood: no stale exact match; new side answers
    stale = idx.search(spark, [float(x) for x in probe["embedding"]], k=3, n_probes=4)
    hits = {r["chunk_id"]: r["cos_micro"] for r in stale.collect()} if stale else {}
    assert hits.get(str(probe["vec_id"])) != 1_000_000
    fresh = idx.search(spark, [-float(x) for x in probe["embedding"]], k=1, n_probes=2).collect()
    assert fresh[0]["chunk_id"] == str(probe["vec_id"]) and fresh[0]["cos_micro"] == 1_000_000

    # reopen adopts persisted centroids; mismatched layout is rejected
    idx2 = IncrementalVectorIndex(path)
    assert idx2.mode == "ivf" and np.array_equal(idx2.centroids, cents)
    import pytest

    with pytest.raises(AssertionError):
        IncrementalVectorIndex(path, centroids=cents[:4])
