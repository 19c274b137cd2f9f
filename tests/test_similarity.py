"""Similarity-search semantics: brute-force top-k is exact (vs numpy); the
LSH bucket path returns a subset ranked identically and finds the identical
vector (recall of the trivial neighbor)."""

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from changedatacapture_spark.functions import similarity as sim

SF = "/root/testdata/sf0.001"


def _corpus():
    t = pq.read_table(f"{SF}/embeddings.parquet")
    ids = t.column("vec_id").to_pylist()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    return ids, vecs


def test_brute_force_topk_matches_numpy(spark):
    ids, vecs = _corpus()
    q = vecs[0]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = sim.cosine_topk(emb, list(q), k=10).collect()

    norms = np.linalg.norm(vecs, axis=1)
    cos = vecs @ q / (norms * np.linalg.norm(q))
    order = sorted(range(len(ids)), key=lambda i: (-round(cos[i] * 1e6), ids[i]))[:10]
    exp_ids = [ids[i] for i in order]

    assert [r["vec_id"] for r in got] == exp_ids
    assert got[0]["vec_id"] == 0 and got[0]["cos_micro"] == 1_000_000


def test_lsh_bucket_finds_identical_vector(spark):
    ids, vecs = _corpus()
    q = vecs[7]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = sim.lsh_bucket_ann(emb, list(q), k=5, n_planes=6).collect()
    assert got, "query bucket empty"
    assert got[0]["vec_id"] == 7, "identical vector must share the query's bucket and rank first"
    assert got[0]["cos_micro"] == 1_000_000


def test_lsh_bucket_is_subset_of_brute_force_ranking(spark):
    ids, vecs = _corpus()
    q = vecs[3]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    full = {r["vec_id"]: r["cos_micro"] for r in sim.cosine_topk(emb, list(q), k=500).collect()}
    bucketed = sim.lsh_bucket_ann(emb, list(q), k=50, n_planes=4).collect()
    for r in bucketed:
        assert full[r["vec_id"]] == r["cos_micro"], "bucketed score must equal exact score"


def test_embeddings_load_shape(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert emb.select(F.size("embedding")).first()[0] == 64


def test_bucketed_ann_partition_pruning(spark, tmp_path):
    """The 100 TB ANN path: the corpus written partitioned by LSH bucket is
    partition-PRUNED at query time — the probe scan's physical plan carries
    the bucket predicate as PartitionFilters, so unprobed buckets' files are
    never read (PLANS.md has the captured plan)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx_path = str(tmp_path / "ann_idx")
    sim.write_bucketed(emb, idx_path, n_planes=6)

    _, vecs = _corpus()
    got_df = sim.bucketed_ann(spark, idx_path, list(vecs[11]), k=10, n_planes=6, n_probes=8)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters")[1][:120]
    # results are exact within the probed buckets (subset of brute force)
    full = {r["vec_id"]: r["cos_micro"] for r in sim.cosine_topk(emb, list(vecs[11]), k=500).collect()}
    for r in got_df.collect():
        assert full[r["vec_id"]] == r["cos_micro"]


@pytest.mark.slow
def test_bucketed_ann_neardup_recall_sf01(spark, tmp_path):
    """Recall ≥0.9 vs brute force at sf0.1 on the near-duplicate workload the
    pipeline actually serves (query = perturbed corpus vector, cos≈0.95):
    8 planes / 32 margin-ordered probes finds the true twin ≥90% of the time
    while scanning ~13% of the corpus (numpy-simulated 0.98 over 100
    queries; 20 spark-side here for runtime)."""
    sf = "/root/testdata/sf0.1"
    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)

    idx_path = str(tmp_path / "ann_idx8")
    sim.write_bucketed(spark.read.parquet(f"{sf}/embeddings.parquet"), idx_path, n_planes=8)

    rng = np.random.default_rng(7)
    hit = tot = 0
    for qi in range(0, 400, 20):
        qv = vecs[qi] + rng.normal(0, 0.06, vecs.shape[1])
        got = sim.bucketed_ann(
            spark, idx_path, list(qv), k=1, n_planes=8, n_probes=32
        ).collect()
        hit += int(bool(got) and got[0]["vec_id"] == ids[qi])
        tot += 1
    assert hit / tot >= 0.9, f"near-dup recall {hit / tot:.2f}"


@pytest.mark.slow
def test_bucketed_ann_isotropic_topk_beats_random_scan(spark, tmp_path):
    """The sf0.1 corpus is ISOTROPIC random (top-10 'neighbors' at cos≈0.3) —
    the information-theoretic worst case where no sublinear index reaches
    0.9 recall without near-full scans. The honest pin: margin-ordered
    multi-probe at a 25% budget (16/64 buckets) must recover well over 25%
    of the true top-10 (proportional random scanning's expectation) —
    measured ≈0.59, pinned ≥0.45."""
    sf = "/root/testdata/sf0.1"
    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)

    idx_path = str(tmp_path / "ann_idx6")
    sim.write_bucketed(spark.read.parquet(f"{sf}/embeddings.parquet"), idx_path, n_planes=6)

    hits = total = 0
    for qi in range(0, 200, 20):
        qv = vecs[qi]
        cos = vecs @ qv / (norms * np.linalg.norm(qv))
        exact = {int(ids[i]) for i in np.argsort(-cos)[:10]}
        got = {
            r["vec_id"]
            for r in sim.bucketed_ann(
                spark, idx_path, list(qv), k=10, n_planes=6, n_probes=16
            ).collect()
        }
        hits += len(exact & got)
        total += 10
    assert hits / total >= 0.45, f"recall {hits / total:.2f} at 25% probe budget"


def test_multi_probe_order_prefers_small_margins(spark):
    """probe_buckets returns the query's own bucket first and orders flips by
    hyperplane margin — the bucket differing only in the SMALLEST |proj| bit
    must come before one differing in the largest."""
    planes = sim._projection_matrix(64, 6)
    _, vecs = _corpus()
    q = list(vecs[5])
    projs = [sim._seq_dot(planes[p], q) for p in range(6)]
    base = sum((1 << p) for p in range(6) if projs[p] > 0)
    order = sim.probe_buckets(q, planes, n_probes=64)
    assert order[0] == base
    smallest = min(range(6), key=lambda p: abs(projs[p]))
    assert order[1] == base ^ (1 << smallest)
    assert len(set(order)) == 64


@pytest.mark.slow
def test_ivf_ann_pruning_and_neardup_recall(spark, tmp_path):
    """IVF scale path: deterministic mini-k-means centroids, corpus
    partitioned by cell, query probes its closest cells only (partition-
    pruned scan). Near-dup recall ≥0.9 at 4/32 probed cells on sf0.1."""
    sf = "/root/testdata/sf0.1"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    t = pq.read_table(f"{sf}/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist())
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)

    cents = sim.ivf_train(emb, n_cells=32, iters=5)
    assert cents.shape == (32, 64)
    # deterministic: retraining gives identical centroids
    assert np.array_equal(cents, sim.ivf_train(emb, n_cells=32, iters=5))

    idx = str(tmp_path / "ivf_idx")
    sim.write_ivf(emb, idx, cents)

    q = list(vecs[11])
    got_df = sim.ivf_ann(spark, idx, q, cents, k=10, n_probes=4)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters")[1][:120]

    rng = np.random.default_rng(11)
    hit = tot = 0
    for qi in range(0, 400, 20):
        qv = vecs[qi] + rng.normal(0, 0.06, vecs.shape[1])
        got = sim.ivf_ann(spark, idx, list(qv), cents, k=1, n_probes=4).collect()
        hit += int(bool(got) and got[0]["vec_id"] == ids[qi])
        tot += 1
    assert hit / tot >= 0.9, f"IVF near-dup recall {hit / tot:.2f}"


def test_bucket_expr_matches_per_element_literal_construction(spark):
    """Building each plane as one array literal leaves every bucket id as it
    was with one ``F.lit`` per element — including vectors whose projection
    is exactly 0.0, a ±1e-300 sliver, or two cancelling terms whose sum's
    sign depends on the last bit of every plane value."""
    dim, n_planes = 384, 8
    planes = sim._projection_matrix(dim, n_planes)

    def per_element_reference(vec_col):
        b = F.lit(0)
        for p in range(n_planes):
            proj = F.aggregate(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    F.array(*[F.lit(float(x)) for x in planes[p]]),
                    lambda a, bb: a * bb,
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            b = b + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        return b

    rng = np.random.default_rng(11)
    vecs = [list(v) for v in rng.standard_normal((1900, dim))]
    vecs.append([0.0] * dim)
    vecs.append([-0.0] * dim)
    for p in range(n_planes):
        for j in (0, dim // 2, dim - 1):
            for target in (1e-300, -1e-300, 0.0):
                v = [0.0] * dim
                v[j] = target / planes[p][j]
                vecs.append(v)
        for _ in range(12):
            j1, j2 = rng.choice(dim, size=2, replace=False)
            v = [0.0] * dim
            v[j1], v[j2] = 1.0 / planes[p][j1], -1.0 / planes[p][j2]
            vecs.append(v)
    vecs += [list(v * 1e-160) for v in rng.standard_normal((26, dim))]
    assert len(vecs) >= 2000
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "i int, embedding array<double>",
    )
    got = df.select(
        "i",
        sim.bucket_expr("embedding", planes).alias("new"),
        per_element_reference("embedding").alias("ref"),
    ).collect()
    assert len(got) == len(vecs)
    assert all(r["new"] == r["ref"] for r in got)
    assert len({r["new"] for r in got}) > 100  # the planes really split the set
