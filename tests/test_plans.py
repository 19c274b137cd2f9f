"""Physical-plan shape pins — the 100 TB guarantees (SURVEY.md §4).

These assert the *plan*, not just the result: LWW must partially aggregate
map-side (no full event shuffle), filters must reach the parquet scan, small
dimensions must broadcast, top-k must be TakeOrderedAndProject (no global
sort), and hot-path expressions must stay inside whole-stage codegen."""

from pyspark.sql import functions as F

from changedatacapture_spark import queries as Q
from changedatacapture_spark.operators import lww

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_lww_uses_partial_aggregation(spark):
    """max_by LWW must show a partial aggregate before the shuffle — at
    10^10 events the shuffle carries one pre-reduced row per (url ×
    map-partition), not every event."""
    env = Q.cdc_envelope(spark, SF).withColumn("warc_ts", F.col("warc_us").cast("timestamp"))
    parsed = env.select("url", "op", "warc_ts", "pos", "val_cents")
    plan = _plan(lww.lww_winners(parsed))
    assert "partial_max_by" in plan, plan
    # exactly one exchange for the final aggregate, keyed on url
    assert plan.count("Exchange") <= 2  # AQE may add a read, but no extra shuffle stage


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(Q.filter_limit(spark, SF))
    assert "PushedFilters" in plan
    assert "lang" in plan.split("PushedFilters")[1].splitlines()[0], plan


def test_column_pruning(spark):
    """A 3-column projection must not read the full documents schema."""
    plan = _plan(Q.filter_limit(spark, SF))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema


def test_lookup_join_broadcasts_dimension(spark):
    plan = _plan(Q.lookup_join(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(Q.orders_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_ann_dot_product_stays_jvm_side(spark):
    """The brute-force ANN scan must contain no Python UDF (BatchEvalPython /
    ArrowEvalPython) — the fold is pure Catalyst."""
    plan = _plan(Q.ann_cosine_topk(spark, SF))
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_envelope_tombstone_filter_pushes_down(spark):
    from changedatacapture_spark.operators import envelope
    from changedatacapture_spark import gen
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        gen.generate_small(d, n_urls=5, n_events=20, seed=1, n_segments=1)
        df = envelope.parse_envelope(envelope.read_segments(spark, d))
        plan = _plan(df)
        assert "PushedFilters" in plan
        pushed = plan.split("PushedFilters:")[1].splitlines()[0]
        assert "IsNotNull" in pushed, plan


def test_merge_on_read_write_plan_reads_no_existing_data(spark, tmp_path):
    """merge_lww is O(batch): the append's write plan must scan ONLY the
    batch — no FileScan of the table's existing files (the r1 copy-on-write
    union re-read every touched bucket per epoch)."""
    import datetime as dt

    from changedatacapture_spark.sinks.lake import LakeTable, _align_to, _bucket_col

    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=4)
    schema = "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
    ts = dt.datetime(2024, 1, 1)
    b0 = spark.createDataFrame([("u1", ts, 1, "c", 0, "v1")], schema)
    t.merge_lww(spark, b0, epoch_id=0)

    # build exactly what the second merge writes and inspect its plan
    # (same key → same bucket stacks two delta files)
    b1 = spark.createDataFrame([("u1", ts, 2, "u", 0, "v2")], schema)
    write_schema = t._merged_schema(t.current_snapshot(), b1)
    to_write = _align_to(b1, write_schema).withColumn(
        "_bucket", _bucket_col("url", 4)
    )
    plan = _plan(to_write)
    assert "FileScan" not in plan, plan  # append sources only the in-memory batch

    t.merge_lww(spark, b1, epoch_id=1)
    # and the read side resolves LWW with a partial (map-side) aggregate —
    # applied ONLY to the multi-file bucket (per-bucket merge-on-read)
    read_plan = _plan(t.read_raw(spark))
    assert "partial_max_by" in read_plan, read_plan
    assert [r["text"] for r in t.read(spark).collect()] == ["v2"]


def test_set_table_read_skips_resolution_after_compaction(spark, tmp_path):
    """After compact() every bucket holds ≤1 file, which is resolved by
    construction — reads skip the window/aggregate entirely (no Window node,
    no max_by) so point lookups on a compacted table stay scan-cheap."""
    import datetime as dt

    from changedatacapture_spark.sinks.lake import LakeTable

    t = LakeTable(str(tmp_path / "c"), key="url", n_buckets=2, mode="set")
    schema = (
        "url string, op string, warc_ts timestamp, pos long, is_deleted int,"
        " chunk_index int, content string"
    )
    ts = dt.datetime(2024, 1, 1)
    t.merge_sets(
        spark,
        spark.createDataFrame([("u1", "c", ts, 1, 0, 0, "a")], schema),
        epoch_id=0,
    )
    t.merge_sets(
        spark,
        spark.createDataFrame(
            [("u1", "u", ts + dt.timedelta(seconds=5), 2, 0, 0, "b")], schema
        ),
        epoch_id=1,
    )
    # unresolved: the read must resolve via the window max
    assert "Window" in _plan(t.read_raw(spark))
    assert [r["content"] for r in t.read(spark).collect()] == ["b"]

    t.compact(spark)
    plan = _plan(t.read_raw(spark))
    assert "Window" not in plan and "max_by" not in plan, plan
    assert [r["content"] for r in t.read(spark).collect()] == ["b"]
