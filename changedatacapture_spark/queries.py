"""Named queries over the driver's test tables — the correctness-gate surface.

Every function here takes ``(spark, sf_dir)`` and returns a DataFrame; each
has an ANSI-SQL twin in ``ORACLE_SQL`` runnable by DuckDB on the same parquet
(views: region nation customer supplier part orders lineitem events documents
embeddings). Together they cover the reference's operator inventory
(SURVEY.md §2) plus the training-data-pipeline extensions (dedup, similarity,
text analysis).

Envelope mapping: the driver's ``events`` table (event_id, ts, user_id,
event_type, value, props) is deterministically mapped to a CDC envelope —
``user_id`` → url, ``ts`` → warc_ts, ``event_id`` → binlog pos,
event_type → op (signup→c, error→d, else→u) — with pure column expressions so
DuckDB can reproduce it exactly. Timestamps are compared as epoch-micros
BIGINTs and floats as integer micro-units to keep cross-engine value-hashes
exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import dedup as dedup_fn
from .functions import similarity as sim_fn
from .functions import text as text_fn
from .functions import transform

# ---------------------------------------------------------------------------
# table loading
# ---------------------------------------------------------------------------


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# CDC envelope over the events table
# ---------------------------------------------------------------------------

# TZ-independent epoch-micros for the parquet NTZ timestamps (unix_micros on
# a cast would shift with the session time zone — verified against DuckDB's
# epoch_us). Lazy: F.expr needs an active session.
def _epoch_us() -> F.Column:
    return F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")


def _url_col() -> F.Column:
    return F.concat(
        F.lit("https://site-"),
        (F.col("user_id") % 50).cast("string"),
        F.lit(".example.com/page/"),
        F.lpad(F.col("user_id").cast("string"), 6, "0"),
    )


def _op_col() -> F.Column:
    return (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )

_ENVELOPE_SQL = """
    SELECT
      'https://site-' || CAST(user_id % 50 AS VARCHAR) || '.example.com/page/'
        || lpad(CAST(user_id AS VARCHAR), 6, '0')                      AS url,
      CASE WHEN event_type = 'signup' THEN 'c'
           WHEN event_type = 'error'  THEN 'd'
           ELSE 'u' END                                                AS op,
      epoch_us(ts)                                                     AS warc_us,
      event_id                                                         AS pos,
      CAST(round(value * 100) AS BIGINT)                               AS val_cents
    FROM events
"""


def cdc_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3: envelope projection (auto_gen_rag.py:33-70 as one select)."""
    return load(spark, sf_dir, "events").select(
        _url_col().alias("url"),
        _op_col().alias("op"),
        _epoch_us().alias("warc_us"),
        F.col("event_id").alias("pos"),
        F.round(F.col("value") * 100).cast("bigint").alias("val_cents"),
    )


def cdc_lww_winners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: in-batch LWW — one winning event per url by (warc_ts, pos),
    computed with the engine's map-side-combine max_by reduction."""
    env = cdc_envelope(spark, sf_dir)
    return (
        env.groupBy("url")
        .agg(
            F.max_by(
                F.struct("op", "warc_us", "pos", "val_cents"), F.struct("warc_us", "pos")
            ).alias("w")
        )
        .select("url", "w.op", "w.warc_us", "w.pos", "w.val_cents")
    )


def cdc_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship fold: final table state after replaying the change log —
    LWW winner per key, deletes drop the key (auto_gen_rag.py:165-208)."""
    return cdc_lww_winners(spark, sf_dir).where(F.col("op") != "d").select(
        "url", F.col("op").alias("last_op"), "warc_us", "pos", "val_cents"
    )


def cdc_op_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5: GROUP BY operation counts (incremental_pinecone_updater.py:355)."""
    return cdc_envelope(spark, sf_dir).groupBy("op").agg(F.count("*").alias("n"))


def cdc_dedup_deliveries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-delivery collapse: the log unioned with itself (simulated
    at-least-once redelivery) dedupes back to one row per (url, pos)."""
    env = cdc_envelope(spark, sf_dir)
    return env.unionAll(env).distinct()


def cdc_changelog_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: ORDER BY time DESC LIMIT n (database.py:534,
    incremental_rag_system.py:136-139)."""
    return (
        cdc_envelope(spark, sf_dir)
        .orderBy(F.desc("warc_us"), F.desc("pos"))
        .limit(100)
    )


def cdc_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: point read by key (database.py:254-299)."""
    return cdc_envelope(spark, sf_dir).where(F.col("pos") == 123)


_LAKE_PROBE_UIDS = (7, 23, 42)


def cdc_lake_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 at the LAKE layer (VERDICT r2 item 8): the change log is merged
    into a LakeTable as four merge-on-read epochs (delta files stack per
    bucket), then a multi-point lookup runs through ``read_keys`` — bucket-
    pruned to the keys' buckets and bloom-pruned to the files that can
    contain them (tests/test_lake_sink.py pins the ≤-matching-files promise;
    PLANS.md carries the files/bytes-read evidence). The result must equal
    the plain SQL LWW fold restricted to the probed urls — proving the
    pruned physical read path loses nothing."""
    import tempfile

    from .sinks.lake import LakeTable

    env = cdc_envelope(spark, sf_dir).select(
        "url",
        "op",
        F.timestamp_micros(F.col("warc_us")).alias("warc_ts"),
        "pos",
        (F.col("op") == "d").cast("int").alias("is_deleted"),
        "val_cents",
    )
    table = LakeTable(
        tempfile.mkdtemp(prefix="cdc_lake_point_"), key="url", n_buckets=8
    )
    for e in range(4):
        table.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == e), epoch_id=e)
    urls = [
        f"https://site-{u % 50}.example.com/page/{u:06d}" for u in _LAKE_PROBE_UIDS
    ]
    got = table.read_keys(spark, urls)
    if got is None:  # every probed key bloom-pruned to zero files
        ddl = ", ".join(f"`{n}` {t}" for n, t in table.schema_columns())
        got = spark.createDataFrame([], ddl)
    return got.select(
        "url",
        F.col("op").alias("last_op"),
        F.unix_micros("warc_ts").alias("warc_us"),
        "pos",
        "val_cents",
    )


def cdc_truncate_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncate op 't' (QUICK_START.md:282-288) end-to-end through the lake:
    the log is merged in two epochs with a TRUNCATE horizon at the order key
    of pos=500 attached to the second; the engine records it as snapshot
    metadata (O(1), no rewrite) and kills all rows at-or-below it at read
    time. Must equal the plain SQL fold over only the events ABOVE the
    horizon — i.e. truncate-then-rebuild semantics."""
    import tempfile

    from .sinks.lake import LakeTable

    env0 = cdc_envelope(spark, sf_dir)
    h = env0.where(F.col("pos") == 500).select("warc_us").first()
    horizon = [1, int(h["warc_us"]), 500]
    env = env0.select(
        "url",
        "op",
        F.timestamp_micros(F.col("warc_us")).alias("warc_ts"),
        "pos",
        (F.col("op") == "d").cast("int").alias("is_deleted"),
        "val_cents",
    )
    table = LakeTable(
        tempfile.mkdtemp(prefix="cdc_truncate_"), key="url", n_buckets=8
    )
    table.merge_lww(spark, env.where(F.pmod("pos", F.lit(2)) == 0), epoch_id=0)
    table.merge_lww(
        spark, env.where(F.pmod("pos", F.lit(2)) == 1), epoch_id=1, truncate=horizon
    )
    return table.read(spark).select(
        "url",
        F.col("op").alias("last_op"),
        F.unix_micros("warc_ts").alias("warc_us"),
        "pos",
        "val_cents",
    )


def cdc_range_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: range slice (main.py:788-794 from_idx/to_idx)."""
    return cdc_envelope(spark, sf_dir).where(F.col("pos").between(1000, 1100))


def cdc_lineage_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment lineage rollup: rows + offset range per 1000-pos segment
    (the engine's per-partition lineage, aggregated to a stable key)."""
    env = cdc_envelope(spark, sf_dir)
    return (
        env.groupBy((F.floor(F.col("pos") / 1000)).cast("bigint").alias("segment"))
        .agg(
            F.count("*").alias("rows_in"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            F.countDistinct("url").alias("n_urls"),
        )
    )


def cdc_noop_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based no-op suppression analog (incremental_pinecone_updater.py:
    275-277): updates whose payload equals the key's previous payload."""
    from pyspark.sql.window import Window

    env = cdc_envelope(spark, sf_dir)
    w = Window.partitionBy("url").orderBy("warc_us", "pos")
    return (
        env.withColumn("prev", F.lag("val_cents").over(w))
        .where((F.col("op") == "u") & (F.col("prev") == F.col("val_cents")))
        .select("url", "pos", "val_cents")
    )


def cdc_events_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling rollup (integer hour buckets from epoch-micros so
    the cross-engine compare is TZ-proof)."""
    env = cdc_envelope(spark, sf_dir)
    return (
        env.groupBy(
            F.expr("warc_us DIV 3600000000").alias("hour_bucket"),  # integer div: TZ- and FP-proof
            F.col("op"),
        )
        .agg(F.count("*").alias("n_events"), F.countDistinct("url").alias("n_urls"))
    )


def cdc_site_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site activity rollup (the skew-monitoring view)."""
    env = cdc_envelope(spark, sf_dir)
    return (
        env.select(F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1).alias("site"))
        .groupBy("site")
        .agg(F.count("*").alias("n_events"))
    )


def cdc_hot_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew probe: urls holding >1% of all events (exact heavy-hitter
    detection — the input to choosing ``CdcPipeline(salt_buckets=)``)."""
    env = cdc_envelope(spark, sf_dir)
    counts = env.groupBy("url").agg(F.count("*").alias("n"))
    # scalar total derived from the (already tiny) counts via a 1-row cross
    # join — ONE job, one scan of the input (the previous version ran a
    # separate env.count() driver action first)
    total = counts.agg(F.sum("n").alias("_total"))
    return (
        counts.crossJoin(total)
        .where(F.col("n") * 100 > F.col("_total"))
        .select("url", "n")
    )


def cdc_asof_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: each delete probes the url's most recent
    upsert value at-or-before its own event time (operators.asof.asof_join —
    one keyed window shuffle, no inequality join; DuckDB twin uses its
    native ASOF JOIN)."""
    from .operators import asof as asof_ops

    env = cdc_envelope(spark, sf_dir)
    dels = env.where(F.col("op") == "d").select("url", "warc_us", "pos")
    # ≤1 right row per (url, time): as-of ties are ambiguous otherwise
    ups = (
        env.where(F.col("op") != "d")
        .groupBy("url", "warc_us")
        .agg(F.max_by(F.col("val_cents"), F.col("pos")).alias("val_cents"))
    )
    j = asof_ops.asof_join(
        dels,
        ups,
        on="url",
        left_time="warc_us",
        right_time="warc_us",
        value_cols=["val_cents", "warc_us"],
    )
    return j.select(
        "url", "warc_us", "pos", "asof_val_cents", "asof_warc_us"
    )


def events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events counted into 1-hour intervals anchored at every
    500th event (operators.asof.binned_range_join — intervals explode to
    10-minute bins, points equi-join on their bin, exact predicate inside;
    no BroadcastNestedLoop)."""
    from .operators import asof as asof_ops

    env = cdc_envelope(spark, sf_dir)
    intervals = env.where(F.col("pos") % 500 == 0).select(
        F.col("pos").alias("interval_id"),
        F.col("warc_us").alias("lo"),
        (F.col("warc_us") + 3_600_000_000).alias("hi"),
    )
    pts = env.select("url", "warc_us")
    j = asof_ops.binned_range_join(
        pts, intervals, point_time="warc_us", lo="lo", hi="hi", bin_width=600_000_000
    )
    return j.groupBy("interval_id").agg(
        F.count("*").alias("n_events"), F.countDistinct("url").alias("n_urls")
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


def cdc_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: consecutive events per url closer than the gap merge
    into one session (gaps-and-islands: lag + running sum — chosen over
    ``session_window`` here because it is exactly mirrorable in ANSI SQL)."""
    from pyspark.sql.window import Window

    env = cdc_envelope(spark, sf_dir)
    w = Window.partitionBy("url").orderBy("warc_us", "pos")
    prev = F.lag("warc_us").over(w)
    is_new = (prev.isNull() | (F.col("warc_us") - prev > SESSION_GAP_US)).cast("int")
    sess = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        env.withColumn("session_id", sess)
        .groupBy("url", "session_id")
        .agg(
            F.min("warc_us").alias("session_start_us"),
            F.max("warc_us").alias("session_end_us"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# transform: section chunker over a derived sectioned corpus
# ---------------------------------------------------------------------------

# deterministic sectioned text derived from documents.text — gives the
# chunker real work (multiple headings) in a way DuckDB can reproduce
_SECTIONED = (
    "'1. ' || substr({t}, 1, 24) || chr(10) || substr({t}, 25, 100) || chr(10) || "
    "'## ' || substr({t}, 125, 16) || chr(10) || substr({t}, 141, 10000)"
)


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin the compact documents scan across the cluster before
    compute-heavy per-row work (chunker UDF, shingle explode): the corpus
    parquet is a single small file, so the scan plans 1-2 input splits and
    everything downstream of it would run on 1-2 cores (guide §2.5 'input
    skew'). Scale-adaptive — defaultParallelism, never a constant; at a
    scale factor whose scan already plans enough splits the repartition is
    skipped entirely (no shuffle where none is needed); row set unchanged
    (and sort-before-repartition keeps the routing deterministic under task
    retry). Measured: dedup_minhash 3.5s → 1.2s at sf0.1 on local[32]."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def _sectioned_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.expr(_SECTIONED.format(t="text")).alias("stext")
    )


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: the reference chunker (main.py:105-159) as a pandas UDF +
    posexplode, over the derived sectioned corpus. The DuckDB oracle is an
    independent SQL reimplementation of the same semantics — byte-level
    cross-check of content and char offsets."""
    docs = _sectioned_docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.posexplode(transform.chunk_udf(F.col("stext"))).alias("chunk_index", "c"),
    ).select(
        "doc_id",
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.col("c.section_title").alias("section_title"),
        F.col("c.content").alias("content"),
        F.col("c.chunk_size").alias("chunk_size"),
        F.col("c.start_index").alias("start_index"),
        F.col("c.end_index").alias("end_index"),
    )


# line-diff pair: a deterministic edit of the sectioned text — line 2 gets a
# marker prefix (modified), every 5th doc drops the tail line (deleted),
# every 3rd doc gains a line (added); SQL-expressible in both engines
_LINEDIFF_NEW = (
    "'1. ' || substr({t}, 1, 24) || chr(10) || 'EDITED ' || substr({t}, 25, 100) || chr(10) || "
    "'## ' || substr({t}, 125, 16) || "
    "(CASE WHEN doc_id % 5 = 0 THEN '' ELSE chr(10) || substr({t}, 141, 10000) END) || "
    "(CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'added-' || CAST(doc_id AS {vc}) ELSE '' END)"
)


def doc_line_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: positional line diff (rag/incremental_rag_system.py:167-206) over
    a deterministic old/new text pair — modified/added/deleted rows with the
    reference's zip-by-position semantics."""
    from .operators import diff as diff_ops

    docs = load(spark, sf_dir, "documents")
    pair = docs.select(
        "doc_id",
        F.expr(_SECTIONED.format(t="text")).alias("old_text"),
        F.expr(_LINEDIFF_NEW.format(t="text", vc="STRING")).alias("new_text"),
    )
    return diff_ops.line_diff(pair).select(
        "doc_id", "change_type", F.col("line").cast("int").alias("line"), "old_line", "new_line"
    )


def doc_chunk_previews(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: the [:500] content truncation stored in vector metadata
    (main.py:920, :1083, :1272) — code-point semantics match Python slicing
    and DuckDB substr (pinned with multibyte text in
    tests/test_transform_parity.py)."""
    ch = doc_chunks(spark, sf_dir)
    return ch.select(
        "doc_id",
        "chunk_index",
        F.substring("content", 1, 500).alias("content_preview"),
        F.length("content").alias("full_len"),
    )


def doc_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: chunk summary aggregate (main.py:822-827): totals + avg size in
    micro-units."""
    ch = doc_chunks(spark, sf_dir)
    return ch.agg(
        F.countDistinct("doc_id").alias("total_documents"),
        F.count("*").alias("total_chunks"),
        F.sum("chunk_size").alias("sum_chunk_size"),
        # integer-division avg: exact cross-engine (no float rounding)
        F.expr("CAST((sum(chunk_size) * 1000000) DIV count(*) AS BIGINT)").alias(
            "avg_chunk_size_micro"
        ),
    )


# ---------------------------------------------------------------------------
# text analysis over documents
# ---------------------------------------------------------------------------


def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select("doc_id", text_fn.token_count("text"))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select("doc_id", text_fn.quality_score_micro("text"))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select("doc_id", text_fn.fingerprint("text"))


def doc_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select("doc_id", *text_fn.lang_scores("text"))


# ---------------------------------------------------------------------------
# dedup over documents
# ---------------------------------------------------------------------------


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ copy-with-shifted-ids — guarantees exact duplicates so the
    dedup operators have non-trivial output."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    copy = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )  # every 10th doc duplicated under a shifted id
    return _spread(spark, docs.unionAll(copy))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_fn.exact_dup_groups(_dup_corpus(spark, sf_dir))


def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_fn.lsh_candidate_pairs(_dup_corpus(spark, sf_dir), bands=4, rows_per_band=4)


def dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    cands = dedup_fn.lsh_candidate_pairs(corpus, bands=4, rows_per_band=4)
    return dedup_fn.jaccard_pairs(corpus, cands).where(F.col("jaccard_micro") >= 800_000)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _spread: the per-token explode is the heavy stage (guide §2.5)
    return dedup_fn.simhash16(_spread(spark, load(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings").where(F.col("vec_id") == 0).select("embedding").first()
    )
    return [float(x) for x in row["embedding"]]


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 by dot product vs vec_id=0's embedding (the corpus
    is unit-norm, so dot ≡ cosine). JVM-side zip_with/aggregate fold — no
    UDF; the scan parallelizes and the top-k is TakeOrderedAndProject."""
    q = _query_vector(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select(F.col("vec_id"), sim_fn.dot_micro("embedding", q).alias("dot_micro"))
        .orderBy(F.desc("dot_micro"), F.asc("vec_id"))
        .limit(10)
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path). Full oracle: the Philox hyperplanes are
    deterministic, so the DuckDB twin inlines them as double literals
    (oracles_sql._lsh_topk_sql); recall vs brute force is additionally pinned
    by tests/test_similarity.py."""
    q = _query_vector(spark, sf_dir)
    return sim_fn.lsh_bucket_ann(load(spark, sf_dir, "embeddings"), q, k=10)


def ann_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index freshness as a HASH-VERIFIED gate row: the
    corpus bulk-loads into the LSH-bucketed index, then one CDC epoch
    UPDATES vec_ids 0..9 (vector := -vector, a deterministic SQL-expressible
    edit) with tombstones for their moved buckets. Searching near the
    ORIGINAL vec 0 must equal the DuckDB fold over the POST-update corpus
    restricted to the query's bucket — the stale pre-update vector (an exact
    cos=1.0 match) surviving anywhere probed would hash-mismatch."""
    import tempfile

    from .functions.vector_index import IncrementalVectorIndex

    emb = load(spark, sf_dir, "embeddings")
    idx = IncrementalVectorIndex(
        tempfile.mkdtemp(prefix="cdc_incr_ann_"), n_planes=4
    )
    idx.build(spark, emb, id_col="vec_id", epoch_id=0)

    upd = emb.where(F.col("vec_id") < 10)
    order = [
        F.lit("u").alias("op"),
        F.timestamp_micros(F.lit(1_000_000)).alias("warc_ts"),
        (F.col("vec_id") + 1).cast("long").alias("pos"),
    ]
    new_vecs = upd.select(
        F.col("vec_id").cast("string").alias("chunk_id"),
        F.col("vec_id").cast("string").alias("url"),
        *order,
        F.transform(F.col("embedding"), lambda x: -x).alias("embedding"),
    )
    replaced = upd.select(
        F.col("vec_id").cast("string").alias("chunk_id"),
        F.col("vec_id").cast("string").alias("url"),
        *order,
        idx.bucket_of("embedding").alias("bucket"),
    )
    idx.upsert(spark, new_vecs, replaced, epoch_id=1)

    q = _query_vector(spark, sf_dir)
    return idx.search(spark, q, k=10, n_probes=1)


def embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: the embedding stage. The stub is md5-arithmetic (round 3), so
    this row now has a FULL DuckDB oracle — the twin recomputes every
    float32 byte of every vector and must hash-match the micro-unit
    projection below (the driver's canonicalizer cannot hash raw
    array<float>, hence the md5/dim/norm scalar projection)."""
    docs = load(spark, sf_dir, "documents").orderBy("doc_id").limit(50)
    e = F.col("e")
    as_double = lambda x: x.cast("double")  # noqa: E731
    return docs.select(
        "doc_id", transform.embed_stub_udf(F.col("text")).alias("e")
    ).select(
        "doc_id",
        F.size(e).alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(e, lambda x: as_double(x) * as_double(x)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("norm_micro"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    e,
                    lambda x: F.round(as_double(x) * 1_000_000).cast("bigint").cast("string"),
                ),
            )
        ).alias("vec_md5"),
    )


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data-prep pipeline in one plan: quality floor →
    token-length band → exact-dedup (keep lowest doc_id per content hash) —
    the shape every pretraining corpus pass runs. All stages are JVM column
    expressions; the dedup is a single hash groupBy (no all-pairs)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        text_fn.token_count("text"),
        text_fn.quality_score_micro("text"),
    )
    kept = docs.where(
        (F.col("quality_micro") >= 500_000) & F.col("token_count").between(20, 2000)
    )
    return (
        kept.groupBy(F.md5(F.encode(F.col("text"), "utf-8")).alias("h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.max_by(F.col("token_count"), -F.col("doc_id")).alias("token_count"),
            F.max_by(F.col("quality_micro"), -F.col("doc_id")).alias("quality_micro"),
        )
        .select("doc_id", "token_count", "quality_micro")
    )


# ---------------------------------------------------------------------------
# relational parity (reference S7/P5/J1/A1/O3 over the TPC-H-ish tables)
# ---------------------------------------------------------------------------


def filter_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: metadata filter + limit (main.py:1349-1410) — category filter as a
    plain pushed-down predicate."""
    return (
        load(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .orderBy("doc_id")
        .limit(100)
        .select("doc_id", "lang", "n_chars")
    )


def lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the upsert probe join — events keyed to a small dimension; the
    dimension side is broadcast (the engine broadcasts micro-batch-sized
    sides in the MERGE)."""
    ev = load(spark, sf_dir, "events")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("lang").alias("doc_lang")
    )
    return (
        ev.join(F.broadcast(docs), ev.user_id == docs.doc_id, "inner")
        .groupBy("doc_lang")
        .agg(F.count("*").alias("n"), F.round(F.sum("value") * 100).cast("bigint").alias("sum_cents"))
    )


def orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k by value (main.py:1360 top_k)."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"))
    )


def table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: COUNT(*) (database.py:529-531)."""
    d = load(spark, sf_dir, "documents").agg(F.count("*").alias("n")).select(F.lit("documents").alias("tbl"), "n")
    e = load(spark, sf_dir, "events").agg(F.count("*").alias("n")).select(F.lit("events").alias("tbl"), "n")
    return d.unionAll(e)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def cdc_evolved_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed evolved-column promotion end-to-end through the lake (round 5;
    reference: dynamic JSON field handling, incremental_rag_system.py:
    216-243). Two evolved columns ride the change log: ``x_rank`` is
    numeric in every event → the lake serves it as BIGINT (logical type
    over string-physical parquet); ``x_views`` is numeric in epoch 0 but
    epoch 1 brings 'v###' strings → the column RE-WIDENS to string, old
    rows included (metadata-only — no file rewrite). Oracle: the plain
    LWW fold with the same projection rules."""
    import tempfile

    from .operators import evolution
    from .sinks.lake import LakeTable

    env = cdc_envelope(spark, sf_dir).select(
        "url",
        "op",
        F.timestamp_micros(F.col("warc_us")).alias("warc_ts"),
        "pos",
        (F.col("op") == "d").cast("int").alias("is_deleted"),
        "val_cents",
    )
    deltas = env.withColumn(
        "x_views",
        F.when(
            F.pmod("pos", F.lit(97)) == 0,
            F.concat(F.lit("v"), F.col("val_cents").cast("string")),
        ).otherwise(F.col("val_cents").cast("string")),
    ).withColumn("x_rank", F.col("val_cents").cast("string"))
    cols = ["x_views", "x_rank"]
    d0 = deltas.where(F.pmod("pos", F.lit(97)) != 0)
    d1 = deltas.where(F.pmod("pos", F.lit(97)) == 0)
    table = LakeTable(tempfile.mkdtemp(prefix="cdc_evolved_"), key="url", n_buckets=8)
    table.merge_lww(
        spark, d0, epoch_id=0, evolved_types=evolution.infer_extra_types(d0, cols)
    )
    table.merge_lww(
        spark, d1, epoch_id=1, evolved_types=evolution.infer_extra_types(d1, cols)
    )
    return table.read(spark).select("url", "pos", "x_views", "x_rank")


def cdc_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-row dead-lettering end-to-end (round 5; the reference only
    counts skips, cdc_kafka_consumer.py:57-65): the change log is
    serialized to a JSONL feed with every pos%13==0 line poisoned; the
    pipeline must quarantine EXACTLY those lines (dead-letter table +
    lineage rows_corrupt) and fold the rest — counts the oracle recomputes
    from the events table with the same poison predicate."""
    import datetime as _dt
    import json as _json
    import os as _os
    import tempfile

    from .operators import envelope as _envelope
    from .streaming.driver import CdcPipeline

    rows = cdc_envelope(spark, sf_dir).orderBy("pos").collect()
    lines = []
    for r in rows:
        if r["pos"] % 13 == 0:
            lines.append('{"poisoned-line ' + str(r["pos"]))
            continue
        ts = _dt.datetime.utcfromtimestamp(r["warc_us"] / 1e6).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )
        payload = {"url": r["url"], "warc_ts": ts, "text": f"1. s\nval {r['val_cents']}"}
        lines.append(
            _json.dumps(
                {
                    "op": r["op"],
                    "before": payload if r["op"] == "d" else None,
                    "after": None if r["op"] == "d" else payload,
                    "source": {"db": "d", "table": "t", "file": "s0", "pos": r["pos"]},
                    "ts_ms": 0,
                }
            )
        )
    seg_dir = tempfile.mkdtemp(prefix="cdc_quarantine_seg_")
    with open(_os.path.join(seg_dir, "segment-0.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    pipe = CdcPipeline(
        tempfile.mkdtemp(prefix="cdc_quarantine_lake_"), n_buckets=8, with_chunks=False
    )
    batch = _envelope.read_segments_jsonl(spark, seg_dir, keep_corrupt=True)
    pipe.apply_batch(batch, epoch_id=0)
    lin = pipe.lineage.read(spark).agg(
        F.sum("rows_in").cast("bigint").alias("n_applied"),
        F.max("rows_corrupt").cast("bigint").alias("n_corrupt"),
    )
    nq = pipe.quarantine.read(spark).agg(
        F.count("*").cast("bigint").alias("n_quarantined")
    )
    nl = pipe.pages.read(spark).agg(F.count("*").cast("bigint").alias("n_live"))
    return lin.crossJoin(nq).crossJoin(nl)


def _lake_env(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope shaped for LakeTable merges (shared by the lake gates)."""
    return cdc_envelope(spark, sf_dir).select(
        "url",
        "op",
        F.timestamp_micros(F.col("warc_us")).alias("warc_ts"),
        "pos",
        (F.col("op") == "d").cast("int").alias("is_deleted"),
        "val_cents",
    )


def cdc_read_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tail read through the lake (round 5): four merge epochs
    stack delta files, then ``read_since`` returns every current winner
    whose LWW order key is above the pos=700 event's — scanning only files
    whose recorded order-key max clears the probe (per-file (k0,k1,k2)
    bounds from the commit stats job). Must equal the plain SQL fold
    filtered to winners above the same (warc_us, pos) — proving the
    order-pruned physical read loses nothing, deletes included (the
    downstream-sync tail: upserts + deletes since a watermark)."""
    import tempfile

    from .sinks.lake import LakeTable

    env0 = cdc_envelope(spark, sf_dir)
    h = env0.where(F.col("pos") == 700).select("warc_us").first()
    lo = [1, int(h["warc_us"]), 700]
    env = _lake_env(spark, sf_dir)
    table = LakeTable(tempfile.mkdtemp(prefix="cdc_since_"), key="url", n_buckets=8)
    for e in range(4):
        table.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == e), epoch_id=e)
    got = table.read_since(spark, lo, include_deletes=True)
    return got.select(
        "url",
        F.col("_change_type").alias("change_type"),
        F.col("op").alias("last_op"),
        F.unix_micros("warc_ts").alias("warc_us"),
        "pos",
        "val_cents",
    )


def cdc_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-window change feed through the lake (round 5): the log's
    even-pos half is merged as the pre-window state, the odd-pos half as
    the window, and ``read_changes`` emits the net insert/update/delete per
    key — classified against a bloom-pruned probe of the base snapshot,
    with no-ops (window winners that lose LWW to the pre-state; deletes of
    keys not live at the base) suppressed exactly. The oracle recomputes
    the same feed from two SQL folds + the identical classification rules —
    the Iceberg/Delta changelog-read contract a downstream mirror (the
    reference's Pinecone sync, incremental_pinecone_updater.py) applies."""
    import tempfile

    from .sinks.lake import LakeTable

    env = _lake_env(spark, sf_dir)
    table = LakeTable(tempfile.mkdtemp(prefix="cdc_feed_"), key="url", n_buckets=8)
    table.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == 0), epoch_id=0)
    table.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == 2), epoch_id=1)
    base = table.current_snapshot()["snapshot_id"]
    table.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == 1), epoch_id=2)
    table.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == 3), epoch_id=3)
    got = table.read_changes(spark, base)
    return got.select(
        "url",
        F.col("_change_type").alias("change_type"),
        F.col("op").alias("last_op"),
        F.unix_micros("warc_ts").alias("warc_us"),
        "pos",
        "val_cents",
    )


def cdc_chunk_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Member-granular change feed over a SET-mode (chunks-shaped) lake
    (round 6 — VERDICT r5 item 1): each url's event expands to a
    deterministic member set (``abs(val_cents) % 3 + 1`` members whose
    content encodes the event's value), the log's pos%4∈{0,1} half merges
    as the base state and the {2,3} half as the window (two commits each,
    so supersession inside the window is exercised), and
    ``read_changes(member_key="chunk_index")`` emits one row per
    (url, member) whose state differs — insert/update carrying the new
    member, delete carrying the OLD member's payload, unchanged members
    suppressed. This is the feed the reference's vector-store sync loop
    consumes (incremental_pinecone_updater.py:97-202: per-url delete stale
    vector ids + upsert changed ones). The oracle recomputes the same
    member diff from two SQL folds + an exploded full-outer member join."""
    import tempfile

    from .sinks.lake import LakeTable

    env = _lake_env(spark, sf_dir)
    table = LakeTable(
        tempfile.mkdtemp(prefix="cdc_chunk_feed_"), key="url", n_buckets=8, mode="set"
    )
    base = None
    for e in range(4):
        half = env.where(F.pmod("pos", F.lit(4)) == e)
        w = half.groupBy("url").agg(
            F.max_by(
                F.struct("op", "warc_ts", "pos", "is_deleted", "val_cents"),
                F.struct(F.unix_micros("warc_ts"), "pos"),
            ).alias("_w")
        ).select("url", "_w.*")
        members = (
            w.where(F.col("is_deleted") == 0)
            .select(
                "url",
                "op",
                "warc_ts",
                "pos",
                F.explode(
                    F.sequence(F.lit(0), F.pmod(F.abs("val_cents"), F.lit(3)))
                ).alias("chunk_index"),
                "val_cents",
            )
            .select(
                "url",
                "op",
                "warc_ts",
                "pos",
                F.lit(0).alias("is_deleted"),
                F.col("chunk_index").cast("int").alias("chunk_index"),
                F.concat_ws(
                    ":", "url", F.col("val_cents").cast("string"),
                    F.col("chunk_index").cast("string"),
                ).alias("content"),
            )
        )
        tombs = w.where(F.col("is_deleted") == 1).select(
            "url",
            "op",
            "warc_ts",
            "pos",
            F.lit(1).alias("is_deleted"),
            F.lit(None).cast("int").alias("chunk_index"),
            F.lit(None).cast("string").alias("content"),
        )
        table.merge_sets(
            spark, members.unionByName(tombs), epoch_id=e, pre_reduced=True
        )
        if e == 1:
            base = table.current_snapshot()["snapshot_id"]
    got = table.read_changes(spark, base, member_key="chunk_index")
    return got.select(
        "url",
        "chunk_index",
        F.col("_change_type").alias("change_type"),
        "content",
        F.col("op").alias("last_op"),
        F.unix_micros("warc_ts").alias("warc_us"),
        "pos",
        (F.col("_commit_sid") - F.lit(base)).cast("bigint").alias("commit_off"),
    )


def cdc_replace_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed across a window containing a ``replace_keys`` rewrite
    (round 6): the even-pos half merges as the base state; the window then
    holds BOTH an append commit (the pos%4==1 half) and a replace commit
    that rewrites every base-live key with ``abs(val_cents)%5==0`` to
    ``val_cents+100000`` at its UNCHANGED order key (LWW-undetectable) and
    deletes every one with ``%5==1`` (in the delete set, no row). Because a
    rewrite is not LWW-ordered, ``read_changes`` serves the whole window as
    a STATE DIFF of the two snapshots, probed to exactly the touched keys
    (window files' keys ∪ the replace commit's equality-delete sidecar):
    insert/update/delete per key, identical rows suppressed, deletes
    carrying the OLD payload, every row stamped ``_commit_sid = until``
    (commit_off = 2). The oracle recomputes both states in SQL (LWW fold +
    the same rewrite/delete algebra) and diffs them. This is the Iceberg v2
    equality-delete changelog-read contract; the reference's sync loop
    (incremental_pinecone_updater.py:97-202) needs exactly this to survive
    a backfill rewrite."""
    import tempfile

    from .sinks.lake import LakeTable

    env = _lake_env(spark, sf_dir)
    table = LakeTable(tempfile.mkdtemp(prefix="cdc_repl_"), key="url", n_buckets=8)
    table.merge_lww(spark, env.where(F.pmod("pos", F.lit(2)) == 0), epoch_id=0)
    base = table.current_snapshot()["snapshot_id"]
    table.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == 1), epoch_id=1)
    # the rewrite plan, derived from the BASE state's live winners (the
    # backfill-job model: read a snapshot, rewrite some rows in place)
    pre_live = (
        env.where(F.pmod("pos", F.lit(2)) == 0)
        .groupBy("url")
        .agg(
            F.max_by(
                F.struct("op", "warc_ts", "pos", "is_deleted", "val_cents"),
                F.struct(F.unix_micros("warc_ts"), "pos"),
            ).alias("_w")
        )
        .select("url", "_w.*")
        .where(F.col("is_deleted") == 0)
    )
    rewrite = pre_live.where(F.pmod(F.abs("val_cents"), F.lit(5)) == 0).withColumn(
        "val_cents", F.col("val_cents") + F.lit(100000)
    )
    del_keys = pre_live.where(F.pmod(F.abs("val_cents"), F.lit(5)) == 1).select("url")
    table.replace_keys(
        spark, rewrite, rewrite.select("url").unionByName(del_keys), epoch_id=2
    )
    got = table.read_changes(spark, base)
    return got.select(
        "url",
        F.col("_change_type").alias("change_type"),
        F.col("op").alias("last_op"),
        F.unix_micros("warc_ts").alias("warc_us"),
        "pos",
        "val_cents",
        (F.col("_commit_sid") - F.lit(base)).cast("bigint").alias("commit_off"),
    )


def cdc_mirror_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-driven mirror equality in the hard signal (round 6 — VERDICT r5
    item 2): a source lake takes the envelope in four LWW merge epochs, a
    :class:`~.streaming.mirror.FeedMirror` consumer polls ``sync`` after
    EVERY source commit (four incremental ``read_changes`` windows, each
    applied as replace-by-key with a durable cursor), the source then
    compacts and the consumer polls once more (a window containing only the
    compact commit must feed zero rows — compaction transparency). The
    returned frame is the MIRROR's live state — a table maintained ONLY
    from the change feed — plus ``src_diff``, the distributed
    ``exceptAll``-both-ways count against the source's live read (0 ⇔ the
    mirror equals the source exactly). The oracle is the plain SQL fold of
    the whole log: mirror ≡ source ≡ oracle closes the loop the reference's
    vector-store sync (incremental_pinecone_updater.py:97-202) depends on."""
    import tempfile

    from .sinks.lake import LakeTable
    from .streaming.mirror import FeedMirror

    env = _lake_env(spark, sf_dir)
    source = LakeTable(
        tempfile.mkdtemp(prefix="cdc_mirror_src_"),
        key="url",
        n_buckets=8,
        retention_snapshots=16,
    )
    mirror = FeedMirror(source, tempfile.mkdtemp(prefix="cdc_mirror_dst_"))
    for e in range(4):
        source.merge_lww(spark, env.where(F.pmod("pos", F.lit(4)) == e), epoch_id=e)
        assert mirror.sync(spark) == "applied"
    source.compact(spark)
    mirror.sync(spark)  # compact-only window: cursor advances, zero feed rows
    n_diff = mirror.diff_vs_source(spark)
    got = mirror.table.read(spark)
    return got.select(
        "url",
        F.col("op").alias("last_op"),
        F.unix_micros("warc_ts").alias("warc_us"),
        "pos",
        "val_cents",
        F.lit(n_diff).cast("bigint").alias("src_diff"),
    )


def cdc_vector_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feed-driven VECTOR index in the hard signal (round 6 part 2):
    40 documents embed (md5-arithmetic stub) into a set-mode chunks lake
    (one member per url, ``chunk_id = md5(url:content)``); a window then
    UPDATES the even docs (content + ' v2' → new chunk_id, old id must be
    tombstoned via the feed's ``_old`` preimage) and DELETES the
    doc_id%4==1 docs. A :class:`~.streaming.mirror.VectorFeedMirror`
    bootstraps at the base snapshot and syncs the window; the returned
    frame is the INDEX's live vectors under the driver-hashable projection
    (dim / norm_micro / md5-of-micro-units — array<float> cannot be
    canonicalized) plus ``src_diff`` (distributed exceptAll count vs the
    source chunks table, 0 ⇔ exact). The oracle recomputes the expected
    final corpus and every float32 byte of every vector in SQL — the
    reference's Pinecone state after its updater loop
    (incremental_pinecone_updater.py:97-277), verified byte-for-byte."""
    import tempfile

    from .sinks.lake import LakeTable
    from .streaming.mirror import VectorFeedMirror

    docs = (
        load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(40)
        .select("doc_id", "text")
    )

    def chunk_rows(content_col, us, sel=None):
        d = docs if sel is None else docs.where(sel)
        return d.select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("url"),
            F.lit("u").alias("op"),
            F.timestamp_micros(F.lit(us)).alias("warc_ts"),
            F.col("doc_id").cast("long").alias("pos"),
            F.lit(0).alias("is_deleted"),
            F.lit(0).cast("int").alias("chunk_index"),
            content_col.alias("content"),
        ).withColumn(
            "chunk_id", F.md5(F.concat_ws(":", "url", "content"))
        ).withColumn("embedding", transform.embed_stub_udf(F.col("content")))

    table = LakeTable(
        tempfile.mkdtemp(prefix="cdc_vmgate_"), key="url", n_buckets=8, mode="set"
    )
    table.merge_sets(
        spark, chunk_rows(F.col("text"), 1), epoch_id=0, pre_reduced=True
    )
    base = table.current_snapshot()["snapshot_id"]
    upd = chunk_rows(
        F.concat(F.col("text"), F.lit(" v2")), 2, F.pmod("doc_id", F.lit(2)) == 0
    )
    dels = (
        docs.where(F.pmod("doc_id", F.lit(4)) == 1)
        .select(
            F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("url"),
            F.lit("d").alias("op"),
            F.timestamp_micros(F.lit(2)).alias("warc_ts"),
            F.col("doc_id").cast("long").alias("pos"),
            F.lit(1).alias("is_deleted"),
            F.lit(None).cast("int").alias("chunk_index"),
            F.lit(None).cast("string").alias("content"),
            F.lit(None).cast("string").alias("chunk_id"),
            F.lit(None).cast("array<float>").alias("embedding"),
        )
    )
    table.merge_sets(
        spark, upd.unionByName(dels), epoch_id=1, pre_reduced=True
    )
    vm = VectorFeedMirror(
        table, tempfile.mkdtemp(prefix="cdc_vmgate_ix_"), n_planes=4
    )
    vm.resync(spark, snapshot_id=base)
    assert vm.sync(spark) == "applied"
    n_diff = vm.diff_vs_source(spark)
    live = vm.index.live_rows(spark)
    e = F.col("embedding")
    as_double = lambda x: x.cast("double")  # noqa: E731
    return live.select(
        "url",
        "chunk_id",
        F.size(e).alias("dim"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(e, lambda x: as_double(x) * as_double(x)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("norm_micro"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    e,
                    lambda x: F.round(as_double(x) * 1_000_000)
                    .cast("bigint")
                    .cast("string"),
                ),
            )
        ).alias("vec_md5"),
        F.lit(n_diff).cast("bigint").alias("src_diff"),
    )


QUERIES = {
    "cdc_envelope": cdc_envelope,
    "cdc_lww_winners": cdc_lww_winners,
    "cdc_final_state": cdc_final_state,
    "cdc_op_counts": cdc_op_counts,
    "cdc_dedup_deliveries": cdc_dedup_deliveries,
    "cdc_changelog_recent": cdc_changelog_recent,
    "cdc_point_read": cdc_point_read,
    "cdc_lake_point_read": cdc_lake_point_read,
    "cdc_truncate_state": cdc_truncate_state,
    "cdc_evolved_state": cdc_evolved_state,
    "cdc_quarantine": cdc_quarantine,
    "cdc_read_since": cdc_read_since,
    "cdc_changes_feed": cdc_changes_feed,
    "cdc_chunk_changes": cdc_chunk_changes,
    "cdc_replace_feed": cdc_replace_feed,
    "cdc_mirror_state": cdc_mirror_state,
    "cdc_vector_mirror": cdc_vector_mirror,
    "cdc_range_slice": cdc_range_slice,
    "cdc_lineage_by_segment": cdc_lineage_by_segment,
    "cdc_noop_updates": cdc_noop_updates,
    "cdc_hot_urls": cdc_hot_urls,
    "cdc_events_per_hour": cdc_events_per_hour,
    "cdc_site_activity": cdc_site_activity,
    "cdc_sessions": cdc_sessions,
    "cdc_asof_probe": cdc_asof_probe,
    "events_in_windows": events_in_windows,
    "doc_chunks": doc_chunks,
    "doc_chunk_stats": doc_chunk_stats,
    "doc_chunk_previews": doc_chunk_previews,
    "doc_line_diff": doc_line_diff,
    "doc_token_counts": doc_token_counts,
    "doc_quality": doc_quality,
    "doc_fingerprints": doc_fingerprints,
    "doc_lang_scores": doc_lang_scores,
    "corpus_prep": corpus_prep,
    "dedup_exact": dedup_exact,
    "dedup_minhash_candidates": dedup_minhash_candidates,
    "dedup_jaccard": dedup_jaccard,
    "dedup_simhash": dedup_simhash,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_incremental_topk": ann_incremental_topk,
    "embed_documents": embed_documents,
    "filter_limit": filter_limit,
    "lookup_join": lookup_join,
    "orders_topk": orders_topk,
    "table_counts": table_counts,
}
