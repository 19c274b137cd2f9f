"""Structured Streaming driver: binlog tail → lake MERGE, exactly-once,
checkpoint-resumable (SURVEY.md §7 step 6; replaces reference pipeline steps
EP1.2-8 / the consumer loops S1-S4 with one ``StreamingQuery``).

Shape:

    readStream(segments) → withWatermark(warc_ts) → foreachBatch(apply)

``apply`` per micro-batch:
  1. parse envelope, drop tombstones (operators.envelope)
  2. per-key LWW winners, salted when ``salt_buckets`` is set (operators.lww)
  3. schema evolution: promote new ``extra`` keys to columns (operators.evolution)
  4. pages MERGE (sinks.lake.merge_lww, merge-on-read append) — idempotent
  5. derived chunks for keys whose batch winner actually WON the pages merge
     AND whose content changed (the reference's incremental trick: re-embed
     only changed content, incremental_pinecone_updater.py:245-277); within a
     re-chunked page, unchanged chunks reuse their existing embeddings
     (chunk-level skip, RAG_INCREMENTAL_GUIDE.md:255-264). Chunk sets merge
     under the same LWW order key (sinks.lake.merge_sets), so a batch winner
     that LOST the pages merge never clobbers newer chunks (cross-table
     consistency — ADVICE r1 high).
  6. lineage + throughput record (sinks.lineage)

Exactly-once: Spark's checkpoint guarantees each micro-batch is re-delivered
with the same ``epoch_id`` after a crash; both lake tables and the lineage log
de-duplicate on that id, so restart = resume with no duplicate or lost
upserts. ``Trigger.AvailableNow`` replays a bounded log and stops (the
Debezium snapshot+tail analogue); ``processingTime`` tails a growing one.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import transform
from ..operators import apply as apply_ops
from ..operators import envelope, evolution
from ..operators.lww import order_key_cols
from ..sinks.lake import KeyProbe, LakeTable, build_key_probe
from ..sinks.lineage import DeadLetterLog, LineageLog, partition_lineage

_CHUNK_CARRY = ("op", "warc_ts", "pos")


class CdcPipeline:
    def __init__(
        self,
        base_dir: str,
        *,
        n_buckets: int = 16,
        salt_buckets: int | None = None,
        with_chunks: bool = True,
        with_embeddings: bool = False,
        embed_fn=None,
        reuse_embeddings: bool = True,
        watermark: str = "30 minutes",
        compact_every: int | None = None,
        compact_min_files: int | None = None,
        expire_keep: int | None = None,
        retention_snapshots: int = 0,
    ):
        # retention_snapshots: how many historical snapshots stay readable
        # through compact()+vacuum — the pages table's change-feed /
        # time-travel retention window (LakeTable.read_changes); size it to
        # the slowest downstream consumer's lag in commits
        self.pages = LakeTable(
            os.path.join(base_dir, "pages"),
            key="url",
            n_buckets=n_buckets,
            mode="row",
            retention_snapshots=retention_snapshots,
        )
        self.chunks = LakeTable(
            os.path.join(base_dir, "chunks"),
            key="url",
            n_buckets=n_buckets,
            mode="set",
            retention_snapshots=retention_snapshots,
        )
        self.lineage = LineageLog(os.path.join(base_dir, "lineage"))
        # corrupt-row dead-letter table (VERDICT r4 item 4) — populated only
        # when the source opts in (read_segments_jsonl(keep_corrupt=True))
        self.quarantine = DeadLetterLog(os.path.join(base_dir, "quarantine"))
        self.salt_buckets = salt_buckets
        self.with_chunks = with_chunks
        self.with_embeddings = with_embeddings
        self.embed_fn = embed_fn
        self.reuse_embeddings = reuse_embeddings
        self.watermark = watermark
        self.compact_every = compact_every
        # read-cost-keyed auto-compaction (VERDICT r2 item 5): after each
        # epoch, fold any bucket whose delta stack reached this many files —
        # bounds the merge-on-read deferred-read cost by construction instead
        # of by wall-clock cadence. The check is O(n_buckets) driver-side
        # over cached manifests; compact(min_files=K) rewrites hot buckets
        # only (O(hot data)).
        self.compact_min_files = compact_min_files
        # after each compaction pass, keep only the newest N snapshots per
        # table (expire_snapshots) — bounds _meta over long streams; None =
        # keep full time-travel history
        self.expire_keep = expire_keep
        self.metrics: list[dict] = []

    # -- the foreachBatch body -------------------------------------------------

    def apply_batch(self, batch_df: DataFrame, epoch_id: int | None) -> None:
        """``epoch_id=None`` = UNLOGGED mode (the dead-letter replay path):
        merges skip the epoch log — a stream epoch id belongs to the
        checkpoint's batch counter, and a replay claiming one would make
        the stream silently no-op that future batch — and maintenance/
        lineage are skipped. Safe because a replay's rows are exactly
        reproducible: a crash-rerun re-applies IDENTICAL rows, which
        collapse under LWW/set resolution to the same state."""
        t0 = time.monotonic()
        phases: dict[str, float] = {}

        def mark(name: str, since: list[float]) -> None:
            now = time.monotonic()
            phases[name] = round(now - since[0], 3)
            since[0] = now

        tick = [t0]
        spark = batch_df.sparkSession
        n_corrupt = None
        if "_corrupt_raw" in batch_df.columns:
            # quarantine BEFORE the envelope filters drop these rows; the
            # write is epoch-named-overwrite idempotent like lineage, and the
            # parquet-segment hot path never carries the column (zero cost).
            # Replays re-quarantine still-corrupt rows under a REPLAY id so
            # they stay pending for the next repair attempt.
            qid = epoch_id if epoch_id is not None else self.quarantine.next_replay_id()
            n_corrupt = self.quarantine.record(batch_df, qid)
            mark("quarantine", tick)
        parsed = envelope.parse_envelope(batch_df)

        # pass 1 (cheap partial-agg over the raw scan): per-partition lineage;
        # its sum is the batch row count — no separate count() pass, no cache
        # of the raw events
        lin_rows = partition_lineage(parsed, epoch_id).collect()
        mark("lineage", tick)
        rows_in = sum(r["rows_in"] for r in lin_rows)
        if rows_in == 0:
            return
        # TRUNCATE op 't' (QUICK_START.md:282-288): the lineage pass carries
        # each partition's max truncate order for free; the fold here is the
        # batch's horizon, committed as snapshot metadata on both tables —
        # O(1) per truncate, rows below it die at read time
        t_orders = [r["t_max"] for r in lin_rows if r["t_max"] is not None]
        truncate = None
        if t_orders:
            us, pos = max((t["us"], t["pos"]) for t in t_orders)
            truncate = [1, us, pos]  # stream-class order key (op != 'r')

        # note: the max_by LWW reduction partially aggregates map-side, so a
        # hot url already collapses to ≤1 row per map partition before the
        # shuffle; explicit salting only pays when single-url state within a
        # map partition is itself the bottleneck. Off by default.
        salt = self.salt_buckets

        # pass 2: LWW winners (the only per-event shuffle), materialized
        # BEFORE the transform — fusing ArrowEvalPython onto the sort-
        # aggregate output anti-scales badly at high thread counts (measured
        # 8× at 32 threads); on cached winners the UDF stage scales cleanly
        # truncate events carry no key/payload — they act via the horizon
        data_events = parsed.where(F.col("op") != "t") if truncate else parsed
        winners_raw = apply_ops.upsert_deltas(data_events, salt_buckets=salt)
        winners_raw.persist()
        # one fused probe job: materializes the cache AND returns the MERGE's
        # touched buckets + newly-observed evolved columns
        touched, keys, bucket_counts = self.pages.probe_batch(winners_raw)
        mark("winners_probe", tick)
        # the per-event transform on the ~|keys| winners, not the |events|
        # raw stream
        deltas = winners_raw.withColumn(
            "text",
            F.when(
                F.col("text").isNull() & F.col("html").isNotNull(),
                transform.extract_text_udf(F.col("html")),
            ).otherwise(F.col("text")),
        )
        deltas.persist()
        try:
            # schema evolution: promote newly-observed source columns; one
            # extra agg job (only on epochs that SAW evolved keys) votes the
            # narrowest logical type per column — the lake folds votes
            # widen-only and casts at read time (VERDICT r4 item 5)
            etypes = None
            if keys:
                deltas2 = evolution.promote_extra_columns(deltas, keys)
                etypes = evolution.infer_extra_types(
                    deltas2, [f"x_{k}" for k in keys]
                )
            else:
                deltas2 = deltas.drop("extra")
            # content hash stored in the table — the change-skip key
            # (incremental_pinecone_updater.py:139-141)
            deltas2 = deltas2.withColumn(
                "content_hash",
                F.when(F.col("is_deleted") == 0, transform.content_hash_col("text")),
            )

            # capture the PRE-merge winners of the touched buckets (lazy: the
            # file list is pinned now from the current snapshot, so executing
            # this plan after the merge still reads pre-merge state). Only
            # the key/order/hash columns are read — never payload bytes; the
            # batch's keys bloom-prune the file list down to the files that
            # can contain them via an EXECUTOR-built KeyProbe (one
            # mapInPandas pass over the cached winners returning O(files)
            # matched ids — no key value ever rides a driver collect, so
            # pruning survives arbitrarily large batches; replaces round 4's
            # key_skip_max=4096 capped key-list collect, VERDICT r4 item 1)
            probe_keys = None
            cur = None
            if self.with_chunks:
                # only the chunks path consumes the probe — a pages-only
                # pipeline must not pay this extra per-epoch job; one
                # probe covers BOTH tables (they share key + bucketing)
                probe_keys = build_key_probe(
                    spark,
                    winners_raw.select("url"),
                    "url",
                    [(self.pages, touched), (self.chunks, touched)],
                    bucket_counts=bucket_counts,
                )
                # the driver's consumers ALL left-join the batch frame on
                # url, so the probe's semi-join row filter is redundant
                # work here — file pruning is the whole benefit (extra /
                # under-resolved non-batch rows drop in those joins)
                probe_keys.row_filter = False
                phases["probe_pruned"] = sum(
                    s["pruned"] for s in probe_keys.stats.values()
                )
                cur = self.pages.read_bucket_winners(
                    spark,
                    touched,
                    columns=["content_hash", "is_deleted"],
                    probe_keys=probe_keys,
                )

            snap = self.pages.merge_lww(
                spark,
                deltas2,
                epoch_id=epoch_id,
                pre_reduced=True,
                truncate=truncate,
                evolved_types=etypes,
            )
            mark("merge", tick)
            pages_replayed = snap is None  # pages already committed this epoch
            if pages_replayed and not self.with_chunks:
                return

            # IMPORTANT: even when the pages table already has this epoch
            # (restart replay), the chunks table may not — a crash between the
            # two commits must not lose the chunks epoch. merge_sets is
            # itself idempotent, so re-attempting is safe either way. On the
            # replay path the content-hash skip is DISABLED: `cur` then
            # reflects post-merge state (hash always equal for won keys), and
            # skipping would permanently lose the crashed chunks epoch.
            if self.with_chunks:
                # a truncate in the batch disables the content-hash skip:
                # "unchanged" vs a row the horizon just killed would leave
                # the page live but its chunk set dead (the stored chunks
                # predate the horizon) — re-chunk winners unconditionally
                self._apply_chunks(
                    spark,
                    deltas2,
                    cur,
                    touched,
                    epoch_id,
                    allow_skip=not pages_replayed and truncate is None,
                    probe_keys=probe_keys,
                    truncate=truncate,
                )
                mark("chunks", tick)

            if epoch_id is None:
                # unlogged replay: no lineage/maintenance bookkeeping — the
                # replay marker (quarantine.mark_replayed) is the audit unit
                self.metrics.append(
                    {"epoch": None, "rows": rows_in,
                     "wall_ms": int((time.monotonic() - t0) * 1000),
                     "salted": bool(salt), "end_mono": time.monotonic(),
                     "phases": phases}
                )
                return
            if pages_replayed:
                # backfill lineage lost to a crash between the pages commit
                # and the lineage write (idempotent epoch-named overwrite)
                if not self.lineage.has_epoch(epoch_id):
                    self.lineage.record_rows(
                        lin_rows,
                        epoch_id,
                        snapshot_id=None,
                        rows_applied=rows_in,
                        wall_ms=None,
                        rows_corrupt=n_corrupt,
                    )
                return

            wall_ms = int((time.monotonic() - t0) * 1000)
            # driver-side pyarrow write: no Spark job for ~64 tiny rows
            self.lineage.record_rows(
                lin_rows,
                epoch_id,
                snapshot_id=snap["snapshot_id"],
                rows_applied=rows_in,
                wall_ms=wall_ms,
                rows_corrupt=n_corrupt,
            )
            # periodic maintenance: fold merge-on-read deltas to one file
            # per bucket — a full pass every `compact_every` epochs, else
            # only the buckets holding ≥ `compact_min_files` files. No
            # tombstone horizon is passed, so delete tombstones are kept
            if self.compact_every and (epoch_id + 1) % self.compact_every == 0:
                self.pages.compact(spark)
                if self.with_chunks:
                    self.chunks.compact(spark)
                self._maybe_expire()
                mark("compact", tick)
            elif self.compact_min_files:
                did = self.pages.compact(spark, min_files=self.compact_min_files)
                if self.with_chunks:
                    did = (
                        self.chunks.compact(spark, min_files=self.compact_min_files)
                        or did
                    )
                if did is not None:
                    self._maybe_expire()
                    mark("compact", tick)

            self.metrics.append(
                {
                    "epoch": epoch_id,
                    "rows": rows_in,
                    "wall_ms": wall_ms,
                    "salted": bool(salt),
                    "end_mono": time.monotonic(),
                    "phases": phases,
                }
            )
        finally:
            deltas.unpersist()
            winners_raw.unpersist()

    def reset_epoch_logs(self) -> None:
        """Adopt a NEW stream's epoch numbering for the WHOLE pipeline after
        an intentional checkpoint wipe/re-point: resets pages and chunks
        together. Per-table ``reset_epoch_log()`` calls
        are UNSAFE here — a table left un-reset keeps its old epoch floor
        and either raises ``StaleEpochError`` on every batch (chunks, which
        check strictly) or silently skips the new stream's epochs; this
        method is the one supported escape hatch (ADVICE r4 medium;
        ``scripts/run_pipeline.py --adopt-new-stream``)."""
        self.pages.reset_epoch_log()
        self.chunks.reset_epoch_log()

    def replay_dead_letters(self, spark: SparkSession, repair_fn=None) -> dict:
        """Repair-and-reinject quarantined rows through the NORMAL envelope →
        LWW → MERGE → chunks path (VERDICT r5 item 6:
        ``scripts/run_pipeline.py --replay-dead-letters``). Run while the
        stream is stopped — it is an operator action, like compacting from a
        second process (commits share the optimistic-concurrency publish).

        Idempotency is two-layered: (1) replay-level — every consumed
        quarantine epoch is marked in ``replayed.json`` afterwards, so a
        second call re-feeds nothing; (2) data-level — the merges run
        UNLOGGED (``epoch_id=None``: stream epoch ids belong to the
        checkpoint's counter, and claiming one here would make the stream
        silently skip that future batch), so a crash between apply and
        marker can only re-apply IDENTICAL rows, which collapse under
        LWW/set resolution to the unchanged state (pinned in
        tests/test_replay_dead_letters.py).

        ``repair_fn`` (str → str, Arrow-batched executor-side) corrects each
        raw line; lines that STILL fail to parse re-quarantine under a fresh
        replay id (≥ 10^9, a bookkeeping namespace — never a stream epoch)
        and stay pending for the next repair attempt."""
        return _replay_dead_letters(
            spark, self.quarantine, self.apply_batch, repair_fn
        )

    def _maybe_expire(self) -> None:
        if not self.expire_keep:
            return
        self.pages.expire_snapshots(keep_last=self.expire_keep)
        if self.with_chunks:
            self.chunks.expire_snapshots(keep_last=self.expire_keep)

    # -- derived chunks ---------------------------------------------------------

    def _apply_chunks(
        self,
        spark: SparkSession,
        deltas2: DataFrame,
        cur: DataFrame | None,
        touched: list[int],
        epoch_id: int,
        allow_skip: bool,
        probe_keys: KeyProbe | None = None,
        truncate: list | None = None,
    ) -> None:
        """Chunk/embed only what the merge outcome requires:

        - keys whose batch winner LOST the pages LWW (a late event older than
          the stored row) take **no** chunk action — deriving chunks from the
          batch winner regardless was the r1 cross-table divergence (ADVICE
          high);
        - won keys whose content hash is unchanged skip re-chunk/re-embed
          entirely (the reference's 95-99.9% incremental cost cut,
          incremental_pinecone_updater.py:245-277);
        - won keys are re-chunked; unchanged chunks within them reuse stored
          embeddings, only changed chunks hit the embedding stage.
        """
        # STRICT check (ADVICE r4 medium): the lenient epoch_committed()
        # treats any sub-floor id as already applied, so a per-table
        # reset_epoch_log() on pages alone would let the new stream's epochs
        # silently skip here forever — _check_epoch raises StaleEpochError
        # for sub-floor-but-not-in-window ids instead (resolve with the
        # pipeline-level reset_epoch_logs(), which resets every table).
        # epoch_id=None (unlogged dead-letter replay) has no log entry.
        if epoch_id is not None and self.chunks._check_epoch(
            epoch_id, self.chunks.current_snapshot()
        ):
            return  # replayed chunks epoch: skip plan construction entirely

        b_key = order_key_cols(F.col("op"), F.col("warc_ts"), F.col("pos"))
        if cur is None:
            changed = deltas2
        else:
            t = cur.select(
                F.col("url"),
                F.col("op").alias("_t_op"),
                F.col("warc_ts").alias("_t_ts"),
                F.col("pos").alias("_t_pos"),
                (
                    F.col("content_hash") if "content_hash" in cur.columns else F.lit(None)
                ).alias("_t_hash"),
                (
                    F.col("is_deleted") if "is_deleted" in cur.columns else F.lit(0)
                ).alias("_t_del"),
            )
            t_key = order_key_cols(F.col("_t_op"), F.col("_t_ts"), F.col("_t_pos"))
            j = deltas2.join(t, "url", "left")
            won = j.where(F.col("_t_pos").isNull() | (b_key >= t_key))
            if allow_skip:
                target_live = F.col("_t_pos").isNotNull() & (
                    F.coalesce(F.col("_t_del"), F.lit(0)) == 0
                )
                noop = (
                    (F.col("is_deleted") == 0)
                    & target_live
                    & (F.col("_t_hash") == F.col("content_hash"))
                )
                # a winning tombstone over an already-dead/absent key needs no
                # chunk action either (its chunk tombstone was committed when
                # the earlier delete's epoch applied — epochs are sequential)
                dead_noop = (F.col("is_deleted") == 1) & ~target_live
                changed = won.where(~F.coalesce(noop | dead_noop, F.lit(False)))
            else:
                changed = won

        changed = changed.select("url", "text", "op", "warc_ts", "pos", "is_deleted")
        changed.persist()
        chunked = None
        j_emb = None
        try:
            upserts = changed.where(F.col("is_deleted") == 0)
            chunked = transform.chunk_pages(
                upserts.select("url", *_CHUNK_CARRY, "text"), carry=_CHUNK_CARRY
            )
            chunked.persist()  # the chunk UDF must run once, not per branch
            if self.with_embeddings:
                emb_chunks, j_emb = self._embed_with_reuse(
                    spark, chunked, touched, probe_keys=probe_keys
                )
            else:
                emb_chunks = chunked

            # urls with no surviving chunks (zero-section text) and winning
            # deletes both become a single LWW set-tombstone marker
            no_chunk = upserts.join(
                chunked.select("url").distinct(), "url", "left_anti"
            ).select("url", *_CHUNK_CARRY)
            dels = changed.where(F.col("is_deleted") == 1).select("url", *_CHUNK_CARRY)
            tombs = dels.unionByName(no_chunk).withColumn("is_deleted", F.lit(1))

            rows = emb_chunks.withColumn("is_deleted", F.lit(0)).unionByName(
                tombs, allowMissingColumns=True
            )
            self.chunks.merge_sets(
                spark, rows, epoch_id=epoch_id, pre_reduced=True, truncate=truncate
            )
        finally:
            changed.unpersist()
            if chunked is not None:
                chunked.unpersist()
            if j_emb is not None:
                j_emb.unpersist()

    def _embed_with_reuse(
        self,
        spark: SparkSession,
        new_chunks: DataFrame,
        touched: list[int],
        probe_keys: KeyProbe | None = None,
    ):
        """Embed only chunks whose content actually changed: unchanged
        (url, chunk_index, content) triples take their embedding from the
        stored chunk row (column-pruned read of the touched buckets,
        bloom-pruned to the files holding the batch's urls when the batch is
        small — the r2 'reuse pre-read scans every touched bucket' fix). For
        an update that edits one section of a page, only that section's
        chunks pay the model. Returns (chunks_with_embeddings, persisted_join)."""
        fn = self.embed_fn if self.embed_fn is not None else transform.embed_stub_udf
        ex = None
        if self.reuse_embeddings:
            # pages and chunks share key + n_buckets, so the pages-side
            # touched-bucket ids are valid for the chunks table too
            ex = self.chunks.read_bucket_winners(
                spark,
                touched,
                columns=["chunk_index", "content", "embedding", "is_deleted"],
                probe_keys=probe_keys,
            )
            if ex is not None and "embedding" not in ex.columns:
                ex = None
        if ex is None:
            return new_chunks.withColumn("embedding", fn(F.col("content"))), None

        ex = ex.where(F.coalesce(F.col("is_deleted"), F.lit(0)) == 0).select(
            "url",
            "chunk_index",
            F.col("content").alias("_ex_content"),
            F.col("embedding").alias("_ex_emb"),
        )
        j = new_chunks.join(ex, ["url", "chunk_index"], "left")
        j.persist()  # both branches below scan it; also breaks agg→Arrow fusion
        reuse_ok = F.coalesce(
            F.col("_ex_emb").isNotNull() & (F.col("_ex_content") == F.col("content")),
            F.lit(False),
        )
        reused = j.where(reuse_ok).withColumn("embedding", F.col("_ex_emb"))
        need = j.where(~reuse_ok).withColumn("embedding", fn(F.col("content")))
        out = reused.drop("_ex_content", "_ex_emb").unionByName(
            need.drop("_ex_content", "_ex_emb")
        )
        return out, j

    # -- run -------------------------------------------------------------------

    def run_stream(
        self,
        spark: SparkSession,
        segments_dir: str,
        checkpoint_dir: str,
        *,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        timeout_sec: float | None = None,
    ):
        return run_cdc_stream(
            spark,
            segments_dir,
            checkpoint_dir,
            self.apply_batch,
            watermark=self.watermark,
            max_files_per_trigger=max_files_per_trigger,
            available_now=available_now,
            timeout_sec=timeout_sec,
        )

    def run_batch(self, spark: SparkSession, segments_dir: str) -> None:
        """Bounded replay without the streaming machinery (EP3 bootstrap —
        identical code path, one epoch)."""
        df = envelope.read_segments(spark, segments_dir)
        self.apply_batch(df, epoch_id=0)


def _replay_dead_letters(
    spark: SparkSession, quarantine, apply_fn, repair_fn=None
) -> dict:
    """Shared replay body (see CdcPipeline.replay_dead_letters): read the
    pending quarantine epochs, repair the raw lines executor-side, feed them
    through the pipeline's normal apply in unlogged mode, then mark the
    consumed epochs replayed."""
    q = quarantine.read(spark)
    if q is None:
        return {"quarantine_epochs": [], "rows": 0}
    done = quarantine.replayed_epochs()
    pending = q
    if done:
        pending = q.where(~F.col("epoch_id").isin([int(x) for x in done]))
    # O(quarantine epochs) ids to the driver — never row payloads
    qepochs = sorted(
        int(r["epoch_id"]) for r in pending.select("epoch_id").distinct().collect()
    )
    if not qepochs:
        return {"quarantine_epochs": [], "rows": 0}
    n = pending.count()
    raw = pending.select(F.col("raw").alias("value"))
    if repair_fn is not None:
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import StringType

        def _repair_series(s):
            return s.map(lambda x: None if x is None else repair_fn(x))

        # explicit returnType form: the decorator's type-hint inference can't
        # see locally-imported pandas under `from __future__ import annotations`
        _repair = pandas_udf(_repair_series, StringType())
        raw = raw.select(_repair("value").alias("value"))
    batch = envelope._project_jsonl(raw, keep_corrupt=True)
    apply_fn(batch, None)
    quarantine.mark_replayed(qepochs)
    return {"quarantine_epochs": qepochs, "rows": int(n)}


def run_cdc_stream(
    spark: SparkSession,
    segments_dir: str,
    checkpoint_dir: str,
    apply_fn,
    *,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: float | None = None,
):
    """The one StreamingQuery both pipeline shapes share: binlog-segment
    stream → event-time watermark → foreachBatch(apply_fn)."""
    src = envelope.read_segments_stream(spark, segments_dir, max_files=max_files_per_trigger)
    stream = (
        src.withColumn(
            "_event_time", F.coalesce(F.col("after.warc_ts"), F.col("before.warc_ts"))
        )
        .withWatermark("_event_time", watermark)
        .drop("_event_time")
    )
    writer = stream.writeStream.foreachBatch(apply_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="5 seconds")
    query = writer.start()
    if available_now:
        query.awaitTermination(timeout_sec)
    return query


class MultiTablePipeline:
    """Route a MIXED Debezium feed (several source tables interleaved on one
    stream) to per-table :class:`CdcPipeline` instances — the reference's
    topic-per-table dispatch (create_connector.bat:20-22,
    auto_gen_rag.py:27,33-70) as ONE StreamingQuery.

    Each configured table gets its own pages/chunks LakeTables (under
    ``base_dir/<table>/``) and its own epoch log, so exactly-once holds per
    table even when a crash lands between two tables' commits: the replayed
    epoch no-ops on the already-committed table and applies on the other.
    Truncate horizons are per table (a TRUNCATE of ``authors`` never touches
    ``pages``). Events whose ``source.table`` is not configured are dropped,
    mirroring the reference's skip of unknown topics.

    Scale note: the parsed batch is persisted ONCE per epoch and every
    table's pipeline runs on an in-memory slice of it — a T-table fan-in
    scans the raw segment files once, not T times (the per-epoch raw-scan
    count is independent of T; pinned in tests/test_round4.py::
    test_multitable_slices_read_cache_not_raw_segments).
    Deployments with genuinely separate per-table topics should still run
    one single-table pipeline per topic (the reference's layout,
    create_connector.bat:20-22); this class exists for the fan-in case.
    """

    def __init__(self, base_dir: str, tables: list[str], **pipeline_kwargs):
        self.tables = [t.strip() for t in tables if t and t.strip()]
        # the stream watermark belongs to the ONE shared StreamingQuery —
        # honor the same kwarg the per-table pipelines receive
        self.watermark = pipeline_kwargs.get("watermark", "30 minutes")
        # corrupt rows have a null source.table and route to NO pipe — they
        # are quarantined ONCE here, shared across the fan-in
        self.quarantine = DeadLetterLog(os.path.join(base_dir, "quarantine"))
        self.pipes: dict[str, CdcPipeline] = {
            t: CdcPipeline(os.path.join(base_dir, t), **pipeline_kwargs)
            for t in self.tables
        }

    def __getitem__(self, table: str) -> CdcPipeline:
        return self.pipes[table]

    def reset_epoch_logs(self) -> None:
        """Pipeline-level new-stream adoption across every routed table —
        the only safe shape (see CdcPipeline.reset_epoch_logs)."""
        for pipe in self.pipes.values():
            pipe.reset_epoch_logs()

    def replay_dead_letters(self, spark: SparkSession, repair_fn=None) -> dict:
        """Dead-letter replay for the fan-in shape: repaired lines route to
        their tables through the same dispatch as live batches (see
        CdcPipeline.replay_dead_letters for the idempotency contract)."""
        return _replay_dead_letters(
            spark, self.quarantine, self.apply_batch, repair_fn
        )

    def apply_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # one-pass dispatch: materialize the parsed batch into the cache with
        # a single scan of the raw segments, then slice per table from
        # memory — without this, a foreachBatch file-source DataFrame
        # re-scans the segment files on EVERY per-table action (T passes)
        if "_corrupt_raw" in batch_df.columns:
            qid = epoch_id if epoch_id is not None else self.quarantine.next_replay_id()
            self.quarantine.record(batch_df, qid)
            batch_df = batch_df.drop(
                "_corrupt_raw", "_corrupt_src", "_corrupt_offset"
            )
        many = len(self.pipes) > 1
        if many:
            batch_df = batch_df.persist()
            batch_df.count()  # the one raw-segment scan of this epoch
        try:
            for t, pipe in self.pipes.items():
                pipe.apply_batch(
                    batch_df.where(F.col("source.table") == F.lit(t)), epoch_id
                )
        finally:
            if many:
                batch_df.unpersist()

    def run_stream(
        self,
        spark: SparkSession,
        segments_dir: str,
        checkpoint_dir: str,
        *,
        max_files_per_trigger: int | None = None,
        available_now: bool = True,
        timeout_sec: float | None = None,
        watermark: str | None = None,
    ):
        return run_cdc_stream(
            spark,
            segments_dir,
            checkpoint_dir,
            self.apply_batch,
            watermark=watermark if watermark is not None else self.watermark,
            max_files_per_trigger=max_files_per_trigger,
            available_now=available_now,
            timeout_sec=timeout_sec,
        )

    def run_batch(self, spark: SparkSession, segments_dir: str) -> None:
        df = envelope.read_segments(spark, segments_dir)
        self.apply_batch(df, epoch_id=0)
