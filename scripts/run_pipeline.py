"""spark-submit entry point: tail a binlog-segment feed into the lake.

    spark-submit --py-files dist/changedatacapture_spark.zip \
        scripts/run_pipeline.py --segments DIR --lake DIR --checkpoint DIR \
        [--tail] [--buckets N] [--max-files N] [--embeddings] \
        [--tables pages,authors] \
        [--compact-min-files K] [--expire-keep N] [--adopt-new-stream]

A vector index is kept fresh by running scripts/run_mirror.py
--vector-index beside this stream; a consumer lagging past the lake's
retention window falls back to a full re-sync.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--segments", required=True)
    ap.add_argument("--lake", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--buckets", type=int, default=1024)
    ap.add_argument("--max-files", type=int, default=None)
    ap.add_argument("--tail", action="store_true", help="keep running (processingTime trigger)")
    ap.add_argument("--embeddings", action="store_true")
    ap.add_argument("--watermark", default="30 minutes")
    ap.add_argument(
        "--compact-every", type=int, default=16,
        help="fold merge-on-read deltas every N epochs (0 disables)",
    )
    ap.add_argument(
        "--compact-min-files", type=int, default=None,
        help="read-cost-keyed auto-compaction: fold any bucket reaching K delta files",
    )
    ap.add_argument(
        "--expire-keep", type=int, default=None,
        help="after compaction, keep only the newest N snapshots per table",
    )
    ap.add_argument(
        "--tables", default=None,
        help="comma-separated source tables for a MIXED feed (routes on source.table)",
    )
    ap.add_argument(
        "--adopt-new-stream", action="store_true",
        help="explicitly adopt a NEW stream's epoch numbering against the "
        "existing lake (after an intentional checkpoint wipe/re-point): "
        "resets the epoch log of EVERY pipeline table atomically before "
        "starting. Without this, a re-pointed stream whose epoch ids fall "
        "below the lake's idempotency floor fails loudly with "
        "StaleEpochError instead of silently dropping or double-applying "
        "data. Only safe when the old stream is truly gone.",
    )
    ap.add_argument(
        "--replay-dead-letters", action="store_true",
        help="instead of streaming: repair-and-reinject quarantined rows "
        "through the normal envelope path (run while the stream is "
        "stopped), mark them replayed, and exit. Rows still corrupt after "
        "--repair re-quarantine and stay pending.",
    )
    ap.add_argument(
        "--repair", default=None, metavar="MODULE:FUNCTION",
        help="line-repair hook for --replay-dead-letters: a python "
        "'module:function' (str -> str) importable on driver AND executors",
    )
    args = ap.parse_args()

    from changedatacapture_spark.streaming.driver import CdcPipeline, MultiTablePipeline

    spark = SparkSession.builder.appName("cdc-ingest").getOrCreate()
    kwargs = dict(
        n_buckets=args.buckets,
        with_chunks=True,
        with_embeddings=args.embeddings,
        watermark=args.watermark,
        compact_every=args.compact_every or None,
        compact_min_files=args.compact_min_files,
        expire_keep=args.expire_keep,
    )
    if args.tables:
        tables = [t.strip() for t in args.tables.split(",") if t.strip()]
        pipe = MultiTablePipeline(args.lake, tables, **kwargs)
    else:
        pipe = CdcPipeline(args.lake, **kwargs)
    if args.adopt_new_stream:
        pipe.reset_epoch_logs()
    if args.replay_dead_letters:
        repair_fn = None
        if args.repair:
            import importlib

            mod, _, fn = args.repair.partition(":")
            repair_fn = getattr(importlib.import_module(mod), fn)
        out = pipe.replay_dead_letters(spark, repair_fn=repair_fn)
        print(
            f"replayed {out['rows']} dead-lettered rows from quarantine "
            f"epochs {out['quarantine_epochs']}"
        )
        return
    query = pipe.run_stream(
        spark,
        args.segments,
        args.checkpoint,
        max_files_per_trigger=args.max_files,
        available_now=not args.tail,
        timeout_sec=None if args.tail else 24 * 3600,
    )
    if args.tail:
        query.awaitTermination()


if __name__ == "__main__":
    main()
