"""Last-writer-wins reduction — the explicit heart of the engine
(SURVEY.md §2.5).

The reference gets LWW implicitly by applying Kafka messages one at a time in
offset order (RAG_INCREMENTAL_GUIDE.md:107; the update path overwrites the
existing vector, incremental_pinecone_updater.py:263-272). Distributed, that
order disappears, so we make it explicit:

- total order per url = ``(warc_ts, pos)`` — event time with binlog position
  as tie-break (QUICK_START.md:271-273);
- snapshot reads (``op='r'``) rank *below* any stream event and
  first-writer-wins among themselves (insert-if-absent semantics,
  auto_gen_rag.py:204-205 + Debezium snapshot-first contract);
- duplicate deliveries of the same ``(url, pos)`` collapse first.

Implementation is ``groupBy(url).agg(max_by(payload, order_key))`` rather
than a window: max_by is an algebraic aggregate, so Spark computes it with
**partial aggregation (map-side combine)** — at 10^10 events the shuffle
carries one pre-reduced row per (url × map-partition), not every event, and
no global sort is needed. A window (`row_number`) would shuffle every event
and sort each partition; see tests/test_plans.py which pins the partial-agg
plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def order_key_cols(op: F.Column, warc_ts: F.Column, pos: F.Column) -> F.Column:
    """Order struct over explicit columns: stream events (c/u/d) beat snapshot
    reads; streams by (warc_ts, pos) ascending-max = last writer; snapshots
    inverted so the *first* snapshot row wins (insert-if-absent).

    Contract assumption (Debezium snapshot-first, create_connector.bat:23):
    no stream event for a key precedes that key's snapshot read in event
    time. If a feed violated it — e.g. a 'd' with warc_ts BEFORE an 'r' of
    the same key — this total order still deletes the key (stream > snapshot
    unconditionally), whereas a global (warc_ts, pos) sort would apply the
    'r' after the 'd' and keep it. tests/test_fold.py pins the engine's
    intended behavior for that edge.
    """
    is_stream = F.when(op == "r", F.lit(0)).otherwise(F.lit(1))
    ts_us = F.unix_micros(warc_ts)
    return F.struct(
        is_stream.alias("k0"),
        F.when(op == "r", -ts_us).otherwise(ts_us).alias("k1"),
        F.when(op == "r", -pos).otherwise(pos).alias("k2"),
    )


def _order_key() -> F.Column:
    return order_key_cols(F.col("op"), F.col("warc_ts"), F.col("pos"))


def dedup_deliveries(parsed: DataFrame) -> DataFrame:
    """Collapse duplicate deliveries of the same (url, pos) — at-least-once
    transport (reference relies on Kafka redelivery + auto-commit,
    kafka_cdc_to_rag.py:26). Same algebraic max_by shape: map-side combine."""
    cols = [c for c in parsed.columns if c not in ("url", "pos")]
    return (
        parsed.groupBy("url", "pos")
        .agg(F.max_by(F.struct(*cols), F.struct("warc_ts", "op")).alias("_r"))
        .select("url", "pos", "_r.*")
    )


def lww_winners(parsed: DataFrame) -> DataFrame:
    """One winning event per url (the merge-cardinality prerequisite: a MERGE
    source must have at most one row per target key, SURVEY.md §7)."""
    cols = [c for c in parsed.columns if c != "url"]
    return (
        parsed.groupBy("url")
        .agg(F.max_by(F.struct(*cols), _order_key()).alias("_w"))
        .select("url", "_w.*")
    )


def lww_winners_salted(parsed: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """Two-phase LWW for hot-url skew (SURVEY.md §4 'hot-key salting').

    Phase 1 pre-reduces per ``(url, salt)`` where ``salt = pmod(pos, k)`` —
    a hot url's events split across ``k`` reducers; phase 2 reduces the ≤k
    survivors per url. The salt never touches the merge key itself (salting
    the MERGE key would split upserts — SURVEY.md §7 'what's hard').

    Note: because max_by already does map-side partial aggregation, explicit
    salting only pays off when a single url dominates entire *reduce* tasks;
    both paths are exposed and ``CdcPipeline(salt_buckets=)`` picks one.
    """
    cols = [c for c in parsed.columns if c != "url"]
    phase1 = (
        parsed.withColumn("_salt", F.pmod(F.col("pos"), F.lit(salt_buckets)))
        .groupBy("url", "_salt")
        .agg(F.max_by(F.struct(*cols), _order_key()).alias("_w"))
        .select("url", "_w.*")
    )
    return lww_winners(phase1)
