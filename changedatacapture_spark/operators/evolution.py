"""Schema evolution: detect new source columns mid-stream and promote them.

The reference tolerates fields appearing/disappearing between ``before`` and
``after`` and classifies them added/deleted/modified
(incremental_rag_system.py:216-243, incremental_pinecone_updater.py:315-327).
In the engine, evolved source columns arrive in the payload's ``extra``
string map (schemas.PAYLOAD_SCHEMA); per micro-batch we diff the observed
keys against the sink schema and widen the sink before the MERGE — the
fallback-lake twin of Iceberg schema-merge (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def observed_extra_keys(deltas: DataFrame) -> list[str]:
    """Distinct evolved-column names present in this batch (cheap: the
    distinct runs on exploded keys of a usually-null map; partial agg)."""
    rows = (
        deltas.where(F.col("extra").isNotNull())
        .select(F.explode(F.map_keys(F.col("extra"))).alias("k"))
        .distinct()
        .collect()
    )
    return sorted(r["k"] for r in rows)


def promote_extra_columns(deltas: DataFrame, keys: list[str]) -> DataFrame:
    """Lift ``extra['k']`` map entries into real ``x_k`` string columns; the
    map column itself is dropped once promoted."""
    out = deltas
    for k in keys:
        out = out.withColumn(f"x_{k}", F.col("extra").getItem(k))
    return out.drop("extra")


_NARROW_ORDER = ("bigint", "double", "timestamp")


def widen_type(a: str | None, b: str | None) -> str | None:
    """Monotone type-lattice join for evolved columns: bigint ⊂ double ⊂
    string, timestamp ⊂ string — a column that ever sees a value outside
    its narrow type re-widens and NEVER narrows again (VERDICT r4 item 5's
    widening-conflict contract). ``None`` = no observation yet."""
    if a is None:
        return b
    if b is None or a == b:
        return a
    if {a, b} == {"bigint", "double"}:
        return "double"
    return "string"


def infer_extra_types(deltas: DataFrame, cols: list[str]) -> dict[str, str]:
    """Per promoted ``x_k`` column, the NARROWEST logical type that parses
    every non-null value in this batch (bigint → double → timestamp →
    string), in ONE aggregate job over the (cached) batch. The physical
    parquet column stays string — the winner is recorded as snapshot
    metadata and applied as a cast at read time (``LakeTable.read``), so a
    later re-widen is a metadata change, never a file rewrite (mixing
    parquet physical types across delta files would break the explicit-
    schema scan). Columns with zero non-null observations vote nothing."""
    if not cols:
        return {}
    aggs = []
    for i, c in enumerate(cols):
        q = c.replace("`", "``")
        aggs.append(F.count(F.col(c)).alias(f"_n{i}"))
        for t in _NARROW_ORDER:
            aggs.append(
                F.count(F.expr(f"try_cast(`{q}` as {t})")).alias(f"_{t[:2]}{i}")
            )
    row = deltas.agg(*aggs).collect()[0]
    out: dict[str, str] = {}
    for i, c in enumerate(cols):
        n = row[f"_n{i}"]
        if not n:
            continue
        for t in _NARROW_ORDER:
            if row[f"_{t[:2]}{i}"] == n:
                out[c] = t
                break
        else:
            out[c] = "string"
    return out
