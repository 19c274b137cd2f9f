"""The per-event transform as vectorized pandas/Arrow UDFs.

Reference pipeline (EP1 step 7, SURVEY.md §3): fetch row → ``chunk_by_sections``
(main.py:105-159) → embed each chunk (main.py:1071) → build vector records
(main.py:1074-1086). The reference runs this per-row in Python over an HTTP
hop; here the same math runs inside the Spark job as Arrow-batched pandas UDFs
(no per-row Python at the Spark API level, per BASELINE.json input_hint), and
the 1-row→N-chunks UDTF shape (main.py:806-820) becomes
``posexplode(chunk_udf(text))``.

Byte-identity contract: ``extract_text_udf`` ≡ ``oracle.html_to_text`` and
``chunk_udf`` ≡ ``oracle.chunk_by_sections`` element-wise — pinned by
tests/test_transform_parity.py.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import oracle
from ..schemas import CHUNK_ARRAY


_HEAD_PREFIX_RE = re.compile(r"^\d+\.\s")


def _extract_text_fast(html: bytes) -> str:
    """Tuned twin of oracle.html_to_text (byte-identical, pinned by
    tests/test_transform_parity.py).

    txt_to_markdown (main.py:356-382) is line-wise ``strip → numbered-heading
    rewrite → identity`` (the bullet branch reconstructs the original line),
    so the per-line work reduces to one cheap digit check + at most one
    anchored regex — ~2× the naive port's throughput. Measured ~33k docs/s
    single-core on the bench corpus; an exploded-pandas variant was tried and
    lost (explode/groupby overhead beats the regex savings on ~1 KB docs)."""
    text = html.decode("utf-8", errors="replace")
    text = oracle._BLOCK_TAG_RE.sub("\n", text)
    text = oracle._TAG_RE.sub("", text)
    for ent, ch in oracle._ENTITIES:
        if ent in text:
            text = text.replace(ent, ch)
    out = []
    append = out.append
    for line in text.split("\n"):
        line = line.strip()
        if line[:1].isdigit():
            m = _HEAD_PREFIX_RE.match(line)
            if m:
                append("## " + line[m.end():])
                continue
        append(line)
    return "\n".join(out)


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """binary html → extracted text (≡ oracle.html_to_text per element)."""
    return html.map(lambda b: None if b is None else _extract_text_fast(bytes(b)))


def _chunk_vectorized(texts: pd.Series) -> pd.Series:
    """Vectorized twin of oracle.chunk_by_sections (main.py:105-159),
    byte/offset-identical (pinned by tests/test_transform_parity.py).

    Same shape as the DuckDB SQL oracle: explode lines, running char pointer,
    heading detection, section grouping, end_index = next section's start
    minus (next heading length + 1) — including the reference's end-index
    quirk — with the Python loop replaced by grouped pandas ops.
    """
    mask = texts.notna()
    if not mask.any():
        return pd.Series([None] * len(texts), index=texts.index, dtype=object)
    t = texts[mask]

    def _emit(lists_by_rid: dict) -> pd.Series:
        # plain-python assembly: pandas setitem would try to broadcast the
        # list-of-dicts values as arrays
        data = [
            (lists_by_rid.get(i, []) if m else None)
            for i, m in zip(texts.index, mask.values)
        ]
        return pd.Series(data, index=texts.index, dtype=object)

    lines = t.str.split("\n").explode()
    df = pd.DataFrame({"line": lines.values, "rid": lines.index})
    line_len = df["line"].str.len() + 1
    df["line_start"] = line_len.groupby(df["rid"]).cumsum() - line_len
    m = df["line"].str.extract(r"^(#+|\d+\.)\s+(.+?)$")
    df["is_head"] = m[0].notna()
    df["title"] = m[1]
    df["sec"] = df.groupby("rid", sort=False)["is_head"].cumsum()

    body = df[df["sec"] > 0]
    if body.empty:
        return _emit({})

    g = body.groupby(["rid", "sec"], sort=False)
    agg = g.agg(
        title=("title", "first"),
        start=("line_start", "first"),
        head=("line", "first"),
        joined=("line", "\n".join),
    ).reset_index()
    agg["head_len"] = agg["head"].str.len()
    grp = agg.groupby("rid", sort=False)
    next_start = grp["start"].shift(-1)
    next_headlen = grp["head_len"].shift(-1)
    tlen = t.str.len()
    agg["end"] = (next_start - next_headlen - 1).where(
        next_start.notna(), agg["rid"].map(tlen)
    ).astype("int64")
    agg["content"] = agg["joined"].str.strip()

    chunks = [
        {
            "section_title": ti,
            "content": c,
            "chunk_size": len(c),
            "start_index": int(s),
            "end_index": int(e),
        }
        for ti, c, s, e in zip(agg["title"], agg["content"], agg["start"], agg["end"])
    ]
    agg["chunk"] = chunks
    lists = agg.groupby("rid", sort=False)["chunk"].agg(list)
    return _emit(dict(lists.items()))


@pandas_udf(CHUNK_ARRAY)
def chunk_udf(text: pd.Series) -> pd.Series:
    """text → array<struct> of section chunks (≡ oracle.chunk_by_sections).

    Field names follow the reference chunk record (main.py:810-820) with
    ``section``→``section_title`` and ``size``→``chunk_size`` renames used by
    the sink table.
    """
    return _chunk_vectorized(text)


EMBED_DIM = 384  # reference: all-MiniLM-L6-v2, 384-dim (main.py:1155-1160)


def stub_embed_one(t: str | None) -> list[float] | None:
    """One text → one deterministic md5-arithmetic vector (the body of
    ``embed_stub_udf``). ORACLE-PINNED: oracles_sql
    ``_embed_sql`` reproduces every float32 byte — change nothing here."""
    if t is None:
        return None
    # hash the FULL text exactly once; the per-dim expansion hashes only
    # the fixed-width digest + counter (O(|text| + dim), not O(dim·|text|))
    base = hashlib.md5(t.encode("utf-8")).hexdigest()
    raw = np.empty(EMBED_DIM, dtype=np.float64)
    for j in range(EMBED_DIM // 2):
        hx = hashlib.md5(f"{base}\x1f{j}".encode("ascii")).hexdigest()
        raw[2 * j] = int(hx[:15], 16) % 2_000_001 - 1_000_000
        raw[2 * j + 1] = int(hx[16:31], 16) % 2_000_001 - 1_000_000
    n = float(np.sqrt((raw * raw).sum()))
    if n == 0.0:
        return [0.0] * EMBED_DIM
    return (raw / n).astype(np.float32).tolist()


@pandas_udf(T.ArrayType(T.FloatType()))
def embed_stub_udf(content: pd.Series) -> pd.Series:
    """Deterministic stand-in for the embedding model (main.py:45 — weights
    are unavailable offline; SURVEY.md §7 declares this a pluggable vectorized
    stage), defined over pure md5 arithmetic so the whole embedding stage is
    ANSI-SQL-expressible: dim pair j comes from md5(content·US·j) split into
    two 60-bit hex slices mapped to integers in [-10^6, 10^6]; the vector is
    L2-normalized in float64 and stored as float32. The sum of 384 squared
    ints is < 2^53, so the norm is computed over EXACT integers — bit-equal
    in any summation order on any engine — and the DuckDB twin
    (oracles_sql._embed_sql) reproduces every float32 byte. This upgrades
    the r2 rows-only gate row to a full value-hash oracle.
    """
    return content.map(stub_embed_one)


_SIM_MATRIX: np.ndarray | None = None
EMBED_SIM_ROUNDS = 10


def _sim_matrix() -> np.ndarray:
    """Fixed mixing matrix for the compute-realistic embedding stand-in,
    derived from a constant seed (cached per python worker)."""
    global _SIM_MATRIX
    if _SIM_MATRIX is None:
        seed = np.frombuffer(hashlib.md5(b"embed-sim-matrix").digest(), dtype=np.uint64)
        rng = np.random.Generator(np.random.Philox(key=seed))
        _SIM_MATRIX = (rng.standard_normal((EMBED_DIM, EMBED_DIM)) / np.sqrt(EMBED_DIM)).astype(
            np.float32
        )
    return _SIM_MATRIX


@pandas_udf(T.ArrayType(T.FloatType()))
def embed_sim_udf(content: pd.Series) -> pd.Series:
    """Compute-realistic embedding stand-in: md5-seeded start vector mixed
    through EMBED_SIM_ROUNDS tanh(M·v) rounds (still far cheaper than the
    reference's real CPU MiniLM inference, main.py:45, which runs 5-10
    s/document). Deterministic across workers/runs; used by the benchmark's
    full-pipeline path so the measured cost structure matches the
    reference's embedding-bound profile.

    The mixing rounds run BATCHED — the whole Arrow batch's start vectors
    stacked into one (n × dim) matrix and the per-row ``tanh(M·v)`` rounds
    computed as ``tanh(V·Mᵀ)`` sgemm calls (one BLAS call per round per
    batch instead of one sgemv per round per ROW — measured ~3× on the
    mixing stage; the per-row md5→Philox seeding is the definition of the
    start vector and stays a loop). Same math; a row's floats may differ
    from the per-row formulation in the last ulp (BLAS kernels re-order the
    dot-product sum by matrix shape), which nothing may depend on: this
    stand-in feeds only the bench pipeline, where every consumer (mirror
    diff, feed suppression) compares embeddings produced within the same
    run by this same function."""
    M_T = _sim_matrix().T

    def batch(s: pd.Series) -> pd.Series:
        vals = s.tolist()
        idx = [i for i, t in enumerate(vals) if t is not None]
        out = [None] * len(vals)
        if idx:
            starts = np.empty((len(idx), EMBED_DIM), dtype=np.float32)
            for r, i in enumerate(idx):
                digest = hashlib.md5(vals[i].encode("utf-8")).digest()
                seed = np.frombuffer(digest, dtype=np.uint64)
                rng = np.random.Generator(np.random.Philox(key=seed))
                starts[r] = rng.standard_normal(EMBED_DIM).astype(np.float32)
            V = starts
            for _ in range(EMBED_SIM_ROUNDS):
                V = np.tanh(V @ M_T)
            n = np.linalg.norm(V, axis=1, keepdims=True)
            V = np.where(n == 0, V, V / np.where(n == 0, 1.0, n)).astype(
                np.float32
            )
            for r, i in enumerate(idx):
                out[i] = V[r].tolist()
        return pd.Series(out, index=s.index, dtype=object)

    return batch(content)


def content_hash_col(col: str = "text") -> F.Column:
    """md5 content hash for change-skip / idempotency keys
    (incremental_pinecone_updater.py:139-141) — JVM-side built-in, no UDF."""
    return F.md5(F.encode(F.col(col), "utf-8"))


def chunk_pages(
    pages: DataFrame,
    with_embeddings: bool = False,
    embed_fn=None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, text, ...) → chunks table (1 row per section chunk).

    Deterministic chunk ids ``{url}_chunk_{index}`` replace the reference's
    uuid4 ids (main.py:909) — uuids break idempotent replay (SURVEY.md §2.8
    F7), so the engine derives the sink key from (url, chunk_index).
    ``carry`` columns (e.g. the LWW order key op/warc_ts/pos for the
    merge-on-read chunks table) pass through the explode unchanged.
    """
    chunks = (
        pages.select(
            "url", *carry, F.posexplode(chunk_udf(F.col("text"))).alias("chunk_index", "c")
        )
        .select(
            "url",
            *carry,
            F.col("chunk_index").cast("int").alias("chunk_index"),
            F.col("c.section_title").alias("section_title"),
            F.col("c.content").alias("content"),
            F.col("c.chunk_size").alias("chunk_size"),
            F.col("c.start_index").alias("start_index"),
            F.col("c.end_index").alias("end_index"),
        )
        .withColumn("chunk_id", F.concat_ws("_chunk_", F.col("url"), F.col("chunk_index")))
    )
    if with_embeddings:
        fn = embed_fn if embed_fn is not None else embed_stub_udf
        chunks = chunks.withColumn("embedding", fn(F.col("content")))
    return chunks
