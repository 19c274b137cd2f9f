"""Field-diff operators (J2/F3/F4), lake compaction and the Kafka record
projection."""

import datetime as dt

from changedatacapture_spark.operators import diff
from changedatacapture_spark.schemas import ENVELOPE_SCHEMA


def _env(spark):
    ts = dt.datetime(2024, 1, 1)
    rows = [
        # update changing text + lang
        {
            "op": "u",
            "before": {"url": "u1", "warc_ts": ts, "html": None, "text": "old", "lang": "en", "extra": None},
            "after": {"url": "u1", "warc_ts": ts, "html": None, "text": "new", "lang": "vi", "extra": None},
            "source": {"db": "d", "table": "t", "file": "f", "pos": 1},
            "ts_ms": 0,
        },
        # insert: everything 'added'
        {
            "op": "c",
            "before": None,
            "after": {"url": "u2", "warc_ts": ts, "html": None, "text": "x", "lang": "en", "extra": None},
            "source": {"db": "d", "table": "t", "file": "f", "pos": 2},
            "ts_ms": 0,
        },
        # no-op update (before == after) → no diff rows
        {
            "op": "u",
            "before": {"url": "u3", "warc_ts": ts, "html": None, "text": "same", "lang": "en", "extra": None},
            "after": {"url": "u3", "warc_ts": ts, "html": None, "text": "same", "lang": "en", "extra": None},
            "source": {"db": "d", "table": "t", "file": "f", "pos": 3},
            "ts_ms": 0,
        },
    ]
    return spark.createDataFrame(rows, ENVELOPE_SCHEMA)


def test_field_diff_classifies(spark):
    from changedatacapture_spark.operators import envelope

    parsed = envelope.parse_envelope(_env(spark), include_before=True)
    d = diff.field_diff(parsed, fields=["text", "lang"])
    got = {(r["url"], r["field"]): (r["old"], r["new"], r["change"]) for r in d.collect()}
    assert got[("u1", "text")] == ("old", "new", "modified")
    assert got[("u1", "lang")] == ("en", "vi", "modified")
    assert got[("u2", "text")] == (None, "x", "added")
    # no-op update suppressed (hash-skip analog, incremental_pinecone_updater.py:275-277)
    assert not any(u == "u3" for (u, _f) in got)


def test_format_changes(spark):
    from changedatacapture_spark.operators import envelope

    parsed = envelope.parse_envelope(_env(spark), include_before=True)
    out = {
        r["url"]: r["change_summary"]
        for r in diff.format_changes(diff.field_diff(parsed, ["text", "lang"])).collect()
    }
    assert out["u1"] == "[UPDATED FIELDS]\nlang: Old: en -> New: vi\ntext: Old: old -> New: new"


def test_format_content_skips_nulls(spark):
    df = spark.createDataFrame([("a", None, "en")], "url string, text string, lang string")
    out = diff.format_content(df, ["url", "text", "lang"]).first()["content"]
    assert out == "url: a\nlang: en"


def test_lake_compaction(spark, tmp_path):
    import datetime as dt

    from changedatacapture_spark.sinks.lake import LakeTable

    t = LakeTable(str(tmp_path / "t"), key="url", n_buckets=2)
    ts = dt.datetime(2024, 1, 1)
    schema = (
        "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
    )
    for epoch in range(4):
        rows = [(f"u{epoch}", ts + dt.timedelta(seconds=epoch), epoch + 1, "c", 0, f"v{epoch}")]
        t.merge_lww(spark, spark.createDataFrame(rows, schema), epoch_id=epoch)
    # delete u0 (tombstone)
    t.merge_lww(
        spark,
        spark.createDataFrame([("u0", ts + dt.timedelta(hours=1), 99, "d", 1, None)], schema),
        epoch_id=10,
    )
    assert t.read_raw(spark).count() == 4  # 3 live + u0's tombstone (LWW-replaced)
    assert t.read(spark).count() == 3

    snap = t.compact(spark, drop_tombstones_before=ts + dt.timedelta(hours=2))
    assert snap["meta"] == {"compaction": True}
    assert t.read_raw(spark).count() == 3  # tombstone aged out
    assert sorted(r["url"] for r in t.read(spark).collect()) == ["u1", "u2", "u3"]
    # one file per non-empty bucket after compaction
    files_per_bucket = [len(v) for v in t.bucket_files().values()]
    assert all(n <= 1 for n in files_per_bucket)


def test_kafka_record_projection_parses_debezium_wire(spark, tmp_path, testdata_dir):
    """The Kafka source's projection (no broker in the sandbox): Debezium-
    shaped JSON values with base64 html round-trip byte-identically, null
    Kafka values (compaction tombstones) and corrupt JSON drop at the
    tombstone/corrupt filter, and the record key rides along as _kafka_key."""
    import base64
    import datetime as dt
    import json

    from changedatacapture_spark import gen, oracle
    from changedatacapture_spark.operators import apply as apply_ops
    from changedatacapture_spark.operators.envelope import (
        parse_envelope,
        project_kafka_records,
    )

    events = gen.generate_small(
        str(tmp_path / "pq"), n_urls=12, n_events=80, seed=53, testdata_dir=testdata_dir
    )

    def wire(e):
        def conv(p):
            if p is None:
                return None
            q = dict(p)
            if isinstance(q.get("warc_ts"), dt.datetime):
                q["warc_ts"] = q["warc_ts"].strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
            if q.get("html") is not None:
                q["html"] = base64.b64encode(q["html"]).decode("ascii")
            return q

        return json.dumps(
            {"op": e["op"], "before": conv(e.get("before")), "after": conv(e.get("after")),
             "source": e["source"], "ts_ms": e["ts_ms"]}, ensure_ascii=False
        ).encode("utf-8")

    records = []
    for i, e in enumerate(events):
        key = ((e.get("after") or e.get("before"))["url"]).encode()
        records.append((key, wire(e), "db.testdb.pages", 0, i))
        if i % 10 == 0:  # Kafka compaction tombstone: null value
            records.append((key, None, "db.testdb.pages", 0, 100000 + i))
        if i % 17 == 0:  # transport corruption
            records.append((key, b"{not json", "db.testdb.pages", 0, 200000 + i))
    raw = spark.createDataFrame(
        records, "key binary, value binary, topic string, partition int, offset long"
    )

    projected = project_kafka_records(raw)
    assert "_kafka_key" in projected.columns
    parsed = parse_envelope(projected)
    # tombstones + corrupt records dropped; every real event survives
    assert parsed.count() == len(events)

    got = {r["url"]: r.asDict() for r in apply_ops.fold_final_state(parsed).collect()}
    exp = oracle.fold_events(events)
    assert set(got) == set(exp)
    for url, p in exp.items():
        assert got[url]["text"] == p["text"]
        assert bytes(got[url]["html"]) == p["html"]  # base64 round-trip exact


def test_line_diff_matches_reference_semantics(spark):
    """operators.diff.line_diff ≡ the reference's detect_text_changes
    (rag/incremental_rag_system.py:167-206), pinned against a verbatim port
    of its zip/append/delete classification."""
    from changedatacapture_spark.operators.diff import line_diff

    def reference_detect(old_text, new_text):  # verbatim port (public repo)
        changes = []
        old_lines = old_text.split("\n")
        new_lines = new_text.split("\n")
        for i, (o, n) in enumerate(zip(old_lines, new_lines)):
            if o != n:
                changes.append(("modified", i, o, n))
        if len(new_lines) > len(old_lines):
            for i in range(len(old_lines), len(new_lines)):
                changes.append(("added", i, None, new_lines[i]))
        if len(old_lines) > len(new_lines):
            for i in range(len(new_lines), len(old_lines)):
                changes.append(("deleted", i, old_lines[i], None))
        return sorted(changes, key=lambda c: c[1])

    cases = [
        ("a\nb\nc", "a\nB\nc"),                  # modified middle
        ("a\nb", "a\nb\nc\nd"),                  # added tail
        ("a\nb\nc\nd", "a\nb"),                  # deleted tail
        ("a\nb\nc", "x\nb\nz\nw"),               # modified + added
        ("same\nsame", "same\nsame"),            # no changes
        ("", "x"),                                # '' is one empty line
    ]
    df = spark.createDataFrame(
        [(i, o, n) for i, (o, n) in enumerate(cases)],
        "doc_id int, old_text string, new_text string",
    )
    got = {}
    for r in line_diff(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["change_type"], r["line"], r["old_line"], r["new_line"])
        )
    for i, (o, n) in enumerate(cases):
        exp = reference_detect(o, n)
        assert sorted(got.get(i, []), key=lambda c: c[1]) == exp, f"case {i}"


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join ≡ pandas merge_asof(direction='backward') per key, including
    the inclusive same-timestamp match and no-match nulls."""
    import pandas as pd

    from changedatacapture_spark.operators.asof import asof_join

    right = pd.DataFrame(
        {"k": ["a", "a", "a", "b"], "t": [10, 20, 30, 15], "v": [1, 2, 3, 9]}
    )
    left = pd.DataFrame(
        {"k": ["a", "a", "a", "a", "b", "b", "c"],
         "t": [5, 10, 25, 99, 14, 16, 50],
         "q": [0, 1, 2, 3, 4, 5, 6]}
    )
    exp = pd.merge_asof(
        left.sort_values("t"), right.sort_values("t"), on="t", by="k", direction="backward"
    )
    exp_map = {int(r.q): (None if pd.isna(r.v) else int(r.v)) for r in exp.itertuples()}

    l_df = spark.createDataFrame(left, "k string, t long, q long")
    r_df = spark.createDataFrame(right, "k string, t long, v long")
    got = asof_join(l_df, r_df, on="k", left_time="t", right_time="t", value_cols=["v"])
    got_map = {int(r["q"]): (None if r["asof_v"] is None else int(r["asof_v"]))
               for r in got.collect()}
    assert got_map == exp_map
    assert got.count() == len(left)  # every probe survives (left semantics)


def test_binned_range_join_exact_and_duplicate_free(spark):
    """binned_range_join ≡ the naive inequality join (inclusive bounds) with
    no duplicate pairs, across bin-boundary-straddling intervals."""
    from changedatacapture_spark.operators.asof import binned_range_join

    pts = spark.createDataFrame(
        [(i, t) for i, t in enumerate([0, 5, 10, 99, 100, 101, 250, 999])],
        "pid long, t long",
    )
    iv = spark.createDataFrame(
        [(1, 0, 10), (2, 95, 105), (3, 100, 100), (4, 500, 600)],
        "iid long, lo long, hi long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in binned_range_join(pts, iv, point_time="t", lo="lo", hi="hi", bin_width=50).collect()
    )
    exp = sorted(
        (p, i)
        for p, t in [(i, t) for i, t in enumerate([0, 5, 10, 99, 100, 101, 250, 999])]
        for i, lo, hi in [(1, 0, 10), (2, 95, 105), (3, 100, 100), (4, 500, 600)]
        if lo <= t <= hi
    )
    assert got == exp
    assert len(got) == len(set(got)), "duplicates leaked from bin explode"


def test_asof_join_null_value_match_not_substituted(spark):
    """A matched right row whose value is legitimately NULL must yield NULL —
    not an older row's value — and multiple value columns must come from the
    SAME right row (the struct-carrier property)."""
    from changedatacapture_spark.operators.asof import asof_join

    l = spark.createDataFrame([("k", 25, 0), ("k", 15, 1)], "k string, t long, q long")
    r = spark.createDataFrame([("k", 10, 1), ("k", 20, None)], "k string, t long, v long")
    got = {row["q"]: (row["asof_v"], row["asof_t"])
           for row in asof_join(l, r, on="k", left_time="t", right_time="t",
                                value_cols=["v", "t"]).collect()}
    assert got[0] == (None, 20), "NULL match must not fall back to the older row"
    assert got[1] == (1, 10)


def test_compact_on_emptied_table_is_noop(spark, tmp_path):
    """compact() must not crash when the snapshot references zero live files
    (tombstone aging dropped everything / empty-batch commit) — the periodic
    maintenance call runs inside the stream."""
    import datetime as dt

    from changedatacapture_spark.sinks.lake import LakeTable

    t = LakeTable(str(tmp_path / "e"), key="url", n_buckets=2)
    schema = (
        "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"
    )
    ts = dt.datetime(2024, 1, 1)
    t.merge_lww(spark, spark.createDataFrame([("u1", ts, 1, "d", 1, None)], schema), epoch_id=0)
    t.compact(spark, drop_tombstones_before=ts + dt.timedelta(days=1))
    assert t.read_raw(spark) is None or t.read_raw(spark).count() == 0
    assert t.compact(spark) is None  # second maintenance pass: clean no-op
