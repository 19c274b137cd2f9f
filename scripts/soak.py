"""Integration soak: every engine feature on at once, with a mid-stream
crash-restart, verified byte-level against the sequential oracles.

500k (default; --events) mixed events over two source tables (overlapping
urls), truncates,
schema evolution, hot-url skew, dup deliveries, late events; pipeline runs
with embeddings + read-cost-keyed auto-compaction + snapshot expiry, and
per-table feed mirrors (pages, chunks, vectors) synced after every phase. Phase 1 sees only half the binlog
segments; phase 2 restarts from the same checkpoint with FRESH pipeline
objects and drains the rest. Asserts, per table:

- pages text ≡ oracle fold (incl. truncate clears)
- chunks ≡ oracle chunker over the fold state
- every feed mirror, the VectorFeedMirror index included, ≡ its source's
  live set (diff_vs_source == 0)
- delta stacks bounded by compact_min_files; snapshots bounded by expire_keep
- each engine phase lands inside its wall-clock budget (--phase-budget-sec;
  scaled from measured 16-core timings ×2 headroom) — the soak doubles as a
  throughput-regression tripwire, not just a correctness one

Usage: python scripts/soak.py [--events 500000]
(not part of pytest — this is the long-running stress twin of the suite; it
puts its own checkout on the driver's and the workers' path)
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=500_000)
    ap.add_argument("--urls", type=int, default=None,
                    help="default: events//50 (keeps update:insert mix stable)")
    ap.add_argument("--phase-budget-sec", type=float, default=None,
                    help="per-engine-phase wall budget; default scales as "
                         "200 + events*1.2e-3 (~3.5x the measured 16-core "
                         "rate: 213s/182s at 500k — headroom covers this "
                         "host's documented ~3x wall-clock noise)")
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--workdir", default=f"/tmp/cdc_soak_{os.getpid()}")
    args = ap.parse_args()
    if args.urls is None:
        args.urls = max(1000, args.events // 50)
    budget = (args.phase_budget_sec if args.phase_budget_sec is not None
              else 200.0 + args.events * 1.2e-3)

    from pyspark.sql import SparkSession

    from changedatacapture_spark import gen, oracle
    from changedatacapture_spark.streaming.driver import MultiTablePipeline

    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # CLAUDE.md: N python workers × nproc BLAS threads oversubscribe the box
    for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    spark = (
        SparkSession.builder.master(f"local[{args.cores}]")
        .config("spark.sql.shuffle.partitions", str(args.cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    wd = args.workdir
    shutil.rmtree(wd, ignore_errors=True)
    seg = os.path.join(wd, "binlog")

    t0 = time.monotonic()
    events = gen.generate_small(
        seg,
        n_urls=args.urls,
        n_events=args.events,
        n_segments=16,
        seed=2024,
        hot_frac=0.1,
        truncate_frac=0.0005,
        second_table_frac=0.25,
        evolve_at=0.6,
        testdata_dir="/root/testdata/sf0.01",
    )
    print(f"[soak] generated {args.events} events in {time.monotonic() - t0:.0f}s", flush=True)

    tables = ["pages", "authors"]

    def mk_pipes():
        m = MultiTablePipeline(
            os.path.join(wd, "lake"),
            tables,
            n_buckets=16,
            with_embeddings=True,
            compact_min_files=6,
            # expire_keep ≥ the feed window the phase-4 mirror consumes
            # (phase 3 adds ~2-4 commits past the phase-2 base snapshot);
            # retention_snapshots keeps those snapshots' FILES through the
            # in-run compaction+vacuum so read_changes stays servable
            expire_keep=6,
            retention_snapshots=6,
        )
        for t in tables:
            # small idempotency windows so the run EXERCISES the eviction
            # floor (and phase 3's re-point lands below it — with the
            # default 1000-epoch window a ~16-epoch soak never would)
            for lk in (m[t].pages, m[t].chunks):
                lk.epoch_window = 4
        return m

    # feed-driven mirrors (round 6, VERDICT r5 item 2): durable consumers of
    # BOTH tables' change feeds — pages row-granular, chunks member-granular
    # — synced and proven equal to the source live set at every phase
    # checkpoint. A window the retention no longer serves comes back as
    # 'resync' (the full-rebuild escape hatch) and must STILL land equal.
    from changedatacapture_spark.streaming.mirror import FeedMirror, VectorFeedMirror

    mirrors: dict = {}
    mirror_failures: list[str] = []

    def sync_mirrors(m, label):
        for t in tables:
            for kind, src, mk in (
                ("pages", m[t].pages, None),
                ("chunks", m[t].chunks, "chunk_index"),
                # the vector-store consumer (round 6 part 2): member feed
                # with preimages → a separate IncrementalVectorIndex;
                # diff_vs_source proves every live chunk vector mirrored
                ("vectors", m[t].chunks, "VEC"),
            ):
                k = (t, kind)
                if k not in mirrors:
                    mirrors[k] = (
                        VectorFeedMirror(
                            src, os.path.join(wd, "mirror", t, kind), n_planes=4
                        )
                        if mk == "VEC"
                        else FeedMirror(
                            src, os.path.join(wd, "mirror", t, kind), member_key=mk
                        )
                    )
                else:
                    mirrors[k].source = src  # fresh pipeline objects per phase
                r = mirrors[k].sync(spark)
                d = mirrors[k].diff_vs_source(spark)
                print(f"[soak] mirror {t}/{kind} @{label}: {r} diff={d}", flush=True)
                if d != 0:
                    mirror_failures.append(
                        f"{t}/{kind} mirror @{label}: diff={d} after {r}"
                    )

    # phase 1: only half the segments visible → stream drains them and stops
    files = sorted(f for f in os.listdir(seg) if f.endswith(".parquet"))
    hidden = {}
    for f in files[len(files) // 2:]:
        hidden[f] = os.path.join(wd, "hidden", f)
        os.makedirs(os.path.dirname(hidden[f]), exist_ok=True)
        os.rename(os.path.join(seg, f), hidden[f])
    t0 = time.monotonic()
    m1 = mk_pipes()
    m1.run_stream(spark, seg, os.path.join(wd, "ckpt"),
                  max_files_per_trigger=2, timeout_sec=7200)
    phase1_sec = time.monotonic() - t0
    print(f"[soak] phase 1 done in {phase1_sec:.0f}s (budget {budget:.0f}s)", flush=True)
    sync_mirrors(m1, "phase1")

    # crash-restart: restore segments, FRESH pipeline objects, same checkpoint
    for f, p in hidden.items():
        os.rename(p, os.path.join(seg, f))
    multi = mk_pipes()
    t0 = time.monotonic()
    multi.run_stream(spark, seg, os.path.join(wd, "ckpt"),
                     max_files_per_trigger=2, timeout_sec=7200)
    phase2_sec = time.monotonic() - t0
    print(f"[soak] phase 2 (restart) done in {phase2_sec:.0f}s (budget {budget:.0f}s)", flush=True)
    sync_mirrors(multi, "phase2")

    # change-feed base (round 5): everything phase 3 applies — including the
    # adoption's meta snapshot — must flow through read_changes from here;
    # the final assertions replay the feed onto this state and demand it
    # equal the live table (the downstream-mirror contract at soak volume)
    feed_base = {t: multi[t].pages.current_snapshot()["snapshot_id"] for t in tables}

    # ---- phase 3: checkpoint re-point + explicit adoption (VERDICT r4 #7).
    # A NEW feed (disjoint urls, later event times) with a WIPED checkpoint
    # restarts epoch numbering at 0 — below the idempotency floor the small
    # epoch_window raised during phases 1-2. Without adoption the stream must
    # fail LOUDLY (StaleEpochError — silent skip was the ADVICE r4 data-loss
    # hole); with the pipeline-level reset_epoch_logs() it drains cleanly and
    # the final assertions below cover old+new state together.
    import pyarrow.parquet as _pq

    from changedatacapture_spark.gen import (
        T0,
        _arrow_envelope_schema,
        _to_arrow_row,
    )

    seg2 = os.path.join(wd, "binlog_repoint")
    os.makedirs(seg2, exist_ok=True)
    repoint_events = []
    import datetime as _dt

    for i in range(200):
        repoint_events.append(
            {
                "op": "c",
                "before": None,
                "after": {
                    "url": f"https://repoint.example/u{i}",
                    "warc_ts": T0 + _dt.timedelta(days=30, seconds=i),
                    "html": None,
                    "text": f"1. repoint\nre-pointed body {i}",
                    "lang": "en",
                    "extra": None,
                },
                "source": {"db": "d", "table": "pages", "file": "rp0", "pos": 10_000_000 + i},
                "ts_ms": 0,
            }
        )
    import pyarrow as _pa

    _pq.write_table(
        _pa.Table.from_pylist(
            [_to_arrow_row(r) for r in repoint_events], schema=_arrow_envelope_schema()
        ),
        os.path.join(seg2, "segment-00000.parquet"),
    )
    floor = multi["pages"].pages.current_snapshot().get("epoch_floor", -1)
    assert int(floor) >= 0, f"soak never raised the epoch floor (floor={floor})"

    t0 = time.monotonic()
    raised = None
    try:
        mk_pipes().run_stream(spark, seg2, os.path.join(wd, "ckpt2"),
                              max_files_per_trigger=2, timeout_sec=600)
    except Exception as e:  # StreamingQueryException wraps the python error
        raised = e
    if raised is None or "StaleEpochError" not in str(raised):
        print(f"[soak] FAILED: re-point without adoption did not raise "
              f"StaleEpochError (got: {type(raised).__name__ if raised else 'no error'})")
        sys.exit(1)

    shutil.rmtree(os.path.join(wd, "ckpt2"), ignore_errors=True)
    multi = mk_pipes()
    multi.reset_epoch_logs()
    multi.run_stream(spark, seg2, os.path.join(wd, "ckpt2"),
                     max_files_per_trigger=2, timeout_sec=7200)
    phase3_sec = time.monotonic() - t0
    print(f"[soak] phase 3 (re-point + adoption) done in {phase3_sec:.0f}s", flush=True)
    sync_mirrors(multi, "phase3")
    events = events + repoint_events

    def _rows(df):
        return [] if df is None else df.collect()

    failures = list(mirror_failures)
    # wall-clock tripwire: a throughput regression fails the soak even when
    # every byte still matches
    for name, sec in (("phase1", phase1_sec), ("phase2", phase2_sec)):
        if sec > budget:
            failures.append(f"{name} took {sec:.0f}s > budget {budget:.0f}s")
    for t in tables:
        pipe = multi[t]
        exp = oracle.fold_events([e for e in events if e["source"]["table"] == t])
        pages = {r["url"]: r["text"] for r in _rows(pipe.pages.read(spark))}
        if set(pages) != set(exp):
            failures.append(f"{t}: key sets diverge ({len(pages)} vs {len(exp)})")
        else:
            bad = [u for u, p in exp.items() if pages[u] != p["text"]]
            if bad:
                failures.append(f"{t}: {len(bad)} text mismatches e.g. {bad[:2]}")

        exp_chunks = {u: oracle.chunk_by_sections(p["text"]) for u, p in exp.items()}
        got_chunks: dict[str, list] = {}
        for r in _rows(pipe.chunks.read(spark)):
            got_chunks.setdefault(r["url"], []).append(r)
        if set(got_chunks) != {u for u, c in exp_chunks.items() if c}:
            failures.append(f"{t}: chunk url sets diverge")
        else:
            for url, rows in got_chunks.items():
                rows = sorted(rows, key=lambda r: r["chunk_index"])
                if [g["content"] for g in rows] != [e["content"] for e in exp_chunks[url]]:
                    failures.append(f"{t}: chunk bytes differ for {url}")
                    break

        # typed evolved columns round-trip (VERDICT r4 item 5): the
        # generator's evolved fields are fetch_status="200" (all-numeric →
        # logical bigint) and title-###" strings (→ string); the public
        # read() must serve the typed view over the string-physical files
        et = pipe.pages.evolved_types()
        if et:
            if et.get("x_fetch_status") != "bigint" or et.get("x_title") != "string":
                failures.append(f"{t}: evolved types wrong: {et}")
            else:
                tv = {
                    r["x_fetch_status"]
                    for r in _rows(pipe.pages.read(spark).select("x_fetch_status"))
                    if r["x_fetch_status"] is not None
                }
                if tv != {200}:
                    failures.append(f"{t}: typed x_fetch_status values {tv}")
        elif [e for e in events if e["source"]["table"] == t and (e.get("after") or {}).get("extra")]:
            failures.append(f"{t}: evolution happened but no evolved_types recorded")

        # phase-4 mirror: state(end of phase 2) + change feed == live state
        from changedatacapture_spark.sinks.lake import ChangeFeedUnavailableError

        feed = None
        try:
            feed = pipe.pages.read_changes(spark, feed_base[t], allow_truncate=True)
        except ChangeFeedUnavailableError as e:
            failures.append(f"{t}: feed window unservable: {e}")
        base_read = pipe.pages.read(spark, snapshot_id=feed_base[t])
        if base_read is None:
            failures.append(f"{t}: base snapshot {feed_base[t]} unreadable")
        else:
            mirror = {
                r["url"]: r["text"] for r in _rows(base_read.select("url", "text"))
            }
            for r in (
                _rows(feed.select("url", "_change_type", "text"))
                if feed is not None
                else []
            ):
                if r["_change_type"] == "delete":
                    mirror.pop(r["url"], None)
                else:
                    mirror[r["url"]] = r["text"]
            if mirror != pages:
                only_m = set(mirror) - set(pages)
                only_l = set(pages) - set(mirror)
                failures.append(
                    f"{t}: feed mirror diverges (+{len(only_m)}/-{len(only_l)} keys, "
                    f"e.g. {sorted(only_m | only_l)[:2]})"
                )

        # maintenance bounds hold on EVERY maintained table, not just pages
        for name, lk in (("pages", pipe.pages), ("chunks", pipe.chunks)):
            mf = lk.max_files_per_bucket()
            if mf > 6:
                failures.append(f"{t}/{name}: delta stack {mf} exceeds compact_min_files")
            # expiry fires on compaction passes, so up to expire_keep(4) +
            # one phase of commits may be live — far below the ~32 total
            # commits an unexpired run would keep
            if len(lk.snapshot_ids()) > 12:
                failures.append(f"{t}/{name}: {len(lk.snapshot_ids())} snapshots kept")
        mf = pipe.pages.max_files_per_bucket()
        print(
            f"[soak] {t}: pages={len(pages)} chunks={sum(len(v) for v in got_chunks.values())} "
            f"max_files/bucket={mf} "
            f"snapshots={len(pipe.pages.snapshot_ids())} "
            f"truncate={pipe.pages.current_snapshot().get('truncate') is not None}",
            flush=True,
        )

    if failures:
        print("[soak] FAILED:\n  " + "\n  ".join(failures))
        sys.exit(1)
    print(f"[soak] PASS — {args.events} events, all tables byte-exact vs oracle, "
          f"mirrors consistent, maintenance bounds held across crash-restart, "
          f"phases {phase1_sec:.0f}s/{phase2_sec:.0f}s within budget {budget:.0f}s")
    shutil.rmtree(wd, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
