"""Structured-Streaming parity: the streaming pipelines must produce the
same result as their batch twins (SURVEY §2.11 north-star extension)."""

from __future__ import annotations

import pytest


def _key(rows):
    return sorted(tuple(str(c) for c in r) for r in rows)


def test_stream_window_counts_equal_batch(spark, sf_dir, dfs):
    from hive_nexr_spark.streaming import events as ev

    batch = ev.window_counts_batch(dfs["events"]).collect()
    stream = ev.window_counts_stream(spark, sf_dir).collect()
    assert _key(batch) == _key(stream)


def test_sessionize_batch_sane(dfs):
    from hive_nexr_spark.streaming import events as ev

    sess = ev.sessionize_batch(dfs["events"]).collect()
    assert sess
    assert all(r.n_events >= 1 and r.duration_s >= 0 for r in sess)


def test_stream_sessionize_runs(spark, sf_dir):
    from hive_nexr_spark.streaming import events as ev

    rows = ev.sessionize_stream(spark, sf_dir).collect()
    assert rows
    assert all(r.n_events >= 1 for r in rows)


def test_stream_dedup_removes_planted_duplicates(spark, sf_dir, dfs):
    """Self-unioned stream arrives with every event twice; after
    dropDuplicates the per-type counts equal the batch distinct counts."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.streaming import events as ev

    batch = (
        dfs["events"].groupBy("event_type")
        .agg(F.count_distinct("event_id").alias("n_events")).collect()
    )
    stream = ev.stream_dedup(spark, sf_dir).collect()
    assert _key(batch) == _key(stream)


def test_stream_interval_join_equals_batch(spark, sf_dir, dfs):
    """Stream-stream interval join result must equal the batch interval
    join (every click-purchase pair within 30 min, same user)."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.streaming import events as ev

    e = dfs["events"]
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.col("ts").alias("cts"))
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"))
    batch = c.join(p, (F.col("user_id") == F.col("pu"))
                   & (F.col("pts") >= F.col("cts"))
                   & (F.col("pts") <= F.col("cts")
                      + F.expr("INTERVAL 30 MINUTES"))).select(
        "click_id", "purchase_id").collect()
    stream = ev.click_purchase_interval_join_stream(spark, sf_dir).select(
        "click_id", "purchase_id").collect()
    assert _key(batch) == _key(stream)
    assert stream  # non-degenerate: the fixture has in-window pairs


def test_stream_cdc_upsert_equals_batch_merge(spark, sf_dir, dfs):
    """The streaming foreachBatch upsert's final state must equal the
    batch CDC merge (same latest-change-wins + tombstone spec)."""
    from hive_nexr_spark.streaming import events as ev

    batch = ev.cdc_merge_batch(dfs["events"]).collect()
    stream = ev.stream_cdc_upsert(spark, sf_dir).collect()
    assert _key(batch) == _key(stream)
    assert any(r["src"] == "change" for r in stream)  # non-degenerate


def test_range_join_binned_multi_bin_session(spark):
    """The bin-explosion machinery must cover a session spanning SEVERAL
    hour bins (the sf-testdata sessions are ~minutes, so the committed
    oracle parity barely exercises it): a planted 3-hour session must
    capture errors in its first, middle, and last bin, and reject errors
    before/after the interval."""
    from hive_nexr_spark.streaming.events import range_join_binned

    base = 1_700_000_000  # fixed epoch, far from any bin boundary
    rows = []
    # session events (clicks) for user 1 every 20 min across ~3 hours —
    # gaps < 30 min so it stays ONE session spanning 4 hour-bins
    for i in range(10):
        rows.append((1, 100 + i, base + i * 1200, "click"))
    # errors: inside first / middle / last covered bin, plus outside
    rows += [
        (1, 900, base + 60, "error"),            # inside, first bin
        (1, 901, base + 5000, "error"),          # inside, middle
        (1, 902, base + 9 * 1200 - 30, "error"),  # inside, near end
        (1, 903, base - 1000, "error"),          # before session
        (1, 904, base + 9 * 1200 + 5000, "error"),  # after session
    ]
    events = spark.createDataFrame(
        [(u, e, t, ty) for u, e, t, ty in rows],
        "user_id long, event_id long, epoch long, event_type string",
    ).selectExpr("user_id", "event_id",
                 "CAST(epoch AS TIMESTAMP) AS ts", "event_type")
    got = {r.event_id: (r.session_id, r.offset_s)
           for r in range_join_binned(events).collect()}
    assert set(got) == {900, 901, 902}
    assert got[900] == (0, 60)
    assert got[901] == (0, 5000)
    assert got[902] == (0, 9 * 1200 - 30)


def test_stream_neardup_equals_batch_twin(spark, sf_dir):
    """The streaming MinHash band path must equal the batch twin built
    from the same matcher functions, every emitted pair must be a true
    >=0.5-Jaccard pair, and every planted exact copy must be matched at
    jaccard 1.0 against its corpus original."""
    from hive_nexr_spark.streaming import neardup as nd

    stream_rows = {(r.doc_a, r.doc_b, r.jaccard)
                   for r in nd.stream_neardup(spark, sf_dir).collect()}
    twin_rows = {(r.doc_a, r.doc_b, r.jaccard)
                 for r in nd.neardup_batch_twin(spark, sf_dir).collect()}
    assert stream_rows == twin_rows
    assert stream_rows, "empty pair set would vacuously pass"
    assert all(j >= 0.5 for _, _, j in stream_rows)
    exact_expected = {(r.doc_id, r.doc_id + 100000) for r in
                      spark.read.parquet(f"{sf_dir}/documents.parquet")
                      .filter("doc_id % 100000 < 200 AND doc_id % 2 = 0")
                      .select("doc_id").collect()}
    got_exact = {(a, b) for a, b, j in stream_rows if j == 1.0}
    assert exact_expected <= got_exact


def test_stream_decontaminate_equals_batch_twin(spark, sf_dir):
    """The streaming decontamination gate must equal the batch twin
    row-for-row (one output row per arriving document), every benchmark
    document must flag itself (shares its own shingles), and some
    non-benchmark documents must pass the gate clean."""
    from hive_nexr_spark.streaming import decontaminate as dc

    stream_rows = {(r.doc_id, r.contaminated, r.n_shingles)
                   for r in dc.stream_decontaminate(spark, sf_dir)
                   .collect()}
    twin_rows = {(r.doc_id, r.contaminated, r.n_shingles)
                 for r in dc.decontaminate_batch_twin(spark, sf_dir)
                 .collect()}
    assert stream_rows == twin_rows
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(stream_rows) == n_docs  # exactly one row per document
    flags = {d: c for d, c, _ in stream_rows}
    assert all(flags[d] for d in flags if d % 13 == 0)
    assert any(not c for c in flags.values())


@pytest.mark.slow
def test_stream_ann_ingest_equals_batch_add_batch(spark, sf_dir):
    """Streaming frozen-codebook ingestion must produce exactly the
    batch add-batch lifecycle's query results — arrival path cannot
    matter when encoding is deterministic."""
    from hive_nexr_spark.queries.datapipe_q import _ivf_pq_add_batch
    from hive_nexr_spark.streaming.ann_ingest import stream_ann_ingest

    streamed = {tuple(r) for r in stream_ann_ingest(spark, sf_dir).collect()}
    batch = {tuple(r) for r in _ivf_pq_add_batch(spark, sf_dir).collect()}
    assert streamed == batch and streamed


def test_stream_late_drop_excludes_late_windows(spark, sf_dir):
    """Multi-batch watermark semantics (r12): the emitted window counts
    must equal the ON-TIME-only aggregation over the closed windows
    (end <= max_ts - 1h) — and a batch recompute over ALL events must
    count strictly MORE in those same windows (the late rows the
    watermark dropped; zero delta would mean the demonstration is
    vacuous)."""
    import datetime

    from pyspark.sql import functions as F

    from hive_nexr_spark.io import load_table
    from hive_nexr_spark.streaming.events import stream_late_data_drop

    got = {(r.wstart, r.event_type): r.n
           for r in stream_late_data_drop(spark, sf_dir).collect()}
    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts")).collect()[0][0]
    cutoff = mx - datetime.timedelta(days=3)
    wm = mx - datetime.timedelta(hours=1)

    def windowed(df):
        return {(r.wstart, r.event_type): r.n for r in (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"))
            .filter(F.col("w.end") <= F.lit(wm))
            .select(F.col("w.start").alias("wstart"), "event_type", "n")
        ).collect()}

    on_time = windowed(events.filter(F.col("ts") >= cutoff))
    full = windowed(events)
    assert got == on_time and got
    dropped = sum(full[k] - got.get(k, 0) for k in full)
    assert dropped > 0, "no late rows in the fixture — vacuous"


def test_stream_checkpoint_restart_equals_uninterrupted(spark, sf_dir):
    """Exactly-once via checkpoint replay + idempotent landing (r13):
    the crashed-and-restarted foreachBatch upsert's final state must
    equal the UNINTERRUPTED batch merge column-for-column, the keys in
    the killed batch must show the extra landing attempt (re-delivery
    happened at the data level), and every other change key must show
    exactly one landing per batch that held its changes."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.queries.base import ensure_views
    from hive_nexr_spark.streaming.events import (
        cdc_merge_batch, stream_checkpoint_restart)

    out = stream_checkpoint_restart(spark, sf_dir).collect()
    got_state = {(r.user_id, r.last_event_id, r.last_type, r.last_value,
                  r.src) for r in out}
    events = ensure_views(spark, sf_dir)["events"]
    want_state = {tuple(r) for r in cdc_merge_batch(events).collect()}
    assert got_state == want_state and got_state

    # landing accounting: per change key, one landed row per batch
    # holding its changes, +1 iff the key appears in killed batch 1
    slices = {r.user_id: (r.ns, r.in_kill) for r in (
        events.filter(F.col("event_id") % 5 == 4)
        .select("user_id",
                (F.floor(F.col("event_id") / 5) % 4).alias("slice"))
        .groupBy("user_id")
        .agg(F.countDistinct("slice").alias("ns"),
             F.max((F.col("slice") == 1).cast("int")).alias("in_kill"))
    ).collect()}
    redelivered = 0
    for r in out:
        if r.src == "base":
            assert r.n_land_attempts == 0
        else:
            ns, in_kill = slices[r.user_id]
            assert r.n_land_attempts == ns + in_kill, r
            redelivered += in_kill
    assert redelivered > 0, "no key touched the killed batch — vacuous"


def test_stream_dedup_ingest_gate(spark, sf_dir):
    """The streaming dedup ingestion gate must equal the one-shot batch
    twin row-for-row (decisions probe only the frozen index version, so
    micro-batch boundaries cannot matter), reject every planted exact
    copy (jaccard 1.0 with its origin), and admit at least one clean
    arrival — and the admitted docs must actually have entered the
    index (admission = an add-batch manifest bump, 3 band rows/doc).
    The gate leaves nothing in the session's cache."""
    from hive_nexr_spark.streaming import neardup as nd

    cached = spark.sparkContext._jsc.getPersistentRDDs
    n_cached = cached().size()
    landed = nd.stream_dedup_ingest(spark, sf_dir)
    assert cached().size() == n_cached
    streamed = {tuple(r) for r in landed.collect()}
    twin = {tuple(r) for r in
            nd.dedup_ingest_batch_twin(spark, sf_dir).collect()}
    # the determinism CONTRACT covers the frozen-index columns
    # (doc_id, n_index_matches, best_jaccard, admitted) — batch-boundary
    # independent by construction; the r12 intra-batch columns describe
    # the micro-batch itself (documented exception)
    assert {t[:4] for t in streamed} == {t[:4] for t in twin} and streamed
    by_id = {r[0]: r for r in streamed}
    exacts = [d for d in by_id if 100000 <= d < 200000]
    assert exacts
    # every exact copy matches its origin at jaccard 1.0 → rejected
    assert all(by_id[d][3] == 0 and by_id[d][2] == 1.0 for d in exacts)
    assert any(r[3] == 1 for r in streamed)  # something admitted
    # planted SAME-BATCH dups: for originals d % 6 == 0 both the exact
    # copy (100000+d) and the 'zzz' near-dup (200000+d) arrive in the
    # batch and near-dup EACH OTHER — both rows must be flagged, with
    # batch_dup_of naming the smaller peer
    sixes = [d for d in by_id
             if 100000 <= d < 200000 and (d - 100000) % 6 == 0
             and (d + 100000) in by_id]
    assert sixes
    # band collision is construction-deterministic but not universal;
    # at least one planted pair must be flagged, and flagging must be
    # SYMMETRIC with batch_dup_of naming the smaller peer
    flagged = [d for d in sixes if by_id[d][4] >= 1]
    assert flagged
    for d in flagged:
        assert by_id[d + 100000][4] >= 1, by_id[d + 100000]
        assert by_id[d + 100000][5] is not None
        assert by_id[d + 100000][5] <= d
    # novel arrivals with no batch peer stay unflagged (NULL dup_of)
    assert any(r[4] == 0 and r[5] is None for r in streamed)


def test_mv_incremental_equals_full_recompute(dfs):
    """Partial-aggregate merge must be bit-equal to aggregating the
    whole events table in one pass — the algebraic property that makes
    the MV safe to maintain from deltas alone."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.streaming.events import mv_incremental_batch

    events = dfs["events"]
    got = {tuple(r) for r in mv_incremental_batch(events).collect()}
    full = (
        events.groupBy(
            F.date_format(F.date_trunc("day", "ts"),
                          "yyyy-MM-dd").alias("day"),
            "event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(30,6)")).alias("s"),
             F.min("value").alias("min_value"),
             F.max("value").alias("max_value"))
        .select("day", "event_type", "n_events",
                F.col("s").cast("double").alias("sum_value"),
                "min_value", "max_value",
                F.round(F.col("s").cast("double") / F.col("n_events"), 6)
                .alias("avg_value"))
    )
    assert got == {tuple(r) for r in full.collect()}
    assert got


def test_funnel_ordering_strictness(dfs, spark):
    """reached=3 requires view < click < purchase in strict ts order;
    a purchase BEFORE the first view's subsequent click must not count.
    Verified against a driver-side recompute on a small user sample."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.streaming.events import funnel_stages

    rows = funnel_stages(dfs["events"]).collect()
    assert rows
    by_user = {r["user_id"]: r for r in rows}
    sample = list(by_user)[:20]
    events = [
        r for r in dfs["events"].select(
            "user_id", "event_type",
            F.col("ts").cast("long").alias("e")).collect()
        if r["user_id"] in set(sample)
    ]
    for uid in sample:
        evs = [(r["event_type"], r["e"]) for r in events
               if r["user_id"] == uid]
        t1 = min((e for t, e in evs if t == "view"), default=None)
        assert t1 is not None
        t2 = min((e for t, e in evs if t == "click" and e > t1),
                 default=None)
        t3 = (min((e for t, e in evs if t == "purchase" and e > t2),
                  default=None) if t2 is not None else None)
        got = by_user[uid]
        assert got["view_epoch"] == t1
        assert got["click_epoch"] == t2
        assert got["purchase_epoch"] == t3
        assert got["reached"] == 1 + (t2 is not None) + (t3 is not None)


def test_retention_cohorts_invariants(dfs):
    """Day-0 retention must be 1.0 for every cohort (a signup is itself
    an event that day), n_active <= n_cohort everywhere, and offsets
    stay in [0, 7]."""
    from hive_nexr_spark.streaming.events import retention_cohorts

    rows = retention_cohorts(dfs["events"]).collect()
    assert rows
    day0 = [r for r in rows if r["day_offset"] == 0]
    assert day0
    for r in day0:
        assert r["n_active"] == r["n_cohort"]
        assert r["retention"] == 1.0
    for r in rows:
        assert 0 <= r["day_offset"] <= 7
        assert r["n_active"] <= r["n_cohort"]


def test_scd2_intervals_tile_per_user(dfs):
    """Per user, SCD2 validity intervals must tile: exactly one current
    row, each valid_to equal to the next version's valid_from, no
    overlaps."""
    from collections import defaultdict

    from hive_nexr_spark.streaming.events import scd2_history

    rows = scd2_history(dfs["events"]).collect()
    assert rows
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    for _, vs in by_user.items():
        vs.sort(key=lambda r: (r["valid_from"], r["version_id"]))
        assert sum(1 for r in vs if r["is_current"]) == 1
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None
        for cur, nxt in zip(vs, vs[1:]):
            assert cur["valid_to"] == nxt["valid_from"]


def test_stream_mv_maintain_equals_batch(dfs, spark, sf_dir):
    """Micro-batched MV maintenance must equal the batch delta-merge
    (and hence the full recompute) — arrival batching cannot change
    an associative-merge MV by a bit."""
    from hive_nexr_spark.streaming.events import (
        mv_incremental_batch, stream_mv_maintain)

    batch = mv_incremental_batch(dfs["events"]).collect()
    stream = stream_mv_maintain(spark, sf_dir).collect()
    assert _key(batch) == _key(stream)
    assert stream


def test_stream_asof_equals_batch_asof(spark, sf_dir):
    """The streaming as-of (static click index) must equal the batch
    union-window as-of row-for-row: the index holds every click, so
    arrival order cannot change any match."""
    from hive_nexr_spark.queries.base import ensure_views
    from hive_nexr_spark.streaming.events import (asof_enrich_batch,
                                                  stream_asof_enrich)

    got = {tuple(r) for r in stream_asof_enrich(spark, sf_dir).collect()}
    want = {tuple(r) for r in asof_enrich_batch(
        ensure_views(spark, sf_dir)["events"]).collect()}
    assert got == want


def test_move_slice_file_empty_slice(dfs, tmp_path):
    """The staged-slice mover must tolerate a slice with ZERO rows
    (no `_b=` dir written at all — the r13 latent StopIteration): it
    falls back to an empty parquet file with the source schema, which
    is what the old per-slice coalesce(1) write produced. A slice staged
    as more than one part file must raise instead of moving one."""
    from pyspark.sql import functions as F

    from hive_nexr_spark.streaming.events import _move_slice_file

    events = dfs["events"]
    tmp = str(tmp_path / "_slices")
    # stage only slice 0; slice 1 is deliberately empty
    (events.limit(5).withColumn("_b", F.lit(0))
     .repartition(1).write.partitionBy("_b").parquet(tmp))
    d0 = str(tmp_path / "b0.parquet")
    d1 = str(tmp_path / "b1.parquet")
    _move_slice_file(events, tmp, 0, d0)
    _move_slice_file(events, tmp, 1, d1)
    spark = events.sparkSession
    assert spark.read.parquet(d0).count() == 5
    empty = spark.read.parquet(d1)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] \
        == [f.name for f in events.schema.fields]
    # a slice staged as two part files must fail loudly, not move one
    (events.limit(4).withColumn("_b", F.lit(2))
     .repartition(2).write.mode("append").partitionBy("_b").parquet(tmp))
    with pytest.raises(RuntimeError, match="2 part files"):
        _move_slice_file(events, tmp, 2, str(tmp_path / "b2.parquet"))
