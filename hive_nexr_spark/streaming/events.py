"""Event-stream operators: tumbling-window aggregation and sessionization.

Batch and streaming variants compute the same result; the batch form is the
oracle-checked query, the streaming form runs the identical aggregation
through `readStream` → memory sink (exercised here and in tests).

Scale: windowed aggregation shuffles on (window, event_type) — bounded
cardinality; sessionization shuffles on user_id. Watermarks bound state for
late data on a real stream.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.stable import dsum


def _move_slice_file(src_df: DataFrame, tmp: str, b, dest: str) -> None:
    """Move the one parquet part-file of staged-slice partition `_b=b`
    to `dest`. A slice with ZERO rows produces no `_b=` directory at all
    (r13 latent crash: `next()` over a missing/empty dir raised
    StopIteration) — fall back to writing an empty parquet file with
    `src_df`'s schema, which is what the old per-slice
    `filter(...).coalesce(1).write` always produced. A slice staged as
    more than one part file raises: moving only one would silently drop
    the others' rows."""
    import glob
    import shutil

    pdir = os.path.join(tmp, f"_b={b}")
    parts = (sorted(glob.glob(os.path.join(pdir, "*.parquet")))
             if os.path.isdir(pdir) else [])
    if len(parts) > 1:
        raise RuntimeError(f"staged slice {pdir} has {len(parts)} part "
                           "files; expected one")
    if parts:
        shutil.move(parts[0], dest)
        return
    edir = os.path.join(tmp, f"_empty_{b}")
    (src_df.filter(F.lit(False)).coalesce(1)
     .write.mode("overwrite").parquet(edir))
    part = next(f for f in sorted(os.listdir(edir))
                if f.endswith(".parquet"))
    shutil.move(os.path.join(edir, part), dest)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming file source over the events table.

    The file source needs a *directory* (its basePath); `pathGlobFilter`
    narrows it to the events file. The schema is taken from a batch read of
    the same file (ts arrives as long nanos under
    `spark.sql.legacy.parquet.nanosAsLong`) and converted to a microsecond
    timestamp — same as the batch path in `io._fix_nanos_ts`.
    """
    from ..io import _fix_nanos_ts, read_table_stream

    return _fix_nanos_ts(read_table_stream(spark, sf_dir, "events"))


def window_counts_batch(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window counts per event_type (batch form)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", 6).alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


def window_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same aggregation as `window_counts_batch` through Structured
    Streaming: file source → watermarked tumbling window → memory sink.
    `complete` output mode so every window is emitted even when no later
    data advances the watermark past it."""
    name = f"stream_counts_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", 6).alias("sum_value"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def user_stats_stateful_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the reference has no streaming at all — SURVEY §2.11; this is the
    north-star extension's arbitrary-state path, the analogue of writing a
    custom GenericUDAF over an unbounded stream).

    Keeps (count, total value, max ts) per user in explicit GroupState and
    emits the final state per key. State is partitioned by user_id —
    shuffle-parallel; a watermark bounds retention on a real stream. The
    final result equals the batch group-by, which is the SQL oracle.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType)

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # per-user groups are small, so double accumulation error stays
            # orders of magnitude below the 6dp rounding grain at emit
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 6)]}
        )

    name = f"stream_userstats_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, sf_dir)
    result = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        result.writeStream.outputMode("update").format("memory")
        .queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update-mode memory sink may hold one row per key per micro-batch.
    # The emitted n_events is the *cumulative* state count, so it is
    # strictly increasing across a user's emissions — the final state is
    # the max-n_events row per user. (Row order in the sink is not
    # contractual across micro-batches, so sorting by sink position would
    # be fragile; the state itself carries the ordering.)
    snap = spark.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        snap.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup — the training-pipeline op of dropping
    duplicate records as they arrive (the reference has no streaming;
    batch-side this is DISTINCT, `ql/parse/SemanticAnalyzer.java` group-by
    rewrite). The source is unioned with itself so every event arrives
    twice (planted duplicates); `dropDuplicates` keyed on
    (event_id, ts) holds one state row per key and the watermark evicts
    state older than the horizon — bounded memory on an unbounded stream.
    The aggregate after dedup equals batch count(DISTINCT event_id) per
    type, which is the SQL oracle."""
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, sf_dir)
    doubled = stream.union(read_events_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "1 hour")
        # include the event-time column in the key set so the watermark can
        # evict dedup state (subset without it pins state forever)
        .dropDuplicates(["event_id", "ts"])
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_events"))
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def stream_cdc_upsert(spark: SparkSession, sf_dir: str,
                      change_mod: int = 5) -> DataFrame:
    """STREAMING CDC upsert — the foreachBatch MERGE pattern run for
    real: the change slice of the events stream arrives in micro-batches
    and each batch upserts a keyed state table (latest change wins,
    'error' tombstones delete). The final state merged over the static
    snapshot must equal `cdc_merge_batch`, which is the exact oracle —
    the standard way to validate a streaming upsert against its batch
    twin.

    Each micro-batch runs its OWN latest-per-key election (one
    map-side-combined max(struct) — the same shape the batch op uses)
    and APPENDS the compacted result to a parquet staging dir; the final
    change state is one more election over the staging table (the
    classic append-staging + compaction merge — fully distributed, no
    driver-side data movement). In production foreachBatch would MERGE
    INTO a Delta/Iceberg table; the staging dir stands in for the sink
    while the micro-batch plumbing (per-batch dedup, upsert-vs-delete
    routing) is real."""
    from ..queries.base import ensure_views

    events = ensure_views(spark, sf_dir)["events"]
    is_change = F.col("event_id") % change_mod == change_mod - 1
    stream = read_events_stream(spark, sf_dir).filter(is_change)

    # per-process staging dir, removed at process exit (shared recipe:
    # scratch.process_scratch_dir — unique subdir per call so earlier
    # calls' RETURNED DataFrames stay readable)
    from ..scratch import process_scratch_dir

    staging = process_scratch_dir("cdc")

    def upsert(batch_df: DataFrame, _bid: int) -> None:
        (batch_df.groupBy("user_id")
         .agg(F.max(F.struct(
             F.col("ts"), F.col("event_id"),
             F.col("event_type"), F.col("value"))).alias("c"))
         .select("user_id", "c.ts", "c.event_id", "c.event_type",
                 "c.value")
         .write.mode("append").parquet(staging))

    q = stream.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # an empty change stream never writes the staging path — fall back to
    # an empty frame with the staging schema instead of AnalysisException
    if os.path.isdir(staging):
        staged = spark.read.parquet(staging)
    else:
        staged = events.select("user_id", "ts", "event_id", "event_type",
                               "value").limit(0)
    ch = (staged
          .groupBy("user_id")
          .agg(F.max(F.struct(
              F.col("ts"), F.col("event_id"),
              F.col("event_type"), F.col("value"))).alias("c")))
    base = (events.filter(~is_change).groupBy("user_id").agg(
        F.max(F.struct(F.col("ts"), F.col("event_id"),
                       F.col("event_type"), F.col("value"))).alias("b")))
    merged = base.join(ch, "user_id", "full_outer")
    pick = F.when(F.col("c").isNotNull(), F.col("c")).otherwise(F.col("b"))
    return (
        merged.filter(~(F.col("c").isNotNull()
                        & (F.col("c.event_type") == "error")))
        .select(
            "user_id",
            pick["event_id"].alias("last_event_id"),
            pick["event_type"].alias("last_type"),
            pick["value"].alias("last_value"),
            F.when(F.col("c").isNotNull(), F.lit("change"))
            .otherwise(F.lit("base")).alias("src"),
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization: a session breaks when the gap to the
    previous event of the same user exceeds `gap_minutes`."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    marked = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > gap_s,
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
             ).alias("duration_s"),
        )
    )


def asof_enrich_batch(events: DataFrame, left_type: str = "purchase",
                      right_type: str = "click") -> DataFrame:
    """As-of join: attach to every `left_type` event the LATEST
    `right_type` event by the same user at or before its timestamp — the
    classic trade↔quote operator (an extension family op: the reference
    has no analogue; Hive 0.8 could only express it as an n² theta join
    plus a per-pair max).

    Spark-first shape — the UNION-WINDOW as-of plan: both sides carry a
    side marker (right=0 sorts before left=1 at equal timestamps, so an
    exactly-simultaneous right event is visible), ONE shuffle on user_id,
    one per-user sort by (ts, side, event_id), and
    ``last(..., ignorenulls=True)`` carries the most recent right-side
    payload forward onto each left row. At 100 TB this is the
    minimal-movement plan: no range-join row blowup, no per-key driver
    loop — cost is one keyed exchange + sort regardless of how many
    right events precede each left event. Output: one row per left
    event, with the matched right event_id and the microsecond gap
    (NULL when no right event precedes)."""
    marked = events.filter(
        F.col("event_type").isin(left_type, right_type)).select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") == right_type, 0).otherwise(1)
        .alias("side"))
    return _asof_union_window(marked)


def _asof_union_window(marked: DataFrame) -> DataFrame:
    w = (Window.partitionBy("user_id").orderBy("ts", "side", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    r_payload = F.when(
        F.col("side") == 0,
        F.struct(F.col("event_id").alias("r_id"), F.col("ts").alias("r_ts")))
    enriched = marked.withColumn(
        "last_r", F.last(r_payload, ignorenulls=True).over(w))
    return (
        enriched.filter(F.col("side") == 1)
        .select(
            "event_id", "user_id",
            F.col("last_r.r_id").alias("asof_event_id"),
            (F.unix_micros("ts") - F.unix_micros("last_r.r_ts"))
            .alias("gap_us"))
    )


def cdc_merge_batch(events: DataFrame, change_mod: int = 5) -> DataFrame:
    """Change-data-capture MERGE (the lakehouse upsert shape): apply a
    deduplicated change batch onto a keyed snapshot — per key, the
    latest change wins; a tombstone change deletes the key; untouched
    keys keep their snapshot state. This is the batch body of the
    standard `foreachBatch` streaming-upsert pattern (and of any
    incremental table-maintenance job); the reference era expressed it
    as a full INSERT OVERWRITE rewrite.

    Deterministic spec over the events table: the "change batch" is the
    event_id % `change_mod` == change_mod-1 slice, the snapshot is
    everything else; per-user state = the latest event by (ts,
    event_id); a change batch whose latest event_type is 'error' is a
    TOMBSTONE (key deleted). Output: (user_id, last_event_id,
    last_type, last_value, src) with src = 'change' | 'base'.

    100 TB shape: per-side latest-state election is ONE map-side-
    combinable max(struct(ts, event_id, payload...)) each — dedup of
    the change batch costs no window sort — then one user_id-keyed
    FULL OUTER join; both inputs arrive at the join already partitioned
    by user_id from their aggregations, so AQE reuses the exchange. No
    per-key driver loop, no rewrite of untouched partitions beyond the
    join itself."""
    is_change = F.col("event_id") % change_mod == change_mod - 1

    def latest(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max(F.struct(
                F.col("ts"), F.col("event_id"),
                F.col("event_type"), F.col("value"))).alias(tag))

    base = latest(events.filter(~is_change), "b")
    ch = latest(events.filter(is_change), "c")
    merged = base.join(ch, "user_id", "full_outer")
    pick = F.when(F.col("c").isNotNull(), F.col("c")).otherwise(F.col("b"))
    return (
        merged
        # tombstone: the change batch's final word is a delete
        .filter(~(F.col("c").isNotNull()
                  & (F.col("c.event_type") == "error")))
        .select(
            "user_id",
            pick["event_id"].alias("last_event_id"),
            pick["event_type"].alias("last_type"),
            pick["value"].alias("last_value"),
            F.when(F.col("c").isNotNull(), F.lit("change"))
            .otherwise(F.lit("base")).alias("src"),
        )
    )


def sessionize_stream(spark: SparkSession, sf_dir: str,
                      gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization via session_window (native stateful op)."""
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("sw"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("sess_start"), "n_events")
    )
    q = (
        agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join + windowless aggregation: the events *stream*
    enriched against the static customer dimension, aggregated per market
    segment (the reference has no streaming — SURVEY §2.11; this is the
    north-star dimension-enrichment path every event pipeline needs).

    Scale: the static side is re-read per micro-batch by Spark and joined
    broadcast (dimension-sized); state is one row per segment (bounded, 5
    keys), so the operator runs indefinitely on an unbounded stream. The
    final answer equals the batch join+group-by, which is the SQL oracle.
    """
    from .. import io as _io

    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    cust = (
        _io.load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
    )
    stream = read_events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(cust), stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def click_purchase_interval_join_stream(
        spark: SparkSession, sf_dir: str,
        window_minutes: int = 30) -> DataFrame:
    """STREAM-STREAM inner interval join: for every click, the purchases
    by the same user within the following `window_minutes`.

    The one Structured-Streaming join class the engine didn't yet cover:
    both sides are unbounded streams, so Spark keeps join state for each
    side and needs (a) a watermark on both event-time columns and (b) a
    time-range join condition — together they bound the state store
    (click state older than watermark + interval is evicted, purchase
    state older than watermark likewise; Spark derives the eviction
    horizon from the range predicate). Output mode append: a match is
    final once emitted.

    100 TB shape: state and shuffle both key on user_id; per-key state is
    O(events inside the watermark horizon), independent of stream length.
    """
    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id",
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr(
               f"INTERVAL {window_minutes} MINUTES")),
        "inner",
    ).select(
        "click_id", "purchase_id", "user_id",
        (F.unix_timestamp("purchase_ts")
         - F.unix_timestamp("click_ts")).alias("gap_seconds"),
    )
    q = (
        joined.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def range_join_binned(events: DataFrame, gap_minutes: int = 30,
                      bin_minutes: int = 60) -> DataFrame:
    """Point-in-interval RANGE JOIN via time binning — assign every
    'error' event to the activity session (gaps-and-islands over the
    non-error events, same spec as `sessionize_batch`) whose
    [start, end] interval contains it.

    The naive expression is a theta join (`e.ts BETWEEN s.t0 AND s.t1`)
    — on Spark that compiles to a per-user cartesian. The standard
    scale rewrite (the trick range-join-enabled engines apply
    internally): explode each interval into the fixed-width time BINS
    it covers, key points by their bin, EQUI-join on (user_id, bin),
    and apply the exact BETWEEN as a residual filter. Cost is
    |intervals| x bins-per-interval + |points| through a hash join —
    never |points| x |intervals|.

    Output: (event_id, user_id, session_id, offset_s) — inner join:
    errors outside any session are dropped. Sessions of one user are
    disjoint by construction, so each error matches at most once.

    100 TB shape: one user-keyed window pass builds sessions; the join
    is hash-keyed on (user_id, bin) — plan-asserted no cartesian; bin
    width is the knob trading bin-explosion fan-out (long sessions)
    against residual-filter selectivity."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    base = events.filter(F.col("event_type") != "error")
    marked = base.select(
        "user_id", "event_id", "ts",
        F.when(
            (F.unix_timestamp("ts")
             - F.unix_timestamp(F.lag("ts").over(w))) > gap_s, 1)
        .otherwise(0).alias("new_sess"),
    )
    sess = marked.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    intervals = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    bw = bin_minutes * 60
    bins = intervals.select(
        "user_id", "session_id", "t0", "t1",
        F.explode(F.sequence(
            F.floor(F.unix_timestamp("t0") / bw),
            F.floor(F.unix_timestamp("t1") / bw))).alias("bin"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("ets"),
        F.floor(F.unix_timestamp("ts") / bw).alias("bin"))
    return (
        errors.join(bins, ["user_id", "bin"])
        .filter((F.col("ets") >= F.col("t0")) & (F.col("ets") <= F.col("t1")))
        .select(
            "event_id", "user_id", "session_id",
            (F.unix_timestamp("ets") - F.unix_timestamp("t0"))
            .alias("offset_s"),
        )
    )


def hypertable_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style CONTINUOUS-AGGREGATE rollup (the TimescaleDB /
    materialized-rollup pattern — public): maintain an HOURLY physical
    rollup of the event hypertable, then serve coarser (daily) queries
    FROM the rollup instead of raw events. The correctness contract is
    two-tier re-aggregation: counts sum, and per-hour sums are kept in
    EXACT DECIMAL in the rollup so the daily re-sum equals a direct
    daily aggregate bit-for-bit (re-aggregating rounded doubles would
    drift in the last ulp — the rollup stores the associative
    representation, the query edge casts to double once).

    Output: (day, event_type, n, sum_value) — identical to aggregating
    the raw table directly, which is the oracle.

    100 TB shape: the hourly rollup is (hours x types) rows — thousands
    of times smaller than the event stream; the daily query scans ONLY
    the rollup (partition-prunable by day at scale). In production the
    hourly tier refreshes incrementally per arriving hour (the
    `window_counts_stream` machinery); this op pins the re-aggregation
    semantics both tiers must satisfy."""
    from ..queries.base import ensure_views

    events = ensure_views(spark, sf_dir)["events"]
    # per-process rollup dir, removed at exit (shared recipe; the old
    # fixed sf-keyed path raced overwrite-vs-read between concurrent
    # processes and leaked across runs — ADVICE r9)
    from ..scratch import process_scratch_dir

    out = process_scratch_dir("rollup")
    hourly = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             # exact decimal partials — NOT cast to double until the edge
             F.sum(F.col("value").cast("decimal(30,6)")).alias("sum_dec"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n",
                "sum_dec")
    )
    hourly.write.mode("overwrite").parquet(out)
    rollup = spark.read.parquet(out)
    return (
        # day as a STRING, not DATE: duckdb materializes DATE to pandas
        # datetime64 while Spark collects datetime.date — asymmetric
        # driver-canon rendering (caught by tools/oracle_dtype_lint.py)
        rollup.groupBy(
            F.date_format(F.date_trunc("day", F.col("wstart")),
                          "yyyy-MM-dd").alias("day"),
            "event_type")
        .agg(F.sum("n").alias("n"),
             F.sum("sum_dec").cast("double").alias("sum_value"))
    )


def mv_incremental_batch(events: DataFrame,
                         delta_mod: int = 10) -> DataFrame:
    """Incremental materialized-view maintenance: merge a delta batch
    into a daily rollup MV by ALGEBRAIC partial-aggregate merge, never
    re-aggregating the base corpus. The reference era rebuilt rollups
    with a full INSERT OVERWRITE (the same posture its hourly-report
    queries assume); a 100 TB deployment instead keeps (count, decimal
    sum, min, max) — all associative merge states — in the MV and folds
    in each new batch with an MV-sized groupBy.

    Deterministic spec over the events table: the "delta" is the
    event_id % `delta_mod` >= delta_mod-2 slice (~20%), the MV is built
    from the rest. Both sides aggregate to (day, event_type) partials;
    the merge is a second groupBy over the UNION of the two partial
    tables — input size is O(days x types), not O(events). The result
    is bit-equal to a full recompute (the oracle), which is exactly the
    property that makes the MV safe to maintain incrementally.

    Output: (day, event_type, n_events, sum_value, min_value,
    max_value, avg_value); day is a STRING (driver-canon dtype
    symmetry, per the hypertable rollup note).
    """
    day = F.date_format(F.date_trunc("day", F.col("ts")),
                        "yyyy-MM-dd").alias("day")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(day, "event_type").agg(
            F.count("*").alias("n"),
            # exact decimal accumulation — associative, so partials
            # merge without order sensitivity (functions/stable.py)
            F.sum(F.col("value").cast("decimal(30,6)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    is_delta = F.col("event_id") % delta_mod >= delta_mod - 2
    mv = partials(events.filter(~is_delta))
    delta = partials(events.filter(is_delta))
    merged = (
        mv.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n_events"),
             F.sum("s").alias("s"),
             F.min("mn").alias("min_value"),
             F.max("mx").alias("max_value"))
    )
    return merged.select(
        "day", "event_type", "n_events",
        F.col("s").cast("double").alias("sum_value"),
        "min_value", "max_value",
        F.round(F.col("s").cast("double") / F.col("n_events"), 6)
        .alias("avg_value"),
    )


def funnel_stages(events: DataFrame) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per user, the
    first 'view', the first 'click' strictly AFTER that view, and the
    first 'purchase' strictly after that click — the product-analytics
    staple the reference era wrote as nested self-joins in HiveQL.

    Output: one row per user who viewed —
    (user_id, reached ∈ {1,2,3}, view_epoch, click_epoch, purchase_epoch)
    with the epochs in seconds (later stages NULL when never reached).

    100 TB shape: each stage is ONE map-side-combinable min() aggregation
    over its own event-type slice (the type filter pushes to the scan),
    and all three stages key on user_id — AQE reuses the exchange across
    the stage joins, so the funnel costs one user-keyed shuffle plus
    per-stage filtered scans, never an events×events self-join.
    """
    def first_after(etype: str, prev: DataFrame, prev_col: str,
                    out: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_col))
            .groupBy("user_id").agg(F.min("ts").alias(out))
        )

    views = (events.filter(F.col("event_type") == "view")
             .groupBy("user_id").agg(F.min("ts").alias("t1")))
    clicks = first_after("click", views, "t1", "t2")
    purchases = first_after("purchase", clicks, "t2", "t3")
    return (
        views.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .select(
            "user_id",
            (F.lit(1)
             + F.when(F.col("t2").isNotNull(), 1).otherwise(0)
             + F.when(F.col("t3").isNotNull(), 1).otherwise(0))
            .cast("int").alias("reached"),
            F.col("t1").cast("long").alias("view_epoch"),
            F.col("t2").cast("long").alias("click_epoch"),
            F.col("t3").cast("long").alias("purchase_epoch"),
        )
    )


def retention_cohorts(events: DataFrame, max_offset: int = 7) -> DataFrame:
    """Cohort retention analysis: users cohorted by FIRST signup day;
    for each cohort and each day offset 0..`max_offset`, the count of
    cohort members active (any event) that day and the retention rate —
    the other product-analytics staple next to `funnel_stages`.

    Output: (cohort_day, day_offset, n_active, n_cohort, retention)
    with cohort_day a STRING (driver-canon dtype symmetry) and
    retention = round(n_active / n_cohort, 6).

    100 TB shape: the cohort election is one map-side-combinable
    min() per user; activity joins cohorts on user_id (the one
    corpus-wide shuffle — both sides key on user_id, AQE reuses the
    signup aggregation's exchange); the (cohort, offset) grid is tiny,
    so the distinct-user count shuffles (cohort_day, offset, user_id)
    triples and the cohort-size table broadcasts back onto it.
    """
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    )
    sizes = signups.groupBy("cohort_day").agg(
        F.count("*").alias("n_cohort"))
    activity = events.select("user_id", day.alias("d")).distinct()
    grid = (
        activity.join(signups, "user_id")
        .select(
            "user_id", "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"))
        .filter((F.col("day_offset") >= 0)
                & (F.col("day_offset") <= max_offset))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return (
        grid.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day", "day_offset", "n_active", "n_cohort",
            F.round(F.col("n_active") / F.col("n_cohort"), 6)
            .alias("retention"),
        )
    )


def scd2_history(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 history: turn the per-user
    purchase event stream into validity-interval rows — the lakehouse
    dimension-history build that pairs with `cdc_merge_batch` (which
    keeps only latest state). Each purchase version of a user's value
    gets [valid_from, valid_to) epochs, valid_to NULL on the current
    row.

    Deterministic spec: versions are the user's 'purchase' events
    ordered by (ts, event_id); valid_from = the event's epoch,
    valid_to = the NEXT version's epoch (lead), is_current on the last.

    100 TB shape: ONE user-keyed window over the type-filtered slice
    (the filter pushes to the scan); lead() needs exactly the sort the
    window already pays — no self-join, no second shuffle.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "value", "ts")
    nxt = F.lead("ts").over(w)
    return versions.select(
        "user_id",
        F.col("event_id").alias("version_id"),
        "value",
        F.col("ts").cast("long").alias("valid_from"),
        nxt.cast("long").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def stream_mv_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized-view maintenance: every micro-batch of the
    events stream folds its own PARTIAL aggregates (count, exact decimal
    sum, min, max — all associative) into an append-staging MV; the
    final view is one merge groupBy over the staged partials. This is
    `mv_incremental_batch`'s algebra run under real micro-batch
    plumbing, and the oracle is the same FULL recompute — arrival
    batching must not change a bit.

    100 TB shape: each batch aggregates DOWN to O(days x types) partial
    rows before anything is written (map-side combine inside the batch);
    the staging table grows by batches x grid, not by events; the final
    merge input is staged-partials-sized. In production foreachBatch
    would MERGE INTO the MV table keyed on (day, event_type); the
    append-staging + compaction read stands in for the sink while the
    per-batch partial-agg plumbing is real."""
    from ..scratch import process_scratch_dir

    day = F.date_format(F.date_trunc("day", F.col("ts")),
                        "yyyy-MM-dd").alias("day")
    staging = process_scratch_dir("mv")

    def fold(batch_df: DataFrame, _bid: int) -> None:
        (batch_df.groupBy(day, "event_type")
         .agg(F.count("*").alias("n"),
              F.sum(F.col("value").cast("decimal(30,6)")).alias("s"),
              F.min("value").alias("mn"),
              F.max("value").alias("mx"))
         .write.mode("append").parquet(staging))

    q = read_events_stream(spark, sf_dir).writeStream.foreachBatch(
        fold).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    staged = spark.read.parquet(staging)
    merged = (
        staged.groupBy("day", "event_type")
        .agg(F.sum("n").alias("n_events"),
             F.sum("s").alias("s"),
             F.min("mn").alias("min_value"),
             F.max("mx").alias("max_value"))
    )
    return merged.select(
        "day", "event_type", "n_events",
        F.col("s").cast("double").alias("sum_value"),
        "min_value", "max_value",
        F.round(F.col("s").cast("double") / F.col("n_events"), 6)
        .alias("avg_value"),
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order event-type transition mining: per user, consecutive
    event pairs by (ts, event_id) order; globally, the count and
    conditional probability P(next | current) of each transition — the
    Markov-chain summary behind next-action prediction and funnel
    discovery.

    Output: (cur_type, next_type, n, prob) with
    prob = round(n / Σ_next n, 6).

    100 TB shape: ONE user-keyed window (lead over the per-user sort
    the sessionizer family already pays), then a map-side-combined
    groupBy on the 5x5 type-pair grid; the per-current totals ride in
    as a broadcast join of a 5-row aggregate.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("cur_type"), "next_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("cur_type").agg(F.sum("n").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "cur_type")
        .select("cur_type", "next_type", "n",
                F.round(F.col("n") / F.col("tot").cast("double"), 6)
                .alias("prob"))
    )


def user_paths_topk(events: DataFrame, depth: int = 8,
                    k: int = 10) -> DataFrame:
    """Top event-type paths: each user's first `depth` events (by ts,
    event_id) concatenated into a path string, then the global top-`k`
    paths by frequency — the sequence-mining summary behind "what do
    users actually do first" analyses.

    Output: (path, n, rank), ties broken by path for determinism.

    100 TB shape: a per-user rank window TRUNCATES to `depth` events
    BEFORE any collection, so the per-user state is bounded by
    construction (never collect_list over an unbounded event history);
    the path table is then a map-side-combined groupBy and the top-k a
    TakeOrderedAndProject.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= depth)
    )
    paths = (
        ranked.groupBy("user_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("rn", "event_type"))).alias("seq"))
        .select(F.array_join(
            F.transform(F.col("seq"), lambda s: s["event_type"]),
            ">").alias("path"))
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.col("n").desc(), "path").limit(k)
    wr = Window.orderBy(F.col("n").desc(), F.col("path"))
    return top.withColumn("rank", F.row_number().over(wr).cast("int"))


def asof_enrich_tolerance(events: DataFrame, left_type: str = "purchase",
                          right_type: str = "click",
                          tolerance_s: int = 600) -> DataFrame:
    """As-of join WITH A TOLERANCE (pandas merge_asof(tolerance=...)
    parity — the other half of the time-series as-of API): a left event
    matches the latest preceding right event ONLY if the gap is within
    `tolerance_s`; staler matches are dropped to NULL, and the op
    reports which rows lost their match to the tolerance (a real
    distinction for attribution pipelines: "no click ever" vs "the last
    click was too old to credit").

    Same UNION-WINDOW physical plan as `asof_enrich_batch` (one keyed
    exchange + per-user sort, no range-join blowup at any scale) — the
    tolerance is a pure post-window projection, costing nothing."""
    base = asof_enrich_batch(events, left_type, right_type)
    within = F.col("gap_us") <= tolerance_s * 1_000_000
    return base.select(
        "event_id", "user_id",
        F.when(within, F.col("asof_event_id")).alias("asof_event_id"),
        F.when(within, F.col("gap_us")).alias("gap_us"),
        (F.col("asof_event_id").isNotNull()
         & ~F.coalesce(within, F.lit(False)))
        .alias("dropped_by_tolerance"),
    )


def _asof_static_index(events: DataFrame,
                       right_type: str = "click") -> DataFrame:
    """Per-user SORTED array of static right-side events — the broadcast
    /keyed as-of index a stream probes: one row per user carrying
    [(ts_us, event_id), ...] ascending."""
    return (
        events.filter(F.col("event_type") == right_type)
        .select("user_id",
                F.struct(F.unix_micros("ts").alias("ts_us"),
                         F.col("event_id").alias("r_id")).alias("e"))
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("idx"))
    )


def _asof_probe(lefts: DataFrame, index: DataFrame) -> DataFrame:
    """Shared batch/stream as-of probe: per left row, the latest index
    entry at or before its timestamp — a stream-static equi-join on
    user_id plus a per-row array filter + element_at(-1). Stateless:
    no streaming aggregation, no watermark state."""
    ts_us = F.unix_micros("ts")
    eligible = F.filter(F.col("idx"), lambda e: e.ts_us <= ts_us)
    # try_element_at: NULL on the empty array (a purchase before any
    # click) regardless of spark.sql.ansi.enabled — plain element_at(-1)
    # would throw INVALID_ARRAY_INDEX under ANSI mode (the Spark 4
    # default), silently coupling this op to the session's non-ANSI pin
    last = F.try_element_at(eligible, F.lit(-1))
    return (
        lefts.join(index, "user_id", "left")
        .select(
            "event_id", "user_id",
            last.getField("r_id").alias("asof_event_id"),
            (ts_us - last.getField("ts_us")).alias("gap_us"),
        )
    )


def stream_asof_enrich(spark: SparkSession, sf_dir: str,
                       left_type: str = "purchase",
                       right_type: str = "click") -> DataFrame:
    """STREAMING as-of join against a STATIC right-side index (the
    trade↔quote operator under arrival semantics — the streaming twin of
    `asof_enrich_batch`, restricted to a static right side the way
    `events_stream_neardup` matches against a static corpus index):
    arriving `left_type` events are enriched with the latest indexed
    `right_type` event at or before their timestamp.

    Scale design: the union-window batch plan needs total per-user
    order, which a stream cannot replay; instead the static side
    pre-aggregates to ONE sorted array per user (bounded by a user's
    right-side history) and each arriving row pays one keyed equi-join
    probe + an O(log n)-ish array scan — per-batch work ∝ batch,
    ZERO streaming state. A fully stream-stream as-of needs watermarked
    interval state (the `events_stream_interval_join` machinery) and
    deliberately stays a separate op."""
    import uuid

    from ..datapipe._cache import tracked_persist
    from ..queries.base import ensure_views

    events = ensure_views(spark, sf_dir)["events"]
    index = tracked_persist(_asof_static_index(events, right_type))
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == left_type)
    probed = _asof_probe(stream, index)
    name = f"stream_asof_{uuid.uuid4().hex[:8]}"
    q = (probed.writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def stream_late_data_drop(spark: SparkSession, sf_dir: str,
                          delay: str = "1 hour",
                          late_days: int = 3) -> DataFrame:
    """WATERMARK LATE-DATA semantics on a genuinely MULTI-BATCH stream —
    the one streaming behavior a single-trigger run can never exercise:
    the RECENT events (ts >= max_ts - `late_days` days) arrive first and
    advance the watermark to max_ts - `delay`; a later micro-batch
    delivers the OLD events — now LATE, their windows' ends below the
    watermark — and the windowed aggregation DROPS every one of them
    (observed engine-side as numRowsDroppedByWatermark, pytest-pinned).
    Append mode then emits exactly the closed windows (window end <=
    watermark), counted from the on-time rows only.

    Mechanics: THREE parquet files in a staging dir with ordered mtimes,
    `maxFilesPerTrigger=1` making each its own micro-batch (the file
    source processes oldest-first): two on-time slices, then the late
    slice. The on-time data is split across TWO batches because Spark's
    late-record filter applies the watermark with a one-batch
    propagation lag (the watermark advanced by batch N is enforced
    against input from batch N+2 on — measured on 4.1; with only two
    batches the late rows land exactly inside the lag window and nothing
    drops). The split point is max(ts) - `late_days` days — one bounded
    1-row driver aggregate, same documented class as the skew hot-key
    collect. The boundary window (the hour containing the cutoff) is the
    demonstration: it is emitted with its on-time rows only, while its
    late rows — which a batch recompute WOULD count — are gone
    (pytest pins the delta; the oracle counts on-time rows only).

    Output: (wstart, event_type, n) for every emitted window."""
    import datetime
    import shutil

    from ..io import load_table
    from ..scratch import process_scratch_dir

    events = load_table(spark, sf_dir, "events")
    mx = events.agg(F.max("ts")).collect()[0][0]
    cutoff = mx - datetime.timedelta(days=late_days)
    staging = process_scratch_dir(f"latedrop_{uuid.uuid4().hex[:8]}")
    os.makedirs(staging, exist_ok=True)

    import time as _time

    # Stage all three slice files in ONE events scan (guide §2.4 — r13
    # optimization: the first cut scanned events once per slice through
    # `filter(...).coalesce(1)`). `repartition(3, "_b")` pins each slice
    # to one task so `partitionBy("_b")` emits exactly one file per
    # slice (the partition column is dropped from file contents); files
    # are renamed onto the same mtime ladder as before.
    now = _time.time()
    slice_no = (F.when(F.col("ts") < F.lit(cutoff), 3)
                .when(F.col("event_id") % 7 == 0, 2).otherwise(1))
    tmp = os.path.join(staging, "_slices")
    (events.withColumn("_b", slice_no)
     .repartition(3, "_b")
     .write.partitionBy("_b").parquet(tmp))
    for b, name_ in ((1, "b1_ontime"), (2, "b2_ontime"), (3, "b3_late")):
        dest = os.path.join(staging, f"{name_}.parquet")
        _move_slice_file(events, tmp, b, dest)
        mtime = now - 60 * (3 - b)
        os.utime(dest, (mtime, mtime))
    shutil.rmtree(tmp)

    schema = events.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(staging))
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )
    name = f"late_drop_{uuid.uuid4().hex[:8]}"
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName(name).start())
    try:
        q.processAllAvailable()
        # LOUD lag-semantics guard (r13, advisor ask): the whole
        # fixture layout depends on the measured one-batch watermark
        # propagation lag ("enforced from batch N+2 on" — Spark 4.1).
        # If a Spark upgrade enforces at N+1, batch 2's on-time rows
        # (below batch 1's watermark) get dropped and every downstream
        # count silently shifts; if enforcement lags further, nothing
        # drops and the demonstration is vacuous. Pin both edges from
        # the query's own progress: every ON-TIME batch drops 0, the
        # LATE batch drops > 0 — any deviation raises here instead of
        # hash-diverging at the oracle.
        fed = [p for p in q.recentProgress if p.numInputRows > 0]
        drops = [sum(op.numRowsDroppedByWatermark
                     for op in p.stateOperators) for p in fed]
        if len(drops) != 3 or any(d > 0 for d in drops[:-1]) \
                or drops[-1] <= 0:
            raise RuntimeError(
                "watermark propagation lag changed: per-batch "
                f"numRowsDroppedByWatermark = {drops} (expected "
                "[0, 0, >0] over 3 fed micro-batches) — the "
                "stream_late_data_drop fixture layout assumes Spark's "
                "one-batch lag; re-derive the split")
    finally:
        q.stop()
    return spark.table(name)


def stream_checkpoint_restart(spark: SparkSession, sf_dir: str,
                              change_mod: int = 5, n_batches: int = 4,
                              kill_bid: int = 1) -> DataFrame:
    """CHECKPOINT-RESTART / exactly-once demonstration (r13 — the one
    streaming production claim previously untested): the foreachBatch
    CDC upsert runs with a REAL `checkpointLocation`, is CRASHED
    mid-stream by an injected failure AFTER a batch's sink append but
    BEFORE its checkpoint commit (the exact torn window restart
    recovery exists for), and is RESTARTED from the same checkpoint —
    Spark re-delivers the in-flight batch from the offsets log, the
    sink receives that batch's rows a SECOND time, and the
    latest-per-key election landing absorbs the duplicate: the final
    state equals the uninterrupted batch twin (`cdc_merge_batch` — the
    oracle), which is exactly-once END-TO-END via replay + idempotent
    landing (the standard Structured Streaming contract: the engine
    guarantees at-least-once to foreachBatch; the sink's idempotence
    upgrades it).

    Mechanics: the change slice (event_id % change_mod ==
    change_mod-1) is staged as `n_batches` mtime-ordered parquet files
    sliced by floor(event_id / change_mod) % n_batches, and
    `maxFilesPerTrigger=1` makes each file its own micro-batch in file
    order — so batch membership is DETERMINISTIC and the oracle can
    reproduce it in SQL. Run 1 commits batches [0, kill_bid) and
    crashes inside `kill_bid` with later files still pending; the
    operator asserts loudly (not just in pytest) that the checkpoint's
    commits log shows exactly batches < kill_bid committed and that
    run 2 re-lands `kill_bid` before processing the pending batches.

    Output: the `cdc_merge_batch` state (user_id, last_event_id,
    last_type, last_value, src) PLUS `n_land_attempts` — the number of
    compacted rows landed in the staging sink for that key across both
    runs: 0 for base-only keys, (#batches holding the key's changes)
    + 1 if the key appears in the re-delivered batch. The +1 IS the
    re-delivery, visible at the data level; the election output
    matching the uninterrupted oracle IS the absorption.

    100 TB shape: restart recovery is the checkpoint's offsets/commits
    log — O(#batches) metadata, zero data rescan beyond the in-flight
    batch; the landing is the same append-staging + compaction merge
    as `stream_cdc_upsert` (map-side-combined per-batch election, no
    driver-side rows). The accounting reads only the staging table's
    per-key row counts — one extra count on an aggregation already
    partitioned by user_id."""
    import shutil
    import time as _time

    from ..queries.base import ensure_views
    from ..scratch import process_scratch_dir

    events = ensure_views(spark, sf_dir)["events"]
    is_change = F.col("event_id") % change_mod == change_mod - 1
    slice_no = F.floor(F.col("event_id") / change_mod) % n_batches

    root = process_scratch_dir(f"ckptrestart_{uuid.uuid4().hex[:8]}")
    src, staging, ckpt = (os.path.join(root, d)
                          for d in ("src", "staging", "ckpt"))
    os.makedirs(src)

    # Stage all n_batches slice files in ONE events scan (guide §2.4 —
    # r13 optimization: the first cut ran `changes.filter(slice==b)
    # .coalesce(1)` per slice, i.e. n_batches full scans of the change
    # slice). `repartition(n_batches, "_b")` puts each slice in exactly
    # one task, so `partitionBy("_b")` emits exactly one file per slice
    # (partitionBy drops `_b` from the file contents, matching the old
    # per-slice writes); the files are then renamed into the stream
    # source dir with the same mtime ladder as before.
    now = _time.time()
    changes = events.filter(is_change)
    tmp = os.path.join(root, "_slices")
    (changes.withColumn("_b", slice_no)
     .repartition(n_batches, "_b")
     .write.partitionBy("_b").parquet(tmp))
    for b in range(n_batches):
        dest = os.path.join(src, f"b{b}.parquet")
        _move_slice_file(changes, tmp, b, dest)
        mtime = now - 60 * (n_batches - b)
        os.utime(dest, (mtime, mtime))
    shutil.rmtree(tmp)

    state = {"crashed": False, "bids": []}

    def upsert(batch_df: DataFrame, bid: int) -> None:
        (batch_df.groupBy("user_id")
         .agg(F.max(F.struct(
             F.col("ts"), F.col("event_id"),
             F.col("event_type"), F.col("value"))).alias("c"))
         .select("user_id", "c.ts", "c.event_id", "c.event_type",
                 "c.value")
         .write.mode("append").parquet(staging))
        state["bids"].append(bid)
        if bid == kill_bid and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError(
                "injected crash: sink append landed, checkpoint commit "
                f"for batch {bid} withheld — restart must re-deliver")

    # the staged files carry exactly the change-slice columns (`_b` was a
    # partition column, dropped from file contents) — no footer-read job
    schema = changes.schema

    def start():
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(src)
                .writeStream.option("checkpointLocation", ckpt)
                .foreachBatch(upsert).start())

    q1 = start()
    try:
        q1.processAllAvailable()
    except Exception:
        pass  # the injected crash surfaces here or via q1.exception()
    finally:
        q1.stop()
    committed_run1 = sorted(
        int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
        if f.isdigit())
    if (not state["crashed"] or q1.exception() is None
            or committed_run1 != list(range(kill_bid))
            or state["bids"] != list(range(kill_bid + 1))):
        raise RuntimeError(
            "crash-injection accounting off: crashed="
            f"{state['crashed']} committed={committed_run1} "
            f"bids={state['bids']} exc={q1.exception()}")

    q2 = start()  # RESTART from the same checkpoint
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    expect = list(range(kill_bid + 1)) + list(range(kill_bid, n_batches))
    committed_run2 = sorted(
        int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
        if f.isdigit())
    if (state["bids"] != expect
            or committed_run2 != list(range(n_batches))):
        raise RuntimeError(
            "restart accounting off: expected re-delivery of batch "
            f"{kill_bid} then the pending batches ({expect}); got "
            f"bids={state['bids']} committed={committed_run2}")

    staged = spark.read.parquet(staging)
    attempts = staged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_land_attempts"))
    ch = (staged.groupBy("user_id")
          .agg(F.max(F.struct(
              F.col("ts"), F.col("event_id"),
              F.col("event_type"), F.col("value"))).alias("c")))
    base = (events.filter(~is_change).groupBy("user_id").agg(
        F.max(F.struct(F.col("ts"), F.col("event_id"),
                       F.col("event_type"), F.col("value"))).alias("b")))
    merged = base.join(ch, "user_id", "full_outer")
    pick = F.when(F.col("c").isNotNull(), F.col("c")).otherwise(F.col("b"))
    return (
        merged.filter(~(F.col("c").isNotNull()
                        & (F.col("c.event_type") == "error")))
        .join(attempts, "user_id", "left")
        .select(
            "user_id",
            pick["event_id"].alias("last_event_id"),
            pick["event_type"].alias("last_type"),
            pick["value"].alias("last_value"),
            F.when(F.col("c").isNotNull(), F.lit("change"))
            .otherwise(F.lit("base")).alias("src"),
            F.coalesce(F.col("n_land_attempts"), F.lit(0).cast("long"))
            .alias("n_land_attempts"),
        )
    )
