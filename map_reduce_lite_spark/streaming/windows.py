"""Structured Streaming event-time windows.

The reference has no streaming at all (SURVEY.md §2.3) — this is the
driver-mandated extension surface. Batch twins of these aggregations
live in relational/queries.py (events_hourly), so correctness is
checked by equivalence: run the stream with ``availableNow`` over the
same parquet and compare to the batch plan (tests/test_streaming.py).

Scale notes: watermark bounds state; tumbling windows shuffle once on
(window, key); at 100 TB the state store should be RocksDB
(`spark.sql.streaming.stateStore.providerClass`) and the source a real
log (Kafka), not parquet — the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (stand-in for Kafka/log source)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{sf_dir}/events.parquet")
    )


def hourly_counts_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time window with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_value_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding window (1 hour, sliding every 15 min) mean value per type."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count("value")).alias(
                "avg_value"
            ),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "avg_value")
    )


def run_stream_to_memory(
    df: DataFrame, name: str, timeout_sec: int = 120, output_mode: str = "complete"
) -> None:
    """Drain a stream with availableNow into an in-memory table ``name``
    (test/driver harness; complete mode suits the windowed aggregates).

    Raises TimeoutError if the drain does not finish inside
    ``timeout_sec`` — returning the partial memory table would silently
    compare a truncated result against the oracle.

    The drain runs with the state-partition count bounded by
    ``_drain_shuffle_bound`` — see its docstring for the measured
    rationale."""
    spark = df.sparkSession
    _bound_checkpoint_threads(spark)
    with _drain_shuffle_bound(spark):
        try:
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(timeout_sec)
            q.stop()
        finally:
            _unload_state_stores(spark)
    if not finished:
        raise TimeoutError(
            f"stream drain {name!r} did not finish within {timeout_sec}s; "
            "partial results discarded"
        )


def _drain_shuffle_bound(spark, parts: int = 8):
    """Context manager bounding ``spark.sql.shuffle.partitions`` for the
    duration of one ephemeral availableNow drain.

    A stateful streaming operator instantiates one state-store provider
    per shuffle partition, and for a throwaway drain the per-provider
    checkpoint-file round-trips (delta file create/commit/maintenance
    per partition per micro-batch) dominate wall time, not the data:
    measured on the stream-stream left join at sf0.1, 32 partitions ≈
    5–8 s vs 8 partitions ≈ 2.4 s, identical results. The conf is read
    by the micro-batch thread when it plans the first batch (start() is
    async), so the restore happens only after the drain finishes — the
    whole drain must run inside the ``with`` block. A production
    always-on stream sizes state partitions to the CLUSTER (long-lived
    state, partition count bounds parallelism — the opposite trade);
    this bound is strictly the local-harness drain path.

    SINGLE-THREADED ASSUMPTION: the conf rewrite is session-global, so
    any batch query planned CONCURRENTLY in the same session during a
    drain would silently plan with ``parts`` shuffle partitions. The
    harness runs queries sequentially; if concurrency is ever added,
    switch to a per-query option (df.repartition / writeStream option)
    instead of the session conf."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(int(prev), parts))
        )
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _cm()


def _bound_checkpoint_threads(spark) -> None:
    """Disable per-file checkpoint checksums for the ephemeral drains.

    Spark 4's ChecksumCheckpointFileManager creates a dedicated thread
    pool PER state-store provider (one provider per state partition —
    200 in a vanilla session), so a single multi-operator drain peaks
    at THOUSANDS of live `ChecksumCheckpoint` threads (measured 2675 in
    one in-flight drain) before any cleanup can run, exhausting kernel
    thread/map budgets for the whole process tree. The checksums detect
    long-lived checkpoint corruption — worthless for the throwaway
    temp-dir checkpoints of an availableNow drain, so turn them off for
    the drain session. A production always-on stream with a durable
    checkpoint should leave them enabled and size
    `spark.sql.shuffle.partitions` to the real cluster instead.
    """
    try:
        spark.conf.set(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false"
        )
    except Exception:
        pass  # conf unknown on older Spark — nothing to bound


def _unload_state_stores(spark) -> None:
    """Unload all loaded state-store providers after a finished drain.

    Each stateful drain leaves its HDFSBackedStateStoreProviders loaded
    in the executor JVM — ~4 maintenance/commit threads per state
    partition, which at the vanilla 200 shuffle partitions is ~850
    threads PER QUERY. A session that drains the whole streaming family
    accumulates thousands of threads and exhausts kernel/cgroup
    resources: measured in-session as DuckDB `bad_alloc` on KB-sized
    blocks and Python `can't start new thread` with >100 GB free RAM
    (~7000 JVM threads). `StateStore.stop()` unloads providers and
    stops their threads (measured 2611 -> 205); the registry re-creates
    everything lazily on the next stateful query, so this is safe
    between sequential drains — the availableNow checkpoint semantics
    are unaffected (state is re-read from the checkpoint, not from the
    unloaded cache). Local-JVM only: on a real cluster each executor
    bounds its own providers (partitions spread across the fleet) and
    long-RUNNING queries must NOT unload — this belongs strictly after
    a finished availableNow drain.
    """
    try:
        jvm = spark._jvm
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # cleanup must never fail the query result


# --------------------------------------------------------------------------
# Driver-gate entry: the streaming hourly rollup, oracle-checked
# --------------------------------------------------------------------------

_STREAM_RUN = 0


def streaming_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup computed BY THE STREAMING ENGINE (readStream →
    watermark → tumbling window → availableNow drain into a memory sink),
    returned as the drained batch result.

    Shares an oracle with the batch twin (events_hourly): Spark
    guarantees availableNow over a static source produces exactly the
    batch aggregation, so the same DuckDB SQL checks the streaming path.
    The window start equals date_trunc('hour', ts) for 1-hour tumbling.

    The nanos-timestamp source is re-encoded once per sf_dir to µs
    parquet (readStream's schema path can't apply the nanos legacy conf);
    at scale the source is a log (Kafka) and this step disappears.
    """
    global _STREAM_RUN
    staged = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(staged)
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    _STREAM_RUN += 1
    name = f"mrl_stream_hourly_{_STREAM_RUN}"
    run_stream_to_memory(windowed, name)
    return spark.table(name)


TRENDING_K = 3


def streaming_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k: the streamed hourly rollup ranked per hour at
    the SERVING layer — top TRENDING_K event types per hour by count
    (ties → type ASC).

    Rank is deliberately OUTSIDE the stream: Structured Streaming
    cannot run a rank window mid-stream (non-time-based window over an
    aggregated stream is unsupported), so production ranks in the
    serving read / foreachBatch over the continuously-maintained
    state — exactly what this does over the drained aggregate. Scale:
    the streaming side is the same single stateful hourly aggregation;
    the rank runs on #hours × #types rows, partitioned by hour —
    millions of tiny partitions, no skew, no global sort."""
    from pyspark.sql import Window

    hourly = streaming_events_hourly(spark, sf_dir)
    w = Window.partitionBy("hour_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TRENDING_K)
        .select(
            "hour_start",
            "event_type",
            "n_events",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _trending_sql() -> str:
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour_start, event_type,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1, 2
)
SELECT hour_start, event_type, n_events,
       CAST(row_number() OVER (PARTITION BY hour_start
                               ORDER BY n_events DESC, event_type ASC)
            AS INT) AS rnk
FROM hourly
QUALIFY rnk <= {TRENDING_K}
"""


def multires_rollup_stream(stream: DataFrame) -> DataFrame:
    """Explode each event into its hour/day/month (resolution, bucket)
    memberships, then ONE stateful aggregation maintains all three
    resolutions. Shared by the complete-mode oracle drain
    (streaming_rollup_multires) and the update-mode foreachBatch upsert
    serving pattern (tests/test_streaming.py)."""
    membership = F.explode(
        F.array(
            F.struct(
                F.lit("hour").alias("resolution"),
                F.date_trunc("hour", "ts").alias("bucket_start"),
            ),
            F.struct(
                F.lit("day").alias("resolution"),
                F.date_trunc("day", "ts").alias("bucket_start"),
            ),
            F.struct(
                F.lit("month").alias("resolution"),
                F.date_trunc("month", "ts").alias("bucket_start"),
            ),
        )
    )
    return (
        stream.select(membership.alias("m"), "event_type", "value")
        .select("m.resolution", "m.bucket_start", "event_type", "value")
        .groupBy("resolution", "bucket_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


def streaming_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hour/day/month rollup maintained BY THE STREAMING
    ENGINE — the continuous-aggregate form of events_rollup_multires.

    Streaming aggregation can't use GROUPING SETS, so each event is
    exploded into its 3 (resolution, bucket_start) memberships BEFORE a
    single groupBy — the same Expand-then-aggregate physical shape the
    batch GROUPING SETS plan produces, and the same trick the sliding
    oracle uses. One stateful aggregation maintains all three
    resolutions; complete-mode drain for the deterministic oracle
    replay. Production shape: per-resolution append-mode queries (or
    foreachBatch upserts into the serving table) so watermarks can
    evict closed buckets; state here is O(distinct buckets × types),
    which for hour-grain on years of data is what the coarser grains
    amortize.

    Oracle: shares EVENTS_MULTIRES_SQL with the batch twin —
    availableNow over a static source equals the batch aggregation."""
    global _STREAM_RUN
    staged = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(staged)
    )
    rolled = multires_rollup_stream(stream)
    _STREAM_RUN += 1
    name = f"mrl_stream_multires_{_STREAM_RUN}"
    run_stream_to_memory(rolled, name)
    return spark.table(name)


def streaming_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h window / 15 min slide) mean value per type,
    computed by the streaming engine and drained with availableNow.

    Oracle: each event belongs to exactly 4 sliding windows — the ones
    starting at floor_15m(ts) - k·15 min for k = 0..3 — so the SQL twin
    explodes each row into its 4 windows and aggregates; this is also
    exactly how Spark's physical plan expands sliding windows (Expand →
    one shuffle), so plan shape and oracle agree."""
    global _STREAM_RUN
    staged = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(staged)
    )
    _STREAM_RUN += 1
    name = f"mrl_stream_sliding_{_STREAM_RUN}"
    run_stream_to_memory(sliding_value_stream(stream), name)
    return spark.table(name)


EVENTS_SLIDING_SQL = """
WITH exploded AS (
  -- make_timestamp(µs) is timezone-free; to_timestamp would round-trip
  -- through TIMESTAMPTZ and silently depend on the host session TimeZone
  SELECT make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - k.k * 900)
                        * 1000000) AS win_start,
         event_type, value
  FROM events, LATERAL unnest(generate_series(0, 3)) AS k(k)
)
SELECT win_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_value
FROM exploded
GROUP BY 1, 2
"""


def _stage_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the nanos-timestamp events as µs parquet, once per source
    CONTENT: the cache key includes a fingerprint of the source file
    sizes+mtimes, so regenerated data under the same path re-stages, and
    the write goes to a unique temp dir atomically renamed into place so
    concurrent runs can't interleave partial output. The stage lives
    under ``tempfile.gettempdir()``, so ``TMPDIR`` moves it."""
    import os
    import re
    import shutil
    import tempfile
    import uuid

    from map_reduce_lite_spark.relational.tables import load_table

    src = os.path.join(sf_dir, "events.parquet")
    stats = []
    if os.path.isdir(src):
        for root, _, files in os.walk(src):
            stats += [os.stat(os.path.join(root, f)) for f in sorted(files)]
    else:
        stats = [os.stat(src)]
    fp = f"{sum(s.st_size for s in stats)}_{max(s.st_mtime_ns for s in stats)}"
    tag = re.sub(r"[^A-Za-z0-9]+", "_", sf_dir).strip("_")
    staged = os.path.join(tempfile.gettempdir(), f"mrl_stream_events_{tag}_{fp}")
    if not os.path.exists(os.path.join(staged, "_SUCCESS")):
        # Sweep tmp dirs leaked by crashed prior runs. Age-gated so a
        # LIVE concurrent writer's tmp dir is never pulled out from
        # under it mid-write.
        import glob
        import time

        for stale in glob.glob(f"{staged}.tmp.*"):
            try:
                if time.time() - os.path.getmtime(stale) > 3600:
                    shutil.rmtree(stale, ignore_errors=True)
            except OSError:
                pass
        tmp = f"{staged}.tmp.{uuid.uuid4().hex[:8]}"
        load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, staged)
        except OSError:
            # Two distinct causes land here: a concurrent run won the
            # rename race (fine — use theirs), or the rename itself
            # failed (EXDEV, permissions, ...). Only discard our fresh
            # data once the winner is PROVEN complete; otherwise
            # swallowing the error would return a nonexistent path.
            if os.path.exists(os.path.join(staged, "_SUCCESS")):
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
    return staged


def streaming_purchase_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded stream-STREAM join run by the streaming engine
    (watermarked both sides, append-mode availableNow drain); the oracle
    is the identical time-range join in plain SQL."""
    global _STREAM_RUN
    from map_reduce_lite_spark.streaming.joins import purchase_view_join

    staged = _stage_events(spark, sf_dir)
    p = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged).filter(
        F.col("event_type") == "purchase"
    )
    v = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged).filter(
        F.col("event_type") == "view"
    )
    joined = purchase_view_join(p, v)
    _STREAM_RUN += 1
    name = f"mrl_stream_ssj_{_STREAM_RUN}"
    run_stream_to_memory(joined, name, output_mode="append")
    return spark.table(name)


PURCHASE_VIEW_JOIN_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
       v.event_id AS view_id, v.ts AS v_ts
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


def streaming_purchase_view_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the watermark-driven semantics
    an inner join can't show: a purchase with NO view in the preceding
    hour emits a null-padded row only once the watermark proves no
    matching view can still arrive (state eviction), in a no-data
    micro-batch after the last file.

    Closed-world bound: outer rows whose join window is still open at
    end-of-stream are (correctly) withheld by the engine, so to compare
    against a batch oracle the purchase side is restricted to rows whose
    window provably closes: p_ts <= max(ts) - (watermark + lag + 1s).
    The cutoff is one tiny batch agg over the staged input — a harness
    bound for the static-input comparison; a production stream has no
    end and needs no cutoff. Watermarks are applied BEFORE the type
    filter so both sides' watermarks track the full event stream and
    advance identically."""
    global _STREAM_RUN
    from datetime import timedelta

    staged = _stage_events(spark, sf_dir)
    maxts = spark.read.parquet(staged).agg(F.max("ts")).collect()[0][0]
    if maxts is None:
        # empty staged input (a fresh/empty slice): there is no purchase
        # row for the cutoff to filter, so any constant keeps the plan
        # shape identical — epoch, for a well-typed literal
        from datetime import datetime

        cutoff = datetime(1970, 1, 1)
    else:
        cutoff = maxts - timedelta(hours=3, seconds=1)  # watermark 2h + lag 1h + 1s
    p = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(staged)
        .withWatermark("ts", "2 hours")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") <= F.lit(cutoff)))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    v = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(staged)
        .withWatermark("ts", "2 hours")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts"))
    )
    joined = p.join(v, cond, "leftOuter").select(
        F.col("p_user").alias("user_id"), "purchase_id", "p_ts", "view_id", "v_ts"
    )
    _STREAM_RUN += 1
    name = f"mrl_stream_ssjl_{_STREAM_RUN}"
    run_stream_to_memory(joined, name, output_mode="append")
    return spark.table(name)


PURCHASE_VIEW_LEFT_SQL = """
SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
       v.event_id AS view_id, v.ts AS v_ts
FROM (SELECT * FROM events
      WHERE event_type = 'purchase'
        AND ts <= (SELECT max(ts) FROM events)
                  - INTERVAL 3 HOUR - INTERVAL 1 SECOND) p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
"""


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator under the value oracle:
    ``applyInPandasWithState`` sessionization (streaming/sessions.py)
    drained with availableNow in a single batch.

    Single-batch draining makes the emission deterministic: every
    finished session per user is emitted closed=TRUE and the still-open
    trailing session closed=FALSE, which is exactly the batch
    gaps-and-islands sessionization (relational SESSIONIZE_SQL) plus a
    "was it the last session" flag — so even this non-SQL operator gets
    a full DuckDB hash oracle. Tie order within a timestamp doesn't
    affect session membership (ties have gap 0), so the ms-granularity
    result is engine-order independent."""
    global _STREAM_RUN
    from map_reduce_lite_spark.streaming.sessions import sessionize_stream

    staged = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged)
    _STREAM_RUN += 1
    name = f"mrl_stream_sess_{_STREAM_RUN}"
    run_stream_to_memory(
        sessionize_stream(stream, timeout="none"), name, output_mode="append"
    )
    return spark.table(name).select(
        "user_id", "start_ms", "end_ms", "n_events", "closed"
    )


STREAMING_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM flagged
), sess AS (
  SELECT user_id, session_id,
         MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms,
         COUNT(*) AS n_events
  FROM numbered GROUP BY 1, 2
)
SELECT user_id, start_ms, end_ms, n_events,
       session_id <> MAX(session_id) OVER (PARTITION BY user_id) AS closed
FROM sess
"""


def streaming_serving_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION serving shape for the continuous aggregate, end to
    end: update-mode multi-resolution rollup → foreachBatch appends
    version-stamped rows to a parquet serving table → latest-version
    view. The append + latest-version-wins read is the plain-parquet
    stand-in for a Delta/Iceberg MERGE target.

    Update mode emits each key's CUMULATIVE state whenever a batch
    touches it, so after an availableNow drain the highest-version row
    per key is that key's final aggregate — which is why the batch
    GROUPING SETS rollup (EVENTS_MULTIRES_SQL) is an exact oracle for
    the served view. Scale: the stream side is the same single stateful
    aggregation as streaming_rollup_multires; the serving read prunes
    to one row per key with a window rank, which a real lakehouse table
    replaces with MERGE (no read-side rank at all)."""
    global _STREAM_RUN
    import tempfile

    from pyspark.sql import Window

    staged = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(staged)
    )
    serving_dir = tempfile.mkdtemp(prefix="mrl_serving_upsert_")

    def upsert(bdf: DataFrame, batch_id: int) -> None:
        bdf.withColumn("_v", F.lit(batch_id)).write.mode("append").parquet(serving_dir)

    _STREAM_RUN += 1
    _bound_checkpoint_threads(spark)
    with _drain_shuffle_bound(spark):
        try:
            q = (
                multires_rollup_stream(stream)
                .writeStream.outputMode("update")
                .foreachBatch(upsert)
                .trigger(availableNow=True)
                .start()
            )
            finished = q.awaitTermination(180)
            q.stop()
        finally:
            _unload_state_stores(spark)
    if not finished:
        raise TimeoutError("serving upsert drain did not finish within 180s")
    w = Window.partitionBy("resolution", "bucket_start", "event_type").orderBy(
        F.desc("_v")
    )
    return (
        spark.read.parquet(serving_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("resolution", "bucket_start", "event_type", "n_events", "sum_value")
    )


SESSION_GAP = "30 minutes"
SESSION_GAP_MS = 30 * 60 * 1000


def streaming_sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window — the JVM-tier
    sibling of the applyInPandasWithState operator (streaming_sessionize).

    When the per-session logic is a plain aggregate, the built-in
    session window keeps the whole operator inside the streaming
    engine's state store and codegen — no Python workers, no Arrow
    transfer — which is the first-choice form at 100 TB; the Pandas
    stateful op remains for logic a built-in can't express. Spark's
    session end is last_event + gap, so end_ms subtracts the gap back
    to the last-event timestamp, making the output exactly the batch
    gaps-and-islands session set (same oracle family as the custom op,
    minus its open/closed flag — complete-mode drain finalizes all)."""
    global _STREAM_RUN
    staged = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(staged)
    )
    sessions = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("w.start")).alias("start_ms"),
            (F.unix_millis(F.col("w.end")) - F.lit(SESSION_GAP_MS)).alias(
                "end_ms"
            ),
            "n_events",
        )
    )
    _STREAM_RUN += 1
    name = f"mrl_stream_sess_native_{_STREAM_RUN}"
    run_stream_to_memory(sessions, name)
    return spark.table(name)


SESSIONIZE_NATIVE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(epoch_ms(ts)) AS start_ms, MAX(epoch_ms(ts)) AS end_ms,
       COUNT(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (``dropDuplicatesWithinWatermark``) on
    (user_id, event_type): first arrival per key wins, later duplicates
    within the watermark horizon are dropped, old key state is evicted —
    the bounded-state form every ingest stream needs (plain
    dropDuplicates grows state forever).

    Only the KEY columns are returned: which physical row wins a
    within-batch race is not deterministic, but the surviving key set
    is — and it is exactly SELECT DISTINCT, giving the stateful operator
    a hash oracle."""
    global _STREAM_RUN
    from map_reduce_lite_spark.streaming.dedup import dedup_stream

    staged = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged)
    kept = dedup_stream(stream, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    _STREAM_RUN += 1
    name = f"mrl_stream_dedup_{_STREAM_RUN}"
    run_stream_to_memory(kept, name, output_mode="append")
    return spark.table(name)


STREAMING_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_enrich_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the purchase stream left-joined per
    micro-batch against the (broadcast) customer dimension — zero
    stream-side state; events.user_id ⊆ customer.c_custkey in the test
    data so the oracle is a plain join."""
    global _STREAM_RUN
    from map_reduce_lite_spark.relational.tables import load_table
    from map_reduce_lite_spark.streaming.dedup import enrich_stream

    staged = _stage_events(spark, sf_dir)
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(staged).filter(
        F.col("event_type") == "purchase"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    enriched = enrich_stream(stream, dim, ["user_id"]).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )
    _STREAM_RUN += 1
    name = f"mrl_stream_enrich_{_STREAM_RUN}"
    run_stream_to_memory(enriched, name, output_mode="append")
    return spark.table(name)


STREAMING_ENRICH_SQL = """
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
"""


HLL_RSD = 0.05
HLL_TOL = 3 * HLL_RSD
# HLL register quantization makes the error ±O(1) ABSOLUTE at tiny
# cardinalities (measured: 5→4, 17→14 per-hour users at sf0.01), where
# any relative bound is vacuous — the standard acceptance is
# max(relative, small absolute slack)
HLL_ABS_TOL = 4


def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly distinct-user cardinality maintained by the STREAMING
    engine via HyperLogLog++ state (approx_count_distinct).

    Exact COUNT(DISTINCT) is not executable as streaming state — the
    state would be the full per-window key set — which is precisely why
    the mergeable-KB HLL sketch is THE streaming cardinality operator.
    The drained estimates are then audited against the exact per-window
    counts from a batch pass over the same staged source, and the
    output carries the exactly-replayable columns (exact_users,
    n_events) plus within_tolerance — the oracle asserts TRUE, so a
    sketch regression past max(3·rsd relative, ±HLL_ABS_TOL absolute —
    register quantization dominates tiny windows) hash-fails the
    driver compare (same contract as sketch_distinct_tokens)."""
    global _STREAM_RUN
    staged = _stage_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "4")
        .parquet(staged)
    )
    windowed = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.approx_count_distinct("user_id", rsd=HLL_RSD).alias("approx_users"))
        .select(F.col("win.start").alias("hour_start"), "approx_users")
    )
    _STREAM_RUN += 1
    name = f"mrl_stream_hll_{_STREAM_RUN}"
    run_stream_to_memory(windowed, name)
    streamed = spark.table(name)
    exact = (
        spark.read.parquet(staged)
        .groupBy(F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users"))
    within = (err / F.col("exact_users") <= F.lit(HLL_TOL)) | (
        err <= F.lit(HLL_ABS_TOL)
    )
    return streamed.join(exact, "hour_start").select(
        "hour_start", "exact_users", "n_events", within.alias("within_tolerance")
    )


STREAMING_DISTINCT_USERS_SQL = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000)
         AS hour_start,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(*) AS n_events,
       TRUE AS within_tolerance
FROM events
GROUP BY 1
"""


def _multires_oracle() -> str:
    from map_reduce_lite_spark.relational.queries3 import EVENTS_MULTIRES_SQL

    return EVENTS_MULTIRES_SQL


def _streaming_queries():
    from map_reduce_lite_spark.registry import Query
    from map_reduce_lite_spark.relational.queries import EVENTS_HOURLY_SQL
    queries = {}
    # transformWithStateInPandas (Spark 4 arbitrary-stateful API) needs
    # google.protobuf for its state-server protocol; this sandbox ships
    # no protobuf and has no pip/network. The operator is implemented
    # and registered whenever the dependency exists; tests/test_tws.py
    # pins the exact blocker otherwise (same posture as S3A in
    # tests/test_s3a.py).
    try:
        import google.protobuf  # noqa: F401

        from map_reduce_lite_spark.streaming.tws import (
            RUNNING_TOTAL_SQL,
            streaming_running_total,
        )

        queries["streaming_running_total_tws"] = Query(
            "streaming_running_total_tws",
            streaming_running_total,
            RUNNING_TOTAL_SQL,
            "transformWithStateInPandas: ListState + event-time timers == window cumsum oracle",
        )
    except ImportError:
        pass

    return {
        **queries,
        "streaming_events_hourly": Query(
            "streaming_events_hourly",
            streaming_events_hourly,
            EVENTS_HOURLY_SQL,
            "Structured Streaming tumbling window == batch oracle",
        ),
        "streaming_events_sliding": Query(
            "streaming_events_sliding",
            streaming_events_sliding,
            EVENTS_SLIDING_SQL,
            "Structured Streaming sliding window == exploded-window oracle",
        ),
        "streaming_rollup_multires": Query(
            "streaming_rollup_multires",
            streaming_rollup_multires,
            _multires_oracle(),
            "streaming hour/day/month continuous aggregate == batch GROUPING SETS oracle",
        ),
        "streaming_serving_upsert": Query(
            "streaming_serving_upsert",
            streaming_serving_upsert,
            _multires_oracle(),
            "foreachBatch upsert serving table == batch GROUPING SETS oracle",
        ),
        "streaming_purchase_view_join": Query(
            "streaming_purchase_view_join",
            streaming_purchase_view_join,
            PURCHASE_VIEW_JOIN_SQL,
            "stream-stream time-range join == batch SQL oracle",
        ),
        "streaming_purchase_view_left": Query(
            "streaming_purchase_view_left",
            streaming_purchase_view_left,
            PURCHASE_VIEW_LEFT_SQL,
            "LEFT OUTER stream-stream join: watermark-evicted null emission == batch oracle",
        ),
        "streaming_sessionize": Query(
            "streaming_sessionize",
            streaming_sessionize,
            STREAMING_SESSIONIZE_SQL,
            "applyInPandasWithState sessions == gaps-and-islands oracle",
        ),
        "streaming_sessionize_native": Query(
            "streaming_sessionize_native",
            streaming_sessionize_native,
            SESSIONIZE_NATIVE_SQL,
            "native JVM session_window == gaps-and-islands oracle",
        ),
        "streaming_dedup_events": Query(
            "streaming_dedup_events",
            streaming_dedup_events,
            STREAMING_DEDUP_SQL,
            "dropDuplicatesWithinWatermark key set == DISTINCT oracle",
        ),
        "streaming_enrich_purchases": Query(
            "streaming_enrich_purchases",
            streaming_enrich_purchases,
            STREAMING_ENRICH_SQL,
            "stream-static broadcast enrichment == batch join oracle",
        ),
        "streaming_distinct_users": Query(
            "streaming_distinct_users",
            streaming_distinct_users,
            STREAMING_DISTINCT_USERS_SQL,
            "streaming HLL++ cardinality state, exact-audited (tolerance-flagged)",
        ),
        "streaming_topk_trending": Query(
            "streaming_topk_trending",
            streaming_topk_trending,
            _trending_sql(),
            "streamed hourly rollup ranked top-k per hour at the serving layer",
        ),
    }


STREAMING_QUERIES = _streaming_queries()
