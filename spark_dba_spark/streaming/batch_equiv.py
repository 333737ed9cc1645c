"""Batch-equivalent forms of the streaming jobs (oracle-checkable).

Structured Streaming's windowed operators have exact batch twins — the same
`window()` / `session_window()` expressions run in a batch query. These
SPECS register the batch forms so the DuckDB oracle can gate their
semantics; :mod:`spark_dba_spark.streaming.jobs` runs the *same* logic as
real `readStream` jobs, and the pytest suite asserts stream output ==
batch output (so the oracle transitively covers the streaming path).

The twin rule: a batch op is ``assemble(grain(source))``. The grain (the
pre-aggregation over the fact rows: ``tumbling_counts``,
``sliding_counts``, ``session_counts``, ``topk_counts``, the
``click_error_pairs`` join) is defined once here, beside the batch op;
the stream twin is ``assemble(sink(grain(stream source)))``, calling the
same function on ``jobs.stream_events``. Where streaming forbids the batch
form, the stream keeps its own code and says why: watermarks need
TIMESTAMP (not NTZ) and the join's watermarks go on each side before the
join. Batch-only steps (the final ordering) stay at the batch call site.
This module never imports ``jobs``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import catalog
from ..functions.numeric import DEC, dsum, sql_dsum
from ..registry import QuerySpec

SESSION_GAP = "30 minutes"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load(spark, sf_dir, "events")


# --------------------------------------------------------------------------
# Tumbling window (1 hour)
# --------------------------------------------------------------------------

def tumbling_counts(events: DataFrame) -> DataFrame:
    """Grain of the 1h tumbling aggregation, shared by ``ev_tumbling_1h``
    and jobs.run_tumbling_stream / run_tumbling_watermarked."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def ev_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT load_par: the windowed partial agg over events is cheap relative
    # to an insurance shuffle of the rows (A/B: +0.27s at sf0.1).
    return tumbling_counts(_events(spark, sf_dir)).orderBy(
        "win_start", "event_type"
    )


ORACLE_TUMBLING = f"""
SELECT date_trunc('hour', ts) AS win_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
       event_type, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2, 3 ORDER BY win_start, event_type
"""


TOPK_PER_WINDOW = 3


def topk_rank_tail(agg: DataFrame) -> DataFrame:
    """Rank tail shared by the batch twin and the streaming
    materialization: top-{TOPK_PER_WINDOW} event types per window by
    (count desc, type asc). Streaming aggregation cannot host a window
    rank (rank needs the finished window), so production materializes the
    streaming pre-agg and runs THIS tail over the materialized view —
    both paths share the code, so twin equality tests the real thing."""
    w = W.partitionBy("win_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_PER_WINDOW)
        .select(
            "win_start",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("rnk").cast("int").alias("rnk"),
        )
        .orderBy("win_start", "rnk")
    )


def topk_counts(events: DataFrame) -> DataFrame:
    """Grain of the windowed top-k: per (hour window, event type) count,
    shared by ``ev_windowed_topk`` and jobs.run_windowed_topk_stream."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )


def ev_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event types per tumbling hour — the streaming-leaderboard
    shape (trending hashtags, top error codes per window). Batch form:
    one windowed count shuffle, then the rank window on the (bounded:
    windows × types) aggregate — the rank never sees the fact stream."""
    return topk_rank_tail(topk_counts(_events(spark, sf_dir)))


ORACLE_WINDOWED_TOPK = f"""
WITH a AS (
  SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
r AS (
  SELECT win_start, event_type, CAST(n AS BIGINT) AS n,
         CAST(ROW_NUMBER() OVER (PARTITION BY win_start
                ORDER BY n DESC, event_type ASC) AS INT) AS rnk
  FROM a)
SELECT win_start, event_type, n, rnk FROM r
WHERE rnk <= {TOPK_PER_WINDOW}
ORDER BY win_start, rnk
"""


# --------------------------------------------------------------------------
# Sliding window (1 hour, sliding 30 minutes → every event in 2 windows)
# --------------------------------------------------------------------------

def sliding_counts(events: DataFrame) -> DataFrame:
    """Grain of the 1h/30m sliding aggregation, shared by
    ``ev_sliding_1h_30m`` and jobs.run_sliding_stream."""
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def ev_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(_events(spark, sf_dir)).orderBy(
        "win_start", "event_type"
    )


ORACLE_SLIDING = f"""
WITH g AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS b, event_type, value FROM events
),
w AS (
  SELECT b AS win_start, event_type, value FROM g
  UNION ALL
  SELECT b - INTERVAL 30 MINUTE, event_type, value FROM g
)
SELECT win_start, event_type, COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM w GROUP BY 1, 2 ORDER BY win_start, event_type
"""


# --------------------------------------------------------------------------
# Session window (30-minute gap) per user
# --------------------------------------------------------------------------

def session_counts(events: DataFrame) -> DataFrame:
    """Grain of the 30-minute sessionization: per (user, session_window)
    count and exact-decimal value sum, shared by ``ev_session_30m`` and
    jobs.run_session_stream."""
    return (
        events.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "sum_value",
        )
    )


def ev_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_counts(_events(spark, sf_dir)).orderBy(
        "user_id", "session_start"
    )


# Gaps-and-islands twin: a session breaks when the gap from the previous
# event is >= 30 min; session_end = last event + gap (Spark's convention).
ORACLE_SESSION = f"""
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS newf
  FROM events
),
i AS (
  SELECT user_id, ts, value,
         SUM(newf) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM i GROUP BY user_id, sid ORDER BY user_id, session_start
"""


# --------------------------------------------------------------------------
# Streaming dedup (keep-first semantics, deterministic)
# --------------------------------------------------------------------------

def ev_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


ORACLE_DEDUP_FIRST = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
WHERE rn = 1 ORDER BY user_id, event_type
"""


# --------------------------------------------------------------------------
# Batch twin of the applyInPandasWithState stateful job (jobs.py
# run_user_totals_stream): final per-user state == plain groupBy totals.
# --------------------------------------------------------------------------

def ev_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .orderBy("user_id")
    )


ORACLE_USER_STATE = f"""
SELECT user_id, COUNT(*) AS n_events, {sql_dsum('value')} AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""


# --------------------------------------------------------------------------
# Time-series resampling: gap-filled hourly grid (empty buckets emitted)
# --------------------------------------------------------------------------

def ev_resample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly counts over the FULL min..max hour range with empty buckets
    zero-filled — the resample/gap-fill operator plain window aggregation
    lacks (absent hours simply don't appear there). The hour grid is a
    bounded dimension (one row per hour of span) built with sequence() and
    left-joined to the aggregated facts — grid side broadcast-sized at any
    data scale."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("win_start")
    )
    counts = ev.groupBy(F.date_trunc("hour", "ts").alias("win_start")).agg(
        F.count("*").alias("n"), dsum("value", "sum_value")
    )
    return (
        grid.join(counts, "win_start", "left")
        .select(
            "win_start",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("win_start")
    )


ORACLE_RESAMPLE = f"""
WITH b AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
),
g AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS win_start FROM b
),
c AS (
  SELECT date_trunc('hour', ts) AS win_start, COUNT(*) AS n,
         {sql_dsum('value')} AS sum_value
  FROM events GROUP BY 1
)
SELECT g.win_start, COALESCE(n, 0) AS n, COALESCE(sum_value, 0.0) AS sum_value
FROM g LEFT JOIN c USING (win_start) ORDER BY win_start
"""


# --------------------------------------------------------------------------
# Hypertable-style hierarchical rollup: hourly → daily → total, each level
# re-aggregating the previous one (the continuous-aggregate pattern)
# --------------------------------------------------------------------------

def ev_hier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-level time rollup where DAILY is computed FROM the hourly
    aggregate and TOTAL from the daily one — the hypertable/continuous-
    aggregate dataflow (coarser levels reuse finer materializations
    instead of rescanning raw events). Sums stay DECIMAL through the
    re-aggregation so every level is exact and order-independent; the
    double cast happens once at the edge."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").alias("bucket")
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    total = daily.groupBy().agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    ).withColumn("bucket", F.lit(None).cast("timestamp_ntz"))
    out_cols = [
        "level",
        "bucket",
        "n",
        F.col("sv").cast("double").alias("sum_value"),
    ]
    return (
        hourly.withColumn("level", F.lit("hour")).select(out_cols)
        .unionByName(daily.withColumn("level", F.lit("day")).select(out_cols))
        .unionByName(total.withColumn("level", F.lit("total")).select(out_cols))
        .orderBy("level", F.col("bucket").asc_nulls_first())
    )


ORACLE_HIER_ROLLUP = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(25,6))) AS sv
  FROM events GROUP BY 1
),
daily AS (
  SELECT date_trunc('day', bucket) AS bucket,
         CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv
  FROM hourly GROUP BY 1
),
total AS (
  SELECT CAST(NULL AS TIMESTAMP) AS bucket,
         CAST(SUM(n) AS BIGINT) AS n, SUM(sv) AS sv
  FROM daily
)
SELECT 'hour' AS level, bucket, n, CAST(sv AS DOUBLE) AS sum_value FROM hourly
UNION ALL
SELECT 'day', bucket, n, CAST(sv AS DOUBLE) FROM daily
UNION ALL
SELECT 'total', bucket, n, CAST(sv AS DOUBLE) FROM total
ORDER BY level, bucket NULLS FIRST
"""


# --------------------------------------------------------------------------
# Batch twin of the stream-stream join (jobs.py run_click_error_join):
# click → error correlation within 30 minutes per user.
# --------------------------------------------------------------------------

JOIN_WINDOW = "30 minutes"


def click_error_sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The (clicks, errors) sides of the click → error join, shared by
    ``ev_click_error_join`` and jobs.run_click_error_join."""
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    return clicks, errors


def click_error_pairs(clicks: DataFrame, errors: DataFrame) -> DataFrame:
    """Clicks joined to errors of the same user within ``JOIN_WINDOW``: the
    pair grain both twins share (the stream puts a watermark on each side
    first, which the interval condition needs to bound join state)."""
    return clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr(
            f"INTERVAL {JOIN_WINDOW}")),
    )


def ev_click_error_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = click_error_pairs(*click_error_sides(_events(spark, sf_dir)))
    return (
        pairs.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("click_id").alias("first_click"),
            F.max("error_id").alias("last_error"),
        )
        .orderBy("user_id")
    )


ORACLE_CLICK_ERROR = """
SELECT c.user_id, COUNT(*) AS n_pairs,
       MIN(c.event_id) AS first_click, MAX(e.event_id) AS last_error
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
GROUP BY c.user_id ORDER BY c.user_id
"""


def ev_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-rollup maintenance: the hourly rollup is
    built from TWO partial aggregations (an 'existing' batch and an
    'arriving' batch, split deterministically on event_id parity) merged
    by re-aggregation — the update path of a hypertable/materialized
    view, where new data merges into stored partials without rescanning
    history. Count merges by SUM; the value sum is carried in exact
    DECIMAL through both levels (decimal addition is associative, so
    partial-then-merge is bit-identical to the direct aggregate on ANY
    split), and the oracle computes the rollup DIRECTLY over all events —
    the equality the driver hashes IS the maintenance-correctness
    theorem."""
    ev = _events(spark, sf_dir)

    def partial(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            F.date_trunc("hour", "ts").alias("win_start"), "event_type"
        ).agg(
            F.count("*").alias("pn"),
            F.sum(F.col("value").cast(DEC)).alias("psum"),
        )

    existing = partial(ev.filter(F.col("event_id") % 2 == 0))
    arriving = partial(ev.filter(F.col("event_id") % 2 == 1))
    return (
        existing.unionByName(arriving)
        .groupBy("win_start", "event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("psum").cast("double").alias("sum_value"),
        )
        .orderBy("win_start", "event_type")
    )


ORACLE_ROLLUP_INCREMENTAL = f"""
SELECT date_trunc('hour', ts) AS win_start, event_type,
       COUNT(*) AS n, {sql_dsum('value')} AS sum_value
FROM events GROUP BY 1, 2 ORDER BY win_start, event_type
"""


def ev_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample with LAST-OBSERVATION-CARRIED-FORWARD:
    empty buckets inherit the most recent hour's average value per event
    type (the time-series fill mode sensors/metrics pipelines need, vs
    ev_resample_1h's zero-fill which is right for counts). Grid = hours ×
    event types, a bounded dimension built with sequence() — broadcast-
    sized at any data scale; the carry is one keyed window
    (last(ignorenulls)) partitioned by event_type, so the sort spreads
    across types instead of funneling one global ordering."""
    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias(
            "win_start"
        )
    ).crossJoin(ev.select("event_type").distinct())
    # Exact integer-cents average with rational half-up at 6dp —
    # NOT round(avg(value), 6): the fixture values are exact 2dp
    # decimals, so the mean is a ratio S/(100n) that can terminate at
    # the 7th decimal digit with a 5 (observed at sf0.1), where Spark's
    # shortest-repr round and DuckDB's multiply-round split one
    # micro-unit apart; a float AVG is also combine-order dependent.
    # k = (2·S·10⁴ + n) div (2n) is the exact half-up on the
    # non-negative domain (TIES.md Class B′); S ≈ cents·rows stays in
    # BIGINT range up to ~10¹⁴ rows per (hour, type) bucket.
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("win_start"), "event_type"
    ).agg(
        (
            # count(value), not count(*): AVG ignores NULLs and the
            # rewrite must keep that contract even though the current
            # fixture has no NULL values
            F.expr(
                "cast((sum(cast(round(value * 100, 0) as bigint)) * 20000"
                " + count(value)) div (2 * count(value)) as double)"
            )
            / F.lit(1000000.0)
        ).alias("avg_value")
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("win_start")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(hourly, ["win_start", "event_type"], "left")
        .withColumn(
            "locf_value", F.last("avg_value", ignorenulls=True).over(w)
        )
        .select(
            "win_start",
            "event_type",
            F.col("avg_value").isNotNull().alias("observed"),
            "locf_value",
        )
        .orderBy("win_start", "event_type")
    )


ORACLE_RESAMPLE_LOCF = """
WITH b AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events),
g AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS win_start, et.event_type
  FROM b, (SELECT DISTINCT event_type FROM events) et),
h AS (
  SELECT date_trunc('hour', ts) AS win_start, event_type,
         CAST((SUM(CAST(round(value * 100) AS BIGINT)) * 20000
               + COUNT(value)) // (2 * COUNT(value)) AS DOUBLE)
           / 1000000.0 AS avg_value
  FROM events GROUP BY 1, 2)
SELECT g.win_start, g.event_type,
       h.avg_value IS NOT NULL AS observed,
       last_value(h.avg_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.win_start
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM g LEFT JOIN h ON g.win_start = h.win_start AND g.event_type = h.event_type
ORDER BY g.win_start, g.event_type
"""


def ev_hourly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed DISTINCT — hourly active users — the aggregation shape
    that is trivial in batch and stateful-expensive in streaming (exact
    distinct needs per-user dedup state per window; the live twin in
    streaming/jobs.py chains dropDuplicates → window count, the
    multiple-stateful-operator pipeline Spark 3.4+ allows). Batch side is
    two aggs sharing one shuffle: dedup on (hour, user) then count —
    partial aggregation keeps the exchange at distinct pairs, not
    events."""
    ev = _events(spark, sf_dir)
    hourly = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("win_start"), "user_id"
    ).distinct()
    return (
        hourly.groupBy("win_start")
        .agg(F.count("*").alias("active_users"))
        .orderBy("win_start")
    )


ORACLE_ACTIVE_USERS = """
SELECT date_trunc('hour', ts) AS win_start,
       COUNT(DISTINCT user_id) AS active_users
FROM events GROUP BY 1 ORDER BY win_start
"""


# --------------------------------------------------------------------------
# Watermark accounting: on-time / late-accepted / dropped per window
# --------------------------------------------------------------------------

WM_DELAY_US = 600_000_000  # 10-minute watermark
WM_WIN_US = 3_600_000_000  # 1-hour tumbling windows
WM_JITTER_US = 1_800_000_000  # arrival delay in [0, 30 min) — LCG-derived
WM_LCG_A = 1103515245
WM_LCG_C = 12345


def ev_late_data_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting — the batch twin of Structured
    Streaming's `withWatermark` semantics: replay the event log in a
    deterministic ARRIVAL order (arrival = event time + an LCG-derived
    delivery delay in [0, {WM_JITTER_US}µs) — the fixture is perfectly
    time-ordered, so bounded network disorder is synthesized; a real
    deployment has a log offset), maintain the running watermark
    max(event_time seen) − {WM_DELAY_US}µs, and classify every row the
    way the streaming engine would: DROPPED if its 1-hour window has
    already been finalized at its arrival (watermark ≥ window end),
    LATE-ACCEPTED if it arrives after a newer event but inside the
    lateness allowance, ON-TIME otherwise. Output: per-window counts of
    the three classes — the dashboard that tells you whether your
    watermark delay is losing data (30-min worst-case disorder against
    a 10-min allowance → all three classes are populated).

    Exactness: event time is integer microseconds (timestampdiff from
    the NTZ epoch / epoch_us), the LCG and all window math are BIGINT —
    nothing floats.

    Scale posture: the running max is NOT a global window — arrivals
    bucket by arrival HOUR (calendar-bounded frame), the bucket-max
    frame takes an exclusive prefix-max, and the per-row cummax is
    partitioned BY bucket (parallel). The oracle uses the naive
    single-stream window — same values, single-node engine."""
    e = _events(spark, sf_dir).select(
        "event_id",
        # tz-FREE epoch micros: ts is TIMESTAMP_NTZ and the emitted
        # window starts must match DuckDB's naive epoch_us under ANY
        # session timezone — cast(ts as timestamp) would shift by the
        # session offset, so diff against the NTZ epoch instead
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("t"),
    ).withColumn(
        "arr",
        F.expr(
            # reduce event_id mod J BEFORE the multiply: (id%J)*A tops out
            # at ~2.0e18 < 2^63, so the LCG never overflows BIGINT under
            # ANSI mode no matter how large event_id grows (ADVICE r8);
            # (id*A)%J == ((id%J)*A)%J since A%J == A
            f"t + ((event_id % {WM_JITTER_US}) * {WM_LCG_A}"
            f" + {WM_LCG_C}) % {WM_JITTER_US}"
        ),
    )
    e = e.withColumn("bkt", F.expr(f"arr div {WM_WIN_US}"))
    # calendar-bounded bucket-max frame → exclusive prefix max over
    # bucket (arrival-hour) order
    bmax = e.groupBy("bkt").agg(F.max("t").alias("bmax"))
    wb = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    pbm = bmax.select("bkt", F.max("bmax").over(wb).alias("prev_bucket_max"))
    # within-bucket exclusive cummax — partitioned, parallel
    ww = W.partitionBy("bkt").orderBy("arr", "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    m = (
        e.join(F.broadcast(pbm), "bkt")
        .withColumn("wprev", F.max("t").over(ww))
        .withColumn(
            "prev_max",
            F.expr(
                "CASE WHEN prev_bucket_max IS NULL THEN wprev "
                "WHEN wprev IS NULL THEN prev_bucket_max "
                "WHEN wprev > prev_bucket_max THEN wprev "
                "ELSE prev_bucket_max END"
            ),
        )
    )
    c = m.select(
        F.expr(f"t div {WM_WIN_US}").alias("win"),
        F.expr(
            f"CASE WHEN prev_max IS NOT NULL AND prev_max - {WM_DELAY_US}"
            f" >= (t div {WM_WIN_US} + 1) * {WM_WIN_US}"
            " THEN 1 ELSE 0 END"
        ).alias("dropped"),
        F.expr(
            "CASE WHEN prev_max IS NOT NULL AND prev_max > t"
            " THEN 1 ELSE 0 END"
        ).alias("late"),
    )
    return (
        c.groupBy("win")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("dropped").cast("long").alias("n_dropped"),
            F.sum(
                F.when((F.col("dropped") == 0) & (F.col("late") == 1), 1)
                .otherwise(0)
            ).cast("long").alias("n_late_accepted"),
            F.sum(
                F.when((F.col("dropped") == 0) & (F.col("late") == 0), 1)
                .otherwise(0)
            ).cast("long").alias("n_on_time"),
        )
        .select(
            F.expr(f"cast(win * {WM_WIN_US} as bigint)").alias(
                "win_start_us"
            ),
            "n_events",
            "n_dropped",
            "n_late_accepted",
            "n_on_time",
        )
        .orderBy("win_start_us")
    )


ORACLE_LATE_WATERMARK = f"""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS t,
         epoch_us(ts)
           + ((event_id % {WM_JITTER_US}) * {WM_LCG_A}
              + {WM_LCG_C}) % {WM_JITTER_US} AS arr
  FROM events),
m AS (
  SELECT t,
         MAX(t) OVER (ORDER BY arr, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM e),
c AS (
  SELECT t // {WM_WIN_US} AS win,
         CASE WHEN prev_max IS NOT NULL AND prev_max - {WM_DELAY_US}
                   >= (t // {WM_WIN_US} + 1) * {WM_WIN_US}
              THEN 1 ELSE 0 END AS dropped,
         CASE WHEN prev_max IS NOT NULL AND prev_max > t
              THEN 1 ELSE 0 END AS late
  FROM m)
SELECT CAST(win * {WM_WIN_US} AS BIGINT) AS win_start_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN dropped = 0 AND late = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_late_accepted,
       CAST(SUM(CASE WHEN dropped = 0 AND late = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_on_time
FROM c GROUP BY win ORDER BY win_start_us
"""


# --------------------------------------------------------------------------
# Stream-static enrichment: event stream joined to a static dimension
# --------------------------------------------------------------------------


def segment_rollup(events: DataFrame, customer: DataFrame) -> DataFrame:
    """SHARED transformation for the stream-static enrichment: the event
    stream joined to the static customer dimension (broadcast — the
    stream side never shuffles for the join) and rolled up to
    (market segment, event type) counts + exact-decimal revenue. Used
    verbatim by both the batch form below and
    ``streaming/jobs.run_stream_static_enrich``, so the oracle gating
    the batch form transitively gates the streaming job."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").cast("long").alias("n"),
             dsum("value", "sum_value"))
    )


def ev_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAM-STATIC JOIN pipeline — the enrichment
    shape every production event pipeline runs (click stream × slowly-
    changing user/account dimension): per (market segment, event type),
    event counts and exact-decimal revenue. The streaming twin
    (``jobs.run_stream_static_enrich``) executes the SAME shared
    transformation as a readStream with the dimension on the static
    side; stream == batch is pytest-pinned and this form carries the
    value-hash oracle.

    Scale: the dimension broadcasts (stream/fact side never shuffles
    for the join — at 100 TB the fact stream's only wire crossing is
    the final segment×type hash agg, whose map-side partials reduce to
    a bounded grid); exact-decimal sums are order-independent so the
    parallel aggregation is deterministic."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "value")
    cust = catalog.load(spark, sf_dir, "customer")
    return segment_rollup(ev, cust).orderBy("c_mktsegment", "event_type")


ORACLE_STREAM_STATIC = """
SELECT c_mktsegment, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


SPECS = [
    QuerySpec("ev_tumbling_1h", ev_tumbling_1h, ORACLE_TUMBLING,
              ("streaming", "window"), bench=True),
    QuerySpec("ev_sliding_1h_30m", ev_sliding_1h_30m, ORACLE_SLIDING,
              ("streaming", "window")),
    QuerySpec("ev_windowed_topk", ev_windowed_topk, ORACLE_WINDOWED_TOPK,
              ("streaming", "window", "topk"),
              doc="top event types per tumbling hour (streaming "
                  "leaderboard; live twin = streaming pre-agg + shared "
                  "rank tail over the materialized view)"),
    QuerySpec("ev_session_30m", ev_session_30m, ORACLE_SESSION,
              ("streaming", "session")),
    QuerySpec("ev_dedup_first", ev_dedup_first, ORACLE_DEDUP_FIRST,
              ("streaming", "dedup")),
    QuerySpec("ev_user_state", ev_user_state, ORACLE_USER_STATE,
              ("streaming", "stateful"),
              doc="batch twin of applyInPandasWithState user totals"),
    QuerySpec("ev_click_error_join", ev_click_error_join, ORACLE_CLICK_ERROR,
              ("streaming", "join"),
              doc="batch twin of the watermarked stream-stream join"),
    QuerySpec("ev_resample_1h", ev_resample_1h, ORACLE_RESAMPLE,
              ("timeseries", "resample"),
              doc="gap-filled hourly resample (empty buckets zero-filled)"),
    QuerySpec("ev_hier_rollup", ev_hier_rollup, ORACLE_HIER_ROLLUP,
              ("timeseries", "rollup"),
              doc="hypertable-style hour→day→total rollup, re-aggregated"),
    QuerySpec("ev_hourly_active_users", ev_hourly_active_users,
              ORACLE_ACTIVE_USERS, ("streaming", "window", "distinct"),
              doc="windowed exact distinct (hourly active users); live "
                  "twin chains dedup→agg stateful operators"),
    QuerySpec("ev_resample_locf", ev_resample_locf, ORACLE_RESAMPLE_LOCF,
              ("timeseries", "resample", "locf"),
              doc="gap-filled hourly resample, last-observation-carried-"
                  "forward per event type"),
    QuerySpec("ev_rollup_incremental", ev_rollup_incremental,
              ORACLE_ROLLUP_INCREMENTAL, ("timeseries", "rollup",
              "incremental"),
              doc="materialized-rollup merge maintenance: partials "
                  "re-aggregated == direct rollup (exact decimal carry)"),
    QuerySpec("ev_late_data_watermark", ev_late_data_watermark,
              ORACLE_LATE_WATERMARK, ("streaming", "watermark", "window"),
              doc="watermark late-data accounting per tumbling hour "
                  "(on-time / late-accepted / dropped under a 10-min "
                  "watermark over a deterministic arrival replay; "
                  "bucketed prefix-max, no global window)"),
    QuerySpec("ev_stream_static_enrich", ev_stream_static_enrich,
              ORACLE_STREAM_STATIC, ("streaming", "join", "enrichment"),
              doc="stream-static join enrichment rollup (event stream x "
                  "broadcast customer dimension -> segment/type counts + "
                  "exact-decimal revenue); shared transformation with "
                  "jobs.run_stream_static_enrich, stream==batch pinned"),
]
