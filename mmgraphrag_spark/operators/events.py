"""Event-stream analytics over the events table: gap sessionization and
hopping-window rollups.

The batch expression of the engine's streaming surface (§2.11): the same
relations `streaming/incremental.py` maintains online with watermarks /
`applyInPandasWithState` (``stream_sessions``, hopping
``windowed_event_counts``), computed here as pure window/groupBy plans with
exact DuckDB twins. All outputs are integers (epoch microseconds, counts,
value cents) so cross-engine parity is bit-exact.

Scale shape: everything keys on `user_id` or the time bucket — one hash
exchange each, re-used between the window and the session groupBy (same
key), map-side combine on every aggregate. At 10^12 events the
sessionization partitions by user (the natural key: each user's history is
tiny) and the rollup by (bucket, type) (bounded cardinality per window —
the classic streaming-agg state shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SESSION_GAP_US = 1_800_000_000  # 30 min


def events_table(spark, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


# parquet event timestamps load as TIMESTAMP_NTZ; the session pins
# spark.sql.session.timeZone=UTC (session.py), so casting NTZ->TIMESTAMP
# interprets the wall time as UTC — the same convention DuckDB's
# epoch_us() applies to a naive TIMESTAMP, keeping the twins bit-exact


def sessionize(events: DataFrame, gap_us: int = SESSION_GAP_US) -> DataFrame:
    """(user_id, session_idx, n_events, first_us, last_us, duration_us):
    gap-based sessions — a new session starts when a user's inter-event gap
    exceeds ``gap_us``. The lag-then-running-sum formulation is the exact
    batch twin of a stateful streaming sessionizer (flag each session start
    with lag(ts), then the running count of flags IS the session index).

    One exchange total: the lag window, the session-index window, and the
    final groupBy all key on user_id, so the sort/partitioning is reused.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tagged = (
        events.select(
            "user_id", "event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
        )
        .withColumn("prev_us", F.lag("ts_us").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("ts_us") - F.col("prev_us") > gap_us),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_idx",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
    )
    return (
        tagged.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("ts_us").alias("first_us"),
            F.max("ts_us").alias("last_us"),
        )
        .select(
            "user_id", "session_idx", "n_events", "first_us", "last_us",
            (F.col("last_us") - F.col("first_us")).alias("duration_us"),
        )
    )


def hopping_rollup(
    events: DataFrame,
    width_us: int = 3_600_000_000,
    hop_us: int = 900_000_000,
) -> DataFrame:
    """(win_start_us, event_type, n_events, n_users, sum_value_cents):
    HOPPING (sliding) window rollup — every event contributes to the
    ``width_us / hop_us`` overlapping windows that contain it (here 1 h
    windows sliding by 15 min), the batch twin of Spark's
    ``F.window(ts, "1 hour", "15 minutes")`` streaming aggregation but in
    pinned integer arithmetic so the cross-engine hash is exact.

    Implemented as the window-instance EXPLODE: each event generates its
    window starts with ``sequence`` (a generator — no shuffle, blowup factor
    exactly width/hop) and ONE map-side-combined groupBy on (start, type)
    aggregates. That factor is the honest cost of sliding windows at any
    scale; when it bites, the standard rewrite is tumbling panes at hop
    grain + a second width/hop-row rollup of the panes (same relation, two
    tiny aggs) — this operator keeps the direct form, the pane rewrite is
    a hop-grain tumbling rollup composed with a 4-row window sum.
    """
    if width_us % hop_us:
        raise ValueError("width_us must be a multiple of hop_us")
    return (
        events.select(
            F.explode(
                F.expr(
                    f"sequence(unix_micros(cast(ts as timestamp))"
                    f" - unix_micros(cast(ts as timestamp)) % {hop_us}"
                    f" - {width_us - hop_us},"
                    f" unix_micros(cast(ts as timestamp))"
                    f" - unix_micros(cast(ts as timestamp)) % {hop_us},"
                    f" {hop_us})"
                )
            ).alias("win_start_us"),
            "event_type",
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("win_start_us", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("cents").alias("sum_value_cents"),
        )
    )
