"""Streaming + advanced-window queries (north-star E5).

The two ``streaming_*`` entries run REAL Structured Streaming queries
(file source, AvailableNow trigger, state store) whose drained output must
equal the batch/DuckDB oracle — the strongest correctness statement a
deterministic harness can make about a streaming operator. The sliding and
session window entries are the batch forms of the remaining window family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.plans.query_pack import WINDOW_TUMBLING_ORACLE
from etl_from_s3_to_postgresql_template_spark.plans.registry import query
from etl_from_s3_to_postgresql_template_spark.sources.registry import load_table
from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
    run_sliding_counts_stream,
    run_stateful_user_counts_stream,
    run_stream_stream_join,
    run_tumbling_counts_stream,
    session_counts,
    sliding_counts,
)

#: one oracle per window family: the batch query and its streaming twin
#: run the same aggregation (streaming/ingest.py), so they share it
_SLIDING_ORACLE = """
    SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - INTERVAL (i * 30) MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS w_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events CROSS JOIN (VALUES (0), (1)) AS offsets(i)
    GROUP BY 1, 2
    """

_SESSION_ORACLE = """
    WITH s AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    g AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM s
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL '5 minutes', '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM g
    GROUP BY user_id, sess_id
    """


@query("streaming_window_counts", oracle=WINDOW_TUMBLING_ORACLE)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts via an actual streaming query (same oracle as
    the batch twin window_tumbling_events)."""
    return run_tumbling_counts_stream(spark, sf_dir)


@query(
    "streaming_stateful_user_counts",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY user_id
    """,
)
def streaming_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState running
    counter) drained over the fixture == batch group count."""
    return run_stateful_user_counts_stream(spark, sf_dir)


@query(
    "streaming_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
           e.event_id AS error_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS e_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts >= p.ts - INTERVAL '1 hour'
     AND e.ts <= p.ts
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermark-bounded state, drained ==
    the batch range-join oracle."""
    return run_stream_stream_join(spark, sf_dir)


@query("streaming_sliding_counts", oracle=_SLIDING_ORACLE)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows as a real streaming query; drained == batch twin
    window_sliding_events == DuckDB offset-enumerated oracle."""
    return run_sliding_counts_stream(spark, sf_dir)


@query(
    "streaming_foreachbatch_sink",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           "value"
    FROM events
    """,
)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end foreachBatch landing: stream events -> batch_id-keyed
    parquet (replay-idempotent dynamic overwrite) -> read the landing table
    back. Landed rows must equal the source exactly — the oracle is the
    source itself."""
    import tempfile

    from etl_from_s3_to_postgresql_template_spark.streaming.sink import (
        read_landing,
        run_events_stream_to_parquet,
    )

    base = tempfile.mkdtemp(prefix="fb_sink_")
    run_events_stream_to_parquet(spark, sf_dir, f"{base}/out", f"{base}/ckpt")
    return read_landing(spark, f"{base}/out").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "value",
    )


@query("window_sliding_events", oracle=_SLIDING_ORACLE)
def window_sliding_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h window, 30m slide: every event lands in exactly two
    windows (the oracle enumerates both via the offset cross join)."""
    return sliding_counts(load_table(spark, sf_dir, "events"), "1 hour", "30 minutes")


@query("window_session_events", oracle=_SESSION_ORACLE)
def window_session_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 5-minute gap (batch session_window; the
    oracle is the classic gaps-and-islands formulation — a new session
    starts when the gap since the previous event reaches the timeout,
    matching Spark's last_ts + gap session end)."""
    return session_counts(load_table(spark, sf_dir, "events"), "5 minutes")


@query(
    "streaming_dedup_events",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
    FROM events
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark-bounded state (E1 x E5 crossover):
    dropDuplicatesWithinWatermark drained over the fixture == batch
    DISTINCT on event_id (event_ids are unique in the fixture, so this
    equals the source — the oracle)."""
    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        run_dedup_events_stream,
    )

    return run_dedup_events_stream(spark, sf_dir)


@query("streaming_session_windows", oracle=_SESSION_ORACLE)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a REAL streaming query (state-store session
    merge), drained == batch session_window == the gaps-and-islands
    oracle — closing the last window family that was batch-only."""
    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        run_session_windows_stream,
    )

    return run_session_windows_stream(spark, sf_dir)


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
    FROM events e
    JOIN nation n ON n.n_nationkey = CAST(e.user_id % 25 AS INT)
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment (broadcast join inside a real
    streaming query), drained complete == the batch join the oracle runs.
    See streaming/ingest.py::run_stream_static_enrich."""
    from etl_from_s3_to_postgresql_template_spark.streaming.ingest import (
        run_stream_static_enrich,
    )

    return run_stream_static_enrich(spark, sf_dir).orderBy("n_name")
