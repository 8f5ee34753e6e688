"""Event sessionization — the stateful grouping op of an ingest pipeline.

Batch form: classic gaps-and-islands over (user_id, ts) — a new session
starts when the gap to the previous event exceeds the threshold.  The
SQL is dual-dialect (timestampdiff vs date_diff; both are calendar
arithmetic on naive timestamps, so no session-timezone hazard) and
collapses exact-duplicate timestamps per user first so the LAG order is
total and deterministic.
"""

from __future__ import annotations


def sessions_sql(dialect: str, gap_seconds: int = 1800) -> str:
    """Per-session rollup: (user_id, session_id) -> event counts, span,
    value sum.  session_id is the user's running count of gap breaks."""
    # gap test as interval comparison: Spark's timestampdiff truncates
    # elapsed time while DuckDB's date_diff counts boundary crossings —
    # they disagree on sub-second positions.  `ts >= prev + INTERVAL n
    # SECOND` is microsecond-exact calendar arithmetic in BOTH engines.
    # `>=` (not `>`) matches Spark's session_window semantics: a window
    # spans [first, last + gap) and an event exactly at prev + gap falls
    # OUTSIDE it, i.e. starts a new session.
    new_session = (
        f"prev_ts IS NULL OR ts >= prev_ts + INTERVAL {gap_seconds} SECOND"
    )
    return f"""
    WITH per_ts AS (
      SELECT user_id, ts, COUNT(*) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 1000.0) AS BIGINT)) AS BIGINT)
               AS sum_value_x1000
      FROM events
      GROUP BY user_id, ts
    ),
    laged AS (
      SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM per_ts
    ),
    marked AS (
      SELECT *, CASE WHEN {new_session} THEN 1 ELSE 0 END AS is_new
      FROM laged
    ),
    sessions AS (
      SELECT *, SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(sum_value_x1000) AS BIGINT) AS sum_value_x1000
    FROM sessions
    GROUP BY user_id, session_id
    """
