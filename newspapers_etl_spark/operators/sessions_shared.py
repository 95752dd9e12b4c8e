"""Session-window constants shared by the batch query
(operators/events_windows.py) and its streaming twin
(streaming/incremental_stream.py)."""

SESSION_GAP = "3 hours"

# Gaps-and-islands batch SQL for session windows — the DuckDB oracle
# for BOTH events_sessions (batch) and stream_sessions (streaming):
# a new session starts where the gap to the previous event exceeds
# SESSION_GAP; session_end mirrors Spark's session_window convention
# (last event + gap).
SESSION_ORACLE = f"""
WITH deltas AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL {SESSION_GAP}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM deltas
)
SELECT user_id,
       min(ts)                            AS session_start,
       max(ts) + INTERVAL {SESSION_GAP}   AS session_end,
       CAST(count(*) AS BIGINT)           AS n_events,
       round(sum(value), 2)               AS total_value
FROM sessions
GROUP BY user_id, sess_id
"""
