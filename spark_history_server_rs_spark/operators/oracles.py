"""DuckDB oracle SQL — the ANSI-SQL twin of every catalog query.

Each string must stay in lockstep with its :mod:`.catalog` sibling: same
column names, same rounding, same ordering/limit tie-breakers. The driver
runs these side-by-side with the Spark DataFrames at sf0.01 and hash-compares
results (BASELINE.json t2 gate).

DuckDB-vs-Spark portability rules observed here:

- numeric literals in CASE branches are ``::DOUBLE`` (bare ``60.0`` is a
  DECIMAL in DuckDB but a double in Spark);
- double→int conversions go through ``FLOOR`` (DuckDB CAST rounds, Spark
  CAST truncates);
- timestamps exit as ``CAST(epoch_ms(x) AS BIGINT)``, dates as
  ``strftime(x, '%Y-%m-%d')``;
- CASE ladders compare the ROUND()ed value the output carries, never the raw
  float, so both engines branch identically.
"""

from __future__ import annotations

from ..sources.generic import duckdb_events_cte
from ..sources.metrics_rollup import ROLLUP_TWINS

_CTE = duckdb_events_cte()

_TASK_AGG_COMMON = """
    COUNT(*) AS total_tasks,
    COUNT(CASE WHEN is_success THEN 1 END) AS successful_tasks,
    COUNT(CASE WHEN NOT is_success THEN 1 END) AS failed_tasks
"""

ORACLE_SQL: dict[str, str] = {}

ORACLE_SQL["applications"] = f"""{_CTE}
SELECT app_id,
       CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS start_ms,
       CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS end_ms,
       COUNT(*) AS event_count
FROM ev
GROUP BY app_id
ORDER BY end_ms DESC, app_id
LIMIT 100
"""

ORACLE_SQL["count_events"] = f"""{_CTE}
SELECT COUNT(*) AS total_events, MAX(id) AS max_event_id FROM ev
"""

# P4/P5 with LIVE parameters (the reference's single most shared code path,
# duckdb_store_backup.rs:505-508): the same A1 aggregate behind a bound
# start/end window and an app filter. Constants are mid-range for the
# sf0.01 ts domain (2024-01-01..2024-01-30) so each predicate drops rows.
TW_START_MS = 1704672000000  # 2024-01-08T00:00:00Z
TW_END_MS = 1705881600000  # 2024-01-22T00:00:00Z
TW_APP_ID = "7"

ORACLE_SQL["applications_time_window"] = f"""{_CTE}
SELECT app_id,
       CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS start_ms,
       CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS end_ms,
       COUNT(*) AS event_count
FROM ev
WHERE CAST(epoch_ms(event_ts) AS BIGINT) >= {TW_START_MS}
  AND CAST(epoch_ms(event_ts) AS BIGINT) <= {TW_END_MS}
GROUP BY app_id
ORDER BY end_ms DESC, app_id
LIMIT 100
"""

ORACLE_SQL["applications_app_window"] = f"""{_CTE}
SELECT app_id,
       CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS start_ms,
       CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS end_ms,
       COUNT(*) AS event_count
FROM ev
WHERE CAST(epoch_ms(event_ts) AS BIGINT) >= {TW_START_MS}
  AND app_id = '{TW_APP_ID}'
GROUP BY app_id
ORDER BY end_ms DESC, app_id
LIMIT 100
"""

# ?status=completed&minEndDate=... on /api/v1/applications — the filters
# the reference declares (api.rs:62-99) applied for real.
ORACLE_SQL["applications_status_completed"] = f"""{_CTE},
apps AS (
  SELECT app_id,
         CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS start_ms,
         CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS end_ms,
         COUNT(*) AS event_count,
         COUNT(CASE WHEN is_app_end THEN 1 END) > 0 AS completed
  FROM ev GROUP BY app_id
)
SELECT app_id, start_ms, end_ms, event_count, completed
FROM apps
WHERE completed AND end_ms >= {TW_START_MS}
ORDER BY end_ms DESC, app_id
LIMIT 100
"""

ORACLE_SQL["resource_usage_summary"] = f"""{_CTE}
SELECT app_id, event_type,
       strftime(event_date, '%Y-%m-%d') AS event_date,
       COUNT(*) AS event_count,
       FLOOR((AVG(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS avg_duration_ms
FROM ev
GROUP BY app_id, event_type, strftime(event_date, '%Y-%m-%d')
ORDER BY event_date DESC, app_id, event_type
"""

ORACLE_SQL["executor_summary"] = f"""{_CTE},
added AS (
  SELECT COALESCE(executor_id, 'driver') AS a_eid,
         CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS add_time_ms,
         CAST(COALESCE(MAX(total_cores), 1.0) AS BIGINT) AS cores
  FROM ev WHERE is_exec_add GROUP BY COALESCE(executor_id, 'driver')
),
removed AS (
  SELECT COALESCE(executor_id, 'driver') AS r_eid,
         CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS remove_time_ms
  FROM ev WHERE is_exec_remove GROUP BY COALESCE(executor_id, 'driver')
),
tasks AS (
  SELECT executor_id AS t_eid,
         COUNT(*) AS total_tasks,
         COUNT(CASE WHEN is_success THEN 1 END) AS completed_tasks,
         FLOOR((SUM(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS total_duration_ms,
         FLOOR((SUM(gc_ms)) * 10000.0 + 0.5) / 10000.0 AS total_gc_ms,
         FLOOR((SUM(input_mb)) * 10000.0 + 0.5) / 10000.0 AS total_input_mb,
         FLOOR((SUM(shuffle_read_mb)) * 10000.0 + 0.5) / 10000.0 AS total_shuffle_read_mb,
         FLOOR((SUM(shuffle_write_mb)) * 10000.0 + 0.5) / 10000.0 AS total_shuffle_write_mb
  FROM ev WHERE is_task AND executor_id IS NOT NULL GROUP BY executor_id
)
-- NOTE: group keys above pre-COALESCE NULL executors to 'driver', so the
-- join keys are never NULL. This pins well-defined semantics for malformed
-- logs (the reference's NULL keys fall through every FULL OUTER match and
-- produce duplicate accidental 'driver' rows, duckdb_store_backup.rs:404-407)
-- and matches the single-pass implementation exactly.
SELECT COALESCE(a.a_eid, r.r_eid, t.t_eid, 'driver') AS executor_id,
       a.add_time_ms AS add_time_ms,
       r.remove_time_ms AS remove_time_ms,
       COALESCE(a.cores, 1) AS cores,
       (r.r_eid IS NULL) AS is_active,
       COALESCE(t.total_tasks, 0) AS total_tasks,
       COALESCE(t.completed_tasks, 0) AS completed_tasks,
       COALESCE(t.total_duration_ms, 0.0::DOUBLE) AS total_duration_ms,
       COALESCE(t.total_gc_ms, 0.0::DOUBLE) AS total_gc_ms,
       COALESCE(t.total_input_mb, 0.0::DOUBLE) AS total_input_mb,
       COALESCE(t.total_shuffle_read_mb, 0.0::DOUBLE) AS total_shuffle_read_mb,
       COALESCE(t.total_shuffle_write_mb, 0.0::DOUBLE) AS total_shuffle_write_mb
FROM added a
FULL OUTER JOIN removed r ON a.a_eid = r.r_eid
FULL OUTER JOIN tasks t ON COALESCE(a.a_eid, r.r_eid) = t.t_eid
ORDER BY executor_id
"""

ORACLE_SQL["performance_trends"] = f"""{_CTE}
SELECT strftime(event_date, '%Y-%m-%d') AS event_date, app_id,
       FLOOR((AVG(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS avg_duration_ms,
       COUNT(*) AS task_count,
       COUNT(CASE WHEN NOT is_success THEN 1 END) AS failed_tasks,
       FLOOR((AVG(input_mb)) * 10000.0 + 0.5) / 10000.0 AS avg_input_mb,
       FLOOR((AVG(output_mb)) * 10000.0 + 0.5) / 10000.0 AS avg_output_mb
FROM ev WHERE is_task
GROUP BY strftime(event_date, '%Y-%m-%d'), app_id
ORDER BY event_date DESC, app_id
LIMIT 500
"""

ORACLE_SQL["gc_time_trends"] = f"""{_CTE}
SELECT strftime(event_date, '%Y-%m-%d') AS event_date, app_id,
       FLOOR((SUM(COALESCE(gc_ms, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_gc_ms,
       FLOOR((AVG(COALESCE(gc_ms, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS avg_gc_ms,
       COUNT(*) AS task_count,
       FLOOR((SUM(COALESCE(gc_ms, 0.0::DOUBLE)) / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS gc_ms_per_task
FROM ev WHERE is_task
GROUP BY strftime(event_date, '%Y-%m-%d'), app_id
ORDER BY event_date DESC, app_id
LIMIT 500
"""

ORACLE_SQL["cpu_utilization"] = f"""{_CTE},
agg AS (
  SELECT strftime(event_date, '%Y-%m-%d') AS event_date, app_id,
         COALESCE(executor_id, 'driver') AS executor_id,
         COUNT(*) AS task_count,
         FLOOR((SUM(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS theoretical_cpu_ms,
         FLOOR((SUM(cpu_ms)) * 10000.0 + 0.5) / 10000.0 AS actual_cpu_ms
  FROM ev WHERE is_task
  GROUP BY 1, 2, 3
  HAVING COUNT(*) > 0
),
derived AS (
  SELECT *,
         FLOOR((GREATEST(0.0::DOUBLE, theoretical_cpu_ms - actual_cpu_ms)) * 10000.0 + 0.5) / 10000.0 AS idle_cpu_ms,
         FLOOR((actual_cpu_ms * 100.0 / NULLIF(theoretical_cpu_ms, 0)) * 10000.0 + 0.5) / 10000.0 AS utilization_pct
  FROM agg
)
SELECT *,
       CASE WHEN utilization_pct >= 80 THEN 'High'
            WHEN utilization_pct >= 50 THEN 'Medium'
            ELSE 'Low' END AS utilization_rating
FROM derived
ORDER BY event_date DESC, app_id, executor_id
LIMIT 1000
"""

ORACLE_SQL["memory_usage"] = f"""{_CTE},
agg AS (
  SELECT strftime(event_date, '%Y-%m-%d') AS event_date, app_id, executor_id,
         FLOOR((COALESCE(MAX(jvm_heap_mb), 1024.0::DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS max_memory_mb,
         FLOOR((COALESCE(MAX(peak_memory_mb), 0.0::DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS peak_memory_max_mb,
         FLOOR((AVG(peak_memory_mb)) * 10000.0 + 0.5) / 10000.0 AS peak_memory_avg_mb,
         FLOOR((SUM(COALESCE(mem_spill_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS mem_spilled_mb,
         FLOOR((SUM(COALESCE(disk_spill_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS disk_spilled_mb
  FROM ev WHERE is_task
  GROUP BY 1, 2, 3
),
derived AS (
  SELECT *,
         FLOOR((peak_memory_max_mb * 100.0 / NULLIF(max_memory_mb, 0)) * 10000.0 + 0.5) / 10000.0
           AS memory_utilization_pct,
         FLOOR(((mem_spilled_mb + disk_spilled_mb) / NULLIF(peak_memory_max_mb, 0)) * 10000.0 + 0.5) / 10000.0
           AS spill_ratio
  FROM agg
)
SELECT *,
       CASE WHEN memory_utilization_pct >= 90 OR spill_ratio > 1.0 THEN 'Critical'
            WHEN memory_utilization_pct >= 75 OR spill_ratio > 0.5 THEN 'Poor'
            WHEN memory_utilization_pct >= 40 THEN 'Good'
            ELSE 'Excellent' END AS memory_rating
FROM derived
ORDER BY event_date DESC, app_id, executor_id
LIMIT 1000
"""

ORACLE_SQL["cross_app_summary"] = f"""{_CTE}
SELECT COUNT(DISTINCT app_id) AS total_applications,
       COUNT(DISTINCT CASE WHEN is_app_end THEN NULL ELSE app_id END)
         AS active_applications,
       COUNT(*) AS total_events,
       COUNT(CASE WHEN is_task AND is_success THEN 1 END) AS successful_tasks,
       COUNT(CASE WHEN is_task AND NOT is_success THEN 1 END) AS failed_tasks,
       FLOOR((AVG(CASE WHEN is_task THEN duration_ms END)) * 10000.0 + 0.5) / 10000.0 AS avg_task_duration_ms,
       FLOOR((SUM(COALESCE(input_mb, 0.0::DOUBLE)) / 1024.0) * 10000.0 + 0.5) / 10000.0 AS total_input_gb,
       CAST(COALESCE(MAX(total_cores), 0.0::DOUBLE) AS BIGINT) AS max_total_cores,
       CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS first_event_ms,
       CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS last_event_ms
FROM ev
"""

ORACLE_SQL["task_distribution"] = f"""{_CTE}
SELECT app_id, stage_id,
       {_TASK_AGG_COMMON},
       FLOOR((AVG(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS avg_duration_ms,
       FLOOR((MIN(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS min_duration_ms,
       FLOOR((MAX(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS max_duration_ms,
       COUNT(CASE WHEN locality = 'PROCESS_LOCAL' THEN 1 END) AS process_local_tasks,
       COUNT(CASE WHEN locality = 'NODE_LOCAL' THEN 1 END) AS node_local_tasks,
       COUNT(CASE WHEN locality = 'RACK_LOCAL' THEN 1 END) AS rack_local_tasks,
       COUNT(CASE WHEN locality = 'ANY' THEN 1 END) AS any_locality_tasks
FROM ev WHERE is_task AND stage_id IS NOT NULL
GROUP BY app_id, stage_id
ORDER BY app_id, stage_id
LIMIT 500
"""

ORACLE_SQL["job_metrics"] = f"""{_CTE}
SELECT app_id, job_id,
       {_TASK_AGG_COMMON},
       FLOOR((SUM(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS total_duration_ms,
       FLOOR((SUM(COALESCE(cpu_ms, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_cpu_ms,
       FLOOR((SUM(COALESCE(gc_ms, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_gc_ms,
       FLOOR((SUM(COALESCE(input_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_input_mb,
       FLOOR((SUM(COALESCE(output_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_output_mb,
       FLOOR((SUM(COALESCE(shuffle_read_mb, 0.0::DOUBLE)
                  + COALESCE(shuffle_write_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0
         AS total_shuffle_mb,
       FLOOR((SUM(COALESCE(mem_spill_mb, 0.0::DOUBLE)
                  + COALESCE(disk_spill_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0
         AS total_spill_mb
FROM ev WHERE is_task AND job_id IS NOT NULL
GROUP BY app_id, job_id
ORDER BY app_id, job_id
LIMIT 500
"""

ORACLE_SQL["executor_utilization"] =f"""{_CTE}
SELECT executor_id, host,
       COUNT(*) AS total_tasks,
       FLOOR((SUM(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS total_duration_ms,
       COUNT(DISTINCT app_id) AS distinct_apps,
       COUNT(CASE WHEN locality IN ('PROCESS_LOCAL','NODE_LOCAL') THEN 1 END)
         AS locality_hits,
       FLOOR((MAX(peak_memory_mb)) * 10000.0 + 0.5) / 10000.0 AS max_peak_memory_mb,
       to_json(list_sort(list(DISTINCT app_id))) AS apps_served
FROM ev
WHERE is_task AND executor_id IS NOT NULL AND executor_id <> 'driver'
GROUP BY executor_id, host
ORDER BY total_tasks DESC, executor_id
LIMIT 20
"""

ORACLE_SQL["resource_utilization_metrics"] = f"""{_CTE},
app_status AS (
  SELECT app_id AS s_app_id,
         (COUNT(CASE WHEN is_app_end THEN 1 END) = 0) AS s_is_active
  FROM ev GROUP BY app_id
),
m AS (
  SELECT app_id, executor_id, host,
         {_TASK_AGG_COMMON},
         FLOOR((SUM(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS total_duration_ms,
         FLOOR((AVG(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS avg_duration_ms,
         FLOOR((SUM(cpu_ms)) * 10000.0 + 0.5) / 10000.0 AS total_cpu_ms,
         FLOOR((SUM(COALESCE(gc_ms, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_gc_ms,
         FLOOR((MAX(COALESCE(peak_memory_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS max_peak_memory_mb,
         FLOOR((MAX(COALESCE(jvm_heap_mb, 1024.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS max_jvm_heap_mb,
         FLOOR((SUM(COALESCE(input_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_input_mb,
         FLOOR((SUM(COALESCE(output_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_output_mb,
         FLOOR((SUM(COALESCE(shuffle_read_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_shuffle_read_mb,
         FLOOR((SUM(COALESCE(shuffle_write_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_shuffle_write_mb,
         FLOOR((SUM(COALESCE(disk_spill_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_disk_spill_mb,
         FLOOR((SUM(COALESCE(mem_spill_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_mem_spill_mb,
         COUNT(CASE WHEN locality = 'PROCESS_LOCAL' THEN 1 END) AS process_local_tasks,
         COUNT(CASE WHEN locality = 'NODE_LOCAL' THEN 1 END) AS node_local_tasks,
         COUNT(CASE WHEN locality = 'RACK_LOCAL' THEN 1 END) AS rack_local_tasks,
         COUNT(CASE WHEN locality = 'ANY' THEN 1 END) AS any_locality_tasks,
         CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS first_task_ms,
         CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS last_task_ms
  FROM ev WHERE is_task AND executor_id IS NOT NULL
  GROUP BY app_id, executor_id, host
)
SELECT m.*,
       FLOOR((m.max_peak_memory_mb * 100.0 / NULLIF(m.max_jvm_heap_mb, 0)) * 10000.0 + 0.5) / 10000.0
         AS memory_utilization_pct,
       COALESCE(s.s_is_active, TRUE) AS is_active
FROM m LEFT JOIN app_status s ON m.app_id = s.s_app_id
ORDER BY m.app_id, m.executor_id
LIMIT 1000
"""

ORACLE_SQL["top_resource_consumers"] = f"""{_CTE},
agg AS (
  SELECT app_id,
         FLOOR((AVG(COALESCE(peak_memory_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS avg_peak_memory_mb,
         FLOOR((MAX(COALESCE(peak_memory_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS max_peak_memory_mb,
         FLOOR((SUM(COALESCE(cpu_ms, 0.0::DOUBLE)) / 1000.0) * 10000.0 + 0.5) / 10000.0 AS total_cpu_s,
         FLOOR((SUM(COALESCE(disk_spill_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_disk_spill_mb,
         COUNT(*) AS task_count,
         CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS last_seen_ms
  FROM ev WHERE is_task
  GROUP BY app_id
)
SELECT *,
       CASE WHEN max_peak_memory_mb > 1.5 * avg_peak_memory_mb THEN 60.0::DOUBLE
            WHEN max_peak_memory_mb > 1.2 * avg_peak_memory_mb THEN 75.0::DOUBLE
            ELSE 85.0::DOUBLE END AS efficiency_score,
       FLOOR((max_peak_memory_mb * 0.001) * 1000000.0 + 0.5) / 1000000.0 AS estimated_cost,
       CASE WHEN max_peak_memory_mb > 4000 THEN 'Reduce executor memory allocation'
            WHEN max_peak_memory_mb > 2000 THEN 'Consider memory tuning'
            ELSE 'Memory allocation appears optimal' END AS recommendation
FROM agg
WHERE max_peak_memory_mb > 0
ORDER BY max_peak_memory_mb DESC, app_id
LIMIT 10
"""

ORACLE_SQL["efficiency_analysis"] = f"""{_CTE},
agg AS (
  SELECT app_id,
         FLOOR((AVG(COALESCE(peak_memory_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS avg_peak_memory_mb,
         FLOOR((MAX(COALESCE(peak_memory_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS max_peak_memory_mb,
         FLOOR((AVG(COALESCE(cpu_ms, 0.0::DOUBLE)) / 1000.0) * 1000000.0 + 0.5) / 1000000.0 AS avg_cpu_s,
         FLOOR((AVG(duration_ms) / 1000.0) * 1000000.0 + 0.5) / 1000000.0 AS avg_wall_s,
         COUNT(*) AS task_count
  FROM ev WHERE is_task
  GROUP BY app_id
  HAVING COUNT(*) > 5
),
derived AS (
  SELECT *,
         FLOOR((avg_cpu_s * 100.0 / NULLIF(avg_wall_s, 0)) * 10000.0 + 0.5) / 10000.0 AS cpu_efficiency_pct
  FROM agg
)
SELECT *,
       CASE WHEN cpu_efficiency_pct < 30 THEN 'OverProvisioned'
            WHEN cpu_efficiency_pct > 90 THEN 'UnderProvisioned'
            ELSE 'WellTuned' END AS efficiency_category,
       FLOOR((avg_peak_memory_mb * 100.0 / NULLIF(max_peak_memory_mb, 0)) * 10000.0 + 0.5) / 10000.0
         AS memory_efficiency_pct,
       FLOOR((max_peak_memory_mb * 0.7) * 10000.0 + 0.5) / 10000.0 AS recommended_memory_mb,
       GREATEST(1, CAST(FLOOR(COALESCE(avg_cpu_s / NULLIF(avg_wall_s, 0), 0.0::DOUBLE))
                        AS BIGINT)) AS recommended_cores,
       CASE WHEN cpu_efficiency_pct < 30 THEN FLOOR((max_peak_memory_mb * 0.0005) * 1000000.0 + 0.5) / 1000000.0
            ELSE 0.0::DOUBLE END AS potential_savings,
       CASE WHEN task_count < 10 THEN 'High'
            WHEN cpu_efficiency_pct < 20 THEN 'Low'
            ELSE 'Medium' END AS risk_level,
       CASE WHEN cpu_efficiency_pct < 30 THEN
              '["Reduce executor memory allocation","Decrease number of executor cores","Consider smaller instance types"]'
            WHEN cpu_efficiency_pct > 90 THEN
              '["Increase executor memory allocation","Add more executor cores","Monitor for OOM errors"]'
            ELSE '["Configuration appears optimal"]'
       END AS optimization_actions
FROM derived
ORDER BY potential_savings DESC, app_id
LIMIT 10
"""

ORACLE_SQL["capacity_trends"] = f"""{_CTE},
agg AS (
  SELECT strftime(event_date, '%Y-%m-%d') AS event_date,
         FLOOR((SUM(COALESCE(peak_memory_mb, 0.0::DOUBLE)) / 1024.0) * 10000.0 + 0.5) / 10000.0 AS total_memory_gb,
         COUNT(DISTINCT app_id) AS active_apps,
         COUNT(*) AS total_tasks,
         FLOOR((AVG(COALESCE(cpu_ms, 0.0::DOUBLE)) / 1000.0) * 10000.0 + 0.5) / 10000.0 AS avg_cpu_s
  FROM ev WHERE is_task
  GROUP BY 1
)
SELECT *,
       FLOOR((avg_cpu_s * active_apps) * 10000.0 + 0.5) / 10000.0 AS estimated_cores_used,
       FLOOR((total_memory_gb / NULLIF(active_apps, 0)) * 10000.0 + 0.5) / 10000.0 AS avg_memory_per_app_gb,
       FLOOR((LEAST(100.0::DOUBLE, total_memory_gb / 10.24)) * 10000.0 + 0.5) / 10000.0 AS capacity_utilization_pct
FROM agg
ORDER BY event_date DESC
LIMIT 30
"""

ORACLE_SQL["cost_optimization"] = f"""{_CTE},
agg AS (
  SELECT app_id,
         FLOOR((AVG(COALESCE(peak_memory_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS avg_peak_memory_mb,
         FLOOR((MAX(COALESCE(peak_memory_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS max_peak_memory_mb,
         FLOOR((AVG(duration_ms) / 1000.0) * 10000.0 + 0.5) / 10000.0 AS avg_duration_s,
         COUNT(*) AS task_count,
         FLOOR((SUM(COALESCE(disk_spill_mb, 0.0::DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS total_disk_spill_mb
  FROM ev WHERE is_task
  GROUP BY app_id
  HAVING COUNT(*) > 3
),
typed AS (
  SELECT *,
         CASE WHEN avg_peak_memory_mb < 0.5 * max_peak_memory_mb
                THEN 'ReduceMemoryAllocation'
              WHEN total_disk_spill_mb > 1000.0 THEN 'OptimizePartitioning'
              WHEN avg_duration_s > 20.0 THEN 'ReduceExecutorCount'
              ELSE 'EnableSpotInstances' END AS optimization_type
  FROM agg
  WHERE avg_peak_memory_mb < 0.5 * max_peak_memory_mb
     OR total_disk_spill_mb > 1000.0
     OR avg_duration_s > 20.0
)
SELECT *,
       FLOOR((max_peak_memory_mb * 0.01) * 10000.0 + 0.5) / 10000.0 AS current_monthly_cost,
       FLOOR((max_peak_memory_mb * 0.01 * 0.7) * 10000.0 + 0.5) / 10000.0 AS optimized_monthly_cost,
       CASE optimization_type
            WHEN 'ReduceMemoryAllocation' THEN 30.0::DOUBLE
            WHEN 'OptimizePartitioning' THEN 25.0::DOUBLE
            WHEN 'ReduceExecutorCount' THEN 20.0::DOUBLE
            ELSE 15.0::DOUBLE END AS savings_pct,
       CASE WHEN task_count > 50 THEN 85.0::DOUBLE
            WHEN task_count > 20 THEN 70.0::DOUBLE
            ELSE 50.0::DOUBLE END AS confidence,
       CASE optimization_type
            WHEN 'ReduceMemoryAllocation' THEN 'Low'
            WHEN 'OptimizePartitioning' THEN 'Medium'
            WHEN 'ReduceExecutorCount' THEN 'Medium'
            ELSE 'High' END AS difficulty,
       'app=' || app_id || ' tasks=' || CAST(task_count AS VARCHAR) ||
         ' peak_mb=' || CAST(CAST(FLOOR(max_peak_memory_mb) AS BIGINT) AS VARCHAR)
         AS details
FROM typed
ORDER BY savings_pct DESC, app_id
LIMIT 10
"""

ORACLE_SQL["application_info"] = f"""{_CTE},
agg AS (
  SELECT app_id,
         CAST(epoch_ms(MIN(CASE WHEN is_app_start THEN event_ts END)) AS BIGINT)
           AS start_ms,
         CAST(epoch_ms(MAX(CASE WHEN is_app_end THEN event_ts END)) AS BIGINT)
           AS end_ms,
         CAST(epoch_ms(MAX(event_ts)) AS BIGINT) AS last_updated_ms,
         (COUNT(CASE WHEN is_app_end THEN 1 END) > 0) AS completed
  FROM ev GROUP BY app_id
)
SELECT *,
       CASE WHEN completed THEN end_ms - start_ms
            ELSE 1735689600000 - start_ms END AS duration_ms
FROM agg
ORDER BY app_id
"""

ORACLE_SQL["task_duration_percentiles"] = f"""{_CTE}
SELECT event_type,
       FLOOR((quantile_cont(duration_ms, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50_ms,
       FLOOR((quantile_cont(duration_ms, 0.9)) * 10000.0 + 0.5) / 10000.0 AS p90_ms,
       FLOOR((quantile_cont(duration_ms, 0.95)) * 10000.0 + 0.5) / 10000.0 AS p95_ms,
       FLOOR((quantile_cont(duration_ms, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99_ms
FROM ev WHERE is_task
GROUP BY event_type
ORDER BY event_type
"""

ORACLE_SQL["task_skew_report"] = f"""{_CTE},
agg AS (
  SELECT app_id,
         COUNT(*) AS n_tasks,
         FLOOR((quantile_cont(duration_ms, 0.5)) * 10000.0 + 0.5) / 10000.0 AS p50_ms,
         FLOOR((quantile_cont(duration_ms, 0.99)) * 10000.0 + 0.5) / 10000.0 AS p99_ms,
         FLOOR((MAX(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS max_ms,
         FLOOR((MAX(duration_ms) / NULLIF(quantile_cont(duration_ms, 0.5), 0))
               * 10000.0 + 0.5) / 10000.0 AS skew_ratio
  FROM ev WHERE is_task
  GROUP BY app_id
)
SELECT app_id, n_tasks, p50_ms, p99_ms, max_ms, skew_ratio,
       CASE WHEN skew_ratio >= 3.0::DOUBLE THEN 'severe'
            WHEN skew_ratio >= 1.5::DOUBLE THEN 'moderate'
            ELSE 'balanced' END AS skew_rating
FROM agg
ORDER BY skew_ratio DESC, app_id
"""

ORACLE_SQL["job_parallelism_report"] = f"""{_CTE},
agg AS (
  SELECT app_id, job_id,
         COUNT(*) AS n_tasks,
         FLOOR((SUM(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS total_task_ms,
         FLOOR((MAX(duration_ms)) * 10000.0 + 0.5) / 10000.0 AS max_task_ms,
         CAST(epoch_ms(MAX(event_ts)) AS BIGINT)
           - CAST(epoch_ms(MIN(event_ts)) AS BIGINT) AS wall_ms,
         FLOOR((SUM(duration_ms) / NULLIF(CAST(epoch_ms(MAX(event_ts)) AS BIGINT)
                 - CAST(epoch_ms(MIN(event_ts)) AS BIGINT), 0))
               * 10000.0 + 0.5) / 10000.0 AS parallelism,
         FLOOR((MAX(duration_ms) / NULLIF(SUM(duration_ms), 0))
               * 10000.0 + 0.5) / 10000.0 AS critical_frac
  FROM ev WHERE is_task AND job_id IS NOT NULL
  GROUP BY app_id, job_id
)
SELECT app_id, job_id, n_tasks, total_task_ms, max_task_ms, wall_ms,
       parallelism, critical_frac,
       CASE WHEN parallelism >= 4.0::DOUBLE THEN 'wide'
            WHEN parallelism >= 1.5::DOUBLE THEN 'parallel'
            ELSE 'serial' END AS parallelism_rating
FROM agg
ORDER BY app_id, job_id
"""

ORACLE_SQL["event_search"] = f"""{_CTE}
SELECT id, app_id, event_type,
       CAST(epoch_ms(event_ts) AS BIGINT) AS event_ts_ms,
       FLOOR((duration_ms) * 10000.0 + 0.5) / 10000.0 AS duration_ms
FROM ev
WHERE (event_type LIKE '%ck%' OR event_type LIKE '%error%')
  AND event_type IN ('click','error','purchase')
  AND executor_id IS NOT NULL AND executor_id <> 'driver'
  AND CAST(epoch_ms(event_ts) AS BIGINT) >= 1704240000000
  AND CAST(epoch_ms(event_ts) AS BIGINT) <= 1704844800000
ORDER BY id
LIMIT 200
"""

# --------------------------------------------------------------------------
# S17 rollup-served twins (sources/metrics_rollup.py ROLLUP_TWINS): each
# shares its raw twin's oracle VERBATIM — the differential then proves the
# two-level partial-aggregate plan reproduces the single-pass scan exactly
# (the dedup_embedding_cosine_prefiltered precedent: same oracle, different
# physical path — never a self-consistency check).
# --------------------------------------------------------------------------
for _raw_twin in ROLLUP_TWINS:
    ORACLE_SQL[f"{_raw_twin}_rollup"] = ORACLE_SQL[_raw_twin]
