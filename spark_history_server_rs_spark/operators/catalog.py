"""The analytics query catalog — SURVEY.md §2's operator inventory, written
once against the normalized events model (:mod:`..model`).

Each function is a pure ``DataFrame -> DataFrame`` transform mirroring one
reference query (reference file:line cited per function, all in
``src/storage/duckdb_store_backup.rs`` — the complete SQL ground truth per
SURVEY.md's code-archaeology note 1). Output column names, rounding, and
ordering are part of the declared semantics; the DuckDB oracle twins live in
:mod:`.oracles` and must stay in lockstep.

Scale notes (100 TB posture):

- Every query is a single ``groupBy`` over ≤3 keys → one shuffle, with
  Catalyst's partial (map-side) aggregation halving shuffle volume. Group
  cardinality is bounded by (apps × dates × executors), not by row count, so
  result sizes stay tiny at any input scale.
- Filters (``is_task`` etc.) sit directly on scan columns → parquet predicate
  pushdown + column pruning; no query reads ``raw_data``.
- The only joins (executor_summary, resource_utilization_metrics) join
  *aggregated* sides — both post-agg inputs are small → AQE converts them to
  broadcast joins at runtime.
- Top-k (``ORDER BY ... LIMIT n``) plans as ``TakeOrderedAndProject`` — no
  global sort of the full aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import (
    count_if,
    date_str,
    epoch_ms,
    floor_long,
    r4,
    r6,
    safe_div,
)

#: Pinned "current time" for running-app duration (reference uses ``now()``,
#: ``models.rs:193-197``; SURVEY §7 risk register says pin it for oracle
#: determinism). 2025-01-01T00:00:00Z.
PINNED_NOW_MS = 1735689600000


def _tasks(ev: DataFrame) -> DataFrame:
    """P1: the shared TaskEnd predicate (reference `WHERE event_type =
    'SparkListenerTaskEnd'`, duckdb_store_backup.rs:505)."""
    return ev.filter(F.col("is_task"))


def time_window(
    ev: DataFrame,
    start_ms: int | None = None,
    end_ms: int | None = None,
    app_id: str | None = None,
) -> DataFrame:
    """P4/P5: the optional-parameter predicate template
    (duckdb_store_backup.rs:505-508). Conditionally-built filters; Catalyst
    constant-folds what the reference does with ``(? IS NULL OR ...)``."""
    if start_ms is not None:
        ev = ev.filter(epoch_ms(F.col("event_ts")) >= F.lit(start_ms))
    if end_ms is not None:
        ev = ev.filter(epoch_ms(F.col("event_ts")) <= F.lit(end_ms))
    if app_id is not None:
        ev = ev.filter(F.col("app_id") == F.lit(app_id))
    return ev


# --------------------------------------------------------------------------
# A1 — application listing (GET /api/v1/applications)
# --------------------------------------------------------------------------
def applications(ev: DataFrame, limit: int = 100) -> DataFrame:
    """A1: per-app MIN/MAX timestamp + event count, newest-ending first.

    Reference: duckdb_store_backup.rs:156-218.
    """
    return filter_applications(application_rows(ev), limit=limit).drop(
        "completed"
    )


def application_rows(ev: DataFrame) -> DataFrame:
    """A1's per-app aggregate plus the J3 ``completed`` flag, unfiltered
    and unordered: the one-row-per-application input that
    :func:`filter_applications` filters. The REST layer caches it once
    per served snapshot."""
    return ev.groupBy("app_id").agg(
        epoch_ms(F.min("event_ts")).alias("start_ms"),
        epoch_ms(F.max("event_ts")).alias("end_ms"),
        F.count("*").alias("event_count"),
        (F.count(F.when(F.col("is_app_end"), 1)) > 0).alias("completed"),
    )


def applications_filtered(
    ev: DataFrame,
    statuses: list[str] | None = None,
    min_end_ms: int | None = None,
    max_end_ms: int | None = None,
    limit: int = 100,
) -> DataFrame:
    """A1 + the reference's declared filter params (``?status``,
    ``minEndDate``, ``maxEndDate`` — api.rs:62-99). The reference *parses*
    them but never applies them (api.rs:84-99 binds to underscored vars);
    here they filter for real: status via the 'completed = has end event'
    rule (J3), end-date range against the app's last event. Unknown status
    tokens are dropped, mirroring the reference's ``filter_map``; if none
    survive, no status filter applies.

    Post-agg filters on a per-app aggregate — the filter input is one row
    per application, so this costs nothing extra at any event scale."""
    return filter_applications(
        application_rows(ev), statuses, min_end_ms, max_end_ms, limit
    )


def filter_applications(
    apps: DataFrame,
    statuses: list[str] | None = None,
    min_end_ms: int | None = None,
    max_end_ms: int | None = None,
    limit: int = 100,
) -> DataFrame:
    """The filter, order and limit half of :func:`applications_filtered`,
    over any frame holding :func:`application_rows`' columns (extra
    columns ride along)."""
    if statuses:
        wanted = {s.strip().upper() for s in statuses}
        allowed = [c for s, c in (("COMPLETED", True), ("RUNNING", False)) if s in wanted]
        if allowed:
            apps = apps.filter(F.col("completed").isin(allowed))
    if min_end_ms is not None:
        apps = apps.filter(F.col("end_ms") >= F.lit(min_end_ms))
    if max_end_ms is not None:
        apps = apps.filter(F.col("end_ms") <= F.lit(max_end_ms))
    return apps.orderBy(F.desc("end_ms"), "app_id").limit(limit)


# --------------------------------------------------------------------------
# A2 — global counters
# --------------------------------------------------------------------------
def count_events(ev: DataFrame) -> DataFrame:
    """A2: COUNT(*) + MAX(id). Reference: duckdb_store_backup.rs:452-468."""
    return ev.agg(
        F.count("*").alias("total_events"),
        F.max("id").alias("max_event_id"),
    )


# --------------------------------------------------------------------------
# A3 — resource usage summary
# --------------------------------------------------------------------------
def resource_usage_summary(ev: DataFrame) -> DataFrame:
    """A3: events per (app, type, day) + avg duration.

    Reference: duckdb_store_backup.rs:250-284.
    """
    return (
        ev.groupBy("app_id", "event_type", date_str(F.col("event_date")).alias("event_date"))
        .agg(
            F.count("*").alias("event_count"),
            r4(F.avg("duration_ms")).alias("avg_duration_ms"),
        )
        .orderBy(F.desc("event_date"), "app_id", "event_type")
    )


# --------------------------------------------------------------------------
# A4 / J1 — executor summary (the FULL OUTER join chain)
# --------------------------------------------------------------------------
def executor_summary(ev: DataFrame) -> DataFrame:
    """A4: per-executor lifecycle + task metrics.

    Reference: duckdb_store_backup.rs:320-450 — three per-executor
    sub-aggregates merged by two FULL OUTER joins (:404-407) with
    COALESCE defaults (:384-402). All three sides group on the SAME key
    (executor_id), so the join chain is equivalent to ONE conditional
    aggregation over a single scan: each side's aggregate becomes a
    ``when(role, ...)``-guarded aggregate, a missing side-row becomes a
    NULL aggregate (identical COALESCE behavior), and "survivors from any
    branch" is simply the union of group keys. One scan + one shuffle
    instead of three scans + three shuffles + two joins; map-side partial
    aggregation bounds shuffle volume by executor count at any input
    scale.

    Documented divergence on malformed logs: add/remove events whose
    executor_id failed to parse (NULL) merge into ONE 'driver' row here,
    whereas the reference's NULL join keys fall through every FULL OUTER
    match and yield duplicate accidental 'driver' rows with is_active
    stuck true. The oracle twin pins the merged (well-defined) semantics
    by pre-COALESCE-ing its group keys.
    """
    base = ev.filter(
        F.col("is_exec_add")
        | F.col("is_exec_remove")
        # the reference's task sub-aggregate excludes NULL executors
        # (duckdb_store_backup.rs:380); add/remove sides do not
        | (F.col("is_task") & F.col("executor_id").isNotNull())
    )
    add, rem, task = (
        F.col("is_exec_add"),
        F.col("is_exec_remove"),
        F.col("is_task"),
    )

    def _t(col: str) -> Column:
        return F.when(task, F.col(col))

    return (
        base.groupBy(
            F.coalesce(F.col("executor_id"), F.lit("driver")).alias("executor_id")
        )
        .agg(
            epoch_ms(F.min(F.when(add, F.col("event_ts")))).alias("add_time_ms"),
            epoch_ms(F.max(F.when(rem, F.col("event_ts")))).alias("remove_time_ms"),
            F.coalesce(F.max(F.when(add, F.col("total_cores"))), F.lit(1.0))
            .cast("long")
            .alias("cores"),
            (count_if(rem) == 0).alias("is_active"),
            count_if(task).alias("total_tasks"),
            count_if(task & F.col("is_success")).alias("completed_tasks"),
            F.coalesce(r4(F.sum(_t("duration_ms"))), F.lit(0.0)).alias(
                "total_duration_ms"
            ),
            F.coalesce(r4(F.sum(_t("gc_ms"))), F.lit(0.0)).alias("total_gc_ms"),
            F.coalesce(r4(F.sum(_t("input_mb"))), F.lit(0.0)).alias("total_input_mb"),
            F.coalesce(r4(F.sum(_t("shuffle_read_mb"))), F.lit(0.0)).alias(
                "total_shuffle_read_mb"
            ),
            F.coalesce(r4(F.sum(_t("shuffle_write_mb"))), F.lit(0.0)).alias(
                "total_shuffle_write_mb"
            ),
        )
        # one row per executor: sorting it in a single partition skips
        # the range sort's sampling job and second shuffle (4 → 2 Spark
        # jobs per call, measured on the per-app executors route)
        .coalesce(1)
        .sortWithinPartitions("executor_id")
    )


# --------------------------------------------------------------------------
# A5 — performance trends
# --------------------------------------------------------------------------
def performance_trends(ev: DataFrame, limit: int = 500) -> DataFrame:
    """A5: per (day, app) duration/failure/io trends.

    Reference: duckdb_store_backup.rs:488-546.
    """
    return (
        _tasks(ev)
        .groupBy(date_str(F.col("event_date")).alias("event_date"), F.col("app_id"))
        .agg(
            r4(F.avg("duration_ms")).alias("avg_duration_ms"),
            F.count("*").alias("task_count"),
            count_if(~F.col("is_success")).alias("failed_tasks"),
            r4(F.avg("input_mb")).alias("avg_input_mb"),
            r4(F.avg("output_mb")).alias("avg_output_mb"),
        )
        .orderBy(F.desc("event_date"), "app_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A6 — GC time trends
# --------------------------------------------------------------------------
def gc_time_trends(ev: DataFrame, limit: int = 500) -> DataFrame:
    """A6: per (day, app) GC totals + host-side derived gc-per-task
    (here an ordinary column expression). Reference:
    duckdb_store_backup.rs:551-613 (derived :588-594).
    """
    gc = F.coalesce(F.col("gc_ms"), F.lit(0.0))
    return (
        _tasks(ev)
        .groupBy(date_str(F.col("event_date")).alias("event_date"), F.col("app_id"))
        .agg(
            r4(F.sum(gc)).alias("total_gc_ms"),
            r4(F.avg(gc)).alias("avg_gc_ms"),
            F.count("*").alias("task_count"),
            r4(F.sum(gc) / F.count("*")).alias("gc_ms_per_task"),
        )
        .orderBy(F.desc("event_date"), "app_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A7 — CPU utilization analysis
# --------------------------------------------------------------------------
def cpu_utilization(ev: DataFrame, limit: int = 1000) -> DataFrame:
    """A7: theoretical vs actual CPU per (day, app, executor), idle time via
    saturating subtraction, High/Medium/Low rating ladder.

    Reference: duckdb_store_backup.rs:617-696 (derived :658-673).
    """
    agg = (
        _tasks(ev)
        .groupBy(
            date_str(F.col("event_date")).alias("event_date"),
            F.col("app_id"),
            F.coalesce(F.col("executor_id"), F.lit("driver")).alias("executor_id"),
        )
        .agg(
            F.count("*").alias("task_count"),
            r4(F.sum("duration_ms")).alias("theoretical_cpu_ms"),
            r4(F.sum("cpu_ms")).alias("actual_cpu_ms"),
        )
        .filter(F.col("task_count") > 0)
    )
    return cpu_utilization_derived(agg, limit)


def cpu_utilization_derived(agg: DataFrame, limit: int) -> DataFrame:
    """A7's derived-column tail (idle via saturating subtraction,
    utilization%, rating ladder) over a pre-aggregated
    (event_date, app_id, executor_id, task_count, theoretical_cpu_ms,
    actual_cpu_ms) frame. Shared between the raw-scan query above and
    the S17 rollup-served twin (``sources/metrics_rollup.py``) so the
    two paths cannot drift on the host-side logic."""
    util = r4(safe_div(F.col("actual_cpu_ms") * 100.0, F.col("theoretical_cpu_ms")))
    return (
        agg.withColumn(
            "idle_cpu_ms",
            r4(F.greatest(F.lit(0.0), F.col("theoretical_cpu_ms") - F.col("actual_cpu_ms"))),
        )
        .withColumn("utilization_pct", util)
        .withColumn(
            "utilization_rating",
            F.when(F.col("utilization_pct") >= 80, "High")
            .when(F.col("utilization_pct") >= 50, "Medium")
            .otherwise("Low"),
        )
        .orderBy(F.desc("event_date"), "app_id", "executor_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A8 — memory usage analysis
# --------------------------------------------------------------------------
def memory_usage(ev: DataFrame, limit: int = 1000) -> DataFrame:
    """A8: peak/max memory + spill per (day, app, executor); utilization% and
    the Excellent/Good/Poor/Critical (util, spill) rating matrix.

    Reference: duckdb_store_backup.rs:699-798 (matrix :761-773).
    """
    agg = (
        _tasks(ev)
        .groupBy(
            date_str(F.col("event_date")).alias("event_date"),
            F.col("app_id"),
            F.col("executor_id"),
        )
        .agg(
            r4(F.coalesce(F.max("jvm_heap_mb"), F.lit(1024.0))).alias("max_memory_mb"),
            r4(F.coalesce(F.max("peak_memory_mb"), F.lit(0.0))).alias("peak_memory_max_mb"),
            r4(F.avg("peak_memory_mb")).alias("peak_memory_avg_mb"),
            r4(F.sum(F.coalesce(F.col("mem_spill_mb"), F.lit(0.0)))).alias("mem_spilled_mb"),
            r4(F.sum(F.coalesce(F.col("disk_spill_mb"), F.lit(0.0)))).alias("disk_spilled_mb"),
        )
    )
    return memory_usage_derived(agg, limit)


def memory_usage_derived(agg: DataFrame, limit: int) -> DataFrame:
    """A8's derived-column tail (utilization%, spill ratio, the
    Excellent/Good/Poor/Critical matrix) over a pre-aggregated frame —
    shared with the S17 rollup-served twin, same contract as
    :func:`cpu_utilization_derived`."""
    out = agg.withColumn(
        "memory_utilization_pct",
        r4(safe_div(F.col("peak_memory_max_mb") * 100.0, F.col("max_memory_mb"))),
    ).withColumn(
        "spill_ratio",
        r4(
            safe_div(
                F.col("mem_spilled_mb") + F.col("disk_spilled_mb"),
                F.col("peak_memory_max_mb"),
            )
        ),
    )
    return (
        out.withColumn(
            "memory_rating",
            F.when(
                (F.col("memory_utilization_pct") >= 90) | (F.col("spill_ratio") > 1.0),
                "Critical",
            )
            .when(
                (F.col("memory_utilization_pct") >= 75) | (F.col("spill_ratio") > 0.5),
                "Poor",
            )
            .when(F.col("memory_utilization_pct") >= 40, "Good")
            .otherwise("Excellent"),
        )
        .orderBy(F.desc("event_date"), "app_id", "executor_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A9 — cross-application summary (single row)
# --------------------------------------------------------------------------
def cross_app_summary(ev: DataFrame) -> DataFrame:
    """A9: global platform summary. Faithfully reproduces the reference's
    quirky "active" definition — COUNT(DISTINCT CASE WHEN end-event THEN NULL
    ELSE app_id END), which counts any app with ≥1 non-end event as active.

    Reference: duckdb_store_backup.rs:801-857 (quirk :1051-1058-adjacent).

    Shape: two-level aggregation. A direct global agg with two
    COUNT(DISTINCT app_id ...) forces Catalyst's Expand (shuffle rows ×
    the distinct-agg count, over the whole fact table); pre-aggregating
    per app makes the only wide exchange a map-side-combined app_id
    shuffle whose output is #apps rows, and the distincts become plain
    counts over that tiny relation. All merged aggregates are
    order-insensitive (integer-ms/dyadic-MB sums, min/max), so results
    are bit-identical to the single-pass form.
    """
    per_app = ev.groupBy("app_id").agg(
        F.count("*").alias("n_events"),
        count_if(~F.col("is_app_end")).alias("n_non_end"),
        count_if(F.col("is_task") & F.col("is_success")).alias("n_succ"),
        count_if(F.col("is_task") & ~F.col("is_success")).alias("n_fail"),
        F.sum(F.when(F.col("is_task"), F.col("duration_ms"))).alias("task_dur_sum"),
        count_if(F.col("is_task") & F.col("duration_ms").isNotNull()).alias(
            "task_dur_n"
        ),
        F.sum(F.coalesce(F.col("input_mb"), F.lit(0.0))).alias("input_mb_sum"),
        F.max("total_cores").alias("max_cores"),
        F.min("event_ts").alias("min_ts"),
        F.max("event_ts").alias("max_ts"),
    )
    return per_app.agg(
        count_if(F.col("app_id").isNotNull()).alias("total_applications"),
        count_if(F.col("app_id").isNotNull() & (F.col("n_non_end") > 0)).alias(
            "active_applications"
        ),
        # COALESCE: COUNT over zero rows is 0, but the SUM of zero per-app
        # partial counts is NULL — pin the count semantics on empty input
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("total_events"),
        F.coalesce(F.sum("n_succ"), F.lit(0)).alias("successful_tasks"),
        F.coalesce(F.sum("n_fail"), F.lit(0)).alias("failed_tasks"),
        r4(safe_div(F.sum("task_dur_sum"), F.sum("task_dur_n"))).alias(
            "avg_task_duration_ms"
        ),
        r4(F.sum("input_mb_sum") / 1024.0).alias("total_input_gb"),
        F.coalesce(F.max("max_cores"), F.lit(0.0)).cast("long").alias("max_total_cores"),
        epoch_ms(F.min("min_ts")).alias("first_event_ms"),
        epoch_ms(F.max("max_ts")).alias("last_event_ms"),
    )


# --------------------------------------------------------------------------
# A10 — task distribution (fixed-domain locality pivot)
# --------------------------------------------------------------------------
def task_distribution(ev: DataFrame, limit: int = 500) -> DataFrame:
    """A10: per (app, stage) task outcome + duration stats + 4-way locality
    pivot as conditional counts (fixed domain — not ``pivot()``).

    Reference: duckdb_store_backup.rs:860-930.
    """
    return (
        _tasks(ev)
        .filter(F.col("stage_id").isNotNull())
        .groupBy("app_id", "stage_id")
        .agg(
            F.count("*").alias("total_tasks"),
            count_if(F.col("is_success")).alias("successful_tasks"),
            count_if(~F.col("is_success")).alias("failed_tasks"),
            r4(F.avg("duration_ms")).alias("avg_duration_ms"),
            r4(F.min("duration_ms")).alias("min_duration_ms"),
            r4(F.max("duration_ms")).alias("max_duration_ms"),
            count_if(F.col("locality") == "PROCESS_LOCAL").alias("process_local_tasks"),
            count_if(F.col("locality") == "NODE_LOCAL").alias("node_local_tasks"),
            count_if(F.col("locality") == "RACK_LOCAL").alias("rack_local_tasks"),
            count_if(F.col("locality") == "ANY").alias("any_locality_tasks"),
        )
        .orderBy("app_id", "stage_id")
        .limit(limit)
    )


def job_metrics(ev: DataFrame, limit: int = 500) -> DataFrame:
    """Per-(app, job) resource rollup — the JobData-shaped aggregation the
    reference stubs behind ``/applications/{id}/jobs`` (api.rs:153-159,
    models.rs:50-75): task outcomes plus wall/cpu/gc and io/shuffle/spill
    totals. Single groupBy, result bounded by (apps × jobs)."""
    z = F.lit(0.0)
    return (
        _tasks(ev)
        .filter(F.col("job_id").isNotNull())
        .groupBy("app_id", "job_id")
        .agg(
            F.count("*").alias("total_tasks"),
            count_if(F.col("is_success")).alias("successful_tasks"),
            count_if(~F.col("is_success")).alias("failed_tasks"),
            r4(F.sum("duration_ms")).alias("total_duration_ms"),
            r4(F.sum(F.coalesce(F.col("cpu_ms"), z))).alias("total_cpu_ms"),
            r4(F.sum(F.coalesce(F.col("gc_ms"), z))).alias("total_gc_ms"),
            r4(F.sum(F.coalesce(F.col("input_mb"), z))).alias("total_input_mb"),
            r4(F.sum(F.coalesce(F.col("output_mb"), z))).alias("total_output_mb"),
            r4(
                F.sum(
                    F.coalesce(F.col("shuffle_read_mb"), z)
                    + F.coalesce(F.col("shuffle_write_mb"), z)
                )
            ).alias("total_shuffle_mb"),
            r4(
                F.sum(
                    F.coalesce(F.col("mem_spill_mb"), z)
                    + F.coalesce(F.col("disk_spill_mb"), z)
                )
            ).alias("total_spill_mb"),
        )
        .orderBy("app_id", "job_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A11 — executor utilization (collect_set + to_json)
# --------------------------------------------------------------------------
def executor_utilization(ev: DataFrame, limit: int = 20) -> DataFrame:
    """A11: per (executor, host) load + distinct served apps as a sorted JSON
    array (reference ``to_json(array_agg(DISTINCT app_id))``; sorted per
    SURVEY §2.8's set-ordering note). Driver excluded (P6).

    Reference: duckdb_store_backup.rs:933-1007.
    """
    return (
        _tasks(ev)
        .filter(F.col("executor_id").isNotNull() & (F.col("executor_id") != "driver"))
        .groupBy("executor_id", "host")
        .agg(
            F.count("*").alias("total_tasks"),
            r4(F.sum("duration_ms")).alias("total_duration_ms"),
            # size(collect_set) instead of countDistinct: the set is
            # collected anyway for apps_served, and a countDistinct next
            # to other aggregates forces an Expand that doubles every
            # task row through the exchange — measured the worst scaler
            # of the 7-query suite at the 100x tier (plan-gated: no
            # Expand). Identical semantics: both ignore NULLs.
            F.size(F.collect_set("app_id")).cast("long").alias("distinct_apps"),
            count_if(F.col("locality").isin("PROCESS_LOCAL", "NODE_LOCAL")).alias(
                "locality_hits"
            ),
            r4(F.max("peak_memory_mb")).alias("max_peak_memory_mb"),
            F.to_json(F.sort_array(F.collect_set("app_id"))).alias("apps_served"),
        )
        .orderBy(F.desc("total_tasks"), "executor_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A12 / J2 / J3 — resource utilization metrics (the 20-aggregate query)
# --------------------------------------------------------------------------
def resource_utilization_metrics(ev: DataFrame, limit: int = 1000) -> DataFrame:
    """A12: per (app, executor, host) full resource rollup, LEFT-joined (J2)
    with per-app liveness where active = "no end event seen" (J3), default
    active=true via COALESCE.

    Reference: duckdb_store_backup.rs:1010-1148 (join :1090-1091, liveness
    :1051-1058). The app_status side is a per-app aggregate → broadcast.
    """
    app_status = ev.groupBy(F.col("app_id").alias("s_app_id")).agg(
        (count_if(F.col("is_app_end")) == 0).alias("s_is_active")
    )
    z = F.lit(0.0)
    m = (
        _tasks(ev)
        .filter(F.col("executor_id").isNotNull())
        .groupBy("app_id", "executor_id", "host")
        .agg(
            F.count("*").alias("total_tasks"),
            count_if(F.col("is_success")).alias("successful_tasks"),
            count_if(~F.col("is_success")).alias("failed_tasks"),
            r4(F.sum("duration_ms")).alias("total_duration_ms"),
            r4(F.avg("duration_ms")).alias("avg_duration_ms"),
            r4(F.sum("cpu_ms")).alias("total_cpu_ms"),
            r4(F.sum(F.coalesce(F.col("gc_ms"), z))).alias("total_gc_ms"),
            r4(F.max(F.coalesce(F.col("peak_memory_mb"), z))).alias("max_peak_memory_mb"),
            r4(F.max(F.coalesce(F.col("jvm_heap_mb"), F.lit(1024.0)))).alias(
                "max_jvm_heap_mb"
            ),
            r4(F.sum(F.coalesce(F.col("input_mb"), z))).alias("total_input_mb"),
            r4(F.sum(F.coalesce(F.col("output_mb"), z))).alias("total_output_mb"),
            r4(F.sum(F.coalesce(F.col("shuffle_read_mb"), z))).alias("total_shuffle_read_mb"),
            r4(F.sum(F.coalesce(F.col("shuffle_write_mb"), z))).alias(
                "total_shuffle_write_mb"
            ),
            r4(F.sum(F.coalesce(F.col("disk_spill_mb"), z))).alias("total_disk_spill_mb"),
            r4(F.sum(F.coalesce(F.col("mem_spill_mb"), z))).alias("total_mem_spill_mb"),
            count_if(F.col("locality") == "PROCESS_LOCAL").alias("process_local_tasks"),
            count_if(F.col("locality") == "NODE_LOCAL").alias("node_local_tasks"),
            count_if(F.col("locality") == "RACK_LOCAL").alias("rack_local_tasks"),
            count_if(F.col("locality") == "ANY").alias("any_locality_tasks"),
            epoch_ms(F.min("event_ts")).alias("first_task_ms"),
            epoch_ms(F.max("event_ts")).alias("last_task_ms"),
        )
    )
    return resource_utilization_derived(m, app_status, limit)


def resource_utilization_derived(
    m: DataFrame, app_status: DataFrame, limit: int
) -> DataFrame:
    """A12's derived tail (utilization%, the J2 LEFT join onto per-app
    liveness with the J3 COALESCE-true default) over a pre-aggregated
    metrics frame — shared with the S17 rollup-served twin (the
    :func:`cpu_utilization_derived` contract). ``app_status`` is the
    (s_app_id, s_is_active) liveness side, built by each caller from
    its own source (raw events / app-event partials)."""
    return (
        m.withColumn(
            "memory_utilization_pct",
            r4(safe_div(F.col("max_peak_memory_mb") * 100.0, F.col("max_jvm_heap_mb"))),
        )
        .join(app_status, m["app_id"] == app_status["s_app_id"], "left")
        .withColumn("is_active", F.coalesce(F.col("s_is_active"), F.lit(True)))
        .drop("s_app_id", "s_is_active")
        .orderBy("app_id", "executor_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A13 — top resource consumers (resource hogs)
# --------------------------------------------------------------------------
def top_resource_consumers(ev: DataFrame, limit: int = 10) -> DataFrame:
    """A13: top-k apps by peak memory, with efficiency score + cost estimate
    + recommendation CASE ladders.

    Reference: duckdb_store_backup.rs:1155-1239 (ladders :1186-1196).
    """
    z = F.lit(0.0)
    agg = (
        _tasks(ev)
        .groupBy("app_id")
        .agg(
            r4(F.avg(F.coalesce(F.col("peak_memory_mb"), z))).alias("avg_peak_memory_mb"),
            r4(F.max(F.coalesce(F.col("peak_memory_mb"), z))).alias("max_peak_memory_mb"),
            r4(F.sum(F.coalesce(F.col("cpu_ms"), z)) / 1000.0).alias("total_cpu_s"),
            r4(F.sum(F.coalesce(F.col("disk_spill_mb"), z))).alias("total_disk_spill_mb"),
            F.count("*").alias("task_count"),
            epoch_ms(F.max("event_ts")).alias("last_seen_ms"),
        )
        .filter(F.col("max_peak_memory_mb") > 0)
    )
    return top_resource_consumers_derived(agg, limit)


def top_resource_consumers_derived(agg: DataFrame, limit: int) -> DataFrame:
    """A13's derived tail (efficiency score / cost / recommendation
    ladders) over a pre-aggregated per-app frame — shared with the S17
    rollup-served twin so the two paths cannot drift (the
    :func:`cpu_utilization_derived` contract). The ``max_peak > 0``
    guard stays in the callers: it filters the AGGREGATE, so both
    sides apply it to their own agg output."""
    return (
        agg.withColumn(
            "efficiency_score",
            F.when(
                F.col("max_peak_memory_mb") > 1.5 * F.col("avg_peak_memory_mb"), 60.0
            )
            .when(F.col("max_peak_memory_mb") > 1.2 * F.col("avg_peak_memory_mb"), 75.0)
            .otherwise(85.0),
        )
        .withColumn("estimated_cost", r6(F.col("max_peak_memory_mb") * 0.001))
        .withColumn(
            "recommendation",
            F.when(
                F.col("max_peak_memory_mb") > 4000, "Reduce executor memory allocation"
            )
            .when(F.col("max_peak_memory_mb") > 2000, "Consider memory tuning")
            .otherwise("Memory allocation appears optimal"),
        )
        .orderBy(F.desc("max_peak_memory_mb"), "app_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A14 — efficiency analysis
# --------------------------------------------------------------------------
def efficiency_analysis(ev: DataFrame, limit: int = 10) -> DataFrame:
    """A14: per-app CPU/memory efficiency with Over/Under/WellTuned category,
    recommended resources, potential savings, and risk ladder; HAVING
    count>5.

    Reference: duckdb_store_backup.rs:1242-1360.
    """
    z = F.lit(0.0)
    agg = (
        _tasks(ev)
        .groupBy("app_id")
        .agg(
            r4(F.avg(F.coalesce(F.col("peak_memory_mb"), z))).alias("avg_peak_memory_mb"),
            r4(F.max(F.coalesce(F.col("peak_memory_mb"), z))).alias("max_peak_memory_mb"),
            r6(F.avg(F.coalesce(F.col("cpu_ms"), z)) / 1000.0).alias("avg_cpu_s"),
            r6(F.avg("duration_ms") / 1000.0).alias("avg_wall_s"),
            F.count("*").alias("task_count"),
        )
        .filter(F.col("task_count") > 5)
    )
    return efficiency_analysis_derived(agg, limit)


def efficiency_analysis_derived(agg: DataFrame, limit: int) -> DataFrame:
    """A14's derived tail (efficiency categories, recommendations,
    savings, risk ladder) over a pre-aggregated per-app frame — shared
    with the S17 rollup-served twin (same contract as
    :func:`cpu_utilization_derived`; the HAVING ``task_count > 5``
    stays caller-side)."""
    cpu_eff = r4(safe_div(F.col("avg_cpu_s") * 100.0, F.col("avg_wall_s")))
    return (
        agg.withColumn("cpu_efficiency_pct", cpu_eff)
        .withColumn(
            "efficiency_category",
            F.when(F.col("cpu_efficiency_pct") < 30, "OverProvisioned")
            .when(F.col("cpu_efficiency_pct") > 90, "UnderProvisioned")
            .otherwise("WellTuned"),
        )
        .withColumn(
            "memory_efficiency_pct",
            r4(safe_div(F.col("avg_peak_memory_mb") * 100.0, F.col("max_peak_memory_mb"))),
        )
        .withColumn("recommended_memory_mb", r4(F.col("max_peak_memory_mb") * 0.7))
        .withColumn(
            "recommended_cores",
            F.greatest(
                F.lit(1).cast("long"),
                floor_long(
                    F.coalesce(safe_div(F.col("avg_cpu_s"), F.col("avg_wall_s")), F.lit(0.0))
                ),
            ),
        )
        .withColumn(
            "potential_savings",
            F.when(
                F.col("cpu_efficiency_pct") < 30, r6(F.col("max_peak_memory_mb") * 0.0005)
            ).otherwise(0.0),
        )
        .withColumn(
            "risk_level",
            F.when(F.col("task_count") < 10, "High")
            .when(F.col("cpu_efficiency_pct") < 20, "Low")
            .otherwise("Medium"),
        )
        .withColumn(
            # host-side derived list in the reference
            # (duckdb_store_backup.rs:1323-1337); the reference API layer
            # serializes it to JSON anyway, so the column IS the JSON string
            # (also keeps the output hashable for differential harnesses)
            "optimization_actions",
            F.to_json(
                F.when(
                    F.col("efficiency_category") == "OverProvisioned",
                    F.array(
                        F.lit("Reduce executor memory allocation"),
                        F.lit("Decrease number of executor cores"),
                        F.lit("Consider smaller instance types"),
                    ),
                )
                .when(
                    F.col("efficiency_category") == "UnderProvisioned",
                    F.array(
                        F.lit("Increase executor memory allocation"),
                        F.lit("Add more executor cores"),
                        F.lit("Monitor for OOM errors"),
                    ),
                )
                .otherwise(F.array(F.lit("Configuration appears optimal")))
            ),
        )
        .orderBy(F.desc("potential_savings"), "app_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A15 — capacity usage trends
# --------------------------------------------------------------------------
def capacity_trends(ev: DataFrame, limit: int = 30) -> DataFrame:
    """A15: per-day cluster capacity rollup with LEAST-capped utilization%.

    Reference: duckdb_store_backup.rs:1363-1426.
    """
    z = F.lit(0.0)
    agg = (
        _tasks(ev)
        .groupBy(date_str(F.col("event_date")).alias("event_date"))
        .agg(
            r4(F.sum(F.coalesce(F.col("peak_memory_mb"), z)) / 1024.0).alias(
                "total_memory_gb"
            ),
            # size(collect_set), not countDistinct: a distinct aggregate
            # next to plain ones forces an Expand that doubles every task
            # row through the exchange (same fix as A11 — plan-gated);
            # the per-day app set is bounded by the deployment's app
            # count, so the set aggregate is map-side-combined and tiny
            F.size(F.collect_set("app_id")).cast("long").alias("active_apps"),
            F.count("*").alias("total_tasks"),
            r4(F.avg(F.coalesce(F.col("cpu_ms"), z)) / 1000.0).alias("avg_cpu_s"),
        )
    )
    return capacity_trends_derived(agg, limit)


def capacity_trends_derived(agg: DataFrame, limit: int) -> DataFrame:
    """A15's derived tail (cores estimate, per-app memory, LEAST-capped
    utilization%) over a pre-aggregated per-day frame — shared with the
    S17 rollup-served twin (the :func:`cpu_utilization_derived`
    contract)."""
    return (
        agg.withColumn(
            "estimated_cores_used", r4(F.col("avg_cpu_s") * F.col("active_apps"))
        )
        .withColumn(
            "avg_memory_per_app_gb",
            r4(safe_div(F.col("total_memory_gb"), F.col("active_apps"))),
        )
        .withColumn(
            "capacity_utilization_pct",
            r4(F.least(F.lit(100.0), F.col("total_memory_gb") / 10.24)),
        )
        .orderBy(F.desc("event_date"))
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A16 — cost optimization opportunities
# --------------------------------------------------------------------------
def cost_optimization(ev: DataFrame, limit: int = 10) -> DataFrame:
    """A16: per-app cost-optimization classification — CASE ladder over
    (memory headroom, spill, duration), cost model, confidence by sample
    size, and a concatenated details string; HAVING count>3; WHERE
    any-of-three conditions.

    Reference: duckdb_store_backup.rs:1429-1547.
    """
    z = F.lit(0.0)
    agg = (
        _tasks(ev)
        .groupBy("app_id")
        .agg(
            r4(F.avg(F.coalesce(F.col("peak_memory_mb"), z))).alias("avg_peak_memory_mb"),
            r4(F.max(F.coalesce(F.col("peak_memory_mb"), z))).alias("max_peak_memory_mb"),
            r4(F.avg("duration_ms") / 1000.0).alias("avg_duration_s"),
            F.count("*").alias("task_count"),
            r4(F.sum(F.coalesce(F.col("disk_spill_mb"), z))).alias("total_disk_spill_mb"),
        )
        .filter(F.col("task_count") > 3)
    )
    return cost_optimization_derived(agg, limit)


def cost_optimization_derived(agg: DataFrame, limit: int) -> DataFrame:
    """A16's derived tail (the any-of-three WHERE, optimization-type /
    savings / confidence / difficulty ladders, details string) over a
    pre-aggregated per-app frame — shared with the S17 rollup-served
    twin (the HAVING ``task_count > 3`` stays caller-side)."""
    over_prov = F.col("avg_peak_memory_mb") < 0.5 * F.col("max_peak_memory_mb")
    spilly = F.col("total_disk_spill_mb") > 1000.0
    slow = F.col("avg_duration_s") > 20.0
    typed = agg.filter(over_prov | spilly | slow).withColumn(
        "optimization_type",
        F.when(over_prov, "ReduceMemoryAllocation")
        .when(spilly, "OptimizePartitioning")
        .when(slow, "ReduceExecutorCount")
        .otherwise("EnableSpotInstances"),
    )
    return (
        typed.withColumn("current_monthly_cost", r4(F.col("max_peak_memory_mb") * 0.01))
        .withColumn(
            "optimized_monthly_cost", r4(F.col("max_peak_memory_mb") * 0.01 * 0.7)
        )
        .withColumn(
            "savings_pct",
            F.when(F.col("optimization_type") == "ReduceMemoryAllocation", 30.0)
            .when(F.col("optimization_type") == "OptimizePartitioning", 25.0)
            .when(F.col("optimization_type") == "ReduceExecutorCount", 20.0)
            .otherwise(15.0),
        )
        .withColumn(
            "confidence",
            F.when(F.col("task_count") > 50, 85.0)
            .when(F.col("task_count") > 20, 70.0)
            .otherwise(50.0),
        )
        .withColumn(
            "difficulty",
            F.when(F.col("optimization_type") == "ReduceMemoryAllocation", "Low")
            .when(F.col("optimization_type") == "OptimizePartitioning", "Medium")
            .when(F.col("optimization_type") == "ReduceExecutorCount", "Medium")
            .otherwise("High"),
        )
        .withColumn(
            "details",
            F.concat(
                F.lit("app="),
                F.col("app_id"),
                F.lit(" tasks="),
                F.col("task_count").cast("string"),
                F.lit(" peak_mb="),
                floor_long(F.col("max_peak_memory_mb")).cast("string"),
            ),
        )
        .orderBy(F.desc("savings_pct"), "app_id")
        .limit(limit)
    )


# --------------------------------------------------------------------------
# A17 — application info fold
# --------------------------------------------------------------------------
def application_info(ev: DataFrame) -> DataFrame:
    """A17: per-app lifecycle fold — start/end/last-updated timestamps,
    completion flag, duration (pinned "now" for running apps per SURVEY §7
    risk register).

    Reference: src/storage/event_log.rs:26-93, models.rs:183-212.
    """
    start_ms = epoch_ms(F.min(F.when(F.col("is_app_start"), F.col("event_ts"))))
    end_ms = epoch_ms(F.max(F.when(F.col("is_app_end"), F.col("event_ts"))))
    return (
        ev.groupBy("app_id")
        .agg(
            start_ms.alias("start_ms"),
            end_ms.alias("end_ms"),
            epoch_ms(F.max("event_ts")).alias("last_updated_ms"),
            (count_if(F.col("is_app_end")) > 0).alias("completed"),
        )
        .withColumn(
            "duration_ms",
            F.when(F.col("completed"), F.col("end_ms") - F.col("start_ms")).otherwise(
                F.lit(PINNED_NOW_MS) - F.col("start_ms")
            ),
        )
        .orderBy("app_id")
    )


# --------------------------------------------------------------------------
# W1 — task duration percentiles (declared-but-unimplemented in reference)
# --------------------------------------------------------------------------
def task_duration_percentiles(ev: DataFrame) -> DataFrame:
    """W1: P50/P90/P95/P99 task durations per event type. The reference
    declares this surface (`analytics_api.rs:308`) without implementing it;
    exact interpolated percentile here so the oracle (quantile_cont) matches.
    At 100 TB scale swap to ``percentile_approx`` — declared divergence.
    """
    pct = F.expr("percentile(duration_ms, array(0.5, 0.9, 0.95, 0.99))")
    return (
        _tasks(ev)
        .groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            r4(F.col("p")[0]).alias("p50_ms"),
            r4(F.col("p")[1]).alias("p90_ms"),
            r4(F.col("p")[2]).alias("p95_ms"),
            r4(F.col("p")[3]).alias("p99_ms"),
        )
        .orderBy("event_type")
    )


def task_duration_percentiles_approx(
    ev: DataFrame, accuracy: int = 10000
) -> DataFrame:
    """W1 scale path: the ``percentile_approx`` swap declared in
    :func:`task_duration_percentiles` — a mergeable fixed-memory sketch
    (KLL-style) per group instead of the exact sort-based percentile, so
    the aggregation stays one map-side-combinable pass at any row count.
    No DuckDB oracle (the sketch is engine-specific by design); pinned
    against the exact variant within tolerance in the test suite."""
    pct = F.expr(
        f"percentile_approx(duration_ms, array(0.5, 0.9, 0.95, 0.99), {accuracy})"
    )
    return (
        _tasks(ev)
        .groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            r4(F.col("p")[0].cast("double")).alias("p50_ms"),
            r4(F.col("p")[1].cast("double")).alias("p90_ms"),
            r4(F.col("p")[2].cast("double")).alias("p95_ms"),
            r4(F.col("p")[3].cast("double")).alias("p99_ms"),
        )
        .orderBy("event_type")
    )


def task_skew_report(ev: DataFrame) -> DataFrame:
    """W2 (beyond-reference): per-application straggler analysis — the
    skew diagnosis a history server exists to answer. max/median task
    duration ratio plus the p99/p50 spread, with a rating ladder on the
    snapped ratio (both engines branch on the identical rounded double,
    per the §2.8 determinism discipline).

    Scale: one groupBy(app_id) over the TaskEnd slice — group cardinality
    = #apps, map-side partial agg for count/max; the exact percentiles
    are the oracle-checkable baseline and the declared 100 TB swap is
    ``percentile_approx`` exactly as W1 does it.
    """
    pct = F.expr("percentile(duration_ms, array(0.5, 0.99))")
    agg = (
        _tasks(ev)
        .groupBy("app_id")
        .agg(
            F.count(F.lit(1)).alias("n_tasks"),
            pct.alias("p"),
            F.max("duration_ms").alias("mx"),
        )
        .select(
            "app_id",
            "n_tasks",
            r4(F.col("p")[0]).alias("p50_ms"),
            r4(F.col("p")[1]).alias("p99_ms"),
            r4(F.col("mx")).alias("max_ms"),
            r4(safe_div(F.col("mx"), F.col("p")[0])).alias("skew_ratio"),
        )
    )
    return agg.select(
        "*",
        F.when(F.col("skew_ratio") >= 3.0, F.lit("severe"))
        .when(F.col("skew_ratio") >= 1.5, F.lit("moderate"))
        .otherwise(F.lit("balanced"))
        .alias("skew_rating"),
    ).orderBy(F.desc("skew_ratio"), "app_id")


def job_parallelism_report(ev: DataFrame) -> DataFrame:
    """W3 (beyond-reference): per-(app, job) parallelism-efficiency —
    total task time vs the job's wall-clock span (achieved parallelism)
    and the longest task's share of total work (the Amdahl serial-fraction
    bound). The per-job companion to W2's per-app straggler view: W2 says
    WHERE the skew is, this says how much speedup a wider cluster could
    still buy each job.

    Scale: one groupBy(app_id, job_id) over the TaskEnd slice — group
    cardinality = #jobs, all five aggregates map-side partial; duration
    sums are exact (integer-valued doubles, §2.8 discipline).
    """
    t = _tasks(ev).filter(F.col("job_id").isNotNull())
    agg = t.groupBy("app_id", "job_id").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum("duration_ms").alias("tot"),
        F.max("duration_ms").alias("mx"),
        (epoch_ms(F.max("event_ts")) - epoch_ms(F.min("event_ts"))).alias(
            "wall_ms"
        ),
    )
    out = agg.select(
        "app_id",
        "job_id",
        "n_tasks",
        r4(F.col("tot")).alias("total_task_ms"),
        r4(F.col("mx")).alias("max_task_ms"),
        "wall_ms",
        r4(safe_div(F.col("tot"), F.col("wall_ms"))).alias("parallelism"),
        r4(safe_div(F.col("mx"), F.col("tot"))).alias("critical_frac"),
    )
    return out.select(
        "*",
        F.when(F.col("parallelism") >= 4.0, F.lit("wide"))
        .when(F.col("parallelism") >= 1.5, F.lit("parallel"))
        .otherwise(F.lit("serial"))
        .alias("parallelism_rating"),
    ).orderBy("app_id", "job_id")


# --------------------------------------------------------------------------
# P2/P3/P6 showcase — event search with LIKE / IN / range predicates
# --------------------------------------------------------------------------
def event_search(ev: DataFrame, limit: int = 200) -> DataFrame:
    """Predicate-template showcase: LIKE (P3) + IN (P2) + null/driver
    exclusion (P6) + epoch range (P4), projected and ordered.

    Reference predicate sites: duckdb_store_backup.rs:347 (LIKE), :262 (IN),
    :380,:953 (exclusions), :505-508 (range template).
    """
    ts_ms = epoch_ms(F.col("event_ts"))
    return (
        ev.filter(
            (F.col("event_type").like("%ck%") | F.col("event_type").like("%error%"))
            & F.col("event_type").isin("click", "error", "purchase")
            & F.col("executor_id").isNotNull()
            & (F.col("executor_id") != "driver")
            & (ts_ms >= 1704240000000)  # 2024-01-03T00:00:00Z
            & (ts_ms <= 1704844800000)  # 2024-01-10T00:00:00Z
        )
        .select(
            "id",
            "app_id",
            "event_type",
            ts_ms.alias("event_ts_ms"),
            r4(F.col("duration_ms")).alias("duration_ms"),
        )
        .orderBy("id")
        .limit(limit)
    )
