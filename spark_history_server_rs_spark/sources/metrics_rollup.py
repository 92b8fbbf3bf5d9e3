"""S17 — durable metrics rollup: a continuously-maintained partial-aggregate
relation serving the history-server's per-(day, app[, executor]) analytics
WITHOUT rescanning raw events.

The reference answers every analytics route by re-scanning its embedded
fact table (``duckdb_store_backup.rs:488-798`` — A5 performance trends, A6
GC trends, A7 CPU utilization, A8 memory usage all start from ``WHERE
event_type = 'SparkListenerTaskEnd'``). That is fine when the fact table
is one node's DuckDB file; at 100 TB it means every dashboard refresh is a
full-corpus scan. The Spark-first answer is the continuous-aggregate
pattern (TimescaleDB's continuous aggregates, Druid's rollup segments,
Materialize's arrangements): persist ONE partial-aggregate relation at the
finest grain any serving query needs, maintain it incrementally, and
answer the whole query family by re-aggregating partials.

Why this decomposes EXACTLY, not approximately: every aggregate the four
catalog twins compute is algebraic in the Gray et al. Data-Cube sense
(SUM/COUNT/MIN/MAX and ratios of those) — each has a bounded-size partial
state that merges associatively. Percentile queries (§2.5) are explicitly
NOT servable from this rollup (exact percentiles are holistic) and stay on
the raw-scan path. Bit-exactness of the float sums across the two-level
re-aggregation rests on the same invariant the catalog's A9 two-level
rewrite documents: every metric column is an integer-valued double
(``sources/generic.py`` snaps them at the row level), and integer-valued
doubles sum exactly in IEEE arithmetic in any order. The rollup-served
twins therefore share the RAW twins' DuckDB oracles verbatim — the driver
differential proves serve-from-partials ≡ scan-from-events, not merely
self-consistency.

Layout (zstd parquet, same swap/meta/tombstone conventions as S13-S16)::

    path/partials/      task grain (event_date, app_id, executor_id,
                        host) + partial columns + ingest_batch +
                        ingest_lineage, PARTITIONED BY event_date
    path/exec_events/   executor-lifecycle grain (A4's add/remove side)
    path/app_events/    all-events grain (event_date, app_id,
                        event_type) — A1/A3/A9/A12-liveness partials
    path/stage_events/  per-stage task grain (A10's distribution)
    path/dur_hist/      DDSketch-style log-bucket task-duration counts
                        (event_date, app_id, event_type, bucket, n) —
                        the mergeable percentile partial (§2.5's scale
                        path; see task_duration_percentiles_from_rollup)
    path/deleted_apps/  (app_id) tombstones — per-app retention/erasure
    path/counts/        one row (n_cells) — pre-counted live grain cells
    path/folded_hwm/    per-(relation, lineage) highest stream batch id
                        ever folded (the replay/compaction exactly-once
                        closure — see compact_metrics_rollup)
    path/manifest/      per-relation (n_rows, content_hash) attestation

Scale shape at 100 TB: the partials relation is |days| × |apps| ×
|executors| cells (× appended batches until compaction) — megabytes where
the raw events are terabytes. Serving is a scan of THAT relation with
partition pruning on ``event_date``; the only shuffle is the final
re-aggregation whose input is already tiny. Streaming maintenance is a
blind per-batch APPEND of map-side-combined partials — no read-modify-
write, so no race with readers and no per-batch rewrite of history; the
merge is deferred to serve-time re-aggregation (cheap on a tiny relation)
and folded physically at compaction in the maintenance slot.

Exactly-once story: ``foreachBatch`` + append is at-least-once — a retried
batch re-appends its rows. Unlike S13's set-shaped relations, partial SUMS
are not idempotent to duplicates, so every serving read de-duplicates on
(grain, ingest_lineage, ingest_batch): structured streaming replays a
batch id over the same source offsets, the partial aggregation is
deterministic (exact integer sums), hence a retry's rows are bit-identical
to the originals and the key-dedup restores exactly-once semantics at
serve time. Compaction then makes it physical (one row per grain,
``ingest_batch = -1``) — and, because the fold erases the batch tags the
key-dedup relies on, it first persists a per-(relation, lineage)
folded-batch high-watermark the stream updater consults: a batch replayed
AFTER its rows were folded is skipped per-relation instead of re-appended
(the ADVICE-r12 crash window — rows landed, checkpoint commit lost,
compaction ran before the restart).

Why the watermark is LINEAGE-scoped (ADVICE r13): batch ids are only
stable WITHIN one checkpoint — a fresh checkpoint over the same source
repacks files into new batch ids starting at 0, so a lineage-blind
``batch_id <= hwm`` skip would silently drop never-ingested files a fresh
run packed into low batch ids (permanent loss, no error). Every row is
therefore tagged with its ``ingest_lineage`` (the Structured Streaming
query id from the checkpoint's metadata file; ``batch`` for batch builds
and compacted folds), the skip applies only to the updater's OWN lineage,
and the serve-time key-dedup keys on (lineage, batch) so two lineages
re-using a batch id never collapse. A stream whose lineage is NEW against
a rollup that already holds another stream's appends is refused loudly by
default (``accept_new_lineage=False``) — across lineages neither skipping
nor appending can be proven exactly-once without content fingerprints, so
the safe defaults are: resume the original checkpoint, rebuild, or opt in
explicitly when the new source is disjoint (the incremental pattern).
One writer per rollup, as for every durable family here; compaction and
the stream updater never run concurrently (the maintenance-slot contract).

Bit-exactness scope: the rollup twins share the raw twins' oracles
because two-level re-aggregation of the metric columns is order-
independent — every metric is snapped AT THE ROW LEVEL to a grid whose
sums stay exact in IEEE doubles (integer-valued ms/counts; 2^-10-grid
MB). ``sources/generic.py`` snaps the synthetic corpus to integers and
``sources/event_logs.py`` snaps real-log metrics (integer ms, KB-grid
MB) for exactly this reason — a frame whose metric columns carry
arbitrary doubles (non-dyadic fractions, >2^53 partial sums) voids the
bit-identity claim, though results remain correct up to float
re-association.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..functions.checkpoints import durable_checkpoint
from pyspark.sql import functions as F

from ..functions.expressions import count_if, date_str, r4, safe_div

#: grain of the task-partial relation — the finest grouping any served
#: twin needs (host joined the grain for A11/A12; in real deployments an
#: executor lives on one host, so the cell count barely moves)
GRAIN = ("event_date", "app_id", "executor_id", "host")

#: grain of the executor-lifecycle partial relation (A4's add/remove side)
EXEC_GRAIN = ("event_date", "app_id", "executor_id")

#: grain of the all-events partial relation (A1 + A12 liveness + A3's
#: per-type breakdown + A9's all-event sums). ``event_type`` joined the
#: grain in v2 so A3 (``resource_usage_summary``) serves from cells;
#: every coarser consumer (A1's per-app listing, A12's liveness, A9's
#: per-app sums) re-aggregates over it — cells grow only by the event-
#: type cardinality (~10 in real logs), still megabytes at 100 TB
APP_GRAIN = ("event_date", "app_id", "event_type")

#: grain of the per-stage task partials (A10's task distribution) —
#: stages are bounded per app, so cells ≪ task rows at any scale
STAGE_GRAIN = ("event_date", "app_id", "stage_id")

#: grain of the task-duration histogram partials (§2.5's scale path) —
#: DDSketch-style log buckets (Masson et al., VLDB 2019): counts per
#: (day, app, type, bucket) merge by SUM, so percentile serving never
#: scans the fact table. ``app_id`` is in the grain solely so the
#: tombstone suppression (per-app retention/erasure) stays exact.
DUR_HIST_GRAIN = ("event_date", "app_id", "event_type", "bucket")

#: relations attested by the manifest
ROLLUP_RELATIONS = (
    "partials", "exec_events", "app_events", "stage_events", "dur_hist",
    "deleted_apps",
)

#: ingest_batch value for batch-built / compacted rows (stream batches ≥ 0)
_BATCH_BUILD = -1

#: ingest_lineage value for batch-built / compacted rows (streamed rows
#: carry their checkpoint's streaming-query id — see the module
#: docstring's lineage-scoped exactly-once story)
_BATCH_LINEAGE = "batch"

#: DDSketch bucket base: relative error ≤ (γ-1)/(γ+1) ≈ 0.99% — well
#: inside the 5% tolerance the sketch contract pins against the exact
#: percentile op. ~930 buckets span 1 ms .. 10^8 ms; only buckets with
#: data materialize rows.
_DD_GAMMA = 1.02


# ==========================================================================
# partial aggregation (the INDEX phase's single shuffle)
# ==========================================================================
def rollup_partials(ev: DataFrame) -> DataFrame:
    """One map-side-combined aggregation of the TaskEnd rows to the
    rollup grain. Each partial column is the bounded merge state of one
    aggregate some serving twin finalizes:

    - plain SUM/COUNT pairs for the AVGs (null-skipping counts kept
      separately so re-aggregated averages keep SQL AVG's ignore-NULL
      semantics);
    - pre-coalesced sums where the twin coalesces at the ROW level
      (A6's gc, A8's spills) — coalesce-then-sum commutes with merging;
    - MAX partials merge by MAX.

    Rounding (r4) deliberately does NOT happen here: the twins round
    their FINAL aggregates, so partials must carry exact sums —
    rounding a partial would make the two-level result diverge from the
    single-pass twin."""
    gc = F.coalesce(F.col("gc_ms"), F.lit(0.0))
    return (
        ev.filter(F.col("is_task"))
        .groupBy(
            date_str(F.col("event_date")).alias("event_date"),
            F.col("app_id"),
            F.col("executor_id"),
            F.col("host"),
        )
        .agg(
            F.count("*").alias("n_tasks"),
            count_if(~F.col("is_success")).alias("n_failed"),
            F.count("duration_ms").alias("n_duration"),
            F.sum("duration_ms").alias("sum_duration_ms"),
            F.sum("cpu_ms").alias("sum_cpu_ms"),
            F.sum(gc).alias("sum_gc_ms"),
            F.count("input_mb").alias("n_input"),
            F.sum("input_mb").alias("sum_input_mb"),
            F.count("output_mb").alias("n_output"),
            F.sum("output_mb").alias("sum_output_mb"),
            F.max("jvm_heap_mb").alias("max_jvm_heap_mb"),
            F.max("peak_memory_mb").alias("max_peak_memory_mb"),
            F.count("peak_memory_mb").alias("n_peak"),
            F.sum("peak_memory_mb").alias("sum_peak_memory_mb"),
            F.sum(F.coalesce(F.col("mem_spill_mb"), F.lit(0.0))).alias(
                "sum_mem_spill_mb"
            ),
            F.sum(F.coalesce(F.col("disk_spill_mb"), F.lit(0.0))).alias(
                "sum_disk_spill_mb"
            ),
            F.max("event_ts").alias("max_event_ts"),
            F.min("event_ts").alias("min_event_ts"),
            F.sum("shuffle_read_mb").alias("sum_shuffle_read_mb"),
            F.sum("shuffle_write_mb").alias("sum_shuffle_write_mb"),
            count_if(F.col("locality") == "PROCESS_LOCAL").alias(
                "n_loc_process"
            ),
            count_if(F.col("locality") == "NODE_LOCAL").alias("n_loc_node"),
            count_if(F.col("locality") == "RACK_LOCAL").alias("n_loc_rack"),
            count_if(F.col("locality") == "ANY").alias("n_loc_any"),
            # pre-coalesced MAX partials: MAX(COALESCE(x, d)) does NOT
            # merge as COALESCE(MAX(x), d) when d can exceed real values
            # (jvm default 1024) — computing the coalesced max per CELL
            # makes the merge a plain MAX, exact with no assumptions
            # about the metric's range
            F.max(F.coalesce(F.col("peak_memory_mb"), F.lit(0.0))).alias(
                "max_peak_c0"
            ),
            F.max(F.coalesce(F.col("jvm_heap_mb"), F.lit(1024.0))).alias(
                "max_jvm_c1024"
            ),
        )
    )


def exec_events_partials(ev: DataFrame) -> DataFrame:
    """The executor-LIFECYCLE partials (A4's add/remove conditional
    aggregates): one row per (day, app, executor) over the
    add/remove event population — disjoint from the task rows the main
    relation rolls up, so it is its own relation, not extra columns."""
    add, rem = F.col("is_exec_add"), F.col("is_exec_remove")
    return (
        ev.filter(add | rem)
        .groupBy(
            date_str(F.col("event_date")).alias("event_date"),
            F.col("app_id"),
            F.col("executor_id"),
        )
        .agg(
            count_if(add).alias("n_add"),
            count_if(rem).alias("n_rem"),
            F.min(F.when(add, F.col("event_ts"))).alias("min_add_ts"),
            F.max(F.when(rem, F.col("event_ts"))).alias("max_rem_ts"),
            F.max(F.when(add, F.col("total_cores"))).alias("max_add_cores"),
        )
    )


def app_events_partials(ev: DataFrame) -> DataFrame:
    """The ALL-EVENTS partials (grain v2: + ``event_type``): A1's
    listing (min/max timestamp, event count) and A12's J3 liveness
    (active = zero end events) are aggregates over every event type, so
    they need their own relation beside the TaskEnd rollup. v2 also
    carries what A3 and A9 need from the all-event population:

    - A3 (``resource_usage_summary``) groups by (app, type, day) — the
      grain keys — with a null-skipping duration AVG (sum + count);
    - A9 (``cross_app_summary``) sums ``COALESCE(input_mb, 0)`` and
      maxes ``total_cores`` over ALL events, not just tasks
      (total_cores rides executor-add AND task rows in the generic
      mapping), so those partials must live here, not in the
      task-only relation."""
    return ev.groupBy(
        date_str(F.col("event_date")).alias("event_date"),
        F.col("app_id"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("n_events"),
        count_if(F.col("is_app_end")).alias("n_app_end"),
        F.min("event_ts").alias("min_ts"),
        F.max("event_ts").alias("max_ts"),
        F.count("duration_ms").alias("n_duration"),
        F.sum("duration_ms").alias("sum_duration_ms"),
        F.sum(F.coalesce(F.col("input_mb"), F.lit(0.0))).alias(
            "sum_input_c0"
        ),
        F.max("total_cores").alias("max_cores"),
    )


def stage_events_partials(ev: DataFrame) -> DataFrame:
    """The per-STAGE task partials (A10's task distribution): one row
    per (day, app, stage) over the stage-attributed task rows. All of
    A10's aggregates are algebraic — the conditional outcome counts,
    the duration AVG's sum/count pair, MIN/MAX duration, and the
    four fixed-domain locality counters all merge exactly."""
    return (
        ev.filter(F.col("is_task") & F.col("stage_id").isNotNull())
        .groupBy(
            date_str(F.col("event_date")).alias("event_date"),
            F.col("app_id"),
            F.col("stage_id"),
        )
        .agg(
            F.count("*").alias("n_tasks"),
            count_if(~F.col("is_success")).alias("n_failed"),
            F.count("duration_ms").alias("n_duration"),
            F.sum("duration_ms").alias("sum_duration_ms"),
            F.min("duration_ms").alias("min_duration_ms"),
            F.max("duration_ms").alias("max_duration_ms"),
            count_if(F.col("locality") == "PROCESS_LOCAL").alias(
                "n_loc_process"
            ),
            count_if(F.col("locality") == "NODE_LOCAL").alias("n_loc_node"),
            count_if(F.col("locality") == "RACK_LOCAL").alias("n_loc_rack"),
            count_if(F.col("locality") == "ANY").alias("n_loc_any"),
        )
    )


def dur_hist_partials(ev: DataFrame) -> DataFrame:
    """The task-duration DDSketch partials: one count per (day, app,
    event type, log bucket) over the TaskEnd rows. The bucket index is
    ``ceil(log_γ(duration))`` (DDSketch's mapping — any value in bucket
    i lies in (γ^(i-1), γ^i], so the midpoint estimate carries a
    bounded RELATIVE error of (γ-1)/(γ+1)); non-positive durations get
    the sentinel bucket -2^31 whose estimate is exactly 0. Counts merge
    by SUM — the whole sketch is algebraic, unlike the exact holistic
    percentile (``catalog.task_duration_percentiles``), which is why
    this relation exists: at 100 TB the percentile dashboard re-
    aggregates day-pruned cells instead of sorting the fact table.
    Reference analog: the declared-but-unimplemented
    ``task_duration_percentiles`` surface (analytics_api.rs:308)."""
    bucket = F.when(
        F.col("duration_ms") <= 0, F.lit(-(2**31))
    ).otherwise(
        F.ceil(F.log(F.col("duration_ms")) / F.log(F.lit(_DD_GAMMA)))
    ).cast("int")
    return (
        ev.filter(F.col("is_task") & F.col("duration_ms").isNotNull())
        .groupBy(
            date_str(F.col("event_date")).alias("event_date"),
            F.col("app_id"),
            F.col("event_type"),
            bucket.alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
    )


#: how a partial column merges, by its name's prefix: counts (``n``,
#: ``n_*``) and ``sum_*`` by SUM, ``max_*`` by MAX, ``min_*`` by MIN —
#: every builder above names its columns by this rule
_MERGE_BY_PREFIX = {"n": F.sum, "sum": F.sum, "max": F.max, "min": F.min}


def merge_cells(p: DataFrame, grain: tuple[str, ...]) -> DataFrame:
    """Compaction merge: fold the partial cells that share a grain key
    (stream batches of the same cell, or duplicate-retry rows already
    key-deduped) into one. Associative by construction; the serving
    twins skip it and re-aggregate straight to their own (coarser)
    grain. The ingest tags are dropped — the caller stamps the fold."""
    values = [
        c for c in p.columns if c not in grain and not c.startswith("ingest_")
    ]
    return p.groupBy(*grain).agg(
        *[_MERGE_BY_PREFIX[c.split("_")[0]](c).alias(c) for c in values]
    )


class Relation(NamedTuple):
    """One partial relation: its grain and its builder (events →
    partial cells)."""

    grain: tuple[str, ...]
    build: Callable[[DataFrame], DataFrame]


#: the five partial relations, keyed by their directory under the
#: rollup path (the session cache keys by the same names); the stream
#: updater appends in this order, the all-events relation last
_RELATIONS = {
    "partials": Relation(GRAIN, rollup_partials),
    "exec_events": Relation(EXEC_GRAIN, exec_events_partials),
    "stage_events": Relation(STAGE_GRAIN, stage_events_partials),
    "dur_hist": Relation(DUR_HIST_GRAIN, dur_hist_partials),
    "app_events": Relation(APP_GRAIN, app_events_partials),
}


# ==========================================================================
# serving twins — exact re-aggregations of the catalog queries
# ==========================================================================
def performance_trends_from_partials(p: DataFrame, limit: int = 500) -> DataFrame:
    """A5 served from partials (twin of ``catalog.performance_trends``,
    reference duckdb_store_backup.rs:488-546): AVG = merged SUM over
    merged non-NULL COUNT (NULL when the count is 0, matching SQL AVG
    over an empty/all-NULL group via the NULLIF guard)."""
    return (
        p.groupBy("event_date", "app_id")
        .agg(
            r4(safe_div(F.sum("sum_duration_ms"), F.sum("n_duration"))).alias(
                "avg_duration_ms"
            ),
            F.sum("n_tasks").alias("task_count"),
            F.sum("n_failed").alias("failed_tasks"),
            r4(safe_div(F.sum("sum_input_mb"), F.sum("n_input"))).alias(
                "avg_input_mb"
            ),
            r4(safe_div(F.sum("sum_output_mb"), F.sum("n_output"))).alias(
                "avg_output_mb"
            ),
        )
        .orderBy(F.desc("event_date"), "app_id")
        .limit(limit)
    )


def gc_time_trends_from_partials(p: DataFrame, limit: int = 500) -> DataFrame:
    """A6 served from partials (twin of ``catalog.gc_time_trends``,
    reference duckdb_store_backup.rs:551-613). The twin's AVG runs over
    the row-coalesced gc, whose non-NULL basis is every task row — so
    the merged denominator is n_tasks, not a separate count."""
    return (
        p.groupBy("event_date", "app_id")
        .agg(
            r4(F.sum("sum_gc_ms")).alias("total_gc_ms"),
            r4(F.sum("sum_gc_ms") / F.sum("n_tasks")).alias("avg_gc_ms"),
            F.sum("n_tasks").alias("task_count"),
            r4(F.sum("sum_gc_ms") / F.sum("n_tasks")).alias("gc_ms_per_task"),
        )
        .orderBy(F.desc("event_date"), "app_id")
        .limit(limit)
    )


def cpu_utilization_from_partials(p: DataFrame, limit: int = 1000) -> DataFrame:
    """A7 served from partials (twin of ``catalog.cpu_utilization``,
    reference duckdb_store_backup.rs:617-696). The grain keeps the RAW
    executor_id, so the twin's driver-coalesce happens here, at
    re-aggregation time; the derived ladder is the SAME code the raw
    twin runs (``catalog.cpu_utilization_derived``) — the two paths
    cannot drift on host-side logic."""
    from ..operators.catalog import cpu_utilization_derived

    agg = (
        p.groupBy(
            "event_date",
            "app_id",
            F.coalesce(F.col("executor_id"), F.lit("driver")).alias("executor_id"),
        )
        .agg(
            F.sum("n_tasks").alias("task_count"),
            r4(F.sum("sum_duration_ms")).alias("theoretical_cpu_ms"),
            r4(F.sum("sum_cpu_ms")).alias("actual_cpu_ms"),
        )
        .filter(F.col("task_count") > 0)
    )
    return cpu_utilization_derived(agg, limit)


def memory_usage_from_partials(p: DataFrame, limit: int = 1000) -> DataFrame:
    """A8 served from partials (twin of ``catalog.memory_usage``,
    reference duckdb_store_backup.rs:699-798): MAXes merge by MAX with
    the twin's default-coalesce applied to the FINAL merged value; the
    peak average keeps AVG's NULL-on-empty via the count guard."""
    from ..operators.catalog import memory_usage_derived

    agg = p.groupBy("event_date", "app_id", "executor_id").agg(
        r4(F.coalesce(F.max("max_jvm_heap_mb"), F.lit(1024.0))).alias(
            "max_memory_mb"
        ),
        r4(F.coalesce(F.max("max_peak_memory_mb"), F.lit(0.0))).alias(
            "peak_memory_max_mb"
        ),
        r4(safe_div(F.sum("sum_peak_memory_mb"), F.sum("n_peak"))).alias(
            "peak_memory_avg_mb"
        ),
        r4(F.sum("sum_mem_spill_mb")).alias("mem_spilled_mb"),
        r4(F.sum("sum_disk_spill_mb")).alias("disk_spilled_mb"),
    )
    return memory_usage_derived(agg, limit)


def _sum_coalesced(col: str) -> F.Column:
    """Merged ``SUM(COALESCE(x, 0))``: per-cell ``SUM(x)`` is
    null-skipping, so coalescing each cell's sum to 0 before the outer
    SUM adds exactly the zeros the row-level coalesce added."""
    return F.sum(F.coalesce(F.col(col), F.lit(0.0)))


def top_resource_consumers_from_partials(
    p: DataFrame, limit: int = 10
) -> DataFrame:
    """A13 served from partials (twin of
    ``catalog.top_resource_consumers``, reference
    duckdb_store_backup.rs:1155-1239); the derived ladders are the
    shared ``catalog.top_resource_consumers_derived`` fragment."""
    from ..functions.expressions import epoch_ms
    from ..operators.catalog import top_resource_consumers_derived

    agg = (
        p.groupBy("app_id")
        .agg(
            r4(
                _sum_coalesced("sum_peak_memory_mb") / F.sum("n_tasks")
            ).alias("avg_peak_memory_mb"),
            r4(F.max("max_peak_c0")).alias("max_peak_memory_mb"),
            r4(_sum_coalesced("sum_cpu_ms") / 1000.0).alias("total_cpu_s"),
            r4(F.sum("sum_disk_spill_mb")).alias("total_disk_spill_mb"),
            F.sum("n_tasks").alias("task_count"),
            epoch_ms(F.max("max_event_ts")).alias("last_seen_ms"),
        )
        .filter(F.col("max_peak_memory_mb") > 0)
    )
    return top_resource_consumers_derived(agg, limit)


def efficiency_analysis_from_partials(
    p: DataFrame, limit: int = 10
) -> DataFrame:
    """A14 served from partials (twin of ``catalog.efficiency_analysis``,
    reference duckdb_store_backup.rs:1242-1360)."""
    from ..functions.expressions import r6
    from ..operators.catalog import efficiency_analysis_derived

    agg = (
        p.groupBy("app_id")
        .agg(
            r4(
                _sum_coalesced("sum_peak_memory_mb") / F.sum("n_tasks")
            ).alias("avg_peak_memory_mb"),
            r4(F.max("max_peak_c0")).alias("max_peak_memory_mb"),
            r6(
                _sum_coalesced("sum_cpu_ms") / F.sum("n_tasks") / 1000.0
            ).alias("avg_cpu_s"),
            r6(
                safe_div(F.sum("sum_duration_ms"), F.sum("n_duration"))
                / 1000.0
            ).alias("avg_wall_s"),
            F.sum("n_tasks").alias("task_count"),
        )
        .filter(F.col("task_count") > 5)
    )
    return efficiency_analysis_derived(agg, limit)


def capacity_trends_from_partials(p: DataFrame, limit: int = 30) -> DataFrame:
    """A15 served from partials (twin of ``catalog.capacity_trends``,
    reference duckdb_store_backup.rs:1363-1426). ``active_apps`` keeps
    the raw twin's Expand-free ``size(collect_set)`` form — over the
    tiny cell relation the set aggregate is map-side-combined and
    bounded by the deployment's app count, exactly as documented
    there."""
    from ..operators.catalog import capacity_trends_derived

    agg = p.groupBy("event_date").agg(
        r4(_sum_coalesced("sum_peak_memory_mb") / 1024.0).alias(
            "total_memory_gb"
        ),
        F.size(F.collect_set("app_id")).cast("long").alias("active_apps"),
        F.sum("n_tasks").alias("total_tasks"),
        r4(_sum_coalesced("sum_cpu_ms") / F.sum("n_tasks") / 1000.0).alias(
            "avg_cpu_s"
        ),
    )
    return capacity_trends_derived(agg, limit)


def cost_optimization_from_partials(
    p: DataFrame, limit: int = 10
) -> DataFrame:
    """A16 served from partials (twin of ``catalog.cost_optimization``,
    reference duckdb_store_backup.rs:1429-1547)."""
    from ..operators.catalog import cost_optimization_derived

    agg = (
        p.groupBy("app_id")
        .agg(
            r4(
                _sum_coalesced("sum_peak_memory_mb") / F.sum("n_tasks")
            ).alias("avg_peak_memory_mb"),
            r4(F.max("max_peak_c0")).alias("max_peak_memory_mb"),
            r4(
                safe_div(F.sum("sum_duration_ms"), F.sum("n_duration"))
                / 1000.0
            ).alias("avg_duration_s"),
            F.sum("n_tasks").alias("task_count"),
            r4(F.sum("sum_disk_spill_mb")).alias("total_disk_spill_mb"),
        )
        .filter(F.col("task_count") > 3)
    )
    return cost_optimization_derived(agg, limit)


def applications_from_partials(app_p: DataFrame, limit: int = 100) -> DataFrame:
    """A1 served from the per-app all-events partials (twin of
    ``catalog.applications``, reference duckdb_store_backup.rs:156-218)."""
    from ..functions.expressions import epoch_ms

    return (
        app_p.groupBy("app_id")
        .agg(
            epoch_ms(F.min("min_ts")).alias("start_ms"),
            epoch_ms(F.max("max_ts")).alias("end_ms"),
            F.sum("n_events").alias("event_count"),
        )
        .orderBy(F.desc("end_ms"), "app_id")
        .limit(limit)
    )


def executor_summary_from_partials(
    p: DataFrame, exec_p: DataFrame
) -> DataFrame:
    """A4 served from partials (twin of ``catalog.executor_summary``,
    reference duckdb_store_backup.rs:320-450). The raw twin collapses
    the reference's three FULL OUTER joins into one conditional
    aggregation; here the two event populations live in two partial
    relations, so the serve is one FULL OUTER join of two tiny
    per-executor aggregates — the same algebra, same COALESCE defaults,
    same "survivors from any branch" key union."""
    from ..functions.expressions import epoch_ms

    task_agg = (
        p.filter(F.col("executor_id").isNotNull())
        .groupBy(F.col("executor_id"))
        .agg(
            F.sum("n_tasks").alias("t_total"),
            (F.sum("n_tasks") - F.sum("n_failed")).alias("t_completed"),
            r4(F.sum("sum_duration_ms")).alias("t_duration"),
            r4(F.sum("sum_gc_ms")).alias("t_gc"),
            r4(F.sum("sum_input_mb")).alias("t_input"),
            r4(F.sum("sum_shuffle_read_mb")).alias("t_sread"),
            r4(F.sum("sum_shuffle_write_mb")).alias("t_swrite"),
        )
    )
    exec_agg = exec_p.groupBy(
        F.coalesce(F.col("executor_id"), F.lit("driver")).alias("executor_id")
    ).agg(
        F.min("min_add_ts").alias("e_add_ts"),
        F.max("max_rem_ts").alias("e_rem_ts"),
        F.max("max_add_cores").alias("e_cores"),
        F.sum("n_rem").alias("e_n_rem"),
    )
    joined = task_agg.alias("t").join(
        exec_agg.alias("e"), "executor_id", "full_outer"
    )
    z = F.lit(0.0)
    return (
        joined.select(
            F.col("executor_id"),
            epoch_ms(F.col("e_add_ts")).alias("add_time_ms"),
            epoch_ms(F.col("e_rem_ts")).alias("remove_time_ms"),
            F.coalesce(F.col("e_cores"), F.lit(1.0)).cast("long").alias("cores"),
            (F.coalesce(F.col("e_n_rem"), F.lit(0)) == 0).alias("is_active"),
            F.coalesce(F.col("t_total"), F.lit(0)).alias("total_tasks"),
            F.coalesce(F.col("t_completed"), F.lit(0)).alias("completed_tasks"),
            F.coalesce(F.col("t_duration"), z).alias("total_duration_ms"),
            F.coalesce(F.col("t_gc"), z).alias("total_gc_ms"),
            F.coalesce(F.col("t_input"), z).alias("total_input_mb"),
            F.coalesce(F.col("t_sread"), z).alias("total_shuffle_read_mb"),
            F.coalesce(F.col("t_swrite"), z).alias("total_shuffle_write_mb"),
        )
        # one row per executor: sorted in a single partition like the
        # raw twin, with no range sort's sampling job and second shuffle
        .coalesce(1)
        .sortWithinPartitions("executor_id")
    )


def executor_utilization_from_partials(
    p: DataFrame, limit: int = 20
) -> DataFrame:
    """A11 served from partials (twin of ``catalog.executor_utilization``,
    reference duckdb_store_backup.rs:933-1007): host and app are grain
    keys, so the distinct-app set and the locality conditional counts
    re-aggregate exactly; ``apps_served`` keeps the raw twin's sorted
    Expand-free ``collect_set`` form over the tiny cell relation."""
    return (
        p.filter(
            F.col("executor_id").isNotNull()
            & (F.col("executor_id") != "driver")
        )
        .groupBy("executor_id", "host")
        .agg(
            F.sum("n_tasks").alias("total_tasks"),
            r4(F.sum("sum_duration_ms")).alias("total_duration_ms"),
            F.size(F.collect_set("app_id")).cast("long").alias("distinct_apps"),
            (F.sum("n_loc_process") + F.sum("n_loc_node")).alias(
                "locality_hits"
            ),
            r4(F.max("max_peak_memory_mb")).alias("max_peak_memory_mb"),
            F.to_json(F.sort_array(F.collect_set("app_id"))).alias(
                "apps_served"
            ),
        )
        .orderBy(F.desc("total_tasks"), "executor_id")
        .limit(limit)
    )


def resource_utilization_metrics_from_partials(
    p: DataFrame, app_p: DataFrame, limit: int = 1000
) -> DataFrame:
    """A12 served from partials (twin of
    ``catalog.resource_utilization_metrics``, reference
    duckdb_store_backup.rs:1010-1148): the 20-aggregate metrics side
    re-aggregates from the task partials (pre-coalesced MAX cells make
    the jvm-default merge exact), the J2/J3 liveness side from the
    per-app all-events partials; the LEFT join + derived tail is the
    shared ``catalog.resource_utilization_derived`` fragment."""
    from ..functions.expressions import epoch_ms
    from ..operators.catalog import resource_utilization_derived

    m = (
        p.filter(F.col("executor_id").isNotNull())
        .groupBy("app_id", "executor_id", "host")
        .agg(
            F.sum("n_tasks").alias("total_tasks"),
            (F.sum("n_tasks") - F.sum("n_failed")).alias("successful_tasks"),
            F.sum("n_failed").alias("failed_tasks"),
            r4(F.sum("sum_duration_ms")).alias("total_duration_ms"),
            r4(safe_div(F.sum("sum_duration_ms"), F.sum("n_duration"))).alias(
                "avg_duration_ms"
            ),
            r4(F.sum("sum_cpu_ms")).alias("total_cpu_ms"),
            r4(F.sum("sum_gc_ms")).alias("total_gc_ms"),
            r4(F.max("max_peak_c0")).alias("max_peak_memory_mb"),
            r4(F.max("max_jvm_c1024")).alias("max_jvm_heap_mb"),
            r4(_sum_coalesced("sum_input_mb")).alias("total_input_mb"),
            r4(_sum_coalesced("sum_output_mb")).alias("total_output_mb"),
            r4(_sum_coalesced("sum_shuffle_read_mb")).alias(
                "total_shuffle_read_mb"
            ),
            r4(_sum_coalesced("sum_shuffle_write_mb")).alias(
                "total_shuffle_write_mb"
            ),
            r4(F.sum("sum_disk_spill_mb")).alias("total_disk_spill_mb"),
            r4(F.sum("sum_mem_spill_mb")).alias("total_mem_spill_mb"),
            F.sum("n_loc_process").alias("process_local_tasks"),
            F.sum("n_loc_node").alias("node_local_tasks"),
            F.sum("n_loc_rack").alias("rack_local_tasks"),
            F.sum("n_loc_any").alias("any_locality_tasks"),
            epoch_ms(F.min("min_event_ts")).alias("first_task_ms"),
            epoch_ms(F.max("max_event_ts")).alias("last_task_ms"),
        )
    )
    app_status = app_p.groupBy(F.col("app_id").alias("s_app_id")).agg(
        (F.coalesce(F.sum("n_app_end"), F.lit(0)) == 0).alias("s_is_active")
    )
    return resource_utilization_derived(m, app_status, limit)


def resource_usage_summary_from_partials(app_p: DataFrame) -> DataFrame:
    """A3 served from the all-events partials (twin of
    ``catalog.resource_usage_summary``, reference
    duckdb_store_backup.rs:250-284): (app, type, day) are exactly the
    v2 grain keys, so the serve is a re-aggregation of already-merged
    cells — event_count by SUM, the null-skipping duration AVG from the
    sum/count pair (NULL on zero count via the NULLIF guard, matching
    SQL AVG)."""
    return (
        app_p.groupBy("app_id", "event_type", "event_date")
        .agg(
            F.sum("n_events").alias("event_count"),
            r4(
                safe_div(F.sum("sum_duration_ms"), F.sum("n_duration"))
            ).alias("avg_duration_ms"),
        )
        .orderBy(F.desc("event_date"), "app_id", "event_type")
    )


def cross_app_summary_from_partials(
    p: DataFrame, app_p: DataFrame
) -> DataFrame:
    """A9 served from partials (twin of ``catalog.cross_app_summary``,
    reference duckdb_store_backup.rs:801-857, quirk preserved): the raw
    twin is already a two-level aggregation (per-app, then global), so
    serving re-creates the SAME per-app intermediate from cells — the
    all-event sums (events, coalesced input, cores, first/last ts) from
    the all-events relation, the task-outcome sums from the task
    relation — and runs the identical global aggregate.

    The join is app-side LEFT task-side on a null-safe key: the
    all-events relation covers every row the raw per-app groupBy sees
    (including the NULL-app group, which contributes to the global sums
    but not to the app counts), and SUM's null-skipping makes the
    missing task side of task-less apps contribute exactly the zeros
    the raw twin's count_if produced."""
    from ..functions.expressions import epoch_ms

    a = app_p.groupBy("app_id").agg(
        F.sum("n_events").alias("n_events"),
        (F.sum("n_events") - F.sum("n_app_end")).alias("n_non_end"),
        F.sum("sum_input_c0").alias("input_mb_sum"),
        F.max("max_cores").alias("max_cores"),
        F.min("min_ts").alias("min_ts"),
        F.max("max_ts").alias("max_ts"),
    )
    t = p.groupBy(F.col("app_id").alias("t_app_id")).agg(
        (F.sum("n_tasks") - F.sum("n_failed")).alias("n_succ"),
        F.sum("n_failed").alias("n_fail"),
        F.sum("sum_duration_ms").alias("task_dur_sum"),
        F.sum("n_duration").alias("task_dur_n"),
    )
    per_app = a.join(
        t, a["app_id"].eqNullSafe(t["t_app_id"]), "left"
    ).drop("t_app_id")
    return per_app.agg(
        count_if(F.col("app_id").isNotNull()).alias("total_applications"),
        count_if(F.col("app_id").isNotNull() & (F.col("n_non_end") > 0)).alias(
            "active_applications"
        ),
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("total_events"),
        F.coalesce(F.sum("n_succ"), F.lit(0)).alias("successful_tasks"),
        F.coalesce(F.sum("n_fail"), F.lit(0)).alias("failed_tasks"),
        r4(safe_div(F.sum("task_dur_sum"), F.sum("task_dur_n"))).alias(
            "avg_task_duration_ms"
        ),
        r4(F.sum("input_mb_sum") / 1024.0).alias("total_input_gb"),
        F.coalesce(F.max("max_cores"), F.lit(0.0)).cast("long").alias(
            "max_total_cores"
        ),
        epoch_ms(F.min("min_ts")).alias("first_event_ms"),
        epoch_ms(F.max("max_ts")).alias("last_event_ms"),
    )


def task_distribution_from_partials(
    stage_p: DataFrame, limit: int = 500
) -> DataFrame:
    """A10 served from the per-stage partials (twin of
    ``catalog.task_distribution``, reference
    duckdb_store_backup.rs:860-930): outcome counts and the locality
    pivot merge by SUM, the duration AVG from the sum/count pair,
    MIN/MAX by MIN/MAX — rounding stays on the FINAL values, as
    everywhere in this module."""
    return (
        stage_p.groupBy("app_id", "stage_id")
        .agg(
            F.sum("n_tasks").alias("total_tasks"),
            (F.sum("n_tasks") - F.sum("n_failed")).alias("successful_tasks"),
            F.sum("n_failed").alias("failed_tasks"),
            r4(
                safe_div(F.sum("sum_duration_ms"), F.sum("n_duration"))
            ).alias("avg_duration_ms"),
            r4(F.min("min_duration_ms")).alias("min_duration_ms"),
            r4(F.max("max_duration_ms")).alias("max_duration_ms"),
            F.sum("n_loc_process").alias("process_local_tasks"),
            F.sum("n_loc_node").alias("node_local_tasks"),
            F.sum("n_loc_rack").alias("rack_local_tasks"),
            F.sum("n_loc_any").alias("any_locality_tasks"),
        )
        .orderBy("app_id", "stage_id")
        .limit(limit)
    )


# ==========================================================================
# the twin table — one row per rollup-served analytic drives every form
# ==========================================================================
class Twin(NamedTuple):
    """How one analytic is served from partial cells: its finalizer and
    the partial relations it reads, in the finalizer's argument order."""

    finalize: Callable[..., DataFrame]
    relations: tuple[str, ...]

    @property
    def limit(self) -> int | None:
        """The finalizer's default ``limit`` (the REST default too), or
        None for a twin that takes none."""
        param = inspect.signature(self.finalize).parameters.get("limit")
        return None if param is None else param.default

    def serve(self, relation: Callable[[str], DataFrame], **kw) -> DataFrame:
        """Finalize over ``relation(name)`` for each relation the twin
        reads; ``kw`` (``limit``) passes to the finalizer."""
        return self.finalize(*map(relation, self.relations), **kw)


#: every analytic served BOTH raw-scan (``catalog.<name>``) and from the
#: rollup with the same rows — the serve≡scan differential surface. Each
#: row generates ``<name>_rollup(ev)`` (session-cached partials; the
#: registered query) and ``<name>_from_rollup(spark, path[, limit])``
#: (the durable rollup); the registry, the oracle aliases and the
#: ``/api/v1/metrics/*`` routes loop over it. Order is registry order.
#: The percentile sketch is not an exact twin (see DURATION_SKETCH).
ROLLUP_TWINS: dict[str, Twin] = {
    "performance_trends": Twin(performance_trends_from_partials, ("partials",)),
    "gc_time_trends": Twin(gc_time_trends_from_partials, ("partials",)),
    "cpu_utilization": Twin(cpu_utilization_from_partials, ("partials",)),
    "memory_usage": Twin(memory_usage_from_partials, ("partials",)),
    "top_resource_consumers": Twin(
        top_resource_consumers_from_partials, ("partials",)
    ),
    "efficiency_analysis": Twin(efficiency_analysis_from_partials, ("partials",)),
    "capacity_trends": Twin(capacity_trends_from_partials, ("partials",)),
    "cost_optimization": Twin(cost_optimization_from_partials, ("partials",)),
    "applications": Twin(applications_from_partials, ("app_events",)),
    "executor_summary": Twin(
        executor_summary_from_partials, ("partials", "exec_events")
    ),
    "executor_utilization": Twin(
        executor_utilization_from_partials, ("partials",)
    ),
    "resource_utilization_metrics": Twin(
        resource_utilization_metrics_from_partials, ("partials", "app_events")
    ),
    "resource_usage_summary": Twin(
        resource_usage_summary_from_partials, ("app_events",)
    ),
    "cross_app_summary": Twin(
        cross_app_summary_from_partials, ("partials", "app_events")
    ),
    "task_distribution": Twin(task_distribution_from_partials, ("stage_events",)),
}


def materialized_session_relation(ev: DataFrame, rel: str) -> DataFrame:
    """One partial relation of ``ev``, built ONCE per events frame
    through the shared keyed cache (the dedup shingle-cache pattern), so
    the registered ``*_rollup`` queries read persisted tiny relations
    instead of re-scanning the events. This is the in-session analog of
    the durable relation :func:`materialized_rollup_relation` serves."""
    from ..operators.dedup import _materialized_df

    return _materialized_df(
        ev.sparkSession, f"_metrics_rollup_{rel}", ev.semanticHash(),
        lambda: _RELATIONS[rel].build(ev),
    )


def _serving_forms(name: str, twin: Twin) -> tuple[Callable, Callable]:
    """``<name>_rollup`` and ``<name>_from_rollup`` for one table row."""

    def rollup(ev: DataFrame) -> DataFrame:
        return twin.serve(lambda rel: materialized_session_relation(ev, rel))

    def from_rollup(spark: SparkSession, path: str, **kw) -> DataFrame:
        return twin.serve(
            lambda rel: materialized_rollup_relation(spark, path, rel), **kw
        )

    rels = " + ".join(twin.relations)
    for fn, suffix, source in (
        (rollup, "rollup", f"the session-cached {rels} partials of ``ev``"),
        (from_rollup, "from_rollup", f"the durable rollup's {rels} at ``path``"),
    ):
        fn.__name__ = fn.__qualname__ = f"{name}_{suffix}"
        fn.__doc__ = (
            f"``catalog.{name}`` served from {source}; same rows, same "
            "oracle. Generated from ROLLUP_TWINS."
        )
    return rollup, from_rollup


for _name, _twin in ROLLUP_TWINS.items():
    globals()[f"{_name}_rollup"], globals()[f"{_name}_from_rollup"] = (
        _serving_forms(_name, _twin)
    )


# ==========================================================================
# durable lifecycle — write / read / stream / delete / compact / validate
# ==========================================================================
def _stamp(df: DataFrame, batch: int, lineage: str) -> DataFrame:
    """Tag partial rows with their provenance: the stream batch id and
    the checkpoint lineage the serve-time key-dedup and the folded-batch
    watermark are scoped by (module docstring, lineage story)."""
    return df.withColumn(
        "ingest_batch", F.lit(int(batch)).cast("long")
    ).withColumn("ingest_lineage", F.lit(lineage))


def _day_clustered(df: DataFrame) -> DataFrame:
    """Cluster a partial relation by its day partition key with an
    EXPLICIT width (r15, guide §2.6 idle capacity / VERDICT r14 #5):
    the bare ``repartition(col)`` is AQE-coalescable and the cells-sized
    relations collapse to ONE post-shuffle partition — a single task
    then writes every day directory's file SEQUENTIALLY (measured at
    sf0.1: the 30-day write runs 3.0 s single-task vs 1.2 s at explicit
    width, min-of-3, same session). Width = defaultParallelism: the
    explicit count is deliberately not AQE-coalescable, days hash
    across the cluster's slots (1 task ≈ 1 day here; several days per
    task when the corpus spans years), and each day still lands in
    exactly ONE partition → exactly one file per day directory — the
    r13 small-files contract unchanged."""
    width = max(1, int(df.sparkSession.sparkContext.defaultParallelism))
    return df.repartition(width, F.col("event_date"))


def write_metrics_rollup(ev: DataFrame, path: str) -> None:
    """INDEX phase: overwrite ``partials/`` from the events frame
    (idempotent — re-running rebuilds identical content). Orderings
    shared with the other families: the pre-counted cell count dies
    BEFORE membership changes (stale-count-never-serves across any
    crash window), and tombstones retire LAST (every crash window
    mid-rebuild serves with suppression still applied — a deleted
    app can never silently resurrect; the residual freshly-reindexed-
    but-suppressed window is the safe direction and clears on re-run,
    the ADVICE-r11 ordering ``write_dedup_index`` pins)."""
    from .dedup_index import compact_relation_swap, invalidate_count_row
    from .index_manifest import path_exists

    spark = ev.sparkSession
    invalidate_count_row(spark, path)
    # cluster by the partition key: ONE file per day directory instead
    # of shuffle-partition-count files — the relations are cells-sized,
    # so per-file open/seek and the serving cache's per-call fingerprint
    # listing dominate scan cost when files are many and tiny (measured
    # at the 10x tier: 960 files → 30 cut the warm serve ~2x). A day
    # whose cells outgrow one healthy file is what compaction's
    # maxRecordsPerFile-free rewrite is for at this relation's scale.
    # Explicit width so the day writes run as PARALLEL tasks (r15 —
    # see _day_clustered).
    rels = [
        (rel, _day_clustered(_stamp(r.build(ev), _BATCH_BUILD, _BATCH_LINEAGE)))
        for rel, r in _RELATIONS.items()
    ]
    # The five partial relations are independent aggregations of the
    # same events frame writing to five disjoint directories — run the
    # writes overlapped (guide §2.6) so each relation's reduce/write
    # tail back-fills with the next relation's scan instead of leaving
    # the cluster idle between five sequential jobs (the build was wall
    # = Σ(relations); overlapped it approaches max(relations)). Crash
    # semantics are unchanged in kind: a crash mid-build leaves a mix
    # of old/new relations exactly as the sequential build could (a
    # different subset, not a prefix) and the rebuild is the repair;
    # the count row still dies first and is rewritten live last.
    from concurrent.futures import ThreadPoolExecutor

    def _write_rel(rel: str, frame: DataFrame) -> None:
        frame.write.mode("overwrite").partitionBy("event_date").parquet(
            f"{path}/{rel}"
        )

    # pool width = the relation count: five bounded cells-sized write
    # jobs don't fight for executors even on a busy cluster, and a
    # 3-wide pool measurably serialized the last two writes behind the
    # first three (measured ~1 s at sf0.1)
    with ThreadPoolExecutor(max_workers=len(rels)) as pool:
        futures = [pool.submit(_write_rel, rel, frame) for rel, frame in rels]
        for fut in futures:
            fut.result()
    if path_exists(spark, f"{path}/deleted_apps"):
        compact_relation_swap(
            spark,
            spark.read.parquet(f"{path}/deleted_apps").select("app_id").limit(0),
            f"{path}/deleted_apps", None, sort_cols=["app_id"],
        )
    _write_cell_count(spark, path)


def _write_cell_count(spark: SparkSession, path: str) -> None:
    """Persist the one-row live-cell count (grain cells minus tombstoned
    apps) the status endpoint serves without scanning. A rollup whose
    task relation was never built (deletion invoked against a fresh or
    lifecycle-only path — the ADVICE-r12 edge) counts as zero cells
    instead of crashing on the absent relation."""
    from .dedup_index import write_count_row
    from .index_manifest import path_exists

    if not path_exists(spark, f"{path}/partials"):
        write_count_row(spark, path, "n_cells", 0)
        return
    n = (
        read_rollup_partials(spark, path)
        .select(*GRAIN).distinct().count()
    )
    write_count_row(spark, path, "n_cells", n)


def _tombstoned_app_ids(spark: SparkSession, path: str) -> DataFrame | None:
    """The S17 tombstone set, or None when deletion never touched this
    rollup. Empty-after-retirement reads as an empty set and stays
    attestable (same contract as S13's ``deleted_ids``)."""
    from .index_manifest import path_exists

    if not path_exists(spark, f"{path}/deleted_apps"):
        return None
    return spark.read.parquet(f"{path}/deleted_apps").select("app_id").distinct()


def read_rollup_partials(spark: SparkSession, path: str) -> DataFrame:
    """Every serving read of the durable relation: restore the partition
    column's string type (partition inference reads 'yyyy-MM-dd' back
    as DATE), de-duplicate batch retries on (grain, lineage, batch) —
    see the module docstring's exactly-once story — and anti-join the
    app tombstones. Per-app partial cells are independent, so
    suppression is exact for this family (the S13 argument: a
    suppressed app is indistinguishable from one never ingested).

    This is the UNCACHED builder — maintenance internals (compaction,
    the cell-count writer) read it directly so they always see disk;
    the serving twins go through :func:`materialized_rollup_relation`,
    which runs this ONCE per index state and keeps the result
    persisted."""
    return _read_rollup_relation(spark, path, "partials")


def _check_rollup_layout(df: DataFrame, where: str) -> None:
    """Fail CLEARLY on a stale on-disk layout instead of letting a later
    ``dropDuplicates``/merge raise an opaque missing-column
    AnalysisException (ADVICE r13): v1 lacked ``event_type`` in
    app_events, v2 (r13) lacked ``ingest_lineage`` — one probe catches
    both, since every v3 relation carries the lineage column."""
    if "ingest_lineage" not in df.columns:
        raise ValueError(
            f"pre-r14 metrics-rollup layout at {where}: no "
            "'ingest_lineage' column (v1/v2 on-disk schema). The "
            "lineage-scoped exactly-once serving cannot attribute these "
            "rows — rebuild the rollup with write_metrics_rollup(...) "
            "from the event sink (the rollup is re-derivable by design)."
        )


def _read_rollup_relation(spark: SparkSession, path: str, rel: str) -> DataFrame:
    p = spark.read.parquet(f"{path}/{rel}").withColumn(
        "event_date", F.col("event_date").cast("string")
    )
    _check_rollup_layout(p, f"{path}/{rel}")
    p = p.dropDuplicates(
        [*_RELATIONS[rel].grain, "ingest_lineage", "ingest_batch"]
    )
    tomb = _tombstoned_app_ids(spark, path)
    if tomb is not None:
        p = p.join(tomb, "app_id", "left_anti")
    return p


#: parquet bytes per partition of a served (cached) rollup relation —
#: the session's ``spark.sql.files.maxPartitionBytes``
_SERVED_PARTITION_BYTES = 128 << 20


def materialized_rollup_relation(
    spark: SparkSession, path: str, rel: str = "partials"
) -> DataFrame:
    """The serving twins' warm state: the deduped + suppressed partial
    relation, persisted through the shared thread-safe keyed cache (the
    S13 ``_materialized_index_relation`` pattern). A warm dashboard
    refresh is then ONE aggregation over an in-memory cells-sized frame
    — no parquet re-read, no retry-dedup shuffle per call; those run
    once per INDEX STATE. The cache key is the file-listing fingerprint
    of ``partials/`` joined with the tombstone relation's (a deletion
    changes what this serves without touching partial files — the S13
    staleness-key reasoning), so streamed appends, compaction swaps,
    and deletes all invalidate where a plan hash would not.

    The relation is cached in one partition per
    ``_SERVED_PARTITION_BYTES`` of parquet, not in the dedup shuffle's
    partitions: a warm chart over a few hundred cells then runs one task
    per stage (measured 290-380 → 120-160 ms per chart, four dashboard
    panels 0.9-1.0 → 0.4-0.5 s, 227 cells on 4 cores)."""
    from ..operators.dedup import _materialized_df
    from .dedup_index import _relation_fingerprint

    files = _relation_fingerprint(spark, f"{path}/{rel}")
    key = hash((
        path,
        rel,
        files,
        _relation_fingerprint(spark, f"{path}/deleted_apps"),
    ))
    n_parts = max(1, -(-sum(f[1] for f in files) // _SERVED_PARTITION_BYTES))
    return _materialized_df(
        spark,
        f"_rollup_{rel}_served",
        key,
        lambda: _read_rollup_relation(spark, path, rel).coalesce(n_parts),
    )


def task_duration_percentiles_from_rollup(
    spark: SparkSession, path: str
) -> DataFrame:
    """§2.5's scale path: P50/P90/P95/P99 task durations per event type
    served from the durable DDSketch histogram — the raw-scan-free twin
    of ``catalog.task_duration_percentiles`` (which is exact but
    holistic, hence deliberately NOT servable from algebraic cells).
    Bucket counts re-aggregate by SUM; each quantile interpolates
    between the midpoint estimates 2γ^i/(γ+1) of the buckets holding
    the ``floor``/``ceil`` of the fractional rank ``q·(n-1)`` — the
    bucket-level mirror of SQL's ``quantile_cont``, so the estimate
    tracks the exact op even on sparse heavy tails where the two
    neighboring order statistics sit buckets apart (a pure DDSketch
    single-bucket pick is then a whole neighbor off, far beyond the
    (γ-1)/(γ+1) ≈ 0.99% per-value bound that otherwise applies).
    Pinned within 5% of the exact op in the test suite (the
    HLL-sibling contract: sketch estimates are algorithm-specific, so
    no shared DuckDB oracle). Plan shape: a day-prunable cells scan,
    one bounded groupBy, one per-type window — no fact-table access."""
    return task_duration_percentiles_from_hist(
        materialized_rollup_relation(spark, path, "dur_hist")
    )


def task_duration_percentiles_from_hist(hist: DataFrame) -> DataFrame:
    """The sketch finalizer over an (already deduped/suppressed, maybe
    day-windowed) ``dur_hist`` relation — split out so the REST route
    can apply its day predicate before finalizing."""
    from pyspark.sql.window import Window

    h = hist.groupBy("event_type", "bucket").agg(F.sum("n").alias("n"))
    w = Window.partitionBy("event_type").orderBy("bucket")
    h = h.withColumn("cum", F.sum("n").over(w)).withColumn(
        "n_total", F.sum("n").over(Window.partitionBy("event_type"))
    ).withColumn(
        "est",
        F.when(F.col("bucket") == -(2**31), F.lit(0.0)).otherwise(
            F.lit(2.0)
            * F.exp(F.col("bucket") * F.log(F.lit(_DD_GAMMA)))
            / F.lit(_DD_GAMMA + 1.0)
        ),
    )
    qs = (
        (0.5, "p50_ms"), (0.9, "p90_ms"), (0.95, "p95_ms"), (0.99, "p99_ms")
    )
    rank = {name: F.lit(q) * (F.col("n_total") - 1) for q, name in qs}
    aggs = [F.max("n_total").alias("n_total")]
    for q, name in qs:
        aggs.append(
            F.min(
                F.when(F.col("cum") > F.floor(rank[name]), F.col("est"))
            ).alias(f"_lo_{name}")
        )
        aggs.append(
            F.min(
                F.when(F.col("cum") > F.ceil(rank[name]), F.col("est"))
            ).alias(f"_hi_{name}")
        )
    out = h.groupBy("event_type").agg(*aggs)
    frac = {
        name: F.lit(q) * (F.col("n_total") - 1)
        - F.floor(F.lit(q) * (F.col("n_total") - 1))
        for q, name in qs
    }
    return out.select(
        "event_type",
        *[
            r4(
                F.col(f"_lo_{name}")
                + frac[name] * (F.col(f"_hi_{name}") - F.col(f"_lo_{name}"))
            ).alias(name)
            for _, name in qs
        ],
    ).orderBy("event_type")


#: the percentile sketch, served like a twin but kept OUT of
#: ROLLUP_TWINS: it estimates the exact holistic op within tolerance, so
#: it shares no oracle and has no registered query
DURATION_SKETCH = Twin(task_duration_percentiles_from_hist, ("dur_hist",))


# --------------------------------------------------------------------------
# folded-batch high-watermark (the compaction/replay exactly-once closure)
# --------------------------------------------------------------------------
def _read_folded_hwm(
    spark: SparkSession, path: str
) -> dict[tuple[str, str], int]:
    """Per-(relation, lineage) highest stream batch id ever folded by
    compaction. Absent (never compacted) reads as empty — every batch
    appends, the serve-time key-dedup covers replays. A pre-r14 file
    (no lineage column) fails loud: its batch ids cannot be attributed
    to a checkpoint lineage, so skipping on them risks the ADVICE-r13
    silent-drop — rebuild is the remediation."""
    from .index_manifest import path_exists

    if not path_exists(spark, f"{path}/folded_hwm"):
        return {}
    df = spark.read.parquet(f"{path}/folded_hwm")
    if "lineage" not in df.columns:
        raise ValueError(
            f"pre-r14 folded_hwm layout at {path}/folded_hwm: batch "
            "watermarks without a checkpoint lineage cannot scope the "
            "replay skip — rebuild the rollup with "
            "write_metrics_rollup(...)."
        )
    return {
        (r["relation"], r["lineage"]): int(r["folded_batch"])
        for r in df.collect()
    }


def _write_folded_hwm(
    spark: SparkSession, path: str, hwm: dict[tuple[str, str], int]
) -> None:
    rows = [(rel, lin, int(b)) for (rel, lin), b in sorted(hwm.items())]
    from .dedup_index import compact_relation_swap

    compact_relation_swap(
        spark,
        spark.createDataFrame(
            rows, "relation string, lineage string, folded_batch bigint"
        ),
        f"{path}/folded_hwm", None, sort_cols=["relation", "lineage"],
    )


def _checkpoint_lineage(spark: SparkSession, checkpoint: str) -> str:
    """The stream's lineage identity: the Structured Streaming query id
    persisted in ``{checkpoint}/metadata`` at stream start (before batch
    0 executes). Stable across restarts of the SAME checkpoint — which
    is exactly the scope within which batch ids map to stable content —
    and fresh for a new checkpoint, which is what makes the folded-hwm
    skip safe to scope by it. Read through the Spark reader so any
    Hadoop-compatible FS scheme works."""
    return spark.read.json(f"{checkpoint}/metadata").collect()[0]["id"]


def stream_update_metrics_rollup(
    ev_stream: DataFrame,
    path: str,
    checkpoint: str,
    accept_new_lineage: bool = False,
):
    """Streaming MAINTENANCE: per micro-batch, aggregate the batch's
    task rows to grain partials tagged with (checkpoint lineage, batch
    id) and APPEND — no read-modify-write, so maintenance never races
    serving reads and history is never rewritten on the hot path.
    Serving re-aggregation merges cross-batch cells transparently;
    compaction folds them in the maintenance slot.

    Crash orderings: the pre-counted cell count is invalidated BEFORE
    the batch's rows land (no stale count can serve); a tombstoned app
    re-arriving REVIVES — its tombstone retires before the append
    (latest wins, the S13 revive shape), probed first so the rewrite
    only runs when the batch actually intersects the tombstone set.

    Replay-after-compaction (the ADVICE-r12 exactly-once hole): a batch
    whose rows landed but whose checkpoint commit crashed is replayed
    on restart; if compaction ran in between, the fold absorbed the
    original rows into ``ingest_batch = -1`` and the serve-time
    (grain, lineage, batch) dedup can no longer recognize the retry.
    Compaction therefore persists a folded-batch high-watermark before
    it folds, and this updater skips appending to any relation whose
    fold already absorbed this batch id. Per relation — not per batch —
    because the original attempt may have crashed mid-batch with only
    some relations appended: the folded ones skip, the never-landed
    ones append on the retry.

    The skip is scoped to THIS stream's checkpoint lineage (ADVICE
    r13): batch ids are meaningless across checkpoints — a fresh
    checkpoint repacks the source into new batch ids, so a
    lineage-blind skip would silently drop never-ingested files the
    fresh run packed at-or-below the watermark. A lineage this rollup
    has never seen is refused LOUDLY by default when foreign stream
    appends already exist (neither skipping nor appending is provably
    exactly-once across lineages); pass ``accept_new_lineage=True``
    only when the new stream's source is disjoint from everything
    already ingested (the incremental pattern — batch-built history
    plus a new feed needs no opt-in, since ``batch`` rows are not
    stream traffic).

    Tombstone interaction with replays (ADVICE r13 #2): a batch any of
    whose relations was hwm-skipped is (at least partially) REPLAY
    traffic — late re-delivery of pre-crash rows, not new data — so it
    must not retire tombstones laid after the original attempt: the
    revive probe runs only for genuinely-new batches. The skipped-but-
    appending relations still land; if their app is tombstoned the
    serve-time suppression hides those rows, which is the correct
    erasure semantics (the rows predate the delete).

    Returns the started StreamingQuery (availableNow-compatible)."""
    state: dict = {}

    def _rollup_batch(batch_df: DataFrame, batch_id: int) -> None:
        from .dedup_index import compact_relation_swap, invalidate_count_row
        from .index_manifest import path_exists

        spark = batch_df.sparkSession
        if "lineage" not in state:
            state["lineage"] = _checkpoint_lineage(spark, checkpoint)
            # once per stream: refuse (or warn past) foreign STREAM
            # lineages already on disk — one bounded distinct over the
            # cells-sized app_events relation plus the hwm rows
            foreign = set()
            if path_exists(spark, f"{path}/app_events"):
                appended = spark.read.parquet(f"{path}/app_events")
                _check_rollup_layout(appended, f"{path}/app_events")
                foreign = {
                    r[0]
                    for r in appended.select("ingest_lineage")
                    .distinct().collect()
                }
            foreign |= {lin for _, lin in _read_folded_hwm(spark, path)}
            foreign -= {state["lineage"], _BATCH_LINEAGE}
            if foreign:
                if not accept_new_lineage:
                    raise ValueError(
                        f"metrics rollup at {path} already holds stream "
                        f"appends from other checkpoint lineage(s) "
                        f"{sorted(foreign)}; this stream's lineage is "
                        f"{state['lineage']!r}. Batch ids are not "
                        "comparable across checkpoints, so exactly-once "
                        "cannot be guaranteed: resume the ORIGINAL "
                        "checkpoint, rebuild with "
                        "write_metrics_rollup(...), or pass "
                        "accept_new_lineage=True if (and only if) this "
                        "stream's source is disjoint from everything "
                        "already ingested."
                    )
                import warnings

                warnings.warn(
                    f"metrics rollup at {path}: appending lineage "
                    f"{state['lineage']!r} over existing stream "
                    f"lineage(s) {sorted(foreign)} — caller asserts the "
                    "sources are disjoint; overlapping sources WILL "
                    "double-count (no cross-lineage dedup exists)."
                )
        lineage = state["lineage"]
        # app_events groups EVERY row, so it is both the emptiness probe
        # and the revive probe's app set — a batch with only lifecycle
        # or app start/end events (no tasks) still appends its relations
        app_part = _stamp(
            app_events_partials(batch_df), batch_id, lineage
        ).persist()
        pinned = [app_part]
        try:
            if not app_part.take(1):
                return
            hwm = _read_folded_hwm(spark, path)
            to_append, replayed = [], False
            for rel, r in _RELATIONS.items():
                frame = app_part if rel == "app_events" else r.build(batch_df)
                if int(batch_id) <= hwm.get((rel, lineage), -1):
                    # compaction already folded this batch's rows into
                    # this relation — re-appending would double-count
                    replayed = True
                    continue
                if rel != "app_events":
                    # a batch can carry no rows of a sub-population
                    # (task-only / lifecycle-only micro-batches);
                    # appending an empty frame to a NOT-YET-EXISTING
                    # relation would leave a file-less directory that
                    # breaks every later read
                    frame = _stamp(frame, batch_id, lineage).persist()
                    pinned.append(frame)
                    if not frame.take(1):
                        continue
                to_append.append((rel, frame))
            if not to_append:
                return
            invalidate_count_row(spark, path)
            tomb = None if replayed else _tombstoned_app_ids(spark, path)
            if tomb is not None:
                batch_apps = app_part.select("app_id").distinct()
                if tomb.join(batch_apps, "app_id", "left_semi").take(1):
                    compact_relation_swap(
                        spark,
                        spark.read.parquet(f"{path}/deleted_apps")
                        .select("app_id").distinct()
                        .join(batch_apps, "app_id", "left_anti"),
                        f"{path}/deleted_apps", None, sort_cols=["app_id"],
                    )
            for rel, frame in to_append:
                _day_clustered(frame).write.mode(
                    "append"
                ).partitionBy("event_date").parquet(f"{path}/{rel}")
        finally:
            for frame in pinned:
                frame.unpersist()

    return (
        ev_stream.writeStream.foreachBatch(_rollup_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def delete_from_metrics_rollup(
    spark: SparkSession, path: str, app_ids: DataFrame, erase: bool = False
) -> int:
    """DELETE phase — per-app retention/erasure (reference analog: the
    metadata store pruning vanished applications,
    ``metadata_store.rs:91-134``). O(|ids|): ids land in the tombstone
    set, every serving read anti-joins it; compaction physically drops
    the suppressed cells. Same bounded-retry contract as S13 (ADVICE
    r11): incoming ids anti-join existing tombstones, so a retried
    delete appends nothing — returns the count NEWLY tombstoned. The
    cell count dies before the tombstones land and is rewritten (live)
    after.

    ``erase=True`` (the GDPR intent, ADVICE r12): a bare tombstone is
    only durable until the app RE-ARRIVES — the stream updater's revive
    retires the tombstone before appending, resurrecting all
    not-yet-compacted history. Erasure-intent deletes therefore run
    compaction inline: the suppressed cells are physically dropped and
    the tombstone retired in the same call, so a later re-arrival
    revives an app whose history is already gone (only post-erasure
    data can return — the correct erasure semantics). ``erase=False``
    keeps the cheap tombstone-only path for ordinary retention, where
    the next maintenance slot makes it physical."""
    from .dedup_index import invalidate_count_row, release_local_checkpoint

    invalidate_count_row(spark, path)
    tomb = app_ids.where("app_id IS NOT NULL").select("app_id").distinct()
    existing = _tombstoned_app_ids(spark, path)
    if existing is not None:
        tomb = tomb.join(existing, "app_id", "left_anti")
    # localCheckpoint, not persist (see compact_relation_swap's note on
    # overlapped maintenance vs the session-global CacheManager)
    tomb = durable_checkpoint(tomb)
    try:
        n_ids = tomb.count()
        if n_ids:
            tomb.write.mode("append").parquet(f"{path}/deleted_apps")
    finally:
        release_local_checkpoint(tomb)
    if erase:
        compact_metrics_rollup(spark, path)
        return n_ids
    _write_cell_count(spark, path)
    return n_ids


def compact_metrics_rollup(spark: SparkSession, path: str) -> list[dict]:
    """MAINTENANCE slot: fold stream-appended batch partials to one row
    per grain (``ingest_batch = -1``), physically drop tombstone-
    suppressed cells, retire tombstones to an empty attestable set,
    refresh the cell count and the manifest. Exactly-once becomes
    physical here; serving results are unchanged by construction
    (merge is associative and suppression was already applied at read).
    Returns per-relation {relation, rows_after} like its S13 sibling.

    Replay closure (ADVICE r12): before ANY relation folds, the highest
    stream batch id currently on disk is persisted per (relation,
    checkpoint lineage) to ``folded_hwm/`` — the stream updater skips
    its OWN lineage's appends at-or-below it, so a batch replayed after
    its rows were folded cannot double-count (and a DIFFERENT lineage's
    unrelated batch ids are never suppressed — the ADVICE-r13 fix).
    Ordering matters and is hwm-THEN-fold: a crash between the two
    leaves batches marked folded whose rows still sit on disk with
    their tags — the skip loses nothing (rows are present, serve-time
    dedup owns them) — whereas fold-then-hwm would leave absorbed rows
    a replay re-appends unrecognizably. The hwm is monotone (merged
    with the existing file) so a later compaction that sees only
    already-folded rows never regresses it."""
    from .dedup_index import compact_relation_swap, invalidate_count_row
    from .index_manifest import path_exists, refresh_index_manifest

    invalidate_count_row(spark, path)
    hwm = _read_folded_hwm(spark, path)
    for rel in _RELATIONS:
        if not path_exists(spark, f"{path}/{rel}"):
            continue
        on_disk = spark.read.parquet(f"{path}/{rel}")
        _check_rollup_layout(on_disk, f"{path}/{rel}")
        # per (relation, LINEAGE): batch ids from different checkpoints
        # are incommensurable, so each lineage carries its own watermark
        for r in (
            on_disk.filter(F.col("ingest_batch") >= 0)
            .groupBy("ingest_lineage")
            .agg(F.max("ingest_batch").alias("top"))
            .collect()
        ):
            key = (rel, r["ingest_lineage"])
            hwm[key] = max(int(r["top"]), hwm.get(key, -1))
    if hwm:
        _write_folded_hwm(spark, path, hwm)
    # the five relation folds touch five disjoint directories and all
    # read-then-swap independently — overlap them (guide §2.6) exactly
    # like the build's relation writes; the contracts that ORDER
    # matters for stay sequential around the pool (hwm before any
    # fold, tombstones retire after every fold, count rewritten last)
    from concurrent.futures import ThreadPoolExecutor

    def _fold(rel: str) -> dict | None:
        if not path_exists(spark, f"{path}/{rel}"):
            return None  # legacy layout / stream never carried this one
        folded = _day_clustered(_stamp(
            merge_cells(
                _read_rollup_relation(spark, path, rel), _RELATIONS[rel].grain
            ),
            _BATCH_BUILD, _BATCH_LINEAGE,
        ))  # one file per day dir, written as parallel per-day tasks
        return {
            "relation": rel,
            "rows_after": compact_relation_swap(
                spark, folded, f"{path}/{rel}", "event_date",
                sort_cols=list(_RELATIONS[rel].grain[1:]),
            ),
        }

    # same pool-width reasoning as the build's relation writes: five
    # bounded folds, one slot each
    with ThreadPoolExecutor(max_workers=5) as pool:
        futures = [pool.submit(_fold, rel) for rel in _RELATIONS]
        out = [r for r in (f.result() for f in futures) if r is not None]
    if path_exists(spark, f"{path}/deleted_apps"):
        out.append(
            {
                "relation": "deleted_apps",
                "rows_after": compact_relation_swap(
                    spark,
                    spark.read.parquet(f"{path}/deleted_apps")
                    .select("app_id").limit(0),
                    f"{path}/deleted_apps", None, sort_cols=["app_id"],
                ),
            }
        )
    _write_cell_count(spark, path)
    refresh_index_manifest(spark, path, ROLLUP_RELATIONS)
    return out


def refresh_rollup_manifest(spark: SparkSession, path: str) -> None:
    """Recompute the attestation manifest from disk (one scan per
    relation; run after batch builds or in the maintenance slot —
    streaming appends leave it stale by design, as for S13-S15)."""
    from .index_manifest import refresh_index_manifest

    refresh_index_manifest(spark, path, ROLLUP_RELATIONS)


def validate_metrics_rollup(spark: SparkSession, path: str) -> DataFrame:
    """Diff the manifest against what is on disk — DETECTION, as for
    the other derived indexes (the rollup is re-derivable from the
    event sink; rebuild is the repair)."""
    from .index_manifest import validate_index

    return validate_index(spark, path, ROLLUP_RELATIONS)
