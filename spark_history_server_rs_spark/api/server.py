"""REST API — the reference's HTTP surface (SURVEY.md §2.11) as a thin
stdlib ``http.server`` layer over the query catalog.

Routes (reference ``api.rs:22-56``, ``analytics_api.rs:16-32``):

- ``/api/v1/applications`` (+ ``limit``/``minDate``/``maxDate`` params)
- ``/api/v1/applications/{id}`` ; ``/{id}/executors``
- ``/{id}/jobs|stages|storage/rdd|environment`` — stubs returning ``[]``
  (the reference stubs these too, ``api.rs:153-159``)
- ``/api/v1/version`` ; ``/health`` ; ``/api/v1/circuit-breaker``
- ``/api/v1/optimization/resource-hogs`` ; ``.../efficiency-analysis``
- ``/api/v1/capacity/usage-trends`` ; ``.../cost-optimization``
  (:data:`PLATFORM_ROUTES`)
- ``/api/v1/dashboard/summary`` and the server-rendered ``/optimize``
  view (also ``/`` and ``/dashboard``) — the four platform analytics
  folded into summary cards; ``/resources`` and ``/teams`` are the
  reference's redirect and placeholder pages
- deprecated ``/api/v1/analytics/*`` → 404
  (``analytics_api_test.rs:199-206``)

Beyond the reference:

- ``/api/v1/metrics/{slug}`` (+ ``limit``, day-granular
  ``startDate``/``endDate``) — the rollup twins of
  ``metrics_rollup.ROLLUP_TWINS`` listed in :data:`METRIC_SLUGS`, served
  from an attached S17 rollup, else by the live catalog op; plus
  ``task-duration-percentiles`` (DDSketch when a rollup is attached)
- ``/api/v1/engagement/{funnel,retention,transitions,active-users,
  segments}`` — engagement analytics over the warm events frame
- ``/api/v1/corpus/*`` — corpus-health analytics (needs ``documents``)
- ``/api/v1/ann/*`` — embedding/ANN health routes (needs ``embeddings``)
- ``/api/v1/applications/{id}/jobs?detailed=true`` — the per-job rollup
- ``/api/v1/indexes/status`` (+ ``?validate=1``) — §8 extension: the
  durable-artifact lifecycle ops view (meta-served counts, tombstones,
  opt-in manifest validation)

Design: the events DataFrame is normalized+cached once at server start
(the warm serving state — the analog of the reference's open DuckDB file),
together with two tables derived from it by the existing folds: the
per-app table (:func:`app_table`: A1 columns, completed flag, name and
attempt list) and the per-executor table (``executor_details``, on
sources with file provenance). The application routes filter, order and
limit those tables; the analytics routes build a catalog DataFrame over
the cached events (or read the attached rollup), collect ≤ ``limit``
rows, and serialize. Query params follow P4/P5/P9: optional
date-range/app filters, dates accepted as epoch-millis, RFC3339, or
``YYYY-MM-DD`` (``api.rs:239-262``).

stdlib-only by design (no FastAPI/Flask in the environment); the handler
runs one query at a time per request (the dashboard pages run their four
panel queries concurrently), and Spark fans each query out across all
cores — matching the reference's one-router/many-DB-workers shape.
"""

from __future__ import annotations

import json
import logging
import re
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone
from html import escape as html_escape
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import date_str
from ..operators import catalog
from ..sources import metrics_rollup as MR
from ..sources.event_logs import applications_with_attempts, executor_details
from ..sources.index_manifest import CorpusDriftError
from .circuit_breaker import CircuitBreaker

VERSION = {"version": "1.0.0", "engine": "pyspark"}

_fallback_log = logging.getLogger("spark_history_server_rs_spark.api")


def _log_index_fallback(route: str, ex: CorpusDriftError) -> None:
    """Record WHY a durable-index serving twin degraded to the live
    operator — the refusal is intentional (drifted corpus / stale
    parameters), but a silent permanent fallback would hide that the
    index needs a re-build or a delta stream."""
    _fallback_log.warning(
        "index-serving fallback on %s: %s", route, ex
    )


def parse_date_param(v: str) -> int | None:
    """P9: accept epoch-millis, RFC3339, or YYYY-MM-DD (api.rs:239-262)."""
    if v is None:
        return None
    v = v.strip()
    if re.fullmatch(r"-?\d+", v):
        return int(v)
    for fmt in ("%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(v, fmt)
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
        except ValueError:
            continue
    raise ValueError(f"unparseable date: {v!r}")


def _rows(df: DataFrame) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _iso_utc(ms: int | None) -> str | None:
    if ms is None:
        return None
    return (
        datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc)
        .isoformat()
        .replace("+00:00", "Z")
    )


def _wire_attempt(a: dict) -> dict:
    """ApplicationAttemptInfo wire shape (models.rs:20-40: camelCase with
    explicit *Epoch renames; times serialize RFC3339)."""
    return {
        "attemptId": a["attempt_id"],
        "startTime": _iso_utc(a["start_ms"]),
        "endTime": _iso_utc(a["end_ms"]),
        "lastUpdated": _iso_utc(a["last_updated_ms"]),
        "duration": a["duration_ms"],
        "sparkUser": a["spark_user"],
        "completed": a["completed"],
        "appSparkVersion": a["app_spark_version"],
        "startTimeEpoch": a["start_ms"],
        "endTimeEpoch": a["end_ms"],
        "lastUpdatedEpoch": a["last_updated_ms"],
    }


def _wire_application(row: dict, attempts: list[dict], name: str | None) -> dict:
    """ApplicationInfo wire shape (models.rs:8-18) + this engine's flat
    diagnostic fields (extra keys don't break reference clients)."""
    return {
        "id": row["app_id"],
        "name": name or f"app_{row['app_id']}",
        "coresGranted": None,
        "maxCores": None,
        "coresPerExecutor": None,
        "memoryPerExecutorMb": None,
        "attempts": [_wire_attempt(a) for a in attempts],
        # engine extras (flat summary the dashboard/tests use)
        **row,
    }


def _wire_app_row(row: dict) -> dict:
    """:func:`_wire_application` over one per-app table row, whose
    ``app_name`` and ``attempts`` columns become the wire name and
    attempt list (an app with no attempt fold has none)."""
    attempts = row.pop("attempts") or []
    name = row.pop("app_name")
    return _wire_application(row, attempts, name)


#: /applications params that filter the events, not the per-app rows
_EVENT_WINDOW_PARAMS = ("startDate", "minDate", "endDate", "maxDate", "appId")

_MB_BYTES = 1048576


def _wire_executor(r: dict, d: dict | None) -> dict:
    """ExecutorSummary wire shape (models.rs:83-112, camelCase). The
    reference's live store stubs this with [] (duckdb_store.rs:505-511);
    here every field the model declares is populated from the summary row
    plus the executor_details fold when the source carries provenance.
    Engine extras ride along flat."""
    d = d or {}
    total = r.get("total_tasks") or 0
    completed = r.get("completed_tasks") or 0
    host = d.get("host")
    return {
        "id": r["executor_id"],
        "hostPort": f"{host}:0" if host else "",
        "isActive": r.get("is_active", d.get("active", True)),
        "rddBlocks": 0,
        "memoryUsed": 0,
        "diskUsed": 0,
        "totalCores": int(r.get("cores") or 0),
        "maxTasks": 0,
        "activeTasks": 0,
        "failedTasks": int(total - completed),
        "completedTasks": int(completed),
        "totalTasks": int(total),
        "totalDuration": int(r.get("total_duration_ms") or 0),
        "totalGCTime": int(r.get("total_gc_ms") or 0),
        "totalInputBytes": int((r.get("total_input_mb") or 0) * _MB_BYTES),
        "totalShuffleRead": int((r.get("total_shuffle_read_mb") or 0) * _MB_BYTES),
        "totalShuffleWrite": int((r.get("total_shuffle_write_mb") or 0) * _MB_BYTES),
        "isExcluded": bool(d.get("is_excluded", False)),
        "maxMemory": 0,
        "addTime": _iso_utc(d.get("add_time_ms") or r.get("add_time_ms")),
        "removeTime": _iso_utc(d.get("remove_time_ms") or r.get("remove_time_ms")),
        "removeReason": d.get("remove_reason"),
        "executorLogs": d.get("executor_logs") or {},
        "memoryMetrics": None,
        "attributes": d.get("attributes") or {},
        "resources": {},
        "resourceProfileId": int(d.get("resource_profile_id") or 0),
        "excludedInStages": [],
        # engine extras (oracle-checked summary row)
        **r,
    }


# --- wire-format adapters ---------------------------------------------------
# The platform endpoints serialize the reference's exact field names
# (analytics_api.rs:53-143 ResourceHog / EfficiencyAnalysis / CapacityTrend /
# CostOptimization) so a client of the reference can switch without code
# changes. The catalog rows keep their oracle-checked column names; mapping
# happens here, at the edge.
def _wire_resource_hog(r: dict) -> dict:
    return {
        "app_id": r["app_id"],
        "app_name": f"app_{r['app_id']}",
        "resource_type": "Memory",
        "consumption_value": r["max_peak_memory_mb"],
        "consumption_unit": "MB",
        # reference hardcodes 0.0 with a TODO (duckdb_store_backup.rs:1227)
        "utilization_percentage": 0.0,
        "efficiency_score": r["efficiency_score"],
        "efficiency_explanation": f"{r['efficiency_score']:.0f}% "
        f"(peak {r['max_peak_memory_mb']:.0f}MB vs avg {r['avg_peak_memory_mb']:.0f}MB)",
        "cost_impact": r["estimated_cost"],
        "recommendation": r["recommendation"],
        "last_seen": str(r["last_seen_ms"]),
    }


def _wire_efficiency(r: dict) -> dict:
    return {
        "app_id": r["app_id"],
        "app_name": f"app_{r['app_id']}",
        "efficiency_category": r["efficiency_category"],
        "memory_efficiency": r["memory_efficiency_pct"],
        "memory_efficiency_explanation": f"{r['memory_efficiency_pct']}% of peak used on average",
        "cpu_efficiency": r["cpu_efficiency_pct"],
        "cpu_efficiency_explanation": f"{r['cpu_efficiency_pct']}% of wall time on CPU",
        "recommended_memory_gb": round(r["recommended_memory_mb"] / 1024.0, 4),
        "recommended_cpu_cores": float(r["recommended_cores"]),
        "potential_cost_savings": r["potential_savings"],
        "risk_level": r["risk_level"],
        "optimization_actions": json.loads(r["optimization_actions"]),
    }


def _wire_capacity(r: dict) -> dict:
    return {
        "date": r["event_date"],
        "total_memory_gb_used": r["total_memory_gb"],
        "total_cpu_cores_used": r["estimated_cores_used"],
        "peak_concurrent_applications": r["active_apps"],
        "average_resource_utilization": r["avg_memory_per_app_gb"],
        "cluster_capacity_percentage": r["capacity_utilization_pct"],
        # reference returns NULL with a TODO (duckdb_store_backup.rs:1390)
        "projected_growth_rate": None,
    }


def _wire_cost(r: dict) -> dict:
    savings = r["current_monthly_cost"] - r["optimized_monthly_cost"]
    return {
        "optimization_type": r["optimization_type"],
        "app_id": r["app_id"],
        "app_name": f"app_{r['app_id']}",
        "current_cost": r["current_monthly_cost"],
        "optimized_cost": r["optimized_monthly_cost"],
        "savings_percentage": r["savings_pct"],
        "confidence_score": r["confidence"],
        "implementation_difficulty": r["difficulty"],
        "optimization_details": r["details"],
        "formatted_savings": f"${savings:.4f}",
    }


#: the four platform analytics (reference analytics_api.rs:16-32), in the
#: optimize view's panel order: route → (catalog name, wire adapter,
#: dashboard row limit). The routes default to the twin's own limit.
PLATFORM_ROUTES = {
    "/api/v1/optimization/resource-hogs": (
        "top_resource_consumers", _wire_resource_hog, 20
    ),
    "/api/v1/optimization/efficiency-analysis": (
        "efficiency_analysis", _wire_efficiency, 20
    ),
    "/api/v1/capacity/usage-trends": ("capacity_trends", _wire_capacity, 30),
    "/api/v1/capacity/cost-optimization": (
        "cost_optimization", _wire_cost, 20
    ),
}

#: /api/v1/metrics/{slug} → the analytic it serves: rollup twins
#: (metrics_rollup.ROLLUP_TWINS) plus the percentile sketch
METRIC_SLUGS = {
    "performance-trends": "performance_trends",
    "gc-trends": "gc_time_trends",
    "cpu-utilization": "cpu_utilization",
    "memory-usage": "memory_usage",
    "top-resource-consumers": "top_resource_consumers",
    "efficiency-analysis": "efficiency_analysis",
    "capacity-trends": "capacity_trends",
    "cost-optimization": "cost_optimization",
    "resource-usage-summary": "resource_usage_summary",
    "cross-app-summary": "cross_app_summary",
    "task-distribution": "task_distribution",
    "task-duration-percentiles": "task_duration_percentiles",
}


class AnalyticsHandler(BaseHTTPRequestHandler):
    """One handler instance per request; the events DataFrame and the
    query catalog hang off the server object."""

    server_version = "spark-history-analytics/1.0"

    # ---- helpers ----------------------------------------------------------
    def _send(self, code: int, payload) -> None:
        body = json.dumps(payload, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet test runs
        pass

    def _send_html(self, html: str) -> None:
        body = html.encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _indexes_status(self, validate: bool) -> dict:
        """Per-attached-artifact lifecycle status. Cheap by default:
        relations via FS listing, membership via the meta-served
        one-row counts (None = invalidated mid-stream; readers fall
        back to scans, this probe does NOT), tombstones counted from
        their own small relation. ``validate=True`` adds the manifest
        diff — one scan per relation, the maintenance-slot cost."""
        from ..sources import dedup_index as DI
        from ..sources.index_manifest import (
            ANN_INDEX_RELATIONS,
            DEDUP_INDEX_RELATIONS,
            path_exists,
        )

        spark = self.server.events.sparkSession  # type: ignore[attr-defined]

        def _present(path, relations):
            return [r for r in relations if path_exists(spark, f"{path}/{r}")]

        def _n(path, rel):
            if not path_exists(spark, f"{path}/{rel}"):
                return 0
            return spark.read.parquet(f"{path}/{rel}").count()

        out: dict = {}
        p13 = getattr(self.server, "dedup_index_path", None)
        if p13 is not None:
            # DISTINCT doc_ids, not raw rows: the dedup family's
            # suppression is a per-doc anti-join, so distinct IS the
            # live suppressed-doc count (and retries no longer append
            # duplicates anyway — see delete_from_dedup_index)
            tomb13 = DI._tombstoned_doc_ids(spark, p13)
            entry = {
                "path": p13,
                "relations": _present(p13, DEDUP_INDEX_RELATIONS + ("meta",)),
                "n_docs": DI._meta_n_docs(spark, p13),
                "n_tombstones": 0 if tomb13 is None else tomb13.count(),
            }
            if validate:
                entry["discrepancies"] = [
                    r.asDict()
                    for r in DI.validate_dedup_index(spark, p13).collect()
                ]
            out["dedup_index"] = entry
        p14 = getattr(self.server, "ann_index_path", None)
        if p14 is not None:
            from ..sources.ann_index import validate_ann_index

            # the S14 tombstone relation is a SEQUENCED log, not a live
            # set: rows out-sequenced by revived vectors (and
            # historical retries) stay until compaction, so a raw count
            # can exceed the currently-suppressed population. Report it
            # under the name of what it measures (ADVICE r11);
            # ``validate=1`` adds the true suppressed count (one
            # bounded join against latest code seqs — maintenance-slot
            # cost, like the manifest diff).
            entry = {
                "path": p14,
                "relations": _present(
                    p14, ANN_INDEX_RELATIONS + ("counts", "tombstones")
                ),
                "n_codes": DI._read_count_row(spark, p14, "n_codes"),
                "n_tombstone_rows": _n(p14, "tombstones"),
            }
            if validate:
                from ..sources.ann_index import _live_vec_ids

                codes = spark.read.parquet(f"{p14}/codes")
                n_distinct = (
                    codes.where("vec_id IS NOT NULL")
                    .select("vec_id").distinct().count()
                )
                entry["n_suppressed"] = (
                    n_distinct - _live_vec_ids(spark, p14).count()
                )
                entry["discrepancies"] = [
                    r.asDict()
                    for r in validate_ann_index(spark, p14).collect()
                ]
            out["ann_index"] = entry
        p16 = getattr(self.server, "knn_graph_path", None)
        if p16 is not None:
            from ..sources.knn_graph import (
                KNN_GRAPH_RELATIONS,
                validate_knn_graph,
            )

            entry = {
                "path": p16,
                "relations": _present(
                    p16, KNN_GRAPH_RELATIONS + ("counts",)
                ),
                "n_nodes": DI._read_count_row(spark, p16, "n_nodes"),
            }
            if validate:
                entry["discrepancies"] = [
                    r.asDict()
                    for r in validate_knn_graph(spark, p16).collect()
                ]
            out["knn_graph"] = entry
        p17 = getattr(self.server, "metrics_rollup_path", None)
        if p17 is not None:
            from ..sources.metrics_rollup import (
                ROLLUP_RELATIONS,
                _read_folded_hwm,
                _tombstoned_app_ids,
                validate_metrics_rollup,
            )

            # live-cell count is meta-served (one row); tombstones are
            # the live suppressed-app set (distinct, like S13's — the
            # family's suppression key is the app, and retried deletes
            # never append duplicates)
            tomb17 = _tombstoned_app_ids(spark, p17)
            entry = {
                "path": p17,
                "relations": _present(
                    p17, ROLLUP_RELATIONS + ("counts",)
                ),
                "n_cells": DI._read_count_row(spark, p17, "n_cells"),
                "n_tombstones": 0 if tomb17 is None else tomb17.count(),
                # ops visibility for the replay-closure watermark: the
                # highest stream batch compaction has folded per
                # (relation, checkpoint lineage) — ([] until the first
                # compaction); a stream restart of the SAME lineage
                # replaying at-or-below these appends nothing
                "folded_batch_hwm": [
                    {"relation": rel, "lineage": lin, "folded_batch": b}
                    for (rel, lin), b in sorted(
                        _read_folded_hwm(spark, p17).items()
                    )
                ],
            }
            if validate:
                entry["discrepancies"] = [
                    r.asDict()
                    for r in validate_metrics_rollup(spark, p17).collect()
                ]
            out["metrics_rollup"] = entry
        p15 = getattr(self.server, "training_shards_path", None)
        if p15 is not None:
            from ..sources.training_shards import (
                _list_shard_ids,
                validate_training_shards,
            )

            # per-shard doc counts ride the manifest rows already being
            # read (≤ n_shards rows — no shard scan); n_shards is the
            # export's declared modulus when meta/ exists
            from ..sources.training_shards import _read_meta_n_shards

            manifest_rows = (
                [
                    r.asDict()
                    for r in spark.read.parquet(f"{p15}/manifest").collect()
                ]
                if path_exists(spark, f"{p15}/manifest")
                else []
            )
            entry = {
                "path": p15,
                "shards": _list_shard_ids(spark, p15),
                "manifest_rows": len(manifest_rows),
                "n_shards": _read_meta_n_shards(spark, p15),
                "shard_docs": {
                    int(r["shard"]): int(r["n_docs"]) for r in manifest_rows
                },
                "n_docs": sum(int(r["n_docs"]) for r in manifest_rows),
            }
            if validate:
                entry["discrepancies"] = [
                    r.asDict()
                    for r in validate_training_shards(spark, p15).collect()
                ]
            out["training_shards"] = entry
        if not out:
            raise ValueError(
                "no durable index attached to this server — pass "
                "dedup_index_path / ann_index_path / knn_graph_path / "
                "training_shards_path / metrics_rollup_path to serve()"
            )
        return out

    def _filtered_events(self, qs: dict) -> DataFrame:
        ev = self.server.events  # type: ignore[attr-defined]
        start = qs.get("startDate", [None])[0] or qs.get("minDate", [None])[0]
        end = qs.get("endDate", [None])[0] or qs.get("maxDate", [None])[0]
        app = qs.get("appId", [None])[0]
        return catalog.time_window(
            ev,
            start_ms=parse_date_param(start) if start else None,
            end_ms=parse_date_param(end) if end else None,
            app_id=app,
        )

    def _dashboard_payload(self) -> dict:
        """The optimize view's data fold (dashboard.rs:55-159 pulls the
        same four analytics calls before rendering): host-side fold over
        the collected (≤ limit) rows — shared by the JSON summary
        endpoint and the server-rendered HTML view. With an S17 rollup
        attached, all four analytics read the pre-aggregated partials
        (bit-identical twins), so a dashboard refresh never scans the
        fact table — the reference's heaviest page becomes O(cells).
        The rollup relation is looked up once per request (one freshness
        check), and the four analytics run as concurrent Spark jobs."""
        ev = self.server.events  # type: ignore[attr-defined]
        p17 = getattr(self.server, "metrics_rollup_path", None)
        if p17 is not None:
            rel = MR.materialized_rollup_relation(ev.sparkSession, p17)

            def _run(name, limit):
                return MR.ROLLUP_TWINS[name].finalize(rel, limit=limit)
        else:

            def _run(name, limit):
                return getattr(catalog, name)(ev, limit=limit)

        def _panel(spec):
            name, wire, limit = spec
            return [wire(r) for r in _rows(_run(name, limit))]

        with ThreadPoolExecutor(len(PLATFORM_ROUTES)) as pool:
            hogs, eff, trends, cost = pool.map(_panel, PLATFORM_ROUTES.values())
        total_savings = round(sum(r["potential_cost_savings"] for r in eff), 6)
        # the reference's SummaryStats fold (dashboard.rs:100-131),
        # generalized from its single cost struct to the full list
        # (its hardcoded apps_needing_optimization=1 / 0-or-1
        # high-confidence counter become real counts here)
        monthly = sum(
            max(0.0, c["current_cost"] - c["optimized_cost"]) for c in cost
        )
        return {
            "resource_hogs": hogs,
            "efficiency": eff,
            "capacity_trends": trends,
            "cost_optimization": cost,
            "summary": {
                "n_hogs": len(hogs),
                "n_analyzed": len(eff),
                "n_trend_days": len(trends),
                "n_cost_opportunities": len(cost),
                "total_potential_savings": total_savings,
                "total_resource_hogs": len(hogs),
                "over_provisioned_apps": sum(
                    r["efficiency_category"] == "OverProvisioned" for r in eff
                ),
                "under_provisioned_apps": sum(
                    r["efficiency_category"] == "UnderProvisioned" for r in eff
                ),
                "potential_monthly_savings": f"${monthly:.2f}",
                "apps_needing_optimization": len(cost),
                "high_confidence_optimizations": sum(
                    c["confidence_score"] > 80.0 for c in cost
                ),
            },
        }

    def _limit(self, qs: dict, default: int) -> int:
        raw = qs.get("limit", [default])[0]
        try:
            n = int(raw)
        except (TypeError, ValueError):
            raise ValueError(f"invalid limit: {raw!r}")
        if n < 0:
            raise ValueError(f"invalid limit: {n} (must be >= 0)")
        return min(n, 10_000)

    # ---- routing ----------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 (http.server API)
        breaker = getattr(self.server, "breaker", None)
        try:
            url = urlparse(self.path)
            qs = parse_qs(url.query)
            path = url.path.rstrip("/") or "/"
            if path == "/api/v1/circuit-breaker":
                return self._send(
                    200, breaker.snapshot() if breaker else {"state": "disabled"}
                )
            # fail fast while the circuit is open (circuit_breaker.rs:88-92);
            # health stays reachable so probes see the process is alive
            if breaker is not None and path != "/health" and not breaker.allow():
                return self._send(
                    503, {"error": "circuit open", **breaker.snapshot()}
                )
            self._route(path, qs)
            if breaker is not None:
                breaker.record_success()
        except ValueError as ex:
            # client errors are not service failures — don't trip the breaker
            self._send(400, {"error": str(ex)})
        except Exception as ex:  # pragma: no cover - defensive 500
            if breaker is not None:
                breaker.record_failure()
            self._send(500, {"error": str(ex)})

    def _route(self, path: str, qs: dict) -> None:
        ev = self.server.events  # type: ignore[attr-defined]

        if path == "/health":
            return self._send(200, {"status": "healthy"})
        if path == "/api/v1/version":
            return self._send(200, VERSION)
        if path.startswith("/api/v1/analytics"):
            # deprecated endpoints must 404 (analytics_api_test.rs:199-206)
            return self._send(404, {"error": "deprecated endpoint"})

        if path == "/api/v1/indexes/status":
            # read-only ops surface for the durable artifacts: cheap by
            # default (FS listings + the meta-served one-row counts —
            # zero index scans on a warm unchanged index), full
            # manifest validation behind ?validate=1 because that is
            # one scan PER RELATION — a per-request cost no status
            # probe should pay at 100 TB
            return self._send(
                200, self._indexes_status("validate" in qs)
            )

        if path == "/api/v1/applications":
            # full reference param surface (api.rs:62-99): status list,
            # start-window (minDate/maxDate, P4), end-window
            # (minEndDate/maxEndDate), limit. Unwindowed, the list is a
            # filter over the per-app table; an event window recomputes
            # the A1 columns over the windowed events and takes only the
            # names and attempts from the table.
            status = qs.get("status", [None])[0]
            min_end = qs.get("minEndDate", [None])[0]
            max_end = qs.get("maxEndDate", [None])[0]
            apps = self.server.app_table  # type: ignore[attr-defined]
            if any(qs.get(k) for k in _EVENT_WINDOW_PARAMS):
                apps = catalog.application_rows(self._filtered_events(qs)).join(
                    apps.select("app_id", "app_name", "attempts"),
                    "app_id",
                    "left",
                )
            df = catalog.filter_applications(
                apps,
                statuses=status.split(",") if status else None,
                min_end_ms=parse_date_param(min_end) if min_end else None,
                max_end_ms=parse_date_param(max_end) if max_end else None,
                limit=self._limit(qs, 100),
            )
            return self._send(200, [_wire_app_row(r) for r in _rows(df)])

        m = re.fullmatch(r"/api/v1/applications/([^/]+)", path)
        if m:
            table = self.server.app_table  # type: ignore[attr-defined]
            rows = _rows(
                table.filter(F.col("app_id") == m.group(1)).drop("completed")
            )
            if not rows:
                return self._send(404, {"error": "unknown application"})
            return self._send(200, _wire_app_row(rows[0]))

        m = re.fullmatch(r"/api/v1/applications/([^/]+)/executors", path)
        if m:
            app_ev = ev.filter(ev["app_id"] == m.group(1))
            rows = _rows(catalog.executor_summary(app_ev))
            detail: dict = {}
            executors = self.server.executor_table  # type: ignore[attr-defined]
            if executors is not None:
                # real-log source: the executor_details fold supplies the
                # metadata fields (log/attribute maps, remove reason, ...)
                detail = {
                    r["executor_id"]: r
                    for r in _rows(
                        executors.filter(F.col("app_id") == m.group(1))
                    )
                }
            return self._send(
                200,
                [_wire_executor(r, detail.get(r.get("executor_id"))) for r in rows],
            )

        m = re.fullmatch(r"/api/v1/applications/([^/]+)/jobs", path)
        if m and qs.get("detailed", ["false"])[0].lower() == "true":
            # extension: the real per-job rollup (the reference stubs jobs
            # with [], api.rs:153-159 — stub behavior preserved below)
            df = catalog.job_metrics(ev.filter(ev["app_id"] == m.group(1)))
            return self._send(200, _rows(df))

        m = re.fullmatch(
            r"/api/v1/applications/([^/]+)/(jobs|stages|storage/rdd|environment)",
            path,
        )
        if m:
            # reference stubs these with [] (api.rs:153-159)
            return self._send(200, [])

        m = re.fullmatch(r"/api/v1/metrics/([a-z-]+)", path)
        if m and m.group(1) in METRIC_SLUGS:
            # beyond-reference: the rollup twins served from the durable
            # S17 metrics rollup when one is attached — the dashboard
            # refresh reads the pre-aggregated day-partitioned relations
            # instead of rescanning the fact table (the whole point of
            # the rollup at 100 TB); the live-op fallback keeps the
            # routes available on rollup-less servers. The attached
            # rollup is authoritative for these routes: it is the
            # continuously-maintained artifact, while the server's warm
            # frame may itself be a window of the corpus.
            name = METRIC_SLUGS[m.group(1)]
            # task_duration_percentiles is the DECLARED divergence (the
            # sketch contract, reference analytics_api.rs:308's
            # declared-but-unimplemented surface): a rollup-attached
            # server answers from the DDSketch relation (raw-scan-free,
            # ≤1% relative error), the fallback runs the exact holistic
            # op — values agree within tolerance, not bit-identically,
            # unlike every exact twin
            twin = MR.ROLLUP_TWINS.get(name, MR.DURATION_SKETCH)
            kw = {} if twin.limit is None else {
                "limit": self._limit(qs, twin.limit)
            }

            # optional DAY-granular window (?startDate/?endDate, same
            # parser as /applications): the rollup is partitioned by
            # day, so the bound prunes partitions on a cold read and
            # row-prunes the warm in-memory relation; the live fallback
            # applies the identical day predicate so the two paths stay
            # wire-identical. Day granularity is the rollup's native
            # resolution — deliberately coarser than /applications'
            # millisecond window.
            def _day(param):
                raw = qs.get(param, [None])[0]
                if not raw:
                    return None
                ms = parse_date_param(raw)
                return datetime.fromtimestamp(
                    ms / 1000.0, tz=timezone.utc
                ).strftime("%Y-%m-%d")

            start_day, end_day = _day("startDate"), _day("endDate")

            def _window(df, day):
                if start_day:
                    df = df.filter(day >= start_day)
                if end_day:
                    df = df.filter(day <= end_day)
                return df

            p17 = getattr(self.server, "metrics_rollup_path", None)
            if p17 is not None:
                df = twin.serve(lambda rel: _window(
                    MR.materialized_rollup_relation(ev.sparkSession, p17, rel),
                    F.col("event_date"),
                ), **kw)
            else:
                df = getattr(catalog, name)(
                    _window(ev, date_str(F.col("event_date"))), **kw
                )
            return self._send(200, _rows(df))

        m = re.fullmatch(r"/api/v1/engagement/(funnel|retention|transitions|active-users|segments)", path)
        if m:
            # beyond-reference: the engagement analytics surface (R29-R33)
            # served from the warm normalized frame; /api/v1/analytics/*
            # stays a deprecated 404 per the reference's contract
            from ..operators.relational import run_events_tail

            name = {
                "funnel": "funnel_conversion",
                "retention": "retention_cohorts",
                "transitions": "event_transition_matrix",
                "active-users": "rolling_active_users",
                "segments": "set_ops_user_segments",
            }[m.group(1)]
            df = run_events_tail(self._filtered_events(qs), name)
            return self._send(200, _rows(df))

        m = re.fullmatch(
            r"/api/v1/corpus/(profile|quality|zipf|sources|domain-weights"
            r"|fertility|boilerplate|encoding|survivorship|novelty"
            r"|filter-agreement|surprisal|compression|dedup-sweep"
            r"|curriculum|vocab-curve|fragmentation)",
            path,
        )
        if m:
            # beyond-reference: corpus analytics served from an optional
            # warm documents frame (serve(..., documents=...)); 404s with
            # a hint when the server was started events-only
            docs = getattr(self.server, "documents", None)
            if docs is None:
                return self._send(
                    404,
                    {"error": "no documents frame attached to this server"},
                )
            from ..operators import corpus, llmprep, textprep
            from ..operators.dedup import (
                dedup_threshold_sweep as _corpus_dedup_sweep,
            )

            didx = getattr(self.server, "dedup_index_path", None)
            if m.group(1) == "dedup-sweep" and didx is not None:
                # served from the durable S13 index: the sweep reads
                # persisted shingles (no re-tokenization per cold call);
                # the live-op fallback below keeps the route available
                # on index-less servers
                from ..sources.dedup_index import (
                    dedup_threshold_sweep_from_index,
                )

                # docs=None: the denominator comes from the index's own
                # doc_ids membership, so the reported fractions are
                # self-consistent with the indexed pairs even if the
                # server's docs frame has drifted from the index (a
                # legacy pre-doc_ids index falls back to the frame)
                from ..sources.index_manifest import path_exists

                df = dedup_threshold_sweep_from_index(
                    docs.sparkSession,
                    didx,
                    None
                    if path_exists(docs.sparkSession, f"{didx}/doc_ids")
                    else docs,
                )
                return self._send(
                    200, _rows(df.limit(self._limit(qs, 1000)))
                )

            fn = {
                "profile": llmprep.profile_table,
                "quality": textprep.gopher_rules,
                "zipf": corpus.zipf_fit,
                "sources": corpus.source_overlap,
                "domain-weights": corpus.doremi_reweight,
                "fertility": llmprep.bpe_fertility,
                "boilerplate": textprep.line_boilerplate,
                "encoding": textprep.encoding_artifacts,
                "survivorship": corpus.dedup_survivorship,
                "novelty": corpus.novelty_curve,
                "filter-agreement": textprep.filter_agreement,
                "surprisal": llmprep.bigram_logprob,
                "compression": llmprep.bpe_compression,
                "dedup-sweep": _corpus_dedup_sweep,
                "curriculum": corpus.curriculum_stages,
                "vocab-curve": llmprep.bpe_vocab_curve,
                "fragmentation": llmprep.pack_fragmentation,
            }[m.group(1)]
            # concurrent-safe, no global lock (pinned by
            # tests/test_api.py::test_corpus_routes_concurrent):
            # zipf/sources/domain-weights/quality/boilerplate use
            # per-call scoped views (functions/views.py) over the
            # thread-safe materialized caches
            # (operators/dedup.py:_materialized_df); profile is pure
            # DataFrame API; fertility serializes only its training
            # (module merge-cache lock) and serves cached merges after
            rows = _rows(fn(docs).limit(self._limit(qs, 1000)))
            return self._send(200, rows)

        m = re.fullmatch(
            r"/api/v1/ann/(nprobe-recall|truncated-recall|dim-stats|outliers"
            r"|int8-audit|anisotropy|abtt|graph-expand|graph-depth|rerank)",
            path,
        )
        if m:
            # beyond-reference: embedding/ANN health routes served from
            # an optional warm embeddings frame (serve(...,
            # embeddings=...)) — the index-sizing dashboard (probe-width
            # and truncation recall curves, dimension stats, outlier
            # audit) next to the corpus one. Same concurrency contract
            # as /corpus/*: every operator uses per-call scoped views.
            emb = getattr(self.server, "embeddings", None)
            if emb is None:
                return self._send(
                    404,
                    {"error": "no embeddings frame attached to this server"},
                )
            from ..operators import llmprep, similarity

            knng = getattr(self.server, "knn_graph_path", None)
            if m.group(1) in ("graph-expand", "graph-depth") and knng is not None:
                # served from the durable S16 adjacency (no inline graph
                # rebuild — the pair loop ran once, at index time); the
                # live-op fallback below keeps the routes available on
                # index-less servers
                from ..sources.knn_graph import (
                    ann_graph_expand2_from_index,
                    ann_graph_expand_from_index,
                )

                served = {
                    "graph-expand": ann_graph_expand_from_index,
                    "graph-depth": ann_graph_expand2_from_index,
                }[m.group(1)]
                try:
                    df = served(emb.sparkSession, knng, emb)
                    return self._send(
                        200, _rows(df.limit(self._limit(qs, 1000)))
                    )
                except CorpusDriftError as ex:
                    # drifted graph index — live operator below. ONLY
                    # the typed refusal degrades; a genuine bug in the
                    # twin (any other error) must surface, not be
                    # silently converted into serving the live op
                    _log_index_fallback("knn-graph", ex)

            aidx = getattr(self.server, "ann_index_path", None)
            if aidx is not None and m.group(1) == "nprobe-recall":
                # served from the durable S14 index for EVERY
                # configuration (label/raw, trained cells, residual
                # codec — the sweep states the index's own system):
                # centroids/codebook/codes read from parquet, no
                # per-cold-call IVFADC rebuild. Only a legacy or
                # corpus-drifted index (the serving twin's loud
                # refusals) falls through to the live operator.
                from ..sources.ann_index import (
                    ann_nprobe_recall_from_index,
                )

                try:
                    df = ann_nprobe_recall_from_index(
                        emb.sparkSession, aidx, emb
                    )
                    return self._send(
                        200, _rows(df.limit(self._limit(qs, 1000)))
                    )
                except CorpusDriftError as ex:
                    _log_index_fallback("ann-nprobe", ex)  # live sweep
            if aidx is not None and m.group(1) == "rerank":
                # X14 served from the durable index: the shortlist
                # reads persisted codes (raw or residual per meta),
                # the refine scorer touches only the nq × k pairs;
                # a drifted/legacy index falls back to the live op
                from ..sources.ann_index import (
                    ann_crossencoder_rerank_from_index,
                )

                try:
                    df = ann_crossencoder_rerank_from_index(
                        emb.sparkSession, aidx, emb
                    )
                    return self._send(
                        200, _rows(df.limit(self._limit(qs, 1000)))
                    )
                except CorpusDriftError as ex:
                    _log_index_fallback("ann-rerank", ex)  # live rerank
            if aidx is not None and m.group(1) in (
                "int8-audit", "anisotropy", "abtt"
            ):
                # persisted corpus-scan audits (write_ann_audits): the
                # dashboard reads parquet instead of re-scanning the
                # corpus per cold call; audit-less indexes fall through
                # to the live operators
                from ..sources.ann_index import (
                    has_ann_audit,
                    read_ann_audit,
                )

                name = m.group(1).replace("int8-audit", "int8_audit").replace(
                    "-", "_"
                )
                if has_ann_audit(emb.sparkSession, aidx, name):
                    df = read_ann_audit(emb.sparkSession, aidx, name)
                    return self._send(
                        200, _rows(df.limit(self._limit(qs, 1000)))
                    )

            fn = {
                "nprobe-recall": similarity.ann_nprobe_recall,
                "truncated-recall": similarity.ann_truncated_recall,
                "dim-stats": llmprep.embedding_dim_stats,
                "int8-audit": llmprep.embedding_int8_audit,
                "outliers": llmprep.embedding_outliers,
                "anisotropy": llmprep.embedding_anisotropy,
                "abtt": llmprep.embedding_abtt_audit,
                "graph-expand": similarity.ann_graph_expand,
                "graph-depth": similarity.ann_graph_expand2,
                "rerank": similarity.ann_crossencoder_rerank,
            }[m.group(1)]
            rows = _rows(fn(emb).limit(self._limit(qs, 1000)))
            return self._send(200, rows)

        if path in PLATFORM_ROUTES:
            name, wire, _ = PLATFORM_ROUTES[path]
            df = getattr(catalog, name)(
                self._filtered_events(qs),
                limit=self._limit(qs, MR.ROLLUP_TWINS[name].limit),
            )
            return self._send(200, [wire(r) for r in _rows(df)])

        if path in ("/", "/optimize", "/dashboard"):
            # dashboard render (reference dashboard.rs:47-51 routes "/"
            # and "/optimize" to the same view): server-side HTML like
            # the reference's Askama template — summary-card row, then
            # the four analytics sections, every value HTML-escaped
            # (Askama's auto-escape equivalent)
            return self._send_html(
                _render_optimize_html(self._dashboard_payload())
            )
        if path == "/resources":
            # analytics view retired → meta-refresh redirect to /optimize
            # (reference dashboard.rs:161-187)
            return self._send_html(_RESOURCES_REDIRECT_HTML)
        if path == "/teams":
            # static placeholder (reference dashboard.rs:189-214)
            return self._send_html(_TEAMS_HTML)

        if path == "/api/v1/dashboard/summary":
            return self._send(200, self._dashboard_payload())

        self._send(404, {"error": "not found"})


def app_table(events: DataFrame) -> DataFrame:
    """The per-app table: :func:`catalog.application_rows` (the A1
    columns and the ``completed`` flag) joined with each app's name and
    attempt list from :func:`applications_with_attempts`. The attempt
    fold runs over the whole frame, so every log unit folds whole — the
    reference's per-file rule — whichever apps a request lists."""
    return catalog.application_rows(events).join(
        applications_with_attempts(events), "app_id", "left"
    )


def serve(
    events: DataFrame,
    host: str = "127.0.0.1",
    port: int = 0,
    warmup: bool = True,
    documents: DataFrame | None = None,
    embeddings: DataFrame | None = None,
    knn_graph_path: str | None = None,
    dedup_index_path: str | None = None,
    ann_index_path: str | None = None,
    training_shards_path: str | None = None,
    metrics_rollup_path: str | None = None,
):
    """Start the API server over a normalized events DataFrame; returns the
    live ``ThreadingHTTPServer`` (caller controls lifecycle). The events
    frame is cached — the warm serving state — and so are two tables
    built from it once per served snapshot: the per-app table
    (:func:`app_table`) behind ``/applications`` and
    ``/applications/{id}``, and the per-executor table
    (``executor_details``, only when the frame has ``src_file``) behind
    the detail side of ``/{id}/executors``. Both are cached plans over the
    events frame, one partition each, so their freshness ends where the
    frame's does: a write into the served path through this session makes
    Spark re-cache the frame and both tables; files changed by another
    process are not seen until the next ``serve()``.

    The two table builds run in one 4-thread pool with the ``warmup``
    queries (the dashboard panels and the executor summary, run once so
    whole-stage codegen is compiled before the first user request).

    ``documents`` (optional) attaches a corpus frame and enables the
    ``/api/v1/corpus/*`` analytics routes (profile, Gopher quality
    report, Zipf fit, source-overlap matrix, DoReMi domain weights,
    BPE tokenizer fertility, CCNet line-boilerplate report) — the
    corpus-health dashboard next to the cluster one.

    ``embeddings`` (optional) likewise enables the ``/api/v1/ann/*``
    embedding-health routes (nprobe recall sweep, truncated-dim recall,
    per-dimension stats, centroid-distance outliers) — the index-sizing
    dashboard.

    ``knn_graph_path`` (optional, requires ``embeddings``) points the
    ``/api/v1/ann/graph-expand`` route at a durable S16 kNN-graph index
    (``sources.knn_graph.write_knn_graph``) so serving reads persisted
    adjacency instead of rebuilding the graph per cold call.

    ``dedup_index_path`` (optional, requires ``documents``) points the
    ``/api/v1/corpus/dedup-sweep`` route at a durable S13 dedup index
    (``sources.dedup_index.write_dedup_index``) so the τ-sweep reads
    persisted shingles instead of re-tokenizing per cold call.

    ``ann_index_path`` (optional, requires ``embeddings``) points the
    ``/api/v1/ann/nprobe-recall`` route at a durable S14 index — every
    configuration (label/raw identical to the live sweep; trained/
    residual state the index's own system) — and the
    ``/api/v1/ann/{int8-audit,anisotropy,abtt}`` routes at its
    persisted ``audits/`` relations (``write_ann_audits``); routes fall
    back to the live operators when the index doesn't carry the needed
    artifact (or the sweep refuses a drifted/legacy index).

    ``training_shards_path`` (optional) attaches an S15 shard export.

    ``metrics_rollup_path`` (optional) points the ``/api/v1/metrics/*``
    routes and the dashboard's four panels at a durable S17 metrics
    rollup (``sources.metrics_rollup.write_metrics_rollup``) so those
    analytics are answered from the pre-aggregated day-partitioned
    partials instead of rescanning the warm fact frame; without it they
    fall back to the live catalog operators.
    Any attached durable artifact also surfaces on the read-only
    ``/api/v1/indexes/status`` ops route — relations present,
    meta-served membership counts, tombstone counts; add
    ``?validate=1`` for the full manifest diff (one scan per relation,
    the maintenance-slot cost — not a default any status probe should
    pay)."""
    events = events.cache()
    events.count()  # materialize
    if documents is not None:
        documents = documents.cache()
        documents.count()
    if embeddings is not None:
        embeddings = embeddings.cache()
        embeddings.count()
    # one partition each: a cached plan keeps its shuffle's partition
    # count (8 for a few dozen apps), and every route then pays a task
    # per empty partition
    apps = app_table(events).coalesce(1).cache()
    executors = (
        executor_details(events).coalesce(1).cache()
        if "src_file" in events.columns
        else None
    )
    jobs = [t.count for t in (apps, executors) if t is not None]
    if warmup:
        jobs += [
            catalog.top_resource_consumers(events, limit=1).collect,
            catalog.efficiency_analysis(events, limit=1).collect,
            catalog.capacity_trends(events, limit=1).collect,
            catalog.cost_optimization(events, limit=1).collect,
            catalog.executor_summary(events).collect,
        ]
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(lambda job: job(), jobs))
    httpd = ThreadingHTTPServer((host, port), AnalyticsHandler)
    httpd.events = events  # type: ignore[attr-defined]
    httpd.app_table = apps  # type: ignore[attr-defined]
    httpd.executor_table = executors  # type: ignore[attr-defined]
    httpd.documents = documents  # type: ignore[attr-defined]
    httpd.embeddings = embeddings  # type: ignore[attr-defined]
    httpd.knn_graph_path = knn_graph_path  # type: ignore[attr-defined]
    httpd.dedup_index_path = dedup_index_path  # type: ignore[attr-defined]
    httpd.ann_index_path = ann_index_path  # type: ignore[attr-defined]
    httpd.training_shards_path = training_shards_path  # type: ignore[attr-defined]
    httpd.metrics_rollup_path = metrics_rollup_path  # type: ignore[attr-defined]
    httpd.breaker = CircuitBreaker()  # type: ignore[attr-defined]
    return httpd


#: The optimize view: same sections as the reference's Askama template
#: (templates/platform_engineering_optimize.html — summary-card row,
#: TOP Resource Consumers, Application Efficiency Analysis, Cost
#: Optimization Opportunities, Capacity Trends), rendered SERVER-SIDE
#: like the reference (dashboard.rs:47-53 renders Askama templates, not
#: a JS shell). Every value passes through html.escape — the Askama
#: auto-escape equivalent; row values derive from untrusted event-log
#: content (app ids, file names).
_OPTIMIZE_STYLE = """
 body{font-family:system-ui,sans-serif;margin:2rem;max-width:76rem}
 table{border-collapse:collapse;width:100%;margin:1rem 0}
 th,td{border:1px solid #ccc;padding:.35rem .6rem;text-align:left;font-size:.9rem}
 th{background:#f3f4f6} h2{margin-top:2rem}
 .cards{display:flex;flex-wrap:wrap;gap:.8rem;margin:1rem 0}
 .card{border:1px solid #ddd;border-left:4px solid #0ea5e9;border-radius:6px;
       padding:.7rem 1rem;min-width:10rem}
 .card .v{font-size:1.5rem;font-weight:600}
 .card .l{color:#555;font-size:.8rem}
 .card.danger{border-left-color:#dc2626}.card.warning{border-left-color:#d97706}
 .card.success{border-left-color:#16a34a}
 nav a{margin-right:1rem}
"""


def _html_table(rows: list[dict]) -> str:
    if not rows:
        return "<p>no data</p>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{html_escape(str(c))}</th>" for c in cols)
    body = "".join(
        "<tr>"
        + "".join(f"<td>{html_escape(str(r.get(c)))}</td>" for c in cols)
        + "</tr>"
        for r in rows
    )
    return f"<table><tr>{head}</tr>{body}</table>"


def _html_card(label: str, value, cls: str = "") -> str:
    klass = f"card {cls}".strip()
    return (
        f'<div class="{klass}"><div class="v">{html_escape(str(value))}</div>'
        f'<div class="l">{html_escape(label)}</div></div>'
    )


def _render_optimize_html(d: dict) -> str:
    s = d["summary"]
    cards = "".join(
        (
            _html_card("Resource hogs", s["total_resource_hogs"], "danger"),
            _html_card(
                "Over-provisioned apps", s["over_provisioned_apps"], "warning"
            ),
            _html_card("Under-provisioned apps", s["under_provisioned_apps"]),
            _html_card(
                "Potential monthly savings",
                s["potential_monthly_savings"],
                "success",
            ),
            _html_card(
                "Apps needing optimization", s["apps_needing_optimization"]
            ),
            _html_card(
                "High-confidence optimizations",
                s["high_confidence_optimizations"],
            ),
        )
    )
    return f"""<!doctype html>
<html><head><meta charset="utf-8"><title>Spark Platform — Optimization</title>
<style>{_OPTIMIZE_STYLE}</style></head><body>
<h1>Spark Platform — resource optimization</h1>
<nav><a href="/optimize">Optimize</a><a href="/resources">Resources</a>
<a href="/teams">Teams</a></nav>
<div class="cards">{cards}</div>
<h2>TOP resource consumers</h2>{_html_table(d["resource_hogs"])}
<h2>Application efficiency analysis</h2>{_html_table(d["efficiency"])}
<h2>Cost optimization opportunities</h2>{_html_table(d["cost_optimization"])}
<h2>Capacity trends</h2>{_html_table(d["capacity_trends"])}
</body></html>
"""


_RESOURCES_REDIRECT_HTML = """<!doctype html>
<html><head><title>Resources - Spark Platform</title>
<meta http-equiv="refresh" content="0; url=/optimize"></head>
<body>
<p>The resources view has been integrated into the
<a href="/optimize">Optimization Dashboard</a>.</p>
<p>Redirecting automatically...</p>
</body></html>
"""

_TEAMS_HTML = """<!doctype html>
<html><head><title>Teams - Spark Platform</title>
<style>body{font-family:system-ui;margin:40px;text-align:center}
.message{background:#f0f9ff;border:1px solid #0ea5e9;padding:20px;border-radius:8px}
</style></head>
<body><div class="message">
<h2>Teams View</h2>
<p>Teams functionality coming soon...</p>
<p><a href="/">&larr; Back to Overview</a></p>
</div></body></html>
"""
