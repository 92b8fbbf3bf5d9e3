"""REST API — the reference's HTTP surface (SURVEY.md §2.11) as a thin
stdlib ``http.server`` layer over the query catalog.

Every route is one row of :data:`ROUTES` (path pattern → handler; the
reference's router is ``api.rs:22-56``, ``analytics_api.rs:16-32``), and
each slug family is one table:

- ``/api/v1/applications[/{id}[/executors|jobs|stages|...]]`` — the
  reference's application surface (jobs/stages/storage/environment are
  ``[]`` stubs as in ``api.rs:153-159``; ``jobs?detailed=true`` is the
  per-job rollup)
- :data:`PLATFORM_ROUTES` — the four platform analytics; the
  ``/api/v1/dashboard/summary`` fold and the server-rendered ``/optimize``
  view (also ``/``, ``/dashboard``) run them as summary cards
- :data:`METRIC_SLUGS` — ``/api/v1/metrics/{slug}``, the rollup twins
  (served from an attached S17 rollup, else the live op)
- :data:`ENGAGEMENT_OPS` — ``/api/v1/engagement/{slug}``
- :data:`CORPUS_OPS` / :data:`ANN_OPS` — ``/api/v1/corpus/{slug}`` (needs
  ``documents``) and ``/api/v1/ann/{slug}`` (needs ``embeddings``); the
  slugs of :data:`SERVED_FORMS` read an attached durable index first
- ``/api/v1/indexes/status`` (+ ``?validate=1``) — one
  :data:`_ARTIFACTS` row per attachable durable artifact
- ``/health``, ``/api/v1/version``, ``/api/v1/circuit-breaker``,
  ``/resources`` and ``/teams``; deprecated ``/api/v1/analytics/*`` → 404
  (``analytics_api_test.rs:199-206``); anything else → 404 ``not found``

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
from typing import Callable, NamedTuple
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import date_str
from ..operators import catalog, corpus, llmprep, similarity, textprep
from ..operators.dedup import dedup_threshold_sweep
from ..operators.relational import run_events_tail
from ..sources import ann_index as AI
from ..sources import dedup_index as DI
from ..sources import metrics_rollup as MR
from ..sources import training_shards as TS
from ..sources.event_logs import applications_with_attempts, executor_details
from ..sources.index_manifest import (
    ANN_INDEX_RELATIONS,
    DEDUP_INDEX_RELATIONS,
    CorpusDriftError,
    path_exists,
)
from ..sources.knn_graph import (
    KNN_GRAPH_RELATIONS,
    ann_graph_expand2_from_index,
    ann_graph_expand_from_index,
    validate_knn_graph,
)
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

#: /api/v1/engagement/{slug} → the registered events-SQL shape (R29-R33)
#: run over the warm frame; /api/v1/analytics/* stays a deprecated 404
ENGAGEMENT_OPS = {
    "funnel": "funnel_conversion",
    "retention": "retention_cohorts",
    "transitions": "event_transition_matrix",
    "active-users": "rolling_active_users",
    "segments": "set_ops_user_segments",
}

# The two frame families: every operator takes the attached frame and uses
# per-call scoped views over thread-safe materialized caches, so different
# routes run concurrently with no global lock (pinned by
# tests/test_api.py::test_corpus_routes_concurrent).

#: /api/v1/corpus/{slug} → live operator over the ``documents`` frame
CORPUS_OPS = {
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
    "dedup-sweep": dedup_threshold_sweep,
    "curriculum": corpus.curriculum_stages,
    "vocab-curve": llmprep.bpe_vocab_curve,
    "fragmentation": llmprep.pack_fragmentation,
}

#: /api/v1/ann/{slug} → live operator over the ``embeddings`` frame
ANN_OPS = {
    "nprobe-recall": similarity.ann_nprobe_recall,
    "truncated-recall": similarity.ann_truncated_recall,
    "dim-stats": llmprep.embedding_dim_stats,
    "outliers": llmprep.embedding_outliers,
    "int8-audit": llmprep.embedding_int8_audit,
    "anisotropy": llmprep.embedding_anisotropy,
    "abtt": llmprep.embedding_abtt_audit,
    "graph-expand": similarity.ann_graph_expand,
    "graph-depth": similarity.ann_graph_expand2,
    "rerank": similarity.ann_crossencoder_rerank,
}


class Served(NamedTuple):
    """The durable form of a frame route: when the server has a path at
    ``attr``, ``form(spark, path, frame)`` answers from that artifact
    instead of re-running the live op, or returns None when the
    artifact lacks what the route needs."""

    attr: str
    form: Callable


def _dedup_sweep_served(spark, path, docs):
    # docs=None: the denominator comes from the index's own doc_ids
    # membership, so the fractions stay consistent with the indexed
    # pairs even if the frame drifted; a legacy pre-doc_ids index is
    # measured against the frame
    legacy = not path_exists(spark, f"{path}/doc_ids")
    return DI.dedup_threshold_sweep_from_index(
        spark, path, docs if legacy else None
    )


def _audit_served(name: str) -> Callable:
    """A persisted ``write_ann_audits`` relation; None on an audit-less
    index."""
    return lambda spark, path, emb: (
        AI.read_ann_audit(spark, path, name)
        if AI.has_ann_audit(spark, path, name)
        else None
    )


#: frame-route slug → its durable form: the S13 τ-sweep over persisted
#: shingles, the S16 graph hops over persisted adjacency, the S14 sweep
#: and rerank shortlist over persisted codes (every index configuration
#: states its own system), and the persisted corpus-scan audits. One
#: fallback rule covers every row (``_frame_route``): a drift refusal
#: (``CorpusDriftError``) is logged and the live op serves; any other
#: error surfaces as a 500.
SERVED_FORMS = {
    "dedup-sweep": Served("dedup_index_path", _dedup_sweep_served),
    "graph-expand": Served("knn_graph_path", ann_graph_expand_from_index),
    "graph-depth": Served("knn_graph_path", ann_graph_expand2_from_index),
    "nprobe-recall": Served("ann_index_path", AI.ann_nprobe_recall_from_index),
    "rerank": Served("ann_index_path", AI.ann_crossencoder_rerank_from_index),
    "int8-audit": Served("ann_index_path", _audit_served("int8_audit")),
    "anisotropy": Served("ann_index_path", _audit_served("anisotropy")),
    "abtt": Served("ann_index_path", _audit_served("abtt")),
}


def _count(ids: DataFrame | None) -> int:
    return 0 if ids is None else ids.count()


def _discrepancies(validator: Callable) -> Callable:
    return lambda spark, path: {
        "discrepancies": [r.asDict() for r in validator(spark, path).collect()]
    }


def _ann_counts(spark, path):
    # the S14 tombstone relation is a SEQUENCED log, not a live set: rows
    # out-sequenced by revived vectors (and historical retries) stay
    # until compaction, so a raw count can exceed the suppressed
    # population; it is reported under the name of what it measures
    tombs = f"{path}/tombstones"
    return {
        "n_codes": DI._read_count_row(spark, path, "n_codes"),
        "n_tombstone_rows": (
            spark.read.parquet(tombs).count() if path_exists(spark, tombs) else 0
        ),
    }


def _ann_validated(spark, path):
    # the true suppressed count: one bounded join against the latest code
    # seqs — maintenance-slot cost, like the manifest diff
    n_distinct = (
        spark.read.parquet(f"{path}/codes")
        .where("vec_id IS NOT NULL").select("vec_id").distinct().count()
    )
    return {
        "n_suppressed": n_distinct - AI._live_vec_ids(spark, path).count(),
        **_discrepancies(AI.validate_ann_index)(spark, path),
    }


def _rollup_counts(spark, path):
    return {
        "n_cells": DI._read_count_row(spark, path, "n_cells"),
        "n_tombstones": _count(MR._tombstoned_app_ids(spark, path)),
        # the replay-closure watermark: the highest stream batch
        # compaction has folded per (relation, checkpoint lineage) — []
        # until the first compaction
        "folded_batch_hwm": [
            {"relation": rel, "lineage": lin, "folded_batch": b}
            for (rel, lin), b in sorted(MR._read_folded_hwm(spark, path).items())
        ],
    }


def _shard_counts(spark, path):
    # per-shard doc counts ride the manifest rows (≤ n_shards rows — no
    # shard scan); n_shards is the export's declared modulus from meta/
    manifest = f"{path}/manifest"
    rows = (
        spark.read.parquet(manifest).collect()
        if path_exists(spark, manifest)
        else []
    )
    return {
        "shards": TS._list_shard_ids(spark, path),
        "manifest_rows": len(rows),
        "n_shards": TS._read_meta_n_shards(spark, path),
        "shard_docs": {int(r["shard"]): int(r["n_docs"]) for r in rows},
        "n_docs": sum(int(r["n_docs"]) for r in rows),
    }


class _Artifact(NamedTuple):
    key: str  # the /indexes/status entry name
    relations: tuple | None  # listed when present (None: not listed)
    counts: Callable  # (spark, path) → cheap meta-served fields
    validated: Callable  # (spark, path) → the ?validate=1 fields


#: server path attribute → its /api/v1/indexes/status entry. Tombstones
#: of the dedup and rollup families count DISTINCT ids: suppression is a
#: per-id anti-join, so distinct IS the live suppressed count.
_ARTIFACTS = {
    "dedup_index_path": _Artifact(
        "dedup_index",
        DEDUP_INDEX_RELATIONS + ("meta",),
        lambda spark, path: {
            "n_docs": DI._meta_n_docs(spark, path),
            "n_tombstones": _count(DI._tombstoned_doc_ids(spark, path)),
        },
        _discrepancies(DI.validate_dedup_index),
    ),
    "ann_index_path": _Artifact(
        "ann_index",
        ANN_INDEX_RELATIONS + ("counts", "tombstones"),
        _ann_counts,
        _ann_validated,
    ),
    "knn_graph_path": _Artifact(
        "knn_graph",
        KNN_GRAPH_RELATIONS + ("counts",),
        lambda spark, path: {
            "n_nodes": DI._read_count_row(spark, path, "n_nodes")
        },
        _discrepancies(validate_knn_graph),
    ),
    "metrics_rollup_path": _Artifact(
        "metrics_rollup",
        MR.ROLLUP_RELATIONS + ("counts",),
        _rollup_counts,
        _discrepancies(MR.validate_metrics_rollup),
    ),
    "training_shards_path": _Artifact(
        "training_shards",
        None,
        _shard_counts,
        _discrepancies(TS.validate_training_shards),
    ),
}


class AnalyticsHandler(BaseHTTPRequestHandler):
    """One handler instance per request; the events DataFrame and the
    query catalog hang off the server object."""

    server_version = "spark-history-analytics/1.0"

    # ---- helpers ----------------------------------------------------------
    def _write(self, code: int, content_type: str, body: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", content_type)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _send(self, code: int, payload) -> None:
        self._write(
            code, "application/json", json.dumps(payload, default=str).encode()
        )

    def _send_html(self, html: str) -> None:
        self._write(200, "text/html; charset=utf-8", html.encode())

    def log_message(self, fmt, *args):  # quiet test runs
        pass

    def _indexes_status(self, validate: bool) -> dict:
        """Per-attached-artifact lifecycle status. Cheap by default:
        relations via FS listing, membership via the meta-served
        one-row counts (None = invalidated mid-stream; readers fall
        back to scans, this probe does NOT), tombstones counted from
        their own small relation. ``validate=True`` adds the manifest
        diff — one scan per relation, the maintenance-slot cost, which
        no status probe should pay per request at 100 TB."""
        spark = self.server.events.sparkSession  # type: ignore[attr-defined]
        out: dict = {}
        for attr, art in _ARTIFACTS.items():
            path = getattr(self.server, attr)
            if path is None:
                continue
            entry = {"path": path}
            if art.relations is not None:
                entry["relations"] = [
                    r for r in art.relations
                    if path_exists(spark, f"{path}/{r}")
                ]
            entry.update(art.counts(spark, path))
            if validate:
                entry.update(art.validated(spark, path))
            out[art.key] = entry
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
        for pattern, handler in ROUTES:
            m = pattern.fullmatch(path)
            if m:
                return handler(self, qs, *m.groups())
        self._send(404, {"error": "not found"})

    # ---- route handlers (rows of ROUTES) ------------------------------------
    def _applications(self, qs: dict) -> None:
        # full reference param surface (api.rs:62-99): status list,
        # start-window (minDate/maxDate, P4), end-window
        # (minEndDate/maxEndDate), limit. Unwindowed, the list is a
        # filter over the per-app table; an event window recomputes the
        # A1 columns over the windowed events and takes only the names
        # and attempts from the table.
        status = qs.get("status", [None])[0]
        min_end = qs.get("minEndDate", [None])[0]
        max_end = qs.get("maxEndDate", [None])[0]
        apps = self.server.app_table  # type: ignore[attr-defined]
        if any(qs.get(k) for k in _EVENT_WINDOW_PARAMS):
            apps = catalog.application_rows(self._filtered_events(qs)).join(
                apps.select("app_id", "app_name", "attempts"), "app_id", "left"
            )
        df = catalog.filter_applications(
            apps,
            statuses=status.split(",") if status else None,
            min_end_ms=parse_date_param(min_end) if min_end else None,
            max_end_ms=parse_date_param(max_end) if max_end else None,
            limit=self._limit(qs, 100),
        )
        self._send(200, [_wire_app_row(r) for r in _rows(df)])

    def _application(self, qs: dict, app_id: str) -> None:
        table = self.server.app_table  # type: ignore[attr-defined]
        rows = _rows(table.filter(F.col("app_id") == app_id).drop("completed"))
        if not rows:
            return self._send(404, {"error": "unknown application"})
        self._send(200, _wire_app_row(rows[0]))

    def _executors(self, qs: dict, app_id: str) -> None:
        ev = self.server.events  # type: ignore[attr-defined]
        rows = _rows(catalog.executor_summary(ev.filter(ev["app_id"] == app_id)))
        detail: dict = {}
        executors = self.server.executor_table  # type: ignore[attr-defined]
        if executors is not None:
            # real-log source: the executor_details fold supplies the
            # metadata fields (log/attribute maps, remove reason, ...)
            detail = {
                r["executor_id"]: r
                for r in _rows(executors.filter(F.col("app_id") == app_id))
            }
        self._send(
            200,
            [_wire_executor(r, detail.get(r.get("executor_id"))) for r in rows],
        )

    def _app_stub(self, qs: dict, app_id: str, kind: str) -> None:
        # the reference stubs these with [] (api.rs:153-159); the
        # extension ?detailed=true serves the real per-job rollup
        if kind == "jobs" and qs.get("detailed", ["false"])[0].lower() == "true":
            ev = self.server.events  # type: ignore[attr-defined]
            return self._send(
                200, _rows(catalog.job_metrics(ev.filter(ev["app_id"] == app_id)))
            )
        self._send(200, [])

    def _metric(self, qs: dict, slug: str) -> None:
        # beyond-reference: the rollup twins served from the durable S17
        # metrics rollup when one is attached — the dashboard refresh
        # reads the pre-aggregated day-partitioned relations instead of
        # rescanning the fact table; the live-op fallback keeps the
        # routes available on rollup-less servers. The attached rollup is
        # authoritative: it is the continuously-maintained artifact, while
        # the server's warm frame may itself be a window of the corpus.
        name = METRIC_SLUGS[slug]
        # task_duration_percentiles is the DECLARED divergence (the sketch
        # contract, reference analytics_api.rs:308): a rollup-attached
        # server answers from the DDSketch relation (≤1% relative error),
        # the fallback runs the exact holistic op
        twin = MR.ROLLUP_TWINS.get(name, MR.DURATION_SKETCH)
        kw = {} if twin.limit is None else {"limit": self._limit(qs, twin.limit)}

        # optional DAY-granular window (?startDate/?endDate, same parser as
        # /applications): the bound prunes the rollup's day partitions on a
        # cold read and row-prunes the warm relation; the live fallback
        # applies the identical day predicate so both stay wire-identical
        def _day(param):
            raw = qs.get(param, [None])[0]
            if not raw:
                return None
            return datetime.fromtimestamp(
                parse_date_param(raw) / 1000.0, tz=timezone.utc
            ).strftime("%Y-%m-%d")

        start_day, end_day = _day("startDate"), _day("endDate")

        def _window(df, day):
            if start_day:
                df = df.filter(day >= start_day)
            if end_day:
                df = df.filter(day <= end_day)
            return df

        ev = self.server.events  # type: ignore[attr-defined]
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
        self._send(200, _rows(df))

    def _engagement(self, qs: dict, slug: str) -> None:
        df = run_events_tail(self._filtered_events(qs), ENGAGEMENT_OPS[slug])
        self._send(200, _rows(df))

    def _frame_route(self, qs: dict, slug: str, attr: str, ops: dict) -> None:
        """A /corpus or /ann route over the attached ``attr`` frame (404
        with a hint when absent): its :data:`SERVED_FORMS` row when that
        artifact is attached, else the live op."""
        frame = getattr(self.server, attr)
        if frame is None:
            return self._send(
                404, {"error": f"no {attr} frame attached to this server"}
            )

        def send(df):
            self._send(200, _rows(df.limit(self._limit(qs, 1000))))

        served = SERVED_FORMS.get(slug)
        path = getattr(self.server, served.attr) if served else None
        if path is not None:
            try:
                df = served.form(frame.sparkSession, path, frame)
                if df is not None:
                    return send(df)
            except CorpusDriftError as ex:
                # only the typed refusal degrades: a genuine bug in a
                # served form surfaces as a 500
                _log_index_fallback(slug, ex)
        send(ops[slug](frame))

    def _platform(self, qs: dict, route: str) -> None:
        name, wire, _ = PLATFORM_ROUTES[route]
        df = getattr(catalog, name)(
            self._filtered_events(qs),
            limit=self._limit(qs, MR.ROLLUP_TWINS[name].limit),
        )
        self._send(200, [wire(r) for r in _rows(df)])


def _slugs(prefix: str, table: dict) -> str:
    """A pattern matching ``prefix`` plus exactly one key of ``table``
    (captured), so an unknown slug falls through to 404."""
    return prefix + "(" + "|".join(map(re.escape, table)) + ")"


#: path pattern (``re.fullmatch`` over the path without trailing ``/``) →
#: handler(handler, query params, *captured groups); first match wins
ROUTES = [
    (re.compile(pattern), handler)
    for pattern, handler in (
        ("/health", lambda h, qs: h._send(200, {"status": "healthy"})),
        ("/api/v1/version", lambda h, qs: h._send(200, VERSION)),
        # deprecated endpoints must 404 (analytics_api_test.rs:199-206)
        (
            "/api/v1/analytics(?s:.*)",
            lambda h, qs: h._send(404, {"error": "deprecated endpoint"}),
        ),
        (
            "/api/v1/indexes/status",
            lambda h, qs: h._send(200, h._indexes_status("validate" in qs)),
        ),
        ("/api/v1/applications", AnalyticsHandler._applications),
        ("/api/v1/applications/([^/]+)", AnalyticsHandler._application),
        ("/api/v1/applications/([^/]+)/executors", AnalyticsHandler._executors),
        (
            "/api/v1/applications/([^/]+)/(jobs|stages|storage/rdd|environment)",
            AnalyticsHandler._app_stub,
        ),
        (_slugs("/api/v1/metrics/", METRIC_SLUGS), AnalyticsHandler._metric),
        (_slugs("/api/v1/engagement/", ENGAGEMENT_OPS), AnalyticsHandler._engagement),
        (
            _slugs("/api/v1/corpus/", CORPUS_OPS),
            lambda h, qs, slug: h._frame_route(qs, slug, "documents", CORPUS_OPS),
        ),
        (
            _slugs("/api/v1/ann/", ANN_OPS),
            lambda h, qs, slug: h._frame_route(qs, slug, "embeddings", ANN_OPS),
        ),
        (_slugs("", PLATFORM_ROUTES), AnalyticsHandler._platform),
        # the server-rendered dashboard (reference dashboard.rs:47-51 routes
        # "/" and "/optimize" to the same view), every value HTML-escaped
        (
            "/|/optimize|/dashboard",
            lambda h, qs: h._send_html(_render_optimize_html(h._dashboard_payload())),
        ),
        # the analytics view retired → redirect to /optimize, and a static
        # placeholder (reference dashboard.rs:161-214)
        ("/resources", lambda h, qs: h._send_html(_RESOURCES_REDIRECT_HTML)),
        ("/teams", lambda h, qs: h._send_html(_TEAMS_HTML)),
        (
            "/api/v1/dashboard/summary",
            lambda h, qs: h._send(200, h._dashboard_payload()),
        ),
    )
]


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
    ``/api/v1/corpus/*`` analytics (:data:`CORPUS_OPS`) — the
    corpus-health dashboard next to the cluster one; ``embeddings``
    (optional) likewise enables the ``/api/v1/ann/*`` embedding-health
    routes (:data:`ANN_OPS`) — the index-sizing dashboard.

    ``dedup_index_path`` (S13, ``write_dedup_index``; needs
    ``documents``), ``knn_graph_path`` (S16, ``write_knn_graph``) and
    ``ann_index_path`` (S14, ``write_ann_index`` + ``write_ann_audits``;
    both need ``embeddings``) point the :data:`SERVED_FORMS` routes at
    those durable artifacts, so they read persisted shingles, adjacency,
    codes and audits instead of recomputing per cold call; a route falls
    back to the live operator when its artifact is missing or the served
    form refuses a drifted index.

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
            getattr(catalog, name)(events, limit=1).collect
            for name, _, _ in PLATFORM_ROUTES.values()
        ] + [catalog.executor_summary(events).collect]
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


#: the optimize view's summary-card row: (label, summary key, card class)
_CARDS = (
    ("Resource hogs", "total_resource_hogs", "danger"),
    ("Over-provisioned apps", "over_provisioned_apps", "warning"),
    ("Under-provisioned apps", "under_provisioned_apps", ""),
    ("Potential monthly savings", "potential_monthly_savings", "success"),
    ("Apps needing optimization", "apps_needing_optimization", ""),
    ("High-confidence optimizations", "high_confidence_optimizations", ""),
)


def _render_optimize_html(d: dict) -> str:
    cards = "".join(
        _html_card(label, d["summary"][key], cls) for label, key, cls in _CARDS
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
