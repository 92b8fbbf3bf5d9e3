"""End-to-end API tests against a live server (reference pattern:
analytics_api_test.rs — boot the full app on an ephemeral port, walk the
endpoints, assert status + shape + data-quality invariants)."""

from __future__ import annotations

import json
import os
import threading
import urllib.request

import pytest

from spark_history_server_rs_spark.api.server import parse_date_param, serve
from spark_history_server_rs_spark.sources.generic import load_events
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def api(spark):
    ev = load_events(spark, SF_SMALL)
    httpd = serve(ev)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    yield base
    httpd.shutdown()


def _get(base, path):
    try:
        with urllib.request.urlopen(base + path, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_and_version(api):
    assert _get(api, "/health") == (200, {"status": "healthy"})
    code, v = _get(api, "/api/v1/version")
    assert code == 200 and v["engine"] == "pyspark"


def test_applications_walk(api):
    code, apps = _get(api, "/api/v1/applications?limit=5")
    assert code == 200 and 0 < len(apps) <= 5
    app_id = apps[0]["app_id"]
    code, one = _get(api, f"/api/v1/applications/{app_id}")
    assert code == 200 and one["app_id"] == app_id
    code, execs = _get(api, f"/api/v1/applications/{app_id}/executors")
    assert code == 200 and isinstance(execs, list)
    code, jobs = _get(api, f"/api/v1/applications/{app_id}/jobs")
    assert (code, jobs) == (200, [])  # stub parity
    code, _ = _get(api, "/api/v1/applications/definitely-missing")
    assert code == 404


def test_analytics_endpoints_and_invariants(api):
    """Mirrors the reference's own endpoint walk
    (analytics_api_test.rs:63-175): same routes, same WIRE field names
    (analytics_api.rs:53-143), same shape assertions."""
    code, hogs = _get(api, "/api/v1/optimization/resource-hogs?limit=5")
    assert code == 200 and len(hogs) <= 5
    for h in hogs:
        for field in ("app_id", "resource_type", "consumption_value",
                      "efficiency_score", "recommendation", "last_seen"):
            assert field in h
        assert h["resource_type"] == "Memory"
        assert h["consumption_value"] > 0
        assert h["efficiency_score"] in (60.0, 75.0, 85.0)

    code, eff = _get(api, "/api/v1/optimization/efficiency-analysis")
    assert code == 200
    for e in eff:
        for field in ("app_id", "efficiency_category", "memory_efficiency",
                      "cpu_efficiency", "optimization_actions"):
            assert field in e
        assert e["efficiency_category"] in (
            "OverProvisioned",
            "UnderProvisioned",
            "WellTuned",
        )
        assert e["risk_level"] in ("Low", "Medium", "High")
        assert 0 <= e["memory_efficiency"] <= 100
        assert isinstance(e["optimization_actions"], list)
        assert len(e["optimization_actions"]) >= 1

    code, trends = _get(api, "/api/v1/capacity/usage-trends")
    assert code == 200
    for t in trends:
        for field in ("date", "total_memory_gb_used", "total_cpu_cores_used",
                      "peak_concurrent_applications"):
            assert field in t
        assert 0 <= t["cluster_capacity_percentage"] <= 100

    code, cost = _get(api, "/api/v1/capacity/cost-optimization")
    assert code == 200
    for c in cost:
        for field in ("app_id", "optimization_type", "current_cost",
                      "savings_percentage", "confidence_score",
                      "formatted_savings"):
            assert field in c
        assert c["optimized_cost"] <= c["current_cost"]
        assert c["formatted_savings"].startswith("$")


def test_engagement_endpoints(api):
    """Beyond-reference engagement surface (R29-R33) served from the warm
    frame; /api/v1/analytics/* stays the deprecated 404."""
    code, funnel = _get(api, "/api/v1/engagement/funnel")
    assert code == 200 and [r["step"] for r in funnel] == [1, 2, 3]
    assert funnel[0]["step_event"] == "view"
    code, ret = _get(api, "/api/v1/engagement/retention")
    assert code == 200 and len(ret) >= 1
    assert all(r["active_users"] <= r["cohort_size"] for r in ret)
    code, trans = _get(api, "/api/v1/engagement/transitions")
    assert code == 200 and len(trans) >= 1
    assert all(0.0 <= r["p"] <= 1.0 for r in trans)
    code, au = _get(api, "/api/v1/engagement/active-users")
    assert code == 200 and all(r["dau"] <= r["wau"] for r in au)
    code, seg = _get(api, "/api/v1/engagement/segments")
    assert code == 200 and isinstance(seg, list)


def test_events_tail_isolated_between_concurrent_filters(spark):
    """run_events_tail serves ThreadingHTTPServer requests off ONE shared
    SparkSession; a fixed temp-view name raced between two concurrent
    requests with different filters (one request silently computing over
    the other's filtered frame). Pin the fix: per-call unique views,
    dropped before return, and two frames built back-to-back keep their
    own filters."""
    from spark_history_server_rs_spark.operators.relational import (
        run_events_tail,
    )
    from spark_history_server_rs_spark.sources.generic import load_events
    from tests.conftest import SF_ORACLE

    ev = load_events(spark, SF_ORACLE)
    one_app = ev.filter(
        ev.app_id == ev.select("app_id").first()["app_id"]
    )
    # build both DataFrames BEFORE collecting either — with a shared
    # view name the second register would clobber the first's relation
    df_all = run_events_tail(ev, "rolling_active_users")
    df_one = run_events_tail(one_app, "rolling_active_users")
    all_dau = {(r["epoch_day"], r["dau"]) for r in df_all.collect()}
    one_dau = {(r["epoch_day"], r["dau"]) for r in df_one.collect()}
    assert one_dau != all_dau  # the single-app frame kept its filter
    # no view leaks into the shared catalog
    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("_rel_ev_live")
    ]
    assert leaked == []


def test_date_filter_params(api):
    code, all_apps = _get(api, "/api/v1/applications")
    # a start date far in the future filters everything out
    code2, none = _get(api, "/api/v1/applications?startDate=2050-01-01")
    assert code == code2 == 200
    assert len(none) == 0 < len(all_apps)
    code3, bad = _get(api, "/api/v1/applications?startDate=garbage")
    assert code3 == 400


def test_deprecated_analytics_404(api):
    for p in ("/api/v1/analytics/resource-usage", "/api/v1/analytics/anything"):
        code, _ = _get(api, p)
        assert code == 404


def test_dashboard_summary(api):
    code, dash = _get(api, "/api/v1/dashboard/summary")
    assert code == 200
    s = dash["summary"]
    assert s["n_hogs"] == len(dash["resource_hogs"])
    assert s["n_cost_opportunities"] == len(dash["cost_optimization"])
    assert s["total_potential_savings"] >= 0
    # the reference SummaryStats fold (dashboard.rs:100-131)
    assert s["total_resource_hogs"] == len(dash["resource_hogs"])
    cats = [e["efficiency_category"] for e in dash["efficiency"]]
    assert s["over_provisioned_apps"] == cats.count("OverProvisioned")
    assert s["under_provisioned_apps"] == cats.count("UnderProvisioned")
    assert s["potential_monthly_savings"].startswith("$")
    assert s["apps_needing_optimization"] == len(dash["cost_optimization"])
    assert 0 <= s["high_confidence_optimizations"] <= len(dash["cost_optimization"])


def test_root_serves_dashboard_html(api):
    """Reference routes '/' to the optimize view (dashboard.rs:47-51)."""
    import urllib.request

    with urllib.request.urlopen(api + "/", timeout=120) as r:
        assert r.status == 200
        assert "text/html" in r.headers["Content-Type"]
        assert "Resource hogs" in r.read().decode()


def test_parse_date_param():
    assert parse_date_param("1700486400000") == 1700486400000
    assert parse_date_param("2023-11-20") == 1700438400000
    assert parse_date_param("2023-11-20T12:00:00+00:00") == 1700481600000
    with pytest.raises(ValueError):
        parse_date_param("not-a-date")


def test_dashboard_html(api):
    import urllib.request

    with urllib.request.urlopen(api + "/optimize", timeout=120) as r:
        assert r.status == 200
        assert "text/html" in r.headers["Content-Type"]
        body = r.read().decode()
    assert "Resource hogs" in body


def test_applications_status_and_end_date_filters(api):
    """Mirrors the reference's declared param surface (api.rs:62-99) with
    the filters actually applied: status=running|completed partitions the
    app list; minEndDate/maxEndDate bound the app's last-event time."""
    code, all_apps = _get(api, "/api/v1/applications")
    code1, completed = _get(api, "/api/v1/applications?status=completed")
    code2, running = _get(api, "/api/v1/applications?status=running")
    assert code == code1 == code2 == 200
    assert all(a["completed"] for a in completed)
    assert not any(a["completed"] for a in running)
    # the two statuses partition the full list
    assert len(completed) + len(running) == len(all_apps)
    # comma list = union; unknown tokens are dropped (filter_map parity)
    code3, both = _get(api, "/api/v1/applications?status=running,completed,bogus")
    assert code3 == 200 and len(both) == len(all_apps)

    # end-date window: a future minEndDate excludes everything
    code4, none = _get(api, "/api/v1/applications?minEndDate=2050-01-01")
    assert code4 == 200 and none == []
    code5, still = _get(api, "/api/v1/applications?maxEndDate=2050-01-01")
    assert code5 == 200 and len(still) == len(all_apps)
    code6, _ = _get(api, "/api/v1/applications?minEndDate=garbage")
    assert code6 == 400


def test_limit_validation(api):
    """Malformed limit → 400, not a Spark-side 500 (negative limits raise
    inside df.limit); huge limits are clamped, not fatal."""
    for bad in ("-1", "abc", "1.5"):
        code, body = _get(api, f"/api/v1/applications?limit={bad}")
        assert code == 400, (bad, body)
    code, apps = _get(api, "/api/v1/applications?limit=999999999")
    assert code == 200


def test_resources_redirect_and_teams(api):
    import urllib.request

    with urllib.request.urlopen(api + "/resources", timeout=120) as r:
        assert r.status == 200
        body = r.read().decode()
    assert 'url=/optimize' in body  # meta-refresh redirect (dashboard.rs:161-187)
    with urllib.request.urlopen(api + "/teams", timeout=120) as r:
        assert r.status == 200
        body = r.read().decode()
    assert "Teams" in body


def test_dashboard_server_rendered_and_escaped(api):
    """The optimize view renders server-side like the reference's Askama
    templates (dashboard.rs:47-53): all four sections plus the summary
    cards arrive as HTML, no client fetch needed. XSS gate: every cell
    value passes html.escape, so markup characters from untrusted
    event-log content can never appear raw."""
    import urllib.request

    from spark_history_server_rs_spark.api.server import (
        _html_card,
        _html_table,
    )

    with urllib.request.urlopen(api + "/dashboard", timeout=120) as r:
        body = r.read().decode()
    for section in (
        "TOP resource consumers",
        "Application efficiency analysis",
        "Cost optimization opportunities",
        "Capacity trends",
        "Potential monthly savings",
    ):
        assert section in body
    # server-rendered: table cells present, no client-side data fetch
    assert "<td>" in body and "fetch(" not in body
    # escaping: a hostile value cannot break out of its cell
    evil = '<script>alert(1)</script>"<img onerror=x>'
    rendered = _html_table([{"app_id": evil}]) + _html_card("l", evil)
    assert "<script>" not in rendered and "<img" not in rendered


def test_single_application_includes_attempts(api):
    """ApplicationInfo wire shape (models.rs:8-40): camelCase attempt
    fields incl. the explicit *Epoch renames, RFC3339 times."""
    code, apps = _get(api, "/api/v1/applications?limit=1")
    app_id = apps[0]["app_id"]
    assert apps[0]["id"] == app_id  # wire id + engine extras coexist
    code, one = _get(api, f"/api/v1/applications/{app_id}")
    assert code == 200
    assert isinstance(one["attempts"], list) and len(one["attempts"]) >= 1
    att = one["attempts"][0]
    for k in ("attemptId", "startTime", "endTime", "lastUpdated", "duration",
              "sparkUser", "completed", "appSparkVersion", "startTimeEpoch",
              "endTimeEpoch", "lastUpdatedEpoch"):
        assert k in att
    assert att["startTime"].endswith("Z")
    for k in ("coresGranted", "maxCores", "coresPerExecutor",
              "memoryPerExecutorMb"):
        assert k in one


def test_api_over_real_event_logs(spark, tmp_path):
    """End-to-end on the reference's own fixture logs: boot the server over
    ingested eventlog_v2 rollover dirs and walk the application surface,
    including the attempt list and the executor metadata maps."""
    import os

    real = "/root/reference/test-data/spark-events"
    if not os.path.isdir(real):
        pytest.skip("reference fixture logs unavailable")
    from spark_history_server_rs_spark.sources.event_logs import read_event_logs

    events = read_event_logs(spark, real + "/eventlog_v2_*/*")
    httpd = serve(events)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        code, apps = _get(base, "/api/v1/applications")
        assert code == 200 and len(apps) == 3
        app_id = apps[0]["app_id"]
        code, one = _get(base, f"/api/v1/applications/{app_id}")
        assert code == 200 and len(one["attempts"]) == 1
        assert one["attempts"][0]["appSparkVersion"] == "3.5.3"
        code, execs = _get(base, f"/api/v1/applications/{app_id}/executors")
        assert code == 200 and len(execs) > 0
        for e in execs:
            # ExecutorSummary wire shape (models.rs:83-112)
            for k in ("id", "hostPort", "isActive", "totalCores",
                      "totalDuration", "totalGCTime", "executorLogs",
                      "attributes", "resourceProfileId", "addTime"):
                assert k in e
            assert e["executorLogs"] == {} and e["attributes"] == {}
            assert e["addTime"] is not None
    finally:
        httpd.shutdown()


def test_jobs_detailed_extension(api):
    """Default /jobs keeps reference stub parity ([]); ?detailed=true
    returns the real per-job rollup."""
    code, apps = _get(api, "/api/v1/applications?limit=1")
    app_id = apps[0]["app_id"]
    code, stub = _get(api, f"/api/v1/applications/{app_id}/jobs")
    assert (code, stub) == (200, [])
    code, jobs = _get(api, f"/api/v1/applications/{app_id}/jobs?detailed=true")
    assert code == 200 and len(jobs) > 0
    for j in jobs:
        assert j["total_tasks"] >= j["successful_tasks"]
        assert j["total_duration_ms"] >= 0


def test_circuit_breaker_state_machine():
    """Unit: CLOSED -> OPEN after N failures, OPEN fails fast, HALF_OPEN
    after the timeout, trial successes re-close, trial failure re-opens
    (reference circuit_breaker.rs state machine + defaults)."""
    from spark_history_server_rs_spark.api.circuit_breaker import (
        CLOSED, HALF_OPEN, OPEN, CircuitBreaker,
    )

    t = [0.0]
    cb = CircuitBreaker(failure_threshold=3, success_threshold=2,
                        timeout_s=10, window_s=100, clock=lambda: t[0])
    assert cb.state == CLOSED and cb.allow()
    for _ in range(3):
        cb.record_failure()
    assert cb.state == OPEN and not cb.allow()
    # timeout elapses -> half-open trials allowed
    t[0] = 11.0
    assert cb.allow() and cb.state == HALF_OPEN
    cb.record_success()
    assert cb.state == HALF_OPEN  # needs success_threshold
    cb.record_success()
    assert cb.state == CLOSED
    # a half-open failure re-opens immediately
    for _ in range(3):
        cb.record_failure()
    t[0] = 22.0
    assert cb.state == HALF_OPEN
    cb.record_failure()
    assert cb.state == OPEN
    # failure window: stale failures don't accumulate
    t[0] = 100.0
    cb2 = CircuitBreaker(failure_threshold=3, timeout_s=10, window_s=50,
                         clock=lambda: t[0])
    cb2.record_failure(); cb2.record_failure()
    t[0] = 160.0  # window rolls over
    cb2.record_failure()
    assert cb2.state == CLOSED  # only 1 failure in the current window


def test_circuit_breaker_endpoint_and_serving(api):
    """Wire: the status endpoint reports CLOSED under normal serving, and
    client errors (400s) don't trip the breaker."""
    code, st = _get(api, "/api/v1/circuit-breaker")
    assert code == 200 and st["state"] == "closed"
    for _ in range(6):
        code, _body = _get(api, "/api/v1/applications?limit=abc")
        assert code == 400
    code, st = _get(api, "/api/v1/circuit-breaker")
    assert code == 200 and st["state"] == "closed"


def test_corpus_endpoints(spark):
    """Beyond-reference corpus analytics routes: served when a documents
    frame is attached, a helpful 404 when not."""
    from spark_history_server_rs_spark.sources.generic import load_table

    ev = load_events(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents")
    httpd = serve(ev, warmup=False, documents=docs)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        code, zipf = _get(base, "/api/v1/corpus/zipf")
        assert code == 200 and len(zipf) == 1
        assert {"n_tokens", "n_types", "zipf_slope"} <= set(zipf[0])
        code, quality = _get(base, "/api/v1/corpus/quality?limit=5")
        assert code == 200 and 0 < len(quality) <= 5
        assert "keep" in quality[0]
        code, sources = _get(base, "/api/v1/corpus/sources")
        assert code == 200 and all("jaccard" in r for r in sources)
        code, weights = _get(base, "/api/v1/corpus/domain-weights")
        assert code == 200 and len(weights) >= 1
        assert abs(sum(r["domain_weight"] for r in weights) - 1.0) < 0.01
        code, prof = _get(base, "/api/v1/corpus/profile")
        assert code == 200 and len(prof) >= 1
        code, fert = _get(base, "/api/v1/corpus/fertility")
        assert code == 200 and len(fert) >= 1
        assert all(r["fertility"] >= 1.0 for r in fert)  # ≥1 subword/word
        code, boiler = _get(base, "/api/v1/corpus/boilerplate?limit=5")
        assert code == 200 and 0 < len(boiler) <= 5
        assert {"n_lines", "boiler_frac", "keep"} <= set(boiler[0])
        code, enc = _get(base, "/api/v1/corpus/encoding")
        assert code == 200 and len(enc) >= 1
        assert {"source", "artifact_rate", "multibyte_ratio"} <= set(enc[0])
        code, surv = _get(base, "/api/v1/corpus/survivorship")
        assert code == 200 and len(surv) >= 1
        assert {"source", "doc_kept_rate", "token_kept_rate"} <= set(surv[0])
        assert all(r["n_docs_kept"] <= r["n_docs"] for r in surv)
        code, agr = _get(base, "/api/v1/corpus/filter-agreement")
        assert code == 200 and 1 <= len(agr) <= 4
        assert abs(sum(r["frac"] for r in agr) - 1.0) < 0.01
        code, nov = _get(base, "/api/v1/corpus/novelty")
        assert code == 200 and 1 <= len(nov) <= 10
        assert nov[0]["novelty_rate"] == 1.0  # bucket 0 is all-new
        assert all(r["n_new_shingles"] <= r["n_distinct_shingles"]
                   for r in nov)
        code, sup = _get(base, "/api/v1/corpus/surprisal?limit=20")
        assert code == 200 and 1 <= len(sup) <= 20
        assert {"doc_id", "n_bigrams", "avg_nll", "bits_per_bigram"} <= set(
            sup[0]
        )
        assert all(r["avg_nll"] >= 0.0 for r in sup)  # add-one: p <= 1
        code, cmp_ = _get(base, "/api/v1/corpus/compression")
        assert code == 200 and len(cmp_) >= 1
        assert {"source", "lang", "bytes_per_token", "n_bpe_tokens"} <= set(
            cmp_[0]
        )
        assert all(
            r["n_bpe_tokens"] >= r["n_words"] for r in cmp_
        )  # merges never split below one subword per word
        code, fr = _get(base, "/api/v1/corpus/fragmentation")
        assert code == 200 and len(fr) >= 1
        # each budget boundary is crossed by at most one doc, so
        # fragmented_docs <= n_bins - 1 is a theorem per language
        assert all(r["fragmented_docs"] < r["n_bins"] for r in fr)
        code, vc = _get(base, "/api/v1/corpus/vocab-curve")
        assert code == 200 and len(vc) == 9  # ranks 0..BPE_TRAIN_MERGES
        # each merge can only shrink the corpus token count, and the
        # symbol inventory never shrinks by more than it adds
        for lo, hi in zip(vc, vc[1:]):
            assert lo["merge_rank"] + 1 == hi["merge_rank"]
            assert hi["corpus_tokens"] <= lo["corpus_tokens"]
            assert hi["fertility"] <= lo["fertility"] + 1e-9
        code, cur = _get(base, "/api/v1/corpus/curriculum")
        assert code == 200 and len(cur) >= 4
        stages = sorted({r["stage"] for r in cur})
        assert stages == [1, 2, 3, 4]
        # easy->hard: stage mean difficulties are non-decreasing when
        # averaged per stage (exact quartiles by per-token surprisal)
        per_stage = {
            s_: sum(r["mean_difficulty"] * r["n_docs"] for r in cur
                    if r["stage"] == s_)
            / sum(r["n_docs"] for r in cur if r["stage"] == s_)
            for s_ in stages
        }
        assert all(per_stage[a] <= per_stage[b] + 1e-9
                   for a, b in zip(stages, stages[1:]))
        code, sw = _get(base, "/api/v1/corpus/dedup-sweep")
        assert code == 200 and len(sw) == 6
        # monotone: a stricter threshold can only drop pairs/removals
        for lo, hi in zip(sw, sw[1:]):
            assert lo["threshold"] < hi["threshold"]
            assert lo["n_pairs"] >= hi["n_pairs"]
            assert lo["n_docs_removed"] >= hi["n_docs_removed"]
    finally:
        httpd.shutdown()


def test_ann_endpoints(spark):
    """Beyond-reference embedding/ANN health routes: served when an
    embeddings frame is attached, a helpful 404 when not. The
    nprobe-recall sweep is the probe-width tuning curve; truncated
    recall the storage-sizing one."""
    from spark_history_server_rs_spark.sources.generic import load_table

    ev = load_events(spark, SF_SMALL)
    emb = load_table(spark, SF_SMALL, "embeddings")
    httpd = serve(ev, warmup=False, embeddings=emb)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        code, sweep = _get(base, "/api/v1/ann/nprobe-recall")
        assert code == 200 and len(sweep) >= 3
        assert {"nprobe", "query_id", "recall_at_k"} <= set(sweep[0])
        assert sorted({r["nprobe"] for r in sweep}) == [1, 2, 3]
        code, trunc = _get(base, "/api/v1/ann/truncated-recall")
        assert code == 200 and all(0.0 <= r["recall_at_k"] <= 1.0 for r in trunc)
        code, dims = _get(base, "/api/v1/ann/dim-stats?limit=4")
        assert code == 200 and 0 < len(dims) <= 4
        code, outl = _get(base, "/api/v1/ann/outliers?limit=5")
        assert code == 200 and len(outl) <= 5
        code, i8 = _get(base, "/api/v1/ann/int8-audit")
        assert code == 200 and len(i8) >= 1
        code, an = _get(base, "/api/v1/ann/anisotropy")
        assert code == 200 and len(an) == 1
        assert {"n_vecs", "avg_norm", "avg_pairwise_cos"} <= set(an[0])
        assert -1.0 <= an[0]["avg_pairwise_cos"] <= 1.0
        code, gx = _get(base, "/api/v1/ann/graph-expand")
        assert code == 200 and len(gx) >= 1
        # the documented theorem: one graph hop can only improve recall
        assert all(r["recall_graph"] >= r["recall_seed"] for r in gx)
        code, gd = _get(base, "/api/v1/ann/graph-depth")
        assert code == 200 and len(gd) >= 1
        # the depth curve extends the theorem, and its 1-hop level must
        # agree with the graph-expand route row-by-row
        assert all(
            r["recall_hop2"] >= r["recall_hop1"] >= r["recall_seed"]
            for r in gd
        )
        gx_by_q = {r["query_id"]: r["recall_graph"] for r in gx}
        assert all(gx_by_q[r["query_id"]] == r["recall_hop1"] for r in gd)
        code, ab = _get(base, "/api/v1/ann/abtt")
        assert code == 200 and len(ab) == 1
        # mean-centered vectors sum to ~0, so the centered average
        # pairwise cosine sits near its algebraic floor -1/(n-1)
        n = ab[0]["n_vecs"]
        assert ab[0]["avg_cos_centered"] <= ab[0]["avg_cos_raw"] + 1e-9
        assert abs(ab[0]["avg_cos_centered"] + 1.0 / (n - 1)) < 0.01
        assert {"dim", "range_use_pct", "mse_tensor_scale",
                "mse_channel_scale"} <= set(i8[0])
        assert all(0.0 <= r["range_use_pct"] <= 100.0 for r in i8)
        # no documents frame → corpus routes still 404 with the hint
        code, err = _get(base, "/api/v1/corpus/zipf")
        assert code == 404 and "documents" in err["error"]
    finally:
        httpd.shutdown()

    # S16-backed serving: the same route over a durable kNN-graph index
    # returns IDENTICAL rows without the inline graph rebuild
    import tempfile

    from spark_history_server_rs_spark.sources.knn_graph import (
        write_knn_graph,
    )

    gpath = tempfile.mkdtemp() + "/knng"
    write_knn_graph(emb, gpath)
    httpd_idx = serve(ev, warmup=False, embeddings=emb, knn_graph_path=gpath)
    t_idx = threading.Thread(target=httpd_idx.serve_forever, daemon=True)
    t_idx.start()
    base_idx = f"http://127.0.0.1:{httpd_idx.server_address[1]}"
    try:
        code, gx_idx = _get(base_idx, "/api/v1/ann/graph-expand")
        assert code == 200 and gx_idx == gx
        code, gd_idx = _get(base_idx, "/api/v1/ann/graph-depth")
        assert code == 200 and gd_idx == gd
    finally:
        httpd_idx.shutdown()

    # events-only server: ann routes 404 with the hint
    httpd2 = serve(ev, warmup=False)
    t2 = threading.Thread(target=httpd2.serve_forever, daemon=True)
    t2.start()
    base2 = f"http://127.0.0.1:{httpd2.server_address[1]}"
    try:
        code, err = _get(base2, "/api/v1/ann/nprobe-recall")
        assert code == 404 and "embeddings" in err["error"]
    finally:
        httpd2.shutdown()


def test_corpus_routes_concurrent(spark):
    """Round-6 de-serialization (VERDICT #4): different corpus endpoints
    in flight simultaneously return correct results with no global lock
    — the operators use per-call scoped views over thread-safe
    materialized caches. Also pins the underlying operator race: two
    threads running different operators over DIFFERENT frames must not
    see each other's data (the old fixed-view registration bug)."""
    from spark_history_server_rs_spark.operators import corpus, dedup, textprep
    from spark_history_server_rs_spark.sources.generic import load_table

    ev = load_events(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents")
    dedup.clear_materialized_caches()
    httpd = serve(ev, warmup=False, documents=docs)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    results: dict[str, tuple] = {}

    def hit(route):
        results[route] = _get(base, f"/api/v1/corpus/{route}")

    try:
        threads = [
            threading.Thread(target=hit, args=(r,))
            for r in ("zipf", "sources", "quality", "domain-weights", "profile")
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
        for route, (code, body) in results.items():
            assert code == 200, f"{route}: {code} {body}"
        assert {"n_tokens", "n_types", "zipf_slope"} <= set(results["zipf"][1][0])
        assert all("jaccard" in r for r in results["sources"][1])
        assert (
            abs(
                sum(r["domain_weight"] for r in results["domain-weights"][1])
                - 1.0
            )
            < 0.01
        )
    finally:
        httpd.shutdown()

    # operator-level: different FRAMES concurrently — the old fixed-view
    # registration would compute one caller's query over the other's data
    half_a = docs.where("doc_id % 2 = 0")
    half_b = docs.where("doc_id % 2 = 1")
    serial = {
        "zipf_a": [tuple(r) for r in corpus.zipf_fit(half_a).collect()],
        "gopher_b": sorted(
            tuple(r) for r in textprep.gopher_rules(half_b).collect()
        ),
        "overlap_a": sorted(
            tuple(r) for r in corpus.source_overlap(half_a).collect()
        ),
        "doremi_b": sorted(
            tuple(r) for r in corpus.doremi_reweight(half_b).collect()
        ),
    }
    concurrent: dict[str, list] = {}

    def run(name, fn, frame, sort):
        rows = [tuple(r) for r in fn(frame).collect()]
        concurrent[name] = sorted(rows) if sort else rows

    threads = [
        threading.Thread(target=run, args=("zipf_a", corpus.zipf_fit, half_a, False)),
        threading.Thread(
            target=run, args=("gopher_b", textprep.gopher_rules, half_b, True)
        ),
        threading.Thread(
            target=run, args=("overlap_a", corpus.source_overlap, half_a, True)
        ),
        threading.Thread(
            target=run, args=("doremi_b", corpus.doremi_reweight, half_b, True)
        ),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert concurrent == serial


def test_corpus_endpoints_events_only_404(spark):
    """On an events-only server every /corpus and /ann slug of the route
    tables 404s with a hint naming the missing frame, and an unknown
    slug in any slug family 404s ``not found``. No operator runs."""
    from spark_history_server_rs_spark.api.server import (
        ANN_OPS,
        CORPUS_OPS,
        ENGAGEMENT_OPS,
        METRIC_SLUGS,
    )

    ev = load_events(spark, SF_SMALL)
    httpd2 = serve(ev, warmup=False)
    t2 = threading.Thread(target=httpd2.serve_forever, daemon=True)
    t2.start()
    base2 = f"http://127.0.0.1:{httpd2.server_address[1]}"
    try:
        for family, ops, frame in (
            ("corpus", CORPUS_OPS, "documents"),
            ("ann", ANN_OPS, "embeddings"),
        ):
            for slug in ops:
                code, body = _get(base2, f"/api/v1/{family}/{slug}")
                assert code == 404 and frame in body["error"], slug
        for family, table in (
            ("corpus", CORPUS_OPS),
            ("ann", ANN_OPS),
            ("engagement", ENGAGEMENT_OPS),
            ("metrics", METRIC_SLUGS),
        ):
            assert "no-such-slug" not in table
            code, body = _get(base2, f"/api/v1/{family}/no-such-slug")
            assert (code, body) == (404, {"error": "not found"}), family
    finally:
        httpd2.shutdown()


def test_served_form_fallback_rule(spark, monkeypatch, caplog):
    """The one fallback rule of the SERVED_FORMS rows: a served form's
    drift refusal (CorpusDriftError) is logged once and the live op
    answers; any other error from a served form surfaces as a 500."""
    import logging

    from spark_history_server_rs_spark.api import server as S
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table
    from spark_history_server_rs_spark.sources.index_manifest import (
        CorpusDriftError,
    )

    errors = iter([CorpusDriftError("index drifted"), RuntimeError("twin bug")])

    def fake_form(spark_, path, frame):
        raise next(errors)

    row = S.SERVED_FORMS["anisotropy"]
    monkeypatch.setitem(S.SERVED_FORMS, "anisotropy", row._replace(form=fake_form))
    ev = load_events(spark, SF_SMALL)
    emb = load_table(spark, SF_SMALL, "embeddings")
    # the fake form never reads the path; it only has to be attached
    httpd = serve(ev, warmup=False, embeddings=emb, ann_index_path="/no/index")
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    live = json.loads(
        json.dumps([r.asDict() for r in llmprep.embedding_anisotropy(emb).collect()])
    )
    try:
        with caplog.at_level(logging.WARNING, logger=S._fallback_log.name):
            code, rows = _get(base, "/api/v1/ann/anisotropy")
        assert code == 200 and rows == live
        warned = [r for r in caplog.records if "index drifted" in r.getMessage()]
        assert len(warned) == 1
        code, body = _get(base, "/api/v1/ann/anisotropy")
        assert (code, body) == (500, {"error": "twin bug"})
    finally:
        httpd.shutdown()


def test_dedup_sweep_route_served_from_index(spark):
    """/api/v1/corpus/dedup-sweep over a durable S13 index returns rows
    identical to the live-operator route — the sweep reads persisted
    shingles instead of re-tokenizing the corpus per cold call."""
    import tempfile

    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.dedup_index import (
        write_dedup_index,
    )
    from spark_history_server_rs_spark.sources.generic import load_table

    ev = load_events(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents")
    dpath = tempfile.mkdtemp() + "/didx"
    write_dedup_index(docs, dpath)
    dedup.clear_materialized_caches()

    live_httpd = serve(ev, warmup=False, documents=docs)
    idx_httpd = serve(
        ev, warmup=False, documents=docs, dedup_index_path=dpath
    )
    for h in (live_httpd, idx_httpd):
        threading.Thread(target=h.serve_forever, daemon=True).start()
    try:
        base_live = f"http://127.0.0.1:{live_httpd.server_address[1]}"
        base_idx = f"http://127.0.0.1:{idx_httpd.server_address[1]}"
        code_l, sw_live = _get(base_live, "/api/v1/corpus/dedup-sweep")
        code_i, sw_idx = _get(base_idx, "/api/v1/corpus/dedup-sweep")
        assert code_l == 200 and code_i == 200
        assert sw_idx == sw_live and len(sw_idx) == 6
    finally:
        live_httpd.shutdown()
        idx_httpd.shutdown()


def test_ann_stats_routes_served_from_index(spark):
    """VERDICT r08 #4 + r09 #4: /api/v1/ann/nprobe-recall over a
    durable S14 index and /api/v1/ann/{int8-audit,anisotropy,abtt} over
    its persisted audits/ relations — no per-cold-call IVFADC rebuild /
    corpus rescan. A (label, raw) index returns rows IDENTICAL to the
    live-operator route; trained and residual indexes serve their OWN
    system's curve from the index (pinned against the direct serving
    twin, which the differential suite pins against the fixed-np
    twins); only a corpus-DRIFTED index falls back to the live sweep,
    and an audit-less index falls back to the live audits."""
    import json as _json
    import tempfile

    from spark_history_server_rs_spark.sources.ann_index import (
        ann_nprobe_recall_from_index,
        write_ann_audits,
        write_ann_index,
    )
    from spark_history_server_rs_spark.sources.generic import load_table

    ev = load_events(spark, SF_SMALL)
    emb = load_table(spark, SF_SMALL, "embeddings")
    apath = tempfile.mkdtemp() + "/aidx"
    write_ann_index(emb, apath)
    write_ann_audits(emb, apath)

    live_httpd = serve(ev, warmup=False, embeddings=emb)
    idx_httpd = serve(ev, warmup=False, embeddings=emb, ann_index_path=apath)
    for h in (live_httpd, idx_httpd):
        threading.Thread(target=h.serve_forever, daemon=True).start()
    try:
        base_live = f"http://127.0.0.1:{live_httpd.server_address[1]}"
        base_idx = f"http://127.0.0.1:{idx_httpd.server_address[1]}"
        live_by_route = {}
        for route in (
            "nprobe-recall", "int8-audit", "anisotropy", "abtt", "rerank"
        ):
            code_l, live = _get(base_live, f"/api/v1/ann/{route}")
            code_i, idx = _get(base_idx, f"/api/v1/ann/{route}")
            assert code_l == 200 and code_i == 200, route
            assert idx == live, route
            live_by_route[route] = live
    finally:
        live_httpd.shutdown()
        idx_httpd.shutdown()

    # a residual-encoded index serves ITS system's curve from the index
    # (row-identical to the direct serving twin at the REST boundary)
    rpath = tempfile.mkdtemp() + "/aidx_res"
    write_ann_index(emb, rpath, residual=True)
    res_httpd = serve(ev, warmup=False, embeddings=emb, ann_index_path=rpath)
    threading.Thread(target=res_httpd.serve_forever, daemon=True).start()
    try:
        base_res = f"http://127.0.0.1:{res_httpd.server_address[1]}"
        code_r, res_rows = _get(base_res, "/api/v1/ann/nprobe-recall")
        expect = _json.loads(
            _json.dumps(
                [
                    r.asDict()
                    for r in ann_nprobe_recall_from_index(
                        spark, rpath, emb
                    ).collect()
                ]
            )
        )
        assert code_r == 200 and res_rows == expect
        # audit-less index: audits fall back live, same answer
        code_a, rows_a = _get(base_res, "/api/v1/ann/anisotropy")
        assert code_a == 200 and rows_a == live_by_route["anisotropy"]
    finally:
        res_httpd.shutdown()

    # corpus drift (index covers a subset of the attached frame): the
    # route's serving twin refuses loud and the route transparently
    # falls back to the LIVE sweep over the attached corpus
    dpath = tempfile.mkdtemp() + "/aidx_drift"
    write_ann_index(emb.where("vec_id >= 5"), dpath)
    drift_httpd = serve(
        ev, warmup=False, embeddings=emb, ann_index_path=dpath
    )
    threading.Thread(target=drift_httpd.serve_forever, daemon=True).start()
    try:
        base_d = f"http://127.0.0.1:{drift_httpd.server_address[1]}"
        code_d, rows_d = _get(base_d, "/api/v1/ann/nprobe-recall")
        assert code_d == 200 and rows_d == live_by_route["nprobe-recall"]
        # the rerank route refuses the drifted index the same way and
        # falls back to the live operator
        code_rr, rows_rr = _get(base_d, "/api/v1/ann/rerank")
        assert code_rr == 200 and rows_rr == live_by_route["rerank"]
    finally:
        drift_httpd.shutdown()


def test_indexes_status_route(spark):
    """The /api/v1/indexes/status ops route reports every attached
    durable artifact from meta-served state (no index scans by
    default), reflects deletions (tombstone counts, live membership),
    and surfaces manifest validation only behind ?validate=1 —
    including a genuine discrepancy after tampering. An index-less
    server 400s with the attach hint."""
    import tempfile
    import threading

    from spark_history_server_rs_spark.api.server import serve
    from spark_history_server_rs_spark.sources.dedup_index import (
        delete_from_dedup_index,
        refresh_dedup_index_manifest,
        write_dedup_index,
    )
    from spark_history_server_rs_spark.sources.generic import (
        load_events,
        load_table,
    )
    from spark_history_server_rs_spark.sources.training_shards import (
        write_training_shards,
    )

    ev = load_events(spark, SF_SMALL)
    docs = load_table(spark, SF_SMALL, "documents")
    root = tempfile.mkdtemp()
    p13, p15 = root + "/s13", root + "/s15"
    write_dedup_index(docs, p13)
    refresh_dedup_index_manifest(spark, p13)
    write_training_shards(docs, p15)
    n_docs = docs.count()
    delete_from_dedup_index(
        spark, p13, spark.createDataFrame([(0,), (1,)], "doc_id bigint")
    )

    httpd = serve(
        ev, warmup=False,
        dedup_index_path=p13, training_shards_path=p15,
    )
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        code, st = _get(base, "/api/v1/indexes/status")
        assert code == 200 and set(st) == {"dedup_index", "training_shards"}
        d = st["dedup_index"]
        assert d["n_docs"] == n_docs - 2  # live membership, meta-served
        assert d["n_tombstones"] == 2
        assert "deleted_ids" in d["relations"]
        assert "discrepancies" not in d  # validation is opt-in
        s = st["training_shards"]
        assert len(s["shards"]) == s["manifest_rows"] > 0
        # per-shard sizes ride the manifest rows (no shard scan), and
        # the declared modulus comes from the export's meta row
        assert s["n_shards"] == 8
        # JSON object keys arrive as strings
        assert {int(k) for k in s["shard_docs"]} == set(s["shards"])
        assert sum(s["shard_docs"].values()) == s["n_docs"] == n_docs

        # opt-in validation: the tombstone append left the S13 manifest
        # stale by design (the maintenance-slot contract) — the diff
        # must SAY so rather than this route silently attesting
        code, stv = _get(base, "/api/v1/indexes/status?validate=1")
        assert code == 200
        assert any(
            r["relation"] == "deleted_ids"
            for r in stv["dedup_index"]["discrepancies"]
        )
        assert stv["training_shards"]["discrepancies"] == []
    finally:
        httpd.shutdown()

    # no artifact attached → 400 with the attach hint
    httpd2 = serve(ev, warmup=False)
    t2 = threading.Thread(target=httpd2.serve_forever, daemon=True)
    t2.start()
    base2 = f"http://127.0.0.1:{httpd2.server_address[1]}"
    try:
        code, err = _get(base2, "/api/v1/indexes/status")
        assert code == 400 and "dedup_index_path" in err["error"]
    finally:
        httpd2.shutdown()


def test_metrics_routes_rollup_served_and_fallback(spark, api):
    """The /api/v1/metrics/* family: on a rollup-less server every
    route falls back to the live catalog operator; with an S17 rollup
    attached the SAME routes serve from the durable partials — and the
    two payloads are identical when the rollup was built from the
    server's frame (the bit-exact twin claim, at the wire level). The
    status route reports the attached rollup from meta-served state."""
    import tempfile

    from spark_history_server_rs_spark.api.server import METRIC_SLUGS, serve
    from spark_history_server_rs_spark.sources.metrics_rollup import (
        ROLLUP_TWINS,
        delete_from_metrics_rollup,
        refresh_rollup_manifest,
        write_metrics_rollup,
    )

    # every exact-twin route of the slug table (the percentile sketch
    # agrees within tolerance only — see its own test); two carry an
    # explicit limit
    limited = {"memory-usage", "task-distribution"}
    routes = tuple(
        f"/api/v1/metrics/{slug}" + ("?limit=40" if slug in limited else "")
        for slug, name in METRIC_SLUGS.items()
        if name in ROLLUP_TWINS
    )
    assert len(routes) == len(METRIC_SLUGS) - 1
    live = {}
    for r in routes:
        code, rows = _get(api, r)
        assert code == 200 and isinstance(rows, list), r
        live[r] = rows
    assert live["/api/v1/metrics/performance-trends"]  # non-vacuous
    assert len(live["/api/v1/metrics/cross-app-summary"]) == 1
    assert len(live["/api/v1/metrics/task-distribution?limit=40"]) == 40

    ev = load_events(spark, SF_SMALL)
    p17 = tempfile.mkdtemp() + "/s17"
    write_metrics_rollup(ev, p17)
    refresh_rollup_manifest(spark, p17)
    httpd = serve(ev, warmup=False, metrics_rollup_path=p17)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        for r in routes:
            code, rows = _get(base, r)
            assert code == 200 and rows == live[r], r

        # the optimize dashboard reads all four of its analytics from
        # the rollup when attached — wire-identical to the live fold
        code, live_dash = _get(api, "/api/v1/dashboard/summary")
        code2, rollup_dash = _get(base, "/api/v1/dashboard/summary")
        assert (code, code2) == (200, 200) and live_dash == rollup_dash

        # ops view: meta-served live cells, tombstones, manifest diff
        code, status = _get(base, "/api/v1/indexes/status")
        assert code == 200 and "metrics_rollup" in status
        entry = status["metrics_rollup"]
        assert entry["n_cells"] > 0 and entry["n_tombstones"] == 0
        assert set(entry["relations"]) == {
            "partials", "exec_events", "app_events", "stage_events",
            "dur_hist", "counts",
        }

        n_before = entry["n_cells"]
        delete_from_metrics_rollup(
            spark, p17, spark.createDataFrame([("3",)], "app_id string")
        )
        code, status = _get(base, "/api/v1/indexes/status?validate=1")
        entry = status["metrics_rollup"]
        assert entry["n_tombstones"] == 1
        assert entry["n_cells"] < n_before
        # manifest predates the delete's tombstone append — exactly the
        # kind of drift ?validate=1 exists to surface
        assert any(
            d["relation"] == "deleted_apps" for d in entry["discrepancies"]
        )
        refresh_rollup_manifest(spark, p17)
        code, status = _get(base, "/api/v1/indexes/status?validate=1")
        assert all(
            d.get("content_ok")
            for d in status["metrics_rollup"]["discrepancies"]
        ) or status["metrics_rollup"]["discrepancies"] == []

        # the suppressed app is gone from the wire payload too
        code, rows = _get(base, "/api/v1/metrics/performance-trends")
        assert all(r["app_id"] != "3" for r in rows)
    finally:
        httpd.shutdown()


def test_metrics_task_duration_percentiles_route(spark, api):
    """/api/v1/metrics/task-duration-percentiles (r14): a rollup-less
    server runs the exact holistic op; a rollup-attached server answers
    from the DDSketch relation — a DECLARED divergence (within the 5%
    sketch tolerance, not wire-identical, unlike every other metrics
    route). Day windows apply to both paths."""
    import tempfile

    from spark_history_server_rs_spark.api.server import serve
    from spark_history_server_rs_spark.sources.metrics_rollup import (
        write_metrics_rollup,
    )

    route = "/api/v1/metrics/task-duration-percentiles"
    code, exact = _get(api, route)
    assert code == 200 and exact and {r["event_type"] for r in exact}

    ev = load_events(spark, SF_SMALL)
    p17 = tempfile.mkdtemp() + "/s17pct"
    write_metrics_rollup(ev, p17)
    httpd = serve(ev, warmup=False, metrics_rollup_path=p17)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        code, sketch = _get(base, route)
        assert code == 200
        by_type = {r["event_type"]: r for r in sketch}
        assert set(by_type) == {r["event_type"] for r in exact}
        for r in exact:
            for col in ("p50_ms", "p90_ms", "p95_ms", "p99_ms"):
                e, s = r[col], by_type[r["event_type"]][col]
                assert abs(s - e) <= 0.05 * abs(e), (r["event_type"], col)
        # day window narrows both paths consistently (row sets shrink
        # or stay; still within tolerance of each other)
        win = route + "?startDate=2024-01-03&endDate=2024-01-05"
        code, exact_w = _get(api, win)
        code2, sketch_w = _get(base, win)
        assert (code, code2) == (200, 200)
        by_type_w = {r["event_type"]: r for r in sketch_w}
        assert set(by_type_w) == {r["event_type"] for r in exact_w}
        for r in exact_w:
            s = by_type_w[r["event_type"]]["p50_ms"]
            assert abs(s - r["p50_ms"]) <= 0.05 * abs(r["p50_ms"])
    finally:
        httpd.shutdown()


def test_metrics_routes_day_window(spark, api):
    """?startDate/?endDate on /api/v1/metrics/*: day-granular bounds
    (the rollup's native partition resolution). The rollup-served and
    live-fallback paths must return identical windowed payloads, the
    window must actually drop rows, and the two bounds compose."""
    import tempfile

    from spark_history_server_rs_spark.api.server import serve
    from spark_history_server_rs_spark.sources.metrics_rollup import (
        write_metrics_rollup,
    )

    ev = load_events(spark, SF_SMALL)
    p17 = tempfile.mkdtemp() + "/s17w"
    write_metrics_rollup(ev, p17)
    httpd = serve(ev, warmup=False, metrics_rollup_path=p17)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        full_code, full = _get(api, "/api/v1/metrics/performance-trends")
        q = "?startDate=2024-01-08&endDate=2024-01-14"
        code_live, windowed_live = _get(
            api, "/api/v1/metrics/performance-trends" + q
        )
        code_roll, windowed_roll = _get(
            base, "/api/v1/metrics/performance-trends" + q
        )
        assert (full_code, code_live, code_roll) == (200, 200, 200)
        assert windowed_live == windowed_roll  # identical paths
        days = {r["event_date"] for r in windowed_roll}
        assert days and days <= {
            f"2024-01-{d:02d}" for d in range(8, 15)
        }
        assert 0 < len(windowed_roll) < len(full)  # the bound bites
        # open-ended bound + a day-grain route with per-day output
        code, tail = _get(base, "/api/v1/metrics/capacity-trends?startDate=2024-01-20")
        assert code == 200 and all(
            r["event_date"] >= "2024-01-20" for r in tail
        )
    finally:
        httpd.shutdown()


# ---- per-snapshot tables: parity with the per-request path ---------------
def _boot(events, **kw):
    httpd = serve(events, warmup=False, **kw)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, f"http://127.0.0.1:{httpd.server_address[1]}"


def _wire(payload):
    """A payload as a client sees it (the server's JSON encoding)."""
    return json.loads(json.dumps(payload, default=str))


def _per_request_apps(ev, statuses=None, min_end=None, max_end=None,
                      start=None, end=None, limit=100):
    """What /api/v1/applications built per request before the per-app
    table: the filtered A1 rows, then the attempt fold over just the
    listed apps' events."""
    from spark_history_server_rs_spark.api.server import _wire_application
    from spark_history_server_rs_spark.operators import catalog

    rows = [r.asDict(recursive=True) for r in catalog.applications_filtered(
        catalog.time_window(ev, start_ms=start, end_ms=end),
        statuses=statuses, min_end_ms=min_end, max_end_ms=max_end,
        limit=limit,
    ).collect()]
    return _wire([
        _wire_application(r, *_per_request_attempts(ev, r["app_id"]))
        for r in rows
    ])


def _per_request_attempts(ev, app_id):
    from spark_history_server_rs_spark.sources.event_logs import (
        applications_with_attempts,
    )

    att = applications_with_attempts(ev.filter(ev["app_id"].isin([app_id])))
    rows = [r.asDict(recursive=True) for r in att.collect()]
    return (rows[0]["attempts"], rows[0]["app_name"]) if rows else ([], None)


def _per_request_detail(ev, app_id):
    from spark_history_server_rs_spark.api.server import _wire_application
    from spark_history_server_rs_spark.operators import catalog

    one = ev.filter(ev["app_id"] == app_id)
    row = catalog.applications(one, limit=1).collect()[0].asDict()
    return _wire(_wire_application(row, *_per_request_attempts(ev, app_id)))


def _per_request_executors(ev, app_id):
    from spark_history_server_rs_spark.api.server import _wire_executor
    from spark_history_server_rs_spark.operators import catalog
    from spark_history_server_rs_spark.sources.event_logs import (
        executor_details,
    )

    one = ev.filter(ev["app_id"] == app_id)
    detail = {}
    if "src_file" in ev.columns:
        detail = {r["executor_id"]: r.asDict(recursive=True)
                  for r in executor_details(one).collect()}
    return _wire([
        _wire_executor(r.asDict(recursive=True), detail.get(r["executor_id"]))
        for r in catalog.executor_summary(one).collect()
    ])


def _assert_app_routes_match_per_request(ev, base):
    """The four /applications variants the dashboard deck sends, the app
    detail and the executors route, each equal to the per-request path."""
    from pyspark.sql import functions as F

    from spark_history_server_rs_spark.operators import catalog

    lo, hi = ev.select(
        F.percentile_approx(F.unix_millis("event_ts"), 0.3),
        F.percentile_approx(F.unix_millis("event_ts"), 0.7),
    ).first()
    # an end window that holds the earlier-ending half of the apps
    ends = sorted(r.end_ms for r in catalog.application_rows(ev).collect())
    end_lo, end_hi = ends[0], ends[len(ends) // 2]
    cases = {
        "?limit=50": dict(limit=50),
        "?status=completed&limit=20": dict(statuses=["completed"], limit=20),
        f"?minDate={lo}&maxDate={hi}&limit=50": dict(start=lo, end=hi,
                                                     limit=50),
        f"?status=completed,running&minEndDate={end_lo}&maxEndDate={end_hi}"
        "&limit=100": dict(statuses=["completed", "running"], min_end=end_lo,
                           max_end=end_hi, limit=100),
    }
    for q, kw in cases.items():
        code, got = _get(base, "/api/v1/applications" + q)
        assert code == 200 and got, q  # non-vacuous
        assert got == _per_request_apps(ev, **kw), q
    code, listed = _get(base, "/api/v1/applications?limit=3")
    for app_id in [a["app_id"] for a in listed]:
        code, got = _get(base, f"/api/v1/applications/{app_id}")
        assert code == 200 and got == _per_request_detail(ev, app_id)
        code, got = _get(base, f"/api/v1/applications/{app_id}/executors")
        assert code == 200 and got == _per_request_executors(ev, app_id)
        assert [e["id"] for e in got] == sorted(e["id"] for e in got)


def _app_log(app, day, n_tasks, finished=True, host="node"):
    """One app's listener events, ``day`` days after 2023-11-20."""
    t0 = 1700486400000 + day * 86_400_000
    evs = [
        {"Event": "SparkListenerLogStart", "Spark Version": "3.5.3",
         "Timestamp": t0 - 10},
        {"Event": "SparkListenerApplicationStart", "App ID": app,
         "App Name": f"name-{app}", "User": "tester", "Timestamp": t0},
        {"Event": "SparkListenerExecutorAdded", "Executor ID": "1",
         "Executor Info": {"Host": f"{host}-1", "Total Cores": 4,
                           "Log Urls": {"stdout": f"http://{host}-1/out"}},
         "Timestamp": t0 + 1000},
    ]
    for t in range(n_tasks):
        evs.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Task ID": t, "Executor ID": "1",
                          "Host": f"{host}-1"},
            "Task Metrics": {"Executor Run Time": 100 * (t + 1),
                             "Executor CPU Time": 50_000_000,
                             "JVM GC Time": 5,
                             "Peak Execution Memory": 1 << 27},
            "Timestamp": t0 + 2000 + 1000 * t,
        })
    if finished:
        evs.append({"Event": "SparkListenerApplicationEnd",
                    "Timestamp": t0 + 3_600_000})
    return evs


def _write_app_dir(base, app, events):
    d = base / app
    d.mkdir(parents=True)
    (d / "events_1").write_text("".join(json.dumps(e) + "\n" for e in events))


@pytest.fixture(scope="module")
def log_history(tmp_path_factory):
    """Six app-dir logs over six days, two of them still running."""
    base = tmp_path_factory.mktemp("history")
    for n in range(6):
        _write_app_dir(base, f"application_1700000000_{n:04d}",
                       _app_log(f"application_1700000000_{n:04d}", n, 3 + n,
                                finished=n % 3 != 2, host=f"h{n}"))
    return base


def test_app_tables_match_per_request_path(spark, api, log_history):
    """The per-app and per-executor tables serve exactly what the
    per-request aggregations built: on the generic binding (the ``api``
    fixture, no executor detail side) and on ingested event logs (the
    executor detail side comes from the per-executor table)."""
    from spark_history_server_rs_spark.sources.event_logs import (
        read_event_logs,
    )

    _assert_app_routes_match_per_request(load_events(spark, SF_SMALL), api)
    ev = read_event_logs(spark, str(log_history) + "/*/*")
    httpd, base = _boot(ev)
    try:
        _assert_app_routes_match_per_request(ev, base)
        code, execs = _get(base, "/api/v1/applications/"
                                 "application_1700000000_0004/executors")
        assert execs[0]["hostPort"] == "h4-1:0"  # detail side present
    finally:
        httpd.shutdown()


def test_app_tables_match_per_request_path_real_logs(spark):
    """The same parity on the reference's own eventlog_v2 fixture logs."""
    real = "/root/reference/test-data/spark-events"
    if not os.path.isdir(real):
        pytest.skip("reference fixture logs unavailable")
    from spark_history_server_rs_spark.sources.event_logs import (
        read_event_logs,
    )

    ev = read_event_logs(spark, real + "/eventlog_v2_*/*")
    httpd, base = _boot(ev)
    try:
        _assert_app_routes_match_per_request(ev, base)
    finally:
        httpd.shutdown()


def test_attempts_fold_whole_log_unit(spark, tmp_path):
    """A flat in-progress log is ONE app. Its events other than
    ApplicationStart carry no ``App ID`` and key by the file name, from
    which the app-id rule strips Spark's writer suffixes (``.inprogress``
    and the codec extension): both ``local-<ms>.inprogress`` and
    ``app-<ts>-<n>.inprogress`` read back under their ``App ID``. Before,
    they split into a second ``<id>.inprogress`` app. The per-app table
    folds the whole unit (the reference's per-file rule: one file, one
    attempt), and so does the per-request fold of the app alone."""
    from spark_history_server_rs_spark.sources.event_logs import (
        read_event_logs,
    )

    apps = ("local-1700486400000", "app-20231120000000-0001")
    logs = {}
    for day, app in enumerate(apps):
        logs[app] = _app_log(app, day, 3, finished=False)
        (tmp_path / f"{app}.inprogress").write_text(
            "".join(json.dumps(e) + "\n" for e in logs[app]))
    ev = read_event_logs(spark, str(tmp_path) + "/*")
    assert {r.app_id for r in ev.select("app_id").distinct().collect()} == set(
        apps)

    httpd, base = _boot(ev)
    try:
        for app in apps:
            last = max(e["Timestamp"] for e in logs[app])
            alone, _ = _per_request_attempts(ev, app)
            assert alone[0]["app_spark_version"] == "3.5.3"
            assert alone[0]["last_updated_ms"] == last
            code, one = _get(base, f"/api/v1/applications/{app}")
            assert code == 200
            att = one["attempts"]
            assert len(att) == 1 and att[0]["appSparkVersion"] == "3.5.3"
            assert att[0]["lastUpdatedEpoch"] == last
            for limit in (1, 2):
                code, page = _get(base, f"/api/v1/applications?limit={limit}")
                assert code == 200 and len(page) == limit
                for a in page:
                    if a["app_id"] == app:
                        assert a["attempts"] == att
    finally:
        httpd.shutdown()


def test_app_tables_follow_served_sink(spark, tmp_path):
    """A new app written into the served sink through the serving
    session shows up in the app list, its detail and its executors,
    just as it does in the cached events frame: Spark re-caches every
    cached plan over the written path, the derived tables included."""
    from spark_history_server_rs_spark.sources.event_logs import (
        read_event_logs,
        read_events_sink,
        write_events_sink,
    )

    logs, sink = tmp_path / "logs", str(tmp_path / "sink")
    for n in range(2):
        _write_app_dir(logs, f"application_1_{n}", _app_log(
            f"application_1_{n}", n, 2))
    write_events_sink(read_event_logs(spark, str(logs) + "/*/*"), sink)
    httpd, base = _boot(read_events_sink(spark, sink))
    try:
        code, apps = _get(base, "/api/v1/applications")
        assert sorted(a["app_id"] for a in apps) == ["application_1_0",
                                                     "application_1_1"]
        new = tmp_path / "new"
        _write_app_dir(new, "application_1_9",
                       _app_log("application_1_9", 5, 4, host="fresh"))
        write_events_sink(read_event_logs(spark, str(new) + "/*/*"), sink)

        assert httpd.events.filter("app_id = 'application_1_9'").count() == 8
        code, apps = _get(base, "/api/v1/applications")
        assert apps[0]["app_id"] == "application_1_9"  # newest-ending
        assert len(apps) == 3 and len(apps[0]["attempts"]) == 1
        code, one = _get(base, "/api/v1/applications/application_1_9")
        assert code == 200 and one["event_count"] == 8
        code, execs = _get(base,
                           "/api/v1/applications/application_1_9/executors")
        assert code == 200 and [e["hostPort"] for e in execs] == ["fresh-1:0"]
    finally:
        httpd.shutdown()


def test_metrics_routes_see_partials_append(spark, api, tmp_path):
    """The rollup serving cache is keyed on a file listing: a parquet
    file appended inside an existing ``partials/`` day dir is served by
    the next /api/v1/metrics/* call."""
    import glob
    import shutil

    from spark_history_server_rs_spark.sources.metrics_rollup import (
        write_metrics_rollup,
    )

    ev = load_events(spark, SF_SMALL)
    app = ev.select("app_id").first()["app_id"]
    served, extra = str(tmp_path / "served"), str(tmp_path / "extra")
    write_metrics_rollup(ev.filter(ev["app_id"] != app), served)
    write_metrics_rollup(ev.filter(ev["app_id"] == app), extra)
    httpd, base = _boot(ev, metrics_rollup_path=served)
    route = "/api/v1/metrics/performance-trends?limit=5000"
    try:
        code, before = _get(base, route)
        assert code == 200 and before
        assert all(r["app_id"] != app for r in before)
        for f in glob.glob(extra + "/partials/event_date=*/*.parquet"):
            day = os.path.basename(os.path.dirname(f))
            os.makedirs(f"{served}/partials/{day}", exist_ok=True)
            shutil.copy(f, f"{served}/partials/{day}/appended-"
                           + os.path.basename(f))
        code, after = _get(base, route)
        assert any(r["app_id"] == app for r in after)
        assert after == _get(api, route)[1]  # the live op over all apps
    finally:
        httpd.shutdown()
