"""The benchmark: a history server's catch-up ingest, then a timed serving
window with dashboard readers beside a live tail.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run, in one process:

1. generates, from the seed, a 3-app history and a 40-app backlog of
   finished Spark apps (``gen.py``);
2. set-up: starts the session (``session.get_spark``) and ingests the
   3-app history, which warms JIT, codegen and the zstd path;
3. catch-up: one ``incremental_ingest`` pass that commits the backlog,
   then ``write_metrics_rollup`` over the sink;
4. set-up: ``serve()`` over a copy of the sink with the rollup attached,
   then the committed-event, rollup-twin and rejected-line checks;
5. the window, ``--seconds`` long: two closed-loop readers replay the
   dashboard mix; on ``live_tail`` beside an open-loop writer that adds
   apps to the history and back-to-back ingest passes, then a drain pass.
   Then the tail checks.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer ones with ``--trace 1``. The line before it carries sample
counts and host health. Exit code 1 on any failed check, 2 when the
program under test cannot be imported. See NOTES.md for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probes  # noqa: E402
import traffic  # noqa: E402


@dataclass(frozen=True)
class Workload:
    readers: int  # closed-loop dashboard clients in the window
    live: bool  # tail writer and back-to-back ingest passes in the window
    write_s: float  # tail writer period in the window
    grow_every: int  # every n-th write grows an .inprogress log; 0 = never


WORKLOADS = {
    # read-only window: no file lands and no ingest pass runs in it
    "dashboard": Workload(readers=2, live=False, write_s=0.0, grow_every=0),
    # writes beside reads: back-to-back ingest passes keep up with a new
    # app or a grown .inprogress log every second, beside the readers
    "live_tail": Workload(readers=2, live=True, write_s=1.0, grow_every=2),
}
#: The history the server has ingested before the run (set-up; one app per
#: layout, ~2 K events, so that every ingest path is warm)
#: and the backlog it then catches up on (~48 K events, ~25 MB of JSON
#: lines over 14 days): large enough that decoding, not the pass's fixed
#: cost of listing and commit, sets the pass time.
OLD_APPS, OLD_TASKS = 3, 1_000
BACKLOG_APPS, BACKLOG_TASKS = 40, 24_000
#: Rollup-served analytics and the live-catalog twin each must equal.
TWINS = (
    ("performance_trends", 500),
    ("gc_time_trends", 500),
    ("cpu_utilization", 1000),
    ("memory_usage", 1000),
    ("top_resource_consumers", 20),
    ("efficiency_analysis", 20),
    ("capacity_trends", 30),
    ("cost_optimization", 20),
)



def declared_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # local[nproc]: the CPUs this process may run on, as nproc counts them
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData keeps each JVM's perf counters file out of /tmp:
    # spark-submit's launcher JVM, then the driver (pyspark shlex-splits
    # PYSPARK_SUBMIT_ARGS)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join((
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.driver.extraJavaOptions="
                  f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ))


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.trace = probes.Tracer(bool(args.trace))
        self.spark = None
        self.httpd = None
        self.layer: dict[str, float] = {}
        self.checks: dict[str, bool] = {}
        self.info: dict = {}
        self.phases: dict[str, float] = {}

    def p(self, name: str) -> str:
        return os.path.join(self.work, name)

    # ---- phases -----------------------------------------------------------
    def run(self) -> dict:
        from spark_history_server_rs_spark import session
        from spark_history_server_rs_spark.sources import event_logs as EL
        from spark_history_server_rs_spark.sources import metrics_rollup as MR

        seed = self.args.seed
        t_gen = time.perf_counter()
        hist = gen.generate(seed, self.p("history"), OLD_APPS, OLD_TASKS)
        backlog = gen.generate(seed + 1_000_003, self.p("backlog"),
                               BACKLOG_APPS, BACKLOG_TASKS, first_id=OLD_APPS)
        self.info["backlog"] = {"events": backlog.n_valid,
                                "bytes": backlog.n_bytes,
                                "apps": len(backlog.apps),
                                "digest": backlog.digest}
        self.phases["gen"] = time.perf_counter() - t_gen
        host = probes.HostWatch()
        sink, manifest = self.p("sink"), self.p("manifest")

        # set-up: the session, then the history the server already had
        t0 = time.perf_counter()
        with self.trace.span("session.start"):
            self.spark = spark = session.get_spark()
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        plan = self._instrument(EL)
        with self.trace.span("setup.history"):
            EL.incremental_ingest(spark, hist.base, sink, manifest)
        old_s = time.perf_counter() - t0 - session_s

        # catch-up: one pass over the backlog, then the rollup build
        backlog.move_into(hist.base)
        gc0 = probes.jvm_gc_s(spark)
        cpu0 = probes.jvm_cpu_s(jvm_pid)
        counts = probes.SparkCounts(spark) if self.trace.enabled else None
        t = time.perf_counter()
        with self.trace.span("event_logs.pass", op_id="catchup"):
            EL.incremental_ingest(spark, hist.base, sink, manifest)
        pass_s = time.perf_counter() - t
        jvm_cpu = probes.jvm_cpu_s(jvm_pid) - cpu0
        catchup_counts = counts.finish() if counts else None
        n_valid = hist.n_valid + backlog.n_valid
        t = time.perf_counter()
        with self.trace.span("metrics_rollup.build"):
            MR.write_metrics_rollup(EL.read_events_sink(spark, sink),
                                    self.p("rollup"))
        rollup_s = time.perf_counter() - t
        sink_files, sink_bytes = _parquet_stats(sink)

        from spark_history_server_rs_spark.api.server import serve

        # The server reads a copy of the sink as committed now. Spark
        # re-caches a cached frame whenever a write lands in the path it
        # reads, so serving the sink the window's passes write into would
        # re-read it after every pass, and a request that scans a partition
        # a pass is replacing fails (NOTES.md, Limits).
        t = time.perf_counter()
        shutil.copytree(sink, self.p("served"))
        self.phases["copy_sink"] = time.perf_counter() - t
        t = time.perf_counter()
        with self.trace.span("api.serve_start"):
            self.httpd = serve(EL.read_events_sink(spark, self.p("served")),
                               metrics_rollup_path=self.p("rollup"))
        serve_s = time.perf_counter() - t
        threading.Thread(target=self.httpd.serve_forever, name="http",
                         daemon=True).start()
        port = self.httpd.server_address[1]
        setup_s = session_s + old_s + serve_s
        t = time.perf_counter()
        committed = self._check_before_window(EL, MR, backlog, n_valid, sink)
        self.phases["checks_before"] = time.perf_counter() - t
        apps = hist.apps + backlog.apps

        # the window
        mix = traffic.Mix(seed, [(a.app_id, a.tasks) for a in apps])
        tail = gen.Tail(seed, hist.base)
        plan.committed.update({p: os.path.getsize(p) for a in apps
                               for p in a.paths})
        plan.reset()
        group = "perfbench-ingest"
        tail_counts = (probes.SparkCounts(spark, group) if self.trace.enabled
                       else None)

        def ingest():
            if self.trace.enabled:
                spark.sparkContext.setJobGroup(group, "tail ingest pass")
            return EL.incremental_ingest(spark, hist.base, sink, manifest)

        start = time.perf_counter()
        deadline = start + self.args.seconds
        writer = traffic.Writer(tail, start, deadline, self.wl.write_s,
                                self.wl.grow_every)
        loop = traffic.IngestLoop(ingest, self.trace)
        readers = traffic.Readers(port, mix, self.wl.readers, self.trace)
        if self.wl.live:
            writer.start()
            loop.start()
        readers.run(deadline)
        if self.wl.live:
            writer.join()
            loop.stop_event.set()
            loop.join()
            last_write = max((w.done for w in writer.writes), default=0.0)
            if not loop.passes or loop.passes[-1].start < last_write:
                loop.one_pass()  # the drain: every tail write is listed now
        window_end = time.perf_counter()
        if self.trace.enabled:  # passes ran here: untag this thread
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        health = host.finish()
        gc_s = probes.jvm_gc_s(spark) - gc0

        # ---- end-to-end metrics ------------------------------------------
        reqs = readers.done
        p50_ms, missing = traffic.mix_p50_ms(reqs)
        fresh = _freshness(writer.writes, loop.passes)
        committed_fresh = [f for f in fresh if f is not None]
        e2e = {
            "setup_s": setup_s,
            "ingest_events_per_s": backlog.n_valid / pass_s,
            "rollup_build_s": rollup_s,
            "sink_bytes_per_event": sink_bytes / committed,
            # closed loop, no think time: clients = throughput x latency
            # (Little's law, with the mix's median latency)
            "requests_per_s": self.wl.readers * 1000 / p50_ms,
            "request_p50_ms": p50_ms,
            # dashboard: no file lands in the window, so the files that
            # become fresh are the backlog's, all committed by the catch-up
            "freshness_p50_s": (statistics.median(committed_fresh or [0.0])
                                if self.wl.live else pass_s),
        }

        # ---- correctness --------------------------------------------------
        self.checks["writer_ran"] = writer.error is None
        self.info["errors"] = loop.errors + (
            [repr(writer.error)] if writer.error else []) + [
            r.failure for r in reqs if not r.ok]
        self.checks["responses_ok"] = all(r.ok for r in reqs)
        self.checks["passes_ok"] = all(p.ok for p in loop.passes)
        self.checks["tail_files_committed"] = all(f is not None for f in fresh)
        t = time.perf_counter()
        self._check_tail(EL, n_valid, tail, sink)
        self.phases["checks_after"] = time.perf_counter() - t

        failed = (sum(not r.ok for r in reqs) + sum(not p.ok for p in loop.passes)
                  + (writer.error is not None))
        attempted = len(reqs) + len(loop.passes) + len(writer.writes) + 2
        self.info.update({
            "samples": {"requests": len(reqs), "freshness": len(fresh),
                        "passes": len(loop.passes)},
            "classes_missing": missing,
            "latency_ms_by_class": {c: [round(x) for x in v] for c, v
                                    in traffic.by_class(reqs).items()},
            "completed_per_s": len(reqs) / (max(r.end for r in reqs) - start),
            "freshness_by_write_s": [None if f is None else round(f, 3)
                                     for f in fresh],
            "pass_s": [round(p.end - p.start, 3) for p in loop.passes],
            "host": {**health, "jvm_gc_s": gc_s},
            "checks": self.checks,
            "phases_s": self.phases,
        })
        self.phases.update({"session": session_s, "history": old_s,
                            "catchup_pass": pass_s, "rollup": rollup_s,
                            "serve": serve_s, "window": window_end - start})
        if self.trace.enabled:
            lateness = [w.done - w.due for w in writer.writes]
            self.layer.update({
                "session.start_s": session_s,
                "event_logs.pass_s": pass_s,
                "event_logs.read_write_s": pass_s - plan.catchup_s,
                "event_logs.jvm_cpu_s": jvm_cpu,
                "event_logs.sink_files": sink_files,
                "metrics_rollup.build_s": rollup_s,
                "metrics_rollup.partial_rows": spark.read.parquet(
                    self.p("rollup") + "/partials").count(),
                "host.steal_share": health["steal_share"],
                "host.cpu_canary_s": (health["cpu_canary_before_s"]
                                      + health["cpu_canary_after_s"]) / 2,
                "jvm.gc_s": gc_s,
                "tail.writer_late_max_ms": max(lateness, default=0.0) * 1000,
                "tail.freshness_trend_s": _trend(committed_fresh),
            })
            self.layer.update(plan.tail_metrics())
            # dashboard runs no pass in the window: its catch-up stands in
            c = tail_counts.finish() if loop.passes else catchup_counts
            n = len(loop.passes) or 1
            self.layer["spark.jobs.ingest_pass"] = c["jobs"] / n
            self.layer["spark.tasks.ingest_pass"] = c["tasks"] / n
            self.layer["spark.tasks.catchup_pass"] = catchup_counts["tasks"]
            self._route_layers(MR, mix, port, reqs)
            self.layer.update({f"traced.{k}": v for k, v in e2e.items()})
            self.trace.write(os.path.join(
                _trace_dir(), f"{self.args.workload}-{seed}.jsonl"))

        correct = all(self.checks.values()) and failed == 0
        metrics = e2e if not self.trace.enabled else self.layer
        return {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    # ---- instrumentation --------------------------------------------------
    def _instrument(self, EL):
        """Time ``plan_incremental`` calls from outside: in a traced run the
        module attribute that ``incremental_ingest`` looks up is wrapped."""
        plan = PlanProbe(EL, self.trace)
        if self.trace.enabled:
            EL.plan_incremental = plan
        return plan

    def _route_layers(self, MR, mix, port: int, reqs) -> None:
        """Single-client pass: per route, one request with exact Spark
        counts, and one direct call of the operator behind it."""
        from spark_history_server_rs_spark.operators import catalog
        from pyspark.sql import functions as F

        spark = self.spark
        ev = self.httpd.events
        rollup = self.p("rollup")
        app = mix.top_app()
        one = ev.filter(F.col("app_id") == app)
        four = (("top_resource_consumers", 20), ("efficiency_analysis", 20),
                ("capacity_trends", 30), ("cost_optimization", 20))
        direct = {
            "apps_list": ("catalog.applications_filtered_ms",
                          lambda: catalog.applications_filtered(ev, limit=50)),
            "app_detail": ("catalog.applications_ms",
                           lambda: catalog.applications(one, limit=1)),
            "app_executors": ("catalog.executor_summary_ms",
                              lambda: catalog.executor_summary(one)),
            "resource_hogs": ("catalog.top_resource_consumers_ms",
                              lambda: catalog.top_resource_consumers(ev, limit=10)),
            "efficiency": ("catalog.efficiency_analysis_ms",
                           lambda: catalog.efficiency_analysis(ev, limit=10)),
            "usage_trends": ("catalog.capacity_trends_ms",
                             lambda: catalog.capacity_trends(ev, limit=30)),
            "cost_opt": ("catalog.cost_optimization_ms",
                         lambda: catalog.cost_optimization(ev, limit=10)),
            "m_perf_trends": ("metrics_rollup.serve_ms.performance_trends",
                              lambda: MR.performance_trends_from_rollup(
                                  spark, rollup, limit=500)),
            "m_gc_trends": ("metrics_rollup.serve_ms.gc_time_trends",
                            lambda: MR.gc_time_trends_from_rollup(
                                spark, rollup, limit=500)),
            "m_cpu": ("metrics_rollup.serve_ms.cpu_utilization",
                      lambda: MR.cpu_utilization_from_rollup(
                          spark, rollup, limit=1000)),
            "m_memory": ("metrics_rollup.serve_ms.memory_usage",
                         lambda: MR.memory_usage_from_rollup(
                             spark, rollup, limit=1000)),
            "summary": ("metrics_rollup.serve_ms.dashboard_four",
                        lambda: [getattr(MR, f"{n}_from_rollup")(
                            spark, rollup, limit=k) for n, k in four]),
        }
        direct["optimize"] = direct["summary"]
        fixed_paths = {
            "apps_list": "/api/v1/applications?limit=50",
            "app_detail": f"/api/v1/applications/{app}",
            "app_executors": f"/api/v1/applications/{app}/executors",
        }
        for route in traffic.ROUTES:
            path = fixed_paths.get(route) or traffic.FIXED_PATHS[route]
            counts = probes.SparkCounts(spark)
            with self.trace.span("api.single_client", route=route):
                t = time.perf_counter()
                status, body = traffic.fetch(port, path)
                api_ms = (time.perf_counter() - t) * 1000
            c = counts.finish()
            name, fn = direct[route]
            with self.trace.span("direct", route=route, layer=name):
                t = time.perf_counter()
                out = fn()
                for df in out if isinstance(out, list) else [out]:
                    df.collect()
                direct_ms = (time.perf_counter() - t) * 1000
            # the window's per-route median; a route the short window never
            # reached falls back to the single-client request
            lat = [(r.end - r.start) * 1000 for r in reqs if r.route == route]
            self.layer[f"api.{route}_ms"] = statistics.median(lat) if lat else api_ms
            self.layer[name] = direct_ms
            self.layer[f"api.overhead_ms.{route}"] = api_ms - direct_ms
            self.layer[f"api.response_bytes.{route}"] = len(body)
            for k in ("jobs", "stages", "tasks"):
                self.layer[f"spark.{k}.{route}"] = c[k]
            self.checks.setdefault("single_client_ok", True)
            self.checks["single_client_ok"] &= traffic.response_ok(
                status, body, path)

    # ---- checks -----------------------------------------------------------
    def _check_before_window(self, EL, MR, backlog, n_valid: int,
                             sink: str) -> int:
        """The committed events, the rollup twins and the rejected lines,
        as concurrent Spark jobs; returns the events in the sink. Rejects
        are counted over the backlog files that hold the malformed lines;
        every other line is covered by the committed-events check."""
        from spark_history_server_rs_spark.operators import catalog

        ev = self.httpd.events
        rollup = self.p("rollup")
        jobs = {}
        for name, limit in TWINS:
            jobs[("served", name)] = lambda n=name, k=limit: getattr(
                MR, f"{n}_from_rollup")(self.spark, rollup, limit=k).collect()
            jobs[("live", name)] = lambda n=name, k=limit: getattr(
                catalog, n)(ev, limit=k).collect()
        jobs["rejects"] = lambda: EL.read_event_logs(
            self.spark, backlog.malformed_paths, with_rejects=True)[1].count()
        jobs["committed"] = lambda: EL.read_events_sink(
            self.spark, sink).count()
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futures = {key: pool.submit(fn) for key, fn in jobs.items()}
            out = {key: f.result() for key, f in futures.items()}
        bad = [n for n, _ in TWINS if out[("served", n)] != out[("live", n)]]
        self.info["twin_mismatches"] = bad
        self.checks["rollup_twins_equal_live"] = not bad
        self.checks["rejects_equal_malformed"] = (
            out["rejects"] == backlog.n_malformed)
        self.checks["catchup_events_equal_generated"] = (
            out["committed"] == n_valid)
        return out["committed"]

    def _check_tail(self, EL, n_valid, tail, sink) -> None:
        from pyspark.sql import functions as F

        ev = EL.read_events_sink(self.spark, sink)
        expected = n_valid + sum(tail.valid_lines.values())
        self.checks["sink_events_after_drain"] = ev.count() == expected
        ids = sorted(tail.valid_lines)
        present = {r.app_id for r in ev.filter(F.col("app_id").isin(ids))
                   .select("app_id").distinct().collect()}
        self.checks["tail_apps_in_sink"] = present == set(ids)

    def close(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            proc = gateway.proc
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


class PlanProbe:
    """Wrapper for ``event_logs.plan_incremental``: times discovery and
    records, per pass, files listed, files to (re-)read and the bytes
    re-read per new byte."""

    def __init__(self, EL, tracer):
        self.EL = EL
        self.orig = EL.plan_incremental
        self.trace = tracer
        self.committed: dict[str, int] = {}
        self.catchup_s = 0.0
        self.rows: list[dict] = []
        self.catchup_row: dict | None = None

    def __call__(self, spark, base, manifest_dir):
        with self.trace.span("event_logs.discover") as rec:
            t = time.perf_counter()
            todo, new_manifest = self.orig(spark, base, manifest_dir)
            dt = time.perf_counter() - t
        qualified = "file:" + base if not base.startswith("file:") else base
        listed = sum(
            self.EL.is_event_log_path(qualified, "file:" + os.path.join(r, f))
            for r, _, fs in os.walk(base) for f in fs
            if not f.startswith((".", "_")))
        sizes = {p: os.path.getsize(p[5:] if p.startswith("file:") else p)
                 for p in todo}
        new = sum(s - self.committed.get(_local(p), 0) for p, s in sizes.items())
        for p, s in sizes.items():
            self.committed[_local(p)] = s
        self.rows.append({"discover_s": dt, "listed": listed,
                          "ingested": len(todo), "read": sum(sizes.values()),
                          "new": new})
        if rec is not None:
            rec.update(files=len(todo))
        if len(self.rows) == 2:  # set-up history, then the catch-up pass
            self.catchup_s = dt
        return todo, new_manifest

    def reset(self) -> None:
        self.catchup_row = self.rows[-1] if self.rows else None
        self.rows = []

    def tail_metrics(self) -> dict:
        """Per-pass medians over the window's passes; on a run without
        them (dashboard), the catch-up pass."""
        rows = self.rows or [self.catchup_row]
        read = sum(r["read"] for r in rows)
        new = sum(r["new"] for r in rows)
        return {
            "event_logs.discover_s": statistics.median(
                r["discover_s"] for r in rows),
            "event_logs.files_listed": statistics.median(r["listed"] for r in rows),
            "event_logs.files_ingested": statistics.median(
                r["ingested"] for r in rows),
            "event_logs.reread_bytes_per_new_byte": read / new if new else 1.0,
        }


def _local(p: str) -> str:
    return p[5:] if p.startswith("file:") else p


def _freshness(writes, passes) -> list[float | None]:
    """Per tail write: end of the first good pass that started after the
    write completed, minus when the write was due. A pass that started
    earlier may already have listed the write, so this is an upper bound by
    at most one pass for a write that raced a listing."""
    ok = sorted((p for p in passes if p.ok), key=lambda p: p.start)
    out = []
    for w in writes:
        p = next((p for p in ok if p.start >= w.done), None)
        out.append(None if p is None else p.end - w.due)
    return out


def _trend(fresh: list[float]) -> float:
    """Median freshness of the later half of the writes minus that of the
    earlier half: about 0 when ingest keeps up, positive when it falls
    behind."""
    h = len(fresh) // 2
    if h == 0:
        return 0.0
    return statistics.median(fresh[-h:]) - statistics.median(fresh[:h])


def _parquet_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for r, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(r, f))
    return n, size


def _trace_dir() -> str:
    d = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(d, exist_ok=True)
    return d


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import spark_history_server_rs_spark.session  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: program under test not importable: {ex}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        t = time.perf_counter()
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        bench.phases["close"] = time.perf_counter() - t
    units = declared_units("per_layer" if args.trace else "end_to_end")
    if set(units) != set(result["metrics"]):
        print("perfbench: reported metrics differ from BENCHMARK.json: "
              f"{sorted(set(units) ^ set(result['metrics']))}", file=sys.stderr)
        return 1
    metrics = {k: {"value": float(v), "unit": units[k]}
               for k, v in result["metrics"].items()}
    bench.phases["total"] = time.perf_counter() - t_start
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      **bench.info}, default=str))
    print(json.dumps({**result, "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
