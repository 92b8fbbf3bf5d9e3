"""Seeded Spark event-log history generator for the benchmark.

One process, one ``random.Random(seed)``: the same seed always writes
byte-identical files (``History.digest`` is a SHA-256 over every path and
its bytes). A history holds finished applications with the full listener
lifecycle (LogStart, ApplicationStart, ExecutorAdded, JobStart with
``Stage IDs``, StageSubmitted, TaskStart/TaskEnd, StageCompleted, JobEnd,
ExecutorRemoved, ApplicationEnd), heavy-tailed (Pareto) task counts per
app, a share of failed tasks and failed jobs, and three on-disk layouts:

- flat files ``app-<ts>-<n>`` directly under the history dir;
- app dirs ``application_<ms>_<n>/events_1``;
- zstd rolling dirs ``eventlog_v2_app-<ts>-<n>/events_<k>_<app>.zstd``
  beside an ``appstatus_<app>`` marker, as Spark 3+ writes them.

A fixed number of malformed lines is injected into the plain (flat and
app-dir) files; the engine must count and drop them.

Every event carries a top-level ``Timestamp`` (real TaskEnd events do not)
so that the history spreads over the generator's 14 days of event dates.

Usage::

    python3 perfbench/gen.py --seed 7 --out /some/dir
    python3 perfbench/gen.py --selftest
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import tempfile
import time
from dataclasses import dataclass, field

import pyarrow as pa

#: 2026-01-05T00:00:00Z — the first day of the generated history.
EPOCH_MS = 1767571200000
DAY_MS = 86_400_000
HISTORY_DAYS = 14
#: Malformed lines injected per history (fixed, independent of size).
MALFORMED_LINES = 40
#: Layouts are dealt in this cycle: 60 % flat files, 20 % app dirs, 20 %
#: zstd rolling dirs, and the first three apps cover all three.
LAYOUT_CYCLE = ("flat", "appdir", "v2zstd", "flat", "flat")
TASK_FAILURE_SHARE = 0.04
JOB_FAILURE_SHARE = 0.06

_MALFORMED = (
    '{"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {"Task',
    "java.lang.OutOfMemoryError: Java heap space",
    '{"Timestamp": 1767571200000, "Executor ID": "7"}',
    "\x00\x01binary-garbage\x02",
    '[1, 2, 3',
)


def _dumps(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


@dataclass
class App:
    app_id: str
    start_ms: int
    paths: list[str]
    tasks: int


@dataclass
class History:
    base: str
    apps: list[App]
    n_valid: int
    n_malformed: int
    n_bytes: int
    digest: str
    malformed_paths: list[str] = field(default_factory=list)

    def move_into(self, base: str) -> None:
        """Publish every app of this history into another history dir."""
        for name in sorted(os.listdir(self.base)):
            os.rename(os.path.join(self.base, name), os.path.join(base, name))
        def moved(p):
            return os.path.join(base, os.path.relpath(p, self.base))

        for a in self.apps:
            a.paths = [moved(p) for p in a.paths]
        self.malformed_paths = [moved(p) for p in self.malformed_paths]
        self.base = base


class AppBuilder:
    """Builds one application's event lines from a shared RNG."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def lines(self, app_id: str, start_ms: int, n_tasks: int,
              finish: bool = True) -> list[str]:
        """Event lines for one app."""
        rng = self.rng
        ts = start_ms
        n_exec = rng.randint(2, 8)
        cores = rng.choice((2, 4, 8))
        out = [
            _dumps({"Event": "SparkListenerLogStart", "Spark Version": "3.5.1",
                    "Timestamp": ts}),
            _dumps({"Event": "SparkListenerApplicationStart",
                    "App Name": f"etl-{rng.choice(('daily', 'hourly', 'adhoc', 'ml'))}"
                                f"-{rng.randint(1, 40)}",
                    "App ID": app_id, "Timestamp": ts,
                    "User": rng.choice(("alice", "bob", "svc-etl", "svc-ml")),
                    "App Attempt ID": "1"}),
        ]
        for e in range(1, n_exec + 1):
            ts += rng.randint(50, 900)
            out.append(_dumps({
                "Event": "SparkListenerExecutorAdded", "Timestamp": ts,
                "Executor ID": str(e),
                "Executor Info": {"Host": f"node-{rng.randint(1, 64):02d}",
                                  "Total Cores": cores,
                                  "Log Urls": {}, "Attributes": {},
                                  "Resources": {},
                                  "Resource Profile Id": 0}}))
        # split the app's tasks over jobs and stages
        n_jobs = rng.randint(1, 5)
        stage_id = 0
        task_id = 0
        remaining = n_tasks
        for job in range(n_jobs):
            n_stages = rng.randint(1, 3)
            stage_ids = list(range(stage_id, stage_id + n_stages))
            stage_id += n_stages
            job_fails = rng.random() < JOB_FAILURE_SHARE
            ts += rng.randint(100, 5000)
            out.append(_dumps({
                "Event": "SparkListenerJobStart", "Job ID": job,
                "Submission Time": ts, "Timestamp": ts,
                "Stage Infos": [{"Stage ID": s, "Stage Attempt ID": 0,
                                 "Stage Name": f"stage {s}",
                                 "Number of Tasks": 0} for s in stage_ids],
                "Stage IDs": stage_ids,
                "Properties": {"spark.job.description": f"job {job}"}}))
            for k, sid in enumerate(stage_ids):
                last = job == n_jobs - 1 and k == n_stages - 1
                share = remaining if last else max(
                    1, remaining // ((n_jobs - job) * n_stages - k))
                remaining -= share
                ts += rng.randint(10, 500)
                out.append(_dumps({
                    "Event": "SparkListenerStageSubmitted", "Timestamp": ts,
                    "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                                   "Stage Name": f"stage {sid}",
                                   "Number of Tasks": share,
                                   "Submission Time": ts}}))
                for _ in range(share):
                    ts, task_lines = self._task(sid, task_id, ts, n_exec)
                    out.extend(task_lines)
                    task_id += 1
                ts += rng.randint(5, 200)
                out.append(_dumps({
                    "Event": "SparkListenerStageCompleted", "Timestamp": ts,
                    "Stage Info": {"Stage ID": sid, "Stage Attempt ID": 0,
                                   "Stage Name": f"stage {sid}",
                                   "Number of Tasks": share,
                                   "Completion Time": ts,
                                   **({"Failure Reason": "Job aborted"}
                                      if job_fails and k == n_stages - 1
                                      else {})}}))
            ts += rng.randint(5, 200)
            out.append(_dumps({
                "Event": "SparkListenerJobEnd", "Job ID": job,
                "Completion Time": ts, "Timestamp": ts,
                "Job Result": {"Result": "JobFailed"
                               if job_fails else "JobSucceeded"}}))
        if finish:
            for e in range(1, n_exec + 1):
                ts += rng.randint(10, 300)
                out.append(_dumps({
                    "Event": "SparkListenerExecutorRemoved", "Timestamp": ts,
                    "Executor ID": str(e), "Removed Reason": "finished"}))
            ts += rng.randint(10, 300)
            out.append(_dumps({"Event": "SparkListenerApplicationEnd",
                               "Timestamp": ts}))
        return out

    def _task(self, stage_id: int, task_id: int, ts: int,
              n_exec: int) -> tuple[int, list[str]]:
        rng = self.rng
        ex = str(rng.randint(1, n_exec))
        host = f"node-{int(ex) * 7 % 64 + 1:02d}"
        locality = rng.choice(("PROCESS_LOCAL", "NODE_LOCAL", "RACK_LOCAL",
                               "ANY"))
        launch = ts + rng.randint(0, 40)
        run_ms = int(rng.lognormvariate(6.5, 1.1)) + 1
        ok = rng.random() >= TASK_FAILURE_SHARE
        info = {"Task ID": task_id, "Index": task_id, "Attempt": 0,
                "Launch Time": launch, "Executor ID": ex, "Host": host,
                "Locality": locality, "Speculative": False}
        start = _dumps({"Event": "SparkListenerTaskStart", "Stage ID": stage_id,
                        "Stage Attempt ID": 0, "Timestamp": launch,
                        "Task Info": info})
        finish = launch + run_ms + rng.randint(1, 30)
        peak = rng.randint(1, 512) * 1048576
        spill = rng.randint(0, 64) * 1048576 if rng.random() < 0.1 else 0
        end = _dumps({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Stage Attempt ID": 0, "Task Type": "ResultTask",
            "Timestamp": finish,
            "Task End Reason": {"Reason": "Success"} if ok else {
                "Reason": "ExceptionFailure",
                "Class Name": "java.lang.RuntimeException",
                "Description": "task failed"},
            "Task Info": {**info, "Finish Time": finish,
                          "Failed": not ok, "Killed": False},
            "Task Executor Metrics": {
                "JVMHeapMemory": rng.randint(64, 4096) * 1048576},
            "Task Metrics": {
                "Executor Deserialize Time": rng.randint(0, 40),
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * rng.randint(300_000, 990_000),
                "JVM GC Time": rng.randint(0, max(1, run_ms // 8)),
                "Result Size": rng.randint(1000, 9000),
                "Peak Execution Memory": peak,
                "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": spill // 2,
                "Input Metrics": {"Bytes Read": rng.randint(0, 256) * 1048576,
                                  "Records Read": rng.randint(0, 500_000)},
                "Output Metrics": {"Bytes Written":
                                   rng.randint(0, 64) * 1048576,
                                   "Records Written": rng.randint(0, 90_000)},
                "Shuffle Read Metrics": {
                    "Remote Bytes Read": rng.randint(0, 128) * 1048576,
                    "Local Bytes Read": rng.randint(0, 64) * 1048576,
                    "Fetch Wait Time": rng.randint(0, 50)},
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": rng.randint(0, 96) * 1048576,
                    "Shuffle Write Time": rng.randint(0, 9_000_000),
                    "Shuffle Records Written": rng.randint(0, 90_000)}}})
        return finish, [start, end]


def _app_id(layout: str, start_ms: int, n: int) -> str:
    if layout == "appdir":
        return f"application_{start_ms}_{n:04d}"
    stamp = time.strftime("%Y%m%d%H%M%S", time.gmtime(start_ms // 1000))
    return f"app-{stamp}-{n:04d}"


def write_app(base: str, layout: str, app_id: str, lines: list[str],
              chunks: int = 2) -> list[str]:
    """Write one finished app's lines in its layout; returns file paths."""
    if layout == "flat":
        paths = [os.path.join(base, app_id)]
        _write(paths[0], "\n".join(lines) + "\n")
        return paths
    if layout == "appdir":
        d = os.path.join(base, app_id)
        os.makedirs(d, exist_ok=True)
        paths = [os.path.join(d, "events_1")]
        _write(paths[0], "\n".join(lines) + "\n")
        return paths
    d = os.path.join(base, f"eventlog_v2_{app_id}")
    os.makedirs(d, exist_ok=True)
    codec = pa.Codec("zstd", compression_level=3)
    step = -(-len(lines) // chunks)
    paths = []
    for k in range(chunks):
        part = lines[k * step:(k + 1) * step]
        if not part:
            continue
        p = os.path.join(d, f"events_{k + 1}_{app_id}.zstd")
        data = codec.compress(("\n".join(part) + "\n").encode(),
                              asbytes=True)
        with open(p, "wb") as f:
            f.write(data)
        paths.append(p)
    _write(os.path.join(d, f"appstatus_{app_id}"), "")
    return paths


def _write(path: str, text: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def task_counts(rng: random.Random, n_apps: int, total: int) -> list[int]:
    """Heavy-tailed tasks per app (Pareto, alpha 1.3, truncated at 12x the
    minimum) scaled so that the history's task total stays within a few
    percent of ``total`` for every seed: per-seed size differences would
    otherwise move every metric."""
    w = [min(rng.paretovariate(1.3), 12.0) for _ in range(n_apps)]
    scale = total / sum(w)
    return [max(4, round(x * scale)) for x in w]


def generate(seed: int, base: str, n_apps: int = 120,
             n_tasks: int = 12_000, first_id: int = 0) -> History:
    """Write a finished-app history under ``base`` (created empty). App
    numbers start at ``first_id``, so histories with disjoint ranges can
    share one dir. Layouts are dealt by app size rank, so that every seed
    puts the same share of small and large apps in each layout."""
    rng = random.Random(seed)
    os.makedirs(base, exist_ok=False)
    builder = AppBuilder(rng)
    counts = task_counts(rng, n_apps, n_tasks)
    rank = {n: r for r, n in enumerate(
        sorted(range(n_apps), key=lambda n: (-counts[n], n)))}
    plans = []
    for n, tasks in enumerate(counts):
        layout = LAYOUT_CYCLE[rank[n] % len(LAYOUT_CYCLE)]
        start = EPOCH_MS + rng.randrange(HISTORY_DAYS * DAY_MS - 3_600_000)
        plans.append((layout, start, tasks))
    # malformed lines land in plain files at seeded positions
    plain = [i for i, p in enumerate(plans) if p[0] != "v2zstd"]
    bad_at: dict[int, list[str]] = {}
    for k in range(MALFORMED_LINES):
        bad_at.setdefault(rng.choice(plain), []).append(
            _MALFORMED[k % len(_MALFORMED)])
    apps = []
    n_valid = 0
    malformed_paths = []
    for n, (layout, start, tasks) in enumerate(plans, start=first_id):
        app_id = _app_id(layout, start, n)
        lines = builder.lines(app_id, start, tasks)
        n_valid += len(lines)
        for bad in bad_at.get(n - first_id, []):
            lines.insert(rng.randrange(1, len(lines)), bad)
        paths = write_app(base, layout, app_id, lines,
                          chunks=rng.randint(2, 3))
        apps.append(App(app_id, start, paths, tasks))
        if n - first_id in bad_at:
            malformed_paths.extend(paths)
    n_bytes, digest = digest_dir(base)
    return History(base, apps, n_valid, MALFORMED_LINES, n_bytes, digest,
                   malformed_paths)


class Tail:
    """Seeded source of live-tail writes into an existing history dir.

    ``new_app()`` publishes one finished app atomically: its file or dir
    is written in a staging dir beside the history dir and then renamed
    into place, so a listing never sees a half-written app. ``grow(k)``
    appends the next chunk of events to one of the ``.inprogress`` logs
    this object opened itself, inside app dirs
    (``application_<ms>_<n>/events_1.inprogress``). ``valid_lines`` counts
    the event lines written per app."""

    def __init__(self, seed: int, base: str, n_growing: int = 3,
                 tasks_per_app: int = 40, chunk_tasks: int = 12):
        self.rng = random.Random(seed * 7919 + 17)
        self.builder = AppBuilder(self.rng)
        self.base = base
        self.stage = os.path.join(os.path.dirname(base), ".tail-stage")
        self.tasks_per_app = tasks_per_app
        self.n = 0
        self.start_ms = EPOCH_MS + HISTORY_DAYS * DAY_MS
        self.valid_lines: dict[str, int] = {}
        self.growing = []
        for k in range(n_growing):
            app_id = f"application_{self.start_ms + k}_{9000 + k:04d}"
            lines = self.builder.lines(app_id, self.start_ms + k * 60_000,
                                       chunk_tasks * 40, finish=False)
            # a chunk is mostly TaskStart/TaskEnd pairs
            step = 2 * chunk_tasks
            chunks = [lines[i:i + step] for i in range(0, len(lines), step)]
            path = os.path.join(base, app_id, "events_1.inprogress")
            self.growing.append((app_id, path, chunks))

    def new_app(self) -> None:
        n = 8000 + self.n
        layout = LAYOUT_CYCLE[self.n % len(LAYOUT_CYCLE)]
        self.n += 1
        start = self.start_ms + n * 1000
        app_id = _app_id(layout, start, n)
        lines = self.builder.lines(app_id, start, self.tasks_per_app)
        stage = os.path.join(self.stage, app_id)
        os.makedirs(stage)
        paths = write_app(stage, layout, app_id, lines)
        top = os.path.relpath(paths[0], stage).split(os.sep)[0]
        os.rename(os.path.join(stage, top), os.path.join(self.base, top))
        os.rmdir(stage)
        self.valid_lines[app_id] = len(lines)

    def grow(self, k: int) -> None:
        app_id, path, chunks = self.growing[k % len(self.growing)]
        if not chunks:
            raise RuntimeError(f"{app_id} has no chunks left")
        part = chunks.pop(0)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        try:
            os.write(fd, ("\n".join(part) + "\n").encode())
        finally:
            os.close(fd)
        self.valid_lines[app_id] = self.valid_lines.get(app_id, 0) + len(part)


def digest_dir(base: str) -> tuple[int, str]:
    """(total bytes, SHA-256 over sorted relative paths and contents)."""
    h = hashlib.sha256()
    total = 0
    for root, dirs, files in os.walk(base):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                data = f.read()
            total += len(data)
            h.update(os.path.relpath(p, base).encode() + b"\0")
            h.update(len(data).to_bytes(8, "little") + data)
    return total, h.hexdigest()


def selftest(work: str) -> int:
    """Same seed → same digest; another seed → another digest."""
    a = generate(11, os.path.join(work, "a"), n_apps=30, n_tasks=2000)
    b = generate(11, os.path.join(work, "b"), n_apps=30, n_tasks=2000)
    c = generate(12, os.path.join(work, "c"), n_apps=30, n_tasks=2000)
    ok = a.digest == b.digest and a.digest != c.digest
    print(json.dumps({"selftest": "ok" if ok else "FAILED",
                      "seed11": [a.digest, b.digest], "seed12": c.digest,
                      "events": a.n_valid, "bytes": a.n_bytes}))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if args.selftest:
        with tempfile.TemporaryDirectory(dir=args.out) as work:
            return selftest(work)
    if not args.out:
        ap.error("--out is required")
    h = generate(args.seed, args.out)
    print(json.dumps({"seed": args.seed, "apps": len(h.apps),
                      "events": h.n_valid, "malformed": h.n_malformed,
                      "bytes": h.n_bytes, "digest": h.digest}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
