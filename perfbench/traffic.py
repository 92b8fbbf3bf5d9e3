"""Load for the serving window: the dashboard request mix and its readers,
the open-loop tail writer, and the ingest loop that keeps up with it."""

from __future__ import annotations

import json
import random
import statistics
import threading
import time
import traceback
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from gen import DAY_MS, EPOCH_MS

#: The dashboard mix as a deck of route classes that every client deals
#: in this order, starting at its own offset. Counts per deck set the
#: weights: the landing app list and drill-down into popular apps (11 of
#: 21), the optimisation and capacity panels (4), the rollup-served charts
#: (4) and the summary pages (2). The weights are an assumption, not a
#: measured trace (NOTES.md shows how much the latency depends on them).
#: The order interleaves slow and fast routes, is the same for every seed,
#: and holds every class in its first six cards and in the seven from the
#: second client's offset.
DECK = (
    "apps_list", "app_detail", "resource_hogs", "app_executors",
    "m_perf_trends", "summary", "app_detail", "apps_list", "app_executors",
    "efficiency", "m_gc_trends", "apps_list", "app_detail", "usage_trends",
    "app_executors", "m_cpu", "optimize", "apps_list", "app_detail",
    "cost_opt", "m_memory",
)
ROUTES = tuple(dict.fromkeys(DECK))
#: Route classes: routes of one class cost about the same.
CLASS = {
    "apps_list": "app_list", "app_detail": "app_detail",
    "app_executors": "executors",
    "resource_hogs": "panels", "efficiency": "panels",
    "usage_trends": "panels", "cost_opt": "panels",
    "m_perf_trends": "charts", "m_gc_trends": "charts", "m_cpu": "charts",
    "m_memory": "charts",
    "summary": "summary_pages", "optimize": "summary_pages",
}
#: Each class's share of the deck.
SHARE = {c: sum(CLASS[r] == c for r in DECK) / len(DECK)
         for c in dict.fromkeys(CLASS.values())}

FIXED_PATHS = {
    "resource_hogs": "/api/v1/optimization/resource-hogs",
    "efficiency": "/api/v1/optimization/efficiency-analysis",
    "usage_trends": "/api/v1/capacity/usage-trends",
    "cost_opt": "/api/v1/capacity/cost-optimization",
    "m_perf_trends": "/api/v1/metrics/performance-trends",
    "m_gc_trends": "/api/v1/metrics/gc-trends",
    "m_cpu": "/api/v1/metrics/cpu-utilization",
    "m_memory": "/api/v1/metrics/memory-usage",
    "summary": "/api/v1/dashboard/summary",
    "optimize": "/optimize",
}

#: Start days, as offsets into the generator's 14-day calendar, of the
#: 4-day windows that the date-filtered app lists ask for, in rotation.
WINDOW_DAYS = (2, 6, 9)


def _day(offset: int) -> str:
    return time.strftime("%Y-%m-%d",
                         time.gmtime((EPOCH_MS + offset * DAY_MS) / 1000))


class Mix:
    """Request sequences over one history's apps. Popularity is Zipf(1.1)
    over the apps ranked by size, largest first; the seed only breaks ties.
    Every client walks the same sequence of ranks and date windows for
    every seed, so the seed changes the history but not the load's shape."""

    def __init__(self, seed: int, apps: list[tuple[str, int]]):
        """``apps``: (app id, task count) pairs."""
        rng = random.Random(seed * 31 + 5)
        tiebreak = {a: rng.random() for a, _ in sorted(apps)}
        self.ranked = [a for a, _ in sorted(
            apps, key=lambda x: (-x[1], tiebreak[x[0]]))]
        self.app_weights = [1.0 / (r + 1) ** 1.1 for r in range(len(apps))]

    def top_app(self) -> str:
        return self.ranked[0]

    def path(self, route: str, rng: random.Random, k: int = 0) -> str:
        """The ``k``-th path of one route class; ``rng`` draws app ranks."""
        if route in FIXED_PATHS:
            return FIXED_PATHS[route]
        if route == "apps_list":
            v = k % 4
            if v == 0:
                return "/api/v1/applications?limit=50"
            if v == 1:
                return "/api/v1/applications?status=completed&limit=20"
            first = WINDOW_DAYS[k // 4 % len(WINDOW_DAYS)]
            lo, hi = _day(first), _day(first + 3)
            if v == 2:
                return f"/api/v1/applications?minDate={lo}&maxDate={hi}&limit=50"
            return (f"/api/v1/applications?status=completed,running"
                    f"&minEndDate={lo}&maxEndDate={hi}&limit=100")
        app = rng.choices(self.ranked, self.app_weights)[0]
        if route == "app_detail":
            return f"/api/v1/applications/{app}"
        if route == "app_executors":
            return f"/api/v1/applications/{app}/executors"
        raise KeyError(route)

    def sequence(self, client: int, clients: int):
        """Endless (route, path) stream for one of ``clients`` clients: the
        deck from the client's offset, each route class's paths in turn."""
        rng = random.Random(1000 + client)
        k = client * len(DECK) // clients
        dealt: dict[str, int] = {}
        while True:
            route = DECK[k % len(DECK)]
            n = dealt.get(route, 0)
            dealt[route] = n + 1
            yield route, self.path(route, rng, n + client)
            k += 1


def by_class(reqs) -> dict[str, list[float]]:
    """Latencies in ms per route class, sorted."""
    out: dict[str, list[float]] = {}
    for r in reqs:
        out.setdefault(CLASS[r.route], []).append((r.end - r.start) * 1000)
    return {c: sorted(v) for c, v in out.items()}


def mix_p50_ms(reqs) -> tuple[float, list[str]]:
    """Median request latency at the deck's mix: the median latency of
    each route class, weighted by the class's share of the deck.

    Weighting by class makes the figure independent of where the window
    cuts the deck: a window holds a few dozen requests, and whether it
    catches one more ~3 s summary page or one more ~0.5 s chart would
    otherwise move a plain mean or median. The per-class median keeps one
    stalled request from moving it. Returns the figure and the classes the
    window never reached (weighted out)."""
    lat = by_class(reqs)
    seen = [c for c in SHARE if c in lat]
    p50 = sum(SHARE[c] * statistics.median(lat[c]) for c in seen)
    return p50 / sum(SHARE[c] for c in seen), [c for c in SHARE if c not in lat]


def fetch(port: int, path: str, timeout: float = 60.0) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}",
                                    timeout=timeout) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as ex:
        return ex.code, ex.read()


def response_ok(status: int, body: bytes, path: str) -> bool:
    """A 200 whose body parses: JSON for the API, the rendered page for
    /optimize."""
    if status != 200:
        return False
    if path == "/optimize":
        return b"<h2" in body and b"</html>" in body.lower()
    try:
        json.loads(body)
    except ValueError:
        return False
    return True


@dataclass
class Request:
    route: str
    start: float
    end: float
    ok: bool
    failure: str | None = None  # path, status and body head of a failed one


@dataclass
class Readers:
    """Closed-loop clients: each sends its next request only after the
    previous reply arrives."""

    port: int
    mix: Mix
    n: int
    tracer: object
    done: list[Request] = field(default_factory=list)

    def run(self, deadline: float) -> None:
        threads = [threading.Thread(target=self._client, args=(c, deadline),
                                    name=f"reader-{c}") for c in range(self.n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def _client(self, c: int, deadline: float) -> None:
        seq = self.mix.sequence(c, self.n)
        out = []
        while time.perf_counter() < deadline:
            route, path = next(seq)
            with self.tracer.span("api.request", op_id=f"c{c}-{len(out)}",
                                  route=route):
                t = time.perf_counter()
                try:
                    status, body = fetch(self.port, path)
                except OSError:
                    status, body = 0, b""
                end = time.perf_counter()
            ok = response_ok(status, body, path)
            out.append(Request(route, t, end, ok, None if ok else
                               f"{path} -> {status}: {body[:300]!r}"))
        self.done.extend(out)


@dataclass
class Write:
    due: float
    done: float


class Writer(threading.Thread):
    """Open-loop tail writer: write ``k`` is due at
    ``start + (k + 0.5) * interval`` whether or not ingest keeps up (the
    half interval keeps the first write from racing the first listing).
    ``grow_every`` > 0 makes every n-th write a chunk appended to a growing
    ``.inprogress`` log instead of a new finished app."""

    def __init__(self, tail, start: float, deadline: float, interval: float,
                 grow_every: int):
        super().__init__(name="tail-writer")
        self.tail = tail
        self.start_at = start
        self.deadline = deadline
        self.interval = interval
        self.grow_every = grow_every
        self.writes: list[Write] = []
        self.error: BaseException | None = None

    def write(self, due: float) -> None:
        """Make the next write, recorded as due at ``due``."""
        k = len(self.writes)
        if self.grow_every and k % self.grow_every == self.grow_every - 1:
            self.tail.grow(k // self.grow_every)
        else:
            self.tail.new_app()
        self.writes.append(Write(due, time.perf_counter()))

    def run(self) -> None:
        try:
            while True:
                due = self.start_at + (len(self.writes) + 0.5) * self.interval
                if due >= self.deadline:
                    return
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.write(due)
        except BaseException as ex:  # surfaced by the caller after join()
            self.error = ex


@dataclass
class Pass:
    start: float
    end: float
    ok: bool


class IngestLoop(threading.Thread):
    """Runs ``ingest()`` passes back to back until stopped. A pass that
    raises is counted as failed and its traceback kept in ``errors``."""

    def __init__(self, ingest, tracer):
        super().__init__(name="ingest-loop")
        self.ingest = ingest
        self.tracer = tracer
        self.passes: list[Pass] = []
        self.errors: list[str] = []
        self.stop_event = threading.Event()

    def one_pass(self) -> None:
        t = time.perf_counter()
        ok = True
        with self.tracer.span("event_logs.pass", op_id=f"p{len(self.passes)}"):
            try:
                self.ingest()
            except Exception:  # the run goes on; the failure is reported
                ok = False
                self.errors.append(traceback.format_exc())
        self.passes.append(Pass(t, time.perf_counter(), ok))

    def run(self) -> None:
        while not self.stop_event.is_set():
            self.one_pass()
