"""dashboard_reads: the reference dashboard served the way users see it.

Set-up starts one process of its own that builds the parquet store with
the package's ``run-etl`` command over the generated sources and then
serves it with ``serve-dashboard``, and warms it with one whole cycle of
the mix. The measurement is a closed
loop: two client threads, each sending its next request as soon as the
previous response body has arrived, over whole cycles of a seeded mix of
all eight widget routes.
"""

from __future__ import annotations

import os
import random
import re
import signal
import subprocess
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import gen_sources
from common import ROOT, Clock, TreeRss, median, pct
from etl import TABLES, store_facts

N_ROWS = 5000
CLIENTS = 2
TIMEOUT_S = 60.0

ROUTES = ["table", "histogram", "timeline", "categories", "scatter",
          "quality", "drilldown", "download"]
# One cycle of the mix, as (route, fixed parameters). Every cycle costs about
# the same: the seed only shuffles the order and picks bins, k and which of
# the three largest reasons to drill into. The cheap routes are 8 of 22
# requests, the histogram routes 8 and /quality 6, so the median sits inside
# the histogram latencies and the 90th percentile inside the /quality
# latencies rather than on the edge between two kinds of request.
CYCLE = [
    ("table", {"name": "patients"}), ("table", {"name": "logs"}),
    ("categories", {"table": "encounters", "column": "encounter_type"}),
    ("categories", {"table": "logs", "column": "reason"}),
    ("scatter", {"table": "patients", "x": "height_cm", "y": "weight_kg", "color": "sex"}),
    ("scatter", {"table": "patients", "x": "height_cm", "y": "weight_kg"}),
    ("drilldown", {}), ("download", {}),
    ("histogram", {"table": "patients", "column": "height_cm"}),
    ("histogram", {"table": "patients", "column": "weight_kg"}),
    ("histogram", {"table": "encounters", "column": "length_of_stay_hours"}),
    ("histogram", {"table": "encounters", "column": "length_of_stay_hours"}),
    ("timeline", {"table": "encounters", "column": "admit_dt"}),
    ("timeline", {"table": "encounters", "column": "discharge_dt"}),
    ("timeline", {"table": "patients", "column": "dob_parsed"}),
    ("timeline", {"table": "diagnoses", "column": "recorded_at"}),
    ("quality", {}), ("quality", {}), ("quality", {}), ("quality", {}),
    ("quality", {}), ("quality", {}),
]
_BAR = re.compile(r"<title>[^<]*: (\d+)</title>")


# ------------------------------------------------------------ processes


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(proc: subprocess.Popen, grace: float = 30.0) -> None:
    """Signal a process started with ``start_new_session=True`` and its
    whole process group, and wait until every member has exited."""
    pgid = proc.pid
    if proc.poll() is None:
        try:
            os.killpg(pgid, signal.SIGINT)
        except ProcessLookupError:
            pass
    try:
        proc.wait(timeout=grace)
    except subprocess.TimeoutExpired:
        pass
    deadline = time.monotonic() + grace
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    while _group_alive(pgid):
        time.sleep(0.1)


class Server:
    """The package's ``run-etl`` over the generated sources, then its
    ``serve-dashboard`` on the written store, on an ephemeral port, in one
    process of its own (perfbench/serve_store.py). The store is checked
    against the generator: every table and log reason holds exactly the
    predicted rows (``run-etl`` does not run the referential-integrity
    audit, so no orphan reasons)."""

    def __init__(self, work: str, seed: int, env: dict) -> None:
        expected = gen_sources.generate(os.path.join(work, "inputs"), seed, N_ROWS)
        paths, self.store = expected["paths"], os.path.join(work, "store")
        self._log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "serve_store.py"),
             "--patients", paths["patients"], "--encounters", paths["encounters"],
             "--diagnoses", paths["diagnoses"], "--store", self.store,
             "--", "--store", self.store, "--port", "0"],
            cwd=ROOT, env={**os.environ, **env, "PYTHONUNBUFFERED": "1"},
            stdout=subprocess.PIPE, stderr=self._log, text=True, start_new_session=True)
        m = None
        for line in self.proc.stdout:  # blocks until the server is up
            if (m := re.search(r"^dashboard on http://[^:]+:(\d+)/", line)):
                break
        if not m:
            self.close()
            raise RuntimeError("run-etl or serve-dashboard failed; see server.log")
        self.base = f"http://127.0.0.1:{m.group(1)}"
        self.facts = store_facts(self.store)
        want = {r: c for r, c in expected["reasons"].items() if not r.startswith("orphan_")}
        tables = {t: expected["clean"][t] for t in TABLES[:3]}
        tables["logs"] = sum(want.values())
        if self.facts["rows"] != tables or self.facts["reasons"] != want:
            self.close()
            raise RuntimeError("run-etl wrote a store that differs from the generator's counts")

    def close(self) -> None:
        stop_group(self.proc)
        self.proc.stdout.close()
        self._log.close()


# ------------------------------------------------------------ requests


def request_cycles(seed: int, reasons: list[str]):
    """Endless seeded sequence of whole cycles, each a list of (route, path)."""
    rng = random.Random(seed)
    while True:
        cycle = [(route, request_path(rng, route, dict(params), reasons))
                 for route, params in CYCLE]
        rng.shuffle(cycle)
        yield cycle


def request_path(rng: random.Random, route: str, params: dict, reasons: list[str]) -> str:
    if route == "histogram":
        params["bins"] = rng.choice([20, 30, 40])
    elif route == "timeline":
        params["bins"] = rng.choice([30, 50])
    elif route == "categories":
        params["k"] = rng.choice([5, 10, 20])
    elif route in ("drilldown", "download"):
        params["reason"] = rng.choice(reasons)
    return f"/{route}" + (f"?{urllib.parse.urlencode(params)}" if params else "")


def check_response(route: str, path: str, status: int, body: bytes, facts: dict) -> bool:
    """Every response is 200; bar charts and downloads add up to the store."""
    if status != 200 or not body:
        return False
    q = {k: v[0] for k, v in urllib.parse.parse_qs(urllib.parse.urlparse(path).query).items()}
    if route in ("histogram", "timeline"):
        bars = sum(int(v) for v in _BAR.findall(body.decode()))
        return bars == facts["nonnull"][(q["table"], q["column"])]
    if route == "quality":
        svg = body.decode().split("</svg>", 1)[0]
        return sum(int(v) for v in _BAR.findall(svg)) == facts["rows"]["logs"]
    if route == "download":
        lines = body.decode().splitlines()
        return len(lines) - 1 == min(1000, facts["reasons"][q["reason"]])
    return True


def fetch(base: str, path: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(base + path, timeout=TIMEOUT_S) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()
    except (urllib.error.URLError, OSError):
        return 0, b""


def closed_loop(base: str, cycles, facts: dict, seconds: float):
    """CLIENTS threads, each sending its next request when the last one
    returns, over whole cycles of the mix until ``seconds`` have passed or
    ``cycles`` ends. Returns [(route, latency s, ok)] and the measured wall."""
    lock = threading.Lock()
    results: list[tuple[str, float, bool]] = []
    pending: list[tuple[str, str]] = []
    clock = Clock()

    def next_request():
        with lock:
            if not pending:
                cycle = next(cycles, None) if clock.elapsed() < seconds else None
                if cycle is None:
                    return None
                pending.extend(reversed(cycle))
            return pending.pop()

    def client() -> None:
        while (req := next_request()) is not None:
            route, path = req
            t0 = time.perf_counter()
            status, body = fetch(base, path)
            lat = time.perf_counter() - t0
            ok = check_response(route, path, status, body, facts)
            with lock:
                results.append((route, lat, ok))

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, clock.elapsed()


def run(work: str, seed: int, seconds: float, env: dict, setup_clock: Clock) -> dict:
    server = Server(work, seed, env)
    facts = server.facts
    reasons = sorted(facts["reasons"], key=lambda r: (-facts["reasons"][r], r))[:3]
    try:
        with TreeRss(server.proc.pid) as rss:
            # one whole cycle in the closed loop, checked, before timing
            warm = next(request_cycles(seed ^ 0x5EED, reasons))
            results, _ = closed_loop(server.base, iter([warm]), facts, float("inf"))
            if not all(ok for *_, ok in results):
                raise RuntimeError("a warm-up request failed its check")
            setup_s = setup_clock.elapsed()
            results, elapsed = closed_loop(
                server.base, request_cycles(seed, reasons), facts, seconds)
    finally:
        server.close()
    lats = [lat for _, lat, _ in results]
    return {
        "attempted": len(results),
        "failed": sum(1 for *_, ok in results if not ok),
        "setup_s": setup_s,
        "throughput_per_s": len(results) / elapsed,
        "p50_ms": median(lats) * 1000.0,
        "p90_ms": pct(lats, 90) * 1000.0,
        "peak_rss_mb": rss.peak_mb,
    }
