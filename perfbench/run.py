"""RIB-explorer benchmark: one command per workload, run from the root of
a checkout::

    python3 perfbench/run.py --workload served --seed 1 --seconds 12 --trace 0

Workloads (why each exists: perfbench/README.md and BENCHMARK.json):

- ``served``: a static RIB loaded from a seeded MRT archive; one
  closed-loop client sends ``/api/json`` lookups and one sends analytics
  reports, both over HTTP to the server in its own process. Each client
  runs for the whole window and for at least one pass over its classes
  (``load.TIMED_LOOKUPS``, ``load.TIMED_REPORTS``).
- ``live``: the full daemon; two BGP sessions send UPDATEs and withdraws
  on an open-loop schedule, probe routes are polled through
  ``/api/json`` until visible, and one closed-loop reader looks routes up.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` repeats the workload inside this process with spans and
Spark counters on (see traced.py) and prints the per-layer metrics. Every response is checked; a wrong one makes ``correct`` false
and the exit code 1. All files go under ``.perfbench/`` in the checkout
and are removed at exit, except the traced run's span file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import load  # noqa: E402
import rib as ribmod  # noqa: E402
import server  # noqa: E402

WORKLOADS = ("served", "live")
# (name, unit) of the end-to-end metrics, as BENCHMARK.json lists them
END_TO_END = [("setup_s", "s"), ("latency_mean_ms", "ms"), ("throughput_rps", "1/s"),
              ("stored_bytes_per_update", "B")]
LIVE_BG_RATE = 10.0       # background updates per second per session
LIVE_PROBE_EVERY = 0.1    # seconds between probe announcements
LIVE_BURST = 2000         # updates in the traced run's capacity burst
LIVE_WARM = 10            # warm-up updates before timing
SERVER_START_S = 150.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """(percentile, value): p90, or the highest percentile that still has
    at least ten samples beyond it (the median below 21 samples)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 21:
        return 50.0, median(xs)
    i = min(int(0.9 * n), n - 11)
    return round(100.0 * (i + 1) / n, 1), xs[i]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for d, _sub, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident memory (VmHWM) over ``pid`` and its
    descendants (the Python server, its JVM and Python workers)."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


class Phases:
    """Wall time of each phase of a run, for the detail line."""

    def __init__(self):
        self.t = time.monotonic()
        self.spans: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.monotonic()
        self.spans[name] = round(now - self.t, 2)
        self.t = now


# --- inputs -------------------------------------------------------------------

def served_inputs(seed: int, work: str, scale=ribmod.Scale()):
    rib = ribmod.Rib(seed, scale)
    rib.write_mrt(os.path.join(work, "mrt"))
    rib.write_roas(os.path.join(work, "roas.json"))
    spec = {"workload": "served", "work": work, "mrt_dir": os.path.join(work, "mrt"),
            "roas": os.path.join(work, "roas.json"), "table": os.path.join(work, "table")}
    return rib, spec


def served_mixes(rib, seed: int) -> list[list[load.Request]]:
    """The timed mixes: one lookup client and one report client. One
    lookup client, not two: with two, queueing in the engine doubled the
    run-to-run spread of latency and throughput."""
    return [load.lookup_requests(rib, seed * 7, load.TIMED_LOOKUPS, 20),
            load.report_requests(rib, seed, load.TIMED_REPORTS, 24)]


# requests each served client sends at least: one pass over its classes
SERVED_PASSES = [len(load.TIMED_LOOKUPS), len(load.TIMED_REPORTS)]


def complete_passes(rib, seed: int) -> tuple[list[load.Request], list[load.Request]]:
    """One request of every lookup class and of every report."""
    return (load.lookup_requests(rib, seed * 7, load.LOOKUP_CLASSES, len(load.LOOKUP_CLASSES)),
            load.report_requests(rib, seed, load.REPORT_CLASSES, len(load.REPORT_CLASSES)))


def first_request(rib) -> load.Request:
    r = rib.by_rib["ipv4u"][len(rib.by_rib["ipv4u"]) // 2]
    exp = rib.api_json("ipv4u", "prefix", (r.addr, r.plen))
    return load.Request("first", f"/api/json/ipv4u?filter={r.nlri}", lambda got: ribmod.check_json(exp, got))


# --- the server in its own process -----------------------------------------------

class ServerProcess:
    def __init__(self, spec: dict, work: str):
        self.t_spawn = time.monotonic()
        path = os.path.join(work, "spec.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(spec, f)
        env = dict(os.environ, **server.hermetic_env(work))
        self.log = open(os.path.join(work, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), path], cwd=work, env=env,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log)
        self._line: list[str] = []
        self._reader = threading.Thread(target=lambda: self._line.append(self.proc.stdout.readline().decode()),
                                        daemon=True)
        self._reader.start()

    def ready(self) -> dict:
        self._reader.join(timeout=SERVER_START_S)
        if not self._line or not self._line[0].strip():
            raise load.Failure("server did not start; see its log")
        return json.loads(self._line[0])

    def stop(self) -> None:
        """Close the server's stdin and wait for it and everything it
        started (its JVM and Python workers) to end."""
        family = descendants(self.proc.pid)
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=30)
        finally:
            self.log.close()
        deadline = time.monotonic() + 30
        while family and time.monotonic() < deadline:
            family = [p for p in family if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in family:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


# --- metrics helpers ----------------------------------------------------------------

def outcome(samples: list[load.Sample], extra_failed: int = 0, extra_wrong: list[str] = ()) -> dict:
    wrong = [s.why for s in samples if not s.ok] + list(extra_wrong)
    return {"attempted": len(samples) + extra_failed, "failed": len(wrong) + extra_failed,
            "wrong": wrong[:5]}


def result(correct: bool, attempted: int, failed: int, metrics: dict, expected=END_TO_END) -> dict:
    got = [(k, u) for k, (_v, u) in metrics.items()]
    if got != list(expected):
        raise ValueError(f"metrics {got} differ from BENCHMARK.json's {list(expected)}")
    return {"correct": correct, "attempted": max(1, attempted), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


# --- served ---------------------------------------------------------------------------

def run_served(seed: int, seconds: float, work: str) -> tuple[dict, dict]:
    clock = Phases()
    rib, spec = served_inputs(seed, work)
    # the model answers every request before the server starts, so its
    # work never competes with the server's set-up
    mixes = served_mixes(rib, seed)
    first = first_request(rib)
    clock.mark("inputs")
    srv = ServerProcess(spec, work)
    try:
        info = srv.ready()
        port = info["http_port"]
        status, body = load.http_get(port, first.path)
        setup_s = time.monotonic() - srv.t_spawn
        clock.mark("setup")
        first_bad = [f"first request: HTTP {status}"] if status != 200 or body is None else \
            [w for w in [first.check(body)] if w]
        warm = load.warm_up(port, mixes)
        clock.mark("warm_up")
        samples, rate = load.run_clients(port, mixes, seconds, SERVED_PASSES)
        clock.mark("measure")
        rss = tree_peak_rss_mb(srv.proc.pid)
        stored, _files = dir_bytes(info["table"])
    finally:
        srv.stop()
    clock.mark("stop")
    out = outcome(samples, extra_wrong=first_bad + [w.why for w in warm if not w.ok])
    ok = [s for s in samples if s.ok]
    lookups = [s for s in ok if s.cls in load.LOOKUP_CLASSES]
    pct, tail_ms = tail(s.ms for s in ok)
    metrics = {
        "setup_s": (setup_s, "s"),
        # the mean over the timed classes of each class's median, so every
        # run weights the classes alike however many short requests fit
        # after a pass; the mean over all requests spread twice as wide
        # over ten seeds. Not the median over all requests: lookups (~3 s)
        # and reports (0.1-4.5 s) make a two-humped mix whose median jumps
        # between the humps.
        "latency_mean_ms": (mean(median(s.ms for s in ok if s.cls == c)
                                 for c in sorted({s.cls for s in ok})), "ms"),
        "throughput_rps": (rate, "1/s"),
        "stored_bytes_per_update": (stored / rib.n_events(), "B"),
    }
    detail = {"samples": len(samples), "lookups": len(lookups), "p50_ms": median(s.ms for s in ok),
              "tail_percentile": pct, "tail_ms": tail_ms,
              "all_ms": [[s.cls, round(s.ms)] for s in ok],
              "by_class_p50_ms": {c: median(s.ms for s in ok if s.cls == c)
                                  for c in sorted({s.cls for s in ok})},
              "routes": len(rib.routes), "updates": rib.n_events(), "stored_bytes": stored,
              "peak_rss_mb": rss,
              "phases_s": clock.spans, "wrong": out["wrong"]}
    return result(not out["wrong"], out["attempted"], out["failed"], metrics), detail


# --- live -------------------------------------------------------------------------------

def live_pass(lr: load.LiveRun, sessions, seed: int, seconds: float, probe_start: int) -> dict:
    """One measured stretch of the live workload: both sessions on their
    open-loop schedules, the probe poller and the reader."""
    plans = load.live_plans(seed, seconds, LIVE_BG_RATE, LIVE_PROBE_EVERY, probe_start)
    n_probes = sum(1 for e in plans[0] if e[3] >= 0)
    reads_before = len(lr.reads)
    t0 = time.monotonic() + 0.2
    stop = threading.Event()
    senders = [threading.Thread(target=lr.send_plan, args=(s, p, t0)) for s, p in zip(sessions, plans)]
    reader = threading.Thread(target=lr.read_loop, args=(seed + probe_start, t0 + seconds))
    poller = threading.Thread(target=lr.poll_probes,
                              args=(stop, probe_start, n_probes, t0 + seconds + 60))
    for t in senders + [reader, poller]:
        t.start()
    for t in senders + [reader]:
        t.join()
    stop.set()
    poller.join()
    probes = range(probe_start, probe_start + n_probes)
    reads = lr.reads[reads_before:]
    ok_reads = [s for s in reads if s.ok]
    return {"fresh": [(lr.probe_seen[i] - lr.probe_due[i]) * 1000 for i in probes if i in lr.probe_seen],
            "bad": [f"probe {i} never visible" for i in probes if i not in lr.probe_seen]
            + lr.check_probes(probe_start, n_probes),
            "reads": reads, "n_probes": n_probes,
            "read_rate": len(ok_reads) / (reads[-1].t1 - t0) if reads else 0.0}


def live_warmup(sessions, port: int) -> None:
    """One ingest round trip before timing: the first micro-batch and the
    first lookups compile their plans, a cost paid once per start."""
    _rate, ok = load.announce_and_wait(sessions[0], port, load.WARM_BASE, LIVE_WARM, 90.0)
    if not ok:
        raise load.Failure("warm-up routes never became visible")


def run_live(seed: int, seconds: float, work: str) -> tuple[dict, dict]:
    clock = Phases()
    spec = {"workload": "live", "work": work}
    srv = ServerProcess(spec, work)
    sessions = []
    try:
        info = srv.ready()
        port = info["http_port"]
        status, body = load.http_get(port, "/api/json/ipv4u?filter=100.64.0.0/12")
        setup_s = time.monotonic() - srv.t_spawn
        clock.mark("setup")
        if status != 200 or body is None:
            raise load.Failure(f"first request: HTTP {status}")
        sessions = [load.BgpSession(info["bgp_port"], i) for i in range(2)]
        live_warmup(sessions, port)
        clock.mark("warm_up")
        lr = load.LiveRun(port)
        p = live_pass(lr, sessions, seed, seconds, 0)
        clock.mark("measure")
        rss = tree_peak_rss_mb(srv.proc.pid)
        stored, files = dir_bytes(info["table"])
    finally:
        for s in sessions:
            s.close()
        srv.stop()
    clock.mark("stop")
    res, detail = live_result(lr, p, setup_s, stored, files, rss)
    detail["phases_s"] = clock.spans
    return res, detail


def live_result(lr, p, setup_s, stored, files, rss) -> tuple[dict, dict]:
    wrong = [s.why for s in p["reads"] if not s.ok] + p["bad"]
    pct, tail_ms = tail(p["fresh"])
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_mean_ms": (mean(p["fresh"]), "ms"),
        "throughput_rps": (p["read_rate"], "1/s"),
        "stored_bytes_per_update": (stored / (lr.n_sent + LIVE_WARM), "B"),
    }
    detail = {"probes": p["n_probes"], "freshness_p50_ms": median(p["fresh"]),
              "freshness_tail_percentile": pct, "freshness_tail_ms": tail_ms,
              "read_p50_ms": median(s.ms for s in p["reads"] if s.ok), "reads": len(p["reads"]),
              "polls": lr.polls, "updates_sent": lr.n_sent + LIVE_WARM,
              "send_lateness_max_ms": max(lr.lateness, default=0.0) * 1000,
              "fresh_ms": [round(x) for x in p["fresh"]], "read_ms": [round(s.ms) for s in p["reads"]],
              "table_files": files, "stored_bytes": stored, "peak_rss_mb": rss, "wrong": wrong[:5]}
    attempted = len(p["reads"]) + p["n_probes"]
    return result(not wrong, attempted, len(wrong), metrics), detail


# --- entry ----------------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bgpexplorer_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        if args.trace:
            sys.path.insert(1, ROOT)  # the engine runs in this process
            import traced

            res, detail = traced.run(args.workload, args.seed, args.seconds, work)
        elif args.workload == "served":
            res, detail = run_served(args.seed, args.seconds, work)
        else:
            res, detail = run_live(args.seed, args.seconds, work)
    except load.Failure as e:
        print(f"perfbench: {e}", file=sys.stderr)
        log = os.path.join(work, "server.log")
        if os.path.exists(log):
            with open(log, encoding="utf-8", errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
