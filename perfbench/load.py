"""Load generator: seeded request mixes, closed-loop HTTP clients, and
the open-loop BGP sessions of the ``live`` workload. Every response is
checked: ``served`` answers against the reference model in rib.py,
``live`` answers against what the generator itself announced.
"""

from __future__ import annotations

import json
import random
import socket
import struct
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass

from rib import (Entry, Rib, Route, _net, _v4s, bgp_message, bgp_open,
                 instants_in, check_json, entry_matches, update_body)

HTTP_TIMEOUT = 120.0


class Failure(Exception):
    """The run could not be completed (no result is printed)."""


@dataclass
class Sample:
    cls: str
    t0: float
    t1: float
    ok: bool
    why: str = ""
    path: str = ""

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


@dataclass
class Request:
    cls: str
    path: str
    check: object  # callable(dict) -> reason or None


def http_get(port: int, path: str):
    """GET → (status, decoded JSON or None)."""
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=HTTP_TIMEOUT) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None
    except (OSError, ValueError):
        return 0, None


def _zipf_pick(rng, items, s=1.1):
    """Zipf-ranked pick: rank 1 is items[0]."""
    n = len(items)
    w = [1.0 / (i + 1) ** s for i in range(n)]
    return rng.choices(items, w)[0]


def _q(**kw) -> str:
    return "?" + urllib.parse.urlencode(kw) if kw else ""


# --- served: lookup and report mixes ------------------------------------------

# every lookup class: the traced run times each once, untraced and traced
LOOKUP_CLASSES = ["exact", "subnet", "supernet", "attr", "asof", "browse", "rd", "miss"]
# the classes the end-to-end run times, one pass each run: a lookup takes
# ~3 s, so five already fill a 12 s run. subnet, rd and miss are timed
# only in the traced run.
TIMED_LOOKUPS = ["exact", "asof", "browse", "supernet", "attr"]
# every report: the traced run times each once
REPORT_CLASSES = ["hijacks", "relationships", "diff", "moas", "moas_asof", "rpki", "rpki_asof",
                  "flappers", "statistics"]
# the reports the end-to-end run times, one pass each run (~12 s): the
# as-of forms of moas and rpki rather than the plain ones, and the
# memoized hijacks and relationships interleaved with the recomputed ones
TIMED_REPORTS = ["hijacks", "diff", "relationships", "moas_asof", "rpki_asof", "hijacks",
                 "flappers", "statistics", "relationships"]


def _json_check(expected):
    return lambda got: check_json(expected, got)


def lookup_requests(rib: Rib, seed: int, classes: list[str], n: int) -> list[Request]:
    """``n`` /api/json requests cycling through ``classes`` (so every run
    has the same class mix) with Zipf-drawn keys; some of them miss."""
    rng = random.Random(seed)
    # point lookups draw more-specifics (aggregates are reached through
    # the subnet and supernet classes); Zipf rank order is seeded
    v4 = [r for r in rib.by_rib["ipv4u"] if r.plen > 16]
    rng.shuffle(v4)
    instants = instants_in(rib, 3, seed)
    out = []
    for i in range(n):
        cls = classes[i % len(classes)]
        r = _zipf_pick(rng, v4)
        if cls == "exact":
            exp = rib.api_json("ipv4u", "prefix", (r.addr, r.plen))
            out.append(Request(cls, f"/api/json/ipv4u{_q(filter=r.nlri)}", _json_check(exp)))
        elif cls == "subnet":
            net = _net(r.addr, 12, 32)
            exp = rib.api_json("ipv4u", "prefix", (net, 12), limit=100)
            out.append(Request(cls, f"/api/json/ipv4u{_q(filter=f'{_v4s(net)}/12', limit=100)}",
                               _json_check(exp)))
        elif cls == "supernet":
            host = r.addr + rng.randrange(1, 1 << (32 - r.plen))
            exp = rib.api_json("ipv4u", "prefix", (host, 32))
            out.append(Request(cls, f"/api/json/ipv4u{_q(filter=_v4s(host))}", _json_check(exp)))
        elif cls == "attr":
            if i % 2:
                origin = _zipf_pick(rng, rib.origins)
                exp = rib.api_json("ipv4u", "origin", origin, limit=50)
                flt = f"as:{origin}$"
            else:
                hi, lo = rng.choice([65001, 65002, 65003, 65004]), rng.randrange(1, 40)
                exp = rib.api_json("ipv4u", "community", hi << 16 | lo, limit=50)
                # "comm:" rather than "c:": an all-hex token such as
                # "c:65001:7" parses as an IPv6 address (and is dropped)
                flt = f"comm:{hi}:{lo}"
            out.append(Request(cls, f"/api/json/ipv4u{_q(filter=flt, limit=50)}", _json_check(exp)))
        elif cls == "asof":
            at = rng.choice(instants)
            exp = rib.api_json("ipv4u", "prefix", (r.addr, r.plen), asof_ms=at)
            out.append(Request(cls, f"/api/json/ipv4u{_q(filter=r.nlri, asof=at)}", _json_check(exp)))
        elif cls == "browse":
            skip = 100 * rng.randrange(len(rib.by_rib["ipv4u"]) // 100)
            exp = rib.api_json("ipv4u", "all", skip=skip, limit=100)
            out.append(Request(cls, f"/api/json/ipv4u{_q(skip=skip, limit=100)}", _json_check(exp)))
        elif cls == "rd":
            rd = rng.choice(sorted({x.rd for x in rib.by_rib["vpnv4u"]}))
            exp = rib.api_json("vpnv4u", "rd", rd, limit=50)
            out.append(Request(cls, f"/api/json/vpnv4u{_q(filter=f'rd:{rd[0]}:{rd[1]}', limit=50)}",
                               _json_check(exp)))
        else:  # miss: a prefix in 100.0.0.0/8, which the generator never announces
            addr = 100 << 24 | rng.randrange(1 << 16) << 8
            exp = rib.api_json("ipv4u", "prefix", (addr, 24))
            out.append(Request(cls, f"/api/json/ipv4u{_q(filter=f'{_v4s(addr)}/24')}", _json_check(exp)))
    return out


def _equal(expected):
    def check(got):
        return None if got == expected else f"got {str(got)[:200]}, want {str(expected)[:200]}"
    return check


def _stats_check(rib: Rib):
    ribs, counters = rib.statistics_ribs(), rib.statistics_counters()

    def check(got):
        g = {k: (got.get("ribs") or {}).get(k) for k in ribs}
        if g != ribs:
            return f"ribs: got {g}, want {ribs}"
        if got.get("counters") != counters:
            return f"counters: got {got.get('counters')}, want {counters}"
        return None
    return check


class _Repeatable:
    """Check for reports without a model (AS relationships): every
    answer must equal the first one, whether it came from the memo or
    was recomputed."""

    def __init__(self):
        self.first = None
        self.lock = threading.Lock()

    def __call__(self, got):
        with self.lock:
            if self.first is None:
                self.first = got
                return None if isinstance(got, list) and got else "empty report"
        return None if got == self.first else "answer changed between identical requests"


def report_requests(rib: Rib, seed: int, classes: list[str], n: int) -> list[Request]:
    """``n`` report requests cycling through ``classes``; an endpoint
    with ``asof`` draws its instant from the RIB's time range."""
    rng = random.Random(seed ^ 0xA11)
    instants = instants_in(rib, 3, seed)
    memo: dict[str, object] = {}
    rel = _Repeatable()
    out = []
    for i in range(n):
        cls = classes[i % len(classes)]
        if cls == "diff":
            t1, t2 = sorted(rng.sample(instants, 2))
            path = f"/api/analytics/diff{_q(t1=t1, t2=t2)}"
            make = lambda t1=t1, t2=t2: _equal(rib.diff(t1, t2))
        elif cls in ("moas", "moas_asof"):
            at = rng.choice(instants) if cls == "moas_asof" else None
            path = f"/api/analytics/moas{_q(asof=at) if at else ''}"
            make = lambda at=at: _equal(rib.moas(asof_ms=at))
        elif cls in ("rpki", "rpki_asof"):
            at = rng.choice(instants) if cls == "rpki_asof" else None
            path = f"/api/analytics/rpki{_q(asof=at) if at else ''}"
            make = lambda at=at: _equal(rib.rpki(asof_ms=at))
        elif cls == "flappers":
            path = "/api/analytics/flappers"
            make = lambda: _equal(rib.flappers())
        elif cls == "hijacks":
            path = "/api/analytics/hijacks"
            make = lambda: _equal(rib.hijacks())
        elif cls == "relationships":
            path = "/api/analytics/relationships"
            make = lambda: rel
        else:
            path = "/api/statistics"
            make = lambda: _stats_check(rib)
        if path not in memo:
            memo[path] = make()
        out.append(Request(cls, path, memo[path]))
    return out


def fetch(port: int, req: Request) -> Sample:
    """Send one request and check its answer."""
    t0 = time.monotonic()
    status, body = http_get(port, req.path)
    t1 = time.monotonic()
    if status != 200 or body is None:
        return Sample(req.cls, t0, t1, False, f"HTTP {status} {req.path}", req.path)
    why = req.check(body)
    return Sample(req.cls, t0, t1, why is None, f"{req.path}: {why}" if why else "", req.path)


def closed_loop(port: int, requests: list[Request], deadline: float, samples: list,
                limit: float = float("inf"), at_least: int = 0) -> None:
    """One client: send the next request only after the previous answer,
    until ``deadline`` and at least ``at_least`` requests (or ``limit``
    requests); cycles through ``requests``."""
    i = 0
    while (time.monotonic() < deadline or i < at_least) and i < limit:
        samples.append(fetch(port, requests[i % len(requests)]))
        i += 1


MEMOIZED = ("hijacks", "relationships")


def warm_up(port: int, mixes: list[list[Request]], threads: int = 3) -> list[Sample]:
    """Untimed: the first request of every lookup class and of the
    memoized reports, over ``threads`` parallel clients. Spark compiles
    each query shape on its first run after a start, and the analytics
    memo fills; users pay that once per restart, not per request. The
    other reports stay cold: warming them too would cost a third of a
    run."""
    firsts: dict[str, Request] = {}
    for m in mixes:
        for req in m:
            if req.cls in LOOKUP_CLASSES or req.cls in MEMOIZED:
                firsts.setdefault(req.cls, req)
    reqs = list(firsts.values())
    shares = [reqs[c::threads] for c in range(threads)]
    out: list[list[Sample]] = [[] for _ in shares]
    workers = [threading.Thread(target=closed_loop, args=(port, sh, float("inf"), o, len(sh)))
               for sh, o in zip(shares, out)]
    for t in workers:
        t.start()
    for t in workers:
        t.join()
    return [x for o in out for x in o]


def run_clients(port: int, mixes: list[list[Request]], seconds: float,
                passes: list[int]) -> tuple[list[Sample], float]:
    """Run one closed-loop client per mix for ``seconds``, and client
    ``c`` for at least ``passes[c]`` requests (one pass over its classes),
    so every run times the same classes. Returns all samples and the
    throughput: the sum over clients of the answers in the client's first
    pass over the time that pass took. Every run measures the rate over
    the same requests, however many short ones fit after the pass."""
    per_client: list[list[Sample]] = [[] for _ in mixes]
    start = time.monotonic()
    threads = [threading.Thread(target=closed_loop, args=(port, m, start + seconds, out),
                                kwargs={"at_least": n})
               for m, out, n in zip(mixes, per_client, passes)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    rate = sum(sum(x.ok for x in c[:n]) / (c[n - 1].t1 - start) for c, n in zip(per_client, passes))
    return [x for c in per_client for x in c], rate


# --- live: BGP sessions, probes, reader ---------------------------------------

PROBE_BASE = 100 << 24 | 64 << 16      # 100.64.0.0/12: one /24 per probe
BG_BASE = [100 << 24 | 80 << 16, 100 << 24 | 96 << 16]   # per-session background
BURST_BASE = 100 << 24 | 112 << 16     # 100.112.0.0/12: the capacity burst
WARM_BASE = 100 << 24 | 48 << 16       # 100.48.0.0/12: warm-up routes
LIVE_AS = [65101, 65102]
BG_POOL = 1000


def probe_route(i: int) -> Route:
    return Route("ipv4u", PROBE_BASE + (i << 8), 24)


def probe_entry(i: int) -> Entry:
    return Entry(0, True, [LIVE_AS[0], 64999, 70000 + i], [LIVE_AS[0] << 16 | (i % 65535 + 1)], None)


class BgpSession:
    """One BGP speaker dialling the daemon's passive listener."""

    def __init__(self, port: int, idx: int):
        self.idx = idx
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self.sock.sendall(bgp_open(LIVE_AS[idx], 0x0A0A0A01 + idx, hold=0))
        hdr = b""
        while len(hdr) < 19:  # the listener's OPEN back
            chunk = self.sock.recv(19 - len(hdr))
            if not chunk:
                raise ConnectionError("listener closed the session")
            hdr += chunk
        need = struct.unpack(">H", hdr[16:18])[0] - 19
        while need > 0:
            need -= len(self.sock.recv(need))
        self.nexthop = 0x0A0A0A01 + idx

    def send(self, route: Route, entry: Entry | None) -> None:
        self.sock.sendall(bgp_message(2, update_body(route, entry, self.nexthop)))

    def close(self) -> None:
        self.sock.close()


def live_plans(seed: int, seconds: float, bg_rate: float, probe_every: float,
               probe_start: int = 0) -> list[list[tuple]]:
    """Each session's open-loop schedule: (offset s, route, entry or None
    for a withdraw, probe index or -1). Session 0 also carries the probes,
    in the first half of the window, so the last of them are visible
    about when the window ends."""
    rng = random.Random(seed ^ 0x11FE)
    plans: list[list[tuple]] = [[], []]
    for s in range(2):
        announced: set[int] = set()
        for k in range(int(seconds * bg_rate)):
            j = rng.randrange(BG_POOL)
            route = Route("ipv4u", BG_BASE[s] + (j << 8), 24)
            if j in announced and rng.random() < 0.3:
                entry = None
                announced.discard(j)
            else:
                entry = Entry(0, True, [LIVE_AS[s], 64999, 64600 + s], [], k + 1)
                announced.add(j)
            plans[s].append((k / bg_rate, route, entry, -1))
    for k in range(int(seconds / 2 / probe_every)):
        i = probe_start + k
        plans[0].append((k * probe_every + probe_every / 2, probe_route(i), probe_entry(i), i))
    plans[0].sort(key=lambda e: e[0])
    return plans


class LiveRun:
    """State shared by the senders, the probe poller and the reader."""

    def __init__(self, port: int):
        self.port = port
        self.lock = threading.Lock()
        self.sent: set[str] = set()             # every nlri announced so far
        self.probe_due: dict[int, float] = {}   # probe -> due time (monotonic)
        self.probe_seen: dict[int, float] = {}
        self.lateness: list[float] = []
        self.n_sent = 0
        self.reads: list[Sample] = []
        self.polls = 0

    def send_plan(self, sess: BgpSession, plan: list[tuple], t0: float) -> None:
        for off, route, entry, probe in plan:
            due = t0 + off
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            with self.lock:
                if entry is not None:
                    self.sent.add(route.nlri)
                if probe >= 0:
                    self.probe_due[probe] = due
            sess.send(route, entry)
            with self.lock:
                self.n_sent += 1
                self.lateness.append(time.monotonic() - due)

    def poll_probes(self, stop: threading.Event, first: int, n: int, deadline: float) -> None:
        """Poll the match count over the probe block until probes
        ``first .. first+n-1`` are visible (or the deadline). Probes come
        from one session in order, so ``found == k`` means probes
        0 .. k-1 are visible; first sight = that response's completion."""
        flt = f"{_v4s(PROBE_BASE)}/12"
        while time.monotonic() < deadline:
            if stop.is_set() and all(i in self.probe_seen for i in range(first, first + n)):
                return
            status, body = http_get(self.port, f"/api/json/ipv4u{_q(filter=flt, limit=1)}")
            now = time.monotonic()
            self.polls += 1
            if status == 200 and body:
                with self.lock:
                    for i in range(first, min(first + n, body.get("found") or 0)):
                        if i in self.probe_due:
                            self.probe_seen.setdefault(i, now)

    def check_probes(self, first: int, n: int) -> list[str]:
        """Every probe must be served with the path it was announced with."""
        flt = f"{_v4s(PROBE_BASE)}/12"
        status, body = http_get(self.port, f"/api/json/ipv4u{_q(filter=flt, limit=10000)}")
        if status != 200 or body is None:
            return [f"probe check: HTTP {status}"]
        items, bad = body.get("items") or {}, []
        for i in range(first, first + n):
            route, want = probe_route(i), probe_entry(i)
            ents = [e for sess in items.get(route.nlri, {}).values()
                    for h in sess.values() for e in h.values()]
            if len(ents) != 1 or not entry_matches(want, ents[0]):
                bad.append(f"probe {route.nlri}: got {ents[:1]}")
        return bad

    def read_request(self, route: Route) -> Request:
        """An exact lookup of a background route: the answer may hold
        that route only, and only once it has been announced."""
        def check(body):
            items = body.get("items") or {}
            if set(items) - {route.nlri}:
                return f"unexpected routes {sorted(items)[:3]}"
            if items:
                with self.lock:
                    if route.nlri not in self.sent:
                        return "served before it was announced"
            return None
        return Request("read", f"/api/json/ipv4u{_q(filter=route.nlri)}", check)

    def read_loop(self, seed: int, deadline: float) -> None:
        """The reader: closed-loop exact lookups of background routes."""
        rng = random.Random(seed ^ 0x4EAD)
        while time.monotonic() < deadline:
            s = rng.randrange(2)
            route = Route("ipv4u", BG_BASE[s] + (rng.randrange(BG_POOL) << 8), 24)
            self.reads.append(fetch(self.port, self.read_request(route)))


def announce_and_wait(sess: BgpSession, port: int, base: int, n: int,
                      deadline_s: float) -> tuple[float, bool]:
    """Announce ``n`` new /24s from ``base`` at once; returns (updates per
    second from the first send until the last is visible, all visible)."""
    entry = Entry(0, True, [LIVE_AS[sess.idx], 64999, 64700], [], None)
    t0 = time.monotonic()
    for j in range(n):
        sess.send(Route("ipv4u", base + (j << 8), 24), entry)
    flt = f"{_v4s(base)}/12"
    while time.monotonic() - t0 < deadline_s:
        status, body = http_get(port, f"/api/json/ipv4u{_q(filter=flt, limit=1)}")
        if status == 200 and body and body.get("found") == n:
            return n / (time.monotonic() - t0), True
        time.sleep(0.05)
    return n / (time.monotonic() - t0), False
