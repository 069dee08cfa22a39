"""Seeded RIB generator and pure-Python reference model.

The generator draws a routing table shaped like a real one from a seed:
a DFZ-like prefix-length mix, covering aggregates with more-specifics
inside them (so subnet and supernet lookups find routes), power-law AS
paths from four peers with about 1% multi-origin prefixes, and Zipf
churn of up to ten history entries per path over seven days. The same
seed always gives byte-identical MRT files, ROA file and request mixes.

The model answers the same questions the engine serves (``/api/json``
lookups and the analytics reports) straight from the generated events,
so the benchmark can check every response it times. The model never
imports the engine: the MRT and BGP encoders below are written from the
RFCs (RFC 6396, RFC 4271, RFC 4760, RFC 4364), not borrowed from the
package under test.
"""

from __future__ import annotations

import bisect
import ipaddress
import json
import os
import random
import struct
from dataclasses import dataclass

T0 = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400
SPAN = 7 * DAY
PEERS = [("10.255.0.1", 65001), ("10.255.0.2", 65002),
         ("10.255.0.3", 65003), ("10.255.0.4", 65004)]
MAX_ENTRIES = 10  # history entries per (prefix, session, path)
RDS = [(100, 1), (100, 2), (200, 10), (300, 7), (65000, 42)]


@dataclass(frozen=True)
class Scale:
    """Data sizes of one generated RIB."""

    v4_prefixes: int = 3000
    v6_prefixes: int = 300
    vpn_prefixes: int = 300
    files: int = 8


def _v4s(a: int) -> str:
    return f"{a >> 24 & 255}.{a >> 16 & 255}.{a >> 8 & 255}.{a & 255}"


def v6s(b: bytes) -> str:
    return str(ipaddress.IPv6Address(b))


class Route:
    """One route key (rib + prefix [+ RD + label]) and its engine sort key."""

    __slots__ = ("rib", "addr", "plen", "rd", "label", "nlri", "sort")

    def __init__(self, rib, addr, plen, rd=None, label=None):
        self.rib, self.addr, self.plen, self.rd, self.label = rib, addr, plen, rd, label
        if rib == "ipv6u":
            self.nlri = f"{v6s(addr)}/{plen}"
        else:
            self.nlri = f"{_v4s(addr)}/{plen}"
        if rd is not None:
            self.nlri = f"{rd[0]}:{rd[1]}:{self.nlri}"
        if label is not None:
            self.nlri = f"L{label}:{self.nlri}"
        # rd_hi, rd_lo, addr_v4, addr_v6 (nulls first), prefixlen, nlri_str
        self.sort = (rd or (-1, -1), addr if rib != "ipv6u" else -1,
                     addr if rib == "ipv6u" else b"", plen, self.nlri)

    def width(self) -> int:
        return 128 if self.rib == "ipv6u" else 32

    def contains(self, addr, plen) -> bool:
        """Is (addr, plen) inside this route's prefix?"""
        if plen < self.plen:
            return False
        return _net(addr, self.plen, self.width()) == self.addr

    def key_len(self) -> int:
        return (24 if self.label is not None else 0) + (64 if self.rd else 0) + self.plen


def _net(addr, plen: int, width: int):
    if width == 128:
        v = int.from_bytes(addr, "big")
        v = v >> (128 - plen) << (128 - plen) if plen else 0
        return v.to_bytes(16, "big")
    return addr >> (32 - plen) << (32 - plen) if plen else 0


class Entry:
    """One history entry: what a session said about a route at ``ts``."""

    __slots__ = ("ts", "active", "aspath", "comms", "med")

    def __init__(self, ts, active, aspath, comms, med):
        self.ts, self.active, self.aspath, self.comms, self.med = ts, active, aspath, comms, med

    @property
    def origin(self):
        return self.aspath[-1] if self.aspath else None


# --- wire encoders (RFC 4271 / 4760 / 4364 / 6396) ---------------------------

def _attr(atype: int, val: bytes, flags: int = 0x40) -> bytes:
    if len(val) > 255:
        return bytes([flags | 0x10, atype]) + struct.pack(">H", len(val)) + val
    return bytes([flags, atype, len(val)]) + val


def _pfx(addr, plen: int, width: int) -> bytes:
    raw = addr if width == 128 else struct.pack(">I", addr)
    return bytes([plen]) + raw[: (plen + 7) // 8]


def _vpn_nlri(route: Route) -> bytes:
    lab = (route.label << 4 | 1).to_bytes(3, "big")
    rd = struct.pack(">HHI", 0, *route.rd)
    body = lab + rd + struct.pack(">I", route.addr)[: (route.plen + 7) // 8]
    return bytes([24 + 64 + route.plen]) + body


def update_body(route: Route, entry: Entry | None, nexthop: int) -> bytes:
    """BGP UPDATE body announcing ``entry`` for ``route`` (None = withdraw)."""
    attrs = b""
    withdrawn = nlri = b""
    if entry is None:
        if route.rib == "ipv4u":
            withdrawn = _pfx(route.addr, route.plen, 32)
        elif route.rib == "ipv6u":
            attrs = _attr(15, struct.pack(">HB", 2, 1) + _pfx(route.addr, route.plen, 128), 0x80)
        else:
            attrs = _attr(15, struct.pack(">HB", 1, 128) + _vpn_nlri(route), 0x80)
    else:
        attrs += _attr(1, b"\x00")
        seg = bytes([2, len(entry.aspath)]) + b"".join(struct.pack(">I", a) for a in entry.aspath)
        attrs += _attr(2, seg)
        if route.rib == "ipv4u":
            attrs += _attr(3, struct.pack(">I", nexthop))
        if entry.med is not None:
            attrs += _attr(4, struct.pack(">I", entry.med), 0x80)
        if entry.comms:
            attrs += _attr(8, b"".join(struct.pack(">I", c) for c in entry.comms), 0xC0)
        if route.rib == "ipv4u":
            nlri = _pfx(route.addr, route.plen, 32)
        elif route.rib == "ipv6u":
            nh = b"\x20\x01\x0d\xb8" + bytes(8) + struct.pack(">I", nexthop)
            mp = struct.pack(">HBB", 2, 1, 16) + nh + b"\x00" + _pfx(route.addr, route.plen, 128)
            attrs += _attr(14, mp, 0x80)
        else:
            nh = bytes(8) + struct.pack(">I", nexthop)
            mp = struct.pack(">HBB", 1, 128, 12) + nh + b"\x00" + _vpn_nlri(route)
            attrs += _attr(14, mp, 0x80)
    return struct.pack(">H", len(withdrawn)) + withdrawn + struct.pack(">H", len(attrs)) + attrs + nlri


def bgp_message(mtype: int, body: bytes = b"") -> bytes:
    return b"\xff" * 16 + struct.pack(">HB", 19 + len(body), mtype) + body


def bgp_open(asn: int, router_id: int, hold: int = 0) -> bytes:
    caps = bytes([2, 6, 65, 4]) + struct.pack(">I", asn)
    body = bytes([4]) + struct.pack(">HHI", asn if asn < 65536 else 23456, hold, router_id)
    return bgp_message(1, body + bytes([len(caps)]) + caps)


def mrt_record(ts: int, peer: int, body: bytes) -> bytes:
    """BGP4MP_MESSAGE_AS4 (type 16, subtype 4) wrapping one UPDATE."""
    addr, asn = PEERS[peer]
    msg = bgp_message(2, body)
    b4 = (struct.pack(">IIHH", asn, 64500, 0, 1)
          + struct.pack(">II", int(ipaddress.IPv4Address(addr)), 0x0A00FF01) + msg)
    return struct.pack(">IHHI", ts, 16, 4, len(b4)) + b4


# --- generation ---------------------------------------------------------------

def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


_V4_LEN_MIX = [(24, 58), (23, 9), (22, 11), (21, 6), (20, 6), (19, 4), (18, 2), (17, 1), (16, 3)]


class Rib:
    """A generated RIB: routes, their per-session history, and the model."""

    def __init__(self, seed: int, scale: Scale = Scale()):
        self.seed, self.scale = seed, scale
        rng = random.Random(seed)
        self.routes: list[Route] = []
        # route -> session -> [Entry] (path_id is always 0)
        self.hist: dict[Route, dict[int, list[Entry]]] = {}
        self._gen_topology(rng)
        self._gen_v4(rng)
        self._gen_v6(rng)
        self._gen_vpn(rng)
        for r in self.routes:
            self.hist[r] = self._gen_history(rng, r)
        self.by_rib: dict[str, list[Route]] = {}
        for r in sorted(self.routes, key=lambda r: r.sort):
            self.by_rib.setdefault(r.rib, []).append(r)
        self.by_nlri = {(r.rib, r.nlri): r for r in self.routes}
        self.by_key = {(r.rib, r.addr, r.plen): r for r in self.routes if r.rd is None}
        self.first_ts = {r: min(es[0].ts for es in self.hist[r].values()) for r in self.routes}
        self._cache: dict = {}
        self.t_min = min(e.ts for h in self.hist.values() for es in h.values() for e in es)
        self.t_max = max(e.ts for h in self.hist.values() for es in h.values() for e in es)

    # topology: tier-1s, transits, and Zipf-weighted origin stubs
    def _gen_topology(self, rng):
        self.tier1 = [174, 1299, 2914, 3257, 3356, 3491, 6453, 6762, 6939, 7018]
        self.transit = rng.sample(range(8000, 40000), 200)
        n_orig = max(50, self.scale.v4_prefixes // 6)
        self.origins = rng.sample(range(40000, 400000), n_orig)
        self.origin_w = _zipf_weights(n_orig)
        self.upstream = {o: rng.choice(self.transit) for o in self.origins}

    def _origin(self, rng) -> int:
        return rng.choices(self.origins, self.origin_w)[0]

    def _path(self, rng, peer: int, origin: int) -> list[int]:
        path = [PEERS[peer][1], self.tier1[(origin + peer) % len(self.tier1)]]
        if rng.random() < 0.7:
            path.append(self.upstream[origin])
        path.append(origin)
        if rng.random() < 0.05:
            path.append(origin)  # origin prepend
        return path

    def _gen_v4(self, rng):
        n = self.scale.v4_prefixes
        used: set[tuple[int, int]] = set()
        self.origin_of: dict[Route, int] = {}
        # covering aggregates (/16) with more-specifics inside
        n_agg = max(2, n // 40)
        firsts = [a for a in range(1, 224) if a not in (10, 127, 100)]
        aggs = []
        while len(aggs) < n_agg:
            a = rng.choice(firsts) << 24 | rng.randrange(256) << 16
            if (a, 16) not in used:
                used.add((a, 16))
                aggs.append(a)
        self.aggregates = []
        for a in aggs:
            r = Route("ipv4u", a, 16)
            self.routes.append(r)
            self.origin_of[r] = self._origin(rng)
            self.aggregates.append(r)
        lens, wts = zip(*_V4_LEN_MIX)
        while len(self.routes) < n:
            plen = rng.choices(lens, wts)[0]
            if rng.random() < 0.6:  # inside an aggregate
                agg = rng.choice(self.aggregates)
                plen = max(plen, 17)
                addr = agg.addr | (rng.randrange(1 << (plen - 16)) << (32 - plen))
                # most more-specifics keep the cover's origin (deaggregation);
                # a few carry a foreign origin (sub-prefix hijack shape)
                origin = self.origin_of[agg] if rng.random() < 0.9 else self._origin(rng)
            else:
                first = rng.choice(firsts)
                addr = _net(first << 24 | rng.randrange(1 << 24), plen, 32)
                origin = self._origin(rng)
            if (addr, plen) in used:
                continue
            used.add((addr, plen))
            r = Route("ipv4u", addr, plen)
            self.routes.append(r)
            self.origin_of[r] = origin
        self.v4_used = used

    def _gen_v6(self, rng):
        used = set()
        while len(used) < self.scale.v6_prefixes:
            plen = rng.choice([32, 36, 40, 44, 48, 48, 48, 48])
            raw = (0x2000 << 112 | rng.randrange(1 << 40) << 72).to_bytes(16, "big")
            addr = _net(raw, plen, 128)
            if (addr, plen) in used:
                continue
            used.add((addr, plen))
            r = Route("ipv6u", addr, plen)
            self.routes.append(r)
            self.origin_of[r] = self._origin(rng)

    def _gen_vpn(self, rng):
        used = set()
        while len(used) < self.scale.vpn_prefixes:
            rd = rng.choice(RDS)
            plen = rng.choice([24, 24, 24, 28, 30, 32])
            addr = _net(10 << 24 | rng.randrange(1 << 24), plen, 32)
            if (rd, addr, plen) in used:
                continue
            used.add((rd, addr, plen))
            r = Route("vpnv4u", addr, plen, rd=rd, label=16 + len(used))
            self.routes.append(r)
            self.origin_of[r] = self._origin(rng)

    def _gen_history(self, rng, r: Route) -> dict[int, list[Entry]]:
        origin = self.origin_of[r]
        moas_peer = rng.randrange(4) if rng.random() < 0.01 else None
        peers = [p for p in range(4) if rng.random() < 0.8] or [rng.randrange(4)]
        if moas_peer is not None and moas_peer not in peers:
            peers.append(moas_peer)
        out = {}
        for p in sorted(peers):
            o = self._origin(rng) if p == moas_peer else origin
            # Zipf churn: most paths never change, a few change often
            n = min(MAX_ENTRIES, rng.choices(range(1, 11), _zipf_weights(10, 1.6))[0])
            times = sorted(rng.sample(range(T0, T0 + SPAN), n))
            times[0] = T0 + (times[0] - T0) % DAY  # first announce on day 0
            times = sorted(set(times))
            ents, active = [], False
            aspath = self._path(rng, p, o)
            comms = sorted({PEERS[p][1] << 16 | rng.randrange(1, 40)
                            for _ in range(rng.randrange(0, 3))})
            med = None
            for i, t in enumerate(times):
                if active and i > 0 and rng.random() < 0.35:
                    active = False  # withdraw: tombstone keeps the last attrs
                elif active:
                    med = (med or 0) + 1 + rng.randrange(50)  # attrs change
                    if rng.random() < 0.3:
                        aspath = self._path(rng, p, o)
                else:
                    active = True
                ents.append(Entry(t, active, list(aspath), list(comms), med))
            out[p] = ents
        return out

    # --- inputs --------------------------------------------------------------

    def n_events(self) -> int:
        return sum(len(es) for h in self.hist.values() for es in h.values())

    def write_mrt(self, out_dir: str) -> list[str]:
        """The archive as ``scale.files`` MRT files (read_mrt parallelises
        per file); records are spread round-robin in time order."""
        recs = []
        for r, h in self.hist.items():
            for p, ents in h.items():
                nh = int(ipaddress.IPv4Address(PEERS[p][0]))
                for e in ents:
                    body = update_body(r, e if e.active else None, nh)
                    recs.append((e.ts, r.sort, p, mrt_record(e.ts, p, body)))
        recs.sort(key=lambda x: x[:3])
        os.makedirs(out_dir, exist_ok=True)
        paths = []
        for i in range(self.scale.files):
            path = os.path.join(out_dir, f"rib-{i:02d}.mrt")
            with open(path, "wb") as f:
                f.write(b"".join(x[3] for x in recs[i:: self.scale.files]))
            paths.append(path)
        return paths

    def roas(self) -> list[tuple[int, int, int, int]]:
        """(net, plen, max_len, asn): a ROA for most aggregates' origins,
        some with a max length too short for their more-specifics."""
        rng = random.Random(self.seed ^ 0x5EED)
        out = []
        for agg in self.aggregates:
            x = rng.random()
            if x < 0.7:
                out.append((agg.addr, 16, 24, self.origin_of[agg]))
            elif x < 0.85:
                out.append((agg.addr, 16, 16, self.origin_of[agg]))
        return out

    def write_roas(self, path: str) -> None:
        doc = {"roas": [{"asn": f"AS{a}", "prefix": f"{_v4s(n)}/{p}", "maxLength": m, "ta": "bench"}
                        for n, p, m, a in self.roas()]}
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, sort_keys=True)

    # --- model: /api/json ----------------------------------------------------

    def _entries(self, r: Route, asof_ms):
        h = self.hist[r]
        if asof_ms is None:
            return h
        out = {}
        for p, es in h.items():
            kept = [e for e in es if e.ts * 1000 <= asof_ms]
            if kept:
                out[p] = kept
        return out

    def _addrs(self, rib):
        if ("addrs", rib) not in self._cache:
            self._cache[("addrs", rib)] = [r.addr for r in self.by_rib.get(rib, [])]
        return self._cache[("addrs", rib)]

    def _first_ms(self, rib):
        if ("first", rib) not in self._cache:
            self._cache[("first", rib)] = sorted(self.first_ts[r] * 1000 for r in self.by_rib.get(rib, []))
        return self._cache[("first", rib)]

    def _attr_index(self):
        """(origin|community, value) -> routes with an entry carrying it."""
        if "attr" not in self._cache:
            idx: dict = {}
            for r, h in self.hist.items():
                for es in h.values():
                    for e in es:
                        if e.aspath:
                            idx.setdefault(("origin", e.aspath[-1]), set()).add(r)
                        for c in e.comms:
                            idx.setdefault(("community", c), set()).add(r)
            self._cache["attr"] = idx
        return self._cache["attr"]

    def _attr_match(self, kind, arg, e: Entry) -> bool:
        if kind == "origin":
            return bool(e.aspath) and e.aspath[-1] == arg
        if kind == "community":
            return arg in e.comms
        raise ValueError(kind)

    def api_json(self, rib: str, kind: str, arg=None, skip=0, limit=1000, asof_ms=None) -> dict:
        """Expected /api/json/<rib> answer for one filter class:
        ``prefix`` (subnet containment, arg=(addr, plen)), ``origin``
        (``as:N$``), ``community`` (``c:hi:lo``), ``rd`` (arg=(hi, lo))
        or ``all`` (no filter)."""
        ordered = self.by_rib.get(rib, [])
        if asof_ms is None:
            length = len(ordered)
        else:
            length = bisect.bisect_right(self._first_ms(rib), asof_ms)

        def visible(r):
            return asof_ms is None or self.first_ts[r] * 1000 <= asof_ms

        def attr_hit(r):
            ents = self._entries(r, asof_ms)
            return any(self._attr_match(kind, arg, e) for es in ents.values() for e in es[-MAX_ENTRIES:])

        if kind == "all":
            matched = [r for r in ordered if visible(r)]
        elif kind == "prefix":
            # subnet containment: every route inside the filter prefix
            addr, plen = arg
            lo = _net(addr, plen, 32)
            keys = self._addrs(rib)
            i = bisect.bisect_left(keys, lo)
            j = bisect.bisect_right(keys, lo + (1 << (32 - plen)) - 1)
            matched = [r for r in ordered[i:j] if r.plen >= plen and visible(r)]
        elif kind == "rd":
            matched = [r for r in ordered if r.rd == arg and visible(r)]
        else:
            cand = self._attr_index().get((kind, arg), set())
            matched = sorted((r for r in cand if r.rib == rib and visible(r) and attr_hit(r)),
                             key=lambda r: r.sort)
        found = length if kind == "all" else len(matched)
        page = matched[skip: skip + limit]
        if found <= skip:
            # the supernet fallback: routes covering the filter prefix,
            # most specific first (attribute filters match as before)
            if kind == "prefix":
                sup = [self.by_key[(rib, _net(addr, p, 32), p)] for p in range(plen + 1)
                       if (rib, _net(addr, p, 32), p) in self.by_key]
                sup = [r for r in sup if visible(r)]
            else:
                sup = matched
            sup.sort(key=lambda r: (-r.key_len(), r.sort))
            page = sup[skip: skip + limit]
        items = {}
        for r in page:
            items[r.nlri] = {
                str(p): {"0": {str(e.ts * 1000): e for e in es[::-1][:MAX_ENTRIES]}}
                for p, es in sorted(self._entries(r, asof_ms).items())
            }
        return {"ribtype": rib, "length": length, "found": found, "skip": skip,
                "limit": limit, "items": items}

    # --- model: reports --------------------------------------------------------

    def _state(self, rib, at_ms=None):
        """[(route, session, newest entry at or before at_ms)]."""
        out = []
        for r in self.by_rib.get(rib, []):
            for p, es in self.hist[r].items():
                if at_ms is not None:
                    es = [e for e in es if e.ts * 1000 <= at_ms]
                if es:
                    out.append((r, p, es[-1]))
        return out

    def moas(self, rib="ipv4u", asof_ms=None, k=1000):
        origins: dict[Route, set] = {}
        for r, _p, e in self._state(rib, asof_ms):
            if e.active and e.origin is not None:
                origins.setdefault(r, set()).add(e.origin)
        rows = sorted((r.nlri, sorted(o)) for r, o in origins.items() if len(o) >= 2)
        return [{"nlri": n, "origins": o, "n_origins": len(o)} for n, o in rows[:k]]

    def rpki(self, asof_ms=None, k=1000):
        by_net: dict[tuple[int, int], list] = {}
        for roa in self.roas():
            by_net.setdefault((roa[0], roa[1]), []).append(roa)
        plens = sorted({p for _n, p in by_net})
        counts = {"Valid": 0, "Invalid": 0, "NotFound": 0}
        invalid = []
        for r, _p, e in self._state("ipv4u", asof_ms):
            if not e.active:
                continue
            cover = [x for p in plens if p <= r.plen for x in by_net.get((_net(r.addr, p, 32), p), [])]
            if not cover:
                v = "NotFound"
            elif any(r.plen <= m and e.origin == a for _n, _pl, m, a in cover):
                v = "Valid"
            else:
                v = "Invalid"
            counts[v] += 1
            if v == "Invalid":
                invalid.append((r.nlri, e.origin))
        invalid.sort(key=lambda x: (x[0], x[1] if x[1] is not None else -1))
        return {"rib": "ipv4u", "valid": counts["Valid"], "invalid": counts["Invalid"],
                "notfound": counts["NotFound"],
                "invalid_routes": [{"nlri": n, "origin_as": o} for n, o in invalid[:k]]}

    def diff(self, t1_ms, t2_ms, rib="ipv4u", k=1000):
        def oset(at):
            m: dict[str, set] = {}
            for r, _p, e in self._state(rib, at):
                m.setdefault(r.nlri, set())
                if e.active and e.origin is not None:
                    m[r.nlri].add(e.origin)
            return {n: ",".join(map(str, sorted(s))) if s else None for n, s in m.items()}

        before, after = oset(t1_ms), oset(t2_ms)
        rows = []
        for n in sorted(set(before) | set(after)):
            b, a = before.get(n), after.get(n)
            if b == a:
                continue
            change = "added" if b is None else "removed" if a is None else "origin_changed"
            rows.append({"nlri": n, "change": change, "origins_before": b, "origins_after": a})
        return rows[:k]

    def flappers(self, rib="ipv4u", k=20):
        rows = []
        for r in self.by_rib.get(rib, []):
            h = self.hist[r]
            n_events = sum(len(es) for es in h.values())
            flips = sum(1 for es in h.values() for a, b in zip(es, es[1:]) if a.active != b.active)
            rows.append((-flips, -n_events, r.nlri))
        rows.sort()
        return [{"nlri": n, "n_events": -e, "n_flips": -f} for f, e, n in rows[:k]]

    def hijacks(self, k=1000):
        pfx = set()
        for r, _p, e in self._state("ipv4u"):
            if e.active and e.origin is not None:
                pfx.add((e.origin, r.addr, r.plen))
        cover_origins: dict[tuple[int, int], set] = {}
        for o, a, pl in pfx:
            cover_origins.setdefault((a, pl), set()).add(o)
        plens = sorted({pl for _o, _a, pl in pfx})
        rows = []
        for o, a, pl in pfx:
            for p in reversed([x for x in plens if x < pl]):
                cov = cover_origins.get((_net(a, p, 32), p))
                if cov is not None:
                    if o not in cov:
                        rows.append((-pl, a, o, p, ",".join(map(str, sorted(cov)))))
                    break
        rows.sort()
        return [{"prefix": f"{_v4s(a)}/{-npl}", "origin_as": o, "cover_plen": p, "cover_origins": c}
                for npl, a, o, p, c in rows[:k]]

    def statistics_ribs(self) -> dict[str, int]:
        return {rib: len(rs) for rib, rs in self.by_rib.items()}

    def statistics_counters(self) -> dict[str, int]:
        ents = [e for h in self.hist.values() for es in h.values() for e in es]
        return {"updates": sum(e.active for e in ents), "withdraws": sum(not e.active for e in ents)}


def entry_matches(e: Entry, got: dict) -> bool:
    """Does an engine history entry ({active, attrs, labels}) carry the
    model entry's state and attributes?"""
    if isinstance(got, str):  # entries are embedded as JSON strings
        got = json.loads(got)
    attrs = got.get("attrs") or {}
    path = [a for seg in attrs.get("aspath") or [] for a in seg.get("asns", [])]
    return (got.get("active") == e.active and path == e.aspath
            and sorted(attrs.get("comms") or []) == e.comms and attrs.get("med") == e.med)


def check_json(expected: dict, got: dict) -> str | None:
    """None when the engine envelope matches the model, else a reason."""
    for key in ("ribtype", "length", "found", "skip", "limit"):
        if got.get(key) != expected[key]:
            return f"{key}: got {got.get(key)!r}, want {expected[key]!r}"
    # the engine emits items in no particular order (the page itself is
    # ordered before it is collected), so compare the route sets
    gi, ei = got.get("items") or {}, expected["items"]
    if sorted(gi) != sorted(ei):
        return f"routes: got {sorted(gi)[:5]}, want {sorted(ei)[:5]}"
    for nlri, sess in ei.items():
        g = gi[nlri]
        if sorted(g) != sorted(sess):
            return f"{nlri} sessions: got {sorted(g)}, want {sorted(sess)}"
        for s, paths in sess.items():
            if sorted(g[s]) != sorted(paths):
                return f"{nlri} session {s} paths differ"
            for pid, ents in paths.items():
                gp = g[s][pid]
                if list(gp) != list(ents):
                    return f"{nlri}/{s}/{pid} timestamps: got {list(gp)}, want {list(ents)}"
                for ts, e in ents.items():
                    if not entry_matches(e, gp[ts]):
                        return f"{nlri}/{s}/{pid}@{ts}: got {gp[ts]}"
    return None


def instants_in(rib: Rib, n: int, seed: int) -> list[int]:
    """``n`` seeded instants (epoch ms) inside the RIB's time range."""
    rng = random.Random(seed)
    pts = sorted(rng.randrange(rib.t_min + 1, rib.t_max) for _ in range(n))
    return [p * 1000 + 999 for p in pts]

