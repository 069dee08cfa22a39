"""Malformed HTTP input gets a 400 naming the bad param, before any
engine work; an engine exception still gets a 500 JSON body."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from bgpexplorer_spark.api import BgpExplorerService, serve


class _NoEngine:
    """History stand-in that fails any use: a 400 must come from the
    dispatcher's validation, not from a query that ran."""

    def __getattr__(self, name):
        raise AssertionError(f"engine touched: history.{name}")


A = "/api/analytics/"
# (request, the param the 400 must name)
BAD = [
    (A + "moas?k=abc", "k"),
    (A + "moas?k=-1", "k"),
    (A + "moas?asof=2024-13-01", "asof"),
    (A + "moas?rib=ipv5u", "rib"),
    (A + "rpki?skip=x", "skip"),
    (A + "rpki?asof=yesterday", "asof"),
    (A + "rpki?rib=bogus", "rib"),
    (A + "diff?t1=x&t2=1", "t1"),
    (A + "diff?t1=1&t2=never", "t2"),
    (A + "diff?rib=bogus", "rib"),
    (A + "damping?half_life=fast", "half_life"),
    (A + "damping?half_life=-900", "half_life"),
    (A + "damping?half_life=0", "half_life"),
    (A + "damping?at=noon", "at"),
    (A + "bogons?skip=-3", "skip"),
    (A + "bogons?rib=bogus", "rib"),
    (A + "sessions?k=many", "k"),
    (A + "ages?asof=x", "asof"),
    (A + "ages?k=-5", "k"),
    (A + "ages?rib=bogus", "rib"),
    (A + "agreement?rib=bogus", "rib"),
    (A + "relationships?k=1e3", "k"),
    (A + "martians?skip=two", "skip"),
    (A + "upstreams?rib=bogus", "rib"),
    (A + "deagg?k=-1", "k"),
    (A + "leaks?skip=-1", "skip"),
    (A + "cones?k=x", "k"),
    (A + "inflation?rib=IPV4U", "rib"),
    (A + "uptime?k=1.5", "k"),
    (A + "hijacks?skip=x", "skip"),
    (A + "convergence?gap=soon", "gap"),
    (A + "convergence?gap=-300", "gap"),
    (A + "flappers?k=-20", "k"),
    (A + "flappers?rib=bogus", "rib"),
    ("/api/json/ipv4u?skip=-1", "skip"),
    ("/api/json/ipv4u?limit=ten", "limit"),
    ("/api/json/ipv4u?limit=-1", "limit"),
    ("/api/json/ipv4u?maxdepth=1.5", "maxdepth"),
    ("/api/json/ipv4u?maxdepth=-2", "maxdepth"),
    ("/api/json/ipv4u?onlyactive=maybe", "onlyactive"),
    ("/api/json/ipv4u?asof=yesterday", "asof"),
    ("/api/json/ipv4u?asof=99999999999999999999", "asof"),
    ("/api/json/ipv4u?changed_after=x", "changed_after"),
    ("/api/json/ipv4u?changed_before=2024-01-01T25:00", "changed_before"),
    ("/api/whois", "query"),
    ("/api/whois/as", "query"),
    ("/api/dns", "target"),
]


@pytest.fixture(scope="module")
def served():
    svc = BgpExplorerService(_NoEngine())
    httpd = serve(svc, port=0)
    yield svc, f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def _get(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


@pytest.mark.parametrize("path,param", BAD, ids=[p for p, _ in BAD])
def test_bad_param_is_400(served, path, param):
    code, body = _get(served[1] + path)
    assert code == 400, body
    assert json.loads(body)["error"].startswith(param + ": ")


def test_every_typed_route_has_a_bad_case():
    from bgpexplorer_spark.api import ROUTES

    covered = {p.split("?")[0].removeprefix("/api/") for p, _ in BAD}
    covered |= {p.rsplit("/", 1)[0] for p in covered}
    typed = {name for name, r in ROUTES.items() if r.params or r.required}
    assert typed <= covered, typed - covered


def test_valid_params_reach_the_method_typed(served, monkeypatch):
    svc, base = served
    monkeypatch.setattr(svc, "api_convergence", lambda **kw: kw, raising=False)
    code, body = _get(base + A + "convergence?gap=60&k=5&rib=ipv6u&x=1")
    assert code == 200
    # absent params are not passed: the method's defaults apply
    assert json.loads(body) == {"rib": "ipv6u", "k": 5, "gap_sec": 60}


def test_engine_exception_is_500_json(served, monkeypatch):
    svc, base = served

    def boom():
        raise RuntimeError("engine failed")

    monkeypatch.setattr(svc, "api_statistics", boom, raising=False)
    code, body = _get(base + "/api/statistics")
    assert code == 500
    assert json.loads(body) == {"error": "engine failed"}
