"""Fast checks of the benchmark itself (tiny RIB, about a minute):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import load  # noqa: E402
import rib as ribmod  # noqa: E402
import run  # noqa: E402
import server  # noqa: E402
import traced  # noqa: E402

TINY = ribmod.Scale(v4_prefixes=300, v6_prefixes=30, vpn_prefixes=30, files=2)


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (ribmod.Rib(s, TINY) for s in (7, 7, 8))
    for x, name in ((a, "a"), (b, "b"), (c, "c")):
        x.write_mrt(str(tmp_path / name))
        x.write_roas(str(tmp_path / f"{name}.json"))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert (tmp_path / "a.json").read_bytes() == (tmp_path / "b.json").read_bytes()
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    paths = [[r.path for r in m] for m in run.served_mixes(a, 7)]
    assert paths == [[r.path for r in m] for m in run.served_mixes(b, 7)]
    plans = load.live_plans(7, 3.0, 10.0, 0.2)
    again = load.live_plans(7, 3.0, 10.0, 0.2)
    assert [[(o, r.nlri, e is None) for o, r, e, _p in p] for p in plans] == \
        [[(o, r.nlri, e is None) for o, r, e, _p in p] for p in again]


def test_generated_rib_has_the_shapes_the_mix_relies_on():
    r = ribmod.Rib(3, ribmod.Scale(v4_prefixes=2000, v6_prefixes=50, vpn_prefixes=50, files=2))
    assert r.moas(), "no multi-origin prefixes"
    assert r.hijacks(), "no covering aggregate with a foreign more-specific"
    hist_len = [len(es) for h in r.hist.values() for es in h.values()]
    assert max(hist_len) <= ribmod.MAX_ENTRIES and sum(x > 1 for x in hist_len) > 0
    agg = r.aggregates[0]
    inside = r.api_json("ipv4u", "prefix", (agg.addr, 16))
    assert inside["found"] >= 1 and agg.nlri in inside["items"]
    host = r.api_json("ipv4u", "prefix", (agg.addr + 1, 32))  # no /32 routes: supernet
    assert host["found"] == 0 and agg.nlri in host["items"]


def test_checker_rejects_a_wrong_answer():
    r = ribmod.Rib(5, TINY)
    route = r.by_rib["ipv4u"][0]
    exp = r.api_json("ipv4u", "prefix", (route.addr, route.plen))
    got = json.loads(json.dumps(exp, default=lambda e: {
        "active": e.active, "attrs": {"aspath": [{"kind": "Seq", "asns": e.aspath}],
                                      "comms": e.comms, "med": e.med}}))
    assert ribmod.check_json(exp, got) is None
    got["found"] += 1
    assert ribmod.check_json(exp, got)
    got["found"] -= 1
    sess = next(iter(got["items"][route.nlri].values()))["0"]
    next(iter(sess.values()))["active"] ^= True
    assert ribmod.check_json(exp, got)


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        doc = json.load(f)
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]] == traced.PER_LAYER
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    res = run.result(True, 1, 0, {n: (1.0, u) for n, u in run.END_TO_END})
    assert list(res["metrics"]) == [n for n, _u in run.END_TO_END]
    with pytest.raises(ValueError):
        run.result(True, 1, 0, {"setup_s": (1.0, "s")})


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    """The engine serving a tiny generated RIB, set up as the benchmark does."""
    work = str(tmp_path_factory.mktemp("work"))
    saved_env, cwd = dict(os.environ), os.getcwd()
    os.environ.update(server.hermetic_env(work))
    os.chdir(work)
    try:
        rib, spec = run.served_inputs(11, work, TINY)
        spark = server.spark_session()
        started = server.start_served(spark, spec)
        yield rib, started[1].server_address[1]
        server.stop(spec, started)
        spark.stop()
    finally:
        os.chdir(cwd)
        os.environ.clear()
        os.environ.update(saved_env)


def test_model_and_engine_agree_on_a_tiny_rib(served):
    rib, port = served
    lookups, reports = run.complete_passes(rib, 11)
    mixes = run.served_mixes(rib, 11)
    requests = [run.first_request(rib)] + lookups + reports + [r for m in mixes for r in m[:10]]
    wrong = []
    for req in requests:
        status, body = load.http_get(port, req.path)
        why = f"HTTP {status}" if status != 200 or body is None else req.check(body)
        if why:
            wrong.append(f"{req.cls} {req.path}: {why}")
    assert not wrong, wrong
    assert {r.cls for r in lookups + reports} == set(load.LOOKUP_CLASSES) | set(load.REPORT_CLASSES)
    assert {r.cls for m in mixes for r in m} == set(load.TIMED_LOOKUPS) | set(load.TIMED_REPORTS)


def test_run_refuses_without_the_engine(tmp_path):
    """Copied alone (BENCHMARK.json + perfbench/), the command exits
    non-zero without printing a result."""
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "served", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
