"""The traced run (``--trace 1``): the workload repeated inside the
benchmark's process with spans and Spark counters on, reduced to the
per-layer metrics of BENCHMARK.json.

- ``served``: one complete pass over every lookup class, each request
  sent twice back to back, once untraced and once traced (the order
  alternates), beside one traced pass over every report.
- ``live``: one traced live pass, the capacity burst, then exact lookups
  in untraced/traced pairs on the settled table.

The untraced halves give the ``lookup.<class>_p50_ms``; the pairs give
``trace.overhead_ratio``, the cost of tracing on identical work. The
server, its Spark session and the load generator share one process
here, so the traced numbers are for attribution, not for comparison with
the untraced end-to-end run. Spans are written to
``.perfbench/traces/<workload>-seed<seed>.jsonl`` when the run ends.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import threading
import time

import load
import run as bench
import server
from spans import Tracer, layer_of

# (name, unit, better) of every per-layer metric, in BENCHMARK.json order.
# A traced run prints all of them; a layer the workload does not reach
# reports 0.
PER_LAYER = [
    ("filterlang.parse_ms", "ms", "lower"),
    ("filterlang.compile_ms", "ms", "lower"),
    ("query.match_ms", "ms", "lower"),
    ("query.found_ms", "ms", "lower"),
    ("query.page_ms", "ms", "lower"),
    ("query.history_ms", "ms", "lower"),
    ("query.nested_json_ms", "ms", "lower"),
    ("query.jobs", "count", "lower"),
    ("query.tasks", "count", "lower"),
    ("query.rows_read_per_route", "count", "lower"),
    ("query.shuffle_bytes", "B", "lower"),
    ("query.exec_cpu_ms", "ms", "lower"),
    ("spark.plan_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.peak_rss_mb", "MB", "lower"),
    ("lookup.exact_p50_ms", "ms", "lower"),
    ("lookup.subnet_p50_ms", "ms", "lower"),
    ("lookup.supernet_p50_ms", "ms", "lower"),
    ("lookup.attr_p50_ms", "ms", "lower"),
    ("lookup.asof_p50_ms", "ms", "lower"),
    ("lookup.browse_p50_ms", "ms", "lower"),
    ("lookup.rd_p50_ms", "ms", "lower"),
    ("lookup.miss_p50_ms", "ms", "lower"),
    ("api.handler_ms", "ms", "lower"),
    ("api.json_encode_ms", "ms", "lower"),
    ("api.memo_hit_ratio", "ratio", "higher"),
    ("api.state_bump_ms", "ms", "lower"),
    ("analytics.diff_ms", "ms", "lower"),
    ("analytics.moas_ms", "ms", "lower"),
    ("analytics.rpki_ms", "ms", "lower"),
    ("analytics.flappers_ms", "ms", "lower"),
    ("analytics.hijacks_ms", "ms", "lower"),
    ("analytics.relationships_ms", "ms", "lower"),
    ("analytics.statistics_ms", "ms", "lower"),
    ("analytics.exec_cpu_ms", "ms", "lower"),
    ("analytics.shuffle_bytes", "B", "lower"),
    ("mrt.decode_ms", "ms", "lower"),
    ("ingest.build_history_ms", "ms", "lower"),
    ("rib.write_snapshot_ms", "ms", "lower"),
    ("rib.route_counts_ms", "ms", "lower"),
    ("rib.table_files", "count", "lower"),
    ("rib.table_files_added", "count", "lower"),
    ("bgplive.spool_lag_ms", "ms", "lower"),
    ("bgplive.rows_per_file", "count", "higher"),
    ("feed.batches", "count", "lower"),
    ("feed.batch_ms", "ms", "lower"),
    ("feed.rows_per_batch", "count", "higher"),
    ("live.freshness_p90_ms", "ms", "lower"),
    ("live.read_p50_ms", "ms", "lower"),
    ("live.ingest_updates_per_s", "1/s", "higher"),
    ("live.send_lateness_ms", "ms", "lower"),
    ("trace.request_ms", "ms", "lower"),
    ("trace.unaccounted_ms", "ms", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]

# untraced/traced read pairs that measure the tracing overhead in ``live``
LIVE_PAIRS = 6

ANALYTICS = ("diff", "moas", "rpki", "flappers", "hijacks", "relationships", "statistics")


def install(tracer: Tracer, eager_setup: bool, spool_sink: list) -> None:
    """Wrap every measured layer function at the attribute its caller
    resolves it through."""
    import types

    from bgpexplorer_spark import api
    from bgpexplorer_spark.operators import analytics, ingest, query, rib
    from bgpexplorer_spark.sources import mrt
    from bgpexplorer_spark.streaming import livebase

    def eager(df):
        return df.localCheckpoint(eager=True)

    after = eager if eager_setup else None
    tracer.wrap(mrt, "read_mrt", "mrt.decode", after)
    tracer.wrap(mrt, "mrt_peers", "mrt.decode", after)
    tracer.wrap(ingest, "build_history", "ingest.build_history", after)
    tracer.wrap(rib, "write_snapshot", "rib.write_snapshot")
    tracer.wrap(rib, "route_counts", "rib.route_counts")
    tracer.wrap(rib, "current_state", "rib.current_state")
    tracer.wrap(api, "statistics", "rib.statistics")
    tracer.wrap(query, "parse_filter", "filterlang.parse")
    tracer.wrap(query, "filter_to_column", "filterlang.compile")
    tracer.wrap(query, "pushdown_prefilter", "filterlang.compile")
    tracer.wrap(query, "matched_routes", "query.match")
    tracer.wrap(query, "page_routes", "query.page")
    tracer.wrap(query, "emitted_history", "query.history")
    tracer.wrap(api, "query_rib", "query.query_rib")
    tracer.wrap(api, "to_nested_json", "query.nested_json")
    for fn in ("rib_asof", "rib_diff", "moas_conflicts", "rpki_validate", "top_flappers",
               "subprefix_hijacks", "as_relationships"):
        tracer.wrap(analytics, fn, f"analytics.{fn}")
    svc = api.BgpExplorerService
    for m in ("api_json", "api_diff", "api_moas", "api_rpki", "api_flappers",
              "api_subprefix_hijacks", "api_as_relationships", "api_statistics"):
        tracer.wrap(svc, m, f"api.{m}")
    tracer.wrap(svc, "bump_state_version", "api.state_bump")
    tracer.wrap_memo(svc)
    # the handler encodes responses through api.json.dumps
    proxy = types.SimpleNamespace(dumps=api.json.dumps, loads=api.json.loads)
    tracer.wrap(proxy, "dumps", "api.json_encode")
    tracer._restore.append((api, "json", api.json))
    api.json = proxy
    tracer.wrap_handler(api)
    tracer.wrap_actions()
    tracer.wrap_spool(livebase.LiveListenerBase, spool_sink)


_med = bench.median


def request_metrics(tracer: Tracer, since: float, client: list[load.Sample]) -> tuple[dict, dict]:
    """Per-layer metrics of the requests served after ``since``, and the
    layer accounting of the lookups (mean ms per layer)."""
    tracer.drain()
    own = tracer.by_request(since)
    reqs = {r: v for r, v in tracer.requests.items() if v["t0"] >= since and r in own}
    lookups = [r for r, v in reqs.items() if v["path"].startswith("/api/json")]
    reports = [r for r, v in reqs.items() if not v["path"].startswith("/api/json")]

    def self_ms(req_ids, *names):
        return _med(sum(own[r].get(n, 0.0) for n in names) for r in req_ids)

    def counter(req_ids, fn):
        return _med(fn(tracer.requests[r]) for r in req_ids if "jobs" in tracer.requests[r])

    # client latency minus the server's root span: socket, HTTP parsing and
    # thread start-up on both sides, which no span covers
    unacc = []  # (request, client ms, unaccounted ms)
    for s in client:
        for r in lookups:
            v = reqs[r]
            if v["path"] == s.path and s.t0 <= v["t0"] and v["t1"] <= s.t1:
                unacc.append((r, s.ms, s.ms - (v["t1"] - v["t0"]) * 1000))
                break
    m = {
        "filterlang.parse_ms": self_ms(lookups, "filterlang.parse"),
        "filterlang.compile_ms": self_ms(lookups, "filterlang.compile"),
        "query.match_ms": self_ms(lookups, "query.match"),
        "query.found_ms": self_ms(lookups, "query.found"),
        "query.page_ms": self_ms(lookups, "query.page"),
        "query.history_ms": self_ms(lookups, "query.history"),
        "query.nested_json_ms": self_ms(lookups, "query.nested_json"),
        "query.jobs": counter(lookups, lambda c: c["jobs"]),
        "query.tasks": counter(lookups, lambda c: c["numCompleteTasks"]),
        "query.rows_read_per_route": _med(
            tracer.requests[r]["inputRecords"] / max(1.0, own[r].get("routes", 0.0))
            for r in lookups if "jobs" in tracer.requests[r]),
        "query.shuffle_bytes": counter(lookups, lambda c: c["shuffleReadBytes"] + c["shuffleWriteBytes"]),
        "query.exec_cpu_ms": counter(lookups, lambda c: c["executorCpuTime"] / 1e6),
        "spark.plan_ms": self_ms(lookups, "spark.plan"),
        "spark.gc_ms": counter(list(reqs), lambda c: c["jvmGcTime"]),
        "api.handler_ms": self_ms(list(reqs), "api.handler"),
        "api.json_encode_ms": self_ms(list(reqs), "api.json_encode"),
        "analytics.exec_cpu_ms": counter(reports, lambda c: c["executorCpuTime"] / 1e6),
        "analytics.shuffle_bytes": counter(reports, lambda c: c["shuffleReadBytes"] + c["shuffleWriteBytes"]),
        "trace.request_ms": _med(s.ms for s in client if s.cls in load.LOOKUP_CLASSES or s.cls == "read"),
        "trace.unaccounted_ms": _med(u for _r, _c, u in unacc),
    }
    for name in ANALYTICS:
        xs = [(v["t1"] - v["t0"]) * 1000 for v in reqs.values()
              if v["path"].split("?")[0].endswith("/" + name)]
        if reports and not xs:
            raise load.Failure(f"no traced answer of report {name}")
        m[f"analytics.{name}_ms"] = _med(xs)
    m["api.memo_hit_ratio"] = 1.0 - tracer.memo_misses / tracer.memo_calls if tracer.memo_calls else 0.0
    # where a lookup's time goes: mean self ms per layer, plus the rest
    layers: dict[str, float] = {}
    for r, _c, _u in unacc:
        for name, ms in own[r].items():
            if name not in ("spark.plan", "routes"):
                layers[layer_of(name)] = layers.get(layer_of(name), 0.0) + ms / len(unacc)
    if unacc:
        layers["unaccounted"] = sum(u for _r, _c, u in unacc) / len(unacc)
        layers["client"] = sum(c for _r, c, _u in unacc) / len(unacc)
    return m, {k: round(v, 1) for k, v in layers.items()}


def setup_metrics(tracer: Tracer, t0: float, t1: float) -> dict:
    by: dict[str, float] = {}
    for name, own_ms, _dur in tracer.outside_requests(t0, t1):
        by[name] = by.get(name, 0.0) + own_ms
    return {"mrt.decode_ms": by.get("mrt.decode", 0.0),
            "ingest.build_history_ms": by.get("ingest.build_history", 0.0),
            "rib.write_snapshot_ms": by.get("rib.write_snapshot", 0.0),
            "rib.route_counts_ms": by.get("rib.route_counts", 0.0)}


def class_p50(samples: list[load.Sample]) -> dict:
    out = {}
    for c in load.LOOKUP_CLASSES:
        xs = [s.ms for s in samples if s.ok and s.cls == c]
        if not xs:
            raise load.Failure(f"no untraced answer of lookup class {c}")
        out[f"lookup.{c}_p50_ms"] = _med(xs)
    return out


def paired(tracer: Tracer, port: int, requests: list[load.Request]) -> tuple[list, list]:
    """Send each lookup twice, back to back: once untraced and once
    traced, the order alternating, so both halves do the same work on
    the same table. Returns (untraced samples, traced samples)."""
    plain: list[load.Sample] = []
    traced: list[load.Sample] = []
    for i, req in enumerate(requests):
        for on in ((False, True) if i % 2 == 0 else (True, False)):
            tracer.untraced_prefix = None if on else "/api/json"
            (traced if on else plain).append(load.fetch(port, req))
    tracer.untraced_prefix = None
    return plain, traced


def overhead(plain: list[load.Sample], traced: list[load.Sample]) -> float:
    """Mean traced latency over mean untraced latency of the same requests."""
    return bench.mean(s.ms for s in traced) / bench.mean(s.ms for s in plain)


def traced_served(spark, tracer: Tracer, seed: int, seconds: float, work: str):
    rib, spec = bench.served_inputs(seed, work)
    lookups, reports = bench.complete_passes(rib, seed)
    first = bench.first_request(rib)
    install(tracer, eager_setup=True, spool_sink=[])
    tracer.on = True
    t0 = time.monotonic()
    started = server.start_served(spark, spec)
    port = started[1].server_address[1]
    status, body = load.http_get(port, first.path)
    t_setup = time.monotonic()
    tracer.on = False
    try:
        wrong = [] if status == 200 and body and first.check(body) is None else ["first request"]
        warm = load.warm_up(port, [lookups, reports])
        tracer.on = True
        t_b = time.monotonic()
        answered: list[load.Sample] = []
        rep = threading.Thread(target=load.closed_loop,
                               args=(port, reports, float("inf"), answered, len(reports)))
        rep.start()
        plain, traced = paired(tracer, port, lookups)
        rep.join()
        tracer.on = False
        m, layers = request_metrics(tracer, t_b, traced)
    finally:
        server.stop(spec, started)
    m.update(setup_metrics(tracer, t0, t_setup))
    m.update(class_p50(plain))
    _bytes, files = bench.dir_bytes(spec["table"])
    m["rib.table_files"] = files
    m["trace.overhead_ratio"] = overhead(plain, traced)
    samples = warm + plain + traced + answered
    wrong += [s.why for s in samples if not s.ok]
    detail = {"setup_traced_s": t_setup - t0, "lookup_layer_mean_ms": layers,
              "mean_untraced_ms": bench.mean(s.ms for s in plain),
              "mean_traced_ms": bench.mean(s.ms for s in traced),
              "requests_traced": len(traced) + len(answered), "wrong": wrong[:5]}
    return m, detail, wrong, len(samples) + 1


def _progress(query, since_wall: float) -> list[dict]:
    out = []
    for p in query.recentProgress:
        ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        if ts >= since_wall and p.get("numInputRows", 0) > 0:
            out.append(p)
    return out


def traced_live(spark, tracer: Tracer, seed: int, seconds: float, work: str):
    spec = {"workload": "live", "work": work}
    spool: list = []
    install(tracer, eager_setup=False, spool_sink=spool)
    tracer.on = True
    t0 = time.monotonic()
    daemon = server.start_live(spark, spec)
    port = daemon.http_port
    status, body = load.http_get(port, "/api/json/ipv4u?filter=100.64.0.0/12")
    t_setup = time.monotonic()
    tracer.on = False
    sessions = []
    try:
        if status != 200 or body is None:
            raise load.Failure(f"first request: HTTP {status}")
        sessions = [load.BgpSession(daemon.listeners[0].port, i) for i in range(2)]
        bench.live_warmup(sessions, port)
        lr = load.LiveRun(port)
        files_b0 = bench.dir_bytes(daemon.table_dir)[1]
        tracer.on = True
        t_b, wall_b = time.monotonic(), time.time()
        traced = bench.live_pass(lr, sessions, seed, seconds, 0)
        t_b1 = time.monotonic()
        tracer.on = False
        files_b1 = bench.dir_bytes(daemon.table_dir)[1]
        progress = _progress(daemon.query, wall_b)
        rate, burst_ok = load.announce_and_wait(sessions[1], port, load.BURST_BASE, bench.LIVE_BURST, 90.0)
        m, layers = request_metrics(tracer, t_b, traced["reads"])
        # the tracing overhead, on reads of a table that no longer changes
        rng = random.Random(seed ^ 0x0E4D)
        reads = [lr.read_request(load.Route("ipv4u", load.BG_BASE[rng.randrange(2)]
                                            + (rng.randrange(load.BG_POOL) << 8), 24))
                 for _ in range(LIVE_PAIRS)]
        tracer.on = True
        plain, pair_traced = paired(tracer, port, reads)
        tracer.on = False
    finally:
        for s in sessions:
            s.close()
        server.stop(spec, daemon)
    probes = range(traced["n_probes"])
    lags, rows = [], []
    for t, nlris in spool:
        if t_b <= t <= t_b1:
            rows.append(len(nlris))
    first_spool: dict[str, float] = {}
    for t, nlris in spool:
        for n in nlris:
            first_spool.setdefault(n, t)
    for i in probes:
        n = load.probe_route(i).nlri
        if n in first_spool and i in lr.probe_due:
            lags.append((first_spool[n] - lr.probe_due[i]) * 1000)
    bumps = [dur for name, _own, dur in tracer.outside_requests(t_b, t_b1) if name == "api.state_bump"]
    m.update({
        "bgplive.spool_lag_ms": _med(lags),
        "bgplive.rows_per_file": _med(rows),
        "feed.batches": len(progress),
        "feed.batch_ms": _med(p["durationMs"].get("triggerExecution", 0) for p in progress),
        "feed.rows_per_batch": _med(p["numInputRows"] for p in progress),
        "api.state_bump_ms": _med(bumps),
        "rib.table_files": files_b1,
        "rib.table_files_added": files_b1 - files_b0,
        "live.freshness_p90_ms": bench.tail(traced["fresh"])[1],
        "live.read_p50_ms": _med(s.ms for s in traced["reads"] if s.ok),
        "live.ingest_updates_per_s": rate,
        "live.send_lateness_ms": max(lr.lateness, default=0.0) * 1000,
        "trace.overhead_ratio": overhead(plain, pair_traced),
    })
    pairs = plain + pair_traced
    wrong = traced["bad"] + [s.why for s in traced["reads"] + pairs if not s.ok]
    if not burst_ok:
        wrong.append("burst not fully visible")
    attempted = len(traced["reads"]) + traced["n_probes"] + len(pairs) + 1
    detail = {"setup_traced_s": t_setup - t0, "read_layer_mean_ms": layers,
              "freshness_p50_ms": _med(traced["fresh"]),
              "pair_mean_untraced_ms": bench.mean(s.ms for s in plain),
              "pair_mean_traced_ms": bench.mean(s.ms for s in pair_traced), "wrong": wrong[:5]}
    return m, detail, wrong, attempted


def stop_jvm(spark) -> None:
    """Stop Spark, then its JVM (and the JVM's Python workers), and wait
    until they have ended."""
    family = bench.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while family and time.monotonic() < deadline:
        family = [p for p in family if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def run(workload: str, seed: int, seconds: float, work: str) -> tuple[dict, dict]:
    env = server.hermetic_env(work)
    saved = {k: os.environ.get(k) for k in env}
    cwd = os.getcwd()
    os.environ.update(env)
    os.chdir(work)  # spark-warehouse/ and the like land in the work dir
    try:
        spark = server.spark_session()
        tracer = Tracer(spark)
        try:
            fn = traced_served if workload == "served" else traced_live
            m, detail, wrong, attempted = fn(spark, tracer, seed, seconds, work)
            # this process, its JVM and Python workers (the load generator
            # shares the process here)
            m["spark.peak_rss_mb"] = bench.tree_peak_rss_mb(os.getpid())
        finally:
            out = os.path.join(bench.ROOT, ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"{workload}-seed{seed}.jsonl"))
            tracer.close()
            stop_jvm(spark)
    finally:
        os.chdir(cwd)
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    metrics = {name: (float(m.get(name, 0.0)), unit) for name, unit, _b in PER_LAYER}
    return bench.result(not wrong, attempted, len(wrong), metrics,
                        [(n, u) for n, u, _b in PER_LAYER]), detail
