"""Spans and Spark counters for the traced run, recorded only from the
benchmark's side.

Layer functions are wrapped at the module attribute their callers look
them up through (``api.query_rib``, ``query.matched_routes``,
``analytics.moas_conflicts`` ...). Spark is lazy, so a wrapped function
mostly builds a plan; its DataFrame result is tagged with the span name,
and the action that later executes a tagged DataFrame (``collect``,
``count``, ``localCheckpoint``) is recorded as a span of the same name.
An untagged action takes the name of the span it runs in. That
attributes execution to the layer that produced, or consumed, the plan.

Each HTTP request (the handler's ``do_GET``) is a root span; the
wrapper sets a Spark job group, and a collector thread later reads that
group's stage counters from the AppStatusStore (the reader pattern of
``bench._StageMetrics``), so counter reads never add to a request's
latency. Requests whose path starts with ``untraced_prefix`` are served
without any span or job group, so one client can alternate traced and
untraced requests while another is traced throughout.
"""

from __future__ import annotations

import itertools
import json
import queue
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = ("numCompleteTasks", "executorRunTime", "executorCpuTime",
                "shuffleReadBytes", "shuffleWriteBytes", "inputRecords", "jvmGcTime")

# span-name prefix -> the repository module (layer) it stands for
LAYERS = {"api": "api", "filterlang": "filterlang", "query": "operators.query",
          "analytics": "operators.analytics", "rib": "operators.rib",
          "ingest": "operators.ingest", "mrt": "sources.mrt",
          "bgplive": "streaming.bgplive", "feed": "streaming.feed", "spark": "spark"}


def layer_of(span_name: str) -> str:
    return LAYERS.get(span_name.split(".", 1)[0], "other")


class Tracer:
    """In-memory span recorder plus the patches that feed it."""

    def __init__(self, spark):
        self.spark = spark
        self.on = False
        self.untraced_prefix: str | None = None
        self.spans: list[dict] = []
        self.requests: dict[int, dict] = {}
        self.memo_calls = self.memo_misses = 0
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._restore: list[tuple] = []
        self._todo: queue.Queue = queue.Queue()
        self._collector = threading.Thread(target=self._collect_loop, daemon=True)
        self._collector.start()

    # --- spans -----------------------------------------------------------------

    def active(self) -> bool:
        """Tracing is on, and this thread is not serving an untraced request."""
        return self.on and not getattr(self._tls, "skip", False)

    @contextmanager
    def span(self, name: str):
        if not self.active():
            yield None
            return
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        rec = {"id": next(self._ids), "name": name,
               "parent": stack[-1]["id"] if stack else None,
               "req": getattr(self._tls, "req", None), "t0": time.monotonic()}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["t1"] = time.monotonic()
            with self._lock:
                self.spans.append(rec)

    def current(self) -> str:
        stack = getattr(self._tls, "stack", None)
        return stack[-1]["name"] if stack else ""

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper; DataFrame results
        are tagged with ``name``. ``after`` post-processes the result
        inside the span (the traced set-up uses it to materialize)."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name) as rec:
                out = original(*a, **kw)
                if after is not None and tracer.on:
                    out = after(out)
                if rec is not None and isinstance(out, dict) and "items" in out:
                    rec["routes"] = len(out["items"] or {})
            _tag(out, name)
            return out

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, original))

    def wrap_handler(self, api_module) -> None:
        """Make every HTTP request a root span with its own job group."""
        original = api_module._make_handler
        tracer = self

        def make(svc):
            cls = original(svc)
            do_get = cls.do_GET

            def traced_get(handler):
                prefix = tracer.untraced_prefix
                if not tracer.on or prefix and handler.path.startswith(prefix):
                    tracer._tls.skip = True
                    try:
                        return do_get(handler)
                    finally:
                        tracer._tls.skip = False
                req = next(tracer._ids)
                tracer._tls.req = req
                group = f"perfbench-{req}"
                sc = tracer.spark.sparkContext
                sc.setJobGroup(group, handler.path)
                try:
                    with tracer.span("api.handler") as rec:
                        out = do_get(handler)
                    tracer.requests[req] = {"path": handler.path, "t0": rec["t0"], "t1": rec["t1"]}
                    tracer._todo.put((req, group))
                    return out
                finally:
                    tracer._tls.req = None
                    sc.setLocalProperty("spark.jobGroup.id", None)

            cls.do_GET = traced_get
            return cls

        api_module._make_handler = make
        self._restore.append((api_module, "_make_handler", original))

    def wrap_actions(self) -> None:
        """Spans around DataFrame actions, with the planning phases
        (analysis + optimization + planning) of collected and
        checkpointed frames recorded on the span as ``plan_ms``."""
        # the concrete class (pyspark.sql.classic...) overrides the
        # abstract DataFrame's actions
        DataFrame = type(self.spark.range(0))
        tracer = self
        for action in ("collect", "count", "localCheckpoint"):
            original = getattr(DataFrame, action)

            def wrapper(df, *a, _orig=original, _action=action, **kw):
                if not tracer.active():
                    return _orig(df, *a, **kw)
                name = getattr(df, "_pb_tag", None)
                if name is None:
                    parent = tracer.current()
                    # query_rib's own counts are the O2/O3 found/length step
                    name = "query.found" if _action == "count" and parent == "query.query_rib" \
                        else parent or f"spark.{_action}"
                with tracer.span(name) as rec:
                    out = _orig(df, *a, **kw)
                if rec is not None and _action != "count":
                    rec["plan_ms"] = _plan_ms(df)
                return out

            setattr(DataFrame, action, wrapper)
            self._restore.append((DataFrame, action, original))

    def wrap_memo(self, cls) -> None:
        """Count analytics-memo lookups and the ones that had to build."""
        original = cls._memo_report
        tracer = self

        def wrapper(svc, name, rib, build):
            def counted():
                if tracer.active():
                    with tracer._lock:
                        tracer.memo_misses += 1
                return build()

            if tracer.active():
                with tracer._lock:
                    tracer.memo_calls += 1
            return original(svc, name, rib, counted)

        cls._memo_report = wrapper
        self._restore.append((cls, "_memo_report", original))

    def wrap_spool(self, listener_cls, sink: list) -> None:
        """Record (time, nlri list) of every spool file a listener writes."""
        original = listener_cls._write_parquet
        tracer = self

        def wrapper(lsn, rows):
            with tracer.span("bgplive.spool"):
                original(lsn, rows)
            sink.append((time.monotonic(), [r.get("nlri_str") for r in rows]))

        listener_cls._write_parquet = wrapper
        self._restore.append((listener_cls, "_write_parquet", original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._restore):
            setattr(owner, attr, original)
        self._restore.clear()

    # --- Spark counters ----------------------------------------------------------

    def _collect_loop(self) -> None:
        while True:
            item = self._todo.get()
            if item is None:
                return
            req, group = item
            try:
                self.requests[req].update(self._group_counters(group))
            except Exception as e:  # noqa: BLE001 — a failed read must not stop the run
                self.requests[req]["counter_error"] = repr(e)
            finally:
                self._todo.task_done()

    def _group_counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = len(jobs)
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage skipped or evicted
                    continue
                for f in STAGE_FIELDS:
                    out[f] += int(getattr(sd, f)())
        return out

    def drain(self) -> None:
        """Wait until every finished request's counters are read."""
        self._todo.join()

    def close(self) -> None:
        self.restore()
        self._todo.put(None)
        self._collector.join(timeout=30)

    # --- summaries ---------------------------------------------------------------

    def _self_ms(self, spans: list[dict]) -> dict[int, float]:
        """Span id -> self time (ms): its duration minus its children's
        (children run on the span's thread, one after another)."""
        child: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["t1"] - s["t0"]) * 1000
        return {s["id"]: (s["t1"] - s["t0"]) * 1000 - child.get(s["id"], 0.0) for s in spans}

    def by_request(self, since: float) -> dict[int, dict[str, float]]:
        """Per request started after ``since``: span name -> summed self
        time (ms), plus ``spark.plan`` (planning ms inside actions) and
        ``routes`` (routes returned)."""
        with self._lock:
            spans = [s for s in self.spans if s["req"] is not None and s["t0"] >= since]
        own = self._self_ms(spans)
        out: dict[int, dict[str, float]] = {}
        for s in spans:
            d = out.setdefault(s["req"], {})
            d[s["name"]] = d.get(s["name"], 0.0) + own[s["id"]]
            for k in ("plan_ms", "routes"):
                if k in s:
                    key = "spark.plan" if k == "plan_ms" else k
                    d[key] = d.get(key, 0.0) + s[k]
        return out

    def outside_requests(self, since: float, until: float) -> list[tuple[str, float, float]]:
        """(name, self ms, duration ms) of spans outside any request."""
        with self._lock:
            spans = [s for s in self.spans
                     if s["req"] is None and since <= s["t0"] and s["t1"] <= until]
        own = self._self_ms(spans)
        return [(s["name"], own[s["id"]], (s["t1"] - s["t0"]) * 1000) for s in spans]

    def write(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
            for req, r in sorted(self.requests.items()):
                f.write(json.dumps({"request": req, **r}) + "\n")


def _tag(out, name: str) -> None:
    from pyspark.sql import DataFrame

    for x in out if isinstance(out, tuple) else (out,):
        if isinstance(x, DataFrame):
            x._pb_tag = name


def _plan_ms(df) -> float:
    """Analysis + optimization + planning ms of the frame's execution."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        it = phases.keySet().iterator()
        while it.hasNext():
            total += phases.get(it.next()).get().durationMs()
        return float(total)
    except Exception:  # noqa: BLE001 — no tracker for this plan
        return 0.0
