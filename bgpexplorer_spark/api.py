"""HTTP JSON serving layer (SURVEY.md §2.1 S6-S8, §2.5 O7-O8, §3.1).

The reference serves ``/api/json/<rib>``, ``/api/statistics``,
``/api/sessions``, ``/api/state``, ``/api/ping``, ``/api/whois``,
``/api/dns`` plus a static UI (src/main.rs:137-175,
src/bgpsvc.rs:457-491). Here the serving layer is a thin stdlib
``http.server`` over the Spark engine — queries run through the same
operators as the programmatic API; the response envelope matches
src/bgpsvc.rs:690-706 ``{ribtype, length, skip, limit, maxdepth,
onlyactive, found, items}``. ``ROUTES`` maps each path to a
:class:`BgpExplorerService` method and its typed query params; one
dispatcher answers 400 on a bad param and 500 JSON on an engine error.

The reference's RwLock + 120 s read-timeout + HTTP 408 path (U11) has no
analog: DataFrames over immutable snapshots need no reader lock.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import NamedTuple
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bgpexplorer_spark.functions.timeutil import parse_ts_param
from bgpexplorer_spark.operators.query import QueryParams, query_rib, to_nested_json
from bgpexplorer_spark.operators.rib import statistics
from bgpexplorer_spark.schemas import RIB_NAMES

class BgpExplorerService:
    """Programmatic facade (what the HTTP layer and tests call).

    ``route_counts`` — maintained per-rib route counts (O3 ``length``
    served O(1) like the reference's map size, src/bgpsvc.rs:677). Build
    from a snapshot with :meth:`from_snapshot`; without counts they are
    computed once on first use."""

    def __init__(
        self,
        history: DataFrame,
        sessions: DataFrame | None = None,
        route_counts: dict[str, int] | None = None,
        ws_apply_filter: bool = False,
        roas: DataFrame | None = None,
        roas_v6: DataFrame | None = None,
        state_changes: DataFrame | None = None,
        svc_config=None,
        asof_history=None,
    ):
        from bgpexplorer_spark.streaming.wsfeed import LiveFeed

        self.history = history
        # serving-layer batch view for time-travel requests: a callable
        # returning the MATERIALIZED history (the daemon's maintained
        # parquet table / the snapshot keeper's CURRENT version, WITH its
        # ts_date partition column so the as-of cutoff prunes whole date
        # partitions) or None to fall back to the live frame. Staleness
        # contract: the view answers from the last persisted state —
        # rows ingested after that save are not visible through it, so
        # wire it only where the table is maintained continuously (the
        # daemon refreshes it per ingest micro-batch).
        self.asof_history = asof_history
        self.sessions = sessions
        # RFC 6811 ROA tables for /api/analytics/rpki: v4 (net, plen,
        # max_len, asn) and the BINARY(16)-net v6 form (rib=ipv6u)
        self.roas = roas
        self.roas_v6 = roas_v6
        # FSM transition log (read_mrt_state_changes) for /api/analytics/sessions
        self.state_changes = state_changes
        self.route_counts = dict(route_counts) if route_counts else None
        # zero-arg callable returning the current history DataFrame (the
        # live daemon sets it); bump_state_version refreshes through it
        self.history_provider = None
        self.state = "Established"  # O8 (src/bgpsvc.rs:429-435)
        # S7 live feed: publish micro-batches via self.feed.publish_batch
        # (e.g. from run_ingest's foreachBatch); ws_apply_filter=True turns
        # on the superset that honors subscriber filters
        self.feed = LiveFeed()
        self.ws_apply_filter = ws_apply_filter
        # whois deployment knobs (src/config.rs:338-342): registry→server
        # map (whoisjsonconfig) + pinned resolvers (whoisdns) + timeout
        self.svc_config = svc_config
        # per-state memo for the reports that localCheckpoint a distinct
        # set per request (relationships / deagg / hijacks), so repeated
        # polls reuse it. Keyed by (report, rib, state_version):
        # bump_state_version() invalidates after ingest, like
        # route_counts, and a TTL (analytics_memo_ttl seconds; 0
        # disables) bounds staleness where live ingest is not wired to
        # run_ingest(service=...). Memoized frames are report-sized.
        self._state_version = 0
        self.analytics_memo_ttl = 60.0
        self._analytics_memo: dict[tuple, tuple[DataFrame, float]] = {}
        # ThreadingHTTPServer serves requests from many threads and the
        # ingest sink bumps the version from the foreachBatch thread:
        # _memo_lock guards the memo dicts, _memo_building holds one
        # per-key build lock so concurrent first requests for the SAME
        # report build it once (different reports still build in
        # parallel)
        self._memo_lock = threading.Lock()
        self._memo_building: dict[tuple, threading.Lock] = {}
        # whois/dns wire transports; None → the socket/UDP defaults
        self.whois_transport = None
        self.dns_transport = None
        self._ttl_cache: dict[str, tuple[float, str]] = {}
        self.whois_server_map = None
        if svc_config is not None and getattr(svc_config, "whoisjsonconfig", None):
            from bgpexplorer_spark.operators.whois import WhoisServerMap

            self.whois_server_map = WhoisServerMap.from_json_file(
                svc_config.whoisjsonconfig
            )

    def _length(self, rib: str) -> int:
        """Maintained count for ``rib``; computed once and memoized when
        the service was built without snapshot counts."""
        if self.route_counts is None:
            from bgpexplorer_spark.operators.rib import route_counts as rc

            self.route_counts = {
                r["rib"]: r["routes"] for r in rc(self.history).collect()
            }
        return self.route_counts.get(rib, 0)

    @classmethod
    def from_snapshot(cls, spark, path: str, sessions: DataFrame | None = None):
        """S5 + maintained counts: a pre-counts snapshot's counts are
        computed once, on first use (:meth:`_length`), not per request."""
        from bgpexplorer_spark.operators.rib import read_route_counts, read_snapshot

        return cls(
            read_snapshot(spark, path), sessions=sessions,
            route_counts=read_route_counts(spark, path),
        )

    def api_json(self, rib: str, **params) -> dict:
        """GET /api/json/<rib> — the §3.1 pipeline; unknown rib names fall
        back to ipv4u like the reference (src/ribservice.rs:276)."""
        if rib not in RIB_NAMES:
            rib = "ipv4u"
        p = QueryParams(**params)
        hist = self._history_for_asof() if p.asof is not None else self.history
        r = query_rib(hist, rib, p, length=self._length(rib))
        items = {
            row.nlri_str: json.loads(row.items_json)
            for row in to_nested_json(r).collect()
        }
        return {
            "ribtype": r.ribtype, "length": r.length, "skip": r.skip,
            "limit": r.limit, "maxdepth": r.maxdepth,
            "onlyactive": r.onlyactive, "found": r.found, "items": items,
        }

    def _memo_report(self, name: str, rib: str, build):
        """Materialize-once serving memo: ``build()`` runs (and is
        localCheckpointed eagerly) only on the first request for this
        (report, rib) at the current state version; later identical
        requests page the checkpointed rows until the TTL expires or
        the state version bumps. Old entries drop out of the dict and
        their blocks are context-cleaned on GC."""
        import time

        if not self.analytics_memo_ttl:
            return build()
        # capture the version ONCE: a bump between lookup and store must
        # not change the key mid-request (the stored frame stays keyed to
        # the state it was built from and ages out on the next clear)
        key = (name, rib, self._state_version)

        def fresh():  # caller holds _memo_lock
            hit = self._analytics_memo.get(key)
            if hit is not None and time.monotonic() - hit[1] < self.analytics_memo_ttl:
                return hit[0]

        with self._memo_lock:
            if (df := fresh()) is not None:
                return df
            keylock = self._memo_building.setdefault(key, threading.Lock())
        with keylock:
            with self._memo_lock:
                if (df := fresh()) is not None:
                    return df
            df = build().localCheckpoint(eager=True)
            with self._memo_lock:
                self._analytics_memo[key] = (df, time.monotonic())
                self._memo_building.pop(key, None)
        return df

    def bump_state_version(self) -> None:
        """New state landed (ingest batch applied / snapshot reloaded):
        invalidate every per-state serving memo — analytics reports and
        the maintained route counts — so the next request recomputes.
        With a ``history_provider`` set (a zero-arg callable returning
        the current history DataFrame — the live-daemon wiring, since a
        batch DataFrame binds its file listing at creation), the history
        itself is refreshed too."""
        # refresh the history FIRST: bumping before the refresh opens a
        # window where a request computes a new-version memo key but
        # build() still reads the old history — the stale frame would
        # then serve under the new version for a full TTL. A request
        # racing ahead of the bump memos new history under the OLD
        # version, which the clear below discards — harmless.
        if self.history_provider is not None:
            self.history = self.history_provider()
        self.route_counts = None
        with self._memo_lock:
            self._state_version += 1
            self._analytics_memo.clear()
            self._memo_building.clear()

    def _history_for_asof(self):
        """History frame for time-travel (?asof=) requests: the
        materialized batch view when a provider is wired and answers
        (daemon table / snapshot CURRENT — partition-prunable, no wire
        re-derivation), else the live frame. The ts_date partition
        column the view may carry is consumed by the as-of cutoff
        (timeutil.asof_prune) before any downstream schema sees it."""
        if self.asof_history is not None:
            df = self.asof_history()
            if df is not None:
                return df
        return self.history

    @staticmethod
    def _page(df, k: int, skip: int, cols: dict[str, str]) -> list[dict]:
        """Serving-layer result cap (deterministic order assumed set by
        the caller): every analytics endpoint collects at most ``k``
        rows after ``skip`` — at DFZ scale these reports run 10^3-10^5
        rows and an uncapped collect is a driver-memory DoS. Each
        collected row is projected to ``{json_key: row[column]}``."""
        if skip:
            df = df.offset(skip)
        return [
            {key: r[col] for key, col in cols.items()}
            for r in df.limit(k).collect()
        ]

    def api_moas(
        self, rib: str = "ipv4u", asof=None, k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/moas[?rib=&asof=&k=&skip=] — Multiple-
        Origin-AS conflicts over the (optionally time-traveled) active
        state."""
        from bgpexplorer_spark.operators.analytics import moas_conflicts, rib_asof
        from bgpexplorer_spark.operators.rib import current_state

        st = (
            rib_asof(self._history_for_asof(), asof)
            if asof is not None
            else current_state(self.history)
        )
        return self._page(
            moas_conflicts(st.filter(F.col("rib") == rib)).orderBy("nlri_str"),
            k, skip,
            {"nlri": "nlri_str", "origins": "origins", "n_origins": "n_origins"},
        )

    def api_rpki(
        self, rib: str = "ipv4u", asof=None, k: int = 1000, skip: int = 0
    ) -> dict:
        """GET /api/analytics/rpki[?rib=&asof=&k=&skip=] — RFC 6811
        route-origin validation of the (optionally time-traveled) active
        state against the configured ROA table: per-verdict counts (over
        the FULL state — aggregates, not row collects) plus up to ``k``
        of the Invalid routes themselves (the list an operator acts on)."""
        from bgpexplorer_spark.operators.analytics import (
            origin_as, rib_asof, rpki_validate, rpki_validate_v6,
        )
        from bgpexplorer_spark.operators.rib import current_state

        v6 = rib.startswith("ipv6")
        roa_table = self.roas_v6 if v6 else self.roas
        if roa_table is None:
            return {"error": "no ROA table configured"}
        st = (
            rib_asof(self._history_for_asof(), asof)
            if asof is not None
            else current_state(self.history)
        )
        addr_col = "addr_v6" if v6 else "addr_v4"
        routes = st.filter(
            (F.col("rib") == rib) & F.col(addr_col).isNotNull()
        ).select(
            "nlri_str", addr_col, "prefixlen",
            origin_as(F.col("aspath_flat")).alias("origin_as"),
        )
        validate = rpki_validate_v6 if v6 else rpki_validate
        v = validate(routes, roa_table).cache()
        try:
            summary = {r["validity"]: r["n"] for r in
                       v.groupBy("validity").agg(F.count(F.lit(1)).alias("n")).collect()}
            invalid = self._page(
                v.filter(F.col("validity") == "Invalid")
                .orderBy("nlri_str", "origin_as"),
                k, skip, {"nlri": "nlri_str", "origin_as": "origin_as"},
            )
        finally:
            v.unpersist()
        return {
            "rib": rib,
            "valid": summary.get("Valid", 0),
            "invalid": summary.get("Invalid", 0),
            "notfound": summary.get("NotFound", 0),
            "invalid_routes": invalid,
        }

    def api_diff(
        self, rib: str = "ipv4u", t1=None, t2=None,
        k: int = 1000, skip: int = 0,
    ) -> list[dict]:
        """GET /api/analytics/diff?t1=&t2=[&rib=&k=&skip=] — per-prefix
        diff of two time-traveled states (added / removed /
        origin_changed)."""
        from bgpexplorer_spark.operators.analytics import rib_diff

        if t1 is None or t2 is None:
            return [{"error": "t1 and t2 are required"}]
        return self._page(
            rib_diff(self.history.filter(F.col("rib") == rib), t1, t2)
            .orderBy("nlri_str"),
            k, skip,
            {"nlri": "nlri_str", "change": "change",
             "origins_before": "origins_before", "origins_after": "origins_after"},
        )

    def api_bogons(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/bogons[?rib=&k=&skip=] — active routes
        whose AS path carries a reserved/private ASN, plus
        martian-prefix offenders. Both detectors union into one paged
        report so the cap spans the whole result, not each list."""
        from bgpexplorer_spark.operators.analytics import (
            bogon_asns, martian_prefixes,
        )
        from bgpexplorer_spark.operators.rib import current_state

        st = current_state(self.history).filter(F.col("rib") == rib)
        asns = bogon_asns(st).select(
            "nlri_str",
            F.lit("bogon-asn").alias("kind"),
            F.concat_ws(
                ",", F.transform("bogon_asns", lambda a: a.cast("string"))
            ).alias("detail"),
        )
        martians = martian_prefixes(
            st.filter(F.col("addr_v4").isNotNull())
        ).select(
            "nlri_str",
            F.lit("martian-prefix").alias("kind"),
            F.col("martian").alias("detail"),
        )
        return self._page(
            asns.unionByName(martians).orderBy("kind", "nlri_str"), k, skip,
            {"nlri": "nlri_str", "kind": "kind", "detail": "detail"},
        )

    def api_damping(
        self, rib: str = "ipv4u", at=None, half_life: int = 900,
        k: int = 1000, skip: int = 0,
    ) -> list[dict]:
        """GET /api/analytics/damping[?rib=&at=&half_life=&k=&skip=] —
        RFC 2439 flap-damping figures (decayed penalties, suppress/reuse)
        at the evaluation instant (default: the newest event in the
        table), highest-penalty first."""
        import datetime

        from bgpexplorer_spark.operators.analytics import flap_damping

        h = self.history.filter(F.col("rib") == rib)
        if at is None:
            newest = h.agg(F.max("ts")).first()[0]
            if newest is None:
                return []
            at = int(
                newest.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000
            )
        return self._page(
            flap_damping(h, at, half_life_sec=float(half_life))
            .orderBy(F.col("penalty").desc(), "nlri_str"),
            k, skip,
            {"nlri": "nlri_str", "n_flaps": "n_flaps", "penalty": "penalty",
             "suppressed": "suppressed", "reusable": "reusable"},
        )

    def api_flappers(self, rib: str = "ipv4u", k: int = 20) -> list[dict]:
        """GET /api/analytics/flappers[?rib=&k=] — the k noisiest
        prefixes by announce<->withdraw flips."""
        from bgpexplorer_spark.operators.analytics import top_flappers

        rows = top_flappers(self.history.filter(F.col("rib") == rib), k).collect()
        return [
            {"nlri": r.nlri_str, "n_events": r.n_events, "n_flips": r.n_flips}
            for r in rows
        ]

    def api_session_stability(self, k: int = 1000, skip: int = 0) -> list[dict]:
        """GET /api/analytics/sessions[?k=&skip=] — per-peer FSM rollup
        (times Established reached/lost, last state, observation span)
        from the state-change log, when the service holds one."""
        if self.state_changes is None:
            return []
        from bgpexplorer_spark.functions.timeutil import ts_to_millis
        from bgpexplorer_spark.operators.analytics import session_stability

        return self._page(
            session_stability(self.state_changes)
            .withColumn("first_ts_ms", ts_to_millis(F.col("first_ts")))
            .withColumn("last_ts_ms", ts_to_millis(F.col("last_ts")))
            .orderBy("peer_addr", "peer_as"),
            k, skip,
            {"peer": "peer_addr", "peer_as": "peer_as",
             "transitions": "n_transitions", "established": "n_established",
             "lost": "n_lost", "last_state": "last_state",
             "first_ts": "first_ts_ms", "last_ts": "last_ts_ms"},
        )

    def api_route_ages(self, rib: str = "ipv4u", asof=None, k: int = 100) -> list[dict]:
        """GET /api/analytics/ages[?rib=&asof=&k=] — oldest-first route
        age report over the (optionally time-traveled) active state."""
        from bgpexplorer_spark.operators.analytics import route_age_report

        at = (
            int(parse_ts_param(asof).timestamp() * 1000)
            if asof is not None
            else None
        )
        return self._page(
            route_age_report(self.history.filter(F.col("rib") == rib), at)
            .orderBy(F.col("age_sec").desc(), "nlri_str"),
            k, 0,
            {"nlri": "nlri_str", "session_id": "session_id",
             "age_sec": "age_sec", "n_events": "n_events"},
        )

    def _active(self, rib: str) -> DataFrame:
        """Active state of one rib (``current_state`` of its history)."""
        from bgpexplorer_spark.operators.rib import current_state

        return current_state(self.history.filter(F.col("rib") == rib))

    def _relationships(self, rib: str) -> DataFrame:
        """Memoized Gao inference, shared by /relationships and /cones."""
        from bgpexplorer_spark.operators.analytics import as_relationships

        return self._memo_report(
            "relationships", rib, lambda: as_relationships(self._active(rib))
        )

    def api_peer_agreement(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/agreement[?rib=&k=&skip=] — pairwise
        Jaccard of the sessions' active prefix sets."""
        from bgpexplorer_spark.operators.analytics import peer_agreement

        return self._page(
            peer_agreement(self._active(rib)).orderBy("session_a", "session_b"),
            k, skip,
            {"session_a": "session_a", "session_b": "session_b",
             "n_shared": "n_shared", "jaccard": "jaccard"},
        )

    def api_as_relationships(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/relationships[?rib=&k=&skip=] — Gao-style
        c2p/p2c/p2p inference over the active state's AS paths."""
        return self._page(
            self._relationships(rib).orderBy("as_low", "as_high"), k, skip,
            {"as_low": "as_low", "as_high": "as_high", "rel": "rel",
             "votes_low_customer": "n_low_customer",
             "votes_high_customer": "n_high_customer"},
        )

    def api_martians(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/martians[?rib=&k=&skip=] — active routes
        inside RFC 6890 special-purpose space, v4 and v6 registries."""
        from bgpexplorer_spark.operators.analytics import (
            martian_prefixes,
            martian_prefixes_v6,
        )

        st = self._active(rib)
        v4 = martian_prefixes(st.filter(F.col("addr_v4").isNotNull()))
        v6 = martian_prefixes_v6(st.filter(F.col("addr_v6").isNotNull()))
        return self._page(
            v4.select("nlri_str", "martian")
            .unionByName(v6.select("nlri_str", "martian"))
            .orderBy("nlri_str"),
            k, skip, {"nlri": "nlri_str", "range": "martian"},
        )

    def api_route_leaks(
        self, rib: str = "ipv4u", k: int = 100, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/leaks[?rib=&k=&skip=] — RFC 7908
        valley-free violations over the active state's paths under the
        inferred relationship graph."""
        from bgpexplorer_spark.operators.analytics import route_leaks

        return self._page(
            route_leaks(self._active(rib)).orderBy("path_str"), k, skip,
            {"path": "path_str", "leaker_asn": "leaker_asn", "leak_pos": "leak_pos"},
        )

    def api_upstream_diversity(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/upstreams[?rib=&k=&skip=] — per-origin
        distinct penultimate-hop count over the active state (single- vs
        multi-homed resilience report)."""
        from bgpexplorer_spark.operators.analytics import upstream_diversity

        return self._page(
            upstream_diversity(self._active(rib)).orderBy(
                F.col("n_upstreams"), F.col("n_prefixes").desc(), "origin_as"
            ),
            k, skip,
            {"origin_as": "origin_as", "n_upstreams": "n_upstreams",
             "n_prefixes": "n_prefixes", "single_homed": "single_homed"},
        )

    def api_deaggregation(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/deagg[?rib=&k=&skip=] — per-origin
        deaggregation report (prefixes covered by a same-origin shorter
        mask), worst offenders first."""
        from bgpexplorer_spark.operators.analytics import deaggregation

        report = self._memo_report(
            "deagg", rib, lambda: deaggregation(self._active(rib))
        )
        return self._page(
            report.orderBy(
                F.col("deagg_ratio").desc(), F.col("n_prefixes").desc(),
                "origin_as",
            ),
            k, skip,
            {"origin_as": "origin_as", "n_prefixes": "n_prefixes",
             "n_covered": "n_covered", "deagg_ratio": "deagg_ratio"},
        )

    def api_customer_cones(
        self, rib: str = "ipv4u", k: int = 50, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/cones[?rib=&k=&skip=] — top-k
        customer-cone sizes from the inferred relationship graph."""
        from bgpexplorer_spark.operators.analytics import customer_cone

        return self._page(
            customer_cone(self._relationships(rib))
            .orderBy(F.col("cone_size").desc(), "asn"),
            k, skip, {"asn": "asn", "cone_size": "cone_size"},
        )

    def api_subprefix_hijacks(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/hijacks[?rib=&k=&skip=] — announced
        more-specifics whose most-specific covering announcement carries
        a different origin AS (sub-prefix hijack candidates), most
        suspicious (longest specific) first."""
        from bgpexplorer_spark.functions.iputil import v4_to_dotted
        from bgpexplorer_spark.operators.analytics import subprefix_hijacks

        report = self._memo_report(
            "hijacks", rib, lambda: subprefix_hijacks(self._active(rib))
        )
        return self._page(
            report
            .withColumn("prefix", F.concat_ws(
                "/", v4_to_dotted(F.col("addr_v4")),
                F.col("prefixlen").cast("string"),
            ))
            .orderBy(
                F.col("prefixlen").desc(), "addr_v4", "origin_as"
            ),
            k, skip,
            {"prefix": "prefix", "origin_as": "origin_as",
             "cover_plen": "cover_plen", "cover_origins": "cover_origins_str"},
        )

    def api_path_inflation(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/inflation[?rib=&k=&skip=] — per-prefix
        collapsed-path-length spread vs the shortest observed route,
        most inflated first."""
        from bgpexplorer_spark.operators.analytics import path_inflation

        return self._page(
            path_inflation(self._active(rib)).orderBy(
                (F.col("max_len") - F.col("min_len")).desc(),
                F.col("n_inflated").desc(), "nlri_str",
            ),
            k, skip,
            {"prefix": "nlri_str", "min_len": "min_len", "max_len": "max_len",
             "n_routes": "n_routes", "n_inflated": "n_inflated"},
        )

    def api_route_uptime(
        self, rib: str = "ipv4u", k: int = 1000, skip: int = 0
    ) -> list[dict]:
        """GET /api/analytics/uptime[?rib=&k=&skip=] — per-route
        announced-time fraction (interval algebra over the history),
        least stable first."""
        from bgpexplorer_spark.operators.analytics import route_uptime

        hist = self.history.filter(F.col("rib") == rib)
        return self._page(
            route_uptime(hist).orderBy(
                F.col("uptime_fraction").asc_nulls_last(),
                F.col("n_events").desc(), "nlri_str", "session_id",
                "path_id",
            ),
            k, skip,
            {"prefix": "nlri_str", "session_id": "session_id",
             "path_id": "path_id", "n_events": "n_events",
             "uptime_ms": "uptime_ms", "observed_ms": "observed_ms",
             "uptime_fraction": "uptime_fraction"},
        )

    def api_convergence(
        self, rib: str = "ipv4u", gap_sec: int = 300,
        k: int = 1000, skip: int = 0,
    ) -> list[dict]:
        """GET /api/analytics/convergence[?rib=&gap=&k=&skip=] —
        gap-sessionized update bursts per prefix, slowest-converging
        (longest burst) first."""
        from bgpexplorer_spark.operators.analytics import convergence_report

        hist = self.history.filter(F.col("rib") == rib)
        rows = self._page(
            convergence_report(hist, gap_sec=gap_sec)
            .orderBy(
                F.col("duration_ms").desc(), "nlri_str", "burst_id"
            ),
            k, skip,
            {"prefix": "nlri_str", "burst": "burst_id", "n_events": "n_events",
             "n_sessions": "n_sessions", "start": "burst_start",
             "duration_ms": "duration_ms"},
        )
        for r in rows:
            r["start"] = str(r["start"])
        return rows

    def api_statistics(self) -> dict:
        """GET /api/statistics (O6) — the REFERENCE envelope
        (src/ribservice.rs:168-219): ``stores`` (hash-consing store
        sizes; here distinct-counts over the event table), ``ribs``
        (route count per family, 0 for empty — all 15 keys always
        present like the reference), ``counters`` (updates/withdraws).
        The engine's richer per-rib detail rides along under
        ``ribs_detail`` (a superset key the reference doesn't emit)."""
        from bgpexplorer_spark.operators.ingest import attrs_struct

        rows = [r.asDict() for r in statistics(self.history).collect()]
        by_rib = {r["rib"]: r for r in rows}
        # the reference's stores are GLOBAL hash-cons sizes — a per-rib
        # sum would overcount values shared across families, so the
        # store counters run as one global distinct-count pass
        stores = self.history.agg(
            F.approx_count_distinct(attrs_struct()).alias("attrs"),
            F.approx_count_distinct("aspath_flat").alias("pathes"),
            F.approx_count_distinct("comms").alias("comms"),
            F.approx_count_distinct("lcomms").alias("lcomms"),
            F.approx_count_distinct("extcomms").alias("extcomms"),
            F.approx_count_distinct("clusterlist").alias("clusters"),
        ).first().asDict()
        return {
            "stores": stores,
            "ribs": {
                name: by_rib.get(name, {}).get("routes", 0)
                for name in RIB_NAMES
            },
            "counters": {
                "updates": sum(r["cnt_updates"] or 0 for r in rows),
                "withdraws": sum(r["cnt_withdraws"] or 0 for r in rows),
            },
            "ribs_detail": by_rib,
        }

    def api_sessions(self) -> dict:
        """GET /api/sessions — the reference's BgpSessionStorage map
        shape (src/bgpsvc.rs:733-745): ``{session_id: {"peer1": {"addr",
        "as_num"}, "peer2": {...}}}`` (serde_json renders the numeric
        BTreeMap key as a string). peer2 fields are null for
        single-sided sources (MRT archives) where only the announcing
        peer is known."""
        if self.sessions is None:
            return {}
        return {
            str(r["session_id"]): {
                "peer1": {"addr": r["peer1_addr"], "as_num": r["peer1_as"]},
                "peer2": {"addr": r["peer2_addr"], "as_num": r["peer2_as"]},
            }
            for r in self.sessions.collect()
        }

    def api_state(self) -> dict:
        return {"state": self.state}

    def api_ping(self) -> str:
        return "pong"

    # --- S9/S10 serving (src/whoissvc.rs:520-600) -------------------------
    # The HTTP layer keeps a small in-process TTL cache with
    # stale-while-revalidate (the reference's sled cache,
    # src/whoissvc.rs:458-490); the parquet cache (operators/whois
    # cache_lookup/upsert) is the batch-enrichment path (S11/J5).

    _WHOIS_SECTION_RE = {
        "aut-num": r"(aut-num|ASNumber):", "as": r"(aut-num|ASNumber):",
        "r": r"route:", "r4": r"route:", "route": r"route:",
        "r6": r"route6:", "route6": r"route6:",
    }

    def _cached(self, key: str, fetch, ttl: float = 1800.0) -> str:
        import time

        hit = self._ttl_cache.get(key)
        if hit is not None:
            ts, val = hit
            if time.time() - ts > ttl:  # stale: serve + refresh behind
                def refresh():
                    try:
                        self._ttl_cache[key] = (time.time(), fetch())
                    except Exception:
                        pass

                threading.Thread(target=refresh, daemon=True).start()
            return val
        val = fetch()
        self._ttl_cache[key] = (time.time(), val)
        return val

    @staticmethod
    def _filterout_comments(text: str) -> list[str]:
        return [ln for ln in text.split("\n") if ln and ln[0] != "%"]

    @classmethod
    def _findstr(cls, text: str, pattern: str | None) -> list[str]:
        import itertools
        import re as _re

        if pattern is None:
            return cls._filterout_comments(text)
        rx = _re.compile(pattern)
        lines = [ln for ln in text.split("\n") if ln and ln[0] not in "%#"]
        return list(itertools.dropwhile(lambda x: not rx.search(x), lines))

    def api_whois(self, query: str, mode: str | None = None) -> str:
        """GET /api/whois[/<mode>]?query=… — referral-recursive whois with
        section extraction per mode (src/whoissvc.rs:546-590)."""
        from bgpexplorer_spark.operators.whois import query_whois, socket_transport

        timeout = float(getattr(self.svc_config, "whoisreqtimeout", 30) or 30)
        transport = self.whois_transport or socket_transport(timeout)
        text = self._cached(
            f"whois:{query}",
            lambda: query_whois(
                query, transport, server_map=self.whois_server_map
            )[1],
        )
        if mode == "raw":
            return text
        pattern = self._WHOIS_SECTION_RE.get(mode or "")
        found = self._findstr(text, pattern)
        if pattern is not None and not found:
            found = self._filterout_comments(text)
        return "\n".join(found)

    def api_dns(self, target: str) -> str:
        """GET /api/dns/<addr> — PTR resolution over the wire transport
        (src/whoissvc.rs:529-543)."""
        from bgpexplorer_spark.operators.whois import query_dns_ptr, udp_dns_transport

        servers = list(getattr(self.svc_config, "whoisdnses", None) or []) or None
        transport = self.dns_transport or udp_dns_transport(servers)
        return self._cached(f"dns:{target}", lambda: query_dns_ptr(target, transport))

# --- route table ------------------------------------------------------------
# One entry per endpoint. Each query value a request carries goes through
# its param's parser before the method runs (ValueError → 400 naming the
# param); absent params are not passed, so the HTTP defaults are the
# method signatures'. Timestamps are only checked and reach the method
# as sent.

def _int(lo: int):
    def parse(v: str) -> int:
        try:
            n = int(v)
        except ValueError:
            n = lo - 1
        if n < lo:
            raise ValueError(f"expected an integer >= {lo}")
        return n

    return parse

def _ts(v: str) -> str:
    try:
        parse_ts_param(v)
    except (ValueError, OverflowError, OSError):
        raise ValueError("expected epoch millis or an ISO 8601 time") from None
    return v

def _rib(v: str) -> str:
    if v not in RIB_NAMES:
        raise ValueError("expected one of " + ", ".join(RIB_NAMES))
    return v

_BOOL = {"true": True, "1": True, "false": False, "0": False}

def _flag(v: str) -> bool:
    if v.lower() not in _BOOL:
        raise ValueError("expected true, false, 1 or 0")
    return _BOOL[v.lower()]

class _Route(NamedTuple):
    method: str  # BgpExplorerService attribute, resolved per request
    params: dict = {}  # query name → parser, or → (keyword, parser)
    tail: str | None = None  # keyword for one path segment after the route
    required: tuple = ()  # params (or the tail) a request must carry

_UINT = _int(0)
_PAGE = {"k": _UINT, "skip": _UINT}
_REPORT = {"rib": _rib, **_PAGE}

# path after /api/ → route; /api/ws and static files are served apart
ROUTES: dict[str, _Route] = {
    "ping": _Route("api_ping"),
    "state": _Route("api_state"),
    "statistics": _Route("api_statistics"),
    "sessions": _Route("api_sessions"),
    "whois": _Route("api_whois", {"query": str}, "mode", ("query",)),
    "dns": _Route("api_dns", tail="target", required=("target",)),
    "json": _Route("api_json", {
        "filter": str, "skip": _UINT, "limit": _UINT, "maxdepth": _UINT,
        "onlyactive": _flag, "changed_after": _ts, "changed_before": _ts,
        "asof": _ts,
    }, "rib", ("rib",)),
    "analytics/moas": _Route("api_moas", {**_REPORT, "asof": _ts}),
    "analytics/rpki": _Route("api_rpki", {**_REPORT, "asof": _ts}),
    "analytics/diff": _Route("api_diff", {**_REPORT, "t1": _ts, "t2": _ts}),
    "analytics/damping": _Route(
        "api_damping", {**_REPORT, "at": _ts, "half_life": _int(1)}
    ),
    "analytics/bogons": _Route("api_bogons", _REPORT),
    "analytics/sessions": _Route("api_session_stability", _PAGE),
    "analytics/ages": _Route("api_route_ages", {"rib": _rib, "asof": _ts, "k": _UINT}),
    "analytics/agreement": _Route("api_peer_agreement", _REPORT),
    "analytics/relationships": _Route("api_as_relationships", _REPORT),
    "analytics/martians": _Route("api_martians", _REPORT),
    "analytics/upstreams": _Route("api_upstream_diversity", _REPORT),
    "analytics/deagg": _Route("api_deaggregation", _REPORT),
    "analytics/leaks": _Route("api_route_leaks", _REPORT),
    "analytics/cones": _Route("api_customer_cones", _REPORT),
    "analytics/inflation": _Route("api_path_inflation", _REPORT),
    "analytics/uptime": _Route("api_route_uptime", _REPORT),
    "analytics/hijacks": _Route("api_subprefix_hijacks", _REPORT),
    "analytics/convergence": _Route(
        "api_convergence", {**_REPORT, "gap": ("gap_sec", _UINT)}
    ),
    "analytics/flappers": _Route("api_flappers", {"rib": _rib, "k": _UINT}),
}

def _lookup(parts: list[str]) -> tuple[_Route | None, list[str]]:
    """The route for the path segments after /api/, and the segment
    left over for its ``tail`` (at most one)."""
    for n in (2, 1):
        route = ROUTES.get("/".join(parts[:n]))
        if route is not None and len(parts) - n <= (route.tail is not None):
            return route, parts[n:]
    return None, []

def _kwargs(route: _Route, rest: list[str], qs: dict[str, str]) -> dict:
    """Typed keyword arguments for the route's method from the trailing
    path segment and the query params the request carries."""
    kwargs = {route.tail: rest[0]} if rest else {}
    for name in route.required:
        if name not in qs and name not in kwargs:
            raise ValueError(f"{name}: required")
    for name, spec in route.params.items():
        if name in qs:
            key, parse = spec if isinstance(spec, tuple) else (name, spec)
            try:
                kwargs[key] = parse(qs[name])
            except ValueError as e:
                raise ValueError(f"{name}: {e}") from None
    return kwargs

def _make_handler(svc: BgpExplorerService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, body, code=200, ctype="application/json"):
            if not isinstance(body, bytes):
                body = (body if isinstance(body, str) else json.dumps(body)).encode()
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _ws_upgrade(self):
            """GET /api/ws → RFC 6455 handshake + per-client feed loop
            (src/main.rs:103-157 upgrade, src/subscriber.rs:58-137 loop)."""
            from bgpexplorer_spark.streaming.wsfeed import on_ws_client, ws_accept_key

            key = self.headers.get("Sec-WebSocket-Key")
            if not key or "websocket" not in self.headers.get("Upgrade", "").lower():
                return self._send({"error": "bad websocket request"}, 400)
            self.send_response(101, "Switching Protocols")
            self.send_header("Upgrade", "websocket")
            self.send_header("Connection", "Upgrade")
            self.send_header("Sec-WebSocket-Accept", ws_accept_key(key))
            self.end_headers()
            self.close_connection = True
            on_ws_client(
                self.connection, svc.feed, apply_filter=svc.ws_apply_filter
            )

        def _send_file(self, urlpath: str):
            """S8 — static files from ``httproot`` with the reference's
            ``"/" → /index.html`` default (src/main.rs:168-173
            simple_file_send; httproot ini key src/config.rs + shipped
            contrib/ UI). Paths are resolved inside the root so ``..``
            traversal can't escape it."""
            import mimetypes
            import os

            # no config = the ini default (config.SvcConfig.httproot)
            configured = getattr(svc.svc_config, "httproot", None)
            root = configured or "./contrib"
            if not os.path.isdir(root) and configured in (None, "./contrib"):
                # only when httproot was NOT explicitly configured: the
                # cwd-relative default is absent, so serve the UI bundled
                # with the package — `GET /` works out of the box like
                # the reference's shipped explorer. An explicitly
                # configured-but-missing root stays a VISIBLE 404 (a
                # silent fallback would mask the deploy mistake).
                bundled = os.path.join(
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "contrib",
                )
                if os.path.isdir(bundled):
                    root = bundled
            if not os.path.isdir(root):
                return self._send({"error": "not found"}, 404)
            rel = "/index.html" if urlpath == "/" else urlpath
            root_abs = os.path.realpath(root)
            full = os.path.realpath(os.path.join(root_abs, rel.lstrip("/")))
            inside = full == root_abs or full.startswith(root_abs + os.sep)
            if not inside or not os.path.isfile(full):
                return self._send({"error": "not found"}, 404)
            with open(full, "rb") as f:
                body = f.read()
            ctype = mimetypes.guess_type(full)[0] or "application/octet-stream"
            self._send(body, 200, ctype)

        def do_GET(self):  # noqa: N802
            u = urlparse(self.path)
            parts = [p for p in u.path.split("/") if p]
            try:
                if parts[:1] != ["api"]:
                    return self._send_file(u.path)
                if parts[1:2] == ["ws"]:
                    return self._ws_upgrade()
                route, rest = _lookup(parts[1:])
                if route is None:
                    return self._send({"error": "not found"}, 404)
                qs = {k: v[0] for k, v in parse_qs(u.query).items()}
                try:
                    kwargs = _kwargs(route, rest, qs)
                except ValueError as e:
                    return self._send({"error": str(e)}, 400)
                # resolved per request, so class-level wrappers apply
                return self._send(getattr(svc, route.method)(**kwargs))
            except Exception as e:  # surface engine errors as 500 JSON
                return self._send({"error": str(e)[:500]}, 500)

    return Handler

def serve(svc: BgpExplorerService, host: str = "127.0.0.1", port: int = 8080):
    """Start the HTTP server on a background thread; returns the server
    (call ``.shutdown()`` to stop)."""
    httpd = ThreadingHTTPServer((host, port), _make_handler(svc))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd
