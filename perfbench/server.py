"""The benchmark's server side: the engine set up the way a deployment
runs it, either in its own process (``python3 perfbench/server.py SPEC``)
or in the benchmark's process for a traced run.

- ``served``: MRT archive -> ``read_mrt`` -> ``build_history`` ->
  ``write_snapshot`` -> ``BgpExplorerService.from_snapshot`` (+ ROA
  table) -> HTTP on an ephemeral port.
- ``live``: the full daemon from an ini file (``run_from_ini``): BGP
  listener -> parquet spool -> ``run_ingest`` -> table -> state bump ->
  HTTP, listener and HTTP both on ephemeral ports.

Every engine entry point is called through its module attribute
(``mrt.read_mrt``, ``ingest.build_history`` ...), so the traced run can
wrap the same calls from the benchmark's own files.

In its own process the server prints one JSON line with its ports once
it serves, then runs until its standard input closes.
"""

from __future__ import annotations

import json
import os
import sys

LIVE_INI = """[main]
httplisten=127.0.0.1:0
protolisten=127.0.0.1:0
routerid=10.0.0.9
peeras=64900
historymode=differ

[collector]
mode=bgppassive
caps=ipv4u
"""


def hermetic_env(work: str) -> dict[str, str]:
    """Environment that keeps Spark's, the JVM's and Python's scratch
    files (spool, checkpoints, shuffle, derby, temp) under ``work``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData",
        # small and fixed: the machine is shared, and a fixed heap keeps
        # GC behaviour the same from run to run
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
    }


def spark_session():
    from bgpexplorer_spark import get_spark

    # spark-warehouse/ lands in the working directory, which the
    # benchmark points at its work dir
    return get_spark("perfbench")


def start_served(spark, spec: dict):
    """Load the RIB and serve it; returns (service, httpd)."""
    from bgpexplorer_spark import api
    from bgpexplorer_spark.operators import ingest, rib
    from bgpexplorer_spark.sources import mrt, roas

    decoded = mrt.read_mrt(spark, spec["mrt_dir"])
    upd, sessions = mrt.assign_sessions(decoded, mrt.mrt_peers(spark, spec["mrt_dir"]))
    hist = ingest.build_history(upd, history_mode="differ")
    rib.write_snapshot(hist, spec["table"], spark=spark)
    svc = api.BgpExplorerService.from_snapshot(spark, spec["table"], sessions=sessions)
    svc.roas, svc.roas_v6 = roas.load_roas_json(spark, spec["roas"])
    return svc, api.serve(svc, port=0)


def start_live(spark, spec: dict):
    """Start the daemon from its ini file; returns the running daemon."""
    from bgpexplorer_spark import daemon

    ini = os.path.join(spec["work"], "live.ini")
    with open(ini, "w", encoding="utf-8") as f:
        f.write(LIVE_INI)
    return daemon.run_from_ini(spark, ini, os.path.join(spec["work"], "live"))


def ready_info(spec: dict, started) -> dict:
    if spec["workload"] == "live":
        lsn = started.listeners[0]
        return {"http_port": started.http_port, "bgp_port": lsn.port,
                "table": started.table_dir, "spool": started.ingest_dir}
    _svc, httpd = started
    return {"http_port": httpd.server_address[1], "table": spec["table"]}


def stop(spec: dict, started) -> None:
    if spec["workload"] == "live":
        # stop the stream first: the daemon's stop() then skips its
        # shutdown drain and final snapshot, which the benchmark does
        # not measure
        started.query.stop()
        started.query = None
        started.stop()
    else:
        started[1].shutdown()
        started[1].server_close()


def start(spark, spec: dict):
    return start_live(spark, spec) if spec["workload"] == "live" else start_served(spark, spec)


def main(argv: list[str]) -> int:
    with open(argv[1], encoding="utf-8") as f:
        spec = json.load(f)
    spark = spark_session()
    started = start(spark, spec)
    try:
        print(json.dumps(ready_info(spec, started)), flush=True)
        sys.stdin.read()  # the load generator closes our stdin to stop us
    finally:
        stop(spec, started)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
