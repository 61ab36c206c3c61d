"""CDC ingest benchmark: one workload per run, checked, one JSON result line.

    python3 cdcbench/run.py --workload ingest|query-suite \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Everything the run writes goes under
``.bench_work/`` there and is removed at the end. Every process the run
starts (the JVM, its Python workers, the feeder) has ended before it exits,
on SIGTERM and on errors too (``cdcbench/procs.py``).

--trace 0  end-to-end metrics (BENCHMARK.json ``end_to_end``).
--trace 1  the session runs with Spark's event log on; after the untraced
           pass, span wrappers are installed around each layer's entry
           points and the pass runs again. Prints the per-layer metrics
           (``per_layer``), including the wrappers' overhead (traced minus
           untraced pass) on the workload's own figures.

Lines before the last carry the pinned host facts and the workload's own
figures (``# detail``); the last line is the result object.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("latency_p50_s", "s"),
    ("throughput_per_s", "1/s"),
]


def _workloads():
    from cdcbench.cdc import Ingest
    from cdcbench.suite import QuerySuite

    return {w.name: w for w in (Ingest, QuerySuite)}


def _emit(tag: str, obj) -> None:
    print(f"# {tag} {json.dumps(obj, default=str)}", flush=True)


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[cdcbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def run(args, host, work: str) -> dict:
    from cdcbench import layers
    from cdcbench.host import cpu_times, steal_share
    from cdcbench.trace import Tracer, read_event_log

    t0 = time.perf_counter()
    spark = host.start_session("cdcbench", event_log=bool(args.trace))
    facts = host.preflight(spark)
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    _emit("host", facts)
    _log("session up")

    wl = _workloads()[args.workload](spark, host, args.seed, args.seconds, work)
    t0 = time.perf_counter()
    setup = wl.setup()
    setup.update(session_s=session_s, setup_s=session_s + time.perf_counter() - t0)
    _log("set up")

    ticks = cpu_times()
    untraced = wl.measure("u")
    untraced["detail"]["host_steal_share"] = steal_share(ticks, cpu_times())
    _log("measured")
    attempted, failed = wl.check(untraced)
    _log(f"checked: {failed}/{attempted} failed")
    _emit("detail", {"setup": setup, **untraced["detail"]})
    if not args.trace:
        return {"attempted": attempted, "failed": failed,
                "metrics": dict(untraced["metrics"], setup_s=setup["setup_s"])}

    tracer = Tracer()
    tracer.install(wl.entry_points)
    try:
        traced = wl.measure("t", tracer)
    finally:
        tracer.uninstall()
    _log("traced")
    a2, f2 = wl.check(traced)
    spark.stop()  # closes the event log
    (log_path,) = glob.glob(os.path.join(host.event_log_dir, "*"))
    stages, jobs = read_event_log(log_path)
    overhead = {k: traced["detail"][k] - untraced["detail"][k] for k in traced["detail"]}
    metrics = layers.per_layer(wl, traced, tracer, stages, jobs, host.nproc, setup, overhead)
    _emit("detail", {"traced": traced["detail"], "overhead": overhead})
    if metrics["trace.coverage"] < 0.9:
        _emit("gap", {"uncovered_s": (1 - metrics["trace.coverage"]) * traced["wall_s"],
                      "where": "driver code between top-level spans"})
    return {"attempted": attempted + a2, "failed": failed + f2, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "query-suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "seatunnel_spark", "__init__.py")):
        print(f"no seatunnel_spark package beside {HERE}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from cdcbench import layers, procs
    from cdcbench.host import HostSettings, PeakRss

    procs.adopt_orphans()
    procs.exit_on_sigterm()
    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = HostSettings(work)
    host.apply_env()
    try:
        with PeakRss() as rss:
            out = run(args, host, work)
    finally:
        procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    _log("done")

    if args.trace:
        wanted = layers.names()
    else:
        out["metrics"]["peak_rss_mb"] = rss.peak_mb
        wanted = END_TO_END
    values = out["metrics"]
    bad = [n for n, _ in wanted if not math.isfinite(values.get(n, math.nan))]
    if bad:
        print(f"metrics not measured: {bad}", file=sys.stderr)
        return 3
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
