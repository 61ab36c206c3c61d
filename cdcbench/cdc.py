"""The ingest workload: two CDC phases, run back to back in one process.

trickle   open loop: a feeder process lands small pre-written log files on
          a fixed schedule into the live log directory of a running stream;
          freshness is measured per file from its due instant to the commit
          that made it visible.
backfill  closed loop, one job: snapshot of a base table, then the whole
          change log replayed in a few large micro-batches (no compaction
          fires), then the final state read back. Repeated until the run's
          seconds are used; every replay is checked.

Set-up warms the JVM with a small replay and then one full-size backfill
replay: the first full-size replay after start-up runs ~25 % slower than
the third (heap growth, JIT), and its speed varies from run to run. Trickle
runs before the timed backfill, so the gated backfill figures come from the
warmest JVM of the run.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from seatunnel_spark.lake import LakeTable
from seatunnel_spark.operators.dedup import lww_reduce
from seatunnel_spark.schema import OP_DDL, REPO_FIELDS, REPO_KEY, event_schema
from seatunnel_spark.sources import generator as gen
from seatunnel_spark.streaming.job import CdcIngestJob, project_to_table_schema

from cdcbench import stats
from cdcbench.trace import CDC_ENTRY_POINTS, maybe_span

FEEDER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "feeder.py")
_VERSION_RE = re.compile(r"^v(\d+)\.json$")

# backfill: 2 log files of 60k events, one per micro-batch, so the merge
# kernel outweighs the per-batch fixed cost; the fixture's 3 DDLs fall
# inside both batches (fused DDL path), and 3 files per bucket stay under
# the compaction threshold (8), so the read is merge-on-read over deltas
BF_BASE, BF_EVENTS, BF_FILES = 30_000, 120_000, 2
BF_MIN_REPLAYS = 1
# trickle: 100-event files due at 25 files/s (2.5k events/s) over a 10k-row
# base; the stream's default trigger takes whatever has landed
TR_BASE, TR_FILE_EVENTS, TR_RATE = 10_000, 100, 25.0
TR_LEAD_S = 0.5  # feeder process start-up before the first due instant
# empty log files applied before the schedule: the stream's start-up (first
# triggers, planning, first commits) is paid before the first file is due,
# and an empty batch adds no delta file to any bucket
TR_EMPTY = 2
# Every batch adds one delta file per bucket, so the compaction (at > 8
# files) fires in the 8th batch, near the end of the ~10 batches of a run:
# its stall lands on the last few files (p95), not on the median.
DRAIN_TIMEOUT_S = 60.0
# JIT/codegen warm-up replay: same code path as the workloads, tiny input
WARM_BASE, WARM_EVENTS = 2_000, 8_000


def checksum(df) -> tuple[int, int]:
    """bench.py's final-state digest: row count + sum of a sha256 prefix of
    every row's content."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 10), 16, 10).cast("bigint")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def reference_checksum(spark, table_root: str, base_path: str, events) -> tuple[int, int]:
    """One-shot LWW over base ∪ log, projected onto the table's final
    schema — computed independently of the streaming path."""
    t = LakeTable.load(table_root)
    base = (
        spark.read.parquet(base_path)
        .withColumn("op", F.lit("I"))
        .withColumn("seq", F.lit(-1).cast("long"))
        .withColumn("ddl", F.lit(None).cast("string"))
        .withColumn("extra", F.lit(None).cast("string"))
    )
    rows = project_to_table_schema(t, base).unionByName(
        project_to_table_schema(t, events.where(F.col("op") != OP_DDL))
    )
    return checksum(lww_reduce(rows, REPO_KEY, "seq").where(F.col("op") != "D"))


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _replay(spark, paths: dict, d: str, n_events: int, buckets: int, tracer=None) -> dict:
    job = CdcIngestJob(
        spark, os.path.join(d, "table"), paths["events"], os.path.join(d, "ckpt"),
        num_buckets=buckets, max_files_per_trigger=1, total_events=n_events,
    )
    started = time.time()
    with maybe_span(tracer, "snapshot"):
        t0 = time.perf_counter()
        base = spark.read.parquet(paths["base"])
        events = spark.read.schema(event_schema()).parquet(paths["events"])
        job.ensure_snapshot(base, events, REPO_FIELDS, REPO_KEY, max_fence=n_events // 20)
        snap_s = time.perf_counter() - t0
    with maybe_span(tracer, "ingest"):
        t0 = time.perf_counter()
        q = job.run_incremental(available_now=True, timeout_s=DRAIN_TIMEOUT_S)
        inc_s = time.perf_counter() - t0
    return {"table": job.table_root, "started": started, "snapshot_s": snap_s,
            "ingest_s": inc_s, "progress": _progress(q)}


def setup(wl) -> dict:
    """Build the workload's fixture in a thread while a tiny replay over the
    same code path (snapshot, fused DDL batches, merge-on-read) pays the
    first-use costs (class loading, codegen). The fixture build is Python and
    the warm-up mostly waits on the JVM, so the two overlap. Then one
    full-size backfill replay grows the heap and warms the JIT, so those
    costs land in set-up, not in the timed window."""
    built: dict = {}

    def build():
        t0 = time.perf_counter()
        try:
            wl.build_inputs()
        except BaseException as e:
            built["error"] = e
            raise
        built["fixture_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    fixture = threading.Thread(target=build, name="fixture")
    fixture.start()
    try:
        paths = gen.write_fixture(os.path.join(wl.work, "warm-fx"), WARM_BASE, WARM_EVENTS,
                                  seed=1, n_event_files=2)
        r = _replay(wl.spark, paths, os.path.join(wl.work, "warm"), WARM_EVENTS, wl.buckets)
        checksum(LakeTable.load(r["table"]).scan(wl.spark))
    finally:
        warm_s = time.perf_counter() - t0
        fixture.join()
    if "error" in built:
        raise RuntimeError("fixture build failed") from built["error"]
    t0 = time.perf_counter()
    wl.backfill.measure("warm")
    return {"fixture_s": built["fixture_s"], "warm_up_s": warm_s,
            "warm_replay_s": time.perf_counter() - t0}


class Backfill:
    name = "backfill"  # phase name, prefixes its per-layer metrics

    def __init__(self, spark, host, seed: int, seconds: int, work: str):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.buckets = 2 * host.nproc
        self.n_events = BF_EVENTS
        self.n_rows = BF_BASE + BF_EVENTS
        # the median change event of the log (DDL events carry no row)
        ddl = gen.ddl_schedule(BF_EVENTS)
        self.median_seq = int(stats.percentile([s for s in range(BF_EVENTS) if s not in ddl], 0.5))
        self.ref = None

    def build_inputs(self) -> None:
        self.paths = gen.write_fixture(os.path.join(self.work, "bf-fx"), BF_BASE, BF_EVENTS,
                                       seed=self.seed, n_event_files=BF_FILES)

    def measure(self, tag: str, tracer=None) -> dict:
        replays = []
        begin = time.time()
        t_start = time.perf_counter()
        while True:
            r = _replay(self.spark, self.paths, os.path.join(self.work, f"bf-{tag}-{len(replays)}"),
                        self.n_events, self.buckets, tracer)
            with maybe_span(tracer, "read"):
                t0 = time.perf_counter()
                r["got"] = checksum(LakeTable.load(r["table"]).scan(self.spark))
                r["read_s"] = time.perf_counter() - t0
            replays.append(r)
            if time.perf_counter() - t_start >= self.seconds and len(replays) >= BF_MIN_REPLAYS:
                break
        wall = time.perf_counter() - t_start
        for r in replays:
            seen = stats.visible_at(self.median_seq, stats.merge_timeline(_merge_versions(r["table"])))
            r["event_p50_s"] = float("nan") if seen is None else seen - r["started"]
        # catch-up to a readable state: snapshot, incremental and the read
        rates = [self.n_events / (r["snapshot_s"] + r["ingest_s"] + r["read_s"]) for r in replays]
        return {
            "replays": replays,
            "window": (begin, begin + wall),
            "wall_s": wall,
            "detail": {
                "ingest_events_per_s": stats.median(rates),
                "catchup_p50_s": stats.median(r["event_p50_s"] for r in replays),
                "snapshot_s": stats.median(r["snapshot_s"] for r in replays),
                "read_s": stats.median(r["read_s"] for r in replays),
            },
        }

    def check(self, result: dict) -> tuple[int, int]:
        """(attempted, failed): one operation per replay, failed when its
        final state differs from the reference."""
        if self.ref is None:
            events = self.spark.read.schema(event_schema()).parquet(self.paths["events"])
            self.ref = reference_checksum(self.spark, result["replays"][-1]["table"],
                                          self.paths["base"], events)
        replays = result["replays"]
        failed = sum(1 for r in replays if r["got"] != self.ref)
        return len(replays), failed

    def final_tables(self, result: dict) -> list[str]:
        return [r["table"] for r in result["replays"]]

    def progress(self, result: dict) -> list[dict]:
        return [p for r in result["replays"] for p in r["progress"]]


def _merge_versions(table_root: str, since: int = -1) -> list[tuple[int, float, dict]]:
    """(version, commit instant, metadata) for versions newer than
    ``since``. The commit instant is the inode change time of
    ``metadata/v{N}.json``: the CAS hard link sets it."""
    mdir = os.path.join(table_root, "metadata")
    out = []
    for name in os.listdir(mdir):
        m = _VERSION_RE.match(name)
        if m and int(m.group(1)) > since:
            path = os.path.join(mdir, name)
            with open(path) as fh:
                meta = json.load(fh)
            out.append((int(m.group(1)), os.stat(path).st_ctime, meta))
    return sorted(out, key=lambda v: v[0])


class Trickle:
    name = "trickle"  # phase name, prefixes its per-layer metrics

    def __init__(self, spark, host, seed: int, seconds: int, work: str):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.buckets = 2 * host.nproc
        # enough timed files that p95 has ten samples beyond it
        self.n_files = max(stats.min_samples(0.95), int(TR_RATE * seconds))
        self.n_events = self.n_files * TR_FILE_EVENTS
        self.n_rows = TR_BASE + self.n_events
        self.ref = None

    def build_inputs(self) -> None:
        self.paths = gen.write_fixture(os.path.join(self.work, "tr-fx"), TR_BASE, self.n_events,
                                       seed=self.seed, n_event_files=self.n_files)
        self.files = []
        for name in sorted(os.listdir(self.paths["events"])):
            t = pq.read_table(os.path.join(self.paths["events"], name), columns=["seq", "op"])
            dml = t.filter(pc.not_equal(t["op"], OP_DDL))
            self.files.append({"name": name, "seq_max": pc.max(dml["seq"]).as_py()})

    def measure(self, tag: str, tracer=None) -> dict:
        d = os.path.join(self.work, f"tr-{tag}")
        live, staging = os.path.join(d, "live"), os.path.join(d, "staging")
        os.makedirs(live)
        os.makedirs(staging)
        for f in self.files:
            os.link(os.path.join(self.paths["events"], f["name"]), os.path.join(staging, f["name"]))
        log_path = os.path.join(d, "feeder.json")
        job = CdcIngestJob(
            self.spark, os.path.join(d, "table"), live, os.path.join(d, "ckpt"),
            num_buckets=self.buckets, max_files_per_trigger=1_000_000, total_events=self.n_events,
        )
        begin = time.time()
        t_start = time.perf_counter()
        with maybe_span(tracer, "snapshot"):
            job.ensure_snapshot(
                self.spark.read.parquet(self.paths["base"]),
                self.spark.createDataFrame([], event_schema()),
                REPO_FIELDS, REPO_KEY, max_fence=0,
            )
        q, drained = None, False
        try:
            with maybe_span(tracer, "ingest"):
                q = job.run_incremental(available_now=False)
                empty = pq.read_table(os.path.join(self.paths["events"], self.files[0]["name"])).slice(0, 0)
                for i in range(TR_EMPTY):
                    version = LakeTable.load(job.table_root).version
                    pq.write_table(empty, os.path.join(live, f"start-{i}.parquet"))
                    if not self._wait(lambda: LakeTable.load(job.table_root).version > version):
                        raise RuntimeError("the stream never applied its start-up batch")
                t0 = time.time() + TR_LEAD_S
                feeder = subprocess.Popen(
                    [sys.executable, FEEDER, staging, live, log_path, repr(t0), repr(TR_RATE)])
                try:
                    feeder.wait(timeout=TR_LEAD_S + self.n_files / TR_RATE + DRAIN_TIMEOUT_S)
                finally:
                    if feeder.poll() is None:
                        feeder.kill()
                    feeder.wait()
                # drained: the last file is visible and the batch that made
                # it so has finished (it may go on to compact)
                drained = self._wait_visible(job.table_root, self.files[-1]["seq_max"]) and \
                    self._wait(lambda: not q.status["isTriggerActive"])
            wall = time.perf_counter() - t_start
        finally:
            if q is not None:
                q.stop()
        error = q.exception()
        landed = {}
        if os.path.exists(log_path):
            with open(log_path) as fh:
                landed = {e["name"]: e for e in json.load(fh)}
        files = [dict(f, **landed[f["name"]]) for f in self.files if f["name"] in landed]
        timeline = stats.merge_timeline(_merge_versions(job.table_root))
        fresh = stats.freshness(files, timeline)
        ok = [x for x in fresh if x is not None]
        p95 = stats.percentile(ok, 0.95)
        progress = _progress(q)
        busy = [p for p in progress if p["numInputRows"] > 0]
        busy_s = sum(p["durationMs"]["triggerExecution"] for p in busy) / 1000.0
        return {
            "table": job.table_root,
            "wall_s": wall,
            "error": error,
            "drained": drained,
            "files": files,
            "visible": len(ok),
            "timeline": timeline,
            "progress": progress,
            "window": (begin, begin + wall),
            "detail": {
                "freshness_p50_s": stats.median(ok) if ok else float("nan"),
                "freshness_p95_s": p95 if p95 is not None else float("nan"),
                # events the stream could take per second were it always busy
                "stream_capacity_per_s": sum(p["numInputRows"] for p in busy) / busy_s if busy_s else float("nan"),
            },
        }

    def _wait_visible(self, table_root: str, seq: int) -> bool:
        seen, hi = -1, -1

        def visible() -> bool:
            nonlocal seen, hi
            versions = _merge_versions(table_root, since=seen)
            if versions:
                seen = versions[-1][0]
                hi = max([hi] + [s for _, s in stats.merge_timeline(versions)])
            return hi >= seq

        return self._wait(visible)

    @staticmethod
    def _wait(cond) -> bool:
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            if cond():
                return True
            time.sleep(0.1)
        return False

    def check(self, result: dict) -> tuple[int, int]:
        """(attempted, failed): one operation per scheduled file. A file that
        never landed or never became visible fails; a final state that
        differs from the reference, or a stream error, fails every file."""
        attempted = self.n_files
        failed = attempted - result["visible"]
        if result["error"] is not None or not result["drained"]:
            return attempted, attempted
        events = self.spark.read.schema(event_schema()).parquet(self.paths["events"])
        if self.ref is None:
            self.ref = reference_checksum(self.spark, result["table"], self.paths["base"], events)
        if checksum(LakeTable.load(result["table"]).scan(self.spark)) != self.ref:
            return attempted, attempted
        return attempted, failed

    def final_tables(self, result: dict) -> list[str]:
        return [result["table"]]

    def progress(self, result: dict) -> list[dict]:
        return result["progress"]


class Ingest:
    """The CDC workload: trickle, then backfill.

    latency_p50_s     backfill: the median change event's catch-up latency
    throughput_per_s  backfill: log events per second of catch-up to a
                      readable state (snapshot + incremental + read)

    Trickle's freshness is reported as ``# detail``, not gated: over a
    ten-second schedule it moved with hypervisor steal by up to a third
    between runs, more than any bound the benchmark may set.
    """

    name = "ingest"
    entry_points = CDC_ENTRY_POINTS

    def __init__(self, spark, host, seed: int, seconds: int, work: str):
        self.spark, self.work = spark, work
        self.buckets = 2 * host.nproc
        self.backfill = Backfill(spark, host, seed, seconds, work)
        self.phases = [Trickle(spark, host, seed, seconds, work), self.backfill]

    def build_inputs(self) -> None:
        for ph in self.phases:
            ph.build_inputs()

    def setup(self) -> dict:
        return setup(self)

    def measure(self, tag: str, tracer=None) -> dict:
        results = []
        for ph in self.phases:
            results.append(ph.measure(tag, tracer))
            print(f"[cdcbench] {ph.name} phase: {results[-1]['wall_s']:.1f} s", file=sys.stderr, flush=True)
        tr, bf = results
        return {
            "phases": results,
            "wall_s": sum(r["wall_s"] for r in results),
            "metrics": {
                "latency_p50_s": bf["detail"]["catchup_p50_s"],
                "throughput_per_s": bf["detail"]["ingest_events_per_s"],
            },
            "detail": {**bf["detail"], **tr["detail"]},
        }

    def check(self, result: dict) -> tuple[int, int]:
        counts = [ph.check(r) for ph, r in zip(self.phases, result["phases"])]
        return sum(a for a, _ in counts), sum(f for _, f in counts)
