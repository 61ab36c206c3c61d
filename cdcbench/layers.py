"""Per-layer metrics of a traced pass.

Every metric is emitted for every workload; a layer a workload bypasses
reports zero work. The CDC layer metrics are computed per ingest phase
(``backfill.*``, ``trickle.*``) from the spans that started inside the
phase's window. Sums are per unit of the phase's loop (one replay for
backfill, the one stream for trickle, one pass for query-suite), so a faster
commit that fits more units into the same seconds stays comparable.
"""

from __future__ import annotations

import os
from collections import defaultdict

from seatunnel_spark.lake import LakeTable

from cdcbench import stats
from cdcbench.suite import HEADS
from cdcbench.trace import attribute

PHASES = ["backfill", "trickle"]
TOP_LEVEL = PHASES + ["suite"]
# the workloads' own figures (``# detail``); each traced run reports the
# traced-minus-untraced difference of every one
DETAIL = [
    ("ingest_events_per_s", "1/s"),
    ("catchup_p50_s", "s"),
    ("snapshot_s", "s"),
    ("read_s", "s"),
    ("freshness_p50_s", "s"),
    ("freshness_p95_s", "s"),
    ("stream_capacity_per_s", "1/s"),
    ("suite_s", "s"),
]
_KEYS = ("cpu_s", "shuffle_write_bytes", "spill_bytes", "tasks")

_COMMON = [("session.start_s", "s"), ("generator.fixture_s", "s")]
_CDC = [
    ("snapshot.run_s", "s"),
    ("snapshot.cpu_s", "s"),
    ("snapshot.shuffle_write_bytes", "B"),
    ("job.batches", "count"),
    ("job.events_per_batch_p50", "count"),
    ("job.batch_p50_s", "s"),
    ("job.batch_max_s", "s"),
    ("job.batch_self_s", "s"),
    ("stream.trigger_overhead_s", "s"),
    ("stream.backlog_max_files", "count"),
    ("generator.lateness_max_s", "s"),
    ("merge.calls", "count"),
    ("merge.self_s", "s"),
    ("merge.cpu_s", "s"),
    ("merge.shuffle_write_bytes", "B"),
    ("merge.spill_bytes", "B"),
    ("merge.compactions", "count"),
    ("merge.compact_s", "s"),
    ("table.commits", "count"),
    ("table.commit_s", "s"),
    ("table.refreshes", "count"),
    ("table.refresh_s", "s"),
    ("table.ddl_s", "s"),
    ("table.metadata_bytes", "B"),
    ("table.files_per_bucket_max", "count"),
    ("table.bytes_written_per_event", "B"),
    ("table.scan_cpu_s", "s"),
    ("table.scan_shuffle_write_bytes", "B"),
]


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in output order."""
    out = list(_COMMON)
    for ph in PHASES:
        out += [(f"{ph}.{n}", u) for n, u in _CDC]
    for h in HEADS:
        out += [(f"query.{h}_s", "s"), (f"query.{h}.cpu_s", "s"),
                (f"query.{h}.shuffle_write_bytes", "B")]
    for top in TOP_LEVEL:
        out += [(f"spark.{top}.cpu_util", "ratio"), (f"spark.{top}.jobs", "count"),
                (f"spark.{top}.tasks", "count")]
    out += [("trace.coverage", "ratio"), ("trace.spans", "count")]
    out += [(f"trace.overhead.{n}", u) for n, u in DETAIL]
    return out


def _med(xs) -> float:
    xs = list(xs)
    return stats.median(xs) if xs else 0.0


class _Attribution:
    """Stage metrics and job counts per span: ``direct`` holds what ran
    with the span innermost, ``subtree`` adds its descendants'."""

    def __init__(self, spans, stages: list[dict], jobs: list[float]):
        self.spans = spans
        self.direct = defaultdict(lambda: defaultdict(float))
        self.subtree = defaultdict(lambda: defaultdict(float))
        self.jobs = defaultdict(int)
        for st, i in zip(stages, attribute(spans, [st["submitted"] for st in stages])):
            if i is not None:
                for k in _KEYS:
                    self.direct[i][k] += st[k]
            for a in self._ancestors(i):
                for k in _KEYS:
                    self.subtree[a][k] += st[k]
        for i in attribute(spans, jobs):
            for a in self._ancestors(i):
                self.jobs[a] += 1

    def _ancestors(self, i):
        while i is not None:
            yield i
            i = self.spans[i].parent


def _cdc_phase(phase, result: dict, idx: list[int], spans, selfs, att: _Attribution) -> dict:
    units = len(result["replays"]) if "replays" in result else 1
    by_name: dict[str, list[int]] = defaultdict(list)
    for i in idx:
        by_name[spans[i].name].append(i)

    def per_unit(x: float) -> float:
        return x / units

    def dur(name: str) -> float:
        return per_unit(sum(spans[i].dur for i in by_name[name]))

    def count(name: str) -> float:
        return per_unit(len(by_name[name]))

    def stages(name: str, key: str, tree) -> float:
        return per_unit(sum(tree[i][key] for i in by_name[name]))

    def per_read(key: str) -> float:
        reads = by_name["read"]
        return sum(att.subtree[i][key] for i in reads) / len(reads) if reads else 0.0

    batches = by_name["job.batch"]
    busy = [p for p in phase.progress(result) if p["numInputRows"] > 0]
    compactions = [i for i in by_name["merge.maybe_compact"] if spans[i].result]
    m = {
        "snapshot.run_s": dur("snapshot.run"),
        "snapshot.cpu_s": stages("snapshot.run", "cpu_s", att.subtree),
        "snapshot.shuffle_write_bytes": stages("snapshot.run", "shuffle_write_bytes", att.subtree),
        "job.batches": count("job.batch"),
        "job.events_per_batch_p50": _med(p["numInputRows"] for p in busy),
        "job.batch_p50_s": _med(spans[i].dur for i in batches),
        "job.batch_max_s": max((spans[i].dur for i in batches), default=0.0),
        "job.batch_self_s": _med(selfs[i] for i in batches),
        "stream.trigger_overhead_s": _med(
            (p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)) / 1000.0
            for p in busy),
        "merge.calls": count("merge.merge_into"),
        "merge.self_s": per_unit(sum(selfs[i] for i in by_name["merge.merge_into"])),
        "merge.cpu_s": stages("merge.merge_into", "cpu_s", att.direct),
        "merge.shuffle_write_bytes": stages("merge.merge_into", "shuffle_write_bytes", att.direct),
        "merge.spill_bytes": stages("merge.merge_into", "spill_bytes", att.direct),
        "merge.compactions": per_unit(len(compactions)),
        "merge.compact_s": per_unit(sum(spans[i].dur for i in compactions)),
        "table.commits": count("table.commit"),
        "table.commit_s": dur("table.commit"),
        "table.refreshes": count("table.refresh"),
        "table.refresh_s": dur("table.refresh"),
        "table.ddl_s": dur("table.update_schema"),
        "table.scan_cpu_s": per_read("cpu_s"),
        "table.scan_shuffle_write_bytes": per_read("shuffle_write_bytes"),
    }
    if "files" in result:  # open loop: was the schedule kept and the rate sustained?
        m["stream.backlog_max_files"] = float(stats.backlog_max(result["files"], result["timeline"]))
        m["generator.lateness_max_s"] = max((f["landed"] - f["due"] for f in result["files"]), default=0.0)
    root = phase.final_tables(result)[-1]
    t = LakeTable.load(root)
    m["table.metadata_bytes"] = float(os.path.getsize(os.path.join(root, "metadata", f"v{t.version}.json")))
    m["table.files_per_bucket_max"] = float(max(t.delta_file_counts().values(), default=0))
    data_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(root, "data")) for f in fs if f.endswith(".parquet"))
    m["table.bytes_written_per_event"] = data_bytes / phase.n_rows
    return m


def per_layer(wl, result: dict, tracer, stages: list[dict], jobs: list[float],
              nproc: int, setup: dict, overhead: dict) -> dict[str, float]:
    spans = tracer.spans
    selfs = tracer.self_times()
    att = _Attribution(spans, stages, jobs)
    top = [i for i, s in enumerate(spans) if s.parent is None]
    m = {n: 0.0 for n, _ in names()}
    m["session.start_s"] = setup["session_s"]
    m["generator.fixture_s"] = setup["fixture_s"]

    passes = len(result.get("passes", [])) or 1
    groups: dict[str, tuple[list[int], int]] = {
        "suite": ([i for i in top if spans[i].name.startswith("query.")], passes)}
    for phase, r in zip(getattr(wl, "phases", []), result.get("phases", [])):
        lo, hi = r["window"]
        idx = [i for i, s in enumerate(spans) if lo <= s.start <= hi]
        for n, v in _cdc_phase(phase, r, idx, spans, selfs, att).items():
            m[f"{phase.name}.{n}"] = v
        units = len(r["replays"]) if "replays" in r else 1
        groups[phase.name] = ([i for i in idx if spans[i].parent is None], units)

    for h in HEADS:
        name = f"query.{h}"
        own = [i for i in groups["suite"][0] if spans[i].name == name]
        m[f"{name}_s"] = _med(result.get("per_head", {}).get(h, []))
        m[f"{name}.cpu_s"] = sum(att.subtree[i]["cpu_s"] for i in own) / passes
        m[f"{name}.shuffle_write_bytes"] = sum(att.subtree[i]["shuffle_write_bytes"] for i in own) / passes

    for name, (idx, units) in groups.items():
        busy_s = sum(spans[i].dur for i in idx)
        m[f"spark.{name}.cpu_util"] = (
            sum(att.subtree[i]["cpu_s"] for i in idx) / (busy_s * nproc) if busy_s else 0.0)
        m[f"spark.{name}.jobs"] = sum(att.jobs[i] for i in idx) / units
        m[f"spark.{name}.tasks"] = sum(att.subtree[i]["tasks"] for i in idx) / units
    m["trace.coverage"] = sum(spans[i].dur for i in top) / result["wall_s"]
    m["trace.spans"] = float(len(spans))
    for n, _ in DETAIL:
        m[f"trace.overhead.{n}"] = overhead.get(n, 0.0)
    return m
