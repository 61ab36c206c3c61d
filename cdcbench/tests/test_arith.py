"""Self-tests of the benchmark's own arithmetic. No Spark session needed.

    python3 -m pytest cdcbench/tests -q      (from the repository root)
"""

from __future__ import annotations

import json

import pytest

from cdcbench import stats
from cdcbench.trace import CDC_ENTRY_POINTS, Span, Tracer, attribute, read_event_log, self_time


# ------------------------------------------------------------ percentiles

def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(range(200), 0.95) == 189.0  # ranks 191..200 lie beyond
    assert stats.percentile(range(199), 0.95) is None
    assert stats.min_samples(0.95) == 200
    assert stats.percentile(range(20), 0.5) == 9.0
    assert stats.percentile(range(19), 0.5) is None
    assert stats.min_samples(0.5) == 20


def test_percentile_is_nearest_rank_on_unsorted_input():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 40
    assert stats.percentile(xs, 0.5) == 3.0
    assert stats.percentile(xs, 0.9) == 5.0  # ranks 161..200 are all 5.0
    assert stats.percentile(range(20, 0, -1), 0.5) == 10.0  # rank ceil(0.5 * 20) = 10


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    xs = [9.0, 10.0, 11.0, 10.0, 10.0, 9.5, 10.5, 10.0, 10.0, 10.0]
    # exclusive quartiles at ranks 2.75 and 8.25: 9.875 and 10.125
    assert stats.quartile_spread(xs) == pytest.approx(0.25 / 10.0)


# ------------------------------------------------------------ freshness join

def _meta(snapshots, current):
    return {"snapshots": snapshots, "current_snapshot_id": current}


SNAP = {"snapshot_id": 1, "summary": {"phase": "snapshot", "seq_max": -1}}
M1 = {"snapshot_id": 2, "summary": {"operation": "merge-delta", "seq_min": 0, "seq_max": 99}}
COMPACT = {"snapshot_id": 3, "summary": {"operation": "compact", "buckets": [0, 1]}}
M2 = {"snapshot_id": 4, "summary": {"operation": "merge-delta", "seq_min": 100, "seq_max": 250}}

VERSIONS = [
    (0, 10.0, _meta([], None)),                                # table created
    (1, 11.0, _meta([SNAP], 1)),                               # snapshot phase
    (2, 12.0, _meta([SNAP, M1], 2)),                           # merge: 0..99
    (3, 13.0, _meta([SNAP, M1], 2)),                           # DDL only
    (4, 14.0, _meta([SNAP, M1, COMPACT], 3)),                  # compaction
    (5, 15.0, _meta([SNAP, M1, COMPACT, M2], 4)),              # merge: 100..250
]


def test_timeline_keeps_only_merges():
    assert stats.merge_timeline(VERSIONS) == [(12.0, 99), (15.0, 250)]
    # version order, not list order
    assert stats.merge_timeline(list(reversed(VERSIONS))) == [(12.0, 99), (15.0, 250)]


def test_ddl_and_compaction_versions_do_not_satisfy_a_file():
    timeline = stats.merge_timeline(VERSIONS)
    files = [
        {"seq_max": 50, "due": 11.5, "landed": 11.5},
        {"seq_max": 99, "due": 11.9, "landed": 11.9},
        {"seq_max": 150, "due": 12.5, "landed": 12.5},  # not by v3 (DDL) or v4 (compact)
        {"seq_max": 300, "due": 14.5, "landed": 14.5},  # never visible
    ]
    fresh = stats.freshness(files, timeline)
    assert fresh[:3] == pytest.approx([0.5, 0.1, 2.5])
    assert fresh[3] is None


def test_backlog_counts_landed_but_invisible_files():
    timeline = [(2.0, 10), (5.0, 30)]
    files = [
        {"seq_max": 10, "landed": 1.0},
        {"seq_max": 20, "landed": 1.5},
        {"seq_max": 30, "landed": 3.0},
        {"seq_max": 40, "landed": 4.0},
    ]
    # at 4.0: files 2, 3 and 4 are landed, none of them visible yet
    assert stats.backlog_max(files, timeline) == 3


# ------------------------------------------------------------ spans

def _span(start, end, parent=None):
    s = Span("x", start, parent, None)
    s.end = end
    return s


def test_self_time_subtracts_children_once():
    parent = _span(0.0, 10.0)
    assert self_time(parent, []) == 10.0
    assert self_time(parent, [_span(1.0, 3.0), _span(5.0, 6.0)]) == pytest.approx(7.0)
    # overlapping children (a callback thread) and a child running past the end
    assert self_time(parent, [_span(1.0, 4.0), _span(2.0, 5.0), _span(9.0, 12.0)]) == pytest.approx(5.0)


def test_tracer_nests_and_measures_self_time():
    t = Tracer()
    with t.span("batch", batch=7):
        with t.span("merge"):
            pass
    batch, merge = t.spans
    assert merge.parent == 0 and batch.parent is None
    assert merge.batch == 7  # children share the batch id
    selfs = t.self_times()
    assert selfs[0] == pytest.approx(batch.dur - merge.dur)


def test_wrappers_are_installed_and_removed():
    import importlib

    def binding(mod, attr):
        owner = importlib.import_module(mod)
        if "." in attr:
            cls, attr = attr.split(".")
            return getattr(owner, cls).__dict__[attr]
        return getattr(owner, attr)

    before = [binding(m, a) for m, a, _ in CDC_ENTRY_POINTS]
    t = Tracer()
    t.install(CDC_ENTRY_POINTS)
    during = [binding(m, a) for m, a, _ in CDC_ENTRY_POINTS]
    assert all(d is not b for d, b in zip(during, before))
    assert all(d.__wrapped__ is b for d, b in zip(during, before))
    t.uninstall()
    assert [binding(m, a) for m, a, _ in CDC_ENTRY_POINTS] == before


# ------------------------------------------------------------ event log

def _stage(stage_id, submitted_ms, cpu_ns, shuffle, tasks=4):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage_id,
            "Submission Time": submitted_ms,
            "Number of Tasks": tasks,
            "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.executorCpuTime", "Value": cpu_ns},
                {"ID": 2, "Name": "internal.metrics.executorRunTime", "Value": str(cpu_ns // 10**6)},
                {"ID": 3, "Name": "internal.metrics.shuffle.write.bytesWritten", "Value": shuffle},
                {"ID": 4, "Name": "internal.metrics.memoryBytesSpilled", "Value": 5},
                {"ID": 5, "Name": "internal.metrics.diskBytesSpilled", "Value": 6},
            ],
        },
    }


def test_event_log_stages_attribute_to_innermost_open_span(tmp_path):
    log = tmp_path / "app-1"
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1500},
        _stage(0, 1500, 2 * 10**9, 100),     # inside the batch, outside merge
        _stage(1, 2500, 3 * 10**9, 1000),    # inside merge (innermost)
        _stage(2, 9000, 10**9, 0),           # after every span
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stages, jobs = read_event_log(str(log))
    assert jobs == [1.5]
    assert [s["cpu_s"] for s in stages] == [2.0, 3.0, 1.0]
    assert stages[1]["shuffle_write_bytes"] == 1000 and stages[1]["spill_bytes"] == 11
    assert stages[1]["run_s"] == 3.0
    batch, merge = _span(1.0, 5.0), _span(2.0, 3.0, parent=0)
    spans = [batch, merge]
    assert attribute(spans, [s["submitted"] for s in stages]) == [0, 1, None]


# ------------------------------------------------------------ metric lists

def test_benchmark_json_lists_what_the_runs_print():
    import os

    from cdcbench.layers import names
    from cdcbench.run import END_TO_END

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == names()


# ------------------------------------------------------------ process-tree RSS

def test_tree_rss_skips_a_child_sharing_its_parents_pages():
    from cdcbench.host import tree_rss

    procs = {
        1: (0, 100, 10),      # the benchmark's Python process
        2: (1, 800, 300),     # the JVM
        3: (2, 800, 300),     # vfork child of the JVM before exec: same pages
        4: (3, 5, 1),         # ... whose own child is still counted
        5: (1, 120, 20),      # the feeder
        6: (9, 50, 5),        # not a descendant
    }
    assert tree_rss(procs, 1) == 10 + 300 + 1 + 20
    assert tree_rss(procs, 2) == 300 + 1


# ------------------------------------------------------------ process lifetime

def test_descendants_walks_the_whole_tree():
    from cdcbench.procs import descendants

    procs = {1: (0, 0, 0), 2: (1, 0, 0), 3: (2, 0, 0), 4: (3, 0, 0), 5: (1, 0, 0), 6: (9, 0, 0)}
    assert sorted(descendants(procs, 1)) == [2, 3, 4, 5]
    assert descendants(procs, 4) == []


def test_stop_all_ends_an_orphaned_grandchild():
    """A child that leaves a background grandchild behind and exits: the
    grandchild is re-parented to the subreaper, and stop_all ends it."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    script = (
        "import subprocess, sys\n"
        "from cdcbench import procs\n"
        "procs.adopt_orphans()\n"
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "                     capture_output=True, text=True, check=True).stdout\n"
        "procs.stop_all()\n"
        "print(out.strip())\n"
    )
    proc = subprocess.run([sys.executable, "-c", script], cwd=root, capture_output=True,
                          text=True, timeout=60, env=dict(os.environ, PYTHONPATH=root))
    assert proc.returncode == 0, proc.stderr
    orphan = int(proc.stdout.split()[-1])
    assert not os.path.exists(f"/proc/{orphan}")
