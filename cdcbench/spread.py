"""Run the benchmark on several seeds and report each metric's spread.

    python3 cdcbench/spread.py [--workloads ingest,query-suite] [--seeds 1-10]
                               [--sets 2]

For every workload and metric it prints the median, the quartile spread
(Q3 - Q1 over the median, Python's ``statistics.quantiles(n=4)``) and, from
BENCHMARK.json, the bound; ``steady`` means the spread is under a third of
the bound. ``# detail`` figures (the workloads' own metrics) are reported
the same way, without a bound. With ``--sets 2`` the seeds run twice and
each gated metric's second median is compared with the first against its
bound. Any failed or refused run is listed.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from cdcbench.stats import median, quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _flatten(prefix: str, obj, out: dict) -> None:
    if isinstance(obj, dict):
        for k, v in obj.items():
            _flatten(f"{prefix}.{k}" if prefix else k, v, out)
    elif isinstance(obj, (int, float)):
        out[prefix] = float(obj)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        stdout, stderr = proc.communicate(timeout=600)
    except subprocess.TimeoutExpired:
        # SIGTERM lets run.py stop its own processes; SIGKILL the group if not
        proc.terminate()
        try:
            proc.communicate(timeout=60)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
        raise
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{stderr[-2000:]}")
    detail: dict = {"run_wall_s": time.perf_counter() - t0}
    for line in lines[:-1]:
        if line.startswith("# detail "):
            _flatten("", json.loads(line[len("# detail "):]), detail)
    return json.loads(lines[-1]), detail


def run_set(workloads: list[str], seeds: list[int], seconds: int, problems: list[str]):
    """{workload: {metric: [value per seed]}} and {metric: unit}."""
    values: dict[str, dict[str, list[float]]] = {}
    units: dict[str, str] = {}
    for wl in workloads:
        vals = values.setdefault(wl, {})
        for seed in seeds:
            try:
                result, detail = run_once(wl, seed, seconds)
            except (RuntimeError, subprocess.TimeoutExpired) as e:
                problems.append(str(e))
                continue
            if not result["correct"] or result["failed"]:
                problems.append(f"{wl} seed {seed}: {result['failed']}/{result['attempted']} failed")
            for name, m in result["metrics"].items():
                vals.setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
            for name, v in detail.items():
                vals.setdefault(f"detail.{name}", []).append(v)
            print(f"{wl} seed {seed} ({detail['run_wall_s']:.0f} s): " + json.dumps(
                {n: round(m["value"], 4) for n, m in result["metrics"].items()}), flush=True)
    return values, units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default="ingest,query-suite")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    problems: list[str] = []
    sets = []
    for k in range(args.sets):
        print(f"== set {k + 1}", flush=True)
        values, units = run_set(args.workloads.split(","), _seeds(args.seeds),
                                bench["run_seconds"], problems)
        sets.append(values)
        for wl, vals in values.items():
            print(f"\nset {k + 1} {wl}: {'metric':<36} {'unit':>6} {'median':>12} {'spread':>8} {'bound':>6}")
            for name, vs in vals.items():
                if len(vs) < 2:
                    continue
                spread = quartile_spread(vs) if median(vs) else float("nan")
                bound = bounds.get(name)
                flag = "" if bound is None else ("steady" if spread < bound / 3 else "NOISY")
                print(f"set {k + 1} {wl}: {name:<36} {units.get(name, ''):>6} {median(vs):>12.4f} "
                      f"{spread:>8.3f} {'' if bound is None else bound:>6} {flag}")
        print(flush=True)
    # the acceptance check: a later set's median may be worse than the first
    # set's by less than the bound
    for k in range(1, len(sets)):
        for wl, vals in sets[k].items():
            for name, bound in bounds.items():
                first, later = sets[0].get(wl, {}).get(name), vals.get(name)
                if not first or not later:
                    continue
                change = median(later) / median(first) - 1
                worse = change if better[name] == "lower" else -change
                verdict = "ok" if worse <= bound else "WORSE"
                print(f"set {k + 1} vs set 1 {wl}: {name:<20} median change {change:+.3f} "
                      f"(worse by {worse:+.3f}, bound {bound}) {verdict}")
                if worse > bound:
                    problems.append(f"{wl} {name}: set {k + 1} median worse by {worse:.3f}")
    for p in problems:
        print("PROBLEM:", p)
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
