"""The query-suite workload: one client, closed loop, running the frozen
bench.py headline heads one at a time over a seeded star schema + corpus.

It runs neither CDC layer. It guards the other direction: a session or
shared-operator change that helps ingest must not slow the query heads.
"""

from __future__ import annotations

import os
import sys
import time

from cdcbench import stardata, stats
from cdcbench.trace import maybe_span

# 10 of the 15 bench.py HEADLINE heads: LWW dedup, pricing aggregate, two
# star joins, exact and MinHash dedup, IVF ANN, regex PII scrub, the pandas
# UDF and session windows. Left out: corpus_clean, whose DuckDB twin takes
# ~84 s at sf0.01 on a 4-core host, longer than a run may take, and four
# heads that repeat an operator family already here (w_events_hourly,
# text_token_count, text_quality_score, ann_cosine_topk), to keep a run
# inside the time the whole protocol allows
HEADS = [
    "k5_lww_dedup",
    "q1_pricing_summary",
    "q3_order_revenue",
    "q5_revenue_by_nation",
    "dedup_exact",
    "dedup_minhash_signatures",
    "ann_ivf_topk",
    "text_pii_redact",
    "udf_sha256",
    "w_events_sessions",
]
SF = 0.02
MIN_PASSES = 2


def _oracle_tools():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracles

    return check_oracles


class QuerySuite:
    name = "query-suite"
    entry_points: list = []  # the suite opens one span per head itself

    def __init__(self, spark, host, seed: int, seconds: int, work: str):
        from seatunnel_spark.entry_queries import ORACLES, QUERIES

        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.queries = {h: QUERIES[h] for h in HEADS}
        self.oracles = {h: ORACLES[h] for h in HEADS}
        self.observed: dict[str, tuple] = {}
        self.errors: dict[str, str] = {}
        self.oracle_checked = False

    def setup(self) -> dict:
        """Write the tables, then one warm-up pass that collects every
        head's full result; the check compares these results with the
        DuckDB twins after the timed passes."""
        t0 = time.perf_counter()
        self.data = stardata.write(os.path.join(self.work, "star"), SF, self.seed)
        fixture_s = time.perf_counter() - t0
        value_hash = _oracle_tools().value_hash
        for h, fn in self.queries.items():
            try:
                pdf = fn(self.spark, self.data).toPandas()
            except Exception as e:  # a failing head is a failed operation
                self.errors[h] = f"spark error: {e}"[:300]
                continue
            self.observed[h] = (len(pdf), sorted(pdf.columns), value_hash(pdf))
        return {"fixture_s": fixture_s, "warm_up_s": time.perf_counter() - t0 - fixture_s}

    def measure(self, tag: str, tracer=None) -> dict:
        passes, per_head = [], {h: [] for h in self.queries}
        failed = 0
        t_start = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            for h, fn in self.queries.items():
                with maybe_span(tracer, f"query.{h}"):
                    t0 = time.perf_counter()
                    try:
                        fn(self.spark, self.data).write.format("noop").mode("overwrite").save()
                    except Exception:
                        failed += 1
                    per_head[h].append(time.perf_counter() - t0)
            passes.append(time.perf_counter() - t_pass)
            if time.perf_counter() - t_start >= self.seconds and len(passes) >= MIN_PASSES:
                break
        return {
            "wall_s": time.perf_counter() - t_start,
            "passes": passes,
            "per_head": per_head,
            "failed": failed,
            "metrics": {
                # per pass the median head, then the median over passes:
                # pooling every execution lets the median jump between heads
                "latency_p50_s": stats.median(
                    stats.median(ts[k] for ts in per_head.values()) for k in range(len(passes))),
                "throughput_per_s": len(self.queries) / stats.median(passes),
            },
            "detail": {"suite_s": stats.median(passes)},
        }

    def check(self, result: dict) -> tuple[int, int]:
        """(attempted, failed): every head execution is an operation; a head
        whose result differs from its DuckDB twin (row count, column names,
        value hash) counts once as failed, as does every execution that
        raised."""
        attempted = len(self.queries) * (1 + len(result["passes"]))
        if not self.oracle_checked:
            self._compare_with_oracles()
        return attempted, result["failed"] + len(self.errors)

    def _compare_with_oracles(self) -> None:
        import duckdb

        tools = _oracle_tools()
        con = duckdb.connect()
        try:
            for t in tools.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for h, got in self.observed.items():
                odf = con.execute(self.oracles[h]).fetchdf()
                if got != (len(odf), sorted(odf.columns), tools.value_hash(odf)):
                    self.errors[h] = "differs from its DuckDB twin"
        finally:
            con.close()
        self.oracle_checked = True
