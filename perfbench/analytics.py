"""``analytics``: notebook-style queries over the star schema and corpus.

A closed loop with one client. Each op calls a registry query function,
then ``toArrow()``, then ``to_pandas()``; the clock starts before the
query function is called, so work the function does eagerly, before it
returns its DataFrame, is timed. Every pass runs the ids in a seeded
order, and each id runs its DuckDB oracle right after it (the paired
ratio) and is checked against it with the tests' oracle normalisation.
"""

from __future__ import annotations

import random
import time

import duckdb
import pandas as pd

import gen
from harness import CPUS, CpuMeter, SparkCounters, median

# The first headline id (``bench.HEADLINE``) of each registry module, in
# headline order, but for ``llm.health``'s only id, ``x3_corpus_health``
# (4 s to warm, 1.3 s per op). The full 42-id set does not fit the
# benchmark's time budget: on a 4-core box its warm-up pass alone takes
# ~46 s and each timed pass ~21 s.
IDS = (
    "j8_star_join",
    "a5_groupby_agg",
    "w1_rank",
    "o2_sort_limit",
    "p12_dedup_rows",
    "f1_string",
    "u2_intersect",
    "l1_exact_dedup",
    "l3_text_stats",
    "l6_chunk_docs",
    "l7_contamination",
    "l4_cosine_topk",
    "u5b_pandas_grouped_agg",
    "t1_tumbling",
    "d37_delta_dv_read",
    "s13_kafka_wire",
)
FAMILIES = ("operators", "functions", "llm", "streaming", "plans", "sources")
SPARK_KEYS = (
    "spark.build_jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.gc_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "arrow.to_pandas_s",
    "python.boot_s", "python.init_s", "python.total_s",
    "python.bytes_sent", "python.bytes_received", "duckdb.query_s",
)


def family(fn) -> str:
    """``dst_spark_k8_lakehouse_spark.<family>.<module>`` -> ``<family>``."""
    return fn.__module__.split(".")[1]


def plain_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """``toArrow()`` keeps Spark timestamps UTC-aware where ``toPandas()``
    would give naive UTC values; make them naive like the oracle's."""
    for col in pdf.columns:
        if isinstance(pdf[col].dtype, pd.DatetimeTZDtype):
            pdf[col] = pdf[col].dt.tz_convert("UTC").dt.tz_localize(None)
    return pdf


class Analytics:
    def __init__(self, run, seed: int, trace: bool, clock) -> None:
        self.run, self.seed, self.trace, self.clock = run, seed, trace, clock
        self.rng = random.Random(seed)
        self.failures: list[str] = []

    def setup(self) -> None:
        import bench
        from dst_spark_k8_lakehouse_spark import registry
        from dst_spark_k8_lakehouse_spark.sources.catalog import (
            TABLES,
            cache_tables,
        )

        registry.load_all()
        self.queries, self.oracles = registry.QUERIES, registry.ORACLES
        self.trackers = bench.TRACKERS
        with self.clock("gen_s"):
            self.sf = gen.write_tables(self.run.data("sf0.1"), self.seed)
        with self.clock("session.start_s"):
            self.spark = self.run.session()
        with self.clock("sources.cache_tables_s"):
            cache_tables(self.spark, self.sf)
        self.con = duckdb.connect(config={"threads": CPUS})
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * "
                f"FROM read_parquet('{self.sf}/{t}.parquet')"
            )
        self.counters = SparkCounters(self.spark) if self.trace else None
        self.cpu = CpuMeter(self.spark)
        with self.clock("warmup_s"):
            for qid in IDS:
                self.op(qid, traced=False)
        self.failures.clear()  # warm-up results are checked, not counted

    def op(self, qid: str, traced: bool, n: int = 0) -> dict:
        """One query op plus its interleaved oracle; returns its record."""
        fn = self.queries[qid]
        c = self.counters if traced else None
        cpu0 = self.cpu()
        t0 = time.perf_counter()
        if c:
            c.group(f"b{n}")
        df = fn(self.spark, self.sf)
        t1 = time.perf_counter()
        if c:
            c.group(f"e{n}")
        table = df.toArrow()
        t2 = time.perf_counter()
        got = table.to_pandas()
        t3 = time.perf_counter()
        cpu_s = self.cpu() - cpu0
        t4 = time.perf_counter()
        rec = {"id": qid, "family": family(fn), "latency": t3 - t0,
               "cpu_s": cpu_s,
               "build_s": t1 - t0, "exec_s": t2 - t1,
               "arrow.to_pandas_s": t3 - t2, "ok": True}
        if c:
            build_jobs = c.jobs(f"b{n}")
            rec["spark.build_jobs"] = len(build_jobs)
            rec.update(c.stage_totals(build_jobs + c.jobs(f"e{n}")))
            rec.update(c.catalyst_ms(df))
            rec.update(c.python_metrics(df))
            rec["trace_s"] = time.perf_counter() - t4
        sql = self.oracles.get(qid)
        if sql is not None:
            d0 = time.perf_counter()
            expected = self.con.execute(sql).df()
            rec["duckdb.query_s"] = time.perf_counter() - d0
            rec["ok"] = self.check(qid, got, expected)
        return rec

    def check(self, qid: str, got: pd.DataFrame, expected: pd.DataFrame) -> bool:
        from tests.oracle import _normalize

        try:
            pd.testing.assert_frame_equal(
                _normalize(plain_pandas(got)), _normalize(expected),
                check_dtype=False, check_exact=True,
            )
            return True
        except AssertionError as e:
            self.failures.append(f"{qid}: {str(e).splitlines()[0]}")
            return False

    def measure(self, seconds: float, deadline: float) -> list[dict]:
        """Whole passes over ``IDS``, each in a seeded order, until
        ``seconds`` have elapsed; at least three, because CPU time per op
        still falls from one timed pass to the next, so every run should
        include the same early passes. A traced run traces every
        second pass and ends on an untraced one, so each traced op has
        untraced runs of its id on both sides. No pass starts after
        ``deadline`` (a ``perf_counter`` time) but the first."""
        recs: list[dict] = []
        start = time.perf_counter()
        p = 0
        while (p < 3 or time.perf_counter() - start < seconds
               or (self.trace and p % 2 == 0)):
            if p and time.perf_counter() > deadline:
                break
            order = list(IDS)
            self.rng.shuffle(order)
            traced = self.trace and p % 2 == 1
            for qid in order:
                try:
                    rec = self.op(qid, traced, len(recs))
                except Exception as e:  # an op that raises counts as failed
                    self.failures.append(f"{qid}: {type(e).__name__}: {e}")
                    rec = {"id": qid, "latency": None, "ok": False}
                rec["traced"] = traced
                recs.append(rec)
            p += 1
        return recs

    def e2e(self, recs: list[dict]) -> dict[str, float]:
        """Wall metrics over the untraced ops; CPU per op and the DuckDB
        ratio from each id's median over its untraced passes, so one
        pass's GC or JIT burst does not move them."""
        done = [r for r in recs if r["latency"] is not None and not r["traced"]]
        by_id: dict[str, list[dict]] = {}
        for r in done:
            by_id.setdefault(r["id"], []).append(r)
        paired = [rs for qid, rs in by_id.items()
                  if qid not in self.trackers
                  and all("duckdb.query_s" in r and r["ok"] for r in rs)]
        return {
            "op_p50_s": median([r["latency"] for r in done]),
            "ops_per_s": len(done) / sum(r["latency"] for r in done),
            "op_cpu_s": sum(median([r["cpu_s"] for r in rs])
                            for rs in by_id.values()) / len(by_id),
            "duckdb_ratio": sum(median([r["latency"] for r in rs])
                                for rs in paired)
            / sum(median([r["duckdb.query_s"] for r in rs])
                  for rs in paired),
        }

    def layers(self, recs: list[dict]) -> dict[str, float]:
        """Per-op means over the traced ops, by family and Spark-wide."""
        traced = [r for r in recs if r["traced"] and r["latency"] is not None]
        out: dict[str, float] = {}
        for fam in FAMILIES:
            rs = [r for r in traced if r["family"] == fam]
            build = sum(r["build_s"] for r in rs)
            exec_s = sum(r["exec_s"] for r in rs)
            task = sum(r["task_s"] for r in rs)
            k = max(len(rs), 1)
            out[f"{fam}.build_s"] = build / k
            out[f"{fam}.exec_s"] = exec_s / k
            out[f"{fam}.task_s"] = task / k
            out[f"{fam}.core_util"] = (
                task / (exec_s * CPUS) if exec_s else 0.0
            )
        k = max(len(traced), 1)
        for key in SPARK_KEYS:
            out[key] = sum(r.get(key, 0.0) for r in traced) / k
        # tracing overhead and coverage, against the same ids' untraced
        # latencies from the neighbouring passes
        plain: dict[str, list[float]] = {}
        for r in recs:
            if not r["traced"] and r["latency"] is not None:
                plain.setdefault(r["id"], []).append(r["latency"])
        base = [median(plain[r["id"]]) for r in traced if r["id"] in plain]
        matched = [r for r in traced if r["id"] in plain]
        if matched:
            out["trace.overhead_s"] = sum(
                r["latency"] + r["trace_s"] for r in matched
            ) / len(matched) - sum(base) / len(base)
            out["trace.coverage"] = sum(
                r["build_s"] + r["exec_s"] + r["arrow.to_pandas_s"]
                for r in matched
            ) / sum(base)
        self.coverage = {
            r["id"]: (r["build_s"] + r["exec_s"] + r["arrow.to_pandas_s"])
            / median(plain[r["id"]])
            for r in matched
        }
        return out
