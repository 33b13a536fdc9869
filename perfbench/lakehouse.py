"""``lakehouse_rw``: a seeded op sequence on native Delta and Iceberg tables.

A closed loop with one client over one Delta table and one Iceberg v2
table, both created from the same generated ``lineitem`` rows and
partitioned by ship year. The ops are filtered aggregate reads (a
third of them time-travel to the previous version), appends, MERGE
upserts, DELETEs, plan ops on metadata-only tables, and maintenance
(Delta checkpoint + compaction, Iceberg snapshot expiry + rewrite).

Every read is checked against a DuckDB shadow that replays the same
writes, and every plan op against the file count it must find.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from analytics import SPARK_KEYS
from harness import CPUS, CpuMeter, SparkCounters, median

BASE_ROWS = 100_000  # the lineitem rows both tables start from
APPEND_ROWS = 1_000
MERGE_UPDATES, MERGE_INSERTS = 100, 30
PLAN_FILES, PLAN_COMMITS = 10_000, 100  # metadata-only planning tables
# One cycle of (op kind, table format); the seed draws each op's table
# version, dates, keys and rows, so every run sees the same mix. Each
# table gets 6 reads, 1 append, 1 MERGE and 1 DELETE per cycle, and the
# cycle holds one full and one pruned plan op and one maintenance op per
# format. Every per-format metric therefore has a sample in one cycle.
CYCLE = (
    ("read", "delta"), ("append", "delta"), ("read", "iceberg"),
    ("merge", "iceberg"), ("read", "delta"), ("plan_full", ""),
    ("read", "iceberg"), ("delete", "delta"), ("read", "delta"),
    ("maint_delta", ""), ("read", "iceberg"), ("append", "iceberg"),
    ("read", "delta"), ("merge", "delta"), ("read", "iceberg"),
    ("plan_pruned", ""), ("read", "delta"), ("delete", "iceberg"),
    ("read", "iceberg"), ("maint_iceberg", ""), ("read", "delta"),
    ("read", "iceberg"),
)
WARMUP = (("read", "delta"), ("read", "iceberg"), ("append", "delta"),
          ("merge", "iceberg"), ("delete", "delta"))
FORMATS = ("delta", "iceberg")
PLAN_TABLES = ("delta", "delta_cp", "iceberg")
_PRUNE = [("ts", ">=", dt.datetime(2024, 2, 10)),
          ("ts", "<", dt.datetime(2024, 2, 13))]
_READ_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(CAST(l_quantity AS BIGINT)) AS qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
FROM {t} WHERE l_shipdate >= '{lo}' AND l_shipdate < '{hi}'
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _with_keys(t: pa.Table, first_id: int) -> pa.Table:
    t = t.append_column(
        "l_id", pa.array(np.arange(first_id, first_id + len(t), dtype=np.int64))
    )
    return t.append_column(
        "l_shipyear", pc.year(t["l_shipdate"]).cast(pa.int32())
    )


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Lakehouse:
    def __init__(self, run, seed: int, trace: bool, clock) -> None:
        self.run, self.trace, self.clock = run, trace, clock
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.failures: list[str] = []
        self.next_id = BASE_ROWS
        self.seen_files: dict[str, int] = {}
        self.bytes_written = dict.fromkeys(FORMATS, 0)
        self.user_bytes = 0
        self.shadow_seq = 0
        self.reads = dict.fromkeys(FORMATS, 0)
        self.groups = 0

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        from dst_spark_k8_lakehouse_spark.plans import (
            delta_writer,
            iceberg_writer,
        )

        with self.clock("gen_s"):
            base = _with_keys(
                gen.lineitem(self.np_rng, BASE_ROWS, 150_000, 20_000, 1_000), 0
            )
        with self.clock("session.start_s"):
            self.spark = spark = self.run.session()
        self.paths = {f: self.run.data(f) for f in FORMATS}
        with self.clock("plans.create_s"):
            df = spark.createDataFrame(base.to_pandas())
            delta_writer.create_delta(df, self.paths["delta"],
                                      partition_by=["l_shipyear"])
            iceberg_writer.create_iceberg(df, self.paths["iceberg"],
                                          partition_by=["l_shipyear"],
                                          format_version=2)
        with self.clock("plans.plantime_build_s"):
            self.plan_paths = self._build_plan_tables()
        self.duck = duckdb.connect(config={"threads": CPUS})
        self.duck.register("base_arrow", base)
        self.versions: dict[str, list] = {}
        for f in FORMATS:
            self.duck.execute(f"CREATE TABLE {f}_0 AS SELECT * FROM base_arrow")
            self.versions[f] = [(self._version(f), f"{f}_0")]
        self.duck.unregister("base_arrow")
        for f in FORMATS:
            self._account_writes(f)
        self.counters = SparkCounters(spark) if self.trace else None
        self.cpu = CpuMeter(spark)
        # the common write and read paths on both formats, so the timed
        # ops run warm
        with self.clock("warmup_s"):
            for kind, fmt in WARMUP:
                self.op(kind, fmt)
            self.bytes_written = dict.fromkeys(FORMATS, 0)
            self.user_bytes = 0

    def _build_plan_tables(self) -> dict[str, str]:
        from dst_spark_k8_lakehouse_spark.plans import delta_writer, plantime

        paths = {t: self.run.data(f"plan_{t}") for t in PLAN_TABLES}
        plantime.build_delta(paths["delta"], PLAN_FILES, PLAN_COMMITS)
        plantime.build_delta(paths["delta_cp"], PLAN_FILES, PLAN_COMMITS)
        delta_writer.write_checkpoint(self.spark, paths["delta_cp"])
        plantime.build_iceberg(paths["iceberg"], PLAN_FILES, PLAN_COMMITS)
        return paths

    # ------------------------------------------------------- versions
    def _version(self, fmt: str):
        if fmt == "delta":
            from dst_spark_k8_lakehouse_spark.plans import delta_reader

            return delta_reader.delta_history(self.paths["delta"])[0][
                "version"]
        from dst_spark_k8_lakehouse_spark.plans import iceberg_writer

        meta, _ = iceberg_writer._load_meta(self.paths["iceberg"])
        return int(meta["current-snapshot-id"])

    def _shadow_write(self, fmt: str, sql: list[str]) -> None:
        """Replay a committed write on the DuckDB shadow as a new version."""
        prev = self.versions[fmt][-1][1]
        self.shadow_seq += 1
        name = f"{fmt}_{self.shadow_seq}"
        self.duck.execute(f"CREATE TABLE {name} AS SELECT * FROM {prev}")
        for stmt in sql:
            self.duck.execute(stmt.format(t=name))
        self.versions[fmt].append((self._version(fmt), name))
        if len(self.versions[fmt]) > 3:
            self.duck.execute(f"DROP TABLE {self.versions[fmt].pop(0)[1]}")

    def _account_writes(self, fmt: str) -> None:
        for p, size in _dir_files(self.paths[fmt]).items():
            if p not in self.seen_files:
                self.seen_files[p] = size
                self.bytes_written[fmt] += size

    # ------------------------------------------------------------ ops
    @contextlib.contextmanager
    def timed(self, rec: dict):
        """Wall and CPU time of the engine calls an op makes; the op's
        input preparation and its shadow replay and checks stay outside.
        In a traced run the calls' Spark jobs run in a job group of their
        own."""
        c = self.counters
        if c:
            self.groups += 1
            rec["group"] = f"op{self.groups}"
            c.group(rec["group"])
        cpu0 = self.cpu()
        t0 = time.perf_counter()
        yield
        rec["latency"] = time.perf_counter() - t0
        rec["cpu_s"] = self.cpu() - cpu0
        if c:
            c.group("untimed")

    def op(self, kind: str, fmt: str) -> dict:
        rec = {"kind": kind, "fmt": fmt, "ok": True, "traced": self.trace}
        getattr(self, f"_{kind}")(fmt, rec)
        c = self.counters
        if c:
            t1 = time.perf_counter()
            rec.update(c.stage_totals(c.jobs(rec["group"])))
            if "df" in rec:
                rec.update(c.catalyst_ms(rec["df"]))
            rec["trace_s"] = time.perf_counter() - t1
        rec.pop("df", None)
        for f in FORMATS:
            self._account_writes(f)
        return rec

    def _read(self, fmt: str, rec: dict) -> None:
        from pyspark.sql import functions as F

        from dst_spark_k8_lakehouse_spark.plans import (
            delta_reader,
            iceberg_reader,
        )

        # one quarter-long window inside one ship-year partition; every
        # third read of a table time-travels to its previous version
        year, month = self.rng.randrange(1995, 2002), self.rng.randrange(1, 11)
        start = dt.date(year, month, 1)
        end = dt.date(year, month + 3, 1) if month < 10 else dt.date(
            year + 1, 1, 1)
        lo = dt.datetime.combine(start, dt.time())
        hi = dt.datetime.combine(end, dt.time())
        self.reads[fmt] += 1
        travel = self.reads[fmt] % 3 == 0
        version, shadow = self.versions[fmt][-2 if travel else -1]
        preds = [("l_shipdate", ">=", lo), ("l_shipdate", "<", hi)]
        with self.timed(rec):
            t0 = time.perf_counter()
            if fmt == "delta":
                df = delta_reader.read_delta(
                    self.spark, self.paths[fmt], predicates=preds,
                    version=version if travel else None)
            else:
                df = iceberg_reader.read_iceberg(
                    self.spark, self.paths[fmt], predicates=preds,
                    snapshot_id=version if travel else None)
            agg = (
                df.groupBy("l_returnflag", "l_linestatus")
                .agg(F.count("*").alias("n"),
                     F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
                     F.sum(F.round(F.col("l_extendedprice") * 100)
                           .cast("bigint")).alias("cents"))
                .orderBy("l_returnflag", "l_linestatus")
            )
            t1 = time.perf_counter()
            table = agg.toArrow()
            t2 = time.perf_counter()
            got = table.to_pandas()
            t3 = time.perf_counter()
        rec.update({"build_s": t1 - t0, "exec_s": t2 - t1,
                    "arrow.to_pandas_s": t3 - t2, "df": agg,
                    "travel": travel})
        # the shadow query takes a few ms, where one run's scheduling
        # jitter shows: its time is the median of five runs
        sql = _READ_SQL.format(t=shadow, lo=start, hi=end)
        times = []
        for _ in range(5):
            d0 = time.perf_counter()
            expected = self.duck.execute(sql).df()
            times.append(time.perf_counter() - d0)
        rec["duckdb.query_s"] = median(times)
        got = got.astype({"n": "int64", "qty": "int64", "cents": "int64"})
        expected = expected.astype(got.dtypes.to_dict())
        if not got.equals(expected):
            rec["ok"] = False
            self.failures.append(
                f"read {fmt} v{version} [{start}, {end}): spark "
                f"{got.to_dict('records')} != shadow "
                f"{expected.to_dict('records')}")

    def _new_rows(self, n: int) -> pa.Table:
        t = _with_keys(
            gen.lineitem(self.np_rng, n, 150_000, 20_000, 1_000), self.next_id)
        self.next_id += n
        return t

    def _append(self, fmt: str, rec: dict) -> None:
        from dst_spark_k8_lakehouse_spark.plans import (
            delta_writer,
            iceberg_writer,
        )

        rows = self._new_rows(APPEND_ROWS)
        pdf = rows.to_pandas()
        with self.timed(rec):
            df = self.spark.createDataFrame(pdf)
            if fmt == "delta":
                delta_writer.append_delta(df, self.paths[fmt])
            else:
                iceberg_writer.append_iceberg(df, self.paths[fmt])
        self.user_bytes += rows.nbytes
        self.duck.register("src_arrow", rows)
        self._shadow_write(fmt, ["INSERT INTO {t} SELECT * FROM src_arrow"])
        self.duck.unregister("src_arrow")

    def _live_rows(self, fmt: str) -> dict[str, int]:
        """Live data files of the current version, by normalised path."""
        from dst_spark_k8_lakehouse_spark.plans import (
            delta_reader,
            iceberg_reader,
        )

        root = self.paths[fmt]
        if fmt == "delta":
            files = delta_reader.plan_file_list(self.spark, root)["files"]
            paths = [p if os.path.isabs(p) else os.path.join(root, p)
                     for p in files]
        else:
            plan = iceberg_reader.plan_file_list(self.spark, root)
            paths = [e["path"] for e in plan["data"]]
        return {os.path.normpath(p): p for p in paths}

    def _merge(self, fmt: str, rec: dict) -> None:
        from dst_spark_k8_lakehouse_spark.plans import delta_dml, iceberg_dml

        year = self.rng.randrange(1995, 2002)
        live = self.duck.execute(
            f"SELECT l_id, l_shipdate FROM {self.versions[fmt][-1][1]} "
            f"WHERE l_shipyear = {year} ORDER BY l_id").arrow()
        pick = self.np_rng.choice(len(live), MERGE_UPDATES, replace=False)
        upd = self._new_rows(MERGE_UPDATES)
        # matched rows keep their key and ship date (so their partition)
        upd = upd.set_column(upd.schema.get_field_index("l_id"), "l_id",
                             live["l_id"].take(pick))
        upd = upd.set_column(upd.schema.get_field_index("l_shipdate"),
                             "l_shipdate", live["l_shipdate"].take(pick))
        upd = upd.set_column(upd.schema.get_field_index("l_shipyear"),
                             "l_shipyear",
                             pa.array([year] * MERGE_UPDATES, pa.int32()))
        src = pa.concat_tables([upd, self._new_rows(MERGE_INSERTS)])
        before = self._live_rows(fmt) if self.trace else None
        pdf = src.to_pandas()
        with self.timed(rec):
            df = self.spark.createDataFrame(pdf)
            if fmt == "delta":
                delta_dml.merge_delta(self.spark, self.paths[fmt], df,
                                      on=["l_id"])
            else:
                iceberg_dml.merge_iceberg(self.spark, self.paths[fmt], df,
                                          on=["l_id"])
        if before is not None:
            gone = set(before) - set(self._live_rows(fmt))
            rewritten = sum(pq.read_metadata(before[p]).num_rows for p in gone)
            rec["merge_rewrite_ratio"] = rewritten / MERGE_UPDATES
        self.user_bytes += src.nbytes
        self.duck.register("src_arrow", src)
        self._shadow_write(fmt, [
            "DELETE FROM {t} WHERE l_id IN (SELECT l_id FROM src_arrow)",
            "INSERT INTO {t} SELECT * FROM src_arrow",
        ])
        self.duck.unregister("src_arrow")

    def _delete(self, fmt: str, rec: dict) -> None:
        from dst_spark_k8_lakehouse_spark.plans import delta_dml, iceberg_dml

        cond = (f"l_shipyear = {self.rng.randrange(1995, 2002)} "
                f"AND l_id % 50 = {self.rng.randrange(50)}")
        with self.timed(rec):
            if fmt == "delta":
                delta_dml.delete_delta(self.spark, self.paths[fmt], cond)
            else:
                iceberg_dml.delete_iceberg(self.spark, self.paths[fmt], cond)
        self._shadow_write(fmt, [f"DELETE FROM {{t}} WHERE {cond}"])

    def _plan(self, pruned: bool, rec: dict) -> None:
        from dst_spark_k8_lakehouse_spark.plans import (
            delta_reader,
            iceberg_reader,
        )

        preds = _PRUNE if pruned else None
        found = {}
        with self.timed(rec):
            for table, path in self.plan_paths.items():
                planner = (iceberg_reader if table == "iceberg"
                           else delta_reader).plan_file_list
                t0 = time.perf_counter()
                plan = planner(self.spark, path, predicates=preds)
                rec[f"{table}.plan_s"] = time.perf_counter() - t0
                found[table] = len(
                    plan["data" if table == "iceberg" else "files"])
        # the metadata tables hold PLAN_FILES files over 100 days; the
        # pruned range covers 3 of those days
        want = PLAN_FILES * 3 // 100 if pruned else PLAN_FILES
        for table, n in found.items():
            if n != want:
                rec["ok"] = False
                self.failures.append(
                    f"plan {table} pruned={pruned}: {n} files")

    def _plan_full(self, fmt: str, rec: dict) -> None:
        self._plan(False, rec)

    def _plan_pruned(self, fmt: str, rec: dict) -> None:
        self._plan(True, rec)

    def _maint_delta(self, fmt: str, rec: dict) -> None:
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        path = self.paths["delta"]
        with self.timed(rec):
            t0 = time.perf_counter()
            delta_writer.write_checkpoint(self.spark, path)
            t1 = time.perf_counter()
            delta_writer.compact_delta(self.spark, path)
        rec.update({"delta.checkpoint_s": t1 - t0,
                    "delta.compact_s": rec["latency"] - (t1 - t0)})
        self._shadow_write("delta", [])

    def _maint_iceberg(self, fmt: str, rec: dict) -> None:
        from dst_spark_k8_lakehouse_spark.plans import iceberg_writer

        path = self.paths["iceberg"]
        with self.timed(rec):
            t0 = time.perf_counter()
            iceberg_writer.expire_snapshots(self.spark, path, retain_last=3)
            t1 = time.perf_counter()
            iceberg_writer.rewrite_data_files(self.spark, path,
                                              sort_order="l_shipdate")
        rec.update({"iceberg.expire_s": t1 - t0,
                    "iceberg.rewrite_s": rec["latency"] - (t1 - t0)})
        self._shadow_write("iceberg", [])

    # -------------------------------------------------------- measure
    def measure(self, seconds: float, deadline: float) -> list[dict]:
        """Whole cycles of ``CYCLE`` until ``seconds`` have elapsed; at
        least one, unless the run reaches ``deadline`` (a
        ``perf_counter`` time) first."""
        recs: list[dict] = []
        start = time.perf_counter()
        while not recs or time.perf_counter() - start < seconds:
            for kind, fmt in CYCLE:
                if recs and time.perf_counter() > deadline:
                    return recs
                try:
                    rec = self.op(kind, fmt)
                except Exception as e:  # an op that raises counts as failed
                    self.failures.append(
                        f"{kind} {fmt}: {type(e).__name__}: {e}")
                    rec = {"kind": kind, "fmt": fmt, "latency": None,
                           "ok": False, "traced": self.trace}
                recs.append(rec)
        return recs

    def e2e(self, recs: list[dict]) -> dict[str, float]:
        done = [r for r in recs if r["latency"] is not None]
        reads = [r for r in done if r["kind"] == "read" and r["ok"]]
        return {
            "op_p50_s": median([r["latency"] for r in done]),
            "ops_per_s": len(done) / sum(r["latency"] for r in done),
            "op_cpu_s": sum(r["cpu_s"] for r in done) / len(done),
            "duckdb_ratio": sum(r["latency"] for r in reads)
            / sum(r["duckdb.query_s"] for r in reads),
        }

    def layers(self, recs: list[dict]) -> dict[str, float]:
        done = [r for r in recs if r["latency"] is not None]

        def med(kind, fmt, key="latency"):
            return median([r[key] for r in done
                           if r["kind"] == kind and r["fmt"] == fmt
                           and key in r])

        out: dict[str, float] = {}
        for f in FORMATS:
            out[f"{f}.append_s"] = med("append", f)
            out[f"{f}.merge_s"] = med("merge", f)
            out[f"{f}.delete_s"] = med("delete", f)
            out[f"{f}.read_build_s"] = med("read", f, "build_s")
            out[f"{f}.read_exec_s"] = med("read", f, "exec_s")
            out[f"{f}.merge_rewrite_ratio"] = med(
                "merge", f, "merge_rewrite_ratio")
            out[f"{f}.tasks_per_write"] = med("append", f, "spark.tasks")
            out[f"{f}.files_live"] = float(len(self._live_rows(f)))
            meta_dir = "_delta_log" if f == "delta" else "metadata"
            out[f"{f}.meta_bytes"] = float(sum(
                _dir_files(os.path.join(self.paths[f], meta_dir)).values()))
            out[f"{f}.bytes_written"] = float(self.bytes_written[f])
        for t in PLAN_TABLES:
            for kind in ("plan_full", "plan_pruned"):
                out[f"{t}.{kind}_s"] = median(
                    [r[f"{t}.plan_s"] for r in done if r["kind"] == kind])
        for key in ("delta.checkpoint_s", "delta.compact_s",
                    "iceberg.expire_s", "iceberg.rewrite_s"):
            out[key] = median([r[key] for r in done if key in r])
        out["user_bytes"] = float(self.user_bytes)
        out["write_amp"] = (
            sum(self.bytes_written.values()) / self.user_bytes
            if self.user_bytes else 0.0)
        traced = [r for r in done if r["traced"]]
        for key in SPARK_KEYS:  # per-op means, as in ``analytics``
            out[key] = sum(r.get(key, 0.0) for r in traced) / len(traced)
        out["trace.overhead_s"] = (
            sum(r["trace_s"] for r in traced) / len(traced))
        return out
