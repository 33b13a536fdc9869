#!/usr/bin/env python3
"""Benchmark of the engine's public functions, one workload per run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client, one Python process each):

- ``analytics``: registry query functions over seeded sf0.1-shaped tables
  pinned by ``sources.catalog.cache_tables``, each paired with its DuckDB
  oracle (``analytics.py``).
- ``lakehouse_rw``: reads, appends, MERGE, DELETE, planning and
  maintenance on native Delta and Iceberg tables, checked against a
  DuckDB shadow (``lakehouse.py``).

The session is exactly ``get_session()`` with ``SPARK_GRAFT_CPUS`` set to
the usable core count; DuckDB gets the same thread count. The last line
of standard output is one JSON object: with ``--trace 0`` it carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones, read from
Spark's status store, Catalyst's phase tracker and plan SQL metrics
around each op. Lines above it report failures and, in traced runs, the
per-query span coverage. ``--spans FILE`` writes every op record as
JSON lines.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

# Measuring stops once this many seconds have passed since the run
# started, however slow the machine, so the run ends well within the
# 180 s a run may take.
BUDGET_S = 120.0
E2E_UNITS = {"setup_s": "s", "op_cpu_s": "s", "duckdb_ratio": "ratio"}
# Wall-clock op latency moves with other tenants of the machine by more
# than the end-to-end bounds allow, so it is reported with the layers.
WALL_UNITS = {"op_p50_s": "s", "ops_per_s": "1/s"}
SETUP_KEYS = (
    "session.start_s", "gen_s", "sources.cache_tables_s", "plans.create_s",
    "plans.plantime_build_s", "warmup_s",
)


def layer_units() -> dict[str, str]:
    """Every per-layer metric of every workload, with its unit."""
    import analytics
    import lakehouse

    units = {k: "s" for k in SETUP_KEYS} | WALL_UNITS
    for fam in analytics.FAMILIES:
        units.update({f"{fam}.build_s": "s", f"{fam}.exec_s": "s",
                      f"{fam}.task_s": "s", f"{fam}.core_util": "ratio"})
    for key in analytics.SPARK_KEYS:
        units[key] = (
            "ms" if key.endswith("_ms") else "s" if key.endswith("_s")
            else "B" if key.endswith("bytes") or "bytes_" in key
            else "count"
        )
    for f in lakehouse.FORMATS:
        for k in ("append_s", "merge_s", "delete_s", "read_build_s",
                  "read_exec_s"):
            units[f"{f}.{k}"] = "s"
        units[f"{f}.merge_rewrite_ratio"] = "ratio"
        units[f"{f}.tasks_per_write"] = "count"
        units[f"{f}.files_live"] = "count"
        units[f"{f}.meta_bytes"] = "B"
        units[f"{f}.bytes_written"] = "B"
    for t in lakehouse.PLAN_TABLES:
        units[f"{t}.plan_full_s"] = units[f"{t}.plan_pruned_s"] = "s"
    for k in ("delta.checkpoint_s", "delta.compact_s", "iceberg.expire_s",
              "iceberg.rewrite_s"):
        units[k] = "s"
    units.update({"user_bytes": "B", "write_amp": "ratio",
                  "peak_rss_mb": "MB", "jvm.peak_rss_mb": "MB",
                  "py.peak_rss_mb": "MB",
                  "trace.overhead_s": "s", "trace.coverage": "ratio"})
    return units


def main() -> int:
    started = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("analytics", "lakehouse_rw"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write op records here (JSON lines)")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not (ROOT / "dst_spark_k8_lakehouse_spark").is_dir():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    import analytics
    import harness
    import lakehouse

    clock = harness.Clock()
    run = harness.RunDir()
    try:
        cls = (analytics.Analytics if args.workload == "analytics"
               else lakehouse.Lakehouse)
        wl = cls(run, args.seed, bool(args.trace), clock)
        t0 = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t0
        recs = wl.measure(args.seconds, started + BUDGET_S)
        e2e = wl.e2e(recs)
        layers = wl.layers(recs) if args.trace else {}
        jvm_mb = harness.vm_hwm_mb(harness.jvm_pid(wl.spark))
        py_mb = harness.vm_hwm_mb()
    finally:
        run.close()

    failed = sum(not r["ok"] for r in recs)
    for line in wl.failures:
        print(f"FAILED {line}")
    print(f"error_rate {failed}/{len(recs)} "
          + " ".join(f"{k} {e2e[k]:.4f}" for k in WALL_UNITS))
    if args.spans:
        with open(args.spans, "w") as fh:
            for r in recs:
                fh.write(json.dumps(r, default=str) + "\n")
    if args.trace:
        for qid, share in sorted(getattr(wl, "coverage", {}).items()):
            print(f"coverage {qid} {share:.3f}")
        units = layer_units()
        values = dict.fromkeys(units, 0.0)
        values.update(clock.totals)
        values.update(layers)
        values.update({k: e2e[k] for k in WALL_UNITS})
        values["jvm.peak_rss_mb"] = jvm_mb
        values["py.peak_rss_mb"] = py_mb
        values["peak_rss_mb"] = jvm_mb + py_mb
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in units.items()}
    else:
        e2e["setup_s"] = setup_s
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": failed == 0 and bool(recs),
        "attempted": len(recs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
