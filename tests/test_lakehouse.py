"""Lakehouse-layer tests: the reference's 02_iceberg_demo / 03_delta_demo
flows (DDL, DML, time travel, schema evolution, VACUUM) reproduced over
the native Delta stack + session-catalog DDL."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from dst_spark_k8_lakehouse_spark.plans import ddl
from dst_spark_k8_lakehouse_spark.plans import delta_dml as dml
from dst_spark_k8_lakehouse_spark.plans import delta_reader as dr
from dst_spark_k8_lakehouse_spark.plans import delta_writer as dw
from dst_spark_k8_lakehouse_spark.plans.dml import execute_native_sql


@pytest.fixture()
def vt(spark, tmp_path):
    t = str(tmp_path / "tbl")
    dw.create_delta(
        spark.createDataFrame(
            [Row(id=1, name="alice", bal=10.0), Row(id=2, name="bob", bal=20.0)]
        ),
        t,
    )
    return t


def test_append_and_read(spark, vt):
    dw.append_delta(
        spark.createDataFrame([Row(id=3, name="carol", bal=30.0)]), vt
    )
    assert dr.read_delta(spark, vt).count() == 3


def test_update_rewrites_matching_rows(spark, vt):
    """``UPDATE t SET bal = bal * 2 WHERE id = 1``
    (02_iceberg_demo.ipynb:91 shape)."""
    dml.update_delta(spark, vt, "id = 1", {"bal": "bal * 2"})
    rows = {r.id: r.bal for r in dr.read_delta(spark, vt).collect()}
    assert rows == {1: 20.0, 2: 20.0}


def test_delete_removes_matching_rows(spark, vt):
    dml.delete_delta(spark, vt, "name = 'bob'")
    assert [r.id for r in dr.read_delta(spark, vt).collect()] == [1]


def test_time_travel_by_version(spark, vt):
    """versionAsOf semantics (03_delta_demo.ipynb:134): every prior
    state stays addressable."""
    dml.delete_delta(spark, vt, "id = 1")
    dw.append_delta(
        spark.createDataFrame([Row(id=9, name="zed", bal=0.0)]), vt
    )
    assert dr.read_delta(spark, vt, version=0).count() == 2  # original
    assert dr.read_delta(spark, vt, version=1).count() == 1  # after delete
    assert dr.read_delta(spark, vt).count() == 2  # latest
    with pytest.raises(ValueError):
        dr.read_delta(spark, vt, version=99)


def test_schema_merge_append(spark, vt):
    """mergeSchema on append (spark_logger.py:55-57): new column appears,
    old rows read NULL for it."""
    dw.append_delta(
        spark.createDataFrame(
            [Row(id=4, name="dara", bal=5.0, tier="gold")]
        ),
        vt,
        merge_schema=True,
    )
    df = dr.read_delta(spark, vt)
    assert "tier" in df.columns
    assert df.filter(F.col("tier").isNull()).count() == 2


def test_metadata_only_rename(spark, vt):
    """RENAME COLUMN (02_iceberg_demo.ipynb:123) without touching data
    files; time travel before the rename still shows the old name."""
    files = set(dr._replay(spark, vt, None)["files"])
    dw.rename_column(spark, vt, "bal", "balance")
    assert "balance" in dr.read_delta(spark, vt).columns
    assert "bal" in dr.read_delta(spark, vt, version=0).columns
    assert set(dr._replay(spark, vt, None)["files"]) == files


def test_history_and_vacuum(spark, vt):
    dw.overwrite_delta(
        spark.createDataFrame([Row(id=7, name="eve", bal=1.0)]), vt
    )
    hist = {h["version"]: h["operation"] for h in dr.delta_history(vt)}
    assert hist == {0: "CREATE TABLE AS SELECT", 1: "WRITE"}
    removed = dw.vacuum_delta(spark, vt, retain_versions=1)
    assert removed  # the CREATE version's files
    assert dr.read_delta(spark, vt).count() == 1  # latest unaffected


def test_ddl_roundtrip(spark, tmp_path):
    """D1-D11 flow on the session catalog (getting_started.py:125-168)."""
    ddl.create_database(spark, "demo_ns")
    ddl.use_database(spark, "demo_ns")
    try:
        ddl.create_table(
            spark,
            "demo_ns.users",
            "id BIGINT, name STRING, signup DATE",
            location=str(tmp_path / "users"),
        )
        assert "users" in ddl.show_tables(spark, "demo_ns")
        ddl.insert_into(
            spark, "demo_ns.users", "(1, 'ada', DATE'2024-01-01')"
        )
        ddl.insert_into(
            spark, "demo_ns.users", "(2, 'bo', DATE'2024-02-01')"
        )
        assert spark.table("demo_ns.users").count() == 2
        # NB: plain-parquet tables reject a self-referencing overwrite
        # SELECT (no snapshot isolation) — that flow runs on a native
        # Delta table; see ddl.insert_overwrite docstring.
        ddl.insert_overwrite(
            spark,
            "demo_ns.users",
            "SELECT 1, 'ADA', DATE'2024-01-01'",
        )
        rows = spark.table("demo_ns.users").collect()
        assert len(rows) == 1 and rows[0].name == "ADA"
        assert any(
            r.col_name == "Location"
            for r in ddl.describe_table(spark, "demo_ns.users").collect()
        )
    finally:
        ddl.use_database(spark, "default")
        ddl.drop_database(spark, "demo_ns", cascade=True)
    assert "demo_ns" not in ddl.show_databases(spark)


def test_partitioned_table_prunes(spark, tmp_path):
    """D5 fallback: explicit partition column; a partition predicate must
    prune at scan (the Iceberg days(ts) emulation documented in ddl.py)."""
    loc = str(tmp_path / "events_p")
    ddl.create_table(
        spark,
        "default.events_p",
        "event_id BIGINT, value DOUBLE, day DATE",
        partitioned_by="day",
        location=loc,
    )
    try:
        ddl.insert_into(
            spark,
            "default.events_p",
            "(1, 1.0, DATE'2024-01-01'), (2, 2.0, DATE'2024-01-02')",
        )
        plan = (
            spark.table("default.events_p")
            .filter("day = DATE'2024-01-01'")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters: [" in plan
        # physical layout really is hive-partitioned
        assert any(
            d.startswith("day=") for d in os.listdir(loc)
        )
    finally:
        ddl.drop_table(spark, "default.events_p")


def test_drop_column_metadata_only_and_time_travel(spark, tmp_path):
    """DROP COLUMN hides the column without rewriting data; time travel
    to the pre-drop version still shows it; a post-drop append keeps
    the drop in effect."""
    t = str(tmp_path / "t")
    dw.create_delta(
        spark.createDataFrame(
            [(1, "a", 10.0)], "id long, name string, secret double"
        ),
        t,
    )
    files = set(dr._replay(spark, t, None)["files"])
    v = dw.drop_column(spark, t, "secret")
    assert set(dr._replay(spark, t, None)["files"]) == files
    assert "secret" not in dr.read_delta(spark, t).columns
    assert "secret" in dr.read_delta(spark, t, version=v - 1).columns
    dw.append_delta(
        spark.createDataFrame([(2, "b")], "id long, name string"), t
    )
    assert "secret" not in dr.read_delta(spark, t).columns
    assert dr.read_delta(spark, t).count() == 2
    with pytest.raises(ValueError):
        dw.drop_column(spark, t, "secret")
    # unknown column: must raise (Iceberg behavior), not commit a
    # silent drop
    with pytest.raises(ValueError, match="no column"):
        dw.drop_column(spark, t, "secrt")


def test_latest_prop_wins_over_history(spark, tmp_path):
    """Table-state properties resolve to the NEWEST metadata that set
    them: a rebuild with a smaller value must not be shadowed by the
    old one (the IVF n_cells desync case)."""
    t = str(tmp_path / "t")
    dw.create_delta(spark.range(3), t)
    dw.set_table_properties(spark, t, {"ivf_n_cells": "8"})
    dw.overwrite_delta(spark.range(2), t)
    dw.set_table_properties(spark, t, {"ivf_n_cells": "4"})
    conf = dr._replay(spark, t, None)["metaData"]["configuration"]
    assert conf["ivf_n_cells"] == "4"
    assert "absent" not in conf


def test_files_metadata_table(spark, tmp_path):
    """The planned file list holds one entry per live data file with
    real sizes, and tracks time travel."""
    t = str(tmp_path / "t")
    dw.create_delta(spark.range(10).coalesce(1), t)
    dw.append_delta(spark.range(5).coalesce(1), t)
    files = dr.plan_file_list(spark, t)["files"]
    assert len(files) == 2  # create file + append file
    adds = dr._replay(spark, t, None)["files"].values()
    assert all(a["size"] > 0 for a in adds)
    assert len(dr.plan_file_list(spark, t, version=0)["files"]) == 1


def test_compact_collapses_snapshot_dirs(spark, tmp_path):
    """Compaction rewrites N per-append files into one, preserving rows
    and time travel; vacuum afterwards reclaims the old files."""
    t = str(tmp_path / "t")
    dw.create_delta(spark.range(10).coalesce(1), t)
    dw.append_delta(spark.range(10, 15).coalesce(1), t)
    dw.append_delta(spark.range(15, 18).coalesce(1), t)
    assert len(dr.plan_file_list(spark, t)["files"]) == 3
    v = dw.compact_delta(spark, t, target_files=1)
    assert len(dr.plan_file_list(spark, t)["files"]) == 1
    assert dr.read_delta(spark, t).count() == 18
    assert dr.read_delta(spark, t, version=v - 1).count() == 18
    assert "OPTIMIZE" in {h["operation"] for h in dr.delta_history(t)}
    removed = dw.vacuum_delta(spark, t, retain_versions=1)
    assert len(removed) == 3  # the pre-compaction files are reclaimed
    assert dr.read_delta(spark, t).count() == 18


def test_rename_then_append_with_new_name(spark, tmp_path):
    """A post-rename append naturally uses the CURRENT column name;
    the read must fold old-name and new-name files into one column
    rather than surfacing an ambiguous duplicate."""
    t = str(tmp_path / "t")
    dw.create_delta(
        spark.createDataFrame([(1, 10.0)], "id long, bal double"), t
    )
    dw.rename_column(spark, t, "bal", "balance")
    dw.append_delta(
        spark.createDataFrame([(2, 20.0)], "id long, balance double"), t
    )
    df = dr.read_delta(spark, t)
    assert df.columns.count("balance") == 1 and "bal" not in df.columns
    got = {r.id: r.balance for r in df.collect()}
    assert got == {1: 10.0, 2: 20.0}


def test_vacuum_and_files_validate_arguments(spark, tmp_path):
    t = str(tmp_path / "t")
    dw.create_delta(spark.range(3), t)
    with pytest.raises(ValueError):
        dw.vacuum_delta(spark, t, retain_versions=0)
    with pytest.raises(ValueError):
        dr.plan_file_list(spark, t, version=99)


# --- SQL statement text over native Delta (plans/dml.py) --------------


def test_sql_update_matches_api_call(spark, vt):
    """The statement text from 02_iceberg_demo.ipynb:91 executes over
    the native table and equals the direct API call."""
    execute_native_sql(
        spark,
        "UPDATE tbl SET bal = bal * 2, name = upper(name) WHERE id = 1",
        {"tbl": vt},
    )
    rows = {r.id: (r.name, r.bal) for r in dr.read_delta(spark, vt).collect()}
    assert rows == {1: ("ALICE", 20.0), 2: ("bob", 20.0)}


def test_sql_update_set_with_function_commas(spark, vt):
    execute_native_sql(
        spark, "UPDATE tbl SET bal = greatest(bal, 15.0)", {"tbl": vt}
    )
    rows = {r.id: r.bal for r in dr.read_delta(spark, vt).collect()}
    assert rows == {1: 15.0, 2: 20.0}


def test_sql_delete(spark, vt):
    execute_native_sql(
        spark, "DELETE FROM tbl WHERE name = 'bob'", {"tbl": vt}
    )
    assert [r.id for r in dr.read_delta(spark, vt).collect()] == [1]


def test_sql_merge_upsert(spark, vt):
    src = spark.createDataFrame(
        [Row(id=2, name="bobby", bal=99.0), Row(id=3, name="carol", bal=30.0)]
    )
    execute_native_sql(
        spark,
        """MERGE INTO tbl AS t USING src AS s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
        {"tbl": vt},
        sources={"src": src},
    )
    rows = {r.id: r.name for r in dr.read_delta(spark, vt).collect()}
    assert rows == {1: "alice", 2: "bobby", 3: "carol"}


def test_sql_merge_source_from_versioned_table(spark, vt, tmp_path):
    src_t = str(tmp_path / "src")
    dw.create_delta(
        spark.createDataFrame([Row(id=9, name="zed", bal=1.0)]), src_t
    )
    execute_native_sql(
        spark,
        "MERGE INTO tbl USING src ON id = id "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": vt, "src": src_t},
    )
    assert 9 in {r.id for r in dr.read_delta(spark, vt).collect()}


def test_sql_update_literal_containing_where(spark, vt):
    """A SET literal containing the word 'where' must not mis-split the
    statement (ADVICE r4: the old regex split was quote-unaware)."""
    execute_native_sql(
        spark,
        "UPDATE tbl SET name = 'fixed where broken' WHERE id = 2",
        {"tbl": vt},
    )
    rows = {r.id: r.name for r in dr.read_delta(spark, vt).collect()}
    assert rows == {1: "alice", 2: "fixed where broken"}


def test_sql_merge_literal_containing_when(spark, vt):
    src = spark.createDataFrame([Row(id=3, name="x when y", bal=1.0)])
    execute_native_sql(
        spark,
        "MERGE INTO tbl USING src ON id = id "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": vt},
        sources={"src": src},
    )
    assert {r.name for r in dr.read_delta(spark, vt).collect()} == {
        "alice", "bob", "x when y",
    }


def test_sql_dml_rejects_unsupported(spark, vt):
    for bad in (
        "SELECT * FROM tbl",
        "UPDATE tbl SET 1bad = 2",
        "MERGE INTO tbl USING s ON t.id = s.other WHEN MATCHED THEN UPDATE SET *",
        "MERGE INTO tbl USING s ON id < id WHEN MATCHED THEN UPDATE SET *",
        "MERGE INTO tbl USING s ON id = id WHEN MATCHED THEN DELETE",
    ):
        with pytest.raises(ValueError):
            execute_native_sql(
                spark, bad, {"tbl": vt},
                sources={"s": dr.read_delta(spark, vt)},
            )
    assert dr.read_delta(spark, vt).count() == 2  # nothing committed


# --- partition transforms (D5 fallback) --------------------------------


def test_partition_transform_days_prunes(spark, tmp_path):
    ev = spark.createDataFrame(
        [
            Row(event_id=1, ts="2024-01-01 10:00:00"),
            Row(event_id=2, ts="2024-01-02 11:00:00"),
        ]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "pt")
    name = ddl.write_partitioned_by_transform(ev, path, "days(ts)")
    assert name == "ts_day"
    back = spark.read.parquet(path).filter(F.col("ts_day") == "2024-01-02")
    assert [r.event_id for r in back.collect()] == [2]
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_partition_transform_shapes(spark):
    df = spark.createDataFrame([Row(n=1234, s="abcdef", ts="2024-03-05")])
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cases = {
        "years(ts)": ("ts_year", 2024),
        "months(ts)": ("ts_month", "2024-03"),
        "hours(ts)": ("ts_hour", "2024-03-05-00"),
        "truncate(3, s)": ("s_trunc", "abc"),
        "truncate(100, n)": ("n_trunc", 1200),
        "bucket(8, n)": ("n_bucket", None),
    }
    for spec, (name, expected) in cases.items():
        got_name, col = ddl.partition_transform(spec, df)
        assert got_name == name, spec
        val = df.select(col.alias("v")).head().v
        if expected is not None:
            assert val == expected, (spec, val)
        else:
            assert 0 <= val < 8
    with pytest.raises(ValueError):
        ddl.partition_transform("identity(ts, 3)")


def test_partition_transform_truncate_decimal_and_float(spark):
    """Iceberg defines truncate for decimals (v - v%W, scale kept);
    float/double have no truncate transform and must raise, not fall
    through to a string prefix (ADVICE r4)."""
    df = spark.createDataFrame([Row(d="123.45", f=1.5)]).withColumn(
        "d", F.col("d").cast("decimal(10,2)")
    )
    name, col = ddl.partition_transform("truncate(50, d)", df)
    assert name == "d_trunc"
    from decimal import Decimal

    # Iceberg spec example shape: W=50 on scale 2 → mod 0.50
    assert df.select(col.alias("v")).head().v == Decimal("123.00")
    with pytest.raises(ValueError, match="no truncate"):
        ddl.partition_transform("truncate(10, f)", df)


# --- OPTIMIZE ZORDER BY -------------------------------------------------


def test_zorder_clusters_both_dimensions(spark, tmp_path):
    """After zorder on (a, b), each output file's min-max span on BOTH
    columns must be a small fraction of the full range — the property
    file/row-group pruning needs. A linear sort would give tight 'a'
    spans but full-range 'b' spans."""
    n = 20_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % n).alias("a"),
        (F.col("id") * 40503 % n).alias("b"),
        F.col("id").alias("payload"),
    )
    t = str(tmp_path / "zt")
    dw.create_delta(df, t)
    v = dw.zorder_delta(spark, t, ["a", "b"], n_files=8)
    ops = [h["operation"] for h in dr.delta_history(t)]
    assert ops.count("OPTIMIZE ZORDER") == 1
    back = dr.read_delta(spark, t, version=v).select(
        "a", "b", F.input_file_name().alias("f")
    )
    spans = back.groupBy("f").agg(
        (F.max("a") - F.min("a")).alias("sa"),
        (F.max("b") - F.min("b")).alias("sb"),
    ).collect()
    assert len(spans) >= 4  # actually split into multiple files
    mean_sa = sum(r.sa for r in spans) / len(spans)
    mean_sb = sum(r.sb for r in spans) / len(spans)
    # 8 z-range files over 256x256 buckets → each file covers ~1/8 of
    # the z-curve; both dims should span well under the full range
    # (observed ~0.5; a linear sort gives sb ≈ n)
    assert mean_sa < 0.75 * n, mean_sa
    assert mean_sb < 0.75 * n, mean_sb
    # rows preserved exactly
    assert dr.read_delta(spark, t, version=v).count() == n


def test_zorder_rejects_bad_cols(spark, tmp_path):
    t = str(tmp_path / "zt2")
    dw.create_delta(spark.createDataFrame([Row(a=1)]), t)
    with pytest.raises(ValueError):
        dw.zorder_delta(spark, t, [])
