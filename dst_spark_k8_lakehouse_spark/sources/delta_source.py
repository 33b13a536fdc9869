"""``format("delta_native")`` — a Spark 4 Python DataSource exposing
the jar-free native Delta stack as a FIRST-CLASS Spark source, batch
and streaming:

    spark.dataSource.register(DeltaNativeDataSource)
    spark.read.format("delta_native").load(path)          # batch read
    spark.readStream.format("delta_native").load(path)    # stream read
    df.write.format("delta_native").mode("append").save(path)  # write
    df.writeStream.format("delta_native").start(path)     # stream write

This is the idiomatic-Spark face of ``plans/delta_reader``: instead of
a library call, the table plugs into any DataFrame/SQL pipeline and
any Structured Streaming query. Design:

- **Batch**: one ``InputPartition`` per live data file; ``read`` runs
  EXECUTOR-side with pyarrow and yields Arrow ``RecordBatch``es (the
  API's vectorized path — no Python row loop), with column-mapping
  physical→logical renames applied and Hive partition values injected
  as constant columns, then cast to the table schema's Arrow form.
- **Filter pushdown**: ``pushFilters`` handles ``EqualTo``/``In`` on
  partition columns by pruning the FILE LIST driver-side (the same
  pruning ``delta_reader.read_delta(partition_filter=…)`` does);
  everything else is returned to Spark to evaluate.
- **Streaming**: offsets are log versions. ``partitions(start, end)``
  parses exactly the commit files in ``(start, end]`` and emits their
  ``dataChange: true`` add actions — so OPTIMIZE/compaction commits
  (``dataChange: false``) are invisible to the stream, and a
  ``dataChange: true`` remove (UPDATE/DELETE/overwrite) raises: the
  documented append-only streaming contract (real Delta's source
  behaves the same without ignoreChanges).
- **Writes** are the protocol's own two-phase commit: executors write
  uniquely-named parquet files (Hive-partitioned, physical column
  names) and return their add actions as commit messages; the driver
  publishes ONE atomic put-if-absent log commit (``mode("append")`` /
  ``mode("overwrite")``; schema must match — evolution goes through
  ``delta_writer.append_delta(merge_schema=True)``). Stream writes
  commit each epoch with a ``SetTransaction`` watermark
  (``.option("txnAppId", …)``), so replayed micro-batches are
  exactly-once in the TABLE, not just in the checkpoint.

Options: ``path`` (table root), ``versionAsOf`` (batch time travel),
``txnAppId`` (stream-write idempotence key).

Scale: log replay is driver-side metadata work; data reads are
per-file executor tasks over Arrow batches — the same physical shape
as a parquet scan, one task per file.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    EqualTo,
    In,
    InputPartition,
    WriterCommitMessage,
)

from dst_spark_k8_lakehouse_spark.plans import delta_reader


def _replay_arrow(path: str, version: int | None = None) -> dict:
    """``delta_reader._replay`` without a SparkSession: checkpoint
    parquet is read with pyarrow so DataSource planning never needs a
    Spark context."""
    state: dict[str, Any] = {
        "files": {}, "metaData": None, "protocol": None, "txns": {},
    }
    commits = delta_reader._commit_files(path)
    cp = delta_reader._checkpoint(path)
    if not commits and cp is None:
        raise ValueError(f"no Delta log at {path}")
    start = 0
    if cp is not None and (version is None or cp[0] <= version):
        import pyarrow.parquet as pq

        cp_v, cp_files = cp
        for f in cp_files:
            for row in pq.read_table(f).to_pylist():
                for key in ("metaData", "add", "remove", "protocol",
                            "txn"):
                    if row.get(key) is not None:
                        delta_reader._apply_action(state, {key: row[key]})
        start = cp_v + 1
    for v, f in commits:
        if v < start or (version is not None and v > version):
            continue
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    delta_reader._apply_action(state, json.loads(line))
    if state["metaData"] is None:
        raise ValueError(f"no metaData action in Delta log at {path}")
    return state


@dataclass
class _FilePartition(InputPartition):
    """Self-contained (picklable) description of one data file."""

    path: str
    # [(physical name in the file, logical name)] in schema order for
    # DATA columns; partition columns ride in `values`
    columns: list = field(default_factory=list)
    # {logical partition column: raw string value or None}
    values: dict = field(default_factory=dict)
    # logical schema DDL (for executor-side Arrow casting)
    schema_json: str = ""
    order: list = field(default_factory=list)
    # deletion-vector descriptor of this add action (None = no DVs);
    # applied EXECUTOR-SIDE: each task decodes its own file's bitmap
    # (KB-scale) and drops rows by position — the distributed DV read
    dv: dict | None = None
    # table root, needed to resolve "u"-storage DV file names
    table: str = ""
    # id-mode column mapping: [(delta.columnMapping.id, logical name)]
    # — file columns match by embedded parquet field id, never by
    # (opaque) physical name; None = name/none mode, use `columns`
    ids: list | None = None


def _read_file_partition(p: _FilePartition) -> Iterator["Any"]:
    """Executor-side: one parquet file → logical-schema RecordBatches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    logical = T.StructType.fromJson(json.loads(p.schema_json))
    target = to_arrow_schema(logical)
    by_name = {f.name: f for f in logical.fields}
    tbl = pq.read_table(p.path)
    n = tbl.num_rows
    cols = {}
    if p.ids is not None:
        # id mode: resolve file columns by their embedded parquet
        # field id (PARQUET:field_id metadata) — names are opaque
        by_id = {}
        for i, fld in enumerate(tbl.schema):
            fid = (fld.metadata or {}).get(b"PARQUET:field_id")
            if fid is not None:
                by_id[int(fid)] = i
        if not by_id:
            raise NotImplementedError(
                f"id-mode Delta table but data file {p.path} embeds "
                "no parquet field ids — an id-matched read would "
                "silently return nulls"
            )
        for fid, logi in p.ids:
            if fid in by_id:
                cols[logi] = tbl.column(by_id[fid])
            else:
                # column added after this file was written: null
                cols[logi] = pa.nulls(n, type=target.field(logi).type)
    else:
        for phys, logi in p.columns:
            if phys in tbl.schema.names:
                cols[logi] = tbl.column(phys)
            else:
                # column added (mergeSchema/ADD COLUMN) after this file
                # was written: the spec reads it as null
                cols[logi] = pa.nulls(n, type=target.field(logi).type)
    for c, raw in p.values.items():
        pa_type = target.field(c).type
        if raw is None:
            arr = pa.nulls(n, type=pa_type)
        else:
            dt = by_name[c].dataType
            if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                               T.ByteType)):
                v: Any = int(raw)
            elif isinstance(dt, (T.DoubleType, T.FloatType)):
                v = float(raw)
            elif isinstance(dt, T.BooleanType):
                v = raw == "true"
            elif isinstance(dt, T.DateType):
                import datetime

                v = datetime.date.fromisoformat(raw)
            else:
                v = raw
            arr = pa.array([v] * n).cast(pa_type)
        cols[c] = arr
    out = pa.table(
        {name: cols[name] for name in p.order}
    ).cast(target)
    if p.dv:
        import numpy as np

        from dst_spark_k8_lakehouse_spark.plans import delta_dv

        mask = np.ones(n, dtype=bool)
        mask[delta_dv.dv_positions(p.table, p.dv)] = False
        out = out.filter(pa.array(mask))
    yield from out.to_batches()


def _literal_array(raw, dt: T.DataType, pa_type, n: int):
    """One partition-value literal as an Arrow array of length n."""
    import pyarrow as pa

    if raw is None:
        return pa.nulls(n, type=pa_type)
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType,
                       T.ByteType)):
        v: Any = int(raw)
    elif isinstance(dt, (T.DoubleType, T.FloatType)):
        v = float(raw)
    elif isinstance(dt, T.BooleanType):
        v = raw == "true"
    elif isinstance(dt, T.DateType):
        import datetime

        v = datetime.date.fromisoformat(raw)
    else:
        v = raw
    return pa.array([v] * n).cast(pa_type)


@dataclass
class _CDFPartition(InputPartition):
    """One change unit of the CHANGE DATA FEED read (cdc file /
    insert file / delete file+positions), self-contained for
    executor-side Arrow reading."""

    kind: str = ""          # "cdc" | "insert" | "delete"
    path: str = ""          # absolute parquet path
    positions: list | None = None   # explicit row indexes, None = all
    values: dict = field(default_factory=dict)  # {logical part col: raw}
    columns: list = field(default_factory=list)  # [(phys, logical)]
    schema_json: str = ""   # FULL output schema incl. the CDF columns
    order: list = field(default_factory=list)   # table columns, logical
    version: int = 0
    ts: int = 0             # commit timestamp, epoch millis


def _read_cdf_partition(p: _CDFPartition) -> Iterator["Any"]:
    """Executor-side: one change unit → RecordBatches carrying
    ``_change_type`` / ``_commit_version`` / ``_commit_timestamp``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    from dst_spark_k8_lakehouse_spark.plans.delta_cdf import (
        CHANGE_TYPE,
        COMMIT_TS,
        COMMIT_VERSION,
    )

    logical = T.StructType.fromJson(json.loads(p.schema_json))
    target = to_arrow_schema(logical)
    by_name = {f.name: f for f in logical.fields}
    tbl = pq.read_table(p.path)
    n = tbl.num_rows
    cols = {}
    for phys, logi in p.columns:
        if phys in tbl.schema.names:
            cols[logi] = tbl.column(phys)
        else:
            cols[logi] = pa.nulls(n, type=target.field(logi).type)
    for c, raw in p.values.items():
        cols[c] = _literal_array(
            raw, by_name[c].dataType, target.field(c).type, n
        )
    if p.kind == "cdc":
        cols[CHANGE_TYPE] = tbl.column(CHANGE_TYPE)
    else:
        cols[CHANGE_TYPE] = pa.array([p.kind] * n)
    cols[COMMIT_VERSION] = pa.array([p.version] * n, type=pa.int64())
    cols[COMMIT_TS] = pa.array(
        np.full(n, p.ts * 1000, dtype="int64"), type=pa.timestamp("us")
    )
    out = pa.table(
        {name: cols[name]
         for name in [*p.order, CHANGE_TYPE, COMMIT_VERSION, COMMIT_TS]}
    ).cast(target)
    if p.positions is not None:
        mask = np.zeros(n, dtype=bool)
        mask[p.positions] = True
        out = out.filter(pa.array(mask))
    yield from out.to_batches()


class _CDFPlanner:
    """Shared planning state for the batch and streaming CDF readers:
    resolves schema / column mapping once and turns
    ``delta_cdf.change_units`` into ``_CDFPartition``s."""

    def __init__(self, table: str) -> None:
        from dst_spark_k8_lakehouse_spark.plans.delta_cdf import (
            CHANGE_TYPE,
            COMMIT_TS,
            COMMIT_VERSION,
        )

        self.table = table
        state = _replay_arrow(table, None)
        meta = state["metaData"]
        self.mode, self.phys = delta_reader._mapping(meta)
        if self.mode == "id":
            raise NotImplementedError(
                "change feed over id-mode column mapping is not "
                "supported"
            )
        base = delta_reader.schema_from_json(meta["schemaString"])
        self.base = base
        self.part_cols = delta_reader._partition_cols(
            meta, base, self.phys
        )
        self.out_schema = T.StructType(
            list(base.fields)
            + [
                T.StructField(CHANGE_TYPE, T.StringType(), False),
                T.StructField(COMMIT_VERSION, T.LongType(), False),
                T.StructField(COMMIT_TS, T.TimestampType(), False),
            ]
        )

    def to_partitions(self, units: list[dict]) -> list[_CDFPartition]:
        data_cols = [
            (self.phys.get(f.name, f.name), f.name)
            for f in self.base.fields
            if f.name not in self.part_cols
        ]
        all_cols = [
            (self.phys.get(f.name, f.name), f.name)
            for f in self.base.fields
        ]
        out = []
        for u in units:
            absp = (
                u["path"]
                if os.path.isabs(u["path"])
                else os.path.join(self.table, *u["path"].split("/"))
            )
            if not os.path.exists(absp):
                raise ValueError(
                    f"change-feed source file {u['path']} no longer "
                    "exists (vacuumed) — CDF reaches only as far back "
                    "as retention"
                )
            is_cdc = u["kind"] == "cdc"
            pv_raw = u["pv"] or {}
            out.append(
                _CDFPartition(
                    kind=u["kind"],
                    path=absp,
                    positions=u["positions"],
                    values={} if is_cdc else {
                        # physical-then-logical, like delta_reader._pv:
                        # this library's writer keys partitionValues by
                        # the LOGICAL name under column mapping
                        c: pv_raw.get(
                            self.phys.get(c, c), pv_raw.get(c)
                        )
                        for c in self.part_cols
                    },
                    columns=all_cols if is_cdc else data_cols,
                    schema_json=self.out_schema.json(),
                    order=[f.name for f in self.base.fields],
                    version=u["version"],
                    ts=u["ts"],
                )
            )
        return out


class _CDFBatchReader(DataSourceReader):
    def __init__(self, table: str, starting: int,
                 ending: int | None) -> None:
        self.planner = _CDFPlanner(table)
        self.starting = starting
        self.ending = ending

    def partitions(self):
        from dst_spark_k8_lakehouse_spark.plans import delta_cdf

        return self.planner.to_partitions(
            delta_cdf.change_units(
                self.planner.table, self.starting, self.ending
            )
        )

    def read(self, partition: _CDFPartition):
        return _read_cdf_partition(partition)


class _CDFStreamReader(DataSourceStreamReader):
    """Streaming CHANGE DATA FEED: offsets are log versions; each
    micro-batch carries the change rows of the commits in
    ``(start, end]`` — the incremental-CDC shape downstream sync
    pipelines consume. DML commits that a plain ``delta_native``
    stream refuses (data-changing removes) stream here as their
    change sets."""

    def __init__(self, table: str, starting: int) -> None:
        self.planner = _CDFPlanner(table)
        self.starting = starting

    def initialOffset(self):  # noqa: N802
        return {"version": self.starting - 1}

    def latestOffset(self):  # noqa: N802
        commits = delta_reader._commit_files(self.planner.table)
        return {"version": commits[-1][0] if commits else -1}

    def partitions(self, start, end):
        from dst_spark_k8_lakehouse_spark.plans import delta_cdf

        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        have = dict(
            delta_reader._commit_files(self.planner.table)
        )
        for v in range(lo + 1, hi + 1):
            if v not in have:
                raise ValueError(
                    f"commit {v} of {self.planner.table} is no longer "
                    "in the log (cleaned up past a checkpoint); this "
                    "CDF stream cannot resume exactly — restart it"
                )
        return self.planner.to_partitions(
            delta_cdf.change_units(self.planner.table, lo + 1, hi)
        )

    def read(self, partition: _CDFPartition):
        return _read_cdf_partition(partition)

    def commit(self, end) -> None:
        pass


class _BatchReader(DataSourceReader):
    def __init__(self, table: str, version: int | None) -> None:
        self.table = table
        state = _replay_arrow(table, version)
        meta = state["metaData"]
        self.schema = delta_reader.schema_from_json(meta["schemaString"])
        self.mode, self.phys = delta_reader._mapping(meta)
        self.ids = (
            delta_reader._mapping_ids(meta) if self.mode == "id" else None
        )
        self.part_cols = delta_reader._partition_cols(
            meta, self.schema, self.phys
        )
        self.files = dict(state["files"])

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Two pruning tiers from Catalyst's pushed filters: partition
        equality/IN on the log's partitionValues, then (r7) DATA
        SKIPPING — range/equality filters on ANY column checked
        against each add's footer-derived ``stats`` bounds. Every
        filter is returned as remaining (Spark re-applies it exactly;
        both prunings are supersets)."""
        from pyspark.sql.datasource import (
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        _OPS = {
            EqualTo: "==", In: "in", GreaterThan: ">",
            GreaterThanOrEqual: ">=", LessThan: "<",
            LessThanOrEqual: "<=",
        }
        predicates: list[tuple] = []
        remaining = []
        for f in filters:
            eq_one = (
                isinstance(f, EqualTo)
                and len(f.attribute) == 1
                and f.attribute[0] in self.part_cols
            )
            in_one = (
                isinstance(f, In)
                and len(f.attribute) == 1
                and f.attribute[0] in self.part_cols
            )
            if eq_one or in_one:
                col = f.attribute[0]
                # In.value is the tuple of values; EqualTo.value a scalar
                wanted = {
                    delta_reader._pv_str(v)
                    for v in (f.value if in_one else [f.value])
                }
                self.files = {
                    rel: a
                    for rel, a in self.files.items()
                    if delta_reader._pv(a, self.part_cols, self.phys)[col]
                    in wanted
                }
                # spark may re-apply the filter; that is harmless
            elif type(f) in _OPS and len(f.attribute) == 1:
                predicates.append((f.attribute[0], _OPS[type(f)], f.value))
            remaining.append(f)
        if predicates:
            self.files = {
                rel: a for rel, a in self.files.items()
                if delta_reader._stats_keep(a, predicates, self.phys)
            }
        return iter(remaining)

    def partitions(self):
        data_fields = [
            f for f in self.schema.fields if f.name not in self.part_cols
        ]
        columns = [
            (self.phys.get(f.name, f.name), f.name) for f in data_fields
        ]
        id_cols = (
            [(self.ids[f.name], f.name) for f in data_fields]
            if self.ids is not None else None
        )
        out = []
        for rel, a in sorted(self.files.items()):
            absp = rel if os.path.isabs(rel) else os.path.join(
                self.table, rel
            )
            pv = delta_reader._pv(a, self.part_cols, self.phys)
            out.append(
                _FilePartition(
                    path=absp,
                    columns=columns,
                    values=pv,
                    schema_json=self.schema.json(),
                    order=[f.name for f in self.schema.fields],
                    dv=a.get("deletionVector"),
                    table=self.table,
                    ids=id_cols,
                )
            )
        return out

    def read(self, partition: _FilePartition):
        return _read_file_partition(partition)


class _StreamReader(DataSourceStreamReader):
    def __init__(self, table: str) -> None:
        self.table = table
        state = _replay_arrow(table, None)
        meta = state["metaData"]
        self.schema = delta_reader.schema_from_json(meta["schemaString"])
        self.mode, self.phys = delta_reader._mapping(meta)
        self.ids = (
            delta_reader._mapping_ids(meta) if self.mode == "id" else None
        )
        self.part_cols = delta_reader._partition_cols(
            meta, self.schema, self.phys
        )

    def initialOffset(self):  # noqa: N802
        return {"version": -1}

    def latestOffset(self):  # noqa: N802
        commits = delta_reader._commit_files(self.table)
        last = commits[-1][0] if commits else -1
        cp = delta_reader._checkpoint(self.table)
        if cp is not None:
            last = max(last, cp[0])
        return {"version": last}

    def partitions(self, start, end):
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        data_fields = [
            f for f in self.schema.fields if f.name not in self.part_cols
        ]
        columns = [
            (self.phys.get(f.name, f.name), f.name) for f in data_fields
        ]
        id_cols = (
            [(self.ids[f.name], f.name) for f in data_fields]
            if self.ids is not None else None
        )
        out = []
        by_version = dict(delta_reader._commit_files(self.table))
        for v in range(lo + 1, hi + 1):
            f = by_version.get(v)
            if f is None:
                # a missing commit in the requested range means the log
                # prefix was checkpoint-cleaned: emitting nothing would
                # silently DROP those versions' rows from the stream
                raise ValueError(
                    f"commit {v} of {self.table} is no longer in the "
                    "log (cleaned up past a checkpoint); this stream "
                    "cannot resume exactly — restart it from a fresh "
                    "checkpoint"
                )
            with open(f) as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    d = json.loads(line)
                    if "remove" in d and d["remove"].get(
                        "dataChange", True
                    ):
                        raise ValueError(
                            f"version {v} of {self.table} removed data "
                            "(UPDATE/DELETE/overwrite); the delta_native "
                            "stream supports append-only history"
                        )
                    if "add" in d and d["add"].get("dataChange", True):
                        a = d["add"]
                        rel = a["path"]
                        out.append(
                            _FilePartition(
                                path=rel
                                if os.path.isabs(rel)
                                else os.path.join(self.table, rel),
                                columns=columns,
                                values=delta_reader._pv(
                                    a, self.part_cols, self.phys
                                ),
                                schema_json=self.schema.json(),
                                order=[
                                    fl.name for fl in self.schema.fields
                                ],
                                ids=id_cols,
                            )
                        )
        return out

    def read(self, partition: _FilePartition):
        return _read_file_partition(partition)

    def commit(self, end) -> None:
        pass


@dataclass
class _WriteMessage(WriterCommitMessage):
    adds: list = field(default_factory=list)


def _hive_escape(val: str) -> str:
    from dst_spark_k8_lakehouse_spark.plans import delta_writer

    return delta_writer._hive_seg_w("x", val).split("=", 1)[1]


class _DeltaWriter(DataSourceArrowWriter):
    """Two-phase commit onto the native log, the protocol's own shape:
    executors write uniquely-named parquet files straight into the
    table (one per task × partition value) and report their add
    actions as commit messages; the DRIVER publishes them in ONE
    atomic put-if-absent log commit (retried on lost races), so
    readers never see a partial write and an aborted job leaves only
    unreferenced garbage for ``vacuum_delta``."""

    def __init__(self, table: str, overwrite: bool,
                 df_schema: T.StructType,
                 lineage_dir: str | None = None) -> None:
        self.table = table
        self.overwrite = overwrite
        # .option("lineagedir", …): commit() runs in Spark's
        # Python-runner process, where the session's in-process
        # lineage.watch_commits registry is invisible — the sink
        # location must travel with the write options
        self.lineage_dir = lineage_dir
        state = _replay_arrow(table, None)
        meta = state["metaData"]
        table_schema = delta_reader.schema_from_json(meta["schemaString"])
        self.mode, self.phys = delta_reader._mapping(meta)
        self.ids = (
            delta_reader._mapping_ids(meta) if self.mode == "id" else None
        )
        self.part_cols = delta_reader._partition_cols(
            meta, table_schema, self.phys
        )
        expected = [f.name for f in table_schema.fields]
        if sorted(df_schema.fieldNames()) != sorted(expected):
            raise ValueError(
                f"write schema {df_schema.fieldNames()} != table "
                f"schema {expected} (use delta_writer.append_delta("
                "merge_schema=True) to evolve the table)"
            )
        from dst_spark_k8_lakehouse_spark.plans.delta_writer import (
            _delta_type,
        )

        for f in df_schema.fields:
            t = table_schema[f.name].dataType
            # compared as serialized: nested nullability is not a type
            if _delta_type(f.dataType) != _delta_type(t):
                raise ValueError(
                    f"column {f.name!r} type {f.dataType.simpleString()} "
                    f"!= table type {t.simpleString()}"
                )
        self.order = expected

    def write(self, batches) -> _WriteMessage:
        import time
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        blist = list(batches)
        if not blist:  # empty input partition: nothing to add
            return _WriteMessage(adds=[])
        tbl = pa.Table.from_batches(blist).select(self.order)
        adds = []
        if self.part_cols:
            import pyarrow.compute as pc

            keys = tbl.select(self.part_cols)
            groups = keys.group_by(self.part_cols).aggregate([])
            combos = groups.to_pylist()
        else:
            combos = [{}]
        data_cols = [c for c in self.order if c not in self.part_cols]
        for combo in combos:
            part = tbl
            if combo:
                import pyarrow.compute as pc

                mask = None
                for c, v in combo.items():
                    m = (
                        pc.is_null(part.column(c))
                        if v is None
                        else pc.equal(part.column(c), pa.scalar(v))
                    )
                    mask = m if mask is None else pc.and_(mask, m)
                part = part.filter(mask)
            out = part.select(data_cols).rename_columns(
                [self.phys.get(c, c) for c in data_cols]
            )
            if self.ids is not None:
                # id mode: embed each column's delta.columnMapping.id
                # as a parquet field id so every reader id-matches
                out = out.cast(
                    pa.schema(
                        [
                            out.schema.field(i).with_metadata(
                                {
                                    b"PARQUET:field_id": str(
                                        self.ids[c]
                                    ).encode()
                                }
                            )
                            for i, c in enumerate(data_cols)
                        ]
                    )
                )
            pv = {
                self.phys.get(c, c): delta_reader._pv_str(combo.get(c))
                for c in self.part_cols
            }
            name = f"part-{uuid.uuid4().hex}.snappy.parquet"
            segs = [
                f"{self.phys.get(c, c)}="
                + (
                    delta_reader._HIVE_NULL
                    if combo.get(c) is None
                    else _hive_escape(delta_reader._pv_str(combo.get(c)))
                )
                for c in self.part_cols
            ]
            rel = "/".join(segs + [name]) if segs else name
            dst = os.path.join(self.table, *rel.split("/"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            pq.write_table(out, dst, compression="snappy")
            add = {
                "path": rel,
                "partitionValues": pv,
                "size": os.path.getsize(dst),
                "modificationTime": int(time.time() * 1000),
                "dataChange": True,
            }
            from dst_spark_k8_lakehouse_spark.plans import delta_writer

            stats = delta_writer._file_stats_json(dst)
            if stats is not None:
                add["stats"] = stats
            adds.append({"add": add})
        return _WriteMessage(adds=adds)

    def _all_adds(self, messages) -> list:
        return [a for m in messages if m is not None for a in m.adds]

    def commit(self, messages) -> None:
        from dst_spark_k8_lakehouse_spark import lineage
        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        with lineage.commit_watch(self.lineage_dir):
            self._commit_adds(messages, delta_writer)

    def _commit_adds(self, messages, delta_writer) -> None:
        adds = self._all_adds(messages)
        for _ in range(delta_writer._MAX_COMMIT_RETRIES):
            actions: list = []
            state = _replay_arrow(self.table, None)
            if self.overwrite:
                import time

                now = int(time.time() * 1000)
                actions += [
                    {
                        "remove": {
                            "path": p,
                            "deletionTimestamp": now,
                            "dataChange": True,
                        }
                    }
                    for p in state["files"]
                ]
            actions += adds
            actions.append(delta_writer._commit_info("WRITE"))
            try:
                delta_writer._commit(
                    self.table, delta_writer._next_version(self.table),
                    actions, pre_state=state,
                )
                return
            except FileExistsError:
                continue
        raise RuntimeError(f"write to {self.table} lost too many races")

    def abort(self, messages) -> None:
        for a in self._all_adds(messages):
            try:
                os.unlink(os.path.join(self.table, *a["add"]["path"].split("/")))
            except OSError:
                pass


class _DeltaStreamWriter(_DeltaWriter, DataSourceStreamWriter):
    """Streaming epochs commit with the spec's SetTransaction action:
    a replayed micro-batch whose (app, batchId) watermark is already
    in the log is NOT re-committed — exactly-once table state under
    foreachBatch-style retries, same contract as
    ``streaming/delta_sink.stream_to_delta``."""

    def __init__(self, table: str, overwrite: bool,
                 df_schema: T.StructType, app_id: str,
                 lineage_dir: str | None = None) -> None:
        _DeltaWriter.__init__(
            self, table, overwrite, df_schema, lineage_dir
        )
        self.app_id = app_id

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        from dst_spark_k8_lakehouse_spark import lineage

        with lineage.commit_watch(self.lineage_dir):
            self._commit_batch(messages, batchId)

    def _commit_batch(self, messages, batchId: int) -> None:  # noqa: N803
        import time

        from dst_spark_k8_lakehouse_spark.plans import delta_writer

        adds = self._all_adds(messages)
        for _ in range(delta_writer._MAX_COMMIT_RETRIES):
            state = _replay_arrow(self.table, None)
            if state["txns"].get(self.app_id, -1) >= batchId:
                return  # replayed batch: already committed
            actions = list(adds)
            actions.append(
                {
                    "txn": {
                        "appId": self.app_id,
                        "version": int(batchId),
                        "lastUpdated": int(time.time() * 1000),
                    }
                }
            )
            actions.append(delta_writer._commit_info("STREAMING UPDATE"))
            try:
                delta_writer._commit(
                    self.table, delta_writer._next_version(self.table),
                    actions, pre_state=state,
                )
                return
            except FileExistsError:
                continue
        raise RuntimeError(
            f"stream write to {self.table} lost too many races"
        )

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        _DeltaWriter.abort(self, messages)


class DeltaNativeDataSource(DataSource):
    """``spark.dataSource.register(DeltaNativeDataSource)`` then use
    ``format("delta_native")`` for batch and streaming reads AND
    writes (``df.write.format("delta_native").mode("append"|
    "overwrite").save(path)``; ``writeStream`` commits each epoch with
    a SetTransaction idempotence watermark)."""

    @classmethod
    def name(cls) -> str:
        return "delta_native"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("delta_native needs .load(<table path>)")
        return path

    def _cdf(self) -> bool:
        return str(
            self.options.get("readchangefeed", "false")
        ).lower() == "true"

    def schema(self) -> T.StructType:
        if self._cdf():
            return _CDFPlanner(self._path()).out_schema
        state = _replay_arrow(self._path(), None)
        return delta_reader.schema_from_json(
            state["metaData"]["schemaString"]
        )

    def reader(self, schema: T.StructType) -> DataSourceReader:
        if self._cdf():
            s = int(self.options.get("startingversion", 0))
            e = self.options.get("endingversion")
            return _CDFBatchReader(
                self._path(), s, int(e) if e is not None else None
            )
        v = self.options.get("versionasof")
        return _BatchReader(
            self._path(), int(v) if v is not None else None
        )

    def streamReader(self, schema: T.StructType) -> DataSourceStreamReader:  # noqa: N802
        if self._cdf():
            return _CDFStreamReader(
                self._path(),
                int(self.options.get("startingversion", 0)),
            )
        return _StreamReader(self._path())

    def writer(self, schema: T.StructType, overwrite: bool) -> _DeltaWriter:
        return _DeltaWriter(
            self._path(), overwrite, schema,
            self.options.get("lineagedir"),
        )

    def streamWriter(  # noqa: N802
        self, schema: T.StructType, overwrite: bool
    ) -> _DeltaStreamWriter:
        app = self.options.get(
            "txnappid", f"delta_native-stream:{self._path()}"
        )
        return _DeltaStreamWriter(
            self._path(), overwrite, schema, app,
            self.options.get("lineagedir"),
        )


def register(spark) -> None:
    """Register the source (idempotent) and ship the package so
    executor-side ``read`` can unpickle the partition functions."""
    from dst_spark_k8_lakehouse_spark.shipping import ensure_shipped

    ensure_shipped(spark)
    # required whenever a Python source implements pushFilters
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DeltaNativeDataSource)
