"""Spark 4 Python Data Source: distributed xlsx reader AND writer.

The reference opens a Box folder of Excel workbooks one pandas
`read_excel` at a time on a single machine (etl_payroll_pipeline.py:84).
The driver-side stdlib reader (io.read_excel_stdlib) reproduces that
for one file; THIS module makes the scan distributed: `xlsx` registers
through the Spark 4 ``pyspark.sql.datasource`` API, so

    register_xlsx_source(spark)
    df = spark.read.format("xlsx").load("/data/payroll/*.xlsx")

plans ONE InputPartition PER FILE and each executor parses its own
workbook with the shared stdlib kernel (io.parse_xlsx); the write half
(`df.write.format("xlsx").save(dir)`) emits one workbook per partition
through io.xlsx_payload with a rename-on-commit protocol (_XlsxWriter),
so readers never observe half-written files.  At the
reference's real shape -- thousands of monthly workbooks in a shared
folder -- the scan parallelizes to the file count instead of
serializing through the driver.  Row-level splitting inside one
workbook is not possible for xlsx (a zip container must be read
whole), so file granularity is the correct partitioning unit, same as
every production Excel connector.

Schema: all-string columns taken from the FIRST file's header row
alone: `schema()` stops reading that workbook after its first row, so
a `load` never parses data rows on the driver.  The reference's
workbooks share one layout; a mismatched later file surfaces as a loud
per-partition error, never silent column drift -- each partition
re-checks its own header against the planned schema, and parse_xlsx
refuses a data row with a value past the header (both at the action).

Each partition yields its workbook as one `pyarrow.RecordBatch`, which
PySpark hands to the JVM as is, instead of per-row tuples that a
Python worker would convert cell by cell.
"""

from __future__ import annotations

import glob as _glob
import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

__all__ = [
    "XlsxDataSource",
    "register_xlsx_source",
    "SyntheticEventsDataSource",
    "register_synthetic_events_source",
    "JsonlCommitLogDataSource",
    "register_jsonl_commitlog_sink",
]


def _expand_paths(path: str) -> list[str]:
    """Glob / directory / single-file path forms -> sorted file list.

    Remote URIs (``s3://...``, ``hdfs://...``) list through the pyarrow
    filesystem layer (fs.listdir_any) -- directory and exact-file forms
    only; globbing a remote prefix raises rather than silently matching
    nothing.  Local paths additionally support shell globs."""
    from uofi_payroll_etl_main_spark import fs as _fs

    path = _fs.canon(path)  # file:// URIs -> plain local paths
    remote = "://" in path
    if remote and any(ch in path for ch in "*?["):
        raise ValueError(
            f"glob patterns are not supported for remote URIs ({path!r}); "
            "point at a directory or an exact file"
        )
    if remote:
        names = _fs.listdir_any(path)
        if names:
            files = [
                _fs.join(path, f)
                for f in names
                if f.endswith(".xlsx") and not f.startswith((".", "_", "~"))
            ]
        else:
            files = [path]
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".xlsx") and not f.startswith((".", "_", "~"))
        )
    elif any(ch in path for ch in "*?["):
        files = sorted(f for f in _glob.glob(path) if f.endswith(".xlsx"))
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no .xlsx files match {path!r}")
    return files


class _XlsxPartition(InputPartition):
    def __init__(self, file_path: str, sheet: int) -> None:
        self.file_path = file_path
        self.sheet = sheet


class _XlsxReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema_names = [f.name for f in schema.fields]
        self.path = options.get("path")
        self.sheet = int(options.get("sheet", 0))
        if not self.path:
            raise ValueError("xlsx source requires a path (load(...))")

    def partitions(self) -> list[InputPartition]:
        return [_XlsxPartition(f, self.sheet) for f in _expand_paths(self.path)]

    def read(self, partition: _XlsxPartition):
        # executor-side: parse this partition's whole workbook with the
        # same stdlib kernel the driver reader uses; bytes come through
        # the pyarrow layer so any URI the writer can reach, the reader
        # can too (no JVM gateway in a Python worker).  parse_xlsx
        # returns rows exactly as wide as the header and raises on a
        # non-empty cell past it, so the workbook goes out as one Arrow
        # batch, which PySpark passes through without per-cell conversion
        import pyarrow as pa

        from uofi_payroll_etl_main_spark import fs as _fs
        from uofi_payroll_etl_main_spark.io import arrow_batch, parse_xlsx

        with _fs.open_read(partition.file_path) as f:
            try:
                header, rows = parse_xlsx(f, partition.sheet)
            except ValueError as exc:  # name the workbook that drifted
                raise ValueError(f"{partition.file_path}: {exc}") from exc
        if header != self.schema_names:
            raise ValueError(
                f"{partition.file_path}: header {header} does not match the "
                f"planned schema {self.schema_names} (schema comes from the "
                "first file; fix or exclude the divergent workbook)"
            )
        yield arrow_batch(rows, pa.schema([(h, pa.string()) for h in header]))


class XlsxDataSource(DataSource):
    """``spark.read.format("xlsx")`` -- see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "xlsx"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ValueError("xlsx source requires a path (load(...))")
        sheet = int(self.options.get("sheet", 0))
        from uofi_payroll_etl_main_spark import fs as _fs
        from uofi_payroll_etl_main_spark.io import xlsx_rows

        # the header is the first item xlsx_rows yields; closing the
        # generator there leaves the data rows unread
        with _fs.open_read(_expand_paths(path)[0]) as f:
            rows = xlsx_rows(f, sheet)
            header = next(rows)
            rows.close()
        return StructType([StructField(h, StringType()) for h in header])

    def reader(self, schema: StructType) -> DataSourceReader:
        return _XlsxReader(schema, dict(self.options))

    def writer(self, schema: StructType, overwrite: bool) -> "DataSourceWriter":
        return _XlsxWriter(schema, dict(self.options), overwrite)


def register_xlsx_source(spark) -> None:
    """Idempotently register the xlsx Python Data Source on a session."""
    spark.dataSource.register(XlsxDataSource)


@dataclass
class _XlsxCommit(WriterCommitMessage):
    tmp_path: str
    final_name: str
    n_rows: int


class _XlsxWriter(DataSourceWriter):
    """One workbook per partition with a rename-on-commit protocol:
    tasks write hidden ``.__tmp.*`` files (invisible to the reader's
    listing filter) AT THE DESTINATION FILESYSTEM through the
    executor-safe pyarrow layer (fs.open_write -- no JVM gateway in a
    Python worker), and the driver-side commit promotes them with the
    Hadoop FileSystem helpers (fs.rename) and drops a ``_SUCCESS``
    marker; abort removes the debris.  Driver and executors never need
    a shared LOCAL disk -- only the destination URI, the normal cluster
    contract (the FileOutputCommitter split).  A reader listing
    mid-write therefore never sees a half-written workbook -- the same
    visibility discipline as the versioned store."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool) -> None:
        self.header = [f.name for f in schema.fields]
        self.path = options.get("path")
        if not self.path:
            raise ValueError("xlsx sink requires a path (save(...))")
        self.overwrite = overwrite

    def write(self, iterator) -> "_XlsxCommit":
        from pyspark import TaskContext

        from uofi_payroll_etl_main_spark import fs as _fs
        from uofi_payroll_etl_main_spark.io import xlsx_payload

        pid = TaskContext.get().partitionId()
        rows = [tuple(r) for r in iterator]
        payload = xlsx_payload(self.header, rows)
        final_name = f"part-{pid:05d}.xlsx"
        tmp = _fs.join(self.path, f".__tmp.{final_name}")
        _fs.write_bytes(tmp, payload)
        return _XlsxCommit(tmp_path=tmp, final_name=final_name, n_rows=len(rows))

    def commit(self, messages) -> None:
        from uofi_payroll_etl_main_spark import fs as _fs

        if self.overwrite:
            # mode("overwrite"): retire the previous commit's workbooks
            # BEFORE promoting the new ones, so stale parts from a wider
            # earlier write can never mix into this dataset
            fresh = {m.final_name for m in messages}
            for name in _fs.listdir(self.path):
                if name.endswith(".xlsx") and not name.startswith(".") and name not in fresh:
                    _fs.delete(_fs.join(self.path, name))
        for m in messages:
            dst = _fs.join(self.path, m.final_name)
            _fs.delete(dst)  # Hadoop rename refuses an existing dst
            _fs.rename(m.tmp_path, dst)
        _fs.write_bytes(_fs.join(self.path, "_SUCCESS"), b"")

    def abort(self, messages) -> None:
        from uofi_payroll_etl_main_spark import fs as _fs

        for m in messages:
            try:
                _fs.delete(m.tmp_path)
            except OSError:
                pass


# --------------------------------------------------------------------------
# Custom STREAMING source: deterministic synthetic event stream with
# real offset tracking -- the Kafka-shaped seam, self-contained.
# --------------------------------------------------------------------------

class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


def _synth_event(i: int) -> tuple:
    """Deterministic event i -- pure function of the offset, so any
    replayed offset range reproduces identical rows (the property that
    makes exactly-once recovery possible at all)."""
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1, 0, 0, 0)
    etype = ("view", "click", "cart", "purchase")[(i * 2654435761) % 4]
    return (
        i,
        base + _dt.timedelta(seconds=i * 7),
        (i * 2654435761) % 997,
        etype,
        float(((i * 37) % 1000)) / 10.0,
    )


class _SyntheticEventsStreamReader(DataSourceStreamReader):
    """Offset-tracked micro-batch reader: offsets are {"i": N} row
    counters; latestOffset advances by `rows_per_batch` per poll until
    `n_total`, each batch splits into `n_parts` range partitions read
    executor-side.  Replaying any (start, end] yields identical rows,
    so checkpoint recovery is exactly-once end-to-end with an
    idempotent sink -- the contract a real broker source (Kafka /
    Kinesis) provides with its own offsets."""

    def __init__(self, options: dict) -> None:
        self.n_total = int(options.get("n_total", 1000))
        self.rows_per_batch = int(options.get("rows_per_batch", 250))
        self.n_parts = int(options.get("n_parts", 4))
        # "bounded" (default): the whole log is already available --
        # latestOffset reports the log end, so trigger(availableNow)
        # drains everything and stops (the gate shape).  "incremental":
        # the log grows rows_per_batch per poll -- pair with a
        # processingTime trigger to exercise true multi-batch progress.
        self.mode = options.get("mode", "bounded")
        if self.mode not in ("bounded", "incremental"):
            raise ValueError(f"mode must be bounded|incremental, got {self.mode!r}")
        self._committed = 0
        self._polls = 0

    def initialOffset(self) -> dict:
        return {"i": 0}

    def latestOffset(self) -> dict:
        if self.mode == "bounded":
            return {"i": self.n_total}
        # the log grows with TIME (one micro-batch worth per poll),
        # independent of consumer commits -- broker semantics
        self._polls += 1
        return {"i": min(self._polls * self.rows_per_batch, self.n_total)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["i"]), int(end["i"])
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        step = max(1, -(-(hi - lo) // self.n_parts))
        return [
            _RangePartition(a, min(a + step, hi)) for a in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield _synth_event(i)

    def commit(self, end: dict) -> None:
        self._committed = max(self._committed, int(end["i"]))


class SyntheticEventsDataSource(DataSource):
    """``spark.readStream.format("synthetic_events")`` -- see
    _SyntheticEventsStreamReader."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> StructType:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType as _Str,
            TimestampType,
        )

        return StructType(
            [
                StructField("event_id", LongType()),
                StructField("ts", TimestampType()),
                StructField("user_id", LongType()),
                StructField("event_type", _Str()),
                StructField("value", DoubleType()),
            ]
        )

    def streamReader(self, schema: StructType) -> "_SyntheticEventsStreamReader":
        return _SyntheticEventsStreamReader(dict(self.options))


def register_synthetic_events_source(spark) -> None:
    """Idempotently register the synthetic event-stream source."""
    spark.dataSource.register(SyntheticEventsDataSource)


# --------------------------------------------------------------------------
# Custom STREAMING sink: batch-id-keyed JSONL commit log -- the
# exactly-once file-sink contract at the Data Source API level.
# --------------------------------------------------------------------------

@dataclass
class _CommitLogMsg(WriterCommitMessage):
    tmp_path: str
    n_rows: int


class _JsonlCommitLogWriter(DataSourceStreamWriter):
    """Exactly-once streaming JSONL sink: tasks write their partition
    to hidden tmp files, and commit(messages, batchId) promotes them
    under ``batch=<id>/`` with a ``_SUCCESS`` marker.  A replayed
    micro-batch (crash between sink write and checkpoint commit)
    re-runs under the SAME batchId, so promotion overwrites the same
    directory -- idempotent, the foreachBatch recovery contract
    expressed as a reusable sink.  Readers take only ``_SUCCESS``-marked
    batch dirs, so a half-written batch is never visible."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_commitlog sink requires a path")
        self.fields = [f.name for f in schema.fields]

    def write(self, iterator) -> "_CommitLogMsg":
        # executor-side: the tmp file goes to the DESTINATION filesystem
        # via pyarrow (no JVM gateway in a Python worker); the driver's
        # commit() promotes it -- no shared local disk assumed
        import json as _json
        import uuid

        from pyspark import TaskContext

        from uofi_payroll_etl_main_spark import fs as _fs

        pid = TaskContext.get().partitionId()
        tmp = _fs.join(self.path, f".__tmp.{uuid.uuid4().hex}.p{pid:05d}.jsonl")
        n = 0
        with _fs.open_write(tmp) as f:
            for row in iterator:
                rec = {k: _norm_json(v) for k, v in zip(self.fields, row)}
                f.write((_json.dumps(rec, sort_keys=True) + "\n").encode())
                n += 1
        return _CommitLogMsg(tmp_path=tmp, n_rows=n)

    def commit(self, messages, batchId: int) -> None:
        from uofi_payroll_etl_main_spark import fs as _fs

        bdir = _fs.join(self.path, f"batch={batchId}")
        _fs.delete(bdir)  # replayed batch: overwrite, idempotent (no-op if new)
        _fs.mkdirs(bdir)
        for i, m in enumerate(messages):
            if m is None:
                continue
            _fs.rename(m.tmp_path, _fs.join(bdir, f"part-{i:05d}.jsonl"))
        _fs.write_bytes(_fs.join(bdir, "_SUCCESS"), b"")

    def abort(self, messages, batchId: int) -> None:
        from uofi_payroll_etl_main_spark import fs as _fs

        for m in messages:
            if m is None:
                continue
            try:
                _fs.delete(m.tmp_path)
            except OSError:
                pass


def _norm_json(v):
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


class JsonlCommitLogDataSource(DataSource):
    """``df.writeStream.format("jsonl_commitlog")`` -- see
    _JsonlCommitLogWriter."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_commitlog"

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _JsonlCommitLogWriter(schema, dict(self.options))


def register_jsonl_commitlog_sink(spark) -> None:
    """Idempotently register the commit-log streaming sink."""
    spark.dataSource.register(JsonlCommitLogDataSource)
