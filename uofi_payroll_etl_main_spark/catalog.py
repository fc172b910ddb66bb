"""File-catalog source (SURVEY.md section 2.1 S2; picks P5).

The reference builds a table of remote-file metadata by recursively
walking folders (`list_files_recursive`, etl_payroll_pipeline.py:30-51)
and then SELECTS which files to load by querying that table (:67-75).
We reproduce that as a generic connector-agnostic catalog: a recursive
listing of any local/posix root -> a small driver-built DataFrame with
the reference's 7-column schema (:41-49).

Remote object stores (the reference's Box folders, S3, ...) plug in by
implementing `list_entries()`; the engine only ever sees the catalog
DataFrame, never connector SDK types.  Listing stays on the driver --
catalogs are metadata-scale (1 row per file), not data-scale; at 100 TB
the DATA is read by distributed `spark.read`, only the listing is small.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .io import local_frame

__all__ = ["CATALOG_SCHEMA", "list_entries", "catalog_frame", "build_catalog", "stamped_name"]

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("extension", T.StringType()),
        T.StructField("file_id", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("modified_at", T.TimestampType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)


def list_entries(root: str) -> Iterator[dict]:
    """Recursive DFS listing -> one dict per file (ref :30-51).

    `file_id` is the relative path (stable, connector-agnostic analog of
    the reference's Box file id); extension is lowercase with dot (:44).
    """
    root = os.path.abspath(root)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, root)
            st = os.stat(full)
            ext = os.path.splitext(name)[1].lower()
            yield {
                "file_name": name,
                "file_path": full,
                "extension": ext,
                "file_id": rel,
                "size_bytes": int(st.st_size),
                "modified_at": datetime.fromtimestamp(st.st_mtime, tz=timezone.utc).replace(
                    tzinfo=None
                ),
                "created_at": datetime.fromtimestamp(st.st_ctime, tz=timezone.utc).replace(
                    tzinfo=None
                ),
            }


def catalog_frame(spark: SparkSession, entries: Iterable[dict]) -> DataFrame:
    """Catalog rows (dicts keyed by CATALOG_SCHEMA's names) as the catalog
    DataFrame, an Arrow-built local_frame: a naive timestamp is a UTC
    instant (what list_entries yields) and an aware one keeps its
    instant, whatever the process time zone."""
    names = CATALOG_SCHEMA.names
    return local_frame(spark, [tuple(e.get(n) for n in names) for e in entries], CATALOG_SCHEMA)


def build_catalog(spark: SparkSession, root: str) -> DataFrame:
    """S2 -- catalog DataFrame for a directory tree (ref :62, :105)."""
    return catalog_frame(spark, list_entries(root))


def stamped_name(prefix: str, ext: str, now: datetime | None = None) -> str:
    """S7 -- date-stamped output naming (ref :388, :392-393):
    ``{prefix}_{MMDDYYYY_HHMM}.{ext}``."""
    now = now or datetime.now()
    return f"{prefix}_{now.strftime('%m%d%Y_%H%M')}.{ext.lstrip('.')}"
