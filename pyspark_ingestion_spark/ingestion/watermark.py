"""Incremental-load watermark state ("sync file").

Parity: the reference keeps one JSON file per table *inside the table
directory* with shape
``{"sync": {"system", "table_name", "ref_column", "ref_last_value"}}``
and format ``%Y-%m-%dT%H:%M:%S.%fZ`` (reference ingestion.py:143-164,
constants.py:26). The same shape is kept here for drop-in compatibility,
but reads/writes go through one small class so a metadata-table backend
can replace the JSON file without touching the pipeline.

This is driver-side scalar state — a few hundred bytes per table — so a
local/object-store JSON file is the right tool even at 100 TB; the data
path never touches it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

SYNC_FILENAME = "sync.json"
SYNC_DATETIME_FORMAT = "%Y-%m-%dT%H:%M:%S.%fZ"


@dataclass
class Watermark:
    system: str
    table_name: str
    ref_column: str
    ref_last_value: str  # SYNC_DATETIME_FORMAT string

    def as_datetime(self) -> dt.datetime:
        """The watermark boundary as a tz-aware UTC datetime.

        The sync-file string is UTC by contract (the write side formats
        with ``date_format`` in the pinned-UTC session — pipeline.py).
        The read side must be UTC too: a NAIVE datetime handed to
        ``F.lit`` is converted through ``time.mktime`` in the *driver OS
        timezone* (verified in PySpark 4.1.2 DatetimeConverter), so on
        any non-UTC driver every batch boundary would shift by the UTC
        offset — silently skipping (TZ west) or re-ingesting (TZ east)
        up to offset-hours of rows per run. A tz-aware value goes
        through ``calendar.timegm`` instead, which is TZ-independent.
        """
        naive = dt.datetime.strptime(self.ref_last_value, SYNC_DATETIME_FORMAT)
        return naive.replace(tzinfo=dt.timezone.utc)

    def to_dict(self) -> dict:
        return {
            "sync": {
                "system": self.system,
                "table_name": self.table_name,
                "ref_column": self.ref_column,
                "ref_last_value": self.ref_last_value,
            }
        }

    @classmethod
    def from_dict(cls, d: dict) -> "Watermark":
        s = d["sync"]
        return cls(s["system"], s["table_name"], s["ref_column"], s["ref_last_value"])


def format_watermark(ts: dt.datetime) -> str:
    return ts.strftime(SYNC_DATETIME_FORMAT)


def _is_uri(table_path: str) -> bool:
    return "://" in table_path


def _hadoop_fs(table_path: str, spark=None):
    """(jvm, FileSystem, Path) for a URI via Spark's JVM gateway.

    ``os.path`` would silently treat ``gs://...`` as a relative local
    path — the watermark would 'reset' every run (duplicating every
    batch) while writes landed in a bogus local ``gs:/`` directory. So
    URI paths go through Hadoop's FileSystem API instead (the same
    connector stack the data write uses — no new deps), letting
    ``sync.json`` live next to the data on gs://, s3a://, hdfs://,
    file://, like the reference keeps its sync state in the lake
    (reference ingestion.py:106-164).
    """
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"object-store watermark path {table_path!r} needs an active "
                "SparkSession (Hadoop FileSystem is reached through its JVM)"
            )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jpath


def read_state_json(path: str, spark=None):
    """The JSON document at ``path``, or ``None`` if it does not exist.
    Local paths use plain ``os``; URI paths (``scheme://...``) go through
    the Hadoop FileSystem of the active (or passed) SparkSession."""
    if _is_uri(path):
        jvm, fs, jpath = _hadoop_fs(path, spark)
        if not fs.exists(jpath):
            return None
        stream = fs.open(jpath)
        try:
            return json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
        finally:
            stream.close()
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def write_state_json(path: str, doc, spark=None) -> None:
    """Persist a small driver-side state document atomically: write
    ``<path>.tmp``, then replace ``path`` with it. A crash mid-write
    leaves at worst a stray tmp file, never a truncated ``path`` that
    would make every later read raise.

    On URI paths the same tmp-write → delete → rename dance runs through
    Hadoop FileSystem. Rename is atomic on HDFS/file; object stores make
    it copy+delete, so the window there is (delete, rename) — a crash
    inside it loses the document (readers then see it as absent), but
    never leaves it truncated."""
    payload = json.dumps(doc, indent=2)
    tmp = path + ".tmp"
    if _is_uri(path):
        jvm, fs, jpath = _hadoop_fs(path, spark)
        jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
        out = fs.create(jtmp, True)
        try:
            out.write(payload.encode("utf-8"))
        finally:
            out.close()
        if fs.exists(jpath):
            fs.delete(jpath, False)
        if not fs.rename(jtmp, jpath):
            raise IOError(f"rename {tmp} -> {path} failed")
        return
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)


def read_watermark(
    table_path: str,
    system: str,
    table_name: str,
    ref_column: str,
    ref_first_value: str,
    spark=None,
) -> Watermark:
    """Load the table's watermark; initialize from ``ref_first_value`` if absent.

    Parity: reference ``read_sync_file`` (ingestion.py:143-158). Local
    paths use plain ``os``; URI paths (``scheme://...``) go through the
    Hadoop FileSystem of the active (or passed) SparkSession.
    """
    doc = read_state_json(os.path.join(table_path, SYNC_FILENAME), spark)
    if doc is None:
        return Watermark(system, table_name, ref_column, ref_first_value)
    return Watermark.from_dict(doc)


def write_watermark(wm: Watermark, table_path: str, spark=None) -> None:
    """Persist the watermark after a successful write (reference ingestion.py:161-164).

    Written atomically (:func:`write_state_json`) so a crash mid-write
    can't corrupt state; a crash *between* data write and watermark
    write re-ingests the last batch, which the dynamic-partition-overwrite
    writer makes idempotent (SURVEY §4 O-GAP6). On object stores a crash
    inside the (delete, rename) window loses only the watermark, and the
    re-ingest that follows re-initialization is idempotent by the same
    argument.
    """
    write_state_json(os.path.join(table_path, SYNC_FILENAME), wm.to_dict(), spark)
