"""Schema-on-read sources — the ``s3()/s3Cluster()/url()/urlCluster()``
capability (reference ``temporal/workflow_query_executor_test.go:41-70``,
``README.md:148-163``).

In the reference these ClickHouse table functions distribute file
splits across cluster nodes; Spark's file sources do that natively
(splits → tasks), so ``s3Cluster``'s ``{cluster}`` macro is vacuous
here. What we provide:

* format-dispatching reader with explicit-or-inferred schema
  (CSVWithNames ≈ ``header=True``; bare CSV schema strings parsed by
  ``dialect.schema``),
* glob support including ``{a..b}`` numeric ranges (expanded by
  ``dialect.globs`` before hitting the Hadoop FS),
* the ``_file`` virtual column (reference groups by it,
  ``workflow_query_executor_test.go:42-49``).

At 100 TB the scan plan matters more than anything else in this file:
always pass an explicit schema for CSV (inference is a full extra
scan), and keep projections/filters on the DataFrame so Catalyst
pushes them into the scan.

Source memo. ``spark.read...load()`` lists the files and, for
parquet or inferred CSV, runs a schema-inference job over them; a
served query paid that on every ``file()`` call. ``read_source``
therefore returns the DataFrame of an earlier identical read when
its files have not changed:

* **Key:** the paths as given (after ``{a..b}`` expansion), ``fmt``,
  the schema as given, ``header``, ``compression``,
  ``add_file_column``, the sorted ``options``, and the session confs
  in ``_SCHEMA_CONFS`` that change how a file's schema is read.
* **Fingerprint:** recomputed on every call by globbing each path,
  walking directories, and recording ``(path, st_ino, st_mtime_ns,
  st_size)`` per file, sorted. Inside directories, the names Spark's
  listing skips (``_SUCCESS``, ``.*.crc``, ``_temporary/``) are left
  out. A hit needs an equal fingerprint; any added, removed or
  rewritten file refetches and replaces the entry. (A rewrite that
  keeps the inode, the size and the mtime to the nanosecond is not
  seen.)
* **Not memoized:** paths with a scheme other than ``file:`` (or bare
  paths when the default filesystem is not local), paths using glob
  syntax Python's ``glob`` does not share with Hadoop (``{``, ``[``,
  ``\\``), globs that match no file, and reads that raise.
* **Storage:** per session, weakly keyed like ``catalog._RELATION_MEMO``,
  LRU-bounded at ``SOURCE_MEMO_MAX_ENTRIES``; no TTL, no knob.

Only the resolved plan (schema and file listing) is reused. Rows are
never cached: every query still scans its files.
"""

from __future__ import annotations

import glob
import json
import os
import re
import stat
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FILE_COLUMN = "_file"

SOURCE_MEMO_MAX_ENTRIES = 64

# Session confs read during schema inference: a read under another
# value resolves to another schema, so each value is part of the key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.timestampType",
)

_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


class _SessionMemo:
    __slots__ = ("entries", "default_fs_local", "json_mapper", "hits",
                 "misses")

    def __init__(self, default_fs_local: bool, json_mapper) -> None:
        # key -> (fingerprint, DataFrame), least recently used first
        self.entries: OrderedDict = OrderedDict()
        self.default_fs_local = default_fs_local
        self.json_mapper = json_mapper
        self.hits = 0
        self.misses = 0


_SOURCE_MEMO: "weakref.WeakKeyDictionary[SparkSession, _SessionMemo]" = (
    weakref.WeakKeyDictionary()
)
_MEMO_LOCK = threading.Lock()


def with_file_column(df: DataFrame, column: str = FILE_COLUMN) -> DataFrame:
    """Attach the source-file basename of each row.

    ClickHouse's ``_file`` virtual column is the file name without the
    directory; ``F.input_file_name()`` returns the full URI, so take
    the last path segment. Evaluated at scan time — no shuffle.
    """
    return df.withColumn(
        column, F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def read_source(
    spark: SparkSession,
    paths: str | list[str],
    fmt: str = "parquet",
    schema: StructType | str | None = None,
    header: bool = True,
    compression: str | None = None,
    add_file_column: bool = False,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Read files of ``fmt`` from one or more (glob) paths.

    Maps the reference's table-function matrix:

    * ``s3(url, 'CSVWithNames', schema, 'gzip')`` →
      ``read_source(spark, url, 'csv', schema, header=True,
      compression='gzip')``
    * ``s3Cluster('{cluster}', ...)`` → identical (Spark distributes
      splits natively)
    * parquet with inferred schema → ``read_source(spark, url)``
    """
    if isinstance(paths, str):
        paths = [paths]
    memo = _session_memo(spark)
    fingerprint = _fingerprint(paths, memo.default_fs_local)
    key = None
    if fingerprint is not None:
        key = (
            tuple(paths),
            fmt,
            schema.json() if isinstance(schema, StructType) else schema,
            header,
            compression,
            add_file_column,
            tuple(sorted((options or {}).items())),
            _schema_confs(spark, memo),
        )
        with _MEMO_LOCK:
            entry = memo.entries.get(key)
            if entry is not None and entry[0] == fingerprint:
                memo.entries.move_to_end(key)
                memo.hits += 1
                return entry[1]
            memo.misses += 1
    reader = spark.read
    if schema is not None:
        if isinstance(schema, str):
            from bighouse_spark.dialect.schema import parse_schema_string

            schema = parse_schema_string(schema)
        reader = reader.schema(schema)
    opts = dict(options or {})
    if fmt == "csv":
        opts.setdefault("header", str(header).lower())
        if schema is None:
            opts.setdefault("inferSchema", "true")
        if compression:
            opts.setdefault("compression", compression)
    df = reader.format(fmt).options(**opts).load(paths)
    if add_file_column:
        df = with_file_column(df)
    if key is not None:
        with _MEMO_LOCK:
            memo.entries[key] = (fingerprint, df)
            memo.entries.move_to_end(key)
            while len(memo.entries) > SOURCE_MEMO_MAX_ENTRIES:
                memo.entries.popitem(last=False)
    return df


def _session_memo(spark: SparkSession) -> _SessionMemo:
    with _MEMO_LOCK:
        memo = _SOURCE_MEMO.get(spark)
    if memo is None:
        default_fs = spark._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///"
        )
        memo = _SessionMemo(
            default_fs.startswith("file:"),
            spark._jvm.com.fasterxml.jackson.databind.ObjectMapper(),
        )
        with _MEMO_LOCK:
            memo = _SOURCE_MEMO.setdefault(spark, memo)
    return memo


def _schema_confs(spark: SparkSession, memo: _SessionMemo) -> tuple:
    """The ``_SCHEMA_CONFS`` values set on the session (None if unset).
    Fetched as one JSON document: each py4j round trip releases and
    re-takes the GIL, which costs milliseconds under concurrent
    requests, and this runs on every read."""
    confs = json.loads(
        memo.json_mapper.writeValueAsString(spark.conf._jconf.getAllAsJava())
    )
    return tuple(confs.get(c) for c in _SCHEMA_CONFS)


def _spark_ignores(name: str) -> bool:
    """Whether Spark's file listing skips ``name`` inside a directory
    (HadoopFSUtils.shouldFilterOutPathName), so it cannot change a read."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _local_path(path: str, default_fs_local: bool) -> str | None:
    """The local filesystem path ``path`` names, or None when it names
    another filesystem or uses glob syntax this module does not mirror."""
    if path.startswith("file:"):
        path = path[len("file:"):]
        if path.startswith("//"):
            path = path[2:]
        if not path.startswith("/"):
            return None  # file://host/...
    elif _SCHEME.match(path) or not default_fs_local:
        return None
    if any(c in path for c in "{}[]\\"):
        return None
    return path


def _stat_tree(path: str) -> list[tuple[str, int, int, int]]:
    try:
        st = os.stat(path)
    except OSError:
        return []
    if not stat.S_ISDIR(st.st_mode):
        return [(path, st.st_ino, st.st_mtime_ns, st.st_size)]
    out = []
    # One stat per file: Spark's checksum and marker files are skipped
    # because each stat also costs a GIL hand-off under load.
    for root, dirs, names in os.walk(path, followlinks=True):
        dirs[:] = [d for d in dirs if not _spark_ignores(d)]
        for name in names:
            if _spark_ignores(name):
                continue
            f = os.path.join(root, name)
            try:
                st = os.stat(f)
            except OSError:  # removed while walking
                continue
            out.append((f, st.st_ino, st.st_mtime_ns, st.st_size))
    return out


def _fingerprint(paths: list[str], default_fs_local: bool) -> tuple | None:
    """Sorted ``(path, st_ino, st_mtime_ns, st_size)`` of every file the
    paths reach, or None when the read must not be memoized."""
    files = []
    for p in paths:
        local = _local_path(p, default_fs_local)
        if local is None:
            return None
        if "*" in local or "?" in local:
            hits = glob.glob(local, include_hidden=True)
        else:
            hits = [local]
        for hit in hits:
            files.extend(_stat_tree(hit))
    return tuple(sorted(set(files))) or None


def source_memo_stats(spark: SparkSession) -> tuple[int, int, int]:
    """(hits, misses, entries) of ``spark``'s source memo."""
    with _MEMO_LOCK:
        memo = _SOURCE_MEMO.get(spark)
        if memo is None:
            return 0, 0, 0
        return memo.hits, memo.misses, len(memo.entries)
